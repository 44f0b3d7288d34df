package graft

/** SQL front door: the reference's primary UX (a SQL prompt) served by
  * GraftCli — tables registered as views, graft functions callable. */
class CliSpec extends GraftSpec {

  test("front door serves plain SQL over the registered catalog") {
    val rows = GraftCli.sql(spark, sf,
      "SELECT r_name FROM region ORDER BY r_name").collect()
    assert(rows.length == 5)
  }

  test("front door exposes graft native functions to SQL text") {
    val r = GraftCli.sql(spark, sf,
      "SELECT round(cosine_sim(embedding, embedding), 4) AS s " +
        "FROM embeddings LIMIT 1").head()
    assert(r.getDouble(0) == 1.0)
  }

  test("statement splitter respects quoted literals and '' escapes") {
    assert(GraftCli.splitStatements("SELECT 1; SELECT 2;") ==
      Seq("SELECT 1", "SELECT 2"))
    assert(GraftCli.splitStatements("SELECT 'a;b' AS x; SELECT 'it''s; fine'") ==
      Seq("SELECT 'a;b' AS x", "SELECT 'it''s; fine'"))
    assert(GraftCli.splitStatements("  ;;  ") == Seq.empty)
  }

  test("one lexer: statements, USING arguments and ? markers split outside literals and comments") {
    assert(GraftCli.splitStatements("SELECT 1; -- first; second\nSELECT 2;") ==
      Seq("SELECT 1", "-- first; second\nSELECT 2"))
    assert(GraftCli.splitStatements("SELECT 1 /* x; y */ AS z; SELECT 2") ==
      Seq("SELECT 1 /* x; y */ AS z", "SELECT 2"))
    assert(GraftCli.splitStatements("SELECT \"a;b\" AS x") == Seq("SELECT \"a;b\" AS x"))
    // a backslash escapes the quote, as in Spark's lexer
    assert(GraftCli.splitStatements("SELECT 'it\\'s; x' AS a; SELECT 2") ==
      Seq("SELECT 'it\\'s; x' AS a", "SELECT 2"))
    // Spark nests bracketed comments, so the ? sits inside the outer one
    assert(GraftCli.countParameters("SELECT /* a /* b */ ? */ 1") == 0)
    assert(GraftCli.splitArgs("'a', \"b,c\", f(1, 2)") == Seq("'a'", "\"b,c\"", "f(1, 2)"))
    // a piece that holds only a comment is no statement
    assert(GraftCli.splitStatements("SELECT 1; -- done\n") == Seq("SELECT 1"))
  }

  test("SHOW TABLES / DESCRIBE work through the SQL front door (catalog parity)") {
    val tables = GraftCli.sql(spark, sf, "SHOW TABLES")
      .collect().map(_.getAs[String]("tableName")).toSet
    assert(Set("lineitem", "orders", "customer", "documents", "embeddings")
      .subsetOf(tables), s"missing tables in $tables")
    val cols = GraftCli.sql(spark, sf, "DESCRIBE lineitem")
      .collect().map(_.getString(0)).toSet
    assert(cols.contains("l_orderkey") && cols.contains("l_quantity"))
  }

  test("EXPLAIN works through the SQL front door (reference CLI parity)") {
    val plan = GraftCli.sql(spark, sf,
      "EXPLAIN SELECT n_name, count(*) FROM customer " +
        "JOIN nation ON c_nationkey = n_nationkey GROUP BY n_name")
      .head().getString(0)
    assert(plan.contains("Physical Plan"))
    assert(plan.contains("HashAggregate"))
  }

  test("-f script mode reads statements and rejects bad invocations clearly") {
    val f = java.nio.file.Files.createTempFile("cli", ".sql")
    java.nio.file.Files.write(f,
      "SELECT 1;\nSELECT 'a;b' AS x;\n".getBytes("UTF-8"))
    val stmts = GraftCli.statementsFrom(Array("sf", "-f", f.toString)).toSeq
    assert(stmts == Seq("SELECT 1", "SELECT 'a;b' AS x"))
    // argv mode unchanged
    assert(GraftCli.statementsFrom(Array("sf", "SELECT 2")).toSeq == Seq("SELECT 2"))
    // -f with no operand / extra operands / missing file -> clear errors,
    // not a fall-through that executes "-f" as SQL
    intercept[IllegalArgumentException](GraftCli.statementsFrom(Array("sf", "-f")))
    intercept[IllegalArgumentException](
      GraftCli.statementsFrom(Array("sf", "-f", f.toString, "extra.sql")))
    intercept[IllegalArgumentException](
      GraftCli.statementsFrom(Array("sf", "-f", "/nonexistent/x.sql")))
    // a misplaced -f among bare statements fails fast with the usage
    // string instead of being executed as literal SQL
    val stray = intercept[IllegalArgumentException](
      GraftCli.statementsFrom(Array("sf", "SELECT 1", "-f", f.toString)))
    assert(stray.getMessage.contains("usage"), stray.getMessage)
  }

  test("--format csv emits a parseable round-trip of s01 through the real main") {
    val s01 = """SELECT l_returnflag, l_linestatus,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        COUNT(*) AS n
      FROM lineitem GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus"""
    val baos = new java.io.ByteArrayOutputStream()
    val ps = new java.io.PrintStream(baos, true, "UTF-8")
    val saved = System.out
    System.setOut(ps)
    try GraftCli.main(Array(sf, "--format", "csv", s01))
    finally { System.setOut(saved); ps.flush() }
    // main borrowed the suite session and must NOT have stopped it
    assert(!spark.sparkContext.isStopped, "CLI main must not stop a borrowed session")
    val lines = new String(baos.toByteArray, "UTF-8").linesIterator
      .filter(_.nonEmpty).toSeq
    assert(lines.head == "l_returnflag,l_linestatus,sum_qty,n", lines.head)
    val parsed = lines.tail.map(_.split(",", -1).toSeq)
    val expected = GraftCli.queries("s01_sql_agg")(spark, sf).collect().map(r =>
      Seq(r.getString(0), r.getString(1), r.getDouble(2).toString, r.getLong(3).toString))
    assert(parsed == expected.toSeq, s"CSV round-trip mismatch:\n$parsed\nvs\n${expected.toSeq}")
  }

  test("--format json streams one JSON object per row; quoting rules hold") {
    import org.apache.spark.sql.functions._
    val df = spark.range(1).select(lit("a,b").as("c1"), lit("say \"hi\"").as("c2"),
      lit(7L).as("n"))
    val baos = new java.io.ByteArrayOutputStream()
    GraftCli.render(df, "json", new java.io.PrintStream(baos, true, "UTF-8"))
    assert(new String(baos.toByteArray, "UTF-8").trim ==
      """{"c1":"a,b","c2":"say \"hi\"","n":7}""")
    val csv = new java.io.ByteArrayOutputStream()
    GraftCli.render(df, "csv", new java.io.PrintStream(csv, true, "UTF-8"))
    val Seq(hdr, row) = new String(csv.toByteArray, "UTF-8").linesIterator.toSeq
    assert(hdr == "c1,c2,n")
    assert(row == "\"a,b\",\"say \"\"hi\"\"\",7") // RFC-4180 quoting
  }

  test("--format parses only immediately after sfDir; bad values fail fast") {
    assert(GraftCli.parseFormat(Array("sf", "--format", "csv", "SELECT 1"))._1 == "csv")
    assert(GraftCli.parseFormat(Array("sf", "SELECT 1"))._1 == "table")
    intercept[IllegalArgumentException](
      GraftCli.parseFormat(Array("sf", "--format", "xml", "SELECT 1")))
    intercept[IllegalArgumentException](
      GraftCli.parseFormat(Array("sf", "SELECT 1", "--format", "csv")))
  }

  test("all s-entries run through the SQL-text path and return rows") {
    GraftCli.queries.foreach { case (name, fn) =>
      assert(fn(spark, sf).limit(1).count() == 1, s"$name returned no rows")
    }
    // every SQL-text entry is oracled EXCEPT s10, whose HLL sketch is
    // engine-defined (rows-only by design, like q09/q104/q106 —
    // SketchSqlSpec bounds its estimates against exact distincts)
    assert(GraftCli.queries.keySet -- GraftCli.oracles.keySet == Set("s10_sql_hll"))
    assert(GraftCli.oracles.keySet.subsetOf(GraftCli.queries.keySet))
  }

  test("EXPLAIN ANALYZE and per-statement timing round-trip through the real main") {
    val outB = new java.io.ByteArrayOutputStream()
    val errB = new java.io.ByteArrayOutputStream()
    val outP = new java.io.PrintStream(outB, true, "UTF-8")
    val errP = new java.io.PrintStream(errB, true, "UTF-8")
    val (savedOut, savedErr) = (System.out, System.err)
    System.setOut(outP); System.setErr(errP)
    try GraftCli.main(Array(sf,
      "EXPLAIN ANALYZE SELECT n_name, count(*) AS n FROM customer " +
        "JOIN nation ON c_nationkey = n_nationkey GROUP BY n_name",
      "SELECT 1 AS one"))
    finally { System.setOut(savedOut); System.setErr(savedErr); outP.flush(); errP.flush() }
    val out = new String(outB.toByteArray, "UTF-8")
    val err = new String(errB.toByteArray, "UTF-8")
    // the analyzed plan is the EXECUTED one: post-AQE operators with
    // runtime metrics attached — not the never-run EXPLAIN skeleton
    assert(out.contains("Physical Plan (executed, with metrics)"), out)
    assert(out.contains("HashAggregate"), out)
    assert(out.contains("numOutputRows="), s"metrics must carry runtime values:\n$out")
    assert("rows: \\d+".r.findFirstIn(out).isDefined, out)
    // every statement reports wall time on stderr (stdout stays clean
    // for csv/json consumers)
    val timings = "\\[graft-cli\\] \\d+\\.\\d\\ds".r.findAllIn(err).toSeq
    assert(timings.length == 2, s"expected 2 timing lines, got:\n$err")
  }

  test("EXPLAIN ANALYZE under csv keeps stdout machine-clean; errors still emit a timing line") {
    def run(stmts: String*): (String, String) = {
      val outB = new java.io.ByteArrayOutputStream()
      val errB = new java.io.ByteArrayOutputStream()
      val outP = new java.io.PrintStream(outB, true, "UTF-8")
      val errP = new java.io.PrintStream(errB, true, "UTF-8")
      stmts.foreach { s =>
        try GraftCli.runStatement(spark, s, "csv", outP, errP)
        catch { case _: Exception => () } // main's per-statement catch
      }
      outP.flush(); errP.flush()
      (new String(outB.toByteArray, "UTF-8"), new String(errB.toByteArray, "UTF-8"))
    }
    GraftCli.open(spark, sf)
    // plan text goes to stderr under csv; stdout carries ONLY csv rows
    val (out1, err1) = run(
      "EXPLAIN ANALYZE SELECT count(*) AS n FROM nation",
      "SELECT 1 AS one")
    assert(!out1.contains("Physical Plan"), s"plan text leaked to stdout:\n$out1")
    assert(err1.contains("Physical Plan (executed, with metrics)"), err1)
    assert(out1.linesIterator.toSeq == Seq("one", "1"), out1)
    // a failing statement still reports exactly one timing line
    val (out2, err2) = run("SELECT * FROM no_such_table")
    assert(out2.isEmpty, out2)
    assert("\\[graft-cli\\] \\d+\\.\\d\\ds".r.findAllIn(err2).size == 1, err2)
  }

  test("EXPLAIN ANALYZE reports a scalar subquery's operators and metrics") {
    GraftCli.open(spark, sf)
    val outB = new java.io.ByteArrayOutputStream()
    val outP = new java.io.PrintStream(outB, true, "UTF-8")
    GraftCli.runStatement(spark,
      "EXPLAIN ANALYZE SELECT o_orderkey FROM orders " +
        "WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders)",
      "table", outP, new java.io.PrintStream(new java.io.ByteArrayOutputStream()))
    val report = outB.toString("UTF-8")
    val lines = report.linesIterator.toSeq
    val sub = lines.indexWhere(_.trim == "Subquery:")
    assert(sub >= 0, s"no subquery section:\n$report")
    // the subquery's aggregate ran and carries its runtime metrics
    assert(lines.drop(sub).exists(l => l.contains("HashAggregate") &&
      l.contains("numOutputRows=")), report)
    // both scans of orders: the outer query's and the subquery's
    assert(lines.count(_.trim.startsWith("Scan parquet")) >= 2, report)
  }

  test("GraftCli.sql and the CLI's csv rendering give the same rows for every rows verb") {
    val s = GraftCli.open(spark, sf)
    val sink = new java.io.PrintStream(new java.io.ByteArrayOutputStream())
    GraftCli.runStatement(s, "PREPARE cli_rq FROM SELECT r_regionkey, r_name " +
      "FROM region WHERE r_regionkey < ? ORDER BY r_regionkey", "csv", sink, sink)
    s.sql("DROP TABLE IF EXISTS cli_route_parts")
    GraftCli.dropStaleLocation(s, "cli_route_parts")
    s.sql("CREATE TABLE cli_route_parts PARTITIONED BY (k) AS " +
      "SELECT r_name, r_regionkey % 2 AS k FROM region")
    def csv(df: org.apache.spark.sql.DataFrame): Seq[String] = {
      val b = new java.io.ByteArrayOutputStream()
      GraftCli.render(df, "csv", new java.io.PrintStream(b, true, "UTF-8"))
      b.toString("UTF-8").linesIterator.toSeq
    }
    val cases = Seq(
      "EXECUTE cli_rq USING 3",
      "DESCRIBE INPUT cli_rq",
      "DESCRIBE OUTPUT cli_rq",
      // plain SHOW STATS was a Spark parse error through GraftCli.sql
      "SHOW STATS FOR orders",
      "SHOW SESSION",
      "SHOW COLUMNS FROM nation",
      "SHOW PARTITIONS FROM cli_route_parts",
      "SHOW FUNCTIONS LIKE 'minhash%'",
      "EXPLAIN (TYPE IO) SELECT n_name FROM nation WHERE n_regionkey = 1",
      "EXPLAIN (TYPE VALIDATE) SELECT n_name FROM nation",
      "SELECT n_name, n_regionkey FROM nation ORDER BY n_nationkey")
    try cases.foreach { stmt =>
      val viaSql = csv(GraftCli.sql(s, sf, stmt))
      val outB = new java.io.ByteArrayOutputStream()
      GraftCli.runStatement(s, stmt, "csv",
        new java.io.PrintStream(outB, true, "UTF-8"), sink)
      val viaCli = outB.toString("UTF-8").linesIterator.toSeq
      assert(viaSql.size > 1, s"$stmt returned no rows")
      assert(viaSql.head == viaCli.head && viaSql.tail.sorted == viaCli.tail.sorted,
        s"$stmt:\nsql=${viaSql.mkString("\n")}\ncli=${viaCli.mkString("\n")}")
    } finally s.sql("DROP TABLE cli_route_parts")
    // a report is one row in a `plan` column
    val report = GraftCli.sql(s, sf, "EXPLAIN ANALYZE SELECT 1")
    assert(report.columns.toSeq == Seq("plan"), report.columns.mkString(","))
    val plans = report.collect()
    assert(plans.length == 1 && plans.head.getString(0).contains("== Physical Plan"),
      plans.mkString("\n"))
  }

  test("a comment around a graft verb does not hide it, in GraftCli.sql and in a -f script") {
    val session = GraftCli.sql(spark, sf, "-- note\nSHOW SESSION").collect()
    assert(session.map(_.getString(0)).toSeq == GraftCli.sessionProps.map(_.name).sorted,
      session.mkString("\n"))
    spark.sparkContext // force the suite session so main borrows it
    val f = java.nio.file.Files.createTempFile("cli_comments", ".sql")
    java.nio.file.Files.write(f, ("-- planner statistics\n" +
      "SHOW STATS FOR region /* estimates */;\n" +
      "-- a template\n" +
      "PREPARE cli_commented FROM SELECT r_name FROM region WHERE r_regionkey = ? /* one marker */;\n" +
      "EXECUTE cli_commented USING 0;\n").getBytes("UTF-8"))
    val outB = new java.io.ByteArrayOutputStream()
    val errB = new java.io.ByteArrayOutputStream()
    val outP = new java.io.PrintStream(outB, true, "UTF-8")
    val errP = new java.io.PrintStream(errB, true, "UTF-8")
    val (so, se) = (System.out, System.err)
    System.setOut(outP); System.setErr(errP)
    try GraftCli.main(Array(sf, "--format", "csv", "-f", f.toString))
    finally { System.setOut(so); System.setErr(se); outP.flush(); errP.flush() }
    val out = new String(outB.toByteArray, "UTF-8").linesIterator.filter(_.nonEmpty).toSeq
    val err = new String(errB.toByteArray, "UTF-8")
    assert(!err.contains("[graft-cli] error:"), err)
    assert(out.exists(_.startsWith("column_name,")), out.mkString("\n"))
    assert(err.contains("[graft-cli] PREPARE cli_commented"), err)
    assert(out.takeRight(2) == Seq("r_name", "AFRICA"), out.mkString("\n"))
  }

  test("s15 leaves every session property's backing conf as it found it") {
    val s = GraftCli.open(spark, sf)
    def confs() = GraftCli.sessionProps.map(p => p.toConf(p.default)._1)
      .map(k => k -> s.conf.getOption(k))
    val before = confs()
    GraftCli.queries("s15_sql_session")(spark, sf).collect()
    assert(confs() == before)
  }

  test("one session's prepared statements serve two threads at once") {
    val s = GraftCli.open(spark, sf)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val threads = Seq(1, 2).map { t =>
      new Thread(() =>
        try (1 to 50).foreach { i =>
          s.sql(s"PREPARE cli_thread$t FROM SELECT ? AS t, ? AS i")
          val got = s.sql(s"EXECUTE cli_thread$t USING $t, $i").collect()
            .map(r => (r.getInt(0), r.getInt(1))).toSeq
          if (got != Seq((t, i))) failures.add(s"thread $t pass $i: $got")
          s.sql(s"DEALLOCATE PREPARE cli_thread$t")
        } catch { case e: Throwable => failures.add(s"thread $t: $e") })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(failures.isEmpty, failures.toArray.mkString("\n"))
  }

  test("a template that executes itself fails at EXECUTE instead of recursing") {
    val s = GraftCli.open(spark, sf)
    s.sql("PREPARE cli_self FROM EXECUTE cli_self")
    // the template is read on the dialect path only, where EXECUTE is
    // Spark's parse error; a StackOverflowError would escape intercept
    intercept[org.apache.spark.sql.catalyst.parser.ParseException](s.sql("EXECUTE cli_self"))
    s.sql("DEALLOCATE PREPARE cli_self")
  }

  test("join-strategy hints pass through the SQL front door") {
    // Presto tunes join strategy with session properties
    // (join_distribution_type); the Spark front door takes plan hints in
    // the SQL text — both directions must actually reach the planner.
    val q = """SELECT %s n_name, COUNT(*) AS n
      FROM customer JOIN nation ON c_nationkey = n_nationkey
      GROUP BY n_name"""
    val broadcast = GraftCli.sql(spark, sf, q.format("/*+ BROADCAST(nation) */"))
      .queryExecution.executedPlan.toString
    assert(broadcast.contains("BroadcastHashJoin"), broadcast)
    val merge = GraftCli.sql(spark, sf, q.format("/*+ MERGE(nation) */"))
      .queryExecution.executedPlan.toString
    assert(merge.contains("SortMergeJoin"),
      s"MERGE hint must override the broadcast default:\n$merge")
  }

  test("DML round-trips through the real main: CTAS -> INSERT -> SELECT read-back") {
    val outB = new java.io.ByteArrayOutputStream()
    val outP = new java.io.PrintStream(outB, true, "UTF-8")
    val saved = System.out
    System.setOut(outP)
    try GraftCli.main(Array(sf, "--format", "csv",
      "DROP TABLE IF EXISTS graft_dml_rt",
      """CREATE TABLE graft_dml_rt AS
         SELECT r_regionkey, r_name FROM region WHERE r_regionkey < 3""",
      "INSERT INTO graft_dml_rt SELECT r_regionkey, r_name FROM region WHERE r_regionkey >= 3",
      "INSERT INTO graft_dml_rt VALUES (99, 'SYNTH')",
      "SELECT r_regionkey, r_name FROM graft_dml_rt ORDER BY r_regionkey, r_name"))
    finally { System.setOut(saved); outP.flush() }
    val lines = new String(outB.toByteArray, "UTF-8").linesIterator
      .filter(_.nonEmpty).toSeq
    // the SELECT is the last statement: its header + 6 rows close the output
    val sel = lines.takeRight(7)
    assert(sel.head == "r_regionkey,r_name", lines.mkString("\n"))
    val want = GraftCli.sql(spark, sf, "SELECT r_regionkey, r_name FROM region")
      .collect().map(r => s"${r.getInt(0)},${r.getString(1)}").sorted :+ "99,SYNTH"
    assert(sel.tail == want.sorted.toSeq, sel.mkString("\n"))
    // the managed table is parquet-backed in the session warehouse
    val detail = GraftCli.sql(spark, sf, "DESCRIBE EXTENDED graft_dml_rt")
      .collect().map(r => s"${r.getString(0)}=${r.getString(1)}").mkString(";")
    assert(detail.toLowerCase.contains("parquet"), detail)
    GraftCli.sql(spark, sf, "DROP TABLE graft_dml_rt")
    val gone = GraftCli.sql(spark, sf, "SHOW TABLES")
      .collect().map(_.getAs[String]("tableName"))
    assert(!gone.contains("graft_dml_rt"))
  }

  test("DML misuse fails with one clean statement-scoped error line") {
    val errB = new java.io.ByteArrayOutputStream()
    val errP = new java.io.PrintStream(errB, true, "UTF-8")
    val saved = System.err
    System.setErr(errP)
    try GraftCli.main(Array(sf,
      "DROP TABLE IF EXISTS graft_dml_dup",
      "CREATE TABLE graft_dml_dup AS SELECT 1 AS x",
      "CREATE TABLE graft_dml_dup AS SELECT 2 AS x", // duplicate CTAS
      "INSERT INTO graft_dml_missing VALUES (1)"))   // missing target
    finally { System.setErr(saved); errP.flush() }
    val err = new String(errB.toByteArray, "UTF-8")
    val errors = err.linesIterator.filter(_.startsWith("[graft-cli] error:")).toSeq
    assert(errors.size == 2, s"expected exactly 2 clean errors:\n$err")
    assert(errors.exists(_.toLowerCase.contains("already exists")), err)
    assert(errors.exists(e => e.contains("graft_dml_missing")), err)
    // the duplicate CTAS must not have clobbered the original data
    val x = GraftCli.sql(spark, sf, "SELECT x FROM graft_dml_dup").head().getInt(0)
    assert(x == 1, "failed CTAS must leave the existing table untouched")
    GraftCli.sql(spark, sf, "DROP TABLE graft_dml_dup")
  }

  test("DELETE FROM round-trips through the real main: rewrite, NULL predicate, misuse") {
    // force the suite's JVM-wide session BEFORE main: main borrows a
    // preexisting session and leaves it running, but in a single-test
    // run (testOnly -- -z) nothing has touched the lazy session yet, so
    // main would create its own, run every statement there, and STOP it
    // — leaving the post-main assertions querying a fresh empty catalog
    spark.sparkContext
    val outB = new java.io.ByteArrayOutputStream()
    val outP = new java.io.PrintStream(outB, true, "UTF-8")
    val errB = new java.io.ByteArrayOutputStream()
    val errP = new java.io.PrintStream(errB, true, "UTF-8")
    val (so, se) = (System.out, System.err)
    System.setOut(outP); System.setErr(errP)
    try GraftCli.main(Array(sf, "--format", "csv",
      "DROP TABLE IF EXISTS graft_dml_del",
      "CREATE TABLE graft_dml_del AS SELECT r_regionkey AS k, r_name AS v FROM region",
      "INSERT INTO graft_dml_del VALUES (77, NULL)",
      // AFRICA/AMERICA/ASIA match; the NULL-v row's predicate is NULL, so
      // it SURVIVES (SQL deletes only predicate-TRUE rows)
      "DELETE FROM graft_dml_del WHERE v LIKE 'A%'",
      "SELECT k FROM graft_dml_del ORDER BY k",
      "DELETE FROM graft_dml_del", // no WHERE: delete everything
      "SELECT COUNT(*) AS n FROM graft_dml_del",
      "DELETE FROM graft_dml_del_missing WHERE k = 1", // missing table
      "DELETE FROM region WHERE r_regionkey = 0",      // read-only source view
      // persistent VIEW: refused UP FRONT (no storage to rewrite) — before
      // the r15 guard this passed the TEMPORARY-only check and died midway
      // at DROP TABLE, orphaning the tmp table
      "CREATE OR REPLACE VIEW graft_dml_delview AS SELECT 0 AS k",
      "DELETE FROM graft_dml_delview WHERE k = 0"))
    finally { System.setOut(so); System.setErr(se); outP.flush(); errP.flush() }
    val out = new String(outB.toByteArray, "UTF-8").linesIterator
      .filter(_.nonEmpty).toSeq
    val err = new String(errB.toByteArray, "UTF-8")
    // survivors after the predicate delete: EUROPE(3), MIDDLE EAST(4), NULL row(77)
    val iK = out.indexOf("k")
    assert(iK >= 0 && out.slice(iK + 1, iK + 4) == Seq("3", "4", "77"),
      s"stdout:\n${out.mkString("\n")}\nstderr:\n$err")
    assert(out.takeRight(1) == Seq("0"), s"full DELETE left rows:\n${out.mkString("\n")}")
    // deleted-count reports (Presto's DELETE report shape) on stderr
    assert(err.contains("DELETE 3 row(s) from graft_dml_del"), err)
    // misuse: exactly three clean statement-scoped errors, run continued
    val errors = err.linesIterator.filter(_.startsWith("[graft-cli] error:")).toSeq
    assert(errors.size == 3, s"expected 3 clean errors:\n$err")
    assert(errors.exists(_.contains("graft_dml_del_missing")), err)
    assert(errors.exists(e => e.toLowerCase.contains("read-only") &&
      e.contains("region")), err)
    assert(errors.exists(e => e.toLowerCase.contains("read-only") &&
      e.contains("graft_dml_delview")), err)
    // the rename-aside swap cleans up after itself: no tmp/old scaffolding
    // tables survive a completed run
    val leftover = spark.catalog.listTables().collect().map(_.name)
      .filter(n => n.contains("__graft_delete_tmp") || n.contains("__graft_delete_old"))
    assert(leftover.isEmpty, s"swap scaffolding left behind: ${leftover.mkString(",")}")
    // the schema survives an empty rewrite, and the table is still managed parquet
    val cols = GraftCli.sql(spark, sf, "DESCRIBE graft_dml_del")
      .collect().map(_.getString(0)).takeWhile(_.nonEmpty)
    assert(cols.toSeq == Seq("k", "v"), cols.mkString(","))
    // the source view was untouched by the refused DELETE
    assert(GraftCli.sql(spark, sf, "SELECT COUNT(*) FROM region").head().getLong(0) == 5L)
    GraftCli.sql(spark, sf, "DROP TABLE graft_dml_del")
    GraftCli.sql(spark, sf, "DROP VIEW graft_dml_delview")
  }

  test("PREPARE / EXECUTE USING round-trips through the real main") {
    val outB = new java.io.ByteArrayOutputStream()
    val outP = new java.io.PrintStream(outB, true, "UTF-8")
    val saved = System.out
    System.setOut(outP)
    try GraftCli.main(Array(sf, "--format", "csv",
      "PREPARE regions FROM SELECT r_regionkey, r_name FROM region WHERE r_regionkey < ? ORDER BY r_regionkey",
      "EXECUTE regions USING 2",
      "EXECUTE regions USING 4"))
    finally { System.setOut(saved); outP.flush() }
    val lines = new String(outB.toByteArray, "UTF-8").linesIterator
      .filter(_.nonEmpty).toSeq
    // two executions of the same prepared statement, different bindings:
    // header + 2 rows, then header + 4 rows
    assert(lines.count(_ == "r_regionkey,r_name") == 2, lines.mkString("\n"))
    val (first, second) = lines.splitAt(3)
    assert(first.tail.map(_.takeWhile(_ != ',')) == Seq("0", "1"), lines.mkString("\n"))
    assert(second.tail.map(_.takeWhile(_ != ',')) == Seq("0", "1", "2", "3"), lines.mkString("\n"))
  }

  test("DESCRIBE INPUT / DESCRIBE OUTPUT round-trip through the real main") {
    spark.sparkContext // force the suite session so main borrows it
    val outB = new java.io.ByteArrayOutputStream()
    val outP = new java.io.PrintStream(outB, true, "UTF-8")
    val errB = new java.io.ByteArrayOutputStream()
    val errP = new java.io.PrintStream(errB, true, "UTF-8")
    val (so, se) = (System.out, System.err)
    System.setOut(outP); System.setErr(errP)
    try GraftCli.main(Array(sf, "--format", "csv",
      "PREPARE meta_q FROM SELECT o_orderpriority, COUNT(*) AS n FROM orders " +
        "WHERE o_totalprice >= ? AND o_orderstatus = ? GROUP BY o_orderpriority",
      "DESCRIBE INPUT meta_q",
      "DESCRIBE OUTPUT meta_q",
      "DESCRIBE INPUT never_prepared")) // unknown statement: clean error
    finally { System.setOut(so); System.setErr(se); outP.flush(); errP.flush() }
    val out = new String(outB.toByteArray, "UTF-8").linesIterator
      .filter(_.nonEmpty).toSeq
    val err = new String(errB.toByteArray, "UTF-8")
    // parameter positions typed from their comparison columns
    val iIn = out.indexOf("position,type")
    assert(iIn >= 0 && out.slice(iIn + 1, iIn + 3) == Seq("1,double", "2,string"),
      s"stdout:\n${out.mkString("\n")}")
    // result-set metadata in SELECT-list order
    val iOut = out.indexOf("ordinal,column_name,type")
    assert(iOut >= 0 && out.slice(iOut + 1, iOut + 3) ==
      Seq("1,o_orderpriority,string", "2,n,bigint"), s"stdout:\n${out.mkString("\n")}")
    // unknown statement: one statement-scoped error naming it, run alive
    val errors = err.linesIterator.filter(_.startsWith("[graft-cli] error:")).toSeq
    assert(errors.size == 1 && errors.head.contains("never_prepared"), err)
  }

  test("SHOW COLUMNS and SHOW CREATE TABLE round-trip through the real main") {
    spark.sparkContext // force the suite session so main borrows it
    val outB = new java.io.ByteArrayOutputStream()
    val outP = new java.io.PrintStream(outB, true, "UTF-8")
    val errB = new java.io.ByteArrayOutputStream()
    val errP = new java.io.PrintStream(errB, true, "UTF-8")
    val (so, se) = (System.out, System.err)
    System.setOut(outP); System.setErr(errP)
    try GraftCli.main(Array(sf, "--format", "csv",
      "SHOW COLUMNS FROM region",                       // typed, source view
      "DROP TABLE IF EXISTS graft_showcol",
      "CREATE TABLE graft_showcol AS SELECT 1 AS k, 'x' AS v",
      "SHOW COLUMNS IN graft_showcol",                  // IN spelling, managed
      "SHOW CREATE TABLE graft_showcol",                // native Spark route
      "SHOW COLUMNS FROM graft_no_such_table"))         // clean error
    finally { System.setOut(so); System.setErr(se); outP.flush(); errP.flush() }
    val out = new String(outB.toByteArray, "UTF-8").linesIterator
      .filter(_.nonEmpty).toSeq
    val err = new String(errB.toByteArray, "UTF-8")
    val iRegion = out.indexOf("column_name,data_type")
    assert(iRegion >= 0 && out.slice(iRegion + 1, iRegion + 3) ==
      Seq("r_regionkey,int", "r_name,string"), s"stdout:\n${out.mkString("\n")}")
    // the managed table's typed listing (second header occurrence)
    assert(out.containsSlice(Seq("k,int")) && out.containsSlice(Seq("v,string")),
      s"stdout:\n${out.mkString("\n")}")
    // SHOW CREATE TABLE: Spark's createtab_stmt names the table + columns
    assert(out.exists(l => l.contains("CREATE TABLE") && l.contains("graft_showcol")),
      s"stdout:\n${out.mkString("\n")}")
    val errors = err.linesIterator.filter(_.startsWith("[graft-cli] error:")).toSeq
    assert(errors.size == 1 && errors.head.contains("graft_no_such_table"), err)
    GraftCli.sql(spark, sf, "DROP TABLE graft_showcol")
  }

  test("EXECUTE IMMEDIATE binds USING parameters through the real main") {
    val outB = new java.io.ByteArrayOutputStream()
    val outP = new java.io.PrintStream(outB, true, "UTF-8")
    val saved = System.out
    System.setOut(outP)
    try GraftCli.main(Array(sf, "--format", "csv",
      "EXECUTE IMMEDIATE 'SELECT r_regionkey, r_name FROM region " +
        "WHERE r_regionkey < ? ORDER BY r_regionkey' USING 3"))
    finally { System.setOut(saved); outP.flush() }
    val lines = new String(outB.toByteArray, "UTF-8").linesIterator
      .filter(_.nonEmpty).toSeq
    assert(lines.head == "r_regionkey,r_name", lines.mkString("\n"))
    assert(lines.tail.map(_.takeWhile(_ != ',')) == Seq("0", "1", "2"),
      lines.mkString("\n"))
  }

  test("prepared-statement misuse: unknown name, arity mismatch, deallocate") {
    val errB = new java.io.ByteArrayOutputStream()
    val errP = new java.io.PrintStream(errB, true, "UTF-8")
    val saved = System.err
    System.setErr(errP)
    try GraftCli.main(Array(sf,
      "EXECUTE nosuch USING 1",                               // never prepared
      "PREPARE p1 FROM SELECT r_regionkey FROM region WHERE r_regionkey = ?",
      "EXECUTE p1 USING 1, 2",                                // too many args
      "EXECUTE p1",                                           // too few args
      "DEALLOCATE PREPARE p1",
      "EXECUTE p1 USING 1",                                   // deallocated
      "DEALLOCATE PREPARE p1"))                               // already gone
    finally { System.setErr(saved); errP.flush() }
    val err = new String(errB.toByteArray, "UTF-8")
    val errors = err.linesIterator.filter(_.startsWith("[graft-cli] error:")).toSeq
    assert(errors.size == 5, s"expected exactly 5 clean errors:\n$err")
    assert(errors.count(_.contains("no prepared statement named")) == 3, err)
    assert(errors.exists(_.contains("USING arguments")), err)
    assert(errors.exists(_.contains("more parameters")), err)
  }

  test("parameter binding splices positionally, skips quoted '?', splits top-level commas") {
    assert(GraftCli.bindParameters(
      "SELECT * FROM t WHERE a = ? AND b = '?' AND c IN (?)",
      Seq("1", "(2, 3)")) ==
      "SELECT * FROM t WHERE a = 1 AND b = '?' AND c IN ((2, 3))")
    assert(GraftCli.splitArgs("1, 'a,b', (2, 3), DATE '2020-01-01'") ==
      Seq("1", "'a,b'", "(2, 3)", "DATE '2020-01-01'"))
    intercept[IllegalArgumentException](GraftCli.bindParameters("SELECT ?", Nil))
    intercept[IllegalArgumentException](GraftCli.bindParameters("SELECT 1", Seq("1")))
  }

  test("CREATE VIEW round-trips through the real main and a later statement consumes it") {
    val outB = new java.io.ByteArrayOutputStream()
    val outP = new java.io.PrintStream(outB, true, "UTF-8")
    val saved = System.out
    System.setOut(outP)
    try GraftCli.main(Array(sf, "--format", "csv",
      "CREATE OR REPLACE TEMPORARY VIEW cli_region_v AS SELECT r_regionkey, r_name FROM region WHERE r_regionkey < 3",
      "SELECT COUNT(*) AS n FROM cli_region_v",
      "DROP VIEW cli_region_v"))
    finally { System.setOut(saved); outP.flush() }
    val lines = new String(outB.toByteArray, "UTF-8").linesIterator
      .filter(_.nonEmpty).toSeq
    assert(lines.containsSlice(Seq("n", "3")), lines.mkString("\n"))
    // view misuse is statement-scoped like any other error
    val errB = new java.io.ByteArrayOutputStream()
    val errP = new java.io.PrintStream(errB, true, "UTF-8")
    val savedE = System.err
    System.setErr(errP)
    try GraftCli.main(Array(sf, "SELECT * FROM cli_region_v")) // dropped above
    finally { System.setErr(savedE); errP.flush() }
    val err = new String(errB.toByteArray, "UTF-8")
    assert(err.linesIterator.exists(_.startsWith("[graft-cli] error:")), err)
  }

  test("SHOW STATS FOR table round-trips through the real main") {
    val outB = new java.io.ByteArrayOutputStream()
    val outP = new java.io.PrintStream(outB, true, "UTF-8")
    val saved = System.out
    System.setOut(outP)
    try GraftCli.main(Array(sf, "--format", "csv", "SHOW STATS FOR region"))
    finally { System.setOut(saved); outP.flush() }
    val lines = new String(outB.toByteArray, "UTF-8").linesIterator
      .filter(_.nonEmpty).toSeq
    assert(lines.head.startsWith("column_name,"), lines.mkString("\n"))
    // table row (null column_name sorts first) carries row_count = 5
    assert(lines(1).split(",", -1)(4) == "5.0", lines.mkString("\n"))
    // r_name: 5 distinct strings, zero nulls, alphabetic low/high
    val rName = lines.find(_.startsWith("r_name,")).get.split(",", -1)
    assert(rName(2) == "5.0" && rName(3) == "0.0", lines.mkString("\n"))
    assert(rName(5).nonEmpty && rName(6).nonEmpty, lines.mkString("\n"))
    // r_regionkey: integer low/high render as plain digits
    val rKey = lines.find(_.startsWith("r_regionkey,")).get.split(",", -1)
    assert(rKey(5) == "0" && rKey(6) == "4", lines.mkString("\n"))
    // misuse: unknown table is a statement-scoped error
    val errB = new java.io.ByteArrayOutputStream()
    val errP = new java.io.PrintStream(errB, true, "UTF-8")
    val savedE = System.err
    System.setErr(errP)
    try GraftCli.main(Array(sf, "SHOW STATS FOR nosuchtable"))
    finally { System.setErr(savedE); errP.flush() }
    val err = new String(errB.toByteArray, "UTF-8")
    assert(err.linesIterator.exists(_.startsWith("[graft-cli] error:")), err)
  }

  test("SET / SHOW / RESET SESSION round-trip through the real main") {
    val outB = new java.io.ByteArrayOutputStream()
    val outP = new java.io.PrintStream(outB, true, "UTF-8")
    val saved = System.out
    System.setOut(outP)
    try GraftCli.main(Array(sf, "--format", "csv",
      "SET SESSION hash_partition_count = 7",
      "SHOW SESSION",
      "RESET SESSION hash_partition_count",
      "SHOW SESSION"))
    finally { System.setOut(saved); outP.flush() }
    val lines = new String(outB.toByteArray, "UTF-8").linesIterator
      .filter(_.nonEmpty).toSeq
    // first report shows the set value read back from the LIVE conf;
    // second shows the default restored by RESET
    assert(lines.count(_.startsWith("name,value,default,type")) == 2,
      lines.mkString("\n"))
    assert(lines.exists(_.startsWith("hash_partition_count,7,32,integer")),
      lines.mkString("\n"))
    assert(lines.exists(_.startsWith("hash_partition_count,32,32,integer")),
      lines.mkString("\n"))
    assert(lines.exists(_.startsWith("time_zone_id,UTC,UTC,varchar")),
      lines.mkString("\n"))
  }

  test("session properties drive the planner: PARTITIONED disables broadcast") {
    val s = GraftCli.open(spark, sf)
    val before = s.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760b")
    def finalPlan(): String = {
      val df = s.sql(
        "SELECT c_custkey, n_name FROM customer JOIN nation ON c_nationkey = n_nationkey")
      df.collect() // finalize the AQE plan before reading it
      df.queryExecution.executedPlan.toString
    }
    try {
      GraftCli.setSession(s, "join_distribution_type", "'PARTITIONED'")
      assert(!finalPlan().contains("BroadcastHashJoin"),
        "PARTITIONED must suppress broadcast")
      GraftCli.setSession(s, "join_distribution_type", "AUTOMATIC")
      assert(finalPlan().contains("BroadcastHashJoin"),
        "AUTOMATIC must broadcast the nation dim")
    } finally s.conf.set("spark.sql.autoBroadcastJoinThreshold", before)
  }

  test("SHOW STATS defaults to estimated NDV; EXACT opts into countDistinct") {
    // Presto's SHOW STATS serves planner estimates — the CLI default is
    // the HLL one-pass form (at 100 TB exact per-column NDV re-shuffles
    // every column's values); EXACT keeps the oracle-able exact pass.
    val approx = GraftCli.sql(spark, sf, "SHOW STATS FOR orders")
    val exact = GraftCli.sql(spark, sf, "SHOW STATS EXACT FOR orders")
    assert(approx.queryExecution.optimizedPlan.toString
      .contains("approx_count_distinct"), "default must use HLL estimates")
    val exactPlan = exact.queryExecution.optimizedPlan.toString
    assert(!exactPlan.contains("approx_count_distinct") &&
      exactPlan.contains("distinct"), "EXACT must use countDistinct")
    // same report layout either way; non-NDV columns agree exactly and
    // the HLL estimate lands within its documented rsd of the truth
    assert(approx.schema == exact.schema)
    val a = approx.collect().map(r => Option(r.getString(0)) -> r).toMap
    val e = exact.collect().map(r => Option(r.getString(0)) -> r).toMap
    assert(a.keySet == e.keySet)
    e.foreach { case (k, er) =>
      val ar = a(k)
      assert(ar.getAs[Any]("nulls_fraction") == er.getAs[Any]("nulls_fraction"))
      assert(ar.getAs[Any]("low_value") == er.getAs[Any]("low_value"))
      assert(ar.getAs[Any]("high_value") == er.getAs[Any]("high_value"))
      if (k.isDefined) {
        val est = ar.getAs[Double]("distinct_values_count")
        val tru = er.getAs[Double]("distinct_values_count")
        assert(math.abs(est - tru) <= math.max(1.0, 0.15 * tru),
          s"column ${k.get}: HLL estimate $est too far from exact $tru")
      }
    }
    // APPROX is also accepted explicitly
    assert(GraftCli.sql(spark, sf, "SHOW STATS APPROX FOR region")
      .queryExecution.optimizedPlan.toString.contains("approx_count_distinct"))
  }

  test("SHOW CATALOGS / SCHEMAS / FUNCTIONS serve the Presto CLI staples") {
    // Presto's catalog-navigation statements (SHOW CATALOGS / SHOW
    // SCHEMAS / SHOW FUNCTIONS) ride Spark's native SQL through the
    // CLI's bare-statement fallback — pin that they answer, and that
    // SHOW FUNCTIONS lists the graft-registered family next to the
    // builtins (one function surface, discoverable like Presto's).
    val s = GraftCli.open(spark, sf)
    assert(s.sql("SHOW CATALOGS").collect().map(_.getString(0))
      .contains("spark_catalog"))
    assert(s.sql("SHOW SCHEMAS").collect().map(_.getString(0))
      .contains("default"))
    val fns = s.sql("SHOW FUNCTIONS").collect().map(_.getString(0)).toSet
    Seq("hash64", "minhash_sig", "st_area_wkt", "hashed_ngram_buckets",
      "quantile_sketch_agg", "geometric_mean").foreach(f =>
      assert(fns.contains(f), s"graft function $f missing from SHOW FUNCTIONS"))
    assert(fns.contains("sum") && fns.contains("approx_count_distinct"))
    // DESCRIBE FUNCTION answers for a graft function like any builtin
    val desc = s.sql("DESCRIBE FUNCTION hash64").collect().map(_.getString(0))
    assert(desc.exists(_.contains("hash64")), desc.mkString("\n"))
  }

  test("ANALYZE registers a stats-bearing catalog table through the real main") {
    val errB = new java.io.ByteArrayOutputStream()
    val errP = new java.io.PrintStream(errB, true, "UTF-8")
    val savedE = System.err
    System.setErr(errP)
    try GraftCli.main(Array(sf, "ANALYZE region"))
    finally { System.setErr(savedE); errP.flush() }
    val err = new String(errB.toByteArray, "UTF-8")
    assert(err.linesIterator.exists(_.startsWith("[graft-cli] ANALYZE region")), err)
    try {
      // the catalog entry carries the ANALYZE'd statistics CBO reads
      val stats = spark.sessionState.catalog
        .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier("cbo_region"))
        .stats
      assert(stats.exists(_.rowCount.contains(BigInt(5))), s"stats: $stats")
      assert(stats.exists(_.colStats.contains("r_name")))
      // misuse: a non-warehouse name is a statement-scoped error
      val errB2 = new java.io.ByteArrayOutputStream()
      val errP2 = new java.io.PrintStream(errB2, true, "UTF-8")
      System.setErr(errP2)
      try GraftCli.main(Array(sf, "ANALYZE nosuchtable"))
      finally { System.setErr(savedE); errP2.flush() }
      assert(new String(errB2.toByteArray, "UTF-8").linesIterator
        .exists(_.startsWith("[graft-cli] error:")))
    } finally graft.plans.CboSupport.unregister(spark, Seq("region"))
  }

  test("query_max_memory_per_task maps to the AQE advisory partition size") {
    val s = GraftCli.open(spark, sf)
    val key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    val before = s.conf.getOption(key)
    try {
      GraftCli.setSession(s, "query_max_memory_per_task", "'128MB'")
      assert(s.conf.get(key) == "128MB")
      // value reads back from the LIVE conf in SHOW SESSION
      val row = GraftCli.showSession(s).collect()
        .find(_.getString(0) == "query_max_memory_per_task").get
      assert(row.getString(1) == "128MB" && row.getString(2) == "64MB")
      GraftCli.resetSession(s, "query_max_memory_per_task")
      assert(s.conf.get(key) == "64MB")
      // lower-case sizes normalize; junk is rejected before any conf write
      GraftCli.setSession(s, "query_max_memory_per_task", "'1gb'")
      assert(s.conf.get(key) == "1GB")
      intercept[IllegalArgumentException](
        GraftCli.setSession(s, "query_max_memory_per_task", "'lots'"))
      intercept[IllegalArgumentException](
        GraftCli.setSession(s, "query_max_memory_per_task", "'-1MB'"))
      assert(s.conf.get(key) == "1GB", "failed SET must not touch the conf")
    } finally before match {
      case Some(v) => s.conf.set(key, v)
      case None    => s.conf.unset(key)
    }
  }

  test("dedup_max_bucket reaches the dedup operators through the session-prop path") {
    import spark.implicits._
    val s = GraftCli.open(spark, sf)
    val text = (1 to 16).map(i => s"common$i").mkString(" ")
    val docs = Seq((1L, text), (2L, text), (3L, text)).toDF("doc_id", "text")
    try {
      // the SQL-surface SET lands in the conf the operators read at
      // plan-build time: cap 2 drops every 3-doc fingerprint bucket
      GraftCli.setSession(s, "dedup_max_bucket", "2")
      assert(s.conf.get("spark.graft.dedup.maxBucket") == "2")
      assert(graft.dedup.Dedup.winnowingOf(docs).count() == 0L)
      val row = GraftCli.showSession(s).collect()
        .find(_.getString(0) == "dedup_max_bucket").get
      assert(row.getString(1) == "2" && row.getString(2) == "1000")
      GraftCli.resetSession(s, "dedup_max_bucket")
      assert(graft.dedup.Dedup.winnowingOf(docs).count() == 3L)
      intercept[IllegalArgumentException](
        GraftCli.setSession(s, "dedup_max_bucket", "0"))
      // 1 is positive but would make between(2, cap) empty in every
      // bucketed dedup path — rejected at SET time, not at plan-build
      intercept[IllegalArgumentException](
        GraftCli.setSession(s, "dedup_max_bucket", "1"))
    } finally s.conf.unset("spark.graft.dedup.maxBucket")
  }

  test("session property misuse: unknown name, bad values, statement-scoped errors") {
    val s = GraftCli.open(spark, sf)
    intercept[IllegalArgumentException](GraftCli.setSession(s, "nosuch_prop", "1"))
    intercept[IllegalArgumentException](GraftCli.setSession(s, "hash_partition_count", "'abc'"))
    intercept[IllegalArgumentException](GraftCli.setSession(s, "hash_partition_count", "0"))
    intercept[IllegalArgumentException](GraftCli.setSession(s, "join_distribution_type", "'SIDEWAYS'"))
    intercept[IllegalArgumentException](GraftCli.setSession(s, "adaptive_execution", "maybe"))
    intercept[IllegalArgumentException](GraftCli.setSession(s, "time_zone_id", "'Mars/Olympus'"))
    intercept[IllegalArgumentException](GraftCli.resetSession(s, "nosuch_prop"))
    // through the real main: a bad SET is one clean error line and the
    // live conf is untouched
    val shuffleBefore = s.conf.get("spark.sql.shuffle.partitions")
    val errB = new java.io.ByteArrayOutputStream()
    val errP = new java.io.PrintStream(errB, true, "UTF-8")
    val savedE = System.err
    System.setErr(errP)
    try GraftCli.main(Array(sf, "SET SESSION hash_partition_count = 'many'"))
    finally { System.setErr(savedE); errP.flush() }
    val err = new String(errB.toByteArray, "UTF-8")
    assert(err.linesIterator.exists(_.startsWith("[graft-cli] error:")), err)
    assert(s.conf.get("spark.sql.shuffle.partitions") == shuffleBefore)
  }

  test("transaction statements round-trip with Presto's abort semantics") {
    spark.sparkContext
    val outB = new java.io.ByteArrayOutputStream()
    val outP = new java.io.PrintStream(outB, true, "UTF-8")
    val errB = new java.io.ByteArrayOutputStream()
    val errP = new java.io.PrintStream(errB, true, "UTF-8")
    val (so, se) = (System.out, System.err)
    System.setOut(outP); System.setErr(errP)
    try GraftCli.main(Array(sf, "--format", "csv",
      "COMMIT",                                   // 1: no txn in progress
      "START TRANSACTION ISOLATION LEVEL READ COMMITTED, READ ONLY",
      "START TRANSACTION",                        // 2: nested refused
      // a failed nested START aborts the open block (statement failure
      // inside a transaction), so recover before the happy-path reads
      "ROLLBACK",
      "START TRANSACTION",
      "SELECT COUNT(*) AS n FROM region",         // runs inside the block
      "COMMIT",
      "START TRANSACTION",
      "SELECT broken FROM missing_table",         // 3: fails -> block aborts
      "SELECT 1 AS one",                          // 4: refused while aborted
      "COMMIT",                                   // 5: refused while aborted
      "ROLLBACK",                                 // the only way out
      "SELECT 2 AS two",                          // clean again
      "START TRANSACTION UPSIDE DOWN"))           // 6: unknown mode
    finally { System.setOut(so); System.setErr(se); outP.flush(); errP.flush() }
    val out = new String(outB.toByteArray, "UTF-8").linesIterator
      .filter(_.nonEmpty).toSeq
    val err = new String(errB.toByteArray, "UTF-8")
    val errors = err.linesIterator.filter(_.startsWith("[graft-cli] error:")).toSeq
    assert(errors.size == 6, s"expected 6 statement-scoped errors:\n$err")
    assert(errors.head.contains("no transaction in progress"), err)
    assert(errors.exists(_.contains("already in progress")), err)
    assert(errors.exists(_.contains("aborted")), err)
    assert(errors.exists(_.contains("unknown transaction mode")), err)
    // the in-block SELECT ran; the two refused statements did not; the
    // post-ROLLBACK statement ran
    assert(out.contains("n") && out.contains("5"), out.mkString("\n"))
    assert(!out.contains("one"), out.mkString("\n"))
    assert(out.contains("two") && out.contains("2"), out.mkString("\n"))
    assert(err.contains("START TRANSACTION (autocommit"), err)
    assert(err.contains("[graft-cli] COMMIT"), err)
    assert(err.contains("ROLLBACK (autocommit"), err)
  }

  test("EXPLAIN (TYPE VALIDATE) analyzes without executing; errors surface") {
    val s = GraftCli.open(spark, sf)
    // valid query -> one row, valid=true
    val ok = GraftCli.explainValidate(s,
      "SELECT o_orderkey FROM orders WHERE o_custkey = 5").collect()
    assert(ok.length == 1 && ok.head.getBoolean(0))
    // analyzer error -> surfaces (statement-scoped in main)
    intercept[Exception](GraftCli.explainValidate(s, "SELECT nope FROM orders"))
    intercept[Exception](GraftCli.explainValidate(s, "SELECT FROM WHERE"))
    // a COMMAND validates WITHOUT executing: the table must not appear
    s.sql("DROP TABLE IF EXISTS cli_validate_probe")
    GraftCli.dropStaleLocation(s, "cli_validate_probe")
    val v = GraftCli.explainValidate(s,
      "CREATE TABLE cli_validate_probe AS SELECT 1 AS x").collect()
    assert(v.head.getBoolean(0))
    assert(!s.catalog.tableExists("cli_validate_probe"),
      "EXPLAIN (TYPE VALIDATE) executed the command it was validating")
  }

  test("EXPLAIN (TYPE IO) reports scans, pushdown, and writes without executing") {
    val s = GraftCli.open(spark, sf)
    val io = GraftCli.explainIo(s,
      """SELECT o.o_orderkey FROM orders o
         JOIN customer c ON o.o_custkey = c.c_custkey
         WHERE o.o_totalprice > 100""").collect()
    val inputs = io.filter(_.getString(0) == "input")
    assert(inputs.length == 2, io.mkString("\n"))
    val tables = inputs.map(_.getString(1)).mkString(" ")
    assert(tables.contains("orders") && tables.contains("customer"), tables)
    // the filter reached the scan and the read schema is pruned
    val ordersRow = inputs.find(_.getString(1).contains("orders")).get
    assert(ordersRow.getString(3).contains("GreaterThan(o_totalprice,100.0)"),
      ordersRow.toString)
    assert(!ordersRow.getString(2).contains("o_orderdate"), ordersRow.toString)
    // a write statement reports its output table and does NOT run
    s.sql("DROP TABLE IF EXISTS cli_io_probe")
    GraftCli.dropStaleLocation(s, "cli_io_probe")
    s.sql("CREATE TABLE cli_io_probe AS SELECT r_regionkey FROM region")
    val io2 = GraftCli.explainIo(s,
      "INSERT INTO cli_io_probe SELECT r_regionkey FROM region").collect()
    assert(io2.exists(r => r.getString(0) == "output" &&
      r.getString(1).contains("cli_io_probe")), io2.mkString("\n"))
    assert(s.table("cli_io_probe").count() == 5L,
      "EXPLAIN (TYPE IO) executed the INSERT it was planning")
    s.sql("DROP TABLE cli_io_probe")
  }

  test("SHOW PARTITIONS serves the typed Presto listing; misuse is refused") {
    val s = GraftCli.open(spark, sf)
    s.sql("DROP TABLE IF EXISTS cli_part_probe")
    GraftCli.dropStaleLocation(s, "cli_part_probe")
    s.sql("""CREATE TABLE cli_part_probe PARTITIONED BY (k_region, k_flag) AS
      SELECT r_name, r_regionkey AS k_region,
        CASE WHEN r_regionkey < 2 THEN 'a b' ELSE 'c' END AS k_flag
      FROM region""")
    val parts = GraftCli.sql(s, sf,
      "SHOW PARTITIONS FROM cli_part_probe;")
    // typed columns in partition-schema order, one row per partition
    assert(parts.schema.fieldNames.toSeq == Seq("k_region", "k_flag"))
    assert(parts.schema.fields.head.dataType.typeName == "integer")
    val rows = parts.orderBy("k_region").collect()
      .map(r => (r.getInt(0), r.getString(1)))
    // the 'a b' value round-trips through the %-escaped partition path
    assert(rows.toSeq == Seq((0, "a b"), (1, "a b"), (2, "c"), (3, "c"), (4, "c")),
      rows.mkString(","))
    // unpartitioned managed table -> clean refusal
    s.sql("DROP TABLE IF EXISTS cli_part_flat")
    GraftCli.dropStaleLocation(s, "cli_part_flat")
    s.sql("CREATE TABLE cli_part_flat AS SELECT 1 AS x")
    val e = intercept[IllegalArgumentException](
      GraftCli.sql(s, sf, "SHOW PARTITIONS FROM cli_part_flat"))
    assert(e.getMessage.contains("not partitioned"), e.getMessage)
    s.sql("DROP TABLE cli_part_probe")
    s.sql("DROP TABLE cli_part_flat")
  }

  test("parameter scanner skips comments and quoted identifiers") {
    // '?' inside -- comments, /* */ blocks, "..." and `...` identifiers
    // is payload, not a marker — the binder and DESCRIBE INPUT agree
    val t = "SELECT `col?` AS \"alias?\" -- trailing? marker\n" +
      "FROM t /* block ? comment */ WHERE a = ? AND b = '?'"
    assert(GraftCli.countParameters(t) == 1, GraftCli.countParameters(t))
    val bound = GraftCli.bindParameters(t, Seq("42"))
    assert(bound.contains("a = 42"), bound)
    assert(bound.contains("col?") && bound.contains("alias?") &&
      bound.contains("trailing? marker") && bound.contains("block ? comment") &&
      bound.contains("'?'"), bound)
    // an unterminated block comment swallows the rest (no marker)
    assert(GraftCli.countParameters("SELECT 1 /* ? ?") == 0)
    // arity errors still fire on the grammar-aware count
    intercept[IllegalArgumentException](GraftCli.bindParameters(t, Nil))
    intercept[IllegalArgumentException](GraftCli.bindParameters(t, Seq("1", "2")))
  }

  test("typed routes accept or explicitly reject qualified names") {
    val s = GraftCli.open(spark, sf)
    // SHOW COLUMNS FROM db.t routes to the typed report (default schema)
    s.sql("DROP TABLE IF EXISTS cli_qual_probe")
    GraftCli.dropStaleLocation(s, "cli_qual_probe")
    s.sql("CREATE TABLE cli_qual_probe AS SELECT 1 AS x, 'a' AS y")
    val outB = new java.io.ByteArrayOutputStream()
    val outP = new java.io.PrintStream(outB, true, "UTF-8")
    GraftCli.runStatement(s, "SHOW COLUMNS FROM default.cli_qual_probe",
      "csv", outP, new java.io.PrintStream(new java.io.ByteArrayOutputStream()))
    val lines = new String(outB.toByteArray, "UTF-8").linesIterator
      .filter(_.nonEmpty).toSeq
    // the TYPED header proves the route was not bypassed to Spark's
    // names-only native SHOW COLUMNS
    assert(lines.head == "column_name,data_type", lines.mkString("\n"))
    assert(lines.contains("x,int") && lines.contains("y,string"),
      lines.mkString("\n"))
    // DESCRIBE INPUT/OUTPUT: dotted names are rejected, not silently
    // passed to Spark's native DESCRIBE
    val e1 = intercept[IllegalArgumentException](s.sql("DESCRIBE INPUT db.q"))
    assert(e1.getMessage.contains("unqualified"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException](s.sql("DESCRIBE OUTPUT db.q"))
    assert(e2.getMessage.contains("unqualified"), e2.getMessage)
    s.sql("DROP TABLE cli_qual_probe")
  }

  test("DESCRIBE INPUT reports unknown when a column name is type-ambiguous") {
    val s = GraftCli.open(spark, sf)
    // the SAME name `k` reaches the plan as INT (t1) and STRING (t2):
    // a last-wins name->type map would mistype the marker from whichever
    // relation enumerates last — ambiguity must report `unknown`
    s.sql("PREPARE amb FROM SELECT * FROM (SELECT 1 AS k) t1 " +
      "JOIN (SELECT 'x' AS k) t2 ON t1.k = CAST(t2.k AS INT) WHERE t1.k = ?")
    s.sql("PREPARE uni FROM SELECT 1 FROM orders WHERE o_custkey = ?")
    val amb = s.sql("DESCRIBE INPUT amb").collect()
    assert(amb.length == 1 && amb.head.getString(1) == "unknown",
      amb.mkString(","))
    // unambiguous names still type normally
    val uni = s.sql("DESCRIBE INPUT uni").collect()
    assert(uni.length == 1 && uni.head.getString(1) == "bigint",
      uni.mkString(","))
  }

  test("DELETE refuses an occupied scaffolding name and hints at recovery") {
    val s = GraftCli.open(spark, sf)
    for (n <- Seq("cli_del_probe", "cli_del_probe__graft_delete_old")) {
      s.sql(s"DROP TABLE IF EXISTS $n")
      GraftCli.dropStaleLocation(s, n)
    }
    s.sql("CREATE TABLE cli_del_probe AS SELECT 1 AS x")
    s.sql("CREATE TABLE cli_del_probe__graft_delete_old AS SELECT 2 AS x")
    // occupied scaffolding name: refused LOUDLY, nothing dropped
    val e = intercept[IllegalStateException](
      GraftCli.deleteFrom(s, "cli_del_probe", None))
    assert(e.getMessage.contains("cli_del_probe__graft_delete_old"), e.getMessage)
    assert(s.table("cli_del_probe__graft_delete_old").head().getInt(0) == 2,
      "the occupied scaffolding table was dropped")
    assert(s.table("cli_del_probe").count() == 1L, "the DELETE half-ran")
    // crashed-mid-swap shape: t gone, t__graft_delete_old holds the data
    // -> the does-not-exist error names the recovery table
    s.sql("DROP TABLE cli_del_probe")
    val e2 = intercept[IllegalArgumentException](
      GraftCli.deleteFrom(s, "cli_del_probe", None))
    assert(e2.getMessage.contains("RENAME"), e2.getMessage)
    assert(e2.getMessage.contains("cli_del_probe__graft_delete_old"), e2.getMessage)
    s.sql("DROP TABLE cli_del_probe__graft_delete_old")
  }

  test("CLI staples: SHOW CATALOGS / SHOW SCHEMAS / USE round-trip with misuse cases") {
    val s = GraftCli.open(spark, sf)
    def run(stmt: String, format: String = "csv"): (String, String) = {
      val outB = new java.io.ByteArrayOutputStream()
      val errB = new java.io.ByteArrayOutputStream()
      val outP = new java.io.PrintStream(outB, true, "UTF-8")
      val errP = new java.io.PrintStream(errB, true, "UTF-8")
      try GraftCli.runStatement(s, stmt, format, outP, errP)
      catch { case _: Exception => () }
      outP.flush(); errP.flush()
      (new String(outB.toByteArray, "UTF-8"), new String(errB.toByteArray, "UTF-8"))
    }
    // SHOW CATALOGS: the session's catalog is visible
    val (cats, _) = run("SHOW CATALOGS")
    assert(cats.contains("spark_catalog"), cats)
    // SHOW SCHEMAS: default exists; a created schema appears; LIKE filters
    s.sql("CREATE SCHEMA IF NOT EXISTS cli_staple_schema")
    try {
      val (schemas, _) = run("SHOW SCHEMAS")
      assert(schemas.contains("default") && schemas.contains("cli_staple_schema"), schemas)
      val (filtered, _) = run("SHOW SCHEMAS LIKE 'cli_staple*'")
      assert(filtered.contains("cli_staple_schema") && !filtered.contains("default"), filtered)
      // USE: switches the session's current schema and back
      run("USE cli_staple_schema")
      assert(s.catalog.currentDatabase == "cli_staple_schema")
      run("USE default")
      assert(s.catalog.currentDatabase == "default")
      // misuse: USE of a missing schema errors (statement-scoped in main)
      // and leaves the current schema untouched
      intercept[Exception](GraftCli.runStatement(s, "USE no_such_schema_xyz",
        "csv", new java.io.PrintStream(new java.io.ByteArrayOutputStream()),
        new java.io.PrintStream(new java.io.ByteArrayOutputStream())))
      assert(s.catalog.currentDatabase == "default")
    } finally s.sql("DROP SCHEMA IF EXISTS cli_staple_schema")
  }

  test("SHOW FUNCTIONS is typed and separates the graft surface from builtins") {
    val s = GraftCli.open(spark, sf)
    val df = GraftCli.showFunctions(s)
    assert(df.columns.toSeq == Seq("function_name", "function_type", "source"))
    val rows = df.collect().map(r => r.getString(0) -> (r.getString(1), r.getString(2))).toMap
    // graft scalars and aggregates are kind-tagged
    assert(rows("cosine_sim") == ("scalar", "graft"), rows.get("cosine_sim").toString)
    assert(rows("geometric_mean") == ("aggregate", "graft"))
    assert(rows("approx_distinct") == ("aggregate", "graft"))
    // builtins carry registry kind metadata
    assert(rows("sum") == ("aggregate", "builtin"))
    assert(rows("row_number") == ("window", "builtin"))
    assert(rows("explode") == ("table", "builtin"))
    assert(rows("substr")._1 == "scalar")
    // every name of the one sqlBuilders table is listed as graft
    graft.functions.GraftFunctions.sqlNames.foreach { n =>
      assert(rows.get(n).exists(_._2 == "graft"), s"$n missing from SHOW FUNCTIONS")
    }
    // LIKE pattern filters; statement routes through the real regex
    val likeB = new java.io.ByteArrayOutputStream()
    GraftCli.runStatement(s, "SHOW FUNCTIONS LIKE 'minhash%'", "csv",
      new java.io.PrintStream(likeB), new java.io.PrintStream(
        new java.io.ByteArrayOutputStream()))
    val like = likeB.toString("UTF-8")
    assert(like.contains("minhash_sig") && !like.contains("cosine_sim"), like)
    // misuse: a malformed pattern clause falls to the bare path and errors
    // statement-scoped (double-quoted pattern is not the grammar)
    val outB = new java.io.ByteArrayOutputStream()
    val errB = new java.io.ByteArrayOutputStream()
    try GraftCli.runStatement(s, "SHOW FUNCTIONS LIKE missing_quotes(",
      "csv", new java.io.PrintStream(outB), new java.io.PrintStream(errB))
    catch { case _: Exception => () }
    assert(outB.toString("UTF-8").isEmpty)
  }

  test("EXPLAIN (TYPE DISTRIBUTED): fragments at exchange boundaries, nothing executes") {
    val s = GraftCli.open(spark, sf)
    val txt = GraftCli.explainDistributed(s, """
      SELECT c_mktsegment, count(*) AS n FROM customer
      GROUP BY c_mktsegment ORDER BY n DESC, c_mktsegment""")
    // group-by + order-by = at least a HASH and a RANGE exchange -> >= 3 fragments
    assert(txt.contains("Fragment 0") && txt.contains("Fragment 1"), txt)
    assert(txt.contains("HASH [customer.c_mktsegment]"), txt)
    assert(txt.contains("RANGE ["), txt)
    assert(txt.contains("RemoteSource"), txt)
    // a broadcast join fragment is labeled as such
    val bc = GraftCli.explainDistributed(s, """
      SELECT n_name, count(*) AS n FROM customer JOIN nation
      ON c_nationkey = n_nationkey GROUP BY n_name""")
    assert(bc.contains("broadcast"), bc)
    // nothing executes: a CTAS explained DISTRIBUTED must not create
    s.sql("DROP TABLE IF EXISTS dist_probe_t")
    GraftCli.dropStaleLocation(s, "dist_probe_t")
    GraftCli.explainDistributed(s,
      "CREATE TABLE dist_probe_t AS SELECT 1 AS x")
    assert(!s.catalog.tableExists("dist_probe_t"),
      "EXPLAIN (TYPE DISTRIBUTED) executed the CTAS")
    // misuse: analyzer errors surface statement-scoped
    intercept[Exception](GraftCli.explainDistributed(s,
      "SELECT * FROM no_such_table_dist"))
  }

  test("presto datetime dialect: quoted-unit rewrite, ChronoUnit semantics, ISO extracts") {
    val s = GraftCli.open(spark, sf)
    def one(q: String) = GraftCli.sql(s, sf, q).head()
    // the rewrite itself: quoted and bare unit spellings agree
    assert(PrestoRewrite.rewriteDatetime("date_diff('day', a, b)") == "date_diff(day,  a, b)"
      || PrestoRewrite.rewriteDatetime("date_diff('day', a, b)") == "date_diff(day, a, b)")
    assert(one("SELECT date_diff('day', TIMESTAMP '2024-01-01', TIMESTAMP '2024-01-03 12:00:00')")
      .getLong(0) == 2L)
    assert(one("SELECT date_diff(day, TIMESTAMP '2024-01-01', TIMESTAMP '2024-01-03 12:00:00')")
      .getLong(0) == 2L)
    // PRESTO (Joda/ChronoUnit) month semantics: full elapsed months, not
    // DuckDB-style calendar-boundary counting
    assert(one("SELECT date_diff('month', TIMESTAMP '2024-01-31', TIMESTAMP '2024-02-01')")
      .getLong(0) == 0L)
    assert(one("SELECT date_diff('month', TIMESTAMP '2024-01-15', TIMESTAMP '2024-03-15')")
      .getLong(0) == 2L)
    // date_add with a negative quantity
    assert(one("""SELECT CAST(date_add('hour', -24, TIMESTAMP '2024-01-02 06:00:00') AS STRING)""")
      .getString(0) == "2024-01-01 06:00:00")
    // Spark's own 2-arg forms are untouched by the rewrite
    assert(one("SELECT date_diff(DATE '2024-01-05', DATE '2024-01-01')").getInt(0) == 4)
    assert(one("SELECT CAST(date_add(DATE '2024-01-01', 3) AS STRING)").getString(0) == "2024-01-04")
    // a unit word inside an ordinary string literal is not rewritten
    assert(PrestoRewrite.rewriteDatetime("SELECT 'day', x") == "SELECT 'day', x")
    // ISO extracts: 2024-01-01 is a Monday of ISO week 1; 2021-01-01 is a
    // Friday belonging to ISO week 53 of week-year 2020
    assert(one("SELECT day_of_week(TIMESTAMP '2024-01-01')").getLong(0) == 1L)
    assert(one("SELECT dow(DATE '2021-01-03')").getLong(0) == 7L) // Sunday
    assert(one("SELECT week(DATE '2021-01-01')").getLong(0) == 53L)
    assert(one("SELECT year_of_week(DATE '2021-01-01')").getLong(0) == 2020L)
    assert(one("SELECT yow(DATE '2024-01-01')").getLong(0) == 2024L)
    assert(one("SELECT day_of_year(DATE '2024-02-01')").getLong(0) == 32L)
    assert(one("SELECT doy(DATE '2024-12-31')").getLong(0) == 366L)
    assert(one("SELECT CAST(last_day_of_month(TIMESTAMP '2024-02-10 05:00:00') AS STRING)")
      .getString(0) == "2024-02-29")
    // misuse: an unknown unit is NOT rewritten and fails with the
    // engine's own unit error, statement-scoped
    val e = intercept[Exception](
      GraftCli.sql(s, sf, "SELECT date_diff('fortnight', ts, ts) FROM events"))
    assert(e.getMessage.contains("fortnight") || e.getMessage.contains("unit"), e.getMessage)
  }

  test("presto dialect aliases: edge semantics beyond the s22 oracle") {
    val s = GraftCli.open(spark, sf)
    def one(q: String) = s.sql(q).head()
    // json_extract_scalar returns NULL for non-scalar matches, where
    // Spark's get_json_object returns the JSON text
    assert(one("""SELECT json_extract_scalar('{"a":{"b":1}}', '$.a')""").isNullAt(0))
    assert(one("""SELECT json_extract_scalar('{"a":[1,2]}', '$.a')""").isNullAt(0))
    assert(one("""SELECT json_extract_scalar('{"a":"x"}', '$.a')""").getString(0) == "x")
    // url_extract_port: BIGINT, NULL when the authority has no port
    assert(one("SELECT url_extract_port('https://h.com:8443/p')").getLong(0) == 8443L)
    assert(one("SELECT url_extract_port('https://h.com/p')").isNullAt(0))
    // strpos/index: 1-based, 0 when absent, Presto arg order
    assert(one("SELECT strpos('hello', 'll')").getLong(0) == 3L)
    assert(one("SELECT strpos('hello', 'zz')").getLong(0) == 0L)
    assert(one("SELECT index('hello', 'o')").getLong(0) == 5L)
    // truncate: toward zero on both signs, scaled form
    assert(one("SELECT truncate(12.999)").getDouble(0) == 12.0)
    assert(one("SELECT truncate(-12.999)").getDouble(0) == -12.0)
    assert(one("SELECT truncate(1.2399, 2)").getDouble(0) == 1.23)
    // to_unixtime keeps fractional seconds as DOUBLE
    val frac = one(
      "SELECT to_unixtime(TIMESTAMP '2024-01-01 00:00:00.25')").getDouble(0)
    assert(frac == 1704067200.25, frac.toString)
    // from_unixtime PARITY PIN (shared-name builtin, NOT overridden):
    // Spark's from_unixtime returns a formatted STRING — Presto returns a
    // timestamp; CAST recovers it, and the round trip through
    // to_unixtime is identity at whole-second resolution
    val rt = one("""SELECT CAST(CAST(from_unixtime(CAST(to_unixtime(
        TIMESTAMP '2024-05-06 07:08:09') AS BIGINT)) AS TIMESTAMP) AS STRING)""")
    assert(rt.getString(0) == "2024-05-06 07:08:09", rt.getString(0))
    assert(s.sql("SELECT from_unixtime(0)").schema.head.dataType ==
      org.apache.spark.sql.types.StringType)
    // approx_distinct: exact in the small-cardinality regime, and the
    // relativeSD argument must be a numeric literal
    assert(one("SELECT approx_distinct(x) FROM VALUES 1,2,3,2,1 AS t(x)").getLong(0) == 3L)
    // arbitrary ignores nulls
    assert(one("SELECT arbitrary(x) FROM VALUES (NULL), ('v') AS t(x)").getString(0) == "v")
    // iso8601 family
    assert(one("SELECT to_iso8601(TIMESTAMP '2024-01-02 03:04:05.678912')")
      .getString(0) == "2024-01-02T03:04:05.678")
    assert(one("SELECT CAST(from_iso8601_date('2024-03-01') AS STRING)")
      .getString(0) == "2024-03-01")
    // to_iso8601 of a DATE renders the bare date (Presto), not a
    // midnight timestamp (r17 ADVICE)
    assert(one("SELECT to_iso8601(DATE '2024-03-01')").getString(0) == "2024-03-01")
  }

  test("json_extract_scalar classifies by parsed JSON type, not text shape") {
    val s = GraftCli.open(spark, sf)
    def one(q: String) = s.sql(q).head()
    // a STRING scalar whose value looks like JSON stays a string
    // (r17 ADVICE: the old RLike-on-extracted-text misread these)
    assert(one("""SELECT json_extract_scalar('{"a":"[x]"}', '$.a')""")
      .getString(0) == "[x]")
    // (SQL \\" escapes put a literal \" inside the JSON text, so 'a' is
    // the STRING {"b":1}, not a nested object)
    assert(one("""SELECT json_extract_scalar('{"a":"{\\"b\\":1}"}', '$.a')""")
      .getString(0) == """{"b":1}""")
    // numbers and booleans render as their text
    assert(one("""SELECT json_extract_scalar('{"n":2.5}', '$.n')""").getString(0) == "2.5")
    assert(one("""SELECT json_extract_scalar('{"b":true}', '$.b')""").getString(0) == "true")
    // nested paths, array indexes, quoted keys
    assert(one("""SELECT json_extract_scalar('{"a":{"b":"v"}}', '$.a.b')""")
      .getString(0) == "v")
    assert(one("""SELECT json_extract_scalar('{"a":[10,20,30]}', '$.a[1]')""")
      .getString(0) == "20")
    assert(one("""SELECT json_extract_scalar('{"k y":"v"}', '$["k y"]')""")
      .getString(0) == "v")
    // JSON null, misses, malformed documents, and the root form
    assert(one("""SELECT json_extract_scalar('{"a":null}', '$.a')""").isNullAt(0))
    assert(one("""SELECT json_extract_scalar('{"a":1}', '$.zz')""").isNullAt(0))
    assert(one("""SELECT json_extract_scalar('not json', '$.a')""").isNullAt(0))
    assert(one("""SELECT json_extract_scalar('"s"', '$')""").getString(0) == "s")
    // unsupported path syntax is refused loudly, not misread
    intercept[Exception](one("""SELECT json_extract_scalar('{"a":1}', '$.a[*]')"""))
  }

  test("presto TRY(...) dialect: known bodies rewrite to try_*, unknown refused") {
    val s = GraftCli.open(spark, sf)
    def one(q: String) = GraftCli.sql(s, sf, q).head()
    // rewrite shapes (text level)
    assert(PrestoRewrite.rewriteTry("SELECT TRY(CAST(x AS INT)) FROM t") ==
      "SELECT try_CAST(x AS INT) FROM t")
    assert(PrestoRewrite.rewriteTry("SELECT TRY(element_at(a, 5))") ==
      "SELECT try_element_at(a, 5)")
    assert(PrestoRewrite.rewriteTry("SELECT TRY(a / b)") ==
      "SELECT try_divide(a, b)")
    assert(PrestoRewrite.rewriteTry("SELECT TRY(f(x, y) - g(z))") ==
      "SELECT try_subtract(f(x, y), g(z))")
    // nested TRY rewrites inside-out
    assert(PrestoRewrite.rewriteTry("TRY(TRY(a / b) * c)") ==
      "try_multiply(try_divide(a, b), c)")
    // unary minus and float exponents are not binary operators
    assert(PrestoRewrite.rewriteTry("TRY(-a + b)") == "try_add(-a, b)")
    assert(PrestoRewrite.rewriteTry("TRY(x * 1e-5)") == "try_multiply(x, 1e-5)")
    // a TRY( inside a string literal is untouched
    assert(PrestoRewrite.rewriteTry("SELECT 'TRY(a/b)' AS t") ==
      "SELECT 'TRY(a/b)' AS t")
    // try_x( never matches the TRY token
    assert(PrestoRewrite.rewriteTry("SELECT try_divide(a, b)") ==
      "SELECT try_divide(a, b)")
    // unknown bodies are refused loudly — semantics never silently change
    val e = intercept[IllegalArgumentException](
      PrestoRewrite.rewriteTry("SELECT TRY(json_parse(x))"))
    assert(e.getMessage.contains("unsupported body"), e.getMessage)
    intercept[IllegalArgumentException](
      PrestoRewrite.rewriteTry("SELECT TRY(a / b / c)"))
    // end-to-end semantics through the front door
    assert(one("SELECT TRY(1 / 0) AS d").isNullAt(0))
    assert(one("SELECT TRY(10 / 4) AS d").getDouble(0) == 2.5)
    assert(one("SELECT TRY(CAST('zz' AS INT)) AS c").isNullAt(0))
    assert(one("SELECT TRY(CAST('7' AS INT)) AS c").getInt(0) == 7)
    assert(one("SELECT TRY(element_at(array(1, 2), 9)) AS e").isNullAt(0))
    // INT overflow: Presto throws, TRY catches → NULL (try_add parity)
    assert(one("SELECT TRY(2147483647 + 1) AS o").isNullAt(0))
    assert(one("SELECT TRY(40 + 2) AS o").getInt(0) == 42)
  }

  test("presto zip-UNNEST dialect: positional zip, NULL padding, ordinality") {
    val s = GraftCli.open(spark, sf)
    def rows(q: String) = GraftCli.sql(s, sf, q).collect()
    // two arrays of different lengths zip with NULL padding; ordinality
    // is 1-based BIGINT; qualified refs through the alias resolve
    val r = rows("""
      SELECT t.x, y, ord
      FROM (SELECT array(10, 20, 30) AS a, array('p', 'q') AS b) src
      CROSS JOIN UNNEST(a, b) WITH ORDINALITY AS t(x, y, ord)
      ORDER BY ord""")
    assert(r.length == 3)
    assert(r(0).getInt(0) == 10 && r(0).getString(1) == "p" && r(0).getLong(2) == 1L)
    assert(r(2).getInt(0) == 30 && r(2).isNullAt(1) && r(2).getLong(2) == 3L)
    // single array with ordinality
    val r1 = rows("""
      SELECT v, n FROM (SELECT array('a', 'b') AS xs) src
      CROSS JOIN UNNEST(xs) WITH ORDINALITY AS u(v, n) ORDER BY n""")
    assert(r1.map(x => (x.getString(0), x.getLong(1))).toSeq ==
      Seq(("a", 1L), ("b", 2L)))
    // single array without ordinality (plain explode path)
    val r2 = rows("""
      SELECT v FROM (SELECT array(7, 8) AS xs) src
      CROSS JOIN UNNEST(xs) AS u(v) ORDER BY v""")
    assert(r2.map(_.getInt(0)).toSeq == Seq(7, 8))
    // three arrays
    val r3 = rows("""
      SELECT a1, b1, c1 FROM (SELECT array(1) AS a, array(2) AS b, array(3) AS c) src
      CROSS JOIN UNNEST(a, b, c) AS t(a1, b1, c1)""")
    assert(r3.head.getInt(0) == 1 && r3.head.getInt(1) == 2 && r3.head.getInt(2) == 3)
    // misuse: column-count mismatch refuses loudly
    intercept[IllegalArgumentException](rows(
      "SELECT * FROM (SELECT array(1) AS a) s CROSS JOIN UNNEST(a) AS t(x, y, z)"))
    // an UNNEST( inside a string literal is untouched
    assert(PrestoRewrite.rewriteUnnest("SELECT 'CROSS JOIN UNNEST(a) AS t(x)'") ==
      "SELECT 'CROSS JOIN UNNEST(a) AS t(x)'")
  }

  test("presto comma-join UNNEST and map UNNEST (r19)") {
    val s = GraftCli.open(spark, sf)
    def rows(q: String) = GraftCli.sql(s, sf, q).collect()
    // the comma form is the implicit cross join — same LATERAL VIEW
    // (comma-joined relations BEFORE the UNNEST keep their comma; Spark's
    // grammar wants lateral views after the last relation, where Presto
    // users put the UNNEST anyway)
    val r = rows("""
      SELECT k, v FROM (SELECT 'g' AS k) g,
        (SELECT array(3, 1, 2) AS xs) src, UNNEST(xs) AS t(v) ORDER BY v""")
    assert(r.map(_.getInt(1)).toSeq == Seq(1, 2, 3))
    // comma form with ordinality zips like the CROSS JOIN spelling
    val r1 = rows("""
      SELECT x, y, ord
      FROM (SELECT array(10, 20) AS a, array('p') AS b) src,
        UNNEST(a, b) WITH ORDINALITY AS t(x, y, ord) ORDER BY ord""")
    assert(r1.length == 2 && r1(1).getInt(0) == 20 && r1(1).isNullAt(1)
      && r1(1).getLong(2) == 2L)
    // map UNNEST: one argument + two value columns = one row per entry
    val rm = rows("""
      SELECT k, v FROM (SELECT map('a', 1, 'b', 2) AS m) src
      CROSS JOIN UNNEST(m) AS t(k, v) ORDER BY k""")
    assert(rm.map(x => (x.getString(0), x.getInt(1))).toSeq ==
      Seq(("a", 1), ("b", 2)))
    // ... comma spelling too
    val rm2 = rows("""
      SELECT k, v FROM (SELECT map('z', 9) AS m) src, UNNEST(m) AS t(k, v)""")
    assert(rm2.head.getString(0) == "z" && rm2.head.getInt(1) == 9)
    // WITH ORDINALITY over a map is refused (Presto 0.248 rejects it too)
    val e = intercept[IllegalArgumentException](rows(
      "SELECT * FROM (SELECT map('a', 1) AS m) s " +
        "CROSS JOIN UNNEST(m) WITH ORDINALITY AS t(k, v, ord)"))
    assert(e.getMessage.contains("ORDINALITY over a map"), e.getMessage)
    // a comma inside a select list never matches (UNNEST is table-valued
    // only in Presto; the rewrite fires on the FROM-clause comma form)
    assert(PrestoRewrite.rewriteUnnest("SELECT a, b FROM t") ==
      "SELECT a, b FROM t")
  }

  test("presto bare subscripts rewrite to element_at (1-based arrays, map keys)") {
    val s = GraftCli.open(spark, sf)
    def one(q: String) = GraftCli.sql(s, sf, q).head()
    // text shapes: identifier, dotted chain, call result, chained
    // subscripts, parenthesized base
    assert(PrestoRewrite.rewriteSubscripts("SELECT a[1] FROM t") ==
      "SELECT element_at(a, 1) FROM t")
    assert(PrestoRewrite.rewriteSubscripts("SELECT t.a[i + 1] FROM t") ==
      "SELECT element_at(t.a, i + 1) FROM t")
    assert(PrestoRewrite.rewriteSubscripts("SELECT split(x, ',')[2]") ==
      "SELECT element_at(split(x, ','), 2)")
    assert(PrestoRewrite.rewriteSubscripts("SELECT m['k']['j']") ==
      "SELECT element_at(element_at(m, 'k'), 'j')")
    assert(PrestoRewrite.rewriteSubscripts("SELECT (a)[1]") ==
      "SELECT element_at((a), 1)")
    // inside literals/comments: untouched
    assert(PrestoRewrite.rewriteSubscripts("SELECT 'a[1]' AS t") ==
      "SELECT 'a[1]' AS t")
    assert(PrestoRewrite.rewriteSubscripts("SELECT x -- a[1]\nFROM t") ==
      "SELECT x -- a[1]\nFROM t")
    // end-to-end Presto semantics: 1-based on arrays, key lookup on maps
    assert(one("SELECT split('a-b-c', '-')[1] AS x").getString(0) == "a")
    assert(one("SELECT m['hi'] AS v FROM (SELECT map('hi', 42) AS m)")
      .getInt(0) == 42)
    // a Presto query whose literal AND column subscripts must agree
    assert(one("SELECT ARRAY['x', 'y'][2] AS a, arr[2] AS b " +
      "FROM (SELECT ARRAY['x', 'y'] AS arr)").toSeq == Seq("y", "y"))
  }

  test("presto TRY edge cases: nested try_ passthrough, sign after keyword (r19)") {
    val s = GraftCli.open(spark, sf)
    def one(q: String) = GraftCli.sql(s, sf, q).head()
    // nested TRY(TRY(CAST(...))): the inner rewrite yields try_cast,
    // which the outer body now accepts as an already-safe passthrough
    assert(PrestoRewrite.rewriteTry("SELECT TRY(TRY(CAST(x AS INT)))") ==
      "SELECT try_CAST(x AS INT)")
    assert(one("SELECT TRY(TRY(CAST('zz' AS INT))) AS c").isNullAt(0))
    // a minus after THEN/ELSE/WHEN/AND/OR/NOT/IN is a SIGN, not binary
    // arithmetic — TRY(CASE WHEN c THEN -1 ELSE x END) used to garble
    // into try_subtract text; now it refuses accurately (0 operators)
    val e = intercept[IllegalArgumentException](
      PrestoRewrite.rewriteTry("TRY(CASE WHEN c THEN -1 ELSE x END)"))
    assert(e.getMessage.contains("unsupported body"), e.getMessage)
    // CASE ... END - 1 IS binary (END is not a sign keyword)
    assert(PrestoRewrite.rewriteTry("TRY(CASE WHEN c THEN 1 ELSE 2 END - x)") ==
      "try_subtract(CASE WHEN c THEN 1 ELSE 2 END, x)")
    assert(one("SELECT TRY(CASE WHEN true THEN 2147483647 ELSE 0 END + 1) AS o")
      .isNullAt(0))
  }

  test("presto MAP with one literal and one expression arg is refused (r19)") {
    val s = GraftCli.open(spark, sf)
    // MAP(ARRAY['a','b'], split(x, ',')) would reach Spark's interleaved
    // map(...) — executable and silently wrong — so it refuses loudly
    val e = intercept[IllegalArgumentException](
      PrestoRewrite.rewriteMapConstructor("SELECT MAP(ARRAY['a','b'], split(x, ','))"))
    assert(e.getMessage.contains("map_from_arrays"), e.getMessage)
    intercept[IllegalArgumentException](
      GraftCli.sql(s, sf, "SELECT MAP(ARRAY[1, 2], sequence(1, 2)) AS m"))
    // ... and the mirrored order too
    intercept[IllegalArgumentException](
      PrestoRewrite.rewriteMapConstructor("SELECT MAP(map_keys(m), ARRAY[1,2])"))
    // legal Spark map(...) still passes through untouched
    assert(GraftCli.sql(s, sf, "SELECT map('k', 1) AS m").head().getMap[String, Int](0)
      .apply("k") == 1)
  }

  test("system.runtime tables serve cluster introspection through the front door") {
    val s = GraftCli.open(spark, sf)
    // the reference's `status` surface (presto-mgr.py:159-169) as
    // Presto's queryable system tables
    val nodes = GraftCli.sql(s, sf,
      "SELECT node_id, http_uri, node_version, coordinator, state " +
        "FROM system.runtime.nodes").collect()
    assert(nodes.nonEmpty && nodes.exists(_.getBoolean(3))
      && nodes.forall(_.getString(4) == "active"), nodes.mkString(";"))
    assert(nodes.head.getString(2) == s.version)
    // history records both outcomes
    intercept[Exception](GraftCli.sql(s, sf, "SELECT * FROM no_such_t").collect())
    GraftCli.sql(s, sf, "SELECT 1 AS one").collect()
    val states = GraftCli.sql(s, sf,
      "SELECT state FROM system.runtime.queries").collect().map(_.getString(0)).toSet
    assert(states.contains("FINISHED"), states.toString)
    // SQL-parsed statements surface their ORIGINAL text (origin.sqlText),
    // Presto's queries.query column behavior
    val texts = GraftCli.sql(s, sf,
      "SELECT query FROM system.runtime.queries").collect().map(_.getString(0))
    assert(texts.exists(_.contains("SELECT 1 AS one")), texts.take(5).mkString("|"))
    // catalog surface: listable, and read-only (writes refused)
    val listed = GraftCli.sql(s, sf, "SHOW TABLES IN system.runtime")
      .collect().map(_.getString(1)).toSet
    assert(listed == Set("nodes", "queries", "tasks"), listed.toString)
    // r19 columns: user + started (Presto's), on both live and history rows
    val cols = GraftCli.sql(s, sf, "SELECT * FROM system.runtime.queries")
      .schema.fieldNames.toSeq
    assert(cols == Seq("query_id", "state", "user", "query", "started",
      "elapsed_ms", "error"), cols.toString)
    intercept[Exception](GraftCli.sql(s, sf,
      "CREATE TABLE system.runtime.foo AS SELECT 1 AS x").collect())
    // the introspection scan is driver-local — no distributed job
    val plan = s.sql("SELECT * FROM system.runtime.nodes")
      .queryExecution.executedPlan.toString
    assert(plan.contains("LocalTableScan"), plan)
  }

  test("kill_query cancels a live statement; tasks and RUNNING rows surface it (r19)") {
    val s = GraftCli.open(spark, sf)
    // a deliberately slow, many-task statement through the REAL router
    // (runStatement tags it with a query_id job group)
    val slow = """SELECT count(*) AS n FROM (
      SELECT sha2(CAST(id AS STRING), 512) AS h
      FROM range(0, 600000000, 1, 64)) WHERE h > 'zz'"""
    val sink = new java.io.PrintStream(new java.io.ByteArrayOutputStream())
    @volatile var failure: Throwable = null
    val runner = new Thread(() => {
      try GraftCli.runStatement(s, slow, "csv", sink, sink)
      catch { case e: Throwable => failure = e }
    })
    runner.start()
    def poll[A](what: String)(f: => Option[A]): A = {
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      var out: Option[A] = None
      while (out.isEmpty && System.nanoTime() < deadline) {
        out = f
        if (out.isEmpty) Thread.sleep(100)
      }
      out.getOrElse(fail(s"timed out waiting for $what"))
    }
    // a second observer sees the statement RUNNING with its SQL text
    // polls read the UNFILTERED snapshot and filter client-side: a
    // WHERE on a system table plans FilterExec over the local scan -> a
    // real job, which would QUEUE behind the saturated victim stage on
    // a busy cluster (exactly when you need introspection); the bare
    // SELECT stays a driver-local LocalTableScan at any load
    def snapshot(table: String): Array[org.apache.spark.sql.Row] =
      s.sql(s"SELECT * FROM system.runtime.$table").collect()
    val qid = poll("RUNNING row") {
      snapshot("queries").find(r => r.getString(1) == "RUNNING"
        && r.getString(3).contains("sha2")).map(_.getString(0))
    }
    // ... and its stages in system.runtime.tasks, attributed to the id
    val task = poll("tasks row") {
      snapshot("tasks").find(r => r.getString(3) == qid)
    }
    assert(task.getInt(5) > 0, task.toString)
    // the admin kill switch, through the front door CALL
    val ack = GraftCli.sql(s, sf,
      s"CALL system.runtime.kill_query('$qid')").collect()
    assert(ack.head.getString(0) == s"killed $qid", ack.mkString)
    runner.join(60000)
    assert(!runner.isAlive, "victim statement did not terminate after kill")
    assert(failure != null, "victim statement did not fail after kill")
    // history shows the kill: the KILLED audit row carries the SQL
    val hist = snapshot("queries")
    assert(hist.exists(r => r.getString(1) == "KILLED"
      && r.getString(3).contains("sha2")), hist.take(8).mkString("|"))
    // the RUNNING row is gone
    assert(!hist.exists(r => r.getString(1) == "RUNNING"
      && r.getString(0) == qid))
    // misuse: killing an unknown id is a clean statement-scoped error
    val e = intercept[Exception](GraftCli.sql(s, sf,
      "CALL system.runtime.kill_query('graft_nope')").collect())
    assert(e.getMessage.contains("no running query"), e.getMessage)
  }

  test("presto literal spellings: ARRAY[...], MAP(ARRAY,ARRAY), bare VARCHAR") {
    val s = GraftCli.open(spark, sf)
    def one(q: String) = GraftCli.sql(s, sf, q).head()
    // ARRAY literal + Presto's 1-BASED subscript (element_at wrap): a
    // 0-based interpretation would return 30 here
    assert(one("SELECT ARRAY[10, 20, 30][2] AS x").getInt(0) == 20)
    // nested literals and chained subscripts stay 1-based
    assert(one("SELECT ARRAY[ARRAY[7, 8], ARRAY[9]][1][2] AS x").getInt(0) == 8)
    // a subscript on a COLUMN is Presto's 1-based indexing too (r19: the
    // bare-subscript rewrite — Spark's 0-based reading would return 'b')
    assert(one("SELECT arr[1] AS x FROM (SELECT ARRAY['a','b'] AS arr)")
      .getString(0) == "a")
    // MAP(ARRAY[k], ARRAY[v]) is Presto's two-array constructor — Spark's
    // interleaved map(...) spelling must stay untouched
    assert(one("SELECT element_at(MAP(ARRAY['a','b'], ARRAY[1,2]), 'b') AS v")
      .getInt(0) == 2)
    assert(one("SELECT map('k', 7)['k'] AS v").getInt(0) == 7)
    // bare VARCHAR/VARBINARY rewrite; VARCHAR(n) is legal Spark and stays
    assert(one("SELECT CAST(42 AS VARCHAR) AS v").getString(0) == "42")
    assert(one("SELECT CAST('ab' AS VARCHAR(2)) AS v").getString(0) == "ab")
    assert(one("SELECT length(CAST('xy' AS VARBINARY)) AS n").getInt(0) == 2)
    // literal-protection: the spellings inside a string stay verbatim
    assert(PrestoRewrite.rewriteArrayLiterals("SELECT 'ARRAY[1]' AS t") ==
      "SELECT 'ARRAY[1]' AS t")
    assert(PrestoRewrite.rewriteBareTypes("SELECT 'CAST(x AS VARCHAR)' AS t") ==
      "SELECT 'CAST(x AS VARCHAR)' AS t")
    // DECIMAL 'x.y' literal: Spark's BD literal has Presto's same
    // digits-driven precision/scale inference
    assert(one("SELECT DECIMAL '1.20' AS d").getDecimal(0) ==
      new java.math.BigDecimal("1.20"))
    assert(GraftCli.sql(s, sf, "SELECT DECIMAL '1.20' AS d")
      .schema.head.dataType.simpleString == "decimal(3,2)")
    assert(one("SELECT DECIMAL '-7' AS d").getDecimal(0).intValue == -7)
    // bare DECIMAL as a TYPE stays (legal Spark); non-numeric body is
    // left for the parser to refuse
    assert(one("SELECT CAST(5 AS DECIMAL) AS d").getDecimal(0).intValue == 5)
    intercept[Exception](one("SELECT DECIMAL 'abc'"))
    assert(PrestoRewrite.rewriteBareTypes("SELECT 'DECIMAL ''1.2''' AS t") ==
      "SELECT 'DECIMAL ''1.2''' AS t")
    // text shapes
    assert(PrestoRewrite.rewriteArrayLiterals("ARRAY[1, ARRAY[2]]") ==
      "array(1, array(2))")
    assert(PrestoRewrite.rewriteMapConstructor("MAP(ARRAY[1], ARRAY[2])") ==
      "map_from_arrays(ARRAY[1], ARRAY[2])")
    assert(PrestoRewrite.rewriteMapConstructor("map(k1, v1, k2, v2)") ==
      "map(k1, v1, k2, v2)")
  }

  test("dialect rewrites are literal- and comment-aware on every front-door path") {
    val s = GraftCli.open(spark, sf)
    // the quoted-unit pattern inside a DOUBLE-quoted string literal (the
    // r17 documented false positive) is untouched
    assert(PrestoRewrite.rewriteDatetime("""SELECT "date_diff('day', a, b)" AS t""")
      == """SELECT "date_diff('day', a, b)" AS t""")
    // ... and inside comments
    assert(PrestoRewrite.rewriteDatetime(
      "SELECT 1 -- date_diff('day', a, b)\n") ==
      "SELECT 1 -- date_diff('day', a, b)\n")
    assert(PrestoRewrite.rewriteDatetime(
      "SELECT /* date_diff('day', a, b) */ 1") ==
      "SELECT /* date_diff('day', a, b) */ 1")
    // while a real call AFTER a comment still rewrites
    val mixed = PrestoRewrite.rewriteDatetime(
      "-- note\nSELECT date_diff('day', a, b)")
    assert(mixed == "-- note\nSELECT date_diff(day,  a, b)" ||
      mixed == "-- note\nSELECT date_diff(day, a, b)")
    // EXECUTE binds, then the parser's literal-aware rewrite runs: a
    // bound string parameter containing the pattern stays verbatim
    val out = new java.io.ByteArrayOutputStream
    GraftCli.runStatement(s,
      "PREPARE pv FROM SELECT ? AS v, date_diff('day', DATE '2024-01-01', DATE '2024-01-03') AS d",
      "csv", new java.io.PrintStream(out), new java.io.PrintStream(new java.io.ByteArrayOutputStream))
    GraftCli.runStatement(s,
      "EXECUTE pv USING 'date_diff(''day'', x, y)'",
      "csv", new java.io.PrintStream(out), new java.io.PrintStream(new java.io.ByteArrayOutputStream))
    val csv = out.toString("UTF-8")
    assert(csv.contains("date_diff('day', x, y)") && csv.contains(",2"), csv)
    // EXPLAIN paths accept Presto spellings (r17 ADVICE): typed EXPLAIN
    // and EXPLAIN ANALYZE of a quoted-unit query both route
    val out2 = new java.io.ByteArrayOutputStream
    GraftCli.runStatement(s,
      "EXPLAIN (TYPE VALIDATE) SELECT date_diff('day', DATE '2024-01-01', DATE '2024-01-03')",
      "csv", new java.io.PrintStream(out2), new java.io.PrintStream(new java.io.ByteArrayOutputStream))
    assert(out2.toString("UTF-8").contains("true"), out2.toString)
    val out3 = new java.io.ByteArrayOutputStream
    GraftCli.runStatement(s,
      "EXPLAIN ANALYZE SELECT TRY(1/0) AS x",
      "table", new java.io.PrintStream(out3), new java.io.PrintStream(new java.io.ByteArrayOutputStream))
    assert(out3.toString("UTF-8").contains("Physical Plan"), out3.toString)
  }

  test("a Presto-spelled prepared statement describes and executes") {
    import org.apache.spark.sql.functions.{col, datediff}
    val s = GraftCli.open(spark, sf)
    s.sql("PREPARE pd FROM SELECT date_diff('day', o_orderdate, l_shipdate) AS d " +
      "FROM orders JOIN lineitem ON l_orderkey = o_orderkey WHERE o_orderkey = ?")
    val keyType = s.table("orders").schema("o_orderkey").dataType.sql.toLowerCase
    val in = s.sql("DESCRIBE INPUT pd").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(in == Seq((1, keyType)), in)
    val out = s.sql("DESCRIBE OUTPUT pd").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSeq
    assert(out == Seq((1, "d", "bigint")), out)
    val key = s.table("orders").head().getAs[Any]("o_orderkey")
    val got = s.sql(s"EXECUTE pd USING $key")
      .collect().map(_.getLong(0)).sorted.toSeq
    val want = s.table("orders").join(s.table("lineitem"), col("l_orderkey") === col("o_orderkey"))
      .where(col("o_orderkey") === key)
      .select(datediff(col("l_shipdate"), col("o_orderdate")).cast("long"))
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got.nonEmpty && got == want, s"got=$got want=$want")
  }
}
