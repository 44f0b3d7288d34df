package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference}
import org.apache.spark.sql.catalyst.plans.logical.{CommandResult, LogicalPlan}
import org.apache.spark.sql.execution.{CommandExecutionMode, QueryExecution}
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StringType

import graft.dedup.Dedup
import graft.functions.{GraftExtensions, GraftFunctions, GraftParser}
import graft.sources.Tables

/**
 * SQL front door — the reference's primary user experience is a SQL prompt
 * (presto-mgr.py `connect`/`cli`; README.md:90–96
 * `presto:test> select * from user;`). This is the Spark-native equivalent:
 * register the catalog as temp views on a graft-built session and serve
 * SQL text. The session's parser (`functions.GraftParser`) reads every
 * statement: graft's own verbs through the verb table ([[verbPlan]]) and
 * the rest in the Presto dialect. So the CLI hands every statement to
 * `spark.sql`, and every door (the CLI, [[sql]], hive-jdbc) reads the
 * same text the same way. The transaction envelope ([[TxnState]]) is the
 * CLI's one statement check of its own.
 *
 * Usage:
 *   runMain graft.GraftCli <sfDir> [--format table|csv|json] "SELECT ...;" [...]
 *   runMain graft.GraftCli <sfDir> [--format ...] -f script.sql
 *   runMain graft.GraftCli <sfDir>          # REPL: reads ;-terminated
 *                                           # statements from stdin
 *                                           # (under sbt prefer argv/-f:
 *                                           # sbt does not reliably forward
 *                                           # stdin to the forked JVM)
 *
 * `--format csv|json` emits machine-readable rows to stdout — the
 * reference CLI's `--output-format CSV` (Presto CLI docs); the default
 * `table` keeps the human show() rendering.
 *
 * DML works through the same front door (the reference CLI writes
 * through its connectors — the MySQL catalog of mysql.properties:1-3,
 * reached via README.md:44's `connect` flow): `CREATE TABLE t AS
 * SELECT ...` / `INSERT INTO t ...` / `DROP TABLE t` run against the
 * session catalog as parquet-backed managed tables under
 * `spark.sql.warehouse.dir` (override with SPARK_GRAFT_WAREHOUSE).
 * Writes are distributed parquet jobs — executors write files, the
 * driver only commits, so an INSERT of a 100 TB SELECT is the same
 * plan shape as any other parquet sink. Misuse (CTAS over an existing
 * table, INSERT into a missing one) surfaces Spark's catalog error as
 * one clean `[graft-cli] error:` line, statement-scoped like every
 * other statement failure.
 */
object GraftCli {

  /** One session wired for SQL text: all tables as views. The same
    * wiring a JDBC/Thrift deployment would do once. The session must be
    * graft-built (`spark.sql.extensions` names [[GraftExtensions]]): the
    * functions, rules and Presto-dialect parser come in with the
    * extensions, and a parser cannot be injected into a session after it
    * is built. The warehouse dir rides in the session conf so the
    * verbs that need the backing files (ANALYZE's external-table
    * registration) can find them without re-plumbing every signature. */
  def open(spark: SparkSession, sfDir: String): SparkSession = {
    val extensions = classOf[GraftExtensions].getName
    require(spark.conf.getOption("spark.sql.extensions").exists(
      _.split(",").map(_.trim).contains(extensions)),
      s"GraftCli needs a session built with spark.sql.extensions=$extensions " +
        "(GraftSession.builder/get): it carries the Presto-dialect parser")
    Tables.registerAll(spark, sfDir)
    // system.runtime.queries needs the history listener (idempotent);
    // the system CATALOG itself rides in via GraftSession's conf
    graft.sources.GraftSystemCatalog.installLog(spark)
    spark.conf.set("spark.graft.sfDir", sfDir)
    spark
  }

  /** Execute one SQL statement (the programmatic front door): any
    * statement the CLI runs except the transaction verbs. A statement run
    * for its effect returns its one `result` row, a report its one `plan`
    * row. */
  def sql(spark: SparkSession, sfDir: String, text: String): DataFrame =
    open(spark, sfDir).sql(text)

  /** Split ;-terminated SQL statements at the semicolons the grammar
    * reads as code: one inside a literal, quoted identifier or comment
    * stays put ([[PrestoRewrite.codeIndices]]). A piece that holds only
    * comments is no statement and is dropped. */
  private[graft] def splitStatements(in: String): Seq[String] =
    PrestoRewrite.cutAt(in, PrestoRewrite.codeIndices(in).filter(in.charAt(_) == ';').toSeq)
      .map(_.trim)
      .filter(st => PrestoRewrite.codeIndices(st).exists(!st.charAt(_).isWhitespace))

  /** Resolve the statement source from the CLI arguments (after sfDir):
    * `-f <script>` reads ;-terminated statements from the file (and
    * rejects a missing/extra operand or unreadable file with a clear
    * message BEFORE any work happens), bare arguments are statements
    * themselves, no arguments means the stdin REPL. Pulled out of main so
    * the arg handling is unit-testable without a session. */
  private[graft] def statementsFrom(args: Array[String]): Iterator[String] =
    if (args.length > 1 && args(1) == "-f") {
      if (args.length != 3) throw new IllegalArgumentException(
        "usage: GraftCli <sfDir> -f <script.sql>  (exactly one script file)")
      val p = java.nio.file.Paths.get(args(2))
      if (!java.nio.file.Files.isReadable(p)) throw new IllegalArgumentException(
        s"GraftCli: script file not found or unreadable: ${args(2)}")
      splitStatements(new String(java.nio.file.Files.readAllBytes(p), "UTF-8")).iterator
    } else if (args.length > 1) {
      // a stray -f after the first statement would otherwise be executed
      // as literal SQL, producing a confusing parse error instead of the
      // usage string — fail fast on any misplaced flag
      if (args.iterator.drop(1).contains("-f")) throw new IllegalArgumentException(
        "usage: GraftCli <sfDir> -f <script.sql>  (-f must come immediately after <sfDir>)")
      args.iterator.drop(1)
    } else {
      // stdin REPL: statements are ;-terminated, like the reference's CLI
      splitStatements(scala.io.Source.stdin.mkString).iterator
    }

  /** Pull an optional `--catalog-dir <dir>` (in the flag zone after
    * sfDir, before/after --format) out of the argument vector; returns
    * (dirOption, args-without-the-flag). A stray `--catalog-dir`
    * anywhere else fails fast like a stray `-f`. */
  private[graft] def parseCatalogDir(args: Array[String]): (Option[String], Array[String]) =
    if (args.length > 2 && args(1) == "--catalog-dir")
      (Some(args(2)), args.take(1) ++ args.drop(3))
    else {
      if (args.iterator.drop(1).contains("--catalog-dir"))
        throw new IllegalArgumentException(
          "usage: GraftCli <sfDir> [--format f] [--catalog-dir <dir>] ... " +
            "(--catalog-dir belongs in the flag zone after <sfDir>)")
      (None, args)
    }

  /** Pull an optional `--format <fmt>` (immediately after sfDir) out of
    * the argument vector; returns (format, args-without-the-flag). A
    * stray `--format` anywhere else fails fast like a stray `-f`. */
  private[graft] def parseFormat(args: Array[String]): (String, Array[String]) =
    if (args.length > 2 && args(1) == "--format") {
      val fmt = args(2)
      if (!Set("table", "csv", "json").contains(fmt)) throw new IllegalArgumentException(
        s"usage: GraftCli <sfDir> [--format table|csv|json] ... (got --format $fmt)")
      (fmt, args.patch(1, Nil, 2))
    } else if (args.iterator.drop(1).contains("--format")) {
      throw new IllegalArgumentException(
        "usage: GraftCli <sfDir> [--format table|csv|json] ... " +
          "(--format must come immediately after <sfDir>)")
    } else ("table", args)

  /** RFC-4180 quoting: a field containing a comma, quote, or newline is
    * wrapped in quotes with inner quotes doubled. */
  private def csvField(s: String): String =
    if (s.exists(c => c == ',' || c == '"' || c == '\n' || c == '\r'))
      "\"" + s.replace("\"", "\"\"") + "\"" else s

  /** Render one result to `out`. csv/json stream via toLocalIterator —
    * partition-at-a-time on the driver, never a full collect, so a
    * 100 TB result set pipes through the CLI the way the reference's
    * `--output-format CSV` does. `table` keeps show()'s 100-row peek. */
  private[graft] def render(df: DataFrame, format: String,
                            out: java.io.PrintStream): Unit = format match {
    case "csv" =>
      out.println(df.columns.map(csvField).mkString(","))
      df.toLocalIterator().forEachRemaining { row =>
        out.println(row.toSeq.map(v =>
          if (v == null) "" else csvField(v.toString)).mkString(","))
      }
    case "json" =>
      df.toJSON.toLocalIterator().forEachRemaining(out.println)
    case _ => df.show(100, truncate = false)
  }

  /** Presto-CLI-parity `EXPLAIN ANALYZE <query>`: execute the query
    * fully (materialized by a distributed RDD count — nothing collects
    * on the driver), then render the POST-AQE executed plan with each
    * node's runtime SQLMetrics (output rows, spill bytes, build/probe
    * times) — the operator-level runtime report Presto's EXPLAIN
    * ANALYZE emits, which plain EXPLAIN (plan only, never run) cannot.
    * The walk is the plan digest's, so query stages and subqueries are
    * reported too. Spark's own SQL surface has no ANALYZE mode, so the
    * verb table serves the statement itself. */
  private[graft] def explainAnalyze(spark: SparkSession, query: String): String = {
    val plan = spark.sql(query).queryExecution.executedPlan
    val nRows = plan.execute().count()
    "== Physical Plan (executed, with metrics) ==\n" +
      graft.plans.PlanDigest.render(plan) { p =>
        val ms = p.metrics.toSeq.sortBy(_._1).filter(_._2.value != 0)
          .map { case (name, m) => s"$name=${m.value}" }
        p.nodeName + (if (ms.isEmpty) "" else ms.mkString("  [", ", ", "]"))
      } + s"rows: $nRows\n"
  }

  private val ExplainAnalyze = "(?is)^\\s*EXPLAIN\\s+ANALYZE\\s+(.*)$".r
  // Presto-CLI prepared statements (PREPARE / EXECUTE ... USING /
  // DEALLOCATE PREPARE — Presto docs, SQL statement reference). Spark's
  // SQL dialect has no PREPARE statement, so the verb table serves these.
  private val Prepare = "(?is)^\\s*PREPARE\\s+([A-Za-z_][A-Za-z_0-9]*)\\s+FROM\\s+(.+)$".r
  // IMMEDIATE is excluded by name: EXECUTE IMMEDIATE is dynamic SQL the
  // engine serves natively through the bare sql() path (s16), not a
  // prepared-statement lookup.
  private val Execute = "(?is)^\\s*EXECUTE\\s+(?!IMMEDIATE\\b)([A-Za-z_][A-Za-z_0-9]*)\\s*(?:USING\\s+(.+?))?\\s*$".r
  private val Deallocate = "(?is)^\\s*DEALLOCATE\\s+PREPARE\\s+([A-Za-z_][A-Za-z_0-9]*)\\s*$".r
  // Presto `SHOW STATS FOR table` (Presto docs, SHOW STATS) — the
  // planner-statistics surface; Spark SQL has no SHOW STATS statement.
  // SHOW STATS serves ESTIMATES by default (Presto's planner stats are
  // estimates; exact per-column NDV is the most expensive stats pass
  // there is at 100 TB) — EXACT opts into the full countDistinct form.
  private val ShowStats =
    "(?is)^\\s*SHOW\\s+STATS\\s+(?:(EXACT|APPROX)\\s+)?FOR\\s+([A-Za-z_][A-Za-z_0-9]*)\\s*$".r
  // Presto session-property statements (Presto docs, SET SESSION /
  // RESET SESSION / SHOW SESSION — the per-session tuning surface every
  // Presto client drives). Spark's SET statement exists but exposes raw
  // conf keys; graft serves the Presto-named property catalog below,
  // each mapped to the Spark conf that honestly implements it.
  // Presto's ANALYZE statement: collect table + column statistics for
  // the cost-based planner (Presto docs, ANALYZE). Spark's ANALYZE TABLE
  // needs a catalog entry (temp views carry no stats), so graft's ANALYZE
  // registers the parquet-backed table as an EXTERNAL catalog table (no
  // copy) and runs FOR ALL COLUMNS — the stats SHOW STATS reports and
  // plans.CboSupport.withCbo turns into join-order decisions.
  private val Analyze = "(?is)^\\s*ANALYZE\\s+([A-Za-z_][A-Za-z_0-9]*)\\s*$".r
  // Presto DELETE FROM t [WHERE ...] (Presto 0.248 serves DELETE on its
  // writable connectors). Spark SQL rejects DELETE on v1 parquet tables,
  // so the verb table serves it as a distributed anti-filter rewrite of the
  // managed table (see deleteFrom).
  private val Delete =
    "(?is)^\\s*DELETE\\s+FROM\\s+([A-Za-z_][A-Za-z_0-9]*)(?:\\s+WHERE\\s+(.+?))?\\s*$".r
  private val SetSession = "(?is)^\\s*SET\\s+SESSION\\s+([A-Za-z_][A-Za-z_0-9]*)\\s*=\\s*(.+?)\\s*$".r
  private val ResetSession = "(?is)^\\s*RESET\\s+SESSION\\s+([A-Za-z_][A-Za-z_0-9]*)\\s*$".r
  private val ShowSession = "(?is)^\\s*SHOW\\s+SESSION\\s*$".r
  // Presto prepared-statement METADATA (Presto 0.248 DESCRIBE INPUT /
  // DESCRIBE OUTPUT) — client libraries type their parameter markers and
  // result sets from these BEFORE fetching. Spark has no prepared
  // statements, so graft serves both from the session's statement store.
  // the name captures ALSO match qualified (dotted) identifiers so a
  // `DESCRIBE INPUT db.q` cannot silently fall through to Spark's native
  // DESCRIBE — prepared-statement names are session-scoped and unqualified
  // in Presto, so the handlers reject dots with a statement-scoped error
  private val DescribeInput =
    "(?is)^\\s*DESCRIBE\\s+INPUT\\s+([A-Za-z_][A-Za-z_0-9]*(?:\\.[A-Za-z_][A-Za-z_0-9]*)*)\\s*$".r
  private val DescribeOutput =
    "(?is)^\\s*DESCRIBE\\s+OUTPUT\\s+([A-Za-z_][A-Za-z_0-9]*(?:\\.[A-Za-z_][A-Za-z_0-9]*)*)\\s*$".r
  // Presto SHOW COLUMNS FROM t (DESCRIBE t is its alias there): a TYPED
  // column report. Spark's native SHOW COLUMNS emits names only, so graft
  // serves the DESCRIBE relation's columns section. Qualified names (db.t)
  // match too — DESCRIBE resolves them natively.
  private val ShowColumns =
    "(?is)^\\s*SHOW\\s+COLUMNS\\s+(?:FROM|IN)\\s+([A-Za-z_][A-Za-z_0-9]*(?:\\.[A-Za-z_][A-Za-z_0-9]*)*)\\s*$".r
  // Presto 0.248 SHOW PARTITIONS FROM t (sugar for SELECT from the
  // "t$partitions" system table there): one row per partition, one TYPED
  // column per partition key. Spark's native SHOW PARTITIONS (no FROM)
  // emits k=v strings; graft serves the typed Presto shape.
  private val ShowPartitions =
    ("(?is)^\\s*SHOW\\s+PARTITIONS\\s+(?:FROM|IN)\\s+" +
      "([A-Za-z_][A-Za-z_0-9]*(?:\\.[A-Za-z_][A-Za-z_0-9]*)*)\\s*$").r
  // Presto 0.248 transaction statements. Every graft connector is
  // autocommit (parquet/catalog writes commit per statement, like
  // Presto's hive connector), so START TRANSACTION opens a statement-
  // tracking envelope with Presto's documented semantics: a failed
  // statement ABORTS the transaction and everything but ROLLBACK is
  // refused until it ends; COMMIT/ROLLBACK outside a transaction, or
  // nested START, are statement-scoped errors.
  private val StartTransaction =
    "(?is)^\\s*START\\s+TRANSACTION(?:\\s+(.+?))?\\s*$".r
  private val CommitStmt = "(?is)^\\s*COMMIT(?:\\s+WORK)?\\s*$".r
  private val RollbackStmt = "(?is)^\\s*ROLLBACK(?:\\s+WORK)?\\s*$".r
  // Presto's remaining EXPLAIN modes: TYPE VALIDATE (analyze only —
  // success or the analyzer's error, nothing plans or executes) and
  // TYPE IO (the tables/columns/filters the plan would read, off the
  // optimized physical plan — again, nothing executes).
  private val ExplainTyped =
    "(?is)^\\s*EXPLAIN\\s*\\(\\s*TYPE\\s+(VALIDATE|IO|DISTRIBUTED)\\s*\\)\\s*(.+)$".r
  // Presto SHOW FUNCTIONS [LIKE 'pattern'] — the typed function listing
  // (Spark's native statement returns one untyped name column; Presto's
  // clients expect kind metadata). Served instead of Spark's statement.
  private val ShowFunctions =
    "(?is)^\\s*SHOW\\s+FUNCTIONS(?:\\s+LIKE\\s+'([^']*)')?\\s*$".r

  /** One session property: Presto-style name/type/default plus the
    * mapping into (`toConf`) and out of (`fromConf`) the Spark conf
    * that implements it. `fromConf` reads the LIVE conf, so SHOW
    * SESSION reports what the engine will actually do, never a shadow
    * copy that could drift. */
  private[graft] final case class SessionProp(
      name: String, typ: String, default: String, description: String,
      toConf: String => (String, String), fromConf: SparkSession => String)

  /** The property catalog (names follow Presto 0.248's session-property
    * vocabulary; the catalog is engine-specific in Presto too, so the
    * honest-Spark subset is the right parity). Every property is
    * runtime-settable SQLConf — no silent no-ops. */
  private[graft] val sessionProps: Seq[SessionProp] = Seq(
    SessionProp("adaptive_execution", "boolean", "true",
      "Re-plan queries at runtime from observed partition sizes",
      v => ("spark.sql.adaptive.enabled", parseBool("adaptive_execution", v)),
      s => s.conf.get("spark.sql.adaptive.enabled", "true")),
    SessionProp("hash_partition_count", "integer", "32",
      "Number of partitions for distributed joins and aggregations",
      v => ("spark.sql.shuffle.partitions", parsePosInt("hash_partition_count", v)),
      s => s.conf.get("spark.sql.shuffle.partitions")),
    SessionProp("join_distribution_type", "varchar", "AUTOMATIC",
      "AUTOMATIC, PARTITIONED (never broadcast) or BROADCAST (favor broadcast joins)",
      v => ("spark.sql.autoBroadcastJoinThreshold",
        parseEnum("join_distribution_type", v,
          Set("AUTOMATIC", "PARTITIONED", "BROADCAST")) match {
          case "PARTITIONED" => "-1"
          case "BROADCAST"   => "104857600b"
          case _             => "10485760b"
        }),
      s => s.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760b") match {
        case "-1" | "-1b"  => "PARTITIONED"
        case "104857600b" => "BROADCAST"
        case _            => "AUTOMATIC"
      }),
    SessionProp("time_zone_id", "varchar", "UTC",
      "Session time zone for timestamp rendering and date arithmetic",
      v => ("spark.sql.session.timeZone", parseZone(unquote(v))),
      s => s.conf.get("spark.sql.session.timeZone")),
    // The reference launcher's only real engine knobs are memory caps
    // (query.max-memory / query.max-memory-per-node written into
    // config.properties). Spark's executor heap is fixed at JVM launch
    // and no runtime conf kills a query at a distributed-memory cap, so
    // the HONEST runtime-settable equivalent is the per-task ceiling:
    // AQE sizes every post-shuffle partition to this advisory byte
    // target (coalescing small ones, splitting skewed ones), which is
    // what actually bounds a 100 TB query's per-task memory footprint.
    SessionProp("query_max_memory_per_task", "varchar", "64MB",
      "Advisory per-task memory ceiling: AQE targets this size when coalescing or splitting shuffle partitions",
      v => ("spark.sql.adaptive.advisoryPartitionSizeInBytes",
        parseDataSize("query_max_memory_per_task", v)),
      s => s.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64MB")),
    // The r16 scale knob (see Dedup.bucketCap): bucket populations grow
    // with the corpus on boilerplate-heavy text, so the pair-expansion
    // cap is the one dedup parameter a 100 TB operator genuinely tunes
    // per corpus — surfaced here so SQL clients reach it the Presto way.
    SessionProp("dedup_max_bucket", "integer", Dedup.MaxBucket.toString,
      "Per-bucket pair-expansion cap for the bucketed dedup operators (minhash/simhash/embedding LSH, winnowing)",
      // checked at SET time by the same rule Dedup.bucketCap applies at
      // plan-build to conf writes that bypass SET SESSION
      v => ("spark.graft.dedup.maxBucket", Dedup.parseCap(unquote(v)).toString),
      s => s.conf.get("spark.graft.dedup.maxBucket", Dedup.MaxBucket.toString)))

  private def unquote(v: String): String = {
    val t = v.trim
    if (t.length >= 2 && t.head == '\'' && t.last == '\'')
      t.substring(1, t.length - 1).replace("''", "'")
    else t
  }

  private def parseBool(name: String, v: String): String =
    unquote(v).toLowerCase(java.util.Locale.ROOT) match {
      case b @ ("true" | "false") => b
      case other => throw new IllegalArgumentException(
        s"SET SESSION $name: expected true or false, got '$other'")
    }

  private def parsePosInt(name: String, v: String): String = {
    val t = unquote(v)
    if (t.matches("[0-9]+") && t.toLong > 0) t
    else throw new IllegalArgumentException(
      s"SET SESSION $name: expected a positive integer, got '$t'")
  }

  private def parseEnum(name: String, v: String, allowed: Set[String]): String = {
    val t = unquote(v).toUpperCase(java.util.Locale.ROOT)
    if (allowed(t)) t
    else throw new IllegalArgumentException(
      s"SET SESSION $name: expected one of ${allowed.toSeq.sorted.mkString(", ")}, got '$t'")
  }

  private def parseDataSize(name: String, v: String): String = {
    val t = unquote(v).trim
    if (t.matches("(?i)[0-9]+(B|KB|MB|GB|TB)"))
      t.toUpperCase(java.util.Locale.ROOT)
    else throw new IllegalArgumentException(
      s"SET SESSION $name: expected a data size like '512MB' or '1GB', got '$t'")
  }

  private def parseZone(v: String): String =
    try { java.time.ZoneId.of(v); v }
    catch { case _: Exception => throw new IllegalArgumentException(
      s"SET SESSION time_zone_id: unknown zone '$v'") }

  private def sessionProp(name: String): SessionProp = {
    val key = name.toLowerCase(java.util.Locale.ROOT)
    sessionProps.find(_.name == key).getOrElse(throw new IllegalArgumentException(
      s"session property $key does not exist (SHOW SESSION lists the catalog)"))
  }

  /** SET SESSION name = value: validate against the catalog, then set
    * the mapped Spark conf. Validation happens before any conf write. */
  private[graft] def setSession(spark: SparkSession, name: String, value: String): Unit = {
    val (k, v) = sessionProp(name).toConf(value)
    spark.conf.set(k, v)
  }

  /** RESET SESSION name: restore the catalog default. */
  private[graft] def resetSession(spark: SparkSession, name: String): Unit = {
    val p = sessionProp(name)
    val (k, v) = p.toConf(p.default)
    spark.conf.set(k, v)
  }

  /** SHOW SESSION as Presto renders it: name | value | default | type |
    * description, values read back from the LIVE Spark conf (a SET that
    * failed to land would be visible here). Conf reads are driver-side
    * session metadata — the frame is a literal local relation. */
  private[graft] def showSession(spark: SparkSession): DataFrame = {
    import spark.implicits._
    sessionProps.map(p => (p.name, p.fromConf(spark), p.default, p.typ, p.description))
      .toDF("name", "value", "default", "type", "description")
      .orderBy(col("name"))
  }

  /** Presto's SHOW STATS row layout over any registered table: one row
    * per column (NDV, nulls fraction, low/high rendered as text,
    * data size for varchar columns) + the table row carrying row_count.
    * ONE aggregate pass computes every column's stats together (the
    * multi-distinct Expand is the standard ANALYZE shape — column-count
    * fan-out, never row-count); the single-row result explodes into the
    * report rows declaratively, no driver collect. low/high rendering is
    * pinned cross-engine: timestamps format to 'yyyy-MM-dd HH:mm:ss',
    * doubles snap to DECIMAL(18,2) text, everything else casts straight
    * to string.
    *
    * NDV is approx_count_distinct (HLL++) unless `exact` — Presto's
    * SHOW STATS serves planner ESTIMATES, and at 100 TB the exact
    * multi-countDistinct Expand is the most expensive stats pass there
    * is (every column's values re-shuffled). The approx form keeps the
    * identical one-pass shape with HLL sketches instead of distinct
    * sets; `SHOW STATS EXACT FOR t` opts into the exact pass (the
    * oracle-able s14 form). */
  private[graft] def showStats(spark: SparkSession, table: String,
      exact: Boolean = false): DataFrame = {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    // base tables go through the layout-aware fan-out: the whole stats
    // pass (multi-distinct Expand included) is partition-invariant, and
    // on the one-row-group test layout it otherwise runs as ONE task
    // (measured 2.7 s of s14's 3.3 s in a single partial-agg task).
    // The substitution only applies when the name still RESOLVES to the
    // registered base table (or isn't registered at all): a temp view
    // shadowing a base-table name with different data must win, not be
    // silently bypassed.
    val lc = table.toLowerCase(java.util.Locale.ROOT)
    val df = spark.conf.getOption("spark.graft.sfDir") match {
      case Some(dir) if Tables.all.contains(lc) => {
        val base = if (lc == "events") Tables.events(spark, dir)
                   else Tables.df(spark, dir, lc)
        val resolved = try Some(spark.table(table))
                       catch { case _: Exception => None }
        resolved match {
          case Some(r) if !r.queryExecution.analyzed
              .sameResult(base.queryExecution.analyzed) => r // shadowed
          case _ => Tables.fanout(spark, dir, lc)
        }
      }
      case _ => spark.table(table)
    }
    val fields = df.schema.fields
    def asText(c: Column, dt: DataType): Column = dt match {
      case TimestampType => date_format(c, "yyyy-MM-dd HH:mm:ss")
      case DoubleType | FloatType => c.cast(DecimalType(18, 2)).cast(StringType)
      case _ => c.cast(StringType)
    }
    val aggs = fields.flatMap { f =>
      val c = col(f.name)
      Seq(
        (if (exact) countDistinct(c) else approx_count_distinct(c))
          .as(s"ndv_${f.name}"),
        count(c).as(s"nn_${f.name}"),
        asText(min(c), f.dataType).as(s"lo_${f.name}"),
        asText(max(c), f.dataType).as(s"hi_${f.name}")) ++
        (f.dataType match {
          case StringType => Seq(sum(length(col(f.name)).cast(LongType))
            .cast(DoubleType).as(s"sz_${f.name}"))
          case _ => Nil
        })
    } :+ count(lit(1)).as("n_rows")
    val one = df.agg(aggs.head, aggs.tail: _*)
    val nullD = lit(null).cast(DoubleType)
    val colRows = fields.map { f =>
      struct(
        lit(f.name).as("column_name"),
        (f.dataType match {
          case StringType => col(s"sz_${f.name}")
          case _ => nullD
        }).as("data_size"),
        col(s"ndv_${f.name}").cast(DoubleType).as("distinct_values_count"),
        ((col("n_rows") - col(s"nn_${f.name}")).cast(DoubleType) /
          col("n_rows")).as("nulls_fraction"),
        nullD.as("row_count"),
        col(s"lo_${f.name}").as("low_value"),
        col(s"hi_${f.name}").as("high_value"))
    } :+ struct(
      lit(null).cast(StringType).as("column_name"), nullD.as("data_size"),
      nullD.as("distinct_values_count"), nullD.as("nulls_fraction"),
      col("n_rows").cast(DoubleType).as("row_count"),
      lit(null).cast(StringType).as("low_value"),
      lit(null).cast(StringType).as("high_value"))
    one.select(explode(array(colRows.toIndexedSeq: _*)).as("s"))
      .select(col("s.*"))
      .orderBy(col("column_name").asc_nulls_first)
  }

  /** s15: run the session statements, snapshot SHOW SESSION (values
    * read back from the live conf — the snapshot IS the evidence the
    * SETs landed), then restore every property's backing conf so the
    * entry never poisons the session for whatever runs next (Verify runs
    * 250+ entries in one session). */
  private[graft] def sessionEntry(spark: SparkSession, sfDir: String,
      statements: Seq[String]): DataFrame = {
    val sess = open(spark, sfDir)
    val saved = sessionProps.map(p => p.toConf(p.default)._1)
      .map(k => k -> sess.conf.getOption(k))
    try {
      statements.foreach(sess.sql)
      // SHOW SESSION materializes the conf reads into a literal relation
      sess.sql("SHOW SESSION")
    } finally saved.foreach {
      case (k, Some(v)) => sess.conf.set(k, v)
      case (k, None)    => sess.conf.unset(k)
    }
  }

  /** Split a USING argument list on top-level commas (commas inside
    * literals, comments or brackets — a DATE '...', a nested call — stay
    * put). */
  private[graft] def splitArgs(in: String): Seq[String] = PrestoRewrite.splitTopLevel(in)

  /** Positions of the `?` markers the SQL grammar could parse as
    * parameters: those outside literals, quoted identifiers and comments.
    * The binder and DESCRIBE INPUT/OUTPUT share this one scan, so they
    * never disagree on arity. */
  private def markers(template: String): Seq[Int] =
    PrestoRewrite.codeIndices(template).filter(template.charAt(_) == '?').toSeq

  /** Bind EXECUTE arguments into a prepared template: each parameter
    * marker is replaced positionally by the corresponding USING
    * expression text (Presto binds values; for the literal/expression
    * arguments the CLI grammar allows, textual splice into the parse
    * position is equivalent). Arity mismatches in either direction fail
    * with a clear message BEFORE any SQL runs. */
  private[graft] def bindParameters(template: String, args: Seq[String]): String = {
    val at = markers(template)
    if (at.length > args.length) throw new IllegalArgumentException(
      s"EXECUTE: statement has more parameters (?) than USING arguments (${args.length})")
    if (at.length < args.length) throw new IllegalArgumentException(
      s"EXECUTE: ${args.length} USING arguments for ${at.length} parameter(s) in the prepared statement")
    val pieces = PrestoRewrite.cutAt(template, at)
    pieces.head + args.zip(pieces.tail).map { case (a, p) => a + p }.mkString
  }

  /** Count parameter markers — the binder's own scan. */
  private[graft] def countParameters(template: String): Int = markers(template).length

  /** A prepared template with every `?` bound to NULL: binding cannot
    * change the plan's shape, and a NULL-typed marker takes the same
    * coerced type the analyzer gives any execution. */
  private def nullBound(template: String): String =
    bindParameters(template, Seq.fill(countParameters(template))("NULL"))

  /** A parsed plan's query execution, in which nothing runs: NON_ROOT
    * keeps a command an unexecuted plan node, where the default mode runs
    * it the moment any plan stage is touched (spark.sql() runs it at
    * once). */
  private def planned(spark: SparkSession, plan: LogicalPlan): QueryExecution =
    spark.sessionState.executePlan(plan, CommandExecutionMode.NON_ROOT)

  /** DESCRIBE OUTPUT name — Presto 0.248's prepared-statement result-set
    * metadata (what a client library calls to type a result set before
    * fetching a row), from the parsed [[nullBound]] template. Nothing
    * executes — the schema comes off the analyzed plan. Returns
    * (ordinal, column_name, type) in SELECT-list order. */
  private[graft] def describeOutput(spark: SparkSession, bound: LogicalPlan): DataFrame = {
    import spark.implicits._
    planned(spark, bound).analyzed.schema.fields.zipWithIndex.toSeq.map { case (f, i) =>
      (i + 1, f.name, f.dataType.sql.toLowerCase(java.util.Locale.ROOT))
    }.toDF("ordinal", "column_name", "type")
  }

  /** DESCRIBE INPUT name — the parameter-marker half of Presto's
    * prepared-statement metadata: one row per `?`, 1-based position plus
    * the inferred type. Inference walks the PARSED (unresolved) template
    * for a marker sitting directly against a column in a binary
    * comparison/arithmetic or IN list, then types that column from the
    * NULL-bound ANALYZED plan (subtree outputs include scan columns the
    * SELECT list prunes). A marker with no such column context reports
    * `unknown` — Presto does the same for non-inferable parameters.
    * `parsed` is the parsed template, `bound` the parsed [[nullBound]]
    * one. */
  private[graft] def describeInput(spark: SparkSession, parsed: LogicalPlan,
      bound: LogicalPlan): DataFrame = {
    import org.apache.spark.sql.catalyst.analysis.{PosParameter, UnresolvedAttribute}
    import org.apache.spark.sql.catalyst.expressions.{BinaryOperator, Expression, In}
    val positions = scala.collection.mutable.SortedSet[Int]()
    val paired = scala.collection.mutable.Map[Int, String]()
    def scan(e: Expression): Unit = {
      e match {
        case b: BinaryOperator => (b.left, b.right) match {
          case (p: PosParameter, a: UnresolvedAttribute) =>
            paired(p.pos) = a.nameParts.last
          case (a: UnresolvedAttribute, p: PosParameter) =>
            paired(p.pos) = a.nameParts.last
          case _ => ()
        }
        case In(a: UnresolvedAttribute, list) =>
          list.foreach {
            case p: PosParameter => paired(p.pos) = a.nameParts.last
            case _ => ()
          }
        case _ => ()
      }
      e match { case p: PosParameter => positions += p.pos; case _ => () }
      e.children.foreach(scan)
    }
    parsed.foreach(_.expressions.foreach(scan))
    // one name can reach the plan from several relations (a join where
    // both sides carry `id`): only report a type when every attribute of
    // that name AGREES — a last-wins toMap could silently mistype a
    // marker from whichever relation happened to enumerate last
    val attrTypes: Map[String, String] = planned(spark, bound).analyzed
      .collect { case n => n.output }.flatten
      .map(a => a.name.toLowerCase(java.util.Locale.ROOT) ->
        a.dataType.sql.toLowerCase(java.util.Locale.ROOT))
      .groupBy(_._1)
      .map { case (n, pairs) =>
        val types = pairs.map(_._2).distinct
        n -> (if (types.size == 1) types.head else "unknown")
      }
    import spark.implicits._
    positions.toSeq.zipWithIndex.map { case (pos, i) =>
      (i + 1, paired.get(pos)
        .flatMap(n => attrTypes.get(n.toLowerCase(java.util.Locale.ROOT)))
        .getOrElse("unknown"))
    }.toDF("position", "type")
  }

  /** SHOW COLUMNS FROM t — Presto's typed column listing (in Presto,
    * DESCRIBE t is an alias of this). Spark's native SHOW COLUMNS emits
    * names only, so graft serves the DESCRIBE relation's columns
    * section as (column_name, data_type). The collect is bounded by the
    * table's column count; unknown tables surface Spark's catalog error,
    * statement-scoped. */
  private[graft] def showColumns(spark: SparkSession, table: String): DataFrame = {
    val t = table.toLowerCase(java.util.Locale.ROOT)
    val rows = spark.sql(s"DESCRIBE $t").collect()
      .takeWhile(r => r.getString(0).nonEmpty && !r.getString(0).startsWith("#"))
    import spark.implicits._
    rows.toSeq.map(r => (r.getString(0), r.getString(1)))
      .toDF("column_name", "data_type")
  }

  /** DELETE FROM t [WHERE cond] as a distributed rewrite of the managed
    * parquet table — the Presto-0.248 DELETE surface on writable
    * connectors, served Spark-side the way a hive-connector DELETE
    * actually works underneath: keep the surviving rows, swap the data.
    *
    * The surviving rows (WHERE-false or WHERE-null — SQL deletes only
    * rows where the predicate is TRUE) are written ONCE by executors to
    * a sibling managed table, then the catalog swaps names (drop +
    * rename) — no driver materialization, no read-and-overwrite of the
    * same files mid-scan, and the plan is an ordinary filtered parquet
    * write at any scale (a 100 TB DELETE is one filtered pass, the same
    * cost shape as Presto's partition rewrite). Source temp views
    * (the sf-dir catalog) are read-only and refused, like DELETE against
    * a non-writable Presto connector. Returns rows deleted (Presto's
    * DELETE report), from parquet-metadata counts. */
  private[graft] def deleteFrom(spark: SparkSession, table: String,
      where: Option[String]): Long = {
    val t = table.toLowerCase(java.util.Locale.ROOT)
    val old = s"${t}__graft_delete_old"
    if (!spark.catalog.tableExists(t)) throw new IllegalArgumentException(
      if (spark.catalog.tableExists(old))
        s"DELETE FROM: table $t does not exist, but $old does — a " +
          "previous DELETE likely crashed between its two catalog " +
          s"renames; the data is intact there (ALTER TABLE $old RENAME " +
          s"TO $t to recover)"
      else s"DELETE FROM: table $t does not exist")
    // the rename-aside swap below needs the scaffolding name free; if a
    // table already sits on it, it is either a crashed DELETE's only
    // copy of the data or a user table that happens to collide — both
    // must NOT be silently dropped
    if (spark.catalog.tableExists(old)) throw new IllegalStateException(
      s"DELETE FROM: scaffolding name $old is occupied — if a previous " +
        "DELETE crashed mid-swap its data lives there (inspect it, then " +
        s"ALTER TABLE $old RENAME TO ... or DROP TABLE $old to proceed)")
    // refuse non-writable relations UP FRONT: a temp view is the sf-dir
    // source catalog, a persistent VIEW has no storage to rewrite — left
    // unchecked it would survive until DROP TABLE fails mid-swap and
    // orphan the tmp table
    val tableType = spark.catalog.getTable(t).tableType
    if (tableType == "TEMPORARY" || tableType == "VIEW")
      throw new IllegalArgumentException(
        s"DELETE FROM: $t is a read-only ${if (tableType == "VIEW") "view"
          else "source view"} (DELETE needs a managed table — " +
          "CREATE TABLE ... AS SELECT first)")
    val df = spark.table(t)
    val remaining = where match {
      case Some(w) => df.filter(
        !org.apache.spark.sql.functions.coalesce(
          org.apache.spark.sql.functions.expr(w).cast("boolean"),
          org.apache.spark.sql.functions.lit(false)))
      case None => df.filter(org.apache.spark.sql.functions.lit(false))
    }
    val before = df.count()
    val tmp = s"${t}__graft_delete_tmp"
    spark.sql(s"DROP TABLE IF EXISTS $tmp")
    dropStaleLocation(spark, tmp)
    remaining.write.saveAsTable(tmp)
    val after = spark.table(tmp).count()
    // rename-aside swap: move the original OUT OF THE WAY before the tmp
    // table takes its name, and drop it only once the new table is in
    // place — a crash at any point leaves either the original (as t or
    // t__graft_delete_old) or the completed new table, never neither
    // (the naive DROP-then-RENAME loses the table if the JVM dies
    // between the two statements). The catalog-level occupancy check ran
    // up front; a stale WAREHOUSE DIRECTORY left by a dead JVM (its
    // in-memory catalog gone, files persisting) is scaffolding garbage
    // by construction and is safe to clear.
    dropStaleLocation(spark, old)
    spark.sql(s"ALTER TABLE $t RENAME TO $old")
    spark.sql(s"ALTER TABLE $tmp RENAME TO $t")
    spark.sql(s"DROP TABLE $old")
    before - after
  }

  /** Remove a STALE warehouse directory for `name` — one the catalog no
    * longer knows (a previous JVM's in-memory catalog dropped with the
    * session, but managed-table files persist on disk, so a later CTAS
    * fails with LOCATION_ALREADY_EXISTS). A location the live catalog
    * still owns is left alone: DROP TABLE handles both halves there. */
  private[graft] def dropStaleLocation(spark: SparkSession, name: String): Unit =
    if (!spark.catalog.tableExists(name)) {
      val wh = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"))
      val fs = wh.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val p = new org.apache.hadoop.fs.Path(wh,
        name.toLowerCase(java.util.Locale.ROOT))
      if (fs.exists(p)) fs.delete(p, true)
    }

  /** Session transaction envelope (Presto semantics over autocommit
    * connectors): `active` while a START TRANSACTION block is open,
    * `aborted` once a statement inside it failed — from then on every
    * statement but ROLLBACK is refused until the block ends. This is the
    * CLI's one statement check of its own: abort-on-failure has to see
    * every statement fail as it happens, and only the CLI's statement
    * loop does. Over hive-jdbc the transaction verbs stay a parse error. */
  private[graft] final class TxnState {
    private var active = false
    private var aborted = false

    /** Run one statement inside the envelope: a transaction verb changes
      * the state and gives its acknowledgement; any other statement is
      * refused while the block is aborted, else `body` runs it. A failure
      * inside an open block aborts it. */
    def run(stmt: String)(body: => Unit): Option[String] = try PrestoRewrite.codeSpan(stmt) match {
      case StartTransaction(modes) =>
        if (active) throw new IllegalStateException(
          "START TRANSACTION: a transaction is already in progress " +
            "(nested transactions are not supported)")
        Option(modes).foreach(validateTxnModes)
        active = true; aborted = false
        Some("START TRANSACTION (autocommit connectors: each statement commits individually)")
      case CommitStmt() =>
        if (!active) throw new IllegalStateException("COMMIT: no transaction in progress")
        if (aborted) throw new IllegalStateException(
          "COMMIT: the current transaction is aborted — ROLLBACK it")
        active = false
        Some("COMMIT")
      case RollbackStmt() =>
        if (!active) throw new IllegalStateException("ROLLBACK: no transaction in progress")
        active = false; aborted = false
        Some("ROLLBACK (autocommit connectors: statements that completed were already committed)")
      case _ if active && aborted =>
        throw new IllegalStateException(
          "current transaction is aborted — ROLLBACK before issuing further statements")
      case _ => body; None
    } catch { case e: Exception => if (active) aborted = true; throw e }
  }

  /** Validate START TRANSACTION's mode list (Presto 0.248 grammar:
    * comma-separated ISOLATION LEVEL <level> and/or READ ONLY|READ
    * WRITE). Unknown modes fail before any state changes. */
  private[graft] def validateTxnModes(modes: String): Unit =
    modes.split(",").map(_.trim).filter(_.nonEmpty).foreach { m =>
      val ok = m.matches("(?i)ISOLATION\\s+LEVEL\\s+(READ\\s+UNCOMMITTED|" +
        "READ\\s+COMMITTED|REPEATABLE\\s+READ|SERIALIZABLE)") ||
        m.matches("(?i)READ\\s+(ONLY|WRITE)")
      if (!ok) throw new IllegalArgumentException(
        s"START TRANSACTION: unknown transaction mode '$m'")
    }

  /** EXPLAIN (TYPE VALIDATE) — analyze-only: parse + analyze the
    * statement and report validity; nothing optimizes, plans, or
    * executes ([[planned]]: commands are NOT run). An analyzer error
    * surfaces as the statement-scoped error, exactly what a client
    * syntax-checking a query wants. */
  private[graft] def explainValidate(spark: SparkSession, query: String): DataFrame = {
    planned(spark, spark.sessionState.sqlParser.parsePlan(query)).assertAnalyzed()
    import spark.implicits._
    Seq(true).toDF("valid")
  }

  /** EXPLAIN (TYPE IO) — the I/O surface of the OPTIMIZED physical plan
    * without executing it: one row per file scan (table name where the
    * catalog knows it, else the location root), the pruned read schema,
    * the data filters pushed into the parquet reader, and the partition
    * filters that prune directories — the two properties a 100 TB scan
    * lives on; plus one `output` row when the statement writes. Built
    * from the [[planned]] physical plan, so commands are planned but
    * never run — the whole point of TYPE IO is to see the I/O without
    * doing it. */
  private[graft] def explainIo(spark: SparkSession, query: String): DataFrame = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.command.DataWritingCommandExec
    import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
    val qe = planned(spark, spark.sessionState.sqlParser.parsePlan(query))
    val plan: SparkPlan = qe.sparkPlan // pre-AQE physical tree: scans carry
                                       // pushdown metadata; nothing runs
    val rows = plan.collect {
      case scan: FileSourceScanExec =>
        val table = scan.tableIdentifier.map(_.unquotedString).getOrElse(
          scan.relation.location.rootPaths.headOption.map(_.toString)
            .getOrElse("unknown"))
        ("input", table,
          scan.requiredSchema.fieldNames.mkString(", "),
          scan.metadata.getOrElse("PushedFilters", "[]"),
          if (scan.partitionFilters.isEmpty) "[]"
          else scan.partitionFilters.mkString("[", ", ", "]"))
      case w: DataWritingCommandExec => w.cmd match {
        case ins: InsertIntoHadoopFsRelationCommand =>
          ("output", ins.catalogTable.map(_.identifier.unquotedString)
            .getOrElse(ins.outputPath.toString), "", "[]", "[]")
        case other =>
          ("output", other.nodeName, "", "[]", "[]")
      }
    }
    import spark.implicits._
    rows.toDF("kind", "table", "columns", "pushed_filters", "partition_filters")
      .orderBy(col("kind"), col("table"))
  }

  /** SHOW PARTITIONS FROM t — Presto 0.248's typed partition listing
    * (one row per partition, one column per partition key, values in
    * the key's declared type). Spark's catalog serves the partition
    * list as k=v path strings (pure metadata — no data files open); graft
    * re-types them against the table's partition schema. Rejects
    * unpartitioned tables with Presto's own complaint. */
  private[graft] def showPartitions(spark: SparkSession, table: String): DataFrame = {
    import org.apache.spark.sql.functions.{regexp_extract, url_decode, when}
    val t = table.toLowerCase(java.util.Locale.ROOT)
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(t)
    val partSchema = spark.sessionState.catalog.getTableMetadata(ident).partitionSchema
    if (partSchema.isEmpty) throw new IllegalArgumentException(
      s"SHOW PARTITIONS: table $t is not partitioned")
    val raw = spark.sql(s"SHOW PARTITIONS $t") // one string col: k1=v1/k2=v2
    val cols = partSchema.fields.map { f =>
      val v = regexp_extract(col("partition"), s"(?:^|/)${f.name}=([^/]*)", 1)
      // partition directories %-escape special chars; decode only when
      // one is present so a literal '+' in a value survives
      when(v.contains("%"), url_decode(v)).otherwise(v)
        .cast(f.dataType).as(f.name)
    }
    raw.select(cols.toIndexedSeq: _*)
  }

  /** EXPLAIN (TYPE DISTRIBUTED) — Presto's fragmented distributed plan:
    * the physical plan split at its EXCHANGE boundaries into fragments,
    * each labeled with the distribution that feeds it (SINGLE / HASH
    * [keys] / RANGE / BROADCAST — Presto's fragment vocabulary, which
    * maps one-to-one onto Spark's exchanges). Built from the lazy
    * physical plan, so nothing executes (the pre-AQE tree is the honest
    * choice: it SHOWS every exchange, where the finalized adaptive plan
    * only exists after execution — that one is EXPLAIN ANALYZE's job).
    * The fragment count IS the query's shuffle count — the first number
    * a 100 TB plan review looks at. */
  private[graft] def explainDistributed(spark: SparkSession, query: String): String = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
    import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, RangePartitioning, SinglePartition}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val qe = planned(spark, spark.sessionState.sqlParser.parsePlan(query))
    // executedPlan has gone through EnsureRequirements (exchanges exist)
    // but has NOT run; under AQE the initialPlan is the pre-execution
    // tree with every exchange visible
    val physical = qe.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    val sb = new StringBuilder("== Distributed Plan (fragments at exchange boundaries) ==\n")
    var nextId = 1
    val queue = scala.collection.mutable.Queue[(Int, String, SparkPlan)](
      (0, "SINGLE (coordinator output)", physical))
    def dist(e: ShuffleExchangeExec): String = e.outputPartitioning match {
      case h: HashPartitioning =>
        s"HASH [${h.expressions.map(_.sql).mkString(", ")}] (${h.numPartitions} partitions)"
      case r: RangePartitioning =>
        s"RANGE [${r.ordering.map(_.sql).mkString(", ")}] (${r.numPartitions} partitions)"
      case SinglePartition => "SINGLE"
      case other => other.toString
    }
    while (queue.nonEmpty) {
      val (id, label, frag) = queue.dequeue()
      sb.append(s"Fragment $id [$label]\n")
      def walk(p: SparkPlan, depth: Int): Unit = p match {
        case e: ShuffleExchangeExec =>
          val fid = nextId; nextId += 1
          sb.append("  " * depth).append(s"RemoteSource [Fragment $fid]\n")
          queue.enqueue((fid, dist(e), e.child))
        case e: BroadcastExchangeExec =>
          val fid = nextId; nextId += 1
          sb.append("  " * depth).append(s"RemoteSource [Fragment $fid, broadcast]\n")
          queue.enqueue((fid, "BROADCAST (replicated to every worker)", e.child))
        case other =>
          sb.append("  " * depth).append(other.nodeName).append('\n')
          other.children.foreach(walk(_, depth + 1))
      }
      walk(frag, 1)
    }
    sb.toString
  }

  /** The graft SQL surface's aggregate spellings — SHOW FUNCTIONS kind
    * metadata (kept beside the fromConf-style catalogs rather than
    * introspected: builders need typed args to construct, and this set
    * changes only when a new aggregate lands in sqlBuilders). */
  private val GraftAggregates = Set("geometric_mean", "bloom_build",
    "quantile_sketch_agg", "quantile_sketch_merge", "approx_distinct",
    "arbitrary")

  /** SHOW FUNCTIONS [LIKE 'pattern'] — Presto's TYPED function listing:
    * (function_name, function_type, source). Kind comes from the
    * registry's ExpressionInfo group for builtins (agg_funcs /
    * window_funcs / generator_funcs) and from the graft surface's own
    * catalog for graft functions; source separates the two so a client
    * can see exactly what this engine added over stock Spark. Pure
    * catalog metadata — nothing plans or executes. */
  private[graft] def showFunctions(spark: SparkSession,
      pattern: Option[String] = None): DataFrame = {
    val catalog = spark.sessionState.catalog
    val graftNames = GraftFunctions.sqlNames.toSet
    val names = catalog.listFunctions(catalog.getCurrentDatabase)
      .map(_._1.funcName).distinct
    val rows = names.sorted.map { name =>
      val isGraft = graftNames(name)
      val group =
        if (isGraft) if (GraftAggregates(name)) "agg_funcs" else ""
        else (try Option(catalog.lookupFunctionInfo(
          org.apache.spark.sql.catalyst.FunctionIdentifier(name)).getGroup)
        catch { case _: Exception => None }).getOrElse("")
      val kind = group match {
        case "agg_funcs"       => "aggregate"
        case "window_funcs"    => "window"
        case "generator_funcs" => "table"
        case _                 => "scalar"
      }
      (name, kind, if (isGraft) "graft" else "builtin")
    }
    import spark.implicits._
    val df = rows.toDF("function_name", "function_type", "source")
    pattern.map(p => df.filter(col("function_name")
      .like(p.toLowerCase(java.util.Locale.ROOT)))).getOrElse(df)
  }

  /** A graft statement run for its effect (PREPARE, SET SESSION, DELETE,
    * ...) or for a text report (EXPLAIN ANALYZE, EXPLAIN (TYPE
    * DISTRIBUTED)). `spark.sql` runs it eagerly, as any command. Its one
    * string row is the acknowledgement line, in column `result`, or the
    * report, in column `plan`, the name Spark's EXPLAIN uses. */
  private[graft] final case class GraftCommand(statement: String, column: String)(
      body: () => String) extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(AttributeReference(column, StringType)())
    override def run(spark: SparkSession): Seq[Row] = Seq(Row(body()))
    override protected def otherCopyArgs: Seq[AnyRef] = body :: Nil
  }

  /** The first words of graft's verbs: any other statement, every SELECT
    * and WITH among them, misses the table after this one test. */
  private val VerbWords = Set("ANALYZE", "DEALLOCATE", "DELETE", "DESCRIBE",
    "EXECUTE", "EXPLAIN", "PREPARE", "RESET", "SET", "SHOW")

  /** The verb table: the plan of a graft verb, matched on the statement's
    * code span ([[PrestoRewrite.codeSpan]]), or `None` for a statement
    * Spark's grammar reads (CREATE/DROP VIEW included, which Spark serves
    * natively through the session catalog). Reached only from
    * `functions.GraftParser`, which holds the session and its prepared
    * statements.
    * A rows verb gives the plan of the DataFrame its handler builds, so
    * results stay lazy and stream; EXECUTE binds its arguments here and
    * gives the plan of the bound template, which is read on the dialect
    * path only (a verb prepared as a template fails there, and `PREPARE
    * q FROM EXECUTE q` cannot recurse); effect and report verbs give a
    * [[GraftCommand]]. */
  private[graft] def verbPlan(parser: GraftParser, sqlText: String): Option[LogicalPlan] = {
    val stmt = PrestoRewrite.codeSpan(sqlText)
    if (!VerbWords(stmt.takeWhile(_.isLetter).toUpperCase(java.util.Locale.ROOT))) None
    else {
      val (spark, prepared) = (parser.session, parser.prepared)
      def lower(name: String) = name.toLowerCase(java.util.Locale.ROOT)
      def rows(df: DataFrame) = Some(df.queryExecution.logical)
      def effect(body: => String) = Some(GraftCommand(stmt, "result")(() => body))
      def report(body: => String) = Some(GraftCommand(stmt, "plan")(() => body))
      def template(verb: String, name: String): String = {
        if (name.contains(".")) throw new IllegalArgumentException(
          s"$verb: prepared-statement names are session-scoped and unqualified; got '$name'")
        Option(prepared.get(lower(name))).getOrElse(throw new IllegalArgumentException(
          s"$verb: no prepared statement named ${lower(name)} (PREPARE it first)"))
      }
      stmt match {
        case ExplainAnalyze(query) => report(explainAnalyze(spark, query))
        case ExplainTyped(mode, query) =>
          if (mode.equalsIgnoreCase("VALIDATE")) rows(explainValidate(spark, query))
          else if (mode.equalsIgnoreCase("DISTRIBUTED")) report(explainDistributed(spark, query))
          else rows(explainIo(spark, query))
        case Prepare(name, query) => effect {
          prepared.put(lower(name), query)
          s"PREPARE ${lower(name)}"
        }
        case Deallocate(name) => effect {
          if (prepared.remove(lower(name)) == null) throw new IllegalArgumentException(
            s"DEALLOCATE PREPARE: no prepared statement named ${lower(name)}")
          s"DEALLOCATE ${lower(name)}"
        }
        case Execute(name, usingArgs) =>
          Some(parser.dialect(bindParameters(template("EXECUTE", name),
            Option(usingArgs).map(splitArgs).getOrElse(Nil))))
        case ShowStats(mode, table) =>
          rows(showStats(spark, table, exact = "EXACT".equalsIgnoreCase(mode)))
        case Analyze(table) => effect {
          val t = lower(table)
          if (!Tables.all.contains(t)) throw new IllegalArgumentException(
            s"ANALYZE: unknown table $t (warehouse tables: ${Tables.all.mkString(", ")})")
          val dir = spark.conf.getOption("spark.graft.sfDir").getOrElse(
            throw new IllegalStateException("ANALYZE: session has no warehouse dir"))
          graft.plans.CboSupport.registerWithStats(spark, dir, Seq(t))
          s"ANALYZE $t -> catalog table ${graft.plans.CboSupport.tableName(t)} " +
            "(row count + column stats recorded; enable CBO to feed the planner)"
        }
        case Delete(table, whereCond) => effect {
          val n = deleteFrom(spark, table, Option(whereCond))
          s"DELETE $n row(s) from ${lower(table)}"
        }
        case SetSession(name, value) => effect {
          setSession(spark, name, value)
          s"SET SESSION ${lower(name)}"
        }
        case ResetSession(name) => effect {
          resetSession(spark, name)
          s"RESET SESSION ${lower(name)}"
        }
        case ShowSession() => rows(showSession(spark))
        case DescribeInput(name) =>
          val t = template("DESCRIBE INPUT", name)
          rows(describeInput(spark, parser.dialect(t), parser.dialect(nullBound(t))))
        case DescribeOutput(name) =>
          rows(describeOutput(spark, parser.dialect(nullBound(template("DESCRIBE OUTPUT", name)))))
        case ShowColumns(table) => rows(showColumns(spark, table))
        case ShowPartitions(table) => rows(showPartitions(spark, table))
        case ShowFunctions(pattern) => rows(showFunctions(spark, Option(pattern)))
        case _ => None
      }
    }
  }

  /** Run one statement and render what it gives: rows to `out` in
    * `format`, an acknowledgement to `err`, and wall time to `err`
    * (stderr, so csv/json stdout stays machine-clean — the reference CLI
    * reports elapsed per query the same way). A text report is free
    * text, so under csv/json it ALSO goes to stderr — stdout carries
    * machine-readable rows only, in every mode. The timing line prints
    * even when the statement throws (finally), so a csv/json consumer
    * can rely on exactly one timing line per statement. A failure while
    * rendering rows aborts an open transaction like a failure while
    * planning. */
  private[graft] def runStatement(spark: SparkSession, stmt: String,
                                  format: String, out: java.io.PrintStream,
                                  err: java.io.PrintStream,
                                  txn: TxnState = new TxnState): Unit = {
    val t0 = System.nanoTime()
    // every statement runs under a query_id job group: RUNNING row in
    // system.runtime.queries, stages attributable in .tasks, and
    // CALL system.runtime.kill_query(id) can cancel it live
    val queryId = graft.sources.GraftSystemCatalog.beginStatement(spark, stmt)
    try txn.run(stmt) {
      val df = spark.sql(stmt)
      df.queryExecution.commandExecuted match {
        case CommandResult(_, GraftCommand(_, "result"), _, rows) =>
          err.println(s"[graft-cli] ${rows.head.getString(0)}")
        case CommandResult(_, _: GraftCommand, _, rows) =>
          (if (format == "table") out else err).println(rows.head.getString(0))
        case _ => render(df, format, out)
      }
    }.foreach(line => err.println(s"[graft-cli] $line")) finally {
      graft.sources.GraftSystemCatalog.endStatement(spark, queryId)
      err.println(f"[graft-cli] ${(System.nanoTime() - t0) / 1e9}%.2fs")
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      sys.error("usage: GraftCli <sfDir> [--format table|csv|json] [-f script.sql | sql...]"))
    val (format, rest0) = try parseFormat(args) catch {
      case e: IllegalArgumentException =>
        System.err.println(e.getMessage)
        sys.exit(2)
    }
    // --catalog-dir flag, or the SPARK_GRAFT_CATALOG_DIR deployment env
    // (the reference's CATALOG_PATH directory, presto-mgr.py:14)
    val (catalogDirFlag, rest) = try parseCatalogDir(rest0) catch {
      case e: IllegalArgumentException =>
        System.err.println(e.getMessage)
        sys.exit(2)
    }
    val catalogDir = catalogDirFlag.orElse(sys.env.get("SPARK_GRAFT_CATALOG_DIR"))
    val statements = try statementsFrom(rest) catch {
      case e: IllegalArgumentException =>
        System.err.println(e.getMessage)
        sys.exit(2)
    }
    // when embedded in a JVM that already holds a session (tests, a
    // notebook), borrow it and leave it running; only stop what we started
    val preexisting = org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession).isDefined
    val spark = GraftSession.get(sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[*]"),
      extraConfs = sys.env.get("SPARK_GRAFT_WAREHOUSE")
        .map("spark.sql.warehouse.dir" -> _).toMap)
    open(spark, sfDir)
    catalogDir.foreach(d =>
      graft.sources.CatalogProperties.wireReporting(spark, d, System.err))
    // session transaction envelope (Presto semantics: statement errors
    // inside a block abort it; the envelope outlives the failed statement)
    val txn = new TxnState
    statements.foreach { stmt =>
      try runStatement(spark, stmt, format, System.out, System.err, txn)
      catch { case e: Exception =>
        System.err.println(s"[graft-cli] error: ${e.getMessage}")
      }
    }
    if (!preexisting) spark.stop()
  }

  /** The Presto-spelled SQL-text entries, by name: the statements a
    * Presto user pastes, served by the session parser's dialect rewrite
    * (ServerSpec also sends them over hive-jdbc). */
  private[graft] val prestoTexts: Map[String, String] = Map(
    // s22: literal Presto-SPELLED SQL through the front door (r16 verdict
    // task 2) — the reference hands its users a Presto prompt, and names
    // whose semantics all exist here must not fail on spelling. One
    // statement exercises the whole dialect-alias pack
    // (GraftFunctions.prestoDialect): approx_distinct, arbitrary,
    // json_extract_scalar, the url_extract_* family (incl. the PORT form
    // Spark's parse_url lacks), to_unixtime's fractional-seconds DOUBLE,
    // to_iso8601 / from_iso8601_timestamp / from_iso8601_date, strpos /
    // index / standard position(x IN y), truncate's round-toward-zero,
    // and the shared-name builtin log2. The URL column is constructed
    // in-query so the extraction oracle is closed-form.
    "s22_sql_presto_dialect" -> """
      WITH src AS (
        SELECT event_id, user_id, ts, value, props,
          'https://shard' || CAST(user_id % 4 AS VARCHAR(2)) ||
          '.example.com:' || CAST(8440 + user_id % 3 AS VARCHAR(4)) ||
          '/api/v' || CAST(event_id % 3 AS VARCHAR(2)) ||
          '/items?page=' || CAST(event_id % 7 AS VARCHAR(2)) ||
          '&lang=en#sec' || CAST(event_id % 5 AS VARCHAR(2)) AS url
        FROM events WHERE event_id % 97 = 0),
      agg AS (
        SELECT approx_distinct(user_id % 5) AS n_buckets,
               arbitrary('graft') AS arb_const
        FROM src)
      SELECT event_id,
        json_extract_scalar(props, '$.k') AS k_val,
        url_extract_protocol(url) AS proto,
        url_extract_host(url) AS host,
        url_extract_port(url) AS portv,
        url_extract_path(url) AS pathv,
        url_extract_query(url) AS queryv,
        url_extract_fragment(url) AS fragv,
        url_extract_parameter(url, 'page') AS pagev,
        to_unixtime(ts) AS unix_ts,
        to_iso8601(ts) AS iso_ts,
        CAST(from_iso8601_timestamp('2024-03-01T12:30:45') AS VARCHAR(19)) AS iso_rt,
        CAST(from_iso8601_date('2024-03-01') AS VARCHAR(10)) AS iso_d,
        strpos(url, CAST(event_id % 10 AS VARCHAR(2))) AS pos_digit,
        index(url, 'example') AS pos_example,
        CAST(position('/api/' IN url) AS BIGINT) AS pos_api,
        truncate(value) AS val_t0,
        truncate(value / 7, 2) AS val_t2,
        truncate(-value) AS val_tn,
        round(log2(1 + CAST(event_id % 1000 AS DOUBLE)), 4) AS lg,
        n_buckets, arb_const
      FROM src CROSS JOIN agg
      ORDER BY event_id""",
    // s24: the Presto DATETIME dialect through the front door —
    // date_diff('day', a, b) is the single most common idiom in real
    // Presto SQL (GraftFunctions.prestoDatetime): full-elapsed-unit
    // date_diff/date_add (ChronoUnit semantics, like Presto's Joda
    // periods), the ISO field extracts (day_of_week 1=Monday, week,
    // year_of_week, day_of_year), last_day_of_month, and the
    // shared-name builtin date_trunc proven in the same statement.
    // The join condition keeps lags non-negative so the oracle's
    // integer floor-division replay equals full-period counting.
    "s24_sql_presto_datetime" -> """
      SELECT o_orderkey, l_partkey,
        date_diff('day', o_orderdate, l_shipdate) AS lag_days,
        date_diff('hour', o_orderdate, l_shipdate) AS lag_hours,
        date_diff('second', o_orderdate, l_shipdate) AS lag_secs,
        date_format(date_add('day', 30, o_orderdate), 'yyyy-MM-dd HH:mm:ss') AS due_ts,
        day_of_week(o_orderdate) AS dow,
        day_of_year(o_orderdate) AS doy,
        week(o_orderdate) AS wk,
        year_of_week(o_orderdate) AS yow,
        CAST(last_day_of_month(o_orderdate) AS VARCHAR(10)) AS month_end,
        date_format(date_trunc('month', o_orderdate), 'yyyy-MM-dd') AS month_start
      FROM orders JOIN lineitem
        ON l_orderkey = o_orderkey AND l_shipdate >= o_orderdate
      WHERE o_orderkey % 501 = 0
      ORDER BY o_orderkey, l_partkey, lag_secs, l_extendedprice, l_quantity""",
    // s25: the generic TRY(...) + zip-UNNEST WITH ORDINALITY dialect
    // forms (r17 verdict task 2 — the two most common pasted-Presto
    // idioms still unserved). TRY rewrites the known bodies to Spark's
    // try_* family (unknown bodies refused loudly); UNNEST(a, b) zips
    // positionally with NULL padding (zip_with semantics) and a 1-based
    // BIGINT ordinality, expressed as LATERAL VIEW inline(zip_with(...))
    // — builtin higher-order functions, codegen end-to-end. qty's length
    // varies 1..3 against pri's fixed 2, so both padding directions and
    // the try_cast / try_divide / try_element_at NULL paths are all
    // exercised and oracled.
    "s25_sql_presto_try_unnest" -> """
      WITH src AS (
        SELECT o_orderkey,
          sequence(1, 1 + o_orderkey % 3) AS qty,
          split(o_orderpriority, '-') AS pri
        FROM orders WHERE o_orderkey % 301 = 0)
      SELECT o_orderkey, x, y, ord,
        TRY(x / (o_orderkey % 2)) AS safe_div,
        TRY(CAST(y AS INT)) AS y_int,
        TRY(element_at(qty, 3)) AS third
      FROM src CROSS JOIN UNNEST(qty, pri) WITH ORDINALITY AS t(x, y, ord)
      ORDER BY o_orderkey, ord""",
    // s26: the Presto LITERAL spellings Spark rejects outright — bare
    // CAST(x AS VARCHAR), ARRAY[...] literals (with Presto's 1-BASED
    // subscript preserved via element_at), MAP(ARRAY[k], ARRAY[v]) →
    // map_from_arrays, cardinality over a rewritten literal. Every
    // rewrite fires only on invalid-Spark text, so no legal query can
    // silently change meaning.
    "s26_sql_presto_literals" -> """
      SELECT o_orderkey,
        CAST(o_orderkey % 7 AS VARCHAR) AS key_str,
        ARRAY[o_orderkey % 5, o_orderkey % 3, 99][2] AS second_elem,
        element_at(MAP(ARRAY['lo', 'hi'],
                       ARRAY[o_totalprice * 0.5, o_totalprice]), 'hi') AS hi_val,
        cardinality(ARRAY[1, 2, 3]) AS arr_len
      FROM orders WHERE o_orderkey % 203 = 0
      ORDER BY o_orderkey""",
    // s27: the remaining Presto UNNEST spellings + bare subscripts (r19
    // — r18 verdict task 2 and ADVICE item 3). The comma-join form
    // `FROM t, UNNEST(a) AS u(x)` rewrites to the same LATERAL VIEW as
    // the explicit CROSS JOIN; map-UNNEST(m) AS t(k, v) becomes
    // LATERAL VIEW explode(m) (one row per entry); and every bare
    // subscript — qty[...] on an array, m['lo'] on a map — rewrites to
    // element_at, landing Presto's 1-BASED array indexing and key lookup
    // instead of Spark's silent 0-based reading. All builtin generators
    // and codegen'd lookups: the arrays/maps never leave their scan task.
    "s27_sql_presto_unnest2" -> """
      WITH src AS (
        SELECT o_orderkey,
          sequence(1, 1 + o_orderkey % 3) AS qty,
          MAP(ARRAY['lo', 'hi'], ARRAY[o_totalprice * 0.5, o_totalprice]) AS m
        FROM orders WHERE o_orderkey % 307 = 0)
      SELECT o_orderkey, x, k, v,
        qty[cardinality(qty)] AS last_qty,
        m['lo'] AS lo_val
      FROM src, UNNEST(qty) AS t(x), UNNEST(m) AS mt(k, v)
      ORDER BY o_orderkey, x, k"""
  )

  /** Inventory entries exercised THROUGH the SQL-text path (same driver
    * oracle discipline as the DataFrame entries): proves a reference user
    * can point SQL at this engine and get verified answers. Every
    * statement an entry issues as text goes through the session parser,
    * as a CLI statement does. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    Map[String, (SparkSession, String) => DataFrame](
    "s01_sql_agg" -> ((s, d) => sql(s, d, """
      SELECT l_returnflag, l_linestatus,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        COUNT(*) AS n
      FROM lineitem
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus""")),
    "s02_sql_join" -> ((s, d) => sql(s, d, """
      SELECT n_name, COUNT(*) AS n_cust
      FROM customer JOIN nation ON c_nationkey = n_nationkey
      GROUP BY n_name ORDER BY n_name""")),
    "s03_sql_window" -> ((s, d) => sql(s, d, """
      SELECT o_custkey, o_orderkey,
        row_number() OVER (PARTITION BY o_custkey
                           ORDER BY o_orderdate, o_orderkey) AS rn
      FROM orders WHERE o_custkey < 50
      ORDER BY o_custkey, rn""")),
    "s04_sql_cte" -> ((s, d) => sql(s, d, """
      WITH spend AS (
        SELECT o_custkey,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
          COUNT(*) AS n_orders
        FROM orders GROUP BY o_custkey HAVING COUNT(*) >= 5)
      SELECT c_custkey, c_name, total, n_orders
      FROM spend JOIN customer ON c_custkey = o_custkey
      ORDER BY total DESC, c_custkey LIMIT 25""")),
    "s05_sql_graft_fn" -> ((s, d) => sql(s, d, """
      SELECT a.vec_id,
        -- + 0.0 folds IEEE negative zero to +0.0: a near-zero cosine can
        -- round to -0.0 in one engine and 0.0 in the other (equal under
        -- ==, different in any text rendering — r15 sf1.0 gate)
        round(cosine_sim(a.embedding, b.embedding), 4) + 0.0 AS sim_next
      FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
      ORDER BY a.vec_id""")),
    "s06_sql_native_agg" -> ((s, d) => sql(s, d, """
      SELECT l_returnflag,
        round(geometric_mean(l_quantity), 4) AS geo_qty,
        COUNT(*) AS n
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),
    // WITH RECURSIVE (hierarchy walk) — Presto serves recursive CTEs as
    // iterated self-joins; Spark's UnionLoop executes each level as one
    // distributed join against the previous level's frame only, so a
    // 100 TB dimension hierarchy iterates O(depth) bounded jobs, never a
    // driver loop. Synthetic binary-heap parent: parent(n) = ⌊(n−1)/2⌋.
    "s07_sql_recursive" -> ((s, d) => sql(s, d, """
      WITH RECURSIVE tree AS (
        SELECT n_nationkey, 0 AS depth, CAST(n_nationkey AS STRING) AS path
        FROM nation WHERE n_nationkey = 0
        UNION ALL
        SELECT n.n_nationkey, t.depth + 1 AS depth,
          concat(t.path, '>', CAST(n.n_nationkey AS STRING)) AS path
        FROM nation n JOIN tree t
          ON CAST(floor((n.n_nationkey - 1) / 2.0) AS BIGINT) = t.n_nationkey
        WHERE n.n_nationkey > 0)
      SELECT t.n_nationkey, n.n_name, t.depth, t.path
      FROM tree t JOIN nation n ON n.n_nationkey = t.n_nationkey
      ORDER BY t.n_nationkey""")),
    // LATERAL correlated subquery (top-2-per-outer-row) — Catalyst
    // decorrelates the per-row subquery into one join + ranked window
    // (DecorrelateInnerQuery), so the "for each row run a query" shape
    // never executes per-row at any scale.
    "s08_sql_lateral" -> ((s, d) => sql(s, d, """
      SELECT r.r_name, l.n_name, l.n_cust
      FROM region r,
      LATERAL (
        SELECT n_name, COUNT(*) AS n_cust
        FROM nation n JOIN customer c ON c.c_nationkey = n.n_nationkey
        WHERE n.n_regionkey = r.r_regionkey
        GROUP BY n_name
        ORDER BY n_cust DESC, n_name
        LIMIT 2) l
      ORDER BY r.r_name, l.n_cust DESC, l.n_name""")),
    // The q115 mergeable-quantile topology as PURE SQL TEXT through the
    // graft-registered sketch aggregates (Presto's qdigest_agg / merge /
    // value_at_quantile surface, README.md:90-96 `presto:test>` flow):
    // leaf sketches via quantile_sketch_agg over the shared snapped edge
    // table (bin decision = the same codegen edge_bin the kernel uses),
    // rollup via quantile_sketch_merge over sketch rows only, quantile
    // values via sketch_quantile_bin + element_at. Same oracle
    // discipline as q115 (shared BY REFERENCE below).
    "s09_sql_sketch_agg" -> ((s, d) => sql(s, d, """
      WITH base AS (
        SELECT l_returnflag AS g1, l_linestatus AS g2,
          CAST(l_extendedprice AS DOUBLE) AS x
        FROM lineitem),
      bounds AS (
        SELECT lo, hi,
          CASE WHEN hi = lo THEN array(lo)
               WHEN lo > 0 THEN transform(sequence(1, 256), j ->
                 round(exp(ln(lo) + (CAST(j AS DOUBLE) - 1.0D)
                   * (ln(hi) - ln(lo)) / 256), 6))
               ELSE transform(sequence(1, 256), j ->
                 round(lo + (CAST(j AS DOUBLE) - 1.0D) * (hi - lo) / 256, 6))
          END AS edges
        FROM (SELECT min(x) AS lo, max(x) AS hi FROM base)),
      binned AS (
        SELECT g1, g2, edge_bin(edges, x) AS bin
        FROM base CROSS JOIN bounds),
      leaf AS (
        SELECT g1, g2, quantile_sketch_agg(bin) AS sk
        FROM binned GROUP BY g1, g2),
      merged AS (
        SELECT g1, 'ALL' AS g2, quantile_sketch_merge(sk) AS sk
        FROM leaf GROUP BY g1),
      both_l AS (
        SELECT 'leaf' AS level, g1, g2, sk FROM leaf
        UNION ALL
        SELECT 'merged' AS level, g1, g2, sk FROM merged)
      SELECT level, g1 AS l_returnflag, g2 AS l_linestatus,
        aggregate(sk, 0L, (a, x) -> a + x) AS n,
        element_at(edges, sketch_quantile_bin(sk, 0.5D)) AS p50,
        element_at(edges, sketch_quantile_bin(sk, 0.95D)) AS p95,
        element_at(edges, sketch_quantile_bin(sk, 0.99D)) AS p99
      FROM both_l CROSS JOIN bounds
      ORDER BY level, l_returnflag, l_linestatus""")),
    // Presto's approx_set / merge / cardinality surface (the
    // pre-aggregated-cube pattern: persist small leaf sketches, roll up
    // without re-touching the fact table) as pure SQL text via Spark's
    // Apache DataSketches HLL builtins: hll_sketch_agg at the leaf,
    // hll_union_agg at the rollup, hll_sketch_estimate to read — the
    // merge level touches ONLY sketch rows (bytes per group, constant
    // size), never the orders scan again. The sketch is engine-defined,
    // so like q09/q104/q106 this entry is rows-only by design;
    // SketchSqlSpec bounds every estimate against the exact distinct
    // count (HLL lgK=12 standard error ~1.6%) and pins leaf-vs-rollup
    // consistency.
    "s10_sql_hll" -> ((s, d) => sql(s, d, """
      WITH leaf AS (
        SELECT o_orderstatus, year(o_orderdate) AS yr,
          hll_sketch_agg(o_custkey, 12) AS sk
        FROM orders GROUP BY o_orderstatus, year(o_orderdate)),
      merged AS (
        SELECT o_orderstatus, hll_union_agg(sk) AS sk
        FROM leaf GROUP BY o_orderstatus)
      SELECT level, o_orderstatus, yr, est FROM (
        SELECT 'leaf' AS level, o_orderstatus, yr,
          hll_sketch_estimate(sk) AS est FROM leaf
        UNION ALL
        SELECT 'merged' AS level, o_orderstatus, CAST(NULL AS INT) AS yr,
          hll_sketch_estimate(sk) AS est FROM merged)
      ORDER BY level, o_orderstatus, yr""")),
    // s11: canonical TPC-H Q3 text verbatim through the front door — the
    // reference's core UX is Presto SQL over these tables (README.md:96);
    // this proves the multi-join + agg + top-n shape arrives as SQL TEXT
    // and still plans the q129 topology (same oracle BY REFERENCE).
    "s11_sql_tpch" -> ((s, d) => sql(s, d, """
      SELECT l_orderkey,
        CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6)))
          AS DOUBLE) AS revenue,
        date_format(o_orderdate, 'yyyy-MM-dd') AS order_date,
        o_orderpriority
      FROM customer, orders, lineitem
      WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
        AND l_orderkey = o_orderkey
        AND o_orderdate < TIMESTAMP '1998-06-01'
        AND l_shipdate > TIMESTAMP '1998-06-01'
      GROUP BY l_orderkey, o_orderdate, o_orderpriority
      ORDER BY revenue DESC, order_date, l_orderkey LIMIT 10""")),
    // s12: Presto-CLI prepared statements (PREPARE q FROM ... ? ... /
    // EXECUTE q USING ...) — the parameterized-dashboard UX every BI
    // tool drives through the reference's CLI. The ?s bind through the
    // verb table's splice path, so this entry breaks if the binder
    // mis-handles quoting, arity, or placement.
    "s12_sql_prepared" -> ((s, d) => {
      val sess = open(s, d)
      sess.sql("""PREPARE revenue_q FROM
         SELECT l_returnflag,
           CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,6)))
             AS DOUBLE) AS revenue,
           COUNT(*) AS n
         FROM lineitem
         WHERE l_discount BETWEEN ? AND ? AND l_quantity < ?
           AND 'quoted?' <> 'never'
         GROUP BY l_returnflag ORDER BY l_returnflag""")
      sess.sql("EXECUTE revenue_q USING 0.05, 0.07, 24.0")
    }),
    // s13: views through the front door (Presto CREATE VIEW; the
    // reference UX is arbitrary DDL over `presto-mgr.py connect`).
    // The view is DEFINED in one statement and CONSUMED in a later one
    // — catalog round trip, not mere inlining.
    "s13_sql_view" -> ((s, d) => {
      val sess = open(s, d)
      sess.sql("""CREATE OR REPLACE TEMPORARY VIEW s13_nation_spend AS
        SELECT n_name, o_custkey, o_totalprice
        FROM orders JOIN customer ON c_custkey = o_custkey
                    JOIN nation ON n_nationkey = c_nationkey""")
      sess.sql("""SELECT n_name,
          COUNT(*) AS n_orders,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM s13_nation_spend GROUP BY n_name ORDER BY n_name""")
    }),
    // s14: Presto SHOW STATS FOR table — the planner-statistics surface
    // (NDV / nulls fraction / low-high / varchar data size per
    // column + the table row_count). ONE aggregate pass over the table,
    // column-count fan-out only. EXACT here because the oracle replays
    // countDistinct; the CLI default (plain SHOW STATS FOR t) serves HLL
    // estimates, like Presto's planner stats.
    "s14_sql_show_stats" -> ((s, d) => sql(s, d, "SHOW STATS EXACT FOR orders")),
    // s15: Presto session properties (SET SESSION / SHOW SESSION /
    // RESET SESSION — the per-session tuning surface; Presto docs).
    // The SETs run the validation + conf-write path; the SHOW SESSION
    // snapshot reads values back from the LIVE Spark conf, so a SET that
    // silently failed to land forks the hash.
    // RESET SESSION adaptive_execution exercises the default-restore
    // path in the same script.
    "s15_sql_session" -> ((s, d) => sessionEntry(s, d, Seq(
      "SET SESSION hash_partition_count = 8",
      "SET SESSION join_distribution_type = 'PARTITIONED'",
      "SET SESSION time_zone_id = 'UTC'",
      "SET SESSION query_max_memory_per_task = '128MB'",
      // 2000 > the built-in 1000 on purpose: the residue in the shared
      // Verify session is provably inert at every gate SF (a LOOSER cap
      // only touches buckets sized 1001..2000, which first exist at
      // sf10-scale corpora), while the snapshot still pins the SET path
      "SET SESSION dedup_max_bucket = 2000",
      "SET SESSION adaptive_execution = false",
      "RESET SESSION adaptive_execution"))),
    // s16: EXECUTE IMMEDIATE — dynamic SQL with parameter markers, the
    // other half of the prepared-execution surface beside s12's
    // PREPARE/EXECUTE (there the statement is a session-named template;
    // here the statement TEXT arrives as a value with USING-bound
    // parameters — Presto clients that template SQL app-side land on
    // exactly this shape). Served natively by the session's sql() path
    // (Spark 4 front door), so quoting/binding defects fork the hash.
    "s16_sql_execute_immediate" -> ((s, d) => open(s, d).sql(
      """EXECUTE IMMEDIATE
           'SELECT o_orderpriority,
                   COUNT(*) AS n,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                     AS DOUBLE) AS total
            FROM orders
            WHERE o_orderstatus = ? AND o_totalprice >= ?
            GROUP BY o_orderpriority ORDER BY o_orderpriority'
         USING 'F', 1000.0""")),
    // s17: DELETE FROM through the front door (Presto 0.248 DELETE on
    // writable connectors) — CTAS a managed copy, run the DELETE
    // (anti-filter rewrite + catalog swap), then aggregate the
    // survivors. The oracle replays the survivor set directly from the
    // source table, so a rewrite that drops the wrong rows (predicate
    // NULL semantics, the swap losing files) forks the hash.
    "s17_sql_delete" -> ((s, d) => {
      val sess = open(s, d)
      sess.sql("DROP TABLE IF EXISTS s17_dml_del")
      dropStaleLocation(sess, "s17_dml_del")
      sess.sql("""CREATE TABLE s17_dml_del AS
        SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
        FROM lineitem""")
      sess.sql("DELETE FROM s17_dml_del WHERE l_returnflag = 'R' AND l_quantity > 25")
      sess.sql("""SELECT l_returnflag, COUNT(*) AS n_rows,
          CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        FROM s17_dml_del GROUP BY l_returnflag ORDER BY l_returnflag""")
    }),
    // s18: DESCRIBE INPUT / DESCRIBE OUTPUT — Presto 0.248's prepared-
    // statement metadata surface, the half of s12's PREPARE/EXECUTE that
    // client libraries call to type parameter markers and result sets
    // BEFORE fetching. PREPARE fills a session store; both DESCRIBEs
    // run against it. One frame:
    // parameter rows (position + inferred type, `unknown` where no
    // column context exists) then result rows (ordinal, name, type).
    "s18_sql_describe_io" -> ((s, d) => describeIoEntry(s, d)),
    // s19: SHOW COLUMNS FROM t — the Presto CLI staple (DESCRIBE t is
    // its Presto alias), served TYPED via the DESCRIBE relation.
    "s19_sql_show_columns" -> ((s, d) => {
      open(s, d)
      // part, not orders: orders' timestamp column reads as timestamp_ntz
      // from the driver's parquet but as (ltz) timestamp from
      // GenData-written decade data, which a pinned oracle cannot span —
      // part's types are layout-stable (bigint/int/string/double)
      showColumns(s, "part").orderBy(col("column_name"))
    }),
    // s20: the Presto text/digest stragglers through the SQL front door —
    // word_stem (Porter 1980), user-facing ngrams() (both branches:
    // sliding windows and the n >= length whole-array convention),
    // crc32/xxhash64 (Spark builtins, already SQL surface) and
    // hmac_sha256. The word list is FIXED (planesValues discipline) and
    // spans the Porter rule tables (plurals, 1b restoration, -ational/
    // -fulness/-biliti step 2, step 3/4 strips, 5a/5b); the oracle pins
    // expected values — crc32 and hmac_sha256 are independently
    // checkable against zlib.crc32 / RFC 2104 implementations.
    "s20_sql_text_functions" -> ((s, d) => sql(s, d, """
      SELECT w,
        word_stem(w) AS stem,
        crc32(encode(w, 'utf-8')) AS crc,
        xxhash64(w) AS xx,
        lower(hex(hmac_sha256(encode(w, 'utf-8'), encode('graft', 'utf-8')))) AS hmac,
        array_join(transform(ngrams(split('the quick brown fox', ' '), 2),
          g -> array_join(g, ' ')), '|') AS grams2,
        array_join(transform(ngrams(split(w, ' '), 5),
          g -> array_join(g, ' ')), '|') AS grams_whole
      FROM VALUES ('caresses'), ('ponies'), ('ties'), ('caress'), ('cats'),
        ('feed'), ('agreed'), ('plastered'), ('motoring'), ('sing'),
        ('hopping'), ('tanned'), ('falling'), ('hissing'), ('failing'),
        ('filing'), ('happy'), ('sky'), ('relational'), ('conditional'),
        ('rational'), ('digitizer'), ('operator'), ('hopefulness'),
        ('callousness'), ('triplicate'), ('formative'), ('formalize'),
        ('electrical'), ('hopeful'), ('goodness'), ('revival'),
        ('allowance'), ('inference'), ('adjustable'), ('defensible'),
        ('replacement'), ('adoption'), ('communism'), ('activate'),
        ('effective'), ('probate'), ('rate'), ('cease'), ('controlling')
        AS t(w)
      ORDER BY w""")),
    // s21: SHOW PARTITIONS FROM t — the Presto/Hive-connector staple for
    // date-partitioned corpora. CTAS a managed table PARTITIONED BY the
    // order year (the write lays out one directory per year — the layout
    // a 100 TB corpus scan prunes on), then run SHOW PARTITIONS: the
    // typed listing comes from catalog METADATA (partition paths), no
    // data files open. The oracle replays
    // the distinct years from the source table — a partition the write
    // dropped or the listing missed forks the hash. The companion
    // partition-PRUNING evidence (PartitionFilters in the scan,
    // matched-partitions-only) is pinned in PlanSpec.
    "s21_sql_show_partitions" -> ((s, d) => {
      val sess = open(s, d)
      sess.sql("DROP TABLE IF EXISTS s21_part_orders")
      dropStaleLocation(sess, "s21_part_orders")
      sess.sql("""CREATE TABLE s21_part_orders PARTITIONED BY (o_year) AS
        SELECT o_orderkey, o_totalprice,
          CAST(year(o_orderdate) AS INT) AS o_year
        FROM orders""")
      sess.sql("SHOW PARTITIONS FROM s21_part_orders")
        .orderBy(col("o_year"))
    })
  ) ++ prestoTexts.map { case (n, t) => n -> ((s, d) => sql(s, d, t)) }

  /** s18: PREPARE, then DESCRIBE INPUT and DESCRIBE OUTPUT against the
    * session's store, unioned with a kind discriminator. The statement
    * exercises all three inference shapes: a comparison-adjacent marker
    * (typed from the column), an IN-list marker, and a marker with no
    * column context (reports `unknown`). */
  private[graft] def describeIoEntry(spark: SparkSession, sfDir: String): DataFrame = {
    val sess = open(spark, sfDir)
    sess.sql("""PREPARE sq FROM
       SELECT o_orderpriority,
         COUNT(*) AS n,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
       FROM orders
       WHERE o_orderstatus = ? AND o_totalprice >= ?
         AND o_custkey IN (?) AND coalesce(NULL, ?) IS NULL
       GROUP BY o_orderpriority ORDER BY o_orderpriority""")
    import org.apache.spark.sql.functions.lit
    sess.sql("DESCRIBE INPUT sq")
      .select(lit("input").as("kind"), col("position").as("ord"),
        lit("?").as("name"), col("type"))
      .unionAll(sess.sql("DESCRIBE OUTPUT sq")
        .select(lit("output").as("kind"), col("ordinal").as("ord"),
          col("column_name").as("name"), col("type")))
      .orderBy(col("kind"), col("ord"))
  }

  /** DuckDB oracles for the SQL-text entries. */
  val oracles: Map[String, String] = Map(
    // s27: DuckDB replays the array unnest with its own unnest(), the
    // map unnest as a closed-form two-key cross join (the map is built
    // in-query from 'lo'/'hi', so the k/v rows are derivable), the
    // 1-based array subscript as DuckDB's native 1-based list indexing,
    // and the map-key lookup closed-form
    "s27_sql_presto_unnest2" -> """
      WITH src AS (
        SELECT o_orderkey,
          generate_series(1, 1 + o_orderkey % 3) AS qty,
          o_totalprice AS tp
        FROM orders WHERE o_orderkey % 307 = 0),
      ex AS (
        SELECT o_orderkey, qty, tp, unnest(qty) AS x FROM src)
      SELECT e.o_orderkey, e.x, kv.k,
        CASE kv.k WHEN 'lo' THEN e.tp * 0.5 ELSE e.tp END AS v,
        e.qty[len(e.qty)] AS last_qty,
        e.tp * 0.5 AS lo_val
      FROM ex e CROSS JOIN (SELECT unnest(['lo', 'hi']) AS k) kv
      ORDER BY o_orderkey, x, k""",
    // s26: every projected value replays closed-form (the s22 discipline)
    // — the literal array's 1-based [2] is o_orderkey % 3, the map's
    // 'hi' value is o_totalprice, the literal's cardinality is 3
    "s26_sql_presto_literals" -> """
      SELECT o_orderkey,
        CAST(o_orderkey % 7 AS VARCHAR) AS key_str,
        o_orderkey % 3 AS second_elem,
        o_totalprice AS hi_val,
        CAST(3 AS INTEGER) AS arr_len
      FROM orders WHERE o_orderkey % 203 = 0
      ORDER BY o_orderkey""",
    // s25: DuckDB has no zip-UNNEST either — the replay expands an
    // explicit 1..max(len) ordinality (generate_series) and indexes both
    // lists (out-of-range list indexing is NULL in DuckDB, matching
    // zip_with's padding); TRY bodies replay as TRY_CAST / NULLIF
    // division / plain out-of-range indexing
    "s25_sql_presto_try_unnest" -> """
      WITH src AS (
        SELECT o_orderkey,
          generate_series(1, 1 + o_orderkey % 3) AS qty,
          string_split(o_orderpriority, '-') AS pri
        FROM orders WHERE o_orderkey % 301 = 0),
      ex AS (
        SELECT o_orderkey, qty, pri,
          unnest(generate_series(1, greatest(len(qty), len(pri)))) AS ord
        FROM src)
      SELECT o_orderkey,
        qty[ord] AS x,
        pri[ord] AS y,
        ord,
        qty[ord] / NULLIF(o_orderkey % 2, 0) AS safe_div,
        TRY_CAST(pri[ord] AS INTEGER) AS y_int,
        qty[3] AS third
      FROM ex
      ORDER BY o_orderkey, ord""",
    // s24: full-elapsed-unit diffs replay as integer floor division of
    // the microsecond delta (non-negative by the join condition, where
    // floor == Presto/ChronoUnit truncation); the ISO extracts replay
    // as DuckDB's isodow / dayofyear / weekofyear / isoyear
    "s24_sql_presto_datetime" -> """
      SELECT o_orderkey, l_partkey,
        (epoch_us(l_shipdate) - epoch_us(o_orderdate)) // 86400000000 AS lag_days,
        (epoch_us(l_shipdate) - epoch_us(o_orderdate)) // 3600000000 AS lag_hours,
        (epoch_us(l_shipdate) - epoch_us(o_orderdate)) // 1000000 AS lag_secs,
        strftime(o_orderdate + INTERVAL 30 DAY, '%Y-%m-%d %H:%M:%S') AS due_ts,
        isodow(o_orderdate) AS dow,
        CAST(dayofyear(o_orderdate) AS BIGINT) AS doy,
        CAST(weekofyear(o_orderdate) AS BIGINT) AS wk,
        CAST(isoyear(o_orderdate) AS BIGINT) AS yow,
        CAST(CAST(last_day(o_orderdate) AS DATE) AS VARCHAR) AS month_end,
        strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start
      FROM orders JOIN lineitem
        ON l_orderkey = o_orderkey AND l_shipdate >= o_orderdate
      WHERE o_orderkey % 501 = 0
      ORDER BY o_orderkey, l_partkey, lag_secs, l_extendedprice, l_quantity""",
    // s22: the URL is constructed in-query, so every extraction replays
    // closed-form from the same arithmetic; approx_distinct over 5
    // residues is deterministic and SF-independent (HLL++ linear-counting
    // regime rounds to the exact 5 — the same fixed register pattern at
    // every SF because the INPUT VALUE SET {0..4} is), so COUNT(DISTINCT)
    // replays it; to_unixtime via epoch_us/1e6 keeps the fractional
    // seconds bit-exact; truncate replays as trunc (sign·floor(|x|·10ⁿ)
    // ≡ toward-zero, and |x|·10ⁿ ≡ |x·10ⁿ| in IEEE)
    "s22_sql_presto_dialect" -> """
      WITH src AS (
        SELECT event_id, user_id, ts, value, props,
          'https://shard' || CAST(user_id % 4 AS VARCHAR) ||
          '.example.com:' || CAST(8440 + user_id % 3 AS VARCHAR) ||
          '/api/v' || CAST(event_id % 3 AS VARCHAR) ||
          '/items?page=' || CAST(event_id % 7 AS VARCHAR) ||
          '&lang=en#sec' || CAST(event_id % 5 AS VARCHAR) AS url
        FROM events WHERE event_id % 97 = 0),
      agg AS (
        SELECT CAST(COUNT(DISTINCT user_id % 5) AS BIGINT) AS n_buckets,
               'graft' AS arb_const
        FROM src)
      SELECT event_id,
        regexp_extract(props, '"k": ([0-9]+)', 1) AS k_val,
        'https' AS proto,
        'shard' || CAST(user_id % 4 AS VARCHAR) || '.example.com' AS host,
        CAST(8440 + user_id % 3 AS BIGINT) AS portv,
        '/api/v' || CAST(event_id % 3 AS VARCHAR) || '/items' AS pathv,
        'page=' || CAST(event_id % 7 AS VARCHAR) || '&lang=en' AS queryv,
        'sec' || CAST(event_id % 5 AS VARCHAR) AS fragv,
        CAST(event_id % 7 AS VARCHAR) AS pagev,
        CAST(epoch_us(ts) AS DOUBLE) / 1000000.0 AS unix_ts,
        strftime(ts, '%Y-%m-%dT%H:%M:%S.%g') AS iso_ts,
        '2024-03-01 12:30:45' AS iso_rt,
        '2024-03-01' AS iso_d,
        CAST(strpos(url, CAST(event_id % 10 AS VARCHAR)) AS BIGINT) AS pos_digit,
        CAST(strpos(url, 'example') AS BIGINT) AS pos_example,
        CAST(strpos(url, '/api/') AS BIGINT) AS pos_api,
        trunc(value) AS val_t0,
        trunc((value / 7) * 100) / 100 AS val_t2,
        trunc(-value) AS val_tn,
        round(log2(1 + CAST(event_id % 1000 AS DOUBLE)), 4) AS lg,
        n_buckets, arb_const
      FROM src CROSS JOIN agg
      ORDER BY event_id""",
    // s21: the partition listing IS the distinct partition-key set of
    // the data the CTAS wrote — replay it from the source table
    "s21_sql_show_partitions" -> """
      SELECT DISTINCT CAST(year(o_orderdate) AS INTEGER) AS o_year
      FROM orders ORDER BY o_year""",
    // s17: survivors of the DELETE, replayed from the source
    // table (NOT-TRUE predicate semantics: WHERE-null rows survive)
    "s17_sql_delete" -> """
      SELECT l_returnflag, COUNT(*) AS n_rows,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      FROM lineitem
      WHERE NOT coalesce(l_returnflag = 'R' AND l_quantity > 25, false)
      GROUP BY l_returnflag ORDER BY l_returnflag""",
    // s18: the prepared statement is FIXED, so its parameter and
    // result-set metadata are constants — the oracle pins them as VALUES
    // (the planesValues discipline): marker types read from the orders
    // schema, the no-context marker pinned `unknown`, result types from
    // the SELECT list's coercions.
    "s18_sql_describe_io" -> """
      SELECT * FROM (VALUES
        ('input', 1, '?', 'string'),
        ('input', 2, '?', 'double'),
        ('input', 3, '?', 'bigint'),
        ('input', 4, '?', 'unknown'),
        ('output', 1, 'o_orderpriority', 'string'),
        ('output', 2, 'n', 'bigint'),
        ('output', 3, 'total', 'double'))
        AS t(kind, ord, name, type)
      ORDER BY kind, ord""",
    // s19: part's typed column listing as VALUES — the parquet schema is
    // the testdata contract, so the pin doubles as a schema tripwire
    // (part chosen over orders: its types are identical across the
    // driver's single-file parquet and GenData's decade directories).
    "s19_sql_show_columns" -> """
      SELECT * FROM (VALUES
        ('p_brand', 'string'),
        ('p_name', 'string'),
        ('p_partkey', 'bigint'),
        ('p_retailprice', 'double'),
        ('p_size', 'int'),
        ('p_type', 'string'))
        AS t(column_name, data_type)
      ORDER BY column_name""",
    // s20: the statement's word list is fixed, so every function value is
    // a pinned constant (crc32 independently verified against zlib.crc32,
    // hmac_sha256 against RFC 2104 HMAC-SHA256 — both re-checked at pin
    // time); the two ngrams columns are constants of the fixed phrase.
    "s20_sql_text_functions" -> """
      SELECT w, stem, crc, xx, hmac,
        'the quick|quick brown|brown fox' AS grams2,
        w AS grams_whole
      FROM (VALUES
        ('activate', 'activ', 3060139181, -4905616413729154229, '3f9ee7f04d6a252e1bd9b843893a4051e9de9012763a711a850f1e3a8837d21b'),
        ('adjustable', 'adjust', 2665911131, 3639606311575500972, 'e2d75a041ad764c39b6ae73eabec0a8495bab339784ea4800fd92ec19c5a966e'),
        ('adoption', 'adopt', 3990795945, -5599912534188403973, '128067f4683063bb0e7eeac462e75e79d1606031c4be34e74cab8fc0bf77e350'),
        ('agreed', 'agre', 2215087486, 4800545526062416865, 'caccfba8dd4a001b6c0b589e31f30d46ddab4e8733bf8d4fb8628d4868de3eba'),
        ('allowance', 'allow', 1724401795, -3298048230462173936, '3c79e1dcf4fe12e27ca23e54ce227dbe406751197f25e74c11697aa8c706faaf'),
        ('callousness', 'callous', 1629442294, 8720133159269623174, '765ae474e8423c4c5bef33c5dd9a20d6230d42e3037c7e73e2abd011f9cf566f'),
        ('caress', 'caress', 3653560773, 4891967992403642794, '980e2f25dbb1beb16956c9b202f916ccf8a8879d77a9f86f7e3b2d1cd308bc82'),
        ('caresses', 'caress', 4278455688, 8194662454011410892, '098249df2c21c825c76fe70dd996942f3e1cc0b6afce70da5c46b0f923612287'),
        ('cats', 'cat', 3281894034, 8830729755645695571, 'b7aedef800cea8f535f6f9dafc5f74bb44dcb96fd5654c53115a3861dc094b2f'),
        ('cease', 'ceas', 1687675716, -9210914579439899048, 'f1b2df584dbcd95325e880b89ac4919e9ce27dbb9c72aafa6a6981c1cf57069c'),
        ('communism', 'commun', 1325073033, 5606524687469154437, '60f4ad5aa2ae196bf69d4d00e76a904b70438a362dd6b1cd45a8ca76c3caf780'),
        ('conditional', 'condit', 1091358568, 2338620843827730038, 'be51fc03a54739bf5bb5e089ca3d00105236c047c2ab6262bba9d7b1c8cb7dae'),
        ('controlling', 'control', 4264507251, -6765401016708352018, 'a7e32b99de312bd2341935c8ca52cb2f49cc19d4aa96964371319b96132f5a69'),
        ('defensible', 'defens', 2535006311, 868598823775215374, 'd3815830087cbe96bf73f3e299d75076e8e91363e0bd2ea5e5b419e6b9594078'),
        ('digitizer', 'digit', 4233351069, -123129200223760828, 'bd735be7a91c7969bab70eb10ee8b75494af51fadb3a9f660fc5cf255ef0361d'),
        ('effective', 'effect', 1867652881, -1144660075353436173, '5aec4c9f06ef8b2a8511f64f2d3f18982b90e7bf36e6a4ed36b1a4fc5c5aade4'),
        ('electrical', 'electr', 1807379272, -6570125295465218520, 'b02ba22e8a91134d22624c385f36fb2f0dee11244c0b6adc3b472a5f42c9a897'),
        ('failing', 'fail', 1021207972, 8695560213730640627, 'bc89592cf14d586e73f98dc4cef1984f548a812211271e191cf7796d59c11ff8'),
        ('falling', 'fall', 4097764052, -6163710460295062457, '63cea5d7173942260bc157adbf7b949adee0aed66aa511ba4212763f4b7dbd8a'),
        ('feed', 'feed', 591414443, 3205641039842103251, 'de9364c094e33d8142c98afb204cbace63c45839f18a885fdef3b3b43b50a5bc'),
        ('filing', 'file', 3843248670, 7950562922688529517, '67fbb27b65ca1ad06fd246d36fea4e9aa07705e2c4a4a9039cfa892f035b5e3b'),
        ('formalize', 'formal', 1972003155, -1592891783531921757, '6b67e9dd7ddc9d70cc59063190b689bade5a4f710e4951709cb212476950fc59'),
        ('formative', 'form', 1284657455, -7676493745356919957, 'f76387ac2552bd64345ad75822ea5b7d7f9f0646e737fc02b662767b2966672d'),
        ('goodness', 'good', 253339021, -1014635668271014529, 'cbacdfa55c5ef35f88538186372cd31d562dc5fb1b2ba30829978891b3173b92'),
        ('happy', 'happi', 3203236809, 3044319753066043397, '67eb44a6639fd94f3d1235a47a78559da3e8344408eb28ffb6df941a36585524'),
        ('hissing', 'hiss', 2727892094, 6301512610318438557, 'eb691e72fca058a7222d6283e03ff9fc3920a7fdd5d382ace49db3b9613283d5'),
        ('hopeful', 'hope', 1940623583, -9085360334193598037, '097494d5ea591c811bcd1edfc397d0023105e022085ff2acc556d5ad4855635b'),
        ('hopefulness', 'hope', 2120485071, -2308537584337207719, 'b7fbb07722991ab2217c8870a7691fc610a0b1fa66e62a925e249a591b1f6d91'),
        ('hopping', 'hop', 567566941, -3717812106173280634, 'bff87b70e66c694609bc944cf4860da53736675a6e373aaa81a7fbf377a4fc08'),
        ('inference', 'infer', 3713829353, 2390675683067751965, 'c73227b702ac5df24314b576c22b72d5eb1f8f16b049325f729245bb10fd0c0e'),
        ('motoring', 'motor', 1987826478, 9028388245902143482, '7f5b47ddfa8fe7e981d06972c8c697964b7000f911b6f9c35c3a63cc5772b26d'),
        ('operator', 'oper', 3618023297, 1216894282671212459, '227735485fa06fc09fa69041ff1e1dcadf4a6bf8a194a4ab4a626fb356054a18'),
        ('plastered', 'plaster', 873700626, -3266375879269689177, 'e072a4d18f287a6e52875a341cfbbcc086665ae8f7e0432afefe18b6cd3d3dab'),
        ('ponies', 'poni', 3975906053, 7109819345711606755, 'a91431a2f025989fac87e4de41ec10b4fe6b8ec214d0e6e710c07f564ca945b9'),
        ('probate', 'probat', 2185098425, -8581020983169020873, 'f89805aec2eb80dc8d64c741eb793e4f64dd87c0cb0bd2395fb7496fef659b7b'),
        ('rate', 'rate', 3756801849, 4708917400128111169, '2eee34894acb9594457acc8c13f54ac7d80164c4d41bac5d01ba687318b032d7'),
        ('rational', 'ration', 3152618196, -4466863064964357401, 'fb4ecaaea8448acd12e44a550bc123c8764c69f63a0a9b2246812a013dd5d38e'),
        ('relational', 'relat', 2956470172, -1256036670883866820, 'c752ae40aa6b4de55678f39fc2f912e7abaa8d64941f8106e92e390444faa9ac'),
        ('replacement', 'replac', 1423307850, 1533037183853026209, 'ef619ea45ad51cae2145fc83d578c36743c7957c6f327e5b4df7159fb2861592'),
        ('revival', 'reviv', 3867168260, -3006916718637886733, '5018a5f96e03802a3ec84662a6dd6be136b1a545ec814743a44ddca0fd32d450'),
        ('sing', 'sing', 929075731, -8594554807535138601, 'f300987aec4cf79a6fd2fe3386a54e91b57ef5abd16a3ea5382b2d70e83d4446'),
        ('sky', 'sky', 103183599, -3518807578293796959, 'b9e5e172673cc1dd9e94dcd2e7a1ee5f680e1124f7b05345e3a7615e5efa1b14'),
        ('tanned', 'tan', 1321659440, 2270126746366719049, '7ea5a2f3aedde7b8a3a1ecf7e4be5878b0d82dd801f04776ff53c49372cc5636'),
        ('ties', 'ti', 1402578716, 2321608483029616334, '055c855d57be0eba098bc7e61bf4b15517428636dd1233eb2bc448c22a59af82'),
        ('triplicate', 'triplic', 480823230, 5067692719085848944, '27bf76f23aee9f72f0d8dd96f0f2a0bbf43756e8b81e8d91fb49cd008d198ce6'))
        AS t(w, stem, crc, xx, hmac)
      ORDER BY w""",
    // s16: the EXECUTE IMMEDIATE statement with its USING parameters
    // substituted — a binding or quoting defect in the dynamic-SQL path
    // forks the hash.
    "s16_sql_execute_immediate" -> """
      SELECT o_orderpriority, COUNT(*) AS n,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM orders
      WHERE o_orderstatus = 'F' AND o_totalprice >= 1000.0
      GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "s01_sql_agg" -> """
      SELECT l_returnflag, l_linestatus,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        COUNT(*) AS n
      FROM lineitem
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus""",
    "s02_sql_join" -> """
      SELECT n_name, COUNT(*) AS n_cust
      FROM customer JOIN nation ON c_nationkey = n_nationkey
      GROUP BY n_name ORDER BY n_name""",
    "s03_sql_window" -> """
      SELECT o_custkey, o_orderkey,
        CAST(row_number() OVER (PARTITION BY o_custkey
                           ORDER BY o_orderdate, o_orderkey) AS INTEGER) AS rn
      FROM orders WHERE o_custkey < 50
      ORDER BY o_custkey, rn""",
    "s04_sql_cte" -> """
      WITH spend AS (
        SELECT o_custkey,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
          COUNT(*) AS n_orders
        FROM orders GROUP BY o_custkey HAVING COUNT(*) >= 5)
      SELECT c_custkey, c_name, total, n_orders
      FROM spend JOIN customer ON c_custkey = o_custkey
      ORDER BY total DESC, c_custkey LIMIT 25""",
    "s05_sql_graft_fn" -> """
      SELECT a.vec_id,
        -- + 0.0 folds -0.0, matching the Spark side's normalization
        round(list_dot_product(ea, eb) /
              (sqrt(list_dot_product(ea, ea)) * sqrt(list_dot_product(eb, eb))), 4) + 0.0
          AS sim_next
      FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ea FROM embeddings) a
      JOIN (SELECT vec_id AS vb, CAST(embedding AS DOUBLE[]) AS eb FROM embeddings) b
        ON b.vb = a.vec_id + 1
      ORDER BY a.vec_id""",
    // the graft GeometricMean aggregate IS exp(avg(ln)) on positive input
    "s06_sql_native_agg" -> """
      SELECT l_returnflag,
        round(exp(avg(ln(l_quantity))), 4) AS geo_qty,
        COUNT(*) AS n
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "s07_sql_recursive" -> """
      WITH RECURSIVE tree AS (
        SELECT n_nationkey, 0 AS depth, CAST(n_nationkey AS VARCHAR) AS path
        FROM nation WHERE n_nationkey = 0
        UNION ALL
        SELECT n.n_nationkey, t.depth + 1 AS depth,
          t.path || '>' || CAST(n.n_nationkey AS VARCHAR) AS path
        FROM nation n JOIN tree t
          ON CAST(floor((n.n_nationkey - 1) / 2.0) AS BIGINT) = t.n_nationkey
        WHERE n.n_nationkey > 0)
      SELECT t.n_nationkey, n.n_name, t.depth, t.path
      FROM tree t JOIN nation n ON n.n_nationkey = t.n_nationkey
      ORDER BY t.n_nationkey""",
    "s08_sql_lateral" -> """
      SELECT r.r_name, l.n_name, l.n_cust
      FROM region r,
      LATERAL (
        SELECT n_name, COUNT(*) AS n_cust
        FROM nation n JOIN customer c ON c.c_nationkey = n.n_nationkey
        WHERE n.n_regionkey = r.r_regionkey
        GROUP BY n_name
        ORDER BY n_cust DESC, n_name
        LIMIT 2) l
      ORDER BY r.r_name, l.n_cust DESC, l.n_name""",
    // s09 computes exactly the q115 report (same binning text, same CDF
    // pick) through the SQL aggregates, so it shares q115's oracle BY
    // REFERENCE — the two entries can never drift apart.
    "s09_sql_sketch_agg" -> OracleSql.sql("q115_sketch_quantile"),
    // s11 is TPC-H Q3 as SQL text — q129's oracle BY REFERENCE.
    "s11_sql_tpch" -> OracleSql.sql("q129_tpch_q3"),
    // s12's oracle IS the bound statement: the same text with the USING
    // values spliced where the ?s were (and the quoted '?' untouched) —
    // exactly what the binder must produce.
    "s12_sql_prepared" -> """
      SELECT l_returnflag,
        CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,6)))
          AS DOUBLE) AS revenue,
        COUNT(*) AS n
      FROM lineitem
      WHERE l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24.0
        AND 'quoted?' <> 'never'
      GROUP BY l_returnflag ORDER BY l_returnflag""",
    "s13_sql_view" -> """
      WITH s13_nation_spend AS (
        SELECT n_name, o_custkey, o_totalprice
        FROM orders JOIN customer ON c_custkey = o_custkey
                    JOIN nation ON n_nationkey = c_nationkey)
      SELECT n_name,
        COUNT(*) AS n_orders,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM s13_nation_spend GROUP BY n_name ORDER BY n_name""",
    // s14: per-column branch replay of the SHOW STATS layout — exact
    // NDV / nulls / low-high with the same cross-engine text rendering
    // (timestamps strftime'd, doubles snapped to DECIMAL(18,2) text).
    "s14_sql_show_stats" -> {
      def branch(c: String, lo: String, hi: String, size: String) = s"""
      SELECT '$c' AS column_name, $size AS data_size,
        CAST(COUNT(DISTINCT $c) AS DOUBLE) AS distinct_values_count,
        CAST(COUNT(*) - COUNT($c) AS DOUBLE) / COUNT(*) AS nulls_fraction,
        CAST(NULL AS DOUBLE) AS row_count,
        $lo AS low_value, $hi AS high_value
      FROM orders"""
      def plain(c: String) = branch(c,
        s"CAST(MIN($c) AS VARCHAR)", s"CAST(MAX($c) AS VARCHAR)",
        "CAST(NULL AS DOUBLE)")
      def str(c: String) = branch(c,
        s"CAST(MIN($c) AS VARCHAR)", s"CAST(MAX($c) AS VARCHAR)",
        s"CAST(SUM(length($c)) AS DOUBLE)")
      def ts(c: String) = branch(c,
        s"strftime(MIN($c), '%Y-%m-%d %H:%M:%S')",
        s"strftime(MAX($c), '%Y-%m-%d %H:%M:%S')", "CAST(NULL AS DOUBLE)")
      def dbl(c: String) = branch(c,
        s"CAST(CAST(MIN($c) AS DECIMAL(18,2)) AS VARCHAR)",
        s"CAST(CAST(MAX($c) AS DECIMAL(18,2)) AS VARCHAR)",
        "CAST(NULL AS DOUBLE)")
      Seq(plain("o_custkey"), ts("o_orderdate"), plain("o_orderkey"),
        str("o_orderpriority"), str("o_orderstatus"), dbl("o_totalprice"),
        """
      SELECT CAST(NULL AS VARCHAR) AS column_name,
        CAST(NULL AS DOUBLE) AS data_size,
        CAST(NULL AS DOUBLE) AS distinct_values_count,
        CAST(NULL AS DOUBLE) AS nulls_fraction,
        CAST(COUNT(*) AS DOUBLE) AS row_count,
        CAST(NULL AS VARCHAR) AS low_value,
        CAST(NULL AS VARCHAR) AS high_value
      FROM orders""").mkString("", " UNION ALL", "") +
        " ORDER BY column_name NULLS FIRST"
    },
    // s15: the SHOW SESSION report after the script's SETs, replayed as
    // a literal — the Spark side reads every value back from the live
    // conf, so agreement here pins that each SET landed (8 shuffle
    // partitions, broadcast disabled, UTC) and that the RESET restored
    // adaptive_execution's default.
    "s15_sql_session" -> """
      SELECT * FROM (VALUES
        ('adaptive_execution', 'true', 'true', 'boolean',
         'Re-plan queries at runtime from observed partition sizes'),
        ('dedup_max_bucket', '2000', '1000', 'integer',
         'Per-bucket pair-expansion cap for the bucketed dedup operators (minhash/simhash/embedding LSH, winnowing)'),
        ('hash_partition_count', '8', '32', 'integer',
         'Number of partitions for distributed joins and aggregations'),
        ('join_distribution_type', 'PARTITIONED', 'AUTOMATIC', 'varchar',
         'AUTOMATIC, PARTITIONED (never broadcast) or BROADCAST (favor broadcast joins)'),
        ('query_max_memory_per_task', '128MB', '64MB', 'varchar',
         'Advisory per-task memory ceiling: AQE targets this size when coalescing or splitting shuffle partitions'),
        ('time_zone_id', 'UTC', 'UTC', 'varchar',
         'Session time zone for timestamp rendering and date arithmetic')
      ) AS t("name", "value", "default", "type", "description")
      ORDER BY "name""""
  )
}
