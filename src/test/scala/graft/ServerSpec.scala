package graft

import java.sql.{Connection, DriverManager}

/** Network SQL endpoint (GraftServer): boots the Thrift service on a
  * random free port inside this JVM, connects over the REAL socket with
  * hive-jdbc, and pins the wire results row-for-row against the
  * in-process front door — the reference's `connect`-to-a-running-server
  * UX (presto-mgr.py:205, nodes.py server actors), live. */
class ServerSpec extends GraftSpec {

  private var running: GraftServer.Running = _

  override def beforeAll(): Unit = {
    super.beforeAll()
    Class.forName("org.apache.hive.jdbc.HiveDriver")
    running = GraftServer.start(spark, sf, port = 0)
  }

  override def afterAll(): Unit = {
    try if (running != null) running.stop()
    finally super.afterAll()
  }

  /** Connect with retry: the thrift service accepts sockets a beat after
    * start() returns. */
  private def connect(): Connection = {
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    var last: Exception = null
    while (System.nanoTime() < deadline) {
      try return DriverManager.getConnection(running.jdbcUrl)
      catch { case e: Exception => last = e; Thread.sleep(500) }
    }
    throw new IllegalStateException(s"thrift endpoint never came up: $last")
  }

  private def jdbcRows(conn: Connection, sql: String): Seq[Seq[String]] = {
    val st = conn.createStatement()
    try {
      val rs = st.executeQuery(sql)
      val n = rs.getMetaData.getColumnCount
      val out = Seq.newBuilder[Seq[String]]
      while (rs.next()) out += (1 to n).map(i => String.valueOf(rs.getString(i)))
      out.result()
    } finally st.close()
  }

  private def sparkRows(sql: String): Seq[Seq[String]] =
    GraftCli.sql(spark, sf, sql).collect().toSeq
      .map(_.toSeq.map(String.valueOf(_)))

  test("s01's SQL over the socket matches the in-process front door row-for-row") {
    val q = """SELECT l_returnflag, l_linestatus,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        COUNT(*) AS n
      FROM lineitem
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus"""
    val conn = connect()
    try {
      val wire = jdbcRows(conn, q)
      val local = sparkRows(q)
      assert(wire.nonEmpty && wire == local,
        s"wire=$wire\nlocal=$local")
    } finally conn.close()
  }

  test("Presto-spelled texts (s22, s24-s27) over the socket match the in-process front door") {
    // the dialect rewrite lives in the session parser, which rides into
    // every thrift session with the extensions
    val conn = connect()
    try GraftCli.prestoTexts.toSeq.sortBy(_._1).foreach { case (name, q) =>
      val wire = jdbcRows(conn, q)
      val local = sparkRows(q)
      assert(wire.nonEmpty && wire == local, s"$name\nwire=$wire\nlocal=$local")
    } finally conn.close()
  }

  test("graft-native function (cosine_sim) rides into the thrift session") {
    // extensions-injected functions must resolve in the server-side
    // session (newSession() re-applies spark.sql.extensions)
    val q = """SELECT a.vec_id,
        round(cosine_sim(a.embedding, b.embedding), 4) + 0.0 AS sim_next
      FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
      ORDER BY a.vec_id LIMIT 20"""
    val conn = connect()
    try {
      val wire = jdbcRows(conn, q)
      val local = sparkRows(q)
      assert(wire.size == 20 && wire == local)
    } finally conn.close()
  }

  test("SET / SHOW of a session property round-trips over the wire") {
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    val wireValue = if (before == "16") "24" else "16" // always a CHANGE
    val conn = connect()
    try {
      val st = conn.createStatement()
      st.execute(s"SET spark.sql.shuffle.partitions=$wireValue")
      val got = jdbcRows(conn, "SET spark.sql.shuffle.partitions")
      assert(got == Seq(Seq("spark.sql.shuffle.partitions", wireValue)), got.toString)
      // the thrift session is ISOLATED (multi-session mode): the parent
      // session's conf must be untouched by the wire-side SET
      assert(spark.conf.get("spark.sql.shuffle.partitions") == before)
      st.close()
    } finally conn.close()
  }

  test("graft verbs over the socket match the in-process front door") {
    val conn = connect()
    val conn2 = connect()
    try {
      val stats = "SHOW STATS EXACT FOR orders"
      val wireStats = jdbcRows(conn, stats)
      val localStats = sparkRows(stats)
      assert(wireStats.nonEmpty && wireStats == localStats, s"wire=$wireStats\nlocal=$localStats")
      // SET SESSION lands in the connection's own session only
      val before = spark.conf.get("spark.sql.shuffle.partitions")
      assert(jdbcRows(conn, "SET SESSION hash_partition_count = 8") ==
        Seq(Seq("SET SESSION hash_partition_count")))
      val wireSession = jdbcRows(conn, "SHOW SESSION")
      assert(spark.conf.get("spark.sql.shuffle.partitions") == before)
      // a thrift connection's session is a new session of the context
      val fresh = spark.newSession()
      GraftCli.sql(fresh, sf, "SET SESSION hash_partition_count = 8")
      val localSession = GraftCli.sql(fresh, sf, "SHOW SESSION").collect().toSeq
        .map(_.toSeq.map(String.valueOf(_)))
      assert(wireSession == localSession, s"wire=$wireSession\nlocal=$localSession")
      assert(wireSession.exists(_.take(2) == Seq("hash_partition_count", "8")), wireSession)
      // PREPARE -> DESCRIBE OUTPUT -> EXECUTE ... USING -> DEALLOCATE
      val template = "SELECT r_regionkey, r_name FROM region WHERE r_regionkey < ? ORDER BY r_regionkey"
      assert(jdbcRows(conn, s"PREPARE srv_q FROM $template") == Seq(Seq("PREPARE srv_q")))
      GraftCli.sql(spark, sf, s"PREPARE srv_q FROM $template")
      Seq("DESCRIBE OUTPUT srv_q", "EXECUTE srv_q USING 3").foreach { q =>
        val wire = jdbcRows(conn, q)
        val local = sparkRows(q)
        assert(wire.nonEmpty && wire == local, s"$q\nwire=$wire\nlocal=$local")
      }
      // the name belongs to connection 1's session
      val e = intercept[java.sql.SQLException](jdbcRows(conn2, "EXECUTE srv_q USING 3"))
      assert(e.getMessage.contains("no prepared statement named srv_q"), e.getMessage)
      assert(jdbcRows(conn, "DEALLOCATE PREPARE srv_q") == Seq(Seq("DEALLOCATE srv_q")))
      GraftCli.sql(spark, sf, "DEALLOCATE PREPARE srv_q")
      // EXPLAIN ANALYZE: one row in a `plan` column
      val st = conn.createStatement()
      try {
        val rs = st.executeQuery("EXPLAIN ANALYZE SELECT count(*) AS n FROM nation")
        assert(rs.getMetaData.getColumnCount == 1 && rs.getMetaData.getColumnName(1) == "plan")
        assert(rs.next() && rs.getString(1).contains("== Physical Plan"))
        assert(!rs.next())
      } finally st.close()
    } finally {
      try conn.close() finally conn2.close()
    }
  }

  test("the events view serves the normalized TIMESTAMP surface cross-session") {
    val conn = connect()
    try {
      val rows = jdbcRows(conn,
        "SELECT typeof(ts) AS t, count(*) AS n FROM events GROUP BY typeof(ts)")
      assert(rows.size == 1 && rows.head.head == "timestamp"
        && rows.head(1).toLong > 0, rows.toString)
    } finally conn.close()
  }

  test("catalog surface (SHOW TABLES) is served to remote clients") {
    val conn = connect()
    try {
      val tables = jdbcRows(conn, "SHOW TABLES").map(_(1)).toSet
      assert(Set("lineitem", "orders", "customer", "documents",
        "embeddings", "events").subsetOf(tables), tables.toString)
    } finally conn.close()
  }

  test("a properties-wired JDBC catalog resolves in a fresh thrift connection") {
    // wire AFTER the server started: CatalogProperties sets the catalog
    // confs on the SparkContext conf, which every per-connection
    // newSession() merges — so a catalog dropped into the directory is
    // visible to the NEXT connection, Presto's connector-config model
    // (reference CATALOG_PATH + mysql.properties) over the wire
    val url = "jdbc:derby:memory:graftsrvcat;create=true"
    val c = DriverManager.getConnection(url)
    try {
      val st = c.createStatement()
      st.execute("CREATE SCHEMA GRAFT")
      st.execute("CREATE TABLE GRAFT.KV (K VARCHAR(10), V INT)")
      st.execute("INSERT INTO GRAFT.KV VALUES ('a', 1), ('b', 2)")
      st.close()
    } finally c.close()
    val dir = java.nio.file.Files.createTempDirectory("graft-srv-catalog")
    java.nio.file.Files.write(dir.resolve("srvcat.properties"),
      s"""connector.name=jdbc
         |connection-url=$url
         |connection-driver=org.apache.derby.jdbc.EmbeddedDriver
         |""".stripMargin.getBytes("UTF-8"))
    val (wired, refused) = graft.sources.CatalogProperties.wire(spark, dir.toString)
    assert(wired.map(_.name) == Seq("srvcat") && refused.isEmpty,
      (wired, refused).toString)
    val conn = connect()
    try {
      // three-part read first: the catalog conf rides into the fresh
      // thrift session via the context conf and lazy-loads on first use
      val rows = jdbcRows(conn,
        "SELECT K, V FROM srvcat.GRAFT.KV ORDER BY K")
      assert(rows == Seq(Seq("a", "1"), Seq("b", "2")), rows.toString)
      // ... after which SHOW CATALOGS lists it in this session (Spark
      // lists LOADED catalogs; the in-process front door force-loads at
      // wire time — CatalogSpec pins that — but a brand-new wire session
      // loads on first reference)
      val cats = jdbcRows(conn, "SHOW CATALOGS").map(_.head).toSet
      assert(cats.contains("srvcat"), cats.toString)
    } finally conn.close()
  }

  test("GraftServer MAIN end-to-end: own JVM, singleSession semantics over the wire") {
    // the actual deployment entrypoint (runMain graft.GraftServer): its
    // static singleSession conf only takes effect when the main owns
    // context creation, so this runs in its own JVM like a real deploy.
    // Under singleSession every connection shares ONE session — a temp
    // view created over the wire is visible to a SECOND connection
    // (the Presto session-per-deployment shape the main declares).
    val port = GraftServer.freePort()
    val repo = new java.io.File(".").getCanonicalPath
    val pb = new ProcessBuilder("bash", s"$repo/scripts/graft_java.sh",
      "graft.GraftServer", sf, port.toString)
    pb.environment().put("SPARK_GRAFT_MASTER", "local[4]")
    pb.environment().put("GRAFT_XMX", "3g")
    pb.redirectErrorStream(true)
    pb.redirectOutput(new java.io.File("/tmp/graft_server_e2e.log"))
    val proc = pb.start()
    try {
      val url = s"jdbc:hive2://localhost:$port/"
      val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
      var conn: Connection = null
      while (conn == null && System.nanoTime() < deadline && proc.isAlive) {
        try conn = DriverManager.getConnection(url)
        catch { case _: Exception => Thread.sleep(1000) }
      }
      assert(conn != null, "server main never accepted a connection")
      try {
        val st = conn.createStatement()
        st.execute("CREATE TEMPORARY VIEW tmp_server_e2e AS SELECT 42 AS v")
        st.close()
        // a SECOND connection sees the first connection's temp view:
        // singleSession semantics, impossible in multi-session mode
        val conn2 = DriverManager.getConnection(url)
        try {
          val st2 = conn2.createStatement()
          val rs = st2.executeQuery("SELECT v FROM tmp_server_e2e")
          assert(rs.next() && rs.getInt(1) == 42)
          val rs2 = st2.executeQuery(
            "SELECT count(*) FROM lineitem JOIN orders ON l_orderkey = o_orderkey")
          assert(rs2.next() && rs2.getLong(1) > 0)
          st2.close()
        } finally conn2.close()
      } finally conn.close()
    } finally {
      proc.destroy()
      if (!proc.waitFor(15, java.util.concurrent.TimeUnit.SECONDS))
        proc.destroyForcibly()
    }
  }

  test("system.runtime.nodes / queries (Presto cluster introspection) over the wire") {
    val conn = connect()
    try {
      // the reference's `status` surface: one row per live node, the
      // driver marked coordinator (local mode: exactly the driver)
      val nodes = jdbcRows(conn,
        "SELECT node_id, coordinator, state FROM system.runtime.nodes")
      assert(nodes.nonEmpty && nodes.exists(_(1) == "true")
        && nodes.forall(_(2) == "active"), nodes.toString)
      // query history: the nodes SELECT above (and earlier suite queries)
      // must appear with a FINISHED state
      val qs = jdbcRows(conn,
        "SELECT state FROM system.runtime.queries WHERE state = 'FINISHED' LIMIT 5")
      assert(qs.nonEmpty, "query history should have FINISHED entries")
    } finally conn.close()
  }

  test("a second connection sees a RUNNING statement and can kill it (r19)") {
    // connection 1 runs a deliberately slow statement; connection 2
    // watches system.runtime.queries for its RUNNING row (the thrift
    // operation's own statement-UUID job group, surfaced by the
    // context-wide listener) and kills it via CALL — Presto's admin
    // workflow, over real sockets end to end
    val slow = """SELECT count(*) AS n FROM (
      SELECT sha2(CAST(id AS STRING), 512) AS h
      FROM range(0, 600000000, 1, 64)) WHERE h > 'zz'"""
    val conn1 = connect()
    val conn2 = connect()
    @volatile var victimError: Throwable = null
    val runner = new Thread(() => {
      val st = conn1.createStatement()
      try { st.executeQuery(slow); () }
      catch { case e: Throwable => victimError = e }
      finally st.close()
    })
    runner.start()
    try {
      def poll[A](what: String)(f: => Option[A]): A = {
        val deadline = System.nanoTime() + 90L * 1000 * 1000 * 1000
        var out: Option[A] = None
        while (out.isEmpty && System.nanoTime() < deadline) {
          out = f
          if (out.isEmpty) Thread.sleep(200)
        }
        out.getOrElse(fail(s"timed out waiting for $what"))
      }
      // the WATCHER connection must stay job-free while the pool is
      // saturated: incrementalCollect streams via per-partition JOBS
      // (which would queue behind the victim stage), so switch it off
      // for this session — collect() on a LocalTableScan is driver-only
      jdbcRows(conn2, "SET spark.sql.thriftServer.incrementalCollect=false")
      // unfiltered snapshot, filtered client-side: a WHERE over the
      // system table would plan a job that QUEUES behind the victim
      val qid = poll("RUNNING row over the wire") {
        jdbcRows(conn2, "SELECT * FROM system.runtime.queries")
          .find(r => r(1) == "RUNNING" && r(3).contains("sha2")).map(_.head)
      }
      val ack = jdbcRows(conn2, s"CALL system.runtime.kill_query('$qid')")
      assert(ack.flatten.exists(_.contains("killed")), ack.toString)
      runner.join(90000)
      assert(!runner.isAlive && victimError != null,
        s"victim statement survived the kill: $victimError")
    } finally {
      try conn1.close() finally conn2.close()
    }
  }
}
