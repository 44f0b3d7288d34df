package graft

import org.apache.spark.sql.SparkSession
// the HiveThriftServer2 CLASS is private[hive]; the companion object's
// start methods are the public API, and the public supertype
// (HiveServer2, with stop()) is the nameable handle type
import org.apache.spark.sql.hive.thriftserver.HiveThriftServer2
import org.apache.hive.service.server.HiveServer2

import graft.sources.Tables

/**
 * Network SQL endpoint — the reference's actual deployment shape is a
 * long-lived SERVER that remote clients connect to (reference nodes.py
 * launches `com.facebook.presto.server.PrestoServer` coordinator/worker
 * JVMs; presto-mgr.py:205 lists `connect` among COMMANDS — the user gets
 * a SQL prompt against a running coordinator). GraftCli is the in-process
 * half of that UX; this is the over-the-wire half: Spark's
 * HiveServer2-protocol Thrift endpoint (`HiveThriftServer2`) started
 * inside a graft-wired session, so any HiveServer2 client — `beeline`,
 * `hive-jdbc`, Tableau-style BI drivers — can connect over a socket and
 * run the same SQL surface the CLI serves: all warehouse tables, the
 * full graft function family and the Presto-dialect parser
 * (`functions.GraftParser`), which ride into every connection via
 * `spark.sql.extensions`. So a Presto-spelled statement parses over the
 * wire exactly as it does in the CLI, and so do graft's own verbs (SHOW
 * STATS, PREPARE/EXECUTE, EXPLAIN ANALYZE, ...), which the parser reads
 * too. Each connection's session keeps its own prepared statements (one
 * shared store under `singleSession`). The transaction verbs are the
 * CLI's alone.
 *
 * Scale posture: the thrift server is a front door on the DRIVER — query
 * execution stays fully distributed (each JDBC statement plans and runs
 * as a normal Spark job across the executors), and result sets stream to
 * the client through the driver with
 * `spark.sql.thriftServer.incrementalCollect=true` (partition-at-a-time
 * iteration, the toLocalIterator discipline GraftCli.render uses) so a
 * 100 TB result set never materializes on the driver.
 *
 * Usage: runMain graft.GraftServer <sfDir> [port]   (0 = pick a free port)
 */
object GraftServer {

  /** A started endpoint: the Thrift service, its bound port, and the
    * session serving it. `stop()` shuts the socket service down and
    * leaves the SparkSession running (callers own the session). */
  final case class Running(server: HiveServer2, port: Int,
                           spark: SparkSession) {
    def jdbcUrl: String = s"jdbc:hive2://localhost:$port/"
    def stop(): Unit = server.stop()
  }

  private[graft] def freePort(): Int = {
    val ss = new java.net.ServerSocket(0)
    try ss.getLocalPort finally ss.close()
  }

  /** Register the warehouse in the SHARED catalog — external parquet
    * tables (+ a persistent view for events' ts dispatch, mirroring
    * Tables.events) — so tables resolve in EVERY thrift connection, not
    * just the parent session. Without `singleSession=true` each JDBC
    * connection gets its own `newSession()`: temp views don't cross that
    * boundary but SharedState's catalog does (and the graft functions
    * and parser ride in via `spark.sql.extensions`, which `newSession()`
    * re-applies). Idempotent. */
  private[graft] def registerShared(spark: SparkSession, sfDir: String): Unit = {
    def ext(table: String, location: String): Unit =
      spark.sql(s"CREATE TABLE IF NOT EXISTS $table USING parquet " +
        s"LOCATION '${location.replace("'", "''")}'")
    Tables.all.filterNot(_ == "events").foreach { n =>
      ext(n, Tables.path(sfDir, n))
    }
    // events: bake the normalized ts (Tables.eventsTs) into a persistent
    // view, so fresh thrift sessions see the same TIMESTAMP surface
    // without session-conf plumbing
    val tsExpr = Tables.eventsTs(spark, sfDir)
    ext("events_raw", Tables.path(sfDir, "events"))
    spark.sql(s"""CREATE OR REPLACE VIEW events AS
      SELECT event_id, $tsExpr AS ts, user_id, event_type, value, props
      FROM events_raw""")
  }

  /** Start the endpoint on `port` (0 = pick a free one). Wires the
    * graft-built session with GraftCli.open (temp views for
    * singleSession mode), registers the shared-catalog surface for
    * multi-session mode, and boots the Thrift service. */
  def start(spark: SparkSession, sfDir: String, port: Int = 0,
            catalogDir: Option[String] = None): Running = {
    GraftCli.open(spark, sfDir)
    registerShared(spark, sfDir)
    // Presto-style catalog .properties directory (reference CATALOG_PATH,
    // presto-mgr.py:14): wired onto the SparkContext conf too, so every
    // per-connection newSession() resolves the same catalogs
    catalogDir.orElse(sys.env.get("SPARK_GRAFT_CATALOG_DIR")).foreach(d =>
      graft.sources.CatalogProperties.wireReporting(spark, d, System.err))
    val p = if (port == 0) freePort() else port
    // HiveThriftServer2 builds its HiveConf from the session's hadoop
    // conf (HiveUtils.newClientForExecution(sparkConf, newHadoopConf()));
    // newHadoopConf() also folds in SQL-conf entries, but the context
    // hadoopConfiguration is the unambiguous channel.
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("hive.server2.thrift.port", p.toString)
    hc.set("hive.server2.thrift.bind.host", "localhost")
    // run statements as the server user: no Hadoop impersonation in a
    // Spark deployment (standard Spark Thrift-server posture)
    hc.set("hive.server2.enable.doAs", "false")
    // stream result sets partition-at-a-time instead of collect()ing —
    // the server-side equivalent of GraftCli.render's toLocalIterator
    spark.conf.set("spark.sql.thriftServer.incrementalCollect", "true")
    val server = HiveThriftServer2.startWithSparkSession(spark, exitOnError = false)
    Running(server, p, spark)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      sys.error("usage: GraftServer <sfDir> [port]  (port 0 = auto)"))
    val port = if (args.length > 1) args(1).toInt else 10000
    val spark = GraftSession.get(
      sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[*]"),
      extraConfs = Map(
        // one shared session across connections — SET SESSION / temp
        // views behave like one Presto session per deployment, matching
        // the reference's single-coordinator shape. (Static conf: only
        // effective when this main owns context creation — the normal
        // server path.)
        "spark.sql.hive.thriftServer.singleSession" -> "true") ++
        sys.env.get("SPARK_GRAFT_WAREHOUSE")
          .map("spark.sql.warehouse.dir" -> _).toMap)
    val running = start(spark, sfDir, port)
    println(s"[graft-server] listening on ${running.jdbcUrl}")
    println("[graft-server] connect: beeline -u " + running.jdbcUrl)
    // serve until the process is killed (the reference's server actors
    // run until presto-mgr stops them)
    Thread.currentThread().join()
  }
}
