package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Table registry for the test corpus (TPC-H-ish star schema + events +
 * documents + embeddings). Mirrors the reference's connector/catalog model
 * (Presto `catalog.schema.table`; /root/reference/mysql.properties) with
 * Spark's reader API: one parquet file per table under a scale-factor dir.
 *
 * Reads are plain `spark.read.parquet` so Catalyst's parquet source handles
 * predicate pushdown, column pruning, and partition splitting — at 100 TB
 * each table is a directory of many row-grouped files and the same code
 * path scales out (maxPartitionBytes controls split sizing).
 */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def path(dir: String, name: String): String = s"$dir/$name.parquet"

  /** Per-session memo of the base-table DataFrames.
    *
    * A fresh `spark.read.parquet` pays driver-side file listing plus
    * footer schema inference on EVERY call — and every entry builds its
    * tables per invocation (the front door additionally re-registers all
    * ten views per statement), so that metadata work used to repeat per
    * timed run (guide §5: the driver should do almost no data work; §6:
    * listing/planning overhead). The memoized value is an UNEXECUTED
    * logical plan over the parquet files: every action on it still scans
    * the parquet inputs — no data or results are cached.
    *
    * Staleness guard: the key carries the path's (mtime, length), one
    * filesystem stat per lookup, so a regenerated corpus at the same
    * path (tests, decade gates) gets a fresh plan instead of a stale
    * file listing.
    *
    * Retention: an access-ordered LRU capped at [[MaxMemoSessions]]
    * sessions. A WeakHashMap session key can never collect here — the
    * memoized Datasets strongly reference their session (Dataset →
    * QueryExecution → session), i.e. the classic value-refers-to-key
    * pitfall — so boundedness comes from eviction instead: a stopped
    * session's entries age out as newer sessions arrive, and evicting a
    * LIVE session's map is harmless (rebuilt on next call). */
  private val MaxMemoSessions = 4
  private val memo =
    new java.util.LinkedHashMap[SparkSession,
      scala.collection.mutable.Map[(String, Long, Long), DataFrame]](
      8, 0.75f, /* accessOrder = */ true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[SparkSession,
            scala.collection.mutable.Map[(String, Long, Long), DataFrame]]): Boolean =
        size > MaxMemoSessions
    }

  def df(spark: SparkSession, dir: String, name: String): DataFrame = {
    val p = path(dir, name)
    val f = new java.io.File(p)
    val key = (p, f.lastModified(), f.length())
    memo.synchronized {
      var m = memo.get(spark)
      if (m == null) {
        m = scala.collection.mutable.Map.empty
        memo.put(spark, m)
      }
      m.getOrElseUpdate(key, spark.read.parquet(p))
    }
  }

  def region(s: SparkSession, d: String): DataFrame    = df(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = df(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = df(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = df(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = df(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = df(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = df(s, d, "lineitem")

  /** The SQL expression that normalizes events' raw `ts` column; both
    * [[events]] and GraftServer's persistent `events` view are built
    * from it. The encoding has varied across driver data generations:
    * INT64 TIMESTAMP(NANOS) (read as long via the legacy flag, rebuilt at
    * µs precision — `div` keeps the arithmetic in exact integer space, ns
    * epochs overflow double) vs plain TIMESTAMP(MICROS) (surfaces as
    * TIMESTAMP_NTZ; cast to session-local TIMESTAMP — sessions pin UTC —
    * so downstream unix_micros/date_format see one type either way).
    * Dispatch on the actual parquet schema, not an assumed generation.
    * Current generations write TIMESTAMP(MICROS), so the nanos arm is the
    * compatibility path; a session that reads the raw nanos column needs
    * `spark.sql.legacy.parquet.nanosAsLong=true`, which this sets on `s`
    * (fresh thrift sessions need it in the deployment conf). */
  private[graft] def eventsTs(s: SparkSession, d: String): String = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df(s, d, "events").schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => "timestamp_micros(ts div 1000)"
      case _ => "CAST(ts AS TIMESTAMP)"
    }
  }

  def events(s: SparkSession, d: String): DataFrame = {
    val ts = expr(eventsTs(s, d))
    df(s, d, "events").select(col("event_id"), ts.as("ts"),
      col("user_id"), col("event_type"), col("value"), col("props"))
  }
  def documents(s: SparkSession, d: String): DataFrame = df(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = df(s, d, "embeddings")

  /** Hash key per table for [[fanout]] — high-cardinality, deterministic. */
  private val fanKeys: Map[String, Seq[String]] = Map(
    "region" -> Seq("r_regionkey"), "nation" -> Seq("n_nationkey"),
    "customer" -> Seq("c_custkey"), "supplier" -> Seq("s_suppkey"),
    "part" -> Seq("p_partkey"), "orders" -> Seq("o_orderkey"),
    // l_orderkey alone: ~4 rows/key spreads fine, and the narrower key
    // keeps l_linenumber out of otherwise-pruned scans
    "lineitem" -> Seq("l_orderkey"),
    "events" -> Seq("event_id"), "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  // Keyed by (path, mtime, length) like the df memo, so a corpus
  // regenerated at the same path gets a fresh row-group count instead of
  // a stale fanout decision.
  private val rowGroupMemo =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, Long), Integer]()

  /** Row groups in a SINGLE parquet file (memoized; -1 = not a single
    * file, i.e. a real multi-file table directory). */
  private def rowGroups(spark: SparkSession, p: String): Int = {
    val f0 = new java.io.File(p)
    rowGroupMemo.computeIfAbsent((p, f0.lastModified(), f0.length()), _ => {
      val f = new java.io.File(p)
      if (!f.isFile) -1
      else try {
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(p),
          spark.sparkContext.hadoopConfiguration)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try r.getFooter.getBlocks.size
        finally r.close()
      } catch { case _: Exception => -1 }
    })
  }

  /** Scan fan-out for row-group-starved layouts (guide §2.5
    * "unsplittable input"): parquet cannot split inside a row group, so
    * a table written as one row group per file — the driver's test
    * corpus — scans as ONE task however many cores the session has, and
    * every narrow kernel fused into that scan (shingling, signatures,
    * decimal aggregation, binary header decode) serializes with it.
    * When, and only when, the file's row-group count underfills the
    * session's parallelism, hash-repartition by the table's key so the
    * heavy per-row work downstream spreads across the cluster; on a
    * production layout (row groups ≥ cores) this is the identity and
    * the plan is untouched. Hash partitioning on a high-cardinality key
    * — never round-robin — keeps the exchange deterministic under task
    * retry (no sort-before-repartition pass) and the results are
    * partitioning-invariant by the layout-invariance property the sf10
    * sweep pins. Opt-in per entry: only operators whose post-scan
    * per-row work dominates use it (a trivial scan would pay the
    * exchange for nothing). */
  def fanout(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") spread(spark, dir, name, events(spark, dir))
    else spread(spark, dir, name, df(spark, dir, name))

  private def spread(spark: SparkSession, dir: String, name: String,
                     base: DataFrame): DataFrame = {
    val par = spark.sparkContext.defaultParallelism
    val groups = rowGroups(spark, path(dir, name))
    if (groups < 0 || groups >= par) base
    else base.repartition(par, fanKeys(name).map(col): _*)
  }

  /** Register all tables as temp views so `spark.sql` queries (CTEs,
    * correlated subqueries) can reference them by name. Idempotent. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    all.foreach { n =>
      val t = if (n == "events") events(spark, dir) else df(spark, dir, n)
      t.createOrReplaceTempView(n)
    }
}
