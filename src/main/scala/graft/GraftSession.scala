package graft

import org.apache.spark.sql.SparkSession

/**
 * Session factory for the graft engine.
 *
 * The reference (yifeif/presto-on-ray, presto-mgr.py / nodes.py) manages a
 * Presto coordinator + N worker JVMs as Ray actors; on Spark the equivalent
 * "cluster surface" is the SparkSession + cluster manager, so the library
 * exposes a tuned session factory instead of process management.
 *
 * Scale posture (100 TB target):
 *  - AQE on: runtime partition coalescing, skew-join splitting, and
 *    runtime sort-merge→broadcast demotion replace hand-tuned DOP.
 *  - shuffle.partitions is a default for local testing; on a real cluster
 *    AQE coalesces from a high initial number, so we leave
 *    `spark.sql.adaptive.coalescePartitions.initialPartitionNum` unset here
 *    and let deployments size it (rule of thumb: 2-3x total cores).
 *  - Broadcast threshold kept at default 10 MB: region/nation/supplier/part
 *    style dims stay broadcast even at 100 TB fact scale.
 *  - Codegen class cache sized to graft's working set. Spark keeps
 *    compiled classes in one JVM-wide LRU of 100 entries by default. One
 *    pass of the 22 TPC-H texts generates about 345 classes, the curation
 *    batch about 148 and the whole 317-entry inventory about 3,400, and
 *    an LRU smaller than a replayed cycle evicts every class before its
 *    next use: each statement recompiled its code with Janino and ran it
 *    cold in the JIT. 4096 covers the inventory plus the few classes
 *    generated anew per call (OPTIMIZATION_r21.md), and stays finite so a
 *    long-lived server facing ad-hoc SQL still evicts. Spark sizes the
 *    cache once, from the session active when the JVM first generates
 *    code, so the bound holds wherever that session came from here.
 */
object GraftSession {

  def builder(master: String = "local[*]", shufflePartitions: Int = 32): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      // Graft extension point: native function family + optimizer rules in
      // every session this factory creates (same mechanism a deployment
      // uses via --conf spark.sql.extensions).
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      // Presto's cluster-introspection surface: SELECT * FROM
      // system.runtime.nodes / system.runtime.queries (the reference's
      // `status` command as queryable tables) — a read-only DSv2 catalog
      .config("spark.sql.catalog.system", "graft.sources.GraftSystemCatalog")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.parquet.filterPushdown", "true")
      .config("spark.sql.parquet.aggregatePushdown", "true")
      // Runtime bloom-filter join pruning: a selective dim filter becomes a
      // bloom filter applied at the fact scan, cutting shuffle input before
      // the join — one of the biggest 100 TB levers (thresholds are
      // size-based, so it engages on real data volumes; PlanSpec pins the
      // injection with lowered thresholds).
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      // Keep generated classes resident across statements (see class doc).
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.ui.enabled", "false")

  /** Create (or reuse) a session with graft defaults; `extraConfs` are
    * applied at build time (no-ops when an existing session is reused —
    * standard getOrCreate semantics). */
  def get(master: String = "local[*]", shufflePartitions: Int = 32,
          extraConfs: Map[String, String] = Map.empty): SparkSession = {
    val s = extraConfs.foldLeft(builder(master, shufflePartitions)) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // WindowExec warns "No Partition Defined ... Moving all data to a
    // single partition" on ANY empty partitionSpec, including the three
    // deliberate sites here (q43's bounded slice, q87's and t13's windows
    // over already-aggregated/limited frames — each audited: the frame
    // entering the window is O(groups) or O(100) rows, never the corpus,
    // which is exactly when a global window is the correct scalable form).
    // Suppress that one logger rather than distorting the plans with a
    // dummy literal partition key; the silenced warning is replaced by an
    // explicit guard — PlanSpec pins the exact set of entries allowed to
    // plan an empty-partitionSpec WindowExec, so a NEW accidental global
    // window fails CI instead of scale-breaking silently.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    s
  }

  /** The reference's cluster-elasticity surface (`add_worker` /
    * `del_worker` / `status`, presto-mgr.py / README.md:59–82) mapped onto
    * Spark dynamic allocation: instead of imperative worker add/remove,
    * the session declares a worker RANGE and the cluster manager scales
    * executors with queued work. Shuffle tracking lets executors retire
    * without an external shuffle service (shuffle files outlive the
    * executor until consumed), which is what makes scale-IN safe mid-query. */
  def elasticityConfs(minWorkers: Int = 0, maxWorkers: Int = 64,
                      initialWorkers: Int = 2): Map[String, String] = Map(
    "spark.dynamicAllocation.enabled" -> "true",
    "spark.dynamicAllocation.minExecutors" -> minWorkers.toString,
    "spark.dynamicAllocation.maxExecutors" -> maxWorkers.toString,
    "spark.dynamicAllocation.initialExecutors" -> initialWorkers.toString,
    "spark.dynamicAllocation.shuffleTracking.enabled" -> "true",
    "spark.dynamicAllocation.executorIdleTimeout" -> "120s",
    "spark.dynamicAllocation.schedulerBacklogTimeout" -> "5s")

  /** Streaming state-store confs for state that exceeds executor heap —
    * the URL-frontier dedup topology at crawl scale. The DEFAULT
    * (HDFSBackedStateStoreProvider) keeps every key's state in an
    * on-heap map per partition: a 100 TB crawl's frontier (billions of
    * canonical URLs inside the watermark horizon) OOMs the executor.
    * RocksDB spills state to local SSD with a bounded block cache, and
    * changelog checkpointing uploads per-batch deltas instead of
    * re-snapshotting the full store — the production topology for
    * unbounded-key streaming dedup/sessionization. Ships in spark-sql
    * proper (rocksdbjni is a stock Spark dependency) — no extra module. */
  def rocksdbStateConfs: Map[String, String] = Map(
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true")

  /** Builder for streaming jobs whose state outgrows the heap (frontier
    * dedup, billion-user sessionization): graft defaults + RocksDB
    * state store. */
  def streamingBuilder(master: String = "local[*]",
                       shufflePartitions: Int = 32): SparkSession.Builder =
    rocksdbStateConfs.foldLeft(builder(master, shufflePartitions)) {
      case (b, (k, v)) => b.config(k, v)
    }

  /** Builder for a real multi-executor deployment: graft defaults + the
    * elasticity surface + an AQE initial partition count sized for the
    * worker ceiling (AQE coalesces down at runtime; see class doc). */
  def clusterBuilder(master: String, minWorkers: Int = 0, maxWorkers: Int = 64,
                     initialWorkers: Int = 2, coresPerWorker: Int = 4): SparkSession.Builder =
    elasticityConfs(minWorkers, maxWorkers, initialWorkers)
      .foldLeft(builder(master, shufflePartitions = maxWorkers * coresPerWorker * 2)) {
        case (b, (k, v)) => b.config(k, v)
      }
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        (maxWorkers * coresPerWorker * 3).toString)
}
