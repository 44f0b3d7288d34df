package graft.tools

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

import graft.{GraftSession, SparkEntry}

/**
 * Per-entry driver/executor time split for the optimization loop
 * (guide §1/§7.3): for each named entry, separately times
 *
 *   build  — calling the entry fn (DataFrame construction; analysis cost
 *            for eagerly-analyzed parts),
 *   plan   — forcing queryExecution.executedPlan (optimizer + physical
 *            planning + codegen source generation; driver-side,
 *            single-threaded — the §7.3 "nothing is running" bucket),
 *   exec   — toRdd.count() (job execution, the bench's timed action).
 *
 * It also counts `compiles`: the Janino compiles over the timed pass. A warm
 * entry compiles nothing, so a nonzero count flags code generated anew on
 * every call (a per-call literal baked into generated code) or a codegen
 * cache too small for the working set. `jobs` counts the Spark jobs the
 * timed pass starts, build and exec together: exec ≈ jobs × the per-job
 * floor labels an entry floor-bound.
 *
 * Each phase is measured on the steady-state pass (one warm run first, so
 * janino/JIT warmup stays out of the numbers, matching Bench's protocol).
 * Usage: SPARK_GRAFT_PROBE_ONLY=a13_ivfpq_recall,q10_percentile
 *        sbt "runMain graft.tools.PerfProbe"
 */
object PerfProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark: SparkSession = GraftSession.get(s"local[$cpus]", cpus.toInt)
    val only = sys.env.get("SPARK_GRAFT_PROBE_ONLY").map(_.split(',').toSet)
    SparkEntry.queries("q01_agg_groupby")(spark, sfDir).queryExecution.toRdd.count()
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    val showStages = sys.env.contains("SPARK_GRAFT_PROBE_STAGES")
    val stages = scala.collection.mutable.ArrayBuffer[(Int, Long, Int, Long, Long)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        stages.synchronized { stages += ((si.stageId,
          si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L),
          si.numTasks, si.taskMetrics.shuffleWriteMetrics.bytesWritten,
          si.taskMetrics.shuffleReadMetrics.totalBytesRead)) }
      }
    })
    def compiles: Long = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val jobCounter = new JobCounter(spark.sparkContext)
    println(f"${"entry"}%-24s ${"build"}%8s ${"plan"}%8s ${"exec"}%8s ${"total"}%8s ${"compiles"}%8s ${"jobs"}%6s")
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      // warm pass
      try fn(spark, sfDir).queryExecution.toRdd.count()
      catch { case e: Throwable => println(s"$name FAILED: ${e.getMessage}") }
      System.gc(); Thread.sleep(100)
      stages.synchronized(stages.clear())
      // timed pass guarded too: a failing entry must not abort the whole
      // probe run — report it and continue with the next entry
      try {
        val c0 = compiles
        val ((t0, t1, t2, t3), jobs) = jobCounter {
          val t0 = System.nanoTime()
          val df = fn(spark, sfDir)
          val t1 = System.nanoTime()
          df.queryExecution.executedPlan
          val t2 = System.nanoTime()
          df.queryExecution.toRdd.count()
          (t0, t1, t2, System.nanoTime())
        }
        def s(a: Long, b: Long): Double = (b - a) / 1e9
        println(f"$name%-24s ${s(t0, t1)}%8.3f ${s(t1, t2)}%8.3f ${s(t2, t3)}%8.3f ${s(t0, t3)}%8.3f ${compiles - c0}%8d $jobs%6d")
      } catch { case e: Throwable => println(s"$name FAILED (timed): ${e.getMessage}") }
      if (showStages) {
        // no wait: after a clean timed pass, jobCounter's sentinel job has
        // already flushed its stage events (its own stage is left out)
        val snap = stages.synchronized(stages.toList).filter(st => jobCounter.stageIds(st._1))
        println(s"  ${snap.size} stages, slowest:")
        snap.sortBy(-_._2).take(8).foreach { case (id, ms, nt, sw, sr) =>
          println(f"    stage $id%5d $ms%6d ms $nt%4d tasks  swrite=${sw / 1024}%8d KiB  sread=${sr / 1024}%8d KiB")
        }
      }
    }
    spark.stop()
  }
}

/**
 * Counts the Spark jobs a block starts. The block runs under a local
 * property, which threads it spawns inherit, so their jobs count too.
 * Listener events arrive in order, so once a sentinel job started after the
 * block has been seen, every job of the block has been counted.
 */
final class JobCounter(sc: SparkContext) extends SparkListener {
  private val jobs = new AtomicInteger
  @volatile private var synced = false
  /** The stages of the jobs the last block started. */
  @volatile var stageIds: Set[Int] = Set.empty
  sc.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).map(_.getProperty("graft.jobcounter")).orNull match {
      case "block" => jobs.incrementAndGet(); stageIds ++= e.stageIds
      case "sentinel" => synced = true
      case _ =>
    }

  private def tagged[T](tag: String)(body: => T): T = {
    sc.setLocalProperty("graft.jobcounter", tag)
    try body finally sc.setLocalProperty("graft.jobcounter", null)
  }

  /** Runs `body`; returns its result and the number of jobs it started. */
  def apply[T](body: => T): (T, Int) = {
    jobs.set(0); synced = false; stageIds = Set.empty
    val out = tagged("block")(body)
    tagged("sentinel")(sc.parallelize(Seq(0), 1).count())
    val deadline = System.nanoTime() + 30000000000L
    while (!synced) { require(System.nanoTime() < deadline, "no job-start event in 30 s"); Thread.sleep(2) }
    (out, jobs.get)
  }
}
