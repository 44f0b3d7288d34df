package graft.tools

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
 * cache too small for the working set.
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
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        stages.synchronized { stages += ((si.stageId,
          si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L),
          si.numTasks, si.taskMetrics.shuffleWriteMetrics.bytesWritten,
          si.taskMetrics.shuffleReadMetrics.totalBytesRead)) }
      }
    })
    def compiles: Long = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    println(f"${"entry"}%-24s ${"build"}%8s ${"plan"}%8s ${"exec"}%8s ${"total"}%8s ${"compiles"}%8s")
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
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val t1 = System.nanoTime()
        df.queryExecution.executedPlan
        val t2 = System.nanoTime()
        df.queryExecution.toRdd.count()
        val t3 = System.nanoTime()
        def s(a: Long, b: Long): Double = (b - a) / 1e9
        println(f"$name%-24s ${s(t0, t1)}%8.3f ${s(t1, t2)}%8.3f ${s(t2, t3)}%8.3f ${s(t0, t3)}%8.3f ${compiles - c0}%8d")
      } catch { case e: Throwable => println(s"$name FAILED (timed): ${e.getMessage}") }
      if (showStages) {
        Thread.sleep(300)
        val snap = stages.synchronized(stages.toList)
        println(s"  ${snap.size} stages, slowest:")
        snap.sortBy(-_._2).take(8).foreach { case (id, ms, nt, sw, sr) =>
          println(f"    stage $id%5d $ms%6d ms $nt%4d tasks  swrite=${sw / 1024}%8d KiB  sread=${sr / 1024}%8d KiB")
        }
      }
    }
    spark.stop()
  }
}
