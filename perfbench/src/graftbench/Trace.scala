package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed interval. `parent` 0 is a root; `op` ties it to one operation. */
final case class Span(id: Long, parent: Long, name: String, op: Long, startUs: Long, endUs: Long) {
  def durUs: Long = math.max(0L, endUs - startUs)
}

/** Spark builds query-execution listeners from the session conf by class
  * name; every instance forwards to the run's tracer. */
class QeListener extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    Option(Tracer.current).foreach(_.onQuery(qe))
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    Option(Tracer.current).foreach(_.onQuery(qe))
}

object Tracer {
  @volatile var current: Tracer = _
  val OpProperty = "graftbench.op"
  /** The optimizer rules GraftExtensions injects. */
  val GraftRules = Seq("FastDecimalCastRule", "IntervalJoinRule", "SelfHammingRule")
  val Phases = Seq("parsing" -> "parse", "analysis" -> "analysis",
    "optimization" -> "optimization", "planning" -> "planning")
}

/**
 * The traced run's instruments: a SparkListener for jobs, stages and
 * tasks, a QueryExecutionListener for planning phases, rule times and
 * executed plans, and the operation spans the load generator reports.
 * Everything stays in memory until the run ends.
 */
class Tracer(cores: Int) {
  import Tracer._

  private val epochUs0 = System.currentTimeMillis() * 1000L
  private val nano0 = System.nanoTime()
  def us(nanoTime: Long): Long = epochUs0 + (nanoTime - nano0) / 1000L

  @volatile private var fromMs = Long.MaxValue
  @volatile private var toMs = Long.MaxValue
  @volatile private var lastEventNs = System.nanoTime()
  private val openJobs = new AtomicLong(0)

  final case class JobRec(id: Int, startMs: Long, endMs: Long, group: String, desc: String, op: Long)
  final case class TaskRec(launchMs: Long, finishMs: Long, runMs: Long, shuffleWrite: Long,
    shuffleRead: Long, fetchWaitMs: Long, spillDisk: Long, peakMem: Long, inBytes: Long,
    inRows: Long, outBytes: Long)
  final case class QueryRec(phases: Map[String, (Long, Long)], graftRuleNs: Long,
    graftRuleEffective: Long, fallbacks: Int, writeFiles: Long, text: String) {
    def startMs: Long = if (phases.isEmpty) 0L else phases.values.map(_._1).min
  }
  final case class OpRec(id: Long, name: String, startUs: Long, midUs: Long, endUs: Long,
    text: String, jdbc: Boolean, rows: Long = 0L)

  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String, String, Long)]()
  private val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val stages = new ConcurrentLinkedQueue[Long]()
  private val tasks = new ConcurrentLinkedQueue[TaskRec]()
  private val queries = new ConcurrentLinkedQueue[QueryRec]()
  private val opRecs = new ConcurrentLinkedQueue[OpRec]()

  private def inWindow(ms: Long): Boolean = ms >= fromMs && ms <= toMs

  val listener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      lastEventNs = System.nanoTime()
      openJobs.incrementAndGet()
      val p = Option(e.properties)
      def prop(k: String): String = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
      jobStarts.put(e.jobId, (e.time, prop("spark.jobGroup.id"), prop("spark.job.description"),
        scala.util.Try(prop(OpProperty).toLong).getOrElse(0L)))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      lastEventNs = System.nanoTime()
      openJobs.decrementAndGet()
      Option(jobStarts.remove(e.jobId)).foreach { case (start, group, desc, op) =>
        if (inWindow(start)) jobs.add(JobRec(e.jobId, start, e.time, group, desc, op))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      lastEventNs = System.nanoTime()
      e.stageInfo.submissionTime.filter(inWindow).foreach(stages.add)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      lastEventNs = System.nanoTime()
      val i = e.taskInfo
      val m = e.taskMetrics
      if (m != null && inWindow(i.launchTime)) tasks.add(TaskRec(i.launchTime, i.finishTime,
        m.executorRunTime, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleReadMetrics.fetchWaitTime,
        m.diskBytesSpilled, m.peakExecutionMemory, m.inputMetrics.bytesRead,
        m.inputMetrics.recordsRead, m.outputMetrics.bytesWritten))
    }
  }

  def attach(spark: SparkSession): Unit = {
    current = this
    spark.sparkContext.addSparkListener(listener)
  }

  private object Plans extends AdaptiveSparkPlanHelper

  def onQuery(qe: QueryExecution): Unit = {
    lastEventNs = System.nanoTime()
    val phases = qe.tracker.phases.map { case (k, v) => k -> (v.startTimeMs, v.endTimeMs) }
    if (phases.nonEmpty && inWindow(phases.values.map(_._1).min)) {
      val rules = qe.tracker.rules.filter { case (k, _) => GraftRules.exists(k.contains) }.values
      val plan: SparkPlan = scala.util.Try(qe.executedPlan).getOrElse(null)
      val fallbacks = if (plan == null) 0 else Plans.collectWithSubqueries(plan) { case p =>
        p.expressions.map(_.collect { case f: CodegenFallback => f }.size).sum
      }.sum
      val files = if (plan == null) 0L else Plans.collect(plan) {
        case w: DataWritingCommandExec => w.cmd.metrics.get("numFiles").map(_.value).getOrElse(0L)
      }.sum
      val text = qe.logical.origin.sqlText.getOrElse("").trim
      queries.add(QueryRec(phases, rules.map(_.totalTimeNs).sum,
        rules.map(_.numEffectiveInvocations).sum, fallbacks, files, text))
    }
  }

  /** Tag the calling thread's jobs with the operation about to run. */
  def opStart(spark: SparkSession, id: Long): Unit =
    spark.sparkContext.setLocalProperty(OpProperty, id.toString)

  def opEnd(id: Long, name: String, t0: Long, t1: Long, t2: Long): Unit =
    opRecs.add(OpRec(id, name, us(t0), us(t1), us(t2), "", jdbc = false))

  def stmtEnd(id: Long, name: String, text: String, t0: Long, t1: Long, t2: Long, rows: Long): Unit =
    opRecs.add(OpRec(id, name, us(t0), us(t1), us(t2), text, jdbc = true, rows))

  def startWindow(): Unit = {
    fromMs = System.currentTimeMillis()
    JvmStats.resetHeapPeak()
  }

  /** Close the window, then wait for the listener buses to drain: Spark
    * delivers listener events asynchronously. */
  def endWindow(): Unit = {
    toMs = System.currentTimeMillis()
    val deadline = System.nanoTime() + 20L * 1000000000L
    while (System.nanoTime() < deadline &&
      (openJobs.get() > 0 || System.nanoTime() - lastEventNs < 500L * 1000000L)) Thread.sleep(50)
  }

  private def per(x: Double, n: Int): Double = if (n == 0) 0.0 else x / n
  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else { val s = xs.sorted; val m = s.size / 2
      if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2 }

  /** Total length of the union of closed intervals. */
  private def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** The per-layer metrics of the window. Counts, bytes and times are per
    * operation, so runs of different lengths compare. */
  def layers(ops: Seq[Op], windowS: Double, jvm0: JvmStats.Snap, jvm1: JvmStats.Snap): Map[String, Double] = {
    val n = ops.size
    val ts = tasks.asScala.toSeq
    val qs = queries.asScala.toSeq
    val js = jobs.asScala.toSeq
    val windowMs = (toMs - fromMs).toDouble
    val busyMs = ts.map(_.runMs).sum.toDouble
    val ranMs = unionMs(ts.map(t => (math.max(t.launchMs, fromMs), math.min(t.finishMs, toMs))))
    val inBytes = ts.map(_.inBytes).sum.toDouble
    val outBytes = ts.map(_.outBytes).sum.toDouble
    def phaseMs(p: String): Double = qs.flatMap(_.phases.get(p)).map(x => (x._2 - x._1).toDouble).sum
    val planMs = Phases.map(p => phaseMs(p._1)).sum
    // planning inside the timed execution: an in-process action, or a
    // statement's executeQuery (tied by text, as two statements overlap)
    val recs = opRecs.asScala.toSeq
    def inExecution(q: QueryRec): Boolean = {
      val s = q.startMs * 1000
      recs.exists(o => if (o.jdbc) s >= o.startUs && s <= o.midUs && (q.text.isEmpty || o.text == q.text)
        else s >= o.midUs && s <= o.endUs)
    }
    val executionPlanMs = qs.filter(inExecution)
      .map(q => Phases.flatMap(p => q.phases.get(p._1)).map(x => (x._2 - x._1).toDouble).sum).sum
    val byEntry = ops.groupBy(_.name)
    Map(
      "plan.graft_rules_ms" -> per(qs.map(_.graftRuleNs).sum / 1e6, n),
      "plan.graft_rules_effective" -> per(qs.map(_.graftRuleEffective).sum.toDouble, n),
      "plan.codegen_fallback_exprs" -> per(qs.map(_.fallbacks).sum.toDouble, n),
      "op.build_s" -> per(ops.map(_.buildNs).sum / 1e9, n),
      "op.plan_s" -> per(planMs / 1e3, n),
      "op.exec_s" -> math.max(0.0, per(ops.map(_.executeNs).sum / 1e9 - executionPlanMs / 1e3, n)),
      "sched.jobs" -> per(js.size.toDouble, n),
      "sched.stages" -> per(stages.size.toDouble, n),
      "sched.tasks" -> per(ts.size.toDouble, n),
      "sched.task_busy_s" -> per(busyMs / 1e3, n),
      "sched.core_util" -> (if (windowMs <= 0) 0.0 else busyMs / (windowMs * cores)),
      "sched.task_overhead_ms" -> (if (ts.isEmpty) 0.0 else
        ts.map(t => (t.finishMs - t.launchMs - t.runMs).toDouble).sum / ts.size),
      "sched.driver_gap_s" -> per(math.max(0.0, windowMs - ranMs) / 1e3, n),
      "shuffle.write_bytes" -> per(ts.map(_.shuffleWrite).sum.toDouble, n),
      "shuffle.read_bytes" -> per(ts.map(_.shuffleRead).sum.toDouble, n),
      "shuffle.fetch_wait_ms" -> per(ts.map(_.fetchWaitMs).sum.toDouble, n),
      "shuffle.spill_disk_bytes" -> per(ts.map(_.spillDisk).sum.toDouble, n),
      "shuffle.peak_exec_mem_mb" -> (if (ts.isEmpty) 0.0 else ts.map(_.peakMem).max / 1048576.0),
      "io.read_bytes" -> per(inBytes, n),
      "io.read_rows" -> per(ts.map(_.inRows).sum.toDouble, n),
      "io.write_bytes" -> per(outBytes, n),
      "io.write_files" -> per(qs.map(_.writeFiles).sum.toDouble, n),
      "io.write_per_read" -> (if (inBytes == 0) 0.0 else outBytes / inBytes),
      "jvm.gc_ms" -> per((jvm1.gcMs - jvm0.gcMs).toDouble, n),
      "jvm.gc_count" -> per((jvm1.gcCount - jvm0.gcCount).toDouble, n),
      "jvm.heap_peak_mb" -> JvmStats.heapPeakMb(),
      "jvm.peak_rss_mb" -> JvmStats.peakRssMb(),
      "server.connect_ms" -> 0.0, "server.execute_ms" -> 0.0, "server.fetch_ms" -> 0.0,
      "server.rows_fetched" -> 0.0, "server.overhead_ms" -> 0.0
    ) ++ Phases.map { case (p, short) => s"plan.${short}_ms" -> per(phaseMs(p), n) } ++
      byEntry.map { case (e, os) => s"op.$e.s" -> os.map(_.latencyMs).sum / 1e3 / os.size }
  }

  /** Front-door layer of the JDBC workload: connect, execute and fetch
    * as the client sees them, and the client latency Spark execution
    * does not account for (jobs are grouped per statement by the
    * thrift server's job group). */
  def serverLayers(connectMs: Seq[Double]): Map[String, Double] = {
    val stmts = opRecs.asScala.filter(_.jdbc).toSeq
    val groups = jobs.asScala.toSeq.filter(_.group.nonEmpty).groupBy(_.group)
    val execMs = groups.values.map(js => unionMs(js.map(j => (j.startMs, j.endMs))).toDouble).toSeq
    val latencyMs = stmts.map(s => (s.endUs - s.startUs) / 1e3)
    Map(
      "server.connect_ms" -> median(connectMs),
      "server.execute_ms" -> median(stmts.map(s => (s.midUs - s.startUs) / 1e3)),
      "server.fetch_ms" -> median(stmts.map(s => (s.endUs - s.midUs) / 1e3)),
      "server.rows_fetched" -> per(stmts.map(_.rows).sum.toDouble, stmts.size),
      "server.overhead_ms" -> (if (stmts.isEmpty || execMs.isEmpty) 0.0 else
        latencyMs.sum / stmts.size - execMs.sum / execMs.size))
  }

  /** Spans for every operation, its build/action (or execute/fetch) parts,
    * its planning phases and its jobs. Returns each span name's self time
    * (span minus children) in seconds per operation. */
  def writeSpans(path: String): Map[String, Double] = {
    val ids = new AtomicLong(0)
    val out = mutable.ArrayBuffer[Span]()
    def add(parent: Long, name: String, op: Long, s: Long, e: Long): Long = {
      val id = ids.incrementAndGet()
      out += Span(id, parent, name, op, s, e)
      id
    }
    val ops = opRecs.asScala.toSeq.sortBy(_.startUs)
    // (op, part span id, part start, part end, text)
    val parts = ops.flatMap { o =>
      val root = add(0, "op", o.id, o.startUs, o.endUs)
      val (p1, p2) = if (o.jdbc) ("server.execute", "server.fetch") else ("build", "action")
      Seq((o, add(root, p1, o.id, o.startUs, o.midUs), o.startUs, o.midUs),
        (o, add(root, p2, o.id, o.midUs, o.endUs), o.midUs, o.endUs))
    }
    def owner(startUs: Long, text: String): Option[(OpRec, Long, Long, Long)] =
      parts.find { case (o, _, s, e) =>
        startUs >= s && startUs <= e && (!o.jdbc || text.isEmpty || o.text == text)
      }
    queries.asScala.foreach { q =>
      owner(q.startMs * 1000, q.text).foreach { case (o, pid, _, _) =>
        Phases.foreach { case (p, short) => q.phases.get(p).foreach { case (s, e) =>
          add(pid, s"plan.$short", o.id, s * 1000, e * 1000) } }
      }
    }
    jobs.asScala.foreach { j =>
      val parent = if (j.op != 0) parts.find(p => p._1.id == j.op && j.startMs * 1000 >= p._3 &&
          j.startMs * 1000 <= p._4) else owner(j.startMs * 1000, j.desc.trim)
      parent.foreach { case (o, pid, _, _) => add(pid, "sched.job", o.id, j.startMs * 1000, j.endMs * 1000) }
    }
    val w = new java.io.PrintWriter(path, "UTF-8")
    try out.foreach(s => w.println(Main.json.writeValueAsString(Map(
      "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "op" -> s.op,
      "start_us" -> s.startUs, "end_us" -> s.endUs))))
    finally w.close()
    val children = out.groupBy(_.parent)
    val self = out.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map(s => math.max(0L, s.durUs - children.getOrElse(s.id, Nil).map(_.durUs).sum)).sum
    }
    self.map { case (k, v) => k -> per(v / 1e6, ops.size) }
  }
}

/** Single-threaded timings of the graft.functions.Kernels methods the
  * curation plans call, on the workload's document sample. */
object KernelBench {
  import graft.functions.Kernels
  import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
  import org.apache.spark.unsafe.types.UTF8String

  @volatile private var sink: Any = _

  private def nsPerDoc(n: Int)(f: Int => Any): Double = {
    (0 until n).foreach(i => sink = f(i))
    var sweeps = 0
    val t0 = System.nanoTime()
    while (System.nanoTime() - t0 < 200L * 1000000L || sweeps < 2) {
      var i = 0
      while (i < n) { sink = f(i); i += 1 }
      sweeps += 1
    }
    (System.nanoTime() - t0).toDouble / (sweeps.toLong * n)
  }

  def run(texts: Seq[String]): Map[String, Double] = {
    val n = texts.size
    val words: Array[ArrayData] = texts.map(t => new GenericArrayData(
      t.trim.toLowerCase.split("\\s+").map(w => UTF8String.fromString(w): Any)): ArrayData).toArray
    val utf = texts.map(UTF8String.fromString).toArray
    val syms = texts.map(t => UTF8String.fromString(t.filterNot(_.isWhitespace).take(256)
      .mkString(" "))).toArray
    val (a, b) = (UTF8String.fromString("a"), UTF8String.fromString("t"))
    Map(
      "kernel.minhashWords3.ns_per_doc" -> nsPerDoc(n)(i => Kernels.minhashWords3(words(i), 128)),
      "kernel.winnowWords3.ns_per_doc" -> nsPerDoc(n)(i => Kernels.winnowWords3(words(i), 4)),
      "kernel.wordGrams.ns_per_doc" -> nsPerDoc(n)(i => Kernels.wordGrams(words(i), 8)),
      "kernel.bpeMerge.ns_per_doc" -> nsPerDoc(n)(i => Kernels.bpeMerge(syms(i), a, b)),
      "kernel.fingerprint.ns_per_doc" -> nsPerDoc(n)(i => Kernels.fingerprint(utf(i))))
  }
}
