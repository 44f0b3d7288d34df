package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** Command line of the measured JVM. `run.py` fills it in; see README.md. */
final case class Args(
    workload: String, seed: Long, seconds: Double, trace: Boolean,
    data: String, out: String, cpus: Int)

object Args {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("data"), need("out"),
      m.get("cpus").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors))
  }
}

/**
 * The measured process. One run: set the workload up (timed from JVM
 * launch), replay whole seeded passes over its operations until `seconds`
 * have passed (at least one pass), leave every timed operation's output
 * where its `output` path points for the oracle check, and write
 * `report.json` into `out`. With `trace`, listeners and spans also run and
 * the per-layer metrics land in the same report.
 *
 * Set-up runs once: the thrift endpoint of `tpch_jdbc` cannot bind again
 * inside one JVM, so a second set-up would need a second JVM per run.
 */
object Main {
  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** Exits explicitly: the thrift endpoint leaves non-daemon threads. */
  def main(argv: Array[String]): Unit = {
    val code = try { run(Args.parse(argv)); 0 } catch { case e: Throwable =>
      e.printStackTrace()
      1
    }
    System.exit(code)
  }

  private def run(a: Args): Unit = {
    Files.createDirectories(Paths.get(a.out))
    val workload: Workload = a.workload match {
      case "tpch_jdbc" => new TpchJdbc(a)
      case "curation_sf1" => new Curation(a)
      case w => sys.error(s"unknown workload $w")
    }
    val tracer = if (a.trace) Some(new Tracer(a.cpus)) else None
    val launchMs = ManagementFactory.getRuntimeMXBean.getStartTime
    workload.setUp(tracer)
    val setupS = (System.currentTimeMillis() - launchMs) / 1e3
    tracer.foreach(_.startWindow())
    val jvm0 = JvmStats.snapshot()
    val t0 = System.nanoTime()
    val ops = workload.measure(a.seconds, tracer)
    val windowS = (System.nanoTime() - t0) / 1e9
    val jvm1 = JvmStats.snapshot()
    tracer.foreach(_.endWindow())
    val layers = tracer.map(t => t.layers(ops, windowS, jvm0, jvm1) ++
      workload.layerExtras(t) ++ KernelBench.run(workload.kernelSample()))
    workload.dumpOutputs()
    val selfTimes = tracer.map(_.writeSpans(s"${a.out}/spans.jsonl"))
    val oracle = workload.oracleSql
    val report = Map(
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
      "setup_s" -> setupS,
      "window_s" -> windowS,
      "ops" -> ops.map(_.toMap),
      "warm_failures" -> workload.warmFailures.toSeq,
      "layers" -> layers.getOrElse(Map.empty),
      "self_s" -> selfTimes.getOrElse(Map.empty),
      "host" -> Host.fingerprint(workload.sparkVersion, a),
      "oracle_sql" -> oracle)
    Files.writeString(Paths.get(s"${a.out}/report.json"), json.writeValueAsString(report))
  }
}

/** One timed operation as the load generator saw it. */
final case class Op(
    name: String, id: Long, conn: Int, startNs: Long, endNs: Long,
    ok: Boolean, error: String, hash: String, rows: Long,
    buildNs: Long = 0L, executeNs: Long = 0L, pass: Int = 0, output: String = "") {
  def latencyMs: Double = (endNs - startNs) / 1e6
  def toMap: Map[String, Any] = Map(
    "name" -> name, "id" -> id, "conn" -> conn, "pass" -> pass,
    "start_ms" -> startNs / 1e6, "latency_ms" -> latencyMs,
    "ok" -> ok, "error" -> error, "hash" -> hash, "rows" -> rows,
    "build_ms" -> buildNs / 1e6, "execute_ms" -> executeNs / 1e6, "output" -> output)
}

object Host {
  def fingerprint(sparkVersion: String, a: Args): Map[String, Any] = Map(
    "nproc" -> Runtime.getRuntime.availableProcessors,
    "cpus" -> a.cpus,
    "xmx_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
    "jdk" -> System.getProperty("java.vm.version"),
    "spark" -> sparkVersion,
    "data" -> a.data)
}

object JvmStats {
  import scala.jdk.CollectionConverters._

  final case class Snap(gcMs: Long, gcCount: Long)

  def snapshot(): Snap = {
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    Snap(gcs.map(_.getCollectionTime).sum, gcs.map(_.getCollectionCount).sum)
  }

  def resetHeapPeak(): Unit = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).foreach(_.resetPeakUsage())

  def heapPeakMb(): Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** VmHWM of this JVM: the most resident memory it ever held. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse(sys.error("no VmHWM in /proc/self/status"))
    line.split("\\s+")(1).toLong / 1024.0
  }
}
