package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    // optional 3rd arg: comma-separated query names (local iteration only)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // SPARK_GRAFT_MASTER lets the same dump run under local-cluster[N,c,m]
    // (real multi-JVM executors: serialized closures, network shuffle
    // exchanges, materialized broadcasts) for scale-posture evidence —
    // the closest local analogue to the reference's add_worker surface.
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")
    // the session that ships (extensions, graft optimizer rules, Kryo,
    // system catalog), so the oracle gate checks what users run
    val spark = GraftSession.get(master, cpus.toInt)
    // reliable-checkpoint mode (spark.graft.checkpoint.reliable=true via
    // --conf / spark-submit) needs a checkpoint dir every executor can
    // reach; SPARK_GRAFT_CKPT_DIR pins it (a local path is genuinely
    // shared under local-cluster[N,..] — one machine, many JVMs)
    if (spark.conf.getOption(graft.plans.Checkpoints.ReliableConf).exists(_.toBoolean)
        && spark.sparkContext.getCheckpointDir.isEmpty)
      spark.sparkContext.setCheckpointDir(sys.env.getOrElse("SPARK_GRAFT_CKPT_DIR",
        Files.createTempDirectory("graft-ckpt").toString))
    new java.io.File(outDir).mkdirs()
    // Defense in depth: the bucketed dedup entries (d02/d03/d05/d06/d10…)
    // read the mutable session conf spark.graft.dedup.maxBucket at
    // plan-build while their DuckDB oracles hard-code the default cap of
    // 1000. GraftCli.sessionEntry restores the conf in a finally, but any
    // future path that left it set in this shared session would fail the
    // gate as a confusing dedup mismatch — pin the default before the
    // query loop so the oracle contract can't drift with session state.
    spark.conf.unset("spark.graft.dedup.maxBucket")
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
