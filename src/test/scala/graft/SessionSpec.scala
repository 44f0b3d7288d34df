package graft

import scala.jdk.CollectionConverters._

/** The cluster-elasticity surface: the reference's add_worker/del_worker
  * maps to a declared executor range under dynamic allocation. */
class SessionSpec extends GraftSpec {

  test("elasticity confs declare a worker range with safe scale-in") {
    val c = GraftSession.elasticityConfs(minWorkers = 1, maxWorkers = 100,
      initialWorkers = 4)
    assert(c("spark.dynamicAllocation.enabled") == "true")
    assert(c("spark.dynamicAllocation.minExecutors") == "1")
    assert(c("spark.dynamicAllocation.maxExecutors") == "100")
    assert(c("spark.dynamicAllocation.initialExecutors") == "4")
    // without shuffle tracking (or an external shuffle service), removing
    // an executor mid-query loses its shuffle output — must be on
    assert(c("spark.dynamicAllocation.shuffleTracking.enabled") == "true")
  }

  test("clusterBuilder composes graft defaults with the elasticity surface") {
    // builder construction must be side-effect free (no session started)
    val b = GraftSession.clusterBuilder("spark://example:7077", maxWorkers = 8)
    assert(b != null)
  }

  test("every main builds its session through GraftSession") {
    // one way to build a session: the oracle gate, the bench, the CLI and
    // the server must all run with graft's extensions, rules and serializer
    val builderCall = """SparkSession\s*\.\s*builder\s*\(""".r
    val offenders = {
      val files = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
      try files.iterator().asScala.toVector finally files.close()
    }.filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != "GraftSession.scala")
      .filter(p => builderCall.findFirstIn(java.nio.file.Files.readString(p)).isDefined)
    assert(offenders.isEmpty,
      s"build sessions with GraftSession.builder/get, not SparkSession.builder(): ${offenders.mkString(", ")}")
  }

  test("the session parser reads statements as Presto SQL and leaves expression strings to Spark") {
    // statement text is rewritten: a subscript is Presto's 1-based one
    assert(spark.sql("SELECT array(10,20,30)[1]").head().getInt(0) == 10)
    // expression strings (expr, selectExpr, filter) keep Spark's 0-based one
    assert(spark.range(1).select(org.apache.spark.sql.functions.expr("array(10,20,30)[1]"))
      .head().getInt(0) == 20)
    // named parameters survive the rewrite (parsePlanWithParameters)
    assert(spark.sql("SELECT :k AS v", Map("k" -> 7)).head().getInt(0) == 7)
  }

  test("the session parser is the one caller of PrestoRewrite") {
    // a second caller would be a second dialect path, one that a JDBC
    // statement or a prepared template can miss
    val rewriteCall = """PrestoRewrite\s*(\(|\.\s*apply\b)""".r
    val offenders = {
      val files = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
      try files.iterator().asScala.toVector finally files.close()
    }.filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != "GraftFunctions.scala")
      .filter(p => rewriteCall.findFirstIn(java.nio.file.Files.readString(p)).isDefined)
    assert(offenders.isEmpty,
      s"only functions.GraftParser applies PrestoRewrite: ${offenders.mkString(", ")}")
  }

  test("active session carries graft engine defaults") {
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(spark.conf.get("spark.sql.extensions") == "graft.functions.GraftExtensions")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == "4096")
  }

  test("reliable-checkpoint mode: same results, digest-identical plans (q115/e13/q126/p05)") {
    val entries = Seq("q115_sketch_quantile", "e13_rfm", "q126_map_cosine",
      "p05_shard_pack")
    val before = entries.map(n => n -> SparkEntry.queries(n)(spark, sf).collect().toSeq)
    val digestsBefore = entries.map(n =>
      n -> graft.plans.PlanDigest.canonical(SparkEntry.queries(n)(spark, sf)))
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    spark.conf.set(graft.plans.Checkpoints.ReliableConf, "true")
    try {
      before.foreach { case (n, want) =>
        val got = SparkEntry.queries(n)(spark, sf).collect().toSeq
        assert(got == want, s"$n changed results under reliable checkpointing")
      }
      digestsBefore.foreach { case (n, want) =>
        val got = graft.plans.PlanDigest.canonical(SparkEntry.queries(n)(spark, sf))
        assert(got == want, s"$n plan digest moved under reliable checkpointing")
      }
      // the reliable blocks actually landed on the checkpoint dir
      val files = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(java.nio.file.Files.isRegularFile(_)).count()
      assert(files > 0, "reliable mode must write checkpoint blocks to the shared dir")
    } finally spark.conf.unset(graft.plans.Checkpoints.ReliableConf)
  }

  test("dynamic allocation scales executors UP under backlog (live local-cluster run)") {
    // the reference's add_worker half (presto-mgr.py:177-181), observed
    // LIVE: ElasticityProbe starts a local-cluster[2,2,…] mini-standalone
    // cluster with initialExecutors=1, runs a wide shuffle job, and the
    // allocation manager must grow to the second executor. local-cluster
    // needs to OWN its SparkContext, so the probe runs in its own JVM
    // (scripts/graft_java.sh) and reports machine-checkable lines.
    val repo = new java.io.File(".").getCanonicalPath
    val pb = new ProcessBuilder("bash", s"$repo/scripts/graft_java.sh",
      "graft.tools.ElasticityProbe")
    pb.environment().put("SPARK_HOME", "/opt/spark")
    // the launcher library resolves the executor classpath via scala
    // version when launched outside the distribution's shell scripts
    pb.environment().put("SPARK_SCALA_VERSION", "2.13")
    pb.environment().put("GRAFT_XMX", "2g")
    pb.redirectErrorStream(true)
    val proc = pb.start()
    val out = new String(proc.getInputStream.readAllBytes(), "UTF-8")
    val finished = proc.waitFor(300, java.util.concurrent.TimeUnit.SECONDS)
    assert(finished, "elasticity probe did not finish in 300s")
    assert(proc.exitValue() == 0, s"probe failed:\n${out.takeRight(2000)}")
    val lines = out.linesIterator.filter(_.startsWith("[elasticity]")).toSeq
    assert(lines.exists(_.contains("initial=1")),
      s"initial allocation must register exactly the configured floor: $lines")
    assert(lines.exists(_.contains("grew=true")),
      s"allocation manager must scale UP under sustained backlog: $lines")
    assert(lines.exists(l => l.contains("max=2")),
      s"the second worker's executor must come up: $lines")
  }

}
