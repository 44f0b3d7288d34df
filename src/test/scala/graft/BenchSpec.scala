package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** Bench never times a failed entry as a success: a run that throws
  * fails its entry, which is named in the metrics line and the spread
  * file and left out of the total. */
class BenchSpec extends GraftSpec {

  private val json = new ObjectMapper()

  test("a run that throws fails its entry; a clean entry keeps every timed run") {
    val broken = Bench.measure("q01_agg_groupby", 3) {
      SparkEntry.queries("q01_agg_groupby")(spark, s"$sf/no-such-dir").queryExecution.toRdd.count()
    }
    assert(broken.isLeft, s"an entry over a missing table must fail, got $broken")
    var n = 0
    val flaky = Bench.measure("flaky", 3) { n += 1; if (n == 3) sys.error("second timed run") }
    assert(flaky == Left("java.lang.RuntimeException: second timed run"))
    val clean = Bench.measure("clean", 3)(())
    assert(clean.exists(_.size == 3))
  }

  test("the metrics line names failed entries and leaves them out of total") {
    val results = Seq(
      "a01_ok" -> Right(Seq(1.25, 1.0, 2.0)),
      "a02_broken" -> Left("java.lang.RuntimeException: \"boom\""),
      "q01_ok" -> Right(Seq(0.5, 0.75, 0.5)))
    val (line, spread) = Bench.report(results, "sf0.001", 3)
    val m = json.readTree(line)
    assert(m.get("value").asDouble == 1.5)
    assert(m.get("nq").asInt == 3 && m.get("nfailed").asInt == 1)
    assert(m.get("failed").elements.asScala.map(_.asText).toSeq == Seq("a02_broken"))
    assert(m.get("queries").fieldNames.asScala.toSet == Set("a01_ok", "q01_ok"))
    assert(m.get("allCs").get("a").toString == "[100,null]")
    assert(m.get("allCs").get("q").toString == "[50]")
    val s = json.readTree(spread)
    assert(s.get("spread").fieldNames.asScala.toSeq == Seq("a01_ok", "q01_ok"))
    assert(s.get("spread").get("a01_ok").toString == "[1,1.25,2]")
    assert(s.get("failed").get("a02_broken").asText == "java.lang.RuntimeException: \"boom\"")
  }

  test("the full inventory with many failures still fits the 1900-char line") {
    val names = SparkEntry.queries.keys.toSeq.sorted
    val results = names.zipWithIndex.map { case (n, i) =>
      n -> (if (i % 3 == 0) Left("boom") else Right(Seq(i / 100.0, 1.0, 2.0)))
    }
    val (line, _) = Bench.report(results, "sf0.1", 3)
    assert(line.length <= 1900, s"${line.length} chars")
    val m = json.readTree(line)
    val failed = names.indices.filter(_ % 3 == 0).map(names)
    assert(m.get("nfailed").asInt == failed.size)
    val listed = m.get("failed").elements.asScala.map(_.asText).toSeq
    assert(listed.size > 10 && listed == failed.filter(listed.toSet))
    assert(m.get("allCs").elements.asScala.map(_.size).sum == names.size)
  }
}
