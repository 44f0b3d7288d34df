package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

import graft.operators.TpchSql

/** Generated code stays resident across statements. A mixed workload
  * replays more distinct whole-stage classes than Spark's default codegen
  * cache keeps (100), and an LRU smaller than a replayed cycle evicts
  * every class before its next use: each pass recompiled everything with
  * Janino. GraftSession sizes the cache to graft's working set; this pins
  * it on the 22 TPC-H texts, a set bigger than the default bound. */
class CodegenCacheSpec extends GraftSpec {

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("a second pass of the 22 TPC-H texts reuses the first pass's classes") {
    val names = TpchSql.texts.map(_._1) :+ "s11_sql_tpch"
    assert(names.size == 22)
    def pass(): Long = {
      val c0 = compiles
      names.foreach(n => SparkEntry.queries(n)(spark, sf).collect())
      compiles - c0
    }
    // Start cold whatever ran before in this JVM (TpchSqlSpec plans the
    // same texts): the cache is JVM-wide and has no public reset. The
    // session comes first: the cache takes its bound from the conf that is
    // active when CodeGenerator initializes.
    val bound = spark.conf.get("spark.sql.codegen.cache.maxEntries")
    val cacheOf = CodeGenerator.getClass.getDeclaredMethod("cache")
    cacheOf.setAccessible(true)
    val cache = cacheOf.invoke(CodeGenerator)
    cache.getClass.getMethod("invalidateAll").invoke(cache)
    val first = pass()
    val second = pass()
    info(s"Janino compiles: $first on the first pass, $second on the second")
    assert(first > 100,
      s"the first pass compiled $first classes; the spec needs a working set above Spark's default bound of 100")
    assert(second <= first / 10,
      s"the second pass recompiled $second of the first pass's $first classes (cache bound $bound)")
  }
}
