package graft

import org.apache.spark.sql.functions._

/** SQL-registered sketch aggregates (quantile_sketch_agg / merge /
  * sketch_quantile_bin — Presto's qdigest_agg / merge / value_at_quantile
  * surface) and the s09 SQL-text entry that runs the q115 topology
  * through them. */
class SketchSqlSpec extends GraftSpec {

  test("quantile_sketch_agg builds dense 1-based bin counts, growing to the max bin") {
    val r = spark.sql("""
      SELECT quantile_sketch_agg(b) AS sk
      FROM VALUES (1), (1), (3), (2), (3), (3) AS t(b)""").collect().head
    assert(r.getSeq[Long](0) == Seq(2L, 1L, 3L))
  }

  test("quantile_sketch_agg skips nulls and rejects out-of-range bins") {
    val r = spark.sql("""
      SELECT quantile_sketch_agg(b) AS sk
      FROM VALUES (2), (CAST(NULL AS INT)), (2) AS t(b)""").collect().head
    assert(r.getSeq[Long](0) == Seq(0L, 2L))
    val e = intercept[Exception] {
      spark.sql("SELECT quantile_sketch_agg(b) FROM VALUES (0) AS t(b)").collect()
    }
    assert(e.getMessage.contains("bin must be in"))
  }

  test("quantile_sketch_merge pads shorter sketches with zeros") {
    val r = spark.sql("""
      SELECT quantile_sketch_merge(sk) AS m FROM VALUES
        (array(1L, 2L)), (array(0L, 1L, 5L)) AS t(sk)""").collect().head
    assert(r.getSeq[Long](0) == Seq(1L, 3L, 5L))
  }

  test("sketch_quantile_bin reads the CDF like the q115 kernel pick") {
    // counts [2,1,3]: total 6; p50 -> ceil(3)=3 -> bin 2; p95 -> ceil(5.7)=6 -> bin 3
    val r = spark.sql("""
      SELECT sketch_quantile_bin(array(2L, 1L, 3L), 0.5D) AS b50,
             sketch_quantile_bin(array(2L, 1L, 3L), 0.95D) AS b95,
             sketch_quantile_bin(array(2L, 1L, 3L), 0.01D) AS b01""").collect().head
    assert((r.getInt(0), r.getInt(1), r.getInt(2)) == (2, 3, 1))
  }

  test("two-level sketch rollup via SQL aggregates equals a flat count") {
    // leaf sketches per group, merged rollup: total n must equal row count
    val r = spark.sql("""
      WITH leaf AS (
        SELECT g, quantile_sketch_agg(b) AS sk
        FROM VALUES ('a', 1), ('a', 2), ('b', 2), ('b', 2), ('c', 4) AS t(g, b)
        GROUP BY g)
      SELECT quantile_sketch_merge(sk) AS m FROM leaf""").collect().head
    assert(r.getSeq[Long](0) == Seq(1L, 3L, 0L, 1L))
  }

  test("s09 SQL-text sketch topology equals the q115 DataFrame kernel row for row") {
    val want = graft.operators.Relational.q115(spark, sf).collect().toSeq
    val got = GraftCli.queries("s09_sql_sketch_agg")(spark, sf).collect().toSeq
    assert(got == want)
  }

  test("s10 HLL estimates bound against exact distincts; rollup consistent with leaves") {
    // exact distinct custkeys per (status, year) and per status
    val exactLeaf = spark.sql(s"""
      SELECT o_orderstatus, year(o_orderdate) AS yr,
        COUNT(DISTINCT o_custkey) AS n
      FROM parquet.`$sf/orders.parquet` GROUP BY 1, 2""")
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    val exactMerged = spark.sql(s"""
      SELECT o_orderstatus, COUNT(DISTINCT o_custkey) AS n
      FROM parquet.`$sf/orders.parquet` GROUP BY 1""")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val rows = GraftCli.queries("s10_sql_hll")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (level, status, est) = (r.getString(0), r.getString(1), r.getLong(3))
      val exact =
        if (level == "merged") exactMerged(status)
        else exactLeaf((status, r.getInt(2)))
      // lgK=12 HLL standard error is ~1.6%; 5 sigma plus integer slack
      val tol = math.max(3.0, exact * 0.08)
      assert(math.abs(est - exact) <= tol,
        s"$level/$status: estimate $est too far from exact $exact")
    }
    // every status present at both levels, and the rollup estimate is
    // at least the largest leaf estimate for that status (a union can
    // only grow the set)
    val leaves = rows.filter(_.getString(0) == "leaf").groupBy(_.getString(1))
    rows.filter(_.getString(0) == "merged").foreach { m =>
      val maxLeaf = leaves(m.getString(1)).map(_.getLong(3)).max
      assert(m.getLong(3) >= maxLeaf,
        s"rollup of ${m.getString(1)} below its largest leaf")
    }
  }
}
