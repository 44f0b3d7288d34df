package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.operators.QuantileSketch

/** Randomized harness for the histogram quantile sketch: across seeded
  * random datasets — uniform, heavy-tailed, constant-column (hi = lo),
  * single-row groups, duplicate-heavy — the sketch must (a) conserve
  * counts leaf → merged, (b) keep p50 ≤ p95 ≤ p99, and (c) bound every
  * reported quantile within one bin width of the exact ceil-rank
  * element. Seeds are fixed, so a failure reproduces, never flakes. */
class QuantileSketchPropertySpec extends GraftSpec {

  private val schema = StructType(Seq(
    StructField("g1", StringType, nullable = false),
    StructField("g2", StringType, nullable = false),
    StructField("x", DoubleType, nullable = false)))

  private def gen(r: scala.util.Random, n: Int): Seq[Row] =
    (0 until n).map { _ =>
      val g1 = s"a${r.nextInt(3)}"
      val g2 = s"b${r.nextInt(2)}"
      val x = r.nextInt(4) match {
        case 0 => r.nextDouble() * 1000.0
        case 1 => math.pow(r.nextDouble(), 4) * 1e6          // heavy tail
        case 2 => 42.0                                       // duplicates
        case _ => -500.0 + r.nextDouble()                    // negative band
      }
      Row(g1, g2, x)
    }

  test("sketch conserves counts, orders quantiles, stays within one bin width") {
    for (seed <- 1 to 6) {
      val r = new scala.util.Random(seed)
      val rows = if (seed == 3) {
        // degenerate: every value identical -> hi = lo, all mass in bin 1
        (0 until 50).map(_ => Row("a0", "b0", 7.5))
      } else gen(r, 1 + r.nextInt(2000))
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 4), schema)
      val rep = QuantileSketch.report(df).collect()
      assert(rep.nonEmpty, s"seed $seed")

      val (leaf, merged) = rep.partition(_.getAs[String]("level") == "leaf")
      val leafN = leaf.groupBy(_.getAs[String]("g1"))
        .view.mapValues(_.map(_.getAs[Long]("n")).sum).toMap
      merged.foreach { m =>
        assert(m.getAs[Long]("n") == leafN(m.getAs[String]("g1")),
          s"seed $seed: merged count must equal the sum of its leaf sketches")
      }

      val lo = rows.map(_.getDouble(2)).min
      val hi = rows.map(_.getDouble(2)).max
      val binW = (hi - lo) / QuantileSketch.Bins
      // lo > 0 → the sketch's log-scaled regime: the bound is one
      // multiplicative bin factor, not one absolute bin width
      val logMode = lo > 0 && hi != lo
      val ratio = if (logMode) math.pow(hi / lo, 1.0 / QuantileSketch.Bins) else 1.0
      val tol = math.max(1e-4, math.abs(hi) * 1e-9)
      def exact(vs: Seq[Double], p: Double): Double =
        vs.sorted.apply(math.ceil(vs.size * p).toInt - 1)
      def group(level: String, g1: String, g2: String): Seq[Double] =
        if (level == "merged") rows.filter(_.getString(0) == g1).map(_.getDouble(2))
        else rows.filter(x => x.getString(0) == g1 && x.getString(1) == g2)
          .map(_.getDouble(2))

      rep.foreach { row =>
        val p50 = row.getAs[Double]("p50")
        val p95 = row.getAs[Double]("p95")
        val p99 = row.getAs[Double]("p99")
        assert(p50 <= p95 + tol && p95 <= p99 + tol, s"seed $seed: $row")
        val vs = group(row.getAs[String]("level"),
          row.getAs[String]("g1"), row.getAs[String]("g2"))
        assert(vs.size.toLong == row.getAs[Long]("n"), s"seed $seed: $row")
        Seq(0.5 -> p50, 0.95 -> p95, 0.99 -> p99).foreach { case (p, v) =>
          val ex = exact(vs, p)
          if (logMode)
            assert(v <= ex + tol && ex <= v * ratio + tol,
              s"seed $seed p=$p: exact=$ex sketch=$v ratio=$ratio n=${vs.size}")
          else
            assert(v <= ex + tol && ex <= v + binW + tol,
              s"seed $seed p=$p: exact=$ex sketch=$v binW=$binW n=${vs.size}")
        }
      }
    }
  }

  test("log-scaled bins bound p99 RELATIVE error on lognormal data") {
    for (seed <- 7 to 9) {
      val r = new scala.util.Random(seed)
      // lognormal spanning ~6 decades — the heavy-tailed price/latency
      // shape where equi-width bins would lump 99% of the mass into bin
      // 1 and report a p99 off by orders of magnitude
      val rows = (0 until 3000).map { _ =>
        Row(s"a${r.nextInt(2)}", s"b${r.nextInt(2)}",
          math.exp(r.nextGaussian() * 2.0 + 3.0))
      }
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 4), schema)
      val rep = QuantileSketch.report(df).collect()
      val lo = rows.map(_.getDouble(2)).min
      val hi = rows.map(_.getDouble(2)).max
      assert(lo > 0, s"seed $seed must generate a strictly positive domain")
      val ratio = math.pow(hi / lo, 1.0 / QuantileSketch.Bins)
      // the whole point: even across ~6 decades one bin is a small factor
      assert(ratio - 1 < 0.15, s"seed $seed: per-bin factor too coarse: $ratio")
      def exact(vs: Seq[Double], p: Double): Double =
        vs.sorted.apply(math.ceil(vs.size * p).toInt - 1)
      rep.foreach { row =>
        val vs =
          if (row.getAs[String]("level") == "merged")
            rows.filter(_.getString(0) == row.getAs[String]("g1")).map(_.getDouble(2))
          else rows.filter(x => x.getString(0) == row.getAs[String]("g1") &&
            x.getString(1) == row.getAs[String]("g2")).map(_.getDouble(2))
        val ex = exact(vs, 0.99)
        val v = row.getAs[Double]("p99")
        assert(v <= ex + 1e-3 && ex <= v * ratio + 1e-3,
          s"seed $seed: p99 relative error beyond one log bin: " +
            s"exact=$ex sketch=$v ratio=$ratio")
      }
    }
  }

  test("binary-search binning equals the count-of-edges definition, " +
       "including sub-grid plateau regions") {
    // The kernel's edge_bin IS the count of edges <= x (binary search over
    // the snapped table) — this replays the count definition literally on
    // the driver over a domain where adjacent log edges collapse on the
    // 1e-6 rounding grid (lo near the grid, e.g. e12's 1µs-resolution
    // gaps), the shape where the retired r10 candidate-±1 scheme could
    // land on a plateau bin whose rounded edge exceeded x.
    def round6(v: Double): Double =
      BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    for (seed <- 10 to 12) {
      val r = new scala.util.Random(seed)
      // integer-microsecond gaps scaled to seconds: lo = 1e-6 forces the
      // first dozens of log edges onto the same rounded value
      val rows = Seq(Row("a0", "b0", 1e-6)) ++ (0 until 2000).map { _ =>
        Row("a0", s"b${r.nextInt(2)}",
          (1L + r.nextInt(100000000)).toDouble / 1e6)
      }
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 4), schema)
      val rep = QuantileSketch.report(df).collect()

      val xs = rows.map(_.getDouble(2))
      val lo = xs.min
      val hi = xs.max
      val edges = (1 to QuantileSketch.Bins).map(j => round6(math.exp(
        math.log(lo) + (j - 1.0) * (math.log(hi) - math.log(lo))
          / QuantileSketch.Bins)))
      assert(edges.distinct.size < edges.size,
        s"seed $seed: domain must actually collapse edges on the grid " +
          s"for this test to bite (distinct=${edges.distinct.size})")
      // the pre-r10 definition, replayed on the driver
      def binOf(x: Double): Int = math.max(1, edges.count(_ <= x))
      def replay(vs: Seq[Double], p: Double): Double = {
        val hist = vs.groupBy(binOf).view.mapValues(_.size.toLong)
          .toSeq.sortBy(_._1)
        val total = vs.size.toLong
        val k = math.ceil(total * p).toLong
        var cum = 0L
        val bin = hist.collectFirst {
          case (b, c) if { cum += c; cum >= k } => b
        }.get
        edges(bin - 1)
      }
      rep.foreach { row =>
        val vs =
          if (row.getAs[String]("level") == "merged")
            rows.filter(_.getString(0) == row.getAs[String]("g1")).map(_.getDouble(2))
          else rows.filter(x => x.getString(0) == row.getAs[String]("g1") &&
            x.getString(1) == row.getAs[String]("g2")).map(_.getDouble(2))
        Seq(0.5 -> "p50", 0.95 -> "p95", 0.99 -> "p99").foreach { case (p, c) =>
          assert(row.getAs[Double](c) == replay(vs, p),
            s"seed $seed $c: sketch=${row.getAs[Double](c)} " +
              s"count-definition=${replay(vs, p)}")
        }
      }
    }
  }

  test("adversarial plateau placement: mass just below collapsed edge groups") {
    // The round-10 advice's adversarial shape, kept as a standing guard:
    // place heavy mass within 5e-7 BELOW a 6-dp-collapsed edge group (and
    // exactly ON it, and one grid step under it), so quantile picks land
    // exactly where a candidate-correction scheme mis-bins (the retired
    // ±1 scheme needed a plateau-length backward scan here). The
    // binary-search kernel must agree with the literal count-of-edges
    // replay bin-for-bin AND value-for-value.
    def round6(v: Double): Double =
      BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def edgesOf(lo: Double, hi: Double): IndexedSeq[Double] =
      (1 to QuantileSketch.Bins).map(j => round6(math.exp(
        math.log(lo) + (j - 1.0) * (math.log(hi) - math.log(lo))
          / QuantileSketch.Bins)))
    // pick targets from a provisional edge table, then derive the REAL
    // table from the actual data bounds (the `v - 5e-7` placements pull
    // the data minimum below the provisional lo)
    val provisional = edgesOf(1e-6, 100.0)
    val plateauStarts = (0 until provisional.size - 2).filter(i =>
      provisional(i) == provisional(i + 1) && provisional(i) == provisional(i + 2))
      .map(provisional(_))
    assert(plateauStarts.nonEmpty, "domain must collapse edges for this test")
    val targets = plateauStarts.distinct.take(4)
    // placements must stay strictly positive: a 0 would flip the engine
    // to the equi-width regime and uncollapse the table
    val placements = targets.flatMap(v =>
      Seq(v - 5e-7, v, v - 1e-6).filter(_ > 0))
    val rows =
      Seq(Row("a0", "b0", 1e-6), Row("a0", "b0", 100.0)) ++
      placements.zipWithIndex.flatMap { case (x, i) =>
        (0 until 200).map(_ => Row("a0", s"b${i % 2}", x))
      }
    val xsAll = rows.map(_.getDouble(2))
    val edges = edgesOf(xsAll.min, xsAll.max)
    assert((0 until edges.size - 2).exists(i =>
      edges(i) == edges(i + 1) && edges(i) == edges(i + 2)),
      "final edge table must still carry collapsed groups")
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 4), schema)
    val rep = QuantileSketch.report(df).collect()
    def binOf(x: Double): Int = math.max(1, edges.count(_ <= x))
    def replay(vs: Seq[Double], p: Double): Double = {
      val hist = vs.groupBy(binOf).view.mapValues(_.size.toLong)
        .toSeq.sortBy(_._1)
      val total = vs.size.toLong
      val k = math.ceil(total * p).toLong
      var cum = 0L
      val bin = hist.collectFirst {
        case (b, c) if { cum += c; cum >= k } => b
      }.get
      edges(bin - 1)
    }
    rep.foreach { row =>
      val vs =
        if (row.getAs[String]("level") == "merged")
          rows.filter(_.getString(0) == row.getAs[String]("g1")).map(_.getDouble(2))
        else rows.filter(x => x.getString(0) == row.getAs[String]("g1") &&
          x.getString(1) == row.getAs[String]("g2")).map(_.getDouble(2))
      Seq(0.5 -> "p50", 0.95 -> "p95", 0.99 -> "p99").foreach { case (p, c) =>
        assert(row.getAs[Double](c) == replay(vs, p),
          s"$c on adversarial plateau mass: sketch=${row.getAs[Double](c)} " +
            s"count-definition=${replay(vs, p)}")
      }
    }
  }
}
