package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Mergeable histogram quantile sketch — the re-aggregatable percentile
 * family (Presto's qdigest_agg + merge(...)): each leaf group reduces to
 * an O(Bins)-row histogram; the rollup level merges the SKETCHES
 * (bin-count addition over already-reduced rows), never re-touching the
 * corpus — the two-level topology a 100 TB percentile rollup actually
 * runs. Two deterministic binning regimes, chosen by the global bounds
 * (replayable: the oracle sees the same lo):
 *   - strictly positive domain (lo > 0): LOG-SCALED bins — each bin
 *     spans a constant factor (hi/lo)^(1/Bins), so the error is
 *     RELATIVE (≤ 5.6% per bin at hi/lo = 10^6) and p99 stays tight on
 *     heavy-tailed price/latency-like distributions where equi-width
 *     bins would lump 99% of the mass into bin 1 (the qdigest
 *     property this sketch exists to match);
 *   - otherwise: equi-width bins, error ≤ one absolute bin width.
 * Quantiles read off the merged CDF at the bin's lower edge.
 * Deterministic by construction: the Bins lower edges are computed ONCE
 * from the global bounds and snapped to a 1e-6 grid, and the per-row bin
 * DECISION is the exact definitional count of edges <= x — a codegen
 * binary search over the shared table ([[graft.functions.Kernels.edgeBin]],
 * O(log Bins) pure IEEE comparisons, no libm anywhere in the decision),
 * which any engine replays bit-for-bit by counting. (The r10 interim
 * scheme — closed-form libm candidate corrected ±1 — could mis-bin when
 * 6-dp rounding collapsed adjacent edges into a plateau; binary search
 * against the rounded table removed that residual class outright.) The
 * only libm exposure left is the edge table itself: Bins values, each
 * rounded to 6 dp, where an ulp flips the rounded value only within
 * ~1e-10 of a grid midpoint. Hash-verifiable cross-engine — unlike
 * engine-defined digest sketches.
 *
 * Kernel input is a frame with columns (g1, g2, x:double); q115 maps the
 * lineitem columns in and renames the report out.
 */
object QuantileSketch {

  /** Sketch resolution — a CONSTANT of the sketch (its size/accuracy
    * trade), never a function of row count. */
  private[graft] val Bins = 256

  /** (level, g1, g2, n, p50, p95, p99): leaf = per-(g1, g2) sketch,
    * merged = per-g1 union of its leaf sketches. */
  private[graft] def report(base: DataFrame): DataFrame = {
    // the Bins lower edges, computed once on the 1-row bounds frame and
    // snapped to a 1e-6 grid — shared constants both engines agree on
    // (not builtin width_bucket, and not per-row floor-over-ln: both put
    // engine-specific libm inside the discrete bin decision)
    val bounds = base.agg(min(col("x")).as("lo"), max(col("x")).as("hi"))
      .withColumn("edges",
        when(col("hi") === col("lo"), array(col("lo")))
          .when(col("lo") > 0, expr(
            s"""transform(sequence(1, $Bins), j ->
               |  round(exp(ln(lo) + (CAST(j AS DOUBLE) - 1.0D)
               |    * (ln(hi) - ln(lo)) / $Bins), 6))""".stripMargin))
          .otherwise(expr(
            s"""transform(sequence(1, $Bins), j ->
               |  round(lo + (CAST(j AS DOUBLE) - 1.0D)
               |    * (hi - lo) / $Bins, 6))""".stripMargin)))
    // bin = COUNT of edges at or below x (clamped >= 1) — the exact
    // definitional decision, via the codegen binary-search edge_bin
    // kernel: O(log Bins) pure IEEE comparisons per row against the
    // shared snapped table, no lambda interpretation, no allocation (the
    // d10 lesson), and none of the r10 closed-form-candidate residual —
    // that ±1 correction could land on a bin whose rounded edge still
    // exceeds x when 6-dp rounding collapses adjacent edges into a
    // plateau (the needed backward scan is plateau-length). Any engine
    // counting edges <= x agrees bit-for-bit; the DuckDB oracle replays
    // exactly that count.
    val leafHist = base.crossJoin(broadcast(bounds))
      .select(col("g1"), col("g2"),
        graft.functions.GraftFunctions.edgeBin(col("edges"), col("x"))
          .cast("bigint").as("bin"))
      .groupBy(col("g1"), col("g2"), col("bin"))
      .agg(count(lit(1)).as("cnt"))
      // materialize the leaf sketch (≤ groups·bins rows) so the merged
      // level provably aggregates sketch rows, not a corpus re-scan —
      // the p05 staging discipline (conf-switchable to a reliable
      // checkpoint for churn-heavy deployments, see plans.Checkpoints)
      .transform(graft.plans.Checkpoints.stage)
    val mergedHist = leafHist
      .groupBy(col("g1"), col("bin"))
      .agg(sum(col("cnt")).as("cnt"))
      .select(col("g1"), lit("ALL").as("g2"), col("bin"), col("cnt"))

    def quantiles(h: DataFrame, level: String): DataFrame = {
      val grp = Seq(col("g1"), col("g2"))
      val cum = h
        .withColumn("cum", sum(col("cnt"))
          .over(Window.partitionBy(grp: _*).orderBy(col("bin"))))
        .withColumn("total", sum(col("cnt"))
          .over(Window.partitionBy(grp: _*)))
      def pick(p: Double) =
        min(when(col("cum") >= ceil(col("total") * lit(p)), col("bin")))
      cum.groupBy(grp: _*)
        .agg(max(col("total")).as("n"),
          pick(0.5).as("b50"), pick(0.95).as("b95"), pick(0.99).as("b99"))
        .select(lit(level).as("level"), col("g1"), col("g2"), col("n"),
          col("b50"), col("b95"), col("b99"))
    }

    // quantile = the chosen bin's lower edge, read straight from the
    // shared table (no second exp/ln replay to diverge from binning)
    def edge(b: String) = element_at(col("edges"), col(b).cast("int"))
    quantiles(leafHist, "leaf").unionByName(quantiles(mergedHist, "merged"))
      .crossJoin(broadcast(bounds))
      .select(col("level"), col("g1"), col("g2"), col("n"),
        edge("b50").as("p50"), edge("b95").as("p95"), edge("b99").as("p99"))
      .orderBy(col("level"), col("g1"), col("g2"))
  }
}
