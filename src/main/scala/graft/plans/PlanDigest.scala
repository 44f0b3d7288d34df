package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}

/**
 * Canonical physical-plan fingerprint for regression pinning.
 *
 * The inventory's plans are the product being graded: a broadcast that
 * silently becomes a shuffle, a pruned scan that starts reading every
 * column, or a hash join that degrades to a nested loop is invisible to
 * a correctness oracle (same rows, 100× the cost at scale) — exactly the
 * class of regression a Spark upgrade or a conf/rule change introduces.
 * This digest renders the pre-execution physical plan as a small stable
 * tree of the SCALE-RELEVANT facts only:
 *
 *   - the operator class (SortMergeJoinExec vs BroadcastHashJoinExec vs
 *     BroadcastNestedLoopJoinExec is the whole story for joins),
 *   - join type and build side,
 *   - exchange partitioning SHAPE (hash/range/single — but not the
 *     partition COUNT, which is a tuning conf, not a plan property),
 *   - scan output width (column-pruning tripwire),
 *   - the number of CodegenFallback expressions (interpreted-eval
 *     tripwire: a lambda or kernel that leaves whole-stage codegen
 *     changes no operator, so the tree alone cannot show it).
 *
 * Everything volatile — expression ids, statistics, file paths, codegen
 * stage ids, partition counts — is excluded, so the digest is identical
 * across machines and sessions at the same data layout and only moves
 * when the plan's structure moves. PlanManifestSpec pins every inventory
 * entry's digest against the committed PLAN_MANIFEST.txt.
 */
object PlanDigest {

  /** Side-plan capture — closes the manifest's blind spot at in-entry
    * materialization points. An entry that materializes INSIDE its entry
    * function (a [[Checkpoints.stage]] call, or the x06–x08 pattern of
    * running a join to completion inside a conf window and re-wrapping
    * the bounded result) leaves the manifest recording only the
    * post-materialization wrapper (RDDScanExec / LocalTableScanExec) —
    * silent exactly where the interesting plan lives (r13 verdict). With
    * capture enabled (PlanManifestSpec only; a plain boolean check
    * otherwise, zero overhead in bench/production), those sites record
    * the materialized subplan here and the spec appends each one to the
    * entry's manifest section. For a plan recorded AFTER execution
    * (the adaptive-window sites), [[canonical]] reads
    * AdaptiveSparkPlanExec's CURRENT plan — i.e. the final post-AQE
    * topology, which is the point: runtime skew splits and bloom joins
    * exist only there. */
  @volatile var captureSidePlans: Boolean = false
  private val sidePlans = scala.collection.mutable.ArrayBuffer.empty[(String, String)]

  /** Record `df`'s canonical digest under `label` (no-op unless capture
    * is enabled). Call at the materialization site, BEFORE for staged
    * frames (pre-execution planner choice) or AFTER collect for
    * adaptive-window frames (final runtime plan). */
  def recordSidePlan(label: String, df: DataFrame): Unit =
    if (captureSidePlans)
      sidePlans.synchronized { sidePlans += label -> canonical(df) }

  /** Record a digest string snapshotted earlier (cache-hit paths: a frame
    * staged once and served from a cache must replay the COMPUTE-time
    * digest — re-canonicalizing the original DataFrame after execution
    * reads the mutated post-AQE AdaptiveSparkPlanExec tree, so the
    * manifest entry would depend on which suite warmed the cache). */
  def recordSidePlanDigest(label: String, digest: String): Unit =
    if (captureSidePlans)
      sidePlans.synchronized { sidePlans += label -> digest }

  /** Take and clear everything recorded since the last drain. */
  def drainSidePlans(): Seq[(String, String)] =
    sidePlans.synchronized { val r = sidePlans.toVector; sidePlans.clear(); r }

  /** The initial physical plan: what the planner chose before AQE starts
    * re-writing at runtime (pre-execution, AdaptiveSparkPlanExec still
    * holds its initial plan — runtime re-plans are a feature, not drift,
    * so the pin is on the static decision). */
  def canonical(df: DataFrame): String = {
    val root = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    render(root)(describe) + s"CodegenFallback exprs: ${codegenFallbacks(root)}\n"
  }

  /** An executed plan one node per line, indented by depth, with `line`
    * rendering each node. The walk descends where `children` does not
    * reach: the final plan of an adaptive plan (its initial plan never
    * ran), the subtree of a query stage, and the plan of each scalar/IN subquery under a `Subquery:`
    * line. EXPLAIN ANALYZE shares it. */
  def render(root: SparkPlan)(line: SparkPlan => String): String = {
    val sb = new StringBuilder
    def walk(p: SparkPlan, depth: Int): Unit = {
      sb.append("  " * depth).append(line(p)).append('\n')
      p match {
        // post-execution adaptive plans (the x06–x08 side captures) wrap
        // every materialized stage in a QueryStageExec whose subtree
        // hangs off .plan, not .children — descend or the walk stops at
        // the wrapper
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          walk(q.plan, depth + 1)
        // a nested adaptive plan (e.g. the bloom-filter build subquery)
        // renders its final plan, same rule as the root
        case a: AdaptiveSparkPlanExec =>
          walk(a.executedPlan, depth + 1)
        case _ => p.children.foreach(walk(_, depth + 1))
      }
      // scalar/IN subqueries hang off expressions, not children — their
      // plans regress just as silently (a subquery broadcast flip)
      p.subqueries.foreach { sq =>
        sb.append("  " * (depth + 1)).append("Subquery:\n")
        walk(sq, depth + 2)
      }
    }
    walk(root, 0)
    sb.toString
  }

  /** Expressions in `plan` (subqueries included) that evaluate
    * interpreted inside generated code. */
  def codegenFallbacks(plan: SparkPlan): Int =
    Plans.collectWithSubqueries(plan) { case p =>
      p.expressions.map(_.collect { case f: CodegenFallback => f }.size).sum
    }.sum

  private object Plans extends AdaptiveSparkPlanHelper

  private def describe(p: SparkPlan): String = p match {
    case j: BroadcastHashJoinExec => s"BroadcastHashJoinExec(${j.joinType},build=${j.buildSide})"
    case j: ShuffledHashJoinExec => s"ShuffledHashJoinExec(${j.joinType},build=${j.buildSide})"
    case j: SortMergeJoinExec => s"SortMergeJoinExec(${j.joinType})"
    case j: BroadcastNestedLoopJoinExec => s"BroadcastNestedLoopJoinExec(${j.joinType})"
    case e: ShuffleExchangeExec =>
      s"ShuffleExchangeExec(${e.outputPartitioning.getClass.getSimpleName})"
    // the skew-handling fact itself: whether AQE split an oversized
    // partition by mapper ranges (x07 off-arm false, x08 on-arm true)
    case r: org.apache.spark.sql.execution.adaptive.AQEShuffleReadExec =>
      val skewed = r.partitionSpecs.exists(
        _.isInstanceOf[org.apache.spark.sql.execution.PartialReducerPartitionSpec])
      s"AQEShuffleReadExec(skewSplit=$skewed)"
    case s: org.apache.spark.sql.execution.FileSourceScanExec =>
      s"FileSourceScanExec[cols=${s.output.length}]"
    case _ => p.getClass.getSimpleName
  }
}
