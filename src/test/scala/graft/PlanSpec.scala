package graft

import graft.operators.Relational
import graft.sources.Tables

/**
 * Plan-shape audits: the 100 TB posture is only real if the optimized
 * plans actually push filters to the scan, prune columns, and broadcast
 * dimensions. These specs pin that.
 */
class PlanSpec extends GraftSpec {

  private def executedPlan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("q02: predicate and projection are pushed to the parquet scan") {
    val plan = executedPlan(Relational.q02(spark, sf))
    assert(plan.contains("PushedFilters: ["), s"no pushed filters in:\n$plan")
    assert(plan.contains("GreaterThan(l_quantity"), plan)
    // scan must read only projected + filtered columns — never the rest
    Seq("l_partkey", "l_suppkey", "l_discount", "l_tax", "l_linestatus")
      .foreach(c => assert(!plan.contains(s"$c:"),
        s"scan reads unneeded column $c:\n$plan"))
  }

  test("q07 star join broadcasts dimension tables") {
    val plan = executedPlan(Relational.q07(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), s"star join must broadcast dims:\n$plan")
  }

  test("q01 uses partial (map-side) aggregation") {
    val plan = executedPlan(Relational.q01(spark, sf))
    assert(plan.contains("HashAggregate"), plan)
    // partial + final pair ⇒ two HashAggregate occurrences around the exchange
    assert("HashAggregate".r.findAllIn(plan).length >= 2, s"no partial agg:\n$plan")
  }

  test("q15 top-n compiles to TakeOrderedAndProject (no global sort)") {
    val plan = executedPlan(Relational.q15(spark, sf))
    assert(plan.contains("TakeOrderedAndProject"), s"top-n should not global-sort:\n$plan")
  }

  test("d11 url dedup: join-free narrow canonicalization; only the key agg shuffles") {
    val plan = executedPlan(graft.dedup.Dedup.urlDedup(spark, sf))
    assert(!plan.contains("Join"), s"canonicalization must not join:\n$plan")
    val exchanges = "ShuffleExchange".r.findAllIn(plan).length
    assert(exchanges <= 2, s"expected only the agg + output-sort exchanges:\n$plan")
  }

  test("m08 audio energy: pure narrow decode; the only exchange is the output sort") {
    val plan = executedPlan(graft.multimodal.Multimodal.audioEnergy(spark, sf))
    assert(!plan.contains("Join"), plan)
    assert("ShuffleExchange".r.findAllIn(plan).length <= 1,
      s"PCM decode must stay partition-local:\n$plan")
  }

  test("q117 Q5: supplier/nation dims broadcast; no cartesian for the cyclic constraint") {
    val plan = executedPlan(Relational.q117(spark, sf))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"the c_nationkey = s_nationkey cycle must stay inside join keys:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("q119 Q18: top-100 by price compiles to TakeOrderedAndProject") {
    val plan = executedPlan(Relational.q119(spark, sf))
    assert(plan.contains("TakeOrderedAndProject"), s"top-100 should not global-sort:\n$plan")
  }

  test("q30 whole-stage codegen covers the scan-filter-agg pipeline") {
    val df = Relational.q30(spark, sf)
    df.collect() // materialize so AQE prints the final plan with codegen spans
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // under AQE, codegen'd operators print with a "*" prefix in the final plan
    Seq("* Filter", "* Project", "* HashAggregate", "* ColumnarToRow").foreach(op =>
      assert(plan.contains(op), s"$op not codegen'd:\n$plan"))
  }

  test("q58: both nation dim aliases broadcast; fact never shuffles for dims") {
    val plan = executedPlan(Relational.q58(spark, sf))
    assert("BroadcastHashJoin".r.findAllIn(plan).length >= 2,
      s"nation aliases must both broadcast:\n$plan")
  }

  test("q59: OR-of-ANDs predicate partially pushes to the scans") {
    val plan = executedPlan(Relational.q59(spark, sf))
    // the disjunction itself must reach the parquet reader as an Or filter
    // (it lands after the derived IsNotNull/bound filters in the list)
    assert(plan.contains("Or(") && plan.contains("PushedFilters: ["),
      s"no Or pushdown:\n$plan")
  }

  // every LSH-banded path must shuffle on bucket keys, never cross-join
  private val lshPaths: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
    "d02 minhash" -> (() => graft.dedup.Dedup.minhashLsh(spark, sf)),
    "d03 simhash" -> (() => graft.dedup.Dedup.simhash(spark, sf)),
    "d05 embedding" -> (() => graft.dedup.Dedup.embeddingDedup(spark, sf)),
    "a03 knn join" -> (() => graft.ann.Ann.knnJoin(spark, sf)))

  lshPaths.foreach { case (name, mk) =>
    test(s"$name LSH plan contains no cartesian/nested-loop join") {
      val plan = executedPlan(mk())
      assert(!plan.contains("CartesianProduct"), s"LSH path must never cross-join:\n$plan")
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"LSH path must never nested-loop join:\n$plan")
    }
  }

  test("a02 IVF centroid selection is a bounded TakeOrdered pass, not a sort") {
    val emb = Tables.df(spark, sf, "embeddings")
    val plan = executedPlan(graft.ann.Ann.centroidFrame(emb))
    // orderBy+limit must compile to TakeOrderedAndProject: per-partition
    // bounded heaps, never a full global sort of the corpus — this is what
    // makes the driver-side centroid collect O(nlist) at any scale
    assert(plan.contains("TakeOrderedAndProject"),
      s"centroid selection must be TakeOrdered:\n$plan")
  }

  test("d07 contamination probes a broadcast benchmark index; corpus never shuffles for it") {
    val plan = executedPlan(graft.dedup.Dedup.contamination(spark, sf))
    assert(plan.contains("BroadcastHashJoin"),
      s"benchmark gram set must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("q126 map cosine broadcasts the 1-row query map and takes top-k via TakeOrdered") {
    val plan = executedPlan(graft.operators.Relational.q126(spark, sf))
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k must be a bounded per-partition heap, not a global sort:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"the 1-row query side must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("d12 bloom contamination probes the filter in-scan and confirms on a shuffle join") {
    val plan = executedPlan(graft.dedup.Dedup.bloomContamination(spark, sf))
    // the 64 KiB bloom probe must sit in the corpus-side filter (codegen
    // prefilter), and the exact confirm must be the shuffle-hash form —
    // at real scale the benchmark gram set outgrows broadcast, so the
    // plan must not depend on small-side luck
    assert(plan.toLowerCase.contains("bloom_might_contain"),
      s"bloom prefilter missing from the corpus scan stage:\n$plan")
    assert(plan.contains("ShuffledHashJoin"),
      s"gram confirm must be a shuffle join, not a broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("a04 quantization is a narrow scan: the only exchange is the output sort") {
    val plan = executedPlan(graft.ann.Ann.quantize(spark, sf))
    val exchanges = plan.split('\n').count(_.contains("Exchange"))
    assert(exchanges <= 1, s"quantize must not shuffle to compute:\n$plan")
    assert(!plan.contains("Join"), plan)
  }

  test("a selective dim filter injects a runtime bloom filter on the fact side") {
    // thresholds are sized for real volumes; lower them so sf-test data
    // triggers the same rewrite a 100 TB join gets
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val li = Tables.lineitem(spark, sf)
      val sel = Tables.orders(spark, sf)
        .filter(org.apache.spark.sql.functions.col("o_totalprice") > 500000)
      val j = li.join(sel,
        org.apache.spark.sql.functions.col("l_orderkey") ===
          org.apache.spark.sql.functions.col("o_orderkey"))
        .groupBy().count()
      val opt = j.queryExecution.optimizedPlan.toString
      assert(opt.toLowerCase.contains("bloom") || opt.contains("might_contain"),
        s"runtime bloom filter must inject on the fact scan:\n$opt")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("dynamic partition pruning: a dim filter prunes fact partitions at runtime") {
    import org.apache.spark.sql.functions._
    // the 100 TB layout: the fact table is directory-partitioned on the
    // join key (here customer by nation), so a selective dim predicate
    // should reach the fact scan as a runtime partition filter — reading
    // 1/25th of the directories instead of all of them
    val base = java.nio.file.Files.createTempDirectory("graft-dpp").toString
    Tables.customer(spark, sf)
      .write.partitionBy("c_nationkey").parquet(s"$base/fact")
    val fact = spark.read.parquet(s"$base/fact")
    val dim = Tables.nation(spark, sf).filter(col("n_name") === "NATION_7")
    val j = fact.join(dim, col("c_nationkey") === col("n_nationkey"))
      .groupBy().count()
    val plan = j.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"selective dim filter must prune fact partitions at runtime:\n$plan")
    assert(j.head().getLong(0) ==
      Tables.customer(spark, sf).filter(col("c_nationkey") ===
        Tables.nation(spark, sf).filter(col("n_name") === "NATION_7")
          .head().getAs[Number]("n_nationkey").longValue).count(),
      "pruned plan must return the unpruned result")
  }

  test("natural interval join is rewritten to a bucketed equi-join, result-identical") {
    import org.apache.spark.sql.functions._
    val ev = Tables.events(spark, sf)
    val signups = ev.filter(col("event_type") === "signup")
      .select(col("event_id").as("sid"), col("ts").as("lo"),
        (col("ts") + expr("INTERVAL 2 HOURS")).as("hi"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("pid"), col("ts"))
    // the natural formulation every user writes first — no equi key
    val joined = purchases.join(signups,
      col("ts") >= col("lo") && col("ts") < col("hi"))
    val plan = executedPlan(joined)
    // the rewrite fired: narrow intervals hash-join on the bucket key
    assert(plan.contains("__graft_pbucket") &&
      (plan.contains("HashJoin") || plan.contains("SortMergeJoin")),
      s"interval join must hash-join on the bucket under IntervalJoinRule:\n$plan")
    assert(plan.contains("Generate") || plan.contains("explode"),
      s"expected the bucket explosion in:\n$plan")
    // only the wide (sentinel-interval) arm may retain a nested loop, and
    // it is runtime-empty for bounded intervals like these
    assert(plan.split('\n').count(_.contains("BroadcastNestedLoopJoin")) <= 1, plan)
    // exact result equality vs an in-memory nested loop on the same rows
    val ss = signups.collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2)))
    val ps = purchases.collect().map(r => (r.getLong(0), r.getTimestamp(1)))
    val expected = (for {
      (pid, ts) <- ps
      (sid, lo, hi) <- ss
      if !ts.before(lo) && ts.before(hi)
    } yield (pid, sid)).toSet
    val got = joined.select(col("pid"), col("sid")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expected, s"bucketed rewrite changed the result: ${got.size} vs ${expected.size}")
    assert(expected.nonEmpty, "test data must produce at least one interval match")
    // malformed intervals (hi < lo) match nothing — and must not make the
    // rewritten Sequence throw where the nested loop would just skip them;
    // sentinel open-validity intervals (hi = 9999-12-31) must still MATCH,
    // via the wide arm, without exploding millions of bucket rows
    import spark.implicits._
    val edgy = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 12:00:00"),
        java.sql.Timestamp.valueOf("2024-01-01 10:00:00")),  // hi < lo
      (2L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"),
        java.sql.Timestamp.valueOf("2024-01-01 12:00:00")),
      (3L, java.sql.Timestamp.valueOf("2024-01-01 10:30:00"),
        java.sql.Timestamp.valueOf("9999-12-31 00:00:00")))  // open-ended
      .toDF("sid", "lo", "hi")
    val probes = Seq((7L, java.sql.Timestamp.valueOf("2024-01-01 11:00:00")))
      .toDF("pid", "ts")
    val rows = probes.join(edgy, col("ts") >= col("lo") && col("ts") < col("hi"))
      .select(col("sid")).collect().map(_.getLong(0)).sorted.toSeq
    assert(rows == Seq(2L, 3L))
  }

  test("interval join with a nondeterministic subtree keeps its original shape") {
    import org.apache.spark.sql.functions._
    // the intervals subtree carries a rand() column: the Union rewrite
    // would re-execute that subtree once per arm, so the rule must bail —
    // even though the join condition itself only touches deterministic
    // columns. (This is the round-4 ADVICE medium: condition-level
    // determinism is not plan-level determinism.)
    val ev = Tables.events(spark, sf)
    val signups = ev.filter(col("event_type") === "signup")
      .select(col("event_id").as("sid"), col("ts").as("lo"),
        (col("ts") + expr("INTERVAL 2 HOURS")).as("hi"),
        rand().as("junk"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("pid"), col("ts"))
    val joined = purchases.join(signups,
      col("ts") >= col("lo") && col("ts") < col("hi"))
    val plan = executedPlan(joined)
    assert(!plan.contains("__graft_pbucket") && !plan.contains("Union"),
      s"rule must not rewrite a nondeterministic subtree:\n$plan")
    // and the un-rewritten join still answers correctly on the
    // deterministic columns
    val ss = signups.collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2)))
    val ps = purchases.collect().map(r => (r.getLong(0), r.getTimestamp(1)))
    val expected = (for {
      (pid, ts) <- ps
      (sid, lo, hi) <- ss
      if !ts.before(lo) && ts.before(hi)
    } yield (pid, sid)).toSet
    val got = joined.select(col("pid"), col("sid")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expected && expected.nonEmpty)
    // a sampled intervals subtree must equally keep the original shape:
    // a seeded sample is still partition-order-dependent across
    // re-executions
    val sampled = purchases.join(
      ev.filter(col("event_type") === "signup")
        .select(col("event_id").as("sid"), col("ts").as("lo"),
          (col("ts") + expr("INTERVAL 2 HOURS")).as("hi"))
        .sample(0.5, seed = 42),
      col("ts") >= col("lo") && col("ts") < col("hi"))
    val samplePlan = executedPlan(sampled)
    assert(!samplePlan.contains("__graft_pbucket"),
      s"rule must not rewrite a Sample subtree:\n$samplePlan")
  }

  test("lineitem scan prunes columns for a 2-column projection") {
    val df = Tables.lineitem(spark, sf).select("l_orderkey", "l_quantity")
    val plan = executedPlan(df)
    val compact = plan.replaceAll("\\s", "")
    assert(compact.contains("ReadSchema:struct<l_orderkey:bigint,l_quantity:double>"),
      s"column pruning failed:\n$plan")
  }

  test("only the audited entries plan a global (unpartitioned) window") {
    // GraftSession suppresses WindowExec's "moving all data to a single
    // partition" logger; this guard replaces the silenced warning with an
    // explicit plan assertion (r10 advice): a NEW entry that accidentally
    // plans an empty-partitionSpec WindowExec over corpus-sized input
    // fails here instead of scale-breaking silently. The audited sites
    // each run the window over an already-reduced or bounded frame
    // (q43's bounded slice; q87's and t13's windows over aggregate
    // frames), which is exactly when a global window is the correct
    // scalable form. t24/t25 left this set in r14: their cuts now come
    // from ExactSelection.percentilesDiscGlobal, whose kernel windows
    // (the same bounded pass-2/pass-3 running sums) execute inside the
    // driver-values helper during entry construction and partition by
    // bin — the returned labeling plan carries no window at all.
    // e18: the share window runs over the path-key aggregate — bounded
    // by the event-type vocabulary cubed (~125 rows), not the corpus.
    // e19: both cumulative windows run over the ≤8-row lag-day bucket
    // frame (day buckets capped at 7), never the corpus.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.window.WindowExec
    def globalWindows(p: SparkPlan): Int = {
      val own = p match {
        case a: AdaptiveSparkPlanExec => return globalWindows(a.initialPlan)
        case w: WindowExec if w.partitionSpec.isEmpty => 1
        case _ => 0
      }
      own + p.children.map(globalWindows).sum +
        p.subqueries.map(globalWindows).sum
    }
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val n = globalWindows(fn(spark, sf).queryExecution.executedPlan)
        if (n > 0) Some(name) else None
    }.toSet
    val audited = Set("q43_window_dist", "q87_ratio_to_report", "t13_zipf",
      "e18_path_mining", "e19_conversion_survival")
    assert(offenders == audited,
      s"global-window entries moved: unexpected=${offenders -- audited} " +
        s"missing=${audited -- offenders} — audit any new site (is the " +
        "frame entering the window bounded?) and update this pin")
  }

  test("t23/t25 featurizer runs fused: no interpreted lambda HOF in the plan") {
    // Spark evaluates array-lambda higher-order functions (transform /
    // aggregate / filter over arrays) INTERPRETED per element — on the
    // corpus-scan scoring pass that is non-codegen eval + a string
    // allocation per token (the r12 verdict's 12-14s/entry finding, and
    // the same defect d10 had before winnow_fps). Pin that the
    // model-based-selection entries stay on the fused codegen kernel:
    // per-token work must appear only as hashed_ngram_buckets /
    // hashed_ngram_score, never as a lambda HOF.
    // t25 is audited through its UNSTAGED scoring frame: the entry plan
    // itself is a projection over the staged RDD, the kernel lives in
    // the frame dsir() checkpoints (dsirScored)
    Seq("t23_quality_lr" -> graft.text.TextAnalysis.qualityLr(spark, sf),
        "t25_dsir" -> graft.text.TextAnalysis.dsirScored(spark, sf))
      .foreach { case (name, df) =>
        val plan = df.queryExecution.executedPlan.toString.toLowerCase
        Seq("transform(", "aggregate(lambda", "lambdafunction").foreach { bad =>
          assert(!plan.contains(bad),
            s"$name: interpreted lambda HOF '$bad' in executed plan:\n$plan")
        }
        val kernel = if (name.startsWith("t23")) "hashed_ngram_score"
                     else "hashed_ngram_buckets"
        assert(plan.contains(kernel), s"$name: fused $kernel kernel missing:\n$plan")
      }
  }

  test("partition pruning: a filter on the partition key scans matched partitions ONLY") {
    // THE scan property a 100 TB date-partitioned corpus lives on: a
    // predicate on the partition column must become a PartitionFilter
    // (directory pruning from catalog metadata — pruned partitions'
    // files are never listed into the scan), not a post-scan Filter.
    import org.apache.spark.sql.execution.FileSourceScanExec
    val s = GraftCli.open(spark, sf)
    s.sql("DROP TABLE IF EXISTS plan_part_orders")
    GraftCli.dropStaleLocation(s, "plan_part_orders")
    s.sql("""CREATE TABLE plan_part_orders PARTITIONED BY (o_year) AS
      SELECT o_orderkey, o_totalprice, CAST(year(o_orderdate) AS INT) AS o_year
      FROM orders""")
    val nYears = s.sql("SHOW PARTITIONS plan_part_orders").count()
    assert(nYears >= 3, s"need a multi-partition layout, got $nYears")
    val pruned = s.sql(
      "SELECT COUNT(*) AS n FROM plan_part_orders WHERE o_year = 1995")
    pruned.collect() // executed plan: selectedPartitions is a real listing
    // descend through the AQE wrapper + materialized stages (plain
    // collect stops at the AdaptiveSparkPlanExec shell)
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def allNodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => allNodes(a.executedPlan)
      case qs: QueryStageExec => allNodes(qs.plan)
      case _ => p.children.flatMap(allNodes)
    })
    val scans = allNodes(pruned.queryExecution.executedPlan).collect {
      case sc: FileSourceScanExec => sc }
    assert(scans.nonEmpty, pruned.queryExecution.executedPlan.toString)
    val scan = scans.head
    assert(scan.partitionFilters.nonEmpty,
      s"predicate did not become a PartitionFilter:\n$scan")
    // matched partitions only: 1 of the >=3 year directories is read
    assert(scan.selectedPartitions.partitionCount == 1,
      s"expected 1 selected partition of $nYears, got " +
        s"${scan.selectedPartitions.partitionCount}")
    // and the partition predicate never re-runs as a data Filter
    val planText = pruned.queryExecution.executedPlan.toString
    assert(!planText.contains("Filter (o_year"),
      s"partition predicate survived as a row filter:\n$planText")
    s.sql("DROP TABLE plan_part_orders")
  }
}
