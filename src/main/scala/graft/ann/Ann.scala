package graft.ann

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.functions.GraftFunctions
import graft.sources.Tables

/**
 * Similarity search over embedding columns (array<float>).
 *
 * a01 is the exact baseline: broadcast the (small) probe set against the
 * full corpus — one scan, no shuffle of the corpus, cosine via the native
 * codegen expression; ranking is a per-probe top-k window.
 *
 * a02 is the scale path: IVF-style cell pruning with a FIXED-size centroid
 * set (`NList`), chosen by a deterministic multiplicative-hash order over
 * vec_id — bounded driver memory and bounded codegen regardless of corpus
 * size. Probes only scan their top-`NProbe` cells, cutting the scan
 * ~NList/NProbe at 100 TB.
 *
 * a03 is the all-pairs KNN join: two independent LSH hash tables whose
 * buckets pair through [[graft.dedup.Dedup.lshCandidatePairs]] (capped at
 * the session's `Dedup.bucketCap`), pair candidates deduped across tables
 * as bare id pairs before embeddings are re-joined for the cosine verify.
 */
object Ann {

  private val K = 10

  /** a01: brute-force exact cosine top-k for probe vectors (vec_id < 5). */
  def bruteForce(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val probes = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("probe_id"), col("embedding").as("probe_emb"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos_sim").desc, col("cand_id"))
    emb.crossJoin(broadcast(probes))
      .select(col("probe_id"), col("vec_id").as("cand_id"),
        round(GraftFunctions.cosineSim(col("probe_emb"), col("embedding")), 4).as("cos_sim"))
      .select(col("probe_id"), col("cand_id"), col("cos_sim"),
        row_number().over(w).as("rn"))
      .filter(col("rn") <= K)
      .orderBy(col("probe_id"), col("rn"))
  }

  /**
   * Shared exact ground truths for the recall evals (a05/a08/a10/a12/
   * a13/a15). Each eval entry scores an approximate index against an
   * exact brute-force top-k; before r14 every entry recomputed that full
   * corpus pass for itself (r13 verdict: ~40% of the family's cost). A
   * real 100 TB deployment computes the exact eval set ONCE and reuses
   * it across every index variant under tune — this cache models exactly
   * that: one (session, sf-dir, metric)-keyed computation, staged via
   * [[graft.plans.Checkpoints.stage]] to a probes×K-row frame (bounded
   * by the eval design, never by corpus size).
   *
   * Hash-safety: entries share a ground truth ONLY when their ranking
   * expressions are bit-identical (float-cosine for a08/a12 = a01's
   * kernel; double-cosine for a05/a10/a15; full-dimension L2 for a13) —
   * the cache changes who computes, never what is computed. Manifest
   * determinism: the side plan is recorded under the same label on both
   * the compute and the cache-hit path.
   */
  private case class GroundTruth(staged: DataFrame, planDigest: String)
  private val gtCache = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String, String), GroundTruth]()

  /** Drop every cached ground truth and Lloyd trajectory. The caches are
    * keyed by (session, sf-dir[, metric]) and otherwise live for the
    * session: they pin the SparkSession reference plus the staged frames'
    * localCheckpoint blocks, and a caller that REGENERATES the sf-dir's
    * parquet inside the same session would be served stale values. Any
    * path that rewrites an sf-dir in-session (data regen tools, test
    * fixtures) must call this first. */
  def clearCaches(): Unit = {
    gtCache.clear()
    lloydCache.clear()
  }

  /** Test probe: (ground-truth entries, Lloyd entries) currently cached. */
  private[graft] def cacheSizes: (Int, Int) = (gtCache.size, lloydCache.size)

  private def cachedGroundTruth(s: SparkSession, d: String, metric: String)(
      build: => DataFrame): DataFrame = {
    val key = (s, d, metric)
    val hit = gtCache.get(key)
    if (hit != null) {
      // replay the digest snapshotted at compute time: the original
      // DataFrame's AdaptiveSparkPlanExec has since executed and mutated
      // to its final runtime tree, so re-canonicalizing it would make the
      // manifest entry depend on which suite warmed the cache
      graft.plans.PlanDigest.recordSidePlanDigest(
        s"ground-truth $metric", hit.planDigest)
      hit.staged
    } else {
      val unstaged = build
      // snapshot BEFORE stage() executes the frame (pre-execution
      // planner choice — the same tree stage() records on this path)
      val digest = graft.plans.PlanDigest.canonical(unstaged)
      val staged = graft.plans.Checkpoints.stage(unstaged, s"ground-truth $metric")
      gtCache.put(key, GroundTruth(staged, digest))
      staged
    }
  }

  /** Float-cosine exact top-k (probe_id, cand_id) — a01's ranking, the
    * ground truth a08 and a12 score against. */
  private def exactCosFTopK(s: SparkSession, d: String): DataFrame =
    cachedGroundTruth(s, d, "cosine-float") {
      bruteForce(s, d).select(col("probe_id"), col("cand_id"))
    }

  private val Dim = 64
  private val NPlanes = 16

  /** Sign bits from seeded random hyperplanes packed into a long —
    * one narrow projection, no shuffle. Seed selects the hash table. */
  private def lshBucket(seed: Long, nPlanes: Int = NPlanes): Column = {
    val rnd = new java.util.Random(seed)
    val planes = Array.fill(nPlanes, Dim)(rnd.nextGaussian())
    (0 until nPlanes).map { p =>
      when(GraftFunctions.dotFD(col("embedding"),
          typedLit(planes(p).toSeq)) > 0,
        lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** Seeds of the two independent hash tables (multi-probe recall: a pair
    * dropped with a hot bucket in one table can still collide in the other). */
  private val TableSeeds = Seq(7L, 8L)

  /**
   * a03: all-pairs KNN join — every vector's top-3 neighbors among its LSH
   * bucket mates, over TWO independent hash tables. The scale topology for
   * "nearest neighbor per corpus row":
   *   1. one corpus scan computes both bucket ids (narrow),
   *   2. hash shuffle on (table, bucket), buckets capped at `Dedup.bucketCap`
   *      (a hot bucket is dropped, not expanded O(b²) in one task),
   *   3. candidate pairs deduped across tables as bare (id_a, id_b) rows —
   *      embeddings are NOT carried through the distinct,
   *   4. embeddings re-joined per side for the cosine verify, then a
   *      per-vector top-3 window.
   */
  def knnJoin(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    // (vec_id, tbl, bucket): both hash tables from one scan.
    val tb = emb.select(col("vec_id"),
      posexplode(array(TableSeeds.map(seed => lshBucket(seed)): _*)).as(Seq("tbl", "bucket")))
    // Reuse the dedup LSH pair kernel: capped buckets, bounded in-bucket
    // expansion, distinct (a < b) id pairs.
    val idPairs = Dedup.lshCandidatePairs(tb.select(
      col("vec_id").as("doc_id"), col("tbl").as("band"), col("bucket").as("band_key")))
    val scored = idPairs
      .join(emb.select(col("vec_id").as("id_a"), col("embedding").as("ea")), Seq("id_a"))
      .join(emb.select(col("vec_id").as("id_b"), col("embedding").as("eb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        round(GraftFunctions.cosineSim(col("ea"), col("eb")), 4).as("cos_sim"))
    val directed = scored
      .select(col("id_a").as("vec_id"), col("id_b").as("nbr_id"), col("cos_sim"))
      .unionAll(scored.select(col("id_b").as("vec_id"), col("id_a").as("nbr_id"), col("cos_sim")))
    val w = Window.partitionBy(col("vec_id")).orderBy(col("cos_sim").desc, col("nbr_id"))
    directed
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .orderBy(col("vec_id"), col("rn"))
  }

  /** IVF cell count — a CONSTANT independent of corpus size (the index's
    * nlist). Driver memory and generated code are O(NList · Dim), never
    * O(corpus). Deployments tune this (256–65536 at 100 TB); 32 keeps
    * sf-scale cells non-trivial. */
  private val NList = 32
  private val NProbe = 2

  /**
   * a02: IVF-style ANN — nearest-centroid cell assignment, probe the top-2
   * cells. Centroids are the first `NList` vectors in a deterministic
   * multiplicative-hash order of vec_id (Spark: TakeOrderedAndProject — a
   * single bounded-memory pass; the DuckDB oracle replays the same ORDER BY
   * ... LIMIT). The `.collect()` is therefore provably bounded at NList
   * rows no matter the corpus size; assignment is a narrow projection
   * against NList literal centroid vectors (per-cell similarity array →
   * array_max argmax). No crossJoin, no shuffle — at 100 TB the corpus is
   * scanned exactly once to tag cells.
   */
  /** The bounded centroid-selection frame: first NList vec_ids in a
    * deterministic multiplicative-hash order. Knuth-style scatter; the
    * constants keep vec_id * 69069 within Long for any plausible corpus
    * (overflow needs vec_id > 1.3e14 ≈ 300x a 100 TB embedding table).
    * Package-visible so PlanSpec can pin the TakeOrdered shape. */
  private[graft] def centroidFrame(emb: DataFrame, k: Int = NList): DataFrame = {
    val scatter = pmod(col("vec_id") * lit(69069L) + lit(1L), lit(1048576L))
    emb.select(col("vec_id"), col("embedding"))
      .orderBy(scatter, col("vec_id"))
      .limit(k)
  }

  /** Collected centroid set — the ONLY driver materialization in the ANN
    * family, provably bounded at k rows whatever the corpus size (the
    * frame above is a TakeOrderedAndProject). */
  private def collectCentroids(emb: DataFrame, k: Int): Array[(Long, Seq[Float])] =
    centroidFrame(emb, k).collect().map(r => r.getLong(0) -> r.getSeq[Float](1))

  /** (sim, cent_id) structs for a vector against every centroid literal —
    * lexicographic array_max = argmax with ties to the higher cent_id
    * (the a02 rule; every oracle replays `ORDER BY sim DESC, cent_id
    * DESC LIMIT 1`). Narrow codegen'd projection, no shuffle. */
  private def centroidSims(centroids: Array[(Long, Seq[Float])])(v: Column): Column =
    array(centroids.toIndexedSeq.map { case (id, ce) =>
      struct(
        GraftFunctions.cosineSim(v, typedLit(ce)).as("sim"),
        lit(id).as("cent_id"))
    }: _*)

  /**
   * a04: int8 embedding quantization — the memory-scale path for ANN (4x
   * smaller vectors; at 100 TB the index fits 4x more corpus per executor).
   * Per-vector symmetric scale = max|x| / 127, elements quantized with an
   * explicit floor(x/scale + 0.5) (tie semantics pinned so the oracle can
   * replay bit-for-bit), plus the reconstruction-error L2 every
   * quantization pipeline reports. Pure narrow array lambdas — one scan,
   * no shuffle, no UDFs.
   */
  /** (vec_id, embedding, scale, q): per-vector symmetric int8 scale
    * (max|x| / 127, 1e-12 floor) and the quantized ints with the pinned
    * floor(x/scale + 0.5) tie rule — THE quantization semantics, defined
    * once and shared by a04 and a05 (both oracles replay these exact
    * constants, so the kernel must not fork). */
  private def quantized(emb: DataFrame): DataFrame =
    emb
      // scale materialized once per row (multi-referenced below). The
      // folds/maps are the r20 codegen kernels — each one's scaladoc
      // states the aggregate/transform HOF it replicates bit-for-bit
      // (ExpressionsSpec parity pins); the HOF forms evaluated their
      // lambdas INTERPRETED per element on the corpus scan.
      .select(col("vec_id"), col("embedding"),
        (greatest(GraftFunctions.maxAbsF(col("embedding")),
          lit(1e-12)) / 127.0).as("scale"))
      .select(col("vec_id"), col("embedding"), col("scale"),
        GraftFunctions.quantizeI8(col("embedding"), col("scale")).as("q"))

  def quantize(s: SparkSession, d: String): DataFrame =
    quantized(Tables.embeddings(s, d))
      .select(col("vec_id"),
        round(col("scale"), 8).as("scale"),
        GraftFunctions.longArraySum(col("q"), abs = false).as("q_sum"),
        GraftFunctions.longArraySum(col("q"), abs = true).as("q_abs_sum"),
        round(sqrt(GraftFunctions.quantErrSq(
          col("embedding"), col("q"), col("scale"))), 6).as("q_err_l2"))
      .orderBy(col("vec_id"))

  /** Dequantized (int8 round-trip) embeddings: q * scale per element —
    * the vectors an int8 ANN index actually searches. Derived from the
    * shared [[quantized]] kernel so the tie rule cannot fork. */
  private def dequantized(emb: DataFrame): DataFrame =
    quantized(emb)
      .select(col("vec_id"), col("embedding"),
        GraftFunctions.scaleLongs(col("q"), col("scale")).as("qe"))

  /**
   * a05: quantization recall@10 — the eval every quantized-index rollout
   * needs: run the same top-k search on exact and int8-dequantized vectors
   * and report per-probe overlap. Two broadcast-probe scans (the a01
   * topology twice — corpus never shuffles) + a top-k-set join on
   * (probe, cand).
   */
  /** Cosine over array<double> columns via codegen'd array lambdas (the
    * native cosine_sim kernel is float-typed; the dequantized
    * vectors here are doubles). */
  private def cosD(u: Column, v: Column): Column = {
    def dot(a: Column, b: Column): Column = GraftFunctions.dotD(a, b)
    dot(u, v) / (sqrt(dot(u, u)) * sqrt(dot(v, v)))
  }

  /** One broadcast-probe exact top-k pass at double precision (the a01
    * topology, 4dp double-cosine ranking) — shared by a05's two arms and
    * the double-cosine ground truth. */
  private def cosDTopK(corpus: DataFrame, vecCol: String): DataFrame = {
    val probes = corpus.filter(col("vec_id") < 5)
      .select(col("vec_id").as("probe_id"), col(vecCol).as("probe_vec"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos_sim").desc, col("cand_id"))
    corpus.crossJoin(broadcast(probes))
      .select(col("probe_id"), col("vec_id").as("cand_id"),
        round(cosD(col("probe_vec"), col(vecCol)), 4).as("cos_sim"))
      .select(col("probe_id"), col("cand_id"), row_number().over(w).as("rn"))
      .filter(col("rn") <= K)
      .select(col("probe_id"), col("cand_id"))
  }

  /** Double-cosine exact top-k (probe_id, cand_id) — the ground truth
    * a05, a10 and a15 score against. */
  private def exactCosDTopK(s: SparkSession, d: String): DataFrame =
    cachedGroundTruth(s, d, "cosine-double") {
      cosDTopK(Tables.embeddings(s, d).select(col("vec_id"),
        GraftFunctions.floatsToDoubles(col("embedding")).as("e")), "e")
    }

  def quantizedRecall(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val deq = dequantized(emb)
    val exact = exactCosDTopK(s, d)
    val quant = cosDTopK(deq.select(col("vec_id"), col("qe")), "qe")
    // both top-k sets are probes×K-bounded — broadcast the staged ground
    // truth instead of a sort-merge exchange pair (the a12 rule)
    quant.join(broadcast(exact), Seq("probe_id", "cand_id"))
      .groupBy(col("probe_id"))
      .agg(count(lit(1)).as("n_common"))
      .select(col("probe_id"), col("n_common"),
        round(col("n_common").cast("double") / K, 2).as("recall_at_10"))
      .orderBy(col("probe_id"))
  }

  /** Sign-sketch width for a08: 32 hyperplane bits = 4 bytes per vector
    * vs 256 bytes of f32 — the 64x-smaller representation a binary
    * pre-filter index holds in memory at corpus scale. */
  private val SignBits = 32

  /**
   * a08: binary (sign-bit) embedding search + recall eval — the third
   * point on the index compression curve after a04/a05's int8: each
   * vector collapses to a 32-bit hyperplane sign sketch, candidates rank
   * by Hamming distance (xor + popcount — the codegen `hamming64`
   * kernel, integer-exact so ranking can never fork on float
   * summation), and the report is recall@10 of the Hamming top-k against
   * exact cosine. The search topology is a01's: probes broadcast, corpus
   * scanned once, never shuffled; at 100 TB the sketch column is what an
   * in-memory pre-filter actually scans. The oracle replays the seeded
   * hyperplanes, the popcount ranking, and the exact top-k.
   */
  def binaryHammingRecall(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val sigs = emb.select(col("vec_id"), lshBucket(11L, SignBits).as("sig"))
    val probes = sigs.filter(col("vec_id") < 5)
      .select(col("vec_id").as("probe_id"), col("sig").as("psig"))
    val wH = Window.partitionBy(col("probe_id"))
      .orderBy(col("ham"), col("cand_id"))
    val hamTop = sigs.crossJoin(broadcast(probes))
      .select(col("probe_id"), col("vec_id").as("cand_id"),
        GraftFunctions.hamming64(col("psig"), col("sig")).as("ham"))
      .withColumn("rn", row_number().over(wH))
      .filter(col("rn") <= K)
      .select(col("probe_id"), col("cand_id"))
    val exact = exactCosFTopK(s, d)
    hamTop.join(broadcast(exact), Seq("probe_id", "cand_id"))
      .groupBy(col("probe_id"))
      .agg(count(lit(1)).as("n_common"))
      .select(col("probe_id"), col("n_common"),
        round(col("n_common").cast("double") / K, 2).as("recall_at_10"))
      .orderBy(col("probe_id"))
  }

  def ivf(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val simStructs = centroidSims(collectCentroids(emb, NList)) _

    val assigned = emb.select(col("vec_id"), col("embedding"),
      array_max(simStructs(col("embedding"))).getField("cent_id").as("cell"))

    // Probes keep their NProbe best cells: sort the same struct array desc.
    val probeCells = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("probe_id"), col("embedding").as("probe_emb"),
        simStructs(col("embedding")).as("cells"))
      .select(col("probe_id"), col("probe_emb"),
        explode(expr(s"slice(transform(reverse(array_sort(cells)), c -> c.cent_id), 1, $NProbe)")).as("cell"))

    val wTop = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos_sim").desc, col("cand_id"))
    assigned.join(broadcast(probeCells), Seq("cell"))
      .select(col("probe_id"), col("vec_id").as("cand_id"),
        round(GraftFunctions.cosineSim(col("probe_emb"), col("embedding")), 4).as("cos_sim"))
      .select(col("probe_id"), col("cand_id"), col("cos_sim"),
        row_number().over(wTop).as("rn"))
      .filter(col("rn") <= K)
      .orderBy(col("probe_id"), col("rn"))
  }

  /** k for the a06 Lloyd step — like NList, a CONSTANT of the index, never
    * a function of corpus size. */
  private val KClusters = 8

  /**
   * a06: one distributed Lloyd iteration of k-means over the embedding
   * corpus — THE canonical embedding-clustering kernel (SemDeDup, IVF
   * training, topic bucketing all start here). Assign = narrow max-cosine
   * projection against k broadcast-literal centroids (no shuffle, no
   * crossJoin); update = the textbook (cell, dim) partial-aggregated
   * shuffle — rows × dim pairs combine map-side, so the shuffle volume is
   * O(k · dim · partitions), independent of corpus rows. Per-cluster
   * report: size, mean member→centroid cosine (cohesion), updated-centroid
   * L2 norm. All sums decimal-accumulated → partition-order independent;
   * cosines rounded to 6dp BEFORE averaging so the report is replayable
   * bit-for-bit by the SQL oracle.
   */
  def kmeansStep(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val emb = Tables.embeddings(s, d)
    val simStructs = centroidSims(collectCentroids(emb, KClusters)) _
    val assigned = emb
      .select(col("vec_id"), col("embedding"),
        array_max(simStructs(col("embedding"))).as("best"))
      .select(col("vec_id"), col("embedding"),
        col("best.cent_id").as("cell"), round(col("best.sim"), 6).as("sim"))

    val cohesion = assigned.groupBy(col("cell"))
      .agg(count(lit(1)).as("n_members"),
        (sum(col("sim").cast(DecimalType(18, 8))).cast("double") / count(lit(1)))
          .as("avg_sim_raw"))

    // Lloyd update: per-(cell, dim) decimal sums; then the new centroid's
    // norm from the per-dim means. m*m instead of pow(m,2): both engines'
    // multiply is correctly rounded, pow need not be.
    val byDim = assigned
      .select(col("cell"), posexplode(col("embedding")).as(Seq("i", "x")))
      .groupBy(col("cell"), col("i"))
      .agg(sum(col("x").cast(DecimalType(28, 12))).cast("double").as("sx"),
        count(lit(1)).as("n"))
    val m = col("sx") / col("n")
    val norms = byDim.groupBy(col("cell"))
      .agg(sqrt(sum((m * m).cast(DecimalType(28, 12))).cast("double")).as("norm_raw"))

    cohesion.join(norms, Seq("cell"))
      .select(col("cell"), col("n_members"),
        round(col("avg_sim_raw"), 6).as("avg_sim"),
        round(col("norm_raw"), 6).as("centroid_norm"))
      .orderBy(col("cell"))
  }

  /** Lloyd rounds for a09 — a CONSTANT training budget (the d06
    * bounded-iterations discipline), never a function of corpus size. */
  private val TrainIters = 3

  /**
   * a09: multi-iteration k-means training — the iterate-to-convergence
   * driver that SemDeDup / IVF training actually run, built from a06's
   * single Lloyd step. Per round: assignment is a narrow projection
   * against k broadcast-literal centroids (the corpus never shuffles);
   * the update shuffles per-(cell, dim) decimal partial sums — map-side
   * combined, so O(k · dim · partitions) rows independent of corpus
   * size — and collects exactly the k·dim centroid matrix to the driver
   * (bounded-driver rule: centroids are index constants, never
   * corpus-sized). Per-dim means round to 8dp each round so the whole
   * trajectory replays bit-for-bit in any engine; an emptied cell
   * carries its previous centroid. The report is a06's shape after the
   * final round plus `shift` — the L2 distance each centroid moved in
   * the last update, the convergence signal a production trainer
   * thresholds on.
   */
  /** The a09 Lloyd trajectory: [[TrainIters]] rounds from the scatter-
    * seeded centroids. Returns (previous, final) centroid matrices plus
    * the final-round assignment frame (lazy — its centroids are baked as
    * literals, so re-execution is stable). Shared by a09 (report) and
    * the trained-index consumers (a10's search, a13's coarse cells).
    *
    * Cached per (session, sf-dir) like the recall ground truths: the
    * trajectory is deterministic (8dp-rounded decimal means each round),
    * so the cache changes who pays the training jobs, never the values —
    * a deployment trains an index ONCE and serves every eval/search
    * variant from the same centroid matrix, and r13's bench showed each
    * consumer independently re-paying the full training trajectory
    * (a10 2.61 s, a13 3.46 s — mostly Lloyd reruns). The cached driver
    * state is k·dim doubles, an index constant. */
  private val lloydCache = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String),
    (Seq[(Long, Seq[Double])], Seq[(Long, Seq[Double])], DataFrame)]()

  private def lloydRounds(s: SparkSession, d: String)
      : (Seq[(Long, Seq[Double])], Seq[(Long, Seq[Double])], DataFrame) =
    lloydCache.computeIfAbsent((s, d), _ => lloydRoundsCompute(s, d))

  private def lloydRoundsCompute(s: SparkSession, d: String)
      : (Seq[(Long, Seq[Double])], Seq[(Long, Seq[Double])], DataFrame) = {
    import org.apache.spark.sql.types.DecimalType
    val emb = Tables.embeddings(s, d).select(col("vec_id"),
      GraftFunctions.floatsToDoubles(col("embedding")).as("emb"))

    def assign(cents: Seq[(Long, Seq[Double])]): DataFrame = {
      val sims = array(cents.map { case (id, ce) =>
        struct(cosD(col("emb"), typedLit(ce)).as("sim"), lit(id).as("cent_id"))
      }: _*)
      emb.select(col("vec_id"), col("emb"), array_max(sims).as("best"))
        .select(col("vec_id"), col("emb"),
          col("best.cent_id").as("cell"), round(col("best.sim"), 6).as("sim"))
    }

    // ≤ k·dim rows collected — the only driver materialization per round,
    // corpus-size independent (same bound as collectCentroids).
    def update(assigned: DataFrame,
               prev: Seq[(Long, Seq[Double])]): Seq[(Long, Seq[Double])] = {
      val means = assigned
        .select(col("cell"), posexplode(col("emb")).as(Seq("i", "x")))
        .groupBy(col("cell"), col("i"))
        .agg(round(sum(col("x").cast(DecimalType(28, 12))).cast("double") /
          count(lit(1)), 8).as("m"))
        .collect()
        .groupBy(_.getLong(0))
        .map { case (cell, rs) =>
          cell -> rs.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq }
      prev.map { case (cell, old) => cell -> means.getOrElse(cell, old) }
    }

    var cents: Seq[(Long, Seq[Double])] =
      centroidFrame(Tables.embeddings(s, d), KClusters).collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble))
        .toSeq
    var prev = cents
    var lastAssigned: DataFrame = assign(cents)
    (1 to TrainIters).foreach { t =>
      if (t > 1) lastAssigned = assign(cents)
      prev = cents
      cents = update(lastAssigned, cents)
    }
    (prev, cents, lastAssigned)
  }

  def kmeansTrain(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val (prev, cents, lastAssigned) = lloydRounds(s, d)

    val cohesion = lastAssigned.groupBy(col("cell"))
      .agg(count(lit(1)).as("n_members"),
        round(sum(col("sim").cast(DecimalType(18, 8))).cast("double") /
          count(lit(1)), 6).as("avg_sim"))

    // norm/shift from the final and previous centroid matrices as literal
    // rows — decimal sums over per-dim terms, the a06 norms discipline.
    import s.implicits._
    val prevMap = prev.toMap
    val geom = cents.sortBy(_._1)
      .map { case (cell, cNew) => (cell, cNew, prevMap(cell)) }
      .toDF("cell", "c_new", "c_prev")
      .select(col("cell"),
        posexplode(arrays_zip(col("c_new"), col("c_prev"))).as(Seq("i", "p")))
      .groupBy(col("cell"))
      .agg(
        round(sqrt(sum((col("p.c_new") * col("p.c_new"))
          .cast(DecimalType(28, 12))).cast("double")), 6).as("centroid_norm"),
        round(sqrt(sum(((col("p.c_new") - col("p.c_prev")) *
          (col("p.c_new") - col("p.c_prev")))
          .cast(DecimalType(28, 12))).cast("double")), 6).as("shift"))

    cohesion.join(geom, Seq("cell"))
      .select(col("cell"), col("n_members"), col("avg_sim"),
        col("centroid_norm"), col("shift"))
      .orderBy(col("cell"))
  }

  /**
   * a10: IVF search over the TRAINED centroids + recall eval — the full
   * train → index → search loop (a09's Lloyd rounds feeding a02's probe
   * topology): vectors assign to their trained cell (narrow projection,
   * corpus never shuffles), probes keep their top-`NProbe` trained cells,
   * candidates rank by exact cosine inside the probed cells only, and the
   * report is recall@10 against the exact brute-force top-k — the number
   * that justifies the ~k/NProbe scan cut an IVF index buys at 100 TB.
   * Everything double-precision with 4dp ranking rounds, so the oracle
   * replays the trajectory, the probe choice, and both top-k sets exactly.
   */
  def ivfTrainedRecall(s: SparkSession, d: String): DataFrame = {
    val (_, cents, _) = lloydRounds(s, d)
    ivfRecallWith(s, d, cents)
  }

  /** The a10 serve half — IVF search + recall eval against a given
    * centroid matrix (trained in-process for a10, LOADED FROM THE
    * PERSISTED INDEX for a15). */
  private def ivfRecallWith(s: SparkSession, d: String,
      cents: Seq[(Long, Seq[Double])]): DataFrame = {
    val emb = Tables.embeddings(s, d).select(col("vec_id"),
      GraftFunctions.floatsToDoubles(col("embedding")).as("emb"))
    def sims(v: Column) = array(cents.sortBy(_._1).map { case (id, ce) =>
      struct(cosD(v, typedLit(ce)).as("sim"), lit(id).as("cent_id"))
    }: _*)

    val assigned = emb.select(col("vec_id"), col("emb"),
      array_max(sims(col("emb"))).getField("cent_id").as("cell"))
    val probeCells = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("probe_id"), col("emb").as("pemb"),
        sims(col("emb")).as("cells"))
      .select(col("probe_id"), col("pemb"), explode(expr(
        s"slice(transform(reverse(array_sort(cells)), c -> c.cent_id), 1, $NProbe)"))
        .as("cell"))

    val wTop = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos_sim").desc, col("cand_id"))
    val ivfTop = assigned.join(broadcast(probeCells), Seq("cell"))
      .select(col("probe_id"), col("vec_id").as("cand_id"),
        round(cosD(col("pemb"), col("emb")), 4).as("cos_sim"))
      .withColumn("rn", row_number().over(wTop))
      .filter(col("rn") <= K)
      .select(col("probe_id"), col("cand_id"))

    val exactTop = exactCosDTopK(s, d)

    ivfTop.join(broadcast(exactTop), Seq("probe_id", "cand_id"))
      .groupBy(col("probe_id"))
      .agg(count(lit(1)).as("n_common"))
      .select(col("probe_id"), col("n_common"),
        round(col("n_common").cast("double") / K, 2).as("recall_at_10"))
      .orderBy(col("probe_id"))
  }

  /** a07 prune threshold on round(cos, 4) — rounding BEFORE the compare
    * pins the threshold edge across engines. */
  private val SemTau = 0.35

  /**
   * a07: SemDeDup-style semantic dedup — the pruning topology for
   * embedding near-dups at corpus scale: k-means cells bound the pairwise
   * work (no all-pairs join anywhere; candidate pairs exist only INSIDE a
   * cell), then pairs above the cosine threshold drop the higher vec_id.
   * Cells pair through [[Dedup.bucketPairs]] under the session's
   * `Dedup.bucketCap`, like every bucket in the dedup family — a
   * degenerate pile of identical embeddings (exactly what dedup corpora
   * contain) must not expand O(b²) in one task. Per-cell report:
   * members, dropped, kept.
   */
  def semanticDedup(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val simStructs = centroidSims(collectCentroids(emb, NList)) _
    val assigned = emb.select(col("vec_id"), col("embedding"),
      array_max(simStructs(col("embedding"))).getField("cent_id").as("cell"))

    // the victim of a pair is the higher vec_id, id_b
    val victims = Dedup.bucketPairs(assigned, Seq("cell"), Dedup.bucketCap(assigned))
      .filter(round(GraftFunctions.cosineSim(col("embedding_a"), col("embedding_b")), 4) >= SemTau)
      .select(col("cell"), lit(null).cast("long").as("vec_id"), col("id_b").as("victim"))
    // members and victims in ONE aggregate (count skips the victim rows'
    // null vec_id, countDistinct the member rows' null victim): no
    // separate member-count shuffle and no join back
    assigned.select(col("cell"), col("vec_id"), lit(null).cast("long").as("victim"))
      .unionByName(victims)
      .groupBy(col("cell"))
      .agg(count(col("vec_id")).as("n_members"), countDistinct(col("victim")).as("n_dropped"))
      .select(col("cell"), col("n_members"), col("n_dropped"),
        (col("n_members") - col("n_dropped")).as("n_kept"))
      .orderBy(col("cell"))
  }

  /** Largest probed-cell count on the a12 operating curve. */
  private val MaxProbe = 4

  /**
   * a12: IVF operating curve — recall@10 as a function of nprobe (1..4),
   * the tuning sweep every IVF deployment runs before picking its scan
   * budget: nprobe trades scan fraction (~nprobe/NList of the corpus per
   * probe) against recall; the curve is the evidence for the choice.
   * Scale shape: the corpus is scanned ONCE for the whole curve, not
   * once per point — cell assignment is a02's narrow argmax, candidates
   * join the broadcast probe-cell set carrying their cell RANK, and each
   * curve point is a filter (rank ≤ nprobe) over the same bounded
   * candidate frame via a broadcast 4-row nprobe dim; top-k windows run
   * per (probe, nprobe) over candidates only. The exact baseline is the
   * a01 broadcast-probe pass. Report: hits and recall per nprobe
   * (5 probes × k=10 → recall = hits/50), monotone by construction.
   */
  def nprobeCurve(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val simStructs = centroidSims(collectCentroids(emb, NList)) _

    val assigned = emb.select(col("vec_id"), col("embedding"),
      array_max(simStructs(col("embedding"))).getField("cent_id").as("cell"))

    val probeCells = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("probe_id"), col("embedding").as("probe_emb"),
        simStructs(col("embedding")).as("cells"))
      .select(col("probe_id"), col("probe_emb"),
        posexplode(expr(
          s"slice(transform(reverse(array_sort(cells)), c -> c.cent_id), 1, $MaxProbe)"))
          .as(Seq("rank0", "cell")))
      .select(col("probe_id"), col("probe_emb"),
        (col("rank0") + 1).as("cell_rank"), col("cell"))

    val cand = assigned.join(broadcast(probeCells), Seq("cell"))
      .select(col("probe_id"), col("cell_rank"), col("vec_id").as("cand_id"),
        round(GraftFunctions.cosineSim(col("probe_emb"), col("embedding")), 4)
          .as("cos_sim"))

    val nprobes = s.range(1, MaxProbe + 1).toDF("nprobe")
    val wIvf = Window.partitionBy(col("probe_id"), col("nprobe"))
      .orderBy(col("cos_sim").desc, col("cand_id"))
    val ivfTop = cand.join(broadcast(nprobes), col("cell_rank") <= col("nprobe"))
      .select(col("probe_id"), col("nprobe"), col("cand_id"),
        row_number().over(wIvf).as("rn"))
      .filter(col("rn") <= K)
      .select(col("probe_id"), col("nprobe"), col("cand_id"))

    val exactTop = exactCosFTopK(s, d)

    // both top-k sets are probes×K-bounded — broadcast beats a
    // sort-merge exchange pair at any corpus size
    val hits = ivfTop.join(broadcast(exactTop), Seq("probe_id", "cand_id"))
      .select(col("nprobe"), lit(1).as("hit"))
    nprobes.join(hits, Seq("nprobe"), "left")
      .groupBy(col("nprobe"))
      .agg(count(col("hit")).as("n_hits"))
      .select(col("nprobe"), col("n_hits"),
        round(col("n_hits").cast("double") / lit(5 * K), 4).as("recall"))
      .orderBy(col("nprobe"))
  }

  /** Subspaces / codewords-per-subspace for a11 — constants of the PQ
    * index (a real deployment trains them per-subspace with a09's
    * kernel; sizes never depend on corpus rows). */
  private val PqM = 4
  private val PqKw = 16

  /**
   * a11: product quantization — the fourth point on the index-compression
   * curve after a04/a05's int8 and a08's sign bits: the 64-dim vector
   * splits into [[PqM]]=4 subspaces and each sub-vector is replaced by
   * the id of its nearest codeword (L2, tie → lower code) from a
   * [[PqKw]]=16-entry per-subspace codebook — 4 nibbles ≈ 2 bytes per
   * vector vs 256 bytes of f32, the compression an IVF-PQ index stores.
   * Codebook = the sub-vectors of the PqKw lowest-id vectors (sample
   * init; O(K·dim) driver state, corpus-independent — the a02
   * discipline). Assignment is a pure NARROW projection: codebooks are
   * baked as literals, argmin via `array_min` over (sqdist, code)
   * structs, the corpus never shuffles; only the 64-row (subspace, code)
   * report aggregates — counts plus decimal-accumulated mean distortion
   * (the codebook-health signal a PQ trainer watches). ||x−c||² expands
   * to x·x − 2·x·c + c·c with every dot a sequential left fold, the form
   * the oracle replays via list_dot_product.
   */
  def pqCodes(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val emb = Tables.embeddings(s, d)
      .select(col("vec_id"),
        GraftFunctions.floatsToDoubles(col("embedding")).as("emb"))
    val book: Array[(Long, Seq[Double])] = emb.filter(col("vec_id") < PqKw)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).sortBy(_._1)
    val dim = book.head._2.length
    val sub = dim / PqM

    def dot(a: Column, b: Column): Column = GraftFunctions.dotD(a, b)

    // per-subspace argmin over the 16 codewords — one slice + one x·x
    // fold per subspace, then 16 cheap x·c folds against codeword
    // literals (c·c pre-folded on the driver with the same sequential
    // left-fold order as the oracle's list_dot_product)
    val sliced = emb.select(col("vec_id") +:
      (0 until PqM).map(m => slice(col("emb"), m * sub + 1, sub).as(s"s$m")): _*)
    val withXx = sliced.select(col("vec_id") +:
      (0 until PqM).flatMap(m => Seq(col(s"s$m"), dot(col(s"s$m"), col(s"s$m")).as(s"xx$m"))): _*)
    withXx
      .select(col("vec_id"), posexplode(array((0 until PqM).map { m =>
        array_min(array(book.toIndexedSeq.map { case (code, full) =>
          val cw = full.slice(m * sub, m * sub + sub)
          val cc = cw.foldLeft(0.0)((a, v) => a + v * v)
          struct(
            (col(s"xx$m") - lit(2.0) * dot(col(s"s$m"), typedLit(cw)) + lit(cc))
              .as("sqdist"),
            lit(code).as("code"))
        }: _*))
      }: _*)).as(Seq("subspace", "best")))
      .select(col("subspace"), col("best.code").as("code"),
        col("best.sqdist").as("sqdist"))
      .groupBy(col("subspace"), col("code"))
      .agg(count(lit(1)).as("n_assigned"),
        round(sum(col("sqdist").cast(DecimalType(28, 12))).cast("double") /
          count(lit(1)), 6).as("avg_sqdist"))
      .orderBy(col("subspace"), col("code"))
  }

  /**
   * a13: IVF-PQ with ADC ranking — the production ANN-at-scale
   * configuration, composed from the family's trained parts: a09's Lloyd
   * rounds give the coarse quantizer, a11's codebook gives the
   * 2-byte-per-vector PQ codes, and search ranks each probe's candidates
   * by ASYMMETRIC DISTANCE (exact query sub-vectors against each
   * candidate's codewords) — the memory shape that lets a 100 TB index
   * keep codes in RAM instead of 256-byte float vectors.
   *
   * Scale shape: cell assignment and PQ encoding are narrow projections
   * against literal centroid/codeword matrices (the corpus never
   * shuffles to index); each probe's ADC dot tables (PqM×PqKw doubles)
   * are computed ONCE on the 5×NProbe-row probe frame and broadcast, so
   * per-candidate ranking is PqM table LOOKUPS, not dim multiplies;
   * candidates exist only inside probed cells. Determinism: every dot is
   * the same sequential left fold both engines run (list_dot_product in
   * the oracle), the per-subspace ADC terms are decimal-summed (exact ⇒
   * order-free), rankings use round(…, 4) with id tiebreaks. Recall is
   * against the exact full-dimension L2 top-10 — the ADC-vs-exact number
   * an IVF-PQ deployment tunes nprobe/codebooks on.
   */
  def ivfpqRecall(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val (_, cents, _) = lloydRounds(s, d)
    val emb = Tables.embeddings(s, d).select(col("vec_id"),
      GraftFunctions.floatsToDoubles(col("embedding")).as("emb"))
    val book: Seq[(Long, Seq[Double])] = emb.filter(col("vec_id") < PqKw)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).sortBy(_._1).toSeq
    val dim = book.head._2.length
    val sub = dim / PqM
    def dot(a: Column, b: Column): Column = GraftFunctions.dotD(a, b)
    def cwSlice(full: Seq[Double], m: Int): Seq[Double] =
      full.slice(m * sub, m * sub + sub)
    def ccOf(cw: Seq[Double]): Double = cw.foldLeft(0.0)((a, v) => a + v * v)
    def simsTo(v: Column) = array(cents.sortBy(_._1).map { case (id, ce) =>
      struct(cosD(v, typedLit(ce)).as("sim"), lit(id).as("cent_id"))
    }: _*)

    // index side: coarse cell + per-subspace PQ code, all narrow
    val sliced = emb.select(col("vec_id") +: col("emb") +:
      (0 until PqM).map(m => slice(col("emb"), m * sub + 1, sub).as(s"s$m")): _*)
    val withXx = sliced.select(col("vec_id") +: col("emb") +:
      (0 until PqM).flatMap(m =>
        Seq(col(s"s$m"), dot(col(s"s$m"), col(s"s$m")).as(s"xx$m"))): _*)
    val coded = withXx.select(col("vec_id") +:
      array_max(simsTo(col("emb"))).getField("cent_id").as("cell") +:
      (0 until PqM).map { m =>
        array_min(array(book.toIndexedSeq.map { case (code, full) =>
          val cw = cwSlice(full, m)
          struct(
            (col(s"xx$m") - lit(2.0) * dot(col(s"s$m"), typedLit(cw)) +
              lit(ccOf(cw))).as("sqdist"),
            lit(code).as("code"))
        }: _*)).getField("code").as(s"code$m")
      }: _*)

    // probe side: NProbe trained cells + per-subspace ADC dot tables,
    // a 5×NProbe-row frame however large the corpus
    val probeCells = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("probe_id"), col("emb").as("pemb"),
        simsTo(col("emb")).as("cellsims"))
      .select(col("probe_id"), col("pemb"), explode(expr(
        s"slice(transform(reverse(array_sort(cellsims)), c -> c.cent_id), 1, $NProbe)"))
        .as("cell"))
    val probeTbl = probeCells.select(col("probe_id") +: col("cell") +:
      (0 until PqM).flatMap { m =>
        val qm = slice(col("pemb"), m * sub + 1, sub)
        Seq(dot(qm, qm).as(s"qxx$m"),
          array(book.map { case (_, full) =>
            dot(qm, typedLit(cwSlice(full, m))) }: _*).as(s"dt$m"))
      }: _*)

    val adcTerm: Int => Column = m =>
      (col(s"qxx$m") -
        lit(2.0) * element_at(col(s"dt$m"), (col(s"code$m") + 1).cast("int")) +
        element_at(typedLit(book.map { case (_, full) => ccOf(cwSlice(full, m)) }),
          (col(s"code$m") + 1).cast("int")))
        .cast(DecimalType(28, 12))
    val wTop = Window.partitionBy(col("probe_id"))
      .orderBy(col("adc"), col("cand_id"))
    val ivfpqTop = coded.join(broadcast(probeTbl), Seq("cell"))
      .select(col("probe_id"), col("vec_id").as("cand_id"),
        round((0 until PqM).map(adcTerm).reduce(_ + _).cast("double"), 4).as("adc"))
      .withColumn("rn", row_number().over(wTop))
      .filter(col("rn") <= K)
      .select(col("probe_id"), col("cand_id"))

    // exact full-dimension L2 top-k — the eval's ground truth (shared
    // cache: the one L2-metric consumer today, but the reuse semantics
    // and the staged bounded frame match the cosine ground truths)
    val exactTop = cachedGroundTruth(s, d, "l2-double") {
      val probes = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("probe_id"), col("emb").as("pemb"))
      val wEx = Window.partitionBy(col("probe_id"))
        .orderBy(col("l2"), col("cand_id"))
      emb.crossJoin(broadcast(probes))
        .select(col("probe_id"), col("vec_id").as("cand_id"),
          round(dot(col("pemb"), col("pemb")) -
            lit(2.0) * dot(col("pemb"), col("emb")) +
            dot(col("emb"), col("emb")), 4).as("l2"))
        .withColumn("rn", row_number().over(wEx))
        .filter(col("rn") <= K)
        .select(col("probe_id"), col("cand_id"))
    }

    ivfpqTop.join(broadcast(exactTop), Seq("probe_id", "cand_id"))
      .groupBy(col("probe_id"))
      .agg(count(lit(1)).as("n_common"))
      .select(col("probe_id"), col("n_common"),
        round(col("n_common").cast("double") / K, 2).as("recall_at_10"))
      .orderBy(col("probe_id"))
  }

  /**
   * a14: FILTERED retrieval — top-k restricted to candidates satisfying
   * a metadata predicate (here: same label as the probe — the
   * same-language / same-collection retrieval every RAG corpus runs).
   * Naive post-filtering of an unfiltered top-k breaks recall when the
   * predicate is selective (the k survivors may all be filtered out);
   * the correct exact form SCOPES the search to the filtered slice
   * before ranking, which this entry does via the label equi-join —
   * at scale the predicate composes orthogonally with a02's IVF cell
   * probing (intersect each probed cell's candidates with the
   * predicate), and this brute-force-within-slice is its exact
   * reference. The probe frame (k rows + labels) broadcasts; the
   * corpus is scanned once, each row joining only its own label's
   * probes — narrower than a01's unfiltered cross join.
   */
  def filteredKnn(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val probes = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("probe_id"), col("label").as("probe_label"),
        col("embedding").as("probe_emb"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos_sim").desc, col("cand_id"))
    emb.join(broadcast(probes), col("label") === col("probe_label"))
      .select(col("probe_id"), col("label"), col("vec_id").as("cand_id"),
        round(GraftFunctions.cosineSim(col("probe_emb"), col("embedding")), 4)
          .as("cos_sim"))
      .select(col("probe_id"), col("label"), col("cand_id"), col("cos_sim"),
        row_number().over(w).as("rn"))
      .filter(col("rn") <= K)
      .orderBy(col("probe_id"), col("rn"))
  }

  /**
   * a15: INDEX PERSISTENCE — the train/serve separation every production
   * ANN deployment runs (train once offline, serve from the saved
   * artifact): a09's Lloyd rounds train the coarse quantizer, the
   * centroid matrix AND the a11 PQ codebook persist as parquet index
   * tables (k·dim and PqKw·dim rows — the index metadata is tiny even
   * when the indexed corpus is 100 TB; the big artifact, per-vector
   * codes, stays columnar beside the vectors), and the search half
   * RELOADS the centroids from disk and runs a10's probe topology with
   * no retraining anywhere downstream of the load. The report is
   * identical to a10's by construction, so the oracle is a10's replay BY
   * REFERENCE — any persistence lossiness (double truncation, row-order
   * dependence, schema drift) forks the hash. SPARK_GRAFT_INDEX_DIR
   * overrides the index location (a shared filesystem path in a real
   * deployment; java.io.tmpdir here).
   */
  def annIndexPersist(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val dir = sys.env.getOrElse("SPARK_GRAFT_INDEX_DIR",
      System.getProperty("java.io.tmpdir") + "/graft_ann_index")
    // train + persist (the offline half)
    val (_, cents, _) = lloydRounds(s, d)
    cents.toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/centroids")
    Tables.embeddings(s, d)
      .filter(col("vec_id") < PqKw)
      .select(col("vec_id").as("code"),
        GraftFunctions.floatsToDoubles(col("embedding")).as("codeword"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/codebook")
    // reload + serve (k·dim rows — the bounded-collect contract)
    val loaded = s.read.parquet(s"$dir/centroids")
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).sortBy(_._1).toSeq
    ivfRecallWith(s, d, loaded)
  }

  /**
   * a16: INCREMENTAL INDEX UPDATE — the maintenance half of the a15
   * train/serve split (every production ANN index ingests new vectors
   * continuously; retraining per batch is a non-starter at 100 TB): the
   * trained coarse quantizer and the per-cell BASE posting stats persist
   * as the index artifact, a "new" batch (vec_id % 10 == 0 plays the
   * arrivals) is assigned against the RELOADED centroids — only the
   * delta is scanned in the online half, history never re-reads — and
   * the cell stats merge by addition. Because cell assignment is
   * stateless per vector, incremental merge ≡ full reassignment; the
   * report carries BOTH counts and `merge_ok` per cell, so the oracle
   * hash pins the defining invariant exactly (the p12 merge-vs-rebuild
   * discipline applied to the index). `delta_drift` is the batch's mean
   * cosine to its centroid (6dp sims accumulated in DECIMAL) — the
   * index-aging signal that schedules retraining when arrivals stop
   * matching the trained cells. The full-reassignment arm is the AUDIT,
   * not the production path. Scale: the index artifact is k·dim +
   * k-row stats (corpus-independent); the online half shuffles only the
   * delta's (cell, sim) rows.
   */
  def annIndexUpdate(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.types.DecimalType
    val dir = sys.env.getOrElse("SPARK_GRAFT_INDEX_DIR",
      System.getProperty("java.io.tmpdir") + "/graft_ann_index") + "_upd"
    val (_, cents, _) = lloydRounds(s, d)
    val emb = Tables.embeddings(s, d).select(col("vec_id"),
      GraftFunctions.floatsToDoubles(col("embedding")).as("emb"))
    def assignTo(cs: Seq[(Long, Seq[Double])], df: DataFrame): DataFrame = {
      val sims = array(cs.sortBy(_._1).map { case (id, ce) =>
        struct(cosD(col("emb"), typedLit(ce)).as("sim"), lit(id).as("cent_id"))
      }: _*)
      df.select(col("vec_id"), array_max(sims).as("best"))
        .select(col("vec_id"), col("best.cent_id").as("cell"),
          round(col("best.sim"), 6).as("sim"))
    }
    // offline half: persist centroids + per-cell base posting stats
    cents.toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/centroids")
    assignTo(cents, emb.filter(col("vec_id") % 10 =!= 0))
      .groupBy(col("cell")).agg(count(lit(1)).as("n_base"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/cells")
    // online half: reload the artifact, assign ONLY the delta, merge
    val loaded = s.read.parquet(s"$dir/centroids")
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).sortBy(_._1).toSeq
    val deltaStats = assignTo(loaded, emb.filter(col("vec_id") % 10 === 0))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_delta"),
        round(sum(col("sim").cast(DecimalType(18, 8))).cast("double") /
          count(lit(1)), 6).as("delta_drift"))
    val baseStats = s.read.parquet(s"$dir/cells")
    // audit arm: stateless assignment makes the merge ≡ a full rebuild
    val rebuild = assignTo(loaded, emb)
      .groupBy(col("cell")).agg(count(lit(1)).as("n_rebuild"))
    val zero = lit(0L)
    loaded.map(_._1).toDF("cell")
      .join(baseStats, Seq("cell"), "left_outer")
      .join(deltaStats, Seq("cell"), "left_outer")
      .join(rebuild, Seq("cell"), "left_outer")
      .select(col("cell"),
        coalesce(col("n_base"), zero).as("n_base"),
        coalesce(col("n_delta"), zero).as("n_delta"),
        (coalesce(col("n_base"), zero) + coalesce(col("n_delta"), zero))
          .as("n_total"),
        coalesce(col("n_rebuild"), zero).as("n_rebuild"),
        (coalesce(col("n_base"), zero) + coalesce(col("n_delta"), zero) ===
          coalesce(col("n_rebuild"), zero)).as("merge_ok"),
        col("delta_drift"))
      .orderBy(col("cell"))
  }

  /** a17: range (radius) search — every neighbor within cosine >= tau,
    * the OTHER retrieval contract beside top-k (top-k answers "the 10
    * nearest whatever their quality"; radius answers "everything at
    * least this similar", the form dedup thresholds and recall-bounded
    * retrieval want). Exact semantics: probes broadcast against the
    * corpus scan — embarrassingly parallel, the corpus never shuffles,
    * and the only exchange is the tiny per-probe count window over the
    * matches themselves (bounded by the result size, not the corpus;
    * at 100 TB the scan cost dominates and the codegen cosine kernel
    * keeps it one fused pass). Threshold compares the ROUNDED value so
    * the oracle's decimal-exact accumulation can't fork a borderline. */
  def rangeSearch(s: SparkSession, d: String, tau: Double = 0.30): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val probes = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("probe_id"), col("embedding").as("probe_emb"))
    emb.crossJoin(broadcast(probes))
      .select(col("probe_id"), col("vec_id").as("cand_id"),
        round(GraftFunctions.cosineSim(col("probe_emb"), col("embedding")), 4)
          .as("cos_sim"))
      .filter(col("cos_sim") >= tau)
      .withColumn("n_matches",
        count(lit(1)).over(Window.partitionBy(col("probe_id"))))
      .orderBy(col("probe_id"), col("cand_id"))
  }

  /** a18: maximum-inner-product search (MIPS) — the retrieval contract
    * recommendation and reranking models actually pose (un-normalized
    * score = user·item dot product; cosine top-k answers a DIFFERENT
    * question when norms vary). Exact top-k by inner product, plus a
    * live check of the norm-augmentation reduction (Bachrach et al.
    * 2014 / Neyshabur & Srebro 2015): append sqrt(M² − ‖x‖²) to every
    * corpus vector (M = max corpus norm) and MIPS becomes cosine search
    * — cos([q,0],[x,aug]) = q·x / (‖q‖·M), monotone in the dot product
    * — so the entry reports, per probe, how many of the augmented-
    * cosine top-k coincide with the exact MIPS top-k (the a05/a08
    * recall-eval discipline; the reduction is what lets a cosine-only
    * ANN index serve MIPS at 100 TB). Topology is a01's: probes and the
    * 1-row M² broadcast, the corpus scans once and never shuffles; both
    * rank columns ride one per-probe exchange. Rankings compare ROUNDED
    * values with a cand_id tie-break so decimal-vs-double accumulation
    * can't fork a borderline rank. */
  def mips(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
      .select(col("vec_id"),
        GraftFunctions.floatsToDoubles(col("embedding")).as("e"))
    def dot(a: Column, b: Column): Column = GraftFunctions.dotD(a, b)
    val probes = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("probe_id"), col("e").as("pe"))
    val m2 = emb.agg(max(dot(col("e"), col("e"))).as("m2"))
    val scored = emb.crossJoin(broadcast(probes)).crossJoin(broadcast(m2))
      .select(col("probe_id"), col("vec_id").as("cand_id"),
        round(dot(col("pe"), col("e")), 4).as("ip"),
        round(dot(col("pe"), col("e")) /
          (sqrt(dot(col("pe"), col("pe"))) * sqrt(col("m2"))), 4).as("aug_cos"))
    val wIp = Window.partitionBy(col("probe_id"))
      .orderBy(col("ip").desc, col("cand_id"))
    val wAug = Window.partitionBy(col("probe_id"))
      .orderBy(col("aug_cos").desc, col("cand_id"))
    val ranked = scored.select(col("probe_id"), col("cand_id"), col("ip"),
      row_number().over(wIp).as("rn"), row_number().over(wAug).as("rn_aug"))
    // Filter to the top-k UNION (≤ 2k rows per probe) and STAGE it so the
    // corpus cross-join + both rank windows run ONCE — the agree count
    // and the report both branch off this tiny frame (an unstaged DAG
    // fork here re-scans the corpus per branch).
    val top = graft.plans.Checkpoints.stage(
      ranked.filter(col("rn") <= K || col("rn_aug") <= K))
    val agree = top.filter(col("rn") <= K && col("rn_aug") <= K)
      .groupBy(col("probe_id")).agg(count(lit(1)).as("n_aug_common"))
    top.filter(col("rn") <= K)
      .join(agree, Seq("probe_id"))
      .select(col("probe_id"), col("cand_id"), col("ip"), col("rn"),
        col("n_aug_common"))
      .orderBy(col("probe_id"), col("rn"))
  }
}
