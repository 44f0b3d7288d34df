package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions
import graft.sources.Tables

/**
 * Deduplication operators for LLM training-data pipelines.
 *
 * Scale design: every near-dup algorithm is LSH-banded — candidate pairs
 * are only formed *within* a (band, bucket-hash) group after a hash
 * shuffle, never via a global cross join, so cost is O(n · k) hashing +
 * bounded per-bucket pair expansion. This is the standard web-scale
 * (Common-Crawl-size) dedup topology and survives 100 TB.
 */
object Dedup {

  /** Word tokens of the lower-cased text. */
  private def words(c: Column): Column = split(lower(c), "\\s+")

  /** The canonical 3-word shingle array over a word-array column `w` —
    * ONE definition shared by the estimator eval and d15 containment
    * (whose correctness argument depends on matching the signatures'
    * shingles exactly, including the short-doc partial-gram edge case).
    * r20: the transform/concat_ws HOF (interpreted lambda per shingle)
    * became the [[GraftFunctions.shingles3]] codegen kernel — same
    * output bit-for-bit (ExpressionsSpec parity pin); the signature and
    * winnowing paths use the FUSED word-array kernels that never build
    * the shingle strings at all. */
  private def shingles3: Column = GraftFunctions.shingles3(col("w"))

  /** d01: exact dedup — group by content hash, keep the min doc_id. */
  def exact(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy(md5(lower(trim(col("text")))).as("h"))
      .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_copies"))
      .orderBy(col("h"))

  private val MinhashK = 128
  private val Bands = 16
  private val RowsPerBand = MinhashK / Bands

  /** Per-doc (doc_id, sig) with the 128-perm MinHash signature — the
    * FUSED word-array kernel: shingle hashes fold straight off the word
    * bytes (byte-identical to hashing the built shingle strings —
    * ExpressionsSpec pins minhashWords3 == minhash(shingles3(w), k)),
    * so the signature pass allocates no shingle strings and runs as one
    * codegen call per row. The word array is still materialized once
    * per row (a repeated `split()` inside a lambda would re-run the
    * regex per shingle — ~200x more CPU at corpus scale). */
  def minhashSignatures(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), split(lower(col("text")), "\\s+").as("w"))
      .select(col("doc_id"), GraftFunctions.minhashWords3(col("w"), MinhashK).as("sig"))

  /** Band rows: (doc_id, band, band_key) — Bands rows per doc. The bucket
    * key is the raw 8-value signature slice: grouping hashes it internally
    * for the exchange anyway, and exact slice equality can't suffer
    * cross-band hash collisions (and is replayable by the SQL oracle).
    * r20: the transform/slice HOF became the chunkLongs codegen kernel —
    * identical 16x8 split (parity-pinned). */
  def minhashBands(sigs: DataFrame): DataFrame =
    sigs.select(col("doc_id"), posexplode(
        GraftFunctions.chunkLongs(col("sig"), RowsPerBand))
      .as(Seq("band", "band_key")))

  /** Max rows per bucket before the bucket is dropped as degenerate.
    * At corpus scale a boilerplate-text bucket otherwise emits O(n²) pairs;
    * dropping is standard (the docs still collide in other bands). */
  private[graft] val MaxBucket = 1000

  /** The effective bucket cap: session-tunable via
    * `spark.graft.dedup.maxBucket` (default [[MaxBucket]]). The r16
    * second-decade bench showed bucket POPULATIONS grow with the corpus
    * on boilerplate-saturated text, so pair mass inside a fixed cap
    * grows quadratically — a 100 TB operator tunes this down to their
    * corpus's boilerplate profile rather than paying that mass. Read at
    * plan-build time on the driver; every bucketed dedup path
    * (minhash-LSH, simhash pigeonhole, embedding LSH, winnowing, a03's
    * LSH tables, a07's k-means cells) honors it. */
  private[graft] def bucketCap(df: DataFrame): Int =
    parseCap(df.sparkSession.conf.get("spark.graft.dedup.maxBucket",
      MaxBucket.toString))

  /** `raw` as a bucket cap — the one check behind both spellings of the
    * knob (`SET SESSION dedup_max_bucket` and a direct conf write). A cap
    * of 1 would make every between(2, cap) filter an empty range and
    * silently disable all bucketed pairing, so it is refused as loudly as
    * a non-integer. */
  private[graft] def parseCap(raw: String): Int =
    raw.trim.toIntOption.filter(_ >= 2).getOrElse(throw new IllegalArgumentException(
      s"dedup_max_bucket (spark.graft.dedup.maxBucket) must be an integer >= 2 " +
        s"(a cap of 1 drops every bucket), got '$raw'"))

  /** Bucket cap for PROBE-pair generation (d16's curve calibration).
    * MaxBucket bounds the worst bucket but still admits ~500k pairs per
    * bucket, and bucket populations grow WITH the corpus on
    * boilerplate-saturated text: the r16 sf10 decade bench measured d16
    * at 501 s (48.5x for 10x data) with the winnowing probe source's
    * raw pair mass spilling >47 GB — pair counts between cap 2 and 1000
    * grow quadratically in shingle multiplicity, which grows linearly
    * with corpus size when the vocabulary saturates. A calibration curve
    * does not need every shared-run pair, only a deterministic sample of
    * high-J probes; capping probe buckets at 16 keeps the middle-J
    * probes where buckets are genuinely small (real near-dup structure)
    * and drops only boilerplate-degenerate buckets — the same judgment
    * call production dedup makes for hot shingles. The J=1 end is
    * covered separately by the linear exact-duplicate successor probes,
    * which no bucket cap can starve. */
  private val ProbeBucketCap = 16

  /** Pairs of rows sharing a bucket, for every bucketed near-dup path.
    * `rows` holds the bucket `keys`, then one id column (its first
    * non-key column, unique within a bucket), then payload columns. Only
    * buckets of 2..`cap` rows expand; each unordered pair comes back once
    * per shared bucket as the keys, `id_a` < `id_b`, and every payload
    * column once per side (`<name>_a`, `<name>_b`).
    *
    * The cap is a codegen count aggregate and the expansion a codegen
    * hash SELF-JOIN over the surviving slice. The collect_list +
    * nested-transform form it replaced built each bucket's pair array
    * through INTERPRETED lambdas: r14 measured 13.5 s for 840k winnowing
    * pairs at sf1.0, against sub-second for the join. */
  private[graft] def bucketPairs(rows: DataFrame, keys: Seq[String], cap: Int): DataFrame = {
    val ks = keys.map(col)
    val ok = rows.groupBy(ks: _*).agg(count(lit(1)).as("c"))
      .filter(col("c").between(2, cap))
      .select(ks: _*)
    val kept = rows.join(ok, keys, "left_semi")
    val id +: payload = rows.columns.toSeq.filterNot(keys.contains)
    def side(s: String) = kept.select(ks ++ (col(id).as(s"id_$s") +:
      payload.map(p => col(p).as(s"${p}_$s"))): _*)
    side("a").join(side("b"), keys).filter(col("id_a") < col("id_b"))
  }

  /** Distinct pairs (id_a < id_b) of docs sharing an LSH bucket. ONE
    * signature pass (the banded frame — slim: doc_id + band + 8-byte key
    * — is staged, so neither the cap count nor the join sides recompute
    * signatures), hash shuffles on (band, band_key) only, never a cross
    * join. */
  def lshCandidatePairs(bands: DataFrame): DataFrame =
    bucketPairs(graft.plans.Checkpoints.stage(bands), Seq("band", "band_key"),
      bucketCap(bands))
      .select(col("id_a"), col("id_b"))
      .distinct()

  /**
   * d02: MinHash-LSH near-dup summary. Each doc reports how many LSH
   * candidate partners it has (docs sharing ≥1 of 16 bands of its 128-perm
   * signature) and whether it is a near-dup candidate.
   */
  def minhashLsh(s: SparkSession, d: String): DataFrame = {
    val sigs = minhashSignatures(Tables.documents(s, d))
    val pairs = lshCandidatePairs(minhashBands(sigs))
    val partners = pairs.select(col("id_a").as("doc_id"))
      .unionAll(pairs.select(col("id_b").as("doc_id")))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_candidates"))
    Tables.documents(s, d).select(col("doc_id"))
      .join(partners, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        (coalesce(col("n_candidates"), lit(0L)) > 0).as("is_dup_candidate"))
      .orderBy(col("doc_id"))
  }

  /**
   * d09: MinHash estimator evaluation — per adjacent-doc pair, the
   * signature-agreement Jaccard estimate vs the exact shingle-set Jaccard
   * and the absolute error. The eval every LSH deployment runs before
   * trusting its thresholds ("is 128 permutations enough for THIS
   * corpus?"): E[agreement] = J, σ = √(J(1−J)/k). The estimate is a
   * zip_with over two 128-long signatures, the exact value an
   * intersect/union over distinct shingle sets — one adjacent-key
   * equi-join, no pair explosion beyond the probe pairs themselves.
   */
  def minhashEstimate(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    // Staged (localCheckpoint): both sides of the adjacent-id self-join
    // reference this frame — unstaged, the minhash signature pass (the
    // expensive half) ran twice
    val withSets = graft.plans.Checkpoints.stage(docs
      .select(col("doc_id"), split(lower(col("text")), "\\s+").as("w"))
      .select(col("doc_id"),
        GraftFunctions.minhashWords3(col("w"), MinhashK).as("sig"),
        array_distinct(shingles3).as("ss")))
    val a = withSets.select(col("doc_id").as("id_a"),
      col("sig").as("sig_a"), col("ss").as("ss_a"),
      size(col("ss")).as("n_a"))
    val b = withSets.select((col("doc_id") - 1).as("id_a"),
      col("doc_id").as("id_b"), col("sig").as("sig_b"), col("ss").as("ss_b"),
      size(col("ss")).as("n_b"))
    val est = GraftFunctions.zipEqCount(col("sig_a"), col("sig_b"))
      .cast("double") / MinhashK
    // |A ∪ B| = |A| + |B| − |A ∩ B| over distinct sets (r20, the d16/d15
    // size-carry trick): same integers, same IEEE division, no per-pair
    // union array; ni materialized in its own projection so the
    // intersect runs ONCE per pair
    val exact = col("ni").cast("double") / (col("n_a") + col("n_b") - col("ni"))
    a.join(b, Seq("id_a"))
      .select(col("id_a"), col("id_b"), col("n_a"), col("n_b"),
        col("sig_a"), col("sig_b"),
        size(array_intersect(col("ss_a"), col("ss_b"))).as("ni"))
      .select(col("id_a"), col("id_b"),
        round(est, 6).as("est_jaccard"), round(exact, 6).as("exact_jaccard"))
      .withColumn("abs_err", round(abs(col("est_jaccard") - col("exact_jaccard")), 6))
      .orderBy(col("id_a"))
  }

  /** d06: near-dup clusters — LSH candidate pairs resolved into connected
    * components; every doc labeled with its component's min doc_id. */
  def minhashClusters(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val pairs = lshCandidatePairs(minhashBands(minhashSignatures(docs)))
    Clustering.connectedComponents(docs.select(col("doc_id")), pairs)
      .orderBy(col("doc_id"))
  }

  /**
   * d03: SimHash near-dup summary. 64-bit SimHash; candidates share one of
   * four 16-bit blocks (pigeonhole: hamming ≤ 3 ⇒ some block equal);
   * verified with hamming ≤ 3.
   */
  def simhash(s: SparkSession, d: String): DataFrame = {
    val sigs = Tables.documents(s, d)
      .select(col("doc_id"),
        GraftFunctions.simhash64(split(lower(col("text")), "\\s+")).as("sh"))
    // Pigeonhole buckets: a pair found in TWO blocks arrives once per
    // block as the IDENTICAL tuple (sh is functionally determined by the
    // id) and the distinct collapses it.
    val blocks = graft.plans.Checkpoints.stage(
      sigs.select(col("doc_id"), col("sh"), posexplode(
          GraftFunctions.blocks16(col("sh")))
        .as(Seq("blk", "blk_val"))))
    val pairs = bucketPairs(blocks, Seq("blk", "blk_val"), bucketCap(blocks))
      .select(col("id_a"), col("id_b"), col("sh_a"), col("sh_b"))
      .distinct()
      .filter(GraftFunctions.hamming64(col("sh_a"), col("sh_b")) <= 3)
    val cand = pairs.select(col("id_a").as("doc_id"))
      .unionAll(pairs.select(col("id_b").as("doc_id")))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_near"))
    sigs.select(col("doc_id"), col("sh"))
      .join(cand, Seq("doc_id"), "left")
      .select(col("doc_id"), col("sh").as("simhash"),
        coalesce(col("n_near"), lit(0L)).as("n_near"))
      .orderBy(col("doc_id"))
  }

  /**
   * d04: exact word-set (1-gram) Jaccard over adjacent-id pairs — the
   * verification kernel that LSH candidates are piped through at scale
   * (kept SQL-expressible here so the DuckDB oracle replays it).
   */
  def ngramJaccard(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), array_distinct(words(col("text"))).as("ws"))
    // |A ∪ B| = |A| + |B| − |A ∩ B| over the distinct word sets (r20, the
    // d15/d16 size-carry trick): the per-pair union array never builds —
    // same integers, same IEEE division, same rounded value
    docs.as("a")
      .join(docs.as("b"), col("b.doc_id") === col("a.doc_id") + 1)
      .select(
        col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        size(col("a.ws")).as("n_a"), size(col("b.ws")).as("n_b"),
        size(array_intersect(col("a.ws"), col("b.ws"))).as("ni"))
      .select(col("id_a"), col("id_b"),
        round(col("ni").cast("double") /
          (col("n_a") + col("n_b") - col("ni")), 6).as("jaccard"))
      .orderBy(col("id_a"))
  }

  /** Word n-gram size for benchmark-contamination checks (the 8-gram
    * standard from published LLM decontamination procedures). */
  private val ContamN = 8

  /** Distinct word `n`-grams of `text` as one row per (doc_id, gram).
    * Words materialized once; docs shorter than `n` words emit nothing. */
  private def ngramRows(docs: DataFrame, n: Int): DataFrame =
    docs
      .select(col("doc_id"), split(lower(trim(col("text"))), "\\s+").as("w"))
      .filter(size(col("w")) >= n)
      .select(col("doc_id"), explode(array_distinct(
        GraftFunctions.wordGrams(col("w"), n))).as("gram"))

  /**
   * d07: benchmark contamination check — flag corpus documents sharing any
   * 8-gram with a held-out benchmark set (here: every 97th doc stands in
   * for the eval benchmark). The benchmark n-gram set is fixed-size and
   * BROADCAST, so the corpus side is one scan + one narrow hash-join probe
   * per gram — no shuffle of the corpus at 100 TB; only per-doc match
   * counts aggregate.
   */
  def contamination(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val benchGrams = ngramRows(docs.filter(col("doc_id") % 97 === 0), ContamN)
      .select(col("gram")).distinct()
    val hits = ngramRows(docs, ContamN)
      .join(broadcast(benchGrams), Seq("gram"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared_grams"))
    docs.select(col("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shared_grams"), lit(0L)).as("n_shared_grams"),
        (coalesce(col("n_shared_grams"), lit(0L)) > 0).as("contaminated"))
      .orderBy(col("doc_id"))
  }

  private val BloomBits = 1 << 19 // 64 KiB filter
  private val BloomHashes = 7

  /**
   * d12: Bloom-prefiltered contamination — same answer as d07, different
   * scale topology. d07 broadcasts the full benchmark 8-gram set to every
   * executor (GBs for a real eval-suite union); d12 first tree-reduces the
   * gram set to a CONSTANT 64 KiB Bloom filter ([[graft.functions
   * .BloomFilterBuild]] — partials merge by byte-OR, the driver holds only
   * the filter itself), probes it with a codegen'd might-contain inside
   * the corpus scan stage, and exact-confirms ONLY the survivors (true
   * hits + ~2^-7 false positives at 7 hashes) against the gram set with a
   * gram-keyed shuffle join — so the confirm shuffle carries the survivor
   * sliver, not the corpus, and nothing benchmark-sized ever broadcasts.
   * False positives cannot reach the output: the confirm join is exact,
   * which is also why the entry stays hash-verifiable (the oracle replays
   * the exact semantics; the Bloom is invisible to the result).
   */
  def bloomContamination(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val benchGrams = ngramRows(docs.filter(col("doc_id") % 97 === 0), ContamN)
      .select(col("gram")).distinct()
    // bounded driver collect: exactly one row of BloomBits/8 bytes
    val bloom = benchGrams
      .agg(GraftFunctions.bloomBuild(col("gram"), BloomBits, BloomHashes).as("bf"))
      .head().getAs[Array[Byte]]("bf")
    val survivors = ngramRows(docs, ContamN)
      .filter(GraftFunctions.bloomMightContain(lit(bloom), col("gram"), BloomHashes))
    // shuffle_hash pins the at-scale confirm shape: benchmark gram sets
    // outgrow any broadcast threshold long before the corpus does
    val hits = survivors
      .join(benchGrams.hint("shuffle_hash"), Seq("gram"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared_grams"))
    docs.select(col("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shared_grams"), lit(0L)).as("n_shared_grams"),
        (coalesce(col("n_shared_grams"), lit(0L)) > 0).as("contaminated"))
      .orderBy(col("doc_id"))
  }

  /**
   * d05: embedding near-dup via random-hyperplane LSH. 16 sign bits from
   * fixed pseudo-random planes bucket the vectors; cosine (custom codegen
   * expression) is evaluated only within buckets.
   */
  def embeddingDedup(s: SparkSession, d: String): DataFrame = {
    val dim = 64
    val nPlanes = 16
    val rnd = new java.util.Random(42)
    val planes = Array.fill(nPlanes, dim)(rnd.nextGaussian())
    val bit: Int => Column = p =>
      when(GraftFunctions.dotFD(col("embedding"), typedLit(planes(p).toSeq)) > 0,
        lit(1L << p)).otherwise(lit(0L))
    val emb = Tables.embeddings(s, d)
    // Staged: the bucket-cap count, both self-join sides, and the final
    // per-vec join all read the checkpoint — one hyperplane pass total.
    val bucketed = graft.plans.Checkpoints.stage(
      emb.select(col("vec_id"), col("embedding"),
        (0 until nPlanes).map(bit).reduce(_ + _).as("bucket")))
    // One hash table ⇒ each unordered pair lives in exactly one bucket,
    // so no distinct is needed.
    val pairs = bucketPairs(bucketed, Seq("bucket"), bucketCap(bucketed))
      .select(col("id_a"), col("id_b"),
        GraftFunctions.cosineSim(col("embedding_a"), col("embedding_b")).as("cos"))
      .filter(col("cos") >= 0.95)
    val perVec = pairs.select(col("id_a").as("vec_id"))
      .unionAll(pairs.select(col("id_b").as("vec_id")))
      .groupBy(col("vec_id")).agg(count(lit(1)).as("n_neardup"))
    bucketed.select(col("vec_id"), col("bucket"))
      .join(perVec, Seq("vec_id"), "left")
      .select(col("vec_id"), col("bucket"),
        coalesce(col("n_neardup"), lit(0L)).as("n_neardup"))
      .orderBy(col("vec_id"))
  }

  /** Non-overlapping `n`-word chunks of `text` (the CCNet "line" unit
    * when the corpus has no line structure). Pure higher-order builtins,
    * fully codegen; the k>0 guard keeps sequence() from going descending
    * on short docs. */
  private def chunks(text: Column, n: Int): Column = {
    val ws = split(text, " ")
    val k = floor(size(ws) / n).cast("int")
    when(k > lit(0),
      transform(sequence(lit(0), k - 1),
        i => array_join(slice(ws, i * n + 1, lit(n)), " ")))
      .otherwise(array().cast("array<string>"))
  }

  /** d08: corpus-wide chunk-level exact dedup — the CCNet line-dedup
    * topology (boilerplate headers/footers repeat across millions of
    * pages; removing repeated chunks, not whole docs, is what actually
    * cleans a web corpus). Each doc explodes to its 10-word chunks; the
    * shuffle key is md5(chunk) — a fixed 16-byte digest, so the exchange
    * never carries chunk text — chunk multiplicities aggregate, and a
    * digest-keyed join labels each instance. Per-doc report: chunk count
    * and how many of its chunks also occur elsewhere in the corpus. */
  def chunkDedup(s: SparkSession, d: String, chunkWords: Int = 10): DataFrame = {
    val inst = Tables.documents(s, d)
      .select(col("doc_id"), explode(chunks(col("text"), chunkWords)).as("chunk"))
      .select(col("doc_id"), md5(col("chunk")).as("ck"))
    val counts = inst.groupBy(col("ck")).agg(count(lit(1)).as("cn"))
    inst.join(counts, Seq("ck"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("cn") >= 2, 1L).otherwise(0L)).as("n_dup_chunks"))
      .orderBy(col("doc_id"))
  }

  /**
   * d11: URL canonicalization dedup — the crawl-frontier dedup every web
   * pipeline runs BEFORE fetching content (content dedup can't help with
   * what you haven't downloaded): scheme/host case-folding, `www.` and
   * default-port stripping, trailing-slash normalization, tracking-param
   * (`utm_*`) removal, query-param sorting, fragment dropping. URLs are
   * synthesized deterministically from doc_id with every variation class
   * present (the m05 discipline: synthetic input, REAL kernel — the
   * oracle recanonicalizes the raw URL text, so a wrong parse breaks the
   * hash). The kernel is parse_url + codegen array lambdas — narrow; the
   * only shuffle groups 60-byte canonical keys (the d01 shape).
   */
  /** The d11 canonicalization kernel as a Column function — shared with
    * the streaming URL-frontier dedup topology (StreamingSpec): scheme
    * and host case-fold, `www.` strip, default-port drop (parse_url HOST
    * excludes the port), trailing-slash normalize, `utm_*` removal,
    * param sort, fragment drop. */
  def canonicalUrl(url: Column): Column = {
    val host = regexp_replace(lower(parse_url(url, lit("HOST"))), "^www\\.", "")
    val cpath = regexp_replace(parse_url(url, lit("PATH")), "/$", "")
    // parse_url QUERY is NULL when the URL has no `?` — the majority class
    // in a real crawl. coalesce before split (concat is null-intolerant:
    // a NULL here would null the whole canonical and collapse every
    // query-less page into one dedup key), drop empty params (bare `?`,
    // `a=1&&b=2`), and emit the `?` only when something survives the
    // utm_ filter, so ``, `?`, and `?utm_...` all canonicalize alike.
    val kept = filter(split(coalesce(parse_url(url, lit("QUERY")), lit("")), "&"),
      p => p =!= "" && substring(p, 1, 4) =!= "utm_")
    val qs = when(size(kept) === 0, lit(""))
      .otherwise(concat(lit("?"), array_join(array_sort(kept), "&")))
    concat(lit("https://"), host, cpath, qs)
  }

  def urlDedup(s: SparkSession, d: String): DataFrame = {
    val id = col("doc_id")
    // Query classes include the shapes that break naive canonicalizers:
    // no `?` at all (most real crawl URLs), a bare `?`, and a
    // tracking-params-only query — all three must canonicalize to the
    // SAME key as each other (per path) and never to NULL.
    val utm = when(pmod(id, lit(2)) === 1, "&utm_source=feed&utm_campaign=x")
      .otherwise("")
    val query = when(pmod(id, lit(17)) === 0, "")
      .when(pmod(id, lit(17)) === 1, "?")
      .when(pmod(id, lit(17)) === 2, "?utm_source=feed&utm_campaign=x")
      .when(pmod(id, lit(13)) === 0,
        concat(lit("?ref=home&id="), pmod(id, lit(150)), utm))
      .otherwise(concat(lit("?id="), pmod(id, lit(150)), lit("&ref=home"), utm))
    val url = concat(
      when(pmod(id, lit(11)) === 0, "HTTPS").otherwise("https"), lit("://"),
      when(pmod(id, lit(2)) === 0, "WWW.Example.COM").otherwise("www.example.com"),
      when(pmod(id, lit(3)) === 0, ":443").otherwise(""),
      lit("/p/"), pmod(id, lit(150)),
      when(pmod(id, lit(7)) === 0, "/").otherwise(""),
      query,
      when(pmod(id, lit(5)) === 0, "#section-2").otherwise(""))

    Tables.documents(s, d)
      .select(id, url.as("url"))
      .select(id, canonicalUrl(col("url")).as("canonical_url"),
        when(col("url").contains("utm_"), 1L).otherwise(0L).as("tracked"))
      .groupBy(col("canonical_url"))
      .agg(min(col("doc_id")).as("keeper"),
        count(lit(1)).as("n_copies"),
        sum(col("tracked")).as("n_tracked"))
      .orderBy(col("canonical_url"))
  }

  /** Winnowing window width (consecutive shingle hashes per window). */
  private val WinnowW = 4

  /**
   * d10: winnowing document fingerprints — the MOSS algorithm (Schleimer,
   * Wilkerson, Aiken, SIGMOD '03): hash each 3-word shingle, slide a
   * w=[[WinnowW]]-length window over the hash sequence, keep each
   * window's MINIMUM, and the distinct minima are the doc's fingerprint
   * set. Position-robust where fixed-stride chunking (d08) is not —
   * inserting one word shifts every d08 chunk boundary but local minima
   * survive, and any shared run of ≥ w+2 words is GUARANTEED to yield a
   * shared fingerprint. Report: doc pairs sharing ≥ 2 fingerprints.
   *
   * Scale shape: shingling, hashing (FNV-1a64+mix via the
   * `winnow_fps` codegen kernel — hash, window minima, and
   * dedup in one JVM pass), all INSIDE the row — fingerprinting
   * shuffles nothing; only the 8-byte
   * (fp, doc_id) pairs shuffle, and pair expansion is bucket-capped at
   * [[bucketCap]] like every LSH path.
   */
  def winnowing(s: SparkSession, d: String): DataFrame =
    winnowingOf(Tables.documents(s, d))

  /** The d10 kernel over any (doc_id, text) frame — the unit-testable
    * form (the spec checks the shared-run guarantee on hand-built docs). */
  def winnowingOf(docs: DataFrame): DataFrame =
    winnowingPairs(docs, bucketCap(docs))

  /** Winnowing pair enumeration with an explicit bucket cap. d10 uses
    * [[bucketCap]] (its report IS the full shared-run pair set); d16
    * passes the much tighter [[ProbeBucketCap]] — see the constant's
    * comment for the measured sf10 blowup that forced the split. */
  private[graft] def winnowingPairs(docs: DataFrame, cap: Int): DataFrame = {
    val fps = docs
      .select(col("doc_id"), words(col("text")).as("w"))
      // shingle hashing + window minima + dedup in ONE codegen kernel
      // call per row, folded straight off the word array — no shingle
      // strings are ever built (winnowWords3 == winnow(shingles3(w), W)
      // for W >= 2, parity-pinned; the per-element lambda form this
      // lineage started from measured 8.6s vs 0.6s at sf0.1)
      .select(col("doc_id"),
        explode(GraftFunctions.winnowWords3(col("w"), WinnowW)).as("fp"))
    // staged slim (doc_id, 8-byte fp): the cap count and both join sides
    // below read the checkpoint — ONE kernel pass total
    winnowingPairsFromFps(graft.plans.Checkpoints.stage(fps), cap)
  }

  /** The pair half of [[winnowingPairs]] over an already-materialized
    * (or checkpoint-derived) slim (doc_id, fp) frame — d16 feeds it from
    * the shared probe base instead of paying its own corpus scan +
    * stage. */
  private def winnowingPairsFromFps(staged: DataFrame, cap: Int): DataFrame =
    // fps are per-doc distinct from the kernel, so each pair arrives
    // once per shared fingerprint
    bucketPairs(staged, Seq("fp"), cap)
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 2)
      .orderBy(col("id_a"), col("id_b"))

  /** Shingle width for duplicated-span extraction — the 8-gram standard
    * from published LLM decontamination/dedup procedures (same width as
    * [[ContamN]]; spans this long shared verbatim are near-certain
    * duplication, not coincidence). */
  private val SpanK = 8

  /**
   * d13: exact duplicated-SPAN extraction — the substring-level dedup of
   * Lee et al., "Deduplicating Training Data Makes Language Models
   * Better": find every maximal token span whose 8-grams ALL occur more
   * than once corpus-wide, per document, so a pipeline can cut the span
   * (boilerplate headers, license blocks, templated passages) while
   * keeping the rest of the document — where d01/d02 drop whole
   * documents and d08 drops fixed-boundary chunks, this emits exact
   * maximal spans at token granularity.
   *
   * Scale shape: the corpus explodes ONCE to (doc, pos, 8-byte
   * shingle-hash64) rows — the shuffle the exact algorithm genuinely
   * requires (the serial alternative is a suffix array; distributed,
   * the hash-keyed shuffle IS the suffix-array substitute), kept narrow
   * by hashing grams to fixed 8-byte keys before any exchange (the
   * string gram never leaves its scan task). Duplicated hashes
   * (count ≥ 2, within- OR cross-document — both are wasted tokens at
   * training time) aggregate map-side; the hit positions come back via
   * one hash semi-join, and maximal spans merge per document with the
   * q111 gaps-and-islands window over the (small) hit frame — adjacent
   * duplicated shingle starts (gap ≤ 1) chain into one span covering
   * start..(last + K − 1). The oracle replays hash64 in HUGEINT (the
   * q91 chain) over the same grams.
   */
  def spanDedup(s: SparkSession, d: String): DataFrame =
    // NOT fanned out (r20 A/B): 0.85 -> 0.88 s — the shingle kernel's
    // output re-shuffles immediately anyway, so spreading the scan just
    // prepends a text-payload exchange to the existing hash exchange.
    spanDedupOf(Tables.documents(s, d))

  /** The d13 kernel over any (doc_id, text) frame — the unit-testable
    * form (the spec checks exact span boundaries on hand-built docs). */
  def spanDedupOf(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pos = docs
      .select(col("doc_id"), words(trim(col("text"))).as("w"))
      .filter(size(col("w")) >= SpanK)
      // one codegen kernel call per doc emits every position's 8-byte
      // shingle hash — no gram string is ever built (the interpreted
      // transform-concat_ws form measured ~2x slower at sf0.1), and only
      // hashes reach the exchange
      .select(col("doc_id"),
        posexplode(GraftFunctions.shingleHash64(col("w"), SpanK)))
      .toDF("doc_id", "pos", "h")
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("h"))
    val dup = pos.groupBy(col("h")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 2).select(col("h"))
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    pos.join(dup, "h")
      .select(col("doc_id"), col("pos"))
      .withColumn("prev", lag(col("pos"), 1).over(byDoc))
      .withColumn("isl", sum(
        when(col("prev").isNull || col("pos") - col("prev") > 1, 1L)
          .otherwise(0L)).over(byDoc))
      .groupBy(col("doc_id"), col("isl"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + lit(SpanK.toLong - 1)).as("span_end"),
        (max(col("pos")) - min(col("pos")) + lit(SpanK.toLong)).as("span_tokens"))
      .select(col("doc_id"), col("span_start"), col("span_end"), col("span_tokens"))
      .orderBy(col("doc_id"), col("span_start"))
  }

  /**
   * d15: shingle-set CONTAINMENT over the LSH candidate pairs — the
   * asymmetric complement of Jaccard (d04/d09): C(A,B) = |A∩B| / |A|
   * detects near-SUBSET relations (a doc quoting or embedding another)
   * that symmetric Jaccard scores low when sizes differ. The standard
   * quote/superset detector beside near-dup detection.
   *
   * Scale: pair generation is the capped LSH pipeline (d02 — banded,
   * bucketed, MaxBucket-capped, never a cross join); the exact
   * intersection counts flow as (doc, 8-byte gram hash) rows joined to
   * the bounded pair frame, never as materialized per-doc sets. The
   * per-pair expansion (pairs × grams-of-a) is CAPPED by a shared-gram
   * prefilter: gram rows first semi-join to the candidate-doc set, then
   * to the grams occurring in ≥ 2 candidate docs — a gram unique to one
   * doc can never contribute to any intersection, so dropping it is
   * exact; with book-length documents the expansion then carries only
   * the potentially-shared grams instead of every gram of every paired
   * doc (the r11-verdict watch item). Costs two extra hash-only
   * shuffles of 8-byte rows — the right trade the moment documents
   * outgrow the ~150-word synthetic corpus. Flags use the ROUNDED
   * containments so the 0.9 boundary can't fork cross-engine.
   */
  def containment(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    // Staged (localCheckpoint): FOUR consumers (pairDocs' two halves, the
    // intersection base, the final report join) would otherwise each
    // recompute the whole signature→band→pair pipeline (r14 manifest:
    // 16 scans / 31 exchanges, the t24 pattern). Slim: (id_a, id_b).
    val pairs = graft.plans.Checkpoints.stage(
      lshCandidatePairs(minhashBands(minhashSignatures(docs))))
    // the SAME shingle definition the signatures hash (incl. the short-doc
    // partial-gram edge case), distinct per doc, 8-byte hashed
    val gramRows = docs
      .select(col("doc_id"), split(lower(col("text")), "\\s+").as("w"))
      .select(col("doc_id"), explode(array_distinct(shingles3)).as("g"))
      .select(col("doc_id"), GraftFunctions.hash64(col("g")).as("h"))
    val sizes = gramRows.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    // shared-gram prefilter: only grams of candidate docs, and of those
    // only grams seen in ≥ 2 such docs, can appear in an intersection
    val pairDocs = pairs.select(col("id_a").as("doc_id"))
      .unionByName(pairs.select(col("id_b").as("doc_id"))).distinct()
    // staged too: consumed by the shared-gram filter AND the survivor
    // semi-join; candidate-doc-scoped, so far smaller than the corpus
    val scoped = graft.plans.Checkpoints.stage(
      gramRows.join(pairDocs, Seq("doc_id"), "left_semi"))
    val shared = scoped.groupBy(col("h")).agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2).select(col("h"))
    val sharedGrams = scoped.join(shared, Seq("h"), "left_semi")
    val inter = pairs
      .join(sharedGrams.select(col("doc_id").as("id_a"), col("h")), "id_a")
      .join(sharedGrams.select(col("doc_id").as("id_b"), col("h")), Seq("id_b", "h"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_common"))
    pairs
      .join(sizes.select(col("doc_id").as("id_a"), col("n").as("n_a")), "id_a")
      .join(sizes.select(col("doc_id").as("id_b"), col("n").as("n_b")), "id_b")
      .join(inter, Seq("id_a", "id_b"), "left_outer")
      .select(col("id_a"), col("id_b"), col("n_a"), col("n_b"),
        coalesce(col("n_common"), lit(0L)).as("n_common"))
      .select(col("id_a"), col("id_b"), col("n_a"), col("n_b"), col("n_common"),
        round(col("n_common").cast("double") / col("n_a").cast("double"), 6)
          .as("cont_a"),
        round(col("n_common").cast("double") / col("n_b").cast("double"), 6)
          .as("cont_b"),
        round(col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common")).cast("double"), 6)
          .as("jaccard"))
      .withColumn("near_subset",
        col("cont_a") >= 0.9 || col("cont_b") >= 0.9)
      .orderBy(col("id_a"), col("id_b"))
  }

  private val BpK = 5       // boilerplate shingle width (words)
  private val BpMinDocs = 3 // distinct docs for a shingle to count as boilerplate

  /**
   * d16: LSH S-curve calibration — predicted vs OBSERVED collision
   * probability by exact-Jaccard bin, the eval that justifies a (bands,
   * rows) = (16, 8) configuration before trusting it on a corpus: for
   * each adjacent-doc probe pair, the theoretical candidate probability
   * p = 1 − (1 − J^8)^16 against whether the pair actually collided in
   * the production LSH pipeline. Deviation between the columns flags a
   * broken hash family or a corpus whose duplicate structure the
   * threshold misses.
   *
   * Exactness: the power chain is explicit squaring (j²→j⁴→j⁸, then the
   * complement q²→q⁴→q⁸→q¹⁶) on the ROUNDED Jaccard — fixed IEEE
   * multiply trees, no libm pow, bit-identical cross-engine; per-bin
   * means accumulate in DECIMAL. Scale: probe pairs are the bounded
   * adjacent-key join (d09) + the ProbeBucketCap-capped winnowing pairs
   * + linear exact-dup successor pairs; observed collisions one hash
   * join against the capped LSH pair frame; nothing quadratic anywhere
   * (r16: the uncapped winnowing probe source measured 48.5x for 10x
   * data at sf10 — see ProbeBucketCap).
   */
  def lshCurve(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val docs = Tables.documents(s, d)
    // Deliberately NOT staged despite four downstream references: the
    // frame's payload is the exploded shingle sets — several times the
    // corpus text — so materializing it costs far more than re-running
    // the narrow scan+explode per consumer (measured r14: staging took
    // d16 from 2.1 s to 16.5 s at sf1.0). The t24 staging rule applies
    // to SLIM multi-consumer frames; wide ones re-scan.
    val withSets = docs
      .select(col("doc_id"), words(col("text")).as("w"))
      .select(col("doc_id"), array_distinct(shingles3).as("ss"))
    // probe pairs from BOTH ends of the curve, none sourced from the
    // pipeline under test: adjacent ids (random-ish, low J); middle/high-J
    // pairs the INDEPENDENT winnowing fingerprint pipeline (d10's kernel —
    // rolling-hash window minima, no minhash anywhere) flags as sharing
    // runs, under the PROBE-grade bucket cap (see ProbeBucketCap — the
    // uncapped frame's raw pair mass grows quadratically on a
    // boilerplate-saturated corpus and spilled >47 GB at sf10); and the
    // J=1 anchor from exact-duplicate SUCCESSOR pairs — linear at every
    // corpus size (one shuffle by text, lead() within identical-text
    // groups), so the high end of the curve can never be starved by the
    // cap. All three are deterministic and SQL-replayable.
    //
    // r20 (the r19 verdict's d16 item): the three sources each paid their
    // own corpus scan (winnowing scan + stage, the md5 scan, the adjacent
    // id scan). ONE staged slim probe base — (doc_id, 16-byte text
    // digest, winnow fp array) — now feeds all three; the winnowing pair
    // half consumes the base's exploded fps instead of staging its own
    // frame, so the probe side is one corpus scan + one checkpoint total.
    // Pair sets are unchanged: same ids, same digests, same fingerprints
    // (winnowWords3 parity-pinned), same caps.
    val base = graft.plans.Checkpoints.stage(docs.select(
      col("doc_id"),
      // digest, not text: identical grouping for the successor window,
      // but the corpus text never shuffles or checkpoints (32-byte key
      // vs ~300-char docs — the t24 discipline)
      md5(col("text").cast("binary")).as("th"),
      GraftFunctions.winnowWords3(words(col("text")), WinnowW).as("fps")))
    val adj = base.select(col("doc_id").as("id_a"))
      .join(base.select((col("doc_id") - 1).as("id_a"),
        col("doc_id").as("id_b")), Seq("id_a"))
    val dupPairs = winnowingPairsFromFps(
      base.select(col("doc_id"), explode(col("fps")).as("fp")), ProbeBucketCap)
      .select(col("id_a"), col("id_b"))
    val exactPairs = {
      import org.apache.spark.sql.expressions.Window
      base.select(col("doc_id"), col("th"))
        .withColumn("nxt", lead(col("doc_id"), 1)
          .over(Window.partitionBy(col("th")).orderBy(col("doc_id"))))
        .filter(col("nxt").isNotNull)
        .select(col("doc_id").as("id_a"), col("nxt").as("id_b"))
    }
    // |A ∪ B| = |A| + |B| − |A ∩ B| over the DISTINCT shingle sets — the
    // per-pair union array never materializes (r20; the d15 size-carry
    // trick): per-doc sizes ride the join as ints and only the intersect
    // runs per pair. Identical integers ⇒ identical IEEE division ⇒
    // identical rounded J.
    val pairsJ = adj.unionByName(dupPairs).unionByName(exactPairs).distinct()
      .join(withSets.select(col("doc_id").as("id_a"), col("ss").as("ss_a"),
        size(col("ss")).as("n_a")), "id_a")
      .join(withSets.select(col("doc_id").as("id_b"), col("ss").as("ss_b"),
        size(col("ss")).as("n_b")), "id_b")
      .select(col("id_a"), col("id_b"), col("n_a"), col("n_b"),
        size(array_intersect(col("ss_a"), col("ss_b"))).as("ni"))
      .select(col("id_a"), col("id_b"),
        round(col("ni").cast("double") /
          (col("n_a") + col("n_b") - col("ni")), 6).as("j"))
    val lsh = lshCandidatePairs(minhashBands(minhashSignatures(docs)))
      .withColumn("is_cand", lit(true))
    pairsJ.join(lsh, Seq("id_a", "id_b"), "left_outer")
      .withColumn("j2", col("j") * col("j"))
      .withColumn("j4", col("j2") * col("j2"))
      .withColumn("j8", col("j4") * col("j4"))
      .withColumn("q", lit(1.0) - col("j8"))
      .withColumn("q2", col("q") * col("q"))
      .withColumn("q4", col("q2") * col("q2"))
      .withColumn("q8", col("q4") * col("q4"))
      .withColumn("q16", col("q8") * col("q8"))
      .withColumn("p_pred", round(lit(1.0) - col("q16"), 6))
      .groupBy(floor(col("j") * 20).cast("int").as("j_bin"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("is_cand"), 1L).otherwise(0L)).as("n_lsh"),
        round(sum(col("p_pred").cast(DecimalType(18, 6))).cast("double") /
          count(lit(1)), 6).as("avg_predicted"))
      .select(col("j_bin"), col("n_pairs"), col("n_lsh"), col("avg_predicted"),
        round(col("n_lsh").cast("double") / col("n_pairs").cast("double"), 6)
          .as("observed_rate"))
      .orderBy(col("j_bin"))
  }

  /**
   * d14: boilerplate-coverage filter — the cross-document complement of
   * d13 (which flags spans duplicated ANYWHERE, including within one
   * doc): a shingle is boilerplate only when it appears in ≥ BpMinDocs
   * DISTINCT documents (headers, nav text, license blurbs — the CCNet /
   * RefinedWeb removal class), and each doc is scored by the fraction of
   * its word positions covered by the union of its boilerplate shingles.
   *
   * Scale: the corpus explodes ONCE to (doc, pos, 8-byte shingle_hash64)
   * — gram strings never leave the scan task (the d13 kernel); the
   * distinct-doc count shuffles hashes only and map-side partial
   * distinct applies per (h, doc) run. The coverage union re-explodes
   * only the HITS (boilerplate-matched positions — the small frame), 5
   * ints per hit, then per-doc distinct-count; no window sort needed.
   * Per-group state is O(1); nothing corpus-sized broadcasts.
   */
  def boilerplate(s: SparkSession, d: String): DataFrame =
    // NOT fanned out (r20 A/B): 1.10 -> 1.15 s (and c03, which embeds this,
    // 1.49 -> 1.73) — column pruning pushes different projections below the
    // repartition for the three consumers, so the exchanges diverge and the
    // text pays multiple shuffles instead of one reused one.
    boilerplateOf(Tables.documents(s, d))

  /** The d14 kernel over any (doc_id, text) frame — unit-testable form
    * (the spec pins exact coverage arithmetic on hand-built docs). */
  def boilerplateOf(docs: DataFrame): DataFrame = {
    val base = docs
      .select(col("doc_id"), words(trim(col("text"))).as("w"))
    val nWords = base.select(col("doc_id"), size(col("w")).cast("long").as("n_words"))
    val pos = base.filter(size(col("w")) >= BpK)
      .select(col("doc_id"),
        posexplode(GraftFunctions.shingleHash64(col("w"), BpK)))
      .toDF("doc_id", "pos", "h")
    val frequent = pos.groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= BpMinDocs).select(col("h"))
    val covered = pos.join(frequent, "h")
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + lit(BpK - 1))).as("i"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("i")).as("covered_words"))
    nWords.join(covered, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_words"),
        coalesce(col("covered_words"), lit(0L)).as("covered_words"),
        round(coalesce(col("covered_words"), lit(0L)).cast("double") /
          col("n_words").cast("double"), 4).as("bp_frac"),
        (coalesce(col("covered_words"), lit(0L)).cast("double") <
          col("n_words").cast("double") * 0.2).as("keep"))
      .orderBy(col("doc_id"))
  }
}
