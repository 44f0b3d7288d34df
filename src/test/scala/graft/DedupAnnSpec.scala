package graft

import org.apache.spark.sql.functions._
import graft.dedup.Dedup
import graft.ann.Ann

class DedupAnnSpec extends GraftSpec {
  import spark.implicits._

  private val docsWithDups = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again today"),
    (2L, "the quick brown fox jumps over the lazy dog again and again tonight"), // near-dup of 1
    (3L, "completely different content about distributed query engines at scale"),
    (4L, "the quick brown fox jumps over the lazy dog again and again today"),   // exact dup of 1
    (5L, "yet another unrelated document mentioning vectors and embeddings here")
  ).toDF("doc_id", "text")

  test("minhash LSH flags exact and near duplicates, not unrelated docs") {
    val sigs = Dedup.minhashSignatures(docsWithDups)
    val bands = Dedup.minhashBands(sigs)
    val cands = bands.as("a")
      .join(bands.as("b"),
        $"a.band" === $"b.band" && $"a.band_key" === $"b.band_key" &&
          $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("x"), $"b.doc_id".as("y")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cands.contains((1L, 4L)), s"exact dup pair must collide in all bands: $cands")
    assert(cands.contains((1L, 2L)) || cands.contains((2L, 4L)),
      s"near-dup should share at least one band: $cands")
    assert(!cands.contains((3L, 5L)), s"unrelated docs must not be candidates: $cands")
  }

  test("exact dedup groups identical normalized text") {
    docsWithDups.createOrReplaceTempView("dup_docs")
    val res = docsWithDups
      .groupBy(md5(lower(trim($"text"))).as("h"))
      .agg(min($"doc_id").as("keeper"), count(lit(1)).as("n"))
      .collect()
    assert(res.length == 4) // 1&4 merge
    assert(res.find(_.getAs[Long]("n") == 2).get.getAs[Long]("keeper") == 1L)
  }

  test("ngram jaccard: identical docs = 1.0, disjoint ≈ 0") {
    val docs = Seq((1L, "a b c d"), (2L, "a b c d"), (3L, "x y z w")).toDF("doc_id", "text")
    val ws = docs.select($"doc_id", array_distinct(split(lower($"text"), "\\s+")).as("ws"))
    val j = ws.as("a").join(ws.as("b"), $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id", $"b.doc_id",
        (size(array_intersect($"a.ws", $"b.ws")).cast("double") /
          size(array_union($"a.ws", $"b.ws"))).as("j"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(j((1L, 2L)) == 1.0)
    assert(j((1L, 3L)) == 0.0)
  }

  test("a01 brute-force knn: rank-1 neighbor of each probe is itself") {
    val rows = Ann.bruteForce(spark, sf).filter($"rn" === 1).collect()
    assert(rows.length == 5)
    rows.foreach { r =>
      assert(r.getAs[Long]("probe_id") == r.getAs[Long]("cand_id"))
      assert(math.abs(r.getAs[Double]("cos_sim") - 1.0) < 1e-6)
    }
  }

  test("a02 IVF recall: top-1 matches brute force for all probes") {
    val brute = Ann.bruteForce(spark, sf).filter($"rn" === 1)
      .select($"probe_id", $"cand_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ivf = Ann.ivf(spark, sf).filter($"rn" === 1)
      .select($"probe_id", $"cand_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // self-match (cos=1) lives in the probe's own best cell, so IVF must find it
    assert(ivf == brute)
  }

  test("d05 embedding LSH buckets are stable and bounded") {
    val res = graft.dedup.Dedup.embeddingDedup(spark, sf).collect()
    assert(res.nonEmpty)
    val buckets = res.map(_.getAs[Long]("bucket")).distinct
    assert(buckets.forall(b => b >= 0 && b < (1L << 16)))
  }

  test("a08 hamming recall: self always found; recall bounded; no re-shuffle of the corpus") {
    val df = Ann.binaryHammingRecall(spark, sf)
    val res = df.collect()
    assert(res.length == 5, "one row per probe")
    res.foreach { r =>
      val n = r.getAs[Long]("n_common")
      // the probe itself is rank 1 on both the exact and hamming side
      assert(n >= 1 && n <= 10, r.toString)
      val rec = r.getAs[Double]("recall_at_10")
      assert(rec == n / 10.0, r.toString)
    }
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"probe fan-out must be a broadcast, not a cartesian:\n$plan")
  }

  test("Ann.clearCaches drops the session caches and a rebuild reproduces the values") {
    // warm the ground-truth cache (a08 consumes the float-cosine exact
    // top-k through cachedGroundTruth)
    val before = Ann.binaryHammingRecall(spark, sf).collect().toSeq
    assert(Ann.cacheSizes._1 >= 1, s"expected a warmed gtCache: ${Ann.cacheSizes}")
    Ann.clearCaches()
    assert(Ann.cacheSizes == ((0, 0)), s"clearCaches left entries: ${Ann.cacheSizes}")
    // the cache changes who computes, never what: a cold rebuild must
    // reproduce the warmed values exactly
    val after = Ann.binaryHammingRecall(spark, sf).collect().toSeq
    assert(after == before)
    assert(Ann.cacheSizes._1 >= 1, "rebuild should re-warm the cache")
  }

  test("p08 split leakage: pairs straddle splits, counts consistent with d02's pair set") {
    val res = graft.pipeline.Splits.splitLeakage(spark, sf).collect()
    res.foreach { r =>
      assert(r.getAs[String]("split_lo") <= r.getAs[String]("split_hi"))
      assert(r.getAs[Long]("n_pairs") >= 1)
    }
    // cross-split leaks must never exceed the total near-dup pair count
    val totalPairs = Dedup.lshCandidatePairs(Dedup.minhashBands(
      Dedup.minhashSignatures(spark.read.parquet(s"$sf/documents.parquet")))).count()
    assert(res.map(_.getAs[Long]("n_pairs")).sum <= totalPairs)
  }

  test("d08 chunk dedup finds repeated chunks and preserves every chunked doc") {
    val res = Dedup.chunkDedup(spark, sf).collect()
    assert(res.nonEmpty)
    res.foreach { r =>
      val (n, dup) = (r.getAs[Long]("n_chunks"), r.getAs[Long]("n_dup_chunks"))
      assert(n >= 1 && dup >= 0 && dup <= n)
    }
    // the synthetic corpus has genuinely repeated 10-word runs — if this
    // ever goes to zero the operator is vacuous, not passing
    assert(res.map(_.getAs[Long]("n_dup_chunks")).sum > 0)
    // the chunk-count shuffle keys on the md5 digest, never the text
    val plan = Dedup.chunkDedup(spark, sf).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("d11 url dedup: canonical forms are fully normalized; groups partition docs") {
    val rows = Dedup.urlDedup(spark, sf).collect()
    val docs = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(rows.map(_.getAs[Long]("n_copies")).sum == docs,
      "every doc's URL lands in exactly one canonical group")
    // two canonical classes: with a surviving query, and query-less
    // (no-`?`, bare-`?`, and utm-only sources all land here — and must
    // come out as distinct per-path keys, never NULL)
    val canonQ = "^https://example\\.com/p/\\d+\\?id=\\d+&ref=home$".r
    val canonNoQ = "^https://example\\.com/p/\\d+$".r
    rows.foreach { r =>
      val u = r.getAs[String]("canonical_url")
      assert(u != null, "canonical_url must never be NULL")
      assert(canonQ.matches(u) || canonNoQ.matches(u),
        s"canonicalization left case/port/slash/utm/fragment residue: $u")
      assert(r.getAs[Long]("n_tracked") <= r.getAs[Long]("n_copies"))
    }
    // both classes genuinely present: the query-less groups are many
    // distinct keys (one per path), not one collapsed NULL group
    val noQ = rows.filter(r => canonNoQ.matches(r.getAs[String]("canonical_url")))
    assert(noQ.length > 1, "query-less pages must form per-path groups")
    assert(rows.exists(r => canonQ.matches(r.getAs[String]("canonical_url"))))
  }

  test("d10 winnowing: shared long runs pair, unrelated docs never do") {
    import spark.implicits._
    val shared = (1 to 16).map(i => s"common$i").mkString(" ")
    val docs = Seq(
      (1L, s"alpha beta gamma $shared delta epsilon zeta"),
      (2L, s"one two three four five six $shared seven eight nine"),
      (3L, "totally different words nowhere near the others at all believe me truly")
    ).toDF("doc_id", "text")
    val pairs = Dedup.winnowingOf(docs).collect()
    // a shared 16-word run guarantees shared interior windows → ≥2 fps
    assert(pairs.exists(r =>
      r.getAs[Long]("id_a") == 1L && r.getAs[Long]("id_b") == 2L),
      pairs.mkString(", "))
    assert(!pairs.exists(r =>
      r.getAs[Long]("id_a") == 3L || r.getAs[Long]("id_b") == 3L))
    val plan = Dedup.winnowing(spark, sf).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"), plan)
  }

  test("spark.graft.dedup.maxBucket tunes the pair-expansion cap (100 TB knob)") {
    import spark.implicits._
    // three identical docs: every shared fingerprint bucket holds all 3
    val text = (1 to 16).map(i => s"common$i").mkString(" ")
    val docs = Seq((1L, text), (2L, text), (3L, text)).toDF("doc_id", "text")
    assert(Dedup.winnowingOf(docs).count() == 3L) // default cap 1000: all pairs
    // the shared expansion under an explicit cap: bucket x holds three
    // rows, bucket y two; each side keeps its own payload, and rows of
    // different buckets never pair
    val rows = Seq(("x", 3L, "p3"), ("x", 1L, "p1"), ("x", 2L, "p2"),
      ("y", 9L, "p9"), ("y", 4L, "p4")).toDF("k", "id", "pl")
    def pairs(cap: Int) = Dedup.bucketPairs(rows, Seq("k"), cap)
      .select($"k", $"id_a", $"id_b", $"pl_a", $"pl_b")
      .as[(String, Long, Long, String, String)].collect().toSet
    assert(pairs(2) == Set(("y", 4L, 9L, "p4", "p9")))
    assert(pairs(3) == Set(("x", 1L, 2L, "p1", "p2"), ("x", 1L, 3L, "p1", "p3"),
      ("x", 2L, 3L, "p2", "p3"), ("y", 4L, 9L, "p4", "p9")))
    spark.conf.set("spark.graft.dedup.maxBucket", "2")
    try {
      // cap 2 drops every 3-doc bucket as degenerate — no pairs survive
      assert(Dedup.winnowingOf(docs).count() == 0L)
      // a 2-doc bucket still pairs under the tightened cap
      val two = Seq((1L, text), (2L, text)).toDF("doc_id", "text")
      assert(Dedup.winnowingOf(two).count() == 1L)
    } finally spark.conf.unset("spark.graft.dedup.maxBucket")
  }

  test("spark.graft.dedup.maxBucket set directly (bypassing SET SESSION) is validated at plan-build") {
    import spark.implicits._
    val docs = Seq((1L, "a b c d"), (2L, "a b c d")).toDF("doc_id", "text")
    // non-numeric: a named error, not a bare NumberFormatException
    spark.conf.set("spark.graft.dedup.maxBucket", "lots")
    try {
      val e = intercept[IllegalArgumentException](Dedup.winnowingOf(docs).count())
      assert(e.getMessage.contains("spark.graft.dedup.maxBucket"), e.getMessage)
      // cap 1 makes every between(2, cap) filter empty — rejected loudly
      // instead of silently disabling all bucketed pairing
      spark.conf.set("spark.graft.dedup.maxBucket", "1")
      val e1 = intercept[IllegalArgumentException](Dedup.winnowingOf(docs).count())
      assert(e1.getMessage.contains(">= 2"), e1.getMessage)
    } finally spark.conf.unset("spark.graft.dedup.maxBucket")
  }

  test("d13 span dedup: exact maximal span boundaries, within-doc dups, no spans on unique text") {
    import spark.implicits._
    val shared = (1 to 12).map(i => s"common$i").mkString(" ")  // 12 tokens
    val docs = Seq(
      (1L, s"a1 a2 a3 a4 a5 $shared b1 b2 b3"),    // shared at pos 5..16
      (2L, s"$shared c1 c2 c3 c4"),                 // shared at pos 0..11
      (3L, "totally unrelated words that appear nowhere else in any doc here"),
      // within-doc duplication: the same 8-gram at pos 0 and pos 9
      (4L, (1 to 8).map(i => s"x$i").mkString(" ") + " gap " +
           (1 to 8).map(i => s"x$i").mkString(" "))
    ).toDF("doc_id", "text")
    val spans = Dedup.spanDedupOf(docs).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("span_start"),
        r.getAs[Long]("span_end"), r.getAs[Long]("span_tokens")))
    // 12 shared tokens with k=8 → duplicated shingle starts span 5
    // positions; the maximal merged span covers exactly the shared run
    assert(spans.contains((1L, 5L, 16L, 12L)), spans.mkString(", "))
    assert(spans.contains((2L, 0L, 11L, 12L)), spans.mkString(", "))
    // doc 3 contributes nothing
    assert(!spans.exists(_._1 == 3L), spans.mkString(", "))
    // doc 4's two copies are separate islands (gap > 1), 8 tokens each
    assert(spans.contains((4L, 0L, 7L, 8L)), spans.mkString(", "))
    assert(spans.contains((4L, 9L, 16L, 8L)), spans.mkString(", "))
    // scale posture: hash-keyed shuffle only — no cartesian, no BNLJ
    val plan = Dedup.spanDedup(spark, sf).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"), plan)
  }

  test("a14 filtered knn: self at rank 1, every candidate wears the probe's label, scoped not post-filtered") {
    val emb = graft.sources.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("label")).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("label")).toMap
    val rows = Ann.filteredKnn(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[Long]("probe_id")).foreach { case (pid, rs) =>
      val ordered = rs.sortBy(_.getAs[Int]("rn"))
      assert(ordered.head.getAs[Long]("cand_id") == pid, "rank-1 is the probe itself")
      ordered.foreach { r =>
        assert(r.getAs[Int]("label") == emb(pid), "candidates scoped to the probe's label")
        assert(emb(r.getAs[Long]("cand_id")) == emb(pid))
      }
      val sims = ordered.map(_.getAs[Double]("cos_sim"))
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
      // scoped search returns a full k whenever the slice has >= k members
      // (a naive post-filter of an unfiltered top-k cannot guarantee that)
      val sliceSize = emb.values.count(_ == emb(pid))
      assert(ordered.length == math.min(10, sliceSize))
    }
  }

  test("d16: the S-curve calibrates — both ends populated, observed tracks predicted") {
    val rows = Dedup.lshCurve(spark, sf).collect()
      .map(r => r.getAs[Int]("j_bin") ->
        (r.getAs[Long]("n_pairs"), r.getAs[Long]("n_lsh"),
          r.getAs[Double]("avg_predicted"), r.getAs[Double]("observed_rate"))).toMap
    assert(rows.nonEmpty)
    rows.foreach { case (bin, (n, lsh, pred, obs)) =>
      assert(bin >= 0 && bin <= 20)
      assert(lsh <= n)
      assert(pred >= 0.0 && pred <= 1.0 && obs >= 0.0 && obs <= 1.0)
    }
    // both ends of the curve must be exercised (low-J adjacent probes,
    // high-J winnowing-sourced probes)
    assert(rows.keys.min <= 2 && rows.keys.max >= 18,
      s"curve ends missing: bins ${rows.keys.toSeq.sorted}")
    // at J >= 0.9 the (16,8) S-curve predicts ~certain collision and the
    // LSH pipeline must actually deliver it (non-circular: probes come
    // from the independent winnowing fingerprints)
    rows.filter(_._1 >= 18).foreach { case (bin, (_, _, pred, obs)) =>
      assert(pred > 0.99, s"bin $bin predicted $pred")
      assert(obs == 1.0, s"bin $bin observed $obs — LSH missed a near-certain pair")
    }
    // the low-J adjacent mass predicts ~zero and observes ~zero
    rows.filter(_._1 <= 2).foreach { case (bin, (_, _, pred, obs)) =>
      assert(pred < 0.01 && obs < 0.01, s"bin $bin pred=$pred obs=$obs")
    }
  }

  test("d15: containment bounds hold and identical docs contain each other fully") {
    val rows = Dedup.containment(spark, sf).collect()
    assert(rows.nonEmpty, "LSH must propose candidate pairs on this corpus")
    rows.foreach { r =>
      val (na, nb, nc) = (r.getAs[Long]("n_a"), r.getAs[Long]("n_b"),
        r.getAs[Long]("n_common"))
      assert(nc <= math.min(na, nb), "intersection bounded by either set")
      val (ca, cb, j) = (r.getAs[Double]("cont_a"), r.getAs[Double]("cont_b"),
        r.getAs[Double]("jaccard"))
      assert(ca >= 0.0 && ca <= 1.0 && cb >= 0.0 && cb <= 1.0)
      assert(j <= math.min(ca, cb) + 1e-9, "jaccard never exceeds either containment")
      assert(r.getAs[Boolean]("near_subset") == (ca >= 0.9 || cb >= 0.9))
    }
    // exact-duplicate pairs (d01 finds them on this corpus) must score
    // containment 1.0 in both directions when LSH proposes them
    val full = rows.filter(r => r.getAs[Double]("jaccard") == 1.0)
    full.foreach { r =>
      assert(r.getAs[Double]("cont_a") == 1.0 && r.getAs[Double]("cont_b") == 1.0)
    }
  }

  test("d14: boilerplate coverage counts exactly the union of frequent 5-gram positions") {
    import spark.implicits._
    val shared = "alpha beta gamma delta epsilon" // 5-gram in 3 distinct docs
    val docs = Seq(
      (0L, s"$shared zeta"),           // covered 0..4 of 6 words
      (1L, s"$shared unique1 unique2"), // covered 0..4 of 7
      (2L, s"x0 $shared"),             // covered 1..5 of 6
      (3L, "totally different words here none shared")
    ).toDF("doc_id", "text")
    val got = Dedup.boilerplateOf(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_words"), r.getAs[Long]("covered_words"),
          r.getAs[Double]("bp_frac"), r.getAs[Boolean]("keep"))).toMap
    assert(got(0L) == ((6L, 5L, 0.8333, false)))
    assert(got(1L) == ((7L, 5L, 0.7143, false)))
    assert(got(2L) == ((6L, 5L, 0.8333, false)))
    assert(got(3L) == ((6L, 0L, 0.0, true)))
    // entry-level: coverage never exceeds the doc, zero-covered docs keep
    Dedup.boilerplate(spark, sf).collect().foreach { r =>
      assert(r.getAs[Long]("covered_words") <= r.getAs[Long]("n_words"))
      val frac = r.getAs[Double]("bp_frac")
      assert(frac >= 0.0 && frac <= 1.0)
      // keep is computed pre-rounding; allow the rounded-display boundary
      if (frac < 0.1999) assert(r.getAs[Boolean]("keep"))
      if (frac > 0.2001) assert(!r.getAs[Boolean]("keep"))
    }
  }

  test("a15: persisted index round-trips losslessly; served search equals in-process a10") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ann-idx").toString
    val direct = Ann.ivfTrainedRecall(spark, sf).collect().toSeq
    val served = withIndexDir(dir)(Ann.annIndexPersist(spark, sf).collect().toSeq)
    assert(served == direct,
      s"persisted-index search diverged from in-process search:\n$served\nvs\n$direct")
    // the persisted artifacts exist and reload bitwise: centroids are
    // k rows of exact doubles, codebook is the PqKw raw vectors
    val cents = spark.read.parquet(s"$dir/graft_ann_index/centroids").collect()
    assert(cents.length == 8 && cents.forall(_.getSeq[Double](1).nonEmpty))
    val book = spark.read.parquet(s"$dir/graft_ann_index/codebook")
      .orderBy(col("code")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1))
    val bookDirect = graft.sources.Tables.embeddings(spark, sf)
      .filter(col("vec_id") < 16)
      .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
      .orderBy(col("vec_id")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1))
    assert(book.toSeq == bookDirect.toSeq, "codebook parquet round trip must be bitwise")
  }

  test("a16: incremental merge equals full rebuild; delta is the 10% batch; state is real parquet") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ann-upd").toString
    val rows = withIndexDir(dir)(Ann.annIndexUpdate(spark, sf).collect().toSeq)
    assert(rows.length == 8)
    // the defining invariant, per cell
    rows.foreach { r =>
      assert(r.getAs[Boolean]("merge_ok"),
        s"cell ${r.getLong(0)}: merged ${r.getAs[Long]("n_total")} != rebuilt ${r.getAs[Long]("n_rebuild")}")
      assert(r.getAs[Long]("n_total") ==
        r.getAs[Long]("n_base") + r.getAs[Long]("n_delta"))
    }
    // the delta arm covered exactly the vec_id % 10 == 0 batch
    val nVecs = graft.sources.Tables.embeddings(spark, sf).count()
    assert(rows.map(_.getAs[Long]("n_total")).sum == nVecs)
    assert(rows.map(_.getAs[Long]("n_delta")).sum ==
      graft.sources.Tables.embeddings(spark, sf)
        .filter(col("vec_id") % 10 === 0).count())
    // drift is a real mean cosine where the cell saw arrivals
    rows.filter(_.getAs[Long]("n_delta") > 0).foreach { r =>
      val drift = r.getAs[Double]("delta_drift")
      assert(drift >= -1.0 && drift <= 1.0)
    }
    // the persisted base stats are genuinely on disk and were merged from
    val persisted = spark.read.parquet(s"$dir/graft_ann_index_upd/cells")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach(r => assert(persisted.getOrElse(r.getLong(0), 0L) ==
      r.getAs[Long]("n_base")))
  }

  test("a17 range search: radius contract — complete, thresholded, count-consistent, monotone in tau") {
    val rows = Ann.rangeSearch(spark, sf, tau = 0.30).collect()
    assert(rows.nonEmpty)
    // every match clears the (rounded) threshold; self-match present per probe
    rows.foreach(r => assert(r.getAs[Double]("cos_sim") >= 0.30))
    (0L until 5L).foreach { p =>
      assert(rows.exists(r => r.getAs[Long]("probe_id") == p &&
        r.getAs[Long]("cand_id") == p), s"probe $p missing its self-match")
    }
    // n_matches is the per-probe group size on every row
    rows.groupBy(_.getAs[Long]("probe_id")).foreach { case (p, g) =>
      g.foreach(r => assert(r.getAs[Long]("n_matches") == g.length,
        s"probe $p: n_matches ${r.getAs[Long]("n_matches")} != ${g.length}"))
    }
    // completeness vs an independent brute-force pass: exactly the a01-style
    // pairing filtered by threshold (radius answers must not drop matches
    // the way a capped top-k would)
    val emb = graft.sources.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding")).as[(Long, Seq[Float])].collect()
    val probes = emb.filter(_._1 < 5)
    val want = (for {
      (p, pe) <- probes; (c, ce) <- emb
      dot = pe.zip(ce).map { case (x, y) => x.toDouble * y.toDouble }.sum
      np = math.sqrt(pe.map(x => x.toDouble * x.toDouble).sum)
      nc = math.sqrt(ce.map(x => x.toDouble * x.toDouble).sum)
      cs = BigDecimal(dot / (np * nc)).setScale(4, BigDecimal.RoundingMode.HALF_UP)
      if cs >= BigDecimal("0.30")
    } yield (p, c)).toSet
    assert(rows.map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("cand_id"))).toSet
      == want)
    // raising tau can only shrink the answer, and the tighter set nests
    val tight = Ann.rangeSearch(spark, sf, tau = 0.50).collect()
      .map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("cand_id"))).toSet
    assert(tight.subsetOf(want))
  }

  test("a18 MIPS: exact inner-product top-k; norm augmentation preserves the set") {
    val rows = Ann.mips(spark, sf).collect()
    // 10 ranked rows per probe, ip non-increasing in rank
    rows.groupBy(_.getAs[Long]("probe_id")).foreach { case (p, g) =>
      assert(g.length == 10, s"probe $p: ${g.length} rows")
      val byRank = g.sortBy(_.getAs[Int]("rn"))
      assert(byRank.map(_.getAs[Int]("rn")).sameElements(1 to 10))
      byRank.sliding(2).foreach { w =>
        assert(w(0).getAs[Double]("ip") >= w(1).getAs[Double]("ip"),
          s"probe $p: ip must be non-increasing in rank")
      }
    }
    // top-1 matches a driver-side brute-force argmax of the dot product
    val emb = graft.sources.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding")).as[(Long, Seq[Float])].collect()
    emb.filter(_._1 < 5).foreach { case (p, pe) =>
      val best = emb.map { case (c, ce) =>
        (c, pe.zip(ce).map { case (x, y) => x.toDouble * y.toDouble }.sum)
      }.maxBy { case (c, dot) => (dot, -c) }._1
      val got = rows.find(r => r.getAs[Long]("probe_id") == p &&
        r.getAs[Int]("rn") == 1).get.getAs[Long]("cand_id")
      assert(got == best, s"probe $p: top-1 $got != brute-force $best")
    }
    // the norm-augmentation reduction is rank-preserving (cos of the
    // augmented vectors is monotone in the dot product), so the
    // augmented-cosine top-k must coincide with the MIPS top-k up to
    // at most one borderline rounding flip at the rank-10 boundary
    rows.foreach(r => assert(r.getAs[Long]("n_aug_common") >= 9,
      s"probe ${r.getAs[Long]("probe_id")}: augmentation lost the top-k"))
  }

  /** Run `body` with SPARK_GRAFT_INDEX_DIR unavailable (env is immutable
    * in-JVM), pointing a15 at `dir` via the tmpdir property it falls
    * back to. */
  private def withIndexDir[T](dir: String)(body: => T): T = {
    val prev = System.getProperty("java.io.tmpdir")
    // a15 writes to <tmpdir>/graft_ann_index; give it a scoped tmpdir
    System.setProperty("java.io.tmpdir", dir)
    try body finally System.setProperty("java.io.tmpdir", prev)
  }
}
