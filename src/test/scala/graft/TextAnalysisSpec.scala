package graft

import org.apache.spark.sql.functions._

class TextAnalysisSpec extends GraftSpec {
  import spark.implicits._

  // Replays TextAnalysis.langid's scoring on a standalone text column.
  private def predict(texts: Seq[String]): Seq[String] = {
    val df = texts.zipWithIndex.map { case (t, i) => (i, t) }.toDF("id", "text")
    def occ(m: String) =
      (length(concat(lit(" "), lower($"text"), lit(" "))) -
        length(replace(concat(lit(" "), lower($"text"), lit(" ")), lit(m), lit("")))) / lit(m.length)
    val de = occ(" der ") + occ(" und ") + occ(" das ") + occ(" nicht ")
    val fr = occ(" le ") + occ(" la ") + occ(" les ") + occ(" est ")
    val es = occ(" el ") + occ(" los ") + occ(" que ") + occ(" una ")
    val zh = length($"text") - length(regexp_replace($"text", "[\\x{4e00}-\\x{9fff}]", ""))
    df.select($"id", when(zh > 0, "zh")
        .when(de > fr && de > es && de > 0, "de")
        .when(fr > es && fr > 0, "fr")
        .when(es > 0, "es")
        .otherwise("en").as("pred"))
      .orderBy($"id").collect().map(_.getString(1)).toSeq
  }

  test("langid heuristic identifies real multilingual sentences") {
    val preds = predict(Seq(
      "the cat sat on the mat and looked at the dog",
      "der hund und die katze spielen nicht in das haus",
      "le chat est sur la table et les enfants regardent",
      "el perro corre por los campos y una casa que brilla",
      "今天天气很好我们去公园散步"
    ))
    assert(preds == Seq("en", "de", "fr", "es", "zh"))
  }

  test("token counts on a known string") {
    val df = Seq("Hello world, 42 tests pass!").toDF("text")
    val r = df.select(
      size(split(trim($"text"), "\\s+")).as("ws"),
      size(regexp_extract_all($"text", lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"), lit(0))).as("bpe"))
      .head()
    assert(r.getInt(0) == 5)
    // Hello, world, ",", 4, 2, tests, pass, "!" → 8
    assert(r.getInt(1) == 8)
  }

  test("quality score is within [0,1] over the corpus and deterministic") {
    val a = graft.text.TextAnalysis.quality(spark, sf).collect()
    val b = graft.text.TextAnalysis.quality(spark, sf).collect()
    assert(a.sameElements(b))
    a.foreach { r =>
      val s = r.getAs[Double]("score")
      assert(s >= 0.0 && s <= 1.0)
    }
  }

  test("fingerprint groups normalized-identical docs across the corpus") {
    val res = graft.text.TextAnalysis.fingerprint(spark, sf).collect()
    assert(res.nonEmpty)
    // deterministic across runs
    val res2 = graft.text.TextAnalysis.fingerprint(spark, sf).collect()
    assert(res.sameElements(res2))
  }

  test("t15 bpe pairs match a driver brute-force over the corpus") {
    val res = graft.text.TextAnalysis.bpePairs(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    val texts = spark.read.parquet(s"$sf/documents.parquet")
      .select($"text").collect().map(_.getString(0))
    val re = "[a-z]+".r
    val vocab = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    texts.foreach { t =>
      re.findAllIn(t.toLowerCase(java.util.Locale.ROOT)).foreach(w => vocab(w) += 1)
    }
    val counts = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    vocab.foreach { case (w, n) =>
      if (w.length >= 2)
        w.sliding(2).foreach(p => counts(s"${p(0)} ${p(1)}") += n)
    }
    val expected = counts.toSeq.sortBy { case (pr, n) => (-n, pr) }.take(50)
    assert(res == expected)
  }

  test("t16 scripts: fractions partition each doc; dominant matches the max") {
    val rows = graft.text.TextAnalysis.scripts(spark, sf).collect()
    assert(rows.nonEmpty)
    val names = Seq("latin", "digit", "cjk", "space", "other")
    rows.foreach { r =>
      val fr = names.map(nm => r.getAs[Double](s"${nm}_frac"))
      fr.foreach(f => assert(f >= 0.0 && f <= 1.0, r.toString))
      if (r.getAs[Int]("n_total") > 0)
        assert(math.abs(fr.sum - 1.0) < 1e-4, r.toString)
      val domF = fr(names.indexOf(r.getAs[String]("dominant")))
      assert(domF >= fr.max - 1e-6, r.toString)
    }
  }

  test("t17 readability: counts positive, score matches the formula per row") {
    val rows = graft.text.TextAnalysis.readability(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (w, se, sy) = (r.getAs[Int]("n_words"), r.getAs[Int]("n_sents"),
        r.getAs[Int]("n_syll"))
      assert(w >= 1 && se >= 1 && sy >= 1, r.toString)
      val expect = BigDecimal(206.835 - 1.015 * (w.toDouble / se) -
        84.6 * (sy.toDouble / w)).setScale(4, BigDecimal.RoundingMode.HALF_UP)
      assert(math.abs(r.getAs[Double]("flesch") - expect.toDouble) < 1e-9, r.toString)
    }
  }

  test("t10 unigram LM scores are finite, negative, and rank common above rare") {
    val res = graft.text.TextAnalysis.unigramLm(spark, sf).collect()
    assert(res.nonEmpty)
    res.foreach { r =>
      val lp = r.getAs[Double]("avg_logp")
      assert(!lp.isNaN && !lp.isInfinite && lp < 0.0, s"bad avg_logp $lp")
      assert(r.getAs[Long]("n_tokens") >= 1)
    }
    // every word's unigram probability is at most the most-frequent
    // word's, so no doc can out-score ln(max_p); and a doc made of the
    // corpus's commonest words must beat the corpus median score
    val scores = res.map(_.getAs[Double]("avg_logp")).sorted
    assert(scores.last > scores(scores.length / 2))
  }

  test("t20 keywords: exactly 3 per doc, scores descending, rarer-at-equal-tf ranks higher") {
    import org.apache.spark.sql.functions._
    val rows = graft.text.TextAnalysis.keywords(spark, sf).collect()
    val nDocs = graft.sources.Tables.documents(spark, sf).count()
    assert(rows.length == 3 * nDocs, "every doc (≥3 distinct words here) gets 3 keywords")
    rows.groupBy(_.getAs[Long]("doc_id")).foreach { case (_, rs) =>
      val ordered = rs.sortBy(_.getAs[Int]("rank"))
      assert(ordered.map(_.getAs[Int]("rank")).sameElements(Array(1, 2, 3)))
      val scores = ordered.map(_.getAs[Double]("score"))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
      assert(scores.forall(_ >= 0.0), "df <= N so ln(N/df) >= 0")
      val kws = ordered.map(_.getAs[String]("keyword"))
      assert(kws.distinct.length == kws.length)
    }
  }

  test("t19 bigram LM: n_bigrams = tokens-1, scores finite negative, smoothing bounds hold") {
    import org.apache.spark.sql.functions._
    val nToks = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val res = graft.text.TextAnalysis.bigramLm(spark, sf).collect()
    assert(res.nonEmpty)
    res.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      assert(r.getAs[Long]("n_bigrams") == nToks(id) - 1)
      val lp = r.getAs[Double]("avg_logp")
      assert(!lp.isNaN && !lp.isInfinite && lp < 0.0, s"bad avg_logp $lp")
      // add-one smoothing floor: P >= 1/(max c1 + V) > 0, and every seen
      // bigram has P >= 2/(c1+V) — avg_logp can never reach -inf
    }
  }

  test("bpe_merge kernel: greedy non-overlapping scan, exact-token boundaries") {
    import org.apache.spark.unsafe.types.UTF8String
    def m(s: String, a: String, b: String): String =
      graft.functions.Kernels.bpeMerge(UTF8String.fromString(s),
        UTF8String.fromString(a), UTF8String.fromString(b)).toString
    assert(m("l o w e r", "o", "w") == "l ow e r")
    assert(m("a a a", "a", "a") == "aa a")         // overlap consumes both
    assert(m("a a a a", "a", "a") == "aa aa")
    assert(m("a b a b", "a", "b") == "ab ab")      // adjacent repeats both merge
    assert(m("x a b y a b", "a", "b") == "x ab y ab")
    assert(m("xa a", "a", "a") == "xa a")          // 'xa' must not suffix-match 'a'
    assert(m("ab b", "b", "b") == "ab b")
    assert(m("a ab", "a", "ab") == "aab")          // multi-char right symbol
    assert(m("q", "a", "b") == "q")                // single-symbol word untouched
  }

  test("t21 BPE trainer matches an independent driver-side reference trainer") {
    import spark.implicits._
    // reference implementation: plain Scala over a word-frequency map,
    // written independently of the Spark/kernel code path
    def greedy(syms: Vector[String], a: String, b: String): Vector[String] = {
      val out = Vector.newBuilder[String]
      var i = 0
      while (i < syms.length) {
        if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
          out += (a + b); i += 2
        } else { out += syms(i); i += 1 }
      }
      out.result()
    }
    def refBpe(words: Map[String, Long], k: Int): Seq[(Int, String, String, Long, Long)] = {
      var vocab = words.toSeq.map { case (w, n) => (w.map(_.toString).toVector, n) }
      (1 to k).flatMap { step =>
        val counts = scala.collection.mutable.Map[(String, String), Long]()
          .withDefaultValue(0L)
        vocab.foreach { case (syms, n) =>
          syms.indices.dropRight(1).foreach { i =>
            counts((syms(i), syms(i + 1))) += n
          }
        }
        if (counts.isEmpty) None
        else {
          val ((a, b), c) = counts.toSeq
            .sortBy { case ((x, y), n) => (-n, x + " " + y) }.head
          vocab = vocab.map { case (syms, n) => (greedy(syms, a, b), n) }
          val toks = vocab.map { case (syms, n) => syms.length * n }.sum
          Some((step, a, b, c, toks))
        }
      }
    }
    // hand-built docs exercising overlap runs, repeats, and ties
    val docs = Seq(
      "aaa aaa abab the the the cat",
      "banana bandana the cat sat",
      "aaa abab banana the").toDF("text")
    val words = docs
      .select(explode(split(lower($"text"), " ")).as("w"))
      .collect().map(_.getString(0)).filter(_.length >= 2)
      .groupBy(identity).map { case (w, ws) => w -> ws.length.toLong }
    val expected = refBpe(words, 5)
    val got = graft.text.TextAnalysis.bpeTrainOf(spark, docs, 5)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got == expected, s"\ngot      $got\nexpected $expected")
    // merged column is lhs+rhs by construction
    graft.text.TextAnalysis.bpeTrainOf(spark, docs, 3).collect().foreach { r =>
      assert(r.getString(3) == r.getString(1) + r.getString(2))
    }
  }

  test("t22 BPE encode matches a driver-side reference encode with the trained merges") {
    import spark.implicits._
    def greedy(syms: Vector[String], a: String, b: String): Vector[String] = {
      val out = Vector.newBuilder[String]
      var i = 0
      while (i < syms.length) {
        if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
          out += (a + b); i += 2
        } else { out += syms(i); i += 1 }
      }
      out.result()
    }
    val docTexts = Seq(
      "aaa a aaa abab the cat a",     // includes 1-char words (excluded from
      "banana bandana the cat sat",   // TRAINING but encoded at serve time)
      "aaa abab banana a the")
    val docs = docTexts.toDF("text")
    val merges = graft.text.TextAnalysis.bpeTrainOf(spark, docs, 4)
      .collect().sortBy(_.getInt(0)).map(r => (r.getString(1), r.getString(2)))
    def encode(w: String): Vector[String] =
      merges.foldLeft(w.map(_.toString).toVector) { case (sy, (a, b)) => greedy(sy, a, b) }
    val expected = docTexts.zipWithIndex.map { case (t, i) =>
      val ws = t.split(" ").toSeq
      val toks = ws.map(w => encode(w).length).sum
      val chars = ws.map(_.length).sum
      (i.toLong, ws.length.toLong, toks.toLong,
        math.round(chars.toDouble / toks * 1e4) / 1e4)
    }
    val withIds = docTexts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val got = graft.text.TextAnalysis.bpeEncodeOf(spark, withIds, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(got == expected, s"\ngot      $got\nexpected $expected")
    // encoding never increases token count beyond character count, and
    // merges only ever reduce it
    got.foreach { case (_, _, toks, cpt) => assert(toks > 0 && cpt >= 1.0) }
  }

  test("t21/t22 frame builds run a bounded number of Spark jobs, not jobs per merge step") {
    import spark.implicits._
    val docs = Seq(
      "aaa aaa abab the the the cat",
      "banana bandana the cat sat",
      "aaa abab banana the").zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val counter = new graft.tools.JobCounter(spark.sparkContext)
    try {
      val (train, trainJobs) = counter(graft.text.TextAnalysis.bpeTrainOf(spark, docs, 8))
      val (_, encodeJobs) = counter(graft.text.TextAnalysis.bpeEncodeOf(spark, docs, 8))
      assert(train.count() == 8, "the docs hold 8 trainable merges")
      assert(trainJobs <= 3, s"bpeTrainOf build ran $trainJobs jobs")
      assert(encodeJobs <= 3, s"bpeEncodeOf build ran $encodeJobs jobs")
    } finally spark.sparkContext.removeSparkListener(counter)
  }

  test("trainMerges stops early when the vocabulary runs out of pairs") {
    val (merges, syms) = graft.text.TextAnalysis.trainMerges(
      Seq(("abc", 2L), ("x", 7L)), 5)
    // 1-char words never train; "abc" fully merges in 2 steps, then no
    // pair remains and no further rows follow
    assert(merges == Seq((1, "a", "b", "ab", 2L, 4L), (2, "ab", "c", "abc", 2L, 2L)))
    assert(syms == Map("abc" -> "abc"))
    assert(graft.text.TextAnalysis.trainMerges(Seq(("q", 3L)), 5) == ((Nil, Map.empty)))
  }

  test("trainMerges breaks a count tie by UTF-8 byte order of the pair") {
    // "b a" and "a b" both count 2: "a b" is smaller, whatever the input order
    val (merges, _) = graft.text.TextAnalysis.trainMerges(Seq(("ba", 2L), ("ab", 2L)), 2)
    assert(merges == Seq((1, "a", "b", "ab", 2L, 6L), (2, "b", "a", "ba", 2L, 4L)))
  }

  test("trainMerges fails loudly on count overflow instead of wrapping") {
    // pair count: 2 * (MaxValue - 1) for "a b"
    intercept[ArithmeticException] {
      graft.text.TextAnalysis.trainMerges(Seq(("ab", Long.MaxValue - 1), ("cab", Long.MaxValue - 1)), 1)
    }
    // corpus tokens: "abc" -> "ab c" leaves 2 tokens of n > MaxValue / 2
    intercept[ArithmeticException] {
      graft.text.TextAnalysis.trainMerges(Seq(("abc", Long.MaxValue / 2 + 1)), 1)
    }
  }

  test("t23 hashed-linear scoring matches a driver-side reference, both label signs occur") {
    import org.apache.spark.unsafe.types.UTF8String
    val seed = 1181783497276652981L
    def wgt(f: String): Long = {
      val h = graft.functions.Kernels.hash64(UTF8String.fromString(f), seed)
      val b = ((h % 65536) + 65536) % 65536
      (b * 2654435761L) % 4294967296L % 2001 - 1000
    }
    val out = graft.text.TextAnalysis.qualityLr(spark, sf)
    val sample = out.orderBy($"doc_id").limit(30).collect()
    val texts = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", $"text").orderBy($"doc_id").limit(30).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    sample.foreach { r =>
      val toks = texts(r.getLong(0)).toLowerCase(java.util.Locale.ROOT)
        .split("\\s+", -1).toSeq
      val feats = toks.map("u " + _) ++
        (if (toks.length >= 2) toks.sliding(2).map(p => s"b ${p(0)} ${p(1)}").toSeq
         else Nil)
      assert(r.getAs[Int]("n_feat") == feats.length,
        s"doc ${r.getLong(0)}: feature count")
      assert(r.getAs[Long]("score_sum") == feats.map(wgt).sum,
        s"doc ${r.getLong(0)}: weight sum")
      assert(r.getAs[Boolean]("keep") == (r.getAs[Long]("score_sum") > 0))
    }
    // the procedural weight table is not degenerate: both labels occur
    val labels = out.groupBy($"keep").count().collect().map(_.getBoolean(0)).toSet
    assert(labels == Set(true, false), s"expected both labels, got $labels")
  }

  test("t25 DSIR weights match a driver-side reference; selection honors the cut") {
    import org.apache.spark.unsafe.types.UTF8String
    import java.math.{BigDecimal => JBD, RoundingMode}
    val seed = 0x5851f42d4c957f2dL
    def bucket(f: String): Long = {
      val h = graft.functions.Kernels.hash64(UTF8String.fromString(f), seed)
      ((h % 8192) + 8192) % 8192
    }
    def featsOf(text: String): Seq[Long] = {
      val toks = text.toLowerCase(java.util.Locale.ROOT).split("\\s+", -1).toSeq
      val fs = toks.map("u " + _) ++
        (if (toks.length >= 2) toks.sliding(2).map(p => s"b ${p(0)} ${p(1)}").toSeq
         else Nil)
      fs.map(bucket)
    }
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", $"source", $"text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val perDoc = docs.map { case (id, src, t) => (id, src, featsOf(t)) }
    val cr = perDoc.flatMap(_._3).groupBy(identity).view.mapValues(_.size.toLong).toMap
    val ct = perDoc.filter(_._2 == "src0").flatMap(_._3)
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val nr = cr.values.sum; val nt = ct.values.sum
    def snap(x: Double): JBD = new JBD(x).setScale(6, RoundingMode.HALF_UP)
    val lr: Map[Long, JBD] = cr.map { case (b, c) =>
      b -> snap(math.log((ct.getOrElse(b, 0L) + 1).toDouble / (nt + 8192)))
        .subtract(snap(math.log((c + 1).toDouble / (nr + 8192))))
    }
    val expected = perDoc.map { case (id, _, fs) =>
      val sum = fs.foldLeft(JBD.ZERO)((a, b) => a.add(lr(b)))
      id -> (fs.length.toLong,
        sum.setScale(4, RoundingMode.HALF_UP).doubleValue())
    }.toMap
    val out = graft.text.TextAnalysis.dsir(spark, sf).collect()
    assert(out.length == docs.length)
    out.foreach { r =>
      val (nf, w) = expected(r.getLong(0))
      assert(r.getAs[Long]("n_feat") == nf, s"doc ${r.getLong(0)}: feature count")
      assert(r.getAs[Double]("logw") == w, s"doc ${r.getLong(0)}: weight")
      assert(r.getAs[Boolean]("selected") ==
        (r.getAs[Double]("logw") >= r.getAs[Double]("cut")))
    }
    // top-quarter selection (75th discrete percentile, >= keeps the tail)
    val kept = out.count(_.getAs[Boolean]("selected"))
    assert(kept >= out.length / 4 && kept <= math.ceil(0.6 * out.length),
      s"kept $kept of ${out.length}")
    // the DSIR signal: target-slice (src0) docs carry higher importance
    // weight on average than the rest of the corpus
    val (s0, rest) = out.partition(_.getAs[String]("source") == "src0")
    def mean(a: Array[org.apache.spark.sql.Row]) =
      a.map(_.getAs[Double]("logw")).sum / a.length
    assert(mean(s0) > mean(rest),
      s"src0 mean ${mean(s0)} not above rest mean ${mean(rest)}")
  }

  test("t24 CCNet buckets: clean tertiles, reference slice scores in-domain, labels honor the cuts") {
    val rows = graft.text.TextAnalysis.ccnetBuckets(spark, sf).collect()
    assert(rows.nonEmpty)
    val n = rows.length
    val cut1 = rows.head.getAs[Double]("cut1")
    val cut2 = rows.head.getAs[Double]("cut2")
    assert(cut1 < cut2, s"tertile cuts must be ordered: $cut1 vs $cut2")
    rows.foreach { r =>
      val expected =
        if (r.getAs[Double]("score") <= cut1) "head"
        else if (r.getAs[Double]("score") <= cut2) "middle"
        else "tail"
      assert(r.getAs[String]("bucket") == expected)
    }
    // tertiles are balanced up to score ties at the 4dp boundary
    val sizes = rows.groupBy(_.getAs[String]("bucket")).view.mapValues(_.length).toMap
    Seq("head", "middle", "tail").foreach { b =>
      assert(math.abs(sizes(b) - n / 3.0) <= math.max(3.0, 0.05 * n),
        s"$b has ${sizes(b)} of $n")
    }
    // the CCNet signal: the reference slice (src0) is in-domain, so its
    // docs score lowest-perplexity and concentrate in head
    val src0 = rows.filter(_.getAs[String]("source") == "src0")
    assert(src0.nonEmpty)
    val src0Head = src0.count(_.getAs[String]("bucket") == "head")
    assert(src0Head >= 0.8 * src0.length,
      s"only $src0Head of ${src0.length} reference docs in head")
  }

  test("t26 blocklist matches a driver-side recount; rate is exact floor basis points") {
    val docs = graft.sources.Tables.documents(spark, sf)
      .select(col("lang"), col("source"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
    val bad = Set("dup", "spam")
    val expected = docs.groupBy(d => (d._1, d._2)).view.mapValues { g =>
      val hits = g.map(_._3.split(" ").count(bad))
      (g.length.toLong, hits.count(_ > 0).toLong, hits.map(_.toLong).sum)
    }.toMap
    val got = graft.text.TextAnalysis.blocklist(spark, sf).collect()
    assert(got.length == expected.size)
    got.foreach { r =>
      val (n, fl, hits) = expected((r.getAs[String]("lang"), r.getAs[String]("source")))
      assert(r.getAs[Long]("n_docs") == n)
      assert(r.getAs[Long]("n_flagged") == fl)
      assert(r.getAs[Long]("total_hits") == hits)
      assert(r.getAs[Long]("flag_rate_bp") == Math.floorDiv(10000L * fl, n))
    }
    // 'dup' is rare-but-present; 'spam' absent — the filter must
    // discriminate, not blanket-flag
    val flagged = got.map(_.getAs[Long]("n_flagged")).sum
    assert(flagged > 0 && flagged < docs.length)
  }
}
