package graft

import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions._
import graft.functions.Kernels

class ExpressionsSpec extends GraftSpec {
  import spark.implicits._

  test("cosine_sim: exact values on known vectors") {
    val df = Seq(
      (Array(1.0f, 0.0f), Array(1.0f, 0.0f), 1.0),
      (Array(1.0f, 0.0f), Array(0.0f, 1.0f), 0.0),
      (Array(1.0f, 1.0f), Array(-1.0f, -1.0f), -1.0),
      (Array(1.0f, 2.0f), Array(2.0f, 4.0f), 1.0)
    ).toDF("a", "b", "expected")
    val rows = df.select(cosineSim($"a", $"b").as("c"), $"expected").collect()
    rows.foreach(r => assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-12))
  }

  test("cosine_sim survives whole-stage codegen over a real table") {
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val self = emb.select(cosineSim($"embedding", $"embedding").as("c"))
    val got = self.agg(min($"c"), max($"c")).head()
    assert(math.abs(got.getDouble(0) - 1.0) < 1e-9 && math.abs(got.getDouble(1) - 1.0) < 1e-9)
  }

  test("minhash_sig: identical inputs → identical sigs; similar inputs share most entries") {
    val a = (1 to 100).map(i => s"shingle$i")
    val b = a.updated(5, "changedA").updated(50, "changedB") // 98% overlap
    val c = (1 to 100).map(i => s"other$i")                  // disjoint
    val df = Seq(("a", a), ("a2", a), ("b", b), ("c", c)).toDF("id", "sh")
    val sigs = df.select($"id", minhashSig($"sh", 128).as("sig")).collect()
      .map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(sigs("a") == sigs("a2"))
    val simAB = sigs("a").zip(sigs("b")).count { case (x, y) => x == y } / 128.0
    val simAC = sigs("a").zip(sigs("c")).count { case (x, y) => x == y } / 128.0
    assert(simAB > 0.85, s"expected high minhash agreement for 98% jaccard, got $simAB")
    assert(simAC < 0.15, s"expected low agreement for disjoint sets, got $simAC")
  }

  test("winnow_fps: exact window minima of per-shingle hash64, distinct, ordered") {
    import org.apache.spark.unsafe.types.UTF8String
    val shingles = Seq("a b c", "b c d", "c d e", "d e f", "e f g")
    val hs = shingles.map(s => Kernels.hash64(UTF8String.fromString(s), 0L))
    val expected = hs.sliding(2).map(_.min).toSeq.distinct
    val got = Seq(Tuple1(shingles))
      .toDF("sh").select(winnowFps($"sh", 2).as("fps"))
      .head().getSeq[Long](0)
    assert(got == expected, s"$got vs $expected")
    // fewer shingles than the window → empty fingerprint set
    val short = Seq(Tuple1(Seq("only one")))
      .toDF("sh").select(winnowFps($"sh", 2).as("fps"))
      .head().getSeq[Long](0)
    assert(short.isEmpty)
  }

  test("simhash64: near-identical docs are close in hamming, unrelated far") {
    val a = (1 to 200).map(i => s"w$i")
    val b = a.updated(10, "x")
    val c = (1 to 200).map(i => s"z$i")
    val df = Seq(("a", a), ("b", b), ("c", c)).toDF("id", "toks")
    val m = df.select($"id", simhash64($"toks").as("sh")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(Kernels.hamming64(m("a"), m("b")) <= 6)
    assert(Kernels.hamming64(m("a"), m("c")) >= 20)
  }

  test("fingerprint64 normalizes case and whitespace") {
    val df = Seq("Hello  World", "hello world", "HELLO\tWORLD", "goodbye world")
      .toDF("t")
    val fps = df.select(fingerprint64($"t")).collect().map(_.getLong(0))
    assert(fps(0) == fps(1) && fps(1) == fps(2))
    assert(fps(0) != fps(3))
  }

  test("SelfHammingRule folds hamming64(x, x) to a literal during optimization") {
    // parquet-backed (a LocalRelation would be eagerly evaluated anyway)
    val t = graft.sources.Tables.orders(spark, sf)
    val df = t.select(hamming64($"o_orderkey", $"o_orderkey").as("h"))
    val opt = df.queryExecution.optimizedPlan.toString
    assert(!opt.toLowerCase.contains("hamming"), s"expression should fold away:\n$opt")
    assert(df.collect().map(_.getInt(0)).forall(_ == 0))
    // guard: non-deterministic inputs must keep the expression
    val nd = t.select(hamming64((rand() * 100).cast("long"), (rand() * 100).cast("long")))
      .queryExecution.optimizedPlan.toString
    assert(nd.toLowerCase.contains("hamming"), s"rule must not fire on rand():\n$nd")
  }

  test("hash64 is seed-sensitive and xor-composition is order-independent") {
    val df = Seq("alpha", "beta", "gamma").toDF("t")
    val h0 = df.select(hash64($"t")).collect().map(_.getLong(0))
    val h7 = df.select(hash64($"t", 7L)).collect().map(_.getLong(0))
    assert(h0.distinct.length == 3)            // no collisions on distinct inputs
    assert(h0.zip(h7).forall { case (a, b) => a != b }) // seed changes everything
    // checksum = bit_xor(hash64): any permutation of rows gives the same value
    import org.apache.spark.sql.functions.bit_xor
    val c1 = df.agg(bit_xor(hash64($"t"))).head().getLong(0)
    val c2 = df.orderBy($"t".desc).agg(bit_xor(hash64($"t"))).head().getLong(0)
    assert(c1 == c2)
  }

  test("SQL registration via GraftFunctions.install and via extensions class") {
    // install() registers what the session lacks: drop one extension-
    // registered name and let install() restore it from the same table
    val id = org.apache.spark.sql.catalyst.FunctionIdentifier("cosine_sim")
    spark.sessionState.functionRegistry.dropFunction(id)
    graft.functions.GraftFunctions.install(spark)
    assert(spark.sessionState.functionRegistry.functionExists(id))
    val r = spark.sql(
      "SELECT cosine_sim(array(cast(1.0 as float), cast(0.0 as float)), " +
        "array(cast(1.0 as float), cast(0.0 as float))) AS c, " +
        "hamming64(7L, 0L) AS h, fingerprint64('a b') = fingerprint64('A  B') AS same").head()
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
    assert(r.getInt(1) == 3)
    assert(r.getBoolean(2))
  }


  test("word_stem: the Porter 1980 rule tables, step by step") {
    // one vector per rule family, from the paper's own examples —
    // step 1a plurals, 1b ed/ing + restoration, 1c y->i, step 2/3
    // suffix maps, step 4 strips (incl. the s/t-guarded ION), 5a/5b
    val vectors = Seq(
      "caresses" -> "caress", "ponies" -> "poni", "ties" -> "ti",
      "cats" -> "cat", "feed" -> "feed", "agreed" -> "agre",
      "plastered" -> "plaster", "motoring" -> "motor", "sing" -> "sing",
      "conflated" -> "conflat", "sized" -> "size", "hopping" -> "hop",
      "tanned" -> "tan", "hissing" -> "hiss", "fizzed" -> "fizz",
      "failing" -> "fail", "filing" -> "file", "happy" -> "happi",
      "sky" -> "sky", "relational" -> "relat", "conditional" -> "condit",
      "rational" -> "ration", "digitizer" -> "digit",
      "operator" -> "oper", "feudalism" -> "feudal",
      "decisiveness" -> "decis", "hopefulness" -> "hope",
      "callousness" -> "callous", "formaliti" -> "formal",
      "triplicate" -> "triplic", "formative" -> "form",
      "formalize" -> "formal", "electrical" -> "electr",
      "hopeful" -> "hope", "goodness" -> "good", "revival" -> "reviv",
      "allowance" -> "allow", "inference" -> "infer",
      "airliner" -> "airlin", "adjustable" -> "adjust",
      "defensible" -> "defens", "irritant" -> "irrit",
      "replacement" -> "replac", "adjustment" -> "adjust",
      "dependent" -> "depend", "adoption" -> "adopt",
      "communism" -> "commun", "activate" -> "activ",
      "effective" -> "effect", "bowdlerize" -> "bowdler",
      "probate" -> "probat", "rate" -> "rate", "cease" -> "ceas",
      "controlling" -> "control", "rolling" -> "roll")
    vectors.foreach { case (in, want) =>
      val got = spark.sql(s"SELECT word_stem('$in')").head().getString(0)
      assert(got == want, s"word_stem($in) = $got, want $want")
    }
    // non-lowercase-letter inputs pass through unchanged (Presto stems
    // words only), short words untouched, NULL stays NULL
    val r = spark.sql(
      "SELECT word_stem('Running'), word_stem('a1b2'), word_stem('ox'), " +
        "word_stem(CAST(NULL AS STRING))").head()
    assert(r.getString(0) == "Running" && r.getString(1) == "a1b2" &&
      r.getString(2) == "ox" && r.isNullAt(3))
  }

  test("ngrams: sliding windows, whole-array convention, empty input") {
    val r = spark.sql(
      "SELECT ngrams(array('a','b','c','d'), 2) AS g2, " +
        "ngrams(array('a','b'), 5) AS whole, " +
        "ngrams(array('a','b','c'), 3) AS exact, " +
        "ngrams(CAST(array() AS ARRAY<STRING>), 2) AS empty").head()
    assert(r.getSeq[Seq[String]](0) ==
      Seq(Seq("a", "b"), Seq("b", "c"), Seq("c", "d")))
    assert(r.getSeq[Seq[String]](1) == Seq(Seq("a", "b")))
    assert(r.getSeq[Seq[String]](2) == Seq(Seq("a", "b", "c")))
    assert(r.getSeq[Seq[String]](3).isEmpty)
    // n is a literal-only argument, like minhash_sig's k
    val err = intercept[Exception](
      spark.sql("SELECT ngrams(array('a'), length('ab'))"))
    assert(err.getMessage.contains("ngrams"), err.getMessage)
    // NULL elements copy through as NULLs and the declared schema admits
    // them (containsNull mirrored from the input) — before the r16 fix
    // the schema promised none while the kernel copied them anyway,
    // handing codegen garbage; the whole-array branch too
    val withNull = spark.sql(
      "SELECT ngrams(array('a', CAST(NULL AS STRING), 'c'), 2) AS g, " +
        "ngrams(array('a', CAST(NULL AS STRING)), 9) AS whole")
    assert(withNull.schema("g").dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType]
      .elementType.asInstanceOf[org.apache.spark.sql.types.ArrayType]
      .containsNull)
    val rn = withNull.head()
    assert(rn.getSeq[Seq[String]](0) == Seq(Seq("a", null), Seq(null, "c")))
    assert(rn.getSeq[Seq[String]](1) == Seq(Seq("a", null)))
  }

  test("hmac_sha256 matches RFC 4231 test case 2 and the digest builtins stay on-surface") {
    // RFC 4231 test case 2: key "Jefe", data "what do ya want for nothing?"
    val hm = spark.sql("SELECT lower(hex(hmac_sha256(" +
      "encode('what do ya want for nothing?', 'utf-8'), " +
      "encode('Jefe', 'utf-8'))))").head().getString(0)
    assert(hm ==
      "5bdcc146bf60754e6a042426089575c75a003f089d2739839dec58b964ec3843")
    // the Presto siblings: sha512 from the same RFC 4231 case, sha1/md5
    // from RFC 2202 test case 2 (same key/data)
    val sib = spark.sql(
      "SELECT lower(hex(hmac_sha512(encode('what do ya want for nothing?', 'utf-8'), encode('Jefe', 'utf-8'))))," +
        " lower(hex(hmac_sha1(encode('what do ya want for nothing?', 'utf-8'), encode('Jefe', 'utf-8'))))," +
        " lower(hex(hmac_md5(encode('what do ya want for nothing?', 'utf-8'), encode('Jefe', 'utf-8'))))").head()
    assert(sib.getString(0) ==
      "164b7a7bfcf819e2e395fbe73b56e0a387bd64222e831fd610270cd7ea250554" +
        "9758bf75c05a994a6d034f65f8f0e6fdcaeab1a34d4a6b4b636e070a38bce737")
    assert(sib.getString(1) == "effcdf6ae5eb2fa2d27416d5f184df9c259a7c79")
    assert(sib.getString(2) == "750c783e6ab0b503eaa86e310a5db738")
    // word_stem's Presto 2-arg form: 'en' passes through, anything else
    // is refused with a clear message
    assert(spark.sql("SELECT word_stem('running', 'en')").head().getString(0) == "run")
    val langErr = intercept[Exception](spark.sql("SELECT word_stem('running', 'fr')"))
    assert(langErr.getMessage.contains("word_stem"), langErr.getMessage)
    // crc32 / xxhash64: Spark builtins the Presto digest family maps to —
    // pin one known crc (zlib crc32 of "graft") so surface drift shows
    val crc = spark.sql("SELECT crc32(encode('graft', 'utf-8'))").head().getLong(0)
    val ref = new java.util.zip.CRC32()
    ref.update("graft".getBytes("UTF-8"))
    assert(crc == ref.getValue, s"crc32 drifted: $crc vs ${ref.getValue}")
    // xxhash64: deterministic across calls/sessions (seed 42 builtin)
    assert(spark.sql("SELECT xxhash64('graft')").head().getLong(0) ==
      spark.sql("SELECT xxhash64('graft')").head().getLong(0))
  }

  test("SQL hash64 accepts plain INT literal seeds and rejects non-literals") {
    // the natural SQL call form: 42 parses as an IntegerType literal
    val viaInt = spark.sql("SELECT hash64('x', 42) AS h").head().getLong(0)
    // out-of-int-range integral parses as a LongType literal
    val viaLong = spark.sql("SELECT hash64('x', 9999999999) AS h").head().getLong(0)
    val api = Seq("x").toDF("t")
    assert(viaInt == api.select(hash64($"t", 42L)).head().getLong(0))
    assert(viaLong == api.select(hash64($"t", 9999999999L)).head().getLong(0))
    // minhash_sig's k goes through the same literal extraction
    val k = spark.sql("SELECT size(minhash_sig(array('a'), 16)) AS n").head().getInt(0)
    assert(k == 16)
    val err = intercept[Exception](spark.sql("SELECT hash64('x', length('ab')) AS h"))
    assert(err.getMessage.contains("hash64"), err.getMessage)
  }

  test("geometric_mean matches exp(avg(ln)) and handles the domain edge cases") {
    val df = Seq(2.0, 8.0).toDF("x")
    val got = df.agg(graft.functions.GraftFunctions.geometricMean($"x")).head().getDouble(0)
    assert(math.abs(got - 4.0) < 1e-12) // sqrt(2*8)
    // nulls are skipped, as in every SQL aggregate
    val withNull = Seq(Some(3.0), None, Some(27.0)).toDF("x")
    val g2 = withNull.agg(graft.functions.GraftFunctions.geometricMean($"x")).head().getDouble(0)
    assert(math.abs(g2 - 9.0) < 1e-12) // geomean(3, 27)
    // Presto exp(avg(ln)) propagation: a negative or NaN input poisons
    // the group to NaN; a zero drives it to 0 (exp(-inf))
    val neg = Seq(3.0, -5.0, 27.0).toDF("x")
    assert(neg.agg(graft.functions.GraftFunctions.geometricMean($"x")).head().getDouble(0).isNaN)
    val withNaN = Seq(2.0, Double.NaN).toDF("x")
    assert(withNaN.agg(graft.functions.GraftFunctions.geometricMean($"x")).head().getDouble(0).isNaN)
    val withZero = Seq(4.0, 0.0).toDF("x")
    assert(withZero.agg(graft.functions.GraftFunctions.geometricMean($"x")).head().getDouble(0) == 0.0)
    // all-null group -> null
    val none = Seq(Option.empty[Double]).toDF("x")
    assert(none.agg(graft.functions.GraftFunctions.geometricMean($"x")).head().isNullAt(0))
    // SQL registration path
    Seq(2.0, 8.0).toDF("x").createOrReplaceTempView("gm_t")
    assert(math.abs(spark.sql("SELECT geometric_mean(x) FROM gm_t").head().getDouble(0) - 4.0) < 1e-12)
    // partial aggregation across many partitions agrees with single-partition
    val spread = spark.range(1, 1001).select(($"id" % 10 + 1).cast("double").as("x"))
    val a = spread.repartition(16).agg(graft.functions.GraftFunctions.geometricMean($"x")).head().getDouble(0)
    val b = spread.coalesce(1).agg(graft.functions.GraftFunctions.geometricMean($"x")).head().getDouble(0)
    assert(math.abs(a - b) < 1e-9)
  }

  test("haversine_km: zero at identity, symmetric, matches known distances") {
    val df = Seq(
      // (lat1, lon1, lat2, lon2, expected_km, tol_km)
      (48.8566, 2.3522, 48.8566, 2.3522, 0.0, 1e-9),     // same point
      (48.8566, 2.3522, 51.5074, -0.1278, 343.6, 1.0),   // Paris-London
      (0.0, 0.0, 0.0, 180.0, 6371.01 * math.Pi, 1e-6),   // antipodal on equator
      (90.0, 0.0, -90.0, 0.0, 6371.01 * math.Pi, 1e-6)   // pole to pole
    ).toDF("lat1", "lon1", "lat2", "lon2", "expected", "tol")
    df.select(haversineKm($"lat1", $"lon1", $"lat2", $"lon2").as("d"),
        haversineKm($"lat2", $"lon2", $"lat1", $"lon1").as("rev"),
        $"expected", $"tol").collect()
      .foreach { r =>
        assert(math.abs(r.getDouble(0) - r.getDouble(2)) < r.getDouble(3), r.toString)
        assert(r.getDouble(0) == r.getDouble(1), "must be symmetric")
      }
    // stays inside whole-stage codegen over a real table (no UDF fallback)
    val cust = graft.sources.Tables.customer(spark, sf)
    val plan = cust.select(haversineKm(
      ($"c_custkey" % 171).cast("double"), lit(0.0), lit(10.0), lit(20.0)).as("d"))
    assert(plan.queryExecution.executedPlan.find(
      _.isInstanceOf[org.apache.spark.sql.execution.WholeStageCodegenExec]).isDefined,
      plan.queryExecution.executedPlan.toString)
    assert(plan.agg(min($"d")).head().getDouble(0) >= 0.0)
  }

  test("point_in_polygon: ray casting handles convex, non-convex, and outside cases") {
    // closed non-convex ring (the q123 ring): the (0,10) vertex notches
    // the top edge inward
    val xs = Array(-50.0, 60.0, 70.0, 0.0, -60.0, -50.0)
    val ys = Array(-30.0, -40.0, 50.0, 10.0, 40.0, -30.0)
    val df = Seq(
      (0.0, 0.0, true),     // deep interior
      (0.0, 25.0, false),   // inside the convex hull but in the notch
      (-54.0, 0.0, true),   // just inside the left edge (edge at x≈-54.29)
      (-55.0, 0.0, false),  // just outside the same edge
      (100.0, 0.0, false),  // right of everything
      (0.0, -50.0, false),  // below everything
      (-59.0, 39.0, true),  // in the thin sliver between the two top-left edges
      (-62.0, 39.0, false)  // left of the whole ring
    ).toDF("px", "py", "expected")
      .withColumn("xs", lit(xs)).withColumn("ys", lit(ys))
    df.select(pointInPolygon($"px", $"py", $"xs", $"ys").as("got"), $"expected")
      .collect()
      .foreach(r => assert(r.getBoolean(0) == r.getBoolean(1), r.toString))
    // SQL registration round-trip for both geo functions
    val viaSql = spark.sql(
      "SELECT point_in_polygon(0.0D, 0.0D, " +
        "array(-50.0D, 60.0D, 70.0D, 0.0D, -60.0D, -50.0D), " +
        "array(-30.0D, -40.0D, 50.0D, 10.0D, 40.0D, -30.0D)) AS p, " +
        "haversine_km(0.0D, 0.0D, 0.0D, 180.0D) AS d").head()
    assert(viaSql.getBoolean(0))
    assert(math.abs(viaSql.getDouble(1) - 6371.01 * math.Pi) < 1e-6)
  }

  test("bing_tile_quadkey: quadrant digits, parent-prefix property, zoom bounds") {
    // zoom 1 splits the world into the four quadkey digits
    val quads = Seq(
      (45.0, -90.0, "0"),  // NW
      (45.0, 90.0, "1"),   // NE
      (-45.0, -90.0, "2"), // SW
      (-45.0, 90.0, "3")   // SE
    ).toDF("lat", "lon", "expected")
    quads.select(bingTileQuadkey($"lat", $"lon", 1).as("q"), $"expected").collect()
      .foreach(r => assert(r.getString(0) == r.getString(1), r.toString))
    // the quadkey at a coarser zoom is a PREFIX of the finer one — the
    // property that makes quadkeys a rollup key
    val pt = Seq((47.6062, -122.3321)).toDF("lat", "lon")
    val Seq(z4, z6, z10) = Seq(4, 6, 10).map(z =>
      pt.select(bingTileQuadkey($"lat", $"lon", z)).head().getString(0))
    assert(z6.startsWith(z4) && z10.startsWith(z6), s"$z4 / $z6 / $z10")
    assert(z10.length == 10)
    // out-of-range latitudes clamp (Web-Mercator singularity) instead of
    // exploding — crawl coordinates are dirty
    val poles = Seq((90.0, 0.0), (-90.0, 0.0)).toDF("lat", "lon")
      .select(bingTileQuadkey($"lat", $"lon", 3)).collect()
    assert(poles.forall(_.getString(0).length == 3))
    // SQL registration + Presto's zoom bound
    assert(spark.sql("SELECT bing_tile_quadkey(45.0D, 90.0D, 1) AS q")
      .head().getString(0) == "1")
    val err = intercept[Exception](
      pt.select(bingTileQuadkey($"lat", $"lon", 0)).head())
    assert(err.getMessage.contains("zoom"), err.getMessage)
  }

  test("bloom_build/bloom_might_contain: no false negatives, bounded false positives, OR-merge") {
    val bits = 1 << 16
    val k = 7
    val members = (0 until 2000).map(i => s"member-gram-$i")
    val bloom = members.toDF("g")
      .agg(bloomBuild($"g", bits, k).as("bf")).head().getAs[Array[Byte]]("bf")
    // every inserted element MUST test true (the prefilter contract:
    // false = definite absence, so a false negative would drop real hits)
    val probed = members.toDF("g")
      .select(bloomMightContain(lit(bloom), $"g", k).as("hit")).collect()
    assert(probed.forall(_.getBoolean(0)))
    // non-members mostly test false: 2000 items in 65536 bits at k=7 is
    // well under half-full, FP rate should sit in low single digits
    val fps = (0 until 2000).map(i => s"absent-gram-$i").toDF("g")
      .select(bloomMightContain(lit(bloom), $"g", k).as("hit"))
      .collect().count(_.getBoolean(0))
    assert(fps < 200, s"false-positive count $fps of 2000 is out of family")
    // partial-aggregate merge is byte-OR: the union of two half-builds
    // equals the one-shot build (determinism across partitionings)
    val half1 = members.take(1000).toDF("g")
      .agg(bloomBuild($"g", bits, k)).head().getAs[Array[Byte]](0)
    val half2 = members.drop(1000).toDF("g")
      .agg(bloomBuild($"g", bits, k)).head().getAs[Array[Byte]](0)
    val merged = half1.zip(half2).map { case (a, b) => (a | b).toByte }
    assert(java.util.Arrays.equals(merged, bloom))
    // SQL registration round-trip
    val viaSql = spark.sql(
      s"SELECT bloom_might_contain(bf, 'member-gram-7', $k) AS hit FROM " +
      s"(SELECT bloom_build(g, $bits, $k) AS bf FROM VALUES ('member-gram-7') t(g))")
    assert(viaSql.head().getBoolean(0))
  }

  test("shingle_hash64 is byte-identical to hash64(concat_ws(' ', slice)) per position") {
    val docs = Seq(
      (1L, Seq("alpha", "beta", "gamma", "delta", "epsilon")),
      (2L, Seq("one", "two")),            // fewer than k → empty
      (3L, Seq("", "x", "", "y", "zz"))   // empty words keep separators honest
    ).toDF("id", "w")
    val k = 3
    val viaKernel = docs.select($"id",
      shingleHash64($"w", k).as("hs")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    // reference side must skip short docs itself: sequence(0, size-k)
    // is DESCENDING for size < k (the t06 gotcha) and slice errors on 0
    val expected = docs.filter(size($"w") >= k).select($"id", expr(
      s"transform(sequence(0, size(w) - $k), i -> concat_ws(' ', slice(w, i + 1, $k)))").as("grams"))
      .select($"id", expr("transform(grams, g -> hash64(g))").as("hs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(viaKernel(1L) == expected(1L))
    assert(viaKernel(3L) == expected(3L))
    assert(viaKernel(2L).isEmpty)
    // SQL surface matches the driver-side kernel on a literal input
    import org.apache.spark.unsafe.types.UTF8String
    val viaSql = spark.sql(
      "SELECT shingle_hash64(array('a','b','c','d'), 2) AS hs").head().getSeq[Long](0)
    val direct = Seq("a b", "b c", "c d")
      .map(s => Kernels.hash64(UTF8String.fromString(s), 0L))
    assert(viaSql == direct, s"$viaSql vs $direct")
  }

  test("hashed_ngram_buckets/score are byte-identical to the lambda HOF form") {
    import org.apache.spark.sql.functions.{aggregate, array, concat, element_at,
      pmod, sequence, size, transform, when}
    val seed = 0x5851f42d4c957f2dL
    val bits = 13
    val docs = Seq(
      (1L, Seq("alpha", "beta", "gamma", "delta")),
      (2L, Seq("solo")),                   // 1 token → 1 unigram, 0 bigrams
      (3L, Seq("")),                        // split("") = [""] → "u " feature
      (4L, Seq("", "x", "", "unicodeé")), // empties + multibyte UTF-8
      (5L, Seq("a", "b"))
    ).toDF("id", "w")
    // reference: the exact lambda chain the fused kernel replaced (t25 form)
    def bucketRef(f: org.apache.spark.sql.Column) =
      pmod(graft.functions.GraftFunctions.hash64(f, seed), lit(1L << bits))
    val wc = $"w"
    val uniB = transform(wc, t => bucketRef(concat(lit("u "), t)))
    val biB = when(size(wc) >= 2,
        transform(sequence(lit(0), size(wc) - 2), i =>
          bucketRef(concat(lit("b "), element_at(wc, i + 1), lit(" "),
            element_at(wc, i + 2)))))
      .otherwise(array().cast("array<bigint>"))
    val expected = docs.select($"id", concat(uniB, biB).as("bs")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val got = docs.select($"id",
        graft.functions.GraftFunctions.hashedNgramBuckets(wc, seed, bits).as("bs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(got == expected, s"\ngot      $got\nexpected $expected")
    // score form: same features through the t23 weight mix + Long fold
    val seed23 = 1181783497276652981L
    def wgtRef(f: org.apache.spark.sql.Column) = {
      val b = pmod(graft.functions.GraftFunctions.hash64(f, seed23), lit(65536L))
      pmod(pmod(b * lit(2654435761L), lit(4294967296L)), lit(2001L)) - lit(1000L)
    }
    val uniW = transform(wc, t => wgtRef(concat(lit("u "), t)))
    val biW = when(size(wc) >= 2,
        transform(sequence(lit(0), size(wc) - 2), i =>
          wgtRef(concat(lit("b "), element_at(wc, i + 1), lit(" "),
            element_at(wc, i + 2)))))
      .otherwise(array().cast("array<bigint>"))
    val expScore = docs.select($"id",
        (size(uniW) + size(biW)).as("n"),
        aggregate(concat(uniW, biW), lit(0L), (acc, x) => acc + x).as("s"))
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2)))).toMap
    val gotScore = docs.select($"id",
        graft.functions.GraftFunctions.hashedNgramScore(wc, seed23).as("r"))
      .select($"id", $"r.n_feat", $"r.score_sum")
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2)))).toMap
    assert(gotScore == expScore, s"\ngot      $gotScore\nexpected $expScore")
    // SQL surface (both registration paths share sqlBuilders)
    val viaSql = spark.sql(
      s"SELECT hashed_ngram_buckets(array('a','b'), ${seed}L, $bits) AS bs")
      .head().getSeq[Long](0)
    assert(viaSql.length == 3) // 2 unigrams + 1 bigram
    val sqlScore = spark.sql(
      s"SELECT hashed_ngram_score(array('a','b'), ${seed23}L).score_sum AS s")
      .head().getLong(0)
    assert(sqlScore == expScore(5L)._2)
  }

  test("normalize_unicode: all four forms, fast path, SQL surface") {
    // decomposed e + COMBINING ACUTE; NFC composes to U+00E9
    val decomposed = "Cafe\u0301"
    val composed = "Caf\u00e9"
    // NFKC/NFKD compatibility: the fi ligature U+FB01 expands to "fi"
    // under K-forms and survives untouched under NFC/NFD
    val ligature = "\ufb01le"
    val df = Seq((decomposed, ligature)).toDF("d", "l")
    val got = df.select(
      normalizeUnicode($"d").as("nfc"),
      normalizeUnicode($"d", "NFD").as("nfd"),
      normalizeUnicode($"l", "NFKC").as("nfkc"),
      normalizeUnicode($"l", "NFKD").as("nfkd"),
      normalizeUnicode($"l", "NFC").as("lig_nfc")).head()
    assert(got.getString(0) == composed)
    assert(got.getString(1) == decomposed) // NFD keeps the decomposed form
    assert(got.getString(2) == "file")
    assert(got.getString(3) == "file")
    assert(got.getString(4) == ligature)   // canonical forms keep ligatures
    // already-normalized fast path returns the value unchanged
    val ascii = Seq(Tuple1("plain ascii")).toDF("t")
      .select(normalizeUnicode($"t").as("n")).head().getString(0)
    assert(ascii == "plain ascii")
    // round-trip composition: NFD then NFC is identity on the composed form
    val rt = Seq(Tuple1(composed)).toDF("t")
      .select(normalizeUnicode(normalizeUnicode($"t", "NFD"), "NFC"))
      .head().getString(0)
    assert(rt == composed)
    // SQL registration, both 1-arg (NFC default) and explicit-form paths
    val viaSql2 = spark.sql(
      "SELECT normalize_unicode('Cafe\u0301') AS a, " +
      "normalize_unicode('\ufb01le', 'NFKC') AS b").head()
    assert(viaSql2.getString(0) == composed && viaSql2.getString(1) == "file")
  }

  test("st_intersects: crossings, touches, collinear overlap, disjoint") {
    import graft.functions.Kernels.segmentsIntersect
    // proper crossing
    assert(segmentsIntersect(0, 0, 10, 10, 0, 10, 10, 0))
    // disjoint, parallel
    assert(!segmentsIntersect(0, 0, 10, 0, 0, 1, 10, 1))
    // touching at an endpoint counts (closed segments)
    assert(segmentsIntersect(0, 0, 5, 5, 5, 5, 10, 0))
    // T-touch: endpoint of one in the interior of the other
    assert(segmentsIntersect(0, 0, 10, 0, 5, 0, 5, 7))
    // collinear with overlap
    assert(segmentsIntersect(0, 0, 10, 0, 5, 0, 15, 0))
    // collinear, disjoint
    assert(!segmentsIntersect(0, 0, 4, 0, 5, 0, 9, 0))
    // collinear, touching at exactly one shared point
    assert(segmentsIntersect(0, 0, 5, 0, 5, 0, 9, 0))
    // degenerate: zero-length segment on / off the other
    assert(segmentsIntersect(3, 0, 3, 0, 0, 0, 10, 0))
    assert(!segmentsIntersect(3, 1, 3, 1, 0, 0, 10, 0))
  }

  test("st_distance: interior foot, clamped endpoints, degenerate segment") {
    import graft.functions.Kernels.pointSegmentDist
    // foot inside the segment: plain perpendicular distance
    assert(pointSegmentDist(5, 3, 0, 0, 10, 0) == 3.0)
    // beyond either end: clamps to the nearer endpoint (3-4-5 triangle)
    assert(pointSegmentDist(-3, 4, 0, 0, 10, 0) == 5.0)
    assert(pointSegmentDist(13, 4, 0, 0, 10, 0) == 5.0)
    // on the segment: zero
    assert(pointSegmentDist(7, 0, 0, 0, 10, 0) == 0.0)
    // zero-length segment degrades to point distance
    assert(pointSegmentDist(3, 4, 0, 0, 0, 0) == 5.0)
  }

  test("st_intersects / st_distance run codegen'd through the SQL surface") {
    val r = spark.sql(
      """SELECT st_intersects(0D,0D,10D,10D, 0D,10D,10D,0D) AS hit,
                st_intersects(0D,0D,1D,0D, 2D,0D,3D,0D) AS miss,
                st_distance(5D,3D, 0D,0D,10D,0D) AS d,
                st_distance(CAST(NULL AS DOUBLE),3D, 0D,0D,10D,0D) AS nd""").head()
    assert(r.getBoolean(0) && !r.getBoolean(1))
    assert(r.getDouble(2) == 3.0)
    assert(r.isNullAt(3), "null coordinate must yield null, not a value")
  }

  test("st_area / st_length / st_centroid: known shapes through SQL") {
    // 4x3 rectangle, CCW, closed ring
    val rect = spark.sql(
      """SELECT st_area(array(0D,4D,4D,0D,0D), array(0D,0D,3D,3D,0D)) AS a,
                st_length(array(0D,4D,4D,0D,0D), array(0D,0D,3D,3D,0D)) AS l,
                st_centroid_x(array(0D,4D,4D,0D,0D), array(0D,0D,3D,3D,0D)) AS cx,
                st_centroid_y(array(0D,4D,4D,0D,0D), array(0D,0D,3D,3D,0D)) AS cy""").head()
    assert(rect.getDouble(0) == 12.0 && rect.getDouble(1) == 14.0)
    assert(rect.getDouble(2) == 2.0 && rect.getDouble(3) == 1.5)
    // 3-4-5 right triangle: area 6, perimeter 12, centroid (4/3, 1)
    val tri = spark.sql(
      """SELECT st_area(array(0D,4D,0D,0D), array(0D,0D,3D,0D)) AS a,
                st_length(array(0D,4D,0D,0D), array(0D,0D,3D,0D)) AS l,
                st_centroid_x(array(0D,4D,0D,0D), array(0D,0D,3D,0D)) AS cx,
                st_centroid_y(array(0D,4D,0D,0D), array(0D,0D,3D,0D)) AS cy""").head()
    assert(tri.getDouble(0) == 6.0 && tri.getDouble(1) == 12.0)
    assert(tri.getDouble(2) == 4.0 / 3.0 && tri.getDouble(3) == 1.0)
    // winding invariance: the CW reversal has identical area/length/centroid
    // (signed cross terms flip sign in both numerator and denominator)
    val cw = spark.sql(
      """SELECT st_area(array(0D,0D,4D,0D), array(0D,3D,0D,0D)) AS a,
                st_centroid_x(array(0D,0D,4D,0D), array(0D,3D,0D,0D)) AS cx,
                st_centroid_y(array(0D,0D,4D,0D), array(0D,3D,0D,0D)) AS cy""").head()
    assert(cw.getDouble(0) == 6.0)
    assert(cw.getDouble(1) == 4.0 / 3.0 && cw.getDouble(2) == 1.0)
  }

  test("st_centroid: degenerate (collinear) ring falls back to the vertex mean") {
    val r = spark.sql(
      """SELECT st_area(array(0D,2D,4D,0D), array(0D,0D,0D,0D)) AS a,
                st_length(array(0D,2D,4D,0D), array(0D,0D,0D,0D)) AS l,
                st_centroid_x(array(0D,2D,4D,0D), array(0D,0D,0D,0D)) AS cx,
                st_centroid_y(array(0D,2D,4D,0D), array(0D,0D,0D,0D)) AS cy,
                st_area(CAST(NULL AS ARRAY<DOUBLE>), array(0D)) AS na""").head()
    assert(r.getDouble(0) == 0.0, "collinear ring has zero area")
    assert(r.getDouble(1) == 8.0, "out-and-back perimeter still measures")
    assert(r.getDouble(2) == 2.0 && r.getDouble(3) == 0.0,
      "zero signed area must degrade to the vertex mean, not NaN/Inf")
    assert(r.isNullAt(4), "null ring must yield null")
  }

  test("ring kernels agree with an independent shoelace reference on random rings") {
    import graft.functions.GraftFunctions.{stArea, stCentroidX, stCentroidY, stLength}
    import org.apache.spark.sql.functions.{array, col, lit}
    val rnd = new scala.util.Random(42)
    val rings = Seq.fill(25) {
      val n = 3 + rnd.nextInt(5)
      val vs = Seq.fill(n)((rnd.nextDouble() * 20 - 10, rnd.nextDouble() * 20 - 10))
      vs :+ vs.head
    }
    // reference: direct shoelace/perimeter/centroid over the vertex list
    def ref(ring: Seq[(Double, Double)]): (Double, Double, Double, Double) = {
      val es = ring.zip(ring.tail)
      var a = 0.0; var nx = 0.0; var ny = 0.0; var len = 0.0
      es.foreach { case ((x1, y1), (x2, y2)) =>
        val cr = x1 * y2 - x2 * y1
        a += cr; nx += (x1 + x2) * cr; ny += (y1 + y2) * cr
        len += math.sqrt((x2 - x1) * (x2 - x1) + (y2 - y1) * (y2 - y1))
      }
      (0.5 * math.abs(a), len, nx / (3.0 * a), ny / (3.0 * a))
    }
    rings.foreach { ring =>
      val xs = array(ring.map(v => lit(v._1)): _*)
      val ys = array(ring.map(v => lit(v._2)): _*)
      val row = spark.range(1).select(
        stArea(xs, ys).as("a"), stLength(xs, ys).as("l"),
        stCentroidX(xs, ys).as("cx"), stCentroidY(xs, ys).as("cy")).head()
      val (ea, el, ecx, ecy) = ref(ring)
      assert(row.getDouble(0) == ea && row.getDouble(1) == el)
      assert(row.getDouble(2) == ecx && row.getDouble(3) == ecy)
    }
  }

  test("dotD matches the aggregate(zip_with(...)) fold bit-for-bit") {
    import org.apache.spark.sql.functions.{aggregate, zip_with}
    val rnd = new scala.util.Random(191L)
    val rows = (1 to 300).map { i =>
      val n = rnd.nextInt(80)
      (Seq.fill(n)(rnd.nextDouble() * math.pow(10, rnd.nextInt(8) - 4) - 0.5),
        Seq.fill(n)(rnd.nextDouble() - 0.5))
    } ++ Seq(
      (Seq.empty[Double], Seq.empty[Double]),
      (Seq(1.0, 2.0), Seq(3.0)),                       // length mismatch -> null
      (Seq(Double.NaN, 1.0), Seq(1.0, 2.0)),           // NaN propagates
      (Seq(Double.PositiveInfinity), Seq(0.0)))        // inf * 0 = NaN
    val df = rows.toDF("a", "b")
    def hof = aggregate(zip_with(col("a"), col("b"),
      (x, y) => x * y), lit(0.0), (acc, e) => acc + e)
    val got = df.select(dotD(col("a"), col("b")).as("v"), hof.as("w")).collect()
    got.zip(rows).foreach { case (r, in) =>
      val (v, w) = (r.get(0), r.get(1))
      assert(v == w ||
        (v != null && w != null &&
          java.lang.Double.doubleToLongBits(v.asInstanceOf[Double]) ==
          java.lang.Double.doubleToLongBits(w.asInstanceOf[Double])),
        s"input $in: kernel=$v hof=$w")
    }
  }

  test("dotFD matches the float-widening zip_with fold bit-for-bit") {
    import org.apache.spark.sql.functions.{aggregate, zip_with}
    val rnd = new scala.util.Random(192L)
    val rows = (1 to 200).map { _ =>
      val n = rnd.nextInt(70)
      (Seq.fill(n)(rnd.nextFloat() * 100 - 50),
        Seq.fill(n)(rnd.nextDouble() - 0.5))
    } ++ Seq((Seq.empty[Float], Seq.empty[Double]),
      (Seq(1.0f), Seq(1.0, 2.0)))
    val df = rows.toDF("a", "b")
    def hof = aggregate(zip_with(col("a"), col("b"),
      (x, y) => x * y), lit(0.0), (acc, e) => acc + e)
    df.select(dotFD(col("a"), col("b")).as("v"), hof.as("w")).collect()
      .zip(rows).foreach { case (r, in) =>
        assert(r.get(0) == r.get(1), s"input $in: kernel=${r.get(0)} hof=${r.get(1)}")
      }
  }

  test("zipEqCount matches the IF-equality zip_with fold") {
    import org.apache.spark.sql.functions.expr
    val rnd = new scala.util.Random(193L)
    val rows = (1 to 200).map { _ =>
      val n = rnd.nextInt(50)
      (Seq.fill(n)(rnd.nextInt(4).toLong), Seq.fill(n)(rnd.nextInt(4).toLong))
    } ++ Seq(
      (Seq.empty[Long], Seq.empty[Long]),
      (Seq(1L, 2L, 3L), Seq(1L)),          // padded positions count 0
      (Seq(7L), Seq(7L, 7L, 7L)))
    val df = rows.toDF("a", "b")
    val got = df.select(zipEqCount(col("a"), col("b")).as("v"),
      expr("aggregate(zip_with(a, b, (x, y) -> IF(x = y, 1, 0)), 0, (acc, v) -> acc + v)").as("w"))
      .collect()
    got.zip(rows).foreach { case (r, in) =>
      assert(r.get(0) == r.get(1), s"input $in: kernel=${r.get(0)} hof=${r.get(1)}")
    }
  }

  // ------------------------------------------------------------------
  // r20 fold/transform kernel parity pins: every kernel must equal the
  // HOF expression it replaced BIT-FOR-BIT (same rows through one
  // projection, so the kernel runs codegen'd beside the interpreted HOF).

  /** Normalize to a bit-comparable shape: doubles/floats to their raw
    * bits (so NaN == NaN and -0.0 != 0.0), sequences element-wise. */
  private def bits(v: Any): Any = v match {
    case d: Double => java.lang.Double.doubleToLongBits(d)
    case f: Float => java.lang.Float.floatToIntBits(f)
    case s: scala.collection.Seq[_] => s.map(bits)
    case b: Array[Byte] => b.toSeq
    case r: org.apache.spark.sql.Row => r.toSeq.map(bits)
    case other => other
  }

  /** Bit-exact comparison for nullable doubles / double arrays. */
  private def bitEq(v: Any, w: Any): Boolean = bits(v) == bits(w)

  test("a04 quantization kernels match their aggregate/transform HOF forms bit-for-bit") {
    import org.apache.spark.sql.functions.expr
    val rnd = new scala.util.Random(201L)
    val rows: Seq[Seq[Option[Float]]] = (1 to 200).map { _ =>
      val n = rnd.nextInt(70)
      Seq.fill(n)(if (rnd.nextInt(40) == 0) None
        else Some(rnd.nextFloat() * math.pow(10, rnd.nextInt(6) - 3).toFloat - 0.5f))
    } ++ Seq(
      Seq.empty[Option[Float]],
      Seq(Some(Float.NaN), Some(1.0f)),                  // NaN sticks in the max
      Seq(Some(Float.PositiveInfinity), Some(-2.0f)),
      Seq(None, None),                                   // all-null: max stays 0
      Seq(Some(-0.0f), Some(0.0f)))
    val df = rows.map(Tuple1(_)).toDF("a")
      .withColumn("s", (greatest(maxAbsF(col("a")), lit(1e-12)) / 127.0))
    val hofMax = expr(
      "aggregate(a, CAST(0 AS DOUBLE), (m, x) -> greatest(m, abs(CAST(x AS DOUBLE))))")
    val hofQ = expr(
      "transform(a, x -> CAST(floor(CAST(x AS DOUBLE) / s + 0.5D) AS BIGINT))")
    val got = df.select(
      maxAbsF(col("a")).as("km"), hofMax.as("hm"),
      quantizeI8(col("a"), col("s")).as("kq"), hofQ.as("hq")).collect()
    got.zip(rows).foreach { case (r, in) =>
      assert(bitEq(r.get(0), r.get(1)), s"maxAbs $in: kernel=${r.get(0)} hof=${r.get(1)}")
      assert(r.get(2) == r.get(3), s"quantize $in: kernel=${r.get(2)} hof=${r.get(3)}")
    }
    // the q-side folds + the error fold + dequantize, over the kernel's q
    val dq = df.withColumn("q", quantizeI8(col("a"), col("s")))
    val got2 = dq.select(
      longArraySum(col("q"), abs = false).as("ks"),
      expr("aggregate(q, CAST(0 AS BIGINT), (acc, v) -> acc + v)").as("hs"),
      longArraySum(col("q"), abs = true).as("ka"),
      expr("aggregate(q, CAST(0 AS BIGINT), (acc, v) -> acc + abs(v))").as("ha"),
      quantErrSq(col("a"), col("q"), col("s")).as("ke"),
      expr("aggregate(zip_with(a, q, (x, v) -> pow(CAST(x AS DOUBLE) - v * s, 2)), 0D, (acc, e) -> acc + e)").as("he"),
      scaleLongs(col("q"), col("s")).as("kd"),
      expr("transform(q, v -> v * s)").as("hd"),
      floatsToDoubles(col("a")).as("kw"),
      expr("transform(a, x -> CAST(x AS DOUBLE))").as("hw")).collect()
    got2.zip(rows).foreach { case (r, in) =>
      assert(r.get(0) == r.get(1), s"sum $in: kernel=${r.get(0)} hof=${r.get(1)}")
      assert(r.get(2) == r.get(3), s"absSum $in: kernel=${r.get(2)} hof=${r.get(3)}")
      assert(bitEq(r.get(4), r.get(5)), s"errSq $in: kernel=${r.get(4)} hof=${r.get(5)}")
      assert(bitEq(r.get(6), r.get(7)), s"dequant $in: kernel=${r.get(6)} hof=${r.get(7)}")
      assert(bitEq(r.get(8), r.get(9)), s"widen $in: kernel=${r.get(8)} hof=${r.get(9)}")
    }
    // length mismatch in the error fold -> NULL (zip_with pads with nulls)
    val mm = Seq((Seq(1.0f, 2.0f), Seq(1L), 0.5)).toDF("a", "q", "s")
    assert(mm.select(quantErrSq(col("a"), col("q"), col("s"))).head().isNullAt(0))
  }

  test("shingles3 / minhashWords3 / winnowWords3 / chunkLongs match the HOF forms") {
    import org.apache.spark.sql.functions.expr
    val rnd = new scala.util.Random(202L)
    // n >= 3 throughout: under ANSI (the session default since Spark 4)
    // the HOF reference's w[i+2] ERRORS past the end, so the composed
    // form is only DEFINED for n >= 3 — which is also the only shape the
    // corpus contains (19 rounds of green oracles under ANSI prove no
    // sub-3-word doc exists). The kernels are strictly more defined:
    // their short-array behavior (the LEGACY partial gram) is pinned
    // separately below against hand-computed values.
    val words: Seq[Seq[Option[String]]] = (1 to 150).map { _ =>
      val n = 3 + rnd.nextInt(22)
      Seq.fill(n)(if (rnd.nextInt(30) == 0) None
        else if (rnd.nextInt(20) == 0) Some("")
        else Some("w" + rnd.nextInt(12)))
    } ++ Seq(
      Seq(Some("one"), Some("two"), Some("three")),
      Seq(None, Some("x"), None, Some("y")))
    val df = words.map(Tuple1(_)).toDF("w")
    val hofSh = expr(
      "transform(sequence(0, greatest(size(w) - 3, 0)), i -> concat_ws(' ', w[i], w[i+1], w[i+2]))")
    val got = df.select(
      shingles3(col("w")).as("ks"), hofSh.as("hs"),
      minhashWords3(col("w"), 128).as("km"),
      minhashSig(hofSh, 128).as("hm"),
      winnowWords3(col("w"), 4).as("kw"),
      winnowFps(hofSh, 4).as("hw"),
      winnowWords3(col("w"), 2).as("kw2"),
      winnowFps(hofSh, 2).as("hw2")).collect()
    got.zip(words).foreach { case (r, in) =>
      assert(r.get(0) == r.get(1), s"shingles $in: kernel=${r.get(0)} hof=${r.get(1)}")
      assert(r.get(2) == r.get(3), s"minhash $in")
      assert(r.get(4) == r.get(5), s"winnow4 $in: kernel=${r.get(4)} hof=${r.get(5)}")
      assert(r.get(6) == r.get(7), s"winnow2 $in: kernel=${r.get(6)} hof=${r.get(7)}")
    }
    // band split parity on the real signature shape + partial-chunk edges
    val sigs = Seq(
      (1 to 128).map(_.toLong),
      (1 to 12).map(_.toLong),    // partial trailing chunk
      Seq.empty[Long])
    val sdf = sigs.map(Tuple1(_)).toDF("sig")
    val hofBands = expr(
      "transform(sequence(0, CAST(ceil(size(sig) / 8.0) AS INT) - 1), b -> slice(sig, b * 8 + 1, 8))")
    sdf.select(chunkLongs(col("sig"), 8).as("k"), hofBands.as("h")).collect()
      .zip(sigs).foreach { case (r, in) =>
        if (in.nonEmpty)
          assert(r.get(0) == r.get(1), s"chunks $in: kernel=${r.get(0)} hof=${r.get(1)}")
        else assert(r.getSeq[Any](0).isEmpty) // sequence(0,-1) descends; kernel is empty
      }
    // bigram pairs / bigram strings / word grams vs their lambda HOFs
    // (size >= 2 resp. >= k, the callers' guards — the HOF's
    // sequence(0, -1) descends below them)
    val wdf = words.filter(_.size >= 2).map(Tuple1(_)).toDF("w")
    wdf.select(bigramPairs(col("w")).as("k"),
      expr("transform(sequence(0, size(w) - 2), i -> struct(w[i] AS w1, w[i+1] AS w2))").as("h"),
      bigramStrings(col("w")).as("ks"),
      expr("transform(sequence(0, size(w) - 2), i -> concat(w[i], ' ', w[i+1]))").as("hs"))
      .collect().foreach { r =>
        assert(r.get(0) == r.get(1), s"bigrams: kernel=${r.get(0)} hof=${r.get(1)}")
        assert(r.get(2) == r.get(3), s"bigramStrings: kernel=${r.get(2)} hof=${r.get(3)}")
      }
    val gdf = words.filter(_.size >= 8).map(Tuple1(_)).toDF("w")
    gdf.select(wordGrams(col("w"), 8).as("k"),
      expr("transform(sequence(0, size(w) - 8), i -> concat_ws(' ', slice(w, i + 1, 8)))").as("h"))
      .collect().foreach { r =>
        assert(r.get(0) == r.get(1), s"wordGrams: kernel=${r.get(0)} hof=${r.get(1)}")
      }
    // 16-bit pigeonhole blocks vs the shiftright lambda, incl. negatives
    val xs = Seq(0L, -1L, Long.MinValue, Long.MaxValue, 0x123456789abcdef0L,
      -4611686018427387904L)
    xs.map(Tuple1(_)).toDF("x")
      .select(blocks16(col("x")).as("k"),
        expr("transform(sequence(0, 3), b -> shiftright(x, b * 16) & 65535)").as("h"))
      .collect().zip(xs).foreach { case (r, in) =>
        assert(r.get(0) == r.get(1), s"blocks16($in): kernel=${r.get(0)} hof=${r.get(1)}")
      }
    // short-array (n < 3) behavior, hand-computed: ONE partial gram of
    // the surviving words (the LEGACY-HOF shape the scaladocs describe);
    // winnow over < w shingles is empty
    val short = Seq(
      Seq.empty[String], Seq("one"), Seq("one", "two"))
      .map(Tuple1(_)).toDF("w")
      .select(shingles3(col("w")).as("s"), winnowWords3(col("w"), 4).as("f"))
      .collect()
    assert(short.map(_.getSeq[String](0)).toSeq ==
      Seq(Seq(""), Seq("one"), Seq("one two")))
    assert(short.forall(_.getSeq[Long](1).isEmpty))
  }

  test("every kernel table row: generated code and interpreted eval agree bit-for-bit") {
    import org.apache.spark.sql.{GraftBridge, Row}
    import org.apache.spark.sql.types._
    // shared inputs per declared column type: nulls, empty arrays, NaN,
    // -0.0, null elements, and text the string kernels parse
    val samples: Map[DataType, Seq[Any]] = Map(
      DoubleType -> Seq(null, 0.0, -0.0, Double.NaN, 0.5, 2.25, -37.5),
      LongType -> Seq(null, 0L, -1L, Long.MinValue, 0x123456789abcdefL, 42L),
      StringType -> Seq(null, "", "a b", "Cafe\u0301 \ufb01le", "to be or not",
        "POLYGON ((0 0, 4 0, 4 3, 0 3, 0 0))", """{"a": "x", "b": [1]}""", "$.a", "a"),
      BinaryType -> Seq(null, Array[Byte](1), Array[Byte](0, -1, 7, 9)),
      ArrayType(FloatType) -> Seq(null, Seq(), Seq(1.5f, -0.0f, 3f),
        Seq(Float.NaN, 2f, null), Seq(3f, 4f)),
      ArrayType(DoubleType) -> Seq(null, Seq(), Seq(0.0, 4.0, 4.0, 0.0, 0.0),
        Seq(0.0, 0.0, 3.0, 3.0, 0.0), Seq(-0.0, Double.NaN, 1.0), Seq(1.0, null, 2.0)),
      ArrayType(LongType) -> Seq(null, Seq(), Seq(1L, 2L, 3L), Seq(5L, null, 7L),
        Seq(0L, 9L, 2L, 2L)),
      ArrayType(StringType) -> Seq(null, Seq(), Seq("a"), Seq("a", "b", null, ""),
        Seq("to", "be", "or", "not", "to", "be")))
    val params = Map[String, Any]("k" -> 4, "w" -> 2, "seed" -> 7L, "bits" -> 6,
      "zoom" -> 5, "form" -> "NFKC", "numHashes" -> 3, "lang" -> "en", "n" -> 2,
      "abs" -> true, "size" -> 2)
    def collect(df: org.apache.spark.sql.DataFrame, confs: (String, String)*): Seq[Any] = {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      try df.collect().toSeq.map(r => bits(r.get(0)))
      finally confs.foreach { case (k, _) => spark.conf.unset(k) }
    }
    // arguments the shared strings would rarely make valid: a JSON path
    // (refused outright when malformed) and a WKT geometry tag
    val overrides = Map[(String, Int), Seq[Any]](
      ("json_extract_scalar", 1) -> Seq(null, "$.a", "$.b", "$"),
      ("st_as_text", 0) -> Seq(null, "POINT", "LINESTRING", "POLYGON"))
    graft.functions.KernelTable.all.foreach { k =>
      val rnd = new scala.util.Random(k.name.hashCode)
      val rows = Seq.fill(64)(Row.fromSeq(k.inputs.zipWithIndex.map { case (t, i) =>
        val s = overrides.getOrElse((k.name, i), samples(t))
        s(rnd.nextInt(s.size))
      }))
      val schema = StructType(k.inputs.zipWithIndex.map { case (t, i) => StructField(s"c$i", t) })
      // an RDD source: a local relation would be evaluated by the optimizer
      val in = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
      val df = in.select(GraftBridge.column(k.call(
        in.columns.toSeq.map(c => GraftBridge.expression(in(c))),
        k.params.map(p => params(p.name)))))
      val generated = collect(df, "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
        "spark.sql.codegen.fallback" -> "false")
      val interpreted = collect(df, "spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
        "spark.sql.codegen.wholeStage" -> "false")
      assert(generated == interpreted, s"${k.name}: codegen and interpreted disagree")
      assert(interpreted.exists(_ != null), s"${k.name}: the shared inputs never reach the kernel")
    }
  }

  test("kernel type guard: a mistyped argument is widened exactly or fails analysis by name") {
    // array<int> read after a shuffle: widened to array<double> (the
    // unguarded kernel read int bits as doubles: 0.0 for the unit square)
    val area = spark.sql(
      """SELECT st_area(xs, ys) AS a FROM (
           SELECT * FROM VALUES (array(0, 1, 1, 0, 0), array(0, 0, 1, 1, 0)) AS t(xs, ys)
           DISTRIBUTE BY xs)""").head().getDouble(0)
    assert(area == 1.0)
    // parquet array<double> into the float kernel: no exact widening
    // exists, so analysis refuses it instead of the scan failing mid-task
    val dir = java.nio.file.Files.createTempDirectory("guard").resolve("v").toString
    Seq(Tuple1(Seq(1.0, 0.0))).toDF("v").write.parquet(dir)
    spark.read.parquet(dir).createOrReplaceTempView("guard_v")
    val err = intercept[org.apache.spark.sql.AnalysisException](
      spark.sql("SELECT cosine_sim(v, v) FROM guard_v").collect())
    assert(err.getMessage.contains("cosine_sim requires (array<float>, array<float>)"),
      err.getMessage)
    // int literals widen to bigint; an untyped NULL stays a NULL
    assert(spark.sql("SELECT hamming64(1, 3)").head().getInt(0) == 1)
    assert(spark.sql("SELECT hamming64(NULL, 3)").head().isNullAt(0))
    // INT and DECIMAL coordinates widen to double, also when the call is
    // constant-folded through interpreted eval
    val geo = spark.sql("""SELECT st_intersects(0, 0, 10, 10, 0, 10, 10, 0) AS hit,
      st_distance(5, 3, 0, 0, 10, 0.5) AS d""").head()
    assert(geo.getBoolean(0))
    assert(geo.getDouble(1) == graft.functions.Kernels.pointSegmentDist(5, 3, 0, 0, 10, 0.5))
  }
}
