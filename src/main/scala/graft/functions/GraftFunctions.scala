package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.{Abs, Add, Cast, DateFormatClass, DatePart, DayOfYear, Divide, EqualTo, Expression, ExpressionInfo, Floor, GetJsonObject, If, LastDay, Literal, Multiply, ParseUrl, RLike, RegExpExtract, Signum, StringLocate, TypeOf, UnixMicros, WeekDay, WeekOfYear}
import org.apache.spark.sql.catalyst.expressions.aggregate.{First, HyperLogLogPlusPlus}
import org.apache.spark.sql.catalyst.parser.{ParameterContext, ParserInterface}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.{DataType, DateType, DoubleType, IntegerType, LongType, StringType, StructType, TimestampType}
import org.apache.spark.sql.GraftBridge

import graft.functions.{KernelTable => K}
import graft.functions.Param.{literalDouble, literalInt}

/**
 * Typed Column facade over the graft native expressions — usable directly
 * from the DataFrame API without any registration, mirroring
 * `org.apache.spark.sql.functions`.
 */
object GraftFunctions {
  private def c(e: Expression): Column = GraftBridge.column(e)
  private def e(col: Column): Expression = GraftBridge.expression(col)
  private def call(k: Kernel, cols: Column*): Column = c(k.call(cols.map(e)))
  private def callWith(k: Kernel, params: Any*)(cols: Column*): Column =
    c(k.call(cols.map(e), params))

  /** Cosine similarity of two array<float> embedding columns. */
  def cosineSim(a: Column, b: Column): Column = call(K.cosineSim, a, b)

  /** Exact sequential-fold dot product of two array<double> columns —
    * bit-identical to aggregate(zip_with(a, b, _*_), 0D, _+_) without
    * the CodegenFallback HOF cost. */
  def dotD(a: Column, b: Column): Column = call(K.dotD, a, b)

  /** Float-corpus dot against a double array (the hyperplane kernel):
    * exact per-element float->double widening, then the same fold. */
  def dotFD(a: Column, b: Column): Column = call(K.dotFD, a, b)

  /** Equal-position count of two array<bigint> signatures — the
    * zip_with/IF/aggregate agreement fold as one codegen call. */
  def zipEqCount(a: Column, b: Column): Column = call(K.zipEqCount, a, b)

  /** k-permutation MinHash signature (array<bigint>) of an array<string>. */
  def minhashSig(shingles: Column, k: Int): Column = callWith(K.minhashSig, k)(shingles)

  /** 64-bit SimHash of an array<string> token column. */
  def simhash64(tokens: Column): Column = call(K.simhash64, tokens)

  /** Winnowing fingerprint set: distinct w-window minima of per-shingle
    * hash64 values (MOSS), one JVM pass per row. */
  def winnowFps(shingles: Column, w: Int): Column = callWith(K.winnowFps, w)(shingles)

  /** Per-position k-word shingle hash64s (array<bigint>) of a word-array
    * column — hash64(concat_ws(' ', slice)) without the string build. */
  def shingleHash64(words: Column, k: Int): Column = callWith(K.shingleHash64, k)(words)

  /** a04 scale fold: max over elements of abs(double(x)) — the
    * aggregate/greatest HOF as one codegen call. */
  def maxAbsF(a: Column): Column = call(K.maxAbsF, a)

  /** a04 pinned symmetric int8 quantization: per element
    * CAST(floor(double(x)/scale + 0.5) AS BIGINT), nulls preserved. */
  def quantizeI8(a: Column, scale: Column): Column =
    call(K.quantizeI8, a, scale)

  /** Sequential sum (abs = false) / abs-sum (abs = true) fold over an
    * array<bigint>; NULL if any element is null (the HOF semantics). */
  def longArraySum(q: Column, abs: Boolean): Column =
    callWith(K.longArraySum, abs)(q)

  /** a04 reconstruction-error fold: sum of pow(double(x) - v*scale, 2)
    * over zipped (array<float>, array<bigint>) — one codegen call. */
  def quantErrSq(a: Column, q: Column, scale: Column): Column =
    call(K.quantErrSq, a, q, scale)

  /** Dequantization map: per element v * scale (array<bigint> ->
    * array<double>), nulls preserved. */
  def scaleLongs(q: Column, scale: Column): Column =
    call(K.scaleLongs, q, scale)

  /** Exact float->double widening of an array<float> column — the
    * transform/CAST HOF as one codegen call. */
  def floatsToDoubles(a: Column): Column = call(K.floatsToDoubles, a)

  /** The canonical 3-word shingle array of a word-array column — the
    * transform/concat_ws HOF as one codegen call. */
  def shingles3(words: Column): Column = call(K.shingles3, words)

  /** Fused minhash(shingles3(words), k): the signature without ever
    * building the shingle strings. */
  def minhashWords3(words: Column, k: Int): Column =
    callWith(K.minhashWords3, k)(words)

  /** Fused winnow(shingles3(words), w), w >= 2: fingerprints without
    * ever building the shingle strings. */
  def winnowWords3(words: Column, w: Int): Column =
    callWith(K.winnowWords3, w)(words)

  /** Consecutive fixed-size chunks of an array<bigint> column — the
    * minhash band-key transform/slice HOF as one codegen call. */
  def chunkLongs(a: Column, size: Int): Column =
    callWith(K.chunkLongs, size)(a)

  /** Adjacent-word pair structs (w1, w2) of a word-array column — the
    * bigram transform/struct HOF as one codegen call (callers filter
    * size >= 2 first, as with the HOF form). */
  def bigramPairs(w: Column): Column = call(K.bigramPairs, w)

  /** Adjacent-word bigram STRINGS ("w1 w2", concat semantics: null word
    * nulls the bigram) — t06's transform/concat HOF as one call. */
  def bigramStrings(w: Column): Column = call(K.bigramStrings, w)

  /** The four 16-bit pigeonhole blocks of a 64-bit signature — the
    * d03/m07 transform/shiftright HOF as one codegen call. */
  def blocks16(x: Column): Column = call(K.blocks16, x)

  /** Full k-word gram strings of a word-array column (concat_ws
    * semantics; callers filter size >= k) — the contamination checks'
    * transform/slice HOF as one codegen call. */
  def wordGrams(w: Column, k: Int): Column = callWith(K.wordGrams, k)(w)

  /** Normalized rolling-hash fingerprint (bigint) of a string column. */
  def fingerprint64(text: Column): Column = call(K.fingerprint64, text)

  /** Raw FNV-1a64+splitmix64 hash of a string column (no normalization).
    * Compose with bit_xor for Presto's order-independent checksum(). */
  def hash64(text: Column, seed: Long = 0L): Column = callWith(K.hash64, seed)(text)

  /** Fused hashed-ngram feature buckets (array<bigint>) of a token-array
    * column: "u "-marked unigrams + "b "-marked bigrams through hash64
    * into 2^bits buckets, one JVM pass per row (the t25 DSIR
    * featurizer). */
  def hashedNgramBuckets(words: Column, seed: Long, bits: Int): Column =
    callWith(K.hashedNgramBuckets, seed, bits)(words)

  /** Fused hashed-linear classifier score
    * (struct<n_feat, score_sum>) of a token-array column — the t23
    * fastText/CCNet-shaped quality filter's per-row kernel. */
  def hashedNgramScore(words: Column, seed: Long): Column =
    callWith(K.hashedNgramScore, seed)(words)

  /** Hamming distance between two bigint bit-vectors. */
  def hamming64(a: Column, b: Column): Column = call(K.hamming64, a, b)

  /** Geometric mean aggregate over positive values (Presto
    * geometric_mean; Spark lacks it). Algebraic buffer — partial
    * aggregation and codegen for free. */
  def geometricMean(x: Column): Column =
    c(GeometricMean(e(x)).toAggregateExpression())

  /** Great-circle distance in km between two (lat, lon) points
    * (Presto great_circle_distance). */
  def haversineKm(lat1: Column, lon1: Column, lat2: Column, lon2: Column): Column =
    call(K.haversineKm, lat1.cast("double"), lon1.cast("double"),
      lat2.cast("double"), lon2.cast("double"))

  /** Ray-casting point-in-closed-ring test (Presto ST_Contains,
    * point-in-ring case); xs/ys are the ring's vertex coordinate
    * arrays with the first vertex repeated last. */
  def pointInPolygon(px: Column, py: Column, xs: Column, ys: Column): Column =
    call(K.pointInPolygon, px.cast("double"), py.cast("double"), xs, ys)

  /** Bing-maps quadkey of the tile containing (lat, lon) at zoom 1..23
    * (Presto bing_tile_at + bing_tile_quadkey): the geo join/rollup key
    * whose prefix IS the parent tile at any coarser zoom. */
  def bingTileQuadkey(lat: Column, lon: Column, zoom: Int): Column =
    callWith(K.bingTileQuadkey, zoom)(lat.cast("double"), lon.cast("double"))

  /** Bloom-filter aggregate: a string column reduced to a constant
    * `numBits/8`-byte membership sketch (map-side-combined byte-OR
    * merge). Pair with [[bloomMightContain]] as a prefilter, then
    * exact-confirm — false positives never reach a confirmed result. */
  def bloomBuild(x: Column, numBits: Int, numHashes: Int): Column =
    c(BloomFilterBuild(e(x), numBits, numHashes).toAggregateExpression())

  /** Probe a [[bloomBuild]] filter: false = definitely absent. */
  def bloomMightContain(bloom: Column, x: Column, numHashes: Int): Column =
    callWith(K.bloomMightContain, numHashes)(bloom, x)

  /** Unicode normalization (Presto normalize(string, form)); form is one
    * of NFC | NFD | NFKC | NFKD, default NFC like Presto's one-arg form.
    * Codegen-native with an allocation-free already-normalized fast
    * path — cheap enough to run as the first cleaning step of a corpus
    * pipeline. */
  def normalizeUnicode(text: Column, form: String = "NFC"): Column =
    callWith(K.normalizeUnicode, form)(text)

  /** Histogram-sketch aggregate over 1-based bin indices (Presto
    * qdigest_agg parity for the graft deterministic sketch): a dense
    * array<bigint> of bin counts, constant-sized per group. */
  def quantileSketchAgg(bin: Column): Column =
    c(QuantileSketchAgg(e(bin)).toAggregateExpression())

  /** Merge already-reduced sketches by elementwise addition (Presto
    * merge(qdigest) parity) — the rollup level of a two-level percentile
    * topology, never re-touching the corpus. */
  def quantileSketchMerge(sketch: Column): Column =
    c(QuantileSketchMerge(e(sketch)).toAggregateExpression())

  /** The sketch's CDF read: smallest 1-based bin whose cumulative count
    * reaches ceil(total * p); `element_at(edges, ...)` turns it into the
    * quantile VALUE against the shared edge table. */
  def sketchQuantileBin(sketch: Column, p: Column): Column =
    call(K.sketchQuantileBin, sketch, p.cast("double"))

  /** Histogram bin of x against a sorted snapped edge table: count of
    * edges <= x (clamped >= 1), by codegen binary search — the exact
    * definitional bin decision the quantile-sketch topologies share
    * with their oracles. */
  def edgeBin(edges: Column, x: Column): Column =
    call(K.edgeBin, edges, x.cast("double"))

  /** Closed-segment intersection (Presto ST_Intersects, segment-segment
    * core): true on proper crossings, endpoint touches, and collinear
    * overlap. Pair with a bounding-box prefilter; at scale the pruning
    * form is a tile join key ([[bingTileQuadkey]]). */
  def stIntersects(x1: Column, y1: Column, x2: Column, y2: Column,
                   x3: Column, y3: Column, x4: Column, y4: Column): Column =
    call(K.stIntersects, x1, y1, x2, y2, x3, y3, x4, y4)

  /** Distance from a point to a closed segment (Presto ST_Distance,
    * point-to-segment core). */
  def stDistance(px: Column, py: Column, x1: Column, y1: Column,
                 x2: Column, y2: Column): Column =
    call(K.stDistance, px, py, x1, y1, x2, y2)

  /** Shoelace area of a closed ring (Presto ST_Area, polygon-shell
    * case); xs/ys are the ring's vertex coordinate arrays with the
    * first vertex repeated last, as in [[pointInPolygon]]. */
  def stArea(xs: Column, ys: Column): Column = call(K.stArea, xs, ys)

  /** Perimeter of a closed ring (Presto ST_Length/ST_Perimeter core). */
  def stLength(xs: Column, ys: Column): Column = call(K.stLength, xs, ys)

  /** X coordinate of the area-weighted polygon centroid (Presto
    * ST_X(ST_Centroid(g))); degenerate rings degrade to the vertex
    * mean, the JTS line/point fallback. */
  def stCentroidX(xs: Column, ys: Column): Column = call(K.stCentroidX, xs, ys)

  /** Y coordinate of the area-weighted polygon centroid. */
  def stCentroidY(xs: Column, ys: Column): Column = call(K.stCentroidY, xs, ys)

  /** Parse WKT text (Presto ST_GeometryFromText; POINT / LINESTRING /
    * single-ring POLYGON subset) into struct(gtype, xs, ys) — the
    * coordinate-array form every ST_* kernel here consumes. Null on
    * malformed input (total-function contract; see
    * [[graft.functions.Kernels.wktParse]]). */
  def stGeometryFromText(wkt: Column): Column = call(K.stGeometryFromText, wkt)

  /** Format (gtype, xs, ys) back to WKT (Presto ST_AsText) — the exact
    * inverse of [[stGeometryFromText]]. */
  def stAsText(gtype: Column, xs: Column, ys: Column): Column =
    call(K.stAsText, gtype, xs, ys)

  /** Shoelace area of a WKT POLYGON, holes subtracted (Presto ST_Area
    * over a multi-ring polygon); null on malformed text. */
  def stAreaWkt(text: Column): Column = call(K.stAreaWkt, text)

  /** Point containment in a WKT POLYGON honoring holes (Presto
    * ST_Contains, polygon-with-interior-rings case); null on malformed
    * text. */
  def stContainsWkt(text: Column, x: Column, y: Column): Column =
    call(K.stContainsWkt, text, x.cast("double"), y.cast("double"))

  /** Hole count of a WKT POLYGON (Presto ST_NumInteriorRing; null for
    * MULTIPOLYGON — Presto defines it on polygons only). */
  def stNumInteriorRings(text: Column): Column =
    call(K.stNumInteriorRings, text)

  /** Part count of a WKT POLYGON / MULTIPOLYGON (Presto
    * ST_NumGeometries). */
  def stNumGeometries(text: Column): Column = call(K.stNumGeometries, text)

  /** The graft functions' SQL names: every named [[KernelTable]] row,
    * then the aggregates. */
  private val coreBuilders: Seq[(String, Seq[Expression] => Expression)] =
    K.all.flatMap(k => k.sqlName.map(_ -> (k.sqlBuilder _))) ++ Seq(
      "geometric_mean" -> (args => GeometricMean(args.head).toAggregateExpression()),
      "bloom_build" -> (args => BloomFilterBuild(args(0),
        literalInt("bloom_build", args(1)),
        literalInt("bloom_build", args(2))).toAggregateExpression()),
      "quantile_sketch_agg" -> (args => QuantileSketchAgg(args.head).toAggregateExpression()),
      "quantile_sketch_merge" -> (args => QuantileSketchMerge(args.head).toAggregateExpression()))

  /** Presto-dialect spellings (r16 verdict task 2): the reference UX is a
    * Presto prompt (reference presto-mgr.py:205 hands the user a Presto
    * CLI), and literal Presto SQL names whose SEMANTICS all exist here
    * should not fail on spelling. Every alias is a thin composition of
    * Spark catalyst expressions — no new kernels, codegen end-to-end.
    * Spark-builtin collisions (log2, from_unixtime, position, strpos's
    * absence…) are NOT overridden: install()/GraftExtensions skip names
    * the registry already serves, so Spark semantics win where the two
    * dialects share a name (from_unixtime returns Spark's STRING, not
    * Presto's timestamp — CAST(... AS TIMESTAMP) recovers it; pinned in
    * CliSpec). */
  private[functions] val prestoDialect: Seq[(String, Seq[Expression] => Expression)] = Seq(
    // approx_distinct(x[, e]) — Presto's HLL cardinality (default max
    // standard error 0.023) over Spark's HLL++ aggregate. Exact in
    // sparse mode (small cardinalities), approximate at scale, like
    // Presto's.
    "approx_distinct" -> (args => HyperLogLogPlusPlus(args.head,
      if (args.length > 1) literalDouble("approx_distinct", args(1)) else 0.023)
      .toAggregateExpression()),
    "url_extract_host" -> (args => ParseUrl(Seq(args.head, Literal("HOST")))),
    "url_extract_path" -> (args => ParseUrl(Seq(args.head, Literal("PATH")))),
    "url_extract_protocol" -> (args => ParseUrl(Seq(args.head, Literal("PROTOCOL")))),
    "url_extract_query" -> (args => ParseUrl(Seq(args.head, Literal("QUERY")))),
    "url_extract_fragment" -> (args => ParseUrl(Seq(args.head, Literal("REF")))),
    // Spark's parse_url has no PORT key — take the :port suffix of the
    // authority (never confused with a path/query colon), BIGINT like
    // Presto, NULL when absent
    "url_extract_port" -> (args => {
      val port = RegExpExtract(ParseUrl(Seq(args.head, Literal("AUTHORITY"))),
        Literal(":([0-9]+)$"), Literal(1))
      If(EqualTo(port, Literal("")), Literal(null, LongType), Cast(port, LongType))
    }),
    "url_extract_parameter" -> (args =>
      ParseUrl(Seq(args(0), Literal("QUERY"), args(1)))),
    // to_unixtime returns DOUBLE seconds with the fractional part
    // (Spark's unix_timestamp truncates to whole seconds)
    "to_unixtime" -> (args => Divide(
      Cast(UnixMicros(Cast(args.head, TimestampType)), DoubleType),
      Literal(1e6))),
    // strpos/index: 1-based position, 0 if absent, BIGINT like Presto
    // (note swapped argument order vs Spark's locate(substr, str))
    "strpos" -> (args => Cast(StringLocate(args(1), args(0), Literal(1)), LongType)),
    "index" -> (args => Cast(StringLocate(args(1), args(0), Literal(1)), LongType)),
    // arbitrary: any non-null value of the group
    "arbitrary" -> (args => First(args.head, ignoreNulls = true)
      .toAggregateExpression()),
    // truncate(x[, n]): round toward zero (at scale n) — sign·floor(|x|·10ⁿ)/10ⁿ
    "truncate" -> (args => {
      val n = if (args.length > 1) literalInt("truncate", args(1)) else 0
      val pow = Literal(math.pow(10.0, n))
      val x = Cast(args.head, DoubleType)
      Multiply(Signum(x),
        Divide(Cast(Floor(Multiply(Abs(x), pow)), DoubleType), pow))
    }),
    // to_iso8601: Presto's 'T'-separated rendering with milliseconds for
    // timestamps, and the bare 'yyyy-MM-dd' for DATE inputs (Presto's
    // to_iso8601(date) — r17 ADVICE: the always-through-timestamp cast
    // rendered dates as midnight timestamps). The branch is on TypeOf,
    // which is foldable once resolved, so the optimizer constant-folds
    // the If away — no per-row dispatch survives into the plan.
    "to_iso8601" -> (args => If(
      EqualTo(TypeOf(args.head), Literal("date")),
      DateFormatClass(Cast(args.head, TimestampType), Literal("yyyy-MM-dd")),
      DateFormatClass(Cast(args.head, TimestampType),
        Literal("yyyy-MM-dd'T'HH:mm:ss.SSS")))),
    "from_iso8601_timestamp" -> (args => Cast(args.head, TimestampType)),
    "from_iso8601_date" -> (args => Cast(args.head, DateType)))

  /** Presto datetime spellings. The ISO field extracts return BIGINT
    * like Presto: day_of_week/dow 1=Monday per ISO (Spark's weekday+1),
    * week/week_of_year the ISO week, year_of_week/yow the ISO
    * week-based year, day_of_year/doy, and last_day_of_month.
    * (date_diff/date_add live in the session parser's dialect REWRITE —
    * see the note on the Seq below.) */
  private[functions] val prestoDatetime: Seq[(String, Seq[Expression] => Expression)] = {
    def dayOfWeek(args: Seq[Expression]): Expression =
      Cast(Add(WeekDay(Cast(args.head, DateType)), Literal(1)), LongType)
    def dayOfYear(args: Seq[Expression]): Expression =
      Cast(DayOfYear(Cast(args.head, DateType)), LongType)
    def week(args: Seq[Expression]): Expression =
      Cast(WeekOfYear(Cast(args.head, DateType)), LongType)
    def yearOfWeek(args: Seq[Expression]): Expression =
      Cast(DatePart.parseExtractField("YEAROFWEEK", Cast(args.head, DateType)), LongType)
    // date_diff/date_add are NOT here: Spark handles them in the GRAMMAR
    // (AstBuilder.visitTimestampdiff/-add — a registry builder never
    // sees the call), so Presto's quoted-unit spelling is served by
    // the dialect rewrite in GraftParser instead, landing
    // on Spark's own ChronoUnit full-elapsed-unit semantics — the same
    // periods Presto's Joda implementation counts.
    Seq(
      "day_of_week" -> (dayOfWeek _), "dow" -> (dayOfWeek _),
      "day_of_year" -> (dayOfYear _), "doy" -> (dayOfYear _),
      "week" -> (week _), "week_of_year" -> (week _),
      "year_of_week" -> (yearOfWeek _), "yow" -> (yearOfWeek _),
      "last_day_of_month" -> (args => LastDay(Cast(args.head, DateType))))
  }

  /** The one SQL surface (core kernels + Presto-dialect aliases),
    * consumed by BOTH [[install]] and [[GraftExtensions]]. */
  private[functions] val sqlBuilders: Seq[(String, Seq[Expression] => Expression)] =
    coreBuilders ++ prestoDialect ++ prestoDatetime

  /** The surface's names (the CLI's SHOW FUNCTIONS source tag). */
  private[graft] def sqlNames: Seq[String] = sqlBuilders.map(_._1)

  /** SQL registration (same names) for `spark.sql` users; idempotent —
    * an already-registered name is SKIPPED, not replaced (the builders
    * come from the one sqlBuilders table, so a re-register could only
    * install the identical function; skipping also silences the
    * per-function "replaced a previously registered function" WARN that
    * a repeated open()/install() otherwise prints — noise that competes
    * with the Bench metrics line inside the driver's bounded stdout
    * tail window). */
  def install(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    sqlBuilders.foreach { case (name, builder) =>
      val id = FunctionIdentifier(name)
      if (!reg.functionExists(id)) {
        reg.registerFunction(id, new ExpressionInfo("graft.functions", name), builder)
      }
    }
  }
}

/**
 * SparkSessionExtensions entry point:
 * `--conf spark.sql.extensions=graft.functions.GraftExtensions` makes the
 * graft function family, optimizer rules and Presto-dialect parser
 * available in every session of a deployment.
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectParser((session, delegate) => new GraftParser(session, delegate))
    ext.injectOptimizerRule(_ => graft.plans.SelfHammingRule)
    ext.injectOptimizerRule(_ => graft.plans.IntervalJoinRule)
    ext.injectOptimizerRule(_ => graft.plans.FastDecimalCastRule)
    // same builder table as install(): the two registration paths expose
    // one identical SQL surface by construction
    GraftFunctions.sqlBuilders.foreach { case (name, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("graft.functions", name),
        builder))
    }
  }
}

/**
 * The session's SQL parser. A statement that opens with one of graft's
 * verbs (SHOW STATS, PREPARE/EXECUTE, SET SESSION, EXPLAIN ANALYZE, ...;
 * the table is [[graft.GraftCli.verbPlan]]) becomes that verb's plan;
 * every other statement, every SELECT and WITH among them, is Spark's,
 * behind the Presto-dialect rewrite ([[graft.PrestoRewrite]]). Every
 * statement text a graft session parses (`spark.sql`, the CLI, hive-jdbc
 * statements) passes through `parsePlan`/`parsePlanWithParameters`, so
 * each door reads the same statements the same way. Spark 4.1's
 * `SparkSession.sql` calls `parsePlanWithParameters`, whose interface
 * default would forward to `parsePlan` and drop the parameters, so both
 * are overridden.
 *
 * `injectParser` builds one parser per session, so the session's
 * prepared statements live here. The thrift server gives each connection
 * its own session, or shares one under `singleSession`; the store is
 * concurrent for the shared case.
 *
 * Everything else passes through unchanged: `parseQuery` re-parses stored
 * view text, which is the already-rewritten statement, and
 * `parseExpression` keeps Spark's meaning for `expr()`, `selectExpr` and
 * `filter(String)` (0-based `arr[i]` included).
 */
class GraftParser(val session: SparkSession, delegate: ParserInterface) extends ParserInterface {
  /** Prepared-statement templates by lower-cased name. */
  private[graft] val prepared = new java.util.concurrent.ConcurrentHashMap[String, String]()

  override def parsePlan(sqlText: String): LogicalPlan =
    graft.GraftCli.verbPlan(this, sqlText).getOrElse(dialect(sqlText))
  override def parsePlanWithParameters(sqlText: String,
      context: ParameterContext): LogicalPlan = graft.GraftCli.verbPlan(this, sqlText)
    .getOrElse(dialect(sqlText, delegate.parsePlanWithParameters(_, context)))

  /** The dialect path alone: the Presto rewrite, then Spark's parser. A
    * prepared template is read here, never as a verb. */
  private[graft] def dialect(sqlText: String, read: String => LogicalPlan = delegate.parsePlan) =
    read(graft.PrestoRewrite(sqlText))

  override def parseQuery(sqlText: String): LogicalPlan = delegate.parseQuery(sqlText)
  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): DataType = delegate.parseDataType(sqlText)
}
