package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * graft's native Catalyst expressions.
 *
 * [[Kernels]] holds the per-row logic as static methods. Every scalar
 * function that is one Kernels call is a row of [[KernelTable]] and
 * expands to the one [[KernelCall]] scaffold: generated code makes a
 * single JIT-friendly static call per row (no boxing, no UDF
 * serialization) inside the whole-stage codegen span, and the row's input
 * types are enforced at analysis. The classes after the table carry logic
 * one call cannot: the aggregates and sketches ([[GeometricMean]],
 * [[BloomFilterBuild]], [[QuantileSketchAgg]], [[QuantileSketchMerge]]).
 */

/** Shared per-row kernels. Static so generated code can call them. */
object Kernels {
  /** 64-bit avalanche mix (splitmix64 finalizer) — stable across JVMs. */
  @inline def mix64(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Equal-position count over two long arrays — the zip_eq_count
    * fold ([[KernelTable.zipEqCount]]): common-prefix positions where both sides are non-null
    * and equal (the HOF form's padded/null positions contribute 0). */
  def zipEqCount(a: ArrayData, b: ArrayData): Int = {
    val n = math.min(a.numElements(), b.numElements())
    var c = 0
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i) && !b.isNullAt(i) && a.getLong(i) == b.getLong(i)) c += 1
      i += 1
    }
    c
  }

  /** [[Kernels.dotD]]'s float-left variant: float widens exactly to
    * double per element (zip_with's implicit cast), then the same fold. */
  def dotFD(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var s = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      s += a.getFloat(i).toDouble * b.getDouble(i)
      i += 1
    }
    java.lang.Double.valueOf(s)
  }

  /** Sequential left-fold dot product over two double arrays — the
    * bit-exact scalar core of [[KernelTable.dotD]]; null (boxed) when
    * the HOF form would be NULL. */
  def dotD(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var s = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      s += a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    java.lang.Double.valueOf(s)
  }

  /** FNV-1a 64 over UTF8 bytes, then mixed — deterministic string hash. */
  def hash64(s: UTF8String, seed: Long): Long = {
    val bytes = s.getBytes
    var h = 0xcbf29ce484222325L ^ seed
    var i = 0
    while (i < bytes.length) {
      h = (h ^ (bytes(i) & 0xffL)) * 0x100000001b3L
      i += 1
    }
    mix64(h)
  }

  /** Cosine similarity over two float vectors, accumulated in double. */
  def cosineF(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /**
   * One-pass k-permutation MinHash via double hashing:
   * sig_j = min over shingles of (h1 + j*h2) (Kirsch-Mitzenmacher).
   * O(|shingles| * 2 hashes + |shingles| * k adds) per row.
   */
  def minhash(shingles: ArrayData, k: Int): ArrayData = {
    val sig = new Array[Long](k)
    java.util.Arrays.fill(sig, Long.MaxValue)
    val n = shingles.numElements()
    var i = 0
    while (i < n) {
      if (!shingles.isNullAt(i)) {
        val s = shingles.getUTF8String(i)
        val h1 = hash64(s, 0x9e3779b97f4a7c15L)
        val h2 = hash64(s, 0x2545f4914f6cdd1dL) | 1L
        var j = 0
        var h = h1
        while (j < k) {
          if (h < sig(j)) sig(j) = h
          h += h2
          j += 1
        }
      }
      i += 1
    }
    new GenericArrayData(sig)
  }

  /** Winnowing fingerprints (MOSS): hash64 (seed 0) each shingle, slide
    * a w-length window over the hash sequence, keep each window's
    * minimum, emit the distinct minima in first-occurrence order — one
    * JVM pass per row (the per-element-lambda form pays interpreted HOF
    * eval per shingle and per window; this is the d10 hot path). */
  def winnow(shingles: ArrayData, w: Int): ArrayData = {
    val n = shingles.numElements()
    if (n < w) return new GenericArrayData(Array.empty[Long])
    val hs = new Array[Long](n)
    var i = 0
    while (i < n) {
      hs(i) = if (shingles.isNullAt(i)) 0L
        else hash64(shingles.getUTF8String(i), 0L)
      i += 1
    }
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    var j = 0
    while (j <= n - w) {
      var m = hs(j)
      var k = j + 1
      while (k < j + w) { if (hs(k) < m) m = hs(k); k += 1 }
      seen.add(m)
      j += 1
    }
    val out = new Array[Long](seen.size())
    val it = seen.iterator()
    var o = 0
    while (it.hasNext) { out(o) = it.next(); o += 1 }
    new GenericArrayData(out)
  }

  /** Per-position k-word shingle hashes: out[p] = hash64 of
    * words[p..p+k-1] joined by ' ' — BYTE-IDENTICAL to
    * hash64(concat_ws(' ', slice(words, p+1, k)), 0) (the FNV fold walks
    * each word's UTF-8 bytes with a 0x20 byte between words, then
    * mix64), but with no per-position string allocation and no
    * interpreted array lambda: the d10/q115 lesson applied to shingle
    * construction itself. Empty output when fewer than k words. */
  def shingleHash64(words: ArrayData, k: Int): ArrayData = {
    val n = words.numElements()
    if (n < k) return new GenericArrayData(Array.empty[Long])
    // null elements stay null here and are SKIPPED below — separator
    // included — exactly concat_ws's null handling, so the byte-identity
    // contract holds on arrays with nulls too (an empty STRING is not
    // null: it contributes nothing but keeps its separators, also like
    // concat_ws)
    val bytes = new Array[Array[Byte]](n)
    var i = 0
    while (i < n) {
      bytes(i) = if (words.isNullAt(i)) null
        else words.getUTF8String(i).getBytes
      i += 1
    }
    val out = new Array[Long](n - k + 1)
    var p = 0
    while (p <= n - k) {
      var h = 0xcbf29ce484222325L
      var emitted = false
      var j = p
      while (j < p + k) {
        val b = bytes(j)
        if (b != null) {
          if (emitted) h = (h ^ 0x20L) * 0x100000001b3L
          var t = 0
          while (t < b.length) {
            h = (h ^ (b(t) & 0xffL)) * 0x100000001b3L
            t += 1
          }
          emitted = true
        }
        j += 1
      }
      out(p) = mix64(h)
      p += 1
    }
    new GenericArrayData(out)
  }

  /** 64-bit SimHash over token strings (weighted by occurrence). */
  def simhash(tokens: ArrayData): Long = {
    val acc = new Array[Int](64)
    val n = tokens.numElements()
    var i = 0
    while (i < n) {
      if (!tokens.isNullAt(i)) {
        val h = hash64(tokens.getUTF8String(i), 0x6a09e667f3bcc908L)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) acc(b) += 1 else acc(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (acc(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  /** Rolling polynomial (Rabin-Karp style) 64-bit fingerprint of a string,
    * case/whitespace-normalized. */
  def fingerprint(s: UTF8String): Long = {
    val t = s.toString.toLowerCase.replaceAll("\\s+", " ").trim
    var h = 1125899906842597L
    var i = 0
    while (i < t.length) {
      h = 31L * h + t.charAt(i)
      i += 1
    }
    mix64(h)
  }

  def hamming64(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  /** Haversine great-circle distance in km — Presto 0.248's
    * great_circle_distance (presto-main MathFunctions, mean earth
    * radius 6371.01 km). asin argument clamped to 1.0 so antipodal
    * rounding noise can't produce NaN.
    *
    * Residual cross-engine libm risk (documented, accepted): sin/cos/
    * asin are ~1-ulp per engine and not bit-identical, and the result
    * feeds a 6-dp round plus a distance threshold downstream (q122).
    * An input whose true distance lies within ~1e-10 of a rounding
    * midpoint or of the threshold can flip cross-engine. Unlike the
    * quantile-sketch bins there is no shared discrete table to correct
    * against — the output IS the transcendental — so the honest options
    * are this documented risk or degrading the function's precision;
    * the synthetic corpus sits nowhere near the boundaries. */
  def haversineKm(lat1: Double, lon1: Double, lat2: Double, lon2: Double): Double = {
    val dLat = math.toRadians(lat2 - lat1) / 2
    val dLon = math.toRadians(lon2 - lon1) / 2
    val a = math.sin(dLat) * math.sin(dLat) +
      math.cos(math.toRadians(lat1)) * math.cos(math.toRadians(lat2)) *
        math.sin(dLon) * math.sin(dLon)
    2.0 * 6371.01 * math.asin(math.min(1.0, math.sqrt(a)))
  }

  /** Set `s`'s k Bloom bits in `bits` (Kirsch-Mitzenmacher double
    * hashing over the same FNV-1a64+mix kernel as minhash — two string
    * hashes per element, k derived probes). Positions are unsigned
    * mod the bit length, so any power-of-two-free size works too. */
  def bloomSet(bits: Array[Byte], s: UTF8String, k: Int): Unit = {
    val m = bits.length.toLong << 3
    val h1 = hash64(s, 0x71ee5851a2c5e1a6L)
    val h2 = hash64(s, 0x435ea1ac14f8bcadL) | 1L
    var j = 0
    var h = h1
    while (j < k) {
      val pos = java.lang.Long.remainderUnsigned(h, m)
      val idx = (pos >>> 3).toInt
      bits(idx) = (bits(idx) | (1 << (pos & 7L).toInt)).toByte
      h += h2
      j += 1
    }
  }

  /** Membership probe against a [[bloomSet]]-built filter: false means
    * definitely absent; true means present-or-false-positive. */
  def bloomTest(bits: Array[Byte], s: UTF8String, k: Int): Boolean = {
    val m = bits.length.toLong << 3
    val h1 = hash64(s, 0x71ee5851a2c5e1a6L)
    val h2 = hash64(s, 0x435ea1ac14f8bcadL) | 1L
    var j = 0
    var h = h1
    while (j < k) {
      val pos = java.lang.Long.remainderUnsigned(h, m)
      if ((bits((pos >>> 3).toInt) & (1 << (pos & 7L).toInt)) == 0) return false
      h += h2
      j += 1
    }
    true
  }

  /** Web-Mercator latitude clamp — Bing tiles are undefined beyond this
    * (Presto's bing_tile_at rejects out-of-range latitudes; clamping is
    * the pipeline-friendly choice for crawl-derived coordinates). */
  private val MaxBingLat = 85.05112878

  /** Bing-maps quadkey of the tile containing (lat, lon) at `zoom` —
    * Presto 0.248's bing_tile_at + bing_tile_quadkey composed (the
    * Bing-tile family's idiomatic join key: tiles at any zoom share the
    * quadkey PREFIX of their children, so zoom-out aggregation is a
    * substring groupBy). Standard Web-Mercator math; x/y clamped into
    * [0, 2^zoom).
    *
    * Residual cross-engine libm risk (documented, accepted): the tile y
    * floors over a sin/log Mercator projection whose ~1-ulp engine
    * variance can flip the floor for latitudes within ~1e-11 of a tile
    * boundary — a different quadkey digit cross-engine. Tile boundaries
    * are a measure-zero set and the synthetic corpus avoids them; a
    * boundary-exact contract would need a shared quantized y (both
    * engines rounding the projected y to a fixed grid before the
    * floor), which trades public-formula fidelity for it. */
  def bingTileQuadkey(lat0: Double, lon: Double, zoom: Int): UTF8String = {
    val n = 1L << zoom
    val lat = math.max(-MaxBingLat, math.min(MaxBingLat, lat0))
    val x = math.min(n - 1, math.max(0L,
      math.floor((lon + 180.0) / 360.0 * n).toLong))
    val sinLat = math.sin(lat / 180.0 * math.Pi)
    val y = math.min(n - 1, math.max(0L,
      math.floor((0.5 - math.log((1.0 + sinLat) / (1.0 - sinLat))
        / (4.0 * math.Pi)) * n).toLong))
    val sb = new java.lang.StringBuilder(zoom)
    var i = zoom - 1
    while (i >= 0) {
      sb.append(('0' + (((x >> i) & 1L) + 2L * ((y >> i) & 1L)).toInt).toChar)
      i -= 1
    }
    UTF8String.fromString(sb.toString)
  }

  /** Ray-casting point-in-polygon (the core of Presto's ST_Contains for
    * the point-in-ring case). The ring is CLOSED (last vertex repeats
    * the first); edges use strict comparisons, so boundary points fall
    * on the engine-deterministic side. Pure comparisons and exact-
    * rounded IEEE multiply/divide — no libm — so it replays bit-exact
    * in any engine that evaluates the same per-edge formula. */
  def pointInPolygon(px: Double, py: Double, xs: ArrayData, ys: ArrayData): Boolean = {
    val n = math.min(xs.numElements(), ys.numElements())
    var inside = false
    var i = 0
    while (i < n - 1) {
      val x1 = xs.getDouble(i); val y1 = ys.getDouble(i)
      val x2 = xs.getDouble(i + 1); val y2 = ys.getDouble(i + 1)
      if ((y1 > py) != (y2 > py) &&
          px < (x2 - x1) * (py - y1) / (y2 - y1) + x1) inside = !inside
      i += 1
    }
    inside
  }

  /** Unicode normalization (UAX #15) over a UTF8String. `isNormalized`
    * is the fast path: ASCII and already-composed text — the vast
    * majority of a real corpus — returns the input UTF8String without
    * decoding or allocating. The tables come from the JDK's
    * java.text.Normalizer (ICU4J-derived, same UAX #15 forms DuckDB's
    * utf8proc-based nfc_normalize implements, which is what makes NFC
    * oracle-replayable cross-engine). */
  def normalizeUtf8(s: UTF8String, form: java.text.Normalizer.Form): UTF8String = {
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str, form)) s
    else UTF8String.fromString(java.text.Normalizer.normalize(str, form))
  }

  /** Orientation of the triple (ax,ay)->(bx,by)->(cx,cy): the cross
    * product (b-a) x (c-a). Pure IEEE multiply/subtract in a fixed
    * association order, so a SQL oracle replaying the same expression
    * text gets the same sign bit-for-bit. */
  @inline def orient(ax: Double, ay: Double, bx: Double, by: Double,
                     cx: Double, cy: Double): Double =
    (bx - ax) * (cy - ay) - (by - ay) * (cx - ax)

  /** Closed-segment intersection test (Presto ST_Intersects, the
    * segment-segment core): proper crossings via the four orientation
    * signs, plus the collinear/touching cases via on-segment bounding
    * checks. Touching at an endpoint and collinear overlap both count
    * as intersecting (closed-set semantics, as in Presto/JTS). */
  def segmentsIntersect(x1: Double, y1: Double, x2: Double, y2: Double,
                        x3: Double, y3: Double, x4: Double, y4: Double): Boolean = {
    val d1 = orient(x3, y3, x4, y4, x1, y1)
    val d2 = orient(x3, y3, x4, y4, x2, y2)
    val d3 = orient(x1, y1, x2, y2, x3, y3)
    val d4 = orient(x1, y1, x2, y2, x4, y4)
    if (((d1 > 0 && d2 < 0) || (d1 < 0 && d2 > 0)) &&
        ((d3 > 0 && d4 < 0) || (d3 < 0 && d4 > 0))) true
    else if (d1 == 0 && onSegment(x3, y3, x4, y4, x1, y1)) true
    else if (d2 == 0 && onSegment(x3, y3, x4, y4, x2, y2)) true
    else if (d3 == 0 && onSegment(x1, y1, x2, y2, x3, y3)) true
    else d4 == 0 && onSegment(x1, y1, x2, y2, x4, y4)
  }

  /** Is (px,py) — already known collinear with a->b — inside a->b's
    * bounding box? */
  @inline private def onSegment(ax: Double, ay: Double, bx: Double, by: Double,
                                px: Double, py: Double): Boolean =
    math.min(ax, bx) <= px && px <= math.max(ax, bx) &&
      math.min(ay, by) <= py && py <= math.max(ay, by)

  /** Euclidean distance from (px,py) to the closed segment
    * (x1,y1)-(x2,y2) (Presto ST_Distance, the point-to-segment core):
    * project onto the segment, clamp the parameter to [0,1], distance
    * to the clamped foot. A degenerate (zero-length) segment degrades
    * to point distance. Fixed association order + correctly-rounded
    * sqrt make the value oracle-replayable bit-for-bit. */
  def pointSegmentDist(px: Double, py: Double, x1: Double, y1: Double,
                       x2: Double, y2: Double): Double = {
    val bx = x2 - x1
    val by = y2 - y1
    val len2 = bx * bx + by * by
    val t0 = if (len2 == 0) 0.0 else ((px - x1) * bx + (py - y1) * by) / len2
    val t = math.min(math.max(t0, 0.0), 1.0)
    val dx = px - (x1 + t * bx)
    val dy = py - (y1 + t * by)
    math.sqrt(dx * dx + dy * dy)
  }

  /** Histogram-sketch bin decision: COUNT of edges <= x over the sorted
    * snapped edge table, clamped to >= 1 — the exact definitional form,
    * via binary search (O(log bins) pure IEEE comparisons per row, no
    * lambda interpretation, no allocation). This subsumes the r10
    * closed-form-candidate-±1 scheme: that correction could land on a
    * bin whose 6-dp-rounded edge still exceeds x when rounding collapses
    * adjacent edges into a plateau (the backward scan needed there is
    * plateau-length, not 1) — binary search against the rounded table
    * has no such residual, and stays engine-agnostic: any engine that
    * counts edges <= x agrees bit-for-bit. */
  def edgeBin(edges: ArrayData, x: Double): Int = {
    var lo = 0                       // edges[0..lo-1] <= x (1-based count)
    var hi = edges.numElements()
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (edges.getDouble(mid) <= x) lo = mid + 1 else hi = mid
    }
    if (lo < 1) 1 else lo
  }

  /** Shoelace area of a CLOSED ring (last vertex repeats the first;
    * Presto ST_Area on a polygon shell): 0.5 * |Σ (x_i·y_{i+1} −
    * x_{i+1}·y_i)|, accumulated strictly left-to-right so a SQL oracle
    * replaying the literal expanded sum reproduces the value
    * bit-for-bit (the q123/q127 discipline: fixed-association IEEE
    * multiply/subtract/add only, no libm). */
  def ringArea(xs: ArrayData, ys: ArrayData): Double =
    0.5 * math.abs(ringCross(xs, ys))

  /** The signed shoelace sum itself (twice the signed area). */
  @inline private def ringCross(xs: ArrayData, ys: ArrayData): Double = {
    val n = math.min(xs.numElements(), ys.numElements())
    var acc = 0.0
    var i = 0
    while (i < n - 1) {
      acc += xs.getDouble(i) * ys.getDouble(i + 1) -
        xs.getDouble(i + 1) * ys.getDouble(i)
      i += 1
    }
    acc
  }

  /** Perimeter of a CLOSED ring (Presto ST_Length / ST_Perimeter core):
    * Σ sqrt(dx² + dy²) over consecutive vertices, left-to-right. One
    * correctly-rounded sqrt per edge — oracle-replayable bit-for-bit. */
  def ringLength(xs: ArrayData, ys: ArrayData): Double = {
    val n = math.min(xs.numElements(), ys.numElements())
    var acc = 0.0
    var i = 0
    while (i < n - 1) {
      val dx = xs.getDouble(i + 1) - xs.getDouble(i)
      val dy = ys.getDouble(i + 1) - ys.getDouble(i)
      acc += math.sqrt(dx * dx + dy * dy)
      i += 1
    }
    acc
  }

  /** One coordinate of the area-weighted polygon centroid (Presto
    * ST_X(ST_Centroid(g)) for axis 0, ST_Y for axis 1): Σ (c_i +
    * c_{i+1})·cross_i / (3·Σ cross_i), all sums left-to-right. A
    * degenerate ring (signed area exactly 0 — collinear or repeated
    * vertices) degrades to the plain vertex mean over the n−1 distinct
    * vertices, the JTS line/point-centroid fallback. */
  def ringCentroid(xs: ArrayData, ys: ArrayData, axis: Int): Double = {
    val n = math.min(xs.numElements(), ys.numElements())
    val cs = if (axis == 0) xs else ys
    var a = 0.0
    var num = 0.0
    var i = 0
    while (i < n - 1) {
      val cross = xs.getDouble(i) * ys.getDouble(i + 1) -
        xs.getDouble(i + 1) * ys.getDouble(i)
      a += cross
      num += (cs.getDouble(i) + cs.getDouble(i + 1)) * cross
      i += 1
    }
    val res =
      if (a == 0.0) {
        var s = 0.0
        i = 0
        while (i < n - 1) { s += cs.getDouble(i); i += 1 }
        if (n > 1) s / (n - 1) else Double.NaN
      } else num / (3.0 * a)
    // canonicalize -0.0 (a 0/(3a<0) row would otherwise carry a
    // meaningless sign that breaks value-representation hashing)
    res + 0.0
  }

  /** CDF read of a bin-count sketch array: smallest 1-based bin whose
    * cumulative count reaches ceil(total * p) — the q115 kernel's pick,
    * `min(bin where cum >= ceil(total * p))`, as one O(bins) scan over
    * an already-aggregated sketch row. An all-zero (or empty) sketch
    * reads bin 1, matching the kernel's behavior on a 0-count group
    * (cum >= 0 at the first bin). */
  def sketchQuantileBin(sketch: ArrayData, p: Double): Int = {
    val n = sketch.numElements()
    var total = 0L
    var i = 0
    while (i < n) { total += sketch.getLong(i); i += 1 }
    val target = math.ceil(total * p).toLong
    var cum = 0L
    i = 0
    while (i < n) {
      cum += sketch.getLong(i)
      if (cum >= target) return i + 1
      i += 1
    }
    1
  }

  /**
   * One BPE merge pass over a space-joined symbol string: greedy
   * left-to-right scan replacing each adjacent (a, b) symbol pair with
   * the concatenated symbol, consuming both (so an overlapping
   * occurrence — "a a a" under merge (a,a) — yields "aa a", the
   * standard BPE semantics). Equivalent to the left-fold formulation
   * the DuckDB oracle replays via list_reduce (merge into the
   * accumulator's last token when it equals `a` exactly and the current
   * symbol equals `b`): the fold can only diverge from the scan if the
   * merged token re-matched as a left symbol, which needs a+b == a —
   * impossible for non-empty b. Symbols never contain spaces, so the
   * split is unambiguous.
   */
  def bpeMerge(syms: UTF8String, a: UTF8String, b: UTF8String): UTF8String = {
    val toks = syms.toString.split(" ", -1)
    val as = a.toString
    val bs = b.toString
    val sb = new java.lang.StringBuilder(syms.numBytes + 1)
    var i = 0
    while (i < toks.length) {
      if (sb.length > 0) sb.append(' ')
      if (i + 1 < toks.length && toks(i) == as && toks(i + 1) == bs) {
        sb.append(as).append(bs); i += 2
      } else { sb.append(toks(i)); i += 1 }
    }
    UTF8String.fromString(sb.toString)
  }

  /**
   * Parse a WKT literal (Presto `ST_GeometryFromText`, the POINT /
   * LINESTRING / POLYGON-single-ring subset — the front door of the
   * 0.248 geospatial family, which is WKT-first on real data lakes)
   * into the (gtype, xs, ys) coordinate-array representation every
   * ring/segment kernel above already consumes.
   *
   * Returns null on ANY malformed input — the total, try_-style
   * contract (Presto throws; a 100 TB ingest wants the bad row
   * quarantined by a null filter, not the job killed). Accepted
   * grammar (case-insensitive tag, whitespace-tolerant, exponent
   * doubles):
   *   POINT (x y)                    | POINT EMPTY
   *   LINESTRING (x y, x y [, ...])  | LINESTRING EMPTY   -- >= 2 pts
   *   POLYGON ((x y, ..., x y))      | POLYGON EMPTY      -- one
   *     CLOSED ring, >= 4 points, first == last
   * Multi-ring polygons (holes), MULTI*, GEOMETRYCOLLECTION, Z/M
   * coordinates, unclosed rings, and trailing garbage are all rejected
   * (null) — out of the subset, never silently truncated.
   */
  def wktParse(s: UTF8String): InternalRow = {
    val str = s.toString
    val n = str.length
    var i = 0
    var bad = false
    def skipWs(): Unit = { while (i < n && Character.isWhitespace(str.charAt(i))) i += 1 }
    def eat(c: Char): Boolean = {
      skipWs()
      if (i < n && str.charAt(i) == c) { i += 1; true } else { bad = true; false }
    }
    def peekIs(c: Char): Boolean = { skipWs(); i < n && str.charAt(i) == c }
    def readNum(): Double = {
      skipWs()
      val st = i
      while (i < n && (str.charAt(i) match {
        case '+' | '-' | '.' | 'e' | 'E' => true
        case ch => ch >= '0' && ch <= '9'
      })) i += 1
      if (i == st) { bad = true; 0.0 }
      else try java.lang.Double.parseDouble(str.substring(st, i))
      catch { case _: NumberFormatException => bad = true; 0.0 }
    }
    skipWs()
    val tagStart = i
    while (i < n && Character.isLetter(str.charAt(i))) i += 1
    val tag = str.substring(tagStart, i).toUpperCase(java.util.Locale.ROOT)
    val xs = new scala.collection.mutable.ArrayBuffer[Double]()
    val ys = new scala.collection.mutable.ArrayBuffer[Double]()
    // one x-y coordinate list between parens, comma-separated
    def readCoords(): Unit = {
      if (eat('(')) {
        var more = true
        while (more && !bad) {
          xs += readNum(); ys += readNum()
          skipWs()
          if (i < n && str.charAt(i) == ',') { i += 1 }
          else { more = false; eat(')') }
        }
      }
    }
    skipWs()
    val empty = i + 5 <= n && str.regionMatches(true, i, "EMPTY", 0, 5)
    if (empty) i += 5
    tag match {
      case "POINT" =>
        if (!empty) { if (eat('(')) { xs += readNum(); ys += readNum(); eat(')') } }
      case "LINESTRING" =>
        if (!empty) { readCoords(); if (xs.length < 2) bad = true }
      case "POLYGON" =>
        if (!empty) {
          if (eat('(')) {
            readCoords()
            // a ',' here would start a hole ring — outside the subset
            if (!bad && peekIs(',')) bad = true
            eat(')')
          }
          if (xs.length < 4 ||
            xs.head != xs.last || ys.head != ys.last) bad = true
        }
      case _ => bad = true
    }
    skipWs()
    if (bad || i != n) null
    else new GenericInternalRow(Array[Any](
      UTF8String.fromString(tag),
      new GenericArrayData(xs.toArray),
      new GenericArrayData(ys.toArray)))
  }

  /** Format (gtype, xs, ys) back to WKT text (Presto `ST_AsText`) using
    * Java's shortest-round-trip double representation — the exact
    * inverse of [[wktParse]] (spec-pinned: parse(text(g)) == g, and
    * text(parse(w)) == w for canonically-spaced w). Unknown tags,
    * length-mismatched arrays, and subset violations (POINT with != 1
    * point, LINESTRING < 2, POLYGON unclosed or < 4) return null. */
  def wktText(gtype: UTF8String, xs: ArrayData, ys: ArrayData): UTF8String = {
    val tag = gtype.toString.toUpperCase(java.util.Locale.ROOT)
    val n = xs.numElements()
    if (n != ys.numElements()) return null
    val ok = tag match {
      case "POINT" => n <= 1
      case "LINESTRING" => n == 0 || n >= 2
      case "POLYGON" => n == 0 || (n >= 4 &&
        xs.getDouble(0) == xs.getDouble(n - 1) &&
        ys.getDouble(0) == ys.getDouble(n - 1))
      case _ => false
    }
    if (!ok) return null
    if (n == 0) return UTF8String.fromString(tag + " EMPTY")
    val sb = new java.lang.StringBuilder(tag)
    sb.append(if (tag == "POLYGON") " ((" else " (")
    var i = 0
    while (i < n) {
      if (i > 0) sb.append(", ")
      sb.append(java.lang.Double.toString(xs.getDouble(i))).append(' ')
        .append(java.lang.Double.toString(ys.getDouble(i)))
      i += 1
    }
    sb.append(if (tag == "POLYGON") "))" else ")")
    UTF8String.fromString(sb.toString)
  }

  /**
   * Parse a WKT POLYGON or MULTIPOLYGON into per-polygon ring lists —
   * the multi-ring / multi-part step past [[wktParse]]'s single-ring
   * subset (Presto's geometry model: polygon = shell + interior rings;
   * multipolygon = list of polygons). Null on ANY malformed input (same
   * total-function contract): wrong tag, unclosed ring, ring with < 4
   * points, Z/M coordinates, missing parens, trailing garbage.
   * `POLYGON EMPTY` / `MULTIPOLYGON EMPTY` parse to zero polygons.
   * Output: polygons → rings → interleaved [x0,y0,x1,y1,…]; each
   * polygon's ring 0 is its shell, the rest are holes (WKT order).
   * Kept internal: the public kernels below compute area / containment /
   * ring count in the SAME pass so no nested-array geometry is ever
   * materialized in a row (at 100 TB the per-row geometry object is
   * allocation churn; the scalar answer is what queries consume).
   */
  private def parseWktPolygons(s: UTF8String): Array[Array[Array[Double]]] = {
    val str = s.toString
    val n = str.length
    var i = 0
    var bad = false
    def skipWs(): Unit = { while (i < n && Character.isWhitespace(str.charAt(i))) i += 1 }
    def eat(c: Char): Boolean = {
      skipWs()
      if (i < n && str.charAt(i) == c) { i += 1; true } else { bad = true; false }
    }
    def readNum(): Double = {
      skipWs()
      val st = i
      while (i < n && (str.charAt(i) match {
        case '+' | '-' | '.' | 'e' | 'E' => true
        case ch => ch >= '0' && ch <= '9'
      })) i += 1
      if (i == st) { bad = true; 0.0 }
      else try java.lang.Double.parseDouble(str.substring(st, i))
      catch { case _: NumberFormatException => bad = true; 0.0 }
    }
    // one '('-wrapped ring list: (x y, ...), (x y, ...) — shared by the
    // POLYGON body and each MULTIPOLYGON element
    def readPolygon(): Array[Array[Double]] = {
      val rings = new scala.collection.mutable.ArrayBuffer[Array[Double]]()
      if (eat('(')) {
        var moreRings = true
        while (moreRings && !bad) {
          val coords = new scala.collection.mutable.ArrayBuffer[Double]()
          if (eat('(')) {
            var more = true
            while (more && !bad) {
              coords += readNum(); coords += readNum()
              skipWs()
              if (i < n && str.charAt(i) == ',') i += 1
              else { more = false; eat(')') }
            }
          }
          val m = coords.length / 2
          if (!bad && (m < 4 ||
              coords(0) != coords(coords.length - 2) ||
              coords(1) != coords(coords.length - 1))) bad = true
          if (!bad) rings += coords.toArray
          skipWs()
          if (i < n && str.charAt(i) == ',') i += 1
          else { moreRings = false; eat(')') }
        }
      }
      if (bad || rings.isEmpty) null else rings.toArray
    }
    skipWs()
    val tagStart = i
    while (i < n && Character.isLetter(str.charAt(i))) i += 1
    val tag = str.substring(tagStart, i).toUpperCase(java.util.Locale.ROOT)
    if (tag != "POLYGON" && tag != "MULTIPOLYGON") return null
    skipWs()
    if (i + 5 <= n && str.regionMatches(true, i, "EMPTY", 0, 5)) {
      i += 5
      skipWs()
      return if (i == n) Array.empty else null
    }
    val polys = new scala.collection.mutable.ArrayBuffer[Array[Array[Double]]]()
    if (tag == "POLYGON") {
      val p = readPolygon()
      if (p != null) polys += p
    } else if (eat('(')) {
      var morePolys = true
      while (morePolys && !bad) {
        val p = readPolygon()
        if (p == null) bad = true else polys += p
        skipWs()
        if (i < n && str.charAt(i) == ',') i += 1
        else { morePolys = false; eat(')') }
      }
    }
    skipWs()
    if (bad || i != n || polys.isEmpty) null else polys.toArray
  }

  /** True when the WKT tag is POLYGON (not MULTIPOLYGON) — for the
    * accessors Presto defines on polygons only. */
  @inline private def wktTagIsPolygon(s: UTF8String): Boolean = {
    val str = s.toString
    var i = 0
    val n = str.length
    while (i < n && Character.isWhitespace(str.charAt(i))) i += 1
    val st = i
    while (i < n && Character.isLetter(str.charAt(i))) i += 1
    str.substring(st, i).equalsIgnoreCase("POLYGON")
  }

  /** Shoelace area of one interleaved closed ring. */
  @inline private def interleavedRingArea(r: Array[Double]): Double = {
    var acc = 0.0
    var i = 0
    while (i < r.length - 2) {
      acc += r(i) * r(i + 3) - r(i + 2) * r(i + 1)
      i += 2
    }
    0.5 * math.abs(acc)
  }

  /** Ray-cast point-in-ring over one interleaved closed ring — the same
    * strict-comparison formula as [[pointInPolygon]]. */
  @inline private def interleavedPointInRing(px: Double, py: Double,
      r: Array[Double]): Boolean = {
    var inside = false
    var i = 0
    while (i < r.length - 2) {
      val x1 = r(i); val y1 = r(i + 1); val x2 = r(i + 2); val y2 = r(i + 3)
      if ((y1 > py) != (y2 > py) &&
          px < (x2 - x1) * (py - y1) / (y2 - y1) + x1) inside = !inside
      i += 2
    }
    inside
  }

  /** st_area over WKT POLYGON / MULTIPOLYGON text, holes subtracted
    * (Presto ST_Area: per polygon, shoelace of the shell minus shoelace
    * of each interior ring; summed across a multipolygon's parts) —
    * parse + area in ONE pass, null on malformed, 0.0 for EMPTY. */
  def stAreaWkt(s: UTF8String): java.lang.Double = {
    val polys = parseWktPolygons(s)
    if (polys == null) return null
    var a = 0.0
    var p = 0
    while (p < polys.length) {
      val rings = polys(p)
      a += interleavedRingArea(rings(0))
      var i = 1
      while (i < rings.length) { a -= interleavedRingArea(rings(i)); i += 1 }
      p += 1
    }
    java.lang.Double.valueOf(a)
  }

  /** ST_Contains(WKT polygon/multipolygon, point): inside any part's
    * shell and not inside that part's holes (point-in-ring XOR per
    * polygon, OR across parts — correct for the standard disjoint
    * model). Null on malformed text, false for EMPTY. */
  def stContainsWkt(s: UTF8String, px: Double, py: Double): java.lang.Boolean = {
    val polys = parseWktPolygons(s)
    if (polys == null) return null
    var any = false
    var p = 0
    while (p < polys.length && !any) {
      val rings = polys(p)
      var inside = false
      var i = 0
      while (i < rings.length) {
        if (interleavedPointInRing(px, py, rings(i))) inside = !inside
        i += 1
      }
      any = inside
      p += 1
    }
    java.lang.Boolean.valueOf(any)
  }

  /** Presto ST_NumInteriorRing: hole count of a WKT POLYGON (0 for
    * EMPTY). Null on malformed text AND on MULTIPOLYGON — Presto
    * defines the accessor for polygons only. */
  def stNumInteriorRings(s: UTF8String): java.lang.Integer = {
    if (!wktTagIsPolygon(s)) return null
    val polys = parseWktPolygons(s)
    if (polys == null) null
    else if (polys.isEmpty) java.lang.Integer.valueOf(0)
    else java.lang.Integer.valueOf(polys(0).length - 1)
  }

  /** Presto ST_NumGeometries over the polygon family: 1 for POLYGON,
    * part count for MULTIPOLYGON, 0 for EMPTY; null on malformed. */
  def stNumGeometries(s: UTF8String): java.lang.Integer = {
    val polys = parseWktPolygons(s)
    if (polys == null) null else java.lang.Integer.valueOf(polys.length)
  }

  /** FNV-1a64 fold of one byte array into a running hash (no finalizer). */
  @inline private def fnvFold(h0: Long, bytes: Array[Byte]): Long = {
    var h = h0
    var i = 0
    while (i < bytes.length) {
      h = (h ^ (bytes(i) & 0xffL)) * 0x100000001b3L
      i += 1
    }
    h
  }

  /**
   * Hashed n-gram feature buckets over a token array — the fused form of
   * the t23/t25 featurizer (the hashing-trick features of fastText /
   * CCNet classifier filtering and DSIR importance resampling): for every
   * token t emit bucket(hash64("u " + t, seed)), and for every adjacent
   * pair (a, b) emit bucket(hash64("b " + a + " " + b, seed)), where
   * bucket = low `bits` bits (for 2^bits buckets, pmod of a power of two
   * ≡ the unsigned mask). Output order is all unigrams then all bigrams —
   * exactly `concat(transform(u…), transform(b…))`.
   *
   * BYTE-IDENTICAL to the array-lambda form
   * `transform(w, t -> pmod(hash64(concat('u ', t), seed), 2^bits))` ++
   * the bigram transform: the FNV fold walks the marker bytes, the token
   * bytes, and the joining 0x20 byte in concat order, then applies the
   * same splitmix finalizer — but in ONE JIT-compiled pass per row with
   * zero per-feature string allocation. Spark evaluates lambda HOFs
   * interpreted per element, so on the corpus-scan hot path (every token
   * of every document — the highest-volume scoring pass a curation
   * pipeline has) the lambda form pays non-codegen eval + concat
   * allocation per feature; this kernel is the d10 winnow_fps
   * lesson applied to the model-based-selection featurizer.
   *
   * Null tokens are skipped (split() never produces them; the lambda
   * form would null the whole feature entry).
   */
  def hashedNgramBuckets(words: ArrayData, seed: Long, bits: Int): ArrayData = {
    val n = words.numElements()
    val bs = new Array[Array[Byte]](n)
    var nuni = 0
    var i = 0
    while (i < n) {
      if (!words.isNullAt(i)) {
        bs(i) = words.getUTF8String(i).getBytes
        nuni += 1
      }
      i += 1
    }
    var nbig = 0
    i = 0
    while (i < n - 1) {
      if (bs(i) != null && bs(i + 1) != null) nbig += 1
      i += 1
    }
    val mask = (1L << bits) - 1L
    val basis = 0xcbf29ce484222325L ^ seed
    // fold the 2-byte markers once: "u " / "b " prefixes are constant
    val uBase = (((basis ^ 0x75L) * 0x100000001b3L) ^ 0x20L) * 0x100000001b3L
    val bBase = (((basis ^ 0x62L) * 0x100000001b3L) ^ 0x20L) * 0x100000001b3L
    val out = new Array[Long](nuni + nbig)
    var o = 0
    i = 0
    while (i < n) {
      if (bs(i) != null) {
        out(o) = mix64(fnvFold(uBase, bs(i))) & mask
        o += 1
      }
      i += 1
    }
    i = 0
    while (i < n - 1) {
      if (bs(i) != null && bs(i + 1) != null) {
        val h = fnvFold((fnvFold(bBase, bs(i)) ^ 0x20L) * 0x100000001b3L, bs(i + 1))
        out(o) = mix64(h) & mask
        o += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  /**
   * Fused hashed-linear classifier score (t23): [[hashedNgramBuckets]]
   * with 2^16 buckets, each bucket mapped through the procedural weight
   * table (Knuth multiplicative mix into [-1000, 1000]) and summed —
   * (n_feat, score_sum) in one pass per row. Replays exactly
   * `pmod(pmod(b * 2654435761, 2^32), 2001) - 1000` per feature: both
   * intermediates are non-negative, so % ≡ pmod.
   */
  def hashedNgramScore(words: ArrayData, seed: Long): InternalRow = {
    val buckets = hashedNgramBuckets(words, seed, 16)
    val n = buckets.numElements()
    var sum = 0L
    var i = 0
    while (i < n) {
      sum += ((buckets.getLong(i) * 2654435761L) & 0xffffffffL) % 2001L - 1000L
      i += 1
    }
    new GenericInternalRow(Array[Any](n, sum))
  }

  // ---- Porter stemmer (Porter 1980, "An algorithm for suffix
  // stripping", Program 14(3) — the public-domain algorithm Presto's
  // word_stem serves). Implemented from the paper's rule tables; operates
  // on lowercase ASCII letters, returns non-letter-bearing or short
  // inputs unchanged (Presto stems only all-letter words > 2 chars).

  private def isVowelAt(w: Array[Char], i: Int): Boolean = w(i) match {
    case 'a' | 'e' | 'i' | 'o' | 'u' => true
    case 'y' => i > 0 && !isVowelAt(w, i - 1)
    case _ => false
  }

  /** Porter's measure m of w[0..end]: the number of VC sequences. */
  private def measure(w: Array[Char], end: Int): Int = {
    var m = 0
    var i = 0
    var prevV = false
    while (i <= end) {
      val v = isVowelAt(w, i)
      if (prevV && !v) m += 1
      prevV = v
      i += 1
    }
    m
  }

  private def hasVowel(w: Array[Char], end: Int): Boolean = {
    var i = 0
    while (i <= end) { if (isVowelAt(w, i)) return true; i += 1 }
    false
  }

  /** *d — ends with a double consonant. */
  private def doubleC(w: Array[Char], end: Int): Boolean =
    end >= 1 && w(end) == w(end - 1) && !isVowelAt(w, end)

  /** *o — ends cvc where the final c is not w, x or y. */
  private def cvc(w: Array[Char], end: Int): Boolean =
    end >= 2 && !isVowelAt(w, end) && isVowelAt(w, end - 1) &&
      !isVowelAt(w, end - 2) &&
      w(end) != 'w' && w(end) != 'x' && w(end) != 'y'

  /** Porter's 1980 stemmer (Presto's word_stem with the default 'en'
    * stemmer). Inputs that are not all lowercase letters pass through
    * unchanged, like Presto's behavior on non-words. */
  def porterStem(in: UTF8String): UTF8String = {
    val s = in.toString
    if (s.length < 3 || !s.forall(c => c >= 'a' && c <= 'z')) return in
    val w = s.toCharArray
    var end = w.length - 1 // index of last char of the current stem

    def ends(suf: String): Boolean = {
      val n = suf.length
      if (n > end + 1) return false
      var i = 0
      while (i < n) {
        if (w(end - n + 1 + i) != suf.charAt(i)) return false
        i += 1
      }
      true
    }
    /** m() of the stem that remains after removing `suf`. */
    def mAfter(suf: String): Int = measure(w, end - suf.length)
    def setTo(suf: String, to: String): Unit = {
      val base = end - suf.length + 1
      var i = 0
      while (i < to.length) { w(base + i) = to.charAt(i); i += 1 }
      end = base + to.length - 1
    }

    // Step 1a
    if (ends("sses")) setTo("sses", "ss")
    else if (ends("ies")) setTo("ies", "i")
    else if (!ends("ss") && ends("s")) setTo("s", "")
    // Step 1b
    var rule23 = false
    if (ends("eed")) { if (mAfter("eed") > 0) setTo("eed", "ee") }
    else if (ends("ed") && hasVowel(w, end - 2)) { setTo("ed", ""); rule23 = true }
    else if (ends("ing") && end >= 3 && hasVowel(w, end - 3)) {
      setTo("ing", ""); rule23 = true
    }
    if (rule23) {
      if (ends("at")) setTo("at", "ate")
      else if (ends("bl")) setTo("bl", "ble")
      else if (ends("iz")) setTo("iz", "ize")
      else if (doubleC(w, end) &&
        w(end) != 'l' && w(end) != 's' && w(end) != 'z') end -= 1
      else if (measure(w, end) == 1 && cvc(w, end)) setTo("", "e")
    }
    // Step 1c
    if (ends("y") && hasVowel(w, end - 1)) w(end) = 'i'
    // Step 2 (each rule conditional on m > 0 for the remaining stem)
    val step2 = Array(
      ("ational", "ate"), ("tional", "tion"), ("enci", "ence"),
      ("anci", "ance"), ("izer", "ize"), ("abli", "able"), ("alli", "al"),
      ("entli", "ent"), ("eli", "e"), ("ousli", "ous"), ("ization", "ize"),
      ("ation", "ate"), ("ator", "ate"), ("alism", "al"),
      ("iveness", "ive"), ("fulness", "ful"), ("ousness", "ous"),
      ("aliti", "al"), ("iviti", "ive"), ("biliti", "ble"))
    var i2 = 0
    var done2 = false
    while (i2 < step2.length && !done2) {
      val (suf, to) = step2(i2)
      if (ends(suf)) { if (mAfter(suf) > 0) setTo(suf, to); done2 = true }
      i2 += 1
    }
    // Step 3
    val step3 = Array(
      ("icate", "ic"), ("ative", ""), ("alize", "al"), ("iciti", "ic"),
      ("ical", "ic"), ("ful", ""), ("ness", ""))
    var i3 = 0
    var done3 = false
    while (i3 < step3.length && !done3) {
      val (suf, to) = step3(i3)
      if (ends(suf)) { if (mAfter(suf) > 0) setTo(suf, to); done3 = true }
      i3 += 1
    }
    // Step 4 (m > 1); ION additionally needs the stem to end s or t
    val step4 = Array(
      "al", "ance", "ence", "er", "ic", "able", "ible", "ant", "ement",
      "ment", "ent", "ion", "ou", "ism", "ate", "iti", "ous", "ive", "ize")
    var i4 = 0
    var done4 = false
    while (i4 < step4.length && !done4) {
      val suf = step4(i4)
      if (ends(suf)) {
        val base = end - suf.length
        val ok = measure(w, base) > 1 &&
          (suf != "ion" || (base >= 0 && (w(base) == 's' || w(base) == 't')))
        if (ok) setTo(suf, "")
        done4 = true
      }
      i4 += 1
    }
    // Step 5a
    if (w(end) == 'e') {
      val m = measure(w, end - 1)
      if (m > 1 || (m == 1 && !cvc(w, end - 1))) end -= 1
    }
    // Step 5b
    if (measure(w, end) > 1 && doubleC(w, end) && w(end) == 'l') end -= 1

    UTF8String.fromString(new String(w, 0, end + 1))
  }

  /** Presto ngrams(array<varchar>, n): every length-n sliding window; a
    * shorter array yields one n-gram holding the whole array (Presto's
    * convention for n >= length). */
  def ngrams(words: ArrayData, n: Int): ArrayData = {
    val len = words.numElements()
    // null elements copy through as nulls (the expression declares inner
    // containsNull from its input) — an unchecked getUTF8String on an
    // UnsafeArrayData null slot would read garbage bytes instead
    def elem(i: Int): Any =
      if (words.isNullAt(i)) null else words.getUTF8String(i)
    if (len == 0) return new GenericArrayData(Array.empty[Any])
    if (n >= len) {
      val whole = new Array[Any](len)
      var i = 0
      while (i < len) { whole(i) = elem(i); i += 1 }
      return new GenericArrayData(Array[Any](new GenericArrayData(whole)))
    }
    val out = new Array[Any](len - n + 1)
    var i = 0
    while (i < out.length) {
      val g = new Array[Any](n)
      var j = 0
      while (j < n) { g(j) = elem(i + j); j += 1 }
      out(i) = new GenericArrayData(g)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** RFC 2104 HMAC under a JCA algorithm name — Presto's hmac_md5 /
    * hmac_sha1 / hmac_sha256 / hmac_sha512 family shares this kernel. */
  def hmac(data: Array[Byte], key: Array[Byte], algo: String): Array[Byte] = {
    val mac = javax.crypto.Mac.getInstance(algo)
    mac.init(new javax.crypto.spec.SecretKeySpec(key, algo))
    mac.doFinal(data)
  }

  /** HMAC-SHA256 (RFC 2104 with SHA-256) — Presto's hmac_sha256. */
  def hmacSha256(data: Array[Byte], key: Array[Byte]): Array[Byte] =
    hmac(data, key, "HmacSHA256")

  // ------------------------------------------------ json_extract_scalar

  /** Jackson mapper (Spark ships jackson-databind); thread-safe for
    * reads. */
  private val jsonMapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Per-thread memo of the last parsed path: the path argument is
    * almost always a literal, so each task parses it once. Steps are
    * either a String (object key) or java.lang.Integer (array index). */
  private val lastPath = new ThreadLocal[(String, Array[AnyRef])]

  /** Parse the JsonPath subset Presto's json_extract_scalar serves in
    * practice: `$`, `.key`, `['key']` / `["key"]`, `[index]`. Anything
    * else (wildcards, recursive descent, filters) is refused loudly —
    * never silently misread. */
  def parseJsonPath(p: String): Array[AnyRef] = {
    val memo = lastPath.get()
    if (memo != null && memo._1 == p) return memo._2
    require(p.nonEmpty && p.charAt(0) == '$',
      s"json_extract_scalar: path must start with '$$': $p")
    val steps = Array.newBuilder[AnyRef]
    var i = 1
    while (i < p.length) {
      p.charAt(i) match {
        case '.' =>
          i += 1
          val start = i
          while (i < p.length && p.charAt(i) != '.' && p.charAt(i) != '[') i += 1
          require(i > start, s"json_extract_scalar: empty key in path: $p")
          steps += p.substring(start, i)
        case '[' =>
          i += 1
          require(i < p.length, s"json_extract_scalar: unterminated '[' in path: $p")
          val q = p.charAt(i)
          if (q == '\'' || q == '"') {
            i += 1
            val start = i
            while (i < p.length && p.charAt(i) != q) i += 1
            require(i < p.length && i + 1 < p.length && p.charAt(i + 1) == ']',
              s"json_extract_scalar: unterminated quoted key in path: $p")
            steps += p.substring(start, i)
            i += 2
          } else {
            val start = i
            while (i < p.length && p.charAt(i) != ']') i += 1
            require(i < p.length, s"json_extract_scalar: unterminated '[' in path: $p")
            val idx = p.substring(start, i)
            require(idx.nonEmpty && idx.forall(Character.isDigit),
              s"json_extract_scalar: unsupported path step [$idx] in $p " +
                "(keys as ['key'], indexes as [0]; wildcards/filters are not served)")
            steps += java.lang.Integer.valueOf(idx)
            i += 1
          }
        case other => throw new IllegalArgumentException(
          s"json_extract_scalar: unsupported path syntax '$other' in $p")
      }
    }
    val out = steps.result()
    lastPath.set((p, out))
    out
  }

  /** Presto json_extract_scalar: walk the path in the PARSED document and
    * return the node's text only when it is a true JSON scalar (string /
    * number / boolean). Objects, arrays, JSON null, path misses, and
    * malformed documents return SQL NULL. Classifying by parsed node type
    * (not by the extracted text's shape) keeps a legitimate string scalar
    * whose value starts with '[' or '{' — e.g. {"a":"[x]"} — a string,
    * where a get_json_object+regex reimplementation misreads it. */
  def jsonExtractScalar(json: UTF8String, path: UTF8String): UTF8String = {
    val steps = parseJsonPath(path.toString)
    var node: com.fasterxml.jackson.databind.JsonNode =
      try jsonMapper.readTree(json.toString)
      catch { case _: Exception => return null }
    var i = 0
    while (i < steps.length && node != null) {
      steps(i) match {
        case key: String => node = if (node.isObject) node.get(key) else null
        case idx: java.lang.Integer =>
          node = if (node.isArray) node.get(idx.intValue) else null
      }
      i += 1
    }
    if (node == null || node.isNull || node.isContainerNode) null
    else UTF8String.fromString(node.asText())
  }

  // ------------------------------------------------------------------
  // r20 fold/transform kernels: the scalar cores of array HOFs that were
  // still CodegenFallback in entry plans (aggregate / transform /
  // zip_with evaluate their lambda INTERPRETED per element). Each method
  // documents the exact HOF expression it replicates; the parity specs
  // in ExpressionsSpec pin bit-for-bit equality including null, NaN and
  // length-mismatch semantics.

  /** `aggregate(a, 0D, (m, x) -> greatest(m, abs(CAST(x AS DOUBLE))))`
    * over array<float> — the a04 per-vector max-|x| scale fold. Null
    * elements are SKIPPED (greatest(m, NULL) = m); NaN propagates and
    * sticks (Spark's double ordering ranks NaN above everything);
    * empty array folds to 0.0. */
  def maxAbsF(a: ArrayData): Double = {
    val n = a.numElements()
    var m = 0.0
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i)) {
        val v = Math.abs(a.getFloat(i).toDouble)
        // nan-safe greater-than (Utils.nanSafeCompareDoubles semantics):
        // plain > plus the NaN-beats-everything rule
        if (v > m || (java.lang.Double.isNaN(v) && !java.lang.Double.isNaN(m)))
          m = v
      }
      i += 1
    }
    m
  }

  /** `transform(a, x -> CAST(floor(CAST(x AS DOUBLE) / scale + 0.5D) AS
    * BIGINT))` over array<float> — the a04 pinned symmetric-quantization
    * tie rule. Null elements stay null; floor-to-long is the (long)cast
    * Spark's Floor generates (NaN -> 0, ±Inf saturates). */
  def quantizeI8(a: ArrayData, scale: Double): ArrayData = {
    val n = a.numElements()
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i))
        out(i) = java.lang.Long.valueOf(
          Math.floor(a.getFloat(i).toDouble / scale + 0.5).toLong)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** `aggregate(q, CAST(0 AS BIGINT), (acc, v) -> acc + v)` (abs = false)
    * / `... acc + abs(v)` (abs = true) over array<bigint>. A null element
    * makes the HOF's accumulator NULL and NULL is absorbing under +, so
    * ANY null element yields NULL (the early return). Addition wraps like
    * non-ANSI BIGINT +; abs(Long.MinValue) wraps like non-ANSI abs(). */
  def sumLong(q: ArrayData, abs: Boolean): java.lang.Long = {
    val n = q.numElements()
    var s = 0L
    var i = 0
    while (i < n) {
      if (q.isNullAt(i)) return null
      val v = q.getLong(i)
      s += (if (abs) Math.abs(v) else v)
      i += 1
    }
    java.lang.Long.valueOf(s)
  }

  /** `aggregate(zip_with(a, q, (x, v) -> pow(CAST(x AS DOUBLE) - v *
    * scale, 2)), 0D, (acc, e) -> acc + e)` — the a04 reconstruction-error
    * fold (a: array<float>, q: array<bigint>). Same sequential IEEE sum,
    * same Math.pow(d, 2.0) call Spark's Pow generates; a length mismatch
    * (zip_with pads with nulls) or any null element yields NULL. */
  def quantErrSq(a: ArrayData, q: ArrayData, scale: Double): java.lang.Double = {
    val n = a.numElements()
    if (n != q.numElements()) return null
    var s = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || q.isNullAt(i)) return null
      val d = a.getFloat(i).toDouble - q.getLong(i).toDouble * scale
      s += Math.pow(d, 2.0)
      i += 1
    }
    java.lang.Double.valueOf(s)
  }

  /** `transform(q, v -> v * scale)` over array<bigint> -> array<double>
    * — the a05 dequantization map. Null elements stay null; the multiply
    * is the exact long->double widening Spark's implicit cast performs. */
  def scaleLongs(q: ArrayData, scale: Double): ArrayData = {
    val n = q.numElements()
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      if (!q.isNullAt(i))
        out(i) = java.lang.Double.valueOf(q.getLong(i).toDouble * scale)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** `transform(a, x -> CAST(x AS DOUBLE))` over array<float> — the
    * float->double widening map in front of every double-precision ANN
    * kernel. Exact per-element widening; null elements stay null. */
  def floatsToDoubles(a: ArrayData): ArrayData = {
    val n = a.numElements()
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i))
        out(i) = java.lang.Double.valueOf(a.getFloat(i).toDouble)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** The canonical 3-word shingle array (Dedup.shingles3's
    * `transform(sequence(0, greatest(size(w) - 3, 0)), i ->
    * concat_ws(' ', w[i], w[i+1], w[i+2]))`) as one JVM pass:
    * positions 0..max(n-3, 0) inclusive, each shingle the
    * space-joined non-null words among (i, i+1, i+2) — out-of-range
    * accesses are null and concat_ws skips nulls WITH their separator,
    * so short docs emit exactly one partial gram, like the HOF form.
    * Output elements are never null (concat_ws never returns null). */
  def shingles3(w: ArrayData): ArrayData = {
    val n = w.numElements()
    val m = Math.max(n - 3, 0) + 1
    val out = new Array[Any](m)
    var i = 0
    while (i < m) {
      val a = if (i < n && !w.isNullAt(i)) w.getUTF8String(i) else null
      val b = if (i + 1 < n && !w.isNullAt(i + 1)) w.getUTF8String(i + 1) else null
      val c = if (i + 2 < n && !w.isNullAt(i + 2)) w.getUTF8String(i + 2) else null
      out(i) = UTF8String.concatWs(ShingleSep, a, b, c)
      i += 1
    }
    new GenericArrayData(out)
  }

  private val ShingleSep = UTF8String.fromString(" ")

  /** Fused `minhash(shingles3(w), k)`: the k-permutation signature over
    * the 3-word shingles WITHOUT building the shingle strings — both FNV
    * chains (the h1/h2 double-hash seeds) fold each shingle's bytes
    * (word bytes joined by 0x20, nulls skipped with their separator)
    * directly from the word array, byte-identical to
    * hash64(concat_ws(' ', ...), seed). Shingle position count and the
    * short-doc partial gram replicate [[shingles3]] exactly; the hashed
    * shingle is never null (concat_ws of no survivors is the EMPTY
    * string, which hashes like minhash() hashing ""), so the skip-null
    * branch of [[minhash]] never fires on shingles3 output either. */
  def minhashWords3(w: ArrayData, k: Int): ArrayData = {
    val n = w.numElements()
    val m = Math.max(n - 3, 0) + 1
    val bytes = new Array[Array[Byte]](n)
    var t = 0
    while (t < n) {
      bytes(t) = if (w.isNullAt(t)) null else w.getUTF8String(t).getBytes
      t += 1
    }
    val sig = new Array[Long](k)
    java.util.Arrays.fill(sig, Long.MaxValue)
    var i = 0
    while (i < m) {
      // FNV-1a64 with both seeds in one byte walk
      var f1 = 0xcbf29ce484222325L ^ 0x9e3779b97f4a7c15L
      var f2 = 0xcbf29ce484222325L ^ 0x2545f4914f6cdd1dL
      var emitted = false
      var j = i
      val end = Math.min(i + 3, n)
      while (j < end) {
        val b = bytes(j)
        if (b != null) {
          if (emitted) {
            f1 = (f1 ^ 0x20L) * 0x100000001b3L
            f2 = (f2 ^ 0x20L) * 0x100000001b3L
          }
          var u = 0
          while (u < b.length) {
            val x = b(u) & 0xffL
            f1 = (f1 ^ x) * 0x100000001b3L
            f2 = (f2 ^ x) * 0x100000001b3L
            u += 1
          }
          emitted = true
        }
        j += 1
      }
      val h1 = mix64(f1)
      val h2 = mix64(f2) | 1L
      var p = 0
      var h = h1
      while (p < k) {
        if (h < sig(p)) sig(p) = h
        h += h2
        p += 1
      }
      i += 1
    }
    new GenericArrayData(sig)
  }

  /** Fused `winnow(shingles3(w), win)` for win >= 2: window minima over
    * the per-position 3-word shingle hashes ([[shingleHash64]] with
    * k = 3, seed 0 — byte-identical to hash64 of the built shingle).
    * Equivalence with the composed form: for n >= 3 words the shingle
    * sequences are identical; for n < 3 the composed form sees ONE
    * partial shingle and win >= 2 makes it emit empty, exactly like the
    * fused form's empty hash sequence — so results match on every input
    * (the precondition is asserted). */
  def winnowWords3(w: ArrayData, win: Int): ArrayData = {
    require(win >= 2, s"winnowWords3 needs win >= 2 (got $win): at win=1 " +
      "the composed form emits the short-doc partial gram this fusion drops")
    winnow3Hashes(shingleHash64(w, 3), win)
  }

  /** [[winnow]]'s window-minima half over an already-hashed sequence. */
  private def winnow3Hashes(hsArr: ArrayData, w: Int): ArrayData = {
    val n = hsArr.numElements()
    if (n < w) return new GenericArrayData(Array.empty[Long])
    val hs = new Array[Long](n)
    var i = 0
    while (i < n) { hs(i) = hsArr.getLong(i); i += 1 }
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    var j = 0
    while (j <= n - w) {
      var m = hs(j)
      var k = j + 1
      while (k < j + w) { if (hs(k) < m) m = hs(k); k += 1 }
      seen.add(m)
      j += 1
    }
    val out = new Array[Long](seen.size())
    val it = seen.iterator()
    var o = 0
    while (it.hasNext) { out(o) = it.next(); o += 1 }
    new GenericArrayData(out)
  }

  /** `transform(sequence(0, size(w) - 2), i -> struct(w[i] AS w1,
    * w[i+1] AS w2))` for size >= 2 — the adjacent-word pair stream the
    * bigram-LM operators explode (t19/t24's hottest projection; the HOF
    * form paid interpreted lambda + struct construction per bigram).
    * Null elements pass through as null struct fields; < 2 words yields
    * the empty array (callers filter size >= 2, where the HOF's
    * descending sequence(0,-1) artifact would otherwise bite). */
  def bigramPairs(w: ArrayData): ArrayData = {
    val n = w.numElements()
    if (n < 2) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](n - 1)
    var prev: Any = if (w.isNullAt(0)) null else w.getUTF8String(0)
    var i = 1
    while (i < n) {
      val cur: Any = if (w.isNullAt(i)) null else w.getUTF8String(i)
      out(i - 1) = new GenericInternalRow(Array[Any](prev, cur))
      prev = cur
      i += 1
    }
    new GenericArrayData(out)
  }

  /** `transform(sequence(0, size(w) - 2), i -> concat(w[i], ' ',
    * w[i+1]))` for size >= 2 — the t06 bigram STRING stream. concat
    * (not concat_ws) semantics: a null word nulls the whole bigram.
    * < 2 words yields the empty array (callers filter size >= 2). */
  def bigramStrings(w: ArrayData): ArrayData = {
    val n = w.numElements()
    if (n < 2) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](n - 1)
    var prev: UTF8String = if (w.isNullAt(0)) null else w.getUTF8String(0)
    var i = 1
    while (i < n) {
      val cur: UTF8String = if (w.isNullAt(i)) null else w.getUTF8String(i)
      out(i - 1) = if (prev == null || cur == null) null
        else UTF8String.concat(prev, ShingleSep, cur)
      prev = cur
      i += 1
    }
    new GenericArrayData(out)
  }

  /** `transform(sequence(0, 3), b -> shiftright(x, b * 16) & 65535)` —
    * the four 16-bit pigeonhole blocks of a 64-bit signature (d03
    * simhash / m07 dhash candidate bucketing). */
  def blocks16(x: Long): ArrayData =
    new GenericArrayData(Array[Long](
      x & 0xffffL, (x >> 16) & 0xffffL, (x >> 32) & 0xffffL,
      (x >> 48) & 0xffffL))

  /** `transform(sequence(0, size(w) - k), i -> concat_ws(' ',
    * slice(w, i + 1, k)))` for size >= k — the k-word gram strings of
    * the contamination checks (d07/d12). concat_ws semantics: null
    * words are skipped WITH their separator; the gram itself is never
    * null. Fewer than k words yields the empty array (callers filter
    * size >= k, so the HOF's descending-sequence artifact never
    * applies). */
  def wordGrams(w: ArrayData, k: Int): ArrayData = {
    val n = w.numElements()
    if (n < k) return new GenericArrayData(Array.empty[Any])
    val words = new Array[UTF8String](n)
    var t = 0
    while (t < n) {
      words(t) = if (w.isNullAt(t)) null else w.getUTF8String(t)
      t += 1
    }
    val out = new Array[Any](n - k + 1)
    val parts = new Array[UTF8String](k)
    var i = 0
    while (i <= n - k) {
      var j = 0
      while (j < k) { parts(j) = words(i + j); j += 1 }
      out(i) = UTF8String.concatWs(ShingleSep, parts: _*)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** `transform(sequence(0, ceil(n/size)-1), b -> slice(a, b*size+1,
    * size))` — consecutive fixed-size chunks of a long array (the
    * minhash band-key split). A trailing partial chunk keeps its
    * remainder, like slice past the end. */
  def chunkLongs(a: ArrayData, size: Int): ArrayData = {
    val n = a.numElements()
    val m = (n + size - 1) / size
    val out = new Array[Any](Math.max(m, 0))
    var b = 0
    while (b < m) {
      val from = b * size
      val len = Math.min(size, n - from)
      val chunk = new Array[Any](len)
      var i = 0
      while (i < len) {
        chunk(i) = if (a.isNullAt(from + i)) null
          else java.lang.Long.valueOf(a.getLong(from + i))
        i += 1
      }
      out(b) = new GenericArrayData(chunk)
      b += 1
    }
    new GenericArrayData(out)
  }
}

/** A constant argument of a kernel (k, seed, zoom, ...): a literal after
  * the column arguments in SQL, a plain value in the typed facade, a Java
  * literal in generated code. `check` is its validation: it maps an
  * accepted value to what the kernel receives and is undefined on the
  * rest, which `rule` describes. `default` fills a SQL call that omits
  * the argument. A param with `toKernel = false` is checked, not passed. */
final case class Param(
    name: String,
    literal: (String, Expression) => Any = Param.literalInt,
    default: Option[Any] = None,
    rule: String = "",
    check: PartialFunction[Any, AnyRef] = { case v => v.asInstanceOf[AnyRef] },
    toKernel: Boolean = true)

object Param {
  /** Extract a foldable integral argument from a SQL call site. A plain SQL
    * integer literal parses as Literal(_, IntegerType) (java.lang.Integer),
    * so a blind asInstanceOf[Long] would ClassCastException on the natural
    * call form `hash64(c, 42)`; accept both widths and fail non-literals
    * with a clear message naming the function. */
  def literalLong(fn: String, arg: Expression): Long = arg match {
    case Literal(v: Int, IntegerType) => v.toLong
    case Literal(v: Long, LongType)   => v
    case other => throw new IllegalArgumentException(
      s"$fn: argument must be an integer literal, got ${other.sql}")
  }

  def literalInt(fn: String, arg: Expression): Int =
    literalLong(fn, arg).toInt

  def literalDouble(fn: String, arg: Expression): Double = arg match {
    case Literal(v: Double, DoubleType) => v
    case Literal(v: Decimal, _) => v.toDouble
    case Literal(v: Int, IntegerType) => v.toDouble
    case other => throw new IllegalArgumentException(
      s"$fn: argument must be a numeric literal, got ${other.sql}")
  }

  /** Extract a foldable string argument (e.g. a normalization form). */
  def literalString(fn: String, arg: Expression): String = arg match {
    case Literal(v: UTF8String, StringType) => v.toString
    case other => throw new IllegalArgumentException(
      s"$fn: argument must be a string literal, got ${other.sql}")
  }
}

/** One row of [[KernelTable]]: how a graft function reaches its static
  * [[Kernels]] method. The method takes the column arguments, then
  * `bound`, then the params.
  *
  * @param sqlName    the registered SQL name; None for facade-only rows
  * @param inputs     the column types the method's unsafe reads expect,
  *                   enforced at analysis (see [[KernelCall]])
  * @param result     the result type, from the input types
  * @param nullResult the method can return null for non-null input (its
  *                   primitive results are then boxed; no other row's are)
  * @param bound      constants the row fixes (hmac's JCA name, the
  *                   centroid axis) */
final class Kernel(
    val sqlName: Option[String],
    val method: String,
    val inputs: Seq[DataType],
    val result: Seq[DataType] => DataType,
    val nullResult: Boolean,
    val bound: Seq[AnyRef],
    val params: Seq[Param]) extends Serializable {

  /** The name in plans, column names and error messages. */
  def name: String = sqlName.getOrElse(method)

  /** The row applied to `columns`, with one value per param. */
  def call(columns: Seq[Expression], values: Seq[Any] = Nil): Expression = {
    require(values.length == params.length, s"$name takes ${params.length} constant(s)")
    val consts = params.zip(values).flatMap { case (p, v) =>
      val k = p.check.applyOrElse(v, (_: Any) => throw new IllegalArgumentException(
        s"$name: ${p.name} must be ${p.rule}, got $v"))
      if (p.toKernel) Some(k) else None
    }
    KernelCall(this, bound ++ consts, columns.toIndexedSeq)
  }

  /** The SQL form: the columns, then each param as a literal. */
  def sqlBuilder(args: Seq[Expression]): Expression = {
    val n = inputs.length
    if (args.length < n + params.count(_.default.isEmpty) || args.length > n + params.length)
      throw new IllegalArgumentException(s"$name: wrong number of arguments (${args.length})")
    call(args.take(n), params.zipWithIndex.map { case (p, i) =>
      args.lift(n + i).map(p.literal(name, _)).getOrElse(p.default.get)
    })
  }
}

/** The one scaffold for every [[KernelTable]] row: `kernel` applied to
  * `children`, its constants already checked. Generated code makes one
  * static `graft.functions.Kernels` call per row inside whole-stage
  * codegen, after the standard null short-circuit over the inputs;
  * interpreted eval reaches the same method by reflection. It is its own
  * expression rather than Catalyst's StaticInvoke because the typed
  * facade builds calls over unresolved columns (so the result type can
  * only be computed after analysis) and because plans and type errors
  * should name the SQL function, not `staticinvoke(...)`.
  *
  * The type guard: an argument of another type than the row declares is
  * widened by a Catalyst Cast when that is an up-cast (int to bigint,
  * array<int> to array<double>) or a decimal into a double (SQL parses a
  * literal such as 1.5 as a DECIMAL); any other type fails analysis
  * naming the row, so no kernel reads a column its unsafe reads do not
  * expect. Catalyst's implicit casts are not used because under ANSI
  * they also narrow (array<double> to array<float>). */
case class KernelCall(kernel: Kernel, consts: Seq[AnyRef], children: IndexedSeq[Expression])
  extends Expression {

  override def nullIntolerant: Boolean = true
  override def foldable: Boolean = children.forall(_.foldable)
  override def nullable: Boolean = kernel.nullResult || children.exists(_.nullable)
  override def dataType: DataType = kernel.result(args.map(_.dataType))
  override def prettyName: String = kernel.name
  override protected def stringArgs: Iterator[Any] = children.iterator ++ consts.iterator

  /** The children as the kernel reads them (see the class doc). */
  @transient private lazy val args: IndexedSeq[Expression] =
    children.zip(kernel.inputs).map {
      case (c, t) if DataTypeUtils.sameType(c.dataType, t) => c
      case (c, t) => Cast(c, t, Option(SQLConf.get.sessionLocalTimeZone))
    }

  override def checkInputDataTypes(): TypeCheckResult =
    if (children.map(_.dataType).corresponds(kernel.inputs)((c, t) =>
        DataTypeUtils.sameType(c, t) || Cast.canUpCast(c, t) ||
          (c.isInstanceOf[DecimalType] && t == DoubleType)))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"${kernel.name} requires (${kernel.inputs.map(_.simpleString).mkString(", ")}), " +
        s"got (${children.map(_.dataType.catalogString).mkString(", ")})")

  @transient private lazy val method = Kernels.getClass.getMethod(kernel.method,
    kernel.inputs.map(CodeGenerator.javaClass) ++ consts.map(KernelCall.jvmClass): _*)

  override def eval(input: InternalRow): Any = {
    val values = new Array[AnyRef](args.length + consts.length)
    var i = 0
    while (i < args.length) {
      val v = args(i).eval(input)
      if (v == null) return null
      values(i) = v.asInstanceOf[AnyRef]
      i += 1
    }
    consts.copyToArray(values, args.length)
    try method.invoke(Kernels, values: _*)
    catch { case e: java.lang.reflect.InvocationTargetException => throw e.getCause }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val gens = args.map(_.genCode(ctx))
    val call = (gens.map(_.value.toString) ++ consts.map(KernelCall.javaLiteral))
      .mkString(s"graft.functions.Kernels.${kernel.method}(", ", ", ")")
    val javaType = CodeGenerator.javaType(dataType)
    if (!nullable) {
      ev.copy(code = code"""
        ${gens.map(_.code.toString).mkString("\n")}
        $javaType ${ev.value} = $call;""", isNull = FalseLiteral)
    } else {
      val result =
        if (!kernel.nullResult) s"${ev.isNull} = false;\n${ev.value} = $call;"
        else if (CodeGenerator.isPrimitiveType(dataType)) {
          val boxed = ctx.freshName("boxed")
          s"""${CodeGenerator.boxedType(dataType)} $boxed = $call;
             |${ev.isNull} = $boxed == null;
             |if (!${ev.isNull}) { ${ev.value} = $boxed.${javaType}Value(); }""".stripMargin
        } else s"${ev.value} = $call;\n${ev.isNull} = ${ev.value} == null;"
      val body = args.zip(gens).foldRight(result) { case ((c, g), inner) =>
        g.code.toString + "\n" + ctx.nullSafeExec(c.nullable, g.isNull.toString)(inner)
      }
      ev.copy(code = code"""
        boolean ${ev.isNull} = true;
        $javaType ${ev.value} = ${CodeGenerator.defaultValue(dataType)};
        $body""")
    }
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): KernelCall = copy(children = newChildren)
}

object KernelCall {
  private def jvmClass(v: AnyRef): Class[_] = v match {
    case _: java.lang.Integer => java.lang.Integer.TYPE
    case _: java.lang.Long => java.lang.Long.TYPE
    case _: java.lang.Boolean => java.lang.Boolean.TYPE
    case o => o.getClass
  }

  private def javaLiteral(v: AnyRef): String = v match {
    case l: java.lang.Long => s"${l}L"
    case s: String => "\"" + s + "\""
    case f: java.text.Normalizer.Form => s"java.text.Normalizer.Form.$f"
    case o => o.toString
  }
}

/**
 * The kernel table: every graft scalar function that is one static
 * [[Kernels]] call is a row here, expanded by the one [[KernelCall]]
 * scaffold. `GraftFunctions` builds the SQL surface and the typed Column
 * facade from these rows, and ExpressionsSpec walks them for the
 * codegen-vs-interpreted parity pin. A new kernel is a `Kernels` method
 * plus one row.
 *
 * A row's doc gives what its kernel's doc does not: the SQL semantics it
 * serves and why it is a kernel at all.
 */
object KernelTable {
  import Param.{literalLong, literalString}

  private val rows = scala.collection.mutable.ArrayBuffer.empty[Kernel]

  /** Every row, in declaration order. */
  def all: Seq[Kernel] = rows.toSeq

  private def row(sqlName: Option[String], method: String, inputs: Seq[DataType],
                  result: Seq[DataType] => DataType, nullResult: Boolean = false,
                  bound: Seq[AnyRef] = Nil, params: Seq[Param] = Nil): Kernel = {
    val k = new Kernel(sqlName, method, inputs, result, nullResult, bound, params)
    rows += k
    k
  }

  private val floats = ArrayType(FloatType)
  private val doubles = ArrayType(DoubleType)
  private val longs = ArrayType(LongType)
  private val strings = ArrayType(StringType)
  private val longsOut = ArrayType(LongType, containsNull = false)
  private val stringsOut = ArrayType(StringType, containsNull = false)
  private val ring = Seq(doubles, doubles)

  /** The first input array's containsNull: kernels that copy or map
    * elements through keep their nulls, so the declared result must
    * admit them. */
  private def nullsOf(inputs: Seq[DataType]): Boolean =
    inputs.head.asInstanceOf[ArrayType].containsNull

  private val seed = Param("seed", literalLong)

  /** Cosine of two float vectors. */
  val cosineSim = row(Some("cosine_sim"), "cosineF", Seq(floats, floats), _ => DoubleType)

  /** dot_product_d: the exact sequential left fold `aggregate(zip_with(a,
    * b, (x, y) -> x * y), 0D, (acc, e) -> acc + e)` as ONE codegen call:
    * same IEEE addition order, same null semantics (null input, length
    * mismatch, or a null element all yield NULL — zip_with pads the
    * shorter side with nulls and the fold absorbs them), none of the
    * higher-order-function machinery. HOFs are CodegenFallback: each row
    * pays interpreted lambda eval plus an intermediate products array —
    * the a11/a13/a18 ADC/PQ hot path measured 2-3x slower than this
    * kernel on the same arithmetic. */
  val dotD = row(None, "dotD", Seq(doubles, doubles), _ => DoubleType, nullResult = true)

  /** dot_product_fd: the float-corpus variant of [[dotD]], replicating
    * `zip_with(f, d, (x, y) -> x * y)`'s implicit cast. The a03/a08
    * hyperplane-signature hot path (16-64 planes per row). */
  val dotFD = row(None, "dotFD", Seq(floats, doubles), _ => DoubleType, nullResult = true)

  /** zip_eq_count: the exact value of `aggregate(zip_with(a, b, (x, y) ->
    * IF(x = y, 1, 0)), 0, (acc, v) -> acc + v)` — a null element, or a
    * position only one side has, makes `x = y` NULL and IF takes the 0
    * branch, so the result is never null for non-null inputs. The d09
    * signature-agreement hot path (128 positions per candidate pair
    * through interpreted HOF eval before this). */
  val zipEqCount = row(None, "zipEqCount", Seq(longs, longs), _ => IntegerType)

  /** Presto json_extract_scalar: NULL for non-scalar matches (objects,
    * arrays) where Spark's get_json_object returns their JSON text. */
  val jsonExtractScalar = row(Some("json_extract_scalar"), "jsonExtractScalar",
    Seq(StringType, StringType), _ => StringType, nullResult = true)

  val minhashSig = row(Some("minhash_sig"), "minhash", Seq(strings), _ => longsOut,
    params = Seq(Param("k")))

  val winnowFps = row(Some("winnow_fps"), "winnow", Seq(strings), _ => longsOut,
    params = Seq(Param("w")))

  val shingleHash64 = row(Some("shingle_hash64"), "shingleHash64", Seq(strings),
    _ => longsOut, params = Seq(Param("k")))

  val simhash64 = row(Some("simhash64"), "simhash", Seq(strings), _ => LongType)

  /** The building block of graft's order-independent checksum aggregate
    * (Presto's checksum(): bit_xor of per-row hash64). */
  val hash64 = row(Some("hash64"), "hash64", Seq(StringType), _ => LongType,
    params = Seq(Param("seed", literalLong, default = Some(0L))))

  /** The t25 DSIR featurizer's hot path. */
  val hashedNgramBuckets = row(Some("hashed_ngram_buckets"), "hashedNgramBuckets",
    Seq(strings), _ => longsOut, params = Seq(seed, Param("bits")))

  /** The t23 quality filter's per-row score. */
  val hashedNgramScore = row(Some("hashed_ngram_score"), "hashedNgramScore", Seq(strings),
    _ => StructType(Seq(
      StructField("n_feat", IntegerType, nullable = false),
      StructField("score_sum", LongType, nullable = false))),
    params = Seq(seed))

  val fingerprint64 = row(Some("fingerprint64"), "fingerprint", Seq(StringType), _ => LongType)

  /** Matched by [[graft.plans.SelfHammingRule]]. */
  val hamming64 = row(Some("hamming64"), "hamming64", Seq(LongType, LongType), _ => IntegerType)

  /** Presto's bing_tile_at + bing_tile_quadkey composed; zoom bounded to
    * Presto's 1..23 (quadkey length = zoom). */
  val bingTileQuadkey = row(Some("bing_tile_quadkey"), "bingTileQuadkey",
    Seq(DoubleType, DoubleType), _ => StringType,
    params = Seq(Param("zoom", rule = "in [1, 23]",
      check = { case z: Int if z >= 1 && z <= 23 => Int.box(z) })))

  /** Presto 0.248's normalize(string, form), default NFC. Codegen-native
    * so it stays inside the scan stage's whole-stage-codegen span — the
    * property that matters when this runs as the first cleaning step
    * over 100 TB of crawl text. */
  val normalizeUnicode = row(Some("normalize_unicode"), "normalizeUtf8", Seq(StringType),
    _ => StringType, params = Seq(Param("form", literalString, Some("NFC"),
      "NFC|NFD|NFKC|NFKD", {
        case f: String if Set("NFC", "NFD", "NFKC", "NFKD")(f) =>
          java.text.Normalizer.Form.valueOf(f)
      })))

  /** Presto great_circle_distance. */
  val haversineKm = row(Some("haversine_km"), "haversineKm", Seq.fill(4)(DoubleType),
    _ => DoubleType)

  /** Presto ST_Contains, point-in-ring case. */
  val pointInPolygon = row(Some("point_in_polygon"), "pointInPolygon",
    Seq(DoubleType, DoubleType, doubles, doubles), _ => BooleanType)

  /** The probe of a bloom_build filter: true is presence-or-false-
    * positive, so it is a PREFILTER — an exact confirm must follow
    * wherever false positives matter. */
  val bloomMightContain = row(Some("bloom_might_contain"), "bloomTest",
    Seq(BinaryType, StringType), _ => BooleanType, params = Seq(Param("numHashes")))

  /** The one bin function the q115/e12/s09 topologies share with their
    * oracles' count-of-edges replay. */
  val edgeBin = row(Some("edge_bin"), "edgeBin", Seq(doubles, DoubleType), _ => IntegerType)

  /** `element_at(edges, sketch_quantile_bin(sk, p))` reads the same
    * quantile value the DataFrame topology reports. It runs over
    * already-aggregated sketch rows, never the corpus. */
  val sketchQuantileBin = row(Some("sketch_quantile_bin"), "sketchQuantileBin",
    Seq(longs, DoubleType), _ => IntegerType)

  /** Presto ST_Intersects, two segments as x1,y1, x2,y2, x3,y3, x4,y4. */
  val stIntersects = row(Some("st_intersects"), "segmentsIntersect", Seq.fill(8)(DoubleType),
    _ => BooleanType)

  /** Presto ST_Distance, point to segment as px,py, x1,y1, x2,y2. */
  val stDistance = row(Some("st_distance"), "pointSegmentDist", Seq.fill(6)(DoubleType),
    _ => DoubleType)

  /** Presto ST_Area, polygon-shell case. */
  val stArea = row(Some("st_area"), "ringArea", ring, _ => DoubleType)

  /** Presto ST_Length / ST_Perimeter core. */
  val stLength = row(Some("st_length"), "ringLength", ring, _ => DoubleType)

  /** Presto ST_X(ST_Centroid(g)) and ST_Y(ST_Centroid(g)). */
  val stCentroidX = row(Some("st_centroid_x"), "ringCentroid", ring, _ => DoubleType,
    bound = Seq(Int.box(0)))
  val stCentroidY = row(Some("st_centroid_y"), "ringCentroid", ring, _ => DoubleType,
    bound = Seq(Int.box(1)))

  /** The t21 trainer's per-iteration hot path, codegen-native so the
    * vocabulary-sized merge application stays inside whole-stage codegen
    * (the lambda-HOF fold form pays interpreted eval per symbol). */
  val bpeMerge = row(Some("bpe_merge"), "bpeMerge", Seq.fill(3)(StringType), _ => StringType)

  /** The parsed geometry: the same (xs, ys) closed-ring / vertex-list
    * convention as st_area / st_length / point_in_polygon. */
  private val geometryType = StructType(Seq(
    StructField("gtype", StringType, nullable = false),
    StructField("xs", ArrayType(DoubleType, containsNull = false), nullable = false),
    StructField("ys", ArrayType(DoubleType, containsNull = false), nullable = false)))

  /** Presto ST_GeometryFromText, null on malformed input: one call per
    * row inside whole-stage codegen, so a 100 TB WKT column parses in
    * the scan projection. */
  val stGeometryFromText = row(Some("st_geometry_from_text"), "wktParse", Seq(StringType),
    _ => geometryType, nullResult = true)

  /** Presto ST_Area over a multi-ring polygon. */
  val stAreaWkt = row(Some("st_area_wkt"), "stAreaWkt", Seq(StringType), _ => DoubleType,
    nullResult = true)

  /** Presto ST_Contains, polygon-with-holes case. */
  val stContainsWkt = row(Some("st_contains_wkt"), "stContainsWkt",
    Seq(StringType, DoubleType, DoubleType), _ => BooleanType, nullResult = true)

  val stNumInteriorRings = row(Some("st_num_interior_rings"), "stNumInteriorRings",
    Seq(StringType), _ => IntegerType, nullResult = true)

  val stNumGeometries = row(Some("st_num_geometries"), "stNumGeometries", Seq(StringType),
    _ => IntegerType, nullResult = true)

  /** Presto ST_AsText, the inverse of st_geometry_from_text. */
  val stAsText = row(Some("st_as_text"), "wktText", Seq(StringType, doubles, doubles),
    _ => StringType, nullResult = true)

  /** Presto word_stem: only the default 'en' stemmer is served, so the
    * 2-arg form refuses any other language loudly. */
  val wordStem = row(Some("word_stem"), "porterStem", Seq(StringType), _ => StringType,
    params = Seq(Param("lang", literalString, Some("en"), "'en'",
      { case "en" => "en" }, toKernel = false)))

  /** Presto's user-facing ngrams(). The hashed-n-gram kernels remain the
    * shuffle-narrow scale path; this is the exploratory SQL surface. */
  val ngrams = row(Some("ngrams"), "ngrams", Seq(strings),
    in => ArrayType(ArrayType(StringType, nullsOf(in)), containsNull = false),
    params = Seq(Param("n", rule = ">= 1", check = { case n: Int if n >= 1 => Int.box(n) })))

  // Presto's keyed digest family: data first, key second, like Presto.
  Seq("hmac_md5" -> "HmacMD5", "hmac_sha1" -> "HmacSHA1",
      "hmac_sha256" -> "HmacSHA256", "hmac_sha512" -> "HmacSHA512").foreach {
    case (sql, algo) =>
      row(Some(sql), "hmac", Seq(BinaryType, BinaryType), _ => BinaryType, bound = Seq(algo))
  }

  // The fold/transform rows below replace CodegenFallback higher-order
  // functions on corpus-per-row paths. Each kernel's doc states the exact
  // expression it replicates; ExpressionsSpec pins bit-for-bit parity
  // with it (nulls, NaN, mismatch).

  val maxAbsF = row(None, "maxAbsF", Seq(floats), _ => DoubleType)

  val quantizeI8 = row(None, "quantizeI8", Seq(floats, DoubleType),
    in => ArrayType(LongType, nullsOf(in)))

  val longArraySum = row(None, "sumLong", Seq(longs), _ => LongType, nullResult = true,
    params = Seq(Param("abs", rule = "a boolean", check = { case b: Boolean => Boolean.box(b) })))

  val quantErrSq = row(None, "quantErrSq", Seq(floats, longs, DoubleType), _ => DoubleType,
    nullResult = true)

  val scaleLongs = row(None, "scaleLongs", Seq(longs, DoubleType),
    in => ArrayType(DoubleType, nullsOf(in)))

  val floatsToDoubles = row(None, "floatsToDoubles", Seq(floats),
    in => ArrayType(DoubleType, nullsOf(in)))

  val shingles3 = row(None, "shingles3", Seq(strings), _ => stringsOut)

  val minhashWords3 = row(None, "minhashWords3", Seq(strings), _ => longsOut,
    params = Seq(Param("k")))

  val winnowWords3 = row(None, "winnowWords3", Seq(strings), _ => longsOut,
    params = Seq(Param("w")))

  val chunkLongs = row(None, "chunkLongs", Seq(longs),
    in => ArrayType(ArrayType(LongType, nullsOf(in)), containsNull = false),
    params = Seq(Param("size")))

  val bigramPairs = row(None, "bigramPairs", Seq(strings), _ => ArrayType(
    StructType(Seq(StructField("w1", StringType), StructField("w2", StringType))),
    containsNull = false))

  val bigramStrings = row(None, "bigramStrings", Seq(strings), _ => ArrayType(StringType))

  val blocks16 = row(None, "blocks16", Seq(LongType), _ => longsOut)

  val wordGrams = row(None, "wordGrams", Seq(strings), _ => stringsOut,
    params = Seq(Param("k")))
}

/**
 * geometric_mean(double) -> double — Presto's geometric_mean aggregate,
 * which Spark's function library lacks, as a native DeclarativeAggregate:
 * the buffer is (sum of logs, count), so partial (map-side) aggregation
 * and codegen come for free from the algebraic form — exactly how a
 * custom aggregate should scale (merge is two additions, state is 16
 * bytes regardless of group size). Presto computes exp(avg(ln(x))) over
 * IEEE doubles, so out-of-domain inputs PROPAGATE rather than being
 * filtered: a negative or NaN input poisons the group to NaN
 * (ln off-domain), a zero drives it to 0 (exp(-inf)). This aggregate
 * reproduces that propagation exactly. Nulls are skipped, as in every
 * SQL aggregate; an all-null group evaluates to null.
 */
case class GeometricMean(child: Expression)
  extends org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
  with org.apache.spark.sql.catalyst.trees.UnaryLike[Expression] {

  override def nullable: Boolean = true
  override def dataType: DataType = DoubleType

  private lazy val sumLog = AttributeReference("sumLog", DoubleType, nullable = false)()
  private lazy val n = AttributeReference("n", LongType, nullable = false)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] = Seq(sumLog, n)
  override lazy val initialValues: Seq[Expression] = Seq(Literal(0.0), Literal(0L))

  private def x: Expression = Cast(child, DoubleType)

  // Presto's ln over doubles: ln(x>0) real, ln(0) = -Infinity, ln(x<0)
  // and ln(NaN) = NaN. Spark's Log returns NULL off-domain and the
  // buffer is non-nullable, so the two poison branches are spelled out.
  // (NaN ranks above 0 under Spark's ordering, so a NaN input takes the
  // Log branch — whose NaN <= 0 guard is a primitive comparison that
  // NaN fails, yielding Math.log(NaN) = NaN. Both routes poison.)
  private def lnPresto: Expression =
    If(GreaterThan(x, Literal(0.0)), Log(x),
      If(EqualTo(x, Literal(0.0)), Literal(Double.NegativeInfinity),
        Literal(Double.NaN)))

  override lazy val updateExpressions: Seq[Expression] = Seq(
    If(IsNotNull(child), Add(sumLog, lnPresto), sumLog),
    If(IsNotNull(child), Add(n, Literal(1L)), n))

  override lazy val mergeExpressions: Seq[Expression] = Seq(
    Add(sumLog.left, sumLog.right),
    Add(n.left, n.right))

  override lazy val evaluateExpression: Expression =
    If(EqualTo(n, Literal(0L)), Literal(null, DoubleType),
      Exp(Divide(sumLog, Cast(n, DoubleType))))

  override protected def withNewChildInternal(c: Expression): GeometricMean =
    copy(child = c)
}

/**
 * bloom_build(string) -> binary — aggregate a string column into a
 * fixed-size Bloom filter (the Presto-side analog is the engine's
 * runtime dynamic filtering; here it is a first-class aggregate so a
 * pipeline can materialize a membership sketch and ship it).
 *
 * Scale shape: the buffer is a CONSTANT `numBits/8` bytes regardless of
 * input cardinality, partials merge by bytewise OR (commutative,
 * associative), so the plan is a map-side-combined tree-reduce to one
 * 64 KiB-ish blob — the driver never holds more than the filter itself.
 * Deterministic: the bit positions come from the same FNV-1a64+mix
 * kernel as the MinHash family, so the same inputs give the same bytes
 * on every engine/JVM.
 */
case class BloomFilterBuild(
    child: Expression,
    numBits: Int,
    numHashes: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate[Array[Byte]]
  with org.apache.spark.sql.catalyst.trees.UnaryLike[Expression] {

  require(numBits > 0 && (numBits & 7) == 0,
    s"bloom_build: numBits must be a positive multiple of 8, got $numBits")
  require(numHashes > 0, s"bloom_build: numHashes must be positive, got $numHashes")

  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType

  override def createAggregationBuffer(): Array[Byte] = new Array[Byte](numBits >>> 3)

  override def update(buf: Array[Byte], input: InternalRow): Array[Byte] = {
    val v = child.eval(input)
    if (v != null) Kernels.bloomSet(buf, v.asInstanceOf[UTF8String], numHashes)
    buf
  }

  override def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    var i = 0
    while (i < a.length) { a(i) = (a(i) | b(i)).toByte; i += 1 }
    a
  }

  override def eval(buf: Array[Byte]): Any = buf
  override def serialize(buf: Array[Byte]): Array[Byte] = buf
  override def deserialize(bytes: Array[Byte]): Array[Byte] = bytes

  override def withNewMutableAggBufferOffset(newOffset: Int): BloomFilterBuild =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BloomFilterBuild =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(c: Expression): BloomFilterBuild =
    copy(child = c)
}

/** The buffer both sketch aggregates share: a dense array<bigint> of
  * per-bin counts that grows to the highest bin seen and merges by
  * elementwise addition (commutative, associative — map-side combine for
  * free). Subclasses differ only in how one input row updates it. */
abstract class BinCountsAggregate
  extends org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate[Array[Long]]
  with org.apache.spark.sql.catalyst.trees.UnaryLike[Expression] {

  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def createAggregationBuffer(): Array[Long] = Array.emptyLongArray

  protected def grown(buf: Array[Long], n: Int): Array[Long] =
    if (buf.length >= n) buf else java.util.Arrays.copyOf(buf, n)

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    val m = grown(a, b.length)
    var i = 0
    while (i < b.length) { m(i) += b(i); i += 1 }
    m
  }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8 * buf.length)
    bb.asLongBuffer().put(buf)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val out = new Array[Long](bytes.length / 8)
    java.nio.ByteBuffer.wrap(bytes).asLongBuffer().get(out)
    out
  }
}

/**
 * quantile_sketch_agg(bin) -> array<bigint> — the SQL-surface form of the
 * [[graft.operators.QuantileSketch]] histogram sketch (Presto parity:
 * qdigest_agg, which 0.248 exposes as a SQL aggregate): per-group bin
 * counts as a dense array indexed by 1-based bin. The buffer grows to the
 * highest bin actually seen (so callers don't pass a bins constant) and
 * is CONSTANT-sized per group regardless of group cardinality: the scale
 * shape that makes a two-level percentile rollup (leaf sketch → merged
 * sketch) run without re-touching the corpus. Deterministic by
 * construction — unlike qdigest's engine-defined internals, the array is
 * hash-verifiable cross-engine.
 */
case class QuantileSketchAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0) extends BinCountsAggregate {

  /** Runaway-memory guard: a bin index beyond this is a caller bug (the
    * q115 topology uses 256), not a bigger sketch. */
  private val MaxBins = 1 << 20

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v == null) buf
    else {
      val bin = v match {
        case i: Int => i.toLong
        case l: Long => l
        case other => throw new IllegalArgumentException(
          s"quantile_sketch_agg: bin must be integral, got $other")
      }
      require(bin >= 1 && bin <= MaxBins,
        s"quantile_sketch_agg: bin must be in [1, $MaxBins], got $bin")
      val b = grown(buf, bin.toInt)
      b(bin.toInt - 1) += 1
      b
    }
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): QuantileSketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): QuantileSketchAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(c: Expression): QuantileSketchAgg =
    copy(child = c)
}

/**
 * quantile_sketch_merge(array<bigint>) -> array<bigint> — Presto's
 * merge(qdigest) for the graft sketch: elementwise-sum already-reduced
 * sketches, so a rollup level aggregates O(groups x bins) sketch rows and
 * never re-touches the corpus. Shorter arrays pad with zeros (a leaf that
 * never saw high bins merges correctly).
 */
case class QuantileSketchMerge(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0) extends BinCountsAggregate {

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v == null) buf
    else {
      val arr = v.asInstanceOf[ArrayData]
      val m = grown(buf, arr.numElements())
      var i = 0
      while (i < arr.numElements()) { m(i) += arr.getLong(i); i += 1 }
      m
    }
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): QuantileSketchMerge =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): QuantileSketchMerge =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(c: Expression): QuantileSketchMerge =
    copy(child = c)
}
