package graft

import org.apache.spark.unsafe.types.UTF8String

import graft.functions.Kernels

/** Randomized property harness for the winnowing kernel: the guarantees
  * that justify d10 over fixed-stride chunking (d08), checked on seeded
  * random word streams so boundary cases (runs at doc edges, repeated
  * words, minimum-length runs) are exercised beyond the hand-built spec.
  * Seeds are fixed — failures reproduce, never flake. */
class WinnowPropertySpec extends GraftSpec {

  private val W = 4 // window width, matching Dedup.WinnowW

  private def shingles(words: IndexedSeq[String]): IndexedSeq[String] =
    if (words.length < 3) IndexedSeq.empty
    else (0 to words.length - 3).map(i => s"${words(i)} ${words(i + 1)} ${words(i + 2)}")

  private def fps(words: IndexedSeq[String]): Set[Long] = {
    val hs = shingles(words).map(s => Kernels.hash64(UTF8String.fromString(s), 0L))
    if (hs.length < W) Set.empty
    else (0 to hs.length - W).map(i => (i until i + W).map(hs).min).toSet
  }

  private def randWords(r: scala.util.Random, n: Int): IndexedSeq[String] =
    IndexedSeq.fill(n)(s"w${r.nextInt(50)}")

  test("kernel agrees with the reference fingerprint definition on random docs") {
    import spark.implicits._
    for (seed <- 1 to 10) {
      val r = new scala.util.Random(seed)
      val words = randWords(r, 5 + r.nextInt(120))
      val got = Seq(Tuple1(shingles(words)))
        .toDF("sh")
        .select(graft.functions.GraftFunctions.winnowFps($"sh", W).as("fps"))
        .head().getSeq[Long](0).toSet
      assert(got == fps(words), s"seed $seed")
    }
  }

  test("shingle_hash64 kernel equals hash64 of the joined gram on random docs") {
    import spark.implicits._
    // the d13 kernel's contract: out(p) == hash64(words[p..p+k-1].mkString(" "))
    // for every position, across random word streams including repeats,
    // empty-ish words, and docs shorter than k
    for (seed <- 1 to 10) {
      val r = new scala.util.Random(seed)
      val k = 2 + r.nextInt(7)
      val words = randWords(r, r.nextInt(60))
      val expected =
        if (words.length < k) Seq.empty[Long]
        else (0 to words.length - k).map(p =>
          Kernels.hash64(UTF8String.fromString(
            words.slice(p, p + k).mkString(" ")), 0L))
      val got = Seq(Tuple1(words))
        .toDF("w")
        .select(graft.functions.GraftFunctions.shingleHash64($"w", k).as("hs"))
        .head().getSeq[Long](0)
      assert(got == expected, s"seed $seed k=$k n=${words.length}")
    }
  }

  test("guarantee: any shared run of ≥ w+2 words yields a shared fingerprint") {
    for (seed <- 1 to 20) {
      val r = new scala.util.Random(seed)
      // a shared run of exactly w+2 = 6 words (the minimum the guarantee
      // covers: 4 shingles fully inside -> 1 full window) inside two
      // otherwise-unrelated word streams, at random positions
      val run = IndexedSeq.tabulate(W + 2)(i => s"shared${seed}x$i")
      def host(prefixLen: Int, suffixLen: Int, tag: String) =
        randWords(r, prefixLen).map(w => s"$tag$w") ++ run ++
          randWords(r, suffixLen).map(w => s"$tag$w")
      val a = host(r.nextInt(40), r.nextInt(40), "a")
      val b = host(r.nextInt(40), r.nextInt(40), "b")
      assert((fps(a) & fps(b)).nonEmpty, s"seed $seed")
    }
  }

  test("robustness: inserting one word preserves most fingerprints") {
    for (seed <- 1 to 10) {
      val r = new scala.util.Random(seed)
      val words = randWords(r, 60 + r.nextInt(60))
      val pos = r.nextInt(words.length)
      val edited = (words.take(pos) :+ s"inserted$seed") ++ words.drop(pos)
      val (fa, fb) = (fps(words), fps(edited))
      // the edit can only disturb fingerprints whose windows touch it; the
      // untouched majority must survive (>= half is a loose floor — the
      // typical overlap is far higher)
      assert((fa & fb).size * 2 >= fa.size, s"seed $seed: ${(fa & fb).size}/${fa.size}")
    }
  }

  test("shingle_hash64 matches concat_ws byte-for-byte on arrays containing nulls") {
    import spark.implicits._
    import org.apache.spark.sql.functions.expr
    // concat_ws SKIPS nulls (and their separator) but keeps empty strings
    // (with separators) — the kernel must reproduce both, per position
    for (seed <- 1 to 5) {
      val r = new scala.util.Random(seed)
      val k = 2 + r.nextInt(4)
      val words: Seq[String] = (0 until 12 + r.nextInt(10)).map { _ =>
        r.nextInt(5) match {
          case 0 => null
          case 1 => ""
          case _ => s"w${r.nextInt(40)}"
        }
      }
      val df = Seq(Tuple1(words)).toDF("w")
      val got = df.select(expr(s"shingle_hash64(w, $k)")).head().getSeq[Long](0)
      val wantCols = (0 to words.length - k).map(p =>
        expr(s"hash64(concat_ws(' ', slice(w, ${p + 1}, $k)))"))
      val wantRow = df.select(wantCols: _*).head()
      val want = (0 to words.length - k).map(wantRow.getLong)
      assert(got == want, s"seed $seed k=$k words=$words")
    }
  }
}
