package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{GraftFunctions, Kernels}
import graft.sources.Tables

/**
 * Text-analysis operators for LLM training-data pipelines: language ID,
 * quality scoring, token counting, fingerprinting. All built from
 * codegen'd builtins (no UDFs) so they run inside whole-stage codegen over
 * arbitrarily many partitions.
 */
object TextAnalysis {

  /** Occurrences of `marker` in `padded` (space-padded text), as double. */
  private def occ(padded: Column, marker: String): Column =
    (length(padded) - length(replace(padded, lit(marker), lit("")))) /
      lit(marker.length)

  /**
   * t01: heuristic language ID. Marker-stopword voting (de/fr/es) + CJK
   * codepoint detection (zh), defaulting to en. Deliberately simple and
   * SQL-expressible so the oracle can replay it; real-corpus accuracy is
   * exercised in TextAnalysisSpec with genuine multilingual sentences.
   */
  def langid(s: SparkSession, d: String): DataFrame = {
    val padded = concat(lit(" "), lower(col("text")), lit(" "))
    val de = occ(padded, " der ") + occ(padded, " und ") + occ(padded, " das ") + occ(padded, " nicht ")
    val fr = occ(padded, " le ") + occ(padded, " la ") + occ(padded, " les ") + occ(padded, " est ")
    val es = occ(padded, " el ") + occ(padded, " los ") + occ(padded, " que ") + occ(padded, " una ")
    // existence test, not a count: rlike stops at the first CJK char
    // instead of regex-replacing the whole text (same predicate outcome)
    val zh = col("text").rlike("[\\x{4e00}-\\x{9fff}]")
    Tables.documents(s, d)
      // score each language ONCE per row: referencing `de` three times in
      // the when-chain would otherwise re-run its 4 replace() scans per
      // reference (CollapseProject keeps multi-referenced exprs separate)
      .select(col("doc_id"), col("lang"),
        de.as("de"), fr.as("fr"), es.as("es"), zh.as("zh"))
      .select(col("doc_id"), col("lang"),
        when(col("zh"), "zh")
          .when(col("de") > col("fr") && col("de") > col("es") && col("de") > 0, "de")
          .when(col("fr") > col("es") && col("fr") > 0, "fr")
          .when(col("es") > 0, "es")
          .otherwise("en").as("pred"))
      .orderBy(col("doc_id"))
  }

  /** Quality score of a text column in [0,1]: token-count saturation,
    * stopword share, and average token length band. Reused by t02 and the
    * curation pipeline (same arithmetic as the SQL oracle). */
  def qualityScore(text: Column): Column = {
    val padded = concat(lit(" "), lower(text), lit(" "))
    val nTokens = size(split(trim(text), "\\s+"))
    val stops = occ(padded, " the ") + occ(padded, " a ") + occ(padded, " and ") + occ(padded, " of ")
    val avgTok = (length(text) - (nTokens - lit(1))).cast("double") / nTokens
    least(lit(1.0), nTokens.cast("double") / lit(100.0)) * lit(0.5) +
      least(lit(1.0), stops * lit(10.0) / nTokens) * lit(0.3) +
      when(avgTok.between(3.0, 8.0), lit(0.2)).otherwise(lit(0.0))
  }

  /** t02: quality score from length, stopword share, and avg token length. */
  def quality(s: SparkSession, d: String): DataFrame = {
    val nTokens = size(split(trim(col("text")), "\\s+"))
    val punct = length(col("text")) - length(regexp_replace(col("text"), "[.,!?;:]", ""))
    Tables.documents(s, d)
      .select(col("doc_id"), nTokens.as("n_tokens"), punct.as("n_punct"),
        round(qualityScore(col("text")), 6).as("score"))
      .orderBy(col("doc_id"))
  }

  /** t03: token counting — whitespace tokens and a BPE-ish regex
    * (letter-runs | single digits | single punctuation). */
  def tokens(s: SparkSession, d: String): DataFrame = {
    val ws = size(split(trim(col("text")), "\\s+"))
    val bpe = size(regexp_extract_all(col("text"),
      lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"), lit(0)))
    Tables.documents(s, d)
      .select(col("doc_id"), ws.as("ws_tokens"), bpe.as("bpe_tokens"),
        round(length(col("text")).cast("double") / ws, 6).as("chars_per_token"))
      .orderBy(col("doc_id"))
  }

  /** t05: text normalization — lower-case, stopword removal, whitespace
    * collapse. The cleaning kernel every corpus pipeline runs before
    * shingling/fingerprinting; pure codegen'd array lambdas. */
  def normalize(s: SparkSession, d: String): DataFrame = {
    val words = split(lower(trim(col("text"))), "\\s+")
    val kept = filter(words, w => !w.isin("the", "a", "and", "of"))
    Tables.documents(s, d)
      .select(col("doc_id"),
        array_join(kept, " ").as("cleaned"),
        (size(words) - size(kept)).as("n_removed"))
      .orderBy(col("doc_id"))
  }

  /** t06: corpus-wide top bigram frequencies — the n-gram statistics pass
    * of corpus analysis (language modeling priors, boilerplate detection).
    * One scan, words materialized once, bigrams via index transform. */
  def bigrams(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(split(lower(col("text")), "\\s+").as("w"))
      // 0/1-token docs: sequence(0,-1) yields the DESCENDING [0,-1] in Spark,
      // which would emit spurious NULL bigrams — drop them before expanding.
      .filter(size(col("w")) >= 2)
      .select(explode(GraftFunctions.bigramStrings(col("w"))).as("bg"))
      .groupBy(col("bg"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bg"))
      .limit(50)

  /**
   * t07: repetition signals (Gopher-style quality heuristics) — duplicate
   * word fraction and most-frequent-word share per document. Repetitive
   * machine-generated text scores high on both; corpus filters threshold
   * them. One hash shuffle on (doc_id, word) with partial aggregation; the
   * per-doc rollup is a second small shuffle on doc_id.
   */
  def repetition(s: SparkSession, d: String): DataFrame =
    // fanout (r20): the explode + map-side partial agg fused into the scan
    // serialize on the one-row-group layout; identity when row groups >=
    // cores (see Tables.fanout). A/B sf0.1: 0.70 -> 0.47 s.
    repetition(Tables.fanout(s, d, "documents"))

  /** Same kernel over any (doc_id, text) frame — the unit-testable form. */
  def repetition(docs: DataFrame): DataFrame = {
    val perWord = docs
      .select(col("doc_id"), explode(split(lower(trim(col("text"))), "\\s+")).as("w"))
      .groupBy(col("doc_id"), col("w"))
      .agg(count(lit(1)).as("cnt"))
    // top word per doc: highest count, lexicographically-first tiebreak
    val wTop = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
      .orderBy(col("cnt").desc, col("w"))
    perWord
      .withColumn("rn", row_number().over(wTop))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("cnt")).as("n_words"),
        count(lit(1)).as("n_distinct"),
        max(when(col("rn") === 1, col("w"))).as("top_word"),
        max(when(col("rn") === 1, col("cnt"))).as("top_cnt"))
      .select(col("doc_id"), col("n_words"), col("n_distinct"),
        round(lit(1.0) - col("n_distinct").cast("double") / col("n_words"), 6)
          .as("dup_word_frac"),
        col("top_word"),
        round(col("top_cnt").cast("double") / col("n_words"), 6).as("top_word_frac"))
      .orderBy(col("doc_id"))
  }

  // PII patterns shared by the Spark kernel and the DuckDB oracle (Java
  // regex and RE2 agree on these constructs: char classes, bounded reps, \b).
  private[graft] val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[graft] val Ipv4Re = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
  private[graft] val PhoneRe = "\\b555-[0-9]{4}\\b"

  /**
   * t08: PII detection + redaction — the scrubbing pass every training
   * corpus runs before release. The corpus is synthetic, so deterministic
   * PII is injected into every 5th document first (id-derived email, IP,
   * phone); the detection/redaction kernel below is the real operator:
   * count matches, then regexp-replace each class with a typed tag. Pure
   * codegen'd regex builtins — a narrow projection, no shuffle, and the
   * oracle replays the same regexes so a missed match breaks the hash.
   */
  def piiRedact(s: SparkSession, d: String): DataFrame =
    // fanout (r20): 6 regex passes/doc fused into the scan serialize on a
    // one-row-group layout (1 task however many cores) — and the final
    // global sort's range-sampling pass re-executes the whole projection,
    // doubling it. Spreading the scan parallelizes both passes; identity
    // on row groups >= cores. A/B sf0.1: 1.20 -> 0.47 s.
    piiRedact(Tables.fanout(s, d, "documents"))

  /** Same kernel over any (doc_id, text) frame — the unit-testable form. */
  def piiRedact(docs: DataFrame): DataFrame = {
    val injected = when(col("doc_id") % 5 === 0,
      concat(col("text"),
        lit(" contact user"), col("doc_id"), lit("@example.com from "),
        lit("10.0."), pmod(col("doc_id"), lit(256)), lit(".7 call 555-"),
        lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0")))
      .otherwise(col("text"))
    val redacted =
      regexp_replace(
        regexp_replace(
          regexp_replace(col("t"), EmailRe, "<EMAIL>"),
          Ipv4Re, "<IP>"),
        PhoneRe, "<PHONE>")
    docs
      .select(col("doc_id"), injected.as("t"))
      .select(col("doc_id"),
        size(regexp_extract_all(col("t"), lit(EmailRe), lit(0))).as("n_emails"),
        size(regexp_extract_all(col("t"), lit(Ipv4Re), lit(0))).as("n_ips"),
        size(regexp_extract_all(col("t"), lit(PhoneRe), lit(0))).as("n_phones"),
        md5(redacted).as("redacted_md5"),
        length(redacted).as("redacted_len"))
      .orderBy(col("doc_id"))
  }

  /**
   * t09: TF-IDF keyword extraction — top-5 terms per source by summed
   * tf·idf, the classic corpus-characterization pass (what distinguishes
   * this slice of the corpus from the rest). Scale shape: one (doc, word)
   * count shuffle, a document-frequency rollup joined back on the word key,
   * and a per-source top-k window over the (source, word) aggregate — the
   * corpus text itself is scanned once. Scores are rounded BEFORE ranking
   * so cross-engine last-ulp log() jitter cannot flip ranks.
   */
  def tfidf(s: SparkSession, d: String): DataFrame = {
    // NOT fanned out (r20 A/B): 0.85 -> 0.84 s, inside noise — the
    // (doc, word) partial agg already shuffles right after the scan.
    val docs = Tables.documents(s, d)
    val tf = docs
      .select(col("doc_id"), col("source"),
        explode(split(lower(trim(col("text"))), "\\s+")).as("w"))
      .groupBy(col("doc_id"), col("source"), col("w"))
      .agg(count(lit(1)).as("cnt"))
    val withLen = tf.withColumn("doc_len",
      sum(col("cnt")).over(org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))))
    val df = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(countDistinct(col("doc_id")).as("n_docs"))
    val scored = withLen
      .join(df, Seq("w"))
      .crossJoin(broadcast(nDocs))
      .groupBy(col("source"), col("w"))
      // decimal accumulation -> the sum is independent of partition order
      // (scale 12: fine enough for 6dp output, coarse enough that the two
      // engines' double->decimal conversions agree)
      .agg(round(sum(
        ((col("cnt").cast("double") / col("doc_len")) *
          log(col("n_docs").cast("double") / col("df")))
          .cast(org.apache.spark.sql.types.DecimalType(26, 12))).cast("double"), 6)
        .as("score"))
    val wTop = org.apache.spark.sql.expressions.Window.partitionBy(col("source"))
      .orderBy(col("score").desc, col("w"))
    scored
      .withColumn("rank", row_number().over(wTop))
      .filter(col("rank") <= 5)
      .select(col("source"), col("rank"), col("w").as("word"), col("score"))
      .orderBy(col("source"), col("rank"))
  }

  /**
   * t20: per-DOCUMENT keyword extraction — top-3 TF-IDF terms per doc
   * (the metadata enrichment step between scoring and indexing; t09's
   * per-source aggregate can't serve it — keywords are a per-doc
   * artifact). Score = tf · ln(N/df); within one doc the doc-length
   * factor is constant, so raw counts rank identically and nothing
   * divides. Ranking runs over the ROUNDED score with the word as
   * tiebreak (the t09 discipline — no unrounded libm value ever
   * decides an order). Two vocabulary-bounded shuffles ((doc, word)
   * counts and doc frequencies), a broadcast 1-row N, then a per-doc
   * window bounded by the doc's distinct words — text never shuffles.
   */
  def keywords(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val tf = docs
      .select(col("doc_id"), explode(split(lower(trim(col("text"))), "\\s+")).as("w"))
      .groupBy(col("doc_id"), col("w"))
      .agg(count(lit(1)).as("cnt"))
    val dfx = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(countDistinct(col("doc_id")).as("n_docs"))
    val scored = tf.join(dfx, Seq("w"))
      .crossJoin(broadcast(nDocs))
      .select(col("doc_id"), col("w"),
        round(col("cnt").cast("double") *
          log(col("n_docs").cast("double") / col("df").cast("double")), 6)
          .as("score"))
    val wTop = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("score").desc, col("w"))
    scored
      .withColumn("rank", row_number().over(wTop))
      .filter(col("rank") <= 3)
      .select(col("doc_id"), col("rank"), col("w").as("keyword"), col("score"))
      .orderBy(col("doc_id"), col("rank"))
  }

  /** t10: unigram language-model scoring — the cheapest useful
    * perplexity proxy for corpus quality filtering (a doc of globally
    * rare tokens scores low; a doc of common tokens scores high;
    * gibberish sinks). Pass 1 aggregates corpus word frequencies (a
    * vocabulary-bounded shuffle); pass 2 joins each word instance to its
    * log-probability on the word key and averages per doc. The corpus
    * text is scanned twice and shuffled only as (word, count) pairs —
    * never as documents. Decimal accumulation of the per-word logs makes
    * the per-doc average independent of partition order. */
  def unigramLm(s: SparkSession, d: String): DataFrame = {
    val words = Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
    val freqs = words.groupBy(col("w")).agg(count(lit(1)).as("wn"))
    val total = words.agg(count(lit(1)).as("tot"))
    words.join(freqs, Seq("w"))
      .crossJoin(broadcast(total))
      .select(col("doc_id"),
        log(col("wn").cast("double") / col("tot").cast("double")).as("logp"))
      .groupBy(col("doc_id"))
      // 4dp rounding of the per-doc mean in exact INTEGER space (the t24
      // discipline): logp < 0 always (wn < tot), so the negated decimal
      // sum scales to positive whole micro-units and round(S/(1e6·n), 4)
      // = (S + 50n) div (100n); rounding after a DOUBLE division forks
      // engines on .xxxx5 midpoints (caught by the r15 sf1.0 full gate
      // on the bigram twin). The final /-10000.0 is one IEEE divide of
      // an integer both engines share bit-for-bit.
      .agg(
        count(lit(1)).as("n_tokens"),
        (sum(col("logp").cast(org.apache.spark.sql.types.DecimalType(18, 6)))
          * lit(-1000000L)).cast("long").as("s_micro"))
      .select(col("doc_id"), col("n_tokens"),
        (expr("(s_micro + 50 * n_tokens) DIV (100 * n_tokens)")
          .cast("double") / -10000.0).as("avg_logp"))
      .orderBy(col("doc_id"))
  }

  /**
   * t11: Gopher-style rule filters — the rule battery (Rae et al. 2021,
   * §A1.1) every web-corpus pipeline runs before model-based scoring:
   * word-count bounds, mean-word-length band, alphabetic-word fraction,
   * stopword presence. Pure narrow projection over codegen builtins (one
   * corpus scan, no shuffle); each signal is emitted alongside the verdict
   * so downstream can re-threshold without re-scanning.
   */
  def gopherQuality(s: SparkSession, d: String): DataFrame = {
    val words = split(trim(col("text")), "\\s+")
    val padded = concat(lit(" "), lower(col("text")), lit(" "))
    val nWords = size(words)
    // single-space-separated corpus: non-space chars / words = mean length
    val meanLen = (length(col("text")) - (nWords - lit(1))).cast("double") / nWords
    val alphaFrac = size(filter(words, w => w.rlike("^[A-Za-z]+$"))).cast("double") / nWords
    val stops = (occ(padded, " the ") + occ(padded, " a ") +
      occ(padded, " and ") + occ(padded, " of ")).cast("int")
    Tables.documents(s, d)
      .select(col("doc_id"), nWords.cast("long").as("n_words"),
        round(meanLen, 4).as("mean_word_len"),
        round(alphaFrac, 4).as("alpha_frac"), stops.as("n_stopwords"))
      .withColumn("keep",
        col("n_words").between(50, 100000) &&
          col("mean_word_len").between(3.0, 10.0) &&
          col("alpha_frac") >= 0.8 && col("n_stopwords") >= 1)
      .orderBy(col("doc_id"))
  }

  /** BM25 parameters + fixed query-term set (shared with the oracle). */
  private[graft] val Bm25K1 = 1.2
  private[graft] val Bm25B = 0.75
  private[graft] val Bm25Terms = Seq("spark", "query", "join", "vector", "stream")

  /**
   * t12: BM25 relevance scoring against a FIXED query-term set — the
   * retrieval scorer for corpus search / RAG indexing. The scale trick:
   * the corpus is never exploded to words. Each doc fans out only to the
   * |Q| query terms (a bounded 5× narrow expansion); tf is an exact
   * word-boundary count (`size(filter(split(...)))`, still narrow — the
   * words array never leaves the row); df and avgdl are one tiny
   * aggregate broadcast back. So: one corpus scan, one |Q|-row
   * broadcast, one doc_id-keyed rollup of 5 rows each — no (doc, word)
   * shuffle at any point. Per-term products decimal-accumulate before the
   * 4dp round.
   */
  def bm25(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val words = split(lower(trim(col("text"))), "\\s+")
    val dl = size(split(trim(col("text")), "\\s+"))
    // (doc_id, dl, term, tf): exact count of words equal to the term —
    // unlike the earlier padded-substring delta, adjacent duplicates
    // ("cat cat") each count (they shared a delimiter space before)
    val tf = size(filter(col("ws"), w => w === col("term"))).cast("double")
    val perTerm = Tables.documents(s, d)
      .select(col("doc_id"), words.as("ws"), dl.as("dl"))
      .select(col("doc_id"), col("dl"),
        explode(typedLit(Bm25Terms)).as("term"), col("ws"))
      .select(col("doc_id"), col("dl"), col("term"), tf.as("tf"))
    val stats = perTerm.groupBy(col("term"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("tf") > 0, 1).otherwise(0)).as("df"))
    val avgdl = Tables.documents(s, d)
      .agg((sum(dl.cast(DecimalType(18, 2))).cast("double") /
        count(lit(1))).as("avgdl"))
    val idf = log((col("n_docs") - col("df") + lit(0.5)) /
      (col("df") + lit(0.5)) + lit(1.0))
    val contrib = idf * col("tf") * (lit(Bm25K1) + 1.0) /
      (col("tf") + lit(Bm25K1) * (lit(1.0) - lit(Bm25B) +
        lit(Bm25B) * col("dl").cast("double") / col("avgdl")))
    perTerm
      .join(broadcast(stats), Seq("term"))
      .crossJoin(broadcast(avgdl))
      .groupBy(col("doc_id"))
      .agg(max(col("dl")).cast("long").as("n_tokens"),
        round(sum(contrib.cast(DecimalType(26, 12))).cast("double"), 4).as("bm25"))
      .filter(col("bm25") > 0)
      .orderBy(col("doc_id"))
  }

  /**
   * t13: Zipf rank–frequency fit — the corpus-health diagnostic (natural
   * language tracks slope ≈ −1 on log-log rank/frequency; template spam
   * and gibberish bend it). Word counts shuffle vocabulary-bounded
   * (word, n) pairs; the top-100 ranks come from a TakeOrdered (bounded
   * driver/exchange, never a global sort of the vocabulary); the OLS slope
   * is computed from decimal-accumulated Σx, Σy, Σxy, Σx² over 8dp-rounded
   * logs — the same closed form the oracle replays (builtin regr_slope
   * accumulates engine-specifically; the closed form is exact).
   */
  def zipfSlope(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val counts = Tables.documents(s, d)
      .select(explode(split(lower(trim(col("text"))), "\\s+")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("n"))
    val vocab = counts.agg(count(lit(1)).as("n_vocab"))
    val top = counts.orderBy(col("n").desc, col("w")).limit(100)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("n").desc, col("w"))))
    val x = round(log(col("rank").cast("double")), 8)
    val y = round(log(col("n").cast("double")), 8)
    def dsum(c: org.apache.spark.sql.Column) = sum(c.cast(DecimalType(28, 12))).cast("double")
    val fit = top
      .select(x.as("x"), y.as("y"))
      .agg(count(lit(1)).cast("double").as("k"),
        dsum(col("x")).as("sx"), dsum(col("y")).as("sy"),
        dsum(col("x") * col("y")).as("sxy"), dsum(col("x") * col("x")).as("sxx"))
    val slope = (col("k") * col("sxy") - col("sx") * col("sy")) /
      (col("k") * col("sxx") - col("sx") * col("sx"))
    fit.crossJoin(broadcast(vocab))
      .select(col("n_vocab"), col("k").cast("long").as("n_top"),
        round(slope, 4).as("zipf_slope"),
        round((col("sy") - slope * col("sx")) / col("k"), 4).as("intercept"))
  }

  /**
   * t14: per-document word entropy — the information-density quality
   * signal (templated/repetitive text scores low, natural prose high;
   * complements t07's repetition ratios with the proper Shannon measure).
   * H = −Σ (c/n)·ln(c/n) over the doc's word distribution. Same scale
   * shape as t07: one (doc, word) count shuffle with partial aggregation,
   * then a per-doc rollup; entropy terms decimal-accumulate so the sum is
   * partition-order independent.
   */
  def entropy(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val perWord = Tables.documents(s, d)
      .select(col("doc_id"), explode(split(lower(trim(col("text"))), "\\s+")).as("w"))
      .groupBy(col("doc_id"), col("w"))
      .agg(count(lit(1)).as("cnt"))
    val withLen = perWord.withColumn("n",
      sum(col("cnt")).over(org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))))
    val p = col("cnt").cast("double") / col("n")
    withLen
      .groupBy(col("doc_id"))
      .agg(max(col("n")).as("n_words"),
        count(lit(1)).as("n_distinct"),
        round(-sum((p * log(p)).cast(DecimalType(26, 12))).cast("double"), 6)
          .as("entropy"))
      .orderBy(col("doc_id"))
  }

  /**
   * t15: BPE merge-pair statistics — the first iteration of byte-pair-
   * encoding tokenizer training: count adjacent symbol pairs across the
   * corpus weighted by word frequency (the top pair is the first merge
   * rule). Pre-tokenization is GPT-2 style lowercase letter runs
   * (`[a-z]+`), which also pins both engines to ASCII one-char symbols so
   * substring semantics can't fork on multi-byte code points. Scale
   * shape: the corpus explodes once to words and aggregates to the
   * (word, n) VOCABULARY in Spark ([[wordCounts]], the only corpus-sized
   * work); the pair fan-out is step 1 of the t21 trainer's counter
   * ([[pairCounts]]) over the collected table on the driver — exactly why
   * real BPE trainers (GPT-2, SentencePiece) train on word-frequency
   * tables, not raw text. The top 50 come back as a local frame.
   */
  def bpePairs(s: SparkSession, d: String): DataFrame =
    s.createDataFrame(pairCounts(symbols(wordCounts(Tables.documents(s, d)))).toSeq
      .sorted(PairOrder).take(50)).toDF("pair", "pair_count")

  /** The corpus's `[a-z]+` words of lower(text), one row per occurrence. */
  private val azWords: Column =
    explode(regexp_extract_all(lower(col("text")), lit("[a-z]+"), lit(0))).as("w")

  /** The (word, n) table of a (text) frame, collected: the one Spark
    * query of t15/t21/t22 and their only corpus-sized work. Every word is
    * kept, 1-char words too. The driver holds one (String, Long) per
    * distinct word; `spark.driver.maxResultSize` bounds the collect and
    * fails it loudly past that. */
  private[graft] def wordCounts(docs: DataFrame): Seq[(String, Long)] =
    docs.select(azWords).groupBy(col("w")).agg(count(lit(1)))
      .collect().toSeq.map(r => (r.getString(0), r.getLong(1)))

  /** The training vocabulary: words of at least 2 characters, each with
    * its symbols space-joined (the [[Kernels.bpeMerge]] form) and n. */
  private def symbols(words: Seq[(String, Long)]): Seq[(String, UTF8String, Long)] =
    words.collect { case (w, n) if w.length >= 2 => (w, UTF8String.fromString(w.mkString(" ")), n) }

  /** Adjacent symbol-pair counts ("a b" -> Σ n) of a training vocabulary.
    * Overflow throws ArithmeticException, as the ANSI SUM did. */
  private def pairCounts(vocab: Seq[(String, UTF8String, Long)]): collection.Map[String, Long] = {
    val counts = collection.mutable.HashMap.empty[String, Long]
    for ((_, syms, n) <- vocab; sy = syms.toString.split(" "); i <- 1 until sy.length)
      counts.updateWith(s"${sy(i - 1)} ${sy(i)}")(c => Some(Math.addExact(c.getOrElse(0L), n)))
    counts
  }

  /** Highest count first; ties go to the smallest pair in UTF-8 byte
    * order, which is Spark's (and DuckDB's) string order. */
  private val PairOrder: Ordering[(String, Long)] = (x, y) =>
    if (x._2 != y._2) java.lang.Long.compare(y._2, x._2)
    else UTF8String.fromString(x._1).compareTo(UTF8String.fromString(y._1))

  /**
   * t16: script / character-class composition profile — the
   * writing-system router signal a multilingual corpus needs BEFORE
   * heavier language ID (t01 assumes the text is worth scoring; this
   * tells you which decoder/tokenizer family to route to): per-doc
   * fractions of Latin letters, digits, CJK ideographs, whitespace, and
   * other, plus the dominant class under a fixed priority tiebreak
   * (latin > digit > cjk > space > other). Counts are the t01
   * regexp-strip length trick — pure narrow projection, one scan, each
   * count materialized once (multi-referencing the expression would
   * re-run its regex per reference).
   */
  def scripts(s: SparkSession, d: String): DataFrame = {
    def cnt(cls: String) =
      length(col("text")) - length(regexp_replace(col("text"), cls, ""))
    val n = greatest(length(col("text")), lit(1))
    Tables.documents(s, d)
      .select(col("doc_id"), length(col("text")).as("n_total"),
        cnt("[A-Za-z]").as("latin"), cnt("[0-9]").as("digit"),
        cnt("[\\x{4e00}-\\x{9fff}]").as("cjk"), cnt("\\s").as("space"),
        n.as("n1"))
      .select(col("doc_id"), col("n_total"), col("latin"), col("digit"),
        col("cjk"), col("space"),
        (col("n_total") - col("latin") - col("digit") - col("cjk") -
          col("space")).as("other"), col("n1"))
      .select(col("doc_id"), col("n_total"),
        round(col("latin").cast("double") / col("n1"), 6).as("latin_frac"),
        round(col("digit").cast("double") / col("n1"), 6).as("digit_frac"),
        round(col("cjk").cast("double") / col("n1"), 6).as("cjk_frac"),
        round(col("space").cast("double") / col("n1"), 6).as("space_frac"),
        round(col("other").cast("double") / col("n1"), 6).as("other_frac"),
        when(col("latin") >= col("digit") && col("latin") >= col("cjk") &&
          col("latin") >= col("space") && col("latin") >= col("other"), "latin")
          .when(col("digit") >= col("cjk") && col("digit") >= col("space") &&
            col("digit") >= col("other"), "digit")
          .when(col("cjk") >= col("space") && col("cjk") >= col("other"), "cjk")
          .when(col("space") >= col("other"), "space")
          .otherwise("other").as("dominant"))
      .orderBy(col("doc_id"))
  }

  /**
   * t17: readability scoring — Flesch reading ease from the classic
   * surface proxies: words (whitespace tokens), sentences ([.!?]+ runs,
   * floor 1), syllables ([aeiouy]+ vowel-group runs per lowercased word,
   * the standard cheap approximation). Corpus-filter use: very low
   * scores flag legalese/boilerplate, implausibly high ones flag
   * word-salad. All three counts are narrow regexp passes materialized
   * once; the score is plain IEEE arithmetic rounded 4dp — one scan, no
   * shuffle but the output sort.
   */
  def readability(s: SparkSession, d: String): DataFrame = {
    val nWords = size(split(trim(col("text")), "\\s+"))
    val nSents = greatest(
      size(regexp_extract_all(col("text"), lit("[.!?]+"), lit(0))), lit(1))
    val nSyll = greatest(
      size(regexp_extract_all(lower(col("text")), lit("[aeiouy]+"), lit(0))), lit(1))
    Tables.documents(s, d)
      .select(col("doc_id"), nWords.as("n_words"), nSents.as("n_sents"),
        nSyll.as("n_syll"))
      .select(col("doc_id"), col("n_words"), col("n_sents"), col("n_syll"),
        round(lit(206.835)
          - lit(1.015) * (col("n_words").cast("double") / col("n_sents"))
          - lit(84.6) * (col("n_syll").cast("double") / col("n_words")), 4)
          .as("flesch"))
      .orderBy(col("doc_id"))
  }

  /**
   * t18: Unicode normalization (Presto 0.248's normalize(string, form) —
   * presto-main StringFunctions) as a standalone verified entry, via the
   * codegen-native [[graft.functions.KernelTable.normalizeUnicode]] kernel (c01
   * uses the same kernel inside its content hash). Every document gets a
   * deterministic DECOMPOSED suffix ("Cafe" + U+0301 combining acute) so
   * NFC has real composition work on every row — the synthetic corpus is
   * ASCII, where normalization is the identity; the oracle replays with
   * DuckDB's nfc_normalize on the same construction. Emits code-point
   * counts before/after (the composed form is one char shorter), the
   * md5 of the normalized bytes (value-verifies the normalization
   * without dumping bodies), and the ASCII fast-path identity check
   * (normalize(text) = text — exercises the allocation-free
   * already-normalized path end-to-end). Narrow projection, one scan,
   * no shuffle but the output sort. NFD/NFKC/NFKD forms have no DuckDB
   * replay and are spec-covered instead (ExpressionsSpec).
   */
  def normalizeUnicodeReport(s: SparkSession, d: String): DataFrame = {
    // "Cafe" + COMBINING ACUTE ACCENT (U+0301), the decomposed form —
    // NFC composes it to \u00e9, one code point shorter
    val raw = concat(col("text"), lit(" Cafe\u0301"))
    val nfc = GraftFunctions.normalizeUnicode(raw)
    Tables.documents(s, d)
      .select(col("doc_id"),
        length(raw).cast("long").as("n_raw"),
        length(nfc).cast("long").as("n_nfc"),
        md5(nfc).as("h_nfc"),
        (GraftFunctions.normalizeUnicode(col("text")) === col("text"))
          .as("ascii_identity"))
      .orderBy(col("doc_id"))
  }

  /** t04: 64-bit rolling-hash document fingerprint (custom codegen
    * expression); groups identical-after-normalization documents. */
  def fingerprint(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), GraftFunctions.fingerprint64(col("text")).as("fp"))
      .withColumn("n_same", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))))
      .orderBy(col("doc_id"))

  /**
   * t19: add-one-smoothed bigram LM scoring — the next step up from
   * t10's unigram LM on the perplexity-filter ladder (CCNet trains a
   * 5-gram KenLM; a corpus-trained smoothed bigram is the same
   * train-on-corpus / score-per-doc topology with exact, replayable
   * arithmetic): per doc, avg over its bigrams of
   * ln((c(w1,w2)+1) / (c(w1·)+V)).
   *
   * Scale: the bigram/unigram count tables are vocabulary-bounded, not
   * corpus-bounded; scoring rejoins them to the bigram stream on
   * (w1,w2) — one fact-sized hash shuffle with map-side partial counts,
   * the c(w1·) table joins vocab-sized (broadcastable), V is a 1-row
   * broadcast. Summation in DECIMAL(18,6) so the per-doc mean is
   * order-independent (the t10 discipline).
   */
  def bigramLm(s: SparkSession, d: String): DataFrame = {
    // NOT fanned out (r20 A/B): Tables.fanout here measured 0.97→1.65 s
    // — the repartition exchange ships the text and re-runs per consumer
    // of toks, costing more than the one-task scan it spreads
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
    val bi = toks.filter(size(col("w")) >= 2)
      .select(col("doc_id"), explode(
        GraftFunctions.bigramPairs(col("w"))).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val c2 = bi.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
    // the unigram context counts are the w2-marginal of the bigram
    // counts (r20, the t24 trick — exact: Σ_w2 c2(w1,w2) == count of
    // bigrams starting at w1): derived from c2 instead of a second
    // corpus-wide explode + shuffle
    val c1 = c2.groupBy(col("w1")).agg(sum(col("c2")).as("c1"))
    val v = toks.select(explode(col("w")).as("tok"))
      .agg(countDistinct(col("tok")).as("vocab"))
    bi.join(c2, Seq("w1", "w2")).join(broadcast(c1), Seq("w1"))
      .crossJoin(broadcast(v))
      .select(col("doc_id"),
        log((col("c2") + lit(1)).cast("double") /
          (col("c1") + col("vocab")).cast("double")).as("logp"))
      .groupBy(col("doc_id"))
      // 4dp rounding of the per-doc mean in exact INTEGER space (the t24
      // discipline): logp < 0 always (c2 + 1 <= c1 + vocab), so the
      // negated decimal sum scales to positive whole micro-units and
      // round(S/(1e6·n), 4) = (S + 50n) div (100n). Rounding after the
      // previous DOUBLE division forked one of 50k docs at sf1.0 on a
      // .xxxx5 midpoint (c03's fluency inherited it) — the r15 full
      // decade gate's find, same class as t24's r13 fork.
      .agg(
        count(lit(1)).as("n_bigrams"),
        (sum(col("logp").cast(org.apache.spark.sql.types.DecimalType(18, 6)))
          * lit(-1000000L)).cast("long").as("s_micro"))
      .select(col("doc_id"), col("n_bigrams"),
        (expr("(s_micro + 50 * n_bigrams) DIV (100 * n_bigrams)")
          .cast("double") / -10000.0).as("avg_logp"))
      .orderBy(col("doc_id"))
  }

  /**
   * t21: the FULL multi-iteration BPE trainer (t15 is one iteration of
   * pair statistics; this is the loop that ships a tokenizer): K rounds
   * of select-top-pair → apply-merge over the word-FREQUENCY table,
   * emitting the merge list — the artifact a tokenizer training
   * pipeline actually produces — plus the corpus token count after each
   * merge (the compression curve that tells you when to stop).
   *
   * Scale shape: the corpus's words are counted once in Spark
   * ([[wordCounts]], the only corpus-sized work, count-carrying and
   * map-side combined) and collected; the K merge steps then run on the
   * driver over that table ([[trainMerges]]), as GPT-2-style,
   * SentencePiece and HF trainers run. K more iterations cost vocabulary
   * work on one thread, not K rounds of Spark jobs.
   */
  def bpeTrain(s: SparkSession, d: String): DataFrame =
    bpeTrainOf(s, Tables.documents(s, d), 8)

  /** The t21 kernel over any (text) frame — unit-testable form (the
    * spec compares the merge list against an independent driver-side
    * reference trainer on hand-built docs). The merge rows come back as
    * a local frame, in step order. */
  private[graft] def bpeTrainOf(s: SparkSession, docs: DataFrame, k: Int): DataFrame =
    s.createDataFrame(trainMerges(wordCounts(docs), k)._1)
      .toDF("step", "lhs", "rhs", "merged", "pair_count", "corpus_tokens")

  /**
   * The BPE merge loop over a (word, n) table, on the driver. Each step
   * counts adjacent symbol pairs of the words of at least 2 characters,
   * weighted by n ([[pairCounts]]); picks the top pair under
   * [[PairOrder]] (a total tiebreak both engines replay); applies it with
   * the codegen [[graft.functions.Kernels.bpeMerge]] greedy scan, whose
   * fold-equivalence argument (doc there) is what lets DuckDB replay it
   * as a list_reduce; and recounts corpus tokens. Once no pair remains
   * it stops, so a small vocabulary yields fewer than `k` rows, as the
   * reference trainer does. All sums are exact: overflow throws
   * ArithmeticException. Returns the merge rows (step, lhs, rhs, merged,
   * pair_count, corpus_tokens) and each trained word's final symbols,
   * space-joined.
   */
  private[graft] def trainMerges(words: Seq[(String, Long)], k: Int)
      : (Seq[(Int, String, String, String, Long, Long)], Map[String, String]) = {
    var vocab = symbols(words)
    val merges = Vector.newBuilder[(Int, String, String, String, Long, Long)]
    var counts = pairCounts(vocab)
    for (step <- 1 to k) if (counts.nonEmpty) {
      val (pair, cnt) = counts.min(PairOrder)
      val Array(a, b) = pair.split(" ", 2)
      val (ua, ub) = (UTF8String.fromString(a), UTF8String.fromString(b))
      vocab = vocab.map { case (w, sy, n) => (w, Kernels.bpeMerge(sy, ua, ub), n) }
      merges += ((step, a, b, a + b, cnt, vocab.iterator.map { case (_, sy, n) =>
        Math.multiplyExact(n, sy.toString.split(" ").length.toLong) }.reduce(Math.addExact(_: Long, _: Long))))
      counts = pairCounts(vocab)
    }
    (merges.result(), vocab.map { case (w, sy, _) => w -> sy.toString }.toMap)
  }

  /**
   * t22: ENCODE the corpus with the t21-trained merges — the serve half
   * of the tokenizer (train once, tokenize everything): per-document
   * token counts and the chars-per-token compression ratio under the
   * learned vocabulary, the number a data pipeline budgets context
   * windows and storage with.
   *
   * Scale shape: one [[wordCounts]] query feeds both halves. Training is
   * [[trainMerges]] on the driver, and it leaves every trained word's
   * final symbols, so the encoded vocabulary — (w, n_toks, n_chars_w)
   * for every collected word — is a local table; unlike training,
   * encoding has NO length filter: a 1-char word is 1 token. One
   * corpus-sized (doc, word) stream joins it and aggregates per doc. The
   * join carries no broadcast hint: the local table's exact size picks
   * the strategy (a broadcast at any realistic vocabulary).
   */
  def bpeEncode(s: SparkSession, d: String): DataFrame =
    bpeEncodeOf(s, Tables.documents(s, d), 8)

  private[graft] def bpeEncodeOf(s: SparkSession, docs: DataFrame, k: Int): DataFrame = {
    val counts = wordCounts(docs)
    val trained = trainMerges(counts, k)._2
    val encoded = s.createDataFrame(counts.map { case (w, _) =>
      (w, trained.get(w).fold(1)(_.split(" ").length), w.length) }).toDF("w", "n_toks", "n_chars_w")
    docs.select(col("doc_id"), azWords)
      .join(encoded, "w")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_toks")).as("n_tokens"),
        sum(col("n_chars_w")).as("n_chars_az"))
      .select(col("doc_id"), col("n_words"), col("n_tokens"),
        round(col("n_chars_az").cast("double") / col("n_tokens").cast("double"), 4)
          .as("chars_per_token"))
      .orderBy(col("doc_id"))
  }

  /**
   * t23: hashed-linear quality scoring — the fastText/CCNet-style
   * classifier-filter shape (Joulin et al. 2016; Wenzek et al. CCNet
   * 2020): features are hashed unigrams + bigrams (the hashing trick,
   * 2^16 buckets), each bucket carries a weight from a fixed table, and
   * a document's score is the mean feature weight. The weight table
   * here is procedurally generated from the bucket id (Knuth
   * multiplicative mix into [-1000, 1000]) — deterministic integer
   * arithmetic both engines replay bit-for-bit, standing in for a
   * learned table; a deployment swaps in trained weights via the same
   * broadcast-lookup shape without touching the plan.
   *
   * Scale: the entire score is computed per-row by ONE fused codegen
   * kernel over the token array ([[graft.functions.Kernels
   * .hashedNgramScore]]) — ZERO shuffles before the presentation sort;
   * at 100 TB this is a pure map over the corpus scan, the cheapest
   * possible plan for model-based filtering. Feature hashes never
   * materialize as rows or strings: the kernel folds the "u "/"b "
   * marker bytes, token bytes, and joining space straight through the
   * FNV chain (byte-identical to the concat + hash64 lambda form it
   * replaced — that form paid interpreted HOF eval + a string
   * allocation per feature, ~12s at sf0.1 vs ~1s fused; the d10
   * winnowing lesson applied to the highest-volume scoring pass a
   * curation pipeline has). Unigram and bigram features share one hash
   * under distinct "u "/"b " markers, so the two families cannot
   * collide by construction.
   */
  def qualityLr(s: SparkSession, d: String): DataFrame = {
    val Seed = 1181783497276652981L // positive splitmix-style constant, t23-only
    val w = split(lower(col("text")), "\\s+")
    Tables.documents(s, d)
      .select(col("doc_id"), GraftFunctions.hashedNgramScore(w, Seed).as("r"))
      .select(col("doc_id"),
        col("r.n_feat").as("n_feat"),
        col("r.score_sum").as("score_sum"))
      .select(col("doc_id"), col("n_feat"), col("score_sum"),
        round(col("score_sum").cast("double") / (col("n_feat") * lit(1000.0)), 6)
          .as("quality"),
        (col("score_sum") > 0).as("keep"))
      .orderBy(col("doc_id"))
  }

  /**
   * t24: CCNet perplexity buckets — the other canonical model-based
   * filter (Wenzek et al. 2020): score every document's perplexity
   * under a language model trained on a CLEAN REFERENCE SLICE (CCNet
   * uses Wikipedia; here source src0 plays that role — the train/score
   * separation is the point, unlike t10/t19 whose LM is the corpus
   * itself), then split the corpus at the global perplexity tertiles
   * into head / middle / tail — the buckets LLM data recipes sample
   * from. The add-1-smoothed bigram score is t19's discipline (6dp
   * DECIMAL log accumulation); bigrams unseen in the reference back off
   * through the same formula via coalesce(0). Tertile cuts come from
   * the shared exact-selection kernel ([[graft.operators.ExactSelection
   * .percentilesDisc]] — three bounded passes, no all-values buffer),
   * and the cut VALUES ride along in the result so the hash pins the
   * selection, not just the labels. (The single-group form is the
   * driver-values variant [[graft.operators.ExactSelection
   * .percentilesDiscGlobal]] — same passes, constant-bounded collects —
   * so the cuts are plan literals and labeling is join-free.)
   *
   * Scale: reference counts are reference-sized (broadcast at the
   * join); scoring is one corpus pass; the cuts are the q10/q137
   * kernel's bounded passes over 1 group. Nothing quadratic, and the
   * corpus text never shuffles — only (w1, w2) count joins.
   */
  def ccnetBuckets(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    // NOT fanned out (r20 A/B): Tables.fanout here measured 1.30→4.12 s
    // — the repartition re-runs inside every build-time percentile job
    // and ships the text, costing far more than the one-task scan stage
    // it spreads (the r19 blanket-fanout lesson, reconfirmed per-entry)
    val docs = Tables.documents(s, d)
    val toks = docs.select(col("doc_id"), col("source"), split(col("text"), " ").as("w"))
    // source rides through the bigram explode and the per-doc aggregate
    // (it is functionally dependent on doc_id) so the labeled result
    // needs NO corpus-wide join back to the documents table
    def bigramsOf(df: DataFrame) = df.filter(size(col("w")) >= 2)
      .select(col("doc_id"), col("source"), explode(
        GraftFunctions.bigramPairs(col("w"))).as("b"))
      .select(col("doc_id"), col("source"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val ref = toks.filter(col("source") === "src0")
    val c2 = bigramsOf(ref).groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
    // the unigram context counts are the w2-marginal of the bigram
    // counts (exact: sum of c2 over w2 == reference bigrams starting at
    // w1) — derived from c2 rather than a second reference explode+shuffle
    val c1 = c2.groupBy(col("w1")).agg(sum(col("c2")).as("c1"))
    val v = ref.select(explode(col("w")).as("tok"))
      .agg(countDistinct(col("tok")).as("vocab"))
    // Staged (localCheckpoint) because FOUR consumers sit downstream:
    // ExactSelection's three bounded percentile passes, plus the final
    // labeling projection — without staging each one recomputes the whole
    // corpus-scoring pipeline (r13 manifest: 37 scans / 61 exchanges).
    // The staged frame is slim: (doc_id, source, n_bigrams, score).
    val scored = graft.plans.Checkpoints.stage(bigramsOf(toks)
      .join(c2, Seq("w1", "w2"), "left_outer")
      .join(broadcast(c1), Seq("w1"), "left_outer")
      .crossJoin(broadcast(v))
      .select(col("doc_id"), col("source"),
        log((coalesce(col("c2"), lit(0L)) + lit(1)).cast("double") /
          (coalesce(col("c1"), lit(0L)) + col("vocab")).cast("double")).as("logp"))
      .groupBy(col("doc_id"), col("source"))
      // 4dp HALF_UP rounding of sum/count happens in exact INTEGER
      // space: the per-ln DECIMAL(18,6) sum scales to whole micro-units
      // (a long, exact), and round(S/(1e6·n), 4) = (S + 50n) div (100n)
      // for the strictly positive S here. Rounding after a DOUBLE
      // division forked 4 of 50k docs at sf1.0 on .xxxx5 boundaries
      // (one ulp below the tie in IEEE, at the tie in DuckDB's exact
      // decimal path) — found by the r13 scale decade, the same trap
      // t25 pinned for the 6→4 scale reduction. The final /10000.0 is
      // one IEEE divide of an integer both engines share bit-for-bit.
      .agg(count(lit(1)).as("n_bigrams"),
        (sum(col("logp").cast(DecimalType(18, 6))) * lit(-1000000L))
          .cast("long").as("s_micro"))
      .select(col("doc_id"), col("source"), col("n_bigrams"),
        (expr("(s_micro + 50 * n_bigrams) DIV (100 * n_bigrams)")
          .cast("double") / 10000.0).as("score")))
    // corpus-wide tertile cuts as driver VALUES (three bounded jobs over
    // the staged slim frame — [[ExactSelection.percentilesDiscGlobal]]);
    // the labels become a pure projection, no cut join
    val Seq(cut1, cut2) = graft.operators.ExactSelection.percentilesDiscGlobal(
      scored.select(col("score").as("x")),
      Seq(0.3333333333333333, 0.6666666666666666))
    scored
      .select(col("doc_id"), col("source"), col("n_bigrams"), col("score"),
        when(col("score") <= cut1, "head")
          .when(col("score") <= cut2, "middle")
          .otherwise("tail").as("bucket"),
        lit(cut1).as("cut1"), lit(cut2).as("cut2"))
      .orderBy(col("doc_id"))
  }

  /**
   * t25: DSIR — Data Selection via Importance Resampling (Xie et al.
   * 2023), the third canonical model-based selection method beside the
   * classifier filter (t23) and the perplexity filter (t24). DSIR scores
   * every raw document by the log importance ratio of a TARGET
   * distribution (here source src0, the same clean-reference slice t24
   * uses) over the RAW distribution, both modeled as bag-of-hashed-ngram
   * bucket frequencies (the paper's hashed n-gram features; 8192 buckets
   * here), then keeps the top quarter by weight. Features are t23's
   * hashed unigrams + bigrams under "u "/"b " markers (one hash64, the
   * families can't collide); bucket = low 13 bits — power-of-two pmod ≡
   * unsigned mod, so the oracle's unsigned HUGEINT chain needs no sign
   * fix. Bucket probabilities are add-1 smoothed over the bucket space
   * ((c+1)/(N+8192)); each ln snaps to DECIMAL(18,6) before the
   * per-feature subtraction (the t19/t24 discipline) so the per-doc sum
   * is exact and order-free. The selection cut is the 75th discrete
   * percentile of the weights from the shared exact-selection kernel
   * (the single-group driver-values form [[graft.operators.ExactSelection
   * .percentilesDiscGlobal]] — constant-bounded collects, cut as a plan
   * literal) and rides in the result so the hash pins the selection
   * itself.
   *
   * Scale: both bucket-count tables are ≤ 8192 rows regardless of corpus
   * size — they broadcast; feature rows shuffle as 8-byte bucket ids with
   * map-side combine (≤ 8192 distinct keys per partition); scoring is
   * one corpus pass re-joined per-doc. Corpus text never shuffles. At
   * 100 TB this is exactly the published DSIR deployment shape: tiny
   * importance model, one streaming pass to score, rank-based keep.
   */
  def dsir(s: SparkSession, d: String): DataFrame = {
    // Staged (localCheckpoint): ExactSelection's percentile passes plus
    // the final selection projection would otherwise each recompute the
    // full featurize-and-score pipeline (the t24 finding). Slim frame:
    // (doc_id, source, n_feat, logw) — source rides through the per-doc
    // aggregate (functionally dependent on doc_id), so the labeled
    // result needs no corpus-wide join back to documents.
    val scored = graft.plans.Checkpoints.stage(dsirScored(s, d))
    // the 75th-percentile weight cut as a driver VALUE (constant-bounded
    // collects — [[graft.operators.ExactSelection.percentilesDiscGlobal]])
    val Seq(cut) = graft.operators.ExactSelection.percentilesDiscGlobal(
      scored.select(col("logw").as("x")), Seq(0.75))
    scored
      .select(col("doc_id"), col("source"), col("n_feat"), col("logw"),
        lit(cut).as("cut"), (col("logw") >= cut).as("selected"))
      .orderBy(col("doc_id"))
  }

  /** t25's UNSTAGED per-doc score frame (doc_id, source, n_feat, logw) —
    * the featurize-and-score pipeline [[dsir]] stages before the cut.
    * Exposed `private[graft]` because the staged entry plan shows only an
    * RDD scan; PlanSpec's fused-featurizer pin audits THIS plan. */
  private[graft] def dsirScored(s: SparkSession, d: String): DataFrame = {
    val Seed = 0x5851f42d4c957f2dL // t25-only (MMIX LCG multiplier)
    val B = 8192L // 2^13 buckets — the kernel masks to the low 13 bits
    val docs = Tables.documents(s, d)
    val w = split(lower(col("text")), "\\s+")
    // one fused codegen pass per doc emits the full unigram+bigram bucket
    // array (byte-identical to the per-feature concat + hash64 + pmod
    // lambda chain it replaced, which paid interpreted HOF eval per
    // token — the t23 fix applied to the explode side)
    val feats = docs.select(col("doc_id"), col("source"),
      explode(GraftFunctions.hashedNgramBuckets(w, Seed, 13)).as("b"))
    // raw and target bucket counts in ONE corpus pass (the target slice
    // is a subset of raw, so a conditional count shares the aggregate);
    // totals derive from the ≤ 8192-row count table, not another pass
    val counts = feats.groupBy(col("b")).agg(
      count(lit(1)).as("cr"),
      count(when(col("source") === "src0", 1)).as("ct"))
    val tot = counts.agg(sum(col("cr")).as("nr"), sum(col("ct")).as("nt"))
    import org.apache.spark.sql.types.DecimalType
    val lr = counts.crossJoin(broadcast(tot))
      .select(col("b"),
        (log((col("ct") + lit(1)).cast("double") /
            (col("nt") + lit(B)).cast("double")).cast(DecimalType(18, 6)) -
         log((col("cr") + lit(1)).cast("double") /
            (col("nr") + lit(B)).cast("double")).cast(DecimalType(18, 6)))
          .as("lr"))
    // the 6→4 scale reduction happens in DECIMAL space (HALF_UP both
    // engines); rounding after a double cast would fork on sums landing
    // exactly on a .xxxx5 boundary (the shortest-string-vs-binary trap)
    feats.join(broadcast(lr), Seq("b"))
      .groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).as("n_feat"),
        sum(col("lr")).cast(DecimalType(18, 4)).cast("double").as("logw"))
  }

  /** t26: blocklist filtering — the C4 "bad words" curation step (Raffel
    * et al. 2020 drop any document containing a listed word; every major
    * web corpus since runs a variant): per document, count blocklisted
    * token occurrences with a codegen array filter over the one word
    * split the t-family already pays, hard-flag on ANY hit, and report
    * per (lang, source) audit cells — doc counts, flagged counts, total
    * hits, and the flag rate in EXACT integer basis points (`10000 *
    * flagged div docs`, the e16 floor-division discipline — never a
    * rounded double ratio). The list is two words: one rare-but-present
    * ("dup", ~5% of this corpus) exercising the hit path and one absent
    * ("spam") pinning the miss path. Scale: narrow scan → tiny
    * (lang, source) aggregate, map-side combined; document text never
    * shuffles, and a real 100-word blocklist stays a codegen literal
    * (Presto's form would be a broadcast semi-join only past ~10k
    * terms). */
  def blocklist(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("lang"), col("source"),
        size(filter(split(col("text"), " "),
          w => w === "dup" || w === "spam")).as("n_bad"))
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        count(when(col("n_bad") > 0, 1)).as("n_flagged"),
        sum(col("n_bad").cast("long")).as("total_hits"))
      .withColumn("flag_rate_bp", expr("(10000 * n_flagged) div n_docs"))
      .orderBy(col("lang"), col("source"))
}
