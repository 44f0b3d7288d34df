package graft

/**
 * DuckDB-dialect oracle SQL for every SQL-expressible query in
 * SparkEntry.queries. Discipline (see SURVEY.md §5): identical column
 * aliases to the Spark plans, total ORDER BY, decimal-exact sums cast to
 * double, BIGINT casts where DuckDB widens to HUGEINT, dates as strings.
 */
object OracleSql {

  // CAST(SUM(CAST(x AS DECIMAL(18,s))) AS DOUBLE) — exact, order-independent.
  private def dsum(x: String, s: Int = 2) = s"CAST(SUM(CAST($x AS DECIMAL(18,$s))) AS DOUBLE)"
  private def davg(x: String, s: Int = 4) = s"CAST(CAST(SUM(CAST($x AS DECIMAL(18,$s))) AS DOUBLE) / COUNT($x) AS DOUBLE)"

  /** The SAME hyperplane constants the Spark LSH paths derive
    * (java.util.Random is a specified, platform-stable PRNG), embedded as a
    * VALUES table so DuckDB replays the exact bucketing. */
  private def planesValues(seed: Long, nPlanes: Int = 16, dim: Int = 64): String = {
    val rnd = new java.util.Random(seed)
    val planes = Array.fill(nPlanes, dim)(rnd.nextGaussian())
    planes.zipWithIndex
      .map { case (p, i) => s"($i, ${p.mkString("[", ", ", "]")})" }
      .mkString(", ")
  }

  /** t21's replay: the K BPE iterations unrolled as CTE passes. Each
    * pass recomputes pair counts from the previous vocabulary state,
    * picks the (max count, lexicographically-smallest) pair, and applies
    * the merge as a list_reduce left-fold — provably equivalent to the
    * Spark kernel's greedy scan (see Kernels.bpeMerge: the fold could
    * only diverge if a merged token re-matched as a left symbol, which
    * needs a+b == a). The fold merges into the accumulator string's last
    * token only on EXACT token equality (acc == a, or acc ends with
    * ' '||a — the space guard keeps 'xa' from matching 'a'). */
  /** The one greedy-merge fold, as DuckDB list_reduce text — shared by
    * the t21 training replay and t22's per-word encode replay so the
    * two can never drift. `mg` must alias a 1-row (a, b, m) frame. */
  private val bpeFold: String =
    """list_reduce(string_split(syms, ' '), (acc, x) -> CASE
            WHEN x = mg.b AND (acc = mg.a OR ends_with(acc, ' ' || mg.a))
            THEN left(acc, CAST(len(acc) - len(mg.a) AS INTEGER)) || mg.m
            ELSE acc || ' ' || x END)"""

  /** The fold guarded for an EMPTY merge table: when fewer than K merges
    * exist (a corpus whose alphabetic vocabulary exhausts early — the
    * open-vocab GenData arm trains only 2), the trainer simply stops
    * (TextAnalysis.trainMerges emits no row once no pair remains), so
    * the replay must carry syms through the missing steps (LEFT JOIN ON
    * TRUE + CASE) rather than CROSS JOIN the chain into an empty frame. */
  private val bpeFoldOrKeep: String =
    s"CASE WHEN mg.m IS NULL THEN syms ELSE $bpeFold END"

  /** The K training iterations (vocab → v0 → e/p/b/v/t per step) as a
    * WITH-clause body, shared by the t21 and t22 oracles. */
  private def bpeCtes(k: Int): String = {
    val iters = (1 to k).map { i =>
      val prev = if (i == 1) "v0" else s"v${i - 1}"
      s"""e$i AS (SELECT n, string_split(syms, ' ') AS s FROM $prev),
      p$i AS (
        SELECT s[i] || ' ' || s[i + 1] AS pair, CAST(SUM(n) AS BIGINT) AS cnt
        FROM (SELECT n, s, unnest(generate_series(1, len(s) - 1)) AS i FROM e$i)
        GROUP BY 1),
      b$i AS (
        SELECT string_split(pair, ' ')[1] AS a, string_split(pair, ' ')[2] AS b,
               replace(pair, ' ', '') AS m, cnt
        FROM p$i ORDER BY cnt DESC, pair LIMIT 1),
      v$i AS (
        SELECT $bpeFoldOrKeep AS syms, n
        FROM $prev LEFT JOIN b$i mg ON TRUE),
      t$i AS (SELECT CAST(SUM(n * len(string_split(syms, ' '))) AS BIGINT)
              AS corpus_tokens FROM v$i)"""
    }.mkString(",\n      ")
    s"""vocab AS (
        SELECT w, COUNT(*) AS n
        FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
              FROM documents) t
        WHERE length(w) >= 2 GROUP BY w),
      v0 AS (SELECT trim(regexp_replace(w, '(.)', '\\1 ', 'g')) AS syms, n FROM vocab),
      $iters"""
  }

  private def bpeTrainOracle(k: Int): String = {
    val rows = (1 to k).map { i =>
      s"""SELECT CAST($i AS INTEGER) AS step, a AS lhs, b AS rhs, m AS merged,
          cnt AS pair_count,
          (SELECT corpus_tokens FROM t$i) AS corpus_tokens FROM b$i"""
    }.mkString("\n        UNION ALL\n        ")
    s"""
      WITH ${bpeCtes(k)}
      SELECT * FROM (
        $rows
      ) ORDER BY step"""
  }

  /** t22: encode every document with the t21-trained merges — the
    * DISTINCT word list (no length filter: 1-char words tokenize too)
    * folds through the K merges in training order, then token counts
    * join back to word instances and aggregate per doc. */
  private def bpeEncodeOracle(k: Int): String = {
    val encodes = (1 to k).map { i =>
      s"""dw$i AS (SELECT w, $bpeFoldOrKeep AS syms
           FROM dw${i - 1} LEFT JOIN b$i mg ON TRUE)"""
    }.mkString(",\n      ")
    s"""
      WITH ${bpeCtes(k)},
      allw AS (
        SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
        FROM documents),
      dw0 AS (SELECT w, trim(regexp_replace(w, '(.)', '\\1 ', 'g')) AS syms
              FROM (SELECT DISTINCT w FROM allw) t),
      $encodes,
      enc AS (SELECT w, len(string_split(syms, ' ')) AS n_toks,
                     length(w) AS n_chars_w FROM dw$k)
      SELECT doc_id, COUNT(*) AS n_words,
        CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
        round(CAST(SUM(n_chars_w) AS DOUBLE) / CAST(SUM(n_toks) AS DOUBLE), 4)
          AS chars_per_token
      FROM allw JOIN enc USING (w)
      GROUP BY doc_id ORDER BY doc_id"""
  }

  /** Shared by x01/x02: salting must not change the join result, so the
    * plain and salted entries replay the identical hot-key join. */
  private val skewOracle: String = """
      WITH large AS (
        SELECT CASE WHEN l_orderkey % 100 < 90 THEN 0
                    ELSE l_orderkey % 1000 END AS k, l_quantity
        FROM lineitem),
      small AS (SELECT range % 1000 AS k, (range % 1000) % 7 + 1 AS w
                FROM range(0, 12000))
      SELECT CAST(SUM(CAST(l_quantity * w AS DECIMAL(18,2))) AS DOUBLE) AS total,
             COUNT(*) AS n
      FROM large JOIN small USING (k)"""

  /** Shared by x05/x06: the runtime bloom filter is a pure semi-join
    * reduction, so both arms replay the identical urgent-orders join. */
  private val bloomOracle: String = """
      SELECT COUNT(*) AS n_lines,
        CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6)))
          AS DOUBLE) AS revenue
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_orderpriority = '1-URGENT'"""

  /** Shared oracle for the top-k pair: the partial-heap form (x04) must
    * return exactly the plain-window result (x03). */
  private val topkOracle: String = """
      SELECT l_returnflag, rid, l_extendedprice, rn FROM (
        SELECT l_returnflag, l_orderkey * 10 + l_linenumber AS rid,
          l_extendedprice,
          CAST(row_number() OVER (PARTITION BY l_returnflag
            ORDER BY l_extendedprice DESC, l_orderkey * 10 + l_linenumber) AS INTEGER) AS rn
        FROM lineitem) t
      WHERE rn <= 5 ORDER BY l_returnflag, rn"""

  /** Cosine over DOUBLE[] lists — same op order as the Spark kernel. */
  private def cos(a: String, b: String) =
    s"(list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b))))"

  /** The a09/a10 Lloyd training prefix: e (double-cast corpus), cent0
    * (scatter-seeded k=8), then 3 rounds of assignment (argmax by sim
    * DESC, cell DESC) and update (per-(cell, dim) decimal means rounded
    * 8dp; emptied cells carry the prior centroid) — ends at cent3/a3. */
  private val lloydPrefixSql: String = {
    def iter(t: Int): String = {
      val pc = s"cent${t - 1}"
      s"""
      a$t AS (
        SELECT e.vec_id, e.emb,
          (SELECT cell FROM $pc
           ORDER BY ${cos("e.emb", "cemb")} DESC, cell DESC LIMIT 1) AS cell,
          (SELECT round(MAX(${cos("e.emb", "cemb")}), 6) FROM $pc) AS sim
        FROM e),
      d$t AS (
        SELECT cell, generate_subscripts(emb, 1) AS i, unnest(emb) AS x
        FROM a$t),
      s$t AS (
        SELECT cell, i,
          round(CAST(SUM(CAST(x AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*), 8) AS m
        FROM d$t GROUP BY cell, i),
      cent$t AS (
        SELECT p.cell, COALESCE(u.cemb, p.cemb) AS cemb
        FROM $pc p LEFT JOIN
          (SELECT cell, list(m ORDER BY i) AS cemb FROM s$t GROUP BY cell) u
          USING (cell))"""
    }
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
      cent0 AS (SELECT vec_id AS cell, emb AS cemb FROM e
                ORDER BY (vec_id * 69069 + 1) % 1048576, vec_id LIMIT 8),
      ${(1 to 3).map(iter).mkString(",")}"""
  }

  // --- unsigned-64 arithmetic in HUGEINT (for replaying JVM long hashes) --
  // (a*b) mod 2^64 without overflowing the signed 128-bit HUGEINT:
  // split a into hi/lo 32-bit halves; each partial product stays < 2^96.
  private val Two64 = "(CAST(1 AS HUGEINT) << 64)"
  private def mulmod64(a: String, b: String): String =
    s"((((($a) % 4294967296) * ($b)) % $Two64 + " +
      s"(((($a) >> 32) * ($b)) % 4294967296) * 4294967296) % $Two64)"

  private def u64(x: Long): String = java.lang.Long.toUnsignedString(x)

  /** unsigned HUGEINT (0..2^64) → the signed BIGINT with the same bits. */
  private def u2s(x: String): String =
    s"CAST(($x) - CASE WHEN ($x) >= (CAST(1 AS HUGEINT) << 63) THEN $Two64 ELSE 0 END AS BIGINT)"

  /** UTF-8 bytes of a string expr as a HUGEINT list, with the FNV-1a basis
    * (offset ^ seed) prepended — the reduce-ready form of Kernels.hash64. */
  private def fnvSeq(strExpr: String, seed: Long): String = {
    val init = u64(0xcbf29ce484222325L ^ seed)
    s"""list_concat([CAST($init AS HUGEINT)],
        list_transform(range(0, CAST(octet_length(encode($strExpr)) AS INTEGER)),
          i -> CAST(CAST('0x' || substr(hex(encode($strExpr)), 2*i+1, 2) AS INTEGER) AS HUGEINT)))"""
  }

  /** FNV-1a fold: h = (h XOR byte) * prime, all mod 2^64. */
  private def fnvReduce(seqExpr: String): String =
    s"list_reduce($seqExpr, (acc, x) -> ${mulmod64("xor(acc, x)", "1099511628211")})"

  private val Mix1 = "13787848793156543929" // 0xbf58476d1ce4e5b9
  private val Mix2 = "10723151780598845931" // 0x94d049bb133111eb

  /** Replays Dedup.minhashSignatures → minhashBands → lshCandidatePairs:
    * 3-word shingles, 128-perm double-hash MinHash (Kirsch-Mitzenmacher,
    * SIGNED-long mins like the JVM kernel), 16 raw-slice band keys, bounded
    * bucket pair expansion. Shared by the d02 and d06 oracles. */
  private lazy val minhashCtes: String = {
    val seedA = 0x9e3779b97f4a7c15L
    val seedB = 0x2545f4914f6cdd1dL
    raw"""sh AS (
        SELECT doc_id, unnest(list_transform(range(0, greatest(len(w) - 2, 1)),
            i -> concat_ws(' ', w[i+1], w[i+2], w[i+3]))) AS s
        FROM (SELECT doc_id, string_split_regex(lower(text), '\s+') AS w
              FROM documents) d),
      a0 AS (SELECT doc_id, ${fnvReduce(fnvSeq("s", seedA))} AS ah0,
                    ${fnvReduce(fnvSeq("s", seedB))} AS bh0 FROM sh),
      a1 AS (SELECT doc_id, ${mulmod64("xor(ah0, ah0 >> 30)", Mix1)} AS az1,
                    ${mulmod64("xor(bh0, bh0 >> 30)", Mix1)} AS bz1 FROM a0),
      a2 AS (SELECT doc_id, ${mulmod64("xor(az1, az1 >> 27)", Mix2)} AS az2,
                    ${mulmod64("xor(bz1, bz1 >> 27)", Mix2)} AS bz2 FROM a1),
      hh AS (SELECT doc_id, xor(az2, az2 >> 31) AS h1u,
                    (xor(bz2, bz2 >> 31) - (xor(bz2, bz2 >> 31) % 2) + 1) AS h2u
             FROM a2),
      sigj AS (
        SELECT doc_id, jj.j AS j, MIN(${u2s(s"(h1u + jj.j * h2u) % $Two64")}) AS sv
        FROM hh, (SELECT unnest(range(0, 128)) AS j) jj
        GROUP BY doc_id, jj.j),
      bandkeys AS (
        SELECT doc_id, CAST(j // 8 AS INTEGER) AS band, list(sv ORDER BY j) AS key
        FROM sigj GROUP BY doc_id, band),
      ok AS (SELECT band, key FROM bandkeys
             GROUP BY band, key HAVING COUNT(*) BETWEEN 2 AND 1000),
      pr AS (
        SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        FROM bandkeys x
        JOIN bandkeys y ON x.band = y.band AND x.key = y.key
          AND x.doc_id < y.doc_id
        JOIN ok o ON o.band = x.band AND o.key = x.key),
      cnt AS (
        SELECT v AS doc_id, COUNT(*) AS n_candidates
        FROM (SELECT a AS v FROM pr UNION ALL SELECT b AS v FROM pr) t
        GROUP BY 1)"""
  }

  val sql: Map[String, String] = Map(
    "q01_agg_groupby" -> s"""
      SELECT l_returnflag, l_linestatus,
        ${dsum("l_quantity")} AS sum_qty,
        ${dsum("l_extendedprice")} AS sum_base_price,
        ${dsum("l_extendedprice * (1.0 - l_discount)", 6)} AS sum_disc_price,
        ${dsum("l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)", 6)} AS sum_charge,
        ${davg("l_quantity")} AS avg_qty,
        ${davg("l_extendedprice")} AS avg_price,
        COUNT(*) AS count_order
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus""",

    "q02_filter_project" -> """
      SELECT l_orderkey, l_linenumber, l_extendedprice,
        strftime(l_shipdate, '%Y-%m-%d') AS ship_date
      FROM lineitem
      WHERE l_quantity > 45 AND l_returnflag = 'R'
      -- total order: (l_orderkey, l_linenumber) is not unique in the
      -- synthetic data (r15 sf1.0 gate)
      ORDER BY l_orderkey, l_linenumber, l_extendedprice, ship_date""",

    "q03_join_inner" -> s"""
      SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS order_date,
        ${dsum("l_extendedprice * (1.0 - l_discount)", 6)} AS revenue
      FROM customer, orders, lineitem
      WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
        AND l_orderkey = o_orderkey
        AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
      GROUP BY 1, 2
      ORDER BY revenue DESC, l_orderkey
      LIMIT 20""",

    "q04_join_outer" -> s"""
      SELECT c_custkey, COUNT(o_orderkey) AS n_big_orders,
        COALESCE(${dsum("o_totalprice")}, 0.0) AS big_total
      FROM customer
      LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 400000) o
        ON c_custkey = o_custkey
      WHERE c_custkey < 200
      GROUP BY c_custkey
      ORDER BY c_custkey""",

    "q05_join_semi" -> """
      SELECT c_custkey, c_name FROM customer
      WHERE EXISTS (SELECT 1 FROM orders
                    WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
      ORDER BY c_custkey""",

    "q06_join_anti" -> """
      SELECT p_partkey, p_name, p_brand FROM part
      WHERE NOT EXISTS (SELECT 1 FROM lineitem
                        WHERE l_partkey = p_partkey AND l_quantity > 45)
      ORDER BY p_partkey""",

    "q07_star_join" -> s"""
      SELECT n_name, ${dsum("l_extendedprice * (1.0 - l_discount)", 6)} AS revenue
      FROM customer, orders, lineitem, supplier, nation, region
      WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        AND r_name = 'ASIA'
        AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      GROUP BY n_name
      ORDER BY revenue DESC, n_name""",

    "q08_agg_distinct" -> """
      SELECT o_orderstatus, COUNT(DISTINCT o_custkey) AS n_cust,
        COUNT(DISTINCT o_orderpriority) AS n_prio, COUNT(*) AS n_orders
      FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",

    "q10_percentile" -> """
      SELECT l_returnflag,
        round(quantile_cont(l_quantity, 0.5), 4) AS p50_qty,
        round(quantile_cont(l_quantity, 0.9), 4) AS p90_qty,
        round(quantile_cont(l_extendedprice, 0.5), 4) AS p50_price
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",

    "q11_window_rank" -> """
      SELECT * FROM (
        SELECT o_orderstatus, o_orderkey, o_totalprice,
          CAST(row_number() OVER w AS INTEGER) AS rn,
          CAST(rank() OVER w AS INTEGER) AS rk,
          CAST(dense_rank() OVER w AS INTEGER) AS drk
        FROM orders
        WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC, o_orderkey)
      ) t WHERE rn <= 3 ORDER BY o_orderstatus, rn""",

    "q12_window_running" -> """
      SELECT o_custkey, o_orderkey,
        strftime(o_orderdate, '%Y-%m-%d') AS order_date, o_totalprice,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
             OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
             AS DOUBLE) AS running_total,
        lag(o_totalprice, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_price,
        lead(o_totalprice, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS next_price
      FROM orders WHERE o_custkey < 50
      ORDER BY o_custkey, o_orderkey""",

    "q13_setops" -> """
      WITH hi_bal AS (SELECT c_custkey AS id FROM customer WHERE c_acctbal > 8000),
        urgent AS (SELECT DISTINCT o_custkey AS id FROM orders WHERE o_orderpriority = '1-URGENT')
      SELECT 'both' AS tag, id FROM (SELECT id FROM hi_bal INTERSECT SELECT id FROM urgent) a
      UNION ALL
      SELECT 'only_bal' AS tag, id FROM (SELECT id FROM hi_bal EXCEPT SELECT id FROM urgent) b
      ORDER BY tag, id""",

    "q14_rollup" -> s"""
      SELECT COALESCE(o_orderstatus, 'ALL') AS status,
        COALESCE(o_orderpriority, 'ALL') AS prio,
        COUNT(*) AS n, ${dsum("o_totalprice")} AS total
      FROM orders
      GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
      ORDER BY status, prio""",

    "q135_rollup_distinct" -> s"""
      SELECT COALESCE(l_returnflag, 'ALL') AS flag,
        COALESCE(l_linestatus, 'ALL') AS status,
        COUNT(DISTINCT l_suppkey) AS n_supps,
        COUNT(DISTINCT l_partkey) AS n_parts,
        COUNT(*) AS n_rows, ${dsum("l_quantity")} AS sum_qty
      FROM lineitem
      GROUP BY ROLLUP(l_returnflag, l_linestatus)
      ORDER BY flag, status""",

    // d15: the d02 pair pipeline (minhashCtes → pr) + exact containment
    // over gram STRINGS (Spark shuffles 8-byte hash64 values — the
    // d08/d13 collision-free-replay discipline); flags compare the
    // ROUNDED containments so the 0.9 boundary can't fork.
    "d15_containment" -> s"""
      WITH $minhashCtes,
      g AS (SELECT DISTINCT doc_id, s FROM sh),
      nsz AS (SELECT doc_id, COUNT(*) AS n FROM g GROUP BY 1),
      inter AS (
        SELECT pr.a, pr.b, COUNT(*) AS n_common
        FROM pr JOIN g ga ON ga.doc_id = pr.a
                JOIN g gb ON gb.doc_id = pr.b AND gb.s = ga.s
        GROUP BY pr.a, pr.b),
      base AS (
        SELECT pr.a AS id_a, pr.b AS id_b, na.n AS n_a, nb.n AS n_b,
          COALESCE(i.n_common, 0) AS n_common
        FROM pr JOIN nsz na ON na.doc_id = pr.a
                JOIN nsz nb ON nb.doc_id = pr.b
        LEFT JOIN inter i ON i.a = pr.a AND i.b = pr.b),
      scored AS (
        SELECT id_a, id_b, n_a, n_b, n_common,
          round(CAST(n_common AS DOUBLE) / CAST(n_a AS DOUBLE), 6) AS cont_a,
          round(CAST(n_common AS DOUBLE) / CAST(n_b AS DOUBLE), 6) AS cont_b,
          round(CAST(n_common AS DOUBLE)
            / CAST(n_a + n_b - n_common AS DOUBLE), 6) AS jaccard
        FROM base)
      SELECT id_a, id_b, n_a, n_b, n_common, cont_a, cont_b, jaccard,
        cont_a >= 0.9 OR cont_b >= 0.9 AS near_subset
      FROM scored ORDER BY id_a, id_b""",

    "q15_topn" -> """
      SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""",

    "q16_case_pivot" -> """
      SELECT CAST(extract(year FROM o_orderdate) AS INTEGER) AS yr,
        COUNT(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 END) AS urgent,
        COUNT(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 END) AS high,
        COUNT(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN NULL ELSE 1 END) AS other,
        COUNT(*) AS total
      FROM orders GROUP BY 1 ORDER BY yr""",

    "q17_string_funcs" -> """
      SELECT c_custkey, upper(c_name) AS up_name, lower(c_mktsegment) AS lo_seg,
        substr(c_name, 1, 8) AS prefix,
        CAST(length(c_name) AS INTEGER) AS name_len,
        regexp_replace(c_name, '0+', '0', 'g') AS squeezed,
        concat_ws('|', c_mktsegment, c_name) AS joined,
        lpad(CAST(c_custkey AS VARCHAR), 6, '0') AS padded,
        regexp_extract(c_name, '([0-9]+)', 1) AS digits,
        trim('  x  ') AS trimmed
      FROM customer WHERE c_custkey < 300 ORDER BY c_custkey""",

    "q18_date_funcs" -> """
      SELECT o_orderkey,
        CAST(extract(year FROM o_orderdate) AS INTEGER) AS yr,
        CAST(extract(month FROM o_orderdate) AS INTEGER) AS mo,
        CAST(extract(day FROM o_orderdate) AS INTEGER) AS dom,
        CAST(extract(isodow FROM o_orderdate) - 1 AS INTEGER) AS wd,
        CAST(extract(quarter FROM o_orderdate) AS INTEGER) AS qtr,
        strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
        strftime(CAST(o_orderdate AS DATE) + 30, '%Y-%m-%d') AS due_date,
        CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS INTEGER) AS age_days
      FROM orders WHERE o_orderkey < 800 ORDER BY o_orderkey""",

    "q19_math_funcs" -> """
      SELECT l_orderkey, l_linenumber,
        abs(l_extendedprice * -1.0) AS abs_price,
        CAST(ceil(l_extendedprice) AS BIGINT) AS ceil_price,
        CAST(floor(l_extendedprice) AS BIGINT) AS floor_price,
        round(l_quantity / 7.0, 1) AS qty_sevenths,
        round(sqrt(l_quantity), 6) AS sqrt_qty,
        round(pow(l_discount, 2), 6) AS disc_sq,
        round(ln(l_extendedprice), 6) AS ln_price,
        l_orderkey % 7 AS mod7,
        CAST(sign(l_discount - 0.05) AS INTEGER) AS sgn
      FROM lineitem WHERE l_orderkey < 400
      -- total order over all outputs: key ties exist (r15 sf1.0 gate)
      ORDER BY l_orderkey, l_linenumber, abs_price, qty_sevenths,
        sqrt_qty, disc_sq, sgn""",

    "q20_subquery_scalar" -> s"""
      SELECT ${dsum("l_extendedprice")} / 7.0 AS avg_yearly
      FROM lineitem, part
      WHERE p_partkey = l_partkey AND p_brand = 'Brand#23'
        AND l_quantity < 0.2 * (
          SELECT CAST(CAST(SUM(CAST(l2.l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l2.l_quantity) AS DOUBLE)
          FROM lineitem l2 WHERE l2.l_partkey = p_partkey)""",

    "q21_subquery_in" -> """
      SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      WHERE o_totalprice > 450000
        AND o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
      ORDER BY o_orderkey""",

    "q22_exists_correlated" -> """
      SELECT o_orderpriority, COUNT(*) AS order_count FROM orders
      WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
        AND EXISTS (SELECT 1 FROM lineitem
                    WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
      GROUP BY o_orderpriority ORDER BY o_orderpriority""",

    "q23_having" -> s"""
      SELECT l_orderkey, ${dsum("l_quantity")} AS total_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING ${dsum("l_quantity")} > 150
      ORDER BY total_qty DESC, l_orderkey LIMIT 50""",

    "q24_cte" -> """
      WITH big_orders AS (
        SELECT o_custkey, o_totalprice FROM orders WHERE o_totalprice > 300000
      ),
      per_cust AS (
        SELECT o_custkey, COUNT(*) AS n_big,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
        FROM big_orders GROUP BY o_custkey
      )
      SELECT c.c_mktsegment AS segment,
             COUNT(*) AS n_cust,
             CAST(SUM(n_big) AS BIGINT) AS total_big,
             CAST(SUM(CAST(spend AS DECIMAL(18,2))) AS DOUBLE) AS total_spend
      FROM per_cust p JOIN customer c ON p.o_custkey = c.c_custkey
      GROUP BY c.c_mktsegment
      ORDER BY segment""",

    "q25_unnest" -> """
      SELECT word, COUNT(*) AS n FROM (
        SELECT unnest(string_split(text, ' ')) AS word
        FROM documents WHERE doc_id < 20
      ) t GROUP BY word ORDER BY word""",

    "q26_distinct" -> """
      SELECT DISTINCT l_returnflag, l_linestatus,
        CAST(extract(year FROM l_shipdate) AS INTEGER) AS yr
      FROM lineitem ORDER BY l_returnflag, l_linestatus, yr""",

    "q27_nulls_order" -> """
      SELECT o_orderkey, NULLIF(o_orderstatus, 'O') AS st,
        COALESCE(NULLIF(o_orderstatus, 'O'), 'none') AS st2
      FROM orders WHERE o_orderkey < 500
      ORDER BY st ASC NULLS FIRST, o_orderkey""",

    "q28_cross_join" -> """
      SELECT r_name, o_orderstatus
      FROM region CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders) t
      ORDER BY r_name, o_orderstatus""",

    "q29_array_agg" -> """
      SELECT n_regionkey, string_agg(n_name, ',' ORDER BY n_name) AS names,
        COUNT(*) AS n
      FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""",

    "q30_tpch_q6" -> s"""
      SELECT ${dsum("l_extendedprice * l_discount", 6)} AS revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""",

    "q31_self_join" -> """
      SELECT a.o_custkey AS ck, COUNT(*) AS pairs
      FROM orders a JOIN orders b
        ON a.o_custkey = b.o_custkey AND a.o_orderkey < b.o_orderkey
      WHERE a.o_custkey < 100 GROUP BY 1 ORDER BY ck""",

    "q32_conditional_null" -> s"""
      SELECT l_returnflag,
        ${dsum("l_extendedprice")} / NULLIF(${dsum("l_quantity")}, 0.0) AS price_per_unit,
        CASE WHEN ${dsum("l_quantity")} = 0 THEN 'empty' ELSE 'ok' END AS flag
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",

    "q33_json" -> """
      SELECT event_id,
        json_extract_string(props, '$.k') AS k_str,
        CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_int,
        CAST(json_extract_string(props, '$.k') AS INTEGER) % 10 AS k_mod
      FROM events WHERE event_id < 2000 ORDER BY event_id""",

    "q34_bitwise" -> """
      SELECT o_orderkey,
        o_orderkey & 255 AS b_and,
        o_orderkey | 16 AS b_or,
        xor(o_orderkey, 255) AS b_xor,
        o_orderkey << 2 AS b_shl,
        o_orderkey >> 2 AS b_shr,
        CAST(bit_count(o_orderkey) AS INTEGER) AS b_cnt
      FROM orders WHERE o_orderkey < 500 ORDER BY o_orderkey""",

    "q35_url" -> """
      SELECT c_custkey,
        lower(c_mktsegment) || '.example.com' AS host,
        '/c/' || c_custkey AS path,
        'seg=' || lower(c_mktsegment) || '&id=' || c_custkey AS query,
        CAST(c_custkey AS VARCHAR) AS id_param
      FROM customer WHERE c_custkey < 300 ORDER BY c_custkey""",

    "q36_width_bucket" -> s"""
      -- Clamp exactly like Spark's width_bucket(x, 0, 500000, 10): values
      -- beyond the top bound land in bucket 11, negatives in bucket 0.
      SELECT LEAST(GREATEST(CAST(FLOOR(o_totalprice / 50000) AS BIGINT) + 1, 0), 11) AS bucket,
        COUNT(*) AS n, ${dsum("o_totalprice")} AS total
      FROM orders GROUP BY 1 ORDER BY bucket""",

    "q37_map_agg" -> """
      SELECT o_orderstatus,
        COUNT(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 END) AS urgent_cnt,
        CAST(COUNT(DISTINCT o_orderpriority) AS INTEGER) AS n_keys
      FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",

    "q38_try_funcs" -> """
      SELECT l_orderkey, l_linenumber,
        l_extendedprice / NULLIF(l_quantity - 24.0, 0.0) AS div_guarded,
        TRY_CAST(regexp_extract(l_returnflag, '([0-9]+)', 1) AS DOUBLE) AS bad_cast,
        l_orderkey + 1 AS safe_add
      FROM lineitem WHERE l_orderkey < 300
      -- total order; NULLS FIRST pinned (Spark's ASC default) — DuckDB
      -- defaults NULLS LAST
      ORDER BY l_orderkey, l_linenumber, div_guarded ASC NULLS FIRST""",

    "t05_normalize" -> """
      SELECT doc_id,
        array_to_string(list_filter(string_split_regex(lower(trim(text)), '\s+'),
          w -> w NOT IN ('the', 'a', 'and', 'of')), ' ') AS cleaned,
        CAST(len(string_split_regex(lower(trim(text)), '\s+'))
           - len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
               w -> w NOT IN ('the', 'a', 'and', 'of'))) AS INTEGER) AS n_removed
      FROM documents ORDER BY doc_id""",

    "q39_global_avg_filter" -> """
      SELECT c_custkey, c_acctbal FROM customer
      WHERE c_acctbal > (SELECT CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(c_acctbal) AS DOUBLE) FROM customer)
        AND NOT EXISTS (SELECT 1 FROM orders
                        WHERE o_custkey = c_custkey AND o_totalprice > 400000)
      ORDER BY c_custkey""",

    "q40_pivot" -> """
      SELECT CAST(extract(year FROM o_orderdate) AS INTEGER) AS yr,
        COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS "F",
        COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS "O",
        COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS "P"
      FROM orders GROUP BY 1 ORDER BY yr""",

    "e04_moving_avg" -> """
      SELECT user_id, event_id, value,
        CAST(SUM(CAST(value AS DECIMAL(18,6)))
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS DOUBLE) AS mov_sum,
        COUNT(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS mov_n,
        CAST(SUM(CAST(value AS DECIMAL(18,6)))
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS DOUBLE)
          / (COUNT(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)) AS mov_avg
      FROM events WHERE user_id < 10
      ORDER BY user_id, event_id""",

    "q41_max_by" -> """
      SELECT o_orderstatus,
        arg_max(o_orderkey, o_totalprice * 1000000000 + o_orderkey) AS best_order,
        arg_min(o_orderkey, o_totalprice * 1000000000 + o_orderkey) AS worst_order,
        max(o_totalprice) AS max_price,
        min(o_totalprice) AS min_price
      FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",

    "q43_window_dist" -> """
      SELECT o_orderkey,
        CAST(ntile(4) OVER w AS INTEGER) AS quartile,
        round(percent_rank() OVER w, 6) AS pr,
        round(cume_dist() OVER w, 6) AS cd
      FROM orders WHERE o_custkey < 30
      WINDOW w AS (ORDER BY o_totalprice, o_orderkey)
      ORDER BY o_orderkey""",

    "q44_stats_agg" -> """
      SELECT l_returnflag,
        round(stddev_samp(l_quantity), 4) AS sd_qty,
        round(var_samp(l_quantity), 4) AS var_qty,
        round(corr(l_quantity, l_extendedprice), 6) AS corr_qp,
        round(covar_samp(l_quantity, l_extendedprice), 2) AS covar_qp
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",

    "q45_interval" -> """
      SELECT o_orderkey,
        strftime(o_orderdate + INTERVAL 3 DAY, '%Y-%m-%d %H:%M:%S') AS plus_days,
        strftime(o_orderdate - INTERVAL 2 HOUR, '%Y-%m-%d %H:%M:%S') AS minus_hours,
        strftime(o_orderdate + INTERVAL 1 MONTH, '%Y-%m-%d %H:%M:%S') AS plus_month
      FROM orders WHERE o_orderkey < 400 ORDER BY o_orderkey""",

    "q47_like_patterns" -> """
      SELECT p_partkey, p_name,
        p_name LIKE '%red%' AS has_red,
        p_name ILIKE 'SMALL%' AS starts_small,
        regexp_matches(p_name, '^[a-z]+ (bolt|widget)$') AS is_bw
      FROM part
      WHERE p_name LIKE '%red%' OR p_name ILIKE 'SMALL%'
         OR regexp_matches(p_name, '^[a-z]+ (bolt|widget)$')
      ORDER BY p_partkey""",

    "t06_bigrams" -> """
      SELECT bg, COUNT(*) AS n FROM (
        SELECT unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS bg
        FROM (SELECT string_split_regex(lower(text), '\s+') AS w FROM documents) t
      ) u GROUP BY bg ORDER BY n DESC, bg LIMIT 50""",

    "q48_nested_agg" -> """
      SELECT o_custkey, n FROM (
        SELECT o_custkey, COUNT(*) AS n FROM orders GROUP BY o_custkey
      ) pc
      WHERE n > (SELECT AVG(cnt) FROM (
        SELECT COUNT(*) AS cnt FROM orders GROUP BY o_custkey) t)
      ORDER BY o_custkey""",

    "q49_values_join" -> s"""
      SELECT tier, COUNT(*) AS n_cust, ${dsum("c_acctbal")} AS total_bal
      FROM customer
      JOIN (VALUES ('AUTOMOBILE', 'retail'), ('BUILDING', 'industrial'),
                   ('FURNITURE', 'retail'), ('HOUSEHOLD', 'retail'),
                   ('MACHINERY', 'industrial')) AS tiers(c_mktsegment, tier)
        USING (c_mktsegment)
      GROUP BY tier ORDER BY tier""",

    "e01_tumbling_window" -> s"""
      SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
        COUNT(*) AS n_events, ${dsum("value", 6)} AS total_value,
        COUNT(DISTINCT user_id) AS n_users
      FROM events GROUP BY 1 ORDER BY hour_start""",

    "e02_sessionize" -> """
      WITH g AS (
        SELECT user_id, ts,
          CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                 OR epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts) > 1800000000
               THEN 1 ELSE 0 END AS new_sess
        FROM events
      ), s AS (
        SELECT user_id,
          CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess_id
        FROM g
      )
      SELECT user_id, CAST(MAX(sess_id) AS BIGINT) AS n_sessions, COUNT(*) AS n_events
      FROM s GROUP BY user_id ORDER BY user_id""",

    // Replays Events.sessionWindows (native session_window): windows
    // [ts, ts+30min) merge while they overlap, so a NEW session starts at
    // gap >= 30min (note: >=, unlike e02's lag-convention strict >);
    // session end = last event + gap.
    "e07_session_window" -> """
      WITH e AS (SELECT user_id, ts, value FROM events WHERE user_id < 50),
      g AS (
        SELECT user_id, ts, value,
          CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                 OR epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts) >= 1800000000
               THEN 1 ELSE 0 END AS new_sess
        FROM e
      ), s AS (
        SELECT user_id, ts, value,
          SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
        FROM g
      )
      SELECT user_id,
        strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        strftime(MAX(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S') AS session_end,
        COUNT(*) AS n_events,
        CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS session_value
      FROM s GROUP BY user_id, sess_id
      ORDER BY user_id, session_start""",

    "e03_topk_users" -> s"""
      SELECT event_type, user_id, total, rn FROM (
        SELECT event_type, user_id, ${dsum("value", 6)} AS total,
          CAST(row_number() OVER (PARTITION BY event_type
               ORDER BY ${dsum("value", 6)} DESC, user_id) AS INTEGER) AS rn
        FROM events GROUP BY event_type, user_id
      ) t WHERE rn <= 5 ORDER BY event_type, rn""",

    "t01_langid" -> {
      def occ(m: String) = s"(length(p) - length(replace(p, '$m', ''))) / ${m.length}"
      raw"""
      SELECT doc_id, lang,
        CASE
          WHEN length(text) - length(regexp_replace(text, '[\x{4e00}-\x{9fff}]', '', 'g')) > 0 THEN 'zh'
          WHEN (${occ(" der ")} + ${occ(" und ")} + ${occ(" das ")} + ${occ(" nicht ")}) > (${occ(" le ")} + ${occ(" la ")} + ${occ(" les ")} + ${occ(" est ")})
           AND (${occ(" der ")} + ${occ(" und ")} + ${occ(" das ")} + ${occ(" nicht ")}) > (${occ(" el ")} + ${occ(" los ")} + ${occ(" que ")} + ${occ(" una ")})
           AND (${occ(" der ")} + ${occ(" und ")} + ${occ(" das ")} + ${occ(" nicht ")}) > 0 THEN 'de'
          WHEN (${occ(" le ")} + ${occ(" la ")} + ${occ(" les ")} + ${occ(" est ")}) > (${occ(" el ")} + ${occ(" los ")} + ${occ(" que ")} + ${occ(" una ")})
           AND (${occ(" le ")} + ${occ(" la ")} + ${occ(" les ")} + ${occ(" est ")}) > 0 THEN 'fr'
          WHEN (${occ(" el ")} + ${occ(" los ")} + ${occ(" que ")} + ${occ(" una ")}) > 0 THEN 'es'
          ELSE 'en'
        END AS pred
      FROM (SELECT doc_id, lang, text, ' ' || lower(text) || ' ' AS p FROM documents) d
      ORDER BY doc_id"""
    },

    "t02_quality_score" -> {
      def occ(m: String) = s"(length(p) - length(replace(p, '$m', ''))) / ${m.length}"
      raw"""
      SELECT doc_id, n_tokens, n_punct, round(score, 6) AS score FROM (
        SELECT doc_id,
          CAST(len(string_split_regex(trim(text), '\s+')) AS INTEGER) AS n_tokens,
          CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS INTEGER) AS n_punct,
          LEAST(1.0, len(string_split_regex(trim(text), '\s+')) / 100.0) * 0.5
          + LEAST(1.0, (${occ(" the ")} + ${occ(" a ")} + ${occ(" and ")} + ${occ(" of ")}) * 10.0 / len(string_split_regex(trim(text), '\s+'))) * 0.3
          + CASE WHEN CAST(length(text) - (len(string_split_regex(trim(text), '\s+')) - 1) AS DOUBLE) / len(string_split_regex(trim(text), '\s+')) BETWEEN 3.0 AND 8.0
                 THEN 0.2 ELSE 0.0 END AS score
        FROM (SELECT doc_id, text, ' ' || lower(text) || ' ' AS p FROM documents) d
      ) t ORDER BY doc_id"""
    },

    "t03_token_count" -> """
      SELECT doc_id,
        CAST(len(string_split_regex(trim(text), '\s+')) AS INTEGER) AS ws_tokens,
        CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS INTEGER) AS bpe_tokens,
        round(CAST(length(text) AS DOUBLE) / len(string_split_regex(trim(text), '\s+')), 6) AS chars_per_token
      FROM documents ORDER BY doc_id""",

    "c01_curation" -> {
      def occ(m: String) = s"(length(p) - length(replace(p, '$m', ''))) / ${m.length}"
      raw"""
      WITH scored AS (
        SELECT doc_id, lang, text,
          LEAST(1.0, len(string_split_regex(trim(text), '\s+')) / 100.0) * 0.5
          + LEAST(1.0, (${occ(" the ")} + ${occ(" a ")} + ${occ(" and ")} + ${occ(" of ")}) * 10.0 / len(string_split_regex(trim(text), '\s+'))) * 0.3
          + CASE WHEN CAST(length(text) - (len(string_split_regex(trim(text), '\s+')) - 1) AS DOUBLE) / len(string_split_regex(trim(text), '\s+')) BETWEEN 3.0 AND 8.0
                 THEN 0.2 ELSE 0.0 END AS score_raw
        FROM (SELECT doc_id, lang, text, ' ' || lower(text) || ' ' AS p FROM documents) d
      ), kept AS (
        SELECT * FROM scored WHERE score_raw >= 0.5
      ), keepers AS (
        SELECT MIN(doc_id) AS doc_id FROM kept GROUP BY md5(lower(trim(text)))
      )
      SELECT k.doc_id, k.lang, round(k.score_raw, 6) AS score
      FROM kept k JOIN keepers USING (doc_id)
      ORDER BY doc_id"""
    },

    // c04: each check replayed as one aggregate; the FK checks probe the
    // distinct-key frame, the temporal check rides the orderkey join.
    "c04_data_quality" -> """
      WITH checks AS (
        SELECT 'lineitem' AS tbl, 'fk_orderkey_orphan' AS chk,
          COUNT(*) AS n_checked,
          CAST(SUM(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
            AS n_violations
        FROM lineitem l LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
          ON l.l_orderkey = o.o_orderkey
        UNION ALL
        SELECT 'orders', 'fk_custkey_orphan', COUNT(*),
          CAST(SUM(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        FROM orders o LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
          ON o.o_custkey = c.c_custkey
        UNION ALL
        SELECT 'orders', 'pk_orderkey_duplicate', COUNT(*),
          CAST(SUM(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT)
        FROM (SELECT o_orderkey, COUNT(*) AS n FROM orders GROUP BY 1) t
        UNION ALL
        SELECT 'customer', 'null_name', COUNT(*),
          CAST(SUM(CASE WHEN c_name IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        FROM customer
        UNION ALL
        SELECT 'lineitem', 'range_discount', COUNT(*),
          CAST(SUM(CASE WHEN l_discount < 0.0 OR l_discount > 0.1
            THEN 1 ELSE 0 END) AS BIGINT)
        FROM lineitem
        UNION ALL
        SELECT 'events', 'range_value_negative', COUNT(*),
          CAST(SUM(CASE WHEN value < 0.0 THEN 1 ELSE 0 END) AS BIGINT)
        FROM events
        UNION ALL
        SELECT 'documents', 'duplicate_text', COUNT(*),
          CAST(SUM(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT)
        FROM (SELECT md5(text) AS h, COUNT(*) AS n FROM documents GROUP BY 1) t
        UNION ALL
        SELECT 'lineitem', 'shipped_before_order', COUNT(*),
          CAST(SUM(CASE WHEN l_shipdate < o_orderdate THEN 1 ELSE 0 END) AS BIGINT)
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        UNION ALL
        SELECT 'events', 'ts_outside_window', COUNT(*),
          CAST(SUM(CASE WHEN ts < TIMESTAMP '2024-01-01'
            OR ts >= TIMESTAMP '2024-02-01' THEN 1 ELSE 0 END) AS BIGINT)
        FROM events)
      SELECT tbl, chk, n_checked, n_violations, n_violations = 0 AS pass
      FROM checks ORDER BY tbl, chk""",

    // c03: the three signal chains (t02 quality / d14 boilerplate / t19
    // bigram LM) replayed as CTEs and joined per doc; the composite uses
    // the already-rounded signal values with the identical left-to-right
    // IEEE expression tree.
    "c03_full_curation" -> {
      def occ(m: String) = s"(length(p) - length(replace(p, '$m', ''))) / ${m.length}"
      raw"""
      WITH q AS (
        SELECT doc_id, lang, round(
          LEAST(1.0, len(string_split_regex(trim(text), '\s+')) / 100.0) * 0.5
          + LEAST(1.0, (${occ(" the ")} + ${occ(" a ")} + ${occ(" and ")} + ${occ(" of ")}) * 10.0 / len(string_split_regex(trim(text), '\s+'))) * 0.3
          + CASE WHEN CAST(length(text) - (len(string_split_regex(trim(text), '\s+')) - 1) AS DOUBLE) / len(string_split_regex(trim(text), '\s+')) BETWEEN 3.0 AND 8.0
                 THEN 0.2 ELSE 0.0 END, 6) AS quality
        FROM (SELECT doc_id, lang, text, ' ' || lower(text) || ' ' AS p FROM documents) d),
      wl AS (
        SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
        FROM documents),
      nw AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words FROM wl),
      p0 AS (SELECT doc_id, w, unnest(range(0, len(w) - 4)) AS pos
             FROM wl WHERE len(w) >= 5),
      pos AS (SELECT doc_id, pos,
                array_to_string(w[pos+1:pos+5], ' ') AS gram FROM p0),
      freq AS (SELECT gram FROM pos
               GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 3),
      cov AS (SELECT doc_id, COUNT(DISTINCT i) AS covered_words
              FROM (SELECT doc_id, pos + unnest(range(0, 5)) AS i
                    FROM pos JOIN freq USING (gram))
              GROUP BY doc_id),
      bp AS (
        SELECT nw.doc_id,
          round(CAST(COALESCE(covered_words, 0) AS DOUBLE)
            / CAST(n_words AS DOUBLE), 4) AS bp_frac
        FROM nw LEFT JOIN cov ON nw.doc_id = cov.doc_id),
      tw AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      b AS (SELECT doc_id, ws[i] AS w1, ws[i+1] AS w2
            FROM tw, unnest(range(1, len(ws))) t(i) WHERE len(ws) >= 2),
      c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM b GROUP BY 1, 2),
      c1 AS (SELECT w1, COUNT(*) AS c1 FROM b GROUP BY 1),
      v AS (SELECT COUNT(DISTINCT tok) AS vocab
            FROM (SELECT unnest(ws) AS tok FROM tw)),
      lm AS (
        -- 4dp mean in exact INTEGER space (the t24 discipline; ln < 0 so
        -- the negated micro-unit sum is positive) — a double division
        -- before round() forked one doc at sf1.0
        SELECT doc_id,
          CAST((CAST(SUM(CAST(ln(CAST(c2 + 1 AS DOUBLE) / CAST(c1 + vocab AS DOUBLE))
                              AS DECIMAL(18,6))) * -1000000 AS BIGINT)
                + 50 * COUNT(*)) // (100 * COUNT(*)) AS DOUBLE) / -10000.0 AS avg_logp
        FROM b JOIN c2 USING (w1, w2) JOIN c1 USING (w1), v
        GROUP BY doc_id),
      joined AS (
        SELECT q.doc_id, q.lang, q.quality, bp.bp_frac,
          COALESCE(lm.avg_logp, -10.0) AS fluency
        FROM q JOIN bp ON q.doc_id = bp.doc_id
        LEFT JOIN lm ON q.doc_id = lm.doc_id)
      SELECT doc_id, lang, quality, bp_frac, fluency,
        CAST(round(
          CAST(quality AS DECIMAL(18,6)) * 0.5
          + (1.0 - CAST(bp_frac AS DECIMAL(18,4))) * 0.3
          + (1.0 + CAST(GREATEST(CAST(-1.0 AS DECIMAL(18,5)),
              LEAST(CAST(0.0 AS DECIMAL(18,5)),
                CAST(fluency AS DECIMAL(18,4)) * 0.1)) AS DECIMAL(18,5))) * 0.2,
        6) AS DOUBLE) AS composite,
        quality >= 0.5 AND bp_frac < 0.2 AND fluency >= -4.0 AS keep
      FROM joined ORDER BY doc_id"""
    },

    "q42_promo_ratio" -> s"""
      SELECT CAST(100.0 *
        ${dsum("CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END", 6)}
        / ${dsum("l_extendedprice * (1.0 - l_discount)", 6)} AS DOUBLE) AS promo_revenue
      FROM lineitem, part
      WHERE l_partkey = p_partkey
        AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1997-02-01 00:00:00'""",

    "c02_corpus_stats" -> {
      def occ(m: String) = s"(length(p) - length(replace(p, '$m', ''))) / ${m.length}"
      raw"""
      SELECT source, lang, COUNT(*) AS n_docs,
        CAST(CAST(SUM(CAST(
          LEAST(1.0, len(string_split_regex(trim(text), '\s+')) / 100.0) * 0.5
          + LEAST(1.0, (${occ(" the ")} + ${occ(" a ")} + ${occ(" and ")} + ${occ(" of ")}) * 10.0 / len(string_split_regex(trim(text), '\s+'))) * 0.3
          + CASE WHEN CAST(length(text) - (len(string_split_regex(trim(text), '\s+')) - 1) AS DOUBLE) / len(string_split_regex(trim(text), '\s+')) BETWEEN 3.0 AND 8.0
                 THEN 0.2 ELSE 0.0 END AS DECIMAL(18,8))) AS DOUBLE) / COUNT(*) AS DOUBLE) AS avg_score,
        CAST(SUM(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS total_tokens
      FROM (SELECT source, lang, text, ' ' || lower(text) || ' ' AS p FROM documents) d
      GROUP BY source, lang
      ORDER BY source, lang"""
    },

    // g01: integer fixed-point PageRank replay. Every quantity is BIGINT
    // (exact, order-independent sums), every division is floor (`//`,
    // matching Spark's `div` on non-negatives), so all 5 iterations are
    // bit-identical cross-engine — the property FP PageRank cannot give.
    // DuckDB SUM(BIGINT) widens to HUGEINT, hence the CAST back.
    "g01_pagerank" -> """
      WITH nn AS (SELECT COUNT(*) AS n FROM documents),
      consts AS (
        SELECT n, 1000000000000 // n AS init,
               (15 * (1000000000000 // n)) // 100 AS base
        FROM nn),
      edges AS (
        SELECT doc_id AS src, (doc_id * doc_id + 1) % (SELECT n FROM nn) AS dst
        FROM documents
        UNION ALL
        SELECT doc_id, (doc_id * 7 + 3) % (SELECT n FROM nn) FROM documents
        UNION ALL
        SELECT doc_id, (doc_id * 13 + 5) % (SELECT n FROM nn) FROM documents),
      deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM edges GROUP BY src),
      e AS (SELECT src, dst, deg FROM edges JOIN deg USING (src)),
      s0 AS (SELECT doc_id, (SELECT init FROM consts) AS score FROM documents),
      s1 AS (
        SELECT d.doc_id, (SELECT base FROM consts)
          + (85 * COALESCE(c.csum, 0)) // 100 AS score
        FROM documents d LEFT JOIN (
          SELECT e.dst AS doc_id, CAST(SUM(p.score // e.deg) AS BIGINT) AS csum
          FROM e JOIN s0 p ON e.src = p.doc_id GROUP BY e.dst) c USING (doc_id)),
      s2 AS (
        SELECT d.doc_id, (SELECT base FROM consts)
          + (85 * COALESCE(c.csum, 0)) // 100 AS score
        FROM documents d LEFT JOIN (
          SELECT e.dst AS doc_id, CAST(SUM(p.score // e.deg) AS BIGINT) AS csum
          FROM e JOIN s1 p ON e.src = p.doc_id GROUP BY e.dst) c USING (doc_id)),
      s3 AS (
        SELECT d.doc_id, (SELECT base FROM consts)
          + (85 * COALESCE(c.csum, 0)) // 100 AS score
        FROM documents d LEFT JOIN (
          SELECT e.dst AS doc_id, CAST(SUM(p.score // e.deg) AS BIGINT) AS csum
          FROM e JOIN s2 p ON e.src = p.doc_id GROUP BY e.dst) c USING (doc_id)),
      s4 AS (
        SELECT d.doc_id, (SELECT base FROM consts)
          + (85 * COALESCE(c.csum, 0)) // 100 AS score
        FROM documents d LEFT JOIN (
          SELECT e.dst AS doc_id, CAST(SUM(p.score // e.deg) AS BIGINT) AS csum
          FROM e JOIN s3 p ON e.src = p.doc_id GROUP BY e.dst) c USING (doc_id)),
      s5 AS (
        SELECT d.doc_id, (SELECT base FROM consts)
          + (85 * COALESCE(c.csum, 0)) // 100 AS score
        FROM documents d LEFT JOIN (
          SELECT e.dst AS doc_id, CAST(SUM(p.score // e.deg) AS BIGINT) AS csum
          FROM e JOIN s4 p ON e.src = p.doc_id GROUP BY e.dst) c USING (doc_id))
      SELECT doc_id, score FROM s5 ORDER BY score DESC, doc_id LIMIT 100""",

    // g02: integer fixed-point HITS replay — 4 iterations × 2 half-steps
    // (authority from hubs, hub from authorities), each with the L1
    // fixed-point renormalization raw * scale // Σraw. Same BIGINT
    // discipline as g01: every sum exact and order-independent, every
    // division floor, so all 8 half-steps are bit-identical cross-engine.
    // Every CTE is MATERIALIZED: each half-step references its raw frame
    // twice (join-back + total), so inlined CTEs re-execute the whole
    // chain below them — 3^8-ish blow-up, the same double-reference
    // explosion the Spark side stages away with Checkpoints.stage.
    "g02_hits" -> """
      WITH nn AS MATERIALIZED (SELECT COUNT(*) AS n FROM documents),
      edges AS MATERIALIZED (
        SELECT doc_id AS src, (doc_id * doc_id + 1) % (SELECT n FROM nn) AS dst
        FROM documents
        UNION ALL
        SELECT doc_id, (doc_id * 7 + 3) % (SELECT n FROM nn) FROM documents
        UNION ALL
        SELECT doc_id, (doc_id * 13 + 5) % (SELECT n FROM nn) FROM documents),
      h0 AS MATERIALIZED (SELECT doc_id, 1000000000 // (SELECT n FROM nn) AS score FROM documents),
      a1r AS MATERIALIZED (SELECT e.dst AS doc_id, CAST(SUM(p.score) AS BIGINT) AS raw
              FROM edges e JOIN h0 p ON e.src = p.doc_id GROUP BY e.dst),
      a1 AS MATERIALIZED (SELECT d.doc_id, COALESCE(r.raw, 0) * 1000000000
               // (SELECT CAST(SUM(raw) AS BIGINT) FROM a1r) AS score
             FROM documents d LEFT JOIN a1r r USING (doc_id)),
      h1r AS MATERIALIZED (SELECT e.src AS doc_id, CAST(SUM(p.score) AS BIGINT) AS raw
              FROM edges e JOIN a1 p ON e.dst = p.doc_id GROUP BY e.src),
      h1 AS MATERIALIZED (SELECT d.doc_id, COALESCE(r.raw, 0) * 1000000000
               // (SELECT CAST(SUM(raw) AS BIGINT) FROM h1r) AS score
             FROM documents d LEFT JOIN h1r r USING (doc_id)),
      a2r AS MATERIALIZED (SELECT e.dst AS doc_id, CAST(SUM(p.score) AS BIGINT) AS raw
              FROM edges e JOIN h1 p ON e.src = p.doc_id GROUP BY e.dst),
      a2 AS MATERIALIZED (SELECT d.doc_id, COALESCE(r.raw, 0) * 1000000000
               // (SELECT CAST(SUM(raw) AS BIGINT) FROM a2r) AS score
             FROM documents d LEFT JOIN a2r r USING (doc_id)),
      h2r AS MATERIALIZED (SELECT e.src AS doc_id, CAST(SUM(p.score) AS BIGINT) AS raw
              FROM edges e JOIN a2 p ON e.dst = p.doc_id GROUP BY e.src),
      h2 AS MATERIALIZED (SELECT d.doc_id, COALESCE(r.raw, 0) * 1000000000
               // (SELECT CAST(SUM(raw) AS BIGINT) FROM h2r) AS score
             FROM documents d LEFT JOIN h2r r USING (doc_id)),
      a3r AS MATERIALIZED (SELECT e.dst AS doc_id, CAST(SUM(p.score) AS BIGINT) AS raw
              FROM edges e JOIN h2 p ON e.src = p.doc_id GROUP BY e.dst),
      a3 AS MATERIALIZED (SELECT d.doc_id, COALESCE(r.raw, 0) * 1000000000
               // (SELECT CAST(SUM(raw) AS BIGINT) FROM a3r) AS score
             FROM documents d LEFT JOIN a3r r USING (doc_id)),
      h3r AS MATERIALIZED (SELECT e.src AS doc_id, CAST(SUM(p.score) AS BIGINT) AS raw
              FROM edges e JOIN a3 p ON e.dst = p.doc_id GROUP BY e.src),
      h3 AS MATERIALIZED (SELECT d.doc_id, COALESCE(r.raw, 0) * 1000000000
               // (SELECT CAST(SUM(raw) AS BIGINT) FROM h3r) AS score
             FROM documents d LEFT JOIN h3r r USING (doc_id)),
      a4r AS MATERIALIZED (SELECT e.dst AS doc_id, CAST(SUM(p.score) AS BIGINT) AS raw
              FROM edges e JOIN h3 p ON e.src = p.doc_id GROUP BY e.dst),
      a4 AS MATERIALIZED (SELECT d.doc_id, COALESCE(r.raw, 0) * 1000000000
               // (SELECT CAST(SUM(raw) AS BIGINT) FROM a4r) AS score
             FROM documents d LEFT JOIN a4r r USING (doc_id)),
      h4r AS MATERIALIZED (SELECT e.src AS doc_id, CAST(SUM(p.score) AS BIGINT) AS raw
              FROM edges e JOIN a4 p ON e.dst = p.doc_id GROUP BY e.src),
      h4 AS MATERIALIZED (SELECT d.doc_id, COALESCE(r.raw, 0) * 1000000000
               // (SELECT CAST(SUM(raw) AS BIGINT) FROM h4r) AS score
             FROM documents d LEFT JOIN h4r r USING (doc_id))
      SELECT d.doc_id, a4.score AS auth, h4.score AS hub
      FROM documents d JOIN a4 USING (doc_id) JOIN h4 USING (doc_id)
      ORDER BY auth DESC, doc_id LIMIT 100""",

    "d01_dedup_exact" -> """
      SELECT md5(lower(trim(text))) AS h, MIN(doc_id) AS keeper, COUNT(*) AS n_copies
      FROM documents GROUP BY 1 ORDER BY h""",

    "q50_edit_distance" -> """
      SELECT p_partkey, p_name,
        CAST(levenshtein(p_name, 'promo burnished copper') AS INTEGER) AS dist_ref,
        CAST(levenshtein(p_brand, p_type) AS INTEGER) AS dist_bt
      FROM part WHERE p_partkey < 500 ORDER BY p_partkey""",

    "q51_bool_agg" -> """
      SELECT o_orderstatus,
        bool_and(o_totalprice > 1000) AS all_over_1k,
        bool_or(o_orderpriority = '1-URGENT') AS any_urgent,
        COUNT(*) FILTER (WHERE o_totalprice > 200000) AS n_big
      FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",

    "q52_regr" -> """
      SELECT l_returnflag,
        round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
        round(regr_intercept(l_extendedprice, l_quantity), 4) AS icept,
        round(regr_r2(l_extendedprice, l_quantity), 6) AS r2,
        CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",

    "q53_window_frame" -> """
      SELECT o_custkey, o_orderkey,
        first_value(o_totalprice) OVER wf AS first_price,
        last_value(o_totalprice) OVER wf AS last_price,
        nth_value(o_totalprice, 2) OVER wf AS second_price,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER wt AS DOUBLE) AS trail3_sum
      FROM orders WHERE o_custkey < 50
      WINDOW
        wf AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING),
        wt AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
      ORDER BY o_custkey, o_orderkey""",

    "q54_setops_all" -> """
      WITH a AS (SELECT l_orderkey FROM lineitem WHERE l_orderkey < 5000 AND l_quantity > 30),
           b AS (SELECT l_orderkey FROM lineitem WHERE l_orderkey < 5000 AND l_returnflag = 'R')
      SELECT 'except_all' AS tag, l_orderkey, COUNT(*) AS n
        FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b) t GROUP BY l_orderkey
      UNION ALL
      SELECT 'intersect_all' AS tag, l_orderkey, COUNT(*) AS n
        FROM (SELECT * FROM a INTERSECT ALL SELECT * FROM b) t GROUP BY l_orderkey
      ORDER BY tag, l_orderkey""",

    "q55_higher_order" -> """
      WITH g AS (
        SELECT l_orderkey, list_sort(list(CAST(l_quantity AS INTEGER))) AS arr
        FROM lineitem WHERE l_orderkey < 300 GROUP BY l_orderkey)
      SELECT l_orderkey,
        array_to_string(arr, ',') AS qty_str,
        CAST(list_sum(list_transform(arr, x -> x * 2)) AS DOUBLE) AS doubled_sum,
        CAST(len(list_filter(arr, x -> x > 30)) AS INTEGER) AS n_big,
        CAST(list_sum(list_transform(arr, x -> x * x)) AS DOUBLE) AS sumsq
      FROM g ORDER BY l_orderkey""",

    "q56_cube" -> s"""
      SELECT COALESCE(o_orderstatus, 'ALL') AS status,
        COALESCE(o_orderpriority, 'ALL') AS prio,
        CAST(GROUPING(o_orderstatus, o_orderpriority) AS INTEGER) AS gid,
        COUNT(*) AS n, ${dsum("o_totalprice")} AS total
      FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
      ORDER BY status, prio, gid""",

    "q57_cust_dist" -> """
      SELECT c_count, custdist FROM (
        SELECT c_count, COUNT(*) AS custdist FROM (
          SELECT c_custkey, COUNT(o_orderkey) AS c_count
          FROM customer LEFT JOIN orders
            ON c_custkey = o_custkey AND o_orderpriority NOT LIKE '1%'
          GROUP BY c_custkey) t1
        GROUP BY c_count) t2
      ORDER BY custdist DESC, c_count DESC""",

    "q58_nation_volume" -> s"""
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        CAST(extract(year FROM l_shipdate) AS INTEGER) AS yr,
        ${dsum("l_extendedprice * (1.0 - l_discount)", 6)} AS revenue
      FROM lineitem, orders, supplier, customer, nation n1, nation n2
      WHERE l_orderkey = o_orderkey AND l_suppkey = s_suppkey
        AND o_custkey = c_custkey AND s_nationkey = n1.n_nationkey
        AND c_nationkey = n2.n_nationkey AND n1.n_name < n2.n_name
      GROUP BY supp_nation, cust_nation, yr
      ORDER BY supp_nation, cust_nation, yr""",

    "q59_or_of_ands" -> s"""
      SELECT ${dsum("l_extendedprice * (1.0 - l_discount)", 6)} AS revenue,
        COUNT(*) AS n
      FROM lineitem, part
      WHERE l_partkey = p_partkey AND (
        (p_brand = 'Brand#12' AND l_quantity BETWEEN 1 AND 11 AND p_size BETWEEN 1 AND 5) OR
        (p_brand = 'Brand#23' AND l_quantity BETWEEN 10 AND 20 AND p_size BETWEEN 1 AND 10) OR
        (p_brand = 'Brand#34' AND l_quantity BETWEEN 20 AND 30 AND p_size BETWEEN 1 AND 15))""",

    "q60_base_convert" -> """
      SELECT o_orderkey,
        hex(o_orderkey) AS okey_hex,
        bin(o_orderkey) AS okey_bin,
        to_base(o_orderkey, 36) AS okey_b36,
        printf('ORD-%06d', o_orderkey) AS okey_fmt,
        translate(o_orderstatus, 'FOP', 'fop') AS status_lc,
        lpad(o_orderpriority, 15, '.') AS prio_pad
      FROM orders WHERE o_orderkey < 400 ORDER BY o_orderkey""",

    "q61_string_agg" -> """
      SELECT o_orderstatus,
        array_to_string(list_sort(list(DISTINCT o_orderpriority)), ',') AS prios,
        COUNT(DISTINCT o_custkey) AS n_cust
      FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",

    "q62_string_parts" -> """
      SELECT c_custkey,
        split_part(c_name, '#', 2) AS name_num,
        CAST(strpos(c_name, '#') AS INTEGER) AS hash_pos,
        reverse(c_name) AS name_rev,
        repeat('*', CAST(c_nationkey % 5 + 1 AS INTEGER)) AS stars
      FROM customer WHERE c_custkey < 300 ORDER BY c_custkey""",

    "q63_calendar" -> """
      SELECT o_orderkey,
        CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS INTEGER) AS days_to_2002,
        strftime(last_day(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS month_end,
        strftime(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH, '%Y-%m-%d') AS plus3mo,
        CAST(quarter(o_orderdate) AS INTEGER) AS qtr,
        strftime(date_trunc('week', o_orderdate), '%Y-%m-%d') AS week_start
      FROM orders WHERE o_orderkey < 400 ORDER BY o_orderkey""",

    "q64_trig_math" -> """
      SELECT o_orderkey,
        round(sin(o_totalprice / 100000.0), 6) AS sin_p,
        round(atan2(o_totalprice, CAST(o_orderkey AS DOUBLE)), 6) AS atan2_pk,
        round(degrees(o_totalprice / 100000.0), 6) AS deg_p,
        round(log10(o_totalprice), 6) AS log10_p,
        round(cbrt(o_totalprice), 6) AS cbrt_p,
        round(exp(o_totalprice / 500000.0), 6) AS exp_p
      FROM orders WHERE o_orderkey < 500 ORDER BY o_orderkey""",

    "q65_array_funcs" -> """
      WITH g AS (
        SELECT l_orderkey, list_sort(list(CAST(l_quantity AS INTEGER))) AS arr
        FROM lineitem WHERE l_orderkey < 200 GROUP BY l_orderkey)
      SELECT l_orderkey,
        CAST(COALESCE(list_position(arr, 25), 0) AS BIGINT) AS pos25,
        COALESCE(array_to_string(list_slice(arr, 2, 3), ','), '') AS mid2,
        array_to_string(list_sort(list_distinct(arr)), ',') AS uniq,
        list_contains(arr, 30) AS has30,
        CAST(len(arr) AS INTEGER) AS n
      FROM g ORDER BY l_orderkey""",

    "q66_regex" -> raw"""
      SELECT c_custkey,
        regexp_replace(c_name, '(Customer)#(\d+)', '\2@\1') AS swapped,
        regexp_extract(c_name, '#(\d+)', 1) AS num_part,
        CAST(len(regexp_extract_all(c_name, '0')) AS INTEGER) AS n_zeros
      FROM customer WHERE c_custkey < 300 ORDER BY c_custkey""",

    "q67_char_predicates" -> """
      SELECT p_partkey,
        CAST(ascii(substring(p_name, 1, 1)) AS INTEGER) AS first_code,
        chr(CAST(p_partkey % 26 + 65 AS INTEGER)) AS letter,
        contains(p_name, 'red') AS has_red,
        starts_with(p_name, 'small') AS is_small,
        ends_with(p_name, 'bolt') AS is_bolt
      FROM part WHERE p_partkey < 300 ORDER BY p_partkey""",

    "q68_histogram" -> """
      SELECT o_orderstatus, to_json(histogram(o_orderpriority)) AS prio_hist
      FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",

    "q69_min_supplier" -> """
      WITH li AS (SELECT l_partkey, l_suppkey, l_extendedprice
                  FROM lineitem WHERE l_partkey < 100),
           m AS (SELECT l_partkey, MIN(l_extendedprice) AS min_price
                 FROM li GROUP BY l_partkey)
      SELECT li.l_partkey, MIN(m.min_price) AS min_price,
        MIN(li.l_suppkey) AS best_supp
      FROM li JOIN m ON li.l_partkey = m.l_partkey
        AND li.l_extendedprice = m.min_price
      GROUP BY li.l_partkey ORDER BY li.l_partkey""",

    "q70_multi_exists" -> """
      SELECT c_custkey, c_name FROM customer
      WHERE c_custkey < 500
        AND EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                      AND o_orderpriority = '1-URGENT')
        AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                      AND o_orderstatus = 'F' AND o_totalprice > 300000)
      ORDER BY c_custkey""",

    "q71_range_frame" -> """
      SELECT o_custkey, o_orderkey,
        strftime(o_orderdate, '%Y-%m-%d') AS order_date,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
          PARTITION BY o_custkey ORDER BY o_orderdate
          RANGE BETWEEN INTERVAL 30 DAYS PRECEDING AND CURRENT ROW) AS DOUBLE) AS trail30_sum
      FROM orders WHERE o_custkey < 30
      ORDER BY o_custkey, o_orderkey""",

    "q72_unpivot" -> """
      WITH wide AS (
        SELECT CAST(extract(year FROM o_orderdate) AS INTEGER) AS yr,
          COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS F,
          COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS O,
          COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS P
        FROM orders GROUP BY 1)
      SELECT yr, status, n FROM wide UNPIVOT INCLUDE NULLS (n FOR status IN (F, O, P))
      ORDER BY yr, status""",

    "q73_date_spine" -> s"""
      WITH spine AS (
        SELECT unnest(generate_series(TIMESTAMP '1995-01-01',
                 TIMESTAMP '2001-08-01', INTERVAL 1 MONTH)) AS m),
      monthly AS (
        SELECT date_trunc('month', o_orderdate) AS m,
          COUNT(*) AS n_orders, ${dsum("o_totalprice")} AS total
        FROM orders GROUP BY 1)
      SELECT strftime(spine.m, '%Y-%m-%d') AS month,
        COALESCE(n_orders, 0) AS n_orders, COALESCE(total, 0.0) AS total
      FROM spine LEFT JOIN monthly ON spine.m = monthly.m
      ORDER BY month""",

    "q74_null_safe_join" -> """
      WITH base AS (
        SELECT c_custkey, NULLIF(c_nationkey % 5, 0) AS grp
        FROM customer WHERE c_custkey < 200)
      SELECT COALESCE(a.grp, -1) AS grp, COUNT(*) AS n_pairs
      FROM base a JOIN base b ON a.grp IS NOT DISTINCT FROM b.grp
      GROUP BY 1 ORDER BY grp""",

    "q75_bit_agg" -> """
      SELECT l_returnflag,
        bit_and(l_orderkey) AS and_key,
        bit_or(l_orderkey) AS or_key,
        bit_xor(l_orderkey) AS xor_key
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",

    "q76_grouping_sets" -> """
      SELECT COALESCE(o_orderstatus, 'ALL') AS status,
             COALESCE(o_orderpriority, 'ALL') AS prio,
             COUNT(*) AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM orders
      GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
      ORDER BY status, prio""",

    "q77_latest_per_key" -> """
      SELECT o_custkey, o_orderkey,
        strftime(o_orderdate, '%Y-%m-%d') AS latest_date, o_totalprice
      FROM (
        SELECT *, row_number() OVER (PARTITION BY o_custkey
                    ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        FROM orders) t
      WHERE rn = 1 ORDER BY o_custkey""",

    "d05_dedup_embedding" -> s"""
      WITH planes(p, v) AS (VALUES ${planesValues(42)}),
      e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
      bucketed AS (
        SELECT vec_id, emb,
          (SELECT CAST(SUM(CASE WHEN list_dot_product(emb, v) > 0
                     THEN CAST(1 AS BIGINT) << p ELSE 0 END) AS BIGINT)
           FROM planes) AS bucket
        FROM e),
      ok_buckets AS (
        SELECT bucket FROM bucketed GROUP BY bucket HAVING COUNT(*) BETWEEN 2 AND 1000),
      near AS (
        SELECT a.vec_id AS ia, b.vec_id AS ib
        FROM bucketed a
        JOIN bucketed b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        JOIN ok_buckets o ON a.bucket = o.bucket
        WHERE ${cos("a.emb", "b.emb")} >= 0.95),
      cnt AS (
        SELECT v AS vec_id, COUNT(*) AS n_neardup
        FROM (SELECT ia AS v FROM near UNION ALL SELECT ib AS v FROM near) t
        GROUP BY v)
      SELECT b.vec_id, b.bucket, COALESCE(c.n_neardup, 0) AS n_neardup
      FROM bucketed b LEFT JOIN cnt c USING (vec_id)
      ORDER BY vec_id""",

    // Replays Ann.knnJoin: TWO hyperplane tables (seeds 7 and 8), buckets
    // capped at MaxBucket=1000, id pairs deduped across tables, embeddings
    // re-joined for the cosine verify, per-vector top-3.
    "a03_knn_join" -> s"""
      WITH p1(p, v) AS (VALUES ${planesValues(7)}),
      p2(p, v) AS (VALUES ${planesValues(8)}),
      e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
      tb AS (
        SELECT 0 AS tbl, vec_id,
          (SELECT CAST(SUM(CASE WHEN list_dot_product(emb, v) > 0
                     THEN CAST(1 AS BIGINT) << p ELSE 0 END) AS BIGINT)
           FROM p1) AS bucket
        FROM e
        UNION ALL
        SELECT 1 AS tbl, vec_id,
          (SELECT CAST(SUM(CASE WHEN list_dot_product(emb, v) > 0
                     THEN CAST(1 AS BIGINT) << p ELSE 0 END) AS BIGINT)
           FROM p2) AS bucket
        FROM e),
      ok AS (SELECT tbl, bucket FROM tb
             GROUP BY tbl, bucket HAVING COUNT(*) BETWEEN 2 AND 1000),
      idpairs AS (
        SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
        FROM tb a
        JOIN tb b ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id
        JOIN ok o ON a.tbl = o.tbl AND a.bucket = o.bucket),
      scored AS (
        SELECT id_a, id_b, round(${cos("ea.emb", "eb.emb")}, 4) AS cos_sim
        FROM idpairs
        JOIN e ea ON ea.vec_id = id_a
        JOIN e eb ON eb.vec_id = id_b),
      directed AS (
        SELECT id_a AS vec_id, id_b AS nbr_id, cos_sim FROM scored
        UNION ALL
        SELECT id_b AS vec_id, id_a AS nbr_id, cos_sim FROM scored)
      SELECT vec_id, nbr_id, cos_sim, rn FROM (
        SELECT vec_id, nbr_id, cos_sim,
          CAST(row_number() OVER (PARTITION BY vec_id
               ORDER BY cos_sim DESC, nbr_id) AS INTEGER) AS rn
        FROM directed) t
      WHERE rn <= 3 ORDER BY vec_id, rn""",

    // Centroids replay Ann.ivf's bounded deterministic sample: first
    // NList=32 vec_ids in multiplicative-hash order — a constant-size set
    // regardless of corpus size.
    "a02_knn_ivf" -> s"""
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
      cent AS (SELECT vec_id AS cent_id, emb AS cemb FROM e
               ORDER BY (vec_id * 69069 + 1) % 1048576, vec_id LIMIT 32),
      assigned AS (
        SELECT e.vec_id, e.emb,
          (SELECT cent_id FROM cent
           ORDER BY ${cos("e.emb", "cemb")} DESC, cent_id DESC LIMIT 1) AS cell
        FROM e),
      probe_cells AS (
        SELECT p.vec_id AS probe_id, p.emb AS pemb, c.cent_id AS cell
        FROM e p, LATERAL (
          SELECT cent_id FROM cent
          ORDER BY ${cos("p.emb", "cemb")} DESC, cent_id DESC LIMIT 2) c
        WHERE p.vec_id < 5),
      cand AS (
        SELECT pc.probe_id, a.vec_id AS cand_id,
          round(${cos("pc.pemb", "a.emb")}, 4) AS cos_sim
        FROM probe_cells pc JOIN assigned a ON a.cell = pc.cell)
      SELECT probe_id, cand_id, cos_sim, rn FROM (
        SELECT probe_id, cand_id, cos_sim,
          CAST(row_number() OVER (PARTITION BY probe_id
               ORDER BY cos_sim DESC, cand_id) AS INTEGER) AS rn
        FROM cand) t
      WHERE rn <= 10 ORDER BY probe_id, rn""",

    // Replays Kernels.fingerprint exactly: lower/ws-normalize, rolling
    // h = 31*h + utf16unit (mod 2^64), then the splitmix64 finalizer —
    // all in HUGEINT with explicit mod-2^64 wraparound (the corpus is
    // BMP-only, so UTF-16 units == codepoints == unicode()).
    "t04_fingerprint" -> raw"""
      WITH n AS (
        SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
        FROM documents),
      r AS (
        SELECT doc_id,
          list_reduce(
            list_concat([CAST(1125899906842597 AS HUGEINT)],
              list_transform(string_split_regex(t, ''), c -> CAST(unicode(c) AS HUGEINT))),
            (acc, x) -> (acc * 31 + x) % $Two64) AS h
        FROM n),
      m1 AS (SELECT doc_id, ${mulmod64("xor(h, h >> 30)", "13787848793156543929")} AS z1 FROM r),
      m2 AS (SELECT doc_id, ${mulmod64("xor(z1, z1 >> 27)", "10723151780598845931")} AS z2 FROM m1),
      f AS (
        SELECT doc_id,
          CAST(xor(z2, z2 >> 31) -
            CASE WHEN xor(z2, z2 >> 31) >= (CAST(1 AS HUGEINT) << 63)
                 THEN $Two64 ELSE 0 END AS BIGINT) AS fp
        FROM m2)
      SELECT doc_id, fp, COUNT(*) OVER (PARTITION BY fp) AS n_same
      FROM f ORDER BY doc_id""",

    "q78_tpch_q8" -> s"""
      SELECT CAST(extract(year FROM o_orderdate) AS INTEGER) AS yr,
        CAST(${dsum("CASE WHEN n2.n_name = 'NATION_5' THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END", 6)}
          / ${dsum("l_extendedprice * (1.0 - l_discount)", 6)} AS DOUBLE) AS mkt_share
      FROM lineitem, orders, customer, supplier, nation n1, region, nation n2
      WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
        AND c_nationkey = n1.n_nationkey AND n1.n_regionkey = r_regionkey
        AND r_name = 'ASIA'
        AND l_suppkey = s_suppkey AND s_nationkey = n2.n_nationkey
      GROUP BY yr ORDER BY yr""",

    "q79_tpch_q10" -> s"""
      SELECT c_custkey, c_name, c_acctbal, n_name,
        ${dsum("l_extendedprice * (1.0 - l_discount)", 6)} AS revenue
      FROM lineitem, orders, customer, nation
      WHERE l_returnflag = 'R' AND l_orderkey = o_orderkey
        AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND o_orderdate < TIMESTAMP '1997-07-01 00:00:00'
        AND o_custkey = c_custkey AND c_nationkey = n_nationkey
      GROUP BY c_custkey, c_name, c_acctbal, n_name
      ORDER BY revenue DESC, c_custkey LIMIT 20""",

    "q80_tpch_q16" -> """
      SELECT p_brand, p_type, p_size,
        COUNT(DISTINCT l_suppkey) AS supplier_cnt
      FROM lineitem, part
      WHERE l_partkey = p_partkey
        AND p_brand != 'Brand#45' AND p_type NOT LIKE 'MEDIUM%'
        AND p_size IN (1, 5, 9, 14, 19, 23, 36, 49)
        AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 100)
      GROUP BY p_brand, p_type, p_size
      ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""",

    "q81_tpch_q20" -> s"""
      SELECT s_suppkey, s_name FROM supplier
      WHERE s_suppkey IN (
        SELECT l_suppkey FROM lineitem, part
        WHERE l_partkey = p_partkey AND contains(p_name, 'red')
        GROUP BY l_suppkey
        HAVING ${dsum("l_quantity")} > 500)
      ORDER BY s_suppkey""",

    "q82_lag_defaults" -> """
      SELECT event_id, user_id,
        lag(value, 1, -1.0) OVER w AS prev_or_neg1,
        lead(value, 1, -1.0) OVER w AS next_or_neg1,
        lag(CASE WHEN event_type = 'click' THEN value END IGNORE NULLS) OVER w AS prev_click
      FROM events WHERE user_id < 10
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      ORDER BY user_id, event_id""",

    "q83_json_arrays" -> """
      SELECT o_orderkey,
        CAST(json_array_length(json_extract(j, '$.ks')) AS INTEGER) AS n_elems,
        json_extract_string(j, '$.ks[1]') AS second,
        json_extract_string(j, '$.ks[2]') AS third
      FROM (SELECT o_orderkey,
              '{"ks":[' || o_orderkey || ',' || o_custkey || ',' || (o_custkey % 7) || ']}' AS j
            FROM orders WHERE o_orderkey < 400) t
      ORDER BY o_orderkey""",

    "q84_explode_outer" -> """
      WITH g AS (
        SELECT l_orderkey, list_sort(list(CAST(l_quantity AS INTEGER))) AS arr
        FROM lineitem WHERE l_orderkey < 200 GROUP BY l_orderkey)
      SELECT g.l_orderkey, u.big_qty
      FROM g LEFT JOIN LATERAL (
        SELECT unnest(list_filter(arr, x -> x > 48)) AS big_qty) u ON TRUE
      ORDER BY l_orderkey, big_qty""",

    "q85_timezone" -> """
      SELECT o_orderkey,
        strftime(timezone('America/New_York', CAST(o_orderdate AS TIMESTAMPTZ)),
          '%Y-%m-%d %H:%M:%S') AS ny_wall,
        strftime(CAST(timezone('Asia/Tokyo', o_orderdate) AS TIMESTAMP),
          '%Y-%m-%d %H:%M:%S') AS tokyo_as_utc
      FROM orders WHERE o_orderkey < 400 ORDER BY o_orderkey""",

    "q86_tpch_q11" -> s"""
      SELECT l_partkey, ${dsum("l_extendedprice")} AS value
      FROM lineitem GROUP BY l_partkey
      HAVING ${dsum("l_extendedprice")} >
        (SELECT ${dsum("l_extendedprice")} * 0.0007 FROM lineitem)
      ORDER BY value DESC, l_partkey""",

    "q87_ratio_to_report" -> s"""
      SELECT o_orderstatus, total,
        round(total / SUM(total) OVER (), 6) AS share
      FROM (SELECT o_orderstatus, ${dsum("o_totalprice")} AS total
            FROM orders GROUP BY o_orderstatus) t
      ORDER BY o_orderstatus""",

    "q88_width_bucket_array" -> s"""
      SELECT CAST(len(list_filter([1000.0, 50000.0, 100000.0, 250000.0, 400000.0],
               b -> b <= o_totalprice)) AS INTEGER) AS bucket,
        COUNT(*) AS n, ${dsum("o_totalprice")} AS total
      FROM orders GROUP BY bucket ORDER BY bucket""",

    "q89_unixtime" -> """
      SELECT o_orderkey,
        -- floor before the cast: DuckDB CAST(double AS BIGINT) ROUNDS,
        -- Spark's unix_timestamp truncates — forked on sub-second
        -- timestamps at the r15 sf1.0 gate
        CAST(floor(epoch(o_orderdate)) AS BIGINT) AS epoch_s,
        strftime(to_timestamp(floor(epoch(o_orderdate))), '%Y-%m-%d %H:%M:%S') AS roundtrip
      FROM orders WHERE o_orderkey < 400 ORDER BY o_orderkey""",

    "q90_hashes" -> """
      SELECT c_custkey,
        md5(c_name) AS name_md5,
        sha256(c_name) AS name_sha256
      FROM customer WHERE c_custkey < 300 ORDER BY c_custkey""",

    // Replays graft's checksum aggregate: FNV-1a64+splitmix64 per name in
    // HUGEINT, signed-convert, bit_xor — XOR commutes, so no ordering care.
    "q91_checksum" -> s"""
      WITH f0 AS (SELECT c_mktsegment, ${fnvReduce(fnvSeq("c_name", 0L))} AS h0 FROM customer),
      f1 AS (SELECT c_mktsegment, ${mulmod64("xor(h0, h0 >> 30)", Mix1)} AS z1 FROM f0),
      f2 AS (SELECT c_mktsegment, ${mulmod64("xor(z1, z1 >> 27)", Mix2)} AS z2 FROM f1),
      h AS (SELECT c_mktsegment, ${u2s("xor(z2, z2 >> 31)")} AS hv FROM f2)
      SELECT c_mktsegment, bit_xor(hv) AS name_checksum, COUNT(*) AS n
      FROM h GROUP BY c_mktsegment ORDER BY c_mktsegment""",

    "q93_correlated_scalar" -> """
      SELECT c_custkey,
        (SELECT COUNT(*) FROM orders WHERE o_custkey = c_custkey) AS n_orders,
        (SELECT MAX(o_totalprice) FROM orders WHERE o_custkey = c_custkey) AS max_price
      FROM customer WHERE c_custkey < 200
      ORDER BY c_custkey""",

    "q94_tpch_q9" -> s"""
      SELECT n_name AS nation,
        CAST(extract(year FROM o_orderdate) AS INTEGER) AS yr,
        ${dsum("l_extendedprice * (1.0 - l_discount) - p_retailprice * 0.6 * l_quantity", 6)} AS profit
      FROM lineitem, part, supplier, orders, nation
      WHERE l_partkey = p_partkey AND contains(p_name, 'blue')
        AND l_suppkey = s_suppkey AND l_orderkey = o_orderkey
        AND s_nationkey = n_nationkey
      GROUP BY n_name, yr ORDER BY n_name, yr DESC""",

    "q95_tpch_q12" -> """
      SELECT l_linestatus,
        COUNT(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 END) AS high_line_count,
        COUNT(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 END) AS low_line_count
      FROM lineitem, orders
      WHERE l_orderkey = o_orderkey
        AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
      GROUP BY l_linestatus ORDER BY l_linestatus""",

    "q96_tpch_q15" -> s"""
      WITH revenue AS (
        SELECT l_suppkey,
          ${dsum("l_extendedprice * (1.0 - l_discount)", 6)} AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
        GROUP BY l_suppkey)
      SELECT s_suppkey, s_name, total_revenue
      FROM supplier JOIN revenue ON s_suppkey = l_suppkey
      WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
      ORDER BY s_suppkey""",

    "q92_approx_topk" -> """
      SELECT o_orderstatus, o_orderpriority AS prio, COUNT(*) AS n
      FROM orders GROUP BY o_orderstatus, o_orderpriority
      ORDER BY o_orderstatus, n DESC, prio""",

    "d02_dedup_minhash" -> s"""
      WITH $minhashCtes
      SELECT d.doc_id, COALESCE(c.n_candidates, 0) AS n_candidates,
        COALESCE(c.n_candidates, 0) > 0 AS is_dup_candidate
      FROM documents d LEFT JOIN cnt c USING (doc_id)
      ORDER BY doc_id""",

    "d06_dedup_clusters" -> s"""
      WITH RECURSIVE $minhashCtes,
      edges AS (SELECT a AS src, b AS dst FROM pr
                UNION ALL SELECT b, a FROM pr),
      reach(v, u) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT r.v, e.dst FROM reach r JOIN edges e ON r.u = e.src)
      SELECT v AS doc_id, MIN(u) AS cluster
      FROM reach GROUP BY v ORDER BY doc_id""",

    // Replays Kernels.simhash: per-token FNV-1a64+splitmix64 (seed
    // 0x6a09e667f3bcc908), per-bit +1/-1 vote, sign → signature; then the
    // 4×16-bit pigeonhole buckets, pair expansion, hamming≤3 verify.
    "d03_dedup_simhash" -> {
      val bitSums = (0 until 64)
        .map(b => s"SUM(CASE WHEN (hu >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS b$b")
        .mkString(",\n          ")
      val bitBuild = (0 until 64)
        .map(b => s"(CASE WHEN b$b > 0 THEN (CAST(1 AS HUGEINT) << $b) ELSE CAST(0 AS HUGEINT) END)")
        .mkString(" + ")
      raw"""
      WITH toks AS (
        SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS tok
        FROM documents),
      f0 AS (SELECT doc_id, ${fnvReduce(fnvSeq("tok", 0x6a09e667f3bcc908L))} AS h0 FROM toks),
      f1 AS (SELECT doc_id, ${mulmod64("xor(h0, h0 >> 30)", Mix1)} AS z1 FROM f0),
      f2 AS (SELECT doc_id, ${mulmod64("xor(z1, z1 >> 27)", Mix2)} AS z2 FROM f1),
      th AS (SELECT doc_id, xor(z2, z2 >> 31) AS hu FROM f2),
      agg AS (
        SELECT doc_id,
          $bitSums
        FROM th GROUP BY doc_id),
      sigu AS (SELECT doc_id, ($bitBuild) AS shu FROM agg),
      sig AS (SELECT doc_id, shu, ${u2s("shu")} AS sh FROM sigu),
      blocks AS (
        SELECT doc_id, b.blk, (shu >> (b.blk * 16)) & 65535 AS blk_val
        FROM sig, (VALUES (0), (1), (2), (3)) b(blk)),
      ok AS (
        SELECT blk, blk_val FROM blocks
        GROUP BY blk, blk_val HAVING COUNT(*) BETWEEN 2 AND 1000),
      pr AS (
        SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        FROM blocks x
        JOIN blocks y ON x.blk = y.blk AND x.blk_val = y.blk_val
          AND x.doc_id < y.doc_id
        JOIN ok o ON o.blk = x.blk AND o.blk_val = x.blk_val),
      ham AS (
        SELECT a, b FROM pr
        JOIN sig sa ON sa.doc_id = pr.a
        JOIN sig sb ON sb.doc_id = pr.b
        WHERE bit_count(xor(sa.sh, sb.sh)) <= 3),
      cand AS (
        SELECT v AS doc_id, COUNT(*) AS n_near
        FROM (SELECT a AS v FROM ham UNION ALL SELECT b AS v FROM ham) t
        GROUP BY 1)
      SELECT sig.doc_id, sig.sh AS simhash, COALESCE(cand.n_near, 0) AS n_near
      FROM sig LEFT JOIN cand USING (doc_id)
      ORDER BY doc_id"""
    },

    // Replays Multimodal.decodeStub: byte stats over the UTF-8 payload.
    // Entropy sums in group order vs the kernel's byte-ascending order —
    // double-add jitter ~1e-15, absorbed by the 4dp rounding.
    // m05: the oracle replays the doc_id-derived WAV parameters — the
    // Spark side must recover the same values from the actual RIFF bytes.
    "m05_audio_meta" -> """
      SELECT doc_id, 'wav' AS format,
        CAST(CASE doc_id % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000
             ELSE 44100 END AS INTEGER) AS sample_rate,
        CAST(doc_id % 2 + 1 AS INTEGER) AS channels,
        CAST(16 AS INTEGER) AS bits,
        CAST(n_chars AS BIGINT) AS n_samples,
        CAST(n_chars * 1000000 // (CASE doc_id % 3 WHEN 0 THEN 8000
             WHEN 1 THEN 16000 ELSE 44100 END) AS BIGINT) AS duration_us,
        true AS decode_ok
      FROM documents ORDER BY doc_id""",

    // m06: same discipline as m05 — the doc_id-derived MP4 parameters
    // must be recovered from the actual ISO-BMFF box walk to match.
    "m06_video_meta" -> """
      SELECT doc_id, 'isom' AS brand,
        CAST(CASE doc_id % 3 WHEN 0 THEN 600 WHEN 1 THEN 1000
             ELSE 90000 END AS BIGINT) AS timescale,
        CAST(n_chars AS BIGINT) AS duration_ticks,
        CAST(n_chars * 1000 // (CASE doc_id % 3 WHEN 0 THEN 600
             WHEN 1 THEN 1000 ELSE 90000 END) AS BIGINT) AS duration_ms,
        true AS decode_ok
      FROM documents ORDER BY doc_id""",

    // m09: replays the IJG quality scaling (scale = q<50 ? 5000/q :
    // 200-2q; coef = clamp((base*scale+50)/100, 1, 255)) from the same
    // public Annex-K luminance constants, then inverts it the way the
    // estimator does (smallest q whose scaled table matches — the L1
    // minimum is 0 at the true q by construction, so MIN(matching q)
    // replays the estimator's tiebreak). The Spark side must recover the
    // table from the actual DQT bytes (marker walk + de-zigzag) for the
    // stats and the estimate to line up.
    // m10: replays the EXIF fields numerically from doc_id (dims,
    // orientation cycle, maker id, byte-order parity, the display-frame
    // transpose at orientation >= 5). The Spark side must recover them
    // from the actual APP1/TIFF bytes it built — a defect in the IFD
    // builder, the marker walk, the endian handling, or the value-offset
    // read forks the hash.
    "m10_exif" -> """
      SELECT doc_id,
        CASE WHEN doc_id % 2 = 0 THEN 'MM' ELSE 'II' END AS byte_order,
        CAST(doc_id % 8 + 1 AS INTEGER) AS orientation,
        doc_id % 512 + 16 AS width,
        doc_id % 384 + 16 AS height,
        CASE WHEN doc_id % 8 + 1 >= 5 THEN doc_id % 384 + 16
             ELSE doc_id % 512 + 16 END AS disp_width,
        CASE WHEN doc_id % 8 + 1 >= 5 THEN doc_id % 512 + 16
             ELSE doc_id % 384 + 16 END AS disp_height,
        'maker' || CAST(doc_id % 7 AS VARCHAR) AS make,
        CAST(4 AS INTEGER) AS n_entries,
        TRUE AS decode_ok
      FROM documents WHERE doc_id % 5 = 2 ORDER BY doc_id""",

    "m09_jpeg_quality" -> {
      val base = Seq(
        16, 11, 10, 16, 24, 40, 51, 61,
        12, 12, 14, 19, 26, 58, 60, 55,
        14, 13, 16, 24, 40, 57, 69, 56,
        14, 17, 22, 29, 51, 87, 80, 62,
        18, 22, 37, 56, 68, 109, 103, 77,
        24, 35, 55, 64, 81, 104, 113, 92,
        49, 64, 78, 87, 103, 121, 120, 101,
        72, 92, 95, 98, 112, 100, 103, 99)
      val baseValues = base.zipWithIndex
        .map { case (v, i) => s"($i, $v)" }.mkString(", ")
      s"""
      WITH base(i, v) AS (VALUES $baseValues),
      tabs AS (
        SELECT qs.q AS q,
          list(GREATEST(1, LEAST(255,
            (b.v * (CASE WHEN qs.q < 50 THEN 5000 // qs.q
                         ELSE 200 - 2 * qs.q END) + 50) // 100))
            ORDER BY b.i) AS tbl
        FROM (SELECT CAST(range AS INTEGER) AS q FROM range(1, 101)) qs
        CROSS JOIN base b GROUP BY qs.q),
      docs AS (
        SELECT doc_id, CAST((doc_id * 37) % 96 + 3 AS INTEGER) AS qtrue
        FROM documents WHERE doc_id % 3 = 1),
      est AS (
        SELECT d.doc_id, t1.tbl,
          (SELECT MIN(t2.q) FROM tabs t2 WHERE t2.tbl = t1.tbl) AS q_est
        FROM docs d JOIN tabs t1 ON t1.q = d.qtrue)
      SELECT doc_id, CAST(q_est AS INTEGER) AS quality_est,
        round(CAST(list_aggregate(tbl, 'sum') AS DOUBLE) / 64.0, 4) AS dqt_mean,
        CAST(list_aggregate(tbl, 'min') AS INTEGER) AS dqt_min,
        CAST(list_aggregate(tbl, 'max') AS INTEGER) AS dqt_max,
        CAST(8 AS INTEGER) AS dqt_precision,
        TRUE AS decode_ok
      FROM est ORDER BY doc_id"""
    },

    "m01_multimodal_meta" -> """
      WITH n AS (
        SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
        FROM documents),
      codes AS (
        SELECT doc_id, unnest(list_transform(
          range(0, CAST(octet_length(encode(text)) AS INTEGER)),
          i -> CAST(CAST('0x' || substr(hex(encode(text)), 2*i+1, 2) AS INTEGER) AS INTEGER))) AS c
        FROM documents),
      hist AS (SELECT doc_id, c, COUNT(*) AS cnt FROM codes GROUP BY doc_id, c),
      stats AS (
        SELECT h.doc_id,
          CAST(SUM(h.c * h.cnt) AS DOUBLE) / MAX(n.n_bytes) AS mean,
          -SUM(((h.cnt / CAST(n.n_bytes AS DOUBLE)) *
                ln(h.cnt / CAST(n.n_bytes AS DOUBLE))) / ln(2.0)) AS ent
        FROM hist h JOIN n ON h.doc_id = n.doc_id
        GROUP BY h.doc_id)
      SELECT n.doc_id,
        CASE WHEN n.doc_id % 3 = 0 THEN 'png'
             WHEN n.doc_id % 3 = 1 THEN 'jpeg' ELSE 'gif' END AS format,
        n.n_bytes,
        round(COALESCE(s.mean, 0.0), 4) AS byte_mean,
        round(COALESCE(s.ent, 0.0), 4) AS byte_entropy,
        CAST(n.doc_id % 64 + 1 AS INTEGER) AS width,
        CAST(n.doc_id % 48 + 1 AS INTEGER) AS height,
        TRUE AS decode_ok
      FROM n LEFT JOIN stats s USING (doc_id)
      ORDER BY doc_id""",

    // Replays Multimodal.resizeStub arithmetically: stride subsample count.
    "m02_multimodal_resize" -> """
      SELECT doc_id,
        CASE WHEN doc_id % 3 = 0 THEN 'image'
             WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
        CAST(LEAST(16, doc_id % 64 + 1) AS INTEGER) AS width,
        CAST(LEAST(12, doc_id % 48 + 1) AS INTEGER) AS height,
        CAST(CASE WHEN nb = 0 THEN 0 ELSE (nb - 1) // stride + 1 END AS INTEGER) AS n_bytes_out
      FROM (
        SELECT doc_id, octet_length(encode(text)) AS nb,
          GREATEST(1, ((doc_id % 64 + 1) * (doc_id % 48 + 1)) //
            GREATEST(1, LEAST(16, doc_id % 64 + 1) * LEAST(12, doc_id % 48 + 1))) AS stride
        FROM documents) t
      ORDER BY doc_id""",

    // Replays Multimodal.frameSample: 64-byte frames, every 4th kept.
    "m03_frame_sample" -> """
      WITH codes AS (
        SELECT d.doc_id, i.i AS i,
          CAST(CAST('0x' || substr(d.hx, 2*i.i+1, 2) AS INTEGER) AS INTEGER) AS c
        FROM (SELECT doc_id, hex(encode(text)) AS hx,
                CAST(octet_length(encode(text)) AS INTEGER) AS nb
              FROM documents WHERE doc_id % 3 = 2) d,
        LATERAL (SELECT unnest(range(0, d.nb)) AS i) i)
      SELECT doc_id, CAST(frame AS INTEGER) AS frame_idx,
        CAST(COUNT(*) AS INTEGER) AS frame_bytes,
        -- 4dp mean in exact INTEGER space (t24 discipline): byte sums are
        -- exact, round(S/n, 4) = (2·S·1e4 + n) // (2n) half-up
        CAST((2 * SUM(c) * 10000 + COUNT(*)) // (2 * COUNT(*)) AS DOUBLE)
          / 10000.0 AS frame_mean
      FROM (SELECT doc_id, i // 64 AS frame, c FROM codes) t
      WHERE frame % 4 = 0
      GROUP BY doc_id, frame
      ORDER BY doc_id, frame_idx""",

    // Replays Multimodal.perceptualHash: dHash bits from consecutive body
    // bytes (body = the text bytes — the parse strips exactly the header),
    // the unsigned bit-sum converted to the signed 64-bit long the JVM
    // emits, then exact-hash group sizes.
    "m04_perceptual_hash" -> s"""
      WITH codes AS (
        SELECT d.doc_id, i.i AS i,
          CAST('0x' || substr(d.hx, 2*i.i+1, 2) AS INTEGER) AS c
        FROM (SELECT doc_id, hex(encode(text)) AS hx,
                CAST(octet_length(encode(text)) AS INTEGER) AS nb
              FROM documents) d,
        LATERAL (SELECT unnest(range(0, LEAST(d.nb, 65))) AS i) i),
      h AS (
        SELECT a.doc_id,
          SUM(CASE WHEN a.c > b.c THEN CAST(1 AS HUGEINT) << a.i
                   ELSE CAST(0 AS HUGEINT) END) AS hraw
        FROM codes a JOIN codes b ON b.doc_id = a.doc_id AND b.i = a.i + 1
        WHERE a.i < 64
        GROUP BY a.doc_id),
      sh AS (
        SELECT d.doc_id,
          ${u2s("COALESCE(h.hraw, CAST(0 AS HUGEINT))")} AS dhash
        FROM documents d LEFT JOIN h ON h.doc_id = d.doc_id)
      SELECT doc_id, dhash, COUNT(*) OVER (PARTITION BY dhash) AS n_same
      FROM sh ORDER BY doc_id""",

    // m08: little-endian int16 decode of the PCM body (= the text bytes;
    // the 44-byte header is synthetic and stripped by the parsed offset),
    // integer sum-of-squares, then the ratio report.
    // INVARIANT behind `TRUE AS decode_ok`: the Spark side derives
    // decode_ok from AudioHeaders.parseWav over a header IT synthesizes
    // (valid RIFF/WAVE magic by construction), and the oracle never sees
    // those bytes — documents.text is the payload, the header exists
    // only inside the Spark query. If audioEnergy ever ingests real
    // (possibly malformed) WAV payloads, this oracle must switch to
    // replaying the magic check on the actual bytes instead of
    // asserting it.
    "m08_audio_energy" -> """
      WITH raws AS (
        SELECT doc_id, unnest(list_transform(
          range(0, CAST(octet_length(encode(text)) // 2 AS INTEGER)),
          i -> CAST('0x' || substr(hex(encode(text)), 4*i+1, 2) AS INTEGER)
               + 256 * CAST('0x' || substr(hex(encode(text)), 4*i+3, 2) AS INTEGER))) AS raw
        FROM documents),
      sv AS (
        SELECT doc_id, CASE WHEN raw >= 32768 THEN raw - 65536 ELSE raw END AS v
        FROM raws),
      agg AS (
        SELECT doc_id, COUNT(*) AS n, MAX(abs(v)) AS peak,
          SUM(CAST(v AS BIGINT) * v) AS ss, SUM(CAST(v AS BIGINT)) AS sv,
          SUM(CASE WHEN abs(v) >= 30000 THEN 1 ELSE 0 END) AS nclip
        FROM sv GROUP BY doc_id)
      SELECT d.doc_id,
        CAST(COALESCE(a.n, 0) AS BIGINT) AS n_samples16,
        CAST(COALESCE(a.peak, 0) AS BIGINT) AS peak,
        round(CASE WHEN COALESCE(a.n, 0) > 0
          THEN sqrt(CAST(a.ss AS DOUBLE) / a.n) ELSE 0.0 END, 4) AS rms,
        round(CASE WHEN COALESCE(a.n, 0) > 0
          THEN CAST(a.sv AS DOUBLE) / a.n ELSE 0.0 END, 4) AS dc_mean,
        round(CASE WHEN COALESCE(a.n, 0) > 0
          THEN CAST(a.nclip AS DOUBLE) / a.n ELSE 0.0 END, 6) AS clip_ratio,
        TRUE AS decode_ok
      FROM documents d LEFT JOIN agg a USING (doc_id)
      ORDER BY doc_id""",

    // m07: the m04 dHash replay, then d03's pigeonhole banding (four
    // 16-bit bands of the unsigned hash, capped buckets), xor+popcount
    // hamming ≤ 3 verify on the signed hashes, and d06's recursive-CTE
    // connected components.
    "m07_image_dup_clusters" -> s"""
      WITH RECURSIVE codes AS (
        SELECT d.doc_id, i.i AS i,
          CAST('0x' || substr(d.hx, 2*i.i+1, 2) AS INTEGER) AS c
        FROM (SELECT doc_id, hex(encode(text)) AS hx,
                CAST(octet_length(encode(text)) AS INTEGER) AS nb
              FROM documents) d,
        LATERAL (SELECT unnest(range(0, LEAST(d.nb, 65))) AS i) i),
      h AS (
        SELECT a.doc_id,
          SUM(CASE WHEN a.c > b.c THEN CAST(1 AS HUGEINT) << a.i
                   ELSE CAST(0 AS HUGEINT) END) AS hraw
        FROM codes a JOIN codes b ON b.doc_id = a.doc_id AND b.i = a.i + 1
        WHERE a.i < 64
        GROUP BY a.doc_id),
      sh AS (
        SELECT d.doc_id,
          COALESCE(h.hraw, CAST(0 AS HUGEINT)) AS hu,
          ${u2s("COALESCE(h.hraw, CAST(0 AS HUGEINT))")} AS dhash
        FROM documents d LEFT JOIN h ON h.doc_id = d.doc_id),
      blocks AS (
        SELECT doc_id, b.blk, (hu >> (b.blk * 16)) & 65535 AS blk_val
        FROM sh, (VALUES (0), (1), (2), (3)) b(blk)),
      ok AS (
        SELECT blk, blk_val FROM blocks
        GROUP BY blk, blk_val HAVING COUNT(*) BETWEEN 2 AND 1000),
      pr AS (
        SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        FROM blocks x
        JOIN blocks y ON x.blk = y.blk AND x.blk_val = y.blk_val
          AND x.doc_id < y.doc_id
        JOIN ok o ON o.blk = x.blk AND o.blk_val = x.blk_val),
      ham AS (
        SELECT a, b FROM pr
        JOIN sh sa ON sa.doc_id = pr.a
        JOIN sh sb ON sb.doc_id = pr.b
        WHERE bit_count(xor(sa.dhash, sb.dhash)) <= 3),
      edges AS (SELECT a AS src, b AS dst FROM ham
                UNION ALL SELECT b, a FROM ham),
      reach(v, u) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT r.v, e.dst FROM reach r JOIN edges e ON r.u = e.src)
      SELECT v AS doc_id, MIN(u) AS cluster
      FROM reach GROUP BY v ORDER BY doc_id""",

    "x01_skew_plain" -> skewOracle,
    "x02_skew_salted" -> skewOracle,
    // x07/x08 share the same oracle again: AQE's runtime partition
    // split (OptimizeSkewedJoin) must never change the join result.
    "x07_skew_aqe_off" -> skewOracle,
    "x08_skew_aqe_on" -> skewOracle,

    "x03_topk_window" -> topkOracle,
    "x04_topk_partial" -> topkOracle,

    // x05/x06 share one oracle: the runtime bloom filter is a pure
    // semi-join reduction — pruning probe rows early must never change
    // the join result.
    "x05_bloom_off" -> bloomOracle,
    "x06_bloom_on" -> bloomOracle,

    // e15: the same first-view/first-purchase staging, lags in integer
    // microseconds, percentile ranks replayed with the exact-selection
    // integer rank arithmetic per cohort day.
    // e16: the same lead-within-user derivation; FILTER-clause splits
    // the in-session dwells from session ends, and the mean is the
    // floor division of exact BIGINTs — no doubles anywhere.
    // e20: the e14 replication replayed at 1/7/28 days; window ends via
    // date generate_series (timestamps cast back to DATE), left joins
    // from the MAU superset, 0-filled, exact floor-division stickiness.
    "e20_stickiness" -> """
      WITH act AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
      mx AS (SELECT MAX(day) AS max_day FROM act),
      m AS (SELECT wend, COUNT(DISTINCT user_id) AS mau FROM (
          SELECT user_id, CAST(unnest(generate_series(CAST(day AS TIMESTAMP),
            CAST(day AS TIMESTAMP) + INTERVAL 27 DAY, INTERVAL 1 DAY))
            AS DATE) AS wend
          FROM act) t, mx WHERE wend <= max_day GROUP BY wend),
      w AS (SELECT wend, COUNT(DISTINCT user_id) AS wau FROM (
          SELECT user_id, CAST(unnest(generate_series(CAST(day AS TIMESTAMP),
            CAST(day AS TIMESTAMP) + INTERVAL 6 DAY, INTERVAL 1 DAY))
            AS DATE) AS wend
          FROM act) t, mx WHERE wend <= max_day GROUP BY wend),
      dd AS (SELECT day AS wend, COUNT(DISTINCT user_id) AS dau
             FROM act GROUP BY day)
      SELECT strftime(m.wend, '%Y-%m-%d') AS day,
        CAST(COALESCE(dau, 0) AS BIGINT) AS dau,
        CAST(COALESCE(wau, 0) AS BIGINT) AS wau,
        mau,
        (10000 * CAST(COALESCE(dau, 0) AS BIGINT)) // mau AS stickiness_bp
      FROM m LEFT JOIN w ON m.wend = w.wend
             LEFT JOIN dd ON m.wend = dd.wend
      ORDER BY day""",

    // e19: the e15 first-view/first-later-purchase staging, day-bucketed
    // floor-division lags, cumulative window counts, exact bp share.
    "e19_conversion_survival" -> """
      WITH fv AS (
        SELECT user_id, MIN(ts) AS v_ts FROM events
        WHERE event_type = 'view' GROUP BY user_id),
      fp AS (
        SELECT e.user_id, MIN(e.ts) AS p_ts
        FROM events e JOIN fv ON e.user_id = fv.user_id
        WHERE e.event_type = 'purchase' AND e.ts > fv.v_ts
        GROUP BY e.user_id),
      lags AS (
        SELECT LEAST((epoch_us(p_ts) - epoch_us(v_ts)) // 86400000000, 7)
          AS lag_day
        FROM fv JOIN fp ON fv.user_id = fp.user_id),
      c AS (SELECT lag_day, COUNT(*) AS n FROM lags GROUP BY lag_day)
      SELECT lag_day, n,
        CAST(SUM(n) OVER (ORDER BY lag_day
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
          AS cum_n,
        CAST((10000 * SUM(n) OVER (ORDER BY lag_day
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
          // SUM(n) OVER () AS BIGINT) AS cum_bp
      FROM c ORDER BY lag_day""",

    // e18: the two leads + session-gap filter replayed; the share is an
    // exact floor division over the window total (BIGINT casts where
    // DuckDB widens SUM to HUGEINT).
    "e18_path_mining" -> """
      WITH w AS (
        SELECT event_type AS p1,
          lead(event_type, 1) OVER u AS p2,
          lead(event_type, 2) OVER u AS p3,
          lead(epoch_us(ts), 1) OVER u - epoch_us(ts) AS g1,
          lead(epoch_us(ts), 2) OVER u - lead(epoch_us(ts), 1) OVER u AS g2
        FROM events
        WINDOW u AS (PARTITION BY user_id ORDER BY ts, event_id)),
      p AS (
        SELECT p1, p2, p3, COUNT(*) AS n FROM w
        WHERE p3 IS NOT NULL AND g1 <= 1800000000 AND g2 <= 1800000000
        GROUP BY p1, p2, p3)
      SELECT p1, p2, p3, n,
        CAST((10000 * n) // (SUM(n) OVER ()) AS BIGINT) AS share_bp
      FROM p ORDER BY n DESC, p1, p2, p3""",

    // e17: the trailing-24h burst replayed with the identical integer
    // RANGE frame; COUNT aggregates are BIGINT on both engines.
    "e17_burst_detection" -> """
      WITH b AS (
        SELECT user_id, COUNT(*) OVER (PARTITION BY user_id
          ORDER BY epoch_us(ts)
          RANGE BETWEEN 86399999999 PRECEDING AND CURRENT ROW) AS burst
        FROM events)
      SELECT user_id, COUNT(*) AS n_events, MAX(burst) AS max_burst_24h,
        MAX(burst) >= 10 AS is_burst
      FROM b GROUP BY user_id ORDER BY user_id""",

    "e16_dwell_time" -> """
      WITH w AS (
        SELECT event_type,
          lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
            - epoch_us(ts) AS dwell_us
        FROM events)
      SELECT event_type,
        COUNT(*) FILTER (WHERE dwell_us <= 1800000000) AS n_dwells,
        CAST(SUM(dwell_us) FILTER (WHERE dwell_us <= 1800000000)
          AS BIGINT) AS sum_dwell_us,
        MAX(dwell_us) FILTER (WHERE dwell_us <= 1800000000) AS max_dwell_us,
        COUNT(*) FILTER (WHERE dwell_us > 1800000000) AS n_session_ends,
        CAST(SUM(dwell_us) FILTER (WHERE dwell_us <= 1800000000)
          // COUNT(*) FILTER (WHERE dwell_us <= 1800000000)
          AS BIGINT) AS avg_dwell_us
      FROM w GROUP BY event_type ORDER BY event_type""",

    "e15_conversion_lag" -> """
      WITH fv AS (
        SELECT user_id, MIN(ts) AS v_ts FROM events
        WHERE event_type = 'view' GROUP BY user_id),
      fp AS (
        SELECT e.user_id, MIN(e.ts) AS p_ts
        FROM events e JOIN fv USING (user_id)
        WHERE e.event_type = 'purchase' AND e.ts > fv.v_ts
        GROUP BY e.user_id),
      lags AS (
        SELECT fv.user_id, strftime(v_ts, '%Y-%m-%d') AS day,
          epoch_us(p_ts) - epoch_us(v_ts) AS lag_us
        FROM fv LEFT JOIN fp USING (user_id)),
      counts AS (
        SELECT day, COUNT(*) AS n_viewers, COUNT(lag_us) AS n_converted
        FROM lags GROUP BY day),
      rk AS (
        SELECT day, lag_us,
          row_number() OVER (PARTITION BY day ORDER BY lag_us) AS rn,
          COUNT(*) OVER (PARTITION BY day) AS n
        FROM lags WHERE lag_us IS NOT NULL),
      cuts AS (
        SELECT day,
          MAX(CASE WHEN rn = GREATEST(1, (500000 * n + 999999) // 1000000)
              THEN lag_us END) AS med_lag_us,
          MAX(CASE WHEN rn = GREATEST(1, (900000 * n + 999999) // 1000000)
              THEN lag_us END) AS p90_lag_us
        FROM rk GROUP BY day)
      SELECT c.day, n_viewers, n_converted,
        round(CAST(n_converted AS DOUBLE) / n_viewers, 4) AS conv_rate,
        med_lag_us, p90_lag_us
      FROM counts c LEFT JOIN cuts USING (day) ORDER BY c.day""",

    // Replays Splits.scatter (multiplicative hash) + the 80/10/10 labels.
    "p01_split" -> """
      WITH labeled AS (
        SELECT CASE ((doc_id * 69069 + 12345) % 1048576) % 10
                 WHEN 0 THEN 'val' WHEN 1 THEN 'test' ELSE 'train' END AS split,
               lang, n_chars
        FROM documents)
      SELECT split, COUNT(*) AS n_docs,
        COUNT(DISTINCT lang) AS n_langs,
        CAST(SUM(n_chars) AS BIGINT) AS total_chars
      FROM labeled GROUP BY split ORDER BY split""",

    "p02_stratified_cap" -> """
      WITH ranked AS (
        SELECT lang, doc_id,
          row_number() OVER (PARTITION BY lang
            ORDER BY (doc_id * 69069 + 12345) % 1048576, doc_id) AS rn
        FROM documents)
      SELECT lang, COUNT(*) AS n_kept,
        CAST(SUM(doc_id) AS BIGINT) AS id_checksum
      FROM ranked WHERE rn <= 30
      GROUP BY lang ORDER BY lang""",

    "q99_map_funcs" -> """
      WITH pc AS (
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
        FROM orders GROUP BY 1, 2),
      tot AS (SELECT o_orderstatus, SUM(n) AS total FROM pc GROUP BY 1),
      shares AS (
        SELECT pc.o_orderstatus, o_orderpriority,
          round(n / CAST(total AS DOUBLE), 4) AS share
        FROM pc JOIN tot USING (o_orderstatus))
      SELECT o_orderstatus,
        CAST(COUNT(*) FILTER (WHERE share >= 0.15) AS INTEGER) AS n_big,
        COALESCE(string_agg(o_orderpriority || '=' || format('{:.4f}', share),
                   ',' ORDER BY o_orderpriority) FILTER (WHERE share >= 0.15),
                 '') AS shares
      FROM shares GROUP BY o_orderstatus ORDER BY o_orderstatus""",

    "q100_seq_zip" -> """
      SELECT p_partkey,
        CAST(len(w) AS INTEGER) AS n_words,
        array_to_string(
          list_transform(range(1, LEAST(len(w), 3) + 1),
            i -> CAST(i AS VARCHAR) || '-' || w[i]),
          ',') AS tagged
      FROM (SELECT p_partkey, string_split(p_name, ' ') AS w
            FROM part WHERE p_partkey <= 300) t
      ORDER BY p_partkey""",

    // DuckDB's native ASOF LEFT JOIN is the oracle for the union+window
    // as-of topology (AsOfJoin.scala).
    "q97_asof_join" -> """
      WITH clicks AS (
        SELECT event_id, user_id, ts, value AS click_value
        FROM events WHERE event_type = 'click'),
      views AS (
        SELECT user_id, ts, value AS view_value
        FROM events WHERE event_type = 'view')
      SELECT c.event_id, c.user_id,
        strftime(c.ts, '%Y-%m-%d %H:%M:%S.%f') AS click_ts,
        c.click_value,
        strftime(v.ts, '%Y-%m-%d %H:%M:%S.%f') AS view_ts,
        v.view_value
      FROM clicks c ASOF LEFT JOIN views v
        ON c.user_id = v.user_id AND c.ts >= v.ts
      ORDER BY c.event_id""",

    // The range join's exact semantics (the bucketing is only a candidate
    // bound) — replayed as a plain interval join.
    "q98_range_join" -> """
      WITH signups AS (
        SELECT event_id AS signup_id, CAST(floor(epoch(ts)) AS BIGINT) AS start_s
        FROM events WHERE event_type = 'signup'),
      purchases AS (
        SELECT CAST(floor(epoch(ts)) AS BIGINT) AS at_s, value
        FROM events WHERE event_type = 'purchase')
      SELECT signup_id, COUNT(*) AS n_purchases,
        CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      FROM signups JOIN purchases
        ON at_s >= start_s AND at_s < start_s + 7200
      GROUP BY signup_id ORDER BY signup_id""",

    // Replays TextAnalysis.repetition: per-(doc, word) counts, top word by
    // (count desc, word asc), duplicate-word fraction.
    "t07_repetition" -> """
      WITH words AS (
        SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
        FROM documents),
      pw AS (SELECT doc_id, w, COUNT(*) AS cnt FROM words GROUP BY doc_id, w),
      ranked AS (SELECT doc_id, w, cnt,
        row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, w) AS rn
        FROM pw)
      SELECT doc_id,
        CAST(SUM(cnt) AS BIGINT) AS n_words,
        COUNT(*) AS n_distinct,
        round(1.0 - CAST(COUNT(*) AS DOUBLE) / CAST(SUM(cnt) AS BIGINT), 6) AS dup_word_frac,
        MAX(CASE WHEN rn = 1 THEN w END) AS top_word,
        round(CAST(MAX(CASE WHEN rn = 1 THEN cnt END) AS DOUBLE)
              / CAST(SUM(cnt) AS BIGINT), 6) AS top_word_frac
      FROM ranked GROUP BY doc_id ORDER BY doc_id""",

    // Replays TextAnalysis.piiRedact: same deterministic injection, same
    // three regexes (Java regex and RE2 agree on these constructs).
    "t08_pii_redact" -> """
      WITH injected AS (
        SELECT doc_id,
          CASE WHEN doc_id % 5 = 0 THEN
            text || ' contact user' || doc_id || '@example.com from 10.0.' ||
            (doc_id % 256) || '.7 call 555-' ||
            lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
          ELSE text END AS t
        FROM documents),
      red AS (
        SELECT doc_id, t,
          regexp_replace(regexp_replace(regexp_replace(t,
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
            '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g'),
            '\b555-[0-9]{4}\b', '<PHONE>', 'g') AS r
        FROM injected)
      SELECT doc_id,
        CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INTEGER) AS n_emails,
        CAST(len(regexp_extract_all(t, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS INTEGER) AS n_ips,
        CAST(len(regexp_extract_all(t, '\b555-[0-9]{4}\b')) AS INTEGER) AS n_phones,
        md5(r) AS redacted_md5,
        CAST(length(r) AS INTEGER) AS redacted_len
      FROM red ORDER BY doc_id""",

    // Replays Dedup.contamination: distinct 8-grams per doc, benchmark =
    // every 97th doc, per-doc shared-gram counts.
    "d07_contamination" -> """
      WITH wl AS (
        SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
        FROM documents),
      grams AS (
        SELECT DISTINCT doc_id, gram FROM (
          SELECT doc_id, unnest(list_transform(range(1, len(w) - 6),
            i -> array_to_string(w[i:i+7], ' '))) AS gram
          FROM wl WHERE len(w) >= 8) t),
      bench AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 97 = 0),
      hits AS (
        SELECT g.doc_id, COUNT(*) AS n
        FROM grams g JOIN bench USING (gram) GROUP BY g.doc_id)
      SELECT d.doc_id, COALESCE(n, 0) AS n_shared_grams,
        COALESCE(n, 0) > 0 AS contaminated
      FROM documents d LEFT JOIN hits ON hits.doc_id = d.doc_id
      ORDER BY d.doc_id""",

    // Replays Incremental.upsert: union + latest-version-wins row_number.
    "p03_upsert" -> """
      WITH base AS (SELECT doc_id, text, 0 AS version FROM documents),
      upd AS (SELECT doc_id, '[rev2] ' || text AS text, 1 AS version
              FROM documents WHERE doc_id % 4 = 0),
      all_rows AS (SELECT * FROM base UNION ALL SELECT * FROM upd),
      ranked AS (SELECT doc_id, text, version,
        row_number() OVER (PARTITION BY doc_id ORDER BY version DESC) AS rn
        FROM all_rows)
      SELECT doc_id, version, md5(text) AS text_md5
      FROM ranked WHERE rn = 1 ORDER BY doc_id""",

    // Replays Incremental.incrementalDedup: corpus hash index vs batch.
    "p04_incremental_dedup" -> """
      WITH hashed AS (
        SELECT doc_id, md5(lower(trim(text))) AS h FROM documents),
      existing AS (SELECT DISTINCT h FROM hashed WHERE doc_id < 400),
      incoming AS (
        SELECT doc_id, h FROM hashed WHERE doc_id >= 400
        UNION ALL
        -- alias offsets sit far above any real doc_id (50k at sf1.0):
        -- +10000 collided with real ids at the r15 sf1.0 gate, making
        -- ORDER BY doc_id non-total
        SELECT doc_id + 10000000, h FROM hashed WHERE doc_id < 400 AND doc_id % 40 = 0
        UNION ALL
        SELECT doc_id + 20000000, h FROM hashed WHERE doc_id >= 400 AND doc_id % 50 = 0),
      batch AS (SELECT doc_id, h,
        row_number() OVER (PARTITION BY h ORDER BY doc_id) AS batch_rank
        FROM incoming)
      SELECT b.doc_id,
        CASE WHEN e.h IS NOT NULL THEN 'dup_of_existing'
             WHEN batch_rank > 1 THEN 'dup_in_batch'
             ELSE 'new' END AS decision
      FROM batch b LEFT JOIN existing e ON b.h = e.h
      ORDER BY b.doc_id""",

    // p12's oracle is the FROM-SCRATCH recompute over all events — the
    // defining invariant of incremental view maintenance (merge ≡
    // rebuild) is exactly what the hash compare pins.
    // p16: the v1 mutation replayed (delete %10=7, revise %4=0, insert
    // %25=0 under id+n) and classified through the same full-outer
    // hash-compare; md5 is byte-identical across engines on UTF-8 text.
    "p16_snapshot_diff" -> """
      WITH nn AS (SELECT COUNT(*) AS n FROM documents),
      v0 AS (SELECT doc_id, md5(text) AS v0_md5 FROM documents),
      v1 AS (
        SELECT doc_id,
          md5(CASE WHEN doc_id % 4 = 0 THEN '[rev2] ' || text
                   ELSE text END) AS v1_md5
        FROM documents WHERE doc_id % 10 <> 7
        UNION ALL
        SELECT doc_id + n AS doc_id, md5('[new] ' || text) AS v1_md5
        FROM documents, nn WHERE doc_id % 25 = 0)
      SELECT COALESCE(v0.doc_id, v1.doc_id) AS doc_id,
        CASE WHEN v0_md5 IS NULL THEN 'inserted'
             WHEN v1_md5 IS NULL THEN 'deleted'
             WHEN v0_md5 = v1_md5 THEN 'unchanged'
             ELSE 'updated' END AS change,
        v0_md5, v1_md5
      FROM v0 FULL OUTER JOIN v1 ON v0.doc_id = v1.doc_id
      ORDER BY doc_id""",

    "p12_incremental_rollup" -> """
      SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day, event_type,
        COUNT(*) AS n_events,
        CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM events GROUP BY 1, 2 ORDER BY day, event_type""",

    // Replays Ann.quantize: identical scale (max|x|/127) and the pinned
    // floor(x/scale + 0.5) tie semantics; error sum in exact decimal.
    "a04_quantize" -> """
      WITH ex AS (
        SELECT vec_id, i, CAST(e AS DOUBLE) AS e
        FROM (SELECT vec_id, unnest(embedding) AS e,
                     generate_subscripts(embedding, 1) AS i
              FROM embeddings) t),
      sc AS (
        SELECT vec_id, GREATEST(MAX(ABS(e)), 1e-12) / 127.0 AS scale
        FROM ex GROUP BY vec_id),
      q AS (
        SELECT ex.vec_id, e, scale,
          CAST(floor(e / scale + 0.5) AS BIGINT) AS qv
        FROM ex JOIN sc USING (vec_id))
      SELECT vec_id, round(scale, 8) AS scale,
        CAST(SUM(qv) AS BIGINT) AS q_sum,
        CAST(SUM(ABS(qv)) AS BIGINT) AS q_abs_sum,
        round(sqrt(CAST(SUM(CAST(pow(e - qv * scale, 2) AS DECIMAL(30,25))) AS DOUBLE)), 6)
          AS q_err_l2
      FROM q GROUP BY vec_id, scale ORDER BY vec_id""",

    // Replays TextAnalysis.tfidf: tf from (doc, word) counts, idf from
    // document frequency, per-source decimal-accumulated score, top-5.
    "t09_tfidf" -> """
      WITH tf AS (
        SELECT doc_id, source, w, COUNT(*) AS cnt
        FROM (SELECT doc_id, source,
                unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
              FROM documents) t
        GROUP BY doc_id, source, w),
      dl AS (SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS doc_len FROM tf GROUP BY doc_id),
      dfq AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY w),
      nd AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
      scored AS (
        SELECT source, w,
          round(CAST(SUM(CAST(
            (CAST(cnt AS DOUBLE) / doc_len) * ln(CAST(n_docs AS DOUBLE) / df)
            AS DECIMAL(26,12))) AS DOUBLE), 6) AS score
        FROM tf JOIN dl USING (doc_id) JOIN dfq USING (w) CROSS JOIN nd
        GROUP BY source, w),
      ranked AS (
        SELECT source, w, score,
          CAST(row_number() OVER (PARTITION BY source
            ORDER BY score DESC, w) AS INTEGER) AS rank
        FROM scored)
      SELECT source, rank, w AS word, score
      FROM ranked WHERE rank <= 5
      ORDER BY source, rank""",

    // Replays Ann.quantizedRecall: exact vs int8-dequantized top-10 per
    // probe, overlap counted; cosine sums in exact decimal (a01 pattern).
    "a05_quantized_recall" -> """
      WITH ex AS (
        SELECT vec_id, i, CAST(e AS DOUBLE) AS e
        FROM (SELECT vec_id, unnest(embedding) AS e,
                     generate_subscripts(embedding, 1) AS i
              FROM embeddings) t),
      sc AS (
        SELECT vec_id, GREATEST(MAX(ABS(e)), 1e-12) / 127.0 AS scale
        FROM ex GROUP BY vec_id),
      qe AS (
        SELECT ex.vec_id, i, floor(e / scale + 0.5) * scale AS e
        FROM ex JOIN sc USING (vec_id)),
      ep AS (
        SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
          round(CAST(SUM(CAST(p.e * c.e AS DECIMAL(30,15))) AS DOUBLE) /
            (sqrt(CAST(SUM(CAST(p.e * p.e AS DECIMAL(30,15))) AS DOUBLE)) *
             sqrt(CAST(SUM(CAST(c.e * c.e AS DECIMAL(30,15))) AS DOUBLE))), 4) AS cos_sim
        FROM ex p JOIN ex c ON p.i = c.i
        WHERE p.vec_id < 5
        GROUP BY p.vec_id, c.vec_id),
      qp AS (
        SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
          round(CAST(SUM(CAST(p.e * c.e AS DECIMAL(30,15))) AS DOUBLE) /
            (sqrt(CAST(SUM(CAST(p.e * p.e AS DECIMAL(30,15))) AS DOUBLE)) *
             sqrt(CAST(SUM(CAST(c.e * c.e AS DECIMAL(30,15))) AS DOUBLE))), 4) AS cos_sim
        FROM qe p JOIN qe c ON p.i = c.i
        WHERE p.vec_id < 5
        GROUP BY p.vec_id, c.vec_id),
      er AS (
        SELECT probe_id, cand_id,
          row_number() OVER (PARTITION BY probe_id
            ORDER BY cos_sim DESC, cand_id) AS rn FROM ep),
      qr AS (
        SELECT probe_id, cand_id,
          row_number() OVER (PARTITION BY probe_id
            ORDER BY cos_sim DESC, cand_id) AS rn FROM qp)
      SELECT e.probe_id, COUNT(*) AS n_common,
        round(COUNT(*) / 10.0, 2) AS recall_at_10
      FROM (SELECT * FROM er WHERE rn <= 10) e
      JOIN (SELECT * FROM qr WHERE rn <= 10) q
        ON e.probe_id = q.probe_id AND e.cand_id = q.cand_id
      GROUP BY e.probe_id ORDER BY e.probe_id""",

    // a08: replays the seed-11 32-plane sign sketch, the xor+popcount
    // Hamming ranking (integer-exact on both engines), and a01's exact
    // cosine top-k, then counts the overlap per probe.
    "a08_hamming_recall" -> s"""
      WITH planes(p, v) AS (VALUES ${planesValues(11, 32)}),
      e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
      sig AS (
        SELECT vec_id,
          (SELECT CAST(SUM(CASE WHEN list_dot_product(emb, v) > 0
                     THEN CAST(1 AS BIGINT) << p ELSE 0 END) AS BIGINT)
           FROM planes) AS sig
        FROM e),
      ham AS (
        SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
          bit_count(xor(p.sig, c.sig)) AS ham
        FROM (SELECT * FROM sig WHERE vec_id < 5) p, sig c),
      hr AS (
        SELECT probe_id, cand_id,
          row_number() OVER (PARTITION BY probe_id ORDER BY ham, cand_id) AS rn
        FROM ham),
      px AS (
        SELECT vec_id AS probe_id, i, CAST(x AS DOUBLE) AS pe
        FROM (SELECT vec_id, unnest(embedding) AS x,
                     generate_subscripts(embedding, 1) AS i
              FROM embeddings WHERE vec_id < 5) t),
      cx AS (
        SELECT vec_id AS cand_id, i, CAST(x AS DOUBLE) AS ce
        FROM (SELECT vec_id, unnest(embedding) AS x,
                     generate_subscripts(embedding, 1) AS i
              FROM embeddings) t),
      pairs AS (
        SELECT probe_id, cand_id,
          CAST(SUM(CAST(pe * ce AS DECIMAL(30,15))) AS DOUBLE) AS dot,
          CAST(SUM(CAST(pe * pe AS DECIMAL(30,15))) AS DOUBLE) AS pp,
          CAST(SUM(CAST(ce * ce AS DECIMAL(30,15))) AS DOUBLE) AS cc
        FROM px JOIN cx ON px.i = cx.i
        GROUP BY probe_id, cand_id),
      er AS (
        SELECT probe_id, cand_id,
          row_number() OVER (PARTITION BY probe_id
            ORDER BY round(dot / (sqrt(pp) * sqrt(cc)), 4) DESC, cand_id) AS rn
        FROM pairs)
      SELECT e2.probe_id, COUNT(*) AS n_common,
        round(COUNT(*) / 10.0, 2) AS recall_at_10
      FROM (SELECT * FROM er WHERE rn <= 10) e2
      JOIN (SELECT * FROM hr WHERE rn <= 10) h
        ON e2.probe_id = h.probe_id AND e2.cand_id = h.cand_id
      GROUP BY e2.probe_id ORDER BY e2.probe_id""",

    // p08: the d02 minhash pair kernel + the p01 split labels; only
    // pairs whose two docs land in different splits survive.
    "p08_split_leakage" -> s"""
      WITH $minhashCtes,
      lab AS (
        SELECT doc_id,
          CASE ((doc_id * 69069 + 12345) % 1048576) % 10
            WHEN 0 THEN 'val' WHEN 1 THEN 'test' ELSE 'train' END AS split
        FROM documents)
      SELECT least(la.split, lb.split) AS split_lo,
        greatest(la.split, lb.split) AS split_hi,
        COUNT(*) AS n_pairs,
        CAST(SUM(pr.a + pr.b) AS BIGINT) AS pair_checksum
      FROM pr JOIN lab la ON la.doc_id = pr.a
              JOIN lab lb ON lb.doc_id = pr.b
      WHERE la.split != lb.split
      GROUP BY 1, 2 ORDER BY 1, 2""",

    // Replays Events.sliding: each event belongs to exactly 4 hopping
    // windows (1h span, 15-min slide, epoch-aligned like Spark's window()).
    "e06_sliding_window" -> """
      WITH expanded AS (
        SELECT time_bucket(INTERVAL 15 MINUTE, ts) - i.i * INTERVAL 15 MINUTE AS w,
               value
        FROM events, LATERAL (SELECT unnest(range(0, 4)) AS i) i)
      SELECT strftime(w, '%Y-%m-%d %H:%M:%S') AS window_start,
        COUNT(*) AS n_events,
        CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
      FROM expanded GROUP BY w ORDER BY window_start""",

    // Replays Events.funnel: first signup, first view after it, first
    // purchase after that view; stage counts unpivoted.
    "e05_funnel" -> """
      WITH ev AS (SELECT user_id, event_type, ts FROM events),
      signup AS (
        SELECT user_id, MIN(ts) AS s_ts FROM ev
        WHERE event_type = 'signup' GROUP BY user_id),
      staged AS (
        SELECT e.user_id, s.s_ts,
          MIN(CASE WHEN e.event_type = 'view' AND e.ts > s.s_ts THEN e.ts END) AS v_ts
        FROM ev e JOIN signup s ON e.user_id = s.user_id
        GROUP BY e.user_id, s.s_ts),
      completed AS (
        SELECT st.user_id, MIN(p.ts) AS p_ts
        FROM staged st JOIN ev p ON p.user_id = st.user_id
        WHERE st.v_ts IS NOT NULL AND p.event_type = 'purchase' AND p.ts > st.v_ts
        GROUP BY st.user_id),
      counts AS (
        SELECT COUNT(*) AS n_signup, COUNT(v_ts) AS n_view, COUNT(p_ts) AS n_purch
        FROM staged LEFT JOIN completed USING (user_id))
      SELECT * FROM (
        SELECT '1_signup' AS stage, n_signup AS n_users,
          CAST(1.0 AS DOUBLE) AS conv_from_signup FROM counts
        UNION ALL
        SELECT '2_view_after_signup', n_view,
          round(CAST(n_view AS DOUBLE) / n_signup, 4) FROM counts
        UNION ALL
        SELECT '3_purchase_after_view', n_purch,
          round(CAST(n_purch AS DOUBLE) / n_signup, 4) FROM counts) t
      ORDER BY stage""",

    // Replays Splits.shardPack: same scatter order, running token sum,
    // shard = floor(preceding volume / 2000).
    "p05_shard_pack" -> """
      WITH t AS (
        SELECT CASE ((doc_id * 69069 + 12345) % 1048576) % 10
                 WHEN 0 THEN 'val' WHEN 1 THEN 'test' ELSE 'train' END AS split,
               doc_id,
               CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
               (doc_id * 69069 + 12345) % 1048576 AS ord
        FROM documents),
      c AS (
        SELECT split, doc_id, n_tokens,
          SUM(n_tokens) OVER (PARTITION BY split ORDER BY ord, doc_id
            ROWS UNBOUNDED PRECEDING) AS cum
        FROM t)
      SELECT split, CAST((cum - n_tokens) // 2000 AS BIGINT) AS shard_id,
        COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS shard_tokens
      FROM c GROUP BY split, shard_id ORDER BY split, shard_id""",

    // p10: the greedy next-fit recurrence replayed as a recursive CTE —
    // the working table carries one row per shard per step, so depth =
    // max docs per shard, never total docs.
    "p10_pack_sequences" -> """
      WITH RECURSIVE t AS (
        SELECT ((doc_id * 69069 + 12345) % 1048576) % 16 AS shard,
               (doc_id * 69069 + 12345) % 1048576 AS ord,
               doc_id,
               CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
                 AS n_tokens
        FROM documents),
      d AS (
        SELECT shard, doc_id, n_tokens,
          row_number() OVER (PARTITION BY shard ORDER BY ord, doc_id) AS rn
        FROM t),
      rec AS (
        SELECT shard, rn, doc_id, n_tokens,
          CAST(0 AS BIGINT) AS seq_id, n_tokens AS fill
        FROM d WHERE rn = 1
        UNION ALL
        SELECT d.shard, d.rn, d.doc_id, d.n_tokens,
          CASE WHEN rec.fill + d.n_tokens > 1024
               THEN rec.seq_id + 1 ELSE rec.seq_id END,
          CASE WHEN rec.fill + d.n_tokens > 1024
               THEN d.n_tokens ELSE rec.fill + d.n_tokens END
        FROM rec JOIN d ON d.shard = rec.shard AND d.rn = rec.rn + 1)
      SELECT shard, seq_id, COUNT(*) AS n_docs,
        CAST(SUM(n_tokens) AS BIGINT) AS seq_tokens,
        CAST(SUM(n_tokens) AS BIGINT) > 1024 AS overflow
      FROM rec GROUP BY shard, seq_id ORDER BY shard, seq_id""",

    "p06_global_shuffle" -> """
      WITH t AS (
        SELECT doc_id, (doc_id * 69069 + 12345) % 1048576 AS pos_key,
               ((doc_id * 69069 + 12345) % 1048576) % 16 AS shard
        FROM documents),
      r AS (
        SELECT shard, doc_id,
          row_number() OVER (PARTITION BY shard ORDER BY pos_key, doc_id) AS rn
        FROM t)
      SELECT CAST(shard AS BIGINT) AS shard, COUNT(*) AS n_docs,
        CAST(SUM(doc_id) AS BIGINT) AS id_checksum,
        CAST(SUM(rn * doc_id) AS BIGINT) AS order_checksum
      FROM r GROUP BY shard ORDER BY shard""",

    // p09: the t02 score kernel verbatim, 0.75/0.5 bin thresholds, the
    // 16807 MINSTD hash threshold, and the 9-row epoch schedule.
    "p09_curriculum" -> {
      def occ(m: String) = s"(length(p) - length(replace(p, '$m', ''))) / ${m.length}"
      raw"""
      WITH scored AS (
        SELECT doc_id, n_chars,
          LEAST(1.0, len(string_split_regex(trim(text), '\s+')) / 100.0) * 0.5
          + LEAST(1.0, (${occ(" the ")} + ${occ(" a ")} + ${occ(" and ")} + ${occ(" of ")}) * 10.0 / len(string_split_regex(trim(text), '\s+'))) * 0.3
          + CASE WHEN CAST(length(text) - (len(string_split_regex(trim(text), '\s+')) - 1) AS DOUBLE) / len(string_split_regex(trim(text), '\s+')) BETWEEN 3.0 AND 8.0
                 THEN 0.2 ELSE 0.0 END AS q,
          (doc_id * 16807 + 17) % 1048576 AS u
        FROM (SELECT doc_id, text, n_chars, ' ' || lower(text) || ' ' AS p FROM documents) d),
      binned AS (
        SELECT doc_id, n_chars, u,
          CASE WHEN q >= 0.75 THEN 'high' WHEN q >= 0.5 THEN 'mid'
               ELSE 'low' END AS bin
        FROM scored),
      sched(epoch, bin, keep_below) AS (VALUES
        (1, 'high', 1048576), (1, 'mid', 0), (1, 'low', 0),
        (2, 'high', 1048576), (2, 'mid', 524288), (2, 'low', 0),
        (3, 'high', 1048576), (3, 'mid', 1048576), (3, 'low', 104858))
      SELECT s.epoch, b.bin, COUNT(*) AS n_kept,
        CAST(SUM(b.doc_id) AS BIGINT) AS id_checksum,
        CAST(SUM(b.n_chars) AS BIGINT) AS kept_chars
      FROM binned b JOIN sched s ON s.bin = b.bin
      WHERE b.u < s.keep_below
      GROUP BY s.epoch, b.bin ORDER BY s.epoch, b.bin"""
    },

    "p07_mixture" -> """
      SELECT source, COUNT(*) AS n_kept,
        CAST(SUM(doc_id) AS BIGINT) AS id_checksum,
        CAST(SUM(n_chars) AS BIGINT) AS kept_chars
      FROM documents
      WHERE (doc_id * 48271 + 11) % 1048576 <
        CASE WHEN CAST(regexp_extract(source, '(\d+)', 1) AS INTEGER) < 5 THEN 1048576
             WHEN CAST(regexp_extract(source, '(\d+)', 1) AS INTEGER) < 10 THEN 524288
             ELSE 104858 END
      GROUP BY source ORDER BY source""",

    // d08: the oracle groups on the chunk text itself — md5 on the Spark
    // side is only the shuffle-key narrowing, multiplicities are equal.
    "d08_chunk_dedup" -> """
      WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      idx AS (SELECT doc_id, ws, unnest(range(len(ws) // 10)) AS j FROM w),
      c AS (SELECT doc_id,
              array_to_string(ws[j*10+1 : j*10+10], ' ') AS chunk FROM idx),
      cnt AS (SELECT chunk, COUNT(*) AS cn FROM c GROUP BY 1)
      SELECT doc_id, COUNT(*) AS n_chunks,
        CAST(SUM(CASE WHEN cn >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks
      FROM c JOIN cnt USING(chunk)
      GROUP BY doc_id ORDER BY doc_id""",

    "t10_unigram_lm" -> """
      WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
                 FROM documents),
      f AS (SELECT word, COUNT(*) AS wn FROM w GROUP BY 1),
      t AS (SELECT COUNT(*) AS tot FROM w)
      SELECT doc_id, COUNT(*) AS n_tokens,
        -- 4dp mean in exact INTEGER space (t24 discipline; ln < 0) — a
        -- double division before round() forks on .xxxx5 midpoints
        CAST((CAST(SUM(CAST(ln(CAST(wn AS DOUBLE) / CAST(tot AS DOUBLE))
                            AS DECIMAL(18,6))) * -1000000 AS BIGINT)
              + 50 * COUNT(*)) // (100 * COUNT(*)) AS DOUBLE) / -10000.0 AS avg_logp
      FROM w JOIN f USING(word), t
      GROUP BY doc_id ORDER BY doc_id""",

    "e08_retention" -> """
      WITH p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
      f AS (SELECT user_id, date_trunc('week', min(ts)) AS cw
            FROM p GROUP BY 1)
      SELECT strftime(cw, '%Y-%m-%d') AS cohort_week,
        CAST(date_diff('day', cw, date_trunc('week', p.ts)) / 7 AS INTEGER) AS week_k,
        COUNT(DISTINCT p.user_id) AS n_active
      FROM p JOIN f USING(user_id)
      GROUP BY 1, 2 ORDER BY cohort_week, week_k""",

    // q101: struct min/max replayed as asc/desc row_number picks.
    "q101_struct_minmax" -> """
      WITH ranked AS (
        SELECT o_orderstatus, o_totalprice, o_orderkey,
          row_number() OVER (PARTITION BY o_orderstatus
            ORDER BY o_totalprice, o_orderkey) AS rlo,
          row_number() OVER (PARTITION BY o_orderstatus
            ORDER BY o_totalprice DESC, o_orderkey DESC) AS rhi
        FROM orders)
      SELECT o_orderstatus, COUNT(*) AS n,
        MAX(CASE WHEN rlo = 1 THEN round(o_totalprice, 2) END) AS min_price,
        MAX(CASE WHEN rlo = 1 THEN o_orderkey END) AS min_key,
        MAX(CASE WHEN rhi = 1 THEN round(o_totalprice, 2) END) AS max_price,
        MAX(CASE WHEN rhi = 1 THEN o_orderkey END) AS max_key
      FROM ranked GROUP BY o_orderstatus ORDER BY o_orderstatus""",

    "q102_array_setops" -> """
      WITH p AS (
        SELECT p_partkey, list_distinct(string_split(p_name, ' ')) AS w
        FROM part WHERE p_partkey <= 300)
      SELECT a.p_partkey,
        CAST(len(a.w) + len(b.w) AS INTEGER) AS n_total,
        CAST(len(list_intersect(a.w, b.w)) AS INTEGER) AS n_common,
        CAST(len(list_filter(a.w, x -> NOT list_contains(b.w, x))) AS INTEGER) AS n_only_a,
        len(list_intersect(a.w, b.w)) > 0 AS overlaps,
        array_to_string(list_sort(list_distinct(list_concat(a.w, b.w))), ',') AS union_words
      FROM p a JOIN p b ON b.p_partkey = a.p_partkey + 1
      ORDER BY a.p_partkey""",

    // q103: the exact-decimal charge chain — scales only grow (2 -> 4 -> 6,
    // no lossy downcast: engines disagree on decimal rounding modes but
    // agree on exact arithmetic); strings pin scale as well as value.
    "q103_decimal_exact" -> """
      WITH c AS (
        SELECT l_returnflag,
          CAST(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) *
                 (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))
               AS DECIMAL(14,4)) *
               (CAST(1 AS DECIMAL(3,2)) + CAST(l_tax AS DECIMAL(4,2)))
               AS DECIMAL(18,6)) AS charge
        FROM lineitem)
      SELECT l_returnflag, COUNT(*) AS n,
        CAST(CAST(SUM(charge) AS DECIMAL(24,6)) AS VARCHAR) AS sum_charge,
        CAST(MIN(charge) AS VARCHAR) AS min_charge,
        CAST(MAX(charge) AS VARCHAR) AS max_charge
      FROM c GROUP BY l_returnflag ORDER BY l_returnflag""",

    // q107: the native GeometricMean aggregate vs exp(avg(ln)) — same math,
    // 4dp rounding absorbs summation-order jitter.
    "q107_geomean" -> """
      SELECT l_returnflag,
        round(exp(avg(ln(l_extendedprice))), 4) AS geo_price,
        round(exp(avg(ln(l_quantity))), 4) AS geo_qty,
        COUNT(*) AS n
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",

    // q108: deterministic TABLESAMPLE — the oracle replays the exact
    // hash threshold, so the sampled set (not just its size) must agree.
    "q108_tablesample" -> s"""
      SELECT o_orderpriority,
        COUNT(*) AS n_sampled,
        CAST(SUM(o_orderkey) AS BIGINT) AS key_checksum,
        ${dsum("o_totalprice")} AS sampled_value
      FROM orders
      WHERE (o_orderkey * 69069 + 12345) % 1048576 < 104858
      GROUP BY o_orderpriority ORDER BY o_orderpriority""",

    "q105_conditional_scalars" -> """
      SELECT l_orderkey, l_linenumber,
        round(GREATEST(l_quantity, l_discount * 100, l_tax * 100), 2) AS hi,
        round(LEAST(l_quantity, l_discount * 100, l_tax * 100), 2) AS lo,
        CASE WHEN l_quantity > 25 THEN 'bulk' ELSE 'small' END AS bucket,
        -- pinned floor-round: see the Spark side (half-boundary at sf0.1)
        floor(l_extendedprice / nullif(l_quantity, 0.0) * 10000 + 0.5) / 10000
          AS unit_price
      FROM lineitem WHERE l_orderkey <= 100
      -- total order over all outputs; NULLS FIRST pinned like q38
      ORDER BY l_orderkey, l_linenumber, hi, lo, bucket,
        unit_price ASC NULLS FIRST""",

    "d04_ngram_jaccard" -> """
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        round(CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE)
              / len(list_distinct(list_concat(a.ws, b.ws))), 6) AS jaccard
      FROM (SELECT doc_id, list_distinct(string_split_regex(lower(text), '\s+')) AS ws FROM documents) a
      JOIN (SELECT doc_id, list_distinct(string_split_regex(lower(text), '\s+')) AS ws FROM documents) b
        ON b.doc_id = a.doc_id + 1
      ORDER BY id_a""",

    // q109: Wilson interval — exact counts in, pure IEEE scalar math out;
    // both engines compute bit-identical doubles before the 6dp round.
    "q109_wilson" -> """
      WITH agg AS (
        SELECT l_returnflag,
          COUNT(*) AS n,
          CAST(SUM(CASE WHEN l_quantity > 25 THEN 1 ELSE 0 END) AS BIGINT) AS k
        FROM lineitem GROUP BY l_returnflag),
      s AS (
        SELECT l_returnflag, n, k,
          CAST(n AS DOUBLE) AS nd, CAST(k AS DOUBLE) / CAST(n AS DOUBLE) AS p
        FROM agg)
      SELECT l_returnflag, n, k,
        round(p, 6) AS p_hat,
        round((p + 1.96*1.96/(nd*2) - 1.96*sqrt(p*(1.0-p)/nd + 1.96*1.96/(nd*nd*4)))
          / (1.0 + 1.96*1.96/nd), 6) AS wilson_lower,
        round((p + 1.96*1.96/(nd*2) + 1.96*sqrt(p*(1.0-p)/nd + 1.96*1.96/(nd*nd*4)))
          / (1.0 + 1.96*1.96/nd), 6) AS wilson_upper
      FROM s ORDER BY l_returnflag""",

    "e09_anomaly" -> """
      WITH hourly AS (
        SELECT event_type, date_trunc('hour', ts) AS hour, COUNT(*) AS n
        FROM events GROUP BY event_type, date_trunc('hour', ts)),
      stats AS (
        SELECT event_type,
          CAST(CAST(SUM(CAST(n AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS DOUBLE) AS mean,
          sqrt((CAST(SUM(CAST(n * n AS DECIMAL(28,2))) AS DOUBLE)
            - CAST(SUM(CAST(n AS DECIMAL(18,2))) AS DOUBLE)
              * CAST(SUM(CAST(n AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*))
            / (COUNT(*) - 1)) AS std
        FROM hourly GROUP BY event_type)
      SELECT event_type, hour_start, n, z, rn FROM (
        SELECT h.event_type,
          strftime(h.hour, '%Y-%m-%d %H:%M:%S') AS hour_start,
          h.n, round((h.n - s.mean) / s.std, 4) AS z,
          CAST(row_number() OVER (PARTITION BY h.event_type
            ORDER BY abs((h.n - s.mean) / s.std) DESC, h.hour) AS INTEGER) AS rn
        FROM hourly h JOIN stats s USING (event_type)) t
      WHERE rn <= 5 ORDER BY event_type, rn""",

    // e10: ordering key is (microsecond epoch, event_id) on BOTH sides so
    // nanosecond source precision cannot fork ranks between engines.
    "e10_attribution" -> """
      WITH ranked AS (
        SELECT event_id, user_id, event_type, epoch_us(ts) AS us,
          last_value(CASE WHEN event_type IN ('click','view') THEN event_id END
            IGNORE NULLS) OVER w AS touch_id,
          last_value(CASE WHEN event_type IN ('click','view') THEN event_type END
            IGNORE NULLS) OVER w AS touch_type,
          last_value(CASE WHEN event_type IN ('click','view') THEN epoch_us(ts) END
            IGNORE NULLS) OVER w AS touch_us
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
      SELECT event_id, user_id, touch_id, touch_type,
        CAST(us - touch_us AS BIGINT) AS gap_us
      FROM ranked
      WHERE event_type = 'purchase' AND touch_id IS NOT NULL
      ORDER BY event_id""",

    // e13: same integer metrics (µs recency, counts, sign-aware
    // floor-form cents); quartile thresholds replay the q115
    // histogram-sketch shape (256-bin floor binning, window CDF,
    // bin-lower-edge pick — identical IEEE754 edge formula), then the
    // same strict-> scoring and segment CASE chain.
    "e13_rfm" -> """
      WITH u AS (
        SELECT user_id, MAX(epoch_us(ts)) AS last_us, COUNT(*) AS n_events,
          SUM(CASE WHEN event_type = 'purchase'
              THEN CAST(floor(abs(value) * 100 + 0.5) * sign(value) AS BIGINT)
              ELSE 0 END) AS cents
        FROM events GROUP BY user_id),
      m AS (
        SELECT 'r' AS metric, CAST(last_us AS DOUBLE) AS x FROM u
        UNION ALL SELECT 'f', CAST(n_events AS DOUBLE) FROM u
        UNION ALL SELECT 'm', CAST(cents AS DOUBLE) FROM u),
      b AS (SELECT metric, MIN(x) AS lo, MAX(x) AS hi FROM m GROUP BY metric),
      h AS (
        SELECT m.metric,
          CASE WHEN hi = lo THEN 1
               ELSE LEAST(CAST(FLOOR((x - lo) / ((hi - lo) / 256)) AS BIGINT) + 1,
                          256) END AS bin,
          COUNT(*) AS cnt
        FROM m JOIN b ON b.metric = m.metric
        GROUP BY 1, 2),
      c AS (
        SELECT metric, bin,
          SUM(cnt) OVER (PARTITION BY metric ORDER BY bin) AS cum,
          SUM(cnt) OVER (PARTITION BY metric) AS total
        FROM h),
      qb AS (
        SELECT metric,
          MIN(CASE WHEN cum >= ceil(total * 0.25) THEN bin END) AS b25,
          MIN(CASE WHEN cum >= ceil(total * 0.5) THEN bin END) AS b50,
          MIN(CASE WHEN cum >= ceil(total * 0.75) THEN bin END) AS b75
        FROM c GROUP BY metric),
      e AS (
        SELECT qb.metric,
          lo + CAST(b25 - 1 AS DOUBLE) * (hi - lo) / 256 AS t25,
          lo + CAST(b50 - 1 AS DOUBLE) * (hi - lo) / 256 AS t50,
          lo + CAST(b75 - 1 AS DOUBLE) * (hi - lo) / 256 AS t75
        FROM qb JOIN b ON b.metric = qb.metric),
      t AS (
        SELECT
          MAX(CASE WHEN metric = 'r' THEN t25 END) AS r25,
          MAX(CASE WHEN metric = 'r' THEN t50 END) AS r50,
          MAX(CASE WHEN metric = 'r' THEN t75 END) AS r75,
          MAX(CASE WHEN metric = 'f' THEN t25 END) AS f25,
          MAX(CASE WHEN metric = 'f' THEN t50 END) AS f50,
          MAX(CASE WHEN metric = 'f' THEN t75 END) AS f75,
          MAX(CASE WHEN metric = 'm' THEN t25 END) AS m25,
          MAX(CASE WHEN metric = 'm' THEN t50 END) AS m50,
          MAX(CASE WHEN metric = 'm' THEN t75 END) AS m75
        FROM e),
      sc AS (
        SELECT
          1 + CASE WHEN last_us > r25 THEN 1 ELSE 0 END
            + CASE WHEN last_us > r50 THEN 1 ELSE 0 END
            + CASE WHEN last_us > r75 THEN 1 ELSE 0 END AS r_score,
          1 + CASE WHEN n_events > f25 THEN 1 ELSE 0 END
            + CASE WHEN n_events > f50 THEN 1 ELSE 0 END
            + CASE WHEN n_events > f75 THEN 1 ELSE 0 END AS f_score,
          1 + CASE WHEN cents > m25 THEN 1 ELSE 0 END
            + CASE WHEN cents > m50 THEN 1 ELSE 0 END
            + CASE WHEN cents > m75 THEN 1 ELSE 0 END AS m_score
        FROM u CROSS JOIN t)
      SELECT r_score, f_score, m_score,
        CASE WHEN r_score >= 3 AND f_score >= 3 AND m_score >= 3 THEN 'champion'
             WHEN r_score <= 2 AND f_score >= 3 THEN 'at_risk'
             WHEN r_score >= 3 AND f_score <= 2 THEN 'fresh'
             ELSE 'casual' END AS segment,
        COUNT(*) AS n_users
      FROM sc GROUP BY r_score, f_score, m_score
      ORDER BY r_score, f_score, m_score""",

    // e12: the q115 sketch replay over same-user inter-event gaps —
    // identical shared-edge-table binning, window CDF, bin-lower-edge
    // quantiles.
    "e12_gap_sketch" -> """
      WITH g AS (
        SELECT event_type AS g1, strftime(ts, '%Y-%m-%d') AS g2,
          CAST(us - prev_us AS DOUBLE) / 1000000.0 AS x
        FROM (
          SELECT event_type, ts, epoch_us(ts) AS us,
            lag(epoch_us(ts)) OVER (PARTITION BY user_id
              ORDER BY epoch_us(ts), event_id) AS prev_us
          FROM events) t
        WHERE prev_us IS NOT NULL),
      b AS (SELECT MIN(x) AS lo, MAX(x) AS hi FROM g),
      be AS (SELECT lo, hi,
          CASE WHEN hi = lo THEN [lo]
               WHEN lo > 0 THEN list_transform(range(1, 257), j ->
                 round(exp(ln(lo) + (CAST(j AS DOUBLE) - 1.0)
                   * (ln(hi) - ln(lo)) / 256), 6))
               ELSE list_transform(range(1, 257), j ->
                 round(lo + (CAST(j AS DOUBLE) - 1.0) * (hi - lo) / 256, 6))
          END AS edges
        FROM b),
      leaf AS (
        -- bin = exact count of edges <= x (clamped >= 1): the same
        -- definitional decision the engine's codegen binary-search
        -- edge_bin makes — pure IEEE comparisons against the shared
        -- snapped table, no libm candidate, no plateau residual
        SELECT g1, g2,
          CAST(GREATEST(len(list_filter(edges, e -> e <= x)), 1)
            AS BIGINT) AS bin,
          COUNT(*) AS cnt
        FROM g CROSS JOIN be GROUP BY 1, 2, 3),
      merged AS (
        SELECT g1, 'ALL' AS g2, bin, CAST(SUM(cnt) AS BIGINT) AS cnt
        FROM leaf GROUP BY 1, 2, 3),
      both_h AS (
        SELECT 'leaf' AS level, g1, g2, bin, cnt FROM leaf
        UNION ALL
        SELECT 'merged' AS level, g1, g2, bin, cnt FROM merged),
      cdf AS (
        SELECT level, g1, g2, bin, cnt,
          CAST(SUM(cnt) OVER (PARTITION BY level, g1, g2 ORDER BY bin)
            AS BIGINT) AS cum,
          CAST(SUM(cnt) OVER (PARTITION BY level, g1, g2) AS BIGINT) AS total
        FROM both_h),
      qs AS (
        SELECT level, g1, g2, CAST(MAX(total) AS BIGINT) AS n,
          MIN(CASE WHEN cum >= ceil(total * 0.5) THEN bin END) AS b50,
          MIN(CASE WHEN cum >= ceil(total * 0.95) THEN bin END) AS b95,
          MIN(CASE WHEN cum >= ceil(total * 0.99) THEN bin END) AS b99
        FROM cdf GROUP BY 1, 2, 3)
      SELECT level, g1 AS event_type, g2 AS day, n,
        edges[b50] AS p50, edges[b95] AS p95, edges[b99] AS p99
      FROM qs CROSS JOIN be
      ORDER BY level, g1, g2""",

    "t11_gopher_quality" -> raw"""
      WITH f AS (
        SELECT doc_id,
          len(string_split_regex(trim(text), '\s+')) AS n_words,
          CAST(length(text) - (len(string_split_regex(trim(text), '\s+')) - 1)
            AS DOUBLE) / len(string_split_regex(trim(text), '\s+')) AS mean_raw,
          CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
            w -> regexp_matches(w, '^[a-zA-Z]+$$'))) AS DOUBLE)
            / len(string_split_regex(trim(text), '\s+')) AS alpha_raw,
          CAST((length(' ' || lower(text) || ' ')
                - length(replace(' ' || lower(text) || ' ', ' the ', ''))) / 5
             + (length(' ' || lower(text) || ' ')
                - length(replace(' ' || lower(text) || ' ', ' a ', ''))) / 3
             + (length(' ' || lower(text) || ' ')
                - length(replace(' ' || lower(text) || ' ', ' and ', ''))) / 5
             + (length(' ' || lower(text) || ' ')
                - length(replace(' ' || lower(text) || ' ', ' of ', ''))) / 4
            AS INTEGER) AS n_stopwords
        FROM documents)
      SELECT doc_id, n_words,
        round(mean_raw, 4) AS mean_word_len,
        round(alpha_raw, 4) AS alpha_frac,
        n_stopwords,
        (n_words BETWEEN 50 AND 100000
          AND round(mean_raw, 4) BETWEEN 3.0 AND 10.0
          AND round(alpha_raw, 4) >= 0.8 AND n_stopwords >= 1) AS keep
      FROM f ORDER BY doc_id""",

    // t12: same exact word-boundary tf (list_filter over the split words),
    // df/avgdl replayed; per-term contributions decimal-accumulate before
    // the 4dp round.
    "t12_bm25" -> raw"""
      WITH terms(term) AS (VALUES ('spark'), ('query'), ('join'), ('vector'), ('stream')),
      docs AS (
        SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ws,
          len(string_split_regex(trim(text), '\s+')) AS dl
        FROM documents),
      per_term AS (
        SELECT doc_id, dl, term,
          CAST(len(list_filter(ws, w -> w = term)) AS DOUBLE) AS tf
        FROM docs CROSS JOIN terms),
      stats AS (
        SELECT term, COUNT(*) AS n_docs,
          SUM(CASE WHEN tf > 0 THEN 1 ELSE 0 END) AS df
        FROM per_term GROUP BY term),
      g AS (SELECT CAST(SUM(CAST(dl AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avgdl
            FROM docs)
      SELECT doc_id, n_tokens, bm25 FROM (
        SELECT p.doc_id, MAX(p.dl) AS n_tokens,
          round(CAST(SUM(CAST(
            ln((s.n_docs - s.df + 0.5) / (s.df + 0.5) + 1.0)
              * p.tf * (1.2 + 1.0)
              / (p.tf + 1.2 * (1.0 - 0.75 + 0.75 * CAST(p.dl AS DOUBLE) / g.avgdl))
            AS DECIMAL(26,12))) AS DOUBLE), 4) AS bm25
        FROM per_term p JOIN stats s USING (term) CROSS JOIN g
        GROUP BY p.doc_id) t
      WHERE bm25 > 0 ORDER BY doc_id""",

    // t13: OLS closed form over decimal sums of 8dp-rounded logs — builtin
    // regr_slope accumulates engine-specifically, the closed form is exact.
    "t13_zipf" -> raw"""
      WITH counts AS (
        SELECT w, COUNT(*) AS n FROM (
          SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
          FROM documents) t
        GROUP BY w),
      vocab AS (SELECT COUNT(*) AS n_vocab FROM counts),
      top AS (
        SELECT n, row_number() OVER (ORDER BY n DESC, w) AS rnk
        FROM counts ORDER BY n DESC, w LIMIT 100),
      fit AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS k,
          CAST(SUM(CAST(round(ln(CAST(rnk AS DOUBLE)), 8) AS DECIMAL(28,12))) AS DOUBLE) AS sx,
          CAST(SUM(CAST(round(ln(CAST(n AS DOUBLE)), 8) AS DECIMAL(28,12))) AS DOUBLE) AS sy,
          CAST(SUM(CAST(round(ln(CAST(rnk AS DOUBLE)), 8)
            * round(ln(CAST(n AS DOUBLE)), 8) AS DECIMAL(28,12))) AS DOUBLE) AS sxy,
          CAST(SUM(CAST(round(ln(CAST(rnk AS DOUBLE)), 8)
            * round(ln(CAST(rnk AS DOUBLE)), 8) AS DECIMAL(28,12))) AS DOUBLE) AS sxx
        FROM top)
      SELECT CAST(n_vocab AS BIGINT) AS n_vocab, CAST(k AS BIGINT) AS n_top,
        round((k * sxy - sx * sy) / (k * sxx - sx * sx), 4) AS zipf_slope,
        round((sy - (k * sxy - sx * sy) / (k * sxx - sx * sx) * sx) / k, 4) AS intercept
      FROM fit CROSS JOIN vocab""",

    // a06: centroid replay (LIMIT 8 of the scatter order), argmax by
    // (sim DESC, cent_id DESC) — the a02 rule — then the Lloyd update as
    // per-(cell, dim) decimal sums.
    "a06_kmeans" -> s"""
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
      cent AS (SELECT vec_id AS cent_id, emb AS cemb FROM e
               ORDER BY (vec_id * 69069 + 1) % 1048576, vec_id LIMIT 8),
      assigned AS (
        SELECT e.vec_id, e.emb,
          (SELECT cent_id FROM cent
           ORDER BY ${cos("e.emb", "cemb")} DESC, cent_id DESC LIMIT 1) AS cell,
          (SELECT round(MAX(${cos("e.emb", "cemb")}), 6) FROM cent) AS sim
        FROM e),
      cohesion AS (
        SELECT cell, COUNT(*) AS n_members,
          round(CAST(SUM(CAST(sim AS DECIMAL(18,8))) AS DOUBLE) / COUNT(*), 6) AS avg_sim
        FROM assigned GROUP BY cell),
      dims AS (
        SELECT cell, generate_subscripts(emb, 1) AS i, unnest(emb) AS x
        FROM assigned),
      sums AS (
        SELECT cell, i,
          CAST(SUM(CAST(x AS DECIMAL(28,12))) AS DOUBLE) AS sx, COUNT(*) AS n
        FROM dims GROUP BY cell, i),
      norms AS (
        SELECT cell,
          round(sqrt(CAST(SUM(CAST((sx / n) * (sx / n) AS DECIMAL(28,12))) AS DOUBLE)), 6)
            AS centroid_norm
        FROM sums GROUP BY cell)
      SELECT cell, n_members, avg_sim, centroid_norm
      FROM cohesion JOIN norms USING (cell) ORDER BY cell""",

    // a07: within-cell pairs only (i < j), threshold on round(cos, 4),
    // victim = higher vec_id — collect-order independence replayed.
    "a07_semantic_dedup" -> s"""
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
      cent AS (SELECT vec_id AS cent_id, emb AS cemb FROM e
               ORDER BY (vec_id * 69069 + 1) % 1048576, vec_id LIMIT 32),
      assigned AS (
        SELECT e.vec_id, e.emb,
          (SELECT cent_id FROM cent
           ORDER BY ${cos("e.emb", "cemb")} DESC, cent_id DESC LIMIT 1) AS cell
        FROM e),
      -- replay the MaxBucket cell cap: a cell larger than 1000 members
      -- generates NO pairs (the engine's bounded-expansion contract) —
      -- first binds at sf1.0, where cells exceed the cap
      csize AS (SELECT cell, COUNT(*) AS cn FROM assigned GROUP BY cell),
      pairs AS (
        SELECT a.cell, b.vec_id AS victim
        FROM assigned a JOIN assigned b
          ON a.cell = b.cell AND a.vec_id < b.vec_id
        JOIN csize s ON s.cell = a.cell
        WHERE s.cn BETWEEN 2 AND 1000
          AND round(${cos("a.emb", "b.emb")}, 4) >= 0.35),
      dropped AS (
        SELECT cell, COUNT(DISTINCT victim) AS n_dropped FROM pairs GROUP BY cell)
      SELECT a.cell, COUNT(*) AS n_members,
        COALESCE(MAX(d.n_dropped), 0) AS n_dropped,
        COUNT(*) - COALESCE(MAX(d.n_dropped), 0) AS n_kept
      FROM assigned a LEFT JOIN dropped d ON d.cell = a.cell
      GROUP BY a.cell ORDER BY a.cell""",

    // a09: the full 3-round Lloyd trajectory replayed — per round the
    // argmax assignment (sim DESC, cell DESC — the a02 rule), then the
    // update as per-(cell, dim) decimal means rounded to 8dp (the pin that
    // makes the trajectory engine-portable); empty cells carry the prior
    // centroid via the LEFT JOIN COALESCE. norm/shift use decimal sums
    // over per-dim terms (the a06 norms discipline).
    "a09_kmeans_train" -> s"""
      WITH $lloydPrefixSql,
      cohesion AS (
        SELECT cell, COUNT(*) AS n_members,
          round(CAST(SUM(CAST(sim AS DECIMAL(18,8))) AS DOUBLE) / COUNT(*), 6) AS avg_sim
        FROM a3 GROUP BY cell),
      gd AS (
        SELECT c3.cell, generate_subscripts(c3.cemb, 1) AS i,
          unnest(c3.cemb) AS mn, unnest(c2.cemb) AS mp
        FROM cent3 c3 JOIN cent2 c2 USING (cell)),
      geom AS (
        SELECT cell,
          round(sqrt(CAST(SUM(CAST(mn * mn AS DECIMAL(28,12))) AS DOUBLE)), 6) AS centroid_norm,
          round(sqrt(CAST(SUM(CAST((mn - mp) * (mn - mp) AS DECIMAL(28,12))) AS DOUBLE)), 6) AS shift
        FROM gd GROUP BY cell)
      SELECT cell, n_members, avg_sim, centroid_norm, shift
      FROM cohesion JOIN geom USING (cell) ORDER BY cell""",

    // a16: the lloyd prefix's trained cells (cent3), every vector's
    // stateless argmax assignment, then the base/delta/rebuild counts
    // and the decimal-mean drift — the merge ≡ rebuild invariant is IN
    // the hashed result (merge_ok + both counts per cell).
    "a16_index_update" -> s"""
      WITH $lloydPrefixSql,
      asg AS (
        SELECT e.vec_id,
          (SELECT cell FROM cent3
           ORDER BY ${cos("e.emb", "cemb")} DESC, cell DESC LIMIT 1) AS cell,
          (SELECT round(MAX(${cos("e.emb", "cemb")}), 6) FROM cent3) AS sim
        FROM e),
      base AS (SELECT cell, COUNT(*) AS n_base FROM asg
               WHERE vec_id % 10 <> 0 GROUP BY cell),
      delta AS (SELECT cell, COUNT(*) AS n_delta,
          round(CAST(SUM(CAST(sim AS DECIMAL(18,8))) AS DOUBLE) / COUNT(*), 6)
            AS delta_drift
        FROM asg WHERE vec_id % 10 = 0 GROUP BY cell),
      reb AS (SELECT cell, COUNT(*) AS n_rebuild FROM asg GROUP BY cell)
      SELECT s.cell,
        COALESCE(n_base, 0) AS n_base,
        COALESCE(n_delta, 0) AS n_delta,
        COALESCE(n_base, 0) + COALESCE(n_delta, 0) AS n_total,
        COALESCE(n_rebuild, 0) AS n_rebuild,
        COALESCE(n_base, 0) + COALESCE(n_delta, 0) = COALESCE(n_rebuild, 0)
          AS merge_ok,
        delta_drift
      FROM (SELECT cell FROM cent3) s
        LEFT JOIN base USING (cell) LEFT JOIN delta USING (cell)
        LEFT JOIN reb USING (cell)
      ORDER BY s.cell""",

    // a10: the same 3-round trajectory, then a02's probe replay over the
    // TRAINED centroids (cent3): per-vector cell argmax, per-probe top-2
    // cells (sim DESC, cell DESC), in-cell cosine top-10 vs the exact
    // brute-force top-10 — recall join identical to a05/a08.
    // a12: a02's centroid selection + assignment, probe cells ranked to
    // 4, the rank<=nprobe sweep against a 4-row dim, exact top-10 from
    // the full corpus; recall per nprobe = hits / 50.
    "a12_nprobe_curve" -> s"""
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
      cent AS (SELECT vec_id AS cent_id, emb AS cemb FROM e
               ORDER BY (vec_id * 69069 + 1) % 1048576, vec_id LIMIT 32),
      assigned AS (
        SELECT e.vec_id, e.emb,
          (SELECT cent_id FROM cent
           ORDER BY ${cos("e.emb", "cemb")} DESC, cent_id DESC LIMIT 1) AS cell
        FROM e),
      pcells AS (
        SELECT probe_id, pemb, cell, rn AS cell_rank FROM (
          SELECT p.vec_id AS probe_id, p.emb AS pemb, c.cent_id AS cell,
            row_number() OVER (PARTITION BY p.vec_id
              ORDER BY ${cos("p.emb", "c.cemb")} DESC, c.cent_id DESC) AS rn
          FROM (SELECT * FROM e WHERE vec_id < 5) p CROSS JOIN cent c) t
        WHERE rn <= 4),
      cand AS (
        SELECT pc.probe_id, pc.cell_rank, a.vec_id AS cand_id,
          round(${cos("pc.pemb", "a.emb")}, 4) AS cos_sim
        FROM pcells pc JOIN assigned a USING (cell)),
      np AS (SELECT unnest(range(1, 5)) AS nprobe),
      ivf_top AS (
        SELECT probe_id, nprobe, cand_id FROM (
          SELECT c.probe_id, n.nprobe, c.cand_id,
            row_number() OVER (PARTITION BY c.probe_id, n.nprobe
              ORDER BY c.cos_sim DESC, c.cand_id) AS rn
          FROM cand c JOIN np n ON c.cell_rank <= n.nprobe) t
        WHERE rn <= 10),
      exact_top AS (
        SELECT probe_id, cand_id FROM (
          SELECT p.vec_id AS probe_id, a.vec_id AS cand_id,
            row_number() OVER (PARTITION BY p.vec_id
              ORDER BY round(${cos("p.emb", "a.emb")}, 4) DESC, a.vec_id) AS rn
          FROM (SELECT * FROM e WHERE vec_id < 5) p CROSS JOIN e a) t
        WHERE rn <= 10),
      hits AS (
        SELECT i.nprobe FROM ivf_top i
        JOIN exact_top x USING (probe_id, cand_id))
      SELECT n.nprobe, COUNT(h.nprobe) AS n_hits,
        round(COUNT(h.nprobe) / 50.0, 4) AS recall
      FROM np n LEFT JOIN hits h USING (nprobe)
      GROUP BY n.nprobe ORDER BY n.nprobe""",

    // a11: 4 subspaces x 16-dim slices, codebook = sub-vectors of
    // vec_id < 16, sqdist expanded to dot products (list_dot_product =
    // the same sequential fold as the Spark side), argmin tie -> lower
    // code, decimal-accumulated mean distortion.
    "a11_pq" -> """
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
      ms AS (SELECT unnest(range(4)) AS m),
      ev AS (SELECT vec_id, m, emb[m*16+1 : m*16+16] AS sv
             FROM e CROSS JOIN ms),
      book AS (SELECT vec_id AS code, m, emb[m*16+1 : m*16+16] AS cw
               FROM e CROSS JOIN ms WHERE vec_id < 16),
      dist AS (
        SELECT ev.vec_id, ev.m, b.code,
          list_dot_product(ev.sv, ev.sv) - 2.0 * list_dot_product(ev.sv, b.cw)
            + list_dot_product(b.cw, b.cw) AS sqdist
        FROM ev JOIN book b ON b.m = ev.m),
      best AS (
        SELECT vec_id, m, code, sqdist,
          row_number() OVER (PARTITION BY vec_id, m
            ORDER BY sqdist, code) AS rn
        FROM dist)
      SELECT CAST(m AS INTEGER) AS subspace, code,
        COUNT(*) AS n_assigned,
        round(CAST(SUM(CAST(sqdist AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*), 6)
          AS avg_sqdist
      FROM best WHERE rn = 1
      GROUP BY m, code ORDER BY subspace, code""",

    // a13: trained-IVF cells (lloyd prefix) + a11's PQ code replay + ADC
    // ranking; per-subspace terms decimal-summed so the 4-term addition
    // is exact and order-free, matching Spark's fixed-order decimal fold.
    "a13_ivfpq_recall" -> s"""
      WITH $lloydPrefixSql,
      ms AS (SELECT unnest(range(4)) AS m),
      ev AS (SELECT vec_id, m, emb[m*16+1 : m*16+16] AS sv
             FROM e CROSS JOIN ms),
      book AS (SELECT vec_id AS code, m, emb[m*16+1 : m*16+16] AS cw
               FROM e CROSS JOIN ms WHERE vec_id < 16),
      dist AS (
        SELECT ev.vec_id, ev.m, b.code,
          list_dot_product(ev.sv, ev.sv) - 2.0 * list_dot_product(ev.sv, b.cw)
            + list_dot_product(b.cw, b.cw) AS sqdist
        FROM ev JOIN book b ON b.m = ev.m),
      codes AS (
        SELECT vec_id, m, code FROM (
          SELECT vec_id, m, code,
            row_number() OVER (PARTITION BY vec_id, m
              ORDER BY sqdist, code) AS rn
          FROM dist) t WHERE rn = 1),
      assigned AS (
        SELECT e.vec_id, e.emb,
          (SELECT cell FROM cent3
           ORDER BY ${cos("e.emb", "cemb")} DESC, cell DESC LIMIT 1) AS cell
        FROM e),
      probes AS (SELECT vec_id AS probe_id, emb AS pemb FROM e WHERE vec_id < 5),
      pcells AS (
        SELECT probe_id, pemb, cell FROM (
          SELECT p.probe_id, p.pemb, c.cell,
            row_number() OVER (PARTITION BY p.probe_id
              ORDER BY ${cos("p.pemb", "c.cemb")} DESC, c.cell DESC) AS rn
          FROM probes p CROSS JOIN cent3 c) t
        WHERE rn <= 2),
      cand AS (
        SELECT pc.probe_id, pc.pemb, a.vec_id AS cand_id
        FROM pcells pc JOIN assigned a USING (cell)),
      adc AS (
        SELECT c.probe_id, c.cand_id,
          round(CAST(SUM(CAST(
            list_dot_product(c.pemb[k.m*16+1 : k.m*16+16],
                             c.pemb[k.m*16+1 : k.m*16+16])
            - 2.0 * list_dot_product(c.pemb[k.m*16+1 : k.m*16+16], b.cw)
            + list_dot_product(b.cw, b.cw) AS DECIMAL(28,12))) AS DOUBLE), 4)
            AS adc
        FROM cand c JOIN codes k ON k.vec_id = c.cand_id
          JOIN book b ON b.m = k.m AND b.code = k.code
        GROUP BY c.probe_id, c.cand_id),
      pq_top AS (
        SELECT probe_id, cand_id FROM (
          SELECT probe_id, cand_id,
            row_number() OVER (PARTITION BY probe_id
              ORDER BY adc, cand_id) AS rn
          FROM adc) t WHERE rn <= 10),
      exact_top AS (
        SELECT probe_id, cand_id FROM (
          SELECT p.probe_id, e.vec_id AS cand_id,
            row_number() OVER (PARTITION BY p.probe_id
              ORDER BY round(list_dot_product(p.pemb, p.pemb)
                - 2.0 * list_dot_product(p.pemb, e.emb)
                + list_dot_product(e.emb, e.emb), 4), e.vec_id) AS rn
          FROM probes p CROSS JOIN e) t WHERE rn <= 10)
      SELECT probe_id, COUNT(*) AS n_common,
        round(COUNT(*) / 10.0, 2) AS recall_at_10
      FROM exact_top JOIN pq_top USING (probe_id, cand_id)
      GROUP BY probe_id ORDER BY probe_id""",

    "a10_ivf_trained_recall" -> s"""
      WITH $lloydPrefixSql,
      assigned AS (
        SELECT e.vec_id, e.emb,
          (SELECT cell FROM cent3
           ORDER BY ${cos("e.emb", "cemb")} DESC, cell DESC LIMIT 1) AS cell
        FROM e),
      probes AS (SELECT vec_id AS probe_id, emb AS pemb FROM e WHERE vec_id < 5),
      pcells AS (
        SELECT probe_id, pemb, cell FROM (
          SELECT p.probe_id, p.pemb, c.cell,
            row_number() OVER (PARTITION BY p.probe_id
              ORDER BY ${cos("p.pemb", "c.cemb")} DESC, c.cell DESC) AS rn
          FROM probes p CROSS JOIN cent3 c) t
        WHERE rn <= 2),
      ivf_top AS (
        SELECT probe_id, cand_id FROM (
          SELECT pc.probe_id, a.vec_id AS cand_id,
            row_number() OVER (PARTITION BY pc.probe_id
              ORDER BY round(${cos("pc.pemb", "a.emb")}, 4) DESC, a.vec_id) AS rn
          FROM pcells pc JOIN assigned a USING (cell)) t
        WHERE rn <= 10),
      exact_top AS (
        SELECT probe_id, cand_id FROM (
          SELECT p.probe_id, e.vec_id AS cand_id,
            row_number() OVER (PARTITION BY p.probe_id
              ORDER BY round(${cos("p.pemb", "e.emb")}, 4) DESC, e.vec_id) AS rn
          FROM probes p CROSS JOIN e) t
        WHERE rn <= 10)
      SELECT probe_id, COUNT(*) AS n_common,
        round(COUNT(*) / 10.0, 2) AS recall_at_10
      FROM exact_top JOIN ivf_top USING (probe_id, cand_id)
      GROUP BY probe_id ORDER BY probe_id""",

    "q110_ntile" -> """
      SELECT c_mktsegment, quartile, COUNT(*) AS n,
        round(MIN(c_acctbal), 2) AS min_bal,
        round(MAX(c_acctbal), 2) AS max_bal
      FROM (
        SELECT c_mktsegment, c_acctbal,
          CAST(ntile(4) OVER (PARTITION BY c_mktsegment
            ORDER BY c_acctbal, c_custkey) AS INTEGER) AS quartile
        FROM customer) t
      GROUP BY c_mktsegment, quartile
      ORDER BY c_mktsegment, quartile""",

    // q112: power sums are exact BIGINTs on both engines; the central-
    // moment arithmetic uses only IEEE-correctly-rounded doubles ops in
    // the IDENTICAL order as the Spark plan, so values match bit-for-bit
    // before the 6dp round.
    "q112_skew_kurt" -> """
      WITH base AS (
        SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS q FROM lineitem),
      agg AS (
        SELECT l_returnflag, COUNT(*) AS n,
          CAST(SUM(q) AS BIGINT) AS s1,
          CAST(SUM(q * q) AS BIGINT) AS s2,
          CAST(SUM(q * q * q) AS BIGINT) AS s3,
          CAST(SUM(q * q * q * q) AS BIGINT) AS s4
        FROM base GROUP BY l_returnflag),
      m AS (
        SELECT l_returnflag, n, CAST(n AS DOUBLE) AS nd,
          CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
          CAST(s1 AS DOUBLE) AS d1, CAST(s2 AS DOUBLE) AS d2,
          CAST(s3 AS DOUBLE) AS d3, CAST(s4 AS DOUBLE) AS d4
        FROM agg),
      mm AS (
        SELECT l_returnflag, n, nd, mu,
          d2 - d1 * mu AS m2,
          d3 - 3.0 * mu * d2 + 2.0 * nd * mu * mu * mu AS m3,
          d4 - 4.0 * mu * d3 + 6.0 * mu * mu * d2
             - 3.0 * nd * mu * mu * mu * mu AS m4
        FROM m)
      SELECT l_returnflag, n,
        round(mu, 6) AS mean_qty,
        round(sqrt(nd) * m3 / sqrt(m2 * m2 * m2), 6) AS skew_qty,
        round(nd * m4 / (m2 * m2) - 3.0, 6) AS kurt_qty
      FROM mm ORDER BY l_returnflag""",

    // q113: multimap emission is canonically sorted on both engines
    // (keys, then values ascending) — Presto's arrival-order multimap is
    // not reproducible on any distributed engine.
    "q113_multimap" -> """
      WITH yearly AS (
        SELECT l_returnflag, l_linestatus, year(l_shipdate) AS yr,
          COUNT(*) AS cnt
        FROM lineitem GROUP BY 1, 2, 3),
      per_key AS (
        SELECT l_returnflag, l_linestatus,
          '[' || string_agg(CAST(cnt AS VARCHAR), ',' ORDER BY cnt) || ']' AS vs
        FROM yearly GROUP BY 1, 2)
      SELECT l_returnflag,
        CAST(COUNT(*) AS INTEGER) AS n_keys,
        string_agg(l_linestatus || ':' || vs, '|' ORDER BY l_linestatus) AS multimap
      FROM per_key GROUP BY l_returnflag ORDER BY l_returnflag""",

    // q114: the map round-trips to entry rows, so the oracle replays the
    // entry algebra directly — duplicate keys first-wins by priority
    // (min_by), canonical sorted emission (the q113 discipline).
    "q114_map_union" -> """
      WITH yearly AS (
        SELECT o_orderstatus, o_orderpriority, year(o_orderdate) AS yr,
          COUNT(*) AS cnt
        FROM orders GROUP BY 1, 2, 3),
      resolved AS (
        SELECT o_orderstatus, yr, min_by(cnt, o_orderpriority) AS v
        FROM yearly GROUP BY 1, 2)
      SELECT o_orderstatus, CAST(COUNT(*) AS INTEGER) AS n_keys,
        string_agg(CAST(yr AS VARCHAR) || ':' || CAST(v AS VARCHAR), '|'
          ORDER BY CAST(yr AS VARCHAR) || ':' || CAST(v AS VARCHAR)) AS map_union
      FROM resolved GROUP BY o_orderstatus ORDER BY o_orderstatus""",

    // q115: identical shared-edge-table binning (edges rounded to 6 dp;
    // the closed-form floor is only an O(1) CANDIDATE — the bin decision
    // is the ±1 correction by comparisons against the shared table, so
    // no engine-specific transcendental decides a bin), window CDF,
    // bin-lower-edge quantiles; BIGINT casts where DuckDB's window SUM
    // widens to HUGEINT.
    "q115_sketch_quantile" -> """
      WITH li AS (
        SELECT l_returnflag, l_linestatus, CAST(l_extendedprice AS DOUBLE) AS x
        FROM lineitem),
      b AS (SELECT MIN(x) AS lo, MAX(x) AS hi FROM li),
      be AS (SELECT lo, hi,
          CASE WHEN hi = lo THEN [lo]
               WHEN lo > 0 THEN list_transform(range(1, 257), j ->
                 round(exp(ln(lo) + (CAST(j AS DOUBLE) - 1.0)
                   * (ln(hi) - ln(lo)) / 256), 6))
               ELSE list_transform(range(1, 257), j ->
                 round(lo + (CAST(j AS DOUBLE) - 1.0) * (hi - lo) / 256, 6))
          END AS edges
        FROM b),
      leaf AS (
        -- bin = exact count of edges <= x (clamped >= 1): the same
        -- definitional decision the engine's codegen binary-search
        -- edge_bin makes — pure IEEE comparisons against the shared
        -- snapped table, no libm candidate, no plateau residual
        SELECT l_returnflag, l_linestatus,
          CAST(GREATEST(len(list_filter(edges, e -> e <= x)), 1)
            AS BIGINT) AS bin,
          COUNT(*) AS cnt
        FROM li CROSS JOIN be GROUP BY 1, 2, 3),
      merged AS (
        SELECT l_returnflag, 'ALL' AS l_linestatus, bin,
          CAST(SUM(cnt) AS BIGINT) AS cnt
        FROM leaf GROUP BY 1, 2, 3),
      both_h AS (
        SELECT 'leaf' AS level, l_returnflag, l_linestatus, bin, cnt FROM leaf
        UNION ALL
        SELECT 'merged' AS level, l_returnflag, l_linestatus, bin, cnt FROM merged),
      cdf AS (
        SELECT level, l_returnflag, l_linestatus, bin, cnt,
          CAST(SUM(cnt) OVER (PARTITION BY level, l_returnflag, l_linestatus
            ORDER BY bin) AS BIGINT) AS cum,
          CAST(SUM(cnt) OVER (PARTITION BY level, l_returnflag, l_linestatus)
            AS BIGINT) AS total
        FROM both_h),
      qs AS (
        SELECT level, l_returnflag, l_linestatus,
          CAST(MAX(total) AS BIGINT) AS n,
          MIN(CASE WHEN cum >= ceil(total * 0.5) THEN bin END) AS b50,
          MIN(CASE WHEN cum >= ceil(total * 0.95) THEN bin END) AS b95,
          MIN(CASE WHEN cum >= ceil(total * 0.99) THEN bin END) AS b99
        FROM cdf GROUP BY 1, 2, 3)
      SELECT level, l_returnflag, l_linestatus, n,
        edges[b50] AS p50, edges[b95] AS p95, edges[b99] AS p99
      FROM qs CROSS JOIN be
      ORDER BY level, l_returnflag, l_linestatus""",

    "q117_tpch_q5" -> s"""
      SELECT n_name,
        ${dsum("l_extendedprice * (1.0 - l_discount)", 6)} AS revenue
      FROM lineitem, orders, customer, supplier, nation, region
      WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
        AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        AND r_name = 'ASIA' AND year(o_orderdate) = 1996
      GROUP BY n_name ORDER BY revenue DESC, n_name""",

    "q118_tpch_q17" -> s"""
      WITH bl AS (
        SELECT l_partkey, l_quantity, l_extendedprice
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE p_brand = 'Brand#23'),
      aq AS (
        SELECT l_partkey AS ap_key, ${davg("l_quantity", 4)} AS avg_qty
        FROM bl GROUP BY l_partkey)
      SELECT round(${dsum("l_extendedprice", 2)} / 7.0, 4) AS avg_yearly,
        COUNT(*) AS n_lines
      FROM bl JOIN aq ON bl.l_partkey = aq.ap_key
      WHERE l_quantity < 0.2 * avg_qty""",

    "q119_tpch_q18" -> s"""
      WITH big AS (
        SELECT l_orderkey, ${dsum("l_quantity", 2)} AS total_qty
        FROM lineitem GROUP BY l_orderkey
        HAVING ${dsum("l_quantity", 2)} > 250.0)
      SELECT c_name, c_custkey, o_orderkey,
        strftime(o_orderdate, '%Y-%m-%d') AS order_date,
        round(o_totalprice, 2) AS total_price,
        round(total_qty, 2) AS total_qty
      FROM big JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      ORDER BY total_price DESC, o_orderkey LIMIT 100""",

    "q120_tpch_q22" -> s"""
      WITH t AS (
        SELECT ${davg("c_acctbal", 2)} AS avg_bal
        FROM customer WHERE c_acctbal > 0.0)
      SELECT CAST(c_nationkey % 10 AS INTEGER) AS cntrycode,
        COUNT(*) AS numcust, ${dsum("c_acctbal", 2)} AS totacctbal
      FROM customer CROSS JOIN t
      WHERE c_acctbal > avg_bal
        AND NOT EXISTS (
          SELECT 1 FROM orders
          WHERE o_custkey = c_custkey
            AND o_orderdate >= TIMESTAMP '1999-01-01')
      GROUP BY cntrycode ORDER BY cntrycode""",

    "q121_tpch_q4" -> """
      SELECT o_orderpriority, COUNT(*) AS order_count
      FROM orders
      WHERE EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey
          AND l_shipdate > o_orderdate + INTERVAL 250 DAY)
      GROUP BY o_orderpriority ORDER BY o_orderpriority""",

    // q122: the same key-derived coordinates, then the identical
    // haversine closed form — radians spelled x / 180.0 * pi() to match
    // Java's toRadians op order; asin arg clamped with least(1.0, ...).
    "q122_geo_distance" -> """
      WITH p AS (
        SELECT c_custkey,
          CAST(c_custkey % 171 AS DOUBLE) * 0.9 - 76.5 AS lat,
          CAST(c_custkey % 341 AS DOUBLE) * 1.05 - 178.5 AS lon,
          CAST(c_nationkey % 25 AS DOUBLE) * 6.0 - 72.0 AS clat,
          CAST(c_nationkey % 25 AS DOUBLE) * 13.0 - 156.0 AS clon
        FROM customer),
      h AS (
        SELECT c_custkey,
          2.0 * 6371.01 * asin(least(1.0, sqrt(
            sin((clat - lat) / 180.0 * pi() / 2) * sin((clat - lat) / 180.0 * pi() / 2) +
            cos(lat / 180.0 * pi()) * cos(clat / 180.0 * pi()) *
            sin((clon - lon) / 180.0 * pi() / 2) * sin((clon - lon) / 180.0 * pi() / 2)
          ))) AS dist
        FROM p)
      SELECT c_custkey, round(dist, 6) AS dist_km,
        dist <= 2000.0 AS within_2000km
      FROM h ORDER BY c_custkey""",

    // q123: per-edge ray-casting replay over the same closed ring —
    // pure comparisons and exact-rounded IEEE multiply/divide, bit-exact
    // cross-engine.
    "q123_point_in_polygon" -> """
      WITH p AS (
        SELECT c_custkey,
          CAST(c_custkey % 341 AS DOUBLE) * 1.05 - 178.5 AS px,
          CAST(c_custkey % 171 AS DOUBLE) * 0.9 - 76.5 AS py,
          [-50.0, 60.0, 70.0, 0.0, -60.0, -50.0] AS xs,
          [-30.0, -40.0, 50.0, 10.0, 40.0, -30.0] AS ys
        FROM customer)
      SELECT c_custkey,
        len(list_filter(range(1, 6), i ->
          ((ys[i] > py) <> (ys[i+1] > py)) AND
          (px < (xs[i+1] - xs[i]) * (py - ys[i]) / (ys[i+1] - ys[i]) + xs[i])))
          % 2 = 1 AS inside
      FROM p ORDER BY c_custkey""",

    // q124: Web-Mercator tile x/y replay (same clamp/floor order as the
    // kernel; ln spelled on the identical (1+sin)/(1-sin) form), quadkey
    // digits via bit interleave over range(1, zoom+1).
    "q124_bing_tiles" -> """
      WITH p AS (
        SELECT CAST(c_custkey % 171 AS DOUBLE) * 0.9 - 76.5 AS lat,
               CAST(c_custkey % 341 AS DOUBLE) * 1.05 - 178.5 AS lon
        FROM customer),
      s AS (
        SELECT lon,
          sin(greatest(-85.05112878, least(85.05112878, lat)) / 180.0 * pi()) AS sl
        FROM p),
      t AS (
        SELECT
          CAST(least(63, greatest(0,
            floor((lon + 180.0) / 360.0 * 64))) AS BIGINT) AS tx,
          CAST(least(63, greatest(0,
            floor((0.5 - ln((1.0 + sl) / (1.0 - sl)) / (4.0 * pi())) * 64)))
            AS BIGINT) AS ty
        FROM s),
      q AS (
        SELECT array_to_string(list_transform(range(1, 7), i ->
          CAST(((tx >> (6 - i)) & 1) + 2 * ((ty >> (6 - i)) & 1) AS VARCHAR)),
          '') AS quadkey
        FROM t)
      SELECT quadkey, substr(quadkey, 1, 4) AS parent4, COUNT(*) AS n_points
      FROM q GROUP BY quadkey ORDER BY quadkey""",

    // q125: map lambdas replayed relationally — per-mille via integer
    // floor division (all-positive, so DuckDB's // == Spark's div).
    "q125_map_transform" -> """
      WITH py AS (
        SELECT o_orderpriority,
          CAST(year(o_orderdate) AS INTEGER) - 1990 AS yr_off,
          COUNT(*) AS cnt
        FROM orders GROUP BY 1, 2),
      tot AS (
        SELECT o_orderpriority, CAST(SUM(cnt) AS BIGINT) AS total
        FROM py GROUP BY 1)
      SELECT p.o_orderpriority, t.total, p.yr_off,
        CAST((p.cnt * 1000) // t.total AS BIGINT) AS permille
      FROM py p JOIN tot t USING (o_orderpriority)
      WHERE (p.cnt * 1000) // t.total >= 100
      ORDER BY p.o_orderpriority, p.yr_off""",

    // q126: sparse cosine replayed relationally — integer-exact dot and
    // norms, one IEEE sqrt·sqrt divide at the end.
    "q126_map_cosine" -> """
      WITH w AS (
        SELECT doc_id, w, COUNT(*) AS c FROM (
          SELECT doc_id,
            unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
          FROM documents) t
        WHERE length(w) >= 4 GROUP BY doc_id, w),
      n AS (SELECT doc_id, SUM(c * c) AS nsq FROM w GROUP BY doc_id),
      qn AS (SELECT nsq AS qnsq FROM n WHERE doc_id = 0),
      dots AS (
        SELECT w.doc_id, SUM(w.c * q.c) AS dot
        FROM w JOIN (SELECT w, c FROM w WHERE doc_id = 0) q USING (w)
        WHERE w.doc_id <> 0 GROUP BY w.doc_id)
      SELECT d.doc_id,
        CAST(d.dot AS DOUBLE) /
          (sqrt(CAST(n.nsq AS DOUBLE)) *
           sqrt(CAST((SELECT qnsq FROM qn) AS DOUBLE))) AS cosine
      FROM dots d JOIN n USING (doc_id)
      WHERE d.dot > 0
      ORDER BY cosine DESC, d.doc_id LIMIT 20""",

    // q127: closed-form replay of the segment-intersection orientation
    // test and the clamp-projection point-to-segment distance — the same
    // fixed-association IEEE multiply/subtract order as the Kernels
    // methods (orient/segmentsIntersect/pointSegmentDist), so every
    // intermediate is bit-identical cross-engine (the q123 discipline;
    // no libm beyond one correctly-rounded sqrt). The Spark side's bbox
    // prefilter is result-invariant (intersecting segments always have
    // overlapping bboxes), so the oracle replays the predicate alone.
    // q137: DuckDB's quantile_disc IS ANSI PERCENTILE_DISC — no
    // interpolation, both engines pick the identical element.
    "q137_percentile_disc" -> """
      SELECT l_returnflag,
        round(quantile_disc(CAST(l_extendedprice AS DOUBLE), 0.5), 2)
          AS median_price,
        round(quantile_disc(CAST(l_extendedprice AS DOUBLE), 0.95), 2)
          AS p95_price
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",

    // q136: containment = all-vertices-inside (the q123 ray-cast replay)
    // AND no edge crossing (the q127 per-pair orientation replay over 3
    // triangle edges × 5 ring edges, OR-aggregated — grouping order is
    // irrelevant to OR, the per-pair formula is the bit-exact one).
    "q136_st_contains" -> """
      WITH pts AS (
        SELECT c_custkey,
          CAST(c_custkey % 120 AS DOUBLE) * 0.9 - 50.0 AS ax,
          CAST(c_custkey % 70 AS DOUBLE) * 0.8 - 30.0 AS ay,
          CAST((c_custkey * 7) % 120 AS DOUBLE) * 0.9 - 50.0 AS bx,
          CAST((c_custkey * 13) % 70 AS DOUBLE) * 0.8 - 30.0 AS by,
          CAST((c_custkey * 29) % 120 AS DOUBLE) * 0.9 - 50.0 AS cx,
          CAST((c_custkey * 31) % 70 AS DOUBLE) * 0.8 - 30.0 AS cy,
          [-50.0, 60.0, 70.0, 0.0, -60.0, -50.0] AS xs,
          [-30.0, -40.0, 50.0, 10.0, 40.0, -30.0] AS ys
        FROM customer),
      inside AS (
        SELECT c_custkey,
          (len(list_filter(range(1, 6), i ->
            ((ys[i] > ay) <> (ys[i+1] > ay)) AND
            (ax < (xs[i+1] - xs[i]) * (ay - ys[i]) / (ys[i+1] - ys[i]) + xs[i])))
            % 2 = 1)
          AND (len(list_filter(range(1, 6), i ->
            ((ys[i] > by) <> (ys[i+1] > by)) AND
            (bx < (xs[i+1] - xs[i]) * (by - ys[i]) / (ys[i+1] - ys[i]) + xs[i])))
            % 2 = 1)
          AND (len(list_filter(range(1, 6), i ->
            ((ys[i] > cy) <> (ys[i+1] > cy)) AND
            (cx < (xs[i+1] - xs[i]) * (cy - ys[i]) / (ys[i+1] - ys[i]) + xs[i])))
            % 2 = 1) AS all_inside
        FROM pts),
      te AS (
        SELECT c_custkey, ax AS x1, ay AS y1, bx AS x2, by AS y2 FROM pts
        UNION ALL SELECT c_custkey, bx, by, cx, cy FROM pts
        UNION ALL SELECT c_custkey, cx, cy, ax, ay FROM pts),
      ringe(ex1, ey1, ex2, ey2) AS (VALUES
        (-50.0, -30.0, 60.0, -40.0),
        (60.0, -40.0, 70.0, 50.0),
        (70.0, 50.0, 0.0, 10.0),
        (0.0, 10.0, -60.0, 40.0),
        (-60.0, 40.0, -50.0, -30.0)),
      o AS (
        SELECT c_custkey, x1, y1, x2, y2, ex1, ey1, ex2, ey2,
          (ex2 - ex1) * (y1 - ey1) - (ey2 - ey1) * (x1 - ex1) AS d1,
          (ex2 - ex1) * (y2 - ey1) - (ey2 - ey1) * (x2 - ex1) AS d2,
          (x2 - x1) * (ey1 - y1) - (y2 - y1) * (ex1 - x1) AS d3,
          (x2 - x1) * (ey2 - y1) - (y2 - y1) * (ex2 - x1) AS d4
        FROM te CROSS JOIN ringe),
      v AS (
        SELECT c_custkey,
          ((((d1 > 0 AND d2 < 0) OR (d1 < 0 AND d2 > 0))
             AND ((d3 > 0 AND d4 < 0) OR (d3 < 0 AND d4 > 0)))
           OR (d1 = 0 AND LEAST(ex1, ex2) <= x1 AND x1 <= GREATEST(ex1, ex2)
               AND LEAST(ey1, ey2) <= y1 AND y1 <= GREATEST(ey1, ey2))
           OR (d2 = 0 AND LEAST(ex1, ex2) <= x2 AND x2 <= GREATEST(ex1, ex2)
               AND LEAST(ey1, ey2) <= y2 AND y2 <= GREATEST(ey1, ey2))
           OR (d3 = 0 AND LEAST(x1, x2) <= ex1 AND ex1 <= GREATEST(x1, x2)
               AND LEAST(y1, y2) <= ey1 AND ey1 <= GREATEST(y1, y2))
           OR (d4 = 0 AND LEAST(x1, x2) <= ex2 AND ex2 <= GREATEST(x1, x2)
               AND LEAST(y1, y2) <= ey2 AND ey2 <= GREATEST(y1, y2))) AS hit
        FROM o),
      crossed AS (
        SELECT c_custkey, BOOL_OR(hit) AS any_cross FROM v GROUP BY 1)
      SELECT i.c_custkey, all_inside, any_cross,
        all_inside AND NOT any_cross AS contained
      FROM inside i JOIN crossed c ON i.c_custkey = c.c_custkey
      ORDER BY i.c_custkey""",

    "q127_st_predicates" -> """
      WITH pts AS (
        SELECT c_custkey,
          CAST(c_custkey % 341 AS DOUBLE) * 1.05 - 178.5 AS ax,
          CAST(c_custkey % 171 AS DOUBLE) * 0.9 - 76.5 AS ay,
          CAST((c_custkey * 7) % 341 AS DOUBLE) * 1.05 - 178.5 AS bx,
          CAST((c_custkey * 13) % 171 AS DOUBLE) * 0.9 - 76.5 AS by
        FROM customer),
      edges(edge_id, ex1, ey1, ex2, ey2) AS (VALUES
        (0, -50.0, -30.0, 60.0, -40.0),
        (1, 60.0, -40.0, 70.0, 50.0),
        (2, 70.0, 50.0, 0.0, 10.0),
        (3, 0.0, 10.0, -60.0, 40.0),
        (4, -60.0, 40.0, -50.0, -30.0)),
      o AS (
        SELECT c_custkey, ax, ay, bx, by, ex1, ey1, ex2, ey2,
          (ex2 - ex1) * (ay - ey1) - (ey2 - ey1) * (ax - ex1) AS d1,
          (ex2 - ex1) * (by - ey1) - (ey2 - ey1) * (bx - ex1) AS d2,
          (bx - ax) * (ey1 - ay) - (by - ay) * (ex1 - ax) AS d3,
          (bx - ax) * (ey2 - ay) - (by - ay) * (ex2 - ax) AS d4,
          LEAST(GREATEST(
            ((ax - ex1) * (ex2 - ex1) + (ay - ey1) * (ey2 - ey1))
              / ((ex2 - ex1) * (ex2 - ex1) + (ey2 - ey1) * (ey2 - ey1)),
            0.0), 1.0) AS t
        FROM pts CROSS JOIN edges),
      v AS (
        SELECT c_custkey,
          ((((d1 > 0 AND d2 < 0) OR (d1 < 0 AND d2 > 0))
             AND ((d3 > 0 AND d4 < 0) OR (d3 < 0 AND d4 > 0)))
           OR (d1 = 0 AND LEAST(ex1, ex2) <= ax AND ax <= GREATEST(ex1, ex2)
               AND LEAST(ey1, ey2) <= ay AND ay <= GREATEST(ey1, ey2))
           OR (d2 = 0 AND LEAST(ex1, ex2) <= bx AND bx <= GREATEST(ex1, ex2)
               AND LEAST(ey1, ey2) <= by AND by <= GREATEST(ey1, ey2))
           OR (d3 = 0 AND LEAST(ax, bx) <= ex1 AND ex1 <= GREATEST(ax, bx)
               AND LEAST(ay, by) <= ey1 AND ey1 <= GREATEST(ay, by))
           OR (d4 = 0 AND LEAST(ax, bx) <= ex2 AND ex2 <= GREATEST(ax, bx)
               AND LEAST(ay, by) <= ey2 AND ey2 <= GREATEST(ay, by))) AS hit,
          sqrt((ax - (ex1 + t * (ex2 - ex1))) * (ax - (ex1 + t * (ex2 - ex1)))
             + (ay - (ey1 + t * (ey2 - ey1))) * (ay - (ey1 + t * (ey2 - ey1))))
            AS dist
        FROM o)
      SELECT c_custkey,
        CAST(SUM(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
        round(MIN(dist), 4) AS min_dist
      FROM v GROUP BY c_custkey ORDER BY c_custkey""",

    // q128: closed-form replay of the ring kernels on the derived
    // triangles — the shoelace cross terms, their left-associated sum
    // (SQL's `+` associates left, matching the kernels' running
    // accumulator), the per-edge sqrt perimeter, and the area-weighted
    // centroid with its signed-area-zero fallback to the vertex mean.
    // Every intermediate is fixed-association IEEE multiply/subtract/
    // add plus correctly-rounded sqrt, so the values are bit-identical
    // cross-engine (the q123/q127 discipline). The envelope replays as
    // LEAST/GREATEST over the same vertex expressions. The `+ 0.0` on
    // the centroids canonicalizes IEEE -0.0 (a zero numerator over a
    // negative signed area): the kernel canonicalizes too, and Spark's
    // BigDecimal-based round() cannot emit -0.0, while DuckDB's can —
    // without it the value-representation hash diverges on sign-of-zero.
    "q128_geo_measures" -> """
      WITH pts AS (
        SELECT c_custkey,
          CAST(c_custkey % 341 AS DOUBLE) * 1.05 - 178.5 AS ax,
          CAST(c_custkey % 171 AS DOUBLE) * 0.9 - 76.5 AS ay,
          CAST((c_custkey * 7) % 341 AS DOUBLE) * 1.05 - 178.5 AS bx,
          CAST((c_custkey * 13) % 171 AS DOUBLE) * 0.9 - 76.5 AS by,
          CAST((c_custkey * 29) % 341 AS DOUBLE) * 1.05 - 178.5 AS cx,
          CAST((c_custkey * 31) % 171 AS DOUBLE) * 0.9 - 76.5 AS cy
        FROM customer),
      cr AS (
        SELECT c_custkey, ax, ay, bx, by, cx, cy,
          ax * by - bx * ay AS cr1,
          bx * cy - cx * by AS cr2,
          cx * ay - ax * cy AS cr3
        FROM pts),
      m AS (
        SELECT c_custkey, ax, ay, bx, by, cx, cy,
          cr1 + cr2 + cr3 AS a2,
          (ax + bx) * cr1 + (bx + cx) * cr2 + (cx + ax) * cr3 AS numx,
          (ay + by) * cr1 + (by + cy) * cr2 + (cy + ay) * cr3 AS numy
        FROM cr)
      SELECT c_custkey,
        round(0.5 * abs(a2), 4) AS area,
        round(sqrt((bx - ax) * (bx - ax) + (by - ay) * (by - ay))
            + sqrt((cx - bx) * (cx - bx) + (cy - by) * (cy - by))
            + sqrt((ax - cx) * (ax - cx) + (ay - cy) * (ay - cy)), 4) AS perim,
        round(CASE WHEN a2 = 0 THEN (ax + bx + cx) / 3
                   ELSE numx / (3.0 * a2) END, 4) + 0.0 AS cent_x,
        round(CASE WHEN a2 = 0 THEN (ay + by + cy) / 3
                   ELSE numy / (3.0 * a2) END, 4) + 0.0 AS cent_y,
        LEAST(ax, bx, cx) AS min_x,
        LEAST(ay, by, cy) AS min_y,
        GREATEST(ax, bx, cx) AS max_x,
        GREATEST(ay, by, cy) AS max_y
      FROM m ORDER BY c_custkey""",

    // q138: WKT front-door replay — the oracle recomputes the geometry
    // NUMERICALLY from the keys (q128's measures + q123's ray cast), so
    // the Spark side's key→WKT-text→parse→kernel chain must round-trip
    // doubles exactly to match; gtype/n_pts/rt_ok/bad_is_null are the
    // parser-contract constants every row must satisfy.
    "q138_wkt_front_door" -> """
      WITH pts AS (
        SELECT c_custkey,
          CAST(c_custkey % 341 AS DOUBLE) * 1.05 - 178.5 AS ax,
          CAST(c_custkey % 171 AS DOUBLE) * 0.9 - 76.5 AS ay,
          CAST((c_custkey * 7) % 341 AS DOUBLE) * 1.05 - 178.5 AS bx,
          CAST((c_custkey * 13) % 171 AS DOUBLE) * 0.9 - 76.5 AS by,
          CAST((c_custkey * 29) % 341 AS DOUBLE) * 1.05 - 178.5 AS cx,
          CAST((c_custkey * 31) % 171 AS DOUBLE) * 0.9 - 76.5 AS cy,
          [-50.0, 60.0, 70.0, 0.0, -60.0, -50.0] AS rxs,
          [-30.0, -40.0, 50.0, 10.0, 40.0, -30.0] AS rys
        FROM customer),
      cr AS (
        SELECT *, ax * by - bx * ay AS cr1,
          bx * cy - cx * by AS cr2,
          cx * ay - ax * cy AS cr3
        FROM pts),
      m AS (
        SELECT *, cr1 + cr2 + cr3 AS a2,
          (ax + bx) * cr1 + (bx + cx) * cr2 + (cx + ax) * cr3 AS numx,
          (ay + by) * cr1 + (by + cy) * cr2 + (cy + ay) * cr3 AS numy
        FROM cr)
      SELECT c_custkey,
        'POLYGON' AS gtype,
        CAST(4 AS INTEGER) AS n_pts,
        round(0.5 * abs(a2), 4) AS area,
        round(sqrt((bx - ax) * (bx - ax) + (by - ay) * (by - ay))
            + sqrt((cx - bx) * (cx - bx) + (cy - by) * (cy - by))
            + sqrt((ax - cx) * (ax - cx) + (ay - cy) * (ay - cy)), 4) AS perim,
        round(CASE WHEN a2 = 0 THEN (ax + bx + cx) / 3
                   ELSE numx / (3.0 * a2) END, 4) + 0.0 AS cent_x,
        round(CASE WHEN a2 = 0 THEN (ay + by + cy) / 3
                   ELSE numy / (3.0 * a2) END, 4) + 0.0 AS cent_y,
        len(list_filter(range(1, 6), i ->
          ((rys[i] > ay) <> (rys[i+1] > ay)) AND
          (ax < (rxs[i+1] - rxs[i]) * (ay - rys[i]) / (rys[i+1] - rys[i]) + rxs[i])))
          % 2 = 1 AS inside,
        TRUE AS rt_ok,
        TRUE AS bad_is_null
      FROM m ORDER BY c_custkey""",

    // q139: accessor-family replay — the oracle recomputes each branch's
    // geometry numerically from the keys (never parsing WKT), so the
    // Spark side's WKT format→parse chain must reproduce every
    // coordinate exactly for the envelope/vertex/closure answers to
    // match. is_closed replays the COMPARISON (ax=cx AND ay=cy), not a
    // constant, so the rare custkey where an "open" line closes by
    // modular coincidence stays bit-identical at any SF.
    "q139_st_accessors" -> """
      WITH pts AS (
        SELECT c_custkey, c_custkey % 4 AS kind,
          CAST(c_custkey % 341 AS DOUBLE) * 1.05 - 178.5 AS ax,
          CAST(c_custkey % 171 AS DOUBLE) * 0.9 - 76.5 AS ay,
          CAST((c_custkey * 7) % 341 AS DOUBLE) * 1.05 - 178.5 AS bx,
          CAST((c_custkey * 13) % 171 AS DOUBLE) * 0.9 - 76.5 AS by,
          CAST((c_custkey * 29) % 341 AS DOUBLE) * 1.05 - 178.5 AS cx,
          CAST((c_custkey * 31) % 171 AS DOUBLE) * 0.9 - 76.5 AS cy
        FROM customer)
      SELECT c_custkey,
        CASE WHEN kind = 0 THEN 'ST_Point'
             WHEN kind IN (1, 2) THEN 'ST_LineString'
             ELSE 'ST_Polygon' END AS geometry_type,
        CASE WHEN kind = 0 THEN round(ax, 4) END AS st_x,
        CASE WHEN kind = 0 THEN round(ay, 4) END AS st_y,
        CAST(CASE kind WHEN 0 THEN 1 WHEN 1 THEN 3 ELSE 4 END AS INTEGER)
          AS n_points,
        round(CASE WHEN kind = 0 THEN ax ELSE least(ax, bx, cx) END, 4) AS xmin,
        round(CASE WHEN kind = 0 THEN ax ELSE greatest(ax, bx, cx) END, 4) AS xmax,
        round(CASE WHEN kind = 0 THEN ay ELSE least(ay, by, cy) END, 4) AS ymin,
        round(CASE WHEN kind = 0 THEN ay ELSE greatest(ay, by, cy) END, 4) AS ymax,
        CASE WHEN kind = 1 THEN (ax = cx AND ay = cy)
             WHEN kind = 2 THEN TRUE END AS is_closed,
        CASE WHEN kind = 1 THEN FALSE WHEN kind = 2 THEN TRUE END AS is_ring
      FROM pts ORDER BY c_custkey""",

    // q140: holed-polygon replay in CLOSED FORM — the oracle derives
    // hole count, shell-minus-holes area, and point containment
    // straight from the key arithmetic (axis-aligned boxes), never
    // parsing WKT: a multi-ring parser defect on the Spark side forks
    // the hash. CASE order matters (97 before 89: k = 89*97 hits both
    // at sf >= 0.1) and mirrors the Spark entry's `when` chain.
    "q140_polygon_holes" -> """
      WITH b AS (
        SELECT c_custkey,
          c_custkey % 7 + 4 AS w, c_custkey % 5 + 3 AS h,
          (c_custkey % 3) <> 0 AS has_hole,
          c_custkey % 2 + 1 AS hw,
          0.5 + (c_custkey % 5) AS px_off
        FROM customer)
      SELECT c_custkey,
        CAST(CASE WHEN c_custkey % 97 = 0 THEN NULL
             WHEN c_custkey % 89 = 0 THEN 0
             WHEN has_hole THEN 1 ELSE 0 END AS INTEGER) AS n_holes,
        CAST(CASE WHEN c_custkey % 97 = 0 THEN NULL
             WHEN c_custkey % 89 = 0 THEN 0
             WHEN has_hole THEN w * h - hw ELSE w * h END AS DOUBLE) AS area,
        CASE WHEN c_custkey % 97 = 0 THEN NULL
             WHEN c_custkey % 89 = 0 THEN FALSE
             ELSE px_off < w AND NOT (has_hole AND px_off > 1 AND px_off < 1 + hw)
        END AS inside
      FROM b ORDER BY c_custkey""",

    // q141: multipolygon replay in closed form (two disjoint boxes,
    // optional 1x1 hole in part B on even keys). n_holes is NULL on
    // every row BY CONTRACT — Presto's ST_NumInteriorRing is defined
    // for polygons only, so the multipolygon input answers null; the
    // oracle pins that the Spark side honors the restriction rather
    // than helpfully summing holes across parts.
    "q141_multipolygon" -> """
      WITH b AS (
        SELECT c_custkey,
          c_custkey % 4 + 2 AS w1, c_custkey % 3 + 2 AS h1,
          c_custkey % 5 + 5 AS w2, c_custkey % 4 + 4 AS h2,
          (c_custkey % 2) = 0 AS has_hole,
          0.5 + (c_custkey % 3) AS px_off
        FROM customer)
      SELECT c_custkey,
        CAST(CASE WHEN c_custkey % 101 = 0 THEN NULL
             WHEN c_custkey % 103 = 0 THEN 0 ELSE 2 END AS INTEGER) AS n_geoms,
        CAST(NULL AS INTEGER) AS n_holes,
        CAST(CASE WHEN c_custkey % 101 = 0 THEN NULL
             WHEN c_custkey % 103 = 0 THEN 0
             ELSE w1 * h1 + w2 * h2 - CASE WHEN has_hole THEN 1 ELSE 0 END
        END AS DOUBLE) AS area,
        CASE WHEN c_custkey % 101 = 0 THEN NULL
             WHEN c_custkey % 103 = 0 THEN FALSE
             ELSE px_off < w1 END AS inside_a,
        CASE WHEN c_custkey % 101 = 0 THEN NULL
             WHEN c_custkey % 103 = 0 THEN FALSE
             ELSE NOT has_hole END AS inside_b
      FROM b ORDER BY c_custkey""",

    // q142: FILTER-clause aggregates — DuckDB speaks the same ANSI
    // FILTER syntax, so the oracle is the literal statement (dates as
    // strings, money through the exact-decimal discipline).
    "q142_agg_filter" -> """
      SELECT o_orderpriority,
        COUNT(*) AS n_total,
        COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS n_open,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
             FILTER (WHERE o_orderstatus = 'F') AS DOUBLE) AS total_f,
        COUNT(DISTINCT o_custkey)
             FILTER (WHERE o_totalprice > 200000) AS n_big_cust,
        strftime(MAX(o_orderdate) FILTER (WHERE o_orderstatus = 'P'),
                 '%Y-%m-%d') AS last_p
      FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""",

    // q143: the VARIANT chain replayed in CLOSED FORM from the base
    // columns — no JSON anywhere in the oracle, so a defect at any
    // stage of to_json -> parse_json -> variant_get (quoting, number
    // round-trip, path walk, array index, missing-path NULL) forks the
    // hash. o_totalprice is DOUBLE: JSON round-trips doubles exactly
    // (shortest-repr print, exact parse), so no rounding is applied.
    "q143_variant" -> """
      SELECT o_orderkey,
        o_orderkey AS k,
        o_custkey AS cust,
        o_orderstatus AS st,
        o_orderpriority AS tag0,
        CAST(o_totalprice AS DOUBLE) AS price,
        CAST(NULL AS VARCHAR) AS missing
      FROM orders WHERE o_orderkey % 7 = 0 ORDER BY o_orderkey""",

    // q144: UNNEST WITH ORDINALITY replayed via generate_subscripts
    // (1-based — shifted to posexplode's 0-based positions); empty
    // words from the split are dropped on both sides.
    "q144_ordinality" -> """
      WITH w AS (
        SELECT CAST(generate_subscripts(string_split(text, ' '), 1) - 1
                 AS INTEGER) AS pos,
               unnest(string_split(text, ' ')) AS word
        FROM documents)
      SELECT pos, COUNT(*) AS n,
        COUNT(DISTINCT word) AS n_distinct_words,
        MIN(word) AS min_word
      FROM w WHERE pos < 8 AND word <> ''
      GROUP BY pos ORDER BY pos""",

    "q129_tpch_q3" -> s"""
      SELECT l_orderkey,
        ${dsum("l_extendedprice * (1.0 - l_discount)", 6)} AS revenue,
        strftime(o_orderdate, '%Y-%m-%d') AS order_date,
        o_orderpriority
      FROM customer, orders, lineitem
      WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
        AND l_orderkey = o_orderkey
        AND o_orderdate < TIMESTAMP '1998-06-01'
        AND l_shipdate > TIMESTAMP '1998-06-01'
      GROUP BY l_orderkey, o_orderdate, o_orderpriority
      ORDER BY revenue DESC, order_date, l_orderkey LIMIT 10""",

    "q130_tpch_q7" -> s"""
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        CAST(year(l_shipdate) AS INTEGER) AS l_year,
        ${dsum("l_extendedprice * (1.0 - l_discount)", 6)} AS revenue
      FROM supplier, lineitem, orders, customer, nation n1, nation n2
      WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
        AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey
        AND c_nationkey = n2.n_nationkey
        AND ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
          OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
        AND l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1998-01-01'
      GROUP BY supp_nation, cust_nation, l_year
      ORDER BY supp_nation, cust_nation, l_year""",

    "q131_tpch_q13" -> """
      WITH co AS (
        SELECT c_custkey, COUNT(o_orderkey) AS c_count
        FROM customer LEFT OUTER JOIN orders
          ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        GROUP BY c_custkey)
      SELECT c_count, COUNT(*) AS custdist
      FROM co GROUP BY c_count
      ORDER BY custdist DESC, c_count DESC""",

    "q132_tpch_q21" -> """
      WITH lines AS (
        SELECT l_orderkey, l_suppkey,
          l_shipdate > o_orderdate + INTERVAL 60 DAY AS late
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE o_orderstatus = 'F'),
      pairs AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lines),
      late_pairs AS (
        SELECT DISTINCT l_orderkey, l_suppkey FROM lines WHERE late)
      SELECT s_name, COUNT(*) AS numwait
      FROM late_pairs l1 JOIN supplier ON l1.l_suppkey = s_suppkey
      WHERE s_nationkey = 5
        AND EXISTS (
          SELECT 1 FROM pairs l2
          WHERE l2.l_orderkey = l1.l_orderkey
            AND l2.l_suppkey <> l1.l_suppkey)
        AND NOT EXISTS (
          SELECT 1 FROM late_pairs l3
          WHERE l3.l_orderkey = l1.l_orderkey
            AND l3.l_suppkey <> l1.l_suppkey)
      GROUP BY s_name
      ORDER BY numwait DESC, s_name LIMIT 100""",

    "q116_set_union" -> """
      WITH yearly AS (
        SELECT o_orderstatus, year(o_orderdate) AS yr,
          list_sort(list_distinct(list(o_orderpriority))) AS prios
        FROM orders GROUP BY 1, 2),
      u AS (
        SELECT o_orderstatus, COUNT(*) AS n_years,
          list_sort(list_distinct(flatten(list(prios)))) AS um
        FROM yearly GROUP BY 1)
      SELECT o_orderstatus, n_years, CAST(len(um) AS INTEGER) AS n_prios,
        array_to_string(um, ',') AS prio_union
      FROM u ORDER BY o_orderstatus""",

    "q111_gaps_islands" -> """
      WITH days AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
        FROM events WHERE user_id < 100),
      runs AS (
        SELECT user_id,
          day - CAST(row_number() OVER (PARTITION BY user_id ORDER BY day)
            AS INTEGER) AS anchor
        FROM days),
      grouped AS (
        SELECT user_id, anchor, COUNT(*) AS run_len
        FROM runs GROUP BY user_id, anchor)
      SELECT user_id,
        CAST(SUM(run_len) AS BIGINT) AS n_days,
        COUNT(*) AS n_islands,
        CAST(MAX(run_len) AS BIGINT) AS max_run
      FROM grouped GROUP BY user_id ORDER BY user_id""",

    "e11_transitions" -> """
      WITH seq AS (
        SELECT user_id, event_type,
          lag(event_type, 1) OVER (PARTITION BY user_id
            ORDER BY epoch_us(ts), event_id) AS from_type
        FROM events),
      counts AS (
        SELECT from_type, event_type AS to_type, COUNT(*) AS n
        FROM seq WHERE from_type IS NOT NULL
        GROUP BY from_type, event_type)
      SELECT from_type, to_type, n,
        round(CAST(n AS DOUBLE) /
          SUM(n) OVER (PARTITION BY from_type), 6) AS p
      FROM counts ORDER BY from_type, to_type""",

    "t14_entropy" -> raw"""
      WITH perword AS (
        SELECT doc_id, w, COUNT(*) AS cnt FROM (
          SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
          FROM documents) t
        GROUP BY doc_id, w),
      withlen AS (
        SELECT doc_id, cnt, SUM(cnt) OVER (PARTITION BY doc_id) AS n
        FROM perword)
      SELECT doc_id,
        CAST(MAX(n) AS BIGINT) AS n_words,
        COUNT(*) AS n_distinct,
        round(-CAST(SUM(CAST(
          (CAST(cnt AS DOUBLE) / n) * ln(CAST(cnt AS DOUBLE) / n)
          AS DECIMAL(26,12))) AS DOUBLE), 6) AS entropy
      FROM withlen GROUP BY doc_id ORDER BY doc_id""",

    // t15: same GPT-2-style [a-z]+ pre-tokenization; pair fan-out over
    // the distinct-word vocabulary only, weighted by word frequency.
    "t15_bpe_pairs" -> raw"""
      WITH vocab AS (
        SELECT w, COUNT(*) AS n
        FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
              FROM documents) t
        WHERE length(w) >= 2 GROUP BY w),
      pairs AS (
        SELECT n, unnest(list_transform(range(1, length(w)),
          i -> substr(w, CAST(i AS INTEGER), 1) || ' ' ||
               substr(w, CAST(i + 1 AS INTEGER), 1))) AS pair
        FROM vocab)
      SELECT pair, CAST(SUM(n) AS BIGINT) AS pair_count
      FROM pairs GROUP BY pair
      ORDER BY pair_count DESC, pair
      LIMIT 50""",

    "t21_bpe_train" -> bpeTrainOracle(8),
    "t22_bpe_encode" -> bpeEncodeOracle(8),

    // t23: hashed-linear scoring replay — unigram/bigram features under
    // "u "/"b " markers, the full Kernels.hash64 chain (FNV-1a fold +
    // splitmix finalizer, staged like the minhash replay), bucket = low
    // 16 bits (power-of-two pmod == unsigned mod — no sign fix needed),
    // Knuth-mix weight in [-1000, 1000], all-integer sum per doc.
    "t23_quality_lr" -> {
      val seed = 1181783497276652981L
      raw"""
      WITH wt AS (SELECT doc_id, string_split_regex(lower(text), '\s+') AS w
                  FROM documents),
      feats AS (
        SELECT doc_id, 'u ' || f AS f
        FROM (SELECT doc_id, unnest(w) AS f FROM wt)
        UNION ALL
        SELECT doc_id, f FROM (
          SELECT doc_id, unnest(list_transform(range(0, greatest(len(w) - 1, 0)),
            i -> 'b ' || w[i+1] || ' ' || w[i+2])) AS f FROM wt)),
      h0 AS (SELECT doc_id, ${fnvReduce(fnvSeq("f", seed))} AS h0 FROM feats),
      h1 AS (SELECT doc_id, ${mulmod64("xor(h0, h0 >> 30)", Mix1)} AS z1 FROM h0),
      h2 AS (SELECT doc_id, ${mulmod64("xor(z1, z1 >> 27)", Mix2)} AS z2 FROM h1),
      wg AS (SELECT doc_id,
          CAST(((xor(z2, z2 >> 31) % 65536) * 2654435761) % 4294967296 % 2001
            AS BIGINT) - 1000 AS wt
        FROM h2),
      agg AS (SELECT doc_id, CAST(COUNT(*) AS INTEGER) AS n_feat,
          CAST(SUM(wt) AS BIGINT) AS score_sum
        FROM wg GROUP BY doc_id)
      SELECT doc_id, n_feat, score_sum,
        round(CAST(score_sum AS DOUBLE) / (n_feat * 1000.0), 6) AS quality,
        score_sum > 0 AS keep
      FROM agg ORDER BY doc_id"""
    },

    // t17: the same three surface counts (whitespace words, [.!?]+
    // sentence runs, [aeiouy]+ vowel-group syllables), same IEEE formula.
    "t17_readability" -> raw"""
      SELECT doc_id, n_words, n_sents, n_syll,
        round(206.835
          - 1.015 * (CAST(n_words AS DOUBLE) / n_sents)
          - 84.6 * (CAST(n_syll AS DOUBLE) / n_words), 4) AS flesch
      FROM (
        SELECT doc_id,
          CAST(len(string_split_regex(trim(text), '\s+')) AS INTEGER) AS n_words,
          CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS INTEGER) AS n_sents,
          CAST(greatest(len(regexp_extract_all(lower(text), '[aeiouy]+')), 1) AS INTEGER) AS n_syll
        FROM documents) t
      ORDER BY doc_id""",

    // t18: the same decomposed suffix ("Cafe" + chr(0x0301)) appended in
    // SQL, normalized with DuckDB's nfc_normalize — code-point counts
    // before/after, md5 of the normalized bytes, ASCII identity check.
    "t18_normalize_unicode" -> """
      SELECT doc_id,
        CAST(length(raw) AS BIGINT) AS n_raw,
        CAST(length(nfc_normalize(raw)) AS BIGINT) AS n_nfc,
        md5(nfc_normalize(raw)) AS h_nfc,
        (nfc_normalize(text) = text) AS ascii_identity
      FROM (SELECT doc_id, text, text || ' Cafe' || chr(769) AS raw
            FROM documents) t
      ORDER BY doc_id""",

    // t16: the t01 regexp-strip count trick per character class; same
    // priority CASE chain as the Spark side.
    "t16_scripts" -> raw"""
      WITH c AS (
        SELECT doc_id, length(text) AS n_total,
          length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS latin,
          length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS digit,
          length(text) - length(regexp_replace(text, '[\x{4e00}-\x{9fff}]', '', 'g')) AS cjk,
          length(text) - length(regexp_replace(text, '\s', '', 'g')) AS space,
          greatest(length(text), 1) AS n1
        FROM documents),
      c2 AS (SELECT *, n_total - latin - digit - cjk - space AS other FROM c)
      SELECT doc_id, CAST(n_total AS INTEGER) AS n_total,
        round(CAST(latin AS DOUBLE) / n1, 6) AS latin_frac,
        round(CAST(digit AS DOUBLE) / n1, 6) AS digit_frac,
        round(CAST(cjk AS DOUBLE) / n1, 6) AS cjk_frac,
        round(CAST(space AS DOUBLE) / n1, 6) AS space_frac,
        round(CAST(other AS DOUBLE) / n1, 6) AS other_frac,
        CASE WHEN latin >= digit AND latin >= cjk AND latin >= space
              AND latin >= other THEN 'latin'
             WHEN digit >= cjk AND digit >= space AND digit >= other THEN 'digit'
             WHEN cjk >= space AND cjk >= other THEN 'cjk'
             WHEN space >= other THEN 'space'
             ELSE 'other' END AS dominant
      FROM c2 ORDER BY doc_id""",

    // d09: signature agreement from the SAME sigj components d02 replays;
    // exact Jaccard over distinct 3-gram shingle sets from the sh CTE.
    // d11: rebuilds the same doc_id-derived URLs, then recanonicalizes
    // the raw URL TEXT with regexes (host/path/query extraction, www. +
    // default-port + trailing-slash + fragment stripping, utm_ filter,
    // param sort) — an independent parse of the same strings.
    "d11_url_dedup" -> raw"""
      WITH u AS (
        SELECT doc_id,
          (CASE WHEN doc_id % 11 = 0 THEN 'HTTPS' ELSE 'https' END) || '://' ||
          (CASE WHEN doc_id % 2 = 0 THEN 'WWW.Example.COM' ELSE 'www.example.com' END) ||
          (CASE WHEN doc_id % 3 = 0 THEN ':443' ELSE '' END) ||
          '/p/' || (doc_id % 150) ||
          (CASE WHEN doc_id % 7 = 0 THEN '/' ELSE '' END) ||
          (CASE WHEN doc_id % 17 = 0 THEN ''
                WHEN doc_id % 17 = 1 THEN '?'
                WHEN doc_id % 17 = 2 THEN '?utm_source=feed&utm_campaign=x'
                WHEN doc_id % 13 = 0 THEN '?ref=home&id=' || (doc_id % 150) ||
                  (CASE WHEN doc_id % 2 = 1 THEN '&utm_source=feed&utm_campaign=x' ELSE '' END)
                ELSE '?id=' || (doc_id % 150) || '&ref=home' ||
                  (CASE WHEN doc_id % 2 = 1 THEN '&utm_source=feed&utm_campaign=x' ELSE '' END) END) ||
          (CASE WHEN doc_id % 5 = 0 THEN '#section-2' ELSE '' END) AS url
        FROM documents),
      k AS (
        SELECT doc_id, url,
          list_sort(list_filter(
            string_split(regexp_extract(url, '\?([^#]*)', 1), '&'),
            p -> p <> '' AND substr(p, 1, 4) <> 'utm_')) AS kept
        FROM u),
      c AS (
        SELECT doc_id,
          'https://' ||
          regexp_replace(lower(regexp_extract(url, '^[a-zA-Z]+://([^/:?#]+)', 1)), '^www\.', '') ||
          regexp_replace(regexp_extract(url, '^[a-zA-Z]+://[^/?#]+(/[^?#]*)', 1), '/$$', '') ||
          (CASE WHEN len(kept) = 0 THEN ''
                ELSE '?' || array_to_string(kept, '&') END) AS canonical_url,
          CASE WHEN contains(url, 'utm_') THEN 1 ELSE 0 END AS tracked
        FROM k)
      SELECT canonical_url, CAST(MIN(doc_id) AS BIGINT) AS keeper,
        COUNT(*) AS n_copies, CAST(SUM(tracked) AS BIGINT) AS n_tracked
      FROM c GROUP BY canonical_url ORDER BY canonical_url""",

    // d12: the Bloom prefilter is exact-confirmed on the Spark side, so
    // the oracle replays only the exact contamination semantics (same
    // answer as d07 by construction — that equivalence IS the check that
    // no false positive leaked past the confirm join).
    // d13: the oracle counts duplicate grams on the gram TEXT itself —
    // hash64 on the Spark side is only the shuffle-key narrowing (the
    // d08 discipline: multiplicities are equal absent a 64-bit
    // collision); 0-based pos matches posexplode; gaps-and-islands
    // window merges adjacent duplicated shingle starts into maximal
    // spans of start..(last + K - 1).
    "d13_span_dedup" -> raw"""
      WITH wl AS (
        SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
        FROM documents),
      p0 AS (SELECT doc_id, w, unnest(range(0, len(w) - 7)) AS pos
             FROM wl WHERE len(w) >= 8),
      pos AS (SELECT doc_id, pos,
                array_to_string(w[pos+1:pos+8], ' ') AS gram FROM p0),
      dup AS (SELECT gram FROM pos GROUP BY gram HAVING COUNT(*) >= 2),
      hits AS (SELECT doc_id, pos FROM pos JOIN dup USING (gram)),
      lagd AS (SELECT doc_id, pos,
                 lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
               FROM hits),
      isl AS (SELECT doc_id, pos,
                SUM(CASE WHEN prev IS NULL OR pos - prev > 1
                         THEN 1 ELSE 0 END)
                  OVER (PARTITION BY doc_id ORDER BY pos) AS island
              FROM lagd)
      SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS span_start,
        CAST(MAX(pos) + 7 AS BIGINT) AS span_end,
        CAST(MAX(pos) - MIN(pos) + 8 AS BIGINT) AS span_tokens
      FROM isl GROUP BY doc_id, island
      ORDER BY doc_id, span_start""",

    "q133_interval_frame" -> """
      SELECT o_orderkey, o_custkey,
        strftime(o_orderdate, '%Y-%m-%d') AS order_date,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
          PARTITION BY o_custkey ORDER BY o_orderdate
          RANGE BETWEEN INTERVAL 90 DAY PRECEDING AND CURRENT ROW)
        AS DOUBLE) AS trailing_90d_spend,
        COUNT(*) OVER (
          PARTITION BY o_custkey ORDER BY o_orderdate
          RANGE BETWEEN INTERVAL 90 DAY PRECEDING AND CURRENT ROW)
        AS trailing_90d_orders
      FROM orders ORDER BY o_orderkey""",

    "q134_ignore_nulls_fill" -> """
      WITH base AS (
        SELECT user_id, event_id,
          strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_str,
          round(CASE WHEN event_type IN ('purchase', 'click')
                     THEN value END, 4) AS raw
        FROM events)
      SELECT user_id, event_id, ts_str, raw,
        last_value(raw IGNORE NULLS) OVER (
          PARTITION BY user_id ORDER BY ts_str, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fill_fwd,
        first_value(raw IGNORE NULLS) OVER (
          PARTITION BY user_id ORDER BY ts_str, event_id
          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS fill_bwd
      FROM base ORDER BY user_id, event_id""",

    "e14_sliding_distinct" -> """
      WITH du AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
                  FROM events),
      md AS (SELECT MAX(day) AS max_day FROM du),
      rep AS (SELECT user_id,
                day + CAST(unnest(range(0, 7)) AS INTEGER) AS wend FROM du)
      SELECT strftime(wend, '%Y-%m-%d') AS window_end,
        COUNT(DISTINCT user_id) AS active_users
      FROM rep, md WHERE wend <= max_day
      GROUP BY wend ORDER BY window_end""",

    // p11: the identical sqrt-weight rate chain (sqrt is IEEE
    // correctly-rounded; the normalizer sums in DECIMAL; the keep
    // decision floors onto the 2^20 hash grid).
    // p13: epoch-upsampling replay — sqrt share (p11's DECIMAL-sum
    // discipline), then EXACT integer epoch arithmetic from target
    // onward; the expansion replays as range(1, n_copies+1) unnest and
    // the checksum covers every emitted (doc_id, epoch) copy.
    "p13_epoch_mix" -> """
      WITH counts AS (SELECT source, COUNT(*) AS n_docs
                      FROM documents GROUP BY 1),
      tot AS (SELECT CAST(SUM(CAST(sqrt(CAST(n_docs AS DOUBLE))
                 AS DECIMAL(18,6))) AS DOUBLE) AS s_sum,
               SUM(n_docs) AS n_total FROM counts),
      plan1 AS (SELECT source, n_docs,
          CAST(floor(CAST(n_total * 2 AS DOUBLE)
            * sqrt(CAST(n_docs AS DOUBLE)) / s_sum) AS BIGINT) AS target
        FROM counts, tot),
      plan2 AS (SELECT source, n_docs, target,
          target // n_docs AS full_epochs,
          ((target % n_docs) * 1048576) // n_docs AS thr FROM plan1),
      cop AS (SELECT d.doc_id, d.source,
          full_epochs + CASE WHEN (d.doc_id * 48271 + 11) % 1048576 < thr
                             THEN 1 ELSE 0 END AS n_copies
        FROM documents d JOIN plan2 p ON d.source = p.source),
      expd AS (SELECT doc_id, source,
          unnest(range(1, n_copies + 1)) AS epoch
        FROM cop WHERE n_copies > 0),
      rep AS (SELECT source, COUNT(*) AS n_emitted,
          COUNT(DISTINCT doc_id) AS n_docs_used,
          MAX(epoch) AS max_epoch,
          CAST(SUM(doc_id * epoch) AS BIGINT) AS checksum
        FROM expd GROUP BY 1)
      SELECT p.source, CAST(n_docs AS BIGINT) AS n_docs, target, full_epochs,
        COALESCE(n_emitted, 0) AS n_emitted,
        COALESCE(n_docs_used, 0) AS n_docs_used,
        COALESCE(max_epoch, 0) AS max_epoch,
        CAST(COALESCE(checksum, 0) AS BIGINT) AS checksum,
        round(CAST(COALESCE(n_emitted, 0) AS DOUBLE)
          / CAST(n_docs AS DOUBLE), 4) AS realized_epochs
      FROM plan2 p LEFT JOIN rep ON p.source = rep.source
      ORDER BY p.source""",

    "p11_temperature_mix" -> """
      WITH counts AS (SELECT source, COUNT(*) AS n_docs
                      FROM documents GROUP BY 1),
      tot AS (SELECT CAST(SUM(CAST(sqrt(CAST(n_docs AS DOUBLE))
                 AS DECIMAL(18,6))) AS DOUBLE) AS s_sum,
               SUM(n_docs) AS n_total FROM counts),
      rates AS (
        SELECT source, n_docs,
          LEAST(1.0, (CAST(n_total // 2 AS DOUBLE)
            * sqrt(CAST(n_docs AS DOUBLE)) / s_sum)
            / CAST(n_docs AS DOUBLE)) AS rate
        FROM counts, tot),
      thr AS (SELECT source, n_docs, rate,
                CAST(floor(rate * 1048576) AS BIGINT) AS t FROM rates),
      kept AS (
        SELECT d.source, COUNT(*) AS n_kept,
          CAST(SUM(doc_id) AS BIGINT) AS kept_checksum
        FROM documents d JOIN thr ON d.source = thr.source
        WHERE (d.doc_id * 69621 + 7) % 1048576 < t
        GROUP BY 1)
      SELECT thr.source, CAST(n_docs AS BIGINT) AS n_docs,
        round(rate, 6) AS rate,
        COALESCE(n_kept, 0) AS n_kept,
        CAST(COALESCE(kept_checksum, 0) AS BIGINT) AS kept_checksum
      FROM thr LEFT JOIN kept ON thr.source = kept.source
      ORDER BY thr.source""",

    // p14: p11's sqrt-share + 2^20-grid discipline transplanted into
    // TOKEN space — token counts exact integers (t03's trim/split
    // convention), the only doubles are the sqrt share and the one
    // identically-nested rate expression both engines evaluate with the
    // same IEEE ops before the grid floor.
    "p14_token_budget" -> """
      WITH dt AS (
        SELECT doc_id, source,
          CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_toks
        FROM documents),
      counts AS (SELECT source, SUM(n_toks) AS tok_s, COUNT(*) AS n_docs
                 FROM dt GROUP BY 1),
      tot AS (SELECT CAST(SUM(CAST(sqrt(CAST(tok_s AS DOUBLE))
                 AS DECIMAL(18,6))) AS DOUBLE) AS s_sum,
               SUM(tok_s) AS tok_total FROM counts),
      rates AS (
        SELECT source, tok_s, n_docs,
          LEAST(1.0, (CAST(tok_total // 2 AS DOUBLE)
            * sqrt(CAST(tok_s AS DOUBLE)) / s_sum)
            / CAST(tok_s AS DOUBLE)) AS rate
        FROM counts, tot),
      thr AS (SELECT source, tok_s, n_docs, rate,
                CAST(floor(rate * 1048576) AS BIGINT) AS t FROM rates),
      kept AS (
        SELECT d.source, COUNT(*) AS n_kept,
          CAST(SUM(n_toks) AS BIGINT) AS kept_tokens,
          CAST(SUM(doc_id) AS BIGINT) AS kept_checksum
        FROM dt d JOIN thr ON d.source = thr.source
        WHERE (d.doc_id * 16807 + 3) % 1048576 < t
        GROUP BY 1)
      SELECT thr.source, CAST(n_docs AS BIGINT) AS n_docs,
        CAST(tok_s AS BIGINT) AS n_tokens,
        round(rate, 6) AS rate,
        COALESCE(n_kept, 0) AS n_kept,
        CAST(COALESCE(kept_tokens, 0) AS BIGINT) AS kept_tokens,
        CAST(COALESCE(kept_checksum, 0) AS BIGINT) AS kept_checksum
      FROM thr LEFT JOIN kept ON thr.source = kept.source
      ORDER BY thr.source""",

    // p15: content-addressed fixed-size sample — replays the seeded
    // hash64 rank ("smp:" || doc_id through FNV-1a64 + splitmix64,
    // signed compare) and takes the 100 smallest, exactly the
    // TakeOrdered the Spark side runs.
    "p15_reservoir_sample" -> s"""
      WITH f0 AS (SELECT doc_id, source, n_chars,
          ${fnvReduce(fnvSeq("'smp:' || CAST(doc_id AS VARCHAR)", 0L))} AS h0
        FROM documents),
      f1 AS (SELECT doc_id, source, n_chars,
          ${mulmod64("xor(h0, h0 >> 30)", Mix1)} AS z1 FROM f0),
      f2 AS (SELECT doc_id, source, n_chars,
          ${mulmod64("xor(z1, z1 >> 27)", Mix2)} AS z2 FROM f1),
      h AS (SELECT doc_id, source, n_chars,
          ${u2s("xor(z2, z2 >> 31)")} AS h FROM f2),
      top AS (SELECT * FROM h ORDER BY h, doc_id LIMIT 100)
      SELECT doc_id, source, n_chars, h FROM top ORDER BY doc_id""",

    // g04: same edge derivation; reciprocity via the reversed-pair
    // semi-join, assortativity in the symmetrized all-integer form with
    // one final double division.
    "g04_graph_stats" -> """
      WITH n AS (SELECT COUNT(*) AS n FROM documents),
      raw AS (
        SELECT doc_id AS src,
          unnest([doc_id * doc_id + 1, doc_id * 7 + 3, doc_id * 13 + 5]) AS d0
        FROM documents),
      dir AS (SELECT DISTINCT src, d0 % n AS dst FROM raw, n
              WHERE src <> d0 % n),
      recip AS (
        SELECT COUNT(*) AS n_recip FROM dir a
        WHERE EXISTS (SELECT 1 FROM dir b
                      WHERE b.src = a.dst AND b.dst = a.src)),
      und AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
              FROM dir),
      deg AS (SELECT x, COUNT(*) AS deg FROM
                (SELECT u AS x FROM und UNION ALL SELECT v AS x FROM und)
              GROUP BY 1),
      sums AS (
        SELECT COUNT(*) AS ne,
          SUM(d1.deg) AS sx, SUM(d2.deg) AS sy,
          SUM(d1.deg * d2.deg) AS sxy,
          SUM(d1.deg * d1.deg) AS sxx, SUM(d2.deg * d2.deg) AS syy
        FROM und JOIN deg d1 ON und.u = d1.x JOIN deg d2 ON und.v = d2.x),
      dn AS (SELECT COUNT(*) AS n_dir FROM dir)
      SELECT n_dir AS n_directed, n_recip AS n_reciprocal,
        round(CAST(n_recip AS DOUBLE) / CAST(n_dir AS DOUBLE), 6)
          AS reciprocity,
        ne AS n_undirected,
        round(CAST((ne * 2) * (sxy * 2) - (sx + sy) * (sx + sy) AS DOUBLE)
            / CAST((ne * 2) * (sxx + syy) - (sx + sy) * (sx + sy) AS DOUBLE),
          6) AS assortativity
      FROM sums, dn, recip""",

    // g03: the identical degree-ordered wedge join — integer counts are
    // engine-independent; the one double (clustering) is a single
    // correctly-rounded IEEE division.
    // g05: the 5 peeling rounds unrolled — each round recomputes degrees
    // over the surviving edge set and keeps edges whose BOTH endpoints
    // have degree >= 3; exact integer recurrence, bit-identical.
    "g05_kcore" -> {
      val rounds = 5
      val peel = (1 to rounds).map { i =>
        s"""dg${i - 1} AS (SELECT x, COUNT(*) AS deg FROM
                (SELECT u AS x FROM e${i - 1} UNION ALL SELECT v AS x FROM e${i - 1}) t
              GROUP BY 1),
      kp${i - 1} AS (SELECT x FROM dg${i - 1} WHERE deg >= 3),
      e$i AS (SELECT e.u, e.v FROM e${i - 1} e
              JOIN kp${i - 1} a ON e.u = a.x JOIN kp${i - 1} b ON e.v = b.x)"""
      }.mkString(",\n      ")
      s"""
      WITH n AS (SELECT COUNT(*) AS n FROM documents),
      raw AS (
        SELECT doc_id AS src,
          unnest([doc_id * doc_id + 1, doc_id * 7 + 3, doc_id * 13 + 5]) AS d0
        FROM documents),
      ed AS (SELECT src, d0 % n AS dst FROM raw, n),
      e0 AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
             FROM ed WHERE src <> dst),
      $peel,
      fd AS (SELECT x, COUNT(*) AS deg FROM
              (SELECT u AS x FROM e$rounds UNION ALL SELECT v AS x FROM e$rounds) t
             GROUP BY 1)
      SELECT d.doc_id, COALESCE(deg, 0) AS core_deg,
        COALESCE(deg, 0) >= 3 AS in_core
      FROM documents d LEFT JOIN fd ON d.doc_id = fd.x
      ORDER BY d.doc_id"""
    },
    // g06: the 4 synchronous min-label rounds unrolled — the per-round
    // argmax replayed as a ROW_NUMBER over (count desc, label asc),
    // exactly the (c, -label) struct-max the Spark side aggregates.
    // g07: both canonicalized self-joins replayed on the shared
    // deterministic edge set; COUNTs are BIGINT both engines, the full
    // outer merge coalesces missing sides to 0.
    "g07_cocitation" -> """
      WITH n AS (SELECT COUNT(*) AS n FROM documents),
      raw AS (
        SELECT doc_id AS src,
          unnest([doc_id * doc_id + 1, doc_id * 7 + 3, doc_id * 13 + 5]) AS d0
        FROM documents),
      ed AS (SELECT DISTINCT src, d0 % n AS dst FROM raw, n
             WHERE src <> d0 % n),
      cc AS (SELECT x.dst AS a, y.dst AS b, COUNT(*) AS n_cocited
             FROM ed x JOIN ed y ON x.src = y.src AND x.dst < y.dst
             GROUP BY 1, 2),
      bc AS (SELECT x.src AS a, y.src AS b, COUNT(*) AS n_coupled
             FROM ed x JOIN ed y ON x.dst = y.dst AND x.src < y.src
             GROUP BY 1, 2)
      SELECT COALESCE(cc.a, bc.a) AS a, COALESCE(cc.b, bc.b) AS b,
        COALESCE(n_cocited, 0) AS n_cocited,
        COALESCE(n_coupled, 0) AS n_coupled
      FROM cc FULL OUTER JOIN bc ON cc.a = bc.a AND cc.b = bc.b
      ORDER BY a, b""",

    "g06_label_prop" -> {
      val rounds = 4
      val steps = (1 to rounds).map { i =>
        s"""cn$i AS (SELECT n.x, l.lbl, COUNT(*) AS c
              FROM nbr n JOIN lb${i - 1} l ON n.y = l.x GROUP BY 1, 2),
      pk$i AS (SELECT x, lbl FROM (
              SELECT x, lbl, ROW_NUMBER()
                OVER (PARTITION BY x ORDER BY c DESC, lbl) AS rn
              FROM cn$i) t WHERE rn = 1),
      lb$i AS (SELECT p.x, COALESCE(k.lbl, p.lbl) AS lbl
              FROM lb${i - 1} p LEFT JOIN pk$i k ON p.x = k.x)"""
      }.mkString(",\n      ")
      s"""
      WITH n AS (SELECT COUNT(*) AS n FROM documents),
      raw AS (
        SELECT doc_id AS src,
          unnest([doc_id * doc_id + 1, doc_id * 7 + 3, doc_id * 13 + 5]) AS d0
        FROM documents),
      ed AS (SELECT src, d0 % n AS dst FROM raw, n),
      e0 AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
             FROM ed WHERE src <> dst),
      nbr AS (SELECT u AS x, v AS y FROM e0
              UNION ALL SELECT v AS x, u AS y FROM e0),
      lb0 AS (SELECT doc_id AS x, doc_id AS lbl FROM documents),
      $steps,
      sz AS (SELECT lbl, COUNT(*) AS n_members FROM lb$rounds GROUP BY 1)
      SELECT l.x AS doc_id, l.lbl AS community, s.n_members
      FROM lb$rounds l JOIN sz s ON l.lbl = s.lbl
      ORDER BY doc_id"""
    },


    "g03_triangles" -> """
      WITH n AS (SELECT COUNT(*) AS n FROM documents),
      raw AS (
        SELECT doc_id AS src,
          unnest([doc_id * doc_id + 1, doc_id * 7 + 3, doc_id * 13 + 5]) AS d0
        FROM documents),
      e0 AS (SELECT src, d0 % n AS dst FROM raw, n),
      und AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
              FROM e0 WHERE src <> dst),
      deg AS (SELECT x, COUNT(*) AS deg FROM
                (SELECT u AS x FROM und UNION ALL SELECT v AS x FROM und)
              GROUP BY 1),
      fwd AS (
        SELECT CASE WHEN d1.deg < d2.deg OR (d1.deg = d2.deg AND u < v)
                    THEN u ELSE v END AS a,
               CASE WHEN d1.deg < d2.deg OR (d1.deg = d2.deg AND u < v)
                    THEN v ELSE u END AS b
        FROM und JOIN deg d1 ON und.u = d1.x JOIN deg d2 ON und.v = d2.x),
      tri AS (
        SELECT f1.a, f1.b AS b1, f2.b AS b2
        FROM fwd f1 JOIN fwd f2 USING (a)
        WHERE f1.b < f2.b
          AND EXISTS (SELECT 1 FROM und WHERE u = f1.b AND v = f2.b)),
      pn AS (SELECT x, COUNT(*) AS n_tri FROM
               (SELECT a AS x FROM tri UNION ALL SELECT b1 AS x FROM tri
                UNION ALL SELECT b2 AS x FROM tri)
             GROUP BY 1)
      SELECT deg.x AS doc_id, deg.deg,
        CAST(COALESCE(n_tri, 0) AS BIGINT) AS n_tri,
        round(CASE WHEN deg.deg >= 2
          THEN CAST(COALESCE(n_tri, 0) * 2 AS DOUBLE)
             / CAST(deg.deg * (deg.deg - 1) AS DOUBLE)
          ELSE 0.0 END, 6) AS clustering
      FROM deg LEFT JOIN pn ON deg.x = pn.x
      ORDER BY doc_id""",

    // d14: replayed over gram STRINGS (the d08/d13 discipline — the
    // Spark side groups 8-byte shingle_hash64 values; FNV-1a64 over ≤ a
    // few million grams is collision-free, and both engines would see
    // the same collision if one existed since the hash is deterministic).
    "d14_boilerplate" -> raw"""
      WITH wl AS (
        SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
        FROM documents),
      nw AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words FROM wl),
      p0 AS (SELECT doc_id, w, unnest(range(0, len(w) - 4)) AS pos
             FROM wl WHERE len(w) >= 5),
      pos AS (SELECT doc_id, pos,
                array_to_string(w[pos+1:pos+5], ' ') AS gram FROM p0),
      freq AS (SELECT gram FROM pos
               GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 3),
      cov AS (SELECT doc_id, COUNT(DISTINCT i) AS covered_words
              FROM (SELECT doc_id, pos + unnest(range(0, 5)) AS i
                    FROM pos JOIN freq USING (gram))
              GROUP BY doc_id)
      SELECT nw.doc_id, n_words,
        CAST(COALESCE(covered_words, 0) AS BIGINT) AS covered_words,
        round(CAST(COALESCE(covered_words, 0) AS DOUBLE)
          / CAST(n_words AS DOUBLE), 4) AS bp_frac,
        CAST(COALESCE(covered_words, 0) AS DOUBLE)
          < CAST(n_words AS DOUBLE) * 0.2 AS keep
      FROM nw LEFT JOIN cov ON nw.doc_id = cov.doc_id
      ORDER BY nw.doc_id""",

    "t20_keywords" -> raw"""
      WITH tf AS (
        SELECT doc_id, w, COUNT(*) AS cnt
        FROM (SELECT doc_id,
                unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
              FROM documents)
        GROUP BY 1, 2),
      dfx AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY 1),
      n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
      sc AS (
        SELECT doc_id, w,
          round(CAST(cnt AS DOUBLE)
            * ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)), 6) AS score
        FROM tf JOIN dfx USING (w), n),
      r AS (
        SELECT doc_id, w, score,
          CAST(row_number() OVER (PARTITION BY doc_id
            ORDER BY score DESC, w) AS INTEGER) AS rank
        FROM sc)
      SELECT doc_id, rank, w AS keyword, score
      FROM r WHERE rank <= 3 ORDER BY doc_id, rank""",

    "t19_bigram_lm" -> """
      WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      b AS (SELECT doc_id, ws[i] AS w1, ws[i+1] AS w2
            FROM w, unnest(range(1, len(ws))) t(i) WHERE len(ws) >= 2),
      c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM b GROUP BY 1, 2),
      c1 AS (SELECT w1, COUNT(*) AS c1 FROM b GROUP BY 1),
      v AS (SELECT COUNT(DISTINCT tok) AS vocab
            FROM (SELECT unnest(ws) AS tok FROM w))
      SELECT doc_id, COUNT(*) AS n_bigrams,
        -- 4dp mean in exact INTEGER space (t24 discipline; ln < 0) — a
        -- double division before round() forked one doc at sf1.0
        CAST((CAST(SUM(CAST(ln(CAST(c2 + 1 AS DOUBLE) / CAST(c1 + vocab AS DOUBLE))
                            AS DECIMAL(18,6))) * -1000000 AS BIGINT)
              + 50 * COUNT(*)) // (100 * COUNT(*)) AS DOUBLE) / -10000.0 AS avg_logp
      FROM b JOIN c2 USING (w1, w2) JOIN c1 USING (w1), v
      GROUP BY doc_id ORDER BY doc_id""",

    // t24: the CCNet replay — reference-slice (src0) bigram LM, t19's
    // ln/DECIMAL(18,6) discipline with COALESCE(0) backoff for unseen
    // grams, then the exact-selection rank arithmetic replayed in
    // integers (pn = round(p·1e6), k = ceil(pn·n/1e6), order statistic
    // at rank k) — NOT DuckDB's quantile_disc, whose convention need
    // not match ANSI at thirds.
    // t26: the C4 blocklist replayed with list_filter over the same
    // split; flagged counts via FILTER (BIGINT), hit totals BIGINT-cast
    // (DuckDB SUM widens to HUGEINT), flag rate as exact integer basis
    // points (floor division on both engines).
    "t26_blocklist" -> """
      WITH d AS (
        SELECT lang, source,
          len(list_filter(string_split(text, ' '),
            w -> w IN ('dup', 'spam'))) AS n_bad
        FROM documents)
      SELECT lang, source, COUNT(*) AS n_docs,
        COUNT(*) FILTER (WHERE n_bad > 0) AS n_flagged,
        CAST(SUM(n_bad) AS BIGINT) AS total_hits,
        (10000 * (COUNT(*) FILTER (WHERE n_bad > 0))) // COUNT(*)
          AS flag_rate_bp
      FROM d GROUP BY lang, source ORDER BY lang, source""",

    // t25: t23's feature staging + hash64 chain (t25 seed), bucket = the
    // unsigned chain % 8192 (power-of-two, no sign fix), add-1 bucket
    // probabilities with per-ln DECIMAL(18,6) snaps, t24's integer rank
    // arithmetic for the 75th discrete percentile cut.
    "t25_dsir" -> {
      val seed = 0x5851f42d4c957f2dL
      raw"""
      WITH wt AS (SELECT doc_id, source, string_split_regex(lower(text), '\s+') AS w
                  FROM documents),
      feats AS (
        SELECT doc_id, source, 'u ' || f AS f
        FROM (SELECT doc_id, source, unnest(w) AS f FROM wt)
        UNION ALL
        SELECT doc_id, source, f FROM (
          SELECT doc_id, source, unnest(list_transform(range(0, greatest(len(w) - 1, 0)),
            i -> 'b ' || w[i+1] || ' ' || w[i+2])) AS f FROM wt)),
      h0 AS (SELECT doc_id, source, ${fnvReduce(fnvSeq("f", seed))} AS h0 FROM feats),
      h1 AS (SELECT doc_id, source, ${mulmod64("xor(h0, h0 >> 30)", Mix1)} AS z1 FROM h0),
      h2 AS (SELECT doc_id, source, ${mulmod64("xor(z1, z1 >> 27)", Mix2)} AS z2 FROM h1),
      fb AS (SELECT doc_id, source,
          CAST(xor(z2, z2 >> 31) % 8192 AS BIGINT) AS b FROM h2),
      rawc AS (SELECT b, COUNT(*) AS cr FROM fb GROUP BY b),
      tgtc AS (SELECT b, COUNT(*) AS ct FROM fb WHERE source = 'src0' GROUP BY b),
      nr AS (SELECT SUM(cr) AS nr FROM rawc),
      nt AS (SELECT SUM(ct) AS nt FROM tgtc),
      lr AS (
        SELECT b,
          CAST(ln(CAST(COALESCE(ct, 0) + 1 AS DOUBLE) /
              CAST(nt + 8192 AS DOUBLE)) AS DECIMAL(18,6)) -
          CAST(ln(CAST(cr + 1 AS DOUBLE) /
              CAST(nr + 8192 AS DOUBLE)) AS DECIMAL(18,6)) AS lr
        FROM rawc LEFT JOIN tgtc USING (b), nr, nt),
      sc AS (
        SELECT doc_id, COUNT(*) AS n_feat,
          CAST(round(SUM(lr), 4) AS DOUBLE) AS logw
        FROM fb JOIN lr USING (b) GROUP BY doc_id),
      ks AS (SELECT GREATEST(1, (750000 * COUNT(*) + 999999) // 1000000) AS k
             FROM sc),
      rk AS (SELECT logw, row_number() OVER (ORDER BY logw) AS rn FROM sc),
      cuts AS (SELECT MAX(CASE WHEN rn = k THEN logw END) AS cut FROM rk, ks)
      SELECT sc.doc_id, d.source, sc.n_feat, sc.logw, cut,
        sc.logw >= cut AS selected
      FROM sc JOIN documents d USING (doc_id), cuts
      ORDER BY sc.doc_id"""
    },

    "t24_ccnet_buckets" -> """
      WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS ws
                 FROM documents),
      b AS (SELECT doc_id, ws[i] AS w1, ws[i+1] AS w2
            FROM w, unnest(range(1, len(ws))) t(i) WHERE len(ws) >= 2),
      rw AS (SELECT * FROM w WHERE source = 'src0'),
      rb AS (SELECT doc_id, ws[i] AS w1, ws[i+1] AS w2
             FROM rw, unnest(range(1, len(ws))) t(i) WHERE len(ws) >= 2),
      c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM rb GROUP BY 1, 2),
      c1 AS (SELECT w1, COUNT(*) AS c1 FROM rb GROUP BY 1),
      v AS (SELECT COUNT(DISTINCT tok) AS vocab
            FROM (SELECT unnest(ws) AS tok FROM rw)),
      sc AS (
        -- 4dp HALF_UP of sum/count in exact INTEGER space (micro-unit
        -- long + (S + 50n) // (100n)), mirroring the Spark side: a
        -- round() after the double division forks on .xxxx5 sums (4 of
        -- 50k docs at sf1.0)
        SELECT doc_id, COUNT(*) AS n_bigrams,
          ((CAST(-SUM(CAST(ln(CAST(COALESCE(c2, 0) + 1 AS DOUBLE) /
              CAST(COALESCE(c1, 0) + vocab AS DOUBLE)) AS DECIMAL(18,6)))
              * 1000000 AS BIGINT)
            + 50 * COUNT(*)) // (100 * COUNT(*))) / 10000.0 AS score
        FROM b LEFT JOIN c2 USING (w1, w2) LEFT JOIN c1 USING (w1), v
        GROUP BY doc_id),
      ks AS (SELECT GREATEST(1, (333333 * COUNT(*) + 999999) // 1000000) AS k1,
                    GREATEST(1, (666667 * COUNT(*) + 999999) // 1000000) AS k2
             FROM sc),
      rk AS (SELECT score, row_number() OVER (ORDER BY score) AS rn FROM sc),
      cuts AS (SELECT MAX(CASE WHEN rn = k1 THEN score END) AS cut1,
                      MAX(CASE WHEN rn = k2 THEN score END) AS cut2
               FROM rk, ks)
      SELECT sc.doc_id, d.source, sc.n_bigrams, sc.score,
        CASE WHEN score <= cut1 THEN 'head'
             WHEN score <= cut2 THEN 'middle' ELSE 'tail' END AS bucket,
        cut1, cut2
      FROM sc JOIN documents d USING (doc_id), cuts
      ORDER BY sc.doc_id""",

    "d12_bloom_contamination" -> """
      WITH wl AS (
        SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
        FROM documents),
      grams AS (
        SELECT DISTINCT doc_id, gram FROM (
          SELECT doc_id, unnest(list_transform(range(1, len(w) - 6),
            i -> array_to_string(w[i:i+7], ' '))) AS gram
          FROM wl WHERE len(w) >= 8) t),
      bench AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 97 = 0),
      hits AS (
        SELECT g.doc_id, COUNT(*) AS n
        FROM grams g JOIN bench USING (gram) GROUP BY g.doc_id)
      SELECT d.doc_id, COALESCE(n, 0) AS n_shared_grams,
        COALESCE(n, 0) > 0 AS contaminated
      FROM documents d LEFT JOIN hits ON hits.doc_id = d.doc_id
      ORDER BY d.doc_id""",

    // d10: per-shingle hash64 replay (FNV-1a64 + splitmix64, seed 0) on
    // parallel-unnest-indexed shingles, 4-wide window minima, distinct
    // fingerprints, capped-bucket pair counts.
    "d10_winnowing" -> s"""
      WITH sh AS (
        SELECT doc_id,
          unnest(range(0, greatest(len(w) - 2, 1))) AS idx,
          unnest(list_transform(range(0, greatest(len(w) - 2, 1)),
            i -> concat_ws(' ', w[i+1], w[i+2], w[i+3]))) AS s
        FROM (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w
              FROM documents) d),
      f0 AS (SELECT doc_id, idx, ${fnvReduce(fnvSeq("s", 0L))} AS h0 FROM sh),
      f1 AS (SELECT doc_id, idx, ${mulmod64("xor(h0, h0 >> 30)", Mix1)} AS z1 FROM f0),
      f2 AS (SELECT doc_id, idx, ${mulmod64("xor(z1, z1 >> 27)", Mix2)} AS z2 FROM f1),
      hv AS (SELECT doc_id, idx, ${u2s("xor(z2, z2 >> 31)")} AS h FROM f2),
      n AS (SELECT doc_id, COUNT(*) AS ns FROM hv GROUP BY doc_id),
      wins AS (
        SELECT hv.doc_id, hv.idx, n.ns,
          MIN(h) OVER (PARTITION BY hv.doc_id ORDER BY hv.idx
            ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
        FROM hv JOIN n USING (doc_id)),
      fps AS (
        SELECT DISTINCT doc_id, fp FROM wins
        WHERE ns >= 4 AND idx <= ns - 4),
      buckets AS (
        SELECT fp FROM fps GROUP BY fp HAVING COUNT(*) BETWEEN 2 AND 1000),
      pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM fps a
        JOIN buckets bk ON bk.fp = a.fp
        JOIN fps b ON b.fp = a.fp AND b.doc_id > a.doc_id)
      SELECT id_a, id_b, COUNT(*) AS n_shared
      FROM pairs GROUP BY id_a, id_b
      HAVING COUNT(*) >= 2
      ORDER BY id_a, id_b""",

    // d16: the d09 exact-jaccard chain + pr membership + the identical
    // explicit-squaring power trees on the rounded J.
    "d16_lsh_curve" -> s"""
      WITH $minhashCtes,
      sets AS (SELECT doc_id, list_distinct(list(s)) AS ss FROM sh GROUP BY doc_id),
      adj AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
              FROM sets a JOIN sets b ON b.doc_id = a.doc_id + 1),
      wsh AS (
        SELECT doc_id,
          unnest(range(0, greatest(len(w) - 2, 1))) AS idx,
          unnest(list_transform(range(0, greatest(len(w) - 2, 1)),
            i -> concat_ws(' ', w[i+1], w[i+2], w[i+3]))) AS s
        FROM (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w
              FROM documents) wd),
      wh0 AS (SELECT doc_id, idx, ${fnvReduce(fnvSeq("s", 0L))} AS h0 FROM wsh),
      wh1 AS (SELECT doc_id, idx, ${mulmod64("xor(h0, h0 >> 30)", Mix1)} AS z1 FROM wh0),
      wh2 AS (SELECT doc_id, idx, ${mulmod64("xor(z1, z1 >> 27)", Mix2)} AS z2 FROM wh1),
      whv AS (SELECT doc_id, idx, ${u2s("xor(z2, z2 >> 31)")} AS h FROM wh2),
      wn AS (SELECT doc_id, COUNT(*) AS ns FROM whv GROUP BY doc_id),
      wwins AS (
        SELECT whv.doc_id, whv.idx, wn.ns,
          MIN(h) OVER (PARTITION BY whv.doc_id ORDER BY whv.idx
            ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
        FROM whv JOIN wn USING (doc_id)),
      wfps AS (
        SELECT DISTINCT doc_id, fp FROM wwins
        WHERE ns >= 4 AND idx <= ns - 4),
      wbuckets AS (
        SELECT fp FROM wfps GROUP BY fp HAVING COUNT(*) BETWEEN 2 AND 16),
      wpairs AS (
        SELECT id_a, id_b FROM (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b
          FROM wfps a
          JOIN wbuckets bk ON bk.fp = a.fp
          JOIN wfps b ON b.fp = a.fp AND b.doc_id > a.doc_id)
        GROUP BY id_a, id_b HAVING COUNT(*) >= 2),
      exd AS (
        SELECT doc_id,
          lead(doc_id) OVER (PARTITION BY md5(text) ORDER BY doc_id) AS nxt
        FROM documents),
      expairs AS (
        SELECT doc_id AS id_a, nxt AS id_b FROM exd WHERE nxt IS NOT NULL),
      probes AS (SELECT id_a, id_b FROM adj
                 UNION SELECT id_a, id_b FROM wpairs
                 UNION SELECT id_a, id_b FROM expairs),
      ex AS (
        SELECT p.id_a, p.id_b,
          round(CAST(len(list_intersect(a.ss, b.ss)) AS DOUBLE)
            / len(list_distinct(list_concat(a.ss, b.ss))), 6) AS j
        FROM probes p JOIN sets a ON a.doc_id = p.id_a
                      JOIN sets b ON b.doc_id = p.id_b),
      flagged AS (
        SELECT ex.id_a, ex.id_b, j,
          EXISTS (SELECT 1 FROM pr
                  WHERE pr.a = ex.id_a AND pr.b = ex.id_b) AS is_cand
        FROM ex),
      powed AS (
        SELECT j_bin, is_cand,
          round(1.0 - q8 * q8, 6) AS p_pred
        FROM (
          SELECT j_bin, is_cand, q4 * q4 AS q8 FROM (
            SELECT j_bin, is_cand, q2 * q2 AS q4 FROM (
              SELECT j_bin, is_cand, q * q AS q2 FROM (
                SELECT CAST(floor(j * 20) AS INTEGER) AS j_bin, is_cand,
                  1.0 - j8 AS q FROM (
                  SELECT j, is_cand, j4 * j4 AS j8 FROM (
                    SELECT j, is_cand, j2 * j2 AS j4 FROM (
                      SELECT j, is_cand, j * j AS j2 FROM flagged))))))))
      SELECT j_bin, COUNT(*) AS n_pairs,
        CAST(SUM(CASE WHEN is_cand THEN 1 ELSE 0 END) AS BIGINT) AS n_lsh,
        round(CAST(SUM(CAST(p_pred AS DECIMAL(18,6))) AS DOUBLE)
          / COUNT(*), 6) AS avg_predicted,
        round(CAST(SUM(CASE WHEN is_cand THEN 1 ELSE 0 END) AS DOUBLE)
          / CAST(COUNT(*) AS DOUBLE), 6) AS observed_rate
      FROM powed GROUP BY j_bin ORDER BY j_bin""",

    "d09_minhash_est" -> s"""
      WITH $minhashCtes,
      est AS (
        SELECT x.doc_id AS id_a, y.doc_id AS id_b,
          CAST(SUM(CASE WHEN x.sv = y.sv THEN 1 ELSE 0 END) AS DOUBLE) / 128
            AS est_raw
        FROM sigj x JOIN sigj y ON y.doc_id = x.doc_id + 1 AND y.j = x.j
        GROUP BY x.doc_id, y.doc_id),
      sets AS (SELECT doc_id, list_distinct(list(s)) AS ss FROM sh GROUP BY doc_id),
      ex AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          CAST(len(list_intersect(a.ss, b.ss)) AS DOUBLE)
            / len(list_distinct(list_concat(a.ss, b.ss))) AS exact_raw
        FROM sets a JOIN sets b ON b.doc_id = a.doc_id + 1)
      SELECT est.id_a, est.id_b,
        round(est_raw, 6) AS est_jaccard,
        round(exact_raw, 6) AS exact_jaccard,
        round(abs(round(est_raw, 6) - round(exact_raw, 6)), 6) AS abs_err
      FROM est JOIN ex ON ex.id_a = est.id_a
      ORDER BY est.id_a""",

    // v01: graft writes lineitem to an Avro container and reads it back
    // across sync-marker splits before aggregating; the oracle aggregates
    // the ORIGINAL parquet — container lossiness or a duplicated/dropped
    // block at any split boundary forks the hash.
    "v01_avro_roundtrip" -> """
      SELECT l_returnflag,
        COUNT(*) AS n,
        COUNT(DISTINCT l_orderkey) AS n_orders,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        strftime(MIN(l_shipdate), '%Y-%m-%d') AS min_ship,
        strftime(MAX(l_shipdate), '%Y-%m-%d') AS max_ship
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag""",

    // v02: graft writes an orders slice through the JDBC sink into
    // embedded Derby and reads it back as a 4-shard partitioned scan;
    // the oracle aggregates the ORIGINAL parquet — JDBC type lossiness
    // or a duplicated/dropped range-shard row forks the hash.
    "v02_jdbc_roundtrip" -> """
      SELECT o_orderstatus,
        COUNT(*) AS n,
        COUNT(DISTINCT o_custkey) AS n_cust,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        strftime(MIN(o_orderdate), '%Y-%m-%d') AS min_date,
        strftime(MAX(o_orderdate), '%Y-%m-%d') AS max_date
      FROM orders
      WHERE o_orderkey < 20000
      GROUP BY o_orderstatus
      ORDER BY o_orderstatus"""
  )
}
