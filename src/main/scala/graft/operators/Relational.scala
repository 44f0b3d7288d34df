package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.sources.Tables

/**
 * Relational query surface — the Presto 0.248 SQL capabilities the
 * reference cluster serves (yifeif/presto-on-ray README.md:96 `presto:test>
 * select * from user`), re-expressed as declarative Spark DataFrame plans
 * so Catalyst/Tungsten pick physical strategies (broadcast vs sort-merge,
 * partial aggregation, whole-stage codegen).
 *
 * Determinism discipline for the DuckDB oracle: monetary aggregates are
 * summed as DECIMAL (exact, order-independent) then cast to double; every
 * query has a total ORDER BY; dates are emitted as strings.
 */
object Relational {

  /** Exact order-independent sum: cast to decimal, sum, back to double. */
  private def dsum(c: Column, scale: Int = 2): Column =
    sum(c.cast(DecimalType(18, scale))).cast("double")

  /** Order-independent avg: exact decimal sum / non-null count. */
  private def davg(c: Column, scale: Int = 4): Column =
    (sum(c.cast(DecimalType(18, scale))).cast("double") / count(c)).cast("double")

  // --- q01: multi-aggregate groupBy (TPC-H Q1 shape) --------------------
  def q01(s: SparkSession, d: String): DataFrame = {
    Tables.fanout(s, d, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6).as("sum_disc_price"),
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax")), 6).as("sum_charge"),
        davg(col("l_quantity")).as("avg_qty"),
        davg(col("l_extendedprice")).as("avg_price"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  // --- q02: filter + projection pushdown --------------------------------
  def q02(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_quantity") > 45 && col("l_returnflag") === "R")
      .select(
        col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"),
        date_format(col("l_shipdate"), "yyyy-MM-dd").as("ship_date"))
      // (l_orderkey, l_linenumber) is NOT unique in the synthetic data —
      // the ORDER BY must be total over the output or tied rows land in
      // engine-dependent order (forked at the r15 sf1.0 full gate; the
      // smaller SFs were only accidentally stable)
      .orderBy(col("l_orderkey"), col("l_linenumber"),
        col("l_extendedprice"), col("ship_date"))

  // --- q03: 3-way inner join + agg + top-n (TPC-H Q3 shape) -------------
  def q03(s: SparkSession, d: String): DataFrame = {
    val cust = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
    val ord = Tables.orders(s, d)
      .filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
    val li = Tables.lineitem(s, d)
      .filter(col("l_shipdate") > lit("1998-01-01").cast("timestamp"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"))
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(20)
  }

  // --- q04: left outer join with null-producing side --------------------
  def q04(s: SparkSession, d: String): DataFrame = {
    val bigOrders = Tables.orders(s, d).filter(col("o_totalprice") > 400000)
    Tables.customer(s, d)
      .join(bigOrders, col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(
        count(col("o_orderkey")).as("n_big_orders"),
        coalesce(dsum(col("o_totalprice")), lit(0.0)).as("big_total"))
      .filter(col("c_custkey") < 200)
      .orderBy(col("c_custkey"))
  }

  // --- q05: left-semi join (EXISTS) -------------------------------------
  def q05(s: SparkSession, d: String): DataFrame = {
    val urgent = Tables.orders(s, d).filter(col("o_orderpriority") === "1-URGENT")
    Tables.customer(s, d)
      .join(urgent, col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))
  }

  // --- q06: left-anti join (NOT EXISTS) ---------------------------------
  def q06(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d)
      .join(Tables.lineitem(s, d).filter(col("l_quantity") > 45),
        col("p_partkey") === col("l_partkey"), "left_anti")
      .select(col("p_partkey"), col("p_name"), col("p_brand"))
      .orderBy(col("p_partkey"))

  // --- q07: 5-way star join, dims broadcast (TPC-H Q5 shape) ------------
  def q07(s: SparkSession, d: String): DataFrame = {
    val region = Tables.region(s, d).filter(col("r_name") === "ASIA")
    val nation = Tables.nation(s, d)
    val supplier = Tables.supplier(s, d)
    val cust = Tables.customer(s, d)
    val ord = Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
    val li = Tables.lineitem(s, d)
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(supplier), col("l_suppkey") === col("s_suppkey"))
      .join(cust, col("o_custkey") === col("c_custkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6).as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  // --- q08: COUNT(DISTINCT) ---------------------------------------------
  def q08(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(col("o_orderstatus"))
      .agg(
        countDistinct(col("o_custkey")).as("n_cust"),
        countDistinct(col("o_orderpriority")).as("n_prio"),
        count(lit(1)).as("n_orders"))
      .orderBy(col("o_orderstatus"))

  // --- q09: approx_count_distinct (HLL; rows-only oracle) ---------------
  def q09(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        approx_count_distinct(col("l_partkey"), 0.023).as("approx_parts"),  // Presto approx_distinct default stderr
        approx_count_distinct(col("l_suppkey"), 0.023).as("approx_supps"),
        percentile_approx(col("l_extendedprice"), lit(0.5), lit(1000)).as("approx_p50_price"))
      .orderBy(col("l_returnflag"))

  // --- q10: exact percentile (continuous) per group ---------------------
  // NOT the builtin `percentile` aggregate: that buffers every group
  // value in ONE ObjectHashAggregate buffer (3 l_returnflag groups ->
  // ~1/3 of the fact column per task at scale — the r10-flagged
  // scale-killer). [[ExactSelection]] computes the same bit-exact
  // interpolated result via histogram-narrowed distributed selection
  // (O(bins) + O(distinct-in-bin) state per task); PlanSpec pins the
  // plan percentile-aggregate-free. Two kernel runs (one per value
  // column) join on the 3-row group frame.
  def q10(s: SparkSession, d: String): DataFrame = {
    // both metric columns STACK into one kernel run (the e13 discipline):
    // the three narrowing passes serve qty and price together — half the
    // jobs of two separate kernel runs, same bit-exact selection per
    // (returnflag, metric) group
    // Deliberately NOT staged (r20 A/B): materializing the stacked
    // (g, x) frame measured q10 1.30 -> 2.88 s at sf0.1 (2.8x at sf1) —
    // the checkpoint write of 2x|lineitem| rows costs more than the two
    // parquet scans it saves; the kernel's multi-pass shape re-reads a
    // 2-column pruned scan, which is the cheaper side of the trade at
    // every measured SF.
    // NOT fanned out either (r20 A/B): 1.58 -> 2.29 s — the hoped-for
    // exchange reuse across the three pass subtrees does not materialize
    // and the row-payload shuffle costs more than the serial scans.
    val base = Tables.lineitem(s, d)
      .select(col("l_returnflag").as("rf"), expr(
        """stack(2, 'qty', CAST(l_quantity AS DOUBLE),
          |'price', CAST(l_extendedprice AS DOUBLE)) AS (metric, x)"""
          .stripMargin))
      .select(concat_ws("|", col("rf"), col("metric")).as("g"), col("x"))
    ExactSelection.percentiles(base, Seq(0.5, 0.9))
      .select(substring_index(col("g"), "|", 1).as("l_returnflag"),
        substring_index(col("g"), "|", -1).as("metric"),
        col("p50"), col("p90"))
      .groupBy(col("l_returnflag"))
      .agg(
        round(max(when(col("metric") === "qty", col("p50"))), 4).as("p50_qty"),
        round(max(when(col("metric") === "qty", col("p90"))), 4).as("p90_qty"),
        round(max(when(col("metric") === "price", col("p50"))), 4).as("p50_price"))
      .orderBy(col("l_returnflag"))
  }

  // --- q11: ranking window functions ------------------------------------
  def q11(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_orderstatus"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(s, d)
      .select(
        col("o_orderstatus"), col("o_orderkey"), col("o_totalprice"),
        row_number().over(w).as("rn"),
        rank().over(w).as("rk"),
        dense_rank().over(w).as("drk"))
      .filter(col("rn") <= 3)
      .orderBy(col("o_orderstatus"), col("rn"))
  }

  // --- q12: running sum + lag over ordered partitions -------------------
  def q12(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables.orders(s, d)
      .filter(col("o_custkey") < 50)
      .select(
        col("o_custkey"), col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
        col("o_totalprice"),
        sum(col("o_totalprice").cast(DecimalType(18, 2))).over(w)
          .cast("double").as("running_total"),
        lag(col("o_totalprice"), 1).over(w).as("prev_price"),
        lead(col("o_totalprice"), 1).over(w).as("next_price"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  // --- q13: set operations ----------------------------------------------
  def q13(s: SparkSession, d: String): DataFrame = {
    val hiBal = Tables.customer(s, d).filter(col("c_acctbal") > 8000)
      .select(col("c_custkey").as("id"))
    val urgentCust = Tables.orders(s, d).filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey").as("id")).distinct()
    val both = hiBal.intersect(urgentCust).withColumn("tag", lit("both"))
    val onlyBal = hiBal.except(urgentCust).withColumn("tag", lit("only_bal"))
    both.unionAll(onlyBal).select(col("tag"), col("id")).orderBy(col("tag"), col("id"))
  }

  // --- q14: ROLLUP with grouping sets -----------------------------------
  def q14(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("prio"),
        col("n"), col("total"))
      .orderBy(col("status"), col("prio"))

  // --- q15: global top-n (TakeOrderedAndProject) ------------------------
  def q15(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)

  // --- q16: CASE WHEN conditional aggregation (manual pivot) ------------
  def q16(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(year(col("o_orderdate")).as("yr"))
      .agg(
        count(when(col("o_orderpriority") === "1-URGENT", 1)).as("urgent"),
        count(when(col("o_orderpriority") === "2-HIGH", 1)).as("high"),
        count(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), lit(null))
          .otherwise(1)).as("other"),
        count(lit(1)).as("total"))
      .orderBy(col("yr"))

  // --- q17: string function family --------------------------------------
  def q17(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .filter(col("c_custkey") < 300)
      .select(
        col("c_custkey"),
        upper(col("c_name")).as("up_name"),
        lower(col("c_mktsegment")).as("lo_seg"),
        substring(col("c_name"), 1, 8).as("prefix"),
        length(col("c_name")).as("name_len"),
        regexp_replace(col("c_name"), "0+", "0").as("squeezed"),
        concat_ws("|", col("c_mktsegment"), col("c_name")).as("joined"),
        lpad(col("c_custkey").cast("string"), 6, "0").as("padded"),
        regexp_extract(col("c_name"), "([0-9]+)", 1).as("digits"),
        trim(lit("  x  ")).as("trimmed"))
      .orderBy(col("c_custkey"))

  // --- q18: date/time function family -----------------------------------
  def q18(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .filter(col("o_orderkey") < 800)
      .select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("yr"),
        month(col("o_orderdate")).as("mo"),
        dayofmonth(col("o_orderdate")).as("dom"),
        weekday(col("o_orderdate")).as("wd"),
        quarter(col("o_orderdate")).as("qtr"),
        date_format(date_trunc("month", col("o_orderdate")), "yyyy-MM-dd").as("month_start"),
        date_format(date_add(col("o_orderdate").cast("date"), 30), "yyyy-MM-dd").as("due_date"),
        datediff(lit("2002-01-01").cast("date"), col("o_orderdate").cast("date")).as("age_days"))
      .orderBy(col("o_orderkey"))

  // --- q19: math function family ----------------------------------------
  def q19(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_orderkey") < 400)
      .select(
        col("l_orderkey"), col("l_linenumber"),
        abs(col("l_extendedprice") * lit(-1.0)).as("abs_price"),
        ceil(col("l_extendedprice")).as("ceil_price"),
        floor(col("l_extendedprice")).as("floor_price"),
        round(col("l_quantity") / 7.0, 1).as("qty_sevenths"),
        round(sqrt(col("l_quantity")), 6).as("sqrt_qty"),
        round(pow(col("l_discount"), 2), 6).as("disc_sq"),
        round(log(col("l_extendedprice")), 6).as("ln_price"),
        (col("l_orderkey") % 7).as("mod7"),
        signum(col("l_discount") - 0.05).cast("int").as("sgn"))
      // total order over ALL output columns: (l_orderkey, l_linenumber)
      // ties exist in the data (r15 sf1.0 gate) and a partial tiebreak
      // could still leave identical-key rows in engine order
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("abs_price"),
        col("qty_sevenths"), col("sqrt_qty"), col("disc_sq"), col("sgn"))

  // --- q20: correlated scalar subquery (TPC-H Q17 shape) ----------------
  def q20(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val part = Tables.part(s, d).filter(col("p_brand") === "Brand#23")
    // Decorrelated: per-part avg quantity joined back (what Catalyst does
    // to the correlated form under the hood).
    val avgQty = li.groupBy(col("l_partkey").as("ap_partkey"))
      .agg(davg(col("l_quantity"), 2).as("avg_qty"))
    li.join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .join(avgQty, col("l_partkey") === col("ap_partkey"))
      .filter(col("l_quantity") < lit(0.2) * col("avg_qty"))
      .agg((dsum(col("l_extendedprice")) / lit(7.0)).as("avg_yearly"))
  }

  // --- q21: IN uncorrelated subquery ------------------------------------
  def q21(s: SparkSession, d: String): DataFrame = {
    val buildingCust = Tables.customer(s, d)
      .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
    Tables.orders(s, d)
      .filter(col("o_totalprice") > 450000)
      .join(buildingCust, col("o_custkey") === col("c_custkey"), "left_semi")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .orderBy(col("o_orderkey"))
  }

  // --- q22: correlated EXISTS (TPC-H Q4 shape) --------------------------
  def q22(s: SparkSession, d: String): DataFrame = {
    val ord = Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1996-07-01").cast("timestamp"))
    val li = Tables.lineitem(s, d)
    ord.join(li, col("o_orderkey") === col("l_orderkey") &&
        col("l_shipdate") > col("o_orderdate"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy(col("o_orderpriority"))
  }

  // --- q23: HAVING (TPC-H Q18 shape) ------------------------------------
  def q23(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_orderkey"))
      .agg(dsum(col("l_quantity")).as("total_qty"))
      .filter(col("total_qty") > 150)
      .orderBy(col("total_qty").desc, col("l_orderkey"))
      .limit(50)

  // --- q24: CTEs via SQL (WITH, reused subplan) -------------------------
  def q24(s: SparkSession, d: String): DataFrame = {
    Tables.registerAll(s, d)
    s.sql("""
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
      ORDER BY segment
    """)
  }

  // --- q25: UNNEST/explode of split arrays ------------------------------
  def q25(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .filter(col("doc_id") < 20)
      .select(explode(split(col("text"), " ")).as("word"))
      .groupBy(col("word"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("word"))

  // --- q26: SELECT DISTINCT multi-column --------------------------------
  def q26(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .select(col("l_returnflag"), col("l_linestatus"),
        year(col("l_shipdate")).as("yr"))
      .distinct()
      .orderBy(col("l_returnflag"), col("l_linestatus"), col("yr"))

  // --- q27: NULLIF/COALESCE + explicit null ordering --------------------
  def q27(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .filter(col("o_orderkey") < 500)
      .select(
        col("o_orderkey"),
        nullif(col("o_orderstatus"), lit("O")).as("st"),
        coalesce(nullif(col("o_orderstatus"), lit("O")), lit("none")).as("st2"))
      .orderBy(col("st").asc_nulls_first, col("o_orderkey"))

  // --- q28: cross join ---------------------------------------------------
  def q28(s: SparkSession, d: String): DataFrame = {
    val statuses = Tables.orders(s, d).select(col("o_orderstatus")).distinct()
    Tables.region(s, d)
      .crossJoin(statuses)
      .select(col("r_name"), col("o_orderstatus"))
      .orderBy(col("r_name"), col("o_orderstatus"))
  }

  // --- q29: array_agg + array functions (string-joined for stable hash) -
  def q29(s: SparkSession, d: String): DataFrame =
    Tables.nation(s, d)
      .groupBy(col("n_regionkey"))
      .agg(
        array_join(sort_array(collect_list(col("n_name"))), ",").as("names"),
        count(lit(1)).as("n"))
      .orderBy(col("n_regionkey"))

  // --- q30: selective scan-aggregate (TPC-H Q6 shape) -------------------
  def q30(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(
        col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
        col("l_discount").between(0.05, 0.07) &&
        col("l_quantity") < 24)
      .agg(dsum(col("l_extendedprice") * col("l_discount"), 6).as("revenue"))

  // --- q31: self-join ----------------------------------------------------
  def q31(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d).filter(col("o_custkey") < 100)
    val a = o.select(col("o_custkey").as("ck"), col("o_orderkey").as("k1"))
    val b = o.select(col("o_custkey").as("ck2"), col("o_orderkey").as("k2"))
    a.join(b, col("ck") === col("ck2") && col("k1") < col("k2"))
      .groupBy(col("ck"))
      .agg(count(lit(1)).as("pairs"))
      .orderBy(col("ck"))
  }

  // --- q33: JSON extraction (Presto json_extract family) ----------------
  def q33(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .filter(col("event_id") < 2000)
      .select(
        col("event_id"),
        get_json_object(col("props"), "$.k").as("k_str"),
        get_json_object(col("props"), "$.k").cast("int").as("k_int"),
        (get_json_object(col("props"), "$.k").cast("int") % 10).as("k_mod"))
      .orderBy(col("event_id"))

  // --- q34: bitwise function family --------------------------------------
  def q34(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .filter(col("o_orderkey") < 500)
      .select(
        col("o_orderkey"),
        col("o_orderkey").bitwiseAND(lit(255L)).as("b_and"),
        col("o_orderkey").bitwiseOR(lit(16L)).as("b_or"),
        col("o_orderkey").bitwiseXOR(lit(255L)).as("b_xor"),
        shiftleft(col("o_orderkey"), 2).as("b_shl"),
        shiftright(col("o_orderkey"), 2).as("b_shr"),
        bit_count(col("o_orderkey")).as("b_cnt"))
      .orderBy(col("o_orderkey"))

  // --- q35: URL function family (Presto url_extract_*) -------------------
  def q35(s: SparkSession, d: String): DataFrame = {
    val url = concat(lit("https://"), lower(col("c_mktsegment")),
      lit(".example.com/c/"), col("c_custkey"),
      lit("?seg="), lower(col("c_mktsegment")), lit("&id="), col("c_custkey"))
    Tables.customer(s, d)
      .filter(col("c_custkey") < 300)
      .select(
        col("c_custkey"),
        parse_url(url, lit("HOST")).as("host"),
        parse_url(url, lit("PATH")).as("path"),
        parse_url(url, lit("QUERY")).as("query"),
        parse_url(url, lit("QUERY"), lit("id")).as("id_param"))
      .orderBy(col("c_custkey"))
  }

  // --- q36: width_bucket histogram binning --------------------------------
  def q36(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(width_bucket(col("o_totalprice"), lit(0.0), lit(500000.0), lit(10)).as("bucket"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
      .orderBy(col("bucket"))

  // --- q37: map_agg equivalent (map_from_entries + element_at) -----------
  def q37(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("o_orderstatus"))
      .agg(map_from_entries(collect_list(struct(col("o_orderpriority"), col("cnt")))).as("m"))
      .select(
        col("o_orderstatus"),
        coalesce(element_at(col("m"), "1-URGENT"), lit(0L)).as("urgent_cnt"),
        size(col("m")).as("n_keys"))
      .orderBy(col("o_orderstatus"))

  // --- q38: TRY-semantics arithmetic/casts (Presto TRY) -------------------
  def q38(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_orderkey") < 300)
      .select(
        col("l_orderkey"), col("l_linenumber"),
        try_divide(col("l_extendedprice"), col("l_quantity") - lit(24.0)).as("div_guarded"),
        try_to_number(regexp_extract(col("l_returnflag"), "([0-9]+)", 1), lit("999"))
          .cast("double").as("bad_cast"),
        try_add(col("l_orderkey"), lit(1L)).as("safe_add"))
      // total order over the non-derived outputs: key ties exist in the
      // data (r15 sf1.0 gate); bad_cast/safe_add are key-determined
      .orderBy(col("l_orderkey"), col("l_linenumber"),
        asc_nulls_first("div_guarded"))

  // --- q39: filter vs global aggregate + NOT EXISTS (TPC-H Q22 shape) ----
  def q39(s: SparkSession, d: String): DataFrame = {
    val cust = Tables.customer(s, d)
    val avgBal = cust.agg(davg(col("c_acctbal"), 2).as("avg_bal"))
    val bigOrders = Tables.orders(s, d).filter(col("o_totalprice") > 400000)
    cust.crossJoin(broadcast(avgBal))
      .filter(col("c_acctbal") > col("avg_bal"))
      .join(bigOrders, col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_acctbal"))
      .orderBy(col("c_custkey"))
  }

  // --- q40: pivot (groupBy.pivot with fixed value set) --------------------
  def q40(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(year(col("o_orderdate")).as("yr"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .select(col("yr"),
        coalesce(col("F"), lit(0L)).as("F"),
        coalesce(col("O"), lit(0L)).as("O"),
        coalesce(col("P"), lit(0L)).as("P"))
      .orderBy(col("yr"))

  // --- q41: max_by / min_by (Presto signature aggregates) -----------------
  // Tie-break folded into the ordering value (price*1e9 + key) because the
  // oracle's arg_max takes scalars only. 1e9 keeps both terms exact and
  // non-overlapping in a double: 2-decimal prices < 1e6 map to multiples of
  // 1e7 (so price*1e9 <= 1e15 < 2^53... price deltas are >= 0.01*1e9 = 1e7)
  // while keys stay < 9e6 — a key can never outweigh a price difference.
  def q41(s: SparkSession, d: String): DataFrame = {
    val ord = col("o_totalprice") * lit(1000000000.0) + col("o_orderkey")
    Tables.orders(s, d)
      .groupBy(col("o_orderstatus"))
      .agg(
        max_by(col("o_orderkey"), ord).as("best_order"),
        min_by(col("o_orderkey"), ord).as("worst_order"),
        max(col("o_totalprice")).as("max_price"),
        min(col("o_totalprice")).as("min_price"))
      .orderBy(col("o_orderstatus"))
  }

  // --- q42: conditional-revenue ratio (TPC-H Q14 shape) -------------------
  def q42(s: SparkSession, d: String): DataFrame = {
    val disc = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-02-01").cast("timestamp"))
      .join(broadcast(Tables.part(s, d)), col("l_partkey") === col("p_partkey"))
      .agg((lit(100.0) *
        dsum(when(col("p_type") === "PROMO", disc).otherwise(lit(0.0)), 6) /
        dsum(disc, 6)).as("promo_revenue"))
  }

  // --- q43: distribution window functions ---------------------------------
  // A partition-less window forces a single-task sort — correct for the
  // bounded slice taken here; a full-corpus global ntile at 100 TB would
  // instead be computed from a distributed sort + rank arithmetic.
  def q43(s: SparkSession, d: String): DataFrame = {
    val w = Window.orderBy(col("o_totalprice"), col("o_orderkey"))
    Tables.orders(s, d)
      .filter(col("o_custkey") < 30)
      .select(col("o_orderkey"),
        ntile(4).over(w).as("quartile"),
        round(percent_rank().over(w), 6).as("pr"),
        round(cume_dist().over(w), 6).as("cd"))
      .orderBy(col("o_orderkey"))
  }

  // --- q44: statistical aggregates (stddev/variance/corr/covar) ----------
  // Rounded: merge-order of the streaming moments differs between engines
  // at ~1e-12 relative; rounding absorbs it (values are O(1)-O(1e4)).
  def q44(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        round(stddev_samp(col("l_quantity")), 4).as("sd_qty"),
        round(var_samp(col("l_quantity")), 4).as("var_qty"),
        round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("corr_qp"),
        round(covar_samp(col("l_quantity"), col("l_extendedprice")), 2).as("covar_qp"))
      .orderBy(col("l_returnflag"))

  // --- q45: INTERVAL arithmetic -------------------------------------------
  def q45(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .filter(col("o_orderkey") < 400)
      .select(
        col("o_orderkey"),
        date_format(col("o_orderdate") + expr("INTERVAL 3 DAYS"), "yyyy-MM-dd HH:mm:ss").as("plus_days"),
        date_format(col("o_orderdate") - expr("INTERVAL 2 HOURS"), "yyyy-MM-dd HH:mm:ss").as("minus_hours"),
        date_format(col("o_orderdate") + expr("INTERVAL 1 MONTH"), "yyyy-MM-dd HH:mm:ss").as("plus_month"))
      .orderBy(col("o_orderkey"))

  // --- q47: LIKE / ILIKE / RLIKE pattern matching -------------------------
  def q47(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d)
      .select(col("p_partkey"), col("p_name"),
        col("p_name").like("%red%").as("has_red"),
        col("p_name").ilike("SMALL%").as("starts_small"),
        col("p_name").rlike("^[a-z]+ (bolt|widget)$").as("is_bw"))
      .filter(col("has_red") || col("starts_small") || col("is_bw"))
      .orderBy(col("p_partkey"))

  // --- q48: aggregate-of-aggregate nested subquery ------------------------
  def q48(s: SparkSession, d: String): DataFrame = {
    val perCust = Tables.orders(s, d)
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("n"))
    val avgN = perCust.agg(avg(col("n")).as("avg_n"))
    perCust.crossJoin(broadcast(avgN))
      .filter(col("n") > col("avg_n"))
      .select(col("o_custkey"), col("n"))
      .orderBy(col("o_custkey"))
  }

  // --- q49: inline VALUES / literal table join ----------------------------
  def q49(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val tiers = Seq(
      ("AUTOMOBILE", "retail"), ("BUILDING", "industrial"),
      ("FURNITURE", "retail"), ("HOUSEHOLD", "retail"),
      ("MACHINERY", "industrial")).toDF("c_mktsegment", "tier")
    Tables.customer(s, d)
      .join(broadcast(tiers), Seq("c_mktsegment"))
      .groupBy(col("tier"))
      .agg(count(lit(1)).as("n_cust"), dsum(col("c_acctbal")).as("total_bal"))
      .orderBy(col("tier"))
  }

  // --- q50: edit-distance similarity (Presto levenshtein_distance) -------
  def q50(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d)
      .filter(col("p_partkey") < 500)
      .select(col("p_partkey"), col("p_name"),
        levenshtein(col("p_name"), lit("promo burnished copper")).as("dist_ref"),
        levenshtein(col("p_brand"), col("p_type")).as("dist_bt"))
      .orderBy(col("p_partkey"))

  // --- q51: boolean aggregates (Presto bool_and/bool_or/count_if) ---------
  def q51(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(col("o_orderstatus"))
      .agg(
        bool_and(col("o_totalprice") > 1000).as("all_over_1k"),
        bool_or(col("o_orderpriority") === "1-URGENT").as("any_urgent"),
        count_if(col("o_totalprice") > 200000).as("n_big"))
      .orderBy(col("o_orderstatus"))

  // --- q52: linear-regression aggregates (Presto regr_slope/intercept) ----
  // Rounded: streaming-moment merge order differs across engines at ~1e-12
  // relative; slope/intercept are O(1e2..1e4) so 4dp absorbs it.
  def q52(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        round(regr_slope(col("l_extendedprice"), col("l_quantity")), 4).as("slope"),
        round(regr_intercept(col("l_extendedprice"), col("l_quantity")), 4).as("icept"),
        round(regr_r2(col("l_extendedprice"), col("l_quantity")), 6).as("r2"),
        regr_count(col("l_extendedprice"), col("l_quantity")).as("n"))
      .orderBy(col("l_returnflag"))

  // --- q53: value-position window functions with explicit frames ----------
  def q53(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
    val full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val trail = w.rowsBetween(-2, Window.currentRow)
    Tables.orders(s, d)
      .filter(col("o_custkey") < 50)
      .select(col("o_custkey"), col("o_orderkey"),
        first(col("o_totalprice")).over(full).as("first_price"),
        last(col("o_totalprice")).over(full).as("last_price"),
        nth_value(col("o_totalprice"), 2).over(full).as("second_price"),
        sum(col("o_totalprice").cast(DecimalType(18, 2))).over(trail)
          .cast("double").as("trail3_sum"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  // --- q54: multiset set ops (EXCEPT ALL / INTERSECT ALL) ------------------
  def q54(s: SparkSession, d: String): DataFrame = {
    val a = Tables.lineitem(s, d)
      .filter(col("l_orderkey") < 5000 && col("l_quantity") > 30).select(col("l_orderkey"))
    val b = Tables.lineitem(s, d)
      .filter(col("l_orderkey") < 5000 && col("l_returnflag") === "R").select(col("l_orderkey"))
    val ea = a.exceptAll(b).groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n")).withColumn("tag", lit("except_all"))
    val ia = a.intersectAll(b).groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n")).withColumn("tag", lit("intersect_all"))
    ea.unionByName(ia).select(col("tag"), col("l_orderkey"), col("n"))
      .orderBy(col("tag"), col("l_orderkey"))
  }

  // --- q55: higher-order array lambdas (transform/filter/aggregate) -------
  def q55(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_orderkey") < 300)
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_list(col("l_quantity").cast("int"))).as("arr"))
      .select(col("l_orderkey"),
        array_join(col("arr"), ",").as("qty_str"),
        expr("aggregate(transform(arr, x -> x * 2), 0D, (acc, x) -> acc + x)").as("doubled_sum"),
        expr("size(filter(arr, x -> x > 30))").as("n_big"),
        expr("aggregate(transform(arr, x -> x * x), 0D, (acc, x) -> acc + x)").as("sumsq"))
      .orderBy(col("l_orderkey"))

  // --- q56: CUBE grouping sets with grouping_id ---------------------------
  def q56(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(grouping_id().cast("int").as("gid"),
        count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("prio"),
        col("gid"), col("n"), col("total"))
      .orderBy(col("status"), col("prio"), col("gid"))

  // --- q57: customer order-count distribution (TPC-H Q13 shape) -----------
  // The left join keeps zero-order customers; the second aggregation builds
  // the histogram of per-customer counts.
  def q57(s: SparkSession, d: String): DataFrame = {
    val nonUrgent = Tables.orders(s, d).filter(!col("o_orderpriority").startsWith("1"))
    Tables.customer(s, d)
      .join(nonUrgent, col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count")).agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  // --- q58: nation-pair trade volume (TPC-H Q7 shape) ----------------------
  // Two aliases of the same dim joined independently (supplier vs customer
  // nation); both broadcast — the fact table never shuffles for the dims.
  def q58(s: SparkSession, d: String): DataFrame = {
    val n1 = Tables.nation(s, d)
      .select(col("n_nationkey").as("s_nkey"), col("n_name").as("supp_nation"))
    val n2 = Tables.nation(s, d)
      .select(col("n_nationkey").as("c_nkey"), col("n_name").as("cust_nation"))
    Tables.lineitem(s, d)
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.supplier(s, d)), col("l_suppkey") === col("s_suppkey"))
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(broadcast(n1), col("s_nationkey") === col("s_nkey"))
      .join(broadcast(n2), col("c_nationkey") === col("c_nkey"))
      .filter(col("supp_nation") < col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"), year(col("l_shipdate")).as("yr"))
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6).as("revenue"))
      .orderBy(col("supp_nation"), col("cust_nation"), col("yr"))
  }

  // --- q59: OR-of-ANDs predicate (TPC-H Q19 shape) -------------------------
  // The disjunction of conjunctions exercises Catalyst's CNF conversion:
  // the common l_partkey=p_partkey stays a join key and the brand/size/qty
  // bounds partially push to both scans.
  def q59(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .join(broadcast(Tables.part(s, d)), col("l_partkey") === col("p_partkey"))
      .filter(
        (col("p_brand") === "Brand#12" && col("l_quantity").between(1, 11) && col("p_size").between(1, 5)) ||
        (col("p_brand") === "Brand#23" && col("l_quantity").between(10, 20) && col("p_size").between(1, 10)) ||
        (col("p_brand") === "Brand#34" && col("l_quantity").between(20, 30) && col("p_size").between(1, 15)))
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6).as("revenue"),
        count(lit(1)).as("n"))

  // --- q60: base conversion + string formatting (Presto to_base/format) ----
  def q60(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .filter(col("o_orderkey") < 400)
      .select(col("o_orderkey"),
        hex(col("o_orderkey")).as("okey_hex"),
        bin(col("o_orderkey")).as("okey_bin"),
        conv(col("o_orderkey").cast("string"), 10, 36).as("okey_b36"),
        format_string("ORD-%06d", col("o_orderkey")).as("okey_fmt"),
        translate(col("o_orderstatus"), "FOP", "fop").as("status_lc"),
        lpad(col("o_orderpriority"), 15, ".").as("prio_pad"))
      .orderBy(col("o_orderkey"))

  // --- q61: sorted listagg per group (Presto array_agg→array_join) ---------
  def q61(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(col("o_orderstatus"))
      .agg(
        array_join(array_sort(collect_set(col("o_orderpriority"))), ",").as("prios"),
        countDistinct(col("o_custkey")).as("n_cust"))
      .orderBy(col("o_orderstatus"))

  // --- q62: string splitting/position functions (Presto split_part) --------
  def q62(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .filter(col("c_custkey") < 300)
      .select(col("c_custkey"),
        split_part(col("c_name"), lit("#"), lit(2)).as("name_num"),
        instr(col("c_name"), "#").as("hash_pos"),
        reverse(col("c_name")).as("name_rev"),
        expr("repeat('*', int(c_nationkey % 5 + 1))").as("stars"))
      .orderBy(col("c_custkey"))

  // --- q63: calendar arithmetic (datediff/last_day/add_months/quarter) -----
  def q63(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .filter(col("o_orderkey") < 400)
      .select(col("o_orderkey"),
        datediff(lit("2002-01-01").cast("date"), col("o_orderdate").cast("date")).as("days_to_2002"),
        date_format(last_day(col("o_orderdate")), "yyyy-MM-dd").as("month_end"),
        date_format(add_months(col("o_orderdate"), 3), "yyyy-MM-dd").as("plus3mo"),
        quarter(col("o_orderdate")).as("qtr"),
        date_format(date_trunc("week", col("o_orderdate")), "yyyy-MM-dd").as("week_start"))
      .orderBy(col("o_orderkey"))

  // --- q64: transcendental math (trig/log/exp families) -------------------
  // Rounded 6dp: Java StrictMath and C libm agree to ~2 ulp; rounding
  // absorbs the cross-runtime last-digit jitter.
  def q64(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .filter(col("o_orderkey") < 500)
      .select(col("o_orderkey"),
        round(sin(col("o_totalprice") / 100000.0), 6).as("sin_p"),
        round(atan2(col("o_totalprice"), col("o_orderkey").cast("double")), 6).as("atan2_pk"),
        round(degrees(col("o_totalprice") / 100000.0), 6).as("deg_p"),
        round(log10(col("o_totalprice")), 6).as("log10_p"),
        round(cbrt(col("o_totalprice")), 6).as("cbrt_p"),
        round(exp(col("o_totalprice") / 500000.0), 6).as("exp_p"))
      .orderBy(col("o_orderkey"))

  // --- q65: array function family (position/slice/distinct/contains) ------
  def q65(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_orderkey") < 200)
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_list(col("l_quantity").cast("int"))).as("arr"))
      .select(col("l_orderkey"),
        array_position(col("arr"), 25).as("pos25"),
        array_join(slice(col("arr"), 2, 2), ",").as("mid2"),
        array_join(array_distinct(col("arr")), ",").as("uniq"),
        array_contains(col("arr"), 30).as("has30"),
        size(col("arr")).as("n"))
      .orderBy(col("l_orderkey"))

  // --- q66: regex capture groups / backreference replace ------------------
  def q66(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .filter(col("c_custkey") < 300)
      .select(col("c_custkey"),
        regexp_replace(col("c_name"), "(Customer)#(\\d+)", "$2@$1").as("swapped"),
        regexp_extract(col("c_name"), "#(\\d+)", 1).as("num_part"),
        regexp_count(col("c_name"), lit("0")).as("n_zeros"))
      .orderBy(col("c_custkey"))

  // --- q67: char/ascii + containment predicates ---------------------------
  def q67(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d)
      .filter(col("p_partkey") < 300)
      .select(col("p_partkey"),
        ascii(substring(col("p_name"), 1, 1)).as("first_code"),
        expr("char(p_partkey % 26 + 65)").as("letter"),
        contains(col("p_name"), lit("red")).as("has_red"),
        startswith(col("p_name"), lit("small")).as("is_small"),
        endswith(col("p_name"), lit("bolt")).as("is_bolt"))
      .orderBy(col("p_partkey"))

  // --- q68: histogram aggregate rendered as canonical JSON ----------------
  // Presto histogram() returns map<K,bigint>; the map is built key-sorted
  // so the JSON rendering is deterministic on both engines.
  def q68(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(col("o_orderstatus"), col("o_orderpriority")).count()
      .groupBy(col("o_orderstatus"))
      .agg(to_json(map_from_entries(sort_array(collect_list(
        struct(col("o_orderpriority"), col("count")))))).as("prio_hist"))
      .orderBy(col("o_orderstatus"))

  // --- q69: cheapest-supplier-per-part correlated min (TPC-H Q2 shape) ----
  // partsupp doesn't exist in this schema; lineitem plays its role. The
  // min-price subquery joins back on (partkey, price) — the classic
  // decorrelated aggregate topology.
  def q69(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).filter(col("l_partkey") < 100)
      .select(col("l_partkey"), col("l_suppkey"), col("l_extendedprice"))
    val m = li.groupBy(col("l_partkey"))
      .agg(min(col("l_extendedprice")).as("min_price"))
      .withColumnRenamed("l_partkey", "m_partkey")
    li.join(m, col("l_partkey") === col("m_partkey") &&
        col("l_extendedprice") === col("min_price"))
      .groupBy(col("l_partkey"))
      .agg(min(col("min_price")).as("min_price"), min(col("l_suppkey")).as("best_supp"))
      .orderBy(col("l_partkey"))
  }

  // --- q70: combined EXISTS + NOT EXISTS (TPC-H Q21 shape) ----------------
  def q70(s: SparkSession, d: String): DataFrame = {
    val cust = Tables.customer(s, d).filter(col("c_custkey") < 500)
    val urgent = Tables.orders(s, d).filter(col("o_orderpriority") === "1-URGENT")
    val bigF = Tables.orders(s, d)
      .filter(col("o_orderstatus") === "F" && col("o_totalprice") > 300000)
    cust
      .join(urgent, col("c_custkey") === urgent("o_custkey"), "left_semi")
      .join(bigF, col("c_custkey") === bigF("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))
  }

  // --- q71: time-RANGE window frame (trailing 30 days by value) -----------
  // RANGE (not ROWS) frames are tie-stable: all rows within the interval
  // participate regardless of physical order, so a decimal sum is exact.
  def q71(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .filter(col("o_custkey") < 30)
      .select(col("o_custkey"), col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
        expr("""CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
                  PARTITION BY o_custkey ORDER BY o_orderdate
                  RANGE BETWEEN INTERVAL 30 DAYS PRECEDING AND CURRENT ROW)
                AS DOUBLE)""").as("trail30_sum"))
      .orderBy(col("o_custkey"), col("o_orderkey"))

  // --- q72: UNPIVOT wide→long (Presto/ANSI UNPIVOT) -----------------------
  def q72(s: SparkSession, d: String): DataFrame =
    q40(s, d) // (yr, F, O, P) wide counts
      .unpivot(Array(col("yr")), Array(col("F"), col("O"), col("P")), "status", "n")
      .orderBy(col("yr"), col("status"))

  // --- q73: generated date spine + left join (gap-filling calendar) -------
  // The canonical "report every month even with zero activity" topology:
  // the spine is generated (never scanned), the fact side aggregates before
  // the join, so the join is spine-size × 1.
  def q73(s: SparkSession, d: String): DataFrame = {
    val spine = s.range(1)
      .select(explode(expr(
        """sequence(TIMESTAMP '1995-01-01 00:00:00',
                    TIMESTAMP '2001-08-01 00:00:00', INTERVAL 1 MONTH)""")).as("m"))
    val monthly = Tables.orders(s, d)
      .groupBy(date_trunc("month", col("o_orderdate")).as("m"))
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("total"))
    spine.join(monthly, Seq("m"), "left")
      .select(date_format(col("m"), "yyyy-MM-dd").as("month"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"),
        coalesce(col("total"), lit(0.0)).as("total"))
      .orderBy(col("month"))
  }

  // --- q74: null-safe equality join (<=> / IS NOT DISTINCT FROM) ----------
  def q74(s: SparkSession, d: String): DataFrame = {
    val base = Tables.customer(s, d).filter(col("c_custkey") < 200)
      .select(col("c_custkey"), nullif(col("c_nationkey") % 5, lit(0)).as("grp"))
    val a = base.select(col("c_custkey").as("id_a"), col("grp").as("grp_a"))
    val b = base.select(col("c_custkey").as("id_b"), col("grp").as("grp_b"))
    a.join(b, col("grp_a") <=> col("grp_b"))
      .groupBy(coalesce(col("grp_a"), lit(-1)).as("grp"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("grp"))
  }

  // --- q75: bitwise aggregates (bit_and/bit_or/bit_xor) -------------------
  def q75(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        bit_and(col("l_orderkey")).as("and_key"),
        bit_or(col("l_orderkey")).as("or_key"),
        bit_xor(col("l_orderkey")).as("xor_key"))
      .orderBy(col("l_returnflag"))

  // --- q76: explicit GROUPING SETS through the SQL front door --------------
  // The engine's SQL surface (what the reference's presto CLI serves): a
  // registered view + spark.sql, with grouping sets beyond rollup/cube.
  def q76(s: SparkSession, d: String): DataFrame = {
    Tables.orders(s, d).createOrReplaceTempView("orders_v")
    s.sql("""
      SELECT COALESCE(o_orderstatus, 'ALL') AS status,
             COALESCE(o_orderpriority, 'ALL') AS prio,
             COUNT(*) AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM orders_v
      GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
      ORDER BY status, prio""")
  }

  // --- q77: latest-record-per-key compaction (row_number = 1 idiom) --------
  // The upsert/compaction pattern every incremental pipeline runs: keep the
  // newest order per customer. TakeOrdered-per-key via ranked window.
  def q77(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
    Tables.orders(s, d)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("o_custkey"), col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("latest_date"),
        col("o_totalprice"))
      .orderBy(col("o_custkey"))
  }

  // --- q78: market-share conditional ratio (TPC-H Q8 shape) ---------------
  def q78(s: SparkSession, d: String): DataFrame = {
    val rev = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
    val custNation = Tables.nation(s, d)
      .join(Tables.region(s, d), col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name") === "ASIA")
      .select(col("n_nationkey").as("cn_key"))
    val suppNation = Tables.nation(s, d)
      .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))
    Tables.lineitem(s, d)
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(broadcast(custNation), col("c_nationkey") === col("cn_key"))
      .join(broadcast(Tables.supplier(s, d)), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(suppNation), col("s_nationkey") === col("sn_key"))
      .groupBy(year(col("o_orderdate")).as("yr"))
      .agg((dsum(when(col("supp_nation") === "NATION_5", rev).otherwise(lit(0.0)), 6) /
        dsum(rev, 6)).as("mkt_share"))
      .orderBy(col("yr"))
  }

  // --- q79: returned-item revenue ranking (TPC-H Q10 shape) ---------------
  def q79(s: SparkSession, d: String): DataFrame = {
    val rev = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
    Tables.lineitem(s, d).filter(col("l_returnflag") === "R")
      .join(Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-07-01").cast("timestamp")),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
      .agg(dsum(rev, 6).as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  // --- q80: excluded-supplier distinct counting (TPC-H Q16 shape) ---------
  def q80(s: SparkSession, d: String): DataFrame = {
    val excluded = Tables.supplier(s, d)
      .filter(col("s_acctbal") < 100).select(col("s_suppkey"))
    Tables.lineitem(s, d)
      .join(broadcast(Tables.part(s, d)), col("l_partkey") === col("p_partkey"))
      .filter(col("p_brand") =!= "Brand#45" &&
        !col("p_type").startsWith("MEDIUM") &&
        col("p_size").isin(1, 5, 9, 14, 19, 23, 36, 49))
      .join(excluded, col("l_suppkey") === col("s_suppkey"), "left_anti")
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("p_size"))
  }

  // --- q81: correlated half-sum IN subquery (TPC-H Q20 shape) -------------
  def q81(s: SparkSession, d: String): DataFrame = {
    val bigShippers = Tables.lineitem(s, d)
      .join(broadcast(Tables.part(s, d).filter(col("p_name").contains("red"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_suppkey"))
      .agg(dsum(col("l_quantity")).as("qty"))
      .filter(col("qty") > 500)
      .select(col("l_suppkey"))
    Tables.supplier(s, d)
      .join(bigShippers, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .select(col("s_suppkey"), col("s_name"))
      .orderBy(col("s_suppkey"))
  }

  // --- q82: lag/lead with defaults and IGNORE NULLS -----------------------
  def q82(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(s, d)
      .filter(col("user_id") < 10)
      .withColumn("click_val",
        when(col("event_type") === "click", col("value")))
      .select(col("event_id"), col("user_id"),
        lag(col("value"), 1, -1.0).over(w).as("prev_or_neg1"),
        lead(col("value"), 1, -1.0).over(w).as("next_or_neg1"),
        lag(col("click_val"), 1, null, ignoreNulls = true).over(w).as("prev_click"))
      .orderBy(col("user_id"), col("event_id"))
  }

  // --- q83: JSON array functions (length + indexed path extraction) -------
  def q83(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .filter(col("o_orderkey") < 400)
      .withColumn("j", concat(lit("{\"ks\":["), col("o_orderkey"), lit(","),
        col("o_custkey"), lit(","), col("o_custkey") % 7, lit("]}")))
      .select(col("o_orderkey"),
        json_array_length(get_json_object(col("j"), "$.ks")).as("n_elems"),
        get_json_object(col("j"), "$.ks[1]").as("second"),
        get_json_object(col("j"), "$.ks[2]").as("third"))
      .orderBy(col("o_orderkey"))

  // --- q84: explode_outer (null-preserving UNNEST) -------------------------
  // Rows whose array filters to empty must survive with NULL — the outer
  // unnest semantics Presto's CROSS JOIN UNNEST ... ON TRUE provides.
  def q84(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_orderkey") < 200)
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_list(col("l_quantity").cast("int"))).as("arr"))
      .select(col("l_orderkey"),
        explode_outer(filter(col("arr"), x => x > 48)).as("big_qty"))
      .orderBy(col("l_orderkey"), col("big_qty"))

  // --- q85: time-zone conversion (from/to UTC wall time) -------------------
  def q85(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .filter(col("o_orderkey") < 400)
      .select(col("o_orderkey"),
        date_format(from_utc_timestamp(col("o_orderdate"), "America/New_York"),
          "yyyy-MM-dd HH:mm:ss").as("ny_wall"),
        date_format(to_utc_timestamp(col("o_orderdate"), "Asia/Tokyo"),
          "yyyy-MM-dd HH:mm:ss").as("tokyo_as_utc"))
      .orderBy(col("o_orderkey"))

  // --- q86: group share vs global-scalar HAVING (TPC-H Q11 shape) ---------
  def q86(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val threshold = li.agg((dsum(col("l_extendedprice")) * lit(0.0007)).as("threshold"))
    li.groupBy(col("l_partkey"))
      .agg(dsum(col("l_extendedprice")).as("value"))
      .crossJoin(broadcast(threshold))
      .filter(col("value") > col("threshold"))
      .select(col("l_partkey"), col("value"))
      .orderBy(col("value").desc, col("l_partkey"))
  }

  // --- q87: ratio-to-report (window over the AGGREGATED frame) ------------
  // The global window runs on the tiny post-aggregation frame (one row per
  // status), never the fact table — the scalable form of "share of total".
  def q87(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(col("o_orderstatus"))
      .agg(dsum(col("o_totalprice")).as("total"))
      .select(col("o_orderstatus"), col("total"),
        round(col("total") / sum(col("total")).over(Window.partitionBy()), 6).as("share"))
      .orderBy(col("o_orderstatus"))

  // --- q88: width_bucket with explicit thresholds (Presto array form) -----
  // Spark lacks width_bucket(x, array); size(filter(bins, b -> b <= x))
  // composes it from codegen'd array lambdas.
  def q88(s: SparkSession, d: String): DataFrame = {
    val bins = array(lit(1000.0), lit(50000.0), lit(100000.0), lit(250000.0), lit(400000.0))
    Tables.orders(s, d)
      .select(size(filter(bins, b => b <= col("o_totalprice"))).as("bucket"),
        col("o_totalprice"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
      .orderBy(col("bucket"))
  }

  // --- q89: epoch seconds round-trip (Presto to_unixtime/from_unixtime) ---
  def q89(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .filter(col("o_orderkey") < 400)
      .select(col("o_orderkey"),
        unix_timestamp(col("o_orderdate")).as("epoch_s"),
        date_format(to_timestamp(unix_timestamp(col("o_orderdate"))),
          "yyyy-MM-dd HH:mm:ss").as("roundtrip"))
      .orderBy(col("o_orderkey"))

  // --- q90: cryptographic digest functions (md5/sha256) -------------------
  def q90(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .filter(col("c_custkey") < 300)
      .select(col("c_custkey"),
        md5(col("c_name")).as("name_md5"),
        sha2(col("c_name"), 256).as("name_sha256"))
      .orderBy(col("c_custkey"))

  // --- q91: order-independent checksum aggregate (Presto checksum()) ------
  // Spark has no checksum(); graft composes it: native codegen hash64 per
  // row, bit_xor to combine — XOR is commutative/associative, so the
  // result is identical for any row order or partitioning.
  def q91(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .groupBy(col("c_mktsegment"))
      .agg(
        bit_xor(graft.functions.GraftFunctions.hash64(col("c_name"))).as("name_checksum"),
        count(lit(1)).as("n"))
      .orderBy(col("c_mktsegment"))

  // --- q92: heavy hitters per group (Presto approx_most_frequent) ---------
  // approx_top_k with k >= distinct values is exact and merge-order-proof;
  // the explode + deterministic re-sort pins the output order.
  def q92(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(col("o_orderstatus"))
      .agg(expr("approx_top_k(o_orderpriority, 5)").as("tk"))
      .select(col("o_orderstatus"), explode(col("tk")).as("e"))
      .select(col("o_orderstatus"), col("e.item").as("prio"), col("e.count").as("n"))
      .orderBy(col("o_orderstatus"), col("n").desc, col("prio"))

  // --- q93: correlated scalar subquery in the SELECT list ------------------
  // Catalyst decorrelates this into a left outer aggregate join — the plan
  // a user writes naively in SQL still executes as one distributed join.
  def q93(s: SparkSession, d: String): DataFrame = {
    Tables.customer(s, d).createOrReplaceTempView("customer_v")
    Tables.orders(s, d).createOrReplaceTempView("orders_v")
    s.sql("""
      SELECT c_custkey,
        (SELECT COUNT(*) FROM orders_v WHERE o_custkey = c_custkey) AS n_orders,
        (SELECT MAX(o_totalprice) FROM orders_v WHERE o_custkey = c_custkey) AS max_price
      FROM customer_v WHERE c_custkey < 200
      ORDER BY c_custkey""")
  }

  // --- q94: product-line profit by nation and year (TPC-H Q9 shape) -------
  // partsupp has no analog here; supply cost is proxied from the part's
  // retail price, keeping the join/aggregation topology identical.
  def q94(s: SparkSession, d: String): DataFrame = {
    val profit = col("l_extendedprice") * (lit(1.0) - col("l_discount")) -
      col("p_retailprice") * lit(0.6) * col("l_quantity")
    Tables.lineitem(s, d)
      .join(broadcast(Tables.part(s, d).filter(col("p_name").contains("blue"))),
        col("l_partkey") === col("p_partkey"))
      .join(broadcast(Tables.supplier(s, d)), col("l_suppkey") === col("s_suppkey"))
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"), year(col("o_orderdate")).as("yr"))
      .agg(dsum(profit, 6).as("profit"))
      .orderBy(col("nation"), col("yr").desc)
  }

  // --- q95: shipping-priority mode counts (TPC-H Q12 shape) ---------------
  // l_linestatus plays the ship-mode role (the schema has no l_shipmode);
  // the CASE-counting join topology is Q12's.
  def q95(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_linestatus"))
      .agg(
        count(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1)).as("high_line_count"),
        count(when(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1)).as("low_line_count"))
      .orderBy(col("l_linestatus"))

  // --- q96: top-revenue supplier via derived view + max (TPC-H Q15) -------
  def q96(s: SparkSession, d: String): DataFrame = {
    val revenue = Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-04-01").cast("timestamp"))
      .groupBy(col("l_suppkey"))
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6).as("total_revenue"))
    val best = revenue.agg(max(col("total_revenue")).as("max_revenue"))
    Tables.supplier(s, d)
      .join(revenue, col("s_suppkey") === col("l_suppkey"))
      .crossJoin(broadcast(best))
      .filter(col("total_revenue") === col("max_revenue"))
      .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
      .orderBy(col("s_suppkey"))
  }

  // --- q99: map function family (Presto map_from_entries / map_filter /
  // transform_values / map_keys) — per-status priority->share map,
  // low-share entries filtered, emitted as a canonical sorted string ----
  def q99(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("o_orderstatus"))
      .agg(
        map_from_entries(array_sort(collect_list(struct(col("o_orderpriority"), col("n")))))
          .as("m"),
        sum(col("n")).as("total"))
      .select(col("o_orderstatus"),
        map_filter(
          transform_values(col("m"), (_, v) => round(v / col("total"), 4)),
          (_, share) => share >= 0.15).as("big"))
      .select(col("o_orderstatus"),
        size(col("big")).as("n_big"),
        array_join(
          transform(map_entries(col("big")),
            e => concat(e.getField("key"), lit("="),
              format_number(e.getField("value"), 4))),
          ",").as("shares"))
      .orderBy(col("o_orderstatus"))

  // --- q100: zip/sequence array family (Presto zip/zip_with/sequence) —
  // position-tag the words of p_name, keep the first three --------------
  def q100(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d)
      .filter(col("p_partkey") <= 300)
      .select(col("p_partkey"), split(col("p_name"), " ").as("w"))
      .select(col("p_partkey"),
        size(col("w")).as("n_words"),
        array_join(
          slice(zip_with(col("w"), sequence(lit(1), size(col("w"))),
            (x, i) => concat(i, lit("-"), x)), 1, 3),
          ",").as("tagged"))
      .orderBy(col("p_partkey"))

  // --- q101: struct/row comparison (Presto ROW ordering) — min/max of a
  // (price, key) struct is the one-pass argmin/argmax idiom: structs
  // compare lexicographically, so the extreme row's fields come back
  // without a window or self-join ---------------------------------------
  def q101(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(col("o_orderstatus"))
      .agg(
        min(struct(col("o_totalprice"), col("o_orderkey"))).as("lo"),
        max(struct(col("o_totalprice"), col("o_orderkey"))).as("hi"),
        count(lit(1)).as("n"))
      .select(col("o_orderstatus"), col("n"),
        round(col("lo.o_totalprice"), 2).as("min_price"),
        col("lo.o_orderkey").as("min_key"),
        round(col("hi.o_totalprice"), 2).as("max_price"),
        col("hi.o_orderkey").as("max_key"))
      .orderBy(col("o_orderstatus"))

  // --- q102: array set algebra (Presto array_intersect/union/except/
  // arrays_overlap/flatten) over adjacent part-name word sets; all arrays
  // sorted before emission so set semantics, not element order, is what
  // the oracle hashes ----------------------------------------------------
  def q102(s: SparkSession, d: String): DataFrame = {
    val parts = Tables.part(s, d)
      .filter(col("p_partkey") <= 300)
      .select(col("p_partkey"), array_distinct(split(col("p_name"), " ")).as("w"))
    parts.as("a")
      .join(parts.as("b"), col("b.p_partkey") === col("a.p_partkey") + 1)
      .select(
        col("a.p_partkey").as("p_partkey"),
        size(flatten(array(col("a.w"), col("b.w")))).as("n_total"),
        size(array_intersect(col("a.w"), col("b.w"))).as("n_common"),
        size(array_except(col("a.w"), col("b.w"))).as("n_only_a"),
        arrays_overlap(col("a.w"), col("b.w")).as("overlaps"),
        array_join(array_sort(array_union(col("a.w"), col("b.w"))), ",").as("union_words"))
      .orderBy(col("p_partkey"))
  }

  // --- q103: exact decimal arithmetic (Presto is decimal-first) — the
  // price*(1-disc)*(1+tax) charge chain with EXPLICIT intermediate scales
  // so every engine computes the identical exact decimal; emitted as
  // strings to pin scale as well as value --------------------------------
  def q103(s: SparkSession, d: String): DataFrame = {
    // every step is EXACT (scales only grow: 2 -> 4 -> 6, no lossy
    // downcast), because engines disagree on decimal rounding modes
    // (Spark HALF_UP vs DuckDB half-to-even) but agree on exact arithmetic
    val dp = col("l_extendedprice").cast(DecimalType(12, 2))
    val dd = col("l_discount").cast(DecimalType(4, 2))
    val dt = col("l_tax").cast(DecimalType(4, 2))
    val net = (dp * (lit(1).cast(DecimalType(3, 2)) - dd)).cast(DecimalType(14, 4))
    val charge = (net * (lit(1).cast(DecimalType(3, 2)) + dt)).cast(DecimalType(18, 6))
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        sum(charge).cast(DecimalType(24, 6)).as("sum_charge"),
        min(charge).as("min_charge"),
        max(charge).as("max_charge"))
      .select(col("l_returnflag"), col("n"),
        col("sum_charge").cast("string").as("sum_charge"),
        col("min_charge").cast("string").as("min_charge"),
        col("max_charge").cast("string").as("max_charge"))
      .orderBy(col("l_returnflag"))
  }

  // --- q104: approx_percentile (Presto's workhorse quantile) — KLL/GK
  // sketches are engine-defined, so no cross-engine oracle exists (driver
  // records rows-only, like q09/HLL); RelationalSpec bounds the estimate
  // against the exact percentile instead ---------------------------------
  def q104(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(percentile_approx(col("l_extendedprice"),
        array(lit(0.5), lit(0.9), lit(0.99)), lit(10000)).as("pcts"))
      .select(col("l_returnflag"),
        round(col("pcts").getItem(0), 2).as("p50"),
        round(col("pcts").getItem(1), 2).as("p90"),
        round(col("pcts").getItem(2), 2).as("p99"))
      .orderBy(col("l_returnflag"))

  // --- q105: conditional scalar family — greatest/least across columns,
  // if(), nullif-guarded ratio ------------------------------------------
  def q105(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_orderkey") <= 100)
      .select(col("l_orderkey"), col("l_linenumber"),
        round(greatest(col("l_quantity"), col("l_discount") * 100, col("l_tax") * 100), 2)
          .as("hi"),
        round(least(col("l_quantity"), col("l_discount") * 100, col("l_tax") * 100), 2)
          .as("lo"),
        when(col("l_quantity") > 25, "bulk").otherwise("small").as("bucket"),
        // explicit floor(x·10⁴ + 0.5)/10⁴ instead of round(x, 4): the
        // quotient lands exactly on a half-boundary for some rows (found
        // at sf0.1), where Java's BigDecimal HALF_UP and DuckDB's
        // multiply-based round disagree by 1 ulp — this form is pure IEEE
        // ops, identical on any engine (the a04 tie-pinning discipline)
        (floor(col("l_extendedprice") / nullif(col("l_quantity"), lit(0.0)) *
          10000d + 0.5d) / 10000d).as("unit_price"))
      // total order over ALL output columns: key ties exist in the data
      // (r15 sf1.0 gate); NULLS FIRST pinned — DuckDB defaults NULLS LAST
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("hi"), col("lo"),
        col("bucket"), asc_nulls_first("unit_price"))

  // --- q106: re-aggregatable distinct sketches (Presto approx_set +
  // merge(HLL)) — the pattern that makes distinct counts MERGEABLE across
  // partitions/days at 100 TB: build per-group sketches once, union them
  // for any rollup without rescanning. Rows-only like q09 (sketch
  // internals are engine-defined); IncrementalSpec bounds the estimates
  // against exact distinct counts ----------------------------------------
  def q106(s: SparkSession, d: String): DataFrame = {
    val cust = Tables.customer(s, d)
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
    val perNation = cust.groupBy(col("n_name"))
      .agg(expr("hll_sketch_agg(c_custkey, 14)").as("sk"))
    val nations = perNation.select(col("n_name").as("scope"),
      expr("hll_sketch_estimate(sk)").as("est_distinct"))
    val global = perNation.agg(expr("hll_union_agg(sk)").as("u"))
      .select(lit("ALL").as("scope"), expr("hll_sketch_estimate(u)").as("est_distinct"))
    nations.unionByName(global).orderBy(col("scope"))
  }

  // --- q107: geometric mean (Presto builtin Spark lacks) via the graft
  // native DeclarativeAggregate — algebraic (sumLog, n) buffer, so partial
  // aggregation and codegen apply exactly as for built-in aggregates -----
  def q107(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        round(graft.functions.GraftFunctions.geometricMean(col("l_extendedprice")), 4)
          .as("geo_price"),
        round(graft.functions.GraftFunctions.geometricMean(col("l_quantity")), 4)
          .as("geo_qty"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag"))

  // --- q108: deterministic TABLESAMPLE ----------------------------------
  // Presto's `TABLESAMPLE BERNOULLI(10)` draws rows by RNG. Spark's
  // seeded df.sample(fraction, seed) is NOT the engine form of that: its
  // RNG is applied per partition in row-arrival order, so the kept set
  // changes whenever the partition layout does — a different cluster, an
  // AQE coalesce, or a re-read after a shuffle all sample DIFFERENT rows
  // under the same seed. The engine's sampling operator is a hash
  // threshold on the stable key instead (the same multiplicative scatter
  // as pipeline/Splits.splitLabel): ~10% of rows, bit-reproducible on any
  // layout, SQL-replayable by the oracle, and a pure narrow filter that
  // evaluates inside the scan — no shuffle, no RNG state, pushdown-able.
  def q108(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .filter(pmod(col("o_orderkey") * lit(69069L) + lit(12345L),
        lit(1048576L)) < lit(104858L))
      .groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n_sampled"),
        sum(col("o_orderkey")).as("key_checksum"),
        dsum(col("o_totalprice")).as("sampled_value"))
      .orderBy(col("o_orderpriority"))

  /** q109: Wilson score confidence interval — Presto's
    * `wilson_interval_lower/upper` (presto 0.248 math functions), the
    * ranking statistic for proportions ("sort by lower bound of the
    * rating"). Per return flag: the share of high-quantity lineitems with
    * its 95% Wilson bounds. One partial-aggregated scan; the interval
    * arithmetic is pure IEEE scalar math on exact counts, so both engines
    * compute bit-identical doubles before the 6dp round. */
  def q109(s: SparkSession, d: String): DataFrame = {
    val z = lit(1.96)
    val n = col("n").cast("double")
    val p = col("k").cast("double") / n
    val denom = lit(1.0) + z * z / n
    val center = p + z * z / (n * 2)
    val margin = z * sqrt(p * (lit(1.0) - p) / n + z * z / (n * n * 4))
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("l_quantity") > 25, 1L).otherwise(0L)).as("k"))
      .select(col("l_returnflag"), col("n"), col("k"),
        round(p, 6).as("p_hat"),
        round((center - margin) / denom, 6).as("wilson_lower"),
        round((center + margin) / denom, 6).as("wilson_upper"))
      .orderBy(col("l_returnflag"))
  }

  /** q110: NTILE quartiles (Presto window function family): per market
    * segment, customers bucketed into account-balance quartiles with
    * per-bucket stats. The standard-SQL ntile definition (larger buckets
    * first) is identical in both engines; ordering carries a c_custkey
    * tie-break so equal balances can't straddle a bucket boundary
    * differently per engine. */
  def q110(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("c_mktsegment")).orderBy(col("c_acctbal"), col("c_custkey"))
    Tables.customer(s, d)
      .select(col("c_mktsegment"), col("c_acctbal"), ntile(4).over(w).as("quartile"))
      .groupBy(col("c_mktsegment"), col("quartile"))
      .agg(count(lit(1)).as("n"),
        round(min(col("c_acctbal")), 2).as("min_bal"),
        round(max(col("c_acctbal")), 2).as("max_bal"))
      .orderBy(col("c_mktsegment"), col("quartile"))
  }

  /** q111: gaps-and-islands — per user, runs of consecutive active days
    * (the classic streak/tenure SQL shape Presto serves constantly). The
    * date-minus-row_number anchor groups each run; one user shuffle, one
    * distinct, no self-join. */
  def q111(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("day"))
    val runs = Tables.events(s, d)
      .filter(col("user_id") < 100)
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
      .withColumn("anchor", date_sub(col("day"), row_number().over(w)))
      .groupBy(col("user_id"), col("anchor"))
      .agg(count(lit(1)).as("run_len"))
    runs.groupBy(col("user_id"))
      .agg(sum(col("run_len")).as("n_days"),
        count(lit(1)).as("n_islands"),
        max(col("run_len")).as("max_run"))
      .orderBy(col("user_id"))
  }

  /** q112: skewness/kurtosis (Presto's `skewness`/`kurtosis` statistical
    * aggregates) computed from exact integer power sums (n, Σx, Σx², Σx³,
    * Σx⁴) with the closed-form central-moment identities. The builtin
    * CentralMomentAgg accumulates doubles merge-order-dependently (fine
    * numerically, unstable for a cross-engine hash), while the algebraic
    * power-sum form is exact, perfectly map-side combinable (one partial
    * agg, five BIGINT cells per group — the textbook distributed-moments
    * shape), and the final double arithmetic uses only IEEE-correctly-
    * rounded ops (*, /, sqrt — no pow, whose libm rounding differs across
    * runtimes), so the oracle replays it bit-for-bit. RelationalSpec pins
    * the closed form to Spark's builtin definition within 1e-6:
    * skewness = √n·m₃/√m₂³, kurtosis = n·m₄/m₂² − 3 (population, as both
    * Spark and Presto define them). */
  def q112(s: SparkSession, d: String): DataFrame = {
    val agged = Tables.lineitem(s, d)
      .select(col("l_returnflag"), col("l_quantity").cast("long").as("q"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(col("q")).as("s1"),
        sum(col("q") * col("q")).as("s2"),
        sum(col("q") * col("q") * col("q")).as("s3"),
        sum(col("q") * col("q") * col("q") * col("q")).as("s4"))
    val nD = col("n").cast("double")
    val mu = col("s1").cast("double") / nD
    val m2 = col("s2").cast("double") - col("s1").cast("double") * mu
    val m3 = col("s3").cast("double") - lit(3.0) * mu * col("s2").cast("double") +
      lit(2.0) * nD * mu * mu * mu
    val m4 = col("s4").cast("double") - lit(4.0) * mu * col("s3").cast("double") +
      lit(6.0) * mu * mu * col("s2").cast("double") - lit(3.0) * nD * mu * mu * mu * mu
    agged.select(col("l_returnflag"), col("n"),
      round(mu, 6).as("mean_qty"),
      round(sqrt(nD) * m3 / sqrt(m2 * m2 * m2), 6).as("skew_qty"),
      round(nD * m4 / (m2 * m2) - lit(3.0), 6).as("kurt_qty"))
      .orderBy(col("l_returnflag"))
  }

  /** q113: multimap_agg (Presto) — map key → ALL values per key, not just
    * the last one like map_agg. Per return flag: l_linestatus → the list
    * of its per-ship-year lineitem counts. Presto's multimap keeps arrival
    * order, which no distributed engine can reproduce, so the canonical
    * emission sorts keys and values (the q37 map_agg / q68 histogram
    * discipline) and serializes to one string both engines hash stably.
    * Two partial-aggregated shuffles over shrinking frames (year rollup →
    * per-key lists); the collect_list runs over the tiny aggregate, never
    * raw lineitem rows. */
  def q113(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"), col("l_linestatus"),
        year(col("l_shipdate")).as("yr"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(sort_array(collect_list(col("cnt"))).as("vals"))
      .groupBy(col("l_returnflag"))
      .agg(sort_array(collect_list(struct(col("l_linestatus"), col("vals")))).as("es"))
      .select(col("l_returnflag"),
        size(col("es")).as("n_keys"),
        expr("""concat_ws('|', transform(es, e ->
          concat(e.l_linestatus, ':[',
            array_join(transform(e.vals, v -> CAST(v AS STRING)), ','), ']')))""")
          .as("multimap"))
      .orderBy(col("l_returnflag"))

  /** q114: map_union (Presto 0.248 map aggregate) — merge per-group maps
    * into one map per super-group. Per (orderstatus, orderpriority) the
    * yearly-count map is built with map_from_entries over a sorted entry
    * list; the union across priorities then merges WITHOUT ever collecting
    * map payloads: entries explode back to rows, duplicate keys resolve
    * first-wins in priority order (min_by — Presto's "arbitrary value on
    * duplicate keys" pinned to a deterministic choice), and the merged map
    * emits canonically sorted (the q113 discipline: arrival-order maps
    * don't replay on a distributed engine). Entry rows shuffle keyed by
    * (status, key) — the map type itself never crosses a wide shuffle, so
    * the topology holds when the maps are large. */
  def q114(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(col("o_orderstatus"), col("o_orderpriority"),
        year(col("o_orderdate")).as("yr"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("o_orderstatus"), col("o_orderpriority"))
      .agg(map_from_entries(
        array_sort(collect_list(struct(col("yr"), col("cnt"))))).as("m"))
      .select(col("o_orderstatus"), col("o_orderpriority"),
        explode(col("m")).as(Seq("k", "v")))
      .groupBy(col("o_orderstatus"), col("k"))
      .agg(min_by(col("v"), col("o_orderpriority")).as("v"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).cast("int").as("n_keys"),
        concat_ws("|", sort_array(collect_list(
          concat(col("k").cast("string"), lit(":"), col("v").cast("string")))))
          .as("map_union"))
      .orderBy(col("o_orderstatus"))

  /** q115: mergeable equi-width histogram quantile sketch over lineitem
    * extended prices — see [[QuantileSketch]] for the kernel (leaf
    * sketches merged by bin-count addition, error ≤ one bin width,
    * spec-asserted vs exact percentile and property-tested on random
    * data; deterministic ⇒ hash-verifiable, the q104/q106 discipline
    * without the engine-defined sketch internals). */
  def q115(s: SparkSession, d: String): DataFrame =
    QuantileSketch.report(
      Tables.lineitem(s, d).select(col("l_returnflag").as("g1"),
        col("l_linestatus").as("g2"),
        col("l_extendedprice").cast("double").as("x")))
      .select(col("level"), col("g1").as("l_returnflag"),
        col("g2").as("l_linestatus"), col("n"),
        col("p50"), col("p95"), col("p99"))

  /** q116: set_agg + set_union (Presto set aggregates) — per (status,
    * year) the distinct order priorities (set_agg, canonically sorted),
    * then the union of the yearly sets per status (set_union). The outer
    * collect_list runs over ≤ |years| already-reduced arrays per group,
    * never raw order rows (the q113 bounded-aggregate discipline);
    * emission is a sorted joined string both engines hash stably. */
  def q116(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(col("o_orderstatus"), year(col("o_orderdate")).as("yr"))
      .agg(array_sort(collect_set(col("o_orderpriority"))).as("prios"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_years"),
        array_sort(array_distinct(flatten(collect_list(col("prios"))))).as("u"))
      .select(col("o_orderstatus"), col("n_years"),
        size(col("u")).as("n_prios"),
        array_join(col("u"), ",").as("prio_union"))
      .orderBy(col("o_orderstatus"))

  // --- q117: TPC-H Q5 — local supplier volume. The distinguishing
  // constraint is c_nationkey = s_nationkey (customer and supplier in the
  // SAME nation), which makes the join graph cyclic; expressed as a
  // second equality in the supplier join condition so it participates in
  // the join key, not a post-filter.
  def q117(s: SparkSession, d: String): DataFrame = {
    val asiaNations = Tables.nation(s, d)
      .join(broadcast(Tables.region(s, d).filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"))
    Tables.lineitem(s, d)
      .join(Tables.orders(s, d).filter(year(col("o_orderdate")) === 1996),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.supplier(s, d)),
        col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(asiaNations), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6)
        .as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  // --- q118: TPC-H Q17 — small-quantity-order revenue for one brand.
  // The per-part avg quantity is a groupBy aggregate joined back —
  // exactly what Catalyst decorrelates TPC-H's correlated scalar
  // subquery into; the brand-pruned line set feeds both sides.
  def q118(s: SparkSession, d: String): DataFrame = {
    val brandLines = Tables.lineitem(s, d)
      .join(broadcast(Tables.part(s, d)
        .filter(col("p_brand") === "Brand#23").select(col("p_partkey"))),
        col("l_partkey") === col("p_partkey"))
    val avgQ = brandLines.groupBy(col("l_partkey").as("ap_key"))
      .agg(davg(col("l_quantity"), 4).as("avg_qty"))
    brandLines.join(avgQ, col("l_partkey") === col("ap_key"))
      .filter(col("l_quantity") < lit(0.2) * col("avg_qty"))
      .agg(round(dsum(col("l_extendedprice"), 2) / 7.0, 4).as("avg_yearly"),
        count(lit(1)).as("n_lines"))
  }

  // --- q119: TPC-H Q18 — large-volume customers: per-order quantity
  // rollup (partial-aggregated, fact-sized shuffle on the join key it
  // needs anyway), threshold, then order/customer enrichment; top-100 by
  // price is a TakeOrdered, never a global sort.
  def q119(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_orderkey"))
      .agg(dsum(col("l_quantity"), 2).as("total_qty"))
      .filter(col("total_qty") > 250.0)
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
        round(col("o_totalprice"), 2).as("total_price"),
        round(col("total_qty"), 2).as("total_qty"))
      .orderBy(col("total_price").desc, col("o_orderkey"))
      .limit(100)

  // --- q120: TPC-H Q22 (adapted to this schema: cntrycode :=
  // c_nationkey % 10 — there is no phone column; "no orders in 7
  // years" := no orders since 1999-01-01) — the dormant-rich-customer
  // report: positive-balance mean as a 1-row broadcast threshold,
  // dormancy via left anti join.
  def q120(s: SparkSession, d: String): DataFrame = {
    val cust = Tables.customer(s, d)
    val avgBal = cust.filter(col("c_acctbal") > 0.0)
      .agg(davg(col("c_acctbal"), 2).as("avg_bal"))
    val recent = Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit("1999-01-01").cast("timestamp"))
      .select(col("o_custkey"))
    cust.crossJoin(broadcast(avgBal))
      .filter(col("c_acctbal") > col("avg_bal"))
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(pmod(col("c_nationkey"), lit(10)).as("cntrycode"))
      .agg(count(lit(1)).as("numcust"), dsum(col("c_acctbal"), 2).as("totacctbal"))
      .orderBy(col("cntrycode"))
  }

  // --- q121: TPC-H Q4 (adapted: no commit/receipt dates in this
  // schema, so "late" := a line shipped > 250 days after the order
  // date) — priority counts of late orders; EXISTS compiles to a left
  // semi join, each order counted once however many lines are late.
  def q121(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .join(Tables.lineitem(s, d).select(col("l_orderkey"), col("l_shipdate")),
        col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 250 DAYS"),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy(col("o_orderpriority"))

  // --- q122: geospatial great-circle distance (Presto 0.248's
  // great_circle_distance — the most-used op of its ST_*/Bing-tile geo
  // family, which Spark has no builtin for). Coordinates are synthesized
  // deterministically from keys (the d11 discipline: synthetic input,
  // REAL kernel — the oracle replays the identical haversine closed
  // form on the same doubles, so a wrong formula breaks the hash;
  // residual ~1-ulp libm variance near the 6-dp round / 2000 km cut is
  // a documented accepted risk — see [[graft.functions.Kernels
  // .haversineKm]]). The
  // kernel is a codegen-native table row ([[graft.functions.KernelTable
  // .haversineKm]]): narrow per-row inside whole-stage codegen, the only
  // exchange is the final output sort.
  def q122(s: SparkSession, d: String): DataFrame = {
    val lat = (col("c_custkey") % 171).cast("double") * 0.9 - 76.5
    val lon = (col("c_custkey") % 341).cast("double") * 1.05 - 178.5
    val clat = (col("c_nationkey") % 25).cast("double") * 6.0 - 72.0
    val clon = (col("c_nationkey") % 25).cast("double") * 13.0 - 156.0
    val dist = graft.functions.GraftFunctions.haversineKm(lat, lon, clat, clon)
    Tables.customer(s, d)
      .select(col("c_custkey"),
        round(dist, 6).as("dist_km"),
        (dist <= 2000.0).as("within_2000km"))
      .orderBy(col("c_custkey"))
  }

  // --- q123: point-in-polygon (Presto ST_Contains, point-in-ring case)
  // by ray casting against a closed non-convex ring — comparisons and
  // exact-rounded IEEE multiply/divide only, no libm, so the oracle's
  // per-edge replay is bit-exact. Same codegen-native shape as q122.
  def q123(s: SparkSession, d: String): DataFrame = {
    val px = (col("c_custkey") % 341).cast("double") * 1.05 - 178.5
    val py = (col("c_custkey") % 171).cast("double") * 0.9 - 76.5
    val xs = expr("array(-50.0D, 60.0D, 70.0D, 0.0D, -60.0D, -50.0D)")
    val ys = expr("array(-30.0D, -40.0D, 50.0D, 10.0D, 40.0D, -30.0D)")
    Tables.customer(s, d)
      .select(col("c_custkey"),
        graft.functions.GraftFunctions.pointInPolygon(px, py, xs, ys).as("inside"))
      .orderBy(col("c_custkey"))
  }

  // --- q124: Bing-tile spatial rollup (Presto's bing_tile_at +
  // bing_tile_quadkey — the rest of the 0.248 geo family beyond
  // q122/q123). Points bucket into zoom-6 Web-Mercator tiles via the
  // codegen-native bing_tile_quadkey kernel; the quadkey's PREFIX is the
  // parent tile at any coarser zoom (emitted as parent4), which is what
  // makes quadkeys the idiomatic distributed geo join/rollup key: a
  // zoom-out re-aggregation is a substring groupBy over already-reduced
  // tile rows, never a re-scan. Only the tile-key agg shuffles.
  def q124(s: SparkSession, d: String): DataFrame = {
    val lat = (col("c_custkey") % 171).cast("double") * 0.9 - 76.5
    val lon = (col("c_custkey") % 341).cast("double") * 1.05 - 178.5
    Tables.customer(s, d)
      .select(graft.functions.GraftFunctions.bingTileQuadkey(lat, lon, 6).as("quadkey"))
      .groupBy(col("quadkey"))
      .agg(count(lit(1)).as("n_points"))
      .select(col("quadkey"), substring(col("quadkey"), 1, 4).as("parent4"),
        col("n_points"))
      .orderBy(col("quadkey"))
  }

  /** q125: Presto's map-lambda family — transform_keys, transform_values,
    * map_filter (all Spark builtins, codegen'd) over a priority→yearly-
    * count map. The q114 discipline: the map is built over the
    * priority×year AGGREGATE (≤ priorities×years entries), never raw
    * orders, so no map value ever crosses a corpus-sized shuffle; keys
    * shift to epoch offsets, values rescale to integer per-mille of the
    * priority's total (`div` keeps the arithmetic exact cross-engine),
    * map_filter keeps the ≥10% years, and the result explodes back to
    * sorted rows for emission. */
  def q125(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(col("o_orderpriority"), year(col("o_orderdate")).as("yr"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("o_orderpriority"))
      .agg(map_from_entries(
        array_sort(collect_list(struct(col("yr"), col("cnt"))))).as("m"),
        sum(col("cnt")).as("total"))
      .select(col("o_orderpriority"), col("total"),
        explode(expr(
          """map_filter(
               transform_values(
                 transform_keys(m, (k, v) -> k - 1990),
                 (k, v) -> v * 1000L div total),
               (k, v) -> v >= 100L)""")).as(Seq("yr_off", "permille")))
      .orderBy(col("o_orderpriority"), col("yr_off"))

  /** q126: Presto cosine_similarity(map, map) — sparse-vector cosine over
    * per-doc term-frequency maps against a one-row broadcast query map,
    * via map_zip_with + aggregate. Determinism adaptation: tf counts stay
    * INTEGER so the dot product and squared norms accumulate exactly in
    * BIGINT (a double dot product would hash-fork on summation order);
    * the only float math is one sqrt·sqrt divide of exact-rounded values,
    * bit-identical on any IEEE engine. Scale shape: the single corpus
    * shuffle is the (doc_id, term) tf build (map-side combined); each
    * doc's map is doc-vocabulary bounded; the query side is a 1-row
    * broadcast; top-k compiles to TakeOrdered, never a global sort. */
  def q126(s: SparkSession, d: String): DataFrame = {
    // localCheckpoint so the broadcast query side reads the MATERIALIZED
    // per-doc maps instead of re-executing the full (doc, word) shuffle a
    // second time just to extract one row (the e13/q115 discipline — one
    // executed corpus aggregation, not one logical one)
    val tf = Tables.documents(s, d)
      .select(col("doc_id"),
        explode(split(lower(trim(col("text"))), "\\s+")).as("w"))
      .filter(length(col("w")) >= 4)
      .groupBy(col("doc_id"), col("w"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(map_from_entries(
        array_sort(collect_list(struct(col("w"), col("c"))))).as("m"),
        sum(col("c") * col("c")).as("nsq"))
      .transform(graft.plans.Checkpoints.stage)
    val query = tf.filter(col("doc_id") === 0)
      .select(col("m").as("qm"), col("nsq").as("qnsq"))
    tf.filter(col("doc_id") =!= 0)
      .crossJoin(broadcast(query))
      .select(col("doc_id"), col("nsq"), col("qnsq"),
        expr("""aggregate(
                  map_values(map_zip_with(m, qm,
                    (k, x, y) -> coalesce(x, 0L) * coalesce(y, 0L))),
                  0L, (acc, v) -> acc + v)""").as("dot"))
      .filter(col("dot") > 0)
      .select(col("doc_id"),
        (col("dot") / (sqrt(col("nsq")) * sqrt(col("qnsq")))).as("cosine"))
      .orderBy(col("cosine").desc, col("doc_id"))
      .limit(20)
  }

  /** q127: geometry-geometry predicates (Presto's ST_Intersects +
    * ST_Distance core, extending the q122/q123/q124 geo family from
    * point-vs-shape to shape-vs-shape). Each customer carries a derived
    * SEGMENT; it is tested against the 5 edges of the q123 ring
    * (broadcast VALUES frame — the deliberate <= 5-row crossJoin
    * pattern). `bbox` is a pure-comparison prefilter short-circuiting
    * the orientation kernel (intersecting segments always have
    * overlapping bboxes, so AND-ing it is result-invariant); at corpus x
    * corpus scale the same pruning becomes a bing-tile join key so
    * non-overlapping pairs never materialize (q124's quadkey). All
    * arithmetic is fixed-association IEEE multiply/subtract + one
    * correctly-rounded sqrt — the oracle replays it closed-form
    * bit-for-bit (the q123 discipline). */
  def q127(s: SparkSession, d: String): DataFrame = {
    import graft.functions.GraftFunctions.{stDistance, stIntersects}
    val ring = Seq((-50.0, -30.0), (60.0, -40.0), (70.0, 50.0),
      (0.0, 10.0), (-60.0, 40.0), (-50.0, -30.0))
    val edges = broadcast(s.createDataFrame(
      ring.zip(ring.tail).zipWithIndex.map { case (((ex1, ey1), (ex2, ey2)), i) =>
        (i, ex1, ey1, ex2, ey2)
      }).toDF("edge_id", "ex1", "ey1", "ex2", "ey2"))
    val px = (col("c_custkey") % 341).cast("double") * 1.05 - 178.5
    val py = (col("c_custkey") % 171).cast("double") * 0.9 - 76.5
    val qx = ((col("c_custkey") * 7) % 341).cast("double") * 1.05 - 178.5
    val qy = ((col("c_custkey") * 13) % 171).cast("double") * 0.9 - 76.5
    val bbox =
      least(col("ax"), col("bx")) <= greatest(col("ex1"), col("ex2")) &&
      least(col("ex1"), col("ex2")) <= greatest(col("ax"), col("bx")) &&
      least(col("ay"), col("by")) <= greatest(col("ey1"), col("ey2")) &&
      least(col("ey1"), col("ey2")) <= greatest(col("ay"), col("by"))
    Tables.customer(s, d)
      .select(col("c_custkey"), px.as("ax"), py.as("ay"), qx.as("bx"), qy.as("by"))
      .crossJoin(edges)
      .select(col("c_custkey"),
        (bbox && stIntersects(col("ax"), col("ay"), col("bx"), col("by"),
          col("ex1"), col("ey1"), col("ex2"), col("ey2"))).as("hit"),
        stDistance(col("ax"), col("ay"),
          col("ex1"), col("ey1"), col("ex2"), col("ey2")).as("dist"))
      .groupBy(col("c_custkey"))
      .agg(sum(when(col("hit"), 1L).otherwise(0L)).as("n_hits"),
        round(min(col("dist")), 4).as("min_dist"))
      .orderBy(col("c_custkey"))
  }

  /** q128: geometry measures (Presto ST_Area / ST_Length / ST_Centroid /
    * ST_Envelope core, completing the shape-valued half of the geo
    * family that q127's predicates started). Each customer derives a
    * closed triangular ring (the q127 coordinate formulas plus a third
    * vertex); the one-pass ring kernels compute shoelace area,
    * perimeter, and the area-weighted centroid — strictly left-to-right
    * IEEE accumulation so the oracle replays the literal expanded sums
    * bit-for-bit (the q123/q127 discipline; one correctly-rounded sqrt
    * per edge, no libm). The envelope needs no kernel at all:
    * least/greatest over the vertex columns IS ST_Envelope, and at
    * corpus scale those four bounds are exactly what feeds the q124
    * bing-tile join key. Degenerate (collinear) rings exercise the
    * kernel's signed-area-zero fallback to the vertex mean. Everything
    * is a narrow per-row map over one scan — no shuffle at all until
    * the final presentation sort. */
  def q128(s: SparkSession, d: String): DataFrame = {
    import graft.functions.GraftFunctions.{stArea, stCentroidX, stCentroidY, stLength}
    val ax = (col("c_custkey") % 341).cast("double") * 1.05 - 178.5
    val ay = (col("c_custkey") % 171).cast("double") * 0.9 - 76.5
    val bx = ((col("c_custkey") * 7) % 341).cast("double") * 1.05 - 178.5
    val by = ((col("c_custkey") * 13) % 171).cast("double") * 0.9 - 76.5
    val cx = ((col("c_custkey") * 29) % 341).cast("double") * 1.05 - 178.5
    val cy = ((col("c_custkey") * 31) % 171).cast("double") * 0.9 - 76.5
    Tables.customer(s, d)
      .select(col("c_custkey"),
        ax.as("ax"), ay.as("ay"), bx.as("bx"), by.as("by"),
        cx.as("cx"), cy.as("cy"))
      .select(col("c_custkey"),
        array(col("ax"), col("bx"), col("cx"), col("ax")).as("xs"),
        array(col("ay"), col("by"), col("cy"), col("ay")).as("ys"),
        least(col("ax"), col("bx"), col("cx")).as("min_x"),
        least(col("ay"), col("by"), col("cy")).as("min_y"),
        greatest(col("ax"), col("bx"), col("cx")).as("max_x"),
        greatest(col("ay"), col("by"), col("cy")).as("max_y"))
      .select(col("c_custkey"),
        round(stArea(col("xs"), col("ys")), 4).as("area"),
        round(stLength(col("xs"), col("ys")), 4).as("perim"),
        round(stCentroidX(col("xs"), col("ys")), 4).as("cent_x"),
        round(stCentroidY(col("xs"), col("ys")), 4).as("cent_y"),
        col("min_x"), col("min_y"), col("max_x"), col("max_y"))
      .orderBy(col("c_custkey"))
  }

  // --- q32: division-safe conditional aggregates ------------------------
  def q32(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        dsum(col("l_extendedprice")).as("sum_price"),
        dsum(col("l_quantity")).as("sum_qty"))
      .select(
        col("l_returnflag"),
        (col("sum_price") / nullif(col("sum_qty"), lit(0.0))).as("price_per_unit"),
        when(col("sum_qty") === 0, lit("empty")).otherwise(lit("ok")).as("flag"))
      .orderBy(col("l_returnflag"))

  // --- q129: TPC-H Q3 — shipping-priority candidates (adapted:
  // o_orderpriority stands in for the schema's missing o_shippriority).
  // Segment-filtered customers broadcast into the orders scan; the only
  // fact-sized shuffle is lineitem⋈orders on the orderkey both sides
  // already need; top-10 by revenue is a TakeOrderedAndProject, never a
  // global sort of the grouped frame.
  def q129(s: SparkSession, d: String): DataFrame = {
    val cutoff = lit("1998-06-01").cast("timestamp")
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") > cutoff)
      .join(
        Tables.orders(s, d).filter(col("o_orderdate") < cutoff)
          .join(broadcast(Tables.customer(s, d)
            .filter(col("c_mktsegment") === "BUILDING")
            .select(col("c_custkey"))),
            col("o_custkey") === col("c_custkey"))
          .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6)
        .as("revenue"))
      .select(col("l_orderkey"), col("revenue"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
        col("o_orderpriority"))
      .orderBy(col("revenue").desc, col("order_date"), col("l_orderkey"))
      .limit(10)
  }

  // --- q130: TPC-H Q7 — volume shipping between two nations. The cyclic
  // constraint (supplier nation × customer nation, both directions of one
  // pair) lives in a post-join pair filter over two broadcast nation
  // copies; revenue is grouped by (supp_nation, cust_nation, year).
  // supplier and both nation frames broadcast; customer joins orders on
  // the dim side before touching the fact, so lineitem shuffles once.
  def q130(s: SparkSession, d: String): DataFrame = {
    val n1 = Tables.nation(s, d)
      .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))
    val n2 = Tables.nation(s, d)
      .select(col("n_nationkey").as("cn_key"), col("n_name").as("cust_nation"))
    val custNation = Tables.customer(s, d)
      .join(broadcast(n2), col("c_nationkey") === col("cn_key"))
      .select(col("c_custkey"), col("cust_nation"))
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .join(Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(custNation, col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.supplier(s, d)
          .join(broadcast(n1), col("s_nationkey") === col("sn_key"))
          .select(col("s_suppkey"), col("supp_nation"))),
        col("l_suppkey") === col("s_suppkey"))
      .filter(
        (col("supp_nation") === "NATION_3" && col("cust_nation") === "NATION_7") ||
        (col("supp_nation") === "NATION_7" && col("cust_nation") === "NATION_3"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).as("l_year"))
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6)
        .as("revenue"))
      .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
  }

  // --- q131: TPC-H Q13 — customer order-count distribution (adapted:
  // the original excludes orders by comment pattern; this schema has no
  // comment column, so urgent orders are excluded instead). Left outer
  // join keeps zero-order customers (the query's point); the second
  // aggregate runs over one row per customer — already reduced, tiny.
  def q131(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d).select(col("c_custkey"))
      .join(
        Tables.orders(s, d)
          .filter(col("o_orderpriority") =!= "1-URGENT")
          .select(col("o_custkey"), col("o_orderkey")),
        col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)

  // --- q132: TPC-H Q21 — suppliers who kept orders waiting (adapted:
  // the schema has no commit/receipt dates, so "late" :=
  // l_shipdate > o_orderdate + 60 days). The defining double correlation
  // is preserved exactly: EXISTS another supplier on the order (semi
  // join) AND NOT EXISTS another LATE supplier on the order (anti join)
  // — the sole-blame pattern. Both probe sides are distinct
  // (orderkey, suppkey) pairs — 16-byte rows, never full lines; the
  // nation-filtered supplier dim broadcasts; top-100 is a TakeOrdered.
  def q132(s: SparkSession, d: String): DataFrame = {
    val lines = Tables.lineitem(s, d)
      .join(Tables.orders(s, d).filter(col("o_orderstatus") === "F")
          .select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey"), col("l_suppkey"),
        (col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
          .as("late"))
    val pairs = lines.select(col("l_orderkey"), col("l_suppkey")).distinct()
    val latePairs = lines.filter(col("late"))
      .select(col("l_orderkey"), col("l_suppkey")).distinct()
    latePairs
      .join(broadcast(Tables.supplier(s, d)
          .filter(col("s_nationkey") === 5)
          .select(col("s_suppkey"), col("s_name"))),
        col("l_suppkey") === col("s_suppkey"))
      .join(pairs.select(col("l_orderkey").as("o2_key"), col("l_suppkey").as("s2_key")),
        col("l_orderkey") === col("o2_key") && col("l_suppkey") =!= col("s2_key"),
        "left_semi")
      .join(latePairs.select(col("l_orderkey").as("o3_key"), col("l_suppkey").as("s3_key")),
        col("l_orderkey") === col("o3_key") && col("l_suppkey") =!= col("s3_key"),
        "left_anti")
      .groupBy(col("s_name"))
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(100)
  }

  // --- q133: time-interval RANGE window frames — the calendar-aware
  // frame (RANGE BETWEEN INTERVAL ... PRECEDING) that q71's numeric
  // range frame can't express: per customer, trailing-90-day spend and
  // order count at each order. One hash shuffle on the partition key,
  // per-partition sort, single window pass; RANGE peers (same-timestamp
  // orders) enter the frame together in both engines by definition.
  // DECIMAL window sum keeps the result order-independent.
  def q133(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .selectExpr(
        "o_orderkey", "o_custkey",
        "date_format(o_orderdate, 'yyyy-MM-dd') AS order_date",
        """CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate
             RANGE BETWEEN INTERVAL 90 DAYS PRECEDING AND CURRENT ROW)
           AS DOUBLE) AS trailing_90d_spend""",
        """COUNT(*) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate
             RANGE BETWEEN INTERVAL 90 DAYS PRECEDING AND CURRENT ROW)
           AS trailing_90d_orders""")
      .orderBy(col("o_orderkey"))

  // --- q137: ANSI PERCENTILE_DISC (discrete percentiles — the smallest
  // actual value with cume_dist ≥ p, always a real data value) via the
  // same three-bounded-pass selection kernel as q10's continuous form
  // (operators/ExactSelection): no interpolation, so the result is
  // engine-arithmetic-free — both engines pick the identical element.
  // Median and p95 of price per returnflag; rounding only at emission.
  def q137(s: SparkSession, d: String): DataFrame =
    graft.operators.ExactSelection.percentilesDisc(
      // NOT staged (r20 A/B, the q10 finding): the checkpoint write
      // costs more than the pruned re-scans it saves; fanout measured
      // worse too (1.25 -> 2.13 s, the q10 finding again)
      Tables.lineitem(s, d)
        .select(col("l_returnflag").as("g"),
          col("l_extendedprice").cast("double").as("x")),
      Seq(0.5, 0.95))
      .select(col("g").as("l_returnflag"),
        round(col("pd50"), 2).as("median_price"),
        round(col("pd95"), 2).as("p95_price"))
      .orderBy(col("l_returnflag"))

  // --- q136: ST_Contains / ST_Within for SHAPES (Presto's
  // geometry-geometry containment, composing the verified kernels
  // rather than adding a new one): ring R contains triangle T iff all
  // of T's vertices are inside R (q123's ray-cast kernel) AND no edge
  // of T intersects any edge of R (q127's segment kernel). For simple
  // polygons this computes INTERIOR containment: a triangle touching
  // R's boundary (vertex or edge on the ring) is classified
  // not-contained, diverging from OGC/Presto ST_Contains, which
  // permits boundary contact (measure-zero on this double-valued
  // synthetic data, but the semantics are the stricter ones). All 15
  // edge-pair tests + 3 vertex tests fold into ONE projection over
  // literal ring coordinates: a single narrow scan, zero shuffles
  // before the presentation sort (at corpus×polygon scale the pruning
  // key is the q124 tile join; the per-row kernel battery is this).
  def q136(s: SparkSession, d: String): DataFrame = {
    import graft.functions.GraftFunctions.{pointInPolygon, stIntersects}
    val ring = Seq((-50.0, -30.0), (60.0, -40.0), (70.0, 50.0),
      (0.0, 10.0), (-60.0, 40.0), (-50.0, -30.0))
    val ringXs = array(ring.map(p => lit(p._1)): _*)
    val ringYs = array(ring.map(p => lit(p._2)): _*)
    def crosses(x1: Column, y1: Column, x2: Column, y2: Column): Column =
      ring.zip(ring.tail).map { case ((e1x, e1y), (e2x, e2y)) =>
        stIntersects(x1, y1, x2, y2, lit(e1x), lit(e1y), lit(e2x), lit(e2y))
      }.reduce(_ || _)
    // triangle scaled into the ring's coordinate band more often than
    // q128's full-extent triangles (so both verdicts genuinely occur)
    val ax = (col("c_custkey") % 120).cast("double") * 0.9 - 50.0
    val ay = (col("c_custkey") % 70).cast("double") * 0.8 - 30.0
    val bx = ((col("c_custkey") * 7) % 120).cast("double") * 0.9 - 50.0
    val by = ((col("c_custkey") * 13) % 70).cast("double") * 0.8 - 30.0
    val cx = ((col("c_custkey") * 29) % 120).cast("double") * 0.9 - 50.0
    val cy = ((col("c_custkey") * 31) % 70).cast("double") * 0.8 - 30.0
    Tables.customer(s, d)
      .select(col("c_custkey"), ax.as("ax"), ay.as("ay"), bx.as("bx"),
        by.as("by"), cx.as("cx"), cy.as("cy"))
      .select(col("c_custkey"),
        (pointInPolygon(col("ax"), col("ay"), ringXs, ringYs) &&
         pointInPolygon(col("bx"), col("by"), ringXs, ringYs) &&
         pointInPolygon(col("cx"), col("cy"), ringXs, ringYs)).as("all_inside"),
        (crosses(col("ax"), col("ay"), col("bx"), col("by")) ||
         crosses(col("bx"), col("by"), col("cx"), col("cy")) ||
         crosses(col("cx"), col("cy"), col("ax"), col("ay"))).as("any_cross"))
      .select(col("c_custkey"), col("all_inside"), col("any_cross"),
        (col("all_inside") && !col("any_cross")).as("contained"))
      .orderBy(col("c_custkey"))
  }

  // --- q135: DISTINCT aggregates under ROLLUP. The naive form
  // (`rollup(...).agg(countDistinct × 2, ...)`) makes Spark Expand every
  // fact row by (grouping sets × distinct columns) — measured 12× the
  // DuckDB oracle at sf0.1 and ruinous at 100 TB. The scale-correct
  // topology computes each distinct count from a PRE-REDUCED distinct
  // key frame per rollup level (the reduction shrinks the fact to
  // |cells × keys| with map-side partial distinct BEFORE any margin
  // work), unions the three levels, and joins the tiny per-cell frames;
  // only the cheap count/sum rollup (q14 shape) touches raw rows.
  // Results are identical to the naive form — the spec pins margin
  // consistency, the oracle pins values.
  def q135(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val all = lit("ALL")
    val base = li.rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n_rows"), dsum(col("l_quantity")).as("sum_qty"))
      .select(coalesce(col("l_returnflag"), all).as("flag"),
        coalesce(col("l_linestatus"), all).as("status"),
        col("n_rows"), col("sum_qty"))
    // three explicit levels over the REDUCED pairs frame (measured
    // faster than rollup+countDistinct over the same frame, which pays
    // an Expand plus a second distinct phase)
    def distinctCounts(key: String, as: String): DataFrame = {
      val pairs = li
        .select(col("l_returnflag").as("flag"), col("l_linestatus").as("status"),
          col(key).as("k"))
        .distinct()
      val cells = pairs.groupBy(col("flag"), col("status"))
        .agg(count(lit(1)).as(as))
      val marg = pairs.select(col("flag"), col("k")).distinct()
        .groupBy(col("flag")).agg(count(lit(1)).as(as))
        .withColumn("status", all)
      val grand = pairs.select(col("k")).distinct()
        .agg(count(lit(1)).as(as))
        .withColumn("flag", all).withColumn("status", all)
      cells.select(col("flag"), col("status"), col(as))
        .unionByName(marg.select(col("flag"), col("status"), col(as)))
        .unionByName(grand.select(col("flag"), col("status"), col(as)))
    }
    base
      .join(distinctCounts("l_suppkey", "n_supps"), Seq("flag", "status"))
      .join(distinctCounts("l_partkey", "n_parts"), Seq("flag", "status"))
      .select(col("flag"), col("status"), col("n_supps"), col("n_parts"),
        col("n_rows"), col("sum_qty"))
      .orderBy(col("flag"), col("status"))
  }

  // --- q134: IGNORE NULLS navigation — forward/backward gap filling
  // (Presto's first_value/last_value IGNORE NULLS; the sensor-series
  // fill every time-series pipeline runs). Only purchase/click carry a
  // measured value here; the rest are gaps. Pure selection — no
  // arithmetic can fork cross-engine; tie order pinned by (ts,
  // event_id); one hash shuffle + per-partition sort, single window
  // pass each direction.
  def q134(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // ordered by the FORMATTED timestamp (chronological for this fixed
    // format) because the projection below drops the raw ts column
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_str"), col("event_id"))
    val raw = when(col("event_type").isin("purchase", "click"), col("value"))
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts_str"),
        round(raw, 4).as("raw"))
      .select(col("user_id"), col("event_id"), col("ts_str"), col("raw"),
        last(col("raw"), ignoreNulls = true)
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .as("fill_fwd"),
        first(col("raw"), ignoreNulls = true)
          .over(w.rowsBetween(Window.currentRow, Window.unboundedFollowing))
          .as("fill_bwd"))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** q138: the WKT front door — Presto's geospatial family is WKT-first
    * (every real deployment's geometry arrives as `ST_GeometryFromText`
    * over lake strings; the ~40-function 0.248 family starts there), so
    * this entry drives the ALREADY-VERIFIED q128 measures and q123
    * containment through parsed WKT text instead of pre-built coordinate
    * arrays. Each customer FORMATS its q128 triangle and its q123 probe
    * point as WKT strings (Spark's double→string cast = Java's shortest
    * round-trip representation), parses both back through the codegen
    * [[graft.functions.KernelTable.stGeometryFromText]] kernel, and computes area / perimeter
    * / centroid / point-in-ring on the PARSED arrays. The oracle replays
    * the geometry NUMERICALLY from the keys — so any parser or formatter
    * defect (lossy double text, vertex-order slip, bad ring closure)
    * forks the hash; `rt_ok` additionally pins the st_as_text∘parse
    * round trip per row, and `bad_is_null` pins the malformed-input null
    * contract on every row. Scale shape: parse and format are narrow
    * per-row codegen calls inside the scan projection — zero shuffles
    * before the presentation sort (at corpus scale the parsed envelope
    * feeds the q124 tile join key). */
  def q138(s: SparkSession, d: String): DataFrame = {
    import graft.functions.GraftFunctions.{pointInPolygon, stArea, stAsText, stCentroidX, stCentroidY, stGeometryFromText, stLength}
    val ax = (col("c_custkey") % 341).cast("double") * 1.05 - 178.5
    val ay = (col("c_custkey") % 171).cast("double") * 0.9 - 76.5
    val bx = ((col("c_custkey") * 7) % 341).cast("double") * 1.05 - 178.5
    val by = ((col("c_custkey") * 13) % 171).cast("double") * 0.9 - 76.5
    val cx = ((col("c_custkey") * 29) % 341).cast("double") * 1.05 - 178.5
    val cy = ((col("c_custkey") * 31) % 171).cast("double") * 0.9 - 76.5
    def t(v: Column): Column = v.cast("string")
    val ringXs = expr("array(-50.0D, 60.0D, 70.0D, 0.0D, -60.0D, -50.0D)")
    val ringYs = expr("array(-30.0D, -40.0D, 50.0D, 10.0D, 40.0D, -30.0D)")
    Tables.customer(s, d)
      .select(col("c_custkey"),
        concat(lit("POLYGON (("),
          t(ax), lit(" "), t(ay), lit(", "),
          t(bx), lit(" "), t(by), lit(", "),
          t(cx), lit(" "), t(cy), lit(", "),
          t(ax), lit(" "), t(ay), lit("))")).as("poly_wkt"),
        concat(lit("POINT ("), t(ax), lit(" "), t(ay), lit(")")).as("pt_wkt"))
      .select(col("c_custkey"), col("poly_wkt"),
        stGeometryFromText(col("poly_wkt")).as("g"),
        stGeometryFromText(col("pt_wkt")).as("p"),
        stGeometryFromText(lit("POLYGON ((0 0, 1 1)")).isNull.as("bad_is_null"))
      .select(col("c_custkey"),
        col("g.gtype").as("gtype"),
        size(col("g.xs")).as("n_pts"),
        round(stArea(col("g.xs"), col("g.ys")), 4).as("area"),
        round(stLength(col("g.xs"), col("g.ys")), 4).as("perim"),
        round(stCentroidX(col("g.xs"), col("g.ys")), 4).as("cent_x"),
        round(stCentroidY(col("g.xs"), col("g.ys")), 4).as("cent_y"),
        pointInPolygon(element_at(col("p.xs"), 1), element_at(col("p.ys"), 1),
          ringXs, ringYs).as("inside"),
        (stAsText(col("g.gtype"), col("g.xs"), col("g.ys")) === col("poly_wkt"))
          .as("rt_ok"),
        col("bad_is_null"))
      .orderBy(col("c_custkey"))
  }

  /** q139: the Presto geospatial accessor family over WKT input —
    * ST_GeometryType / ST_X / ST_Y / ST_NPoints / ST_XMin / ST_XMax /
    * ST_YMin / ST_YMax / ST_IsClosed / ST_IsRing (Presto geospatial
    * docs; the read-side half of the family q138's constructors feed).
    * Each customer formats ONE geometry whose kind varies by key —
    * POINT, open LINESTRING, closed LINESTRING (ring), or POLYGON — so
    * every accessor exercises its type-dependent contract: ST_X/ST_Y
    * answer only for points (null otherwise, Presto's contract),
    * ST_IsClosed/ST_IsRing only for linestrings, the envelope bounds
    * and vertex count for everything. All accessors run on the PARSED
    * (gtype, xs, ys) struct, so the WKT chain stays in the loop; the
    * oracle replays the geometry numerically from the keys, never
    * seeing WKT — a parse defect on any branch forks the hash.
    * Accessors are Spark built-ins over the coordinate arrays
    * (element_at / size / array_min / array_max) — narrow per-row
    * projection work inside the scan, zero shuffles before the
    * presentation sort. */
  def q139(s: SparkSession, d: String): DataFrame = {
    import graft.functions.GraftFunctions.stGeometryFromText
    val ax = (col("c_custkey") % 341).cast("double") * 1.05 - 178.5
    val ay = (col("c_custkey") % 171).cast("double") * 0.9 - 76.5
    val bx = ((col("c_custkey") * 7) % 341).cast("double") * 1.05 - 178.5
    val by = ((col("c_custkey") * 13) % 171).cast("double") * 0.9 - 76.5
    val cx = ((col("c_custkey") * 29) % 341).cast("double") * 1.05 - 178.5
    val cy = ((col("c_custkey") * 31) % 171).cast("double") * 0.9 - 76.5
    def t(v: Column): Column = v.cast("string")
    val kind = col("c_custkey") % 4
    val wkt = when(kind === 0, concat(lit("POINT ("), t(ax), lit(" "), t(ay), lit(")")))
      .when(kind === 1, concat(lit("LINESTRING ("),
        t(ax), lit(" "), t(ay), lit(", "), t(bx), lit(" "), t(by), lit(", "),
        t(cx), lit(" "), t(cy), lit(")")))
      .when(kind === 2, concat(lit("LINESTRING ("),
        t(ax), lit(" "), t(ay), lit(", "), t(bx), lit(" "), t(by), lit(", "),
        t(cx), lit(" "), t(cy), lit(", "), t(ax), lit(" "), t(ay), lit(")")))
      .otherwise(concat(lit("POLYGON (("),
        t(ax), lit(" "), t(ay), lit(", "), t(bx), lit(" "), t(by), lit(", "),
        t(cx), lit(" "), t(cy), lit(", "), t(ax), lit(" "), t(ay), lit("))")))
    val isLine = col("g.gtype") === "LINESTRING"
    val isPoint = col("g.gtype") === "POINT"
    val closed = element_at(col("g.xs"), 1) === element_at(col("g.xs"), -1) &&
      element_at(col("g.ys"), 1) === element_at(col("g.ys"), -1)
    Tables.customer(s, d)
      .select(col("c_custkey"), stGeometryFromText(wkt).as("g"))
      .select(col("c_custkey"),
        when(col("g.gtype") === "POINT", "ST_Point")
          .when(isLine, "ST_LineString")
          .otherwise("ST_Polygon").as("geometry_type"),
        round(when(isPoint, element_at(col("g.xs"), 1)), 4).as("st_x"),
        round(when(isPoint, element_at(col("g.ys"), 1)), 4).as("st_y"),
        size(col("g.xs")).as("n_points"),
        round(array_min(col("g.xs")), 4).as("xmin"),
        round(array_max(col("g.xs")), 4).as("xmax"),
        round(array_min(col("g.ys")), 4).as("ymin"),
        round(array_max(col("g.ys")), 4).as("ymax"),
        when(isLine, closed).as("is_closed"),
        when(isLine, closed && size(col("g.xs")) >= 4).as("is_ring"))
      .orderBy(col("c_custkey"))
  }

  /** q140: multi-ring (holed) polygons through the WKT front door —
    * the first real-user geometry step past the single-ring subset
    * (Presto's polygon model is shell + interior rings; ST_Area
    * subtracts holes, ST_Contains honors them, ST_NumInteriorRing
    * counts them — Presto geospatial docs). Each customer builds a
    * deterministic axis-aligned rectangle, two thirds with one
    * rectangular hole, plus POLYGON EMPTY and malformed-text branches
    * so the total-function null contract rides in the hash. The three
    * kernels parse + answer in ONE codegen pass over the text — no
    * nested ring arrays ever materialize in a row (at 100 TB the
    * geometry stays inside the scan projection; only three scalars
    * leave it, zero shuffles before the presentation sort). The probe
    * point steps across the polygon so containment exercises inside /
    * in-hole / outside-shell on .5 offsets that never touch an edge;
    * the oracle replays area and containment in closed form from the
    * keys — it never parses WKT, so a parser defect on any ring forks
    * the hash. */
  def q140(s: SparkSession, d: String): DataFrame = {
    import graft.functions.GraftFunctions.{stAreaWkt, stContainsWkt, stNumInteriorRings}
    val k = col("c_custkey")
    def t(v: Column): Column = v.cast("string")
    val ox = k % 50; val oy = k % 40
    val w = k % 7 + 4; val h = k % 5 + 3
    val hw = k % 2 + 1 // hole is hw x 1 at (ox+1, oy+1)
    def pt(x: Column, y: Column): Column = concat(t(x), lit(" "), t(y))
    val outer = concat(lit("("),
      pt(ox, oy), lit(", "), pt(ox + w, oy), lit(", "),
      pt(ox + w, oy + h), lit(", "), pt(ox, oy + h), lit(", "),
      pt(ox, oy), lit(")"))
    val hole = concat(lit("("),
      pt(ox + 1, oy + 1), lit(", "), pt(ox + 1 + hw, oy + 1), lit(", "),
      pt(ox + 1 + hw, oy + 2), lit(", "), pt(ox + 1, oy + 2), lit(", "),
      pt(ox + 1, oy + 1), lit(")"))
    val wkt = when(k % 97 === 0, lit("POLYGON ((0 0, 1 1")) // malformed
      .when(k % 89 === 0, lit("POLYGON EMPTY"))
      .when(k % 3 =!= 0, concat(lit("POLYGON ("), outer, lit(", "), hole, lit(")")))
      .otherwise(concat(lit("POLYGON ("), outer, lit(")")))
    val px = ox.cast("double") + (k % 5).cast("double") + 0.5
    val py = oy.cast("double") + 1.5
    Tables.customer(s, d)
      .select(col("c_custkey"),
        stNumInteriorRings(wkt).as("n_holes"),
        stAreaWkt(wkt).as("area"),
        stContainsWkt(wkt, px, py).as("inside"))
      .orderBy(col("c_custkey"))
  }

  /** q141: MULTIPOLYGON through the WKT front door (Presto
    * ST_GeometryFromText accepts multi-part geometries; ST_Area sums
    * parts, ST_Contains answers across parts, ST_NumGeometries counts
    * them, and ST_NumInteriorRing stays a POLYGON-only accessor — its
    * NULL here pins Presto's own contract). Each customer builds two
    * DISJOINT axis-aligned parts 100 units apart — part B carries a
    * 1x1 hole on even keys — plus MULTIPOLYGON EMPTY and malformed
    * branches. Two probe points: one stepping across part A (so
    * multi-part containment must find the right part), one inside
    * part B's hole region (so hole-XOR composes with the across-parts
    * OR). Same execution shape as q140: three scalars and a count out
    * of one codegen parse per row, zero shuffles before the
    * presentation sort; the oracle replays everything in closed form
    * from key arithmetic, never parsing WKT. */
  def q141(s: SparkSession, d: String): DataFrame = {
    import graft.functions.GraftFunctions.{stAreaWkt, stContainsWkt, stNumGeometries, stNumInteriorRings}
    val k = col("c_custkey")
    def t(v: Column): Column = v.cast("string")
    val ax = k % 30; val ay = k % 20
    val w1 = k % 4 + 2; val h1 = k % 3 + 2
    val bx = ax + 100; val by = ay
    val w2 = k % 5 + 5; val h2 = k % 4 + 4
    def ring(x: Column, y: Column, w: Column, h: Column): Column =
      concat(lit("("), t(x), lit(" "), t(y), lit(", "),
        t(x + w), lit(" "), t(y), lit(", "),
        t(x + w), lit(" "), t(y + h), lit(", "),
        t(x), lit(" "), t(y + h), lit(", "),
        t(x), lit(" "), t(y), lit(")"))
    val partA = concat(lit("("), ring(ax, ay, w1, h1), lit(")"))
    val hole = ring(bx + 1, by + 1, lit(1), lit(1))
    val partB = when(k % 2 === 0,
        concat(lit("("), ring(bx, by, w2, h2), lit(", "), hole, lit(")")))
      .otherwise(concat(lit("("), ring(bx, by, w2, h2), lit(")")))
    val wkt = when(k % 101 === 0, lit("MULTIPOLYGON ((0 0, 1 1))")) // ring not nested
      .when(k % 103 === 0, lit("MULTIPOLYGON EMPTY"))
      .otherwise(concat(lit("MULTIPOLYGON ("), partA, lit(", "), partB, lit(")")))
    // probe 1 steps across part A; probe 2 sits in part B's hole region
    val px = ax.cast("double") + (k % 3).cast("double") + 0.5
    val py = ay.cast("double") + 0.5
    val qx = bx.cast("double") + 1.5
    val qy = by.cast("double") + 1.5
    Tables.customer(s, d)
      .select(col("c_custkey"),
        stNumGeometries(wkt).as("n_geoms"),
        stNumInteriorRings(wkt).as("n_holes"), // Presto: polygon-only -> null
        stAreaWkt(wkt).as("area"),
        stContainsWkt(wkt, px, py).as("inside_a"),
        stContainsWkt(wkt, qx, qy).as("inside_b"))
      .orderBy(col("c_custkey"))
  }

  // --- q142: FILTER-clause aggregates (Presto docs, aggregate FILTER) ---
  // Presto's `agg(x) FILTER (WHERE p)` — per-aggregate predicates inside
  // ONE grouped pass, including a filtered DISTINCT aggregate (which
  // Spark plans as the two-phase distinct rewrite with the predicate
  // pushed into the partial side — no second scan, no self-join; the
  // naive translation runs one scan per predicate). Exact decimal sum
  // under the filter keeps the monetary column order-independent.
  def q142(s: SparkSession, d: String): DataFrame = {
    Tables.orders(s, d).createOrReplaceTempView("orders_v142")
    s.sql("""
      SELECT o_orderpriority,
        COUNT(*) AS n_total,
        COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS n_open,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
             FILTER (WHERE o_orderstatus = 'F') AS DOUBLE) AS total_f,
        COUNT(DISTINCT o_custkey)
             FILTER (WHERE o_totalprice > 200000) AS n_big_cust,
        date_format(MAX(o_orderdate) FILTER (WHERE o_orderstatus = 'P'),
                    'yyyy-MM-dd') AS last_p
      FROM orders_v142
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority""")
  }

  // --- q143: VARIANT ingestion (semi-structured JSON front door) --------
  // Presto serves json_extract over VARCHAR (q33/q83); Spark 4's native
  // answer is the VARIANT type: parse once into the binary-encoded open
  // type, extract typed values by path. At 100 TB this is the difference
  // between re-tokenizing the JSON text per path and one parse feeding
  // every projection — the entry extracts five paths (scalar, nested
  // struct field, array element, typed number, and a missing path's NULL
  // contract) from one parse_json. The oracle recomputes every path in
  // CLOSED FORM from the base columns: any fork anywhere in the
  // to_json -> parse_json -> variant_get chain breaks the hash.
  def q143(s: SparkSession, d: String): DataFrame = {
    val doc = to_json(struct(
      col("o_orderkey").as("k"),
      struct(col("o_custkey").as("id"), col("o_orderstatus").as("st")).as("c"),
      array(col("o_orderpriority"), col("o_orderstatus")).as("tags"),
      col("o_totalprice").as("p")))
    Tables.orders(s, d)
      .filter(col("o_orderkey") % 7 === 0)
      .select(col("o_orderkey"), parse_json(doc).as("v"))
      .select(
        col("o_orderkey"),
        expr("variant_get(v, '$.k', 'bigint')").as("k"),
        expr("variant_get(v, '$.c.id', 'bigint')").as("cust"),
        expr("variant_get(v, '$.c.st', 'string')").as("st"),
        expr("variant_get(v, '$.tags[0]', 'string')").as("tag0"),
        expr("variant_get(v, '$.p', 'double')").as("price"),
        expr("variant_get(v, '$.absent', 'string')").as("missing"))
      .orderBy(col("o_orderkey"))
  }

  /** q144: UNNEST WITH ORDINALITY (Presto's positional unnest; the
    * reference engine's SQL exposes element POSITION alongside value —
    * `CROSS JOIN UNNEST(arr) WITH ORDINALITY AS t(x, pos)`). Spark-first
    * form is posexplode; the workload slices document text by word
    * position — per position over the first 8 words: occurrence count,
    * distinct vocabulary, alphabetic min (positional stats are what
    * template detection over semi-structured text actually computes).
    * Scale: the explode is a narrow ×8-bounded fan-out of an
    * already-pruned 1-column scan; the only exchange carries the 8
    * position keys, map-side combined. */
  def q144(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(posexplode(split(col("text"), " ")).as(Seq("pos", "word")))
      .filter(col("pos") < 8 && col("word") =!= "")
      .groupBy(col("pos"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("word")).as("n_distinct_words"),
        min(col("word")).as("min_word"))
      .orderBy(col("pos"))
}
