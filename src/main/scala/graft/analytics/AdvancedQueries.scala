package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables

/** M2 operator widening (SURVEY.md §7.2): distinct/rollup/cube/approx
  * aggregation, ranking/analytic windows, set operations, scalar
  * string/date functions, outer/multiway joins, dedup-by-window.
  *
  * Same oracle conventions as [[RelationalQueries]]. Cross-engine quirks
  * handled here:
  *  - rollup/cube null group keys: ORDER BY ... NULLS FIRST pinned on BOTH
  *    engines (Spark defaults nulls-first, DuckDB nulls-last);
  *  - int width: Spark `year()` et al return int32 where DuckDB returns
  *    int64 — Spark side casts to long so the hash compare sees one type;
  *  - window frames spelled ROWS-explicit with a unique ORDER BY, so
  *    running sums accumulate in one deterministic order on both engines.
  */
object AdvancedQueries {

  private def r2(c: Column): Column = round(c, 2)

  // --- aggregation surface ---------------------------------------------------

  /** count(DISTINCT) — a two-phase (partial distinct, final) aggregate in
    * Spark; at scale prefer approx_count_distinct (below) when exactness
    * isn't contractual. */
  def a2CountDistinct(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_partkey")).as("distinct_parts"),
        countDistinct(col("l_suppkey")).as("distinct_supps"),
        count(lit(1)).as("n_rows"))
      .orderBy(col("l_returnflag"))

  val a2CountDistinctSql: String =
    """SELECT l_returnflag, count(DISTINCT l_partkey) AS distinct_parts,
      |count(DISTINCT l_suppkey) AS distinct_supps, count(*) AS n_rows
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** ROLLUP with subtotal rows; grouping() flags disambiguate a NULL key
    * from a subtotal (not needed for this non-null data, but part of the
    * operator's surface). */
  def a3Rollup(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n_rows"), r2(sum(col("l_quantity"))).as("sum_qty"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)

  val a3RollupSql: String =
    """SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
      |round(sum(l_quantity), 2) AS sum_qty
      |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
      |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin

  /** CUBE over two dimensions. */
  def a6Cube(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"), r2(sum(col("o_totalprice"))).as("sum_price"))
      .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)

  val a6CubeSql: String =
    """SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
      |round(sum(o_totalprice), 2) AS sum_price
      |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
      |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin

  /** GROUPING SETS — the general form rollup/cube specialize, with
    * grouping_id() disambiguating a NULL group key from a subtotal row
    * (the flag an analyst needs as soon as a dimension is nullable).
    * Sets: (flag, status), (flag), () — a rollup shape declared
    * explicitly. Same single shuffle as rollup: Spark expands the sets
    * map-side and aggregates once. */
  def a9GroupingSets(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupingSets(
        Seq(Seq(col("l_returnflag"), col("l_linestatus")),
          Seq(col("l_returnflag")), Seq()),
        col("l_returnflag"), col("l_linestatus"))
      .agg(grouping_id().cast("long").as("gid"),
        count(lit(1)).as("n_rows"), r2(sum(col("l_quantity"))).as("sum_qty"))
      .orderBy(col("gid"), col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first)

  /** Both engines pack grouping(first, second) with the first column as
    * the most significant bit (SQL standard), verified: (f,s)=0,(f)=1,()=3. */
  val a9GroupingSetsSql: String =
    """SELECT l_returnflag, l_linestatus,
      |grouping(l_returnflag, l_linestatus)::BIGINT AS gid,
      |count(*) AS n_rows, round(sum(l_quantity), 2) AS sum_qty
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
      |ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin

  /** approx_count_distinct (HyperLogLog++). No oracle — sketch estimates
    * are implementation-specific; the driver records a rows-only check.
    * This IS the 100 TB path for distinct counts: fixed-size sketch per
    * group, no distinct shuffle. */
  /** A5 joined the hash gate the a13 way (VERDICT-r9 ask #8 pattern):
    * the exact distinct count is the hashed value, and the HLL++
    * estimate contributes a BRACKET FLAG — inside ±15% (3σ of the
    * default 5% rsd, non-flaky at every sf) of the exact count. A
    * sketch regression flips a hashed boolean; the raw estimate stays
    * out of the hash (engine-specific, can't match DuckDB's HLL). */
  def a5ApproxDistinct(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        (approx_count_distinct(col("l_partkey")).cast("double") /
          countDistinct(col("l_partkey")).cast("double"))
          .between(0.85, 1.15).as("approx_in_tol"))
      .orderBy(col("l_returnflag"))

  val a5ApproxDistinctSql: String =
    """SELECT l_returnflag,
      |count(DISTINCT l_partkey)::BIGINT AS n_parts,
      |true AS approx_in_tol
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin

  /** A14: statistical aggregate battery — corr / covariance / stddev /
    * variance / least-squares regression per group, ALL native
    * aggregates in both engines (single partial-aggregable pass; at
    * 100 TB these fold map-side into constant-size moment state exactly
    * like sum/count — no window, no second scan). The regressor is
    * `event_id` (small magnitude): regressing on epoch micros puts
    * covariances at ~1e12 where a 4-dp round exceeds double precision
    * and engine moment-order differences surface. */
  def a14StatsAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(
        round(corr(col("value"), col("event_id")), 4).as("corr_ve"),
        round(covar_samp(col("value"), col("event_id")), 4).as("covar_ve"),
        round(stddev_samp(col("value")), 4).as("sd_v"),
        round(var_samp(col("value")), 4).as("var_v"),
        round(regr_slope(col("value"), col("event_id")), 8).as("slope"),
        round(regr_intercept(col("value"), col("event_id")), 4).as("icept"))
      .orderBy(col("event_type"))

  val a14StatsAggSql: String =
    """SELECT event_type,
      |  round(corr(value, event_id), 4) AS corr_ve,
      |  round(covar_samp(value, event_id), 4) AS covar_ve,
      |  round(stddev_samp(value), 4) AS sd_v,
      |  round(var_samp(value), 4) AS var_v,
      |  round(regr_slope(value, event_id), 8) AS slope,
      |  round(regr_intercept(value, event_id), 4) AS icept
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** X16: bitwise + null/conditional scalar battery — &, |, xor,
    * popcount, shifts as row scalars; bit_and/bit_or/bit_xor as
    * aggregates (fold map-side like any moment aggregate); nullif /
    * coalesce / greatest / least / null-guard CASE. All codegen'd
    * built-ins on both engines. */
  def x16BitwiseNull(spark: SparkSession, dir: String): DataFrame = {
    val scalars = Tables.events(spark, dir)
      .filter(col("event_id") < 300)
      .select(col("event_id"),
        col("event_id").bitwiseAND(lit(255L)).as("band"),
        col("event_id").bitwiseOR(lit(4096L)).as("bor"),
        col("event_id").bitwiseXOR(lit(1365L)).as("bxor"),
        bit_count(col("event_id")).cast("long").as("pop"),
        shiftleft(col("event_id"), 2).as("shl"),
        shiftright(col("event_id"), 3).as("shr"),
        coalesce(nullif(col("event_type"), lit("error")), lit("redacted"))
          .as("masked"),
        greatest(col("value"), lit(50.0)).as("hi"),
        least(col("value"), lit(50.0)).as("lo"))
    val aggs = Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(expr("bit_and(event_id)").as("agg_and"),
        expr("bit_or(event_id)").as("agg_or"),
        expr("bit_xor(event_id)").as("agg_xor"))
      .select(lit(-1L).as("event_id"),
        col("agg_and").as("band"), col("agg_or").as("bor"),
        col("agg_xor").as("bxor"), lit(null).cast("long").as("pop"),
        lit(null).cast("long").as("shl"), lit(null).cast("long").as("shr"),
        col("event_type").as("masked"),
        lit(null).cast("double").as("hi"), lit(null).cast("double").as("lo"))
    scalars.unionByName(aggs).orderBy(col("event_id"), col("masked"))
  }

  val x16BitwiseNullSql: String =
    """SELECT event_id,
      |  event_id & 255 AS band, event_id | 4096 AS bor,
      |  xor(event_id, 1365) AS bxor,
      |  bit_count(event_id)::BIGINT AS pop,
      |  event_id << 2 AS shl, event_id >> 3 AS shr,
      |  coalesce(nullif(event_type, 'error'), 'redacted') AS masked,
      |  greatest(value, 50.0) AS hi, least(value, 50.0) AS lo
      |FROM events WHERE event_id < 300
      |UNION ALL
      |SELECT -1 AS event_id,
      |  bit_and(event_id) AS band, bit_or(event_id) AS bor,
      |  bit_xor(event_id) AS bxor, NULL::BIGINT AS pop,
      |  NULL::BIGINT AS shl, NULL::BIGINT AS shr,
      |  event_type AS masked, NULL::DOUBLE AS hi, NULL::DOUBLE AS lo
      |FROM events GROUP BY event_type
      |ORDER BY event_id, masked""".stripMargin

  // --- window functions ------------------------------------------------------

  /** Ranking top-k per group (absent from the reference; SURVEY.md §2.5):
    * top-3 orders by price per priority class. */
  def w1RankTopK(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(spark, dir)
      .withColumn("rk", rank().over(w).cast("long"))
      .filter(col("rk") <= 3)
      .select(col("o_orderpriority"), col("rk"), col("o_orderkey"),
        r2(col("o_totalprice")).as("o_totalprice"))
      .orderBy(col("o_orderpriority"), col("rk"), col("o_orderkey"))
  }

  val w1RankTopKSql: String =
    """SELECT o_orderpriority, rk, o_orderkey, round(o_totalprice, 2) AS o_totalprice
      |FROM (SELECT o_orderpriority, o_orderkey, o_totalprice,
      |  rank() OVER (PARTITION BY o_orderpriority
      |               ORDER BY o_totalprice DESC, o_orderkey) AS rk
      |  FROM orders) t
      |WHERE rk <= 3
      |ORDER BY o_orderpriority, rk, o_orderkey""".stripMargin

  /** lag() analytic — per-user event value delta (event-time ordered). */
  def w2LagDelta(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .withColumn("delta", r2(col("value") - lag(col("value"), 1).over(w)))
      .select(col("user_id"), col("event_id"), col("delta"))
      .orderBy(col("user_id"), col("event_id"))
  }

  val w2LagDeltaSql: String =
    """SELECT user_id, event_id,
      |round(value - lag(value, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id), 2) AS delta
      |FROM events ORDER BY user_id, event_id""".stripMargin

  /** Running sum with an explicit ROWS frame over a unique order key —
    * deterministic accumulation order on both engines. */
  def w3RunningSum(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderkey"),
        r2(sum(col("o_totalprice")).over(w)).as("running_total"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  val w3RunningSumSql: String =
    """SELECT o_custkey, o_orderkey,
      |round(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderkey
      |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total
      |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin

  // --- set operations (absent from the reference; SURVEY.md §2.6) -------------

  private def custkeysByStatus(spark: SparkSession, dir: String, status: String) =
    Tables.orders(spark, dir).filter(col("o_orderstatus") === status)
      .select(col("o_custkey")).distinct()

  def setExcept(spark: SparkSession, dir: String): DataFrame =
    custkeysByStatus(spark, dir, "F").except(custkeysByStatus(spark, dir, "O"))
      .orderBy(col("o_custkey"))

  val setExceptSql: String =
    """SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F'
      |EXCEPT SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O'
      |ORDER BY o_custkey""".stripMargin

  def setIntersect(spark: SparkSession, dir: String): DataFrame =
    custkeysByStatus(spark, dir, "F").intersect(custkeysByStatus(spark, dir, "O"))
      .orderBy(col("o_custkey"))

  val setIntersectSql: String =
    """SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F'
      |INTERSECT SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O'
      |ORDER BY o_custkey""".stripMargin

  def setUnion(spark: SparkSession, dir: String): DataFrame =
    custkeysByStatus(spark, dir, "F").union(custkeysByStatus(spark, dir, "P"))
      .distinct().orderBy(col("o_custkey"))

  val setUnionSql: String =
    """SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F'
      |UNION SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'P'
      |ORDER BY o_custkey""".stripMargin

  // --- scalar functions (X3-X9) ----------------------------------------------

  /** String function battery (upper/substring/length/replace/concat_ws). */
  def x3StringFuncs(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir).select(
      col("c_custkey"),
      upper(col("c_name")).as("name_upper"),
      substring(col("c_name"), 1, 8).as("name_prefix"),
      length(col("c_name")).cast("long").as("name_len"),
      regexp_replace(col("c_name"), "Customer", "Cust").as("name_short"),
      concat_ws("/", col("c_name"), col("c_mktsegment")).as("name_seg"))
      .orderBy(col("c_custkey"))

  val x3StringFuncsSql: String =
    """SELECT c_custkey, upper(c_name) AS name_upper,
      |substring(c_name, 1, 8) AS name_prefix,
      |length(c_name)::BIGINT AS name_len,
      |replace(c_name, 'Customer', 'Cust') AS name_short,
      |concat_ws('/', c_name, c_mktsegment) AS name_seg
      |FROM customer ORDER BY c_custkey""".stripMargin

  /** Date/time function battery over real timestamps. Spark's int-typed
    * extracts cast to long for dtype parity. */
  def x9DateFuncs(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir).select(
      col("o_orderkey"),
      year(col("o_orderdate")).cast("long").as("o_year"),
      month(col("o_orderdate")).cast("long").as("o_month"),
      dayofmonth(col("o_orderdate")).cast("long").as("o_day"),
      quarter(col("o_orderdate")).cast("long").as("o_quarter"),
      date_trunc("month", col("o_orderdate")).as("month_start"),
      datediff(lit("1998-08-02").cast("date"), col("o_orderdate").cast("date"))
        .cast("long").as("days_to_cutoff"))
      .orderBy(col("o_orderkey"))

  val x9DateFuncsSql: String =
    """SELECT o_orderkey,
      |year(o_orderdate)::BIGINT AS o_year,
      |month(o_orderdate)::BIGINT AS o_month,
      |day(o_orderdate)::BIGINT AS o_day,
      |quarter(o_orderdate)::BIGINT AS o_quarter,
      |date_trunc('month', o_orderdate)::TIMESTAMP AS month_start,
      |date_diff('day', CAST(o_orderdate AS DATE), DATE '1998-08-02')::BIGINT AS days_to_cutoff
      |FROM orders ORDER BY o_orderkey""".stripMargin

  // --- joins beyond M0 ---------------------------------------------------------

  /** Left outer join + aggregate: every customer with their order count
    * (zero-preserved) and spend. */
  def j4OuterAgg(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
    c.join(o, c("c_custkey") === o("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("n_orders"),
        r2(coalesce(sum(col("o_totalprice")), lit(0.0))).as("total_spend"))
      .orderBy(col("c_custkey"))
  }

  val j4OuterAggSql: String =
    """SELECT c_custkey, count(o_orderkey) AS n_orders,
      |round(coalesce(sum(o_totalprice), 0.0), 2) AS total_spend
      |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin

  /** TPC-H-Q3-shaped 3-way join + agg + top-k: the headline bench join.
    * customer is filtered before the join (segment pushdown), lineitem
    * filter pushed to scan; at sf0.1+ Spark shuffles on the join keys and
    * AQE picks broadcast for the filtered customer side. */
  def j5Q3Revenue(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir).filter(col("c_mktsegment") === "BUILDING")
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderdate") < lit("1997-06-01").cast("timestamp"))
    val l = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") > lit("1997-06-01").cast("timestamp"))
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(r2(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
        .as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  val j5Q3RevenueSql: String =
    """SELECT l_orderkey, o_orderdate, o_orderpriority,
      |round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1997-06-01'
      |  AND l_shipdate > TIMESTAMP '1997-06-01'
      |GROUP BY l_orderkey, o_orderdate, o_orderpriority
      |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin

  /** TPC-H-Q6-shaped filter+sum: the pure-pushdown query (all predicates
    * reach the scan; zero joins, zero wide shuffles — one partial+final
    * agg). */
  def q6FilterSum(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
        col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
      .agg(r2(sum(col("l_extendedprice") * col("l_discount"))).as("revenue"))

  val q6FilterSumSql: String =
    """SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      |  AND l_shipdate < TIMESTAMP '1997-01-01'
      |  AND l_discount BETWEEN 0.05 AND 0.07
      |  AND l_quantity < 24""".stripMargin

  /** Windowed dedup: earliest order per customer (the generic form of the
    * reference's unique-mrn rule, SURVEY.md §2.1 S4) — row_number over a
    * deterministic order, keep rank 1. */
  def dd1DedupFirst(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables.orders(spark, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"))
      .orderBy(col("o_custkey"))
  }

  val dd1DedupFirstSql: String =
    """SELECT o_custkey, o_orderkey, o_orderdate
      |FROM (SELECT o_custkey, o_orderkey, o_orderdate,
      |  row_number() OVER (PARTITION BY o_custkey
      |                     ORDER BY o_orderdate, o_orderkey) AS rn
      |  FROM orders) t
      |WHERE rn = 1 ORDER BY o_custkey""".stripMargin

  /** Math scalar-function battery over lineitem — abs/sqrt/ln/pow/
    * sign/floor/ceil/mod, rounded for double parity. */
  def x10MathFuncs(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_linenumber") === 1)
      .select(col("l_orderkey"),
        r2(abs(col("l_extendedprice") - col("l_quantity") * 1000.0)).as("abs_diff"),
        r2(sqrt(col("l_extendedprice"))).as("sqrt_price"),
        round(log(col("l_extendedprice")), 4).as("ln_price"),
        r2(pow(col("l_discount") + 1.0, 3)).as("pow_disc"),
        signum(col("l_extendedprice") - lit(50000.0)).cast("long").as("sign_mid"),
        floor(col("l_quantity")).cast("long").as("floor_qty"),
        ceil(col("l_tax") * 100.0).cast("long").as("ceil_tax_pct"),
        (col("l_orderkey") % 7L).as("mod7"))
      .orderBy(col("l_orderkey"))

  val x10MathFuncsSql: String =
    """SELECT l_orderkey,
      |round(abs(l_extendedprice - l_quantity * 1000.0), 2) AS abs_diff,
      |round(sqrt(l_extendedprice), 2) AS sqrt_price,
      |round(ln(l_extendedprice), 4) AS ln_price,
      |round(pow(l_discount + 1.0, 3), 2) AS pow_disc,
      |sign(l_extendedprice - 50000.0)::BIGINT AS sign_mid,
      |floor(l_quantity)::BIGINT AS floor_qty,
      |ceil(l_tax * 100.0)::BIGINT AS ceil_tax_pct,
      |l_orderkey % 7 AS mod7
      |FROM lineitem WHERE l_linenumber = 1
      |ORDER BY l_orderkey""".stripMargin

  /** Exact interpolated percentiles per group (ANSI percentile_cont
    * semantics = DuckDB quantile_cont). */
  /** Percentiles surface as FLOOR-of-cents BIGINTs, not
    * `round(x, 2)`: both engines linearly interpolate the same doubles
    * (bit-identical), but an interpolated midpoint landing exactly on
    * a half-cent (….245) renders differently under their tie-break
    * conventions — observed at sf0.001 (p50 52724.245 → .24 vs .25).
    * `floor(x * 100)` only diverges if the engines' doubles differ,
    * which interpolation over identical inputs never produces. */
  def a7Percentile(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        expr("CAST(floor(percentile(l_extendedprice, 0.5) * 100) AS BIGINT)")
          .as("p50_cents"),
        expr("CAST(floor(percentile(l_extendedprice, 0.95) * 100) AS BIGINT)")
          .as("p95_cents"),
        expr("CAST(floor(percentile(l_extendedprice, 0.99) * 100) AS BIGINT)")
          .as("p99_cents"))
      .orderBy(col("l_returnflag"))

  val a7PercentileSql: String =
    """SELECT l_returnflag,
      |CAST(floor(quantile_cont(l_extendedprice, 0.5) * 100) AS BIGINT) AS p50_cents,
      |CAST(floor(quantile_cont(l_extendedprice, 0.95) * 100) AS BIGINT) AS p95_cents,
      |CAST(floor(quantile_cont(l_extendedprice, 0.99) * 100) AS BIGINT) AS p99_cents
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin

  /** A13: approximate percentiles (Greenwald-Khanna sketch,
    * `approx_percentile` with explicit accuracy) — THE 100 TB percentile
    * path: a7's exact interpolated percentile must materialize each
    * group's full value set, while the sketch is fixed-size per group
    * and merges associatively map-side. Sketch ESTIMATES are
    * implementation-specific (DuckDB's t-digest vs Spark's GK), so the
    * raw values can't hash-match an oracle; instead the query emits the
    * exact floor-cents percentiles (oracle-able, a7's convention) plus
    * bracket FLAGS asserting the sketch estimate lies inside the exact
    * [q−0.01, q+0.01] rank window — ~10× the accuracy-1000 rank-error
    * bound, engine-computed, so a sketch regression flips a hashed
    * boolean. The exact side is test-scale scaffolding only; the
    * production path is the sketch column. */
  def a13ApproxPercentile(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        expr("CAST(floor(percentile(l_extendedprice, 0.5) * 100) AS BIGINT)")
          .as("p50_cents"),
        expr("CAST(floor(percentile(l_extendedprice, 0.95) * 100) AS BIGINT)")
          .as("p95_cents"),
        expr("approx_percentile(l_extendedprice, 0.5, 1000)")
          .between(expr("percentile(l_extendedprice, 0.49)"),
            expr("percentile(l_extendedprice, 0.51)")).as("p50_in_tol"),
        expr("approx_percentile(l_extendedprice, 0.95, 1000)")
          .between(expr("percentile(l_extendedprice, 0.94)"),
            expr("percentile(l_extendedprice, 0.96)")).as("p95_in_tol"))
      .orderBy(col("l_returnflag"))

  val a13ApproxPercentileSql: String =
    """SELECT l_returnflag,
      |CAST(floor(quantile_cont(l_extendedprice, 0.5) * 100) AS BIGINT) AS p50_cents,
      |CAST(floor(quantile_cont(l_extendedprice, 0.95) * 100) AS BIGINT) AS p95_cents,
      |true AS p50_in_tol, true AS p95_in_tol
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin

  /** Pivot (long→wide): order counts per priority pivoted by status.
    * Spark's relational pivot; the oracle renders the same wide shape
    * with conditional aggregation (engine-agnostic SQL). */
  def a8Pivot(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .select(col("o_orderpriority"),
        coalesce(col("F"), lit(0L)).as("n_f"),
        coalesce(col("O"), lit(0L)).as("n_o"),
        coalesce(col("P"), lit(0L)).as("n_p"))
      .orderBy(col("o_orderpriority"))

  val a8PivotSql: String =
    """SELECT o_orderpriority,
      |count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_f,
      |count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS n_o,
      |count(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS n_p
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** Array-function battery over the embedding vectors (size /
    * element access / min / max / sum — double domain, rounded). */
  def x11ArrayFuncs(spark: SparkSession, dir: String): DataFrame = {
    val v = col("embedding").cast("array<double>")
    Tables.embeddings(spark, dir)
      .filter(col("vec_id") < 100)
      .select(col("vec_id"),
        size(v).cast("long").as("dim"),
        round(element_at(v, 1), 4).as("first_val"),
        round(array_min(v), 4).as("min_val"),
        round(array_max(v), 4).as("max_val"),
        round(aggregate(v, lit(0.0), (a, x) => a + x), 4).as("sum_val"))
      .orderBy(col("vec_id"))
  }

  val x11ArrayFuncsSql: String =
    """SELECT vec_id,
      |len(embedding)::BIGINT AS dim,
      |round(embedding[1]::DOUBLE, 4) AS first_val,
      |round(list_min(embedding::DOUBLE[]), 4) AS min_val,
      |round(list_max(embedding::DOUBLE[]), 4) AS max_val,
      |round(list_sum(embedding::DOUBLE[]), 4) AS sum_val
      |FROM embeddings WHERE vec_id < 100 ORDER BY vec_id""".stripMargin

  /** W4: per-customer top-3 orders by price via the typed single-pass
    * TopKAggregator — bounded k-entry state through map-side partial
    * aggregation (the window formulation sorts whole groups post-
    * shuffle; see graft.functions.TopKAggregator). The oracle IS the
    * window formulation — identical output proves the aggregator's
    * tie-breaking matches row_number semantics. */
  def w4TopkAgg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val agg = new graft.functions.TopKAggregator(3).toColumn
    Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_totalprice"), col("o_orderkey"))
      .as[(Long, Double, Long)]
      .groupByKey(_._1)
      .mapValues(r => (r._2, r._3))
      .agg(agg.name("topk"))
      .flatMap { case (cust, topk) =>
        topk.zipWithIndex.map { case ((price, okey), i) =>
          (cust, (i + 1).toLong, okey, price)
        }
      }
      .toDF("o_custkey", "rank", "o_orderkey", "o_totalprice")
      .orderBy(col("o_custkey"), col("rank"))
  }

  val w4TopkAggSql: String =
    """SELECT o_custkey, rank, o_orderkey, o_totalprice
      |FROM (SELECT o_custkey, o_orderkey, o_totalprice,
      |  (row_number() OVER (PARTITION BY o_custkey
      |     ORDER BY o_totalprice DESC, o_orderkey))::BIGINT AS rank
      |  FROM orders) t
      |WHERE rank <= 3 ORDER BY o_custkey, rank""".stripMargin

  /** Schema-evolution union: two projections with different column sets
    * merged by NAME with missing columns null-filled — the shape of
    * unioning old- and new-schema partitions of the same logical table. */
  def set2UnionByName(spark: SparkSession, dir: String): DataFrame = {
    val current = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
    val legacy = Tables.customer(spark, dir)
      .filter(col("c_custkey") % 10 === 0)
      .select(col("c_custkey"), col("c_name")) // no acctbal in "old schema"
    current.unionByName(legacy, allowMissingColumns = true)
      .orderBy(col("c_custkey"), col("c_acctbal").asc_nulls_first)
  }

  val set2UnionByNameSql: String =
    """SELECT c_custkey, c_name, c_acctbal FROM customer
      |UNION ALL
      |SELECT c_custkey, c_name, NULL AS c_acctbal FROM customer
      |WHERE c_custkey % 10 = 0
      |ORDER BY c_custkey, c_acctbal ASC NULLS FIRST""".stripMargin

  /** SET3: schema evolution ON READ — the first thing a long-lived table
    * hits. Writes a real two-generation parquet lineage (gen v1 without
    * `c_acctbal`, gen v2 with it — even/odd keys, layout-independent),
    * then reads the whole lineage with `mergeSchema` footer merging and
    * an explicit default fill for the pre-evolution rows. set2 covers
    * the union-side of evolution; this covers the storage side: at
    * 100 TB old files are never rewritten when a column lands —
    * the merged read + default fill IS the migration. */
  /** Evolved-lineage staging dir per (corpus dir) per JVM: written ONCE
    * then reused — a fixed path would race concurrent JVMs (UUID solves
    * that) and rewriting per call would both leak a dir per invocation
    * and overwrite files a previously returned lazy DataFrame still
    * reads. Generations are immutable once staged, like any published
    * lineage. Keyed on (dir, customer-table fingerprint) so a customer
    * table rewritten in place re-stages instead of serving stale
    * generations. */
  private val evolvedCache =
    scala.collection.concurrent.TrieMap.empty[String, (String, String)]

  private def stageEvolved(spark: SparkSession, dir: String): String = {
    val cust = Tables.customer(spark, dir)
    val b = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_evolved_${java.util.UUID.randomUUID().toString.take(12)}").toString
    cust.filter(pmod(col("c_custkey"), lit(2)) === 0)
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"))
      .write.mode("overwrite").parquet(s"$b/gen1")
    cust.filter(pmod(col("c_custkey"), lit(2)) === 1)
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
        col("c_acctbal"))
      .write.mode("overwrite").parquet(s"$b/gen2")
    b
  }

  def set3EvolvedScan(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.memoFresh(evolvedCache, spark, dir, "customer") {
      stageEvolved(spark, dir)
    }
    spark.read.option("mergeSchema", "true")
      .parquet(s"$base/gen1", s"$base/gen2")
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
        r2(coalesce(col("c_acctbal"), lit(0.0))).as("acctbal_filled"))
      .orderBy(col("c_custkey"))
  }

  val set3EvolvedScanSql: String =
    """SELECT c_custkey, c_name, c_nationkey,
      |round(CASE WHEN c_custkey % 2 = 1 THEN c_acctbal ELSE 0.0 END, 2)
      |  AS acctbal_filled
      |FROM customer ORDER BY c_custkey""".stripMargin

  private val store1Cache =
    scala.collection.concurrent.TrieMap.empty[String, (String, String)]

  /** STORE1: the TABLE-FORMAT surface inside the correctness gate —
    * documents staged into an [[graft.ops.AtomicPublish]] store as
    * three INTERLEAVED segments (each spans the full id range: blooms,
    * not ranges, separate them) of two range-files each (file-level
    * zone maps active), with a deterministic id slice DELETED via
    * merge-on-read tombstones; the query is a `readTable(...).where`
    * range read with every skipping layer + the tombstone anti-join in
    * the plan. The DuckDB oracle never sees the store — it filters the
    * SOURCE table — so the hash-match proves the whole
    * stage → publish → delete → pruned-read lifecycle is lossless.
    * Staging is memoized on the source fingerprint (set3's pattern);
    * steady-state cost is the pruned read only. */
  def store1PrunedScan(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.AtomicPublish
    val root = Tables.memoFresh(store1Cache, spark, dir, "documents") {
      stageStore1(spark, dir)
    }
    AtomicPublish.readTable(spark, root, "documents")
      .where("doc_id BETWEEN 12 AND 340")
      .select(col("doc_id"), col("lang"),
        length(col("text")).cast("long").as("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** STORE2: the CATALYST-NATIVE read face of the same staged store —
    * the query goes through [[graft.ops.AtomicPublish.registerViews]]
    * and a plain SQL `WHERE`, so the predicate reaches the skipping
    * layers via Catalyst pushdown into [[graft.ops.GraftFileIndex]]
    * (segment zone maps, file maps, blooms, tombstone anti-join). Same
    * oracle posture as store1: DuckDB filters the SOURCE table, so a
    * hash match proves the SQL face is lossless too. The files this
    * face reads are pinned in StoreConnectorSpec. */
  def store2SqlPushdown(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.AtomicPublish
    val root = Tables.memoFresh(store1Cache, spark, dir, "documents") {
      stageStore1(spark, dir)
    }
    AtomicPublish.registerViews(spark, root, prefix = "store2_")
    spark.sql(
      """SELECT doc_id, lang, length(text) AS n_chars
        |FROM store2_documents
        |WHERE doc_id = 137 OR doc_id BETWEEN 200 AND 260
        |ORDER BY doc_id""".stripMargin)
      .select(col("doc_id"), col("lang"), col("n_chars").cast("long"))
  }

  val store2SqlPushdownSql: String =
    """SELECT doc_id, lang, length(text)::BIGINT AS n_chars
      |FROM documents
      |WHERE (doc_id = 137 OR doc_id BETWEEN 200 AND 260)
      |  AND doc_id % 53 <> 5
      |ORDER BY doc_id""".stripMargin

  /** STORE4: the CATALOG face inside the correctness gate — the same
    * staged store as store1/store2, but resolved through Spark's
    * catalog manager ([[graft.ops.GraftCatalog]] mounted at runtime):
    * a plain three-part-name SQL aggregate, no `registerViews`, no
    * side-channel API. The read plans through the V1Scan bridge into
    * the same delete-aware pruned relation, so the DuckDB hash match
    * (source-table oracle, tombstone predicate applied) proves the
    * catalog path — name resolution, snapshot pin, pushdown, tombstone
    * anti-join — is lossless end to end. The catalog name is derived
    * from the store root so a restaged store (new temp dir) mounts a
    * fresh catalog instead of colliding with the cached instance. */
  def store4CatalogSql(spark: SparkSession, dir: String): DataFrame = {
    val root = Tables.memoFresh(store1Cache, spark, dir, "documents") {
      stageStore1(spark, dir)
    }
    val cat = catalogFor(spark, "store4", root)
    spark.sql(
      s"""SELECT lang, count(*) AS n_docs, sum(length(text)) AS n_chars
         |FROM $cat.documents
         |WHERE doc_id BETWEEN 50 AND 400
         |GROUP BY lang ORDER BY lang""".stripMargin)
  }

  val store4CatalogSqlSql: String =
    """SELECT lang, count(*)::BIGINT AS n_docs,
      |  sum(length(text))::BIGINT AS n_chars
      |FROM documents
      |WHERE doc_id BETWEEN 50 AND 400 AND doc_id % 53 <> 5
      |GROUP BY lang ORDER BY lang""".stripMargin

  private val store5Cache =
    scala.collection.concurrent.TrieMap.empty[String, (String, String)]

  /** Last mounted catalog name per tag, so a RESTAGED store (new temp
    * dir → new name) unsets the previous tag's conf entries instead of
    * accumulating one pair per staging (VERDICT-r6 ADVICE nit). */
  private val mountedCats =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** Run `body` in a session over the SAME SparkContext but built WITH
    * the graft SQL extensions (parser + analyzer injections — the
    * `spark.sql.extensions` deployment shape): what MERGE/UPDATE and
    * the MATERIALIZED VIEW DDL need. The caller's active/default
    * session is restored afterward whatever happens. */
  private def withExtensionSession[A](spark: SparkSession)(
      body: SparkSession => A): A = {
    val prev = spark
    org.apache.spark.sql.SparkSession.clearActiveSession()
    org.apache.spark.sql.SparkSession.clearDefaultSession()
    val es =
      try org.apache.spark.sql.SparkSession.builder()
        .config("spark.sql.shuffle.partitions",
          spark.conf.get("spark.sql.shuffle.partitions"))
        .config("spark.sql.session.timeZone", "UTC")
        .withExtensions(
          new org.apache.spark.sql.graftvec.GraftSqlExtensions()(_))
        .getOrCreate()
      finally {
        org.apache.spark.sql.SparkSession.setActiveSession(prev)
        org.apache.spark.sql.SparkSession.setDefaultSession(prev)
      }
    try {
      org.apache.spark.sql.SparkSession.setActiveSession(es)
      body(es)
    } finally {
      org.apache.spark.sql.SparkSession.setActiveSession(prev)
      org.apache.spark.sql.SparkSession.setDefaultSession(prev)
    }
  }

  private def catalogFor(spark: SparkSession, tag: String,
      root: String): String = {
    val cat = s"graft_${tag}_${java.lang.Integer.toHexString(root.hashCode)}"
    mountedCats.put(tag, cat).filter(_ != cat).foreach { old =>
      try {
        spark.conf.unset(s"spark.sql.catalog.$old")
        spark.conf.unset(s"spark.sql.catalog.$old.root")
      } catch { case scala.util.control.NonFatal(_) => () }
    }
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.ops.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    cat
  }

  /** STORE5: the catalog's DML surface inside the correctness gate —
    * the store is staged two-thirds by API publish, then the LAST third
    * arrives via SQL `INSERT INTO` (a CAS append commit) and a doc_id
    * range leaves via SQL `DELETE FROM` (merge-on-read tombstones, the
    * first delete establishing doc_id as the tombstone key) — every
    * mutation through three-part catalog names, no store API in the
    * mutation path. The readback is a catalog SQL aggregate over the
    * final state; DuckDB reproduces it from the SOURCE table with the
    * delete predicate applied, so the hash match proves INSERT and
    * DELETE are lossless end to end (wrong row set, resurrected
    * deletes, or a dropped append all flip the hash). */
  def store5CatalogDml(spark: SparkSession, dir: String): DataFrame = {
    val root = Tables.memoFresh(store5Cache, spark, dir, "documents") {
      stageStore5(spark, dir)
    }
    val cat = catalogFor(spark, "store5", root)
    spark.sql(
      s"""SELECT lang, count(*) AS n_docs, sum(doc_id) AS sum_id
         |FROM $cat.documents
         |GROUP BY lang ORDER BY lang""".stripMargin)
  }

  private def stageStore5(spark: SparkSession, dir: String): String = {
    import graft.ops.AtomicPublish
    val tmp = java.nio.file.Files.createTempDirectory("graft-store5")
    sys.addShutdownHook {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(tmp.toFile)
    }
    val root = tmp.resolve("store").toString
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("text"))
    def seg(k: Int) = docs.filter(pmod(col("doc_id"), lit(3)) === k)
    val v1 = AtomicPublish.publish(spark, root, Map("documents" -> seg(0)),
      statsBy = Map("documents" -> Seq("doc_id")),
      bloomBy = Map("documents" -> Seq("doc_id")))
    AtomicPublish.publishDelta(spark, root,
      append = Map("documents" -> seg(1)), parent = Some(v1))
    val cat = catalogFor(spark, "store5", root)
    val src = s"store5_src_${java.lang.Integer.toHexString(root.hashCode)}"
    docs.createOrReplaceTempView(src)
    spark.sql(s"INSERT INTO $cat.documents " +
      s"SELECT doc_id, lang, text FROM $src WHERE doc_id % 3 = 2")
    spark.sql(s"DELETE FROM $cat.documents WHERE doc_id BETWEEN 120 AND 260")
    root
  }

  val store5CatalogDmlSql: String =
    """SELECT lang, count(*)::BIGINT AS n_docs,
      |  sum(doc_id)::BIGINT AS sum_id
      |FROM documents
      |WHERE doc_id NOT BETWEEN 120 AND 260
      |GROUP BY lang ORDER BY lang""".stripMargin

  private val store6Cache =
    scala.collection.concurrent.TrieMap.empty[String, (String, String)]

  /** STORE6: SQL DDL BIRTH inside the correctness gate — the store is
    * stood up from NOTHING by SQL alone: `CREATE TABLE` (skipping
    * layout declared via TBLPROPERTIES), three `INSERT INTO` commits,
    * and a `DELETE FROM` range — no store API call anywhere in the
    * staging path (the reference's declarative bootstrap,
    * /root/reference/app/main.py:30-32, as pure catalog SQL). The
    * readback aggregates the final state through the same catalog;
    * DuckDB reproduces it from the SOURCE table with the delete
    * predicate applied, so the hash match proves the whole
    * CREATE → INSERT×3 → DELETE → SELECT lifecycle is lossless. */
  def store6CatalogDdl(spark: SparkSession, dir: String): DataFrame = {
    val root = Tables.memoFresh(store6Cache, spark, dir, "documents") {
      stageStore6(spark, dir)
    }
    val cat = catalogFor(spark, "store6", root)
    spark.sql(
      s"""SELECT lang, count(*) AS n_docs, sum(doc_id) AS sum_id,
         |  sum(length(text)) AS n_chars
         |FROM $cat.documents
         |GROUP BY lang ORDER BY lang""".stripMargin)
  }

  private def stageStore6(spark: SparkSession, dir: String): String = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-store6")
    sys.addShutdownHook {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(tmp.toFile)
    }
    val root = tmp.resolve("store").toString
    val cat = catalogFor(spark, "store6", root)
    val src = s"store6_src_${java.lang.Integer.toHexString(root.hashCode)}"
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("text"))
      .createOrReplaceTempView(src)
    spark.sql(
      s"""CREATE TABLE $cat.documents
         |  (doc_id BIGINT, lang STRING, text STRING)
         |TBLPROPERTIES ('statsBy'='doc_id', 'bloomBy'='doc_id')
         |""".stripMargin)
    for (k <- 0 until 3)
      spark.sql(s"INSERT INTO $cat.documents " +
        s"SELECT doc_id, lang, text FROM $src WHERE doc_id % 3 = $k")
    spark.sql(s"DELETE FROM $cat.documents WHERE doc_id BETWEEN 100 AND 220")
    root
  }

  val store6CatalogDdlSql: String =
    """SELECT lang, count(*)::BIGINT AS n_docs,
      |  sum(doc_id)::BIGINT AS sum_id,
      |  sum(length(text))::BIGINT AS n_chars
      |FROM documents
      |WHERE doc_id NOT BETWEEN 100 AND 220
      |GROUP BY lang ORDER BY lang""".stripMargin

  private val store7Cache =
    scala.collection.concurrent.TrieMap.empty[String, (String, String)]

  /** STORE7: SQL `MERGE INTO` inside the correctness gate — the store
    * holds the EVEN half of documents; one MERGE statement (on a
    * session with the graft SQL extensions, the deployment shape)
    * deletes the multiples of ten, rewrites the surviving even rows'
    * text, and inserts the odd half with an upper-cased lang — the
    * three-clause cascade (`WHEN MATCHED AND … DELETE` /
    * `WHEN MATCHED UPDATE` / `WHEN NOT MATCHED INSERT`), executed on
    * the merge-on-read upsert path ([[graft.ops.GraftMergeCommand]] ≡
    * `upsertMany`, the reference's insert-or-conflict loop at
    * routes.py:96-103 as one set-oriented commit). The readback
    * aggregates the final state through the plain catalog; DuckDB
    * reproduces it from the SOURCE table by reconstructing the merge
    * algebra, so the hash match proves update, delete AND insert
    * landed losslessly. */
  def store7CatalogMerge(spark: SparkSession, dir: String): DataFrame = {
    val root = Tables.memoFresh(store7Cache, spark, dir, "documents") {
      stageStore7(spark, dir)
    }
    val cat = catalogFor(spark, "store7", root)
    spark.sql(
      s"""SELECT lang, count(*) AS n_docs, sum(doc_id) AS sum_id,
         |  sum(length(text)) AS n_chars
         |FROM $cat.documents
         |GROUP BY lang ORDER BY lang""".stripMargin)
  }

  private def stageStore7(spark: SparkSession, dir: String): String = {
    import graft.ops.AtomicPublish
    val tmp = java.nio.file.Files.createTempDirectory("graft-store7")
    sys.addShutdownHook {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(tmp.toFile)
    }
    val root = tmp.resolve("store").toString
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("text"))
    AtomicPublish.publish(spark, root,
      Map("documents" -> docs.filter(pmod(col("doc_id"), lit(2)) === 0)),
      statsBy = Map("documents" -> Seq("doc_id")),
      bloomBy = Map("documents" -> Seq("doc_id")))
    // MERGE rides the injected analyzer rule — run in the extension
    // session over the same context (the spark-submit deployment shape)
    withExtensionSession(spark) { es =>
      val cat = catalogFor(es, "store7", root)
      val src = s"store7_src_${java.lang.Integer.toHexString(root.hashCode)}"
      Tables.documents(es, dir)
        .select(col("doc_id"), col("lang"), col("text"))
        .createOrReplaceTempView(src)
      es.sql(
        s"""MERGE INTO $cat.documents AS t
           |USING $src AS s
           |ON t.doc_id = s.doc_id
           |WHEN MATCHED AND s.doc_id % 5 = 0 THEN DELETE
           |WHEN MATCHED THEN UPDATE SET text = concat(s.text, '!')
           |WHEN NOT MATCHED THEN INSERT (doc_id, lang, text)
           |  VALUES (s.doc_id, upper(s.lang), s.text)""".stripMargin)
    }
    root
  }

  private val store8Cache =
    scala.collection.concurrent.TrieMap.empty[String, (String, String)]

  /** STORE8: SQL MAINTENANCE inside the correctness gate — the whole
    * operator lifecycle is SQL: CREATE TABLE (skipping + clustering
    * layout via TBLPROPERTIES), three INSERT INTO commits, a DELETE
    * FROM range, then `CALL system.compact` (consolidates the owner
    * chain, PHYSICALLY applies the tombstones, records the clustering)
    * and `CALL system.vacuum` (reclaims the pre-compaction history) —
    * the `ProcedureCatalog` face ([[graft.ops.GraftProcedures]]).
    * The readback aggregates the post-maintenance state; DuckDB
    * reproduces it from the SOURCE with the delete predicate applied,
    * so the hash match proves compaction and vacuum are LOSSLESS over
    * the delete-adjusted state (a compaction that resurrected deleted
    * rows, dropped a segment, or a vacuum that reclaimed live data all
    * flip the hash). */
  def store8CatalogMaintain(spark: SparkSession, dir: String): DataFrame = {
    val root = Tables.memoFresh(store8Cache, spark, dir, "documents") {
      stageStore8(spark, dir)
    }
    val cat = catalogFor(spark, "store8", root)
    spark.sql(
      s"""SELECT lang, count(*) AS n_docs, sum(doc_id) AS sum_id,
         |  min(doc_id) AS min_id, max(doc_id) AS max_id
         |FROM $cat.documents
         |GROUP BY lang ORDER BY lang""".stripMargin)
  }

  private def stageStore8(spark: SparkSession, dir: String): String = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-store8")
    sys.addShutdownHook {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(tmp.toFile)
    }
    val root = tmp.resolve("store").toString
    val cat = catalogFor(spark, "store8", root)
    val src = s"store8_src_${java.lang.Integer.toHexString(root.hashCode)}"
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("text"))
      .createOrReplaceTempView(src)
    spark.sql(
      s"""CREATE TABLE $cat.documents
         |  (doc_id BIGINT, lang STRING, text STRING)
         |TBLPROPERTIES ('statsBy'='doc_id', 'bloomBy'='doc_id')
         |""".stripMargin)
    for (k <- 0 until 3)
      spark.sql(s"INSERT INTO $cat.documents " +
        s"SELECT doc_id, lang, text FROM $src WHERE doc_id % 3 = $k")
    spark.sql(s"DELETE FROM $cat.documents " +
      "WHERE doc_id BETWEEN 40 AND 160 OR doc_id >= 430")
    // maintenance through CALL: consolidate + cluster + reclaim
    spark.sql(s"CALL $cat.system.compact(table => 'documents', " +
      "cluster_by => 'doc_id', target_file_mb => 8)").collect()
    spark.sql(s"CALL $cat.system.vacuum(keep_last => 1, " +
      "grace_ms => CAST(0 AS BIGINT))").collect()
    root
  }

  val store8CatalogMaintainSql: String =
    """SELECT lang, count(*)::BIGINT AS n_docs,
      |  sum(doc_id)::BIGINT AS sum_id,
      |  min(doc_id)::BIGINT AS min_id,
      |  max(doc_id)::BIGINT AS max_id
      |FROM documents
      |WHERE NOT (doc_id BETWEEN 40 AND 160 OR doc_id >= 430)
      |GROUP BY lang ORDER BY lang""".stripMargin

  private val store23Cache =
    scala.collection.concurrent.TrieMap.empty[String, (String, String)]

  /** STORE23: ANALYZE inside the correctness gate — a mass
    * merge-on-read DELETE leaves the table's recorded statistics
    * tombstone-blind (the documented over-estimate posture), then
    * `CALL system.analyze` restates them over the LIVE rows in one
    * metadata-only commit ([[graft.ops.AtomicPublish.analyzeTable]]):
    * no compaction, no data rewrite, tombstones still in place. The
    * readback aggregates the live table; the DuckDB hash match proves
    * restatement is PURE metadata — the answer is byte-identical to
    * applying the delete predicate to the pristine source — while the
    * planner now estimates from survivor statistics (StoreStatsSpec
    * pins the estimates and the zero-file dead-band scan; the gate
    * pins the answer). The dead-band probe column (`n_dead`) rides the
    * readback so a restatement that dropped live rows — or resurrected
    * dead ones — flips the hash, not just a spec. */
  def store23Analyze(spark: SparkSession, dir: String): DataFrame = {
    val root = Tables.memoFresh(store23Cache, spark, dir, "documents") {
      stageStore23(spark, dir)
    }
    val cat = catalogFor(spark, "store23", root)
    spark.sql(
      s"""SELECT lang, count(*) AS n_docs, sum(doc_id) AS sum_id,
         |  max(doc_id) AS max_id,
         |  sum(CASE WHEN doc_id >= 300 THEN 1 ELSE 0 END) AS n_dead
         |FROM $cat.documents
         |GROUP BY lang ORDER BY lang""".stripMargin)
  }

  private def stageStore23(spark: SparkSession, dir: String): String = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-store23")
    sys.addShutdownHook {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(tmp.toFile)
    }
    val root = tmp.resolve("store").toString
    val cat = catalogFor(spark, "store23", root)
    val src = s"store23_src_${java.lang.Integer.toHexString(root.hashCode)}"
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("text"))
      .createOrReplaceTempView(src)
    spark.sql(
      s"""CREATE TABLE $cat.documents
         |  (doc_id BIGINT, lang STRING, text STRING)
         |TBLPROPERTIES ('statsBy'='doc_id')
         |""".stripMargin)
    for (k <- 0 until 2)
      spark.sql(s"INSERT INTO $cat.documents " +
        s"SELECT doc_id, lang, text FROM $src WHERE doc_id % 2 = $k")
    spark.sql(s"DELETE FROM $cat.documents WHERE doc_id >= 300")
    val restated = spark.sql(
      s"CALL $cat.system.analyze(table => 'documents')").collect()(0)
    // the staging itself asserts the restatement bit: the gap between
    // the recorded row counts IS the merge-on-read debt
    require(restated.getLong(1) > restated.getLong(2),
      s"analyze restated nothing: $restated")
    root
  }

  val store23AnalyzeSql: String =
    """SELECT lang, count(*)::BIGINT AS n_docs,
      |  sum(doc_id)::BIGINT AS sum_id,
      |  max(doc_id)::BIGINT AS max_id,
      |  sum(CASE WHEN doc_id >= 300 THEN 1 ELSE 0 END)::BIGINT AS n_dead
      |FROM documents
      |WHERE doc_id < 300
      |GROUP BY lang ORDER BY lang""".stripMargin

  private val store24Cache =
    scala.collection.concurrent.TrieMap.empty[String, (String, String)]

  /** STORE24: COMMIT-TIME CDF inside the correctness gate (r14,
    * VERDICT r13 #1) — the "yesterday's partition was wrong" backfill
    * ([[graft.ops.AtomicPublish.overwriteWhere]] rewriting every
    * `lang='de'` row) stages its per-row change set in the SAME commit,
    * and the change feed serves it ACROSS the rewrite: the query reads
    * the live post-backfill table AND independently rebuilds it from
    * the pre-backfill snapshot plus the CDC diff
    * ([[graft.ops.AtomicPublish.changesWithDeletes]] — which before r14
    * returned None here, forcing every live stream to resync). Both
    * reconstructions aggregate side by side (`*_cdc` columns); the
    * DuckDB oracle computes the backfilled state once from the pristine
    * source and emits it twice — so a CDC diff that loses, duplicates,
    * or corrupts one row flips the hash, and a feed that refuses the
    * rewrite fails the query outright. Proves the post-backfill read
    * lossless end to end. */
  def store24CdfBackfill(spark: SparkSession, dir: String): DataFrame = {
    val root = Tables.memoFresh(store24Cache, spark, dir, "documents") {
      stageStore24(spark, dir)
    }
    val cat = catalogFor(spark, "store24", root)
    val atTxn = graft.ops.AtomicPublish.currentTxn(spark, root).get
    val since = graft.ops.AtomicPublish.commitInfoOf(spark, root, atTxn)
      .flatMap(_.parent).getOrElse(
        throw new IllegalStateException("store24: backfill parent lost"))
    val (ins, del) = graft.ops.AtomicPublish.changesWithDeletes(
      spark, root, "documents", since).getOrElse(
        throw new IllegalStateException(
          "store24: the change feed refused the staged backfill"))
    val cols = Seq(col("doc_id"), col("lang"), col("text"))
    val snap = graft.ops.AtomicPublish.readTableAt(
      spark, root, "documents", since).select(cols: _*)
    // a downstream mirror's exact move: drop the deleted rows, add the
    // inserted ones (row-level, not key-level — the diff carries full
    // rows)
    val rebuilt = snap.exceptAll(del.select(cols: _*))
      .unionAll(ins.select(cols: _*))
    def aggOf(df: DataFrame, sfx: String): DataFrame =
      df.groupBy(col("lang")).agg(
        count(lit(1)).as(s"n_docs$sfx"),
        sum(col("doc_id")).as(s"sum_id$sfx"),
        sum(length(col("text"))).as(s"sum_len$sfx"))
    aggOf(spark.table(s"$cat.documents"), "")
      .join(aggOf(rebuilt, "_cdc"), Seq("lang"))
      .orderBy(col("lang"))
  }

  private def stageStore24(spark: SparkSession, dir: String): String = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-store24")
    sys.addShutdownHook {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(tmp.toFile)
    }
    val root = tmp.resolve("store").toString
    val cat = catalogFor(spark, "store24", root)
    val src = s"store24_src_${java.lang.Integer.toHexString(root.hashCode)}"
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("text"))
      .createOrReplaceTempView(src)
    spark.sql(
      s"""CREATE TABLE $cat.documents
         |  (doc_id BIGINT, lang STRING, text STRING)
         |TBLPROPERTIES ('statsBy'='doc_id')
         |""".stripMargin)
    for (k <- 0 until 2)
      spark.sql(s"INSERT INTO $cat.documents " +
        s"SELECT doc_id, lang, text FROM $src WHERE doc_id % 2 = $k")
    // the backfill: every de-row re-stated with corrected text, staged
    // CDF on (the default) — one commit, parent = the pre-backfill txn
    val corrected = spark.sql("SELECT doc_id, lang, " +
      s"concat('bf:', substr(text, 1, 20)) AS text FROM $src " +
      "WHERE lang = 'de'")
    val since = graft.ops.AtomicPublish.currentTxn(spark, root).get
    graft.ops.AtomicPublish.overwriteWhere(spark, root, "documents",
      corrected, "lang = 'de'")
    // staging asserts the ride-through bit itself: a regression to the
    // resync behavior fails here, not just in the hash
    require(graft.ops.AtomicPublish.changesWithDeletes(spark, root,
      "documents", since).isDefined,
      "store24: changesWithDeletes refused the staged backfill")
    root
  }

  val store24CdfBackfillSql: String =
    """WITH live AS (SELECT doc_id, lang,
      |    CASE WHEN lang = 'de' THEN 'bf:' || substr(text, 1, 20)
      |         ELSE text END AS text
      |  FROM documents),
      |a AS (SELECT lang, count(*)::BIGINT AS n_docs,
      |    sum(doc_id)::BIGINT AS sum_id,
      |    sum(length(text))::BIGINT AS sum_len
      |  FROM live GROUP BY lang)
      |SELECT lang, n_docs, sum_id, sum_len,
      |  n_docs AS n_docs_cdc, sum_id AS sum_id_cdc,
      |  sum_len AS sum_len_cdc
      |FROM a ORDER BY lang""".stripMargin

  private val store25Cache =
    scala.collection.concurrent.TrieMap.empty[String, (String, String)]

  /** STORE25: NUMERIC TYPE-WIDENING EVOLUTION inside the correctness
    * gate (VERDICT r13 missing #4) — a long-lived ingest table whose
    * writer outgrew its types: generation 1 lands `doc_id` as INT and
    * `score` as FLOAT; generation 2 appends the SAME columns as
    * BIGINT (values past int32's 2^31 ceiling) and DOUBLE. The append
    * widens the recorded schema through the lossless promotion
    * lattice ([[graft.ops.AtomicPublish.widerOf]], the Delta/Iceberg
    * set) in the same commit — no rewrite; the int32/float files of
    * generation 1 read PROMOTED under the wider types (Spark's
    * parquet readers execute the promotion natively), and zone maps
    * stay sound across the boundary (re-encoded where float rendering
    * demands it). The readback aggregates both generations — `n_wide`
    * counts rows beyond int32, so a read that truncated or dropped
    * the promotion flips the hash; scores are exactly-representable
    * small integers, so the float→double sum is hash-exact. DuckDB
    * reproduces the union from the pristine source. */
  def store25TypeWiden(spark: SparkSession, dir: String): DataFrame = {
    val root = Tables.memoFresh(store25Cache, spark, dir, "documents") {
      stageStore25(spark, dir)
    }
    val cat = catalogFor(spark, "store25", root)
    spark.sql(
      s"""SELECT lang, count(*) AS n, sum(doc_id) AS sum_id,
         |  sum(CASE WHEN doc_id > 2147483647 THEN 1 ELSE 0 END) AS n_wide,
         |  round(sum(score), 2) AS sum_score
         |FROM $cat.documents
         |GROUP BY lang ORDER BY lang""".stripMargin)
  }

  private def stageStore25(spark: SparkSession, dir: String): String = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-store25")
    sys.addShutdownHook {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(tmp.toFile)
    }
    val root = tmp.resolve("store").toString
    val src = Tables.documents(spark, dir)
    val gen1 = src.filter(col("doc_id") % 2 === 0)
      .select(col("doc_id").cast("int").as("doc_id"), col("lang"),
        (col("doc_id") % 100).cast("float").as("score"))
    val v1 = graft.ops.AtomicPublish.publish(spark, root,
      Map("documents" -> gen1),
      statsBy = Map("documents" -> Seq("doc_id", "score")))
    val gen2 = src.filter(col("doc_id") % 2 === 1)
      .select((col("doc_id") + 5000000000L).as("doc_id"), col("lang"),
        ((col("doc_id") % 100) * 2).cast("double").as("score"))
    graft.ops.AtomicPublish.publishDelta(spark, root,
      append = Map("documents" -> gen2), parent = Some(v1)).getOrElse(
        throw new IllegalStateException(
          "store25: the widening append lost an uncontended CAS"))
    val rec = graft.ops.AtomicPublish.manifestMetaOf(spark, root,
      graft.ops.AtomicPublish.currentTxn(spark, root).get)("documents")
      .schema
    require(rec("doc_id").dataType ==
        org.apache.spark.sql.types.LongType &&
      rec("score").dataType == org.apache.spark.sql.types.DoubleType,
      s"store25: schema did not widen: $rec")
    root
  }

  val store25TypeWidenSql: String =
    """WITH g1 AS (SELECT doc_id, lang,
      |    CAST(doc_id % 100 AS DOUBLE) AS score
      |  FROM documents WHERE doc_id % 2 = 0),
      |g2 AS (SELECT doc_id + 5000000000 AS doc_id, lang,
      |    CAST((doc_id % 100) * 2 AS DOUBLE) AS score
      |  FROM documents WHERE doc_id % 2 = 1),
      |u AS (SELECT * FROM g1 UNION ALL SELECT * FROM g2)
      |SELECT lang, count(*)::BIGINT AS n, sum(doc_id)::BIGINT AS sum_id,
      |  sum(CASE WHEN doc_id > 2147483647 THEN 1 ELSE 0 END)::BIGINT
      |    AS n_wide,
      |  round(sum(score), 2) AS sum_score
      |FROM u GROUP BY lang ORDER BY lang""".stripMargin

  private val store9Cache =
    scala.collection.concurrent.TrieMap.empty[String, (String, String)]

  /** STORE9: time-travel ROLLBACK inside the correctness gate — the
    * "bad load day" lifecycle, all SQL: CREATE TABLE, a clean INSERT
    * (the good state), then a CORRUPTED second load (mangled lang and
    * truncated text) followed by an over-eager DELETE — and `CALL
    * system.restore` rolls the table back to the good version
    * ([[graft.ops.AtomicPublish.restoreTable]]: O(1) metadata, the
    * restore target picked from `CALL system.history`), after which
    * day two re-loads the second half CLEANLY. The readback aggregates
    * the final state; DuckDB reproduces it from the pristine source
    * with NO predicates — the hash match proves the rollback erased
    * every trace of the corrupted load and the bad delete while the
    * good history kept flowing. (The reference repairs a bad load by
    * re-running the pipeline, routes.py:62-148; at 100 TB the O(1)
    * metadata rollback is what makes that survivable.) */
  def store9CatalogRestore(spark: SparkSession, dir: String): DataFrame = {
    val root = Tables.memoFresh(store9Cache, spark, dir, "documents") {
      stageStore9(spark, dir)
    }
    val cat = catalogFor(spark, "store9", root)
    spark.sql(
      s"""SELECT lang, count(*) AS n_docs, sum(doc_id) AS sum_id,
         |  sum(length(text)) AS n_chars
         |FROM $cat.documents
         |GROUP BY lang ORDER BY lang""".stripMargin)
  }

  private def stageStore9(spark: SparkSession, dir: String): String = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-store9")
    sys.addShutdownHook {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(tmp.toFile)
    }
    val root = tmp.resolve("store").toString
    val cat = catalogFor(spark, "store9", root)
    val src = s"store9_src_${java.lang.Integer.toHexString(root.hashCode)}"
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("text"))
      .createOrReplaceTempView(src)
    spark.sql(
      s"""CREATE TABLE $cat.documents
         |  (doc_id BIGINT, lang STRING, text STRING)
         |TBLPROPERTIES ('statsBy'='doc_id')""".stripMargin)
    spark.sql(s"INSERT INTO $cat.documents " +
      s"SELECT doc_id, lang, text FROM $src WHERE doc_id % 2 = 0")
    // the bad day: a corrupted load, then an over-eager delete
    spark.sql(s"INSERT INTO $cat.documents " +
      s"SELECT doc_id, 'xx' AS lang, substr(text, 1, 3) AS text " +
      s"FROM $src WHERE doc_id % 2 = 1")
    spark.sql(s"DELETE FROM $cat.documents WHERE doc_id BETWEEN 30 AND 90")
    // commits so far, newest-first: DELETE, bad INSERT, good INSERT,
    // CREATE — the good state is position 2
    val good = spark.sql(s"CALL $cat.system.history()")
      .collect()(2).getAs[String]("version")
    spark.sql(s"CALL $cat.system.restore(" +
      s"table => 'documents', version => '$good')").collect()
    // day two continues from the restored state: the second half
    // arrives clean
    spark.sql(s"INSERT INTO $cat.documents " +
      s"SELECT doc_id, lang, text FROM $src WHERE doc_id % 2 = 1")
    root
  }

  val store9CatalogRestoreSql: String =
    """SELECT lang, count(*)::BIGINT AS n_docs,
      |  sum(doc_id)::BIGINT AS sum_id,
      |  sum(length(text))::BIGINT AS n_chars
      |FROM documents
      |GROUP BY lang ORDER BY lang""".stripMargin

  private val store11Cache =
    scala.collection.concurrent.TrieMap.empty[String, (String, String)]

  /** STORE11: CHECK constraints inside the correctness gate — the
    * table is born with NOT NULL + a TBLPROPERTIES check (the SQL face
    * of [[graft.ops.AtomicPublish.TableMeta.checks]], the reference's
    * validation service as a STORE invariant); a poisoned INSERT
    * (negative ids violating the check) is REFUSED mid-lifecycle and
    * the load continues. DuckDB reproduces the readback from the
    * pristine source: the hash match proves enforcement is atomic
    * (zero rows of the refused batch leaked) and precise (zero good
    * rows were wrongly blocked). */
  def store11Constraints(spark: SparkSession, dir: String): DataFrame = {
    val root = Tables.memoFresh(store11Cache, spark, dir, "documents") {
      stageStore11(spark, dir)
    }
    val cat = catalogFor(spark, "store11", root)
    spark.sql(
      s"""SELECT lang, count(*) AS n_docs, sum(doc_id) AS sum_id,
         |  sum(length(text)) AS n_chars
         |FROM $cat.documents
         |GROUP BY lang ORDER BY lang""".stripMargin)
  }

  private def stageStore11(spark: SparkSession, dir: String): String = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-store11")
    sys.addShutdownHook {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(tmp.toFile)
    }
    val root = tmp.resolve("store").toString
    val cat = catalogFor(spark, "store11", root)
    val src = s"store11_src_${java.lang.Integer.toHexString(root.hashCode)}"
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("text"))
      .createOrReplaceTempView(src)
    spark.sql(
      s"""CREATE TABLE $cat.documents
         |  (doc_id BIGINT NOT NULL, lang STRING, text STRING)
         |TBLPROPERTIES ('check.id_bound' = 'doc_id >= 0',
         |  'statsBy' = 'doc_id')""".stripMargin)
    spark.sql(s"INSERT INTO $cat.documents " +
      s"SELECT doc_id, lang, text FROM $src WHERE doc_id % 2 = 0")
    // the poisoned batch: negative ids violate id_bound → the WHOLE
    // insert refuses atomically
    try {
      spark.sql(s"INSERT INTO $cat.documents " +
        s"SELECT -doc_id - 1 AS doc_id, lang, text FROM $src " +
        s"WHERE doc_id % 2 = 1")
      throw new IllegalStateException(
        "store11 staging: the poisoned insert was NOT refused")
    } catch {
      case e: Exception if {
        def m(t: Throwable): String =
          if (t == null) "" else Option(t.getMessage).getOrElse("") + m(t.getCause)
        m(e).contains("id_bound")
      } => () // refused as declared
    }
    // the load continues: the clean odd half lands
    spark.sql(s"INSERT INTO $cat.documents " +
      s"SELECT doc_id, lang, text FROM $src WHERE doc_id % 2 = 1")
    root
  }

  val store11ConstraintsSql: String =
    """SELECT lang, count(*)::BIGINT AS n_docs,
      |  sum(doc_id)::BIGINT AS sum_id,
      |  sum(length(text))::BIGINT AS n_chars
      |FROM documents
      |GROUP BY lang ORDER BY lang""".stripMargin

  private val store12Cache =
    scala.collection.concurrent.TrieMap.empty[String, (String, String)]

  /** STORE12: ZERO-COPY CLONE inside the correctness gate — the store
    * holds the even half of documents; `CALL system.clone` forks it
    * (O(1), segments shared by reference through the per-owner dir
    * mapping), the FORK then receives the odd half via SQL INSERT
    * while the SOURCE suffers a DELETE — divergence in both
    * directions. The readback aggregates the FORK; DuckDB reproduces
    * it from the pristine source with NO predicates: the hash match
    * proves the clone serves the shared history losslessly through the
    * mapped dirs AND that the source's post-clone delete never leaked
    * into the fork (copy-on-write isolation, hash-checked). */
  def store12CloneDivergence(spark: SparkSession, dir: String): DataFrame = {
    val root = Tables.memoFresh(store12Cache, spark, dir, "documents") {
      stageStore12(spark, dir)
    }
    val cat = catalogFor(spark, "store12", root)
    spark.sql(
      s"""SELECT lang, count(*) AS n_docs, sum(doc_id) AS sum_id,
         |  sum(length(text)) AS n_chars
         |FROM $cat.fork
         |GROUP BY lang ORDER BY lang""".stripMargin)
  }

  private def stageStore12(spark: SparkSession, dir: String): String = {
    import graft.ops.AtomicPublish
    val tmp = java.nio.file.Files.createTempDirectory("graft-store12")
    sys.addShutdownHook {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(tmp.toFile)
    }
    val root = tmp.resolve("store").toString
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("text"))
    AtomicPublish.publish(spark, root,
      Map("documents" -> docs.filter(pmod(col("doc_id"), lit(2)) === 0)),
      statsBy = Map("documents" -> Seq("doc_id")))
    val cat = catalogFor(spark, "store12", root)
    val src = s"store12_src_${java.lang.Integer.toHexString(root.hashCode)}"
    docs.createOrReplaceTempView(src)
    spark.sql(s"CALL $cat.system.clone(" +
      "source => 'documents', target => 'fork')").collect()
    // the fork receives the odd half; the source loses a range —
    // divergence in both directions
    spark.sql(s"INSERT INTO $cat.fork " +
      s"SELECT doc_id, lang, text FROM $src WHERE doc_id % 2 = 1")
    spark.sql(s"DELETE FROM $cat.documents " +
      "WHERE doc_id BETWEEN 20 AND 120")
    root
  }

  val store12CloneDivergenceSql: String =
    """SELECT lang, count(*)::BIGINT AS n_docs,
      |  sum(doc_id)::BIGINT AS sum_id,
      |  sum(length(text))::BIGINT AS n_chars
      |FROM documents
      |GROUP BY lang ORDER BY lang""".stripMargin

  private val store10Cache =
    scala.collection.concurrent.TrieMap.empty[String, (String, String)]

  /** STORE10: BUCKETED store tables inside the correctness gate — the
    * 100 TB co-location strategy ([[graft.ops.AtomicPublish]]
    * `bucketBy` → manifest-recorded [[org.apache.spark.sql.catalyst
    * .catalog.BucketSpec]] on every read face): `documents` and
    * `embeddings` are published hash-bucketed ON THE JOIN KEY, so the
    * fact-to-fact join plans with NO exchange on either side (the
    * BucketedStoreSpec plan pin; at cluster scale this turns the
    * biggest shuffle in a training-data pipeline — joining text to its
    * embeddings — into a local merge). The readback aggregates the
    * joined tables; DuckDB reproduces it from the source parquet, so
    * the hash match proves the bucketed write+read path is lossless
    * (a row landing in the wrong bucket double-counts or vanishes in
    * the bucketed join). */
  def store10BucketJoin(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.AtomicPublish
    val root = Tables.memoFresh(store10Cache, spark, dir, "documents") {
      val tmp = java.nio.file.Files.createTempDirectory("graft-store10")
      sys.addShutdownHook {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
        }
        rm(tmp.toFile)
      }
      val r = tmp.resolve("store").toString
      AtomicPublish.publish(spark, r, Map(
        "documents" -> Tables.documents(spark, dir)
          .select(col("doc_id"), col("lang"), col("n_chars")),
        "embeddings" -> Tables.embeddings(spark, dir)
          .select(col("vec_id"), col("label"))),
        bucketBy = Map("documents" -> (Seq("doc_id"), 8),
          "embeddings" -> (Seq("vec_id"), 8)))
      r
    }
    AtomicPublish.readTable(spark, root, "documents")
      .join(AtomicPublish.readTable(spark, root, "embeddings"),
        col("doc_id") === col("vec_id"))
      .groupBy(col("lang"), col("label"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("n_chars")).as("sum_chars"))
      .orderBy(col("lang"), col("label"))
  }

  val store10BucketJoinSql: String =
    """SELECT lang, label, count(*)::BIGINT AS n_pairs,
      |  sum(n_chars)::BIGINT AS sum_chars
      |FROM documents JOIN embeddings ON doc_id = vec_id
      |GROUP BY lang, label ORDER BY lang, label""".stripMargin

  val store7CatalogMergeSql: String =
    """WITH final AS (
      |  SELECT doc_id, lang, text || '!' AS text FROM documents
      |  WHERE doc_id % 2 = 0 AND doc_id % 5 <> 0
      |  UNION ALL
      |  SELECT doc_id, upper(lang) AS lang, text FROM documents
      |  WHERE doc_id % 2 = 1
      |)
      |SELECT lang, count(*)::BIGINT AS n_docs,
      |  sum(doc_id)::BIGINT AS sum_id,
      |  sum(length(text))::BIGINT AS n_chars
      |FROM final GROUP BY lang ORDER BY lang""".stripMargin

  private val store13Cache =
    scala.collection.concurrent.TrieMap.empty[String, (String, String)]

  /** STORE13: COMPOSITE-KEY MERGE inside the correctness gate — the
    * store holds a CHUNKS table keyed by the two-column natural key
    * (doc_id, chunk_no), where doc_id ALONE is not unique (two chunks
    * per doc — the reference's own two-column unique constraint shape,
    * /root/reference/app/models/patient.py:74-76). One MERGE keyed by
    * BOTH columns deletes, rewrites and inserts in the three-clause
    * cascade; because the ON carries the full tuple, the statement
    * rides the MERGE-ON-READ upsert path with a composite tombstone
    * key ([[graft.ops.GraftMergeCommand]] — keying by doc_id alone
    * would collide with the sibling chunk and degrade to an O(table)
    * rewrite, the r7 VERDICT's top ask). DuckDB reproduces the final
    * state from the source by reconstructing the merge algebra, so the
    * hash match proves tuple-exact update/delete/insert — a composite
    * tombstone that killed a sibling chunk, or a missed tuple, flips
    * the hash. */
  def store13CompositeMerge(spark: SparkSession, dir: String): DataFrame = {
    val root = Tables.memoFresh(store13Cache, spark, dir, "documents") {
      stageStore13(spark, dir)
    }
    val cat = catalogFor(spark, "store13", root)
    spark.sql(
      s"""SELECT lang, chunk_no, count(*) AS n_chunks,
         |  sum(doc_id) AS sum_id, sum(length(text)) AS n_chars
         |FROM $cat.chunks
         |GROUP BY lang, chunk_no ORDER BY lang, chunk_no""".stripMargin)
  }

  private def stageStore13(spark: SparkSession, dir: String): String = {
    import graft.ops.AtomicPublish
    val tmp = java.nio.file.Files.createTempDirectory("graft-store13")
    sys.addShutdownHook {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(tmp.toFile)
    }
    val root = tmp.resolve("store").toString
    def chunksOf(df: DataFrame): DataFrame = {
      val c0 = df.select(col("doc_id"), lit(0L).as("chunk_no"),
        col("lang"), substring(col("text"), 1, 40).as("text"))
      val c1 = df.select(col("doc_id"), lit(1L).as("chunk_no"),
        col("lang"), substring(col("text"), 41, 40).as("text"))
      c0.unionByName(c1)
    }
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("text"))
    AtomicPublish.publish(spark, root,
      Map("chunks" -> chunksOf(docs.filter(pmod(col("doc_id"), lit(2)) === 0))),
      statsBy = Map("chunks" -> Seq("doc_id")),
      bloomBy = Map("chunks" -> Seq("doc_id")))
    // MERGE rides the injected analyzer rule — extension session over
    // the same context (the spark-submit deployment shape, as store7)
    withExtensionSession(spark) { es =>
      val cat = catalogFor(es, "store13", root)
      val src = s"store13_src_${java.lang.Integer.toHexString(root.hashCode)}"
      chunksOf(Tables.documents(es, dir)
        .select(col("doc_id"), col("lang"), col("text")))
        .createOrReplaceTempView(src)
      es.sql(
        s"""MERGE INTO $cat.chunks AS t
           |USING $src AS s
           |ON t.doc_id = s.doc_id AND t.chunk_no = s.chunk_no
           |WHEN MATCHED AND s.doc_id % 10 = 0 THEN DELETE
           |WHEN MATCHED THEN UPDATE SET text = concat(s.text, '+')
           |WHEN NOT MATCHED THEN INSERT (doc_id, chunk_no, lang, text)
           |  VALUES (s.doc_id, s.chunk_no, upper(s.lang), s.text)"""
          .stripMargin)
      // the composite key must have kept this merge-on-read: the
      // tombstone companion pins (doc_id, chunk_no) — fail the gate
      // loudly if the statement silently degraded to a rewrite
      val delMeta = AtomicPublish.currentManifestMeta(es, root).get
        ._2.get(AtomicPublish.deleteTableOf("chunks"))
      require(delMeta.exists(
        _.schema.fieldNames.toSet == Set("doc_id", "chunk_no", "_asof")),
        "store13 staging: MERGE did not pin the composite tombstone key")
    }
    root
  }

  val store13CompositeMergeSql: String =
    """WITH chunks AS (
      |  SELECT doc_id, 0::BIGINT AS chunk_no, lang,
      |    substr(text, 1, 40) AS text FROM documents
      |  UNION ALL
      |  SELECT doc_id, 1::BIGINT AS chunk_no, lang,
      |    substr(text, 41, 40) AS text FROM documents
      |), final AS (
      |  SELECT doc_id, chunk_no, lang, text || '+' AS text FROM chunks
      |  WHERE doc_id % 2 = 0 AND doc_id % 10 <> 0
      |  UNION ALL
      |  SELECT doc_id, chunk_no, upper(lang) AS lang, text FROM chunks
      |  WHERE doc_id % 2 = 1
      |)
      |SELECT lang, chunk_no, count(*)::BIGINT AS n_chunks,
      |  sum(doc_id)::BIGINT AS sum_id,
      |  sum(length(text))::BIGINT AS n_chars
      |FROM final GROUP BY lang, chunk_no ORDER BY lang, chunk_no"""
      .stripMargin

  private val store14Cache =
    scala.collection.concurrent.TrieMap.empty[String, (String, String)]

  /** STORE14: HIDDEN TIME PARTITIONING inside the correctness gate —
    * the store's events table is laid out `PARTITIONED BY (days(ts))`
    * ([[graft.ops.PartSpec]]): the UTC-day ordinal lives only in the
    * directory layout, the raw timestamp stays in the files, and the
    * readback filters on the RAW column — the layout never leaks into
    * the query (VERDICT-r7 ask #2: the default event-table layout
    * without a hand-maintained date column). Staged as two appends so
    * pruning spans the owner chain. DuckDB reproduces the readback
    * from the raw parquet with the same predicate: a transform that
    * mis-bucketed a boundary day, or pruning that dropped a matching
    * file, flips the hash. The file-subset pin (3 of 10 day-dirs
    * scanned) lives in StoreLayoutSpec — here the gate proves
    * VALUE-exactness end to end. */
  def store14TimePartition(spark: SparkSession, dir: String): DataFrame = {
    val root = Tables.memoFresh(store14Cache, spark, dir, "events") {
      stageStore14(spark, dir)
    }
    val cat = catalogFor(spark, "store14", root)
    spark.sql(
      s"""SELECT date_trunc('day', ts) AS day, event_type,
         |  count(*) AS n_events, round(sum(value), 2) AS sum_value
         |FROM $cat.events
         |WHERE ts >= '2024-01-10' AND ts < '2024-01-20'
         |GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin)
  }

  private def stageStore14(spark: SparkSession, dir: String): String = {
    import graft.ops.AtomicPublish
    val tmp = java.nio.file.Files.createTempDirectory("graft-store14")
    sys.addShutdownHook {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(tmp.toFile)
    }
    val root = tmp.resolve("store").toString
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
    def seg(k: Int) = ev.filter(pmod(col("event_id"), lit(2)) === k)
      .repartition(2)
    val v1 = AtomicPublish.publish(spark, root, Map("events" -> seg(0)),
      partitionBy = Map("events" -> Seq("days(ts)")))
    AtomicPublish.publishDelta(spark, root,
      append = Map("events" -> seg(1)), parent = Some(v1))
    root
  }

  val store14TimePartitionSql: String =
    """SELECT date_trunc('day', ts) AS day, event_type,
      |  count(*)::BIGINT AS n_events, round(sum(value), 2) AS sum_value
      |FROM events
      |WHERE ts >= '2024-01-10' AND ts < '2024-01-20'
      |GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin

  /** STORE18: DYNAMIC HIDDEN-PARTITION PRUNING inside the correctness
    * gate ([[graft.ops.HiddenPartitionPruning]], VERDICT-r9 ask #5) —
    * the fact side is the SAME `days(ts)`-partitioned store as
    * store14, but here the day window arrives through a JOIN, not a
    * predicate: a selective dimension (distinct purchase timestamps of
    * a 6-day window, read from the raw parquet) equi-joins the store
    * on the RAW timestamp. No static predicate touches the fact scan —
    * only the runtime day ordinals derived from the dim's join values
    * can prune it, so a pruning filter that dropped a matching day
    * directory (or a derivation that mis-bucketed a boundary day)
    * flips the hash. DuckDB reproduces the join from the raw parquet.
    * The dirs-pruned pin (2 of 20 day dirs) lives in StoreDppSpec —
    * here the gate proves VALUE-exactness of the pruned plan. */
  def store18DppJoin(spark: SparkSession, dir: String): DataFrame = {
    val root = Tables.memoFresh(store14Cache, spark, dir, "events") {
      stageStore14(spark, dir)
    }
    val fact = graft.ops.AtomicPublish.readTable(spark, root, "events")
    val dim = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase" &&
        col("ts") >= lit("2024-01-10").cast("timestamp") &&
        col("ts") < lit("2024-01-16").cast("timestamp"))
      .select(col("ts")).distinct()
    fact.join(dim, "ts")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_rows"),
        round(sum(col("value")), 2).as("sum_value"))
      .orderBy(col("event_type"))
  }

  val store18DppJoinSql: String =
    """WITH dim AS (
      |  SELECT DISTINCT ts FROM events
      |  WHERE event_type = 'purchase'
      |    AND ts >= '2024-01-10' AND ts < '2024-01-16')
      |SELECT e.event_type, count(*)::BIGINT AS n_rows,
      |  round(sum(e.value), 2) AS sum_value
      |FROM events e JOIN dim d ON e.ts = d.ts
      |GROUP BY 1 ORDER BY 1""".stripMargin

  private val store19Cache =
    scala.collection.concurrent.TrieMap.empty[String, (String, String)]

  /** STORE19: METADATA-ONLY AGGREGATES inside the correctness gate
    * ([[graft.ops.MetadataAggregates]]) — full-table count(*)/
    * count(col)/min/max over a stats-covered two-segment store answer
    * from the manifest's recorded segment stats with ZERO data files
    * read (the plan pin lives in PlanAuditSpec; MetadataAggregatesSpec
    * pins the zero-scan metric and every fallback gate). DuckDB
    * computes the same aggregates from the raw parquet, so a stats
    * line that drifted from the data — a wrong row count, a truncated
    * or mis-encoded min/max, a null-count error — flips the hash. The
    * catalog-lookup query every operator runs hourly, free at any
    * scale. */
  def store19MetadataAgg(spark: SparkSession, dir: String): DataFrame = {
    val root = Tables.memoFresh(store19Cache, spark, dir, "documents") {
      import graft.ops.AtomicPublish
      val tmp = java.nio.file.Files.createTempDirectory("graft-store19")
      sys.addShutdownHook {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
        }
        rm(tmp.toFile)
      }
      val r = tmp.resolve("store").toString
      val docs = Tables.documents(spark, dir)
        .select(col("doc_id"), col("lang"), col("n_chars"))
      def seg(k: Int) = docs.filter(pmod(col("doc_id"), lit(2)) === k)
        .repartition(2)
      val v1 = AtomicPublish.publish(spark, r, Map("documents" -> seg(0)),
        statsBy = Map("documents" -> Seq("doc_id", "lang", "n_chars")))
      AtomicPublish.publishDelta(spark, r,
        append = Map("documents" -> seg(1)), parent = Some(v1))
      r
    }
    graft.ops.AtomicPublish.readTable(spark, root, "documents").agg(
      count(lit(1)).as("n_docs"),
      count(col("n_chars")).as("n_known"),
      min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"),
      min(col("lang")).as("min_lang"), max(col("lang")).as("max_lang"),
      min(col("n_chars")).as("min_chars"),
      max(col("n_chars")).as("max_chars"))
  }

  val store19MetadataAggSql: String =
    """SELECT count(*)::BIGINT AS n_docs,
      |  count(n_chars)::BIGINT AS n_known,
      |  min(doc_id)::BIGINT AS min_id, max(doc_id)::BIGINT AS max_id,
      |  min(lang) AS min_lang, max(lang) AS max_lang,
      |  min(n_chars)::BIGINT AS min_chars,
      |  max(n_chars)::BIGINT AS max_chars
      |FROM documents""".stripMargin

  private val store20Cache =
    scala.collection.concurrent.TrieMap.empty[String, (String, String)]

  /** STORE20: IDENTITY partition-spec evolution inside the correctness
    * gate (r10 — the store15 precedent applied to the identity tier):
    * the documents table is born FLAT, evolved to `PARTITIONED BY
    * (lang)` in one O(1) metadata commit, then appended — so the chain
    * holds a file-sourced-lang owner AND a dir-sourced-lang owner at
    * once, and the readback aggregates BY that column across both
    * identity classes ([[graft.ops.GraftFileIndex.relationFor]]
    * per-class mounts). DuckDB reproduces the aggregation from the raw
    * parquet: a lang value lost to the class split — served null from
    * a dir that doesn't have it, or dropped from a file that does —
    * flips the hash. */
  def store20IdentityEvolution(spark: SparkSession, dir: String)
      : DataFrame = {
    val root = Tables.memoFresh(store20Cache, spark, dir, "documents") {
      import graft.ops.AtomicPublish
      val tmp = java.nio.file.Files.createTempDirectory("graft-store20")
      sys.addShutdownHook {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
        }
        rm(tmp.toFile)
      }
      val r = tmp.resolve("store").toString
      val docs = Tables.documents(spark, dir)
        .select(col("doc_id"), col("lang"), col("n_chars"))
      def seg(k: Int) = docs.filter(pmod(col("doc_id"), lit(2)) === k)
        .repartition(2)
      val v1 = AtomicPublish.publish(spark, r,
        Map("documents" -> seg(0)))
      val vE = AtomicPublish.setPartitionSpec(spark, r, "documents",
        Seq("lang")).get
      AtomicPublish.publishDelta(spark, r,
        append = Map("documents" -> seg(1)), parent = Some(vE))
      r
    }
    graft.ops.AtomicPublish.readTable(spark, root, "documents")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("doc_id")).as("sum_id"),
        sum(col("n_chars")).as("sum_chars"))
      .orderBy(col("lang"))
  }

  val store20IdentityEvolutionSql: String =
    """SELECT lang, count(*)::BIGINT AS n_docs,
      |  sum(doc_id)::BIGINT AS sum_id,
      |  sum(n_chars)::BIGINT AS sum_chars
      |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin

  private val store15Cache =
    scala.collection.concurrent.TrieMap.empty[String, (String, String)]

  /** STORE15: PARTITION-SPEC EVOLUTION inside the correctness gate —
    * the events table is born `PARTITIONED BY (days(ts))`, evolved to
    * `months(ts)` via the SQL `CALL set_partition_spec` face (ONE O(1)
    * metadata commit, [[graft.ops.AtomicPublish.setPartitionSpec]]),
    * then appended — so the owner chain holds a day-laid segment AND a
    * month-laid segment at once, and the readback's raw-timestamp
    * range predicate must parse + prune EACH owner under the spec it
    * was written with ([[graft.ops.GraftFileIndex]] per-owner
    * layouts). DuckDB reproduces the readback from the raw parquet: a
    * mis-parsed evolved directory, a boundary day/month bucketing
    * error, or pruning that dropped a matching file in either layout
    * flips the hash. */
  def store15PartitionEvolution(spark: SparkSession, dir: String)
      : DataFrame = {
    val root = Tables.memoFresh(store15Cache, spark, dir, "events") {
      stageStore15(spark, dir)
    }
    val cat = catalogFor(spark, "store15", root)
    spark.sql(
      s"""SELECT date_trunc('day', ts) AS day, event_type,
         |  count(*) AS n_events, round(sum(value), 2) AS sum_value
         |FROM $cat.events
         |WHERE ts >= '2024-01-08' AND ts < '2024-01-25'
         |GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin)
  }

  private def stageStore15(spark: SparkSession, dir: String): String = {
    import graft.ops.AtomicPublish
    val tmp = java.nio.file.Files.createTempDirectory("graft-store15")
    sys.addShutdownHook {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(tmp.toFile)
    }
    val root = tmp.resolve("store").toString
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
    def seg(k: Int) = ev.filter(pmod(col("event_id"), lit(2)) === k)
      .repartition(2)
    AtomicPublish.publish(spark, root, Map("events" -> seg(0)),
      partitionBy = Map("events" -> Seq("days(ts)")))
    val cat = catalogFor(spark, "store15stage", root)
    // evolve through the SQL face — the CALL is part of what the gate
    // exercises; the append then lands month-laid
    spark.sql(s"CALL $cat.system.set_partition_spec(" +
      "table => 'events', spec => 'months(ts)')")
    AtomicPublish.publishDelta(spark, root,
      append = Map("events" -> seg(1)),
      parent = AtomicPublish.currentTxn(spark, root))
    root
  }

  val store15PartitionEvolutionSql: String =
    """SELECT date_trunc('day', ts) AS day, event_type,
      |  count(*)::BIGINT AS n_events, round(sum(value), 2) AS sum_value
      |FROM events
      |WHERE ts >= '2024-01-08' AND ts < '2024-01-25'
      |GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin

  private val store16Cache =
    scala.collection.concurrent.TrieMap.empty[String, (String, String)]

  /** STORE16: PREDICATE-SCOPED OVERWRITE inside the correctness gate —
    * the `INSERT OVERWRITE`/`replaceWhere` backfill: a two-day range
    * of the time-partitioned events table is RE-STATED through the SQL
    * write face (`writeTo(...).overwrite(cond)` →
    * [[graft.ops.AtomicPublish.overwriteWhere]]) with corrected rows
    * (values doubled, every 7th event dropped) — only segments that
    * can hold matching rows rewrite, rows outside the range survive
    * untouched, and the replacement is row-guarded to stay inside the
    * predicate. DuckDB reconstructs the final state from the raw
    * parquet (outside-range UNION corrected), so the hash match proves
    * the scoped rewrite replaced EXACTLY the predicate's rows: a row
    * leaked into or out of the range, a dropped non-matching row, or a
    * double-applied correction all flip it. */
  def store16ReplaceWhere(spark: SparkSession, dir: String): DataFrame = {
    val root = Tables.memoFresh(store16Cache, spark, dir, "events") {
      stageStore16(spark, dir)
    }
    val cat = catalogFor(spark, "store16", root)
    spark.sql(
      s"""SELECT date_trunc('day', ts) AS day, event_type,
         |  count(*) AS n_events, round(sum(value), 2) AS sum_value
         |FROM $cat.events
         |WHERE ts >= '2024-01-05' AND ts < '2024-01-20'
         |GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin)
  }

  private def stageStore16(spark: SparkSession, dir: String): String = {
    import graft.ops.AtomicPublish
    val tmp = java.nio.file.Files.createTempDirectory("graft-store16")
    sys.addShutdownHook {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(tmp.toFile)
    }
    val root = tmp.resolve("store").toString
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
    def seg(k: Int) = ev.filter(pmod(col("event_id"), lit(2)) === k)
      .repartition(2)
    val v1 = AtomicPublish.publish(spark, root, Map("events" -> seg(0)),
      partitionBy = Map("events" -> Seq("days(ts)")),
      statsBy = Map("events" -> Seq("ts")))
    AtomicPublish.publishDelta(spark, root,
      append = Map("events" -> seg(1)), parent = Some(v1))
    val cat = catalogFor(spark, "store16stage", root)
    val lo = lit("2024-01-10 00:00:00").cast("timestamp")
    val hi = lit("2024-01-12 00:00:00").cast("timestamp")
    // corrected rows derive from the PRE-overwrite snapshot (the scan
    // pins at resolution; the staged rewrite reads the old files)
    val corrected = spark.table(s"$cat.events")
      .filter(col("ts") >= lo && col("ts") < hi &&
        pmod(col("event_id"), lit(7)) =!= 0)
      .withColumn("value", col("value") * 2)
    corrected.writeTo(s"$cat.events")
      .overwrite(col("ts") >= lo && col("ts") < hi)
    root
  }

  val store16ReplaceWhereSql: String =
    """WITH corrected AS (
      |  SELECT event_id, ts, user_id, event_type, value * 2 AS value
      |  FROM events
      |  WHERE ts >= '2024-01-10' AND ts < '2024-01-12'
      |    AND event_id % 7 <> 0),
      |final AS (
      |  SELECT event_id, ts, user_id, event_type, value FROM events
      |  WHERE NOT (ts >= '2024-01-10' AND ts < '2024-01-12')
      |  UNION ALL SELECT * FROM corrected)
      |SELECT date_trunc('day', ts) AS day, event_type,
      |  count(*)::BIGINT AS n_events, round(sum(value), 2) AS sum_value
      |FROM final
      |WHERE ts >= '2024-01-05' AND ts < '2024-01-20'
      |GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin

  private val store17Cache =
    scala.collection.concurrent.TrieMap.empty[String, (String, String)]

  /** store17 — CDC-TRANSPARENT COMPACTION end to end (VERDICT-r9 ask
    * #1): a downstream MIRROR store is maintained purely from the CDC
    * stream (`readStream.format("graft")`) of a source table whose
    * un-drained window holds an append, row deletes, a FULL COMPACTION
    * (the tombstone debt applied physically — a reorganization commit,
    * dataChange=false), and a post-compaction append. Pre-r10 the
    * compaction forced `GRAFT_RESYNC_REQUIRED` on the stream; now the
    * commit chain's dataChange markers let the interval diff ride
    * through, and the stream-maintained mirror must hash-match
    * DuckDB's recomputation of the same delete/append algebra. */
  def store17CdcCompaction(spark: SparkSession, dir: String): DataFrame = {
    val mirrorRoot = Tables.memoFresh(store17Cache, spark, dir,
      "documents") {
      stageStore17(spark, dir)
    }
    val cat = catalogFor(spark, "store17", mirrorRoot)
    spark.sql(
      s"""SELECT lang, count(*) AS n_docs,
         |  sum(length(text)) AS n_chars
         |FROM $cat.mirror
         |GROUP BY lang ORDER BY lang""".stripMargin)
  }

  private def stageStore17(spark: SparkSession, dir: String): String = {
    import graft.ops.{AtomicPublish, Compaction}
    val tmp = java.nio.file.Files.createTempDirectory("graft-store17")
    sys.addShutdownHook {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(tmp.toFile)
    }
    val srcRoot = tmp.resolve("src").toString
    val mirRoot = tmp.resolve("mirror").toString
    val ckpt = tmp.resolve("ckpt").toString
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("text"))
    def seg(k: Int) = docs.filter(pmod(col("doc_id"), lit(3)) === k)
      .repartition(2)
    def drain(): Unit = {
      val q = spark.readStream.format("graft")
        .option("root", srcRoot).option("table", "documents").load()
        .writeStream.option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (df: DataFrame, _: Long) =>
          // a real SCD sync: the signed batch's deletes tombstone the
          // mirror, its inserts append — both through the mirror's own
          // atomic commits
          val cached = df.persist()
          try {
            val del = cached
              .filter(col("_change_type") === "delete").select("doc_id")
            val ins = cached
              .filter(col("_change_type") === "insert")
              .drop("_change_type")
            if (AtomicPublish.currentTxn(spark, mirRoot).isEmpty) {
              AtomicPublish.publish(spark, mirRoot, Map("mirror" -> ins))
              ()
            } else {
              if (!del.isEmpty)
                AtomicPublish.deleteRows(spark, mirRoot,
                  Map("mirror" -> del))
              if (!ins.isEmpty)
                AtomicPublish.publishDelta(spark, mirRoot,
                  append = Map("mirror" -> ins),
                  parent = AtomicPublish.currentTxn(spark, mirRoot))
              ()
            }
          } finally { cached.unpersist(); () }
          ()
        }.start()
      q.awaitTermination()
    }
    // v1: first segment; the snapshot batch bootstraps the mirror
    AtomicPublish.publish(spark, srcRoot, Map("documents" -> seg(0)))
    drain()
    // ONE un-drained window: append, delete, full compaction, append —
    // the stream must ride through the reorganization exactly. The
    // mod-41 deletes kill only the seg0/seg1 copies (seg2 lands after
    // the tombstones' asof scope — re-appended keys stay live).
    AtomicPublish.publishDelta(spark, srcRoot,
      append = Map("documents" -> seg(1)),
      parent = AtomicPublish.currentTxn(spark, srcRoot))
    AtomicPublish.deleteRows(spark, srcRoot, Map("documents" ->
      docs.filter(pmod(col("doc_id"), lit(41)) === 3).select("doc_id")))
    Compaction.compactStore(spark, srcRoot, "documents")
    AtomicPublish.publishDelta(spark, srcRoot,
      append = Map("documents" -> seg(2)),
      parent = AtomicPublish.currentTxn(spark, srcRoot))
    drain()
    mirRoot
  }

  val store17CdcCompactionSql: String =
    """SELECT lang, count(*)::BIGINT AS n_docs,
      |  sum(length(text))::BIGINT AS n_chars
      |FROM documents
      |WHERE doc_id % 3 = 2 OR doc_id % 41 <> 3
      |GROUP BY lang ORDER BY lang""".stripMargin

  private def stageStore1(spark: SparkSession, dir: String): String = {
    import graft.ops.AtomicPublish
    val tmp = java.nio.file.Files.createTempDirectory("graft-store1")
    // harness runs create one store per JVM — reap it on exit instead
    // of littering /tmp across repeated runs (VERDICT r5 nit #3)
    sys.addShutdownHook {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(tmp.toFile)
    }
    val root = tmp.resolve("store").toString
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("text"))
    def seg(k: Int) = docs.filter(pmod(col("doc_id"), lit(3)) === k)
      .repartitionByRange(2, col("doc_id"))
    val v1 = AtomicPublish.publish(spark, root, Map("documents" -> seg(0)),
      statsBy = Map("documents" -> Seq("doc_id")),
      bloomBy = Map("documents" -> Seq("doc_id")))
    val v2 = AtomicPublish.publishDelta(spark, root,
      append = Map("documents" -> seg(1)), parent = Some(v1)).get
    AtomicPublish.publishDelta(spark, root,
      append = Map("documents" -> seg(2)), parent = Some(v2)).get
    AtomicPublish.deleteRows(spark, root, Map("documents" ->
      docs.filter(pmod(col("doc_id"), lit(53)) === 5).select("doc_id")))
    root
  }

  val store1PrunedScanSql: String =
    """SELECT doc_id, lang, length(text)::BIGINT AS n_chars
      |FROM documents
      |WHERE doc_id BETWEEN 12 AND 340 AND doc_id % 53 <> 5
      |ORDER BY doc_id""".stripMargin

  private val store3Cache =
    scala.collection.concurrent.TrieMap.empty[String, (String, String)]

  /** STORE3: INCREMENTAL JOIN MATVIEWS inside the correctness gate —
    * orders (keyed to the customer join column, prices as integer
    * cents) and customers staged into a store, then a
    * [[graft.ops.MatView.JoinDef]] view (per-segment order count, cents
    * revenue, distinct customer count) refreshed after EVERY commit of
    * a five-step history: init, left append, RIGHT-side delete
    * (signed-merge through the join identity), another left append,
    * LEFT-side delete. The final view state was therefore built
    * entirely through incremental merges — no terminal recompute — and
    * the DuckDB oracle joins the SOURCE tables with the delete
    * predicates applied, so a hash match proves the whole signed
    * join-delta algebra (Δ(A⋈B) = ΔA⋈B_old + A_new⋈ΔB, counting merge,
    * distinct-value state) is lossless. */
  def store3MatviewJoin(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.AtomicPublish
    val root = Tables.memoFresh(store3Cache, spark, dir, "orders") {
      stageStore3(spark, dir)
    }
    AtomicPublish.readTable(spark, root, "seg_stats")
      .orderBy(col("c_mktsegment"))
  }

  private def stageStore3(spark: SparkSession, dir: String): String = {
    import graft.ops.{AtomicPublish, MatView}
    val tmp = java.nio.file.Files.createTempDirectory("graft-store3")
    sys.addShutdownHook {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(tmp.toFile)
    }
    val root = tmp.resolve("store").toString
    // integer cents: sums stay in the exact domain on both engines
    val ord = Tables.orders(spark, dir).select(col("o_orderkey"),
      col("o_custkey").as("c_custkey"),
      round(col("o_totalprice") * 100).cast("long").as("cents_v"))
    val cust = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_mktsegment"))
    def slice(k: Int) = ord.filter(pmod(col("o_orderkey"), lit(3)) === k)
    val d = MatView.JoinDef("orders", "customer", Seq("c_custkey"),
      "seg_stats", Seq("c_mktsegment"),
      Seq(MatView.Agg("count", "o_orderkey", "n_orders"),
        MatView.Agg("sum", "cents_v", "cents"),
        MatView.Agg("count_distinct", "c_custkey", "n_custs")))
    AtomicPublish.publish(spark, root,
      Map("orders" -> slice(0), "customer" -> cust),
      statsBy = Map("orders" -> Seq("o_orderkey"),
        "customer" -> Seq("c_custkey")),
      bloomBy = Map("customer" -> Seq("c_custkey")))
    require(MatView.refresh(spark, root, d).isDefined)
    AtomicPublish.publishDelta(spark, root,
      append = Map("orders" -> slice(1)),
      parent = AtomicPublish.currentTxn(spark, root)).get
    require(MatView.refresh(spark, root, d).isDefined)
    AtomicPublish.deleteRows(spark, root, Map("customer" ->
      cust.filter(pmod(col("c_custkey"), lit(7)) === 3)
        .select("c_custkey")))
    require(MatView.refresh(spark, root, d).isDefined)
    AtomicPublish.publishDelta(spark, root,
      append = Map("orders" -> slice(2)),
      parent = AtomicPublish.currentTxn(spark, root)).get
    require(MatView.refresh(spark, root, d).isDefined)
    AtomicPublish.deleteRows(spark, root, Map("orders" ->
      ord.filter(pmod(col("o_orderkey"), lit(11)) === 5)
        .select("o_orderkey")))
    require(MatView.refresh(spark, root, d).isDefined)
    root
  }

  val store3MatviewJoinSql: String =
    """SELECT c.c_mktsegment, count(o.o_orderkey)::BIGINT AS n_orders,
      |  CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |    AS cents,
      |  count(DISTINCT c.c_custkey)::BIGINT AS n_custs
      |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |WHERE o.o_orderkey % 11 <> 5 AND c.c_custkey % 7 <> 3
      |GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment""".stripMargin

  private val store21Cache =
    scala.collection.concurrent.TrieMap.empty[String, (String, String)]

  /** STORE21: RUNTIME row-level join filtering inside the correctness
    * gate (VERDICT r10 missing #1) — orders live in the store,
    * range-clustered and bloom/stats-covered on `o_custkey`, a PLAIN
    * DATA column (not partitioned, not bucketed); the query joins them
    * to a selectively-filtered customer dim on that column. The
    * [[graft.ops.RuntimeJoinFilter]] rule materializes the dim's ~40
    * surviving keys at planning and pushes them into the fact scan as
    * a static IN — segment zone maps + bloom sidecars + per-file maps
    * then drop the fact files no dim key can hit (file-subset
    * reduction pinned in StoreRuntimeFilterSpec). The DuckDB oracle
    * recomputes the join from the source tables, so the hash match
    * proves the rewrite is result-invisible. */
  /** The dim filter is on `batch` — a NON-key column (custkey DIV 50,
    * the "one ingest batch" shape) — so `InferFiltersFromConstraints`
    * cannot statically propagate anything onto the fact's join key:
    * any file-subset reduction is attributable ONLY to the planted
    * runtime key set. The batch's keys are value-LOCALIZED (ids of one
    * batch are adjacent), which is what makes the planted IN prune the
    * custkey-range-clustered fact files — the realistic dim-driven
    * lookup (recent customers ↔ recent orders). */
  def store21RuntimeFilter(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.AtomicPublish
    val root = Tables.memoFresh(store21Cache, spark, dir, "orders") {
      stageStore21(spark, dir)
    }
    val fact = AtomicPublish.readTable(spark, root, "orders")
    val dim = AtomicPublish.readTable(spark, root, "cust_batch")
      .filter(col("batch") === 2L)
      .select(col("c_custkey"))
    fact.join(dim, col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("c_custkey"), col("cents_v"))
      .orderBy(col("o_orderkey"))
  }

  private def stageStore21(spark: SparkSession, dir: String): String = {
    import graft.ops.AtomicPublish
    val tmp = java.nio.file.Files.createTempDirectory("graft-store21")
    sys.addShutdownHook {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(tmp.toFile)
    }
    val root = tmp.resolve("store").toString
    val ord = Tables.orders(spark, dir).select(col("o_orderkey"),
      col("o_custkey"),
      round(col("o_totalprice") * 100).cast("long").as("cents_v"))
      .repartitionByRange(8, col("o_custkey"))
    val cust = Tables.customer(spark, dir)
      .select(col("c_custkey"), (col("c_custkey") / 50).cast("long")
        .as("batch"))
    AtomicPublish.publish(spark, root,
      Map("orders" -> ord, "cust_batch" -> cust),
      statsBy = Map("orders" -> Seq("o_orderkey", "o_custkey"),
        "cust_batch" -> Seq("c_custkey", "batch")),
      bloomBy = Map("orders" -> Seq("o_custkey")))
    root
  }

  val store21RuntimeFilterSql: String =
    """SELECT o.o_orderkey, c.c_custkey,
      |  CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents_v
      |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |WHERE c.c_custkey // 50 = 2
      |ORDER BY o.o_orderkey""".stripMargin

  private val store22Cache =
    scala.collection.concurrent.TrieMap.empty[String, (String, String)]

  /** STORE22: the SQL-ONLY join-matview lifecycle inside the
    * correctness gate (VERDICT r10 ask #6; re-staged on real DDL per
    * VERDICT r11 ask #3) — store3's incremental history re-driven with
    * NOTHING but catalog SQL: `CREATE TABLE` + `INSERT INTO` stage the
    * sources, `CREATE MATERIALIZED VIEW ... AS SELECT ... FROM a JOIN
    * b USING (...) GROUP BY ...` creates the JOIN view and `REFRESH
    * MATERIALIZED VIEW` (by NAME alone — the recorded `<view>_def`
    * re-derives the spec) re-brings it current after every commit,
    * `DELETE FROM` drives both signed-merge delete steps (range
    * predicates — the V1-translatable delete form), and the readback
    * SELECTs the view through the same catalog. No store API call and
    * no `CALL` procedure anywhere in the staging or read path. The
    * DuckDB oracle recomputes the aggregate from the SOURCE tables
    * with the delete predicates applied, so a hash match proves the
    * DDL face drives the identical incremental algebra (Δ(A⋈B) joins,
    * counting merge, distinct-value state) end to end — the
    * "analytics consumer" persona who lives entirely in SQL now owns
    * create, maintain, and read through the syntax they'd type on any
    * warehouse. */
  def store22SqlMatview(spark: SparkSession, dir: String): DataFrame = {
    val root = Tables.memoFresh(store22Cache, spark, dir, "orders") {
      stageStore22(spark, dir)
    }
    val cat = catalogFor(spark, "store22", root)
    spark.sql(
      s"""SELECT c_mktsegment, n_orders, cents, n_custs
         |FROM $cat.seg_stats ORDER BY c_mktsegment""".stripMargin)
  }

  private def stageStore22(spark: SparkSession, dir: String): String = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-store22")
    sys.addShutdownHook {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(tmp.toFile)
    }
    val root = tmp.resolve("store").toString
    withExtensionSession(spark) { es =>
      val cat = catalogFor(es, "store22", root)
      val tag = java.lang.Integer.toHexString(root.hashCode)
      val ordSrc = s"store22_ord_$tag"
      val custSrc = s"store22_cust_$tag"
      Tables.orders(es, dir).select(col("o_orderkey"),
        col("o_custkey").as("c_custkey"),
        round(col("o_totalprice") * 100).cast("long").as("cents_v"))
        .createOrReplaceTempView(ordSrc)
      Tables.customer(es, dir)
        .select(col("c_custkey"), col("c_mktsegment"))
        .createOrReplaceTempView(custSrc)
      def sqls(stmts: String*): Unit = stmts.foreach(s => es.sql(s).collect())
      val refresh = s"REFRESH MATERIALIZED VIEW $cat.seg_stats"
      sqls(
        s"CREATE TABLE $cat.orders " +
          "(o_orderkey BIGINT, c_custkey BIGINT, cents_v BIGINT)",
        s"CREATE TABLE $cat.customer (c_custkey BIGINT, c_mktsegment STRING)",
        s"INSERT INTO $cat.customer SELECT * FROM $custSrc",
        s"INSERT INTO $cat.orders SELECT * FROM $ordSrc WHERE o_orderkey % 3 = 0",
        s"""CREATE MATERIALIZED VIEW $cat.seg_stats AS
           |SELECT c_mktsegment, count(o_orderkey) AS n_orders,
           |  sum(cents_v) AS cents, count(DISTINCT c_custkey) AS n_custs
           |FROM $cat.orders JOIN $cat.customer USING (c_custkey)
           |GROUP BY c_mktsegment""".stripMargin,
        s"INSERT INTO $cat.orders SELECT * FROM $ordSrc WHERE o_orderkey % 3 = 1",
        refresh,
        s"DELETE FROM $cat.customer WHERE c_custkey BETWEEN 40 AND 70",
        refresh,
        s"INSERT INTO $cat.orders SELECT * FROM $ordSrc WHERE o_orderkey % 3 = 2",
        refresh,
        s"DELETE FROM $cat.orders WHERE o_orderkey BETWEEN 1000 AND 3000",
        refresh)
    }
    root
  }

  val store22SqlMatviewSql: String =
    """SELECT c.c_mktsegment, count(o.o_orderkey)::BIGINT AS n_orders,
      |  CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |    AS cents,
      |  count(DISTINCT c.c_custkey)::BIGINT AS n_custs
      |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |WHERE o.o_orderkey NOT BETWEEN 1000 AND 3000
      |  AND c.c_custkey NOT BETWEEN 40 AND 70
      |GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment""".stripMargin

  /** HOF predicate battery over the embedding arrays: exists / forall /
    * filter-count in the double domain. */
  def x12HofPredicates(spark: SparkSession, dir: String): DataFrame = {
    val v = col("embedding").cast("array<double>")
    Tables.embeddings(spark, dir)
      .filter(col("vec_id") < 200)
      .select(col("vec_id"),
        exists(v, x => x > 0.3).as("has_large"),
        forall(v, x => abs(x) < 1.0).as("all_unit_bounded"),
        size(filter(v, x => x > 0.0)).cast("long").as("n_positive"))
      .orderBy(col("vec_id"))
  }

  val x12HofPredicatesSql: String =
    """SELECT vec_id,
      |len(list_filter(embedding::DOUBLE[], x -> x > 0.3)) > 0 AS has_large,
      |len(list_filter(embedding::DOUBLE[], x -> abs(x) >= 1.0)) = 0
      |  AS all_unit_bounded,
      |len(list_filter(embedding::DOUBLE[], x -> x > 0.0))::BIGINT AS n_positive
      |FROM embeddings WHERE vec_id < 200 ORDER BY vec_id""".stripMargin

  /** W5: ntile quartiles — orders bucketed into price quartiles within
    * each priority class (the feature-binning window op). Deterministic:
    * the window order is unique (price desc, orderkey). */
  def w5Ntile(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderpriority"),
        ntile(4).over(w).cast("long").as("price_quartile"))
      .orderBy(col("o_orderkey"))
  }

  val w5NtileSql: String =
    """SELECT o_orderkey, o_orderpriority,
      |ntile(4) OVER (PARTITION BY o_orderpriority
      |               ORDER BY o_totalprice DESC, o_orderkey)::BIGINT
      |  AS price_quartile
      |FROM orders ORDER BY o_orderkey""".stripMargin

  /** W6: RANGE-frame window — each event's trailing-1-hour same-user
    * event count and value sum (the temporal analytic w3's ROWS frame
    * can't express: the frame is bounded by the ORDER-BY VALUE distance,
    * not a row count). Ordered by epoch micros so the range arithmetic
    * is integral and identical in both engines. */
  def w6RangeFrame(spark: SparkSession, dir: String): DataFrame = {
    val hourUs = 3600L * 1000000L
    val w = Window.partitionBy(col("user_id")).orderBy(col("t"))
      .rangeBetween(-hourUs, 0)
    Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("value"),
        unix_micros(col("ts")).as("t"))
      .select(col("event_id"), col("user_id"),
        count(lit(1)).over(w).as("n_trailing_1h"),
        r2(sum(col("value")).over(w)).as("sum_trailing_1h"))
      .orderBy(col("event_id"))
  }

  val w6RangeFrameSql: String =
    """SELECT event_id, user_id,
      |count(*) OVER w AS n_trailing_1h,
      |round(sum(value) OVER w, 2) AS sum_trailing_1h
      |FROM (SELECT event_id, user_id, value, epoch_us(ts) AS t FROM events) e
      |WINDOW w AS (PARTITION BY user_id ORDER BY t
      |             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
      |ORDER BY event_id""".stripMargin

  /** A12: FILTER-clause conditional aggregation — per-segment order
    * stats split by status inside ONE aggregate pass (no self-joins, no
    * pivot): the idiom for one-pass cohort metrics. */
  def a12FilteredAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .join(Tables.orders(spark, dir),
        col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_mktsegment"))
      .agg(
        count(col("o_orderkey")).as("n_orders"),
        count(when(col("o_orderstatus") === "F", 1)).as("n_finished"),
        r2(coalesce(sum(when(col("o_orderstatus") === "O",
          col("o_totalprice"))), lit(0.0))).as("open_value"),
        countDistinct(col("c_custkey")).as("n_customers"))
      .orderBy(col("c_mktsegment"))

  val a12FilteredAggSql: String =
    """SELECT c_mktsegment,
      |count(o_orderkey) AS n_orders,
      |count(*) FILTER (WHERE o_orderstatus = 'F') AS n_finished,
      |round(coalesce(sum(o_totalprice) FILTER (WHERE o_orderstatus = 'O'), 0.0), 2)
      |  AS open_value,
      |count(DISTINCT c_custkey) AS n_customers
      |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  /** X15: string shaping battery — pad/translate/initcap/reverse/repeat
    * (the formatting layer every export pipeline ends with). */
  def x15StringShape(spark: SparkSession, dir: String): DataFrame =
    Tables.nation(spark, dir)
      .select(col("n_nationkey").cast("long").as("n_nationkey"),
        lpad(col("n_name"), 12, ".").as("padded"),
        rpad(col("n_name"), 12, "_").as("rpadded"),
        translate(col("n_name"), "AEIOU", "aeiou").as("lowered_vowels"),
        initcap(lower(col("n_name"))).as("title_case"),
        reverse(col("n_name")).as("reversed"),
        repeat(substring(col("n_name"), 1, 2), 3).as("repeated"))
      .orderBy(col("n_nationkey"))

  val x15StringShapeSql: String =
    """SELECT n_nationkey::BIGINT AS n_nationkey,
      |lpad(n_name, 12, '.') AS padded,
      |rpad(n_name, 12, '_') AS rpadded,
      |translate(n_name, 'AEIOU', 'aeiou') AS lowered_vowels,
      |array_to_string(list_transform(string_split(lower(n_name), ' '),
      |  w -> upper(w[1]) || w[2:]), ' ') AS title_case,
      |reverse(n_name) AS reversed,
      |repeat(substring(n_name, 1, 2), 3) AS repeated
      |FROM nation ORDER BY n_nationkey""".stripMargin

  /** A10: deterministic MODE (most frequent value, ties broken by value
    * desc — native mode() is tie-nondeterministic in BOTH engines, so
    * the tie-break is spelled out) + discrete median (percentile_disc =
    * smallest value with cume_dist ≥ 0.5, spelled via cume_dist so both
    * engines compute the identical element). */
  def a10ModeDisc(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val mode = li.groupBy(col("l_returnflag"), col("l_linestatus")).count()
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("l_returnflag"))
          .orderBy(col("count").desc, col("l_linestatus").desc)))
      .filter(col("rk") === 1)
      .select(col("l_returnflag"), col("l_linestatus").as("mode_status"))
    val disc = li
      .withColumn("cd", cume_dist().over(
        Window.partitionBy(col("l_returnflag")).orderBy(col("l_quantity"))))
      .groupBy(col("l_returnflag"))
      .agg(r2(min(when(col("cd") >= 0.5, col("l_quantity")))).as("median_qty"))
    mode.join(disc, Seq("l_returnflag")).orderBy(col("l_returnflag"))
  }

  val a10ModeDiscSql: String =
    """WITH mode AS (
      |  SELECT l_returnflag, l_linestatus AS mode_status FROM (
      |    SELECT l_returnflag, l_linestatus,
      |      row_number() OVER (PARTITION BY l_returnflag
      |        ORDER BY count(*) DESC, l_linestatus DESC) AS rk
      |    FROM lineitem GROUP BY l_returnflag, l_linestatus) t
      |  WHERE rk = 1),
      |disc AS (
      |  SELECT l_returnflag,
      |    round(min(CASE WHEN cd >= 0.5 THEN l_quantity END), 2) AS median_qty
      |  FROM (SELECT l_returnflag, l_quantity,
      |          cume_dist() OVER (PARTITION BY l_returnflag
      |                            ORDER BY l_quantity) AS cd
      |        FROM lineitem) s
      |  GROUP BY l_returnflag)
      |SELECT l_returnflag, mode_status, median_qty
      |FROM mode JOIN disc USING (l_returnflag)
      |ORDER BY l_returnflag""".stripMargin

  /** A11: unpivot/melt — the wide pivot (a8) folded back to long form
    * with Spark's native `unpivot` (wide→long schema evolution, the
    * inverse operator an analyst needs next to pivot). */
  def a11Unpivot(spark: SparkSession, dir: String): DataFrame =
    a8Pivot(spark, dir)
      .unpivot(Array(col("o_orderpriority")),
        Array(col("n_f"), col("n_o"), col("n_p")), "status_col", "n_orders")
      .orderBy(col("o_orderpriority"), col("status_col"))

  val a11UnpivotSql: String =
    s"""WITH wide AS (${a8PivotSql.replace("ORDER BY o_orderpriority", "")})
      |SELECT o_orderpriority, 'n_f' AS status_col, n_f AS n_orders FROM wide
      |UNION ALL
      |SELECT o_orderpriority, 'n_o', n_o FROM wide
      |UNION ALL
      |SELECT o_orderpriority, 'n_p', n_p FROM wide
      |ORDER BY o_orderpriority, status_col""".stripMargin

  /** X14: regex battery over customer identity strings (the synthetic
    * documents are lowercase word-salad — no digits/capitals to match) —
    * extract-all, anchored first-match, per-char global redaction (the
    * PHI-scrubbing shape of the reference's ssn handling, generalized).
    * Patterns are POSIX-basic so Java regex (Spark) and RE2 (DuckDB)
    * agree; DuckDB renders an EMPTY match list as NULL from
    * array_to_string, hence the coalesce on that side only. */
  def x14RegexFuncs(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .select(col("c_custkey"),
        regexp_extract(col("c_name"), "[0-9]+", 0).as("cust_num"),
        size(regexp_extract_all(col("c_name"), lit("[0-9]"), lit(0)))
          .cast("long").as("n_digits"),
        regexp_replace(col("c_name"), "[0-9]", "#").as("redacted_name"),
        array_join(regexp_extract_all(col("c_name"), lit("[A-Z][a-z]+"), lit(0)), ",")
          .as("capitalized"),
        regexp_extract(col("c_mktsegment"), "[0-9]+", 0).as("seg_digits"))
      .orderBy(col("c_custkey"))

  val x14RegexFuncsSql: String =
    """SELECT c_custkey,
      |regexp_extract(c_name, '[0-9]+') AS cust_num,
      |len(regexp_extract_all(c_name, '[0-9]'))::BIGINT AS n_digits,
      |regexp_replace(c_name, '[0-9]', '#', 'g') AS redacted_name,
      |coalesce(array_to_string(regexp_extract_all(c_name, '[A-Z][a-z]+'), ','), '')
      |  AS capitalized,
      |regexp_extract(c_mktsegment, '[0-9]+') AS seg_digits
      |FROM customer ORDER BY c_custkey""".stripMargin

  /** J6: TPC-H-Q5-shaped SIX-way join — local supplier volume per
    * nation of one region, one year. The join-order stress test:
    * region→nation prune first (broadcast, cuts supplier/customer to
    * one region), the date filter prunes orders at the scan, and the
    * two fact tables (lineitem⋈orders) meet last on the shuffled key.
    * Catalyst + AQE pick broadcast for every dimension side; the
    * `c_nationkey = s_nationkey` residual makes the customer join a
    * selective equi-join, not a blowup. Completes table coverage:
    * region and supplier appear here. */
  def j6Q5Volume(spark: SparkSession, dir: String): DataFrame = {
    val region = Tables.region(spark, dir).filter(col("r_name") === "ASIA")
    val nation = Tables.nation(spark, dir)
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
    val supplier = Tables.supplier(spark, dir)
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
    val orders = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
    Tables.lineitem(spark, dir)
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(supplier), col("l_suppkey") === col("s_suppkey"))
      .join(Tables.customer(spark, dir),
        col("o_custkey") === col("c_custkey") &&
          col("c_nationkey") === col("s_nationkey"))
      .groupBy(col("n_name"))
      .agg(r2(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
        .as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  val j6Q5VolumeSql: String =
    """SELECT n_name,
      |round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
      |FROM customer, orders, lineitem, supplier, nation, region
      |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      |  AND r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01'
      |  AND o_orderdate < TIMESTAMP '1997-01-01'
      |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin

  /** J7: FULL OUTER join — customer and supplier presence per nation,
    * zero-filled on either absent side (the reconciliation join shape:
    * neither side may drop rows). Joins two pre-aggregated sides, so
    * the outer join itself is tiny regardless of fact size. */
  def j7FullOuter(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
      .groupBy(col("c_nationkey")).agg(count(lit(1)).as("n_customers"))
    val s = Tables.supplier(spark, dir)
      .groupBy(col("s_nationkey")).agg(count(lit(1)).as("n_suppliers"))
    c.join(s, col("c_nationkey") === col("s_nationkey"), "full")
      .select(
        coalesce(col("c_nationkey"), col("s_nationkey")).cast("long")
          .as("nationkey"),
        coalesce(col("n_customers"), lit(0L)).as("n_customers"),
        coalesce(col("n_suppliers"), lit(0L)).as("n_suppliers"))
      .orderBy(col("nationkey"))
  }

  val j7FullOuterSql: String =
    """SELECT coalesce(c_nationkey, s_nationkey)::BIGINT AS nationkey,
      |coalesce(n_customers, 0) AS n_customers,
      |coalesce(n_suppliers, 0) AS n_suppliers
      |FROM (SELECT c_nationkey, count(*) AS n_customers
      |      FROM customer GROUP BY c_nationkey) c
      |FULL JOIN (SELECT s_nationkey, count(*) AS n_suppliers
      |           FROM supplier GROUP BY s_nationkey) s
      |  ON c_nationkey = s_nationkey
      |ORDER BY nationkey""".stripMargin

  /** Q17: correlated scalar subquery through the SQL entry point
    * (TPC-H Q17 shape) — parts whose lineitems fall below 20% of that
    * part's own average quantity. Exercises Catalyst's subquery
    * DECORRELATION: the optimizer rewrites the per-row correlated
    * aggregate into an aggregate-then-join plan (verify with explain:
    * no per-row subquery execution survives), which is the only
    * formulation that scales — a naive engine re-runs the inner
    * aggregate per outer row. */
  def q17Subquery(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir).createOrReplaceTempView("graft_lineitem")
    Tables.part(spark, dir).createOrReplaceTempView("graft_part")
    spark.sql(
      """SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
        |FROM graft_lineitem, graft_part
        |WHERE p_partkey = l_partkey AND p_partkey % 20 = 0
        |  AND l_quantity < (SELECT 0.2 * avg(l2.l_quantity)
        |                    FROM graft_lineitem l2
        |                    WHERE l2.l_partkey = p_partkey)""".stripMargin)
  }

  val q17SubquerySql: String =
    """SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
      |FROM lineitem, part
      |WHERE p_partkey = l_partkey AND p_partkey % 20 = 0
      |  AND l_quantity < (SELECT 0.2 * avg(l2.l_quantity)
      |                    FROM lineitem l2 WHERE l2.l_partkey = p_partkey)""".stripMargin

  /** Q2 shape (TPC-H Q2's minimum-cost-supplier pattern): keep the
    * lineitems whose price IS the correlated minimum for their part —
    * an equality against a correlated scalar aggregate in WHERE.
    * DECORRELATION: Catalyst rewrites the per-part min probe into one
    * aggregate-then-join (no per-row re-execution); the only plan that
    * scales past a toy corpus. */
  def q2MinCost(spark: SparkSession, dir: String): DataFrame = {
    Tables.part(spark, dir).createOrReplaceTempView("graft_part")
    Tables.lineitem(spark, dir).createOrReplaceTempView("graft_lineitem")
    spark.sql(
      """SELECT p_partkey, p_brand, l_suppkey, l_orderkey,
        |  round(l_extendedprice, 2) AS price
        |FROM graft_part, graft_lineitem l
        |WHERE p_partkey = l.l_partkey AND p_partkey % 10 = 3
        |  AND l.l_extendedprice = (
        |    SELECT min(l2.l_extendedprice) FROM graft_lineitem l2
        |    WHERE l2.l_partkey = p_partkey)
        |ORDER BY p_partkey, l_suppkey, l_orderkey""".stripMargin)
  }

  val q2MinCostSql: String =
    """SELECT p_partkey, p_brand, l_suppkey, l_orderkey,
      |  round(l_extendedprice, 2) AS price
      |FROM part, lineitem l
      |WHERE p_partkey = l.l_partkey AND p_partkey % 10 = 3
      |  AND l.l_extendedprice = (
      |    SELECT min(l2.l_extendedprice) FROM lineitem l2
      |    WHERE l2.l_partkey = p_partkey)
      |ORDER BY p_partkey, l_suppkey, l_orderkey""".stripMargin

  /** Q20 shape (TPC-H Q20's nested-IN + correlated-threshold pattern):
    * suppliers who dominate some small part's shipments — an IN
    * subquery whose inner GROUP BY filters against a correlated scalar
    * aggregate (here a SCALE-STABLE threshold: 3× the part's average
    * per-supplier share, so the answer is non-trivial at every sf).
    * Exercises two decorrelation layers at once: the IN → semi join
    * and the correlated HAVING-style threshold → aggregate join. */
  def q20NestedIn(spark: SparkSession, dir: String): DataFrame = {
    Tables.part(spark, dir).createOrReplaceTempView("graft_part")
    Tables.supplier(spark, dir).createOrReplaceTempView("graft_supplier")
    Tables.lineitem(spark, dir).createOrReplaceTempView("graft_lineitem")
    spark.sql(
      """SELECT s_suppkey, s_name
        |FROM graft_supplier
        |WHERE s_suppkey IN (
        |  SELECT l_suppkey FROM (
        |    SELECT l_suppkey, l_partkey AS pk, sum(l_quantity) AS sq
        |    FROM graft_lineitem
        |    WHERE l_partkey IN
        |      (SELECT p_partkey FROM graft_part WHERE p_size < 10)
        |    GROUP BY l_suppkey, l_partkey) g
        |  WHERE sq > (
        |    SELECT 3.0 * sum(l2.l_quantity) / count(DISTINCT l2.l_suppkey)
        |    FROM graft_lineitem l2 WHERE l2.l_partkey = g.pk))
        |ORDER BY s_suppkey""".stripMargin)
  }

  val q20NestedInSql: String =
    """SELECT s_suppkey, s_name
      |FROM supplier
      |WHERE s_suppkey IN (
      |  SELECT l_suppkey FROM (
      |    SELECT l_suppkey, l_partkey AS pk, sum(l_quantity) AS sq
      |    FROM lineitem
      |    WHERE l_partkey IN
      |      (SELECT p_partkey FROM part WHERE p_size < 10)
      |    GROUP BY l_suppkey, l_partkey) g
      |  WHERE sq > (
      |    SELECT 3.0 * sum(l2.l_quantity) / count(DISTINCT l2.l_suppkey)
      |    FROM lineitem l2 WHERE l2.l_partkey = g.pk))
      |ORDER BY s_suppkey""".stripMargin

  /** Q11 shape (TPC-H Q11's global-threshold pattern): part groups
    * whose shipped quantity exceeds a fraction of the corpus total —
    * an UNCORRELATED scalar aggregate subquery in HAVING, planned
    * once and broadcast as a literal (not per group). The threshold is
    * SCALE-STABLE: 1.2× the mean per-part share (total / distinct
    * parts), so real boundary rows exist at EVERY scale factor — a
    * fixed fraction of the total goes vacuous as the part count grows
    * (0 rows at sf0.01 made the r7 gate's hash match trivially true,
    * VERDICT-r7 nit #3). The compare stays engine-stable: sums of
    * whole-number quantities are exact in IEEE doubles and the
    * 1.2×/÷ arithmetic is the same two deterministic roundings on
    * both engines. */
  def q11HavingThreshold(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir).createOrReplaceTempView("graft_lineitem")
    spark.sql(
      """SELECT l_partkey, CAST(sum(l_quantity) AS BIGINT) AS qty
        |FROM graft_lineitem
        |GROUP BY l_partkey
        |HAVING sum(l_quantity) > (
        |  SELECT (1.2 * sum(l_quantity)) / count(DISTINCT l_partkey)
        |  FROM graft_lineitem)
        |ORDER BY l_partkey""".stripMargin)
  }

  val q11HavingThresholdSql: String =
    """SELECT l_partkey, CAST(sum(l_quantity) AS BIGINT) AS qty
      |FROM lineitem
      |GROUP BY l_partkey
      |HAVING sum(l_quantity) > (
      |  SELECT (1.2 * sum(l_quantity)) / count(DISTINCT l_partkey)
      |  FROM lineitem)
      |ORDER BY l_partkey""".stripMargin

  /** Q12 shape (TPC-H Q12 re-keyed to this corpus's columns): line
    * counts by line status split into high/low order priority — the
    * join + CONDITIONAL AGGREGATION shape (two sums fold from one
    * pass; the date window pushes to the lineitem scan; the join
    * broadcasts orders' two needed columns at this selectivity or
    * shuffles at scale — either way one partial-agg pass). */
  def q12PriorityLines(spark: SparkSession, dir: String): DataFrame = {
    val hi = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
      .select(col("l_orderkey"), col("l_linestatus"))
      .join(Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_orderpriority")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_linestatus"))
      .agg(
        sum(when(hi, 1L).otherwise(0L)).as("high_line_count"),
        sum(when(!hi, 1L).otherwise(0L)).as("low_line_count"))
      .orderBy(col("l_linestatus"))
  }

  val q12PriorityLinesSql: String =
    """SELECT l_linestatus,
      |  sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
      |      THEN 1 ELSE 0 END)::BIGINT AS high_line_count,
      |  sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH')
      |      THEN 1 ELSE 0 END)::BIGINT AS low_line_count
      |FROM orders JOIN lineitem ON l_orderkey = o_orderkey
      |WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Q14 shape (TPC-H Q14, promo revenue): one shipdate month of
    * lineitem joined to part, promo and total discounted revenue side
    * by side. The ratio is deliberately NOT computed: two
    * independently-rounded cent sums hash-match across engines, while
    * a rounded quotient of two float sums would put engine summation
    * order inside the rounding boundary (the a7 lesson). */
  def q14PromoRevenue(spark: SparkSession, dir: String): DataFrame = {
    val rev = col("l_extendedprice") * (lit(1) - col("l_discount"))
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1996-03-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
      .select(col("l_partkey"), col("l_extendedprice"), col("l_discount"))
      .join(Tables.part(spark, dir).select(col("p_partkey"), col("p_type")),
        col("l_partkey") === col("p_partkey"))
      .agg(
        round(sum(when(col("p_type").startsWith("PROMO"), rev)
          .otherwise(lit(0.0))), 2).as("promo_rev"),
        round(sum(rev), 2).as("total_rev"))
  }

  val q14PromoRevenueSql: String =
    """SELECT
      |  round(sum(CASE WHEN p_type LIKE 'PROMO%'
      |    THEN l_extendedprice * (1 - l_discount) ELSE 0 END), 2)
      |    AS promo_rev,
      |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_rev
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE l_shipdate >= '1996-03-01' AND l_shipdate < '1996-04-01'""".stripMargin

  /** Q19 shape (TPC-H Q19, disjunctive mixed-table predicate): revenue
    * over an OR of three conjunctive brand/size/quantity envelopes —
    * the shape that tests DISJUNCTION pushdown: Catalyst extracts the
    * common l_quantity and p_size envelopes as scan-level filters
    * (`(A₁∧B₁)∨(A₂∧B₂) ⇒ (A₁∨A₂)` per side) so both scans prune
    * BEFORE the join even though no single conjunct spans it, and the
    * full disjunction evaluates post-join. Brackets chosen to bind at
    * every sf (193 rows at sf0.001 — non-vacuous by construction). */
  def q19Disjunctive(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val pt = Tables.part(spark, dir)
    def arm(brands: Seq[String], szHi: Int, qLo: Int, qHi: Int) =
      col("p_brand").isin(brands: _*) &&
        col("p_size").between(1, szHi) &&
        col("l_quantity").between(qLo, qHi)
    val cond =
      arm(Seq("Brand#11", "Brand#12", "Brand#13"), 15, 1, 15) ||
      arm(Seq("Brand#21", "Brand#22", "Brand#23"), 25, 10, 25) ||
      arm(Seq("Brand#31", "Brand#32", "Brand#34"), 35, 20, 35)
    li.select(col("l_partkey"), col("l_quantity"),
        col("l_extendedprice"), col("l_discount"))
      .join(pt.select(col("p_partkey"), col("p_brand"), col("p_size")),
        col("l_partkey") === col("p_partkey"))
      .filter(cond)
      .agg(
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))),
          2).as("revenue"),
        count(lit(1)).as("n_lines"))
  }

  val q19DisjunctiveSql: String =
    """SELECT round(sum(l_extendedprice * (1 - l_discount)), 2)
      |    AS revenue,
      |  count(*)::BIGINT AS n_lines
      |FROM lineitem JOIN part ON p_partkey = l_partkey
      |WHERE (p_brand IN ('Brand#11','Brand#12','Brand#13')
      |       AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 15)
      |   OR (p_brand IN ('Brand#21','Brand#22','Brand#23')
      |       AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 25)
      |   OR (p_brand IN ('Brand#31','Brand#32','Brand#34')
      |       AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 35)"""
      .stripMargin

  /** Q15 shape (TPC-H Q15's top-supplier view): per-supplier revenue
    * over a shipdate quarter, then the supplier(s) matching the MAX —
    * an uncorrelated scalar MAX subquery over a reused grouped view
    * (Catalyst plans the CTE once and reuses the exchange). Revenue is
    * INTEGER-EXACT: each line item's discounted price rounds to cents
    * BEFORE summing (`round(x*100)::BIGINT` is the same deterministic
    * double→integer step in both engines), so the MAX equality — the
    * fragile part of Q15 under floating-point summation order — is an
    * exact integer compare at every scale factor. */
  def q15TopSupplier(spark: SparkSession, dir: String): DataFrame = {
    Tables.supplier(spark, dir).createOrReplaceTempView("graft_supplier")
    Tables.lineitem(spark, dir).createOrReplaceTempView("graft_lineitem")
    spark.sql(
      """WITH revenue AS (
        |  SELECT l_suppkey AS supplier_no,
        |    sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
        |        AS BIGINT)) AS total_cents
        |  FROM graft_lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, total_cents
        |FROM graft_supplier JOIN revenue ON s_suppkey = supplier_no
        |WHERE total_cents = (SELECT max(total_cents) FROM revenue)
        |ORDER BY s_suppkey""".stripMargin)
  }

  val q15TopSupplierSql: String =
    """WITH revenue AS (
      |  SELECT l_suppkey AS supplier_no,
      |    sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
      |        AS BIGINT))::BIGINT AS total_cents
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
      |  GROUP BY l_suppkey)
      |SELECT s_suppkey, s_name, total_cents
      |FROM supplier JOIN revenue ON s_suppkey = supplier_no
      |WHERE total_cents = (SELECT max(total_cents) FROM revenue)
      |ORDER BY s_suppkey""".stripMargin

  /** Q22 shape (TPC-H Q22's global-sales-opportunity pattern):
    * above-average-balance customers with NO RECENT orders, grouped
    * by nation — an uncorrelated scalar AVG subquery and an anti-join
    * decorrelation (NOT EXISTS) in one query. Balances compare in
    * INTEGER CENTS against the FLOOR of the average (sums of cent
    * integers are IEEE-exact below 2^53, so both engines floor the
    * same value) — no floating-point boundary can flip membership.
    * The NOT EXISTS is date-bounded (orders since 2000) so real rows
    * exist at every sf: every customer has SOME order in this corpus,
    * and an unbounded anti-join would gate a vacuous 0-row match
    * (the q11 lesson, VERDICT-r7 nit #3). */
  def q22SalesOpportunity(spark: SparkSession, dir: String): DataFrame = {
    Tables.customer(spark, dir).createOrReplaceTempView("graft_customer")
    Tables.orders(spark, dir).createOrReplaceTempView("graft_orders")
    spark.sql(
      """WITH cust AS (
        |  SELECT c_custkey, c_nationkey,
        |    CAST(round(c_acctbal * 100) AS BIGINT) AS cents
        |  FROM graft_customer)
        |SELECT c_nationkey, count(*) AS numcust, sum(cents) AS tot_cents
        |FROM cust c
        |WHERE cents > (SELECT CAST(floor(avg(cents)) AS BIGINT)
        |               FROM cust WHERE cents > 0)
        |  AND NOT EXISTS (
        |    SELECT 1 FROM graft_orders o
        |    WHERE o.o_custkey = c.c_custkey
        |      AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin)
  }

  val q22SalesOpportunitySql: String =
    """WITH cust AS (
      |  SELECT c_custkey, c_nationkey,
      |    CAST(round(c_acctbal * 100) AS BIGINT) AS cents
      |  FROM customer)
      |SELECT c_nationkey, count(*) AS numcust,
      |  sum(cents)::BIGINT AS tot_cents
      |FROM cust c
      |WHERE cents > (SELECT CAST(floor(avg(cents)) AS BIGINT)
      |               FROM cust WHERE cents > 0)
      |  AND NOT EXISTS (
      |    SELECT 1 FROM orders o
      |    WHERE o.o_custkey = c.c_custkey
      |      AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
      |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin

  /** Q4: correlated EXISTS through the SQL entry (TPC-H Q4 shape —
    * orders in a date window having at least one qualifying lineitem).
    * DECORRELATION: Catalyst rewrites the per-row EXISTS probe into one
    * LEFT SEMI join on the correlation key (plan-pinned) — the only
    * formulation that scales; a naive engine re-runs the inner query
    * per outer row. */
  def q4Exists(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("graft_orders")
    Tables.lineitem(spark, dir).createOrReplaceTempView("graft_lineitem")
    spark.sql(
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM graft_orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM graft_lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND l_shipdate > o_orderdate)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
  }

  val q4ExistsSql: String =
    """SELECT o_orderpriority, count(*) AS order_count
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      |  AND EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey
      |                AND l_shipdate > o_orderdate)
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** Q21 shape: EXISTS and NOT EXISTS correlated on the same outer row —
    * orders with a heavy lineitem but no returned one. Decorrelates to
    * one LEFT SEMI plus one LEFT ANTI join (plan-pinned); candidate
    * volume is two equi-joins on the correlation key, never a per-row
    * re-scan. */
  def q21NotExists(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("graft_orders")
    Tables.lineitem(spark, dir).createOrReplaceTempView("graft_lineitem")
    spark.sql(
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM graft_orders
        |WHERE EXISTS (SELECT 1 FROM graft_lineitem l1
        |              WHERE l1.l_orderkey = o_orderkey
        |                AND l1.l_quantity > 30)
        |  AND NOT EXISTS (SELECT 1 FROM graft_lineitem l2
        |                  WHERE l2.l_orderkey = o_orderkey
        |                    AND l2.l_returnflag = 'R')
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
  }

  val q21NotExistsSql: String =
    """SELECT o_orderpriority, count(*) AS order_count
      |FROM orders
      |WHERE EXISTS (SELECT 1 FROM lineitem l1
      |              WHERE l1.l_orderkey = o_orderkey AND l1.l_quantity > 30)
      |  AND NOT EXISTS (SELECT 1 FROM lineitem l2
      |                  WHERE l2.l_orderkey = o_orderkey
      |                    AND l2.l_returnflag = 'R')
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** Sorted `k=v,...` rendering of a map — the engine-agnostic way to
    * compare map values (map iteration order is undefined in both
    * engines). */
  private def renderMap(m: Column): Column =
    array_join(transform(array_sort(map_keys(m)),
      k => concat_ws("=", k, element_at(m, k))), ",")

  /** X13: map_* scalar battery — builds a real map column per event
    * (map() and map_from_arrays() construction), then exercises
    * map_keys / map_values / map_concat / map_filter / transform_values /
    * map_contains_key / element_at / size. The columnar analog of the
    * reference's consent-map manipulation
    * (/root/reference/app/api/routes.py:107-115). All pure codegen'd
    * expressions; outputs rendered as sorted entry strings so the oracle
    * (which computes the same values from the underlying scalars) is
    * order-independent. */
  def x13MapFuncs(spark: SparkSession, dir: String): DataFrame = {
    val kv = get_json_object(col("props"), "$.k")
    val vb = concat(lit("b"), floor(col("value") / 10.0).cast("long").cast("string"))
    val m = map(lit("type"), col("event_type"), lit("k"), kv, lit("vb"), vb)
    val m2 = map_from_arrays(array(lit("src")), array(lit("evt")))
    Tables.events(spark, dir)
      .filter(col("event_id") < 300)
      .select(col("event_id"),
        size(m).cast("long").as("n_keys"),
        array_join(array_sort(map_keys(m)), ",").as("keys_sorted"),
        array_join(array_sort(map_values(m)), ",").as("vals_sorted"),
        renderMap(m).as("entries"),
        renderMap(map_concat(m, m2)).as("merged"),
        renderMap(map_filter(m, (k, _) => k =!= "k")).as("no_k"),
        renderMap(transform_values(m, (_, v) => upper(v))).as("upper_vals"),
        map_contains_key(m, "k").as("has_k"),
        element_at(m, "k").cast("long").as("k_val"))
      .orderBy(col("event_id"))
  }

  val x13MapFuncsSql: String =
    """WITH base AS (
      |  SELECT event_id, event_type AS ty,
      |    json_extract_string(props, '$.k') AS kv,
      |    'b' || CAST(floor(value / 10.0) AS BIGINT) AS vb
      |  FROM events WHERE event_id < 300)
      |SELECT event_id,
      |  3::BIGINT AS n_keys,
      |  'k,type,vb' AS keys_sorted,
      |  array_to_string(list_sort([ty, kv, vb]), ',') AS vals_sorted,
      |  'k=' || kv || ',type=' || ty || ',vb=' || vb AS entries,
      |  'k=' || kv || ',src=evt,type=' || ty || ',vb=' || vb AS merged,
      |  'type=' || ty || ',vb=' || vb AS no_k,
      |  'k=' || kv || ',type=' || upper(ty) || ',vb=' || upper(vb) AS upper_vals,
      |  true AS has_k,
      |  CAST(kv AS BIGINT) AS k_val
      |FROM base ORDER BY event_id""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "a2_count_distinct" -> (a2CountDistinct _),
    "a3_rollup" -> (a3Rollup _),
    "a9_grouping_sets" -> (a9GroupingSets _),
    "a10_mode_disc" -> (a10ModeDisc _),
    "a11_unpivot" -> (a11Unpivot _),
    "w5_ntile" -> (w5Ntile _),
    "w6_range_frame" -> (w6RangeFrame _),
    "a12_filtered_agg" -> (a12FilteredAgg _),
    "a14_stats_agg" -> (a14StatsAgg _),
    "x16_bitwise_null" -> (x16BitwiseNull _),
    "x13_map_funcs" -> (x13MapFuncs _),
    "x14_regex_funcs" -> (x14RegexFuncs _),
    "x15_string_shape" -> (x15StringShape _),
    "a5_approx_distinct" -> (a5ApproxDistinct _),
    "a13_approx_percentile" -> (a13ApproxPercentile _),
    "a6_cube" -> (a6Cube _),
    "w1_rank_topk" -> (w1RankTopK _),
    "w2_lag_delta" -> (w2LagDelta _),
    "w3_running_sum" -> (w3RunningSum _),
    "set_except" -> (setExcept _),
    "set_intersect" -> (setIntersect _),
    "set_union" -> (setUnion _),
    "x3_string_funcs" -> (x3StringFuncs _),
    "x9_date_funcs" -> (x9DateFuncs _),
    "j4_outer_agg" -> (j4OuterAgg _),
    "j5_q3_revenue" -> (j5Q3Revenue _),
    "q6_filter_sum" -> (q6FilterSum _),
    "q17_subquery" -> (q17Subquery _),
    "q4_exists" -> (q4Exists _),
    "q21_not_exists" -> (q21NotExists _),
    "q2_min_cost" -> (q2MinCost _),
    "q20_nested_in" -> (q20NestedIn _),
    "q11_having_threshold" -> (q11HavingThreshold _),
    "q12_priority_lines" -> (q12PriorityLines _),
    "q14_promo_revenue" -> (q14PromoRevenue _),
    "q15_top_supplier" -> (q15TopSupplier _),
    "q19_disjunctive" -> (q19Disjunctive _),
    "q22_sales_opportunity" -> (q22SalesOpportunity _),
    "j6_q5_volume" -> (j6Q5Volume _),
    "j7_full_outer" -> (j7FullOuter _),
    "dd1_dedup_first" -> (dd1DedupFirst _),
    "x10_math_funcs" -> (x10MathFuncs _),
    "a7_percentile" -> (a7Percentile _),
    "a8_pivot" -> (a8Pivot _),
    "x11_array_funcs" -> (x11ArrayFuncs _),
    "w4_topk_agg" -> (w4TopkAgg _),
    "set2_union_by_name" -> (set2UnionByName _),
    "set3_evolved_scan" -> (set3EvolvedScan _),
    "store1_pruned_scan" -> (store1PrunedScan _),
    "store2_sql_pushdown" -> (store2SqlPushdown _),
    "store3_matview_join" -> (store3MatviewJoin _),
    "store4_catalog_sql" -> (store4CatalogSql _),
    "store5_catalog_dml" -> (store5CatalogDml _),
    "store6_catalog_ddl" -> (store6CatalogDdl _),
    "store7_catalog_merge" -> (store7CatalogMerge _),
    "store13_composite_merge" -> (store13CompositeMerge _),
    "store14_time_partition" -> (store14TimePartition _),
    "store15_partition_evolution" -> (store15PartitionEvolution _),
    "store16_replace_where" -> (store16ReplaceWhere _),
    "store17_cdc_compaction" -> (store17CdcCompaction _),
    "store18_dpp_join" -> (store18DppJoin _),
    "store19_metadata_agg" -> (store19MetadataAgg _),
    "store20_identity_evolution" -> (store20IdentityEvolution _),
    "store21_runtime_filter" -> (store21RuntimeFilter _),
    "store22_sql_matview" -> (store22SqlMatview _),
    "store23_analyze" -> (store23Analyze _),
    "store24_cdf_backfill" -> (store24CdfBackfill _),
    "store25_type_widen" -> (store25TypeWiden _),
    "store8_catalog_maintain" -> (store8CatalogMaintain _),
    "store9_catalog_restore" -> (store9CatalogRestore _),
    "store10_bucket_join" -> (store10BucketJoin _),
    "store11_constraints" -> (store11Constraints _),
    "store12_clone_divergence" -> (store12CloneDivergence _),
    "x12_hof_predicates" -> (x12HofPredicates _),
  )

  def oracleSql: Map[String, String] = Map(
    "a2_count_distinct" -> a2CountDistinctSql,
    "a3_rollup" -> a3RollupSql,
    "a9_grouping_sets" -> a9GroupingSetsSql,
    "a10_mode_disc" -> a10ModeDiscSql,
    "a11_unpivot" -> a11UnpivotSql,
    "w5_ntile" -> w5NtileSql,
    "w6_range_frame" -> w6RangeFrameSql,
    "a12_filtered_agg" -> a12FilteredAggSql,
    "a14_stats_agg" -> a14StatsAggSql,
    "x16_bitwise_null" -> x16BitwiseNullSql,
    "x13_map_funcs" -> x13MapFuncsSql,
    "x14_regex_funcs" -> x14RegexFuncsSql,
    "x15_string_shape" -> x15StringShapeSql,
    // a5_approx_distinct: no oracle (sketch-based estimate)
    "a13_approx_percentile" -> a13ApproxPercentileSql,
    "a5_approx_distinct" -> a5ApproxDistinctSql,
    "a6_cube" -> a6CubeSql,
    "w1_rank_topk" -> w1RankTopKSql,
    "w2_lag_delta" -> w2LagDeltaSql,
    "w3_running_sum" -> w3RunningSumSql,
    "set_except" -> setExceptSql,
    "set_intersect" -> setIntersectSql,
    "set_union" -> setUnionSql,
    "x3_string_funcs" -> x3StringFuncsSql,
    "x9_date_funcs" -> x9DateFuncsSql,
    "j4_outer_agg" -> j4OuterAggSql,
    "j5_q3_revenue" -> j5Q3RevenueSql,
    "q6_filter_sum" -> q6FilterSumSql,
    "q17_subquery" -> q17SubquerySql,
    "q4_exists" -> q4ExistsSql,
    "q21_not_exists" -> q21NotExistsSql,
    "q2_min_cost" -> q2MinCostSql,
    "q20_nested_in" -> q20NestedInSql,
    "q11_having_threshold" -> q11HavingThresholdSql,
    "q12_priority_lines" -> q12PriorityLinesSql,
    "q14_promo_revenue" -> q14PromoRevenueSql,
    "q15_top_supplier" -> q15TopSupplierSql,
    "q19_disjunctive" -> q19DisjunctiveSql,
    "q22_sales_opportunity" -> q22SalesOpportunitySql,
    "j6_q5_volume" -> j6Q5VolumeSql,
    "j7_full_outer" -> j7FullOuterSql,
    "dd1_dedup_first" -> dd1DedupFirstSql,
    "x10_math_funcs" -> x10MathFuncsSql,
    "a7_percentile" -> a7PercentileSql,
    "a8_pivot" -> a8PivotSql,
    "x11_array_funcs" -> x11ArrayFuncsSql,
    "w4_topk_agg" -> w4TopkAggSql,
    "set2_union_by_name" -> set2UnionByNameSql,
    "set3_evolved_scan" -> set3EvolvedScanSql,
    "store1_pruned_scan" -> store1PrunedScanSql,
    "store2_sql_pushdown" -> store2SqlPushdownSql,
    "store3_matview_join" -> store3MatviewJoinSql,
    "store4_catalog_sql" -> store4CatalogSqlSql,
    "store5_catalog_dml" -> store5CatalogDmlSql,
    "store6_catalog_ddl" -> store6CatalogDdlSql,
    "store7_catalog_merge" -> store7CatalogMergeSql,
    "store13_composite_merge" -> store13CompositeMergeSql,
    "store14_time_partition" -> store14TimePartitionSql,
    "store15_partition_evolution" -> store15PartitionEvolutionSql,
    "store16_replace_where" -> store16ReplaceWhereSql,
    "store17_cdc_compaction" -> store17CdcCompactionSql,
    "store18_dpp_join" -> store18DppJoinSql,
    "store19_metadata_agg" -> store19MetadataAggSql,
    "store20_identity_evolution" -> store20IdentityEvolutionSql,
    "store21_runtime_filter" -> store21RuntimeFilterSql,
    "store22_sql_matview" -> store22SqlMatviewSql,
    "store23_analyze" -> store23AnalyzeSql,
    "store24_cdf_backfill" -> store24CdfBackfillSql,
    "store25_type_widen" -> store25TypeWidenSql,
    "store8_catalog_maintain" -> store8CatalogMaintainSql,
    "store9_catalog_restore" -> store9CatalogRestoreSql,
    "store10_bucket_join" -> store10BucketJoinSql,
    "store11_constraints" -> store11ConstraintsSql,
    "store12_clone_divergence" -> store12CloneDivergenceSql,
    "x12_hof_predicates" -> x12HofPredicatesSql,
  )
}
