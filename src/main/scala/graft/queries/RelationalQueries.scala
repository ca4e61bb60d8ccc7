package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.AsOf
import Q.{T, TS}

/** SURVEY.md §2B — the delegated relational surface, re-expressed as native
  * Spark operators. Every entry is one declared capability with a DuckDB
  * oracle (or a documented reason there is none). All queries end in a
  * total order; double sums use exact decimal accumulation (see [[Q]]).
  */
object RelationalQueries {

  /** Exact, order-independent sum of a double column. The decimal sum is
    * exact, so the single final IEEE conversion to double is bit-identical
    * to DuckDB's `cast(sum(decimal) as double)` — and the OUTPUT type is
    * double, which the driver's pandas-based hash reads identically from
    * both engines (a DecimalType output would arrive as `object` on the
    * Spark side but `float64` from DuckDB and hash-fail).
    */
  private def dsum(c: Column, alias: String): Column =
    sum(c.cast("decimal(18,4)")).cast("double").as(alias)

  /** Deterministic average: exact decimal sum, one IEEE double division. */
  private def davg(c: Column, alias: String): Column =
    (sum(c.cast("decimal(18,6)")).cast("double") / count(c)).as(alias)

  private val davgSql = (x: String, a: String) =>
    s"cast(sum(cast($x as decimal(18,6))) as double) / count($x) AS $a"

  // ---------------------------------------------------------------------
  // Scans / projection / filter / conditionals / casts / distinct
  // ---------------------------------------------------------------------

  private val scanProjection = Q(
    (s, dir) =>
      T(s, dir, "lineitem")
        .select(
          col("l_orderkey"), col("l_linenumber"),
          (col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast("decimal(18,6)").cast("double").as("disc_price"),
          (col("l_quantity") * col("l_tax")).cast("decimal(18,6)").cast("double").as("qty_tax"))
        // (l_orderkey, l_linenumber) is NOT unique in the fixture —
        // complete the total order over the payload columns.
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("disc_price"), col("qty_tax")),
    Some("""SELECT l_orderkey, l_linenumber,
           |  cast(cast(l_extendedprice * (1 - l_discount) as decimal(18,6)) as double) AS disc_price,
           |  cast(cast(l_quantity * l_tax as decimal(18,6)) as double) AS qty_tax
           |FROM lineitem ORDER BY l_orderkey, l_linenumber, disc_price, qty_tax""".stripMargin))

  private val filterPredicates = Q(
    (s, dir) =>
      T(s, dir, "lineitem")
        .where(
          col("l_quantity").between(10, 20) &&
          col("l_returnflag").isin("A", "N") &&
          col("l_shipdate").isNotNull &&
          col("l_linestatus").like("F%") &&
          col("l_returnflag").rlike("^[AN]$") &&
          !(col("l_discount") > 0.05))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"), col("l_discount"))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_quantity"), col("l_discount")),
    Some("""SELECT l_orderkey, l_linenumber, l_quantity, l_discount
           |FROM lineitem
           |WHERE l_quantity BETWEEN 10 AND 20
           |  AND l_returnflag IN ('A','N')
           |  AND l_shipdate IS NOT NULL
           |  AND l_linestatus LIKE 'F%'
           |  AND regexp_matches(l_returnflag, '^[AN]$')
           |  AND NOT (l_discount > 0.05)
           |ORDER BY l_orderkey, l_linenumber, l_quantity, l_discount""".stripMargin))

  private val scalarCaseWhen = Q(
    (s, dir) =>
      T(s, dir, "orders")
        .select(
          col("o_orderkey"),
          when(col("o_totalprice") > 150000, "big")
            .when(col("o_totalprice") > 75000, "mid")
            .otherwise("small").as("bucket"),
          coalesce(nullif(col("o_orderstatus"), lit("P")), lit("pending")).as("status_c"),
          greatest(col("o_totalprice"), lit(100000d)).cast("decimal(18,4)")
            .cast("double").as("hi"),
          least(col("o_custkey"), col("o_orderkey")).as("lo"))
        .orderBy(col("o_orderkey")),
    Some("""SELECT o_orderkey,
           |  CASE WHEN o_totalprice > 150000 THEN 'big'
           |       WHEN o_totalprice > 75000 THEN 'mid'
           |       ELSE 'small' END AS bucket,
           |  coalesce(nullif(o_orderstatus, 'P'), 'pending') AS status_c,
           |  cast(cast(greatest(o_totalprice, 100000) as decimal(18,4)) as double) AS hi,
           |  least(o_custkey, o_orderkey) AS lo
           |FROM orders ORDER BY o_orderkey""".stripMargin))

  private val scalarCasts = Q(
    (s, dir) =>
      T(s, dir, "orders")
        .select(
          col("o_orderkey"),
          floor(col("o_totalprice")).cast("long").as("price_floor"),
          // decimal IS the feature here — emit it as its exact string
          // rendering (both engines pad to scale), since a DecimalType
          // output column would hash-fail in the driver's pandas compare.
          col("o_totalprice").cast("decimal(18,2)").cast("string").as("price_dec"),
          col("o_orderdate").cast("date").as("odate"),
          col("o_orderkey").cast("string").as("okey_str"),
          col("o_orderkey").cast("double").as("okey_dbl"))
        .orderBy(col("o_orderkey")),
    Some("""SELECT o_orderkey,
           |  cast(floor(o_totalprice) as bigint) AS price_floor,
           |  cast(cast(o_totalprice as decimal(18,2)) as varchar) AS price_dec,
           |  cast(o_orderdate as date) AS odate,
           |  cast(o_orderkey as varchar) AS okey_str,
           |  cast(o_orderkey as double) AS okey_dbl
           |FROM orders ORDER BY o_orderkey""".stripMargin))

  private val distinctRows = Q(
    (s, dir) =>
      T(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_linestatus"))
        .distinct()
        .orderBy(col("l_returnflag"), col("l_linestatus")),
    Some("""SELECT DISTINCT l_returnflag, l_linestatus
           |FROM lineitem ORDER BY l_returnflag, l_linestatus""".stripMargin))

  // ---------------------------------------------------------------------
  // Joins
  // ---------------------------------------------------------------------

  /** Inner star join, broadcast dims: orders -> customer -> nation -> region.
    * At 100 TB the fact side shuffles once on c_custkey; nation/region are
    * broadcast (O(10^1..10^2) rows at any scale factor).
    */
  private val joinInnerStar = Q(
    (s, dir) => {
      val o = T(s, dir, "orders")
      val c = T(s, dir, "customer")
      val n = T(s, dir, "nation")
      val r = T(s, dir, "region")
      o.join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice"), "total_price"))
        .orderBy(col("r_name"))
    },
    Some("""SELECT r_name, count(*) AS n_orders,
           |  cast(sum(cast(o_totalprice as decimal(18,4))) as double) AS total_price
           |FROM orders
           |JOIN customer ON o_custkey = c_custkey
           |JOIN nation ON c_nationkey = n_nationkey
           |JOIN region ON n_regionkey = r_regionkey
           |GROUP BY r_name ORDER BY r_name""".stripMargin),
    bench = true)

  private val joinLeftOuter = Q(
    (s, dir) => {
      val c = T(s, dir, "customer")
      val o = T(s, dir, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("n_orders"),
             dsum(col("o_totalprice"), "total_price"))
        .orderBy(col("c_custkey"))
    },
    Some("""SELECT c_custkey, count(o_orderkey) AS n_orders,
           |  cast(sum(cast(o_totalprice as decimal(18,4))) as double) AS total_price
           |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
           |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin))

  private val joinRightOuter = Q(
    (s, dir) => {
      val o = T(s, dir, "orders")
      val c = T(s, dir, "customer")
      o.join(c, o("o_custkey") === c("c_custkey"), "right")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("n_orders"))
        .orderBy(col("c_custkey"))
    },
    Some("""SELECT c_custkey, count(o_orderkey) AS n_orders
           |FROM orders RIGHT JOIN customer ON o_custkey = c_custkey
           |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin))

  private val joinFullOuter = Q(
    (s, dir) => {
      // date_trunc returns TIMESTAMP in Spark but DATE in DuckDB — cast
      // to date on this side so both engines emit the same type.
      val om = T(s, dir, "orders")
        .groupBy(date_trunc("month", col("o_orderdate")).cast("date").as("m"))
        .agg(count(lit(1)).as("n_orders"))
      val lm = T(s, dir, "lineitem")
        .groupBy(date_trunc("month", col("l_shipdate")).cast("date").as("m"))
        .agg(count(lit(1)).as("n_lines"))
      om.join(lm, om("m") === lm("m"), "full")
        .select(
          coalesce(om("m"), lm("m")).as("month"),
          col("n_orders"), col("n_lines"))
        .orderBy(col("month"))
    },
    Some("""SELECT coalesce(om.m, lm.m) AS month, n_orders, n_lines
           |FROM (SELECT date_trunc('month', o_orderdate) AS m, count(*) AS n_orders
           |      FROM orders GROUP BY 1) om
           |FULL JOIN (SELECT date_trunc('month', l_shipdate) AS m, count(*) AS n_lines
           |      FROM lineitem GROUP BY 1) lm ON om.m = lm.m
           |ORDER BY month""".stripMargin))

  private val joinSemi = Q(
    (s, dir) => {
      val o = T(s, dir, "orders")
      val li = T(s, dir, "lineitem").where(col("l_discount") > 0.08)
      o.join(li, o("o_orderkey") === li("l_orderkey"), "left_semi")
        .select(col("o_orderkey"),
                col("o_totalprice").cast("decimal(18,4)").cast("double").as("total_price"))
        .orderBy(col("o_orderkey"))
    },
    Some("""SELECT o_orderkey, cast(cast(o_totalprice as decimal(18,4)) as double) AS total_price
           |FROM orders
           |WHERE EXISTS (SELECT 1 FROM lineitem
           |              WHERE l_orderkey = o_orderkey AND l_discount > 0.08)
           |ORDER BY o_orderkey""".stripMargin))

  private val joinAnti = Q(
    (s, dir) => {
      val c = T(s, dir, "customer")
      val o = T(s, dir, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    },
    Some("""SELECT c_custkey, c_name FROM customer
           |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
           |ORDER BY c_custkey""".stripMargin))

  private val joinCross = Q(
    (s, dir) => {
      val r = T(s, dir, "region").select(col("r_name"))
      val st = T(s, dir, "orders").select(col("o_orderstatus")).distinct()
      r.crossJoin(st).orderBy(col("r_name"), col("o_orderstatus"))
    },
    Some("""SELECT r_name, o_orderstatus
           |FROM region CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders)
           |ORDER BY r_name, o_orderstatus""".stripMargin))

  /** Theta/range join: banded non-equi predicate -> BroadcastNestedLoopJoin
    * with the tiny band table broadcast (the only sane physical plan — the
    * fact side streams, never materializes the cross product).
    */
  private val joinRangeTheta = Q(
    (s, dir) => {
      import s.implicits._
      val bands = Seq(
        ("b0", 0d, 500d), ("b1", 500d, 1000d), ("b2", 1000d, 1500d),
        ("b3", 1500d, 2000d), ("b4", 2000d, 1e9))
        .toDF("band", "lo", "hi")
      val p = T(s, dir, "part")
      p.join(broadcast(bands),
          p("p_retailprice") >= bands("lo") && p("p_retailprice") < bands("hi"))
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n_parts"), davg(col("p_retailprice"), "avg_price"))
        .orderBy(col("band"))
    },
    Some(s"""SELECT band, count(*) AS n_parts, ${davgSql("p_retailprice", "avg_price")}
            |FROM part
            |JOIN (VALUES ('b0', 0, 500), ('b1', 500, 1000), ('b2', 1000, 1500),
            |             ('b3', 1500, 2000), ('b4', 2000, 1000000000)) AS bands(band, lo, hi)
            |  ON p_retailprice >= lo AND p_retailprice < hi
            |GROUP BY band ORDER BY band""".stripMargin))

  /** As-of join via [[graft.operators.AsOf]] — single shuffle, no range
    * explosion. Oracle: correlated scalar max-subquery (same semantics).
    */
  private val joinAsof = Q(
    (s, dir) => {
      val e = T(s, dir, "events")
      val o = T(s, dir, "orders")
      AsOf.join(
          e.select(col("event_id"), col("user_id"), col("ts")), o,
          leftKey = col("user_id"), rightKey = col("o_custkey"),
          leftTime = col("ts"), rightTime = col("o_orderdate"),
          payload = col("o_orderdate"), payloadName = "asof_orderdate")
        .select(col("event_id"), col("asof_orderdate"))
        .orderBy(col("event_id"))
    },
    Some("""SELECT event_id,
           |  (SELECT max(o_orderdate) FROM orders
           |   WHERE o_custkey = user_id AND o_orderdate <= ts) AS asof_orderdate
           |FROM events ORDER BY event_id""".stripMargin))

  /** TPC-H Q5-shaped 5-way star join. Only the fixed-cardinality dims
    * (nation, region) carry an unconditional broadcast hint; supplier
    * grows with scale factor, so its build side is left to Catalyst/AQE
    * (a forced broadcast would OOM at the 100 TB design point).
    */
  private val joinStar5Way = Q(
    (s, dir) => {
      val c = T(s, dir, "customer")
      val o = T(s, dir, "orders")
      val l = T(s, dir, "lineitem")
      val su = T(s, dir, "supplier")
      val n = T(s, dir, "nation")
      val r = T(s, dir, "region")
      c.join(o, c("c_custkey") === o("o_custkey"))
        .join(l, o("o_orderkey") === l("l_orderkey"))
        .join(su, l("l_suppkey") === su("s_suppkey") &&
                  c("c_nationkey") === su("s_nationkey"))
        .join(broadcast(n), su("s_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,6)")).cast("double").as("revenue"))
        .orderBy(col("n_name"))
    },
    Some("""SELECT n_name,
           |  cast(sum(cast(l_extendedprice * (1 - l_discount) as decimal(18,6))) as double) AS revenue
           |FROM customer
           |JOIN orders ON c_custkey = o_custkey
           |JOIN lineitem ON o_orderkey = l_orderkey
           |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
           |JOIN nation ON s_nationkey = n_nationkey
           |JOIN region ON n_regionkey = r_regionkey
           |GROUP BY n_name ORDER BY n_name""".stripMargin),
    bench = true)

  // ---------------------------------------------------------------------
  // Aggregations
  // ---------------------------------------------------------------------

  /** TPC-H Q1 — the flagship pricing summary (SURVEY.md §7.1). Loaded
    * spread (TS): the fixture is a single one-row-group file, so the
    * plain scan runs the 8 decimal partial aggregates in ONE task; the
    * round-robin exchange (pruned to the 7 needed columns, filter still
    * pushed to the scan) costs far less than serializing the decimal
    * math. At production scale (many files) the spread is a no-op.
    */
  private val aggPricingSummary = Q(
    (s, dir) =>
      TS(s, dir, "lineitem")
        .where(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum(col("l_quantity"), "sum_qty"),
          dsum(col("l_extendedprice"), "sum_base_price"),
          sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast("decimal(18,6)")).cast("double").as("sum_disc_price"),
          sum((col("l_extendedprice") * (lit(1) - col("l_discount")) *
               (lit(1) + col("l_tax"))).cast("decimal(18,6)")).cast("double").as("sum_charge"),
          davg(col("l_quantity"), "avg_qty"),
          davg(col("l_extendedprice"), "avg_price"),
          davg(col("l_discount"), "avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus")),
    Some(s"""SELECT l_returnflag, l_linestatus,
            |  cast(sum(cast(l_quantity as decimal(18,4))) as double) AS sum_qty,
            |  cast(sum(cast(l_extendedprice as decimal(18,4))) as double) AS sum_base_price,
            |  cast(sum(cast(l_extendedprice * (1 - l_discount) as decimal(18,6))) as double) AS sum_disc_price,
            |  cast(sum(cast(l_extendedprice * (1 - l_discount) * (1 + l_tax) as decimal(18,6))) as double) AS sum_charge,
            |  ${davgSql("l_quantity", "avg_qty")},
            |  ${davgSql("l_extendedprice", "avg_price")},
            |  ${davgSql("l_discount", "avg_disc")},
            |  count(*) AS count_order
            |FROM lineitem
            |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            |GROUP BY l_returnflag, l_linestatus
            |ORDER BY l_returnflag, l_linestatus""".stripMargin),
    bench = true)

  private val aggCountDistinct = Q(
    (s, dir) =>
      T(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          countDistinct(col("l_partkey")).as("nd_parts"),
          countDistinct(col("l_suppkey")).as("nd_supps"),
          countDistinct(col("l_partkey"), col("l_suppkey")).as("nd_part_supp"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag")),
    Some("""SELECT l_returnflag,
           |  count(DISTINCT l_partkey) AS nd_parts,
           |  count(DISTINCT l_suppkey) AS nd_supps,
           |  count(DISTINCT (l_partkey, l_suppkey)) AS nd_part_supp,
           |  count(*) AS n
           |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin))

  /** Statistical moments. Rounded to 6 dp: Spark merges per-partition
    * co-moments whose float error is ~1e-12, far below the rounding.
    */
  private val aggStatsMoments = Q(
    (s, dir) =>
      T(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          round(stddev_samp(col("l_quantity")), 6).as("sd_samp"),
          round(stddev_pop(col("l_quantity")), 6).as("sd_pop"),
          round(var_samp(col("l_quantity")), 6).as("v_samp"),
          round(var_pop(col("l_quantity")), 6).as("v_pop"),
          round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("qp_corr"),
          round(covar_pop(col("l_quantity"), col("l_extendedprice")), 6).as("qp_covar_pop"),
          round(covar_samp(col("l_quantity"), col("l_extendedprice")), 6).as("qp_covar_samp"))
        .orderBy(col("l_returnflag")),
    Some("""SELECT l_returnflag,
           |  round(stddev_samp(l_quantity), 6) AS sd_samp,
           |  round(stddev_pop(l_quantity), 6) AS sd_pop,
           |  round(var_samp(l_quantity), 6) AS v_samp,
           |  round(var_pop(l_quantity), 6) AS v_pop,
           |  round(corr(l_quantity, l_extendedprice), 6) AS qp_corr,
           |  round(covar_pop(l_quantity, l_extendedprice), 6) AS qp_covar_pop,
           |  round(covar_samp(l_quantity, l_extendedprice), 6) AS qp_covar_samp
           |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin))

  /** collect_list/collect_set made deterministic by sorting the arrays.
    * The array is serialized to a CSV string on BOTH sides: the driver's
    * checker sorts the result by every column with pandas, and a raw
    * list cell crashes that sort (`unhashable type`).
    */
  private val aggCollectSorted = Q(
    (s, dir) =>
      T(s, dir, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(
          concat_ws(",", sort_array(collect_set(col("o_orderpriority")))).as("priorities"),
          count(lit(1)).as("n"))
        .orderBy(col("o_orderstatus")),
    Some("""SELECT o_orderstatus,
           |  array_to_string(list_sort(list(DISTINCT o_orderpriority)), ',') AS priorities,
           |  count(*) AS n
           |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin))

  /** Exact interpolated percentiles + median (both engines: linear
    * interpolation over the sorted set).
    */
  private val aggPercentilesExact = Q(
    (s, dir) =>
      T(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          round(expr("percentile(l_quantity, 0.5)"), 6).as("p50"),
          round(expr("percentile(l_quantity, 0.9)"), 6).as("p90"),
          round(expr("median(l_quantity)"), 6).as("med"))
        .orderBy(col("l_returnflag")),
    Some("""SELECT l_returnflag,
           |  round(quantile_cont(l_quantity, 0.5), 6) AS p50,
           |  round(quantile_cont(l_quantity, 0.9), 6) AS p90,
           |  round(median(l_quantity), 6) AS med
           |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin))

  /** Approximate aggregates (HLL / quantile sketch). Sketch internals are
    * engine-specific, so the oracle checks engine-independent BOUND
    * booleans instead of sketch values: the HLL estimate must land within
    * 15% of the exact distinct count (default rsd is 5%; 15% = 3 sigma)
    * and the approx median within 2 units of the exact interpolated
    * median (quantities are small integers). The exact distinct count is
    * also emitted and value-checked. A broken sketch flips a boolean and
    * fails the diff.
    */
  private val aggApproxSketches = Q(
    (s, dir) =>
      T(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          approx_count_distinct(col("l_partkey")).as("approx_nd"),
          countDistinct(col("l_partkey")).as("exact_nd"),
          percentile_approx(col("l_quantity"), lit(0.5), lit(10000)).as("approx_p50"),
          expr("percentile(l_quantity, 0.5)").as("exact_p50"))
        .select(
          col("l_returnflag"), col("exact_nd"),
          (abs(col("approx_nd") - col("exact_nd")).cast("double") /
            col("exact_nd") < 0.15).as("nd_within_15pct"),
          (abs(col("approx_p50").cast("double") - col("exact_p50")) <= 2.0)
            .as("p50_within_2"))
        .orderBy(col("l_returnflag")),
    Some("""SELECT l_returnflag, count(DISTINCT l_partkey) AS exact_nd,
           |  true AS nd_within_15pct, true AS p50_within_2
           |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin))

  /** MERGEABLE sketches (Apache DataSketches HLL via `hll_sketch_agg` /
    * `hll_union_agg`): per-(flag, status) partial sketches rolled up to
    * per-flag by sketch UNION — the algebra that lets 1000 executors
    * sketch locally and merge cheaply (re-aggregation over binary
    * sketch columns, no raw-data second pass). Verified with two
    * engine-independent booleans: the merged estimate tracks the
    * directly-built sketch's estimate within 5% (union takes
    * per-register maxima, but sparse->dense promotions in sub-sketches
    * can shift the estimate slightly — a bitwise identity does NOT hold
    * at scale), and the merged estimate lands within 3-sigma of the
    * exact distinct count; the exact count itself is value-checked.
    */
  private val aggSketchMergeable = Q(
    (s, dir) => {
      val li = T(s, dir, "lineitem")
      val merged = li
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(hll_sketch_agg(col("l_partkey")).as("sk"))
        .groupBy(col("l_returnflag"))
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("merged_est"))
      li.groupBy(col("l_returnflag"))
        .agg(hll_sketch_estimate(hll_sketch_agg(col("l_partkey"))).as("direct_est"),
             countDistinct(col("l_partkey")).as("exact_nd"))
        .join(merged, Seq("l_returnflag"))
        .select(col("l_returnflag"), col("exact_nd"),
          (abs(col("merged_est") - col("direct_est")) / col("direct_est") < 0.05)
            .as("merge_tracks_direct"),
          (abs(col("merged_est") - col("exact_nd")).cast("double") /
            col("exact_nd") < 0.15).as("est_within_3sigma"))
        .orderBy(col("l_returnflag"))
    },
    Some("""SELECT l_returnflag, count(DISTINCT l_partkey) AS exact_nd,
           |  true AS merge_tracks_direct, true AS est_within_3sigma
           |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin))

  /** Native ordered string aggregation (Spark 4 `listagg ... WITHIN
    * GROUP`): per order-priority, the distinct statuses joined in sorted
    * order — deterministic because the WITHIN GROUP order is total over
    * the distinct values. The SQL-standard form of what
    * `agg_collect_sorted` builds manually from collect_list.
    */
  private val aggStringAgg = Q(
    (s, dir) => {
      Q.sql(s, dir)("""SELECT o_orderpriority,
              |  listagg(DISTINCT o_orderstatus, ',') WITHIN GROUP (ORDER BY o_orderstatus) AS statuses,
              |  count(*) AS n
              |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
    },
    Some("""SELECT o_orderpriority,
           |  string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus) AS statuses,
           |  count(*) AS n
           |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin))

  private val aggRollup = Q(
    (s, dir) => {
      // partial-aggregate pushdown through Expand: rollup multiplies its
      // INPUT x(levels), so aggregate to the finest grouping first (the
      // distinct-group table) and roll THAT up — sum/count re-aggregate
      // exactly (decimal partials), NULL group values stay data values at
      // the finest level and subtotal rows are still produced by rollup,
      // so the rewrite is semantics-preserving for any input. At 100 TB
      // Expand runs over |groups| rows instead of the corpus.
      val pre = T(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("pn"),
             sum(col("l_quantity").cast("decimal(18,4)")).as("pq"))
      pre.rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("pn")).as("n"), sum(col("pq")).cast("double").as("sum_qty"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    },
    Some("""SELECT l_returnflag, l_linestatus, count(*) AS n,
           |  cast(sum(cast(l_quantity as decimal(18,4))) as double) AS sum_qty
           |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
           |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin),
    bench = true)

  private val aggCube = Q(
    (s, dir) => {
      // same partial-aggregate pushdown as aggRollup: cube multiplies its
      // input x4 (2^levels), so Expand runs over the distinct-group table
      val pre = T(s, dir, "orders")
        .groupBy(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("pn"),
             sum(col("o_totalprice").cast("decimal(18,4)")).as("pp"))
      pre.cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(sum(col("pn")).as("n"), sum(col("pp")).cast("double").as("total_price"))
        .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)
    },
    Some("""SELECT o_orderstatus, o_orderpriority, count(*) AS n,
           |  cast(sum(cast(o_totalprice as decimal(18,4))) as double) AS total_price
           |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
           |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin))

  private val aggGroupingSets = Q(
    (s, dir) => {
      Q.sql(s, dir)("""SELECT o_orderstatus, o_orderpriority, count(*) AS n
              |FROM orders
              |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
              |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST, n""".stripMargin)
    },
    Some("""SELECT o_orderstatus, o_orderpriority, count(*) AS n
           |FROM orders
           |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
           |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST, n""".stripMargin))

  /** grouping() markers distinguish real NULL group keys from rollup
    * subtotal rows (portable to DuckDB, unlike grouping_id's bit order).
    */
  private val aggGroupingId = Q(
    (s, dir) => {
      // partial-aggregate pushdown (see aggRollup): grouping() markers
      // describe the OUTER rollup's levels, so they survive the rewrite
      val pre = T(s, dir, "orders")
        .groupBy(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("pn"))
      pre.rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(sum(col("pn")).as("n"),
             grouping(col("o_orderstatus")).as("g_status"),
             grouping(col("o_orderpriority")).as("g_prio"))
        .orderBy(col("g_status"), col("g_prio"),
                 col("o_orderstatus").asc_nulls_first,
                 col("o_orderpriority").asc_nulls_first)
    },
    Some("""SELECT o_orderstatus, o_orderpriority, count(*) AS n,
           |  grouping(o_orderstatus) AS g_status,
           |  grouping(o_orderpriority) AS g_prio
           |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
           |ORDER BY g_status, g_prio,
           |  o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin))

  private val aggHaving = Q(
    (s, dir) =>
      T(s, dir, "lineitem")
        .groupBy(col("l_partkey"))
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity"), "sum_qty"))
        .filter(col("n") > 30)
        .orderBy(col("l_partkey")),
    Some("""SELECT l_partkey, count(*) AS n,
           |  cast(sum(cast(l_quantity as decimal(18,4))) as double) AS sum_qty
           |FROM lineitem GROUP BY l_partkey HAVING count(*) > 30
           |ORDER BY l_partkey""".stripMargin))

  /** FILTER (WHERE ...) aggregates == conditional sums over when(). */
  private val aggFilteredConditional = Q(
    (s, dir) =>
      T(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          sum(when(col("l_discount") > 0.05, col("l_quantity")).otherwise(lit(0))
            .cast("decimal(18,4)")).cast("double").as("qty_highdisc"),
          count(when(col("l_linestatus") === "F", lit(1))).as("n_f"),
          count(when(col("l_tax") > 0.04, lit(1))).as("n_hightax"))
        .orderBy(col("l_returnflag")),
    Some("""SELECT l_returnflag,
           |  cast(sum(cast(CASE WHEN l_discount > 0.05 THEN l_quantity ELSE 0 END as decimal(18,4))) as double) AS qty_highdisc,
           |  count(*) FILTER (WHERE l_linestatus = 'F') AS n_f,
           |  count(*) FILTER (WHERE l_tax > 0.04) AS n_hightax
           |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin))

  private val aggPivot = Q(
    (s, dir) =>
      T(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(sum(col("l_quantity").cast("decimal(18,4)")).cast("double"))
        .orderBy(col("l_returnflag")),
    Some("""SELECT l_returnflag,
           |  cast(sum(cast(l_quantity as decimal(18,4))) FILTER (WHERE l_linestatus = 'F') as double) AS F,
           |  cast(sum(cast(l_quantity as decimal(18,4))) FILTER (WHERE l_linestatus = 'O') as double) AS O
           |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin))

  /** Salted two-level aggregation over the (intentionally tiny-keyspace,
    * i.e. maximally skewed) l_returnflag grouping: partial per
    * (key, salt), merge per key — same answer as the direct groupBy,
    * without the single-reducer-per-hot-key ceiling. Oracle is the plain
    * aggregate; the salting must be semantically invisible.
    */
  private val aggSaltedSkew = Q(
    (s, dir) => {
      val out = graft.operators.SkewSalt.saltedAgg(
        T(s, dir, "lineitem"),
        key = col("l_returnflag"),
        saltSource = col("l_orderkey"),
        salts = 16,
        partials = Seq(
          (sum(col("l_quantity").cast("decimal(18,4)")), "sum_qty"),
          (count(lit(1)), "n")),
        merged = Seq(
          ("sum_qty", (n: String) => sum(col(n))),
          ("n", (n: String) => sum(col(n)))))
      out.select(col("key").as("l_returnflag"),
                 col("sum_qty").cast("double").as("sum_qty"), col("n"))
        .orderBy(col("l_returnflag"))
    },
    Some("""SELECT l_returnflag,
           |  cast(sum(cast(l_quantity as decimal(18,4))) as double) AS sum_qty,
           |  count(*) AS n
           |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin))

  /** Unpivot (melt): wide per-flag sums back to long (name, value) rows
    * — the inverse of pivot, Spark's `unpivot` API vs DuckDB UNPIVOT.
    */
  private val aggUnpivot = Q(
    (s, dir) => {
      val wide = T(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          sum(when(col("l_linestatus") === "F", col("l_quantity")).otherwise(0)
            .cast("decimal(18,4)")).cast("double").as("qty_f"),
          sum(when(col("l_linestatus") === "O", col("l_quantity")).otherwise(0)
            .cast("decimal(18,4)")).cast("double").as("qty_o"))
      wide.unpivot(
          Array(col("l_returnflag")),
          Array(col("qty_f"), col("qty_o")),
          "status_col", "qty")
        .orderBy(col("l_returnflag"), col("status_col"))
    },
    Some("""WITH wide AS (
           |  SELECT l_returnflag,
           |    cast(sum(cast(CASE WHEN l_linestatus = 'F' THEN l_quantity ELSE 0 END as decimal(18,4))) as double) AS qty_f,
           |    cast(sum(cast(CASE WHEN l_linestatus = 'O' THEN l_quantity ELSE 0 END as decimal(18,4))) as double) AS qty_o
           |  FROM lineitem GROUP BY l_returnflag
           |)
           |SELECT l_returnflag, status_col, qty
           |FROM wide UNPIVOT (qty FOR status_col IN (qty_f, qty_o))
           |ORDER BY l_returnflag, status_col""".stripMargin))

  // ---------------------------------------------------------------------
  // Window functions
  // ---------------------------------------------------------------------

  /** Total-ordered ranking window. The window itself carries ONLY the
    * rank-like functions (row_number/rank/dense_rank), so Catalyst's
    * InferWindowGroupLimit prunes each partition to its top 100 rows
    * map-side BEFORE the shuffle — the plan that survives a fat
    * partition at 100 TB. percent_rank and ntile need the full
    * partition cardinality, which would forbid that pruning; they are
    * derived arithmetically from the rank and a broadcast per-group
    * count instead (percent_rank = (rank-1)/(n-1); ntile(4) assigns the
    * first n%4 buckets ceil(n/4) rows and the rest floor(n/4) — both
    * exact reproductions of the SQL semantics the oracle evaluates).
    */
  private val windowRanking = Q(
    (s, dir) => {
      val w = Window.partitionBy(col("l_returnflag"))
        .orderBy(col("l_quantity").desc, col("l_orderkey"), col("l_linenumber"))
      // spread load: the partial (map-side) WindowGroupLimit does the
      // heavy lifting — a single-split fixture file would run that
      // top-100-per-group heap on ONE task; spreading makes it 32 heaps
      // over 1/32 of the rows each, and the later hash exchange then
      // moves only 32x100xgroups pruned rows.
      val top = TS(s, dir, "lineitem")
        .select(
          col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
          row_number().over(w).as("rn"),
          rank().over(w).as("rnk"),
          dense_rank().over(w).as("drnk"))
        .where(col("rn") <= 100)
      val counts = T(s, dir, "lineitem")
        .groupBy(col("l_returnflag")).agg(count(lit(1)).as("n_part"))
      val q4 = floor(col("n_part") / 4)   // floor div: small-bucket size
      val bigQ = q4 + 1                   // size of the first n%4 buckets
      val rem = col("n_part") % 4
      top.join(broadcast(counts), Seq("l_returnflag"))
        .select(
          col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
          col("rn"), col("rnk"), col("drnk"),
          when(col("n_part") > 1,
            round((col("rnk") - 1).cast("double") / (col("n_part") - 1), 6))
            .otherwise(lit(0.0)).as("prnk"),
          when(col("rn") <= rem * bigQ, floor((col("rn") - 1) / bigQ) + 1)
            .otherwise(rem + floor((col("rn") - rem * bigQ - 1) / q4) + 1)
            .cast("int").as("quartile"))
        .orderBy(col("l_returnflag"), col("rn"))
    },
    Some("""SELECT * FROM (
           |  SELECT l_returnflag, l_orderkey, l_linenumber,
           |    row_number() OVER w AS rn,
           |    rank() OVER w AS rnk,
           |    dense_rank() OVER w AS drnk,
           |    round(percent_rank() OVER w, 6) AS prnk,
           |    ntile(4) OVER w AS quartile
           |  FROM lineitem
           |  WINDOW w AS (PARTITION BY l_returnflag
           |               ORDER BY l_quantity DESC, l_orderkey, l_linenumber)
           |) WHERE rn <= 100 ORDER BY l_returnflag, rn""".stripMargin),
    bench = true)

  private val windowLagLead = Q(
    (s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      T(s, dir, "orders")
        .select(
          col("o_custkey"), col("o_orderkey"),
          lag(col("o_totalprice"), 1).over(w).cast("decimal(18,4)")
            .cast("double").as("prev_price"),
          lead(col("o_totalprice"), 1).over(w).cast("decimal(18,4)")
            .cast("double").as("next_price"),
          lag(col("o_orderdate"), 2).over(w).as("prev2_date"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    },
    Some("""SELECT o_custkey, o_orderkey,
           |  cast(cast(lag(o_totalprice, 1) OVER w as decimal(18,4)) as double) AS prev_price,
           |  cast(cast(lead(o_totalprice, 1) OVER w as decimal(18,4)) as double) AS next_price,
           |  lag(o_orderdate, 2) OVER w AS prev2_date
           |FROM orders
           |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
           |ORDER BY o_custkey, o_orderkey""".stripMargin))

  /** Running aggregates over ROWS frames. Decimal accumulation keeps the
    * running sum exact under any frame-evaluation association order.
    */
  private val windowRunningFrames = Q(
    (s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val sliding = w.rowsBetween(-2, 0)
      T(s, dir, "orders")
        .select(
          col("o_custkey"), col("o_orderkey"),
          sum(col("o_totalprice").cast("decimal(18,4)")).over(cum)
            .cast("double").as("run_total"),
          count(lit(1)).over(cum).as("run_n"),
          sum(col("o_totalprice").cast("decimal(18,4)")).over(sliding)
            .cast("double").as("last3_total"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    },
    Some("""SELECT o_custkey, o_orderkey,
           |  cast(sum(cast(o_totalprice as decimal(18,4)))
           |    OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) as double) AS run_total,
           |  count(*) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_n,
           |  cast(sum(cast(o_totalprice as decimal(18,4)))
           |    OVER (w ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) as double) AS last3_total
           |FROM orders
           |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
           |ORDER BY o_custkey, o_orderkey""".stripMargin))

  /** RANGE frame over a numeric order key (peer-inclusive, deterministic). */
  private val windowRangeFrame = Q(
    (s, dir) => {
      val w = Window.partitionBy(col("o_orderstatus"))
        .orderBy(col("o_totalprice"))
        .rangeBetween(-10000, 0)
      T(s, dir, "orders")
        .select(
          col("o_orderkey"), col("o_orderstatus"),
          count(lit(1)).over(w).as("n_within_10k"))
        .orderBy(col("o_orderkey"))
    },
    Some("""SELECT o_orderkey, o_orderstatus,
           |  count(*) OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice
           |                 RANGE BETWEEN 10000 PRECEDING AND CURRENT ROW) AS n_within_10k
           |FROM orders ORDER BY o_orderkey""".stripMargin))

  /** Top-k per group: the scalable pattern (rank + filter — partial
    * top-k per partition under AQE, no global sort).
    */
  private val windowTopkPerGroup = Q(
    (s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      T(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 3)
        .select(col("o_custkey"), col("rn"), col("o_orderkey"),
                col("o_totalprice").cast("decimal(18,4)").cast("double").as("total_price"))
        .orderBy(col("o_custkey"), col("rn"))
    },
    Some("""SELECT o_custkey, rn, o_orderkey, total_price FROM (
           |  SELECT o_custkey, o_orderkey,
           |    cast(cast(o_totalprice as decimal(18,4)) as double) AS total_price,
           |    row_number() OVER (PARTITION BY o_custkey
           |                       ORDER BY o_totalprice DESC, o_orderkey) AS rn
           |  FROM orders
           |) WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin),
    bench = true)

  private val windowAnalytic = Q(
    (s, dir) => {
      val w = Window.partitionBy(col("l_returnflag"))
        .orderBy(col("l_quantity"), col("l_orderkey"), col("l_linenumber"))
      val full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      T(s, dir, "lineitem")
        .select(
          col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
          round(cume_dist().over(w), 6).as("cd"),
          first(col("l_quantity")).over(full).as("min_qty"),
          last(col("l_quantity")).over(full).as("max_qty"),
          nth_value(col("l_quantity"), 5).over(full).as("qty_5th"))
        .where(col("l_orderkey") < 100)
        .orderBy(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"), col("cd"))
    },
    Some("""SELECT * FROM (
           |  SELECT l_returnflag, l_orderkey, l_linenumber,
           |    round(cume_dist() OVER w, 6) AS cd,
           |    first_value(l_quantity) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
           |      AND UNBOUNDED FOLLOWING) AS min_qty,
           |    last_value(l_quantity) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
           |      AND UNBOUNDED FOLLOWING) AS max_qty,
           |    nth_value(l_quantity, 5) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
           |      AND UNBOUNDED FOLLOWING) AS qty_5th
           |  FROM lineitem
           |  WINDOW w AS (PARTITION BY l_returnflag
           |               ORDER BY l_quantity, l_orderkey, l_linenumber)
           |) WHERE l_orderkey < 100
           |ORDER BY l_returnflag, l_orderkey, l_linenumber, cd""".stripMargin))

  // ---------------------------------------------------------------------
  // Sorts / limits / top-k
  // ---------------------------------------------------------------------

  private val sortMultiNulls = Q(
    (s, dir) =>
      T(s, dir, "orders")
        .select(
          col("o_orderkey"),
          when(col("o_orderstatus") === "P", lit(null).cast("double"))
            .otherwise(col("o_totalprice")).as("v"))
        .orderBy(col("v").desc_nulls_last, col("o_orderkey"))
        .limit(200),
    Some("""SELECT o_orderkey,
           |  CASE WHEN o_orderstatus = 'P' THEN NULL ELSE o_totalprice END AS v
           |FROM orders ORDER BY v DESC NULLS LAST, o_orderkey LIMIT 200""".stripMargin))

  private val limitOffset = Q(
    (s, dir) =>
      T(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"))
        .orderBy(col("o_orderkey"))
        .offset(100)
        .limit(50),
    Some("""SELECT o_orderkey, o_custkey FROM orders
           |ORDER BY o_orderkey LIMIT 50 OFFSET 100""".stripMargin))

  /** Global top-k -> TakeOrderedAndProject (no full sort at scale). */
  private val topkGlobal = Q(
    (s, dir) =>
      T(s, dir, "orders")
        .select(col("o_orderkey"),
                col("o_totalprice").cast("decimal(18,4)").cast("double").as("total_price"))
        .orderBy(col("total_price").desc, col("o_orderkey"))
        .limit(10),
    Some("""SELECT o_orderkey, cast(cast(o_totalprice as decimal(18,4)) as double) AS total_price
           |FROM orders ORDER BY total_price DESC, o_orderkey LIMIT 10""".stripMargin))

  // ---------------------------------------------------------------------
  // Set operations
  // ---------------------------------------------------------------------

  private def bigSpenders(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "orders").where(col("o_totalprice") > 150000)
      .select(col("o_custkey").as("k"))
  private def builders(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "customer").where(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey").as("k"))
  private val bigSpendersSql =
    "SELECT o_custkey AS k FROM orders WHERE o_totalprice > 150000"
  private val buildersSql =
    "SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'"

  private val setUnionAll = Q(
    (s, dir) => bigSpenders(s, dir).unionAll(builders(s, dir)).orderBy(col("k")),
    Some(s"SELECT k FROM ($bigSpendersSql UNION ALL $buildersSql) ORDER BY k"))

  private val setUnionDistinct = Q(
    (s, dir) => bigSpenders(s, dir).union(builders(s, dir)).distinct().orderBy(col("k")),
    Some(s"SELECT k FROM ($bigSpendersSql UNION $buildersSql) ORDER BY k"))

  private val setIntersect = Q(
    (s, dir) => bigSpenders(s, dir).intersect(builders(s, dir)).orderBy(col("k")),
    Some(s"SELECT k FROM ($bigSpendersSql INTERSECT $buildersSql) ORDER BY k"))

  private val setExcept = Q(
    (s, dir) => bigSpenders(s, dir).except(builders(s, dir)).orderBy(col("k")),
    Some(s"SELECT k FROM ($bigSpendersSql EXCEPT $buildersSql) ORDER BY k"))

  private val setIntersectAll = Q(
    (s, dir) => bigSpenders(s, dir)
      .intersectAll(bigSpenders(s, dir).orderBy(col("k")).limit(1000))
      .orderBy(col("k")),
    Some(s"""SELECT k FROM ($bigSpendersSql INTERSECT ALL
            |SELECT k FROM ($bigSpendersSql ORDER BY k LIMIT 1000)) ORDER BY k""".stripMargin))

  private val setExceptAll = Q(
    (s, dir) => bigSpenders(s, dir).exceptAll(builders(s, dir)).orderBy(col("k")),
    Some(s"SELECT k FROM ($bigSpendersSql EXCEPT ALL $buildersSql) ORDER BY k"))

  // ---------------------------------------------------------------------
  // Compound analytical shapes (TPC-H-style)
  // ---------------------------------------------------------------------

  /** TPC-H Q3 shape: shipping-priority top-k — selective filters on two
    * tables, join, revenue aggregate, global top-10 (TakeOrderedAndProject).
    */
  private val tpchQ3Shape = Q(
    (s, dir) => {
      val c = T(s, dir, "customer").where(col("c_mktsegment") === "BUILDING")
      val o = T(s, dir, "orders")
        .where(col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      val l = T(s, dir, "lineitem")
        .where(col("l_shipdate") > lit("1996-12-31").cast("timestamp"))
      c.join(o, c("c_custkey") === o("o_custkey"))
        .join(l, o("o_orderkey") === l("l_orderkey"))
        .groupBy(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,6)")).cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey"))
        .limit(10)
    },
    Some("""SELECT o_orderkey, o_orderdate, o_orderpriority,
           |  cast(sum(cast(l_extendedprice * (1 - l_discount) as decimal(18,6))) as double) AS revenue
           |FROM customer
           |JOIN orders ON c_custkey = o_custkey
           |JOIN lineitem ON o_orderkey = l_orderkey
           |WHERE c_mktsegment = 'BUILDING'
           |  AND o_orderdate < TIMESTAMP '1997-01-01'
           |  AND l_shipdate > TIMESTAMP '1996-12-31'
           |GROUP BY o_orderkey, o_orderdate, o_orderpriority
           |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin))

  /** TPC-H Q10 shape: returned-item revenue by customer with dim join —
    * the selective-fact + customer rollup report.
    */
  private val tpchQ10Shape = Q(
    (s, dir) => {
      val c = T(s, dir, "customer")
      val o = T(s, dir, "orders")
      val l = T(s, dir, "lineitem").where(col("l_returnflag") === "R")
      val n = T(s, dir, "nation")
      c.join(o, c("c_custkey") === o("o_custkey"))
        .join(l, o("o_orderkey") === l("l_orderkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
        .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,6)")).cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    },
    Some("""SELECT c_custkey, c_name, n_name,
           |  cast(sum(cast(l_extendedprice * (1 - l_discount) as decimal(18,6))) as double) AS revenue,
           |  count(*) AS n_items
           |FROM customer
           |JOIN orders ON c_custkey = o_custkey
           |JOIN lineitem ON o_orderkey = l_orderkey
           |JOIN nation ON c_nationkey = n_nationkey
           |WHERE l_returnflag = 'R'
           |GROUP BY c_custkey, c_name, n_name
           |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin))

  // ---------------------------------------------------------------------
  // SQL-form queries (subquery decorrelation, CTEs)
  // ---------------------------------------------------------------------

  /** Correlated scalar subquery + CTE, run as SQL text: Catalyst's
    * RewriteCorrelatedScalarSubquery turns the per-row subquery into a
    * left outer aggregate join (SURVEY §4.2 — free from the optimizer;
    * the plan has no per-row execution).
    */
  private val sqlCorrelatedScalar = Q(
    (s, dir) => {
      Q.sql(s, dir)("""WITH big AS (SELECT * FROM customer WHERE c_acctbal > 0)
              |SELECT c_custkey,
              |  (SELECT cast(cast(max(o_totalprice) as decimal(18,4)) as double) FROM orders
              |   WHERE o_custkey = c_custkey) AS max_price,
              |  (SELECT count(*) FROM orders
              |   WHERE o_custkey = c_custkey) AS n_orders
              |FROM big ORDER BY c_custkey""".stripMargin)
    },
    Some("""WITH big AS (SELECT * FROM customer WHERE c_acctbal > 0)
           |SELECT c_custkey,
           |  (SELECT cast(cast(max(o_totalprice) as decimal(18,4)) as double) FROM orders
           |   WHERE o_custkey = c_custkey) AS max_price,
           |  (SELECT count(*) FROM orders
           |   WHERE o_custkey = c_custkey) AS n_orders
           |FROM big ORDER BY c_custkey""".stripMargin))

  /** IN / NOT IN subqueries as SQL — Catalyst rewrites to semi/anti
    * joins (RewritePredicateSubquery).
    */
  private val sqlInSubquery = Q(
    (s, dir) => {
      Q.sql(s, dir)("""SELECT c_custkey, c_mktsegment FROM customer
              |WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 150000)
              |  AND c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'P')
              |ORDER BY c_custkey""".stripMargin)
    },
    Some("""SELECT c_custkey, c_mktsegment FROM customer
           |WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 150000)
           |  AND c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'P')
           |ORDER BY c_custkey""".stripMargin))

  /** Correlated EXISTS / NOT EXISTS as SQL text — Catalyst's
    * RewritePredicateSubquery turns both into semi/anti joins on
    * `o_custkey` (no per-row subquery execution survives into the
    * physical plan), the same decorrelation the reference inherits from
    * PostgreSQL's planner for handler SQL (`src/processor.ts:26`).
    */
  private val sqlExistsSubquery = Q(
    (s, dir) => {
      Q.sql(s, dir)("""SELECT c_custkey, c_mktsegment, c_acctbal FROM customer c
              |WHERE EXISTS (SELECT 1 FROM orders o
              |              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 200000)
              |  AND NOT EXISTS (SELECT 1 FROM orders o
              |                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P')
              |ORDER BY c_custkey""".stripMargin)
    },
    Some("""SELECT c_custkey, c_mktsegment, c_acctbal FROM customer c
           |WHERE EXISTS (SELECT 1 FROM orders o
           |              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 200000)
           |  AND NOT EXISTS (SELECT 1 FROM orders o
           |                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P')
           |ORDER BY c_custkey""".stripMargin))

  /** Correlated LATERAL subquery (per-region top-2 nations by customer
    * count) — Spark plans this as a LateralJoin and decorrelates the
    * ORDER BY + LIMIT into a per-group rank prune, so the "for each outer
    * row run a query" surface never executes row-at-a-time.
    */
  private val sqlLateralJoin = Q(
    (s, dir) => {
      Q.sql(s, dir)("""SELECT r.r_name, l.n_name, l.n_customers
              |FROM region r,
              |LATERAL (
              |  SELECT n.n_name, count(*) AS n_customers
              |  FROM nation n JOIN customer c ON c.c_nationkey = n.n_nationkey
              |  WHERE n.n_regionkey = r.r_regionkey
              |  GROUP BY n.n_name
              |  ORDER BY n_customers DESC, n.n_name
              |  LIMIT 2
              |) l
              |ORDER BY r.r_name, l.n_customers DESC, l.n_name""".stripMargin)
    },
    Some("""SELECT r.r_name, l.n_name, l.n_customers
           |FROM region r,
           |LATERAL (
           |  SELECT n.n_name, count(*) AS n_customers
           |  FROM nation n JOIN customer c ON c.c_nationkey = n.n_nationkey
           |  WHERE n.n_regionkey = r.r_regionkey
           |  GROUP BY n.n_name
           |  ORDER BY n_customers DESC, n.n_name
           |  LIMIT 2
           |) l
           |ORDER BY r.r_name, l.n_customers DESC, l.n_name""".stripMargin))

  /** Recursive CTE (Spark 4 UnionLoop): a monthly date spine grown by
    * recursion from the data's own [min, max] order-month bounds, left
    * joined to per-month order counts/revenue so empty months surface as
    * zero rows — the gap-preserving report shape a plain GROUP BY cannot
    * produce. Recursion depth = month span (80 on the fixture, bounded by
    * the data not the row count), well under Spark's level limit; each
    * step is a one-row increment, so the loop cost is negligible next to
    * the single orders aggregate.
    */
  private val sqlRecursiveCte = Q(
    (s, dir) => {
      // depth tracks the data's month span (80 on the fixture); raise the
      // level limit so a wider span can't trip the default 100 ceiling
      s.conf.set("spark.sql.cteRecursionLevelLimit", "100000")
      Q.sql(s, dir)("""WITH RECURSIVE bounds AS (
              |  SELECT date_trunc('month', min(o_orderdate)) AS min_m,
              |         date_trunc('month', max(o_orderdate)) AS max_m
              |  FROM orders
              |), spine(m, max_m) AS (
              |  SELECT min_m, max_m FROM bounds
              |  UNION ALL
              |  SELECT m + INTERVAL 1 MONTH, max_m FROM spine WHERE m < max_m
              |), om AS (
              |  SELECT date_trunc('month', o_orderdate) AS m, count(*) AS n_orders,
              |    cast(sum(cast(o_totalprice as decimal(18,4))) as double) AS revenue
              |  FROM orders GROUP BY 1
              |)
              |SELECT cast(s.m as date) AS month,
              |  coalesce(om.n_orders, 0) AS n_orders,
              |  coalesce(om.revenue, 0.0) AS revenue
              |FROM spine s LEFT JOIN om ON om.m = s.m
              |ORDER BY month""".stripMargin)
    },
    Some("""WITH RECURSIVE bounds AS (
           |  SELECT date_trunc('month', min(o_orderdate)) AS min_m,
           |         date_trunc('month', max(o_orderdate)) AS max_m
           |  FROM orders
           |), spine(m, max_m) AS (
           |  SELECT min_m, max_m FROM bounds
           |  UNION ALL
           |  SELECT m + INTERVAL 1 MONTH, max_m FROM spine WHERE m < max_m
           |), om AS (
           |  SELECT date_trunc('month', o_orderdate) AS m, count(*) AS n_orders,
           |    cast(sum(cast(o_totalprice as decimal(18,4))) as double) AS revenue
           |  FROM orders GROUP BY 1
           |)
           |SELECT cast(s.m as date) AS month,
           |  coalesce(om.n_orders, 0) AS n_orders,
           |  coalesce(om.revenue, 0.0) AS revenue
           |FROM spine s LEFT JOIN om ON om.m = s.m
           |ORDER BY month""".stripMargin))

  /** PostgreSQL's `DISTINCT ON` idiom — the latest order per customer —
    * re-expressed the Spark way: a rank-only window with a TOTAL
    * tie-break order and a rank-1 filter (WindowGroupLimit prunes
    * map-side, so no per-customer sort materializes globally). The
    * oracle uses DuckDB's actual `DISTINCT ON` syntax, proving the
    * rewrite is semantics-preserving — this is the PG-surface query
    * shape every reference handler with "get newest row per key" logic
    * relies on (`src/processor.ts:26` hands handlers raw PG SQL).
    */
  private val sqlDistinctOn = Q(
    (s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
      T(s, dir, "orders")
        .withColumn("rk", row_number().over(w))
        .where(col("rk") === 1)
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
                col("o_totalprice").cast("decimal(18,2)").cast("double").as("price"))
        .orderBy(col("o_custkey"))
    },
    Some("""SELECT DISTINCT ON (o_custkey) o_custkey, o_orderkey, o_orderdate,
           |  cast(cast(o_totalprice as decimal(18,2)) as double) AS price
           |FROM orders
           |ORDER BY o_custkey, o_orderdate DESC, o_orderkey DESC""".stripMargin))

  /** Case-insensitive and escaped pattern matching (`ILIKE`, `LIKE ...
    * ESCAPE`) — the remaining PG pattern operators beyond
    * `filter_predicates`' LIKE/rlike. All map-only scan predicates that
    * push into the parquet reader as string filters.
    */
  private val scalarPatternMatch = Q(
    (s, dir) =>
      T(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"),
          col("c_mktsegment").ilike("bui%").as("ilike_hit"),
          col("c_mktsegment").like("%G_").as("like_us"),
          expr("c_mktsegment LIKE '%\\\\_%' ESCAPE '\\\\'").as("has_underscore"))
        .orderBy(col("c_custkey")),
    Some("""SELECT c_custkey, c_mktsegment,
           |  c_mktsegment ILIKE 'bui%' AS ilike_hit,
           |  c_mktsegment LIKE '%G_' AS like_us,
           |  c_mktsegment LIKE '%\_%' ESCAPE '\' AS has_underscore
           |FROM customer ORDER BY c_custkey""".stripMargin))

  /** Equi-width histogram (10 buckets over the data's own [min, max]) +
    * per-bucket deterministic mode of `o_orderpriority` (max count, ties
    * to the lexicographically smallest value — the builtin `mode()` is
    * tie-nondeterministic, so the engine formulates it as count + rank,
    * which also keeps the top-1 prune map-side). The global bounds are a
    * one-row aggregate broadcast into the bucket projection; bucket edges
    * derive from single IEEE ops on exact inputs so both engines compute
    * identical doubles.
    */
  private val aggHistogramMode = Q(
    (s, dir) => {
      val o = T(s, dir, "orders")
      val bounds = o.agg(
        min(col("o_totalprice")).as("lo"),
        max(col("o_totalprice")).as("hi"))
      val bucketed = o.crossJoin(broadcast(bounds))
        .withColumn("bucket",
          least(floor((col("o_totalprice") - col("lo")) * lit(10.0) /
            (col("hi") - col("lo"))), lit(9.0)).cast("bigint"))
      val perPriority = bucketed
        .groupBy(col("bucket"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n_pri"))
      val w = Window.partitionBy(col("bucket"))
        .orderBy(col("n_pri").desc, col("o_orderpriority"))
      val modes = perPriority
        .withColumn("rk", row_number().over(w))
        .where(col("rk") === 1)
        .select(col("bucket"), col("o_orderpriority").as("mode_priority"))
      bucketed.groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"),
             round(min(col("o_totalprice")), 4).as("bucket_min"),
             round(max(col("o_totalprice")), 4).as("bucket_max"))
        .join(modes, Seq("bucket"))
        .orderBy(col("bucket"))
    },
    Some("""WITH bounds AS (
           |  SELECT min(o_totalprice) AS lo, max(o_totalprice) AS hi FROM orders
           |), bucketed AS (
           |  SELECT o.*, cast(least(floor((o_totalprice - lo) * 10.0 / (hi - lo)), 9.0) as bigint) AS bucket
           |  FROM orders o CROSS JOIN bounds
           |), modes AS (
           |  SELECT bucket, o_orderpriority AS mode_priority FROM (
           |    SELECT bucket, o_orderpriority,
           |      row_number() OVER (PARTITION BY bucket
           |                         ORDER BY count(*) DESC, o_orderpriority) AS rk
           |    FROM bucketed GROUP BY bucket, o_orderpriority
           |  ) WHERE rk = 1
           |)
           |SELECT b.bucket, count(*) AS n,
           |  round(min(o_totalprice), 4) AS bucket_min,
           |  round(max(o_totalprice), 4) AS bucket_max,
           |  any_value(m.mode_priority) AS mode_priority
           |FROM bucketed b JOIN modes m ON b.bucket = m.bucket
           |GROUP BY b.bucket ORDER BY b.bucket""".stripMargin))

  /** IGNORE NULLS across the analytic family (lag / lead / first / last /
    * nth_value): per-user event streams where only purchases carry a
    * value — the "carry the last observation forward" read. One window
    * partition keyed by user, totally ordered by (ts, event_id); all five
    * functions share the same sort, so the plan is one exchange + one
    * sort feeding a single Window operator.
    */
  private val windowIgnoreNulls = Q(
    (s, dir) => {
      val ev = T(s, dir, "events")
        .withColumn("pv", when(col("event_type") === "purchase", col("value")))
      val ord = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val upTo = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val full = ord.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      ev.select(
          col("user_id"), col("ts"), col("event_id"),
          col("pv"),
          lag(col("pv"), 1, null, ignoreNulls = true).over(ord).as("prev_purchase"),
          lead(col("pv"), 1, null, ignoreNulls = true).over(ord).as("next_purchase"),
          last(col("pv"), ignoreNulls = true).over(upTo).as("ffill_purchase"),
          first(col("pv"), ignoreNulls = true).over(full).as("first_purchase"),
          nth_value(col("pv"), 2, ignoreNulls = true).over(full).as("second_purchase"))
        .orderBy(col("user_id"), col("ts"), col("event_id"))
    },
    Some("""SELECT user_id, ts, event_id, pv,
           |  lag(pv, 1 IGNORE NULLS) OVER w AS prev_purchase,
           |  lead(pv, 1 IGNORE NULLS) OVER w AS next_purchase,
           |  last_value(pv IGNORE NULLS) OVER
           |    (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ffill_purchase,
           |  first_value(pv IGNORE NULLS) OVER
           |    (w ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS first_purchase,
           |  nth_value(pv, 2 IGNORE NULLS) OVER
           |    (w ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS second_purchase
           |FROM (SELECT user_id, ts, event_id,
           |        CASE WHEN event_type = 'purchase' THEN value END AS pv
           |      FROM events)
           |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
           |ORDER BY user_id, ts, event_id""".stripMargin))

  /** Time-interval RANGE frame: per-user rolling 1-hour event count and
    * value sum (`RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT
    * ROW`) — the rolling-window-by-TIME read (rate limiting, rolling
    * spend) that a ROWS frame cannot express on irregular streams. SQL
    * text because the Scala `rangeBetween` API takes only numeric
    * offsets. One exchange keyed by user; the frame scan is a single
    * ordered pass per partition. The rolling sum uses the exact decimal
    * accumulator; ties on ts are frame-peers in both engines (RANGE
    * semantics), so the output is deterministic without a ts tiebreak.
    */
  private val windowIntervalRange = Q(
    (s, dir) => {
      Q.sql(s, dir)("""SELECT user_id, ts, event_id,
              |  count(*) OVER w AS n_1h,
              |  cast(sum(cast(value as decimal(18,4))) OVER w as double) AS sum_1h
              |FROM events
              |WINDOW w AS (PARTITION BY user_id ORDER BY ts
              |             RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
              |ORDER BY user_id, ts, event_id""".stripMargin)
    },
    Some("""SELECT user_id, ts, event_id,
           |  count(*) OVER w AS n_1h,
           |  cast(sum(cast(value as decimal(18,4))) OVER w as double) AS sum_1h
           |FROM events
           |WINDOW w AS (PARTITION BY user_id ORDER BY ts
           |             RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
           |ORDER BY user_id, ts, event_id""".stripMargin))

  // ---------------------------------------------------------------------
  // Assembled inventory
  // ---------------------------------------------------------------------

  val all: Map[String, Q] = Map(
    "scan_projection" -> scanProjection,
    "filter_predicates" -> filterPredicates,
    "scalar_case_when" -> scalarCaseWhen,
    "scalar_casts" -> scalarCasts,
    "distinct_rows" -> distinctRows,
    "join_inner_star" -> joinInnerStar,
    "join_left_outer" -> joinLeftOuter,
    "join_right_outer" -> joinRightOuter,
    "join_full_outer" -> joinFullOuter,
    "join_semi" -> joinSemi,
    "join_anti" -> joinAnti,
    "join_cross" -> joinCross,
    "join_range_theta" -> joinRangeTheta,
    "join_asof" -> joinAsof,
    "join_star_5way" -> joinStar5Way,
    "agg_pricing_summary" -> aggPricingSummary,
    "agg_count_distinct" -> aggCountDistinct,
    "agg_stats_moments" -> aggStatsMoments,
    "agg_collect_sorted" -> aggCollectSorted,
    "agg_percentiles_exact" -> aggPercentilesExact,
    "agg_approx_sketches" -> aggApproxSketches,
    "agg_sketch_mergeable" -> aggSketchMergeable,
    "agg_string_agg" -> aggStringAgg,
    "agg_rollup" -> aggRollup,
    "agg_cube" -> aggCube,
    "agg_grouping_sets" -> aggGroupingSets,
    "agg_grouping_id" -> aggGroupingId,
    "agg_having" -> aggHaving,
    "agg_filtered_conditional" -> aggFilteredConditional,
    "agg_pivot" -> aggPivot,
    "agg_unpivot" -> aggUnpivot,
    "agg_salted_skew" -> aggSaltedSkew,
    "window_ranking" -> windowRanking,
    "window_lag_lead" -> windowLagLead,
    "window_running_frames" -> windowRunningFrames,
    "window_range_frame" -> windowRangeFrame,
    "window_topk_per_group" -> windowTopkPerGroup,
    "window_analytic" -> windowAnalytic,
    "sort_multi_nulls" -> sortMultiNulls,
    "limit_offset" -> limitOffset,
    "topk_global" -> topkGlobal,
    "set_union_all" -> setUnionAll,
    "set_union_distinct" -> setUnionDistinct,
    "set_intersect" -> setIntersect,
    "set_except" -> setExcept,
    "set_intersect_all" -> setIntersectAll,
    "set_except_all" -> setExceptAll,
    "sql_correlated_scalar" -> sqlCorrelatedScalar,
    "sql_in_subquery" -> sqlInSubquery,
    "sql_exists_subquery" -> sqlExistsSubquery,
    "sql_distinct_on" -> sqlDistinctOn,
    "scalar_pattern_match" -> scalarPatternMatch,
    "sql_lateral_join" -> sqlLateralJoin,
    "sql_recursive_cte" -> sqlRecursiveCte,
    "agg_histogram_mode" -> aggHistogramMode,
    "window_ignore_nulls" -> windowIgnoreNulls,
    "window_interval_range" -> windowIntervalRange,
    "tpch_q3_shape" -> tpchQ3Shape,
    "tpch_q10_shape" -> tpchQ10Shape
  )
}
