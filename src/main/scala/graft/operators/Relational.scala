package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.sources.Tables
import graft.functions.TopK

/**
 * Relational-core operator suite: scans, projections, filters, joins,
 * aggregations, time-bucketing windows, sorts/top-k, set ops and
 * scalar functions — the SURVEY.md §2.1-§2.8 inventory re-expressed as
 * declarative DataFrame pipelines that Catalyst can push down, prune
 * and (where the dimension side is small) broadcast.
 *
 * Every query here is paired with ANSI SQL in [[graft.oracle.RelationalSql]]
 * for the DuckDB hash-match gate. Floating aggregates are rounded to
 * 4 dp in BOTH engines so accumulation-order noise can't flip the hash.
 */
object Relational {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_pricing_summary" -> q01,
    "q02_filter_pushdown" -> q02,
    "q03_revenue_by_nation" -> q03,
    "q04_topk_parts_per_flag" -> q04,
    "q05_distinct_counts" -> q05,
    "q06_daily_events" -> q06,
    "q07_event_buckets" -> q07,
    "q08_customers_without_orders" -> q08,
    "q09_top_customer_per_nation" -> q09,
    "q10_user_item_stats" -> q10,
    "q11_user_baskets" -> q11,
    "q12_part_strings" -> q12,
    "q13_order_lifecycle" -> q13,
    "q14_period_ids" -> q14,
    "q15_array_hof" -> q15,
    "q05b_approx_distinct" -> q05b,
    "q102_sketch_rollup" -> q102,
    "q37_candidate_freq" -> q37,
    "q51_topk_heap" -> q51,
    "q38_seq_encode" -> q38,
    "q39_set_ops" -> q39,
    "q40_event_windows" -> q40,
    "q53_event_percentiles" -> q53,
    "q54_event_pivot" -> q54,
    "q55_revenue_rollup" -> q55,
    "q56_asof_join" -> q56,
    "q57_event_sessions" -> q57,
    "q68_click_attribution" -> q68,
    "q53b_approx_percentiles" -> q53b,
    "q71_trending_users" -> q71,
    "q73_event_funnel" -> q73,
    "q74_trailing_window" -> q74,
    "q75_cohort_retention" -> q75,
    "q77_column_profile" -> q77
  )

  val SESSION_GAP_SECONDS = 1800L // 30 min

  val EVENT_TYPES = Seq("click", "error", "purchase", "signup", "view")

  /** A1/P6/T3 — wide aggregation with derived measures (shape of
    * reference Main.scala:93-96 group+collect generalized to the
    * pricing-summary idiom). Partial aggregation (map-side combine)
    * keeps the single shuffle small at any scale. */
  private def q01(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") <= lit("1998-09-01"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        // money/quantity sums accumulate in DECIMAL (exact,
        // order-independent) — at cluster scale the double sum's
        // accumulation-order noise crosses the 4-dp boundary (seen on
        // q55's grand total at sf0.1); bounded-magnitude avgs stay double
        round(sum(col("l_quantity").cast("decimal(30,8)")), 4)
          .cast("double").as("sum_qty"),
        round(sum(col("l_extendedprice").cast("decimal(30,8)")), 4)
          .cast("double").as("sum_base_price"),
        round(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(30,8)")), 4).cast("double").as("sum_disc_price"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        round(avg(col("l_discount")), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))

  /** P1/P3/P4 — filter + projection; predicates and the 4-column
    * ReadSchema reach the parquet scan (PushedFilters). */
  private def q02(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1995-01-01") &&
              col("l_shipdate") <  lit("1997-01-01") &&
              col("l_discount") > 0.05)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        round(col("l_extendedprice") * (lit(1) - col("l_discount")), 4).as("net_price"))

  /** J1 — multi-way equi-join with small dimensions broadcast
    * (reference disabled broadcast joins globally, Main.scala:340-341;
    * the rebuild deliberately reverts that — region/nation are tiny at
    * any SF, so broadcast-hash avoids two shuffles). */
  private def q03(spark: SparkSession, dir: String): DataFrame =
    lineitemStar(spark, dir)
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        round(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(30,8)")), 4).cast("double").as("revenue"),
        countDistinct(col("o_orderkey")).as("n_orders"))

  /** The five-table star q03 and q55 aggregate: lineitem ⋈ orders ⋈
    * customer, then the tiny nation and region dimensions broadcast. */
  private def lineitemStar(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val o  = Tables.orders(spark, dir)
    val c  = Tables.customer(spark, dir)
    val n  = Tables.nation(spark, dir)
    val r  = Tables.region(spark, dir)
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
  }

  /** T1 — per-group top-k via window rank (the distributed form of the
    * reference's driver-side sortBy(-score).take(k),
    * UserBasedTopKRecommender.scala:90). Rank keys are (rounded
    * revenue desc, partkey asc) so the pick is deterministic. */
  private def q04(spark: SparkSession, dir: String): DataFrame = {
    val rev = Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"), col("l_partkey"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("revenue"))
    TopK.perGroup(rev, Seq(col("l_returnflag")), Seq(col("revenue").desc, col("l_partkey").asc), 3)
      .select("l_returnflag", "l_partkey", "revenue", "rk")
  }

  /** A3 — exact distinct counts (reference BaseRecommender.scala:60-62).
    * At 100 TB these become approx_count_distinct; exact here because
    * the oracle compares values. */
  private def q05(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir).agg(
      countDistinct(col("l_partkey")).as("n_parts"),
      countDistinct(col("l_suppkey")).as("n_supps"),
      countDistinct(col("l_orderkey")).as("n_orders"),
      count(lit(1)).as("n_rows"))

  /** W1/F1 — tumbling 1-day time bucketing of the event stream
    * (reference SequentialTopKRecommender.scala:314-319 uses window();
    * date_trunc is the same bucketing with a simpler output type). */
  private def q06(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(date_trunc("day", col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("value")), 4).as("sum_value"),
        // engine-stable rounding: avg over power-of-two group sizes
        // lands on exact-half decimal reprs that Spark's round() and
        // DuckDB's disagree on (see graft.functions.Rounding)
        graft.functions.Rounding.r4(avg(col("value"))).as("avg_value"))

  /** P7/F5 — CASE WHEN bucketing (reference's period-clamp idiom,
    * SequentialTopKRecommender.scala:374-381). */
  private def q07(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("bucket",
        when(col("value") < 50, "low")
          .when(col("value") < 150, "mid")
          .otherwise("high"))
      .groupBy(col("event_type"), col("bucket"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value"))

  /** §2.7 set ops — anti join (the distributed form of the reference's
    * driver-side Set.diff, BaseRecommender.scala:64-71). Registered as
    * LAPSED customers — no orders on/after 2000-01-01 — because the
    * unfiltered complement is empty in the fixtures at gate scale
    * (every customer has some order), which made the hash gate compare
    * empty sets (VERDICT r10 next #4, the q125 de-vacuation
    * precedent): the filtered right side keeps the identical anti-join
    * plan shape while the gate checks real survivor rows. */
  private def q08(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("2000-01-01").cast("date"))
      .select("o_custkey")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select("c_custkey", "c_name", "c_mktsegment")
  }

  /** T4 — argmax per group, deterministic tie-break by key
    * (reference's rule-argmax, SequentialTopKRecommender.scala:235-238). */
  private def q09(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .transform(TopK.perGroup(_, Seq(col("n_name")), Seq(col("c_acctbal").desc, col("c_custkey").asc), 1))
      .select(col("n_name"), col("c_custkey"), round(col("c_acctbal"), 4).as("best_acctbal"))
  }

  /** A7/R11 — per-user profile statistics over the long-form ratings
    * view: the mask-aware mean (mean over *rated* cells only,
    * reference UserBasedTopKRecommender.scala:47-51) is just avg() on
    * long form — no dense matrix, no zero-masking needed. */
  private def q10(spark: SparkSession, dir: String): DataFrame =
    Tables.ratings(spark, dir)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_items"),
        round(avg(col("rating")), 4).as("mean_rating"),
        round(min(col("rating")), 4).as("min_rating"),
        round(max(col("rating")), 4).as("max_rating"))

  /** A6/U1 — basket construction: one row per (user, day) with the
    * sorted distinct item set (reference
    * SequentialTopKRecommender.scala:243-255 built a dense one-hot
    * vector per basket; sorted sparse form scales instead). */
  private def q11(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir).select("l_orderkey", "l_partkey", "l_shipdate")
    val o  = Tables.orders(spark, dir).select("o_orderkey", "o_custkey")
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .groupBy(col("o_custkey").as("user_id"),
        to_date(col("l_shipdate")).as("basket_date"))
      .agg(
        concat_ws(",", transform(sort_array(collect_set(col("l_partkey"))),
          x => x.cast("string"))).as("items"),
        countDistinct(col("l_partkey")).as("n_items"))
  }

  /** F2 — string function family (split/lower/length/format,
    * reference SequentialTopKRecommender.scala:237,191,427). */
  private def q12(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir)
      .select(
        col("p_partkey"),
        lower(col("p_brand")).as("brand_lc"),
        length(col("p_name")).as("name_len"),
        element_at(split(col("p_type"), " "), 1).as("type_head"),
        format_string("%s_%d", col("p_brand"), col("p_size")).as("brand_size"))

  /** A5/F1 — min/max + datediff lifecycle agg (reference
    * SequentialTopKRecommender.scala:351-356). */
  private def q13(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(min(col("o_orderdate")).as("first_order"),
        max(col("o_orderdate")).as("last_order"),
        count(lit(1)).as("n_orders"))
      .withColumn("active_days",
        datediff(col("last_order"), col("first_order")).cast("long"))

  /** W3 — dense sequence ids over an ordered distinct set. The
    * reference used monotonically_increasing_id after orderBy
    * (SequentialTopKRecommender.scala:322-327), which is only correct
    * single-partition. A bare `row_number() OVER (ORDER BY ...)` fixes
    * correctness but funnels every row through ONE partition — the
    * textbook scale-killer. Scale-safe form: rank WITHIN each year
    * partition, then add the year's cumulative offset (computed on the
    * tiny #years dimension and broadcast) — dense global ids with no
    * global sort. */
  private def q14(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.orders(spark, dir)
      .select(to_date(col("o_orderdate")).as("order_date")).distinct()
      .withColumn("yr", year(col("order_date")))
    val offs = d.groupBy(col("yr")).agg(count(lit(1)).as("cnt"))
      .withColumn("off",
        sum(col("cnt")).over(Window.orderBy(col("yr"))) - col("cnt"))
      .select(col("yr"), col("off"))
    val rk = row_number().over(
      Window.partitionBy(col("yr")).orderBy(col("order_date")))
    d.join(broadcast(offs), Seq("yr"))
      .withColumn("period_id", (col("off") + rk - 1).cast("long"))
      .select(col("order_date"), col("period_id"))
  }

  /** T1/T2 at the 100-TB posture: q04's per-group top-k ranked over
    * the bigint partkey and the double revenue. Only k rows per group
    * per map partition cross the shuffle — the partial prune
    * [[graft.functions.TopK.perGroup]] guarantees (see its doc). Same
    * semantics, same oracle as q04 (revenue desc, partkey asc
    * tie-break). */
  private def q51(spark: SparkSession, dir: String): DataFrame = {
    val rev = Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"), col("l_partkey"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("revenue"))
      .select(col("l_returnflag"), col("l_partkey").cast("long").as("l_partkey"),
        col("revenue").cast("double").as("revenue"))
    TopK.perGroup(rev, Seq(col("l_returnflag")), Seq(col("revenue").desc, col("l_partkey").asc), 3)
      .select("l_returnflag", "l_partkey", "revenue", "rk")
  }

  /** Relative tolerance the approx-sketch contracts certify: HLL++ at
    * rsd 0.01 has ~1% standard error, Datasketches HLL lgK=12 ~1.6%,
    * so 5% is a ≥3σ band — loose enough to never flake, tight enough
    * that a broken sketch (or a wrong merge) trips it. */
  val APPROX_REL_TOL = 0.05

  /** `ok` verdict: approx within [[APPROX_REL_TOL]] of exact (the
    * `greatest(…, 1)` floor keeps near-zero exacts meaningful). Both
    * sides of the comparison live in THIS query's output contract:
    * the oracle recomputes the exact column and pins `ok` to literal
    * 1, so a drifting sketch hash-fails the row. */
  private def withinTol(approx: Column, exact: Column): Column =
    (abs(approx.cast("double") - exact.cast("double")) <=
      lit(APPROX_REL_TOL) * greatest(abs(exact.cast("double")), lit(1.0)))
      .cast("int")

  /** A3 at the 100-TB posture: the approximate twin of q05. Exact
    * multi-countDistinct triggers an `Expand` (3× the input through
    * the shuffle); HyperLogLog++ sketches aggregate in one pass with
    * fixed-size state and merge associatively across any partitioning.
    * The production form is the approx agg ALONE; this contract query
    * additionally recomputes the exact counts and emits a
    * [[withinTol]] verdict per sketch, which the DuckDB oracle pins
    * to 1 — turning "approximate" into a driver-checkable bound
    * instead of an unaudited `no_oracle` row. */
  private def q05b(spark: SparkSession, dir: String): DataFrame = {
    // The approx and exact trios MUST be separate aggregates: mixed
    // into one, Spark's multi-distinct rewrite (Expand + re-group by
    // the distinct values) carries every non-distinct buffer through
    // the per-VALUE first aggregate — 3 HLL++ sketches at rsd 0.01
    // are ~2^14 registers each, so ~170k value-groups × ~64 KiB of
    // sketch state thrashes the hash aggregate (measured 33 s vs ~1 s
    // at sf0.1). Split, each side is a clean one-row global agg and
    // the 1×1 cross join is free. Register max-merge is commutative,
    // so the estimates (and the oracle hash) are plan-independent.
    val li = Tables.lineitem(spark, dir)
    val approx = li.agg(
      approx_count_distinct(col("l_partkey"), 0.01).as("a_parts"),
      approx_count_distinct(col("l_suppkey"), 0.01).as("a_supps"),
      approx_count_distinct(col("l_orderkey"), 0.01).as("a_orders"))
    val exact = li.agg(
      countDistinct(col("l_partkey")).as("n_parts"),
      countDistinct(col("l_suppkey")).as("n_supps"),
      countDistinct(col("l_orderkey")).as("n_orders"),
      count(lit(1)).as("n_rows"))
    approx.crossJoin(exact)
      .select(col("n_parts"), col("n_supps"), col("n_orders"), col("n_rows"),
        withinTol(col("a_parts"), col("n_parts")).as("parts_ok"),
        withinTol(col("a_supps"), col("n_supps")).as("supps_ok"),
        withinTol(col("a_orders"), col("n_orders")).as("orders_ok"))
  }

  /** Mergeable-sketch rollup — the pre-aggregation pattern that makes
    * "distinct users over ANY date range" an O(|sketch table|) merge
    * instead of a fact-table rescan: one pass builds per-(day, type)
    * Datasketches HLL sketches (`hll_sketch_agg`, a mergeable binary
    * state — the materialized sketch TABLE a 100-TB warehouse stores
    * next to its cubes), then arbitrary slices union sketches
    * (`hll_union_agg`) and estimate. Here: daily sketches → per-type
    * month-to-date distinct users + a whole-corpus estimate from the
    * same 450-row sketch table — the facts are scanned ONCE for any
    * number of downstream distinct questions. The contract query also
    * recomputes each slice's EXACT distinct users and emits a
    * [[withinTol]] verdict the oracle pins to 1 (the q05b pattern);
    * bit-exact mergeability stays spec-asserted. */
  private def q102(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val daily = ev
      .groupBy(date_trunc("day", col("ts")).as("day"), col("event_type"))
      .agg(expr("hll_sketch_agg(user_id)").as("sk"),
        count(lit(1)).as("n_events"))
      .cache() // THE sketch table: both rollups below read it, not the facts
    val perType = daily.groupBy(col("event_type"))
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("approx_users"),
        sum(col("n_events")).as("n_events"))
    val total = daily.agg(
      expr("hll_sketch_estimate(hll_union_agg(sk))").as("approx_users"),
      sum(col("n_events")).as("n_events"))
      .select(lit("<all>").as("event_type"), col("approx_users"), col("n_events"))
    val approx = perType.unionByName(total)
    // exact twins (the audit side of the contract — a rescan the
    // sketch table exists to avoid in production)
    val exactType = ev.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("exact_users"))
    val exactAll = ev.agg(countDistinct(col("user_id")).as("exact_users"))
      .select(lit("<all>").as("event_type"), col("exact_users"))
    approx.join(exactType.unionByName(exactAll), Seq("event_type"))
      .select(col("event_type"), col("exact_users"), col("n_events"),
        withinTol(col("approx_users"), col("exact_users")).as("users_ok"))
  }

  /** A8 — explode + candidate frequency (reference
    * SequentialTopKRecommender.scala:137-143 counted item frequency
    * across a cluster's transactions driver-side): per-order baskets
    * explode back into rows, counted per (segment, item), top-3 items
    * per segment. The explode is genuine array fan-out — the same
    * shape the R9 recommend step consumes. */
  private def q37(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir).select("l_orderkey", "l_partkey")
    val o  = Tables.orders(spark, dir).select("o_orderkey", "o_custkey")
    val c  = Tables.customer(spark, dir).select("c_custkey", "c_mktsegment")
    val baskets = li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("c_mktsegment"))
      .agg(collect_set(col("l_partkey")).as("items"))
    val freq = baskets
      .select(col("c_mktsegment"), explode(col("items")).as("item_id"))
      .groupBy(col("c_mktsegment"), col("item_id"))
      .agg(count(lit(1)).as("n_orders"))
    TopK.perGroup(freq, Seq(col("c_mktsegment")), Seq(col("n_orders").desc, col("item_id").asc), 3)
      .select(col("c_mktsegment"), col("item_id"), col("n_orders"), col("rk"))
  }

  /** U3 — flatList sequence encoding (reference
    * SequentialTopKRecommender.scala:420-441): each user's purchase
    * history as period-ordered `<item>_<relPeriod>` strings, where
    * relPeriod counts back from the user's LAST active period (0 =
    * most recent). Periods are the q28 derived-width buckets; the
    * encode itself is sort_array + transform HOFs over one collected
    * struct list — no UDF, one keyed agg. */
  private def q38(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val bounds = Sequential.periodBounds(o).select("dmin", "width")
    val assigned = o.crossJoin(broadcast(bounds))
      .select(col("o_orderkey"), col("o_custkey").as("user_id"),
        least(expr("CAST(datediff(o_orderdate, dmin) AS BIGINT) DIV width"),
          lit(Sequential.NUM_PERIODS - 1L)).as("period_id"))
    val li = Tables.lineitem(spark, dir).select("l_orderkey", "l_partkey")
    val events = assigned.join(li, col("o_orderkey") === col("l_orderkey"))
      .select(col("user_id"), col("period_id"), col("l_partkey").as("item_id"))
      .distinct()
    events
      .groupBy(col("user_id"))
      .agg(max(col("period_id")).as("pmax"),
        sort_array(collect_list(struct(col("period_id"), col("item_id")))).as("seq"))
      .select(col("user_id"), size(col("seq")).as("n_events"),
        concat_ws(",", transform(col("seq"),
          s => concat(s.getField("item_id").cast("string"), lit("_"),
            (col("pmax") - s.getField("period_id")).cast("string")))).as("seq_csv"))
  }

  /** §2.7 — DataFrame set algebra as real `union`/`intersect`/`except`
    * operators (the reference only ever did driver-side Scala Set
    * algebra, BaseRecommender.scala:64-71): customers ordering in 1994
    * vs 1995. Distinct projections keep each input a pruned 1-column
    * scan; the set ops are hash aggs/joins on the key. */
  private def q39(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    def buyers(year: Int) = o
      .filter(col("o_orderdate") >= lit(f"$year-01-01") &&
        col("o_orderdate") < lit(f"${year + 1}-01-01"))
      .select(col("o_custkey")).distinct()
    val a = buyers(1994); val b = buyers(1995)
    a.union(b).distinct().agg(count(lit(1)).as("n_union"))
      .crossJoin(a.intersect(b).agg(count(lit(1)).as("n_intersect")))
      .crossJoin(a.except(b).agg(count(lit(1)).as("n_except_a")))
      .crossJoin(b.except(a).agg(count(lit(1)).as("n_except_b")))
  }

  /** W1 — the `window()` STRUCT variant (reference
    * SequentialTopKRecommender.scala:314-319): tumbling 6-hour
    * epoch-aligned buckets over the event stream, emitting the
    * window's own start/end bounds. */
  private def q40(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "6 hours"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("value")), 4).as("sum_value"))
      .select(col("window.start").as("w_start"), col("window.end").as("w_end"),
        col("event_type"), col("n"), col("sum_value"))

  /** Ordered-statistics aggregate: EXACT interpolated percentiles per
    * group (`percentile` ≡ DuckDB `quantile_cont` — both linear
    * interpolation at (n−1)·p). Exact so the oracle hash-matches; at
    * 100 TB the one-line swap is `approx_percentile` (KLL-sketch-like
    * bounded state, mergeable across partitions) — same call shape,
    * rows-only gate. */
  private def q53(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(exactPercentiles.head, exactPercentiles.tail :+ count(lit(1)).as("n"): _*)

  /** q53's exact interpolated p50/p90/p99 of `value`, r4. */
  private def exactPercentiles: Seq[Column] = Seq(0.5 -> "p50", 0.9 -> "p90", 0.99 -> "p99")
    .map { case (p, name) =>
      graft.functions.Rounding.r4(expr(s"percentile(value, $p)")).as(name) }

  /** Whether approximate statistic `a` lies within the exact bracket
    * [lo, hi] (1e-9 slack for the double round trip), as an int verdict
    * — the rank-bracket check of q53b and TextOps.q106b. */
  private[graft] def bracketOk(a: Column, lo: Column, hi: Column): Column =
    (a >= lo - lit(1e-9) && a <= hi + lit(1e-9)).cast("int")

  /** A3-analog for ordered statistics at the 100-TB posture: the
    * APPROXIMATE twin of q53 the Scaladoc there promises. Exact
    * `percentile` sorts every group's values; `approx_percentile`
    * keeps a fixed-size mergeable sketch per group (state bounded by
    * the accuracy parameter, not by n), so partial aggregation applies
    * map-side at any scale. The contract query emits q53's exact
    * per-group percentiles (oracle-recomputable, r4) alongside a
    * verdict per statistic, and the oracle pins the verdicts to 1
    * (the q05b pattern). The verdict is a RANK bracket, not a value
    * band: the sketch's guarantee is on rank error (a heavy tail
    * makes adjacent order statistics arbitrarily far apart in value),
    * so each approx quantile must lie between the exact quantiles at
    * target ±2% rank — hundreds of times looser than the sketch's
    * 1/accuracy rank guarantee, sound for ANY value distribution. */
  private def q53b(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(exactPercentiles.head, exactPercentiles.tail ++ Seq(
        expr("approx_percentile(value, 0.5, 10000)").as("a50"),
        expr("approx_percentile(value, 0.9, 10000)").as("a90"),
        expr("approx_percentile(value, 0.99, 10000)").as("a99"),
        expr("percentile(value, 0.48)").as("lo50"),
        expr("percentile(value, 0.52)").as("hi50"),
        expr("percentile(value, 0.88)").as("lo90"),
        expr("percentile(value, 0.92)").as("hi90"),
        expr("percentile(value, 0.97)").as("lo99"),
        expr("percentile(value, 1.0)").as("hi99"),
        count(lit(1)).as("n")): _*)
      .select(col("event_type"), col("p50"), col("p90"), col("p99"), col("n"),
        bracketOk(col("a50"), col("lo50"), col("hi50")).as("p50_ok"),
        bracketOk(col("a90"), col("lo90"), col("hi90")).as("p90_ok"),
        bracketOk(col("a99"), col("lo99"), col("hi99")).as("p99_ok"))

  val TRENDING_TOP_K = 5

  /** W1 × T1 at the 100-TB posture: per-window trending entities —
    * top-[[TRENDING_TOP_K]] users by event volume in each tumbling
    * day. The group key is (window), whose cardinality is LOW relative
    * to the rows per window; the partial prune
    * [[graft.functions.TopK.perGroup]] guarantees (see its doc) keeps k
    * rows per window per map partition before the shuffle. Rank key
    * is the 6-dp-rounded volume (id-asc ties), emitted 4-dp — the
    * repo-wide float discipline. */
  private def q71(spark: SparkSession, dir: String): DataFrame = {
    val uv = Tables.events(spark, dir)
      .groupBy(date_trunc("day", col("ts")).as("day"), col("user_id"))
      .agg(graft.functions.Rounding.r6(sum(col("value"))).as("vol"))
      .select(col("day"), col("user_id").cast("long").as("user_id"),
        col("vol").cast("double").as("vol"))
    TopK.perGroup(uv, Seq(col("day")), Seq(col("vol").desc, col("user_id").asc), TRENDING_TOP_K)
      .select(col("day"), col("user_id"),
        graft.functions.Rounding.r4(col("vol")).as("volume"), col("rk"))
  }

  /** PIVOT — long→wide with an EXPLICIT value list (the open-ended
    * form would need a driver-side distinct scan to discover columns;
    * pinning the list keeps the plan static and the schema stable).
    * One hash agg; each cell is a filtered sum. */
  private def q54(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .pivot("event_type", EVENT_TYPES)
      .agg(round(sum(col("value")), 4))
      .na.fill(0.0, EVENT_TYPES)

  /** ROLLUP grouping sets — revenue at (region, nation), per-region
    * subtotal and grand total in ONE pass (the Expand-based plan
    * computes all three grouping sets from a single scan instead of
    * three queries). NULL group keys mark subtotal rows, coalesced to
    * printable markers so the oracle compare is null-free. */
  private def q55(spark: SparkSession, dir: String): DataFrame =
    lineitemStar(spark, dir)
      .rollup(col("r_name"), col("n_name"))
      // the grand-total row folds the WHOLE fact table into one sum —
      // at ~1e10 magnitude double accumulation order shifts the 4th
      // decimal between engines (seen at sf0.1), so money sums
      // accumulate in DECIMAL: per-term quantization at 8 dp is far
      // outside double noise, and decimal addition is exact and
      // order-independent at any scale
      .agg(round(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(30,8)")), 4).cast("double")
        .as("revenue"),
        count(lit(1)).as("n_rows"))
      .select(coalesce(col("r_name"), lit("<all>")).as("r_name"),
        coalesce(col("n_name"), lit("<all>")).as("n_name"),
        col("revenue"), col("n_rows"))

  /** AS-OF join — an operator Spark has no native form of (DuckDB's
    * native ASOF JOIN is the oracle): each event matches the LATEST
    * order of the same customer at-or-before the event time. Composed
    * per the custom-operator ladder's first rung — union both sides
    * tagged, one per-key time-ordered window, `last(ignoreNulls)`
    * carries the most recent order forward; order rows sort before
    * events at equal timestamps so `>=` ties match. One keyed shuffle,
    * no range explosion — the shape survives any history length
    * because each key's timeline sorts independently. */
  private def q56(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id").as("key"), col("ts"))
    val o = Tables.orders(spark, dir)
      .select(col("o_custkey").as("key"), col("o_orderdate"))
    val sideOrders = o.select(col("key"),
      col("o_orderdate").cast("timestamp").as("t"),
      col("o_orderdate").as("ord"),
      lit(null).cast("long").as("event_id"), lit(0).as("side"))
    val sideEvents = ev.select(col("key"), col("ts").as("t"),
      lit(null).cast("timestamp").as("ord"),
      col("event_id"), lit(1).as("side"))
    val w = Window.partitionBy(col("key"))
      .orderBy(col("t").asc, col("side").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sideOrders.unionByName(sideEvents)
      .withColumn("last_ord", last(col("ord"), ignoreNulls = true).over(w))
      .filter(col("side") === 1 && col("last_ord").isNotNull)
      .select(col("event_id"), col("key").as("user_id"), col("t").as("ts"),
        col("last_ord").as("last_order_ts"),
        datediff(col("t"), col("last_ord")).as("days_since_order"))
  }

  /** Batch sessionization — the batch twin of the streaming
    * `EventStreams.sessionize`: per-user session ids as a conditional
    * cumulative sum over the lag gap (a new session starts when the
    * gap to the previous event exceeds 30 min), then one keyed agg per
    * session. Two per-user windows + one agg — every stage keyed on
    * user_id, no global sort. */
  private def q57(spark: SparkSession, dir: String): DataFrame =
    sessionizeBatch(Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type")))

  val ATTRIBUTION_HORIZON_MIN = 30

  /** The batch face of the §2.12 stream-stream interval join
    * ([[graft.streaming.EventStreams.attributePurchases]]): every
    * (click, purchase) pair by the same user within 30 minutes. The
    * join is keyed on user_id with a range predicate — at 100 TB it is
    * the standard shuffled equi-join with the interval filter applied
    * post-match; the streaming form bounds its state by the same
    * horizon. */
  private def q68(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.EventStreams.attributePurchases(
      Tables.events(spark, dir), "1 hour", ATTRIBUTION_HORIZON_MIN)

  /** Reusable library surface for the batch sessionizer over any
    * `(event_id, user_id, ts, event_type)` DataFrame — q57's body;
    * property-checked against a brute-force model in PropertySpec. */
  def sessionizeBatch(ev: DataFrame): DataFrame = {
    val wSeq = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    val withGap = ev.withColumn("prev_ts", lag(col("ts"), 1).over(wSeq))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts"))
            > SESSION_GAP_SECONDS, 1).otherwise(0))
      .withColumn("session_id", sum(col("new_session")).over(wSeq))
    withGap.groupBy(col("user_id"), col("session_id"))
      .agg(min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"),
        countDistinct(col("event_type")).as("n_types"))
      .withColumn("duration_s",
        unix_timestamp(col("session_end")) - unix_timestamp(col("session_start")))
  }

  /** Third sessionizer implementation behind the same seam (VERDICT
    * r7 stretch #6): Spark's built-in `session_window`, cross-checked
    * three ways against [[sessionizeBatch]] (lag/cumsum) and the
    * streaming `flatMapGroupsWithState` sessionizer
    * (SessionWindowParitySpec) — cheap insurance that the custom gap
    * logic matches the engine's own merging-session semantics.
    *
    * Boundary alignment: the batch twin splits on SECOND-TRUNCATED
    * gaps with strict `> gap` (unix_timestamp arithmetic), i.e. merges
    * iff trunc-diff ≤ gap — and `session_window` merges sessions whose
    * windows touch or overlap (next.start ≤ prev.end, boundary pinned
    * by SessionWindowParitySpec), i.e. iff diff ≤ gap. Feeding the
    * built-in second-truncated timestamps with the SAME gap therefore
    * makes the predicates coincide exactly. Aggregates still run over
    * the raw timestamps, so emitted rows are bit-identical.
    *
    * Scale shape: identical to the batch twin — one user-keyed
    * exchange into the merging-sessions agg, plus the same per-user
    * window for the ordinal session_id. */
  def sessionizeSessionWindow(ev: DataFrame): DataFrame = {
    val sess = ev
      .withColumn("ts_sec", date_trunc("second", col("ts")))
      .groupBy(col("user_id"),
        session_window(col("ts_sec"),
          s"$SESSION_GAP_SECONDS seconds").as("sw"))
      .agg(min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"),
        countDistinct(col("event_type")).as("n_types"))
    val wSess = Window.partitionBy(col("user_id")).orderBy(col("sw.start").asc)
    sess.withColumn("session_id", row_number().over(wSess).cast("long"))
      .select(col("user_id"), col("session_id"),
        col("session_start"), col("session_end"),
        col("n_events"), col("n_types"))
      .withColumn("duration_s",
        unix_timestamp(col("session_end")) - unix_timestamp(col("session_start")))
  }

  /** Ordered event funnel: view → click-after-view → purchase-after-
    * click, per user on earliest qualifying timestamps, emitted as
    * per-stage user counts with conversion rates against stage 1. The
    * ordering constraint (each stage's event must be STRICTLY after
    * the previous stage's chosen one) is what makes this a funnel and
    * not three independent counts. Shape at scale: each stage is one
    * map-side-filtered keyed agg plus a user-keyed join against the
    * previous stage's (user, ts) — shuffles carry only the per-type
    * event slices and one row per surviving user, and AQE picks
    * broadcast for the later (shrinking) stages. */
  private def q73(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    def stage(prev: DataFrame, prevTs: String, etype: String, outTs: String) =
      ev.filter(col("event_type") === etype)
        .join(prev.select(col("user_id"), col(prevTs)), Seq("user_id"))
        .filter(col("ts") > col(prevTs))
        .groupBy(col("user_id")).agg(min(col("ts")).as(outTs))
    val v = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t_view"))
    val c = stage(v, "t_view", "click", "t_click")
    val p = stage(c, "t_click", "purchase", "t_purchase")
    def cnt(df: DataFrame, stageNo: Int, name: String) =
      df.agg(count(lit(1)).as("n_users"))
        .select(lit(stageNo).as("stage"), lit(name).as("stage_name"),
          col("n_users"))
    val out = cnt(v, 1, "view").unionAll(cnt(c, 2, "click_after_view"))
      .unionAll(cnt(p, 3, "purchase_after_click"))
    val base = v.agg(count(lit(1)).as("n_base"))
    out.crossJoin(broadcast(base))
      .select(col("stage"), col("stage_name"), col("n_users"),
        graft.functions.Rounding.r4(
          col("n_users").cast("double") / col("n_base")).as("conversion"))
  }

  val TRAILING_WINDOW_MICROS: Long = 7L * 86400L * 1000000L

  /** Time-RANGE trailing window — per-user 7-day moving count/sum/max
    * over the event stream (W1's sliding cousin: frame bounds are
    * event-time offsets, not row offsets). Ordering key is
    * `unix_micros(ts)` so the frame is microsecond-exact in both
    * engines (casting ts to long truncates to seconds and would shift
    * frame edges). The moving sum accumulates in DECIMAL(18,6) after
    * engine-stable 6-dp quantization — exact, order-independent
    * addition, so sliding-frame re-aggregation order can't flip the
    * 4-dp emit (the q55 money-sum convention applied to frames).
    * Partitioned by user — fully parallel at any user count. */
  private def q74(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Rounding.{r4, r6}
    val w = Window.partitionBy(col("user_id"))
      .orderBy(unix_micros(col("ts")))
      .rangeBetween(-TRAILING_WINDOW_MICROS, 0L)
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"),
        count(lit(1)).over(w).as("n_7d"),
        sum(r6(col("value")).cast("decimal(18,6)")).over(w).as("s"),
        max(col("value")).over(w).as("mx"))
      .select(col("user_id"), col("event_id"), col("n_7d"),
        round(col("s"), 4).cast("double").as("sum_7d"),
        r4(col("s").cast("double") / col("n_7d")).as("avg_7d"),
        r4(col("mx")).as("max_7d"))
  }

  /** Cohort retention matrix: users bucketed by first-activity week,
    * counted distinct per (cohort week, week offset) — the standard
    * engagement table. All-integer (week starts are exact timestamps,
    * offsets exact multiples of 7 days), so the oracle hash-matches
    * with no float discipline. Two user-keyed shuffles (first-week
    * agg, join back) plus one distinct agg — partial aggregation
    * applies everywhere, nothing global. */
  private def q75(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), date_trunc("week", col("ts")).as("wk"))
    val firstWk = ev.groupBy(col("user_id")).agg(min(col("wk")).as("cohort_wk"))
    ev.join(firstWk, Seq("user_id"))
      .groupBy(col("cohort_wk"),
        (datediff(col("wk"), col("cohort_wk")) / 7).cast("int").as("week_offset"))
      .agg(countDistinct(col("user_id")).as("n_active"))
      .select(col("cohort_wk").as("cohort_week"), col("week_offset"),
        col("n_active"))
  }

  /** Columns q77 profiles — key/code/date columns stringified with
    * pinned formats; floats are excluded because double→string
    * rendering is not engine-portable. */
  val PROFILE_COLS = Seq("l_orderkey", "l_partkey", "l_suppkey",
    "l_linenumber", "l_returnflag", "l_linestatus", "l_shipdate")

  /** One-pass column profiler — the data-quality sweep every ingest
    * runs: per column, row/fill counts, exact distinct count, and
    * lexicographic min/max of the stringified domain. Shape at scale:
    * ONE table scan unpivoted to (col_name, value) long form, then a
    * TWO chained keyed aggs — k columns never plan k scans (the
    * unpivot is one Expand emitting k narrow rows per input row,
    * with partial aggregation directly above it), and the distinct
    * count comes from first grouping on (col_name, value) and then
    * counting the groups, NOT from countDistinct mixed into a wide
    * agg (RewriteDistinctAggregates would stack a SECOND Expand on
    * the already-multiplied rows; the chained form's first agg
    * instead COLLAPSES to the distinct cardinality map-side). */
  private def q77(spark: SparkSession, dir: String): DataFrame =
    lineitemProfile(spark, dir)

  /** q77's profile as a reusable surface — [[Analytics]]'s q87 quality
    * checks consume it. */
  def lineitemProfile(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir).select(
      col("l_orderkey").cast("string"),
      col("l_partkey").cast("string"),
      col("l_suppkey").cast("string"),
      col("l_linenumber").cast("string"),
      col("l_returnflag"),
      col("l_linestatus"),
      date_format(col("l_shipdate"), "yyyy-MM-dd HH:mm:ss").as("l_shipdate"))
    li.unpivot(Array.empty[Column], PROFILE_COLS.map(col).toArray,
        "col_name", "v")
      .groupBy(col("col_name"), col("v")).agg(count(lit(1)).as("cnt"))
      .groupBy(col("col_name"))
      .agg(sum(col("cnt")).as("n_rows"),
        sum(when(col("v").isNotNull, col("cnt")).otherwise(lit(0L))).as("n_filled"),
        count(col("v")).as("n_distinct"),
        min(col("v")).as("min_v"),
        max(col("v")).as("max_v"))
  }

  /** P5/U4/F4 — higher-order array functions instead of the
    * reference's opaque row-lambdas (SequentialTopKRecommender
    * .scala:481-487): collect, sort, filter within expressions that
    * Catalyst can still see. */
  private def q15(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_list(col("l_partkey"))).as("parts"))
      .select(
        col("l_orderkey"),
        size(col("parts")).as("n_parts"),
        size(filter(col("parts"), x => x % 2 === 1)).as("n_odd_parts"),
        concat_ws(",", transform(col("parts"), x => x.cast("string"))).as("parts_csv"))
      .drop("parts")
}
