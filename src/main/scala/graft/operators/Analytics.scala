package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.functions.Prefix
import graft.functions.Rounding.r4

/**
 * Event/fact analytics operators rounding out the relational surface:
 * semi-structured (JSON) column extraction, sliding (hopping) time
 * windows, CUBE grouping sets, fixed-width histograms, and per-group
 * z-score outlier detection. Every operator is one narrow map + keyed
 * aggs (partial aggregation applies map-side), so each survives a
 * 100-TB fact table unchanged.
 */
object Analytics {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q78_json_extract" -> q78,
    "q79_hopping_window" -> q79,
    "q80_cube" -> q80,
    "q82_price_histogram" -> q82,
    "q83_zscore_outliers" -> q83,
    "q86_quantile_buckets" -> q86,
    "q87_quality_checks" -> q87,
    "q88_corr_matrix" -> q88,
    "q89_gap_fill" -> q89,
    "q90_scd2" -> q90,
    "q101_pit_join" -> q101,
    "q103_ab_test" -> q103,
    "q118_ewma" -> q118,
    "q119_shard_plan" -> q119,
    "q138_source_quota" -> q138
  )

  /** Semi-structured extraction: the `events.props` column is a JSON
    * payload; pull `$.k` out with a JSON-path expression and aggregate
    * it like any typed column. The extraction is a per-row narrow
    * expression — the JSON never crosses a shuffle, only the extracted
    * int does, and column pruning still drops `props` from scans that
    * don't touch it. (The reference has no JSON surface — SURVEY §2.8
    * "JSON/map functions: none" — this is the beyond-reference slot.) */
  private def q78(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("int").as("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"),
        r4(avg(col("k"))).as("avg_k"),
        countDistinct(col("k")).as("n_distinct_k"))

  /** Sliding (hopping) window: 2-day windows every 1 day, so every
    * event lands in exactly two overlapping windows — the windowed-agg
    * shape a metrics pipeline uses for trailing-window dashboards
    * without a per-row RANGE window (q74's shape). `window(ts, size,
    * slide)` expands each row into size/slide window copies map-side;
    * the agg then partial-aggregates per (window, …) key. Money sums
    * accumulate in DECIMAL (exact, order-independent at any scale). */
  private def q79(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "2 days", "1 day"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("value").cast("decimal(30,8)")), 4)
          .cast("double").as("sum_value"))
      .select(col("window.start").as("w_start"),
        col("window.end").as("w_end"), col("n"), col("sum_value"))

  /** CUBE grouping sets over (returnflag, linestatus): all four
    * aggregation granularities in ONE pass — Catalyst plans cube as a
    * single Expand (×4) into one keyed agg, versus four separate scans
    * of a 100-TB fact table. Grouping indicator columns disambiguate
    * NULL-as-all from genuine NULLs (q55 covers ROLLUP; this is the
    * full lattice). */
  private def q80(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(grouping(col("l_returnflag")).cast("int").as("g_flag"),
        grouping(col("l_linestatus")).cast("int").as("g_status"),
        count(lit(1)).as("n"),
        round(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(30,8)")), 4).cast("double").as("revenue"))
      .select(coalesce(col("l_returnflag"), lit("<all>")).as("flag"),
        coalesce(col("l_linestatus"), lit("<all>")).as("status"),
        col("g_flag"), col("g_status"), col("n"), col("revenue"))

  /** Histogram bucket width for q82 (price units). */
  val HIST_BUCKET_WIDTH = 500.0

  /** Fixed-width histogram of extendedprice: bucket id is a narrow
    * per-row floor, the rest is one keyed agg — the scale-correct way
    * to get a distribution (an ntile/global-sort discretization would
    * funnel the corpus through few partitions; a fixed grid never
    * shuffles more than |buckets| rows). floor(x / w) is a single IEEE
    * op both engines evaluate bit-identically. */
  private def q82(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select(floor(col("l_extendedprice") / HIST_BUCKET_WIDTH)
        .cast("long").as("bucket"), col("l_extendedprice"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"),
        r4(min(col("l_extendedprice"))).as("min_price"),
        r4(max(col("l_extendedprice"))).as("max_price"),
        round(sum(col("l_extendedprice").cast("decimal(30,8)")), 4)
          .cast("double").as("sum_price"))

  /** |z| threshold for q83. */
  val Z_THRESH = 2.5

  /** Per-group z-score outliers: two passes over events — a per-type
    * moment agg (n, Σv, Σv²) and a broadcast join back to score every
    * event. Float discipline: the sums accumulate in DECIMAL (v is
    * quantized at 6 dp first, so v and v² are exact decimals and the
    * sums are order-independent); μ and σ then derive from those exact
    * decimals through one fixed double expression, and z = (v − μ)/σ is
    * a single IEEE sequence both engines evaluate bit-identically — the
    * |z| > τ comparison needs no rounding guard. Moment stats are a
    * |types|-row broadcast dim; the fact side never shuffles. */
  private def q83(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("event_type"),
        col("value").cast("decimal(18,6)").as("vd"))
    val stats = ev.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("vd")).as("s"),
        sum(col("vd") * col("vd")).as("ss"))
      .select(col("event_type"),
        (col("s").cast("double") / col("n")).as("mu"),
        sqrt(col("ss").cast("double") / col("n") -
          (col("s").cast("double") / col("n")) *
          (col("s").cast("double") / col("n"))).as("sigma"))
    ev.join(broadcast(stats), "event_type")
      .withColumn("z", (col("vd").cast("double") - col("mu")) / col("sigma"))
      .filter(abs(col("z")) > Z_THRESH)
      .select(col("event_id"), col("event_type"),
        r4(col("vd").cast("double")).as("value"), r4(col("z")).as("zscore"))
  }

  /** Quantile-bucket discretization — the `QuantileDiscretizer` shape
    * done join-wise: per-group exact quartile boundaries (one ordered-
    * statistics agg into a |groups|-row dim), broadcast back over the
    * facts, bucket = 1 + Σ(v > boundary) as three narrow comparisons.
    * The facts never shuffle and never sort — the discretization an
    * ntile window would do with a per-group global sort happens as a
    * map-side expression. Exact `percentile` sorts each GROUP's values
    * (fine for bounded groups; [[q53b]]'s mergeable sketch is the
    * unbounded-group path — same join-back shape either way). Spark's
    * `percentile` and DuckDB's `quantile_cont` both interpolate at
    * (n−1)·p, so boundaries and the > comparisons are engine-identical
    * with no rounding guard. */
  private def q86(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val bounds = ev.groupBy(col("event_type"))
      .agg(expr("percentile(value, 0.25)").as("b25"),
        expr("percentile(value, 0.5)").as("b50"),
        expr("percentile(value, 0.75)").as("b75"))
    ev.join(broadcast(bounds), "event_type")
      .withColumn("bucket",
        (lit(1) + (col("value") > col("b25")).cast("int")
          + (col("value") > col("b50")).cast("int")
          + (col("value") > col("b75")).cast("int")))
      .groupBy(col("event_type"), col("bucket"))
      .agg(count(lit(1)).as("n"),
        r4(min(col("value"))).as("min_v"),
        r4(max(col("value"))).as("max_v"))
  }

  /** Expectation rules for q87: (col, distinct lo/hi, lexicographic
    * domain lo/hi); nulls skip that rule family for the column. The
    * l_returnflag distinct bound [1,2] FAILS deliberately (3 flags
    * exist) — a report that can't fail proves nothing. */
  val QUALITY_RULES: Seq[(String, java.lang.Long, java.lang.Long, String, String)] = Seq(
    ("l_returnflag", 1L, 2L, "A", "R"),
    ("l_linestatus", 1L, 3L, null, null),
    ("l_linenumber", 1L, 10L, null, null),
    ("l_shipdate", null, null, "1992-01-01 00:00:00", "2002-12-31 23:59:59"))

  /** Data-quality expectation report (the Deequ/Great-Expectations
    * shape): declared rules checked against the one-pass column
    * profile (q77's [[Relational.lineitemProfile]]). Completeness
    * (integer fill percent — engine-portable, no float ratio) for
    * every profiled column; distinct-cardinality and lexicographic
    * domain bounds where declared. Emits (col_name, check_name,
    * passed, observed).
    *
    * Scale shape: ONE profile pass (the q77 plan — one scan, one
    * Expand) left-joined to a broadcast rules dim; all three check
    * families ride one exploded array so the profile is never
    * recomputed per family. The report is |cols|·|families| rows —
    * driver-readable at any data scale. */
  private def q87(spark: SparkSession, dir: String): DataFrame = {
    val rules = spark.createDataFrame(QUALITY_RULES)
      .toDF("col_name", "lo", "hi", "dlo", "dhi")
    Relational.lineitemProfile(spark, dir)
      .join(broadcast(rules), Seq("col_name"), "left")
      .select(col("col_name"), explode(array(
        struct(lit("completeness").as("check_name"),
          (expr("n_filled * 100 DIV n_rows") >= 100).cast("int").as("passed"),
          expr("CAST(n_filled * 100 DIV n_rows AS STRING)").as("observed")),
        struct(when(col("lo").isNotNull, "distinct_bounds").as("check_name"),
          col("n_distinct").between(col("lo"), col("hi")).cast("int").as("passed"),
          col("n_distinct").cast("string").as("observed")),
        struct(when(col("dlo").isNotNull, "domain_bounds").as("check_name"),
          (col("min_v") >= col("dlo") && col("max_v") <= col("dhi"))
            .cast("int").as("passed"),
          concat(col("min_v"), lit(".."), col("max_v")).as("observed"))
      )).as("c"))
      .filter(col("c.check_name").isNotNull)
      .select(col("col_name"), col("c.check_name").as("check_name"),
        col("c.passed").as("passed"), col("c.observed").as("observed"))
  }

  /** Numeric columns whose pairwise correlations q88 reports. */
  val CORR_COLS: Seq[String] =
    Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")

  /** Pairwise Pearson correlation matrix in ONE pass: a single agg
    * collects n plus every Σx, Σx², Σxy over DECIMAL(18,6)-quantized
    * values (raw data has ≤2 dp, so the sums are exact and
    * order-independent — a cluster-scale reduce cannot drift), then
    * the C(4,2) coefficients derive from that one 15-column row via
    * the identical IEEE sequence on both engines:
    * (n·Σxy − Σx·Σy) / (√(n·Σx² − Σx²ᵗᵉʳᵐ) · √(n·Σy² − Σy²)).
    * One scan, one map-side-combining agg, a 1-row result — versus
    * C(k,2) separate corr() passes over a 100-TB fact table. (Built-in
    * `corr` uses a streaming co-moment recurrence whose float result
    * is partition-order-dependent — unusable under a hash gate; the
    * decimal-moment form is the portable twin, asserted against
    * `corr` to 1e-9 in the spec.) */
  private def q88(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Rounding.r6
    val short = Map("l_quantity" -> "q", "l_extendedprice" -> "e",
      "l_discount" -> "d", "l_tax" -> "t")
    val li = Tables.lineitem(spark, dir).select(
      CORR_COLS.map(c => col(c).cast("decimal(18,6)").as(short(c))): _*)
    val pairs = for {
      i <- CORR_COLS.indices; j <- CORR_COLS.indices if i < j
    } yield (CORR_COLS(i), CORR_COLS(j))
    val aggs =
      CORR_COLS.map(c => sum(col(short(c))).as(s"s_${short(c)}")) ++
        CORR_COLS.map(c =>
          sum(col(short(c)) * col(short(c))).as(s"ss_${short(c)}")) ++
        pairs.map { case (x, y) =>
          sum(col(short(x)) * col(short(y))).as(s"c_${short(x)}${short(y)}") }
    val m = li.agg(count(lit(1)).as("n"), aggs: _*)
    def corrOf(x: String, y: String) = {
      val n = col("n").cast("double")
      val sx = col(s"s_${short(x)}").cast("double")
      val sy = col(s"s_${short(y)}").cast("double")
      val sxx = col(s"ss_${short(x)}").cast("double")
      val syy = col(s"ss_${short(y)}").cast("double")
      val sxy = col(s"c_${short(x)}${short(y)}").cast("double")
      (n * sxy - sx * sy) / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))
    }
    m.select(explode(array(pairs.map { case (x, y) =>
        struct(lit(x).as("col_x"), lit(y).as("col_y"),
          r6(corrOf(x, y)).as("corr"))
      }: _*)).as("p"))
      .select(col("p.col_x").as("col_x"), col("p.col_y").as("col_y"),
        col("p.corr").as("corr"))
  }

  /** Time-series resample + forward fill: per-user daily value sums
    * re-gridded onto the full global day span (every user × every
    * day), gaps carrying the last observed value forward — the
    * feature-store "as of day d" densification step. The fill uses the
    * portable group-carry form — grp = running count of non-null
    * observations (the observation row starts its own group), then one
    * max per (user, grp) — because both engines evaluate it
    * identically, unlike last_value(IGNORE NULLS) dialects. Scale
    * shape: the scaffold is |users| × |days| (inherent to resampling —
    * that IS the output), built from a broadcast |days| dim so the
    * user dim never shuffles; both windows partition by user_id, so no
    * global sort anywhere. Days before a user's first observation fill
    * with 0.0. */
  private def q89(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(spark, dir)
    val daily = ev
      .groupBy(col("user_id"), date_trunc("day", col("ts")).as("day"))
      .agg(round(sum(col("value").cast("decimal(30,8)")), 4)
        .cast("double").as("day_value"))
    val days = ev
      .agg(date_trunc("day", min(col("ts"))).as("d0"),
        date_trunc("day", max(col("ts"))).as("d1"))
      .select(explode(sequence(col("d0"), col("d1"),
        expr("INTERVAL 1 DAY"))).as("day"))
    val users = ev.select(col("user_id")).distinct()
    val runningW = Window.partitionBy(col("user_id")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    users.crossJoin(broadcast(days))
      .join(daily, Seq("user_id", "day"), "left")
      .withColumn("grp", count(col("day_value")).over(runningW))
      .withColumn("fill", max(col("day_value"))
        .over(Window.partitionBy(col("user_id"), col("grp"))))
      .select(col("user_id"), col("day"),
        coalesce(col("fill"), lit(0.0)).as("value"),
        col("day_value").isNotNull.cast("int").as("observed"))
  }

  /** Slowly-changing-dimension (type 2) interval build: each
    * customer's order stream becomes versioned validity intervals —
    * valid_from = the order date, valid_to = the NEXT order's date
    * (lead), open-ended on the latest (is_current). The point-in-time
    * join side of a feature store: "which state was live at time t"
    * becomes a range probe instead of a per-probe argmax (q56's as-of
    * join is the probe twin). One keyed window per customer — no
    * global sort; ties on order date break by order key so versions
    * are total and deterministic. */
  private def q90(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice"), col("o_orderdate"))
      .withColumn("version", row_number().over(w).cast("int"))
      .withColumn("valid_from", col("o_orderdate"))
      .withColumn("valid_to", lead(col("o_orderdate"), 1).over(w))
      .withColumn("is_current", col("valid_to").isNull.cast("int"))
      .drop("o_orderdate")
  }

  /** Point-in-time join — the probe side of [[q90]]'s SCD2 build and
    * the feature-store guarantee that training joins are leak-free:
    * each lineitem's SHIP event fetches the customer's order-state
    * version whose [valid_from, valid_to) interval contains the ship
    * time — the state that was ACTUALLY live, never a later version
    * (temporal leakage) and never an aggregate over all versions.
    *
    * Implemented as the q56 as-of shape rather than an interval
    * range join: union the version STARTS with the probes, sort each
    * customer's stream by (ts, probe-after-dim, version), and carry
    * the last seen version forward with the portable group-carry
    * windows (running count of dim rows → one max per group — the
    * q89 form both engines evaluate identically). No interval-overlap
    * fan-out, one customer-partitioned sort, and probes before a
    * customer's first version degrade to version 0 / `<none>`.
    * Same-instant semantics: a dim row sorts before probes at its own
    * ts, and of two versions starting at the same instant the LATER
    * wins (the earlier interval is empty) — both fall out of the sort
    * order, spec-asserted. */
  private def q101(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scd = q90(spark, dir).select(
      col("o_custkey").as("cust"), col("valid_from").as("ts"),
      col("version"), col("o_orderstatus").as("status"))
    val probes = Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("cust"),
        (col("l_orderkey") * 10 + col("l_linenumber")).as("probe_id"),
        col("l_shipdate").as("ts"))
    val tagged = scd
      .select(col("cust"), col("ts"), lit(null).cast("long").as("probe_id"),
        col("version"), col("status"), lit(0).as("is_probe"))
      .unionByName(probes.select(col("cust"), col("ts"), col("probe_id"),
        lit(null).cast("int").as("version"),
        lit(null).cast("string").as("status"), lit(1).as("is_probe")))
    val wRun = Window.partitionBy(col("cust"))
      .orderBy(col("ts").asc, col("is_probe").asc, col("version").asc,
        col("probe_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tagged
      .withColumn("grp", count(col("version")).over(wRun))
      .withColumn("v", max(col("version"))
        .over(Window.partitionBy(col("cust"), col("grp"))))
      .withColumn("st", max(col("status"))
        .over(Window.partitionBy(col("cust"), col("grp"))))
      .filter(col("is_probe") === 1)
      .select(col("cust"), col("probe_id"), col("ts").as("ship_ts"),
        coalesce(col("v"), lit(0)).as("version"),
        coalesce(col("st"), lit("<none>")).as("status"))
  }

  /** |z| threshold for q103 (two-sided 5%). */
  val AB_Z_CRIT = 1.96

  /** A/B experiment readout — the experimentation-analytics shape:
    * users assign to arms by the deterministic salted hash (never
    * rand(): the assignment is reproducible across reruns, retried
    * tasks and both engines — the property a real experiment
    * platform's bucketing service guarantees), conversion = the user
    * ever fired a `purchase` event, and the readout is the pooled
    * two-proportion z statistic from exact integer counts through one
    * IEEE sequence (no variance recurrences — the q88 moment
    * discipline). On hash-split identical populations z ≈ 0 by
    * construction; the spec drives a biased fixture through
    * [[abTest]] to prove the statistic moves. Scale shape: one
    * distinct-user agg, one distinct-converter agg, a 1-row result. */
  /** Conversion floor for q103: every user fires SOME purchase on the
    * synthetic stream (presence alone is pp = 1, a degenerate test),
    * so conversion = "power buyer" — at least this many purchases,
    * sitting at the Poisson mean so the population splits. */
  val AB_CONV_MIN_PURCHASES = 14

  private def q103(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    abTest(ev.select(col("user_id")).distinct(),
      ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id")).agg(count(lit(1)).as("np"))
        .filter(col("np") >= AB_CONV_MIN_PURCHASES)
        .select(col("user_id")))
  }

  /** Library surface of [[q103]]: `population` (distinct user_id) vs
    * `converters` (distinct user_id subset) → one-row arm readout. */
  def abTest(population: DataFrame, converters: DataFrame): DataFrame = {
    import graft.functions.Rounding.r6
    val per = population
      .withColumn("arm", (Dedup.baseHash(concat(col("user_id").cast("string"),
        lit("_ab"))) % 2).cast("int"))
      .join(converters.withColumn("cv", lit(1)), Seq("user_id"), "left")
      .select(col("arm"), coalesce(col("cv"), lit(0)).as("cv"))
    val m = per.agg(
      sum(when(col("arm") === 0, 1).otherwise(0)).as("n0"),
      sum(when(col("arm") === 0, col("cv")).otherwise(0)).as("k0"),
      sum(when(col("arm") === 1, 1).otherwise(0)).as("n1"),
      sum(when(col("arm") === 1, col("cv")).otherwise(0)).as("k1"))
    def d(c: String) = col(c).cast("double")
    // empty arms (tiny populations where the hash lands everyone on
    // one side) carry no comparison: rates read null, z reads 0. The
    // arm guard nests OUTSIDE the se2 branch so the 1/n divisions are
    // never evaluated on an empty arm (ANSI mode raises on them).
    val armed = col("n0") > 0 && col("n1") > 0
    val p0 = when(col("n0") > 0, d("k0") / d("n0"))
    val p1 = when(col("n1") > 0, d("k1") / d("n1"))
    val pp = (d("k0") + d("k1")) / (d("n0") + d("n1"))
    // degenerate pools (pp 0 or 1) carry no evidence: z := 0 rather
    // than a 0-variance division (ANSI mode raises on it)
    val se2 = pp * (lit(1.0) - pp) * (lit(1.0) / d("n0") + lit(1.0) / d("n1"))
    val z = when(armed,
      when(se2 > 0, (p1 - p0) / sqrt(se2)).otherwise(lit(0.0)))
      .otherwise(lit(0.0))
    m.select(col("n0"), col("k0"), col("n1"), col("k1"),
      r6(p0).as("rate0"), r6(p1).as("rate1"), r6(z).as("z"),
      (abs(z) > AB_Z_CRIT).cast("int").as("significant"))
  }

  /** EWMA decay per observation step and the truncation depth: β=0.8
    * over the last 7 observations carries ≥99.8% of the infinite-tail
    * mass, so the fixed-lag form is the standard practical EWMA.
    * Weights are EXACT decimal strings (BigDecimal pow) so both
    * engines parse the identical double literal. */
  val EWMA_BETA = BigDecimal("0.8")
  val EWMA_LAGS = 7
  val EWMA_WEIGHTS: Seq[String] =
    (0 until EWMA_LAGS).map(j => EWMA_BETA.pow(j).toString)

  /** q118 — observation-indexed EWMA over per-user daily value sums:
    * smoothed_t = Σ_j β^j·x_{t−j} / Σ_j β^j over the last
    * [[EWMA_LAGS]] OBSERVED days (gaps skip, tick-data convention),
    * the anomaly-baseline / trend smoother of the time-series family
    * (q74 trailing mean, q83 z-score, q89 resample are the siblings).
    *
    * Float discipline: the recursion is unrolled into FIXED lag
    * columns summed in declared j order — the q64 contrib pattern —
    * so the IEEE sequence is engine-identical; a running-window sum
    * would accumulate in the engine's own frame-walk order. Missing
    * lags (series head) drop both the term and its weight via the
    * same null guard, so the normalizer matches the observed prefix.
    *
    * Scale shape: one keyed (user, day) agg (map-side partial), then
    * ONE window partitioned by user — no global sort, no self-join;
    * state per group is [[EWMA_LAGS]] lag values. */
  private def q118(spark: SparkSession, dir: String): DataFrame =
    ewma(Tables.events(spark, dir)
      .groupBy(col("user_id"), date_trunc("day", col("ts")).as("day"))
      .agg(round(sum(col("value").cast("decimal(30,8)")), 4)
        .cast("double").as("day_value")))

  /** Library surface of [[q118]] over a `(user_id, day, day_value)`
    * daily grid (see the q118 scaladoc for semantics + discipline). */
  def ewma(daily: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
    val lagged = daily.select(
      (col("user_id") +: col("day") +: col("day_value") +:
        (0 until EWMA_LAGS).map(j =>
          lag(col("day_value"), j).over(w).as(s"x_$j"))): _*)
    // fixed-order weighted sum over PRESENT lags; head rows normalize
    // by the weight mass of the lags they actually have
    val num = (0 until EWMA_LAGS).map(j =>
      when(col(s"x_$j").isNotNull,
        col(s"x_$j") * lit(EWMA_WEIGHTS(j).toDouble)).otherwise(lit(0.0)))
      .reduce(_ + _)
    val den = (0 until EWMA_LAGS).map(j =>
      when(col(s"x_$j").isNotNull, lit(EWMA_WEIGHTS(j).toDouble))
        .otherwise(lit(0.0)))
      .reduce(_ + _)
    lagged.select(col("user_id"), col("day"), col("day_value"),
      r4(num / den).as("ewma"))
  }

  /** Target token mass per planned output shard (q119). */
  val SHARD_TOKENS = 500L

  /** Bucket width for the q119 two-level prefix sum: hkey is
    * [[graft.operators.Dedup.baseHash]]'s 7-hex value in
    * [0, 16⁷), so DIV 2¹⁶ yields 4096 order-preserving buckets —
    * sorting by (bucket, hkey) IS sorting by hkey. */
  val SHARD_BUCKET_DIV = 65536L

  /** q119 — balanced output-shard planning: within each source,
    * documents are laid out in deterministic md5-hash order, the
    * running token mass is accumulated, and a document opens shard
    * ⌊prev_cum/target⌋ — the writer-side step that turns a cleaned
    * corpus into ~equal-token training shards WITHOUT a global sort.
    * Hash order, not doc_id order, so shard composition is stable
    * under re-partitioning and insert order (the q66 split discipline
    * applied to layout). Emits the per-shard manifest: doc count,
    * token mass, and the id range a reader would mount.
    *
    * All-integer arithmetic — engine-exact. Scale: a corpus can be
    * ONE source, so a cumsum window partitioned by source alone would
    * serialize 100 TB through a single window partition. The running
    * total is therefore [[graft.functions.Prefix.running]]'s two-level
    * prefix sum keyed on (source, hkey DIV 2¹⁶) — max window partition
    * = source/4096, ≤4096 broadcast offsets per source. The bucket is
    * an order-preserving prefix of hkey, so the result is bit-identical
    * to the single-window cumsum (spec-pinned against the naive form).
    * The manifest agg is keyed on (source, shard); a skew-heavy source
    * simply yields more shards; no shard exceeds target + one doc's
    * tokens (pinned in spec). */
  private def q119(spark: SparkSession, dir: String): DataFrame =
    shardPlan(Tables.documents(spark, dir))

  def shardPlan(docs: DataFrame, target: Long = SHARD_TOKENS): DataFrame = {
    val toks = docs.select(col("doc_id"), col("source"),
      size(graft.functions.VectorFns.tokens(col("text"))).cast("long").as("n_tok"),
      graft.operators.Dedup.baseHash(concat(col("doc_id").cast("string"),
        lit("_shard"))).as("hkey"))
      .withColumn("bkt", expr(s"hkey DIV $SHARD_BUCKET_DIV"))
    val (run, Seq(cum)) = Prefix.running(toks, Seq("source"), "bkt",
      Seq(col("hkey"), col("doc_id")), sums = Seq("n_tok"))
    run.withColumn("cum", cum)
      .withColumn("shard_id", expr(s"(cum - n_tok) DIV $target"))
      .groupBy(col("source"), col("shard_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("shard_tokens"),
        min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
  }

  /** Per-source keep quota for q138 and its salt (decorrelated from
    * every other hash-gated draw — the CBALANCE_SALT discipline). */
  val SOURCE_QUOTA = 15L
  val QUOTA_SALT = "graft_quota_v1:"

  private def q138(spark: SparkSession, dir: String): DataFrame =
    sourceQuota(graft.sources.Tables.documents(spark, dir), SOURCE_QUOTA)

  /** q138 — per-source quota cap (the RefinedWeb/CommonCrawl
    * "per-domain cap" stage): every source keeps at most `quota`
    * documents, chosen by deterministic salted-hash order — the
    * anti-dominance dial a mixture pipeline applies when one scrape
    * would otherwise swamp the mix (complementing q70's RATE sampling
    * with an exact COUNT cap, and q113's per-cell quota with a
    * per-provenance one). Emits the full per-doc assignment (rank and
    * kept flag) — the artifact a pipeline mounts, q124b-style.
    *
    * Scale shape: an exact per-source rank WITHOUT a corpus-wide sort
    * — [[graft.functions.Prefix.running]]'s rank keyed on (source,
    * hkey DIV 2¹⁶): row_number within (source, hash-bucket) partitions
    * plus broadcast exclusive bucket-count offsets (≤4096 rows per
    * source). The bucket is an order-preserving prefix of hkey, so the
    * two-level rank equals the oracle's flat per-source row_number
    * exactly; hkey ties are broken by doc_id. */
  def sourceQuota(docs: DataFrame, quota: Long): DataFrame = {
    val keyed = docs.select(col("doc_id"), col("source"),
      graft.operators.Dedup.baseHash(concat(lit(QUOTA_SALT),
        col("doc_id").cast("string"))).as("hkey"))
      .withColumn("bkt", expr(s"hkey DIV $SHARD_BUCKET_DIV"))
    val (run, Seq(qrank)) = Prefix.running(keyed, Seq("source"), "bkt",
      Seq(col("hkey"), col("doc_id")), rank = true)
    run.select(col("doc_id"), col("source"), qrank.as("qrank"),
      (qrank <= quota).cast("int").as("kept"))
  }
}
