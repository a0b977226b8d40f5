package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.sources.Tables
import graft.functions.Rounding.r6
import graft.functions.TopK

/**
 * The composed end-to-end sequential recommender (SURVEY.md §2.10
 * R8+R9) — the reference's most complex operator
 * (SequentialTopKRecommender.scala:87-152 fit/transform, :418-533
 * rule mining) rebuilt as ONE distributed pipeline:
 *
 *   orders+lineitem → transactions (user, period, item set)
 *   → sparse Lloyd clustering of transaction baskets
 *   → per-(user, period) cluster sets → "<cluster>_<relPeriod>" tokens
 *   → FPGrowth over per-user token baskets
 *   → keep rules whose consequent is in relative period 0, strip
 *     period-0 tokens from antecedents (reference :483-490)
 *   → support/confidence recount by containment join (reference
 *     `getSupport` collected-array UDF at :492-519 → a broadcast join)
 *   → per-user best-rule argmax (score = |antecedent ∩ tokens| ·
 *     support · confidence, reference :219-239)
 *   → recommend the most frequent items of the consequent cluster's
 *     LAST-period transactions minus already-seen items (:126-149).
 *
 * Scale posture: the reference densifies transactions into
 * |catalog|-dim binary vectors and collects them driver-side twice
 * (`_transactionArray`, `transactionsArray`); here every stage is a
 * keyed DataFrame op and the clusterer itself runs SPARSE — centroids
 * live as `(cluster, item_id, weight)` long-form rows, distances come
 * from the ‖b‖² + ‖c‖² − 2·b·c expansion over a keyed join, so neither
 * transactions nor centroids ever densify. Rules are tiny and ride
 * broadcasts; baskets never leave their partitions.
 */
object SeqRecommender {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q58_seq_recommend" -> q58
  )

  val NUM_CLUSTERS = 8
  val KMEANS_ITERS = 2 // the repo-wide deterministic-Lloyd convention (q34)
  val TOP_K = 5
  /** FPGrowth thresholds per the q35 conventions (fraction + absolute
    * minCount floor of 4 so tiny corpora can't enumerate exponentially). */
  val FP_MIN_SUPPORT = 0.005
  val FP_MIN_CONFIDENCE = 0.5
  /** Antecedent cap (pre-strip): itemsets ≤ 3 — the slice an exact SQL
    * oracle can recount by enumeration, same idea as q35's size-≤-2
    * frequent-itemset slice. */
  val MAX_ANTECEDENT = 2
  /** Final sequential-rule thresholds (reference `_minSupportSequential`
    * / `_minConfidenceSequential`, strict > as in :524-528). */
  val MIN_SUPPORT_SEQ = 0.01
  val MIN_CONFIDENCE_SEQ = 0.1

  /** Transactions in long form — one row per (t_id, user_id,
    * period_id, item_id), an order being a transaction (reference
    * `getTransactionDf` groups by (user, timestamp); here the order key
    * IS that grouping) with its period from the shared q28 bounds
    * arithmetic ([[Sequential.periodBounds]]). */
  /** Period assignment from EXPLICIT ranges — the reference's first
    * period mode (`buildPeriodsFromProvidedRanges`,
    * SequentialTopKRecommender.scala:279-314): a transaction whose
    * timestamp falls in [start, end) takes the FIRST matching range's
    * id; one matching no range takes the LAST range's id (the
    * reference's default-to-last rule). The reference scans the
    * ranges in a per-row UDF; here the (driver-tiny) range list
    * compiles into ONE first-match when-chain — pure codegen'd map
    * work, no join, no UDF, embarrassingly parallel at any size. */
  def assignPeriodsFromRanges(trans: DataFrame,
      ranges: Seq[(Long, java.sql.Timestamp, java.sql.Timestamp)],
      tsCol: String = "timestamp"): DataFrame = {
    require(ranges.nonEmpty, "at least one period range")
    val ts = col(tsCol).cast("timestamp")
    val assigned = ranges.foldLeft(Option.empty[org.apache.spark.sql.Column]) {
      case (acc, (pid, s, e)) =>
        val hit = ts >= lit(s) && ts < lit(e)
        Some(acc.fold(when(hit, lit(pid)))(_.when(hit, lit(pid))))
    }.get.otherwise(lit(ranges.last._1))
    // null timestamps DROP — uniformly across all three modes (the
    // duration/count modes filter them before the window dimension is
    // built, keeping dense ids anchored at 0; without this filter the
    // when-chain's null predicates would fall through to the
    // default-to-last arm and pollute the final period). The
    // reference's per-row UDF would throw on null instead; dropping
    // is the deliberate total-function behavior.
    trans.filter(ts.isNotNull).withColumn("period_id", assigned)
  }

  /** Period assignment from a WINDOW DURATION — the reference's second
    * period mode (`buildPeriodsFromDuration`, :315-348): bucket by
    * `window(timestamp, duration)` (epoch-aligned, exactly the
    * reference's own bucketing), then id the observed windows densely
    * in time order. The reference ids them with
    * monotonically_increasing_id over an ordered distinct — the
    * partition-dependent idiom the repo bans (W3, q14) — replaced by
    * row_number over the PERIOD DIMENSION (|periods| rows, never
    * corpus rows: the single-partition sort touches a dimension, the
    * corpus joins back on a broadcast). */
  def assignPeriodsFromDuration(trans: DataFrame, duration: String,
                                tsCol: String = "timestamp"): DataFrame = {
    // null timestamps DROP here too (the ranges-mode contract):
    // without this filter window(null) yields a null _pw that
    // survives distinct() into the period DIMENSION and — NULLS FIRST
    // — takes period_id 0, shifting every real window's dense id by
    // one even though the null ROWS never match the equi-join.
    val w = trans.filter(col(tsCol).cast("timestamp").isNotNull)
      .withColumn("_pw", window(col(tsCol).cast("timestamp"), duration))
    val periods = w.select(col("_pw")).distinct()
      .withColumn("period_id",
        row_number().over(Window.orderBy(col("_pw"))).cast("long") - 1L)
    w.join(broadcast(periods), Seq("_pw")).drop("_pw")
  }

  /** Period assignment from a TARGET PERIOD COUNT — the reference's
    * third mode (`buildPeriodsFromNumberOfPartitions`, :350-401):
    * width = ⌊datediff(max, min) / n⌋ days (floored at 1 day — the
    * reference's integer division feeds window() a "0 days" width on
    * sub-n-day spans and throws; the floor keeps the mode total),
    * windows epoch-aligned as in the duration mode, and any periods
    * past n−1 CLAMP to n−1 (the reference's extra-period rule). */
  def assignPeriodsFromCount(trans: DataFrame, n: Int,
                             tsCol: String = "timestamp"): DataFrame = {
    require(n > 0, "numPeriods must be positive")
    val ts = col(tsCol).cast("timestamp")
    val row = trans.agg(datediff(max(ts), min(ts))).collect()(0)
    require(!row.isNullAt(0),
      "count-mode periods need at least one non-null timestamp")
    val width = math.max(1, row.getInt(0) / n)
    assignPeriodsFromDuration(trans, s"$width days", tsCol)
      .withColumn("period_id", least(col("period_id"), lit(n - 1L)))
  }

  def transactions(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val li = Tables.lineitem(spark, dir).select(col("l_orderkey"), col("l_partkey"))
    val op = o.crossJoin(broadcast(Sequential.periodBounds(o)))
      .select(col("o_orderkey").as("t_id"), col("o_custkey").as("user_id"),
        least(expr("CAST(datediff(o_orderdate, dmin) AS BIGINT) DIV width"),
          lit(Sequential.NUM_PERIODS - 1L)).as("period_id"))
    op.join(li, col("t_id") === col("l_orderkey"))
      .select(col("t_id"), col("user_id"), col("period_id"),
        col("l_partkey").as("item_id"))
      .distinct()
  }

  /** Deterministic sparse Lloyd over BINARY transaction baskets — the
    * SOM-stage substitute (reference :403-416; the KMeans substitution
    * is survey-sanctioned, SURVEY §2.10 R8) in never-densified form.
    * Seeds are the `numSeeds` smallest transaction ids (fixed seed
    * VECTORS, the q34 convention, so even the DuckDB oracle replays the
    * trajectory); the seed's own t_id doubles as the cluster label.
    * Per iteration: d²(t, c) = n_t + ‖c‖² − 2·Σ_{i∈t} c_i via one keyed
    * join + an 8-row broadcast grid (6-dp-rounded, cluster-asc
    * tie-break), then centroids recenter to per-position means —
    * count(members ∋ i)/|members|, 6-dp-rounded — materializing ONLY
    * nonzero positions. Returns the final `(t_id, cluster)`. */
  def clusterTransactionsSparse(titems: DataFrame, numSeeds: Int,
                                iters: Int): DataFrame = {
    val tn = titems.groupBy("t_id").agg(count(lit(1)).as("n"))
    val seedIds = titems.select("t_id").distinct().orderBy("t_id").limit(numSeeds)
    val c0 = titems.join(seedIds, Seq("t_id"))
      .select(col("t_id").as("cluster"), col("item_id"), lit(1.0).as("w"))

    def assign(cents: DataFrame): DataFrame = {
      val cdim = cents.groupBy("cluster").agg(sum(col("w") * col("w")).as("sqn"))
      val dots = titems.join(cents, Seq("item_id"))
        .groupBy(col("t_id"), col("cluster")).agg(sum(col("w")).as("dot"))
      // the full t × cluster grid: pairs sharing no item have dot = 0
      // but still compete in the argmin
      val grid = tn.crossJoin(broadcast(cdim))
        .join(dots, Seq("t_id", "cluster"), "left")
        .select(col("t_id"), col("cluster"),
          r6(col("n").cast("double") + col("sqn")
            - lit(2.0) * coalesce(col("dot"), lit(0.0))).as("d2"))
      // argmin as a hash aggregation, not a sort window: min over
      // (d2, cluster) structs is the same lexicographic (d2 asc,
      // cluster asc) winner row_number picked, but it partial-
      // aggregates map-side — the shuffle carries one combined row
      // per t_id instead of sorting the full t × cluster grid. At
      // sf0.1 the stage is join-bound so the wall is unchanged
      // (measured r14); the win is the shuffle SHAPE at 100×
      // (no sort buffer over the widest intermediate in the fit)
      grid.groupBy(col("t_id"))
        .agg(min(struct(col("d2"), col("cluster"))).as("b"))
        .select(col("t_id"), col("b").getField("cluster").as("cluster"))
    }
    def recenter(assigned: DataFrame): DataFrame = {
      val nc = assigned.groupBy("cluster").agg(count(lit(1)).as("nc"))
      assigned.join(titems, Seq("t_id"))
        .groupBy(col("cluster"), col("item_id")).agg(count(lit(1)).as("cnt"))
        .join(broadcast(nc), Seq("cluster"))
        .select(col("cluster"), col("item_id"),
          r6(col("cnt").cast("double") / col("nc")).as("w"))
    }
    // each stage consumes its input TWICE (cdim+dots / nc+join), so an
    // unmaterialized chain re-executes early iterations 2^depth times —
    // eager localCheckpoint pins each iteration's (small) result once
    // and truncates lineage, the same lever as q50's dedup rounds.
    // Round-8 measured three alternatives at sf0.001 and this eager
    // per-half-iteration pin (c0 included) is the optimum: batching
    // pins to every-2-iterations costs +40% build (no cross-job stage
    // reuse once each action replans), dropping only c0's pin costs
    // +15% (its limit/orderBy seed subplan re-executes per consumer),
    // and swapping the pins for lazy cache() is pathological (nested
    // unmaterialized InMemoryRelations → exec 60×).
    val last = (1 to iters).foldLeft(c0.localCheckpoint(true)) { (c, _) =>
      recenter(assign(c).localCheckpoint(true)).localCheckpoint(true)
    }
    assign(last)
  }

  /** Per-user period-ordered cluster tokens: distinct
    * `"<cluster>_<relPeriod>"` with relPeriod = period_id − P + 1 so
    * the LAST period is 0 and earlier periods are negative — exactly
    * the reference `flatList` encoding (:424-441); collect_set there ≡
    * distinct here. */
  def clusterTokens(trans: DataFrame, assigned: DataFrame): DataFrame =
    trans.select("t_id", "user_id", "period_id").distinct()
      .join(assigned, Seq("t_id"))
      .select(col("user_id"),
        concat(col("cluster").cast("string"), lit("_"),
          (col("period_id") - Sequential.NUM_PERIODS + 1).cast("string"))
          .as("token"))
      .distinct()

  /** CMRules-style sequential rules (reference `obtainRules`
    * :418-533): FPGrowth over the token baskets, keep rules whose
    * single-item consequent lands in relative period 0, strip period-0
    * tokens from antecedents, dedup, then RECOUNT support and
    * confidence over the full baskets with a broadcast containment
    * join — the distributed rebuild of the reference's collected
    * `transactionsArray` + `getSupport` UDF. `nBaskets` must be the
    * caller-computed basket count (baskets should be cached). */
  def mineSeqRules(baskets: DataFrame, nBaskets: Long): DataFrame = {
    val fp = new org.apache.spark.ml.fpm.FPGrowth()
      .setItemsCol("items")
      // min-count floor of 4, clamped at 1.0: with < 4 baskets the
      // floor exceeds valid support and FPGrowth rejects it — a
      // 1.0 threshold (only universally-held itemsets) is the honest
      // degenerate-cohort behavior
      .setMinSupport(math.min(1.0,
        math.max(FP_MIN_SUPPORT, 4.0 / math.max(nBaskets, 1L))))
      .setMinConfidence(FP_MIN_CONFIDENCE)
    val rules0 = fp.fit(baskets).associationRules
      .filter(size(col("antecedent")) <= MAX_ANTECEDENT)
      .filter(element_at(col("consequent"), 1).endsWith("_0"))
      .select(
        sort_array(filter(col("antecedent"), x => not(x.endsWith("_0")))).as("ant"),
        element_at(col("consequent"), 1).as("cons"))
      .filter(size(col("ant")) > 0)
      .distinct()
    baskets.join(rules0.hint("broadcast"),
        forall(col("ant"), a => array_contains(col("items"), a)))
      .groupBy(col("ant"), col("cons"))
      .agg(count(lit(1)).as("cnt_x"),
        sum(when(array_contains(col("items"), col("cons")), 1L).otherwise(0L))
          .as("cnt_xy"))
      .select(col("ant"), col("cons"),
        r6(col("cnt_xy").cast("double") / nBaskets).as("support"),
        r6(col("cnt_xy").cast("double") / col("cnt_x")).as("confidence"))
      .filter(col("support") > MIN_SUPPORT_SEQ &&
        col("confidence") > MIN_CONFIDENCE_SEQ)
  }

  /** The composed pipeline, every user scored in one pass (the
    * reference transform handles ONE user per driver call; per-user
    * results are independent, so the batch form is the same operator).
    * Output: top-[[TOP_K]] `(user_id, cluster, item_id, cnt, rk)` —
    * `cnt` is the item's frequency among the consequent cluster's
    * last-period transactions (the reference's candidate score). */
  private def q58(spark: SparkSession, dir: String): DataFrame = {
    val trans = transactions(spark, dir).cache()
    val titems = trans.select("t_id", "item_id") // distinct by construction
    val assigned = clusterTransactionsSparse(titems, NUM_CLUSTERS, KMEANS_ITERS)
      .cache()
    recommendFrom(trans, assigned)
  }

  /** Everything downstream of the clustering stage, over ANY
    * `(t_id, cluster)` assignment — the pluggable-clusterer seam: q58
    * feeds [[clusterTransactionsSparse]], and the [[graft.ml.SOM]]
    * estimator's BMU assignments slot in behind the same surface
    * (the reference swaps clusterers exactly here, :403-416). */
  def recommendFrom(trans: DataFrame, assigned: DataFrame): DataFrame = {
    val baskets = clusterTokens(trans, assigned)
      .groupBy("user_id").agg(sort_array(collect_set(col("token"))).as("items"))
      .cache()
    val rules = mineSeqRules(baskets, baskets.count())
    scoreRules(trans, assigned, baskets, rules, TOP_K)
  }

  /** R9 scoring over PRE-MINED rules — the fit/transform split point
    * the [[graft.ml.SequentialRecommender]] estimator rides: rules are
    * model state (mined once over the full fit-time baskets), while
    * `baskets` here may be a target-cohort subset — every downstream
    * stage is per-user independent, so a narrowed run equals the full
    * run filtered to the cohort. `trans`/`assigned` stay FULL: the
    * candidate counts are cluster-level facts of the training data. */
  def scoreRules(trans: DataFrame, assigned: DataFrame, baskets: DataFrame,
                 rules: DataFrame, k: Int): DataFrame = {
    // similarity = |antecedent ∩ user tokens| (≥ 1 via the
    // overlap join), score = sim·support·confidence, best rule per user
    // with a deterministic tie-break the reference's unstable sortWith
    // lacks (score desc, consequent asc, antecedent asc)
    val fired = baskets.join(rules.hint("broadcast"),
        arrays_overlap(col("items"), col("ant")))
      .select(col("user_id"), col("cons"),
        concat_ws(",", col("ant")).as("ant_str"),
        r6(size(array_intersect(col("ant"), col("items"))).cast("double")
          * col("support") * col("confidence")).as("score"))
    val best = TopK.perGroup(fired, Seq(col("user_id")),
        Seq(col("score").desc, col("cons").asc, col("ant_str").asc), 1, "brk")
      .select(col("user_id"),
        split(col("cons"), "_").getItem(0).cast("long").as("cluster"))

    // candidate items: frequency across the consequent cluster's
    // last-period transactions (reference :126-149), minus seen items
    val itemCnt = trans.filter(col("period_id") === Sequential.NUM_PERIODS - 1)
      .select("t_id", "item_id")
      .join(assigned, Seq("t_id"))
      .groupBy(col("cluster"), col("item_id")).agg(count(lit(1)).as("cnt"))
    val seen = trans.select("user_id", "item_id").distinct()
    // EXACT pre-truncation of the user × cluster-catalog fan-out: a
    // user's top-k unseen candidates all sit within the cluster's
    // top-(k + maxSeen) ranked items, because at most maxSeen of the
    // better-ranked ones can be excluded as seen — so the join carries
    // k+maxSeen rows per user instead of the cluster's whole catalog
    // max() over zero groups is NULL — guard so an empty transactions
    // input degrades to an empty result instead of an NPE
    val maxSeen = Option(seen.groupBy("user_id").count().agg(max("count"))
      .head().get(0)).map(_.asInstanceOf[Long]).getOrElse(0L)
    val topItems = TopK.perGroup(itemCnt, Seq(col("cluster")),
      Seq(col("cnt").desc, col("item_id").asc), Math.toIntExact(k + maxSeen), "crk").drop("crk")
    val cands = best.join(topItems, Seq("cluster"))
      .join(seen, Seq("user_id", "item_id"), "left_anti")
    TopK.perGroup(cands, Seq(col("user_id")), Seq(col("cnt").desc, col("item_id").asc), k)
      .select(col("user_id"), col("cluster"), col("item_id"), col("cnt"), col("rk"))
  }
}
