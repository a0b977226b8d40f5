package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.functions.VectorFns.{cosineArr, invEuclideanArr}
import graft.functions.Rounding.{r4, r6}
import graft.functions.TopK

/**
 * Content-based recommender (SURVEY.md §2.10 R6/R7): item similarity
 * computed on FEATURE vectors instead of co-rating patterns, with the
 * K5 Euclidean fallback when the configured kernel returns exactly 0
 * (reference ContentBasedRatingRecommender.scala:34-42,
 * ContentBasedTopKRecommender.scala:42-98). The `embeddings` table
 * stands in for the reference's assembled genre flags (R6,
 * ContentRecommender.scala:36-53) — the operator shape is identical:
 * a per-item dense feature vector joined by item id.
 *
 * Scale design: the reference looked features up by a driver-side
 * linear scan per call (O(n) each, ContentBasedRatingRecommender
 * .scala:64-66); here features join by item_id and the per-user
 * candidate×rated grid is keyed on user_id, so each user's block
 * computes locally in one shuffle. Feature vectors never densify into
 * a matrix. Candidate GENERATION sits behind [[CandidateSource]]:
 * the default is [[CandidateSource.Auto]], which sizes the job and
 * picks [[CandidateSource.ExactGrid]] only below the measured
 * [[AUTO_EXACT_MAX_EVALS]] crossover, switching to
 * [[CandidateSource.LshBuckets]]'s banded sign-bit bucket probing
 * where users×catalog would be the scale-killer (q32b oracle-checks
 * that path end to end; q32 pins ExactGrid as the compat query). The
 * LSH path additionally generates and scores per distinct feature
 * VECTOR on compact int rep ids — kernel work caps at users×|vector
 * set| however large the item count grows (the sf1 probe's fix) —
 * and [[hyperplaneBands]] widens the codebook past the 2^dims
 * coordinate-axis ceiling when the vector set itself grows.
 */
object Content {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q32_content_topk" -> q32,
    "q32b_content_topk_lsh" -> q32b,
    "q52_content_rating_predict" -> q52
  )

  val K_NEIGHBORS = 8
  val K_ITEMS = 5

  /** Candidate-generation seam for [[contentTopK]] — the difference
    * between a recommender that survives a 100M-item catalog and one
    * that pays |users|×|catalog| per cohort regardless of data. */
  sealed trait CandidateSource
  object CandidateSource {
    /** The DEFAULT: measure the job, then pick. Resolves to
      * [[ExactGrid]] iff cohort-users × distinct-feature-vectors is at
      * most [[AUTO_EXACT_MAX_EVALS]] (the measured BASELINE §r6
      * crossover — below it the exact grid is cheaper than the LSH
      * path's extra stages; above it the grid goes quadratic while
      * LshBuckets stays keyed: 20–24× faster at sf1's ~6M evals),
      * else [[LshBuckets]] with default geometry. The two sizing
      * counts are bounded scalar aggregates over already-needed
      * inputs — the contract-query pattern, not a hot-path collect. */
    case object Auto extends CandidateSource
    /** Exhaustive grid over every unrated catalog item — exact by
      * construction, right while cohort×catalog work is small (it is
      * ~8× linear at sf1 — BASELINE §r6); pin it explicitly only when
      * exactness over the full catalog is the point. */
    case object ExactGrid extends CandidateSource
    /** Banded sign-bit LSH (the q49 scheme, Charikar hyperplanes =
      * coordinate axes): candidates are the unrated items sharing at
      * least one (band, bucket) with an item the user rated. Every
      * join is keyed — user buckets ⋈ catalog buckets — so work
      * scales with bucket co-occupancy, never users×catalog. Recall
      * is the standard LSH trade: an item whose features share no
      * band-bucket with anything the user rated is unreachable (it
      * would have scored near the bottom of the cosine ranking
      * anyway); more bands widen recall at the same per-bucket
      * cost. `hyperplaneDims = Some(d)` swaps the coordinate-axis
      * bits for seeded random-hyperplane projections over d-dim
      * vectors ([[hyperplaneBands]]) — the geometry to widen when
      * the vector set outgrows the 2^dims coordinate codebook, since
      * hyperplane bits·bands is unbounded. */
    final case class LshBuckets(bits: Int = LSH_SIGN_BITS,
                                bands: Int = LSH_SIGN_BANDS,
                                hyperplaneDims: Option[Int] = None) extends CandidateSource
  }

  /** q49's banding geometry, reused as the content-path default:
    * 4 disjoint 4-dim slices of the feature vector. */
  val LSH_SIGN_BITS = 4
  val LSH_SIGN_BANDS = 4

  /** The measured ExactGrid↔LshBuckets crossover (BASELINE §round-6):
    * at sf0.1's ~1e5 cohort×distinct-vector kernel evals the exact
    * grid still wins (3.83 s vs 4.42 s); at sf1's ~6M evals LshBuckets
    * is 20–24× faster (13.2 s vs 255–313 s). */
  val AUTO_EXACT_MAX_EVALS: Long = 100000L

  /** [[CandidateSource.Auto]]'s pure decision rule, exposed so the
    * boundary is unit-testable without building either plan. */
  def resolveAuto(cohortUsers: Long, distinctVectors: Long): CandidateSource =
    if (cohortUsers * distinctVectors <= AUTO_EXACT_MAX_EVALS)
      CandidateSource.ExactGrid
    else CandidateSource.LshBuckets()

  /** The DENSE-vector form of the K1-K4 kernel SPI for feature
    * vectors (the reference's `setSimilarity` applies to the
    * content recommender too, ContentRecommender.scala); K2's mean is
    * the whole-vector mean — natural on dense arrays. */
  def featureKernel(kernel: Kernel, a: Column, b: Column): Column = kernel match {
    case Kernel.Cosine => cosineArr(a, b)
    case Kernel.Pearson =>
      val n = size(a).cast("double")
      val ma = graft.functions.VectorFns.sumArr(a) / n
      val mb = graft.functions.VectorFns.sumArr(b) / n
      (graft.functions.VectorFns.dotArr(a, b) - n * ma * mb) /
        (sqrt(graft.functions.VectorFns.sqNorm(a) - n * ma * ma) *
          sqrt(graft.functions.VectorFns.sqNorm(b) - n * mb * mb))
    case Kernel.Jaccard =>
      val inter = size(filter(zip_with(a, b, (x, y) => x > 0 && y > 0), p => p))
      val union = size(filter(zip_with(a, b, (x, y) => x > 0 || y > 0), p => p))
      when(union === 0, lit(0.0))
        .otherwise(inter.cast("double") / union.cast("double"))
    case Kernel.InvEuclidean => invEuclideanArr(a, b)
  }

  /** Feature-kernel column over (vi, vj): the 6-dp kernel with the K5
    * inverse-Euclidean fallback on exact zero — the ONE definition both
    * the top-K and rating-predict paths rank with. */
  private def k5FeatureSim(kernel: Kernel = Kernel.Cosine): Column = {
    val sim0 = r6(featureKernel(kernel, col("vi"), col("vj")))
    when(sim0 === 0.0, r6(invEuclideanArr(col("vi"), col("vj")))).otherwise(sim0)
  }

  /** Shared neighbor-scoring stage: rank `pairs` (must carry `sim`,
    * `j`, `r_uj`) per key group, keep top-k, aggregate the R4-family
    * Σ sim·r / Σ|sim| numerator/denominator, and drop zero-denominator
    * groups (the reference's empty-neighbor guard). */
  private def neighborAgg(pairs: DataFrame, keys: Seq[String],
                          kNeighbors: Int): DataFrame = {
    TopK.perGroup(pairs, keys.map(col), Seq(col("sim").desc, col("j").asc), kNeighbors, "nrk")
      .groupBy(keys.map(col): _*)
      .agg(sum(col("sim") * col("r_uj")).as("num"), sum(abs(col("sim"))).as("den"))
      .filter(col("den") =!= 0.0)
  }

  private def itemFeatures(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id").as("item_id"),
        col("embedding").cast("array<double>").as("fv"))

  /** R7 top-K for the `user_id % 50 = 0` cohort: candidates are
    * feature-bearing items the user has NOT rated; neighbors are the
    * feature-bearing items the user HAS rated, ranked by
    * cosine(feature_i, feature_j) with the K5 inverse-Euclidean
    * fallback; score = Σ sim·r(u,j) / Σ|sim| (the R4-family
    * denominator), top-5 per user. */
  private def q32(spark: SparkSession, dir: String): DataFrame =
    contentTopK(Tables.ratingsCached(spark, dir), itemFeatures(spark, dir),
      col("user_id") % 50 === 0, K_NEIGHBORS, K_ITEMS,
      // pinned: q32 IS the exact-grid compat query (its DuckDB oracle
      // replays the exhaustive grid); the library default is Auto
      source = CandidateSource.ExactGrid)

  /** [[q32]] through the [[CandidateSource.LshBuckets]] seam — the
    * catalog-scale path, oracle-checked on its own semantics (the
    * DuckDB twin replays the banded sign buckets): same cohort, same
    * scoring, candidates restricted to bucket co-occupants. */
  private def q32b(spark: SparkSession, dir: String): DataFrame =
    contentTopK(Tables.ratingsCached(spark, dir), itemFeatures(spark, dir),
      col("user_id") % 50 === 0, K_NEIGHBORS, K_ITEMS,
      source = CandidateSource.LshBuckets())

  /** R7's rating-predict half (reference
    * ContentBasedRatingRecommender.scala:44-87): for held-out
    * feature-bearing (user, item) pairs in the `user_id % 40 = 7`
    * cohort, predict from the OTHER feature-bearing items the user
    * rated — neighbors by feature cosine with the K5 fallback, top-8,
    * r̂ = Σ sim·r(u,j) / Σ|sim|. Emits actual vs predicted plus error. */
  private def q52(spark: SparkSession, dir: String): DataFrame = {
    val rf = Tables.ratingsCached(spark, dir)
      .join(itemFeatures(spark, dir), Seq("item_id")) // only feature-bearing items play
    val cohort = rf.filter(col("user_id") % 40 === 7)
      .select(col("user_id").as("u"), col("item_id").as("i"),
        col("rating").as("actual"), col("fv").as("vi"))
    val rated = rf.select(col("user_id").as("u"), col("item_id").as("j"),
      col("rating").as("r_uj"), col("fv").as("vj"))

    val pairs = cohort.join(rated, Seq("u"))
      .filter(col("j") =!= col("i"))
      .select(col("u"), col("i"), col("actual"), col("j"),
        k5FeatureSim().as("sim"), col("r_uj"))

    Recommender.predictedRows(neighborAgg(pairs, Seq("u", "i", "actual"), K_NEIGHBORS))
  }

  /** Reusable library surface: content-based top-N over long-form
    * ratings plus an item-feature DataFrame `(item_id, fv)`. */
  def contentTopK(ratings: DataFrame, features: DataFrame,
                  targetUsers: Column, kNeighbors: Int, kItems: Int,
                  kernel: Kernel = Kernel.Cosine,
                  source: CandidateSource = CandidateSource.Auto): DataFrame =
    contentTopKRestricted(ratings, features, _.filter(targetUsers),
      kNeighbors, kItems, kernel, source)

  /** [[contentTopK]] for a DataFrame of target users (`user_id`
    * column) — the Estimator/Model `transform` surface. */
  def contentTopKFor(ratings: DataFrame, features: DataFrame,
                     targets: DataFrame, kNeighbors: Int, kItems: Int,
                     kernel: Kernel = Kernel.Cosine,
                     source: CandidateSource = CandidateSource.Auto): DataFrame =
    contentTopKRestricted(ratings, features,
      _.join(broadcast(targets.select(col("user_id")).distinct()),
        Seq("user_id"), "left_semi"),
      kNeighbors, kItems, kernel, source)

  /** Banded sign-bit signatures of a feature table → `(item_id,
    * band_id, bucket)` — the coordinate-axis geometry of the shared
    * [[graft.functions.Banding]] util (band b reads dims
    * [b·bits, (b+1)·bits), strictly-positive = 1). */
  def signBands(features: DataFrame, bits: Int, bands: Int): DataFrame =
    graft.functions.Banding.withBands(features, col("fv"), bits, bands,
        graft.functions.Banding.CoordinateAxes)
      .select(col("item_id"), col("band_id"), col("bucket"))

  /** Charikar random-hyperplane sign bands — the codebook-widening
    * geometry of the shared [[graft.functions.Banding]] util (the
    * coordinate-axis codebook caps at 2^dims buckets; hyperplane
    * bits·bands is unbounded — see Banding's Scaladoc for the
    * literal-coefficient determinism contract). */
  def hyperplaneBands(features: DataFrame, bits: Int, bands: Int,
                      dims: Int, seed: Long = 42L): DataFrame =
    graft.functions.Banding.withBands(features, col("fv"), bits, bands,
        graft.functions.Banding.Hyperplanes(dims, seed))
      .select(col("item_id"), col("band_id"), col("bucket"))

  /** Candidate (u, i, vi) rows for the user cohort inside `rated` —
    * EXACT-GRID ONLY: the LSH path never materializes per-item
    * candidates (it generates and scores per distinct vector inside
    * [[contentTopKRestricted]]'s scoring match). */
  private def candidates(ratings: DataFrame, features: DataFrame,
                         rated: DataFrame,
                         source: CandidateSource): DataFrame = {
    val feats = features.select(col("item_id").as("i"), col("fv").as("vi"))
    val unratedOnly = (cand: DataFrame) => cand
      .join(ratings.select(col("user_id").as("u"), col("item_id").as("i")),
        Seq("u", "i"), "left_anti")
    source match {
      case CandidateSource.ExactGrid =>
        val users = rated.select(col("u")).distinct()
        unratedOnly(users.crossJoin(feats))
      case other =>
        // the LSH path generates candidates per distinct VECTOR and
        // never materializes per-item (u, i, vi) rows — it lives
        // whole inside contentTopKRestricted's scoring match; Auto is
        // resolved to a concrete source before this point
        throw new IllegalArgumentException(
          s"candidates() only materializes the ExactGrid form; got $other")
    }
  }

  private def contentTopKRestricted(ratings: DataFrame, features: DataFrame,
                                    narrow: DataFrame => DataFrame,
                                    kNeighbors: Int, kItems: Int,
                                    kernel: Kernel = Kernel.Cosine,
                                    source: CandidateSource = CandidateSource.Auto): DataFrame = {
    val rated = narrow(ratings)
      .select(col("user_id").as("u"), col("item_id").as("j"), col("rating").as("r_uj"))
      .join(features.select(col("item_id").as("j"), col("fv").as("vj")), Seq("j"))

    val resolved = source match {
      case CandidateSource.Auto =>
        // two bounded scalar aggregates size the job before the plan
        // is chosen; both inputs are needed again immediately below
        resolveAuto(rated.select(col("u")).distinct().count(),
          features.select(col("fv")).distinct().count())
      case s => s
    }

    val scored = resolved match {
      case CandidateSource.Auto =>
        throw new IllegalStateException("Auto must resolve before planning")
      case CandidateSource.ExactGrid =>
        val cand = candidates(ratings, features, rated, CandidateSource.ExactGrid)
        // per-user candidate × rated grid, keyed on u — local to each block
        val pairs = cand.join(rated, Seq("u"))
          .filter(col("i") =!= col("j"))
          .select(col("u"), col("i"), col("j"), k5FeatureSim(kernel).as("sim"), col("r_uj"))
        neighborAgg(pairs, Seq("u", "i"), kNeighbors)
          .select(col("u"), col("i"), r4(col("num") / col("den")).as("score"))
      case CandidateSource.LshBuckets(bits, bands, hyperDims) =>
        // The kernel depends on the candidate item only through its
        // feature VECTOR, so this path generates candidates and
        // scores per DISTINCT vector, fanning scores back to items at
        // the end — provably identical output (bucket membership and
        // the neighbor aggregate are functions of (u, vector) alone;
        // a candidate is never its own neighbor since candidates end
        // up unrated and neighbors rated). Kernel evals are capped at
        // users × distinct-vectors: catalogs with repeated vectors
        // (clone SKUs, flag-valued features) pay for the vector set,
        // not the item count — the sf1 probe measured the per-item
        // grid going ~3× superlinear on a 10× replicated catalog.
        // Every shuffle below keys on COMPACT (u, v) ids — a naive
        // per-vector form keyed on the raw double-array was 7× SLOWER
        // than per-item (array hashing/compares on every exchange);
        // the array only ever rides the small vector dim and the
        // kernel-eval projection.
        val feats = features.select(col("item_id").as("i"), col("fv"))
        // distinct-vector dim: rep id = min item id sharing the vector
        val vecs = feats.groupBy(col("fv")).agg(min(col("i")).as("v"))
        val itemVec = feats.join(vecs, Seq("fv")).select(col("i"), col("v"))
        val vecFeats = vecs.select(col("v").as("item_id"), col("fv"))
        val sigs = (hyperDims match {
          case Some(d) => hyperplaneBands(vecFeats, bits, bands, d)
          case None    => signBands(vecFeats, bits, bands)
        }).select(col("item_id").as("v"), col("band_id"), col("bucket"))
        // buckets this user's RATED vectors occupy — probe set bounded
        // by |rated|·bands however big the catalog grows
        val userBuckets = rated.select(col("u"), col("j"))
          .join(itemVec.select(col("i").as("j"), col("v")), Seq("j"))
          .join(sigs, Seq("v"))
          .select(col("u"), col("band_id"), col("bucket")).distinct()
        // co-occupant vectors of those buckets — the probe set is
        // cohort-bounded (≤ |cohort|·bands·buckets rows — the nbSide
        // broadcast argument), so broadcast it and let the signature
        // table stream through exchange-free (r15, §3.1)
        val candVecs = sigs.join(userBuckets.hint("broadcast"),
            Seq("band_id", "bucket"))
          .select(col("u"), col("v")).distinct()
        val pairs = candVecs.join(vecs.select(col("v"), col("fv").as("vi")), Seq("v"))
          .join(rated, Seq("u"))
          .select(col("u"), col("v"), col("j"), k5FeatureSim(kernel).as("sim"), col("r_uj"))
        val vecScores = neighborAgg(pairs, Seq("u", "v"), kNeighbors)
          .select(col("u"), col("v"), r4(col("num") / col("den")).as("score"))
        // fan back to items and drop rated ones — exactly the per-item
        // candidate set: i unrated ∧ vec(i) shares a (band,bucket)
        // with a vector the user rated
        vecScores.join(itemVec, Seq("v"))
          .join(ratings.select(col("user_id").as("u"), col("item_id").as("i")),
            Seq("u", "i"), "left_anti")
          .select(col("u"), col("i"), col("score"))
    }

    TopK.perGroup(scored, Seq(col("u")), Seq(col("score").desc, col("i").asc), kItems)
      .select(col("u").as("user_id"), col("i").as("item_id"), col("score"), col("rk"))
  }
}
