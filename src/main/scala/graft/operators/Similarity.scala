package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.sources.Tables
import graft.functions.{Nearest, TopK}
import graft.functions.VectorFns._
import graft.functions.Rounding.{r4, r6}

/**
 * Vector-similarity operators over the `embeddings` table: brute-force
 * cosine top-k (the exact ANN baseline) and the full K1-K5 kernel
 * matrix (SURVEY.md §2.9) — the reference's similarity SPI
 * (reference similarity/BaseSimilarity.scala:20-22) re-expressed as
 * codegen'd higher-order-function columns instead of driver-side
 * Array[Double] loops.
 *
 * All kernels fold left-to-right over `array<double>` casts of the
 * float vectors, so both engines walk identical IEEE sequences; rank
 * keys round to 6 dp with id tie-breaks (engine-stable selection),
 * emitted scores to 4 dp.
 */
object Similarity {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q22_ann_cosine" -> q22,
    "q23_kernel_matrix" -> q23,
    "q41_emb_neardup" -> q41,
    "q42_ivf_ann" -> q42,
    "q42b_ivf2_ann" -> q42b,
    "q49_neardup_banded" -> q49,
    "q62_embed_quantize" -> q62,
    "q99_pq_ann" -> q99,
    "q105_semantic_dedup" -> q105,
    "q105b_semdedup_incr" -> q105b,
    "q105c_semdedup_incr_ivf2" -> q105c,
    "q113_cluster_balance" -> q113,
    "q129_knn_label_probe" -> q129,
    "q129b_label_probe_ivf" -> q129b,
    "q130_label_separation" -> q130,
    "q143_embedding_drift" -> q143,
    "q132_hard_negatives" -> q132,
    "q132b_hard_negatives_ivf" -> q132b,
    "q146_ivfpq_ann" -> q146,
    "q150_cell_index_fold" -> q150,
    "q150b_cell_index_fold_ix" -> q150b,
    "q151_residual_ann" -> q151
  )

  /** Salt for the q113 per-cell draw order — decorrelated from every
    * other hash-gated draw in the suite by the version prefix. */
  val CBALANCE_SALT = "graft_cbal_v1:"

  val NUM_SIGN_BANDS = 4

  val TOP_K = 10
  /** q99's certified mean-recall floor. Uniform random embeddings are
    * PQ's worst case (no cluster structure for codebooks to exploit);
    * observed mean recall@10 sits well above this at both test scales
    * — the floor catches codebook/LUT regressions, not absolute
    * quality. */
  val PQ_RECALL_FLOOR = 0.15
  val SIGN_BITS = 4
  val NEARDUP_THRESHOLD = 0.4
  val IVF_TOP_K = 5
  /** IVF base seeds: the same 8 seed vectors the Lloyd stage uses
    * (Sequential.KMEANS_SEEDS) — present at every scale factor, the
    * non-empty floor of the codebook at tiny SF. */
  val IVF_SEEDS: Seq[Long] = Sequential.KMEANS_SEEDS

  /** The codebook GROWS with the corpus (the documented q42/q105/q113
    * scale posture, now true in code): besides the 8 base seeds, every
    * vector whose salted hash falls in 1/[[IVF_SEED_MOD]] of hash
    * space seeds a cell. Expected occupancy ≈ IVF_SEED_MOD vectors
    * per cell at ANY corpus size, so the within-cell n² stages
    * (SemDeDup pairs, IVF probe scans, balance windows) stay O(corpus
    * × MOD), never O(corpus²/k). Deterministic and DuckDB-replayable
    * — the q66/q67 hash-gate discipline applied to codebook growth. */
  val IVF_SEED_MOD = 64L
  val IVF_SEED_SALT = "graft_ivfseed_v1:"

  /** Shared codebook builder: base seeds ∪ hash-rate-picked extras. */
  private[graft] def centsOf(e: DataFrame, baseSeeds: Seq[Long]): DataFrame =
    e.filter(col("vec_id").isin(baseSeeds: _*) ||
        Dedup.baseHash(concat(lit(IVF_SEED_SALT), col("vec_id").cast("string")))
          % IVF_SEED_MOD === 0)
      .select(col("vec_id").cast("int").as("cell"), col("v").as("cv"))

  private[graft] def emb(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))

  /** Salt for the level-1 super-cell pick of [[ivf2TopK]]. */
  val IVF_SUPER_SALT = "graft_ivfsuper_v1:"

  /** q42b — TWO-LEVEL coarse quantization (the IMI/IVF-tree posture):
    * the honest next rung the flat IVF notes name. The corpus-growing
    * codebook makes flat assignment vec × cells work — cells ≈ N/64,
    * so N²/64 map work: scan-bound but quadratic. Here a hash-picked
    * ~√|cells| subset of the cells (always including the base seeds)
    * forms a LEVEL-1 codebook; every cell attaches to its nearest
    * super, every vector finds its nearest super first (O(√cells))
    * and then argmins only over THAT super's cells (O(√cells)
    * expected) — total assignment N·O(√cells) instead of N·cells,
    * the standard inverted-multi-index trade. Both argmins use the
    * r6(d2)-asc, id-asc discipline, and superMod = ⌊√|cells|+0.5⌋ is
    * derived from the SAME codebook count on both engines, so the
    * whole two-level rule replays in the oracle. `superMod = Some(1)`
    * makes every cell a super and the assignment IS the flat q42 rule
    * (the spec's exactness witness). Approximation is the standard
    * one: a vector whose true nearest cell lives under a different
    * super lands elsewhere — recall vs flat IVF quantified in
    * AnnRecallSpec. */
  /** Super-cell count rule shared by every two-level consumer:
    * ~√|cells| supers (never below 1). */
  private[graft] def superModOf(nCells: Long): Long =
    math.max(1L, math.floor(math.sqrt(nCells.toDouble) + 0.5).toLong)

  /** The hash-picked level-1 codebook: ~|cells|/sm supers, always
    * including the base seeds. */
  private[graft] def supersOf(cents: DataFrame, seedIds: Seq[Long],
                              sm: Long): DataFrame =
    cents.filter(col("cell").isin(seedIds.map(_.toInt): _*) ||
        Dedup.baseHash(concat(lit(IVF_SUPER_SALT), col("cell").cast("string")))
          % sm === 0)
      .select(col("cell").as("super"), col("cv").as("sv"))

  /** The two-level codebook as ONE [[Nearest.book]] row of supers,
    * each carrying `cells`, the entries of the cells whose nearest
    * super it is, sorted by id. Assembled from one collected row of
    * attached cells (supers × cells filter work, once per build). Each
    * super sorts only its own cells: the collected list sits inside the
    * per-super lambda, so sorting it there would sort all cells once
    * per super. */
  private[graft] def superBook(cents: DataFrame, seedIds: Seq[Long], sm: Long): DataFrame =
    cents.crossJoin(broadcast(Nearest.book(supersOf(cents, seedIds, sm), "super", "sv")))
      .select(col("book"), struct(col("cell").as("id"), col("cv"),
        Nearest.id(Nearest.nearest(col("cv"), col("book"))).as("super")).as("c"))
      .groupBy(col("book")) // one group: the supers' book
      .agg(collect_list(col("c")).as("cells"))
      .select(transform(col("book"), s => struct(s.getField("id").as("id"),
        s.getField("cv").as("cv"),
        sort_array(filter(col("cells"), c => c.getField("super") === s.getField("id")))
          .as("cells")))
        .as("book"))

  /** The nearest cell of `v` among its nearest super's cells, as
    * `struct(d2, id)`; null if that super holds no cell. */
  private[graft] def nearestCell2(v: Column, superBook: Column): Column =
    Nearest.nearest(v, Nearest.nearest(v, superBook, keep = Seq("cells")).getField("cells"))

  /** TWO-LEVEL nearest-cell assignment (q42b's stages, factored out so
    * the incremental/streaming semdedup paths can swap it in for
    * [[cellAssign]]): each vector argmins over the ~√cells supers of
    * one broadcast [[superBook]] row, then only over THAT super's
    * cells — N·O(√cells) row-local work instead of N·cells. With
    * sm = 1 every cell is a super and the result IS the flat
    * [[cellAssign]] (the exactness witness AnnRecallSpec pins). Same
    * output schema as [[cellAssign]]: `(vec_id, v, cell)`. */
  private[graft] def cellAssign2(e: DataFrame, cents: DataFrame,
                                 seedIds: Seq[Long], sm: Long): DataFrame =
    e.crossJoin(broadcast(superBook(cents, seedIds, sm)))
      .select(col("vec_id"), col("v"),
        nearestCell2(col("v"), col("book")).getField("id").as("cell"))

  def ivf2TopK(e: DataFrame, queryPred: Column, seedIds: Seq[Long],
               k: Int, superMod: Option[Long] = None): DataFrame = {
    // cache the codebook (~N/64 rows): it feeds the count, both
    // broadcast legs and the cell→super attach — uncached, each would
    // re-filter the full embeddings table
    val cents = centsOf(e, seedIds).cache()
    val nCells = cents.count()
    val sm = superMod.getOrElse(superModOf(nCells))
    val assigned = cellAssign2(e, cents, seedIds, sm)
    val qprobe = assigned.filter(queryPred)
      .select(col("cell"), col("vec_id").as("q_id"), col("v").as("qv"))
    val pairs = assigned.join(qprobe, Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("cell"), col("vec_id").as("n_id"),
        r6(cosineArr(col("qv"), col("v"))).as("cos"))
    TopK.perGroup(pairs, Seq(col("q_id")), Seq(col("cos").desc, col("n_id").asc), k)
      .select(col("q_id"), col("cell"), col("n_id"),
        r4(col("cos")).as("cosine"), col("rk"))
  }

  private def q42b(spark: SparkSession, dir: String): DataFrame =
    ivf2TopK(emb(spark, dir), col("vec_id") % 25 === 0, IVF_SEEDS, IVF_TOP_K)

  /** Exact top-10 cosine neighbors for the `vec_id % 25 = 0` query
    * cohort: a broadcast nested-loop of the (small) query set against
    * the corpus — the right baseline shape when |queries| ≪ |corpus|
    * (queries ride the broadcast; the corpus never shuffles). For
    * corpus-×-corpus workloads the bucketed LSH path (see
    * [[Dedup.minhashBands]] and the SimHash variant) replaces this —
    * an unbucketed self-crossJoin is never acceptable at scale. */
  private def q22(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val q = e.filter(col("vec_id") % 25 === 0)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val pairs = e.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        r6(cosineArr(col("qv"), col("v"))).as("cos"))
    TopK.perGroup(pairs, Seq(col("q_id")), Seq(col("cos").desc, col("n_id").asc), TOP_K)
      .select(col("q_id"), col("n_id"), r4(col("cos")).as("cosine"), col("rk"))
  }

  /** K1-K5 kernel matrix on a deterministic pair sample
    * (vec_id % 50 = 0) × (vec_id % 37 = 0): cosine (K1,
    * reference CosineSimilarity.scala:24-33), Pearson with the
    * reference's whole-vector mean — zeros included
    * (K2, PearsonSimilarity.scala:24-37), positional binary Jaccard
    * (K3, JaccardSimilarity.scala:22-29; binarized at > 0),
    * inverse Euclidean (K4, EuclideanSimilarity.scala:24-28) and the
    * sim==0 Euclidean fallback (K5,
    * ContentBasedRatingRecommender.scala:34-42). */
  private def q23(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val a = e.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("a_id"), col("v").as("va"))
    val b = e.filter(col("vec_id") % 37 === 0)
      .select(col("vec_id").as("b_id"), col("v").as("vb"))
    val va = col("va"); val vb = col("vb")
    val n = size(va).cast("double")
    val dot = dotArr(va, vb)
    val ma = sumArr(va) / n
    val mb = sumArr(vb) / n
    val pearson = (dot - n * ma * mb) /
      (sqrt(sqNorm(va) - n * ma * ma) * sqrt(sqNorm(vb) - n * mb * mb))
    val interB = size(filter(zip_with(va, vb, (x, y) => x > 0 && y > 0), p => p))
    val unionB = size(filter(zip_with(va, vb, (x, y) => x > 0 || y > 0), p => p))
    val jaccard = when(unionB === 0, lit(0.0))
      .otherwise(interB.cast("double") / unionB.cast("double"))
    val cos = cosineArr(va, vb)
    val invEuc = invEuclideanArr(va, vb)
    a.crossJoin(broadcast(b)) // deliberate: |a|·|b| is a fixed small sample grid
      .select(col("a_id"), col("b_id"),
        r4(cos).as("cosine"),
        r4(pearson).as("pearson"),
        r4(jaccard).as("jaccard_bin"),
        r4(invEuc).as("inv_euclid"),
        // K5: fallback fires on exact zero similarity only
        r4(when(cos === 0.0, invEuc).otherwise(cos)).as("sim_k5"))
  }

  /** Symmetric int8 quantization of the embedding corpus — the
    * standard storage-compression step before an embedding table ships
    * to an ANN index (4× smaller than float32, 8× than the double
    * working form): per-vector absmax scaling, qᵢ = ⌊xᵢ/absmax·127 +
    * 0.5⌋ clipped to [−127, 127], plus the per-vector mean absolute
    * reconstruction error |q·absmax/127 − x| as the quality readout.
    * Purely per-row narrow expressions — embarrassingly parallel at
    * any corpus size; the same floor-half-up arithmetic in both
    * engines makes even the int codes hash-exact. */
  private def q62(spark: SparkSession, dir: String): DataFrame = {
    val v = col("v")
    val amax = aggregate(v, lit(0.0), (a, x) => greatest(a, abs(x)))
    val q = transform(v, x =>
      greatest(lit(-127), least(lit(127),
        floor(x / col("amax") * 127.0 + 0.5).cast("int"))))
    val mae = aggregate(
      zip_with(col("qv"), v, (qi, xi) =>
        abs(qi.cast("double") * col("amax") / 127.0 - xi)),
      lit(0.0), (a, e) => a + e) / size(v).cast("double")
    emb(spark, dir)
      .withColumn("amax", amax)
      .filter(col("amax") > 0.0) // all-zero vectors carry no information
      .withColumn("qv", q)
      .select(col("vec_id"), r6(col("amax")).as("absmax"),
        concat_ws(",", transform(col("qv"), x => x.cast("string")))
          .as("quant_csv"),
        r4(mae).as("mae"))
  }

  /** Embedding-cosine near-duplicate pairs via sign-bit LSH (random
    * hyperplane hashing with the coordinate axes as the fixed,
    * deterministic hyperplanes — Charikar's scheme): bucket key = the
    * sign pattern of the first [[SIGN_BITS]] components; candidate
    * pairs meet only INSIDE a bucket (self-equi-join on the key, never
    * all-pairs), then exact cosine verifies against the threshold.
    * Probe-1 recall is partial by construction — the standard
    * LSH trade; more bands/rotations widen recall at the same
    * per-bucket cost. */
  private def q41(spark: SparkSession, dir: String): DataFrame = {
    // single band of the shared banding util: band 0 reads dims
    // [0, SIGN_BITS) — the same bucket as the historical inline form
    val e = emb(spark, dir)
    val bucketed = graft.functions.Banding
      .withBands(e, col("v"), SIGN_BITS, 1, graft.functions.Banding.CoordinateAxes)
      .select(col("vec_id"), col("v"), col("bucket"))
    val a = bucketed.select(col("bucket"), col("vec_id").as("id_a"), col("v").as("va"))
    val b = bucketed.select(col("bucket"), col("vec_id").as("id_b"), col("v").as("vb"))
    a.join(b, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("bucket"), col("id_a"), col("id_b"),
        r6(cosineArr(col("va"), col("vb"))).as("cos"))
      .filter(col("cos") > NEARDUP_THRESHOLD)
      .select(col("id_a"), col("id_b"), col("bucket"), r4(col("cos")).as("cosine"))
  }

  /** q41 with LSH BANDING — the same sign-bit hashing over FOUR
    * disjoint 4-dim slices (dims 0-3, 4-7, 8-11, 12-15), candidates
    * unioned across bands (a pair qualifies if it collides in ANY
    * band, the classic OR-amplification that lifts recall at the same
    * per-bucket cost — identical construction to the MinHash banding
    * in [[Dedup.minhashBands]], applied to hyperplane signs).
    * At sf0.01 this finds 4× the q41 single-band pairs against the
    * same exact-cosine threshold. */
  private def q49(spark: SparkSession, dir: String): DataFrame =
    neardupBanded(emb(spark, dir), SIGN_BITS, NUM_SIGN_BANDS,
      graft.functions.Banding.CoordinateAxes)

  /** The geometry-parameterized banded near-dup: candidates meet only
    * inside a shared (band_id, bucket) of [[graft.functions.Banding]]
    * (pairs unioned across bands), exact cosine verifies against the
    * threshold. [[q49]] is the coordinate-axis default; passing
    * `Banding.Hyperplanes(dims)` gives the embedding near-dup family
    * the same unbounded-codebook option the content path has — at
    * catalogs where 2^dims buckets can no longer hold occupancy flat,
    * widen hyperplane `bits` by log2(growth) instead.
    *
    * WHEN TO SWITCH GEOMETRY (the content path's measured crossover,
    * BASELINE §round-6/7, applies here unchanged because both paths
    * share [[graft.functions.Banding]]): per-band candidate work is
    * Σ_buckets occupancy², so the goal is mean occupancy ≈ N/2^bits
    * staying in the low hundreds. CoordinateAxes gives at most
    * 2^slice-dims distinct buckets per band — fine while N ≲ 1e5·bands
    * on low-dim sign-dense vectors, and ZERO per-row hash cost. Past
    * that, or whenever the vectors are dense/correlated enough that
    * axis signs collide (occupancy histograms skew), move to
    * `Hyperplanes(dims)` and size `bits ≈ log2(N) - 7`: buckets track
    * data geometry instead of the axis grid, and bits·bands is
    * unbounded so occupancy can always be re-flattened after growth.
    * Same coefficients-as-literals determinism either way. */
  def neardupBanded(e: DataFrame, bits: Int, nBands: Int,
                    geometry: graft.functions.Banding.Geometry): DataFrame = {
    val bucketed = graft.functions.Banding
      .withBands(e, col("v"), bits, nBands, geometry)
      .select(col("vec_id"), col("v"), col("band_id"), col("bucket"))
    val a = bucketed.select(col("band_id"), col("bucket"),
      col("vec_id").as("id_a"), col("v").as("va"))
    val b = bucketed.select(col("band_id"), col("bucket"),
      col("vec_id").as("id_b"), col("v").as("vb"))
    val cand = a.join(b, Seq("band_id", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("va"), col("vb"))
      .dropDuplicates("id_a", "id_b") // union across bands
    cand
      .select(col("id_a"), col("id_b"),
        r6(cosineArr(col("va"), col("vb"))).as("cos"))
      .filter(col("cos") > NEARDUP_THRESHOLD)
      .select(col("id_a"), col("id_b"), r4(col("cos")).as("cosine"))
  }

  /** IVF-style ANN — the bucketed scale path next to q22's exact
    * broadcast baseline: a corpus-growing codebook ([[centsOf]]: 8
    * base seeds ∪ 1/[[IVF_SEED_MOD]] hash-picked extras)
    * coarse-quantizes the corpus into cells (the row-local
    * [[Nearest]] argmin, as in Sequential.kmeansAssign); each
    * query searches ONLY its own cell (probe=1). At 100 TB the cell
    * assignment is the partition key and occupancy stays
    * ≈IVF_SEED_MOD, so a query's probe scan is O(MOD) regardless of
    * corpus size. */
  private def q42(spark: SparkSession, dir: String): DataFrame =
    ivfTopK(emb(spark, dir), col("vec_id") % 25 === 0, IVF_SEEDS,
      probes = 1, k = IVF_TOP_K)

  /** Reusable library surface: multiprobe IVF ANN over a
    * `(vec_id, v: array<double>)` corpus. The codebook coarse-
    * quantizes every vector into its nearest cell ([[Nearest]]);
    * each query vector (selected by `queryPred`) searches its `probes` NEAREST cells — probe-1 is the q42 shape
    * (1/k of the corpus per query), and each extra probe buys recall
    * for proportional extra scan, the standard IVF trade (recall is
    * quantified against the exact baseline in AnnRecallSpec). Cell
    * assignment stays the partition key at any corpus size. */
  def ivfTopK(e: DataFrame, queryPred: Column, seedIds: Seq[Long],
              probes: Int, k: Int): DataFrame = {
    val pairs = ivfPairs(e, queryPred, seedIds, probes)
    TopK.perGroup(pairs, Seq(col("q_id")), Seq(col("cos").desc, col("n_id").asc), k)
      .select(col("q_id"), col("cell"), col("n_id"), r4(col("cos")).as("cosine"), col("rk"))
  }

  /** The IVF cell-bounded candidate pair stream `(q_id, cell, n_id,
    * cos)` under [[ivfTopK]] — exposed so the embedding-QA consumers
    * (q129b's vote, q132b's triplet mining) can rank/filter the SAME
    * cell-bounded candidates with their own windows instead of the
    * plain top-k cut. Work is bounded by probe-cell occupancy
    * (≈ IVF_SEED_MOD per cell at any corpus size), never the corpus. */
  def ivfPairs(e: DataFrame, queryPred: Column, seedIds: Seq[Long],
               probes: Int): DataFrame = {
    val booked = e.crossJoin(broadcast(Nearest.book(centsOf(e, seedIds), "cell")))
    val cells = booked.select(col("vec_id"), col("v"),
      Nearest.id(Nearest.nearest(col("v"), col("book"))).as("cell"))
    // a query probes its `probes` nearest cells; a corpus vector lives
    // in exactly its nearest — so probe-1 searches the query's own cell
    val qprobe = booked.filter(queryPred)
      .select(explode(Nearest.ranked(col("v"), col("book"), probes)).as("w"),
        col("vec_id").as("q_id"), col("v").as("qv"))
      .select(col("w").getField("id").as("cell"), col("q_id"), col("qv"))
    cells.join(qprobe, Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("cell"), col("vec_id").as("n_id"),
        r6(cosineArr(col("qv"), col("v"))).as("cos"))
  }

  private def q113(spark: SparkSession, dir: String): DataFrame =
    clusterBalance(emb(spark, dir), IVF_SEEDS)

  /** Cluster-balanced corpus resampling (the D4 diversification step,
    * Tirumala et al. 2023: after SemDeDup prunes within-cluster
    * duplicates, re-balance the cluster occupancy so over-represented
    * regions of embedding space don't dominate the training mix).
    * Every vector is coarse-assigned to its nearest codebook cell
    * (the q42/q105 posture), each cell's population is capped at the
    * uniform quota `ceil(N / k)`, and the survivors are picked by a
    * salted-hash draw order with vec_id tie-break — deterministic,
    * retry-stable, DuckDB-replayable (never `rand()`; the q66/q67
    * discipline). Emits one row per vector:
    * `(vec_id, cell, cell_n, cell_rank, kept)` — under-quota cells
    * keep everything, over-quota cells keep exactly the quota.
    *
    * Scale shape: assignment is the row-local [[cellAssign]];
    * the draw-order window partitions BY CELL, so window state is
    * cell occupancy O(N/k), never the corpus (the codebook grows with
    * the corpus, same as q105); the corpus total rides a 1-row
    * broadcast. No stage sees more than the exploded vec×k assignment
    * stream. */
  def clusterBalance(e: DataFrame, seedIds: Seq[Long]): DataFrame = {
    val cents = centsOf(e, seedIds)
    // quota denominator = the ACTUAL cell count (the codebook grows
    // with the corpus), computed in-plan as a 1-row broadcast
    val nCells = cents.agg(count(lit(1)).as("n_cells"))
    val cells = cellAssign(e, cents).select(col("vec_id"), col("cell"))
    val tot = cells.agg(count(lit(1)).as("n_total"))
    val cellN = cells.groupBy(col("cell")).agg(count(lit(1)).as("cell_n"))
    val draw = Dedup.baseHash(
      concat(lit(CBALANCE_SALT), col("vec_id").cast("string")))
    val wDraw = Window.partitionBy(col("cell"))
      .orderBy(col("draw").asc, col("vec_id").asc)
    cells.withColumn("draw", draw)
      .withColumn("cell_rank", row_number().over(wDraw))
      .join(broadcast(cellN), Seq("cell"))
      .crossJoin(broadcast(tot))
      .crossJoin(broadcast(nCells))
      .select(col("vec_id"), col("cell"), col("cell_n"), col("cell_rank"),
        (col("cell_rank") <=
          ceil(col("n_total").cast("double") /
            col("n_cells").cast("double")).cast("long"))
          .cast("int").as("kept"))
  }

  /** Semantic-dedup cosine threshold. On this synthetic near-random
    * embedding corpus the within-cell cosine tail tops out ≈0.47, so
    * 0.4 is the "semantic duplicate" regime here (aligned with
    * [[NEARDUP_THRESHOLD]]); real text-embedding corpora run 0.9+ —
    * the threshold is the caller's dial. */
  val SEMDEDUP_TAU = 0.4

  private def q105(spark: SparkSession, dir: String): DataFrame =
    semanticDedup(emb(spark, dir), IVF_SEEDS, SEMDEDUP_TAU)

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023: cluster
    * the embedding space, then near-dup ONLY within clusters): coarse
    * k-means cell assignment (the q42 codebook + row-local argmin), exact
    * within-cell cosine pairs, and a deterministic keep-min-id policy —
    * a vector is dropped iff a smaller-id vector in its cell sits at
    * cosine ≥ `tau`. Greedy per-pair (a chain a~b~c drops both b and c
    * even when a~c is below τ) — deliberately NOT transitive-closure
    * components: that is the published algorithm's greedy shape, it
    * needs no iteration, and it is exactly SQL-replayable. Emits one
    * row per vector: `(vec_id, cell, n_better_dups, kept)`.
    *
    * Scale shape: the only pairwise stage is the within-cell
    * self-join — Σ_cell n² with the cell as partition key, the q42/LSH
    * bucket posture, with no vector-keyed exchange. At 100 TB the codebook grows (more cells) so cell
    * occupancy stays O(corpus/k); the all-pairs semantic dedup the
    * paper replaces never happens. */
  def semanticDedup(e: DataFrame, seedIds: Seq[Long], tau: Double): DataFrame = {
    // one cell-keyed exchange under both join sides: ReuseExchange
    // then runs the argmin once per vector, not once per side
    val cells = cellAssign(e, centsOf(e, seedIds)).repartition(col("cell"))
    val b = cells.select(col("cell"), col("vec_id"), col("v").as("vb"))
    val a = cells.select(col("cell").as("cell_a"), col("vec_id").as("id_a"), col("v").as("va"))
    // grouped by (cell, vec_id): the cell-keyed join already clusters it
    b.join(a, col("cell") === col("cell_a") && col("id_a") < col("vec_id") &&
        r6(cosineArr(col("va"), col("vb"))) >= tau, "left")
      .groupBy(col("cell"), col("vec_id"))
      .agg(count(col("id_a")).as("n_better_dups"))
      .select(col("vec_id"), col("cell"), col("n_better_dups"),
        (col("n_better_dups") === 0).cast("int").as("kept"))
  }

  /** Nearest-cell coarse assignment against an explicit codebook —
    * the q42/q105 argmin ([[Nearest]], over one broadcast book row)
    * factored out so the incremental/streaming paths assign against a
    * STANDING corpus's codebook rather than their own. */
  private[graft] def cellAssign(e: DataFrame, cents: DataFrame): DataFrame =
    cellAssignD(e, cents).select(col("vec_id"), col("v"), col("cell"))

  /** [[cellAssign]] keeping the winning distance — the persisted-index
    * form: [[foldCellIndex]]'s challenge step needs each standing
    * vector's argmin d2 on record to compare against newly-seeded
    * cells without re-scanning the old codebook. d2 is the same
    * r6-rounded value the assignment ordered by, so a stored row
    * replays the derive-side tie-break bit-for-bit. */
  private[graft] def cellAssignD(e: DataFrame, cents: DataFrame): DataFrame =
    e.crossJoin(broadcast(Nearest.book(cents, "cell")))
      .select(col("vec_id"), col("v"), Nearest.nearest(col("v"), col("book")).as("w"))
      .select(col("vec_id"), col("v"), Nearest.id(col("w")).as("cell"),
        col("w").getField("d2").as("d2"))

  /** EXACT incremental maintenance of the semantic-dedup cell index
    * across a compaction — the embedding-side twin of
    * `Corpus.foldNeardupIndex` (VERDICT r13 next #1), but strictly
    * stronger than the fall-back design sketched there: the
    * corpus-growing codebook ([[centsOf]] is a pure per-vector
    * predicate) means most compactions ADD cells, and instead of
    * detecting the codebook delta and re-deriving O(corpus·cells),
    * the fold reassigns exactly:
    *
    *  - codebook: new cells = (old cells minus touched) ∪ predicate-
    *    filtered delta — a filter folds exactly by construction;
    *  - untouched vectors whose cell SURVIVES: the old argmin is
    *    still the argmin over the surviving old cells (dropping
    *    non-winning candidates can't change a minimum), so only the
    *    ADDED cells can dethrone it — one row-local `least` of the
    *    stored (d2, cell) against the [[Nearest]] argmin over the
    *    added codebook, which rides in as a single broadcast book
    *    row: no shuffle, no window, no old-codebook rescan;
    *  - untouched vectors whose cell was REMOVED (orphans, expected
    *    ≈[[IVF_SEED_MOD]] per removed cell): full argmin vs the new
    *    codebook — a small set by construction;
    *  - delta vectors: full argmin vs the new codebook.
    *
    * Every branch reproduces the (r6(d2) asc, cell asc) discipline,
    * so fold == derive ALWAYS — no codebook-delta guard, no
    * re-derive path — and q150 pins that under the oracle hash.
    * Cost: O(N·|added| + (|orphans|+|delta|)·|cells|) vs derive's
    * O(N·|cells|); with |added| ≈ |delta|/[[IVF_SEED_MOD]], a weekly
    * delta pays ~1/64th of a rebuild on the standing side.
    *
    * `touched` must cover updates AND removals (the q149 contract);
    * `oldAssign` rows are (vec_id, v, cell, d2) as persisted by
    * `Corpus.writeSemdedupIndex`. Returns (newCents, newAssign). */
  def foldCellIndex(oldCents: DataFrame, oldAssign: DataFrame,
                    deltaVecs: DataFrame, touched: DataFrame,
                    seedIds: Seq[Long]): (DataFrame, DataFrame) = {
    val touchedIds = touched.select(col("vec_id"))
    val touchedCells = touchedIds.select(col("vec_id").cast("int").as("cell"))
    val keptCents = oldCents.join(touchedCells, Seq("cell"), "left_anti")
    val addedCents = centsOf(deltaVecs, seedIds)
    val newCents = keptCents.unionByName(addedCents)
    val removedCells = oldCents.join(touchedCells, Seq("cell"), "left_semi")
      .select(col("cell"))
    val survivors = oldAssign.join(touchedIds, Seq("vec_id"), "left_anti")
    val orphans = survivors.join(removedCells, Seq("cell"), "left_semi")
      .select(col("vec_id"), col("v"))
    val settled = survivors.join(removedCells, Seq("cell"), "left_anti")
    // the added codebook as ONE broadcast book row: the standing
    // side's challenge stays row-local (an empty added set has no
    // book row, the left join leaves `book` null, the nearest of it
    // is null, and least() skips nulls — the old pair stands)
    val challenged = settled
      .join(broadcast(Nearest.book(addedCents, "cell")), lit(true), "left")
      .select(col("vec_id"), col("v"),
        least(struct(col("d2"), col("cell").as("id")),
          Nearest.nearest(col("v"), col("book"))).as("w"))
      .select(col("vec_id"), col("v"),
        col("w").getField("id").as("cell"),
        col("w").getField("d2").as("d2"))
    val newAssign = challenged
      .unionByName(cellAssignD(orphans, newCents))
      .unionByName(cellAssignD(
        deltaVecs.select(col("vec_id"), col("v")), newCents))
    (newCents, newAssign)
  }

  /** The measured flat↔two-level assignment crossover, in CODEBOOK
    * CELLS — the multiplier of the flat [[cellAssign]]'s per-vector
    * argmin (vec × cells map work; with the corpus-growing codebook
    * cells ≈ N/[[IVF_SEED_MOD]], so flat assignment bends N²/64-
    * quadratic while the two-level rule holds N·O(√cells))
    * (BASELINE §round-12, `scale_probe_r12_semgate_{sf01,sf1}.json`):
    * at sf0.1's ~30 standing cells the flat argmin wins decisively
    * (q105b 0.88 s vs q105c 1.28 — the super hop is pure overhead on
    * a dimension-sized codebook); at the sf1 replica's ~236 the two
    * sides price inside each other's band (1.77 vs 1.79 — the
    * measured INDIFFERENCE point). The gate flips just past it:
    * beyond the indifference point the flat side's N·cells term only
    * grows (quadratic in corpus size under the corpus-growing
    * codebook) while the two-level side's N·√cells cannot catch it —
    * the DIMSUM/LM-gate discipline of flipping where the measurements
    * stop favoring exact. */
  val IVF2_MIN_CELLS: Long = 256L

  /** [[cellAssignAuto]]'s pure decision rule, exposed so the boundary
    * is unit-testable without building either plan: two-level iff the
    * codebook holds at least [[IVF2_MIN_CELLS]] cells. */
  def resolveIvf2(nCells: Long): Boolean =
    nCells >= IVF2_MIN_CELLS

  /** Nearest-cell assignment with the codebook SIZED instead of
    * assumed (the `itemSimsAuto` posture on the coarse quantizer):
    * the caller passes the codebook's cell count — a scalar it
    * already holds from building/caching `cents` — and the gate picks
    * the flat argmin below [[IVF2_MIN_CELLS]], the q42b two-level
    * rule above it. Below the crossover the plan IS [[cellAssign]] —
    * bit-identical, so gate-scale hashes are untouched; above it the
    * two-level side is the documented approximate swap (recall
    * quantified in AnnRecallSpec). */
  private[graft] def cellAssignAuto(e: DataFrame, cents: DataFrame,
      seedIds: Seq[Long], nCells: Long): DataFrame =
    if (resolveIvf2(nCells)) cellAssign2(e, cents, seedIds, superModOf(nCells))
    else cellAssign(e, cents)

  /** vec_ids ≡ MOD-1 (mod [[SEM_INCR_MOD]]) form q105b's "new batch";
    * the rest are the standing corpus (the q95 split discipline on the
    * embedding table). */
  val SEM_INCR_MOD = 4L

  /** q105b — INCREMENTAL semantic dedup: the q95 ingest posture on the
    * embedding space. A new batch of vectors is checked against the
    * STANDING corpus only — codebook, cell assignments and the
    * within-cell cosine verify all run against standing state; only
    * cross pairs (new × existing, cosine ≥ τ) are emitted, never
    * new×new (the next compaction's full q105 catches those, exactly
    * like q95 defers same-batch dups to q20).
    *
    * Scale shape: the standing cells are a precomputed index probed
    * per batch — each micro-batch pays |batch|×cells assignment plus
    * within-cell pair work against the standing occupancy (O(IVF_SEED
    * _MOD) per cell by the corpus-growing codebook), so ingest cost
    * scales with the batch, never the corpus. */
  /** `twoLevel` is the assignment seam (VERDICT r11 next #3): None →
    * [[cellAssignAuto]] decides flat vs two-level at the measured
    * [[IVF2_MIN_CELLS]] crossover (ONE cached-codebook count prices
    * the decision); Some(b) pins a side (q105b's oracle is the flat
    * rule, q105c's the two-level one). Standing and incoming assign
    * under the SAME decision — a split decision would put the two
    * sides of the cell join in different geometries. */
  def semanticDedupIncrement(standing: DataFrame, incoming: DataFrame,
                             seedIds: Seq[Long], tau: Double,
                             twoLevel: Option[Boolean] = None,
                             pinGroup: String = ""): DataFrame = {
    // the codebook cache is a session-CacheManager pin (dimension-
    // sized — ~N/IVF_SEED_MOD rows) ROUTED THROUGH GateIndexes, the
    // same release-capable registry the streaming gates use: a
    // long-lived driver incrementing against a GROWING standing frame
    // accretes one entry per distinct standing plan, and compaction
    // retires the superseded one via GateIndexes.release(group).
    // "" → a fresh never-reused auto group (enumerable via
    // GateIndexes.liveGroups); CacheManager plan-dedup still
    // collapses repeated calls over the SAME standing plan to one
    // storage entry, so auto groups never multiply executor storage.
    val group =
      if (pinGroup.isEmpty) graft.streaming.GateIndexes.autoGroup("semdedup-batch")
      else pinGroup
    val cents = graft.streaming.GateIndexes.pin(centsOf(standing, seedIds), group)
    val nCells = twoLevel match {
      case Some(false) => 0L // flat path never reads the count
      case _ => cents.count()
    }
    val assign: DataFrame => DataFrame = twoLevel match {
      case Some(true) => cellAssign2(_, cents, seedIds, superModOf(nCells))
      case Some(false) => cellAssign(_, cents)
      case None => cellAssignAuto(_, cents, seedIds, nCells)
    }
    val standingCells = assign(standing)
      .select(col("cell"), col("vec_id").as("existing_vec_id"), col("v").as("vb"))
    assign(incoming)
      .select(col("cell"), col("vec_id"), col("v").as("va"))
      .join(standingCells, Seq("cell"))
      .select(col("vec_id"), col("existing_vec_id"), col("cell"),
        r6(cosineArr(col("va"), col("vb"))).as("cos"))
      .filter(col("cos") >= tau)
  }

  /** q150 — the semantic-dedup CELL-INDEX fold as an oracle-gated
    * query on the embedding-side q144 fixture (the q149 posture,
    * VERDICT r13 next #1): old snapshot = vec_id ≢ 3 (mod
    * `Corpus.DELTA_SNAP_MOD`), new snapshot drops ≡ 4 and REVISES
    * every ≡ 0 (mod `Corpus.DELTA_REV_MOD`) vector to its negation —
    * so the compaction carries adds, removes AND revisions, and
    * (because [[centsOf]] is a per-vector predicate over those same
    * ids) the codebook itself gains, loses and re-centers cells:
    * every branch of [[foldCellIndex]] — challenge, orphan
    * reassignment, delta assignment — runs non-vacuously at every
    * SF. The oracle derives the assignment directly from the NEW
    * snapshot; fold == derive is the maintenance invariant, so a
    * stale survivor row, a ghost cell, or a missed challenge
    * hash-fails here instead of silently skewing a rebuilt gate. */
  private def q150(spark: SparkSession, dir: String): DataFrame =
    cellIndexFold(emb(spark, dir), old => {
      val oldCents = centsOf(old, IVF_SEEDS)
      (oldCents, cellAssignD(old, oldCents))
    })

  /** q150b — q150's fold with the old cell index arriving FROM
    * PARQUET (the q149b/q152b posture): the old snapshot's codebook
    * and d2-carrying assignments are materialized once per session via
    * `Corpus.writeSemdedupIndex`; every invocation loads + folds, so
    * the bench floor prices the production maintenance op (challenge
    * + orphans + delta against loaded state) instead of the fixture's
    * in-query derive of the old index. Same oracle SQL: the fold is
    * exact wherever the old index came from. */
  private def q150b(spark: SparkSession, dir: String): DataFrame =
    cellIndexFold(emb(spark, dir), old => Corpus.readSemdedupIndex(spark,
      Corpus.sessionIndexDir("q150b_ix", dir)(
        Corpus.writeSemdedupIndex(old, IVF_SEEDS, _))))

  /** The embedding-side q144 fixture fold q150 and q150b share: the
    * old snapshot and the delta under the q150 rules, folded through
    * [[foldCellIndex]]; `oldIndex` turns the old snapshot into its
    * (codebook, d2-carrying assignment) index. */
  private def cellIndexFold(e: DataFrame,
      oldIndex: DataFrame => (DataFrame, DataFrame)): DataFrame = {
    val sm = Corpus.DELTA_SNAP_MOD
    val rm = Corpus.DELTA_REV_MOD
    val (oldCents, oldAssign) = oldIndex(e.filter(col("vec_id") % sm =!= 3L))
    val delta = e.filter(col("vec_id") % sm =!= 4L)
      .filter(col("vec_id") % sm === 3L || col("vec_id") % rm === 0L)
      .withColumn("v", when(col("vec_id") % rm === 0L,
        transform(col("v"), x => -x)).otherwise(col("v")))
    val removed = e.filter(col("vec_id") % sm === 4L).select(col("vec_id"))
    val touched = delta.select(col("vec_id")).unionByName(removed)
    foldCellIndex(oldCents, oldAssign, delta, touched, IVF_SEEDS)._2
      .select(col("vec_id"), col("cell"), col("d2"))
  }

  private def q105b(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    // fixed group + pin()'s same-plan dedup: one registry entry no
    // matter how many bench repeats re-invoke this query
    semanticDedupIncrement(
      e.filter(col("vec_id") % SEM_INCR_MOD =!= SEM_INCR_MOD - 1),
      e.filter(col("vec_id") % SEM_INCR_MOD === SEM_INCR_MOD - 1),
      IVF_SEEDS, SEMDEDUP_TAU, pinGroup = "q105b-codebook")
  }

  /** q105c — the incremental semantic dedup with BOTH sides assigned
    * by the q42b two-level rule: the registered, oracle-gated sketch
    * of the [[cellAssignAuto]] boundary's far side (the q142b/q17b
    * twin discipline), so the plan the gate flips to past
    * [[IVF2_MIN_CELLS]] is itself hash-checked and priceable. */
  private def q105c(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    semanticDedupIncrement(
      e.filter(col("vec_id") % SEM_INCR_MOD =!= SEM_INCR_MOD - 1),
      e.filter(col("vec_id") % SEM_INCR_MOD === SEM_INCR_MOD - 1),
      IVF_SEEDS, SEMDEDUP_TAU, twoLevel = Some(true),
      pinGroup = "q105c-codebook")
  }

  /** PQ geometry: 64-dim embeddings → [[PQ_M]] subspaces of
    * [[PQ_SUBDIM]] dims, [[PQ_K]] centroids each → 8 one-byte codes
    * per vector, a 32× compression of the float corpus. */
  val PQ_M = 8
  val PQ_SUBDIM = 8
  val PQ_K = 16
  val PQ_LLOYD_ROUNDS = 2
  /** Seed vec_ids whose subvectors initialize every subspace codebook
    * (spread across the id range; present at every SF). */
  val PQ_SEEDS: Seq[Long] = (0 until PQ_K).map(i => (i * 31 + 3).toLong)

  /** The exact squared-L2 baseline of a recall contract (q99, q146,
    * q151): each `qPred` query vector's [[TOP_K]] nearest other
    * vectors as (q_id, n_id), the query cohort broadcast. */
  private def exactTopK(e: DataFrame, qPred: Column): DataFrame = {
    val q = e.filter(qPred).select(col("vec_id").as("q_id"), col("v").as("qv"))
    e.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        sqDistArr(col("qv"), col("v")).as("d2"))
      .transform(TopK.perGroup(_, Seq(col("q_id")), Seq(col("d2").asc, col("n_id").asc), TOP_K))
      .select(col("q_id"), col("n_id"))
  }

  /** A recall contract's fixture counts (corpus size, query cohort
    * size) in one scalar agg — one action for both (§2.6). */
  private def cohortCounts(e: DataFrame, qPred: Column): (Long, Long) = {
    val nRow = e.agg(count(lit(1)).as("n"), count(when(qPred, 1)).as("nq"))
      .collect()(0)
    (nRow.getLong(0), nRow.getLong(1))
  }

  /** Product-quantization ANN — the compression half of the standard
    * 100-TB vector-search layout (IVF partitions the corpus, [[q42]];
    * PQ shrinks what each probe scans): per-subspace codebooks train
    * with [[PQ_LLOYD_ROUNDS]] deterministic Lloyd rounds from fixed
    * seed subvectors (the q34 posture — ties to the smallest cell, no
    * RNG), every vector quantizes to [[PQ_M]] small codes, and
    * queries rank candidates by ASYMMETRIC distance: a per-query
    * lookup table of exact query-subvector→centroid distances, summed
    * over the corpus's codes — the corpus's floats are never touched
    * at query time, only its byte codes.
    *
    * The contract query runs the full PQ pipeline AND the exact
    * squared-L2 baseline on the same cohort, then emits one row of
    * oracle-recomputable facts (cohort size, corpus size, k) plus a
    * `recall_ok` verdict — mean recall@k ≥ [[PQ_RECALL_FLOOR]] — that
    * the DuckDB oracle pins to 1. A codebook/LUT regression now
    * hash-fails the driver row instead of hiding behind `no_oracle`;
    * the finer-grained recall curve stays in AnnRecallSpec.
    *
    * Scale shape: codebooks are M·K tiny rows (broadcast); training
    * and assignment are row-local [[Nearest]] argmins over the
    * exploded (vec, subspace) stream; the ADC join is codes ⋈
    * broadcast LUT on (m, cell) + one keyed sum per (query, vec). The exact baseline
    * is the audit side of the contract, priced like q22. */
  private def q99(spark: SparkSession, dir: String): DataFrame = {
    // cache scope: the recall audit reads e four times (train, codes,
    // queries, exact baseline); unpersist before returning so repeated
    // bench runs don't stack a new residency per repeat
    val e = emb(spark, dir).cache()
    try {
      val cents = pqTrain(e)
      val codes = pqCodes(e, cents)
      val qPred = col("vec_id") % 25 === 0
      val pq = pqTopK(e, codes, cents, qPred, TOP_K)
        .select(col("q_id"), col("n_id"))
      val hits = exactTopK(e, qPred).join(pq, Seq("q_id", "n_id")).count()
      val (nCorpus, nq) = cohortCounts(e, qPred)
      val recall = hits.toDouble / (nq * TOP_K)
      import spark.implicits._
      Seq((nq, nCorpus, TOP_K, if (recall >= PQ_RECALL_FLOOR) 1 else 0))
        .toDF("n_queries", "n_corpus", "k", "recall_ok")
    } finally e.unpersist()
  }

  /** Subvector stream: (vec_id, m, sv) with sv = dims [m·SUBDIM,
    * (m+1)·SUBDIM). */
  private def subvectors(e: DataFrame): DataFrame =
    e.select(col("vec_id"),
      explode(sequence(lit(0), lit(PQ_M - 1))).as("m"), col("v"))
      .select(col("vec_id"), col("m"),
        slice(col("v"), col("m") * PQ_SUBDIM + 1, lit(PQ_SUBDIM)).as("sv"))

  /** Nearest-centroid assignment per (vec, subspace): the M·K
    * codebook as one broadcast [[Nearest.book]] row per subspace,
    * joined on `m`, and the row-local [[Nearest]] argmin (r6-quantized
    * distances, smallest-cell ties — the q34 discipline). */
  private def assignCodes(sub: DataFrame, cents: DataFrame): DataFrame =
    sub.join(broadcast(Nearest.book(cents, "cell", keys = Seq("m"))), Seq("m"))
      .select(col("vec_id"), col("m"), col("sv"),
        Nearest.id(Nearest.nearest(col("sv"), col("book"))).as("cell"))

  /** Train the per-subspace codebooks with [[PQ_LLOYD_ROUNDS]]
    * deterministic Lloyd rounds (r6-quantized per-dim means, the
    * q34 recenter discipline) → (m, cell, cv). */
  def pqTrain(e: DataFrame): DataFrame = {
    val spark = e.sparkSession
    val sub = subvectors(e).cache()
    val seeds = spark.createDataFrame(PQ_SEEDS.zipWithIndex)
      .toDF("vec_id", "cell")
    val c0 = sub.join(broadcast(seeds), Seq("vec_id"))
      .select(col("m"), col("cell"), col("sv").as("cv"))
    def recenter(asg: DataFrame): DataFrame =
      asg.select(col("m"), col("cell"), posexplode(col("sv")))
        .groupBy(col("m"), col("cell"), col("pos"))
        .agg(r6(avg(col("col"))).as("x"))
        .groupBy(col("m"), col("cell"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("x")))),
          s => s.getField("x")).as("cv"))
    (1 to PQ_LLOYD_ROUNDS)
      .foldLeft(c0)((c, _) => recenter(assignCodes(sub, c)).localCheckpoint())
  }

  /** Quantize the corpus against a trained codebook →
    * (vec_id, m, cell). */
  def pqCodes(e: DataFrame, cents: DataFrame): DataFrame =
    assignCodes(subvectors(e), cents)
      .select(col("vec_id"), col("m"), col("cell"))

  /** ADC top-k: exact per-subspace query→centroid distance LUT
    * (|queries|·M·K rows, broadcast), summed over each corpus
    * vector's codes — approx d²(q, x) = Σₘ lut(m, code_m(x)). The
    * LUT is built against the SAME codebook the codes were assigned
    * to; the corpus's floats never participate at query time. */
  def pqTopK(e: DataFrame, codes: DataFrame, cents: DataFrame,
             queryPred: Column, k: Int): DataFrame = {
    val qsub = subvectors(e).filter(queryPred)
      .select(col("vec_id").as("q_id"), col("m"), col("sv").as("qv"))
    val lut = qsub.join(cents, Seq("m"))
      .select(col("q_id"), col("m"), col("cell"),
        sqDistArr(col("qv"), col("cv")).as("ld2"))
    val approx = codes.join(broadcast(lut), Seq("m", "cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(sum(col("ld2")).as("ad2"), count(lit(1)).as("nm"))
      // only vectors with all M subspace terms (always true, belt+braces)
      .filter(col("nm") === PQ_M)
    TopK.perGroup(approx, Seq(col("q_id")), Seq(col("ad2").asc, col("vec_id").asc), k)
      .select(col("q_id"), col("vec_id").as("n_id"),
        r4(col("ad2")).as("approx_d2"), col("rk"))
  }

  /** The COMPOSED 100-TB vector-search layout: IVF cell assignment
    * partitions the corpus ([[ivfTopK]]'s coarse quantizer), PQ codes
    * compress what each probe scans ([[pqTopK]]'s ADC) — a query
    * ranks only the byte codes of vectors in its `probes` nearest
    * cells. Cell id is the partition/pruning key; within a probe the
    * scan is LUT arithmetic over 8-byte codes. Both halves keep their
    * standalone recall specs; composition recall = what IVF's probe
    * set retains of PQ's ranking. */
  /** Shared coarse-quantizer stage of both IVF×PQ variants: the
    * corpus's nearest-cell assignment and each query's `probes`
    * nearest cells, from ONE broadcast codebook row and the row-local
    * [[Nearest]] rule — a tie-break or rounding change there changes
    * both variants together, never one silently. */
  private def coarseAssign(e: DataFrame, seedIds: Seq[Long], probes: Int,
      queryPred: Column): (DataFrame, DataFrame, DataFrame) = {
    val cents = centsOf(e, seedIds)
      .select(col("cell").as("ivf_cell"), col("cv"))
    val booked = e.crossJoin(broadcast(Nearest.book(cents, "ivf_cell")))
    (cents,
      booked.select(col("vec_id"),
        Nearest.id(Nearest.nearest(col("v"), col("book"))).as("ivf_cell")),
      booked.filter(queryPred)
        .select(col("vec_id").as("q_id"),
          explode(Nearest.ranked(col("v"), col("book"), probes)).as("w"))
        .select(col("q_id"), col("w").getField("id").as("ivf_cell")))
  }

  /** Shared ADC ranking tail: sum the per-(query, candidate) LUT
    * terms, keep complete code coverage, rank ascending with id
    * tie-breaks. */
  private def adcTopK(approx: DataFrame, k: Int): DataFrame = {
    val ranked = approx
      .groupBy(col("q_id"), col("vec_id"))
      .agg(sum(col("ld2")).as("ad2"), count(lit(1)).as("nm"))
      .filter(col("nm") === PQ_M)
    TopK.perGroup(ranked, Seq(col("q_id")), Seq(col("ad2").asc, col("vec_id").asc), k)
      .select(col("q_id"), col("vec_id").as("n_id"),
        r4(col("ad2")).as("approx_d2"), col("rk"))
  }

  def ivfPqTopK(e: DataFrame, seedIds: Seq[Long], probes: Int,
                queryPred: Column, k: Int): DataFrame = {
    val (cents, corpusCells, qProbes) = coarseAssign(e, seedIds, probes, queryPred)
    val pqCents = pqTrain(e)
    val codes = pqCodes(e, pqCents)
      .join(corpusCells, Seq("vec_id"))
    // restrict each query's candidate codes to its probed cells, then
    // rank by ADC exactly as pqTopK does
    val lut = subvectors(e).filter(queryPred)
      .select(col("vec_id").as("q_id"), col("m"), col("sv").as("qv"))
      .join(pqCents, Seq("m"))
      .select(col("q_id"), col("m"), col("cell"),
        sqDistArr(col("qv"), col("cv")).as("ld2"))
    adcTopK(codes
      .join(broadcast(qProbes), Seq("ivf_cell"))
      .join(broadcast(lut), Seq("q_id", "m", "cell"))
      .filter(col("vec_id") =!= col("q_id")), k)
  }

  /** RESIDUAL-encoded IVF×PQ — the textbook refinement of
    * [[ivfPqTopK]] (Jégou et al. 2011's IVFADC): PQ codebooks train
    * on and codes encode the RESIDUAL `v − centroid(cell)` instead of
    * the raw vector, so the byte codes spend their bits on the
    * within-cell geometry the coarse quantizer already localized —
    * on clustered corpora residual magnitudes are far smaller than
    * vector magnitudes and the same M·log₂K bits quantize much finer.
    * Query side: the ADC lookup table is built per (query, PROBED
    * cell) against the query's residual in that cell — LUT rows =
    * |queries|·probes·M·K (probe-bounded, broadcast), versus the raw
    * variant's |queries|·M·K; candidates still meet the LUT only
    * inside their probed cells, so the scan is byte-code arithmetic
    * either way and the corpus's floats never participate at query
    * time.
    *
    * Scale shape identical to [[ivfPqTopK]]: cells bucket the
    * candidate work, codebooks/LUT broadcast, one keyed agg per
    * (query, candidate). The residual subtraction is one zip_with —
    * pure codegen map work on both sides. */
  def ivfPqResidualTopK(e: DataFrame, seedIds: Seq[Long], probes: Int,
                        queryPred: Column, k: Int): DataFrame = {
    val (cents, corpusCells, qProbes) = coarseAssign(e, seedIds, probes, queryPred)
    // residual stream: each corpus vector re-expressed against its
    // own cell's centroid (zip_with — no shuffle beyond the cell join)
    val res = e.join(corpusCells, Seq("vec_id"))
      .join(broadcast(cents), Seq("ivf_cell"))
      .select(col("vec_id"), col("ivf_cell"),
        zip_with(col("v"), col("cv"), (a, b) => a - b).as("v"))
    val pqCents = pqTrain(res.select(col("vec_id"), col("v")))
    val codes = pqCodes(res.select(col("vec_id"), col("v")), pqCents)
      .join(corpusCells, Seq("vec_id"))
    // per-(query, probed-cell) residual LUT: the query's residual
    // against EACH cell it probes, subspace-sliced exactly like the
    // corpus codes it will meet there
    val qres = e.filter(queryPred)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
      .join(qProbes, Seq("q_id"))
      .join(broadcast(cents), Seq("ivf_cell"))
      .select(col("q_id"), col("ivf_cell"),
        zip_with(col("qv"), col("cv"), (a, b) => a - b).as("qrv"))
    val lut = qres
      .select(col("q_id"), col("ivf_cell"),
        explode(sequence(lit(0), lit(PQ_M - 1))).as("m"), col("qrv"))
      .select(col("q_id"), col("ivf_cell"), col("m"),
        slice(col("qrv"), col("m") * PQ_SUBDIM + 1, lit(PQ_SUBDIM)).as("sv"))
      .join(pqCents, Seq("m"))
      .select(col("q_id"), col("ivf_cell"), col("m"), col("cell"),
        sqDistArr(col("sv"), col("cv")).as("ld2"))
    adcTopK(codes
      .join(broadcast(qProbes), Seq("ivf_cell"))
      .join(broadcast(lut), Seq("q_id", "ivf_cell", "m", "cell"))
      .filter(col("vec_id") =!= col("q_id")), k)
  }

  /** Probe sizing and recall floor for the q146 IVF×PQ contract row.
    * The probe count is SIZED, not fixed (the `itemSimsAuto`
    * discipline applied to the probe dial): with the corpus-growing
    * codebook, cells ∝ N, so any FIXED nprobe probes a vanishing
    * fraction of the corpus and the composed recall collapses at
    * scale (measured: probes=3 read recall_ok=1 at sf0.1's ~34 cells
    * but 0 at the sf1 replica's ~305). `probes = max(3, ⌈cells/8⌉)`
    * holds the probed fraction ≈ constant; per-query candidate work
    * stays probes · O(IVF_SEED_MOD) constant-occupancy buckets.
    * The floor (0.10) sits under the measured composed recall at the
    * gate/bench SFs (sf0.1: 0.158 at probes=5) and, like
    * [[PQ_RECALL_FLOOR]], catches codebook/LUT/probe-set regressions,
    * not absolute quality. KNOWN SF-BOUND: at the 10× replica the
    * composition reads 0.078 FLAT in the probe count (39 → 152
    * probes of 305 cells — measured, `BASELINE §r13`), i.e. the
    * limiter there is not probe selection but the 8-byte PQ code's
    * ranking ceiling on UNIFORM vectors (code collisions grow with
    * corpus at fixed M·log₂K bits); the dial that restores recall at
    * scale is bytes-per-vector ([[PQ_M]]/[[PQ_K]]), which production
    * corpora with real cluster structure need far less of.
    * AnnRecallSpec keeps the finer-grained curve. */
  val IVFPQ_MIN_PROBES = 3
  val IVFPQ_PROBE_DEN = 8L
  val IVFPQ_RECALL_FLOOR = 0.10

  /** The q146 probe dial as a pure function of the codebook size. */
  def ivfPqProbes(nCells: Long): Int =
    math.max(IVFPQ_MIN_PROBES,
      ((nCells + IVFPQ_PROBE_DEN - 1) / IVFPQ_PROBE_DEN).toInt)

  /** q146 — the COMPOSED IVF×PQ vector index as a contract row (the
    * q99 posture): run [[ivfPqTopK]] — coarse cells prune the corpus,
    * residual-free PQ codes ADC-rank inside the probe set — AND the
    * exact squared-L2 baseline on the same cohort, emit one row of
    * oracle-recomputable facts plus the `recall_ok` verdict the
    * DuckDB oracle pins to 1. A regression anywhere in the composed
    * layout (cell assignment, probe selection, codebooks, LUT join)
    * now hash-fails the driver row; this is the layout a 100-TB
    * vector corpus actually ships (IVF partitions + 8-byte codes:
    * the probe scans byte codes, never floats). */
  private def q146(spark: SparkSession, dir: String): DataFrame = {
    // cache scope: the contract reads e for cells, PQ training,
    // codes, queries and the exact audit; unpersist before returning
    // (the q99 discipline — bench repeats must not stack residencies)
    val e = emb(spark, dir).cache()
    try {
      val qPred = col("vec_id") % 25 === 0
      val probes = ivfPqProbes(centsOf(e, IVF_SEEDS).count())
      val ann = ivfPqTopK(e, IVF_SEEDS, probes, qPred, TOP_K)
        .select(col("q_id"), col("n_id"))
      val hits = exactTopK(e, qPred).join(ann, Seq("q_id", "n_id")).count()
      val (nCorpus, nq) = cohortCounts(e, qPred)
      // fixture precondition, asserted loudly: a cohort-less or
      // sub-k corpus would make recall NaN / structurally deflated,
      // and the oracle's pinned recall_ok=1 would then read as a
      // fake regression instead of a misconfigured fixture
      require(nq > 0, s"q146: empty query cohort (nCorpus=$nCorpus)")
      val kEff = math.min(TOP_K.toLong, nCorpus - 1)
      require(kEff > 0, s"q146: corpus too small for recall (n=$nCorpus)")
      val recall = hits.toDouble / (nq * kEff)
      import spark.implicits._
      Seq((nq, nCorpus, TOP_K, probes,
        if (recall >= IVFPQ_RECALL_FLOOR) 1 else 0))
        .toDF("n_queries", "n_corpus", "k", "probes", "recall_ok")
    } finally e.unpersist()
  }

  /** Label-amplification strength for the [[clusteredEmb]] fixture.
    * 0.2 already separates (measured); 0.5 sits on the plateau. */
  val CLUSTER_AMP = 0.5

  /** The CLUSTERED embedding fixture (VERDICT r13 next #3): the
    * driver's synthetic embeddings are near-uniform (weak label
    * structure — within-label centroid cosine ≈ 0.15), which is PQ's
    * worst case and makes recall contracts stop discriminating at
    * scale (q146's sf1 ceiling: 0.078 flat in probes). Real corpora
    * cluster; this fixture makes the table's own label structure
    * strong DETERMINISTICALLY: w[i] = v[i] + amp · dir(label)[i]
    * with dir(l)[i] = ((l·5 + i·3) mod 17) − 8 — the AnnRecallSpec
    * 16-center formula keyed by the corpus's labels. Pure per-row
    * arithmetic (no cross-row aggregation → no float-order parity
    * risk; both engines can replay it exactly), and because the
    * amplification rides IN-QUERY it generalizes unchanged to the
    * sf1 replica (BASELINE §"Re-measuring at sf1"): every copy's
    * vectors share the same 10 label centers, so the replica is 10
    * clusters at 10× membership — clustered structure at any scale
    * without a special build mode. */
  private[graft] def clusteredEmb(e: DataFrame): DataFrame =
    e.select(col("vec_id"),
      transform(col("v"), (x, i) =>
        x + ((col("label") * 5 + i * 3) % 17 - 8).cast("double")
          * lit(CLUSTER_AMP)).as("v"))

  /** q151 — residual IVFADC vs raw-code IVF×PQ as a contract row on
    * the clustered fixture: runs BOTH composed pipelines
    * ([[ivfPqResidualTopK]] / [[ivfPqTopK]]) plus the exact baseline
    * on [[clusteredEmb]]'s cohort and pins `residual_wins` — strictly
    * more residual hits than raw — to 1. This is the registration the
    * r13 verdict asked for: on the UNIFORM table the residual
    * advantage inverts (raw 0.17 vs res 0.11 — the honest negative,
    * spec-pinned in AnnRecallSpec), so the residual path could not be
    * oracle-gated at all; on the clustered fixture it wins at every
    * measured scale (sf0.001 0.345 vs 0.255, sf0.01 0.390 vs 0.290,
    * sf0.1 0.178 vs 0.110 — and the comparative bit, unlike an
    * absolute floor, discriminates at ALL of them: raw recall at
    * sf0.01 exceeds residual recall at sf0.1, so no single floor
    * could). A regression anywhere in the residual chain — per-cell
    * re-expression, residual LUT slicing, ADC join — flips the bit
    * and hash-fails the row. */
  private def q151(spark: SparkSession, dir: String): DataFrame = {
    val e = clusteredEmb(Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))).cache()
    try {
      val qPred = col("vec_id") % 25 === 0
      val probes = ivfPqProbes(centsOf(e, IVF_SEEDS).count())
      // the two composed pipelines ride ONE action as a tagged union
      // (r15): their stages overlap inside a single job instead of
      // running as two serial collect()s, and the exact baseline is
      // consumed once so it needs no scoped cache. A second action
      // folds the two fixture counts into one scalar agg. 4 serial
      // actions → 2 (§2.6 — q151 is latency-bound: 2 000 vectors,
      // 80 queries).
      val res = ivfPqResidualTopK(e, IVF_SEEDS, probes, qPred, TOP_K)
        .select(col("q_id"), col("n_id"), lit(1).as("is_res"))
      val raw = ivfPqTopK(e, IVF_SEEDS, probes, qPred, TOP_K)
        .select(col("q_id"), col("n_id"), lit(0).as("is_res"))
      val hitRow = exactTopK(e, qPred).join(res.unionByName(raw), Seq("q_id", "n_id"))
        .agg(sum(col("is_res")).as("res_hits"),
          sum(lit(1) - col("is_res")).as("raw_hits"))
        .collect()(0)
      val (resHits, rawHits) =
        (Option(hitRow.get(0)).fold(0L)(_.asInstanceOf[Long]),
          Option(hitRow.get(1)).fold(0L)(_.asInstanceOf[Long]))
      val (nCorpus, nq) = cohortCounts(e, qPred)
      require(nq > 0 && nCorpus > TOP_K,
        s"q151: degenerate fixture (nq=$nq, n=$nCorpus)")
      import spark.implicits._
      Seq((nq, nCorpus, TOP_K, probes,
        if (resHits > rawHits) 1 else 0))
        .toDF("n_queries", "n_corpus", "k", "probes", "residual_wins")
    } finally e.unpersist()
  }

  /** Query-cohort modulus, id cap and neighbor count for the label
    * probe. The cap makes the cohort a FIXED eval set (every 10th of
    * the first 500 ids) rather than a corpus fraction: accuracy
    * readouts stay comparable across corpus snapshots, and the
    * probe's cost stays one broadcast × one corpus scan at ANY corpus
    * size instead of growing quadratically with it. */
  val LPROBE_MOD = 10
  val LPROBE_ID_CAP = 500
  val LPROBE_K = 10

  /** q129 — embedding-space kNN label probe: the standard
    * encoder-quality readout an embedding pipeline runs before
    * trusting vectors for retrieval/dedup — leave-one-out k-nearest
    * classification of a held-out query cohort against the labeled
    * corpus, reported as per-label accuracy. Majority vote over the
    * k exact-cosine neighbors, ties broken toward the smallest label
    * (deterministic); prediction and vote counts are all-integer once
    * ranks exist, and ranks use the q22 discipline (r6(cos) desc,
    * n_id asc) — engine-exact end to end.
    *
    * Scale shape: the cohort is small by construction (a probe, not a
    * workload), so it rides a broadcast against ONE corpus scan —
    * q22's audited shape; the vote and the accuracy rollup are keyed
    * aggs on cohort-sized data. At corpus scale the neighbor source
    * swaps to the IVF (q42) / PQ (q99) ranked-list contract behind
    * the same vote. */
  def knnLabelProbe(e: DataFrame, queryPred: Column,
                    k: Int = LPROBE_K): DataFrame = {
    val q = e.filter(queryPred).select(col("vec_id").as("q_id"),
      col("v").as("qv"), col("label").as("true_label"))
    val pairs = e.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("true_label"), col("vec_id").as("n_id"),
        col("label").as("n_label"), r6(cosineArr(col("qv"), col("v"))).as("cos"))
    voteRollup(pairs, k)
  }

  /** The q129 vote + accuracy rollup over any labeled candidate pair
    * stream `(q_id, true_label, n_id, n_label, cos)` — shared by the
    * exact probe and its IVF twin, so the swap changes ONLY the
    * neighbor source. */
  private def voteRollup(pairs: DataFrame, k: Int): DataFrame = {
    val votes = TopK.perGroup(pairs, Seq(col("q_id")), Seq(col("cos").desc, col("n_id").asc), k)
      .groupBy(col("q_id"), col("true_label"), col("n_label"))
      .agg(count(lit(1)).as("nv"))
    TopK.perGroup(votes, Seq(col("q_id")), Seq(col("nv").desc, col("n_label").asc), 1, "vr")
      .groupBy(col("true_label"))
      .agg(count(lit(1)).as("n_queries"),
        sum(when(col("n_label") === col("true_label"), 1L).otherwise(0L))
          .as("n_correct"))
      .select(col("true_label"), col("n_queries"), col("n_correct"),
        r4(col("n_correct").cast("double") / col("n_queries")).as("acc"))
  }

  /** q129b — the label probe at CORPUS scale: the registered IVF swap
    * the q129 doc promised (VERDICT r10 next #3). The candidate
    * stream is [[ivfPairs]] (cell-bounded, probe-1 = the query's own
    * cell) with labels joined back; the vote is [[voteRollup]]
    * verbatim, so the ONLY semantic change is the neighbor source —
    * the q127b posture. Queries whose cell holds no other vector drop
    * out (no vote exists), the honest ANN semantics, mirrored in the
    * oracle's cell rule. */
  def knnLabelProbeIvf(e: DataFrame, queryPred: Column,
                       k: Int = LPROBE_K, probes: Int = 1): DataFrame = {
    // q-side labels are cohort-sized → broadcast; the n-side join is
    // (cohort × cell-occupancy) rows against corpus labels — small
    // side is the pairs, AQE picks the broadcast direction
    val qLabels = e.filter(queryPred)
      .select(col("vec_id").as("q_id"), col("label").as("true_label"))
    val pairs = ivfPairs(e, queryPred, IVF_SEEDS, probes)
      .join(broadcast(qLabels), Seq("q_id"))
      .join(e.select(col("vec_id").as("n_id"), col("label").as("n_label")),
        Seq("n_id"))
      .select(col("q_id"), col("true_label"), col("n_id"),
        col("n_label"), col("cos"))
    voteRollup(pairs, k)
  }

  private def q129b(spark: SparkSession, dir: String): DataFrame =
    knnLabelProbeIvf(Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"),
          col("label")),
      col("vec_id") % LPROBE_MOD === 0 && col("vec_id") < LPROBE_ID_CAP)

  private def q129(spark: SparkSession, dir: String): DataFrame =
    knnLabelProbe(Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"),
          col("label")),
      col("vec_id") % LPROBE_MOD === 0 && col("vec_id") < LPROBE_ID_CAP)

  /** q130 — embedding-space separation report: the geometric twin of
    * the q129 vote — per label, how tightly its vectors hug their own
    * centroid vs how close the nearest OTHER centroid sits. The
    * class-separability readout (Fisher/Davies–Bouldin shaped) that
    * decides whether a space is trustworthy for label-conditioned
    * sampling or classifier training.
    *
    * Exactness: the centroid is carried as the per-(label, dim) SUM
    * of r6-quantized coordinates in DECIMAL — order-independent at
    * any parallelism (the q116 centroid posture) — and cosine is
    * scale-invariant, so the sum vector stands in for the mean and NO
    * division ever touches the centroid. Per-vector cosines are
    * r6-quantized and averaged via a DECIMAL sum / count (the q106
    * mean pattern). Everything else is integer or a fixed two-term
    * IEEE expression.
    *
    * Scale shape: one posexplode pass → keyed (label, dim) agg that
    * partial-aggregates map-side (|labels|·|dims| rows out); the
    * centroid table is tiny and broadcasts back for ONE more corpus
    * scan (the intra pass); the inter-centroid ranking is
    * |labels|² rows. Nothing corpus-sized ever sorts or self-joins. */
  def labelSeparation(e: DataFrame): DataFrame = {
    val dims = e.select(col("label"), posexplode(col("v")))
      .select(col("label"), col("pos").as("dim"),
        r6(col("col")).cast("decimal(38,6)").as("xq"))
    val cvec = dims.groupBy(col("label"), col("dim"))
      .agg(sum(col("xq")).as("sx"))
      .groupBy(col("label"))
      .agg(transform(
        array_sort(collect_list(struct(col("dim"), col("sx").cast("double").as("c")))),
        s => s.getField("c")).as("sv"))
    val nvec = e.groupBy(col("label")).agg(count(lit(1)).as("n_vecs"))
    val imean = e.join(broadcast(cvec), Seq("label"))
      .select(col("label"), r6(cosineArr(col("v"), col("sv"))).as("icos"))
      .groupBy(col("label"))
      .agg(sum(col("icos").cast("decimal(20,6)")).as("s"), count(lit(1)).as("n"))
    val nn = cvec.join(
        broadcast(cvec.select(col("label").as("nn_label"), col("sv").as("sv_b"))),
        col("label") =!= col("nn_label"))
      .select(col("label"), col("nn_label"),
        r6(cosineArr(col("sv"), col("sv_b"))).as("ccos"))
      .transform(TopK.perGroup(_, Seq(col("label")), Seq(col("ccos").desc, col("nn_label").asc), 1))
    imean.join(nvec, Seq("label")).join(nn, Seq("label"))
      .select(col("label"), col("n_vecs"),
        r4(col("s").cast("double") / col("n")).as("intra_cos"),
        col("nn_label"), r4(col("ccos")).as("nn_cos"),
        (r4(col("s").cast("double") / col("n")) - r4(col("ccos"))).as("margin"))
  }

  private def q143(spark: SparkSession, dir: String): DataFrame =
    embeddingDrift(Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"),
        col("label")))

  /** q143 — embedding-space DRIFT: the geometric half of the q141
    * monitor. Per label, the cosine between the STANDING slice's and
    * the INCOMING slice's centroid (did the class move?) and the
    * mean-norm ratio (did the encoder's scale shift?) — the two
    * checks run before letting a re-embedded or newly-crawled batch
    * into a space the q105/q129/q132 family already indexes: a
    * centroid that rotated or a norm that drifted invalidates stored
    * IVF cells and calibrated thresholds. Same standing/incoming
    * slice as q105b ([[SEM_INCR_MOD]]).
    *
    * Float discipline (the q130 centroid path): each side's centroid
    * rides as the per-(label, dim) DECIMAL sum of r6-quantized
    * coordinates — order-free, and cosine's scale-invariance lets the
    * SUM vector stand in for the mean with no division; per-vector
    * norms r6-quantize into DECIMAL sums before the ratio's single
    * trailing IEEE division chain.
    *
    * Scale shape: one posexplode keyed agg per side (map-side
    * partials over |vecs|·dim rows) + a |labels|-row join — no
    * pairwise stage at all. Labels missing a side drop on the inner
    * join, identically in both engines. */
  def embeddingDrift(e: DataFrame): DataFrame = {
    val sided = e.withColumn("inc",
      (col("vec_id") % SEM_INCR_MOD === SEM_INCR_MOD - 1).cast("int"))
    val cvec = sided
      .select(col("label"), col("inc"), posexplode(col("v")))
      .select(col("label"), col("inc"), col("pos").as("dim"),
        r6(col("col")).cast("decimal(38,6)").as("xq"))
      .groupBy(col("label"), col("inc"), col("dim"))
      .agg(sum(col("xq")).as("sx"))
      .groupBy(col("label"), col("inc"))
      .agg(transform(
        array_sort(collect_list(struct(col("dim"), col("sx").cast("double").as("c")))),
        s => s.getField("c")).as("sv"))
    val stats = sided.select(col("label"), col("inc"),
        r6(sqrt(dotArr(col("v"), col("v"))))
          .cast("decimal(20,6)").as("nrm"))
      .groupBy(col("label"), col("inc"))
      .agg(count(lit(1)).as("n"), sum(col("nrm")).as("snrm"))
    val side = (df: DataFrame, flag: Int, suf: String) =>
      df.filter(col("inc") === flag).drop("inc")
        .withColumnRenamed("sv", s"sv$suf")
        .withColumnRenamed("n", s"n$suf")
        .withColumnRenamed("snrm", s"snrm$suf")
    side(cvec, 0, "_s").join(side(cvec, 1, "_i"), Seq("label"))
      .join(side(stats, 0, "_s"), Seq("label"))
      .join(side(stats, 1, "_i"), Seq("label"))
      .select(col("label"),
        col("n_s").as("n_standing"), col("n_i").as("n_incoming"),
        r4(cosineArr(col("sv_s"), col("sv_i"))).as("centroid_cos"),
        r4((col("snrm_i").cast("double") / col("n_i")) /
          (col("snrm_s").cast("double") / col("n_s"))).as("norm_ratio"))
  }

  private def q130(spark: SparkSession, dir: String): DataFrame =
    labelSeparation(Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"),
        col("label")))

  /** Hard negatives per anchor (q132). */
  val HNEG_K = 5

  /** q132 — triplet mining for embedding-model training (the
    * DPR/ANCE hard-negative step): for each anchor in a fixed cohort,
    * the top-1 SAME-label neighbor is the positive and the k nearest
    * DIFFERENT-label vectors are the hard negatives — the wrong-label
    * items the model currently confuses, exactly what contrastive
    * fine-tuning wants in the denominator. One row per
    * (anchor, neg_rank) = one training triplet, with the cosine
    * margin (pos − neg) the loss will push on. Anchors whose label
    * has no second member drop (no positive exists — the honest
    * semantics, deterministic on both engines).
    *
    * Exactness: both rankings use the q22 discipline (r6(cos) desc,
    * id asc); the margin is a subtraction of two r4 values — a single
    * IEEE op on identical inputs. Scale shape: the fixed cohort rides
    * ONE broadcast against ONE corpus scan (the q129 posture); at
    * corpus scale the neighbor stream swaps to the IVF/PQ ranked-list
    * contract (the q127b swap) and the mining joins are unchanged. */
  def hardNegatives(e: DataFrame, queryPred: Column,
                    k: Int = HNEG_K): DataFrame = {
    val anchors = e.filter(queryPred).select(col("vec_id").as("a_id"),
      col("v").as("av"), col("label").as("a_label"))
    val pairs = e.join(broadcast(anchors), col("vec_id") =!= col("a_id"))
      .select(col("a_id"), col("a_label"), col("vec_id").as("n_id"),
        col("label").as("n_label"), r6(cosineArr(col("av"), col("v"))).as("cos"))
    mineTriplets(pairs, k)
  }

  /** The q132 positive/negative mining windows over any labeled
    * candidate pair stream `(a_id, a_label, n_id, n_label, cos)` —
    * shared by the exact miner and its IVF twin. */
  private def mineTriplets(pairs: DataFrame, k: Int): DataFrame = {
    val byCos = Seq(col("cos").desc, col("n_id").asc)
    val pos = pairs.filter(col("n_label") === col("a_label"))
      .transform(TopK.perGroup(_, Seq(col("a_id")), byCos, 1))
      .select(col("a_id"), col("n_id").as("pos_id"), col("cos").as("pos_cos"))
    val neg = pairs.filter(col("n_label") =!= col("a_label"))
      .transform(TopK.perGroup(_, Seq(col("a_id")), byCos, k, "neg_rank"))
      .select(col("a_id"), col("a_label"), col("neg_rank"),
        col("n_id").as("neg_id"), col("cos").as("neg_cos"))
    neg.join(pos, Seq("a_id"))
      .select(col("a_id"), col("a_label"), col("pos_id"),
        r4(col("pos_cos")).as("pos_cos"), col("neg_rank"), col("neg_id"),
        r4(col("neg_cos")).as("neg_cos"),
        (r4(col("pos_cos")) - r4(col("neg_cos"))).as("margin"))
  }

  /** q132b — triplet mining at CORPUS scale: the registered IVF swap
    * the q132 doc promised (VERDICT r10 next #3). Candidates are the
    * cell-bounded [[ivfPairs]] stream (never a corpus broadcast), the
    * mining windows are [[mineTriplets]] verbatim. Anchors whose
    * probed cells hold no same-label vector drop (no positive exists
    * among the ANN candidates — the honest semantics; the exact twin
    * drops only label-singletons). Mirrored in the oracle's cell
    * rule. */
  def hardNegativesIvf(e: DataFrame, queryPred: Column,
                       k: Int = HNEG_K, probes: Int = 1): DataFrame = {
    val aLabels = e.filter(queryPred)
      .select(col("vec_id").as("a_id"), col("label").as("a_label"))
    val pairs = ivfPairs(e, queryPred, IVF_SEEDS, probes)
      .select(col("q_id").as("a_id"), col("n_id"), col("cos"))
      .join(broadcast(aLabels), Seq("a_id"))
      .join(e.select(col("vec_id").as("n_id"), col("label").as("n_label")),
        Seq("n_id"))
      .select(col("a_id"), col("a_label"), col("n_id"),
        col("n_label"), col("cos"))
    mineTriplets(pairs, k)
  }

  private def q132b(spark: SparkSession, dir: String): DataFrame =
    hardNegativesIvf(Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"),
          col("label")),
      col("vec_id") % LPROBE_MOD === 0 && col("vec_id") < LPROBE_ID_CAP)

  private def q132(spark: SparkSession, dir: String): DataFrame =
    hardNegatives(Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"),
          col("label")),
      col("vec_id") % LPROBE_MOD === 0 && col("vec_id") < LPROBE_ID_CAP)
}
