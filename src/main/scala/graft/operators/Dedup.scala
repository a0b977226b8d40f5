package graft.operators

import org.apache.spark.HashPartitioner
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType,
  StructField, StructType}
import graft.sources.Tables
import graft.functions.VectorFns
import graft.functions.Rounding.r4

/**
 * Document deduplication operators over the `documents` table — the
 * LLM-training-pipeline family (exact hash dedup, MinHash+LSH near-dup,
 * SimHash fingerprints). The reference engine has no text path; these
 * follow the standard published designs (Broder MinHash/LSH banding,
 * Charikar SimHash) expressed as keyed DataFrame pipelines.
 *
 * Scale design: the near-dup join is BUCKETED — documents only meet
 * inside an (band_id, band_hash) bucket, never all-pairs. Signature
 * hashing uses an md5-prefix base hash (portable across engines, unlike
 * Murmur3) with 16 affine permutations mod 2^31-1; every step is
 * integer arithmetic, so results are bit-stable across engines and
 * partitionings.
 *
 * One shingle set per document: [[docShingleSets]] is the only code
 * that turns text into a shingle set. The band signatures are built
 * from it (batch: [[shingleStream]] into [[minhashBands]]; row-local:
 * [[bandStructs]]), and every exact-Jaccard verify — q20, q95 and the
 * streaming ingest gate — is [[verifyJaccard]] over two of its sets.
 */
object Dedup {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q18_exact_dedup" -> q18,
    "q19_minhash_bands" -> q19,
    "q20_neardup_pairs" -> q20,
    "q21_simhash" -> q21,
    "q50_dedup_clusters" -> q50,
    "q85_fuzzy_pairs" -> q85,
    "q92_dedup_keep" -> q92,
    "q95_incremental_dedup" -> q95,
    "q117_dup_spans" -> q117,
    "q117b_span_scrub" -> q117b,
    "q126_dedup_impact" -> q126,
    "q137_dup_affinity" -> q137,
    "q140_dedup_curve" -> q140
  )

  val CLUSTER_JACCARD = 0.5

  val NUM_PERMS = 16
  val NUM_BANDS = 4 // 4 rows per band

  /** MinHash-LSH parameter planning (Leskovec–Rajaraman–Ullman, MMDS
    * §3.4.3): for a signature budget of `nPerm` hashes and a target
    * Jaccard threshold τ, pick `(bands, rows)` with bands·rows ≤ nPerm
    * minimizing weighted false-positive + false-negative probability
    * mass under the S-curve P(candidate | s) = 1 − (1 − s^rows)^bands
    * — ∫₀^τ P (false-positive area) and ∫_τ^1 (1 − P) (false-negative
    * area), trapezoid-integrated at 1e-3 resolution. This is the
    * sizing dial an operator turns when retuning the dedup family for
    * a new corpus or threshold: more perms buy a steeper curve; a
    * higher `fnWeight` biases toward recall (dedup pipelines usually
    * verify candidates exactly, so false positives only cost compute
    * while false negatives cost corpus quality — weight accordingly).
    * Pure arithmetic, deterministic; the shipped 16/4 geometry stays
    * the hash-compat default for the registered queries. */
  def lshPlan(threshold: Double, nPerm: Int = NUM_PERMS,
              fpWeight: Double = 1.0, fnWeight: Double = 1.0): (Int, Int) = {
    require(threshold > 0 && threshold < 1 && nPerm >= 1)
    def pCand(s: Double, b: Int, r: Int): Double =
      1.0 - math.pow(1.0 - math.pow(s, r), b)
    def err(b: Int, r: Int): Double = {
      val n = 1000
      var fp = 0.0
      var fn = 0.0
      var i = 0
      while (i < n) {
        val s0 = i.toDouble / n
        val s1 = (i + 1).toDouble / n
        val mid = (pCand(s0, b, r) + pCand(s1, b, r)) / 2 * (s1 - s0)
        if (s1 <= threshold) fp += mid
        else if (s0 >= threshold) fn += (s1 - s0) - mid
        else { // straddling cell: split at τ
          fp += pCand((s0 + threshold) / 2, b, r) * (threshold - s0)
          fn += (1 - pCand((threshold + s1) / 2, b, r)) * (s1 - threshold)
        }
        i += 1
      }
      fpWeight * fp + fnWeight * fn
    }
    val plans = for (r <- 1 to nPerm; b <- 1 to nPerm / r) yield (b, r)
    plans.minBy { case (b, r) => (err(b, r), -b * r, r) }
  }
  val P31 = 2147483647L // 2^31 - 1

  /** Whitespace-collapsed lowercase normal form shared by all dedup ops. */
  def normText(c: Column): Column =
    regexp_replace(lower(trim(c)), "\\s+", " ")

  /** Portable 28-bit base hash: first 7 hex chars of md5. Murmur3/xxhash
    * differ across engines; md5 is identical everywhere. */
  def baseHash(c: Column): Column =
    conv(substring(md5(c), 1, 7), 16, 10).cast("long")

  /** Exact dedup: group by md5 of the normalized text; one row per
    * distinct content with the canonical (minimum) id and the member
    * list. The groupBy-hash shape is the 100-TB path — the hash is the
    * shuffle key, so identical docs co-locate regardless of volume. */
  private def q18(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), md5(normText(col("text"))).as("text_hash"))
      .groupBy(col("text_hash"))
      .agg(min(col("doc_id")).as("canonical_id"),
        count(lit(1)).as("n_docs"),
        concat_ws(",", transform(sort_array(collect_list(col("doc_id"))),
          x => x.cast("string"))).as("doc_ids_csv"))

  /** Session-cached [[docShingleSets]] of the corpus — the per-doc
    * shingle sets every MinHash consumer is algebra over: the band
    * table ([[bandsCached]]) and the exact-Jaccard verify of q20/q95
    * ([[verifyJaccard]]). One corpus tokenize pass per session instead
    * of one per query. */
  private[graft] def shingleSetsCached(spark: SparkSession, dir: String): DataFrame =
    docShingleSets(Tables.documents(spark, dir)).cache()

  /** Session-cached corpus band table — [[minhashBands]] over the
    * explode of [[shingleSetsCached]]. Band signatures are pure per-doc
    * functions, so any doc-predicate slice of this table (q95's old/new
    * split, q149's old-snapshot fixture) is bit-identical to deriving
    * the bands from the sliced docs. */
  private[graft] def bandsCached(spark: SparkSession, dir: String): DataFrame =
    minhashBands(explodeSets(shingleSetsCached(spark, dir))).cache()

  private def q19(spark: SparkSession, dir: String): DataFrame =
    bandsCached(spark, dir)

  /** MinHash signatures banded for LSH: 16 affine permutations
    * (aᵢ·h + bᵢ) mod 2³¹-1 over the shingle base hashes, min per doc,
    * grouped into 4 bands of 4 rows; band_hash = md5 of the joined
    * band slice. Emits (doc_id, band_id, band_hash) — the bucket key
    * for the q20 join. Reusable library surface: band signatures for
    * any (doc_id, s) shingle DataFrame. */
  def minhashBands(sh: DataFrame): DataFrame = {
    val h = sh.select(col("doc_id"), baseHash(col("s")).as("h0"))
    val mins = (0 until NUM_PERMS).map { i =>
      min((col("h0") * lit(2L * i + 1) + lit(7919L * i + 13)) % P31).as(s"s$i")
    }
    val sig = h.groupBy("doc_id").agg(mins.head, mins.tail: _*)
    val bands = (0 until NUM_BANDS).map { b =>
      val slice = (0 until NUM_PERMS / NUM_BANDS).map(r => col(s"s${b * 4 + r}"))
      struct(lit(b).as("band_id"), md5(concat_ws("_", slice: _*)).as("band_hash"))
    }
    sig.select(col("doc_id"), explode(array(bands: _*)).as("band"))
      .select(col("doc_id"), col("band.band_id").as("band_id"),
        col("band.band_hash").as("band_hash"))
  }

  /** Long (doc_id, s) distinct-shingle stream for any docs frame —
    * the input shape [[minhashBands]]' batch groupBy form consumes:
    * [[docShingleSets]]' arrays exploded, one row per (doc, shingle).
    * Each array is already distinct, so no (doc_id, s) distinct
    * exchange runs, and the rows keep the docs frame's partitioning —
    * a docs frame hash-partitioned on doc_id feeds minhashBands'
    * groupBy(doc_id) without a shuffle. */
  def shingleStream(docs: DataFrame): DataFrame =
    explodeSets(docShingleSets(docs))

  /** [[docShingleSets]]' arrays as the long (doc_id, s) stream. */
  private[graft] def explodeSets(sets: DataFrame): DataFrame =
    sets.select(col("doc_id"), explode(col("sh_set")).as("s"))

  /** Per-doc DISTINCT word-3-shingle set as an ARRAY column, with its
    * size `n_sh` — the only place text becomes a shingle set (docs
    * shorter than 3 tokens drop out, in both engines identically). One
    * row per doc and no aggregation, so a STREAM computes it with no
    * state. `keep` columns of `docs` ride along after `doc_id`. The
    * set leaves a one-element `explode`, so the non-empty filter reads
    * the generated column: over a projected alias the optimizer would
    * push the filter below the projection with the alias inlined,
    * shingling every document twice. */
  def docShingleSets(docs: DataFrame, keep: Seq[String] = Nil): DataFrame =
    docs.select((col("doc_id") +: keep.map(col)) :+
        explode(array(array_distinct(VectorFns.shingles(
          VectorFns.tokens(normText(col("text"))), 3)))).as("sh_set"): _*)
      .filter(size(col("sh_set")) > 0)
      .withColumn("n_sh", size(col("sh_set")).cast("long"))

  /** Map-only band signatures: [[minhashBands]]'s numbers computed
    * per ROW with array HOFs (transform + array_min over the doc's own
    * shingle set) instead of an explode + groupBy-min — bit-identical
    * output (spec-pinned), zero exchanges, and therefore legal inside
    * a streaming map stage where an aggregation would need state.
    * This is the ingest-side shape: signatures are a property of the
    * document alone, so they never required a shuffle. */
  def mapOnlyBands(docs: DataFrame): DataFrame =
    docShingleSets(docs)
      .select(col("doc_id"), explode(bandStructs(col("sh_set"))).as("band"))
      .select(col("doc_id"), col("band.band_id").as("band_id"),
        col("band.band_hash").as("band_hash"))

  /** The row-local signature core of [[mapOnlyBands]]: an ARRAY of
    * (band_id, band_hash) structs over a `sh_set` array column —
    * composable into any map stage (the streaming gate inlines it so
    * the whole signature ride stays one linear flow on the stream).
    * Each shingle is hashed once: the base-hash array is bound to one
    * lambda variable (a one-element `transform`), and the 16
    * permutations run over that array of longs. */
  def bandStructs(shSet: Column): Column =
    transform(array(transform(shSet, baseHash(_))), hs => {
      val sigs = (0 until NUM_PERMS).map { i =>
        array_min(transform(hs, h => (h * lit(2L * i + 1) + lit(7919L * i + 13)) % P31))
      }
      array((0 until NUM_BANDS).map { b =>
        val slice = (0 until NUM_PERMS / NUM_BANDS).map(r => sigs(b * 4 + r))
        struct(lit(b).as("band_id"), md5(concat_ws("_", slice: _*)).as("band_hash"))
      }: _*)
    }).getItem(0)

  /** The exact-Jaccard verify every near-dup path shares. `cand` holds
    * candidate pairs and already carries the first doc's set as
    * `set_a`/`n_a` (see [[withSets]]); the second doc, keyed by column
    * `b`, takes its set from `sets` ([[docShingleSets]]' shape).
    * Returns `cand`'s other columns plus `jaccard` = r4(n_inter /
    * (n_a + n_b − n_inter)), n_inter = |set_a ∩ set_b|. Both arrays
    * hold distinct shingles, so the intersection size is the row count
    * a join of the long (doc, shingle) forms on (doc, s) would give,
    * and a pair with no shared shingle reads 0. */
  def verifyJaccard(cand: DataFrame, sets: DataFrame, b: String): DataFrame = {
    val out = cand.columns.filterNot(Set("set_a", "n_a")).map(col)
    withSets(cand, sets, b, "b")
      .withColumn("n_inter", size(array_intersect(col("set_a"), col("set_b"))).cast("long"))
      .select(out :+ r4(col("n_inter").cast("double") /
        (col("n_a") + col("n_b") - col("n_inter"))).as("jaccard"): _*)
  }

  /** `df` joined (inner) with the shingle set of the doc keyed by its
    * column `key`, as `set_<side>`/`n_<side>`. */
  def withSets(df: DataFrame, sets: DataFrame, key: String, side: String): DataFrame =
    df.join(sets.select(col("doc_id").as(key), col("sh_set").as(s"set_$side"),
      col("n_sh").as(s"n_$side")), Seq(key))

  /** Session-cached verified pair table — q20 and q50 both consume it
    * (q50's clusters are a threshold filter + components over the SAME
    * pairs), and CacheManager plan-dedup gives them ONE run of the
    * shingle→minhash→band-join→verify pipeline per session (the
    * itemSimsCached pattern). The 254-row result (sf0.1) costs nothing
    * to pin; library callers own their own caching as usual. */
  private[graft] def neardupPairsCached(spark: SparkSession, dir: String): DataFrame =
    verifiedNeardupPairs(spark, dir).cache()

  private def q20(spark: SparkSession, dir: String): DataFrame =
    neardupPairsCached(spark, dir)

  /** q137 — cross-source duplication AFFINITY: the q20 verified pairs
    * (jaccard ≥ [[CLUSTER_JACCARD]]) rolled up to (source, source)
    * counts — the provenance readout that says WHICH scrapes/dumps
    * duplicate into which. Off-diagonal mass tells a pipeline two
    * acquisition channels overlap (fix upstream: drop or re-scope one
    * feed); diagonal mass is ordinary within-source boilerplate for
    * the dedup pass. The unordered pair key normalizes via
    * least/greatest so (x, y) and (y, x) accumulate together.
    *
    * Scale shape: rides the session-cached pair table (bucketed LSH,
    * never all-pairs); the rollup joins the |pairs|-sized edge list —
    * orders of magnitude below corpus size — to the doc→source dim
    * twice and folds into a ≤|sources|² agg. */
  def dupAffinity(spark: SparkSession, dir: String): DataFrame = {
    val src = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    neardupPairsCached(spark, dir)
      .filter(col("jaccard") >= CLUSTER_JACCARD)
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")),
        Seq("doc_a"))
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")),
        Seq("doc_b"))
      .select(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  private def q137(spark: SparkSession, dir: String): DataFrame =
    dupAffinity(spark, dir)

  /** Jaccard thresholds q140 sweeps (the verify floor 0.4 up to an
    * exact-dup-only 0.9). */
  val TAU_GRID: Seq[Double] = Seq(0.4, 0.5, 0.6, 0.7, 0.8, 0.9)

  /** q140 — the dedup-threshold OPERATING CURVE (q134's posture
    * applied to the near-dup family): for every candidate τ, how many
    * verified pairs survive and how many documents the GREEDY
    * pairwise rule drops (a doc drops iff a smaller-id partner sits
    * at ≥ τ — q105's published greedy shape). Note this is a LOWER
    * BOUND on the q50/q92 cluster-canonical drop count: transitive
    * chains (1~5, 3~5) drop doc 3 under the cluster rule but not
    * here, because 3's only partner has a larger id. The curve is
    * still the right τ-picking readout — both rules move together —
    * and the bound direction is stated so nobody reads it as the
    * exact cluster loss. Grid rows with zero surviving pairs still
    * emit (0, 0): a curve with silently missing points misreads as a
    * cliff.
    *
    * Scale shape: rides the session-cached verified pairs (bucketed
    * LSH candidates only); the sweep is one |pairs|×|grid| explode
    * into two keyed aggs — pair counts and distinct dropped docs —
    * then a broadcast grid left-join to restore empty points. */
  def dedupCurve(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val grid = TAU_GRID.toDF("tau")
    val hits = neardupPairsCached(spark, dir)
      .select(col("doc_a"), col("doc_b"), col("jaccard"),
        explode(array(TAU_GRID.map(lit): _*)).as("tau"))
      .filter(col("jaccard") >= col("tau"))
    val pairCounts = hits.groupBy(col("tau"))
      .agg(count(lit(1)).as("n_pairs"))
    // greedy q105/q92 drop rule: a doc drops iff a smaller-id partner
    // sits at or above τ — doc_b of each (doc_a < doc_b) pair
    val dropCounts = hits.select(col("tau"), col("doc_b")).distinct()
      .groupBy(col("tau")).agg(count(lit(1)).as("n_docs_dropped"))
    grid.join(pairCounts, Seq("tau"), "left")
      .join(dropCounts, Seq("tau"), "left")
      .select(col("tau"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_docs_dropped"), lit(0L)).as("n_docs_dropped"))
  }

  private def q140(spark: SparkSession, dir: String): DataFrame =
    dedupCurve(spark, dir)

  /** Near-duplicate pairs: LSH candidates (same band hash in ≥1 band,
    * a bucketed self-join — NEVER all-pairs) verified with the exact
    * shingle Jaccard. Emits every candidate pair with its verified
    * similarity so downstream thresholds stay a filter, not a re-join. */
  private def verifiedNeardupPairs(spark: SparkSession, dir: String): DataFrame = {
    val sets = shingleSetsCached(spark, dir)
    val bands = bandsCached(spark, dir)
    val cand = bands.as("a")
      .join(bands.as("b"),
        col("a.band_id") === col("b.band_id") &&
          col("a.band_hash") === col("b.band_hash") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    verifyJaccard(withSets(cand, sets, "doc_a", "a"), sets, "doc_b")
  }

  /** Near-dup CLUSTERS: connected components over the verified q20
    * pair graph (jaccard ≥ 0.5) — the step that turns pairs into
    * canonical dedup groups in a real corpus pipeline. Components via
    * iterative min-label propagation: each round every node adopts the
    * smallest label among itself and its neighbors; loop until a round
    * changes nothing (one Spark job per round over co-partitioned
    * label state — see [[connectedComponents]]; label state never
    * leaves the cluster). Emits one row per cluster with
    * the canonical (minimum) doc id. Deterministic regardless of
    * iteration count because it runs to convergence. */
  private def q50(spark: SparkSession, dir: String): DataFrame =
    nearDupLabels(spark, dir)
      .groupBy(col("label").as("canonical_id"))
      .agg(count(lit(1)).as("n_docs"),
        concat_ws(",", transform(sort_array(collect_list(col("doc_id"))),
          x => x.cast("string"))).as("member_csv"))
      .filter(col("n_docs") > 1) // singleton "clusters" are just unique docs

  /** The near-dup cluster labels `(doc_id, label)` that q50, q92, q100
    * and q126 read: [[connectedComponents]] over the session-cached
    * verified pairs with jaccard ≥ [[CLUSTER_JACCARD]]. Only edge
    * ENDPOINTS can land in a >1-doc cluster, so the label iteration
    * runs over the (small) near-dup node set, not the whole corpus.
    * The pairs need no checkpoint: they are a session cache, and
    * [[connectedComponents]] reads the edges once, into its
    * co-partitioned adjacency state. */
  private[graft] def nearDupLabels(spark: SparkSession, dir: String): DataFrame = {
    val pairs = neardupPairsCached(spark, dir)
      .filter(col("jaccard") >= CLUSTER_JACCARD)
      .select(col("doc_a"), col("doc_b"))
    val nodes = pairs.select(col("doc_a").as("doc_id"))
      .union(pairs.select(col("doc_b").as("doc_id"))).distinct()
    connectedComponents(nodes, pairs)
  }

  /** q126 — the dedup IMPACT report: what running the q50/q92
    * near-dedup actually buys, by cluster size — the table a dedup
    * paper (or a capacity review) prints before anyone agrees to pay
    * for the pass. Per cluster size: how many clusters, how many
    * documents a canonical-keep removes (size − 1 each), and the
    * token mass those removals free. Rides the SAME session-cached
    * verified pairs as q20/q50/q92 (near-zero marginal cost after
    * any of them ran) and the same convergent components, so the
    * numbers are exactly q92's keep-set, aggregated.
    *
    * Scale shape: labels exist only for near-dup edge ENDPOINTS (the
    * tiny slice); the token join touches that slice, not the corpus;
    * the final agg is size-bucketed — a handful of rows. */
  private def q126(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(VectorFns.tokens(col("text"))).cast("long").as("n_tok"))
    nearDupLabels(spark, dir)
      .join(toks, Seq("doc_id"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("sz"),
        sum(when(col("doc_id") =!= col("label"), col("n_tok"))
          .otherwise(lit(0L))).as("rm_tok"))
      .filter(col("sz") > 1)
      .groupBy(col("sz").as("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"),
        sum(col("sz") - 1).as("docs_removed"),
        sum(col("rm_tok")).as("tokens_removed"))
  }

  /** Source-id split point for q95: sources ≥ this are the "new
    * batch", the rest the standing corpus. */
  val INCREMENTAL_SPLIT = 10

  /** Incremental (cross-corpus) near-dedup — the ingest-time variant
    * of q20: a NEW batch of documents is checked against the standing
    * corpus, and only cross pairs (new × existing) are generated —
    * never new×new or existing×existing. This is the shape that
    * matters operationally: the standing corpus's bands are a
    * precomputed index you probe with each incoming batch, so ingest
    * cost scales with the batch, not the corpus. Candidates meet only
    * inside (band_id, band_hash) buckets as always; exact-Jaccard
    * verify then keeps real duplicates (≥ [[CLUSTER_JACCARD]]). */
  private def q95(spark: SparkSession, dir: String): DataFrame = {
    val srcs = Tables.documents(spark, dir).select(col("doc_id"),
      // unbounded suffix (matches the oracle's substr(source, 4)) —
      // a bounded length would silently drift if source ids grow
      expr("substring(source, 4)").cast("int").as("src_id"))
    val sets = shingleSetsCached(spark, dir)
    val bands = bandsCached(spark, dir).join(srcs, Seq("doc_id"))
    val newB = bands.filter(col("src_id") >= INCREMENTAL_SPLIT)
      .select(col("doc_id").as("new_doc_id"), col("band_id"), col("band_hash"))
    val oldB = bands.filter(col("src_id") < INCREMENTAL_SPLIT)
      .select(col("doc_id").as("existing_doc_id"), col("band_id"), col("band_hash"))
    val cand = newB.join(oldB, Seq("band_id", "band_hash"))
      .select(col("new_doc_id"), col("existing_doc_id")).distinct()
    verifyJaccard(withSets(cand, sets, "new_doc_id", "a"), sets, "existing_doc_id")
      .filter(col("jaccard") >= CLUSTER_JACCARD)
  }

  /** Canonical-corpus selection — the step that turns q50's clusters
    * into the deduplicated training corpus: every document labeled
    * with its cluster canonical (itself when unclustered), kept iff it
    * IS the canonical. Downstream consumers filter `kept = 1` and the
    * near-dups are gone with exactly one survivor per cluster. Rides
    * the same session-cached verified pairs as q20/q50 (one
    * shingle→minhash→verify run per session); the label table is
    * |near-dup nodes| rows — a broadcast-scale left join back onto the
    * corpus, which itself never shuffles. */
  private def q92(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("n_chars"))
    // no broadcast hint: the label table is |near-dup nodes| rows —
    // tiny here, corpus-scale on a dup-heavy crawl. AQE decides.
    docs.join(nearDupLabels(spark, dir), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("label"), col("doc_id")).as("canonical_id"),
        (coalesce(col("label"), col("doc_id")) === col("doc_id"))
          .cast("int").as("kept"),
        col("source"), col("n_chars"))
  }

  /** Reusable library surface: connected components of an undirected
    * edge list over the given node set → (doc_id, label) with label =
    * the component's minimum node id, both typed like `nodes.doc_id`
    * (any integral type). An isolated node keeps its own id; an edge
    * endpoint missing from `nodes` neither sends nor receives a label;
    * a null node comes back as (null, null), and an edge with a null
    * endpoint joins nothing.
    *
    * Min-label propagation over co-partitioned state. One set-up
    * cogroup keys every node with its distinct neighbours (both
    * directions of each edge) under one HashPartitioner of
    * `spark.sql.shuffle.partitions`, so the state holds each node's
    * adjacency once. Each round only the nodes whose label fell in the
    * last round send it to their neighbours; the map-side-combined
    * `reduceByKey(min)` onto the same partitioner is the round's only
    * shuffle, and the `leftOuterJoin` back onto the state is narrow.
    * The new state is locally checkpointed and the round's
    * changed-count action materializes it: ONE Spark job per round,
    * and lineage never grows across rounds. In memory, a round's state
    * shares the neighbour arrays of the state before it; superseded
    * states are released by the context cleaner, as the DataFrame
    * loop's were.
    *
    * Convergence is O(component diameter) rounds plus one quiet round
    * — fine for near-dup graphs, whose clusters are dense and shallow.
    * For deep chain graphs prefer a pointer-doubling /
    * large-star-small-star scheme (O(log n) rounds). */
  def connectedComponents(nodes: DataFrame, edges: DataFrame): DataFrame = {
    val spark = nodes.sparkSession
    val idType = nodes.schema("doc_id").dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(idType),
      s"connectedComponents needs integral ids, got $idType")
    val part = new HashPartitioner(spark.sessionState.conf.numShufflePartitions)
    def longs(df: DataFrame, cs: String*) =
      df.select(cs.map(col(_).cast(LongType)): _*).queryExecution.toRdd
    val ids = longs(nodes, "doc_id").map(r =>
      (if (r.isNullAt(0)) null else java.lang.Long.valueOf(r.getLong(0)), ()))
    val adj = longs(edges, "doc_a", "doc_b").flatMap { r =>
      if (r.isNullAt(0) || r.isNullAt(1)) Iterator.empty
      else {
        val (a, b) = (r.getLong(0), r.getLong(1))
        Iterator((java.lang.Long.valueOf(a), b), (java.lang.Long.valueOf(b), a))
      }
    }
    // a key with no node row is an endpoint outside `nodes`: no state
    var state = ids.cogroup(adj, part).mapPartitions(_.collect {
      case (id, (copies, nbrs)) if copies.nonEmpty =>
        id -> CcNode(if (id == null) 0L else id.longValue, nbrs.toArray.distinct,
          copies.size, changed = true)
    }, preservesPartitioning = true).localCheckpoint()
    var changed = 1L
    while (changed > 0) {
      val best = state.flatMap { case (_, n) =>
        if (n.changed) n.nbrs.iterator.map(v => (java.lang.Long.valueOf(v), n.label))
        else Iterator.empty
      }.reduceByKey(part, math.min(_, _))
      val next = state.leftOuterJoin(best, part).mapValues {
        case (n, Some(l)) if l < n.label => n.copy(label = l, changed = true)
        case (n, _) => if (n.changed) n.copy(changed = false) else n
      }.localCheckpoint()
      changed = next.filter(_._2.changed).count()
      state = next
    }
    val rows = state.flatMap { case (id, n) =>
      Iterator.fill(n.copies)(if (id == null) Row(null, null) else Row(id, n.label))
    }
    spark.createDataFrame(rows, StructType(Seq(
        StructField("doc_id", LongType), StructField("label", LongType))))
      .select(col("doc_id").cast(idType), col("label").cast(idType))
  }

  /** One node of [[connectedComponents]]' state: its current label,
    * its distinct neighbours, how many `nodes` rows carry its id, and
    * whether its label fell in the last round. */
  private final case class CcNode(label: Long, nbrs: Array[Long], copies: Int,
      changed: Boolean)

  /** SimHash: 32-bit locality-sensitive fingerprint from token counts.
    * Bit j is set when the count-weighted sum of (2·bitⱼ(h)−1) over all
    * tokens is positive; all-integer, so engine-exact. Near-dup search
    * then becomes Hamming distance on a single long — the cheapest
    * scale path of the three. */
  private def q21(spark: SparkSession, dir: String): DataFrame = {
    val tokCnt = Tables.documents(spark, dir)
      .select(col("doc_id"),
        explode(VectorFns.tokens(normText(col("text")))).as("tok"))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("cnt"))
    val h = tokCnt.select(col("doc_id"), col("cnt"),
      conv(substring(md5(col("tok")), 1, 8), 16, 10).cast("long").as("h0"))
    h.select(col("doc_id"), col("cnt"), col("h0"),
        explode(sequence(lit(0), lit(31))).as("j"))
      .withColumn("contrib",
        when(expr("(h0 DIV shiftleft(CAST(1 AS BIGINT), j)) % 2") === 1, col("cnt"))
          .otherwise(-col("cnt")))
      .groupBy(col("doc_id"), col("j"))
      .agg(sum(col("contrib")).as("w"))
      .withColumn("bit",
        when(col("w") > 0, expr("shiftleft(CAST(1 AS BIGINT), j)")).otherwise(lit(0L)))
      .groupBy(col("doc_id"))
      .agg(sum(col("bit")).as("simhash"))
  }

  /** Single-deletion neighborhood of a string: the string itself plus
    * every one-char-deleted variant, deduplicated — the FastSS
    * signature set for edit distance 1. Two strings are within
    * distance 1 ONLY IF they share a signature (self≡self for equal;
    * self≡deletion for insert/delete; same-position deletions for
    * substitution), so the signature is a complete candidate key. */
  def deletionNeighborhood(s: Column): Column =
    // empty-string guard: Spark's sequence(1, 0) infers a DESCENDING
    // step and yields [1, 0] (DuckDB's generate_series(1, 0) is
    // empty), so "" is pinned to the bare [s] neighborhood both
    // engines agree on rather than riding the sequence at all
    when(length(s) > 0,
      array_distinct(concat(array(s),
        transform(sequence(lit(1), length(s)),
          i => concat(s.substr(lit(1), i - 1), s.substr(i + 1, lit(Int.MaxValue)))))))
      .otherwise(array(s))

  /** Edit-distance fuzzy matching (FastSS): candidate pairs meet only
    * inside a shared deletion-neighborhood signature bucket, then an
    * exact `levenshtein` verify keeps true ≤1 pairs — the entity-
    * resolution join ("cold bolt" ≈ "old bolt") done without the
    * all-pairs O(n²) a naive fuzzy join needs.
    *
    * Scale shape: the signature explode is narrow map work (|s|+1
    * signatures per distinct string); candidates are a keyed self-join
    * on the signature (bucket sizes bounded by how many strings share
    * a deletion — the same bucketed-candidates posture as MinHash
    * bands/IVF cells); verify is a per-row filter. Distinct-first
    * means row volume never multiplies the corpus, only the name
    * dictionary. Shared-signature-but-distance-2 collisions (e.g.
    * "ab"/"ba" both delete to "b") exist — the verify filter is what
    * makes the result exact, the signatures only bound the search. */
  def fuzzyPairs(df: DataFrame, column: String): DataFrame = {
    val names = df.select(col(column).as("name")).distinct()
    val sigs = names.select(col("name"),
      explode(deletionNeighborhood(col("name"))).as("sig"))
    sigs.as("a").join(sigs.as("b"),
        col("a.sig") === col("b.sig") && col("a.name") < col("b.name"))
      .select(col("a.name").as("name_a"), col("b.name").as("name_b"))
      .distinct()
      .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
      .filter(col("dist") <= 1)
  }

  /** q85: distance-1 name pairs in the part dimension. */
  private def q85(spark: SparkSession, dir: String): DataFrame =
    fuzzyPairs(Tables.part(spark, dir), "p_name")

  /** Span width (in tokens) for duplicated-substring detection. */
  val SPAN_N = 8

  /** Duplicated-span detection — the word-level analogue of
    * ExactSubstr dedup (Lee et al. 2021, "Deduplicating Training Data
    * Makes Language Models Better": drop any substring occurring ≥2
    * times in the corpus). A token position starts a duplicated span
    * when its `n`-gram occurs ≥2 times corpus-wide (in ANOTHER doc or
    * again in the same one — ExactSubstr counts both); overlapping or
    * adjacent flagged windows merge into maximal runs via a
    * gaps-and-islands pass. Per doc: span count, tokens covered by
    * duplicated runs, and the covered fraction — the quantity a
    * trainer thresholds to scrub memorization-prone boilerplate.
    *
    * Scale shape (the suffix-array step of the paper replaced by the
    * Spark-native keyed agg): grams ride ONE hash agg keyed on the
    * gram's md5 (shuffle width = 32-hex key, never the gram text);
    * the join back to positions is keyed on the same md5; the islands
    * window partitions BY DOC over only the flagged positions — the
    * duplicated slice, tiny relative to the corpus, so the sort is
    * bounded by dup volume, not corpus volume (the q108 lesson,
    * applied from the start). All arithmetic is integer; the one
    * division is guarded and r4-rounded.
    *
    * Engine parity: both engines md5 the identical space-joined gram
    * string; islands use integer lag/sum windows ordered by the
    * (unique within doc) position, so there is no tie ambiguity. */
  def dupSpans(docs: DataFrame, n: Int = SPAN_N): DataFrame = {
    val toks = spanToks(docs)
    dupSpansOn(toks, spanGrams(toks, n), n)
  }

  /** The q117-family shared stages: per-doc token arrays and the
    * positional n-gram stream, extracted so q117 and q117b (which
    * repeat both verbatim) can ride one session cache each (r14). */
  private def spanToks(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      VectorFns.tokens(normText(col("text"))).as("tk"))

  private def spanGrams(toks: DataFrame, n: Int): DataFrame =
    toks.select(col("doc_id"), posexplode(VectorFns.shingles(col("tk"), n)))
      .select(col("doc_id"), col("pos"), md5(col("col")).as("g"))

  private[graft] def spanToksCached(spark: SparkSession, dir: String): DataFrame =
    spanToks(Tables.documents(spark, dir)).cache()

  private[graft] def spanGramsCached(spark: SparkSession, dir: String): DataFrame =
    spanGrams(spanToksCached(spark, dir), SPAN_N).cache()

  private def dupSpansOn(toks: DataFrame, grams: DataFrame, n: Int): DataFrame = {
    val perDoc = toks.select(col("doc_id"),
      size(col("tk")).cast("long").as("n_tokens"))
    val dup = grams.groupBy(col("g"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 2)
    val flagged = grams.join(dup.select(col("g")), Seq("g"))
      .select(col("doc_id"), col("pos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    val islands = flagged
      // new island when the gap to the previous flagged start exceeds
      // n (null lag on the first row also lands in otherwise → 1)
      .withColumn("brk",
        when(col("pos") - lag(col("pos"), 1).over(w) <= n, lit(0L))
          .otherwise(lit(1L)))
      .withColumn("island", sum(col("brk")).over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)))
    val spans = islands.groupBy(col("doc_id"), col("island"))
      .agg((max(col("pos")) - min(col("pos")) + n).cast("long").as("covered"))
    val perDocSpans = spans.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_dup_spans"), sum(col("covered")).as("dup_tokens"))
    perDoc.join(perDocSpans, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        when(col("n_tokens") > 0,
          r4(coalesce(col("dup_tokens"), lit(0L)).cast("double") /
            col("n_tokens")))
          .otherwise(lit(0.0)).as("dup_frac"))
  }

  /** q117: ExactSubstr-style duplicated 8-gram spans over `documents`. */
  private def q117(spark: SparkSession, dir: String): DataFrame =
    dupSpansOn(spanToksCached(spark, dir), spanGramsCached(spark, dir), SPAN_N)

  /** Occurrence-key base for the q117b canonical pick: doc_id·2²⁰ +
    * pos must be unique and order-preserving, so docs are capped at
    * 2²⁰ tokens (1M — far above any pretraining doc; assert-free
    * because the key is only compared within one gram's occurrence
    * group, where doc_id dominates anyway). */
  val SCRUB_POS_BASE = 1048576L

  /** q117b — the ExactSubstr SCRUB (the rewrite [[dupSpans]] only
    * measures): every duplicated `n`-gram run is kept at exactly one
    * occurrence — the minimum (doc_id, pos) — and excised everywhere
    * else, leaving the rest of each document intact (Lee et al. 2021
    * §ExactSubstr: "keep one occurrence"). Token-level rule making
    * overlaps deterministic: a position covered by a CANONICAL
    * duplicated-gram occurrence is protected; a position covered only
    * by non-canonical duplicated occurrences is dropped; untouched
    * positions survive. Emits per doc the original/dropped/kept token
    * counts and a 16-hex md5 of the rebuilt token stream — narrow
    * output, full-text pin (the q108b posture).
    *
    * Scale shape: the gram agg and join-back are q117's (md5-keyed);
    * covered-position expansion multiplies only the FLAGGED
    * occurrences by n (bounded by dup volume, not corpus volume); the
    * rebuild is confined to AFFECTED docs via a left_semi gate —
    * untouched documents ride a pure map to their fingerprint, so
    * rewrite cost is proportional to the duplicated slice. Per-group
    * rebuild state is bounded by the document's own length. */
  def spanScrub(docs: DataFrame, n: Int = SPAN_N): DataFrame = {
    val toks = spanToks(docs)
    spanScrubOn(toks, spanGrams(toks, n), n)
  }

  private def spanScrubOn(toks: DataFrame, grams: DataFrame, n: Int): DataFrame = {
    val occKey = col("doc_id") * SCRUB_POS_BASE + col("pos")
    val dup = grams.groupBy(col("g"))
      .agg(count(lit(1)).as("cnt"), min(occKey).as("canon_key"))
      .filter(col("cnt") >= 2)
    // flagged occurrences → their n covered positions, marked by
    // whether the covering occurrence is the gram's canonical one
    val covered = grams.join(dup.select(col("g"), col("canon_key")), Seq("g"))
      .select(col("doc_id"),
        (occKey === col("canon_key")).as("is_canon"),
        explode(sequence(col("pos"), col("pos") + n - 1)).as("tp"))
    val drops = covered.groupBy(col("doc_id"), col("tp"))
      .agg(max(col("is_canon")).as("keep_cov"))
      .filter(!col("keep_cov"))
      .select(col("doc_id"), col("tp"))
    val affected = drops.select(col("doc_id")).distinct()
    val rebuilt = toks.join(affected, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), posexplode(col("tk"))).as("x")
      .join(drops.as("d"),
        col("x.doc_id") === col("d.doc_id") && col("x.pos") === col("d.tp"),
        "left_anti")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        transform(array_sort(collect_list(struct(col("pos"), col("col")))),
          e => e.getField("col")).as("kept"))
    val scrubbed = toks.join(affected, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), size(col("tk")).cast("long").as("n_tokens"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        substring(md5(array_join(
          coalesce(col("kept"), typedlit(Seq.empty[String])), " ")), 1, 16)
          .as("text_fp"))
    val untouched = toks.join(affected, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), size(col("tk")).cast("long").as("n_tokens"),
        size(col("tk")).cast("long").as("n_kept"),
        substring(md5(array_join(col("tk"), " ")), 1, 16).as("text_fp"))
    scrubbed.unionByName(untouched)
      .select(col("doc_id"), col("n_tokens"), col("n_kept"),
        (col("n_tokens") - col("n_kept")).as("n_dropped"), col("text_fp"))
  }

  /** q117b: ExactSubstr scrub rewrite over `documents`. */
  private def q117b(spark: SparkSession, dir: String): DataFrame =
    spanScrubOn(spanToksCached(spark, dir), spanGramsCached(spark, dir), SPAN_N)
}
