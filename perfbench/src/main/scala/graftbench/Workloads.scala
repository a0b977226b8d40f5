package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._

import graft.functions.Rounding.r4
import graft.ml.KnnRecommender
import graft.operators.{Dedup, Evaluation, Hybrid, Kernel, Recommender, Similarity}
import graft.sources.Tables

/** What every workload shares: the session, its input directory, the
  * tracer, and where outputs for the oracle checks go. */
final case class Ctx(spark: SparkSession, dir: String, out: String, seed: Long, tr: Tracer)

/** Outputs of one operation, as named row sets with their column names. */
final case class Output(columns: Seq[String], rows: Seq[Seq[Any]])

object Output {
  def of(df: DataFrame): Output = Output(df.columns.toSeq, df.collect().toSeq.map(_.toSeq))
}

object Workload {
  def apply(name: String, c: Ctx): Workload = name match {
    case "fold_eval" => new FoldEval(c)
    case "corpus_dedup" => new CorpusDedup(c)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

/** Cache state seen from outside the library: the session CacheManager's
  * entries and the storage held by persisted RDDs. */
object Caches {
  private val field = {
    val f = classOf[org.apache.spark.sql.execution.CacheManager].getDeclaredField("cachedData")
    f.setAccessible(true)
    f
  }
  def entries(spark: SparkSession): Int =
    field.get(spark.sharedState.cacheManager).asInstanceOf[IndexedSeq[_]].size
  def residentMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0
  def clear(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }
  def readsCache(df: DataFrame): Boolean =
    df.queryExecution.withCachedData.exists(_.isInstanceOf[InMemoryRelation])
}

/** One workload, run as passes. `ingest` is one set-up repetition (read
  * the inputs, build the state passes share); `warmUp` is one untimed pass
  * that pays JIT compilation and code generation; `op` is one timed pass;
  * `afterOp` is the untimed housekeeping between passes. */
abstract class Workload(c: Ctx) {
  import c._
  /** A traced run needs one untraced and one traced pass. */
  val minOps: Int = if (tr.installed) 2 else 1
  protected val outputs = mutable.ArrayBuffer[Map[String, Output]]()
  protected val leaked = mutable.ArrayBuffer[Int]()

  /** A traced run hands each layer's result to the next one materialized,
    * so each layer's work is charged to its own span. */
  protected def seam(df: DataFrame): DataFrame =
    if (tr.active) tr.planned(df).localCheckpoint() else df

  protected def run(df: DataFrame): Output = Output.of(tr.planned(df))

  def ingest(rep: Int): Unit

  /** Clears what a pass left in the session cache; returns how many
    * entries it left that the workload did not create. */
  protected def dropPassState(): Int = {
    val left = Caches.entries(spark)
    Caches.clear(spark)
    left
  }

  /** Records what the previous pass left in the session cache, then clears
    * it, so no cache survives into the next pass. */
  def afterOp(i: Int): Unit = leaked += dropPassState()

  def warmUp(): Unit = {
    tr.withOp(-1, traced = false)(pass(0))
    dropPassState()
  }

  /** Timed op `i` is pass `1 + i`; a traced run gives each untraced and
    * traced pair the same pass number, so the two do the same work. */
  def op(i: Int, traced: Boolean): Unit =
    outputs += tr.withOp(i, traced)(pass(1 + (if (tr.installed) i / 2 else i)))

  /** Pass `n` (0 is the warm-up). */
  protected def pass(n: Int): Map[String, Output]

  /** Checks run after the timed region: (passes checked, failed). Every
    * pass must reproduce the last pass's outputs exactly; the last pass is
    * compared against the oracle by the runner. */
  def check(): (Int, Int) = {
    val last = outputs.last
    Json.writeOutputs(s"$out/outputs.json", last)
    val sorted = (o: Output) => o.rows.map(_.map(String.valueOf)).sortBy(_.mkString("\u0001"))
    val bad = outputs.count(o => o.keySet != last.keySet ||
      o.exists { case (k, v) => sorted(v) != sorted(last(k)) })
    (outputs.size, bad)
  }

  def extraLayerMetrics(): Map[String, Double] =
    Map("cache.leaked_entries" -> Stats.median(leaked.map(_.toDouble).toSeq))
}

/** The paper's cross-validation loop run as a nightly job on skewed
  * ratings: one pass is one fold. Per fold it sizes and builds the item
  * similarities through the library's gate, ranks top-K item-based with
  * those sims and user-based through the Estimator/Model surface, fuses
  * the two lists, scores ranking metrics on the held-out ratings, and
  * predicts the held-out ratings with the reference's dense Pearson. The
  * fold's state is used once and dropped; only the ingested ratings stay
  * cached across passes. */
final class FoldEval(c: Ctx) extends Workload(c) {
  import c._
  val folds = 5
  val k: Int = Recommender.K_ITEMS
  /** The registered queries' cohort, so their oracle SQL applies per fold. */
  private val cohort: Column = col("user_id") % 20 === 0
  private var base: DataFrame = _
  private val resident = mutable.ArrayBuffer[Double]()
  private val hits = mutable.ArrayBuffer[Boolean]()

  def ingest(rep: Int): Unit = {
    Caches.clear(spark)
    tr.withOp(-rep - 1, traced = tr.installed) {
      val ratings = tr.span("tables")(Tables.ratings(spark, dir))
      base = ratings.withColumn("fold", pmod(Dedup.baseHash(concat_ws(":", col("user_id"),
        col("item_id"), lit(s"fold$seed"))), lit(folds))).cache()
      tr.span("cache")(tr.planned(base).count())
    }
  }

  /** Keeps only the ingested ratings cached. */
  override protected def dropPassState(): Int = {
    val left = Caches.entries(spark) - 1
    Caches.clear(spark)
    base.cache().count()
    left
  }

  override def afterOp(i: Int): Unit = {
    resident += Caches.residentMb(spark)
    super.afterOp(i)
  }

  /** Pass `n` runs fold `n % folds`. */
  protected def pass(n: Int): Map[String, Output] = {
    val f = n % folds
    val train = base.filter(col("fold") =!= f).select("user_id", "item_id", "rating")
    val test = base.filter(col("fold") === f && cohort)
    val is = tr.span("recommender.sims") {
      val s = seam(tr.span("recommender.gate")(Recommender.itemSimsAuto(train)))
      if (tr.active) tr.count("pair_rows", s.count().toDouble)
      s
    }
    val ib = tr.span("recommender.score")(tr.planned(Recommender.itemKnnTopK(train, cohort,
      Recommender.K_ITEM_NEIGHBORS, k, simsSource = Some(is))).localCheckpoint())
    val ua = tr.span("ml.transform") {
      val targets = train.filter(cohort).select("user_id").distinct()
      val df = tr.planned(new KnnRecommender().setKItems(k).fit(train).transform(targets))
      if (tr.active) hits += Caches.readsCache(df)
      df.localCheckpoint()
    }
    val fused = tr.span("hybrid")(tr.planned(
      Hybrid.fuseTopK(ua, ib, Hybrid.W_USER, Hybrid.W_ITEM, k)).localCheckpoint())
    val relevant = test.filter(col("rating") >= Evaluation.REL_THRESHOLD)
      .select("user_id", "item_id")
    val metrics = tr.span("evaluation")(run(Evaluation.rankingMetricsAt(fused, relevant, k)))
    val heldOut = test.select(col("user_id").as("u"), col("item_id"), col("rating").as("actual"))
    val predPearson = tr.span("recommender.predict")(run(
      Recommender.userPredictOn(train, heldOut, Recommender.K_NEIGHBORS,
        kernel = Kernel.Pearson, dense = true)))
    Map("fold" -> Output(Seq("fold"), Seq(Seq(f.toLong))),
      "q16_user_knn_topk" -> Output.of(ua), "q17_item_knn_topk" -> Output.of(ib),
      "q33_hybrid_topk" -> Output.of(fused), "metrics" -> metrics,
      "pred_pearson" -> predPearson)
  }

  /** The runner checks every pass against the references of its fold. */
  override def check(): (Int, Int) = {
    Json.writeOutputs(s"$out/outputs.json", outputs.zipWithIndex.map { case (o, i) =>
      s"pass$i" -> o }.toMap)
    (outputs.size, 0)
  }

  override def extraLayerMetrics(): Map[String, Double] = super.extraLayerMetrics() ++ Map(
    "cache.hit_frac" -> (if (hits.isEmpty) 0.0 else hits.count(identity).toDouble / hits.size),
    "cache.resident_mb" -> Stats.median(resident.toSeq))
}

/** Corpus hygiene: exact dedup, MinHash near-dup pairs verified by exact
  * shingle Jaccard, near-dup clusters by connected components, and
  * semantic dedup over the embeddings. */
final class CorpusDedup(c: Ctx) extends Workload(c) {
  import c._

  /** Passes read the corpus themselves; set-up only scans it once. */
  def ingest(rep: Int): Unit = {
    Caches.clear(spark)
    Tables.documents(spark, dir).count()
    Tables.embeddings(spark, dir).count()
  }

  protected def pass(n: Int): Map[String, Output] = {
    val (docs, emb) = tr.span("tables") {
      val d = Tables.documents(spark, dir)
      if (tr.active) tr.count("documents_partitions", d.rdd.getNumPartitions.toDouble)
      (seam(d), seam(Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))))
    }
    val (exact, pairs, clusters) = tr.span("dedup") {
      val exact = run(docs.select(col("doc_id"), md5(Dedup.normText(col("text"))).as("text_hash"))
        .groupBy(col("text_hash"))
        .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("n_docs"),
          concat_ws(",", transform(sort_array(collect_list(col("doc_id"))),
            x => x.cast("string"))).as("doc_ids_csv")))
      val sh = tr.planned(Dedup.shingleStream(docs)).localCheckpoint()
      val bands = tr.planned(Dedup.minhashBands(sh)).localCheckpoint()
      val cand = bands.as("a").join(bands.as("b"),
          col("a.band_id") === col("b.band_id") && col("a.band_hash") === col("b.band_hash") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b")).distinct()
        .localCheckpoint()
      val nSh = sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
      val inter = cand
        .join(sh.select(col("doc_id").as("doc_a"), col("s")), Seq("doc_a"))
        .join(sh.select(col("doc_id").as("doc_b"), col("s")), Seq("doc_b", "s"))
        .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("n_inter"))
      val verified = cand.join(inter, Seq("doc_a", "doc_b"), "left").na.fill(0L, Seq("n_inter"))
        .join(nSh.select(col("doc_id").as("doc_a"), col("n_sh").as("n_a")), Seq("doc_a"))
        .join(nSh.select(col("doc_id").as("doc_b"), col("n_sh").as("n_b")), Seq("doc_b"))
        .select(col("doc_a"), col("doc_b"),
          r4(col("n_inter").cast("double") / (col("n_a") + col("n_b") - col("n_inter"))).as("jaccard"))
      val pairs = run(verified)
      val edges = spark.createDataFrame(spark.sparkContext.parallelize(
          pairs.rows.filter(_(2).asInstanceOf[Double] >= Dedup.CLUSTER_JACCARD)
            .map(r => (r(0).asInstanceOf[Long], r(1).asInstanceOf[Long])), 1))
        .toDF("doc_a", "doc_b")
      if (tr.active) {
        tr.count("candidate_pairs", pairs.rows.size.toDouble)
        tr.count("verified_pairs", pairs.rows.count(_(2).asInstanceOf[Double] >= Dedup.CLUSTER_JACCARD).toDouble)
      }
      val nodes = edges.select(col("doc_a").as("doc_id"))
        .union(edges.select(col("doc_b").as("doc_id"))).distinct()
      val clusters = run(Dedup.connectedComponents(nodes, edges)
        .groupBy(col("label").as("canonical_id"))
        .agg(count(lit(1)).as("n_docs"),
          concat_ws(",", transform(sort_array(collect_list(col("doc_id"))),
            x => x.cast("string"))).as("member_csv"))
        .filter(col("n_docs") > 1))
      (exact, pairs, clusters)
    }
    val semantic = tr.span("similarity")(run(
      Similarity.semanticDedup(emb, Similarity.IVF_SEEDS, Similarity.SEMDEDUP_TAU)))
    Map("q18_exact_dedup" -> exact, "q20_neardup_pairs" -> pairs,
      "q50_dedup_clusters" -> clusters, "q105_semantic_dedup" -> semantic)
  }
}
