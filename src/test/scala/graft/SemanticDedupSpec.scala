package graft

import org.apache.spark.sql.catalyst.expressions.ArrayMin
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import graft.operators.Similarity

/** Pins q105's greedy keep-min-id semantics — deliberately NOT
  * transitive-closure components: in a chain a~b~c (with a~c below τ),
  * BOTH b and c drop — b against the kept a, and c against b even
  * though b itself was dropped. That is the published SemDeDup greedy
  * shape and what the oracle SQL replays. */
class SemanticDedupSpec extends SparkSuite {

  test("chain a~b~c drops b and c; a survives; counts match") {
    val sp = spark
    import sp.implicits._
    // one cell (single seed): cos(a,b)=0.9, cos(b,c)≈0.902, cos(a,c)=0.62
    val e = Seq(
      (1L, Seq(1.0, 0.0)),
      (2L, Seq(0.9, 0.43589)),
      (3L, Seq(0.62, 0.78466))
    ).toDF("vec_id", "v")
    val out = Similarity.semanticDedup(e, Seq(1L), 0.7)
      .orderBy("vec_id").collect()
    assert(out.map(r => (r.getLong(0), r.getLong(2), r.getInt(3))).toSeq ==
      Seq((1L, 0L, 1), (2L, 1L, 0), (3L, 1L, 0)), out.mkString("; "))
  }

  test("random corpora match a brute-force model of the greedy policy (seeded)") {
    val sp = spark
    import sp.implicits._
    val rnd = new scala.util.Random(13)
    for (trial <- 1 to 5) {
      val n = 20 + rnd.nextInt(20)
      val dim = 4
      val vecs = (1L to n).map(i =>
        (i, Seq.fill(dim)(rnd.nextInt(21) / 10.0 - 1.0))).toMap
      val seeds = Seq(1L, 2L)
      val tau = 0.6
      // model: nearest seed by rounded sq-dist (cell tie -> smaller),
      // then drop iff ANY smaller-id same-cell vector has cos >= tau
      def r6m(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
      def sq(a: Seq[Double], b: Seq[Double]) =
        r6m(a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum)
      def cos(a: Seq[Double], b: Seq[Double]): Double = {
        val na = math.sqrt(a.map(x => x * x).sum)
        val nb = math.sqrt(b.map(x => x * x).sum)
        if (na == 0 || nb == 0) Double.NaN
        else r6m(a.zip(b).map { case (x, y) => x * y }.sum / (na * nb))
      }
      val cell = vecs.map { case (i, v) =>
        i -> seeds.map(s => (sq(v, vecs(s)), s)).min._2 }
      val model = vecs.keys.toSeq.sorted.map { i =>
        val dups = vecs.keys.filter(j => j < i && cell(j) == cell(i) &&
          cos(vecs(j), vecs(i)) >= tau).size
        (i, cell(i).toInt, dups.toLong, if (dups == 0) 1 else 0)
      }.toSet
      val got = Similarity.semanticDedup(
        vecs.toSeq.map { case (i, v) => (i, v) }.toDF("vec_id", "v"), seeds, tau)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3)))
        .toSet
      assert(got == model, s"trial $trial diverged: ${got.diff(model)} vs ${model.diff(got)}")
    }
  }

  test("embeddingDrift: a mirrored incoming slice reads cos=1 and norm_ratio=1") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.col
    val mod = graft.operators.Similarity.SEM_INCR_MOD
    // standing ids ≡ 0, incoming ids ≡ mod-1 carry the SAME vectors
    val base = (0 until 24).map { i =>
      (i.toLong * mod, Seq.tabulate(8)(d => math.sin(i * 8 + d + 1)), i % 3)
    }
    val mirrored = base.map { case (id, v, l) => (id + mod - 1, v, l) }
    val e = (base ++ mirrored).toDF("vec_id", "v", "label")
      .select(col("vec_id"), col("v").cast("array<double>").as("v"), col("label"))
    val out = graft.operators.Similarity.embeddingDrift(e).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
    assert(out.length == 3, s"one row per label: ${out.toSeq}")
    out.foreach { r =>
      assert(r._2 == 8 && r._3 == 8, s"side counts: $r")
      assert(r._4 == 1.0, s"identical centroids must read cos 1.0: $r")
      assert(r._5 == 1.0, s"identical norms must read ratio 1.0: $r")
    }
    // and the real fixture: bounded sanity (cos in [-1,1], ratio > 0)
    val real = graft.operators.Similarity.embeddingDrift(
      graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"),
          col("label"))).collect()
    assert(real.nonEmpty)
    real.foreach { r =>
      val (c, nr) = (r.getDouble(3), r.getDouble(4))
      assert(c >= -1.0 && c <= 1.0 && nr > 0.0, s"implausible drift row: $r")
    }
  }

  test("plan shape: codebook broadcasts, no cartesian product") {
    val sp = spark
    import sp.implicits._
    val e = (1L to 50L).map(i => (i, Seq(i * 0.1, -i * 0.05))).toDF("vec_id", "v")
    val plan = Similarity.semanticDedup(e, Seq(1L, 2L), 0.9)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastExchange"), "codebook should broadcast")
    assert(!plan.contains("CartesianProduct"),
      "within-cell pairing must be a keyed join, never a cartesian")
  }

  test("plan shape: cell assignment is row-local, no vec_id-keyed exchange") {
    val sp = spark
    import sp.implicits._
    val e = (1L to 50L).map(i => (i, Seq(i * 0.1, -i * 0.05))).toDF("vec_id", "v")
    val plan = Similarity.semanticDedup(e, Seq(1L, 2L), 0.9)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning(vec_id"),
      s"the nearest-cell argmin must not shuffle by vector:\n$plan")
  }

  test("plan shape: each side of the cell-keyed join computes the argmin once") {
    val sp = spark
    import sp.implicits._
    val e = (1L to 50L).map(i => (i, Seq(i * 0.1, -i * 0.05))).toDF("vec_id", "v")
    val df = Similarity.semanticDedup(e, Seq(1L, 2L), 0.9)
    df.collect()
    val plan = df.queryExecution.executedPlan
    // one array_min, in the assignment projection under the cell
    // exchange both sides share (the second side reuses the exchange),
    // and none pushed into the crossJoin's condition by an inferred
    // isnotnull(cell)
    val argmins = new AdaptiveSparkPlanHelper {}.flatMap(plan)(p =>
      p.expressions.flatMap(_.collect { case _: ArrayMin => p.nodeName }))
    assert(argmins == Seq("Project"), s"argmin evaluated in $argmins:\n$plan")
  }

  test("vectors in different cells never pair") {
    val sp = spark
    import sp.implicits._
    // seeds 1 and 2 define opposite cells; 3 and 4 are identical to a
    // seed each — identical vectors, but in different cells → both kept
    val e = Seq(
      (1L, Seq(1.0, 0.0)), (2L, Seq(-1.0, 0.0)),
      (3L, Seq(1.0, 0.0)), (4L, Seq(-1.0, 0.0))
    ).toDF("vec_id", "v")
    val out = Similarity.semanticDedup(e, Seq(1L, 2L), 0.99)
    // 3 pairs with 1 (same cell, cos 1.0) → dropped; 4 with 2 → dropped
    assert(out.filter(col("kept") === 0).select("vec_id")
      .collect().map(_.getLong(0)).toSet == Set(3L, 4L))
    assert(out.filter(col("kept") === 1).count() == 2)
  }

  test("clusterBalance: over-quota cells cap at ceil(N/k), under-quota cells keep all") {
    val sp = spark
    import sp.implicits._
    // 10 vectors near the origin pole (cell 0), 2 near the far pole
    // (cell 1): N=12, k=2 → quota ceil(12/2)=6
    val e = (Seq(
      0L -> Array(0.0, 0.0), 1L -> Array(10.0, 10.0),
      11L -> Array(9.8, 10.1)) ++
      (2L to 10L).map(i => i -> Array(i * 0.01, -i * 0.01))
    ).toDF("vec_id", "v")
    val out = Similarity.clusterBalance(e, Seq(0L, 1L)).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2), r.getInt(3), r.getInt(4)))
      .toMap
    assert(out.size == 12)
    val cell0 = out.filter(_._2._1 == 0).values
    val cell1 = out.filter(_._2._1 == 1).values
    assert(cell0.size == 10 && cell1.size == 2, s"assignment: $out")
    assert(cell0.forall(_._2 == 10L) && cell1.forall(_._2 == 2L))
    assert(cell0.count(_._4 == 1) == 6, "over-quota cell keeps exactly the quota")
    assert(cell1.count(_._4 == 1) == 2, "under-quota cell keeps everything")
    // survivors are exactly the cell_rank prefix (the salted-hash draw)
    assert(out.values.forall { case (_, _, rk, kept) => (kept == 1) == (rk <= 6) })
    // deterministic: a second run draws the identical sample
    val again = Similarity.clusterBalance(e, Seq(0L, 1L)).collect()
      .map(r => r.getLong(0) -> r.getInt(4)).toMap
    assert(again == out.map { case (id, (_, _, _, kept)) => id -> kept })
  }

  test("the codebook grows with the corpus: hash-rate extras join the base seeds") {
    import org.apache.spark.sql.functions.col
    // Scala-side replica of the centsOf seed rule (the CorpusSpec h7
    // pattern): first 7 md5 hex digits, mod IVF_SEED_MOD
    def h7(x: String) = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(7), 16)
    def isExtra(id: Long) =
      h7(Similarity.IVF_SEED_SALT + id) % Similarity.IVF_SEED_MOD == 0
    // the small-id fixtures above assume NO extra seed sneaks in —
    // fail loudly here (not silently there) if the salt ever changes
    assert((0L to 40L).forall(!isExtra(_)), "fixture ids must not hash-pick")

    val ids = graft.sources.Tables
      .embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id")).collect().map(_.getLong(0))
    val expected = ids.filter(id =>
      Similarity.IVF_SEEDS.contains(id) || isExtra(id)).toSet
    assert(expected.size > Similarity.IVF_SEEDS.size,
      "the sf0.001 corpus must contribute at least one extra seed")
    val cells = Similarity.queries("q105_semantic_dedup")(
      spark, "/root/testdata/sf0.001")
      .select(col("cell")).distinct().collect().map(_.getInt(0).toLong).toSet
    // every expected seed is a non-empty cell (its own vector at least)
    assert(cells == expected,
      s"cells $cells != seed set $expected")
  }

  test("q113 plan: the draw window partitions by cell and the codebook broadcasts") {
    val df = Similarity.queries("q113_cluster_balance")(spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"))
    // physical Window prints `Window [fns], [partitionExprs], [order]`;
    // an unpartitioned window (empty second group) would serialize the
    // corpus through one task. Both q113 windows must key on a column.
    // (The plan's one Exchange SinglePartition is the 1-row scalar
    // count(*) total — a bounded map-side-partial reduce, fine.)
    val unpartitioned = "Window \\[[^\\]]*\\], \\[\\]".r
    assert(unpartitioned.findFirstIn(plan).isEmpty,
      s"q113 has an unpartitioned window:\n$plan")
    assert(plan.contains("Window "), "expected window operators in the plan")
  }
}
