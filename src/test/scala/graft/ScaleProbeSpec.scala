package graft

import org.apache.spark.sql.functions._
import graft.tools.ScaleProbe

/** The sf1 linearity probe is only honest if the replica it builds
  * really is K disjoint, internally consistent universes — these
  * pin the invariants `ScaleProbe.build` claims (BASELINE.md §round-5)
  * on a 3× replica of sf0.001. */
class ScaleProbeSpec extends SparkSuite {

  private val src = "/root/testdata/sf0.001"
  private lazy val out = {
    val dir = tempDir("graft_scale_spec")
    ScaleProbe.buildWith(spark, src, dir, 3)
    dir
  }

  test("every shifted table triples its rows and keeps its schema") {
    for ((t, _) <- ScaleProbe.SHIFTS) {
      val base = spark.read.parquet(s"$src/$t.parquet")
      val rep = spark.read.parquet(s"$out/$t.parquet")
      assert(rep.count() == 3 * base.count(), s"$t row count")
      assert(rep.schema == base.schema, s"$t schema drifted")
    }
  }

  test("copies are key-disjoint: every key column's values split into 3 stride windows of equal size") {
    for ((t, keys) <- ScaleProbe.SHIFTS; k <- keys) {
      val rep = spark.read.parquet(s"$out/$t.parquet")
      val perCopy = rep
        .groupBy((col(k).cast("long") / lit(ScaleProbe.STRIDE)).cast("long").as("copy"))
        .count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(perCopy.keySet == Set(0L, 1L, 2L), s"$t.$k copies: ${perCopy.keySet}")
      assert(perCopy.values.toSet.size == 1, s"$t.$k unequal copy sizes: $perCopy")
    }
  }

  test("universes stay internally consistent: the ratings view has zero cross-copy joins and exactly 3x the pairs") {
    val base = graft.sources.Tables.ratings(spark, src)
    val rep = graft.sources.Tables.ratings(spark, out)
    assert(rep.count() == 3 * base.count(), "ratings pair count")
    // a lineitem joining an order from another copy would put user and
    // item in different stride windows somewhere; prove it can't by
    // joining each replica pair back to its source-universe twin
    val folded = rep.select(
      (col("user_id") % ScaleProbe.STRIDE).as("user_id"),
      (col("item_id") % ScaleProbe.STRIDE).as("item_id"),
      col("rating"))
    assert(folded.except(base).isEmpty && base.except(folded.distinct()).isEmpty,
      "folded replica ratings diverge from the source universe")
  }

  test("text copies are disjoint token universes with identical per-doc token structure") {
    import graft.functions.VectorFns
    val rep = spark.read.parquet(s"$out/documents.parquet")
      .select((col("doc_id") / lit(ScaleProbe.STRIDE)).cast("long").as("copy"),
        (col("doc_id") % lit(ScaleProbe.STRIDE)).as("base_id"),
        VectorFns.tokens(col("text")).as("tk"))
      .cache()
    // token COUNTS per doc identical across copies (structure preserved)
    val perDoc = rep.select(col("copy"), col("base_id"), size(col("tk")).as("n"))
    val drift = perDoc.groupBy("base_id").agg(countDistinct(col("n")).as("d"))
      .filter(col("d") > 1).count()
    assert(drift == 0, "token counts drifted across copies")
    // token SETS disjoint across copies (no cross-copy near-dup pairs
    // or shared decontamination grams by construction)
    val toks = rep.select(col("copy"), explode(col("tk")).as("t")).distinct()
    val cross = toks.groupBy("t").agg(countDistinct(col("copy")).as("c"))
      .filter(col("c") > 1).count()
    assert(cross == 0, "a token appears in more than one copy")
    rep.unpersist()
  }

  test("embedding copies preserve within-copy geometry exactly and have no cross-copy clones") {
    val rep = spark.read.parquet(s"$out/embeddings.parquet")
      .select((col("vec_id") / lit(ScaleProbe.STRIDE)).cast("long").as("copy"),
        (col("vec_id") % lit(ScaleProbe.STRIDE)).as("base_id"),
        col("embedding").cast("array<double>").as("v"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getSeq[Double](2))
      .toMap
    val baseIds = rep.keys.filter(_._1 == 0L).map(_._2).toSeq.sorted.take(20)
    def dot(a: Seq[Double], b: Seq[Double]) =
      a.zip(b).map { case (x, y) => x * y }.sum
    for (c <- 0L until 3L) {
      // norms are bit-preserved per vector (signed permutation is an
      // exact orthogonal transform; only summation ORDER differs, so
      // compare at ulp-scale tolerance)
      baseIds.foreach { id =>
        val n0 = dot(rep((0L, id)), rep((0L, id)))
        val nc = dot(rep((c, id)), rep((c, id)))
        assert(math.abs(n0 - nc) < 1e-9 * math.max(1.0, n0), s"norm drift c=$c id=$id")
      }
      // within-copy pairwise dots match copy 0 (geometry preserved)
      val (i, j) = (baseIds(0), baseIds(1))
      val d0 = dot(rep((0L, i)), rep((0L, j)))
      val dc = dot(rep((c, i)), rep((c, j)))
      assert(math.abs(d0 - dc) < 1e-9 * math.max(1.0, math.abs(d0)),
        s"within-copy dot drift c=$c")
    }
    // no cosine-1.0 cross-copy clones: a vector and its re-embedded
    // copies must decorrelate (|cos| well below the SemDeDup tau)
    baseIds.foreach { id =>
      for (c <- 1L until 3L) {
        val (a, b) = (rep((0L, id)), rep((c, id)))
        val cos = dot(a, b) / math.sqrt(dot(a, a) * dot(b, b))
        assert(math.abs(cos) < graft.operators.Similarity.SEMDEDUP_TAU,
          s"copy $c of vec $id still correlates with the original: cos=$cos")
      }
    }
  }

  test("cohort fractions survive replication (STRIDE divides every cohort modulus)") {
    for (m <- Seq(25, 40, 50, 200)) {
      assert(ScaleProbe.STRIDE % m == 0, s"STRIDE not a multiple of $m")
      val base = spark.read.parquet(s"$src/customer.parquet")
        .filter(col("c_custkey") % m === 0).count()
      val rep = spark.read.parquet(s"$out/customer.parquet")
        .filter(col("c_custkey") % m === 0).count()
      assert(rep == 3 * base, s"cohort %$m fraction drifted: $base -> $rep")
    }
  }
}
