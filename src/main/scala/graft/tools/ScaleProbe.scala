package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/**
 * The input of the sf1 linearity check: replicate the sf0.1 tables K×
 * with consistent key strides into a synthetic sf≈1 dataset. The only
 * mode is `build <src> <out> <K>`; the replica is then timed by
 * [[graft.Bench]] (`SPARK_GRAFT_SF_DIR=<out>`, a query subset through
 * `SPARK_GRAFT_BENCH_ONLY`), and seconds-per-SF compare against the
 * sf0.1 medians (BASELINE.md, "Re-measuring at sf1").
 *
 * `build`: every entity key shifts by `copy · STRIDE` so the K copies
 * are disjoint, internally consistent universes (orders still join
 * their lineitems, ratings their features) — grouped work scales
 * linearly by construction, which is exactly the property an sf1 run
 * verifies the PLANS preserve (a users×catalog grid or an unbucketed
 * pair stage would go quadratic instead). STRIDE is a multiple of
 * every cohort modulus in the suite (25/40/50/200), so `user_id % 50
 * = 0`-style cohorts keep their population fraction in every copy.
 *
 * Round-8: the dedup/corpus family joins the replica. Naive replication
 * would make every doc a K-way near-duplicate of its clones (banded-
 * LSH bucket work quadratic in the data itself — a clone-corpus
 * artifact, not a plan property), so `build` mutates document TEXT per
 * copy: every whitespace-delimited run gets a copy-tagged suffix,
 * which keeps each copy's token/shingle structure bit-identical to the
 * original while making the copies disjoint text universes — the same
 * disjoint-universe construction the key shifts give the relational
 * tables. Grouped/bucketed text work then scales linearly by
 * construction, which is the property an sf1 run verifies the PLANS
 * preserve. (documents.n_chars is stale w.r.t. the suffixed text: a
 * query that reads it reports the source lengths at unchanged cost.)
 *
 * Round-10: embeddings get the same treatment — each copy is
 * re-embedded through a per-copy deterministic signed coordinate
 * permutation (an orthogonal transform: within-copy geometry, norms
 * and distances are preserved exactly; cross-copy vectors decorrelate
 * like organic data), so the embedding family (q105/q113) measures
 * K× organic work instead of K-way duplicate stacks.
 */
object ScaleProbe {

  /** lcm-of-cohort-moduli × 60000 — far above every sf0.1 key. */
  val STRIDE = 12000000L

  /** Tables whose keys shift per copy (key columns listed); nation
    * and region are true dimension domains and stay single-copy.
    * event_id shifts too — it is a per-row surrogate key, and leaving
    * it duplicated across copies would distort any query that groups
    * or distinct-counts on it. documents.source is the one
    * knowingly-unshifted id-ish column: it is a STRING category (a
    * bounded domain like nation), not a surrogate key. */
  val SHIFTS: Map[String, Seq[String]] = Map(
    "customer" -> Seq("c_custkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "part" -> Seq("p_partkey"),
    "supplier" -> Seq("s_suppkey"),
    "events" -> Seq("event_id", "user_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  def main(args: Array[String]): Unit = args match {
    case Array("build", src, out, copies) => build(src, out, copies.toInt)
    case _ => sys.error("usage: ScaleProbe build <src> <out> <copies>")
  }

  def build(src: String, out: String, copies: Int): Unit = {
    val spark = graft.Session.local()
    try buildWith(spark, src, out, copies) finally spark.stop()
  }

  /** Session-borrowing core of `build` (the spec drives it on the
    * shared test session, which must not be stopped). */
  def buildWith(spark: SparkSession, src: String, out: String, copies: Int): Unit = {
    SHIFTS.foreach { case (t, keys) =>
      val df = spark.read.parquet(s"$src/$t.parquet")
      val types = df.schema.fields.map(f => f.name -> f.dataType).toMap
      val all = (0 until copies).map { c =>
        val shifted = keys.foldLeft(df)((d, k) =>
          // keep the source column type — int keys stay int (9 copies
          // × STRIDE tops out well under Int.MaxValue)
          d.withColumn(k, (col(k) + lit(c * STRIDE)).cast(types(k))))
        // per-copy text mutation (copy 0 = the original corpus): a
        // copy-tagged suffix on every whitespace run keeps token and
        // shingle COUNTS identical per copy while making the copies'
        // token/shingle/n-gram universes disjoint — no cross-copy
        // near-dup pairs, LM bigrams, or shared decontamination grams,
        // so text work is K× the organic sf0.1 work by construction.
        // The marker leads with '¤' (absent from the ASCII synthetic
        // corpus alphabet), so no organic token can equal another
        // token + suffix — the r8 single-letter scheme relied on the
        // corpus happening to lack such near-miss pairs (ADVICE r8);
        // ScaleProbeSpec's disjointness assertion remains the guard
        // that must re-run after any testdata regeneration.
        if (t == "documents" && c > 0)
          shifted.withColumn("text",
            regexp_replace(col("text"), "(\\S+)", "$1" + "¤" + c))
        // per-copy embedding mutation (VERDICT r9 next #4): a seeded
        // deterministic coordinate rotation + sign mask. Within a copy
        // every vector gets the SAME orthogonal transform, so all
        // within-copy inner products, norms and distances are
        // bit-preserved (sign flips and permutations are exact in
        // IEEE) — each copy is the original geometry, re-embedded in a
        // different basis. Across copies the transforms differ, so no
        // vector has a cosine-1.0 clone and cell/bucket occupancy
        // reflects K× organic data instead of K-way duplicate stacks —
        // the embedding analogue of the ¤ text mutation.
        else if (t == "embeddings" && c > 0) {
          val dim = 64
          def h(s: String): Int = {
            val d = java.security.MessageDigest.getInstance("MD5")
              .digest(s.getBytes("UTF-8"))
            ((d(0) & 0xff) << 8) | (d(1) & 0xff)
          }
          val rot = h(s"rot:$c") % dim
          val elems = (0 until dim).map { i =>
            val sign = if ((h(s"sign:$c:$i") & 1) == 0) 1.0f else -1.0f
            col("embedding").getItem((i + rot) % dim) * lit(sign)
          }
          // cast back to the source column type: array() infers
          // containsNull=false, which would drift the parquet schema
          shifted.withColumn("embedding",
            array(elems: _*).cast(types("embedding")))
        } else shifted
      }.reduce(_ unionByName _)
      all.write.mode("overwrite").parquet(s"$out/$t.parquet")
      println(s"[scale] $t: ${all.count()} rows (${copies}x)")
    }
    Seq("nation", "region").foreach { t =>
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
    }
  }
}
