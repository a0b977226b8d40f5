package graft

import scala.util.Random
import org.apache.spark.sql.functions.col
import graft.functions.TopK

/** Randomized-property guards (seeded — fully reproducible) for the
  * foundational pieces every oracle row rides on: the per-group top-k
  * primitive (its correctness at scale DEPENDS on the partial
  * per-partition prune merging to the exact answer whatever rows each
  * partition holds), the cross-engine rounding convention, and the
  * batch sessionizer against a brute-force model. */
class PropertySpec extends SparkSuite {

  // named for the aggregator TopK.perGroup replaced: "reduce" is the
  // per-partition prune, "merge" the final limit over the shuffled partials
  test("TopKAggregator: reduce = exact sorted top-k; merge order-insensitive") {
    val s = spark
    import s.implicits._
    def top(df: org.apache.spark.sql.DataFrame, k: Int): Seq[(Int, Long, Double, Int)] =
      TopK.perGroup(df, Seq(col("g")), Seq(col("score").desc, col("id").asc), k)
        .as[(Int, Long, Double, Int)].collect().toSeq.sortBy(r => (r._1, r._4))
    def part(rows: Seq[(Int, Long, Double)]) = rows.toDF("g", "id", "score").repartition(1)
    val rnd = new Random(42)
    // a hand case first: k = 2 bounds the group, and the three-way tie
    // at 3.0 breaks by id
    val hand = Seq((0, 5L, 1.0), (0, 1L, 3.0), (0, 2L, 3.0), (0, 9L, 0.5), (0, 0L, 3.0))
    // scores on a 21-value grid force ties; ids may repeat in a group
    val inputs = (hand, 2) +: Seq.fill(12)((
      Seq.fill(rnd.nextInt(120))((rnd.nextInt(6), rnd.nextInt(50).toLong,
        rnd.nextInt(21).toDouble / 4.0 - 2.5)),
      1 + rnd.nextInt(5)))
    for ((rows, k) <- inputs) {
      val want = rows.groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (_, xs) =>
        xs.sortBy { case (_, id, sc) => (-sc, id) }.take(k).zipWithIndex
          .map { case ((g, id, sc), i) => (g, id, sc, i + 1) }
      }
      for (n <- Seq(1, 3, 7))
        assert(top(rows.toDF("g", "id", "score").repartition(n), k) == want,
          s"k=$k partitions=$n")
      // split anywhere into two partitions: either merge order equals
      // the one-shot answer
      val (l, r) = rows.splitAt(rnd.nextInt(rows.size + 1))
      assert(top(part(l).union(part(r)), k) == want, s"k=$k split=${l.size}")
      assert(top(part(r).union(part(l)), k) == want, s"k=$k split=${l.size} swapped")
    }
  }

  test("floor-half-up rounding is idempotent and monotone") {
    def r(d: Int, x: Double): Double = {
      val m = math.pow(10, d)
      math.floor(x * m + 0.5) / m // the Rounding column fns' scalar twin
    }
    val rnd = new Random(7)
    for (_ <- 1 to 1000) {
      val x = (rnd.nextDouble() - 0.5) * 2e6
      assert(r(4, r(4, x)) == r(4, x), s"not idempotent at $x")
      val y = (rnd.nextDouble() - 0.5) * 2e6
      val (lo, hi) = (math.min(x, y), math.max(x, y))
      assert(r(6, lo) <= r(6, hi), s"not monotone at $lo, $hi")
    }
  }

  test("batch sessionizer matches a brute-force model on random event sets") {
    val s = spark
    import s.implicits._
    import java.sql.Timestamp
    val gapS = graft.operators.Relational.SESSION_GAP_SECONDS
    val rnd = new Random(2024)
    for (trial <- 1 to 8) {
      // 10-min grid offsets so gaps straddle the 30-min cut often
      val evs = (0 until 40).map { i =>
        (i.toLong, rnd.nextInt(4).toLong + 1,
          new Timestamp(1700000000000L + rnd.nextInt(41) * 600L * 1000L))
      }
      // brute force: per user, sort times, split on > gap
      val want = evs.groupBy(_._2).flatMap { case (u, rows) =>
        val ts = rows.map(_._3.getTime / 1000).sorted
        val sessions = ts.foldLeft(List.empty[List[Long]]) {
          case (Nil, t) => List(List(t))
          case (cur :: done, t) =>
            if (t - cur.head > gapS) List(t) :: cur :: done
            else (t :: cur) :: done
        }
        sessions.map(sess => (u, sess.min, sess.max, sess.size.toLong))
      }.toSet

      val df = evs.toDF("event_id", "user_id", "ts")
        .withColumn("event_type", org.apache.spark.sql.functions.lit("e"))
      val got = graft.operators.Relational.sessionizeBatch(df)
        .select("user_id", "session_start", "session_end", "n_events")
        .collect()
        .map(r => (r.getLong(0), r.getTimestamp(1).getTime / 1000,
          r.getTimestamp(2).getTime / 1000, r.getLong(3)))
        .toSet
      assert(got == want, s"trial $trial sessions diverged")
    }
  }

  test("MisraGries: candidate superset guarantee under arbitrary split+merge") {
    import graft.functions.{MGBuf, MisraGriesAggregator}
    val rnd = new Random(11)
    for (trial <- 1 to 200) {
      val m = 2 + rnd.nextInt(14) // capacities 2..15
      val agg = new MisraGriesAggregator(m)
      // zipf-ish stream: item i drawn with weight ~ 1/(i+1)
      val vocab = 1 + rnd.nextInt(40)
      val weights = (0 until vocab).map(i => 1.0 / (i + 1))
      val cum = weights.scanLeft(0.0)(_ + _).tail
      val total = cum.last
      val n = 50 + rnd.nextInt(500)
      val stream = Seq.fill(n) {
        val x = rnd.nextDouble() * total
        "t" + cum.indexWhere(x <= _)
      }
      // arbitrary split into 1..6 chunks, reduce each, merge in random order
      val chunks = stream.grouped(1 + rnd.nextInt(stream.size)).toSeq
      val bufs = chunks.map(_.foldLeft(agg.zero)(agg.reduce))
      val merged = rnd.shuffle(bufs).foldLeft(agg.zero)(agg.merge)
      assert(merged.counts.size <= m, s"trial $trial: over capacity")
      val exact = stream.groupBy(identity).view.mapValues(_.size.toLong)
      // the MG bound: every item with true count > n/(m+1) must survive,
      // and no surviving estimate exceeds the true count
      for ((tok, c) <- exact if c > n.toDouble / (m + 1))
        assert(merged.counts.contains(tok),
          s"trial $trial: heavy item $tok (count $c, n=$n, m=$m) lost")
      for ((tok, est) <- merged.counts)
        assert(est <= exact.getOrElse(tok, 0L),
          s"trial $trial: $tok overestimated")
    }
  }
}
