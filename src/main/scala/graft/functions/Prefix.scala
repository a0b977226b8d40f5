package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{broadcast, coalesce, col, count, lit, row_number, sum}

/**
 * The one running-quantity primitive: a per-group 1-based rank and
 * inclusive running sums in `order`, computed as a two-level prefix sum
 * so that no window partition holds a whole group.
 *
 * Contract: `bkt` is an order-preserving prefix of `order` within each
 * group — every row of a lower bucket sorts before every row of a
 * higher one — so ordering by (bkt, order) IS ordering by `order`, and
 * the result equals the single `(groups) ORDER BY order` window
 * exactly. `order` must end in a tie-break unique within the group (an
 * id) for the rank to be deterministic.
 *
 * Plan: (1) one window over `(groups, bkt) ORDER BY order` computes the
 * within-bucket rank and running sums — max partition = group/buckets;
 * (2) per-bucket totals (a keyed agg with map-side partials) fold into
 * exclusive offsets over a `(groups) ORDER BY bkt` window — one tiny row
 * per bucket; (3) the offsets broadcast back on (groups, bkt) and each
 * quantity is offset + within-bucket value. This is the REPOSE shape:
 * partition-local work, then a small global merge.
 *
 * Output: the input rows joined to their bucket offsets, and one
 * Column per requested quantity — the rank (long) first if `rank`,
 * then one running sum per weight column in `sums` (sum's type of the
 * weight) — each `offset + within-bucket value`. The frame also carries
 * the `_pfx_*` part columns, so the caller ends in a select or an
 * aggregate; building each quantity inline there, rather than as a
 * column of its own, lets Catalyst fold it into the caller's
 * projection.
 */
object Prefix {

  def running(df: DataFrame, groups: Seq[String], bkt: String,
              order: Seq[Column], rank: Boolean = false,
              sums: Seq[String] = Nil): (DataFrame, Seq[Column]) = {
    require(rank || sums.nonEmpty, "running needs a rank or a sum")
    val keys = groups :+ bkt
    val wb = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    val wo = Window.partitionBy(groups.map(col): _*).orderBy(col(bkt))
      .rowsBetween(Window.unboundedPreceding, -1)
    // (quantity within the bucket, the bucket's total) per output
    val parts = (if (rank) Seq((row_number().over(wb).cast("long"), count(lit(1))))
                 else Nil) ++
      sums.map(w => (sum(col(w)).over(wb.rowsBetween(Window.unboundedPreceding,
        Window.currentRow)), sum(col(w))))
    val ids = parts.indices
    val totals = ids.map(i => parts(i)._2.as(s"_pfx_t$i"))
    val offsets = df.groupBy(keys.map(col): _*).agg(totals.head, totals.tail: _*)
      .select(keys.map(col) ++ ids.map(i =>
        coalesce(sum(col(s"_pfx_t$i")).over(wo), lit(0L)).as(s"_pfx_o$i")): _*)
    val within = ids.foldLeft(df)((d, i) => d.withColumn(s"_pfx_b$i", parts(i)._1))
    (within.join(broadcast(offsets), keys),
      ids.map(i => col(s"_pfx_o$i") + col(s"_pfx_b$i")))
  }
}
