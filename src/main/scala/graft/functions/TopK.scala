package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, row_number}

/**
 * The one per-group top-k primitive: the rows of each `keys` group
 * ranked by `order` (1 = best) keep their first `k`, with the rank
 * emitted as the int column `rank`. `order` must end in a tie-break
 * unique within the group (an id) for the selection to be
 * deterministic.
 *
 * Plan guarantee: the output is a standalone `row_number()` window
 * directly under a constant `rank <= k` filter — the shape Catalyst's
 * `InferWindowGroupLimit` rewrites into a `WindowGroupLimit` pair
 * (with k at or below `spark.sql.optimizer.windowGroupLimitThreshold`,
 * default 1000). The `Partial` limit runs per map partition BELOW the
 * exchange, so at most k rows per group per partition cross the
 * shuffle, and the `Final` limit above it merges them (the REPOSE
 * partition-local prune before a global merge). An input already
 * partitioned on `keys` plans no exchange at all. Above the threshold
 * the window still ranks exactly, just without the prune. Callers keep
 * this shape by not computing other window columns over the same spec.
 */
object TopK {

  def perGroup(df: DataFrame, keys: Seq[Column], order: Seq[Column], k: Int,
               rank: String = "rk"): DataFrame = {
    require(k >= 1, s"top-k needs k >= 1, got k = $k")
    df.withColumn(rank, row_number().over(Window.partitionBy(keys: _*).orderBy(order: _*)))
      .filter(col(rank) <= k)
  }
}
