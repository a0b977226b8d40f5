package graft.functions

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType}

/** One key's profile, its `(item, value)` entries sorted by item then
  * value, sent to item block `b`; `own` lists the positions of the
  * entries whose items block `b` owns. */
private[graft] final case class GramRouted(b: Int, key: Long, items: Array[Long],
                                           vals: Array[Double], own: Array[Int])

private[graft] final case class GramPair(i: Long, j: Long, dot: Double, co: Long)

/**
 * The one all-pairs co-occurrence primitive: the Gram matrix AᵀA of a
 * long-form sparse matrix `(key, item, value)`, restricted to its
 * nonzero off-diagonal cells.
 *
 * [[pairs]] returns the MIRRORED table `(i, j, dot, co)`: one row per
 * ordered pair of distinct items that share at least one key, with
 * `dot` = Σ over shared keys of value(i)·value(j) and `co` = the number
 * of such products. That is exactly what the self-equi-join form
 * `a.join(b, key).filter(i =!= j).groupBy(i, j).agg(sum(ra * rb),
 * count(1))` emits, duplicate `(key, item)` rows included, without its
 * Σ n_k² joined rows.
 *
 * It runs as a row-blocked Gustavson sparse product:
 *  1. one sorted `(item, value)` profile per key (one keyed aggregate);
 *  2. each profile is sent to every item block it touches, with the
 *     positions of the items it owns there — the item → block map is a
 *     hash, and the blocks are the session's shuffle partitions, mapped
 *     one-to-one onto the exchange's partitions by `repartitionById`;
 *  3. each block task walks its own items in ascending order and, for
 *     each, sums over the profiles that contain it, in key order, into
 *     a dense accumulator over the block's item dictionary, then emits
 *     that item's row.
 * Every row of one `i` is emitted by one task, so the output is
 * clustered by `i` (a downstream per-`i` top-k prunes before its
 * exchange). Each `dot` sums in key order, so it is bit-identical
 * however the input is partitioned.
 *
 * Memory contract: a block task holds its routed profiles as primitive
 * arrays plus O(catalog) accumulators (the block's item dictionary and
 * one double, one int and one index per dictionary entry). The routed
 * volume over all tasks is Σ_k n_k·min(n_k, B) entries for B blocks,
 * at most Σ_k n_k² — never more than the join form's joined rows — and
 * a task holds about 1/B of it. Callers size that volume as they would
 * the join (`Recommender.userSimsAuto`, which `itemSimsAuto` runs over
 * the transposed ratings, keeps Σ n_k² under 1e8 on its exact branch).
 *
 * Rows whose key or item is null are dropped, as the equi-join drops
 * them; a null value fails the task with a message naming the column.
 * Keys and items must be integral; `i` and `j` keep the item column's
 * type, `dot` is a double and `co` a long.
 */
object Gram {

  def pairs(df: DataFrame, key: String, item: String, value: String): DataFrame = {
    val itemType = df.schema(item).dataType
    routed(df, key, item, value)
      .mapPartitions(blockTask)(Encoders.product[GramPair])
      .select(col("i").cast(itemType).as("i"), col("j").cast(itemType).as("j"),
        col("dot"), col("co"))
  }

  /** Steps 1 and 2 of [[pairs]]: the profiles, routed so that exchange
    * partition `b` holds exactly block `b`. Plain expressions up to the
    * block task, so a rebuilt plan over the same input matches a cached
    * one (the session caches over [[pairs]] depend on it). */
  private[graft] def routed(df: DataFrame, key: String, item: String,
                            value: String): Dataset[GramRouted] = {
    Seq(key, item).foreach { c =>
      val t = df.schema(c).dataType
      require(integral(t), s"Gram.pairs: column '$c' must be integral, got ${t.simpleString}")
    }
    val blocks = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    def block(x: Column): Column = pmod(xxhash64(x), lit(blocks.toLong)).cast("int")
    val checked = coalesce(col(value).cast("double"),
      raise_error(lit(s"Gram.pairs: null value in column '$value'")).cast("double"))
    df.filter(col(key).isNotNull && col(item).isNotNull)
      .groupBy(col(key).cast("long").as("key"))
      .agg(sort_array(collect_list(struct(col(item).cast("long").as("item"),
        checked.as("value")))).as("p"))
      .select(col("key"), col("p.item").as("items"), col("p.value").as("vals"))
      .withColumn("b", explode(array_distinct(transform(col("items"), block(_)))))
      .withColumn("own", filter(sequence(lit(0), size(col("items")) - 1),
        q => block(col("items")(q)) === col("b")))
      .as(Encoders.product[GramRouted])
      .repartitionById(blocks, col("b"))
  }

  private def integral(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  /** [[rowsOfBlock]] as one function value: the plan holds this
    * instance, so two plans of [[pairs]] over one input are equal. */
  private val blockTask: Iterator[GramRouted] => Iterator[GramPair] = rowsOfBlock

  /** One block task: every row `i` the block owns, in ascending `i`. */
  private def rowsOfBlock(it: Iterator[GramRouted]): Iterator[GramPair] = {
    val ps = it.toArray.sortBy(_.key)
    if (ps.isEmpty) return Iterator.empty
    ps.foreach(p => if (p.b != ps(0).b) throw new IllegalStateException(
      s"Gram.pairs: blocks ${ps(0).b} and ${p.b} share one partition"))
    // the block's item dictionary: every item of every routed profile
    val ids = {
      val all = ps.flatMap(_.items).sorted
      var u = 0
      var q = 0
      while (q < all.length) {
        if (u == 0 || all(q) != all(u - 1)) { all(u) = all(q); u += 1 }
        q += 1
      }
      java.util.Arrays.copyOf(all, u)
    }
    val d = ids.length
    val idx = ps.map(_.items.map(x => java.util.Arrays.binarySearch(ids, x)))
    // postings of the owned entries, grouped by item, in key then
    // position order (a stable counting sort)
    val start = new Array[Int](d + 1)
    ps.indices.foreach(p => ps(p).own.foreach(q => start(idx(p)(q) + 1) += 1))
    (0 until d).foreach(x => start(x + 1) += start(x))
    val postP = new Array[Int](start(d))
    val postQ = new Array[Int](start(d))
    val fill = java.util.Arrays.copyOf(start, d)
    ps.indices.foreach(p => ps(p).own.foreach { q =>
      val x = idx(p)(q)
      postP(fill(x)) = p
      postQ(fill(x)) = q
      fill(x) += 1
    })

    new Iterator[GramPair] {
      private val acc = new Array[Double](d)
      private val cnt = new Array[Int](d)
      private val touched = new Array[Int](d)
      private var row = -1 // the dictionary index of the row being emitted
      private var nt = 0
      private var t = 0

      /** Accumulates the next owned row into `acc`/`cnt`. */
      private def nextRow(): Unit = {
        row += 1
        while (row < d && start(row) == start(row + 1)) row += 1
        t = 0
        nt = 0
        if (row < d) {
          var s = start(row)
          while (s < start(row + 1)) {
            val a = ps(postP(s)).vals(postQ(s))
            val js = idx(postP(s))
            val vs = ps(postP(s)).vals
            var q = 0
            while (q < js.length) {
              val j = js(q)
              if (j != row) {
                if (cnt(j) == 0) { touched(nt) = j; nt += 1 }
                acc(j) += a * vs(q)
                cnt(j) += 1
              }
              q += 1
            }
            s += 1
          }
        }
      }

      def hasNext: Boolean = {
        while (t == nt && row < d) nextRow()
        t < nt
      }

      def next(): GramPair = {
        if (!hasNext) throw new NoSuchElementException
        val j = touched(t)
        t += 1
        val out = GramPair(ids(row), ids(j), acc(j), cnt(j).toLong)
        acc(j) = 0.0
        cnt(j) = 0
        out
      }
    }
  }
}
