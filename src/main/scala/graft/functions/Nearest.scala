package graft.functions

import org.apache.spark.sql.{Column, DataFrame, GraftShims, Row}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.expressions.objects.AssertNotNull
import org.apache.spark.sql.functions._
import graft.functions.Rounding.r6

/**
 * The one nearest-cell rule: codebook entries ranked by r6-rounded
 * squared L2 distance ascending, then by id ascending. IVF, PQ,
 * SemDeDup, the streaming gates and the Lloyd stage assign through it.
 *
 * A codebook travels as a [[book]] row, `book: array<struct<id, cv,
 * …>>` (extra fields ride along), and the argmin is one row-local
 * expression over it: an `array_min` ([[nearest]]) or a `slice` of
 * the `sort_array` ([[ranked]]) over `struct(d2, id, …)`. Struct ordering compares
 * field by field, nulls first and NaN largest — the ordering of a
 * `(d2 asc, id asc)` window — so the result equals the crossJoin +
 * per-vector top-k window, with no exchange. The batch path attaches
 * the book with `crossJoin(broadcast(book))`, the stream path inlines
 * it as a [[literal]]. (`sort_array`, not `array_sort`: the latter's
 * default comparator treats a struct with a null field as equal to
 * every other struct.)
 */
object Nearest {

  /** The codebook `cents` as one `book` row per `keys` group (one row
    * without keys), entries `struct(id, cv)` sorted by id. An empty
    * codebook gives no row, so crossJoining it assigns nothing. */
  def book(cents: DataFrame, id: String, cv: String = "cv", keys: Seq[String] = Nil): DataFrame =
    cents.groupBy(keys.map(col): _*)
      .agg(sort_array(collect_list(struct(col(id).as("id"), col(cv).as("cv")))).as("book"))
      .filter(size(col("book")) > 0)

  /** A keyless [[book]] collected to the driver: its entries as an
    * array literal (empty for an empty codebook) and their count. */
  def literal(book: DataFrame): (Column, Int) = {
    val entries = book.collect().headOption
      .fold(Seq.empty[Row])(r => r.getSeq[Row](r.fieldIndex("book")))
    (GraftShims.toColumn(Literal.create(entries, book.schema("book").dataType)), entries.size)
  }

  /** The nearest entry to `v`, `struct(d2, id, keep…)`; null on an
    * empty book. */
  def nearest(v: Column, book: Column, keep: Seq[String] = Nil): Column =
    array_min(scored(v, book, keep))

  /** The `id` of a [[nearest]] struct `w` over a book known to be
    * non-empty — a [[book]] row joined to the row (a book row is never
    * empty) or a non-empty [[literal]] — typed non-nullable: the argmin
    * exists (a null entry id fails the task). Without it, a join on the
    * id infers `isnotnull(id)` and pushes a second copy of the argmin
    * below the projection, into the crossJoin's condition or a filter. */
  def id(w: Column): Column =
    GraftShims.toColumn(AssertNotNull(GraftShims.toExpression(w.getField("id"))))

  /** The `k` nearest entries, nearest first. */
  def ranked(v: Column, book: Column, k: Int): Column = {
    require(k >= 1, s"nearest-k needs k >= 1, got k = $k")
    slice(sort_array(scored(v, book, Nil)), 1, k)
  }

  private def scored(v: Column, book: Column, keep: Seq[String]): Column =
    transform(book, c => struct(
      r6(VectorFns.sqDistArr(v, c.getField("cv"))).as("d2") +: c.getField("id").as("id") +:
        keep.map(f => c.getField(f).as(f)): _*))
}
