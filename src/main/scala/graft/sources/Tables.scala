package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/**
 * Table readers over the driver-generated parquet star schema
 * (see /root/repo/TESTDATA.md) plus the derived long-form views the
 * recommender operators run on.
 *
 * The reference engine reads headerless TSV ratings with an explicit
 * 4-column schema (reference Main.scala:33-51); this rebuild reads
 * parquet and derives the same `(user_id, item_id, rating)` long-form
 * shape from the TPC-H-ish tables, per FIXTURES.md §3. All readers are
 * plain parquet scans so Catalyst can push filters/projections down to
 * the source (`PushedFilters` / `ReadSchema`).
 */
object Tables {

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(spark: SparkSession, dir: String): DataFrame    = table(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame    = table(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame      = table(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame    = table(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "lineitem")
  /** The events reader branches on the OBSERVED parquet schema of `ts`
    * rather than assuming a remembered physical layout — generated
    * datasets have shipped it both as TIMESTAMP(NANOS) (which, under
    * `spark.sql.legacy.parquet.nanosAsLong=true`, reads as a nanos
    * LongType and needs an integer-division rebuild — `DIV`, not `/`,
    * because nanos ≈ 1.7e18 exceeds double mantissa precision) and as
    * TIMESTAMP(MICROS) with isAdjustedToUTC=false (which reads as
    * TIMESTAMP_NTZ and only needs a cast to the session-zone
    * TimestampType; all entry points pin the session zone to UTC, so
    * the cast is value-identical). Every downstream operator sees one
    * canonical TimestampType `ts` whichever file layout is on disk. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val df = table(spark, dir, "events")
    df.schema("ts").dataType match {
      case LongType         => df.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType    => df
      case other =>
        throw new IllegalStateException(
          s"events.ts has unsupported physical type $other; expected LongType (nanos-as-long), TIMESTAMP_NTZ, or TIMESTAMP")
    }
  }
  /** The corpus reader spreads a sub-parallelism scan across the
    * session's shuffle parallelism before returning it (r15): the
    * small-SF corpus is ONE parquet file = one input split, so every
    * text pipeline's first stage — tokenize / explode / partial
    * aggregation, the expensive per-byte work — ran on a single task
    * regardless of core count (q48's whole char-bigram chain was one
    * task; every cached token/gram table materialized single-threaded
    * and pinned a 1-partition cache that kept downstream stages
    * serial until their first exchange). The guard keeps this
    * scale-correct: an at-scale corpus already carries ≥ parallelism
    * splits and passes through untouched — no full-corpus exchange is
    * ever added where the scan is already wide. The explicit partition
    * count (the session's own shuffle parallelism, not a constant)
    * keeps AQE from coalescing the tiny-bytes exchange back to one
    * partition — AQE sizes on exchange bytes and cannot see the
    * ~1000× downstream expansion. Hash-partitioning on doc_id is
    * deterministic (no round-robin retry hazard, SPARK-38388) and
    * lets downstream doc_id joins/aggregations reuse the partitioning
    * (measured: the doc_id key beat a derived-hash key by ~25% across
    * the text family — the reuse, not just the spread, is the win).
    * Caveat this interacts with: two filtered branches of this scan
    * both report HashPartitioning(doc_id, n), and a standing-index
    * join under their union then executed with mismatched child
    * partition counts ("Can't zip RDDs", q149b) — fixed at the fold
    * sites by broadcasting the delta-sized touched key set, which is
    * the right join shape there anyway. The map-only and
    * single-shuffle plans (q72, q108, q109, q111) read the plain
    * `table(spark, dir, "documents")` scan instead: the spread would
    * only add an exchange to them. The scan's split count is read
    * once per (session, dir) — it is a property of the files, and
    * reading it builds the scan's RDD — so a directory rewritten in
    * place keeps its first count for the session's life. */
  def documents(spark: SparkSession, dir: String): DataFrame = {
    val raw = table(spark, dir, "documents")
    val n = spark.sessionState.conf.numShufflePartitions
    val splits = docSplits.synchronized(docSplits.computeIfAbsent(spark,
      _ => new java.util.concurrent.ConcurrentHashMap[String, Int]()))
      .computeIfAbsent(dir, _ => raw.rdd.getNumPartitions)
    if (splits >= n) raw
    else raw.repartition(n, col("doc_id"))
  }
  private val docSplits =
    new java.util.WeakHashMap[SparkSession, java.util.concurrent.ConcurrentHashMap[String, Int]]()
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")

  /**
   * Long-form ratings triples `(user_id, item_id, rating)` — the
   * rebuild's replacement for the reference's driver-side dense
   * user×item matrix (reference BaseRecommender.scala:87-132). Derived
   * deterministically as customer→part interactions weighted by
   * quantity; the average is rounded at the source so every downstream
   * float is reproducible bit-for-bit against the DuckDB oracle.
   *
   * At scale this is the only materialization the engine ever needs:
   * one shuffle on (user, item); never a densified matrix.
   */
  def ratings(spark: SparkSession, dir: String): DataFrame = {
    val li = lineitem(spark, dir).select("l_orderkey", "l_partkey", "l_quantity")
    val o  = orders(spark, dir).select("o_orderkey", "o_custkey")
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .groupBy(col("o_custkey").as("user_id"), col("l_partkey").as("item_id"))
      .agg(round(avg(col("l_quantity")), 6).as("rating"))
  }

  /** [[ratings]] marked for caching — the kNN/rule pipelines reference
    * the view up to six times per query plan, and Spark recomputes an
    * uncached derived view per reference. `cache()` is idempotent
    * across calls (the CacheManager dedups by canonicalized plan, so
    * every query in a session shares ONE materialization — at 100 TB
    * this is "persist the interaction matrix once per job", the first
    * thing any production recommender does). Values are identical to
    * the uncached view; only the recompute count changes. */
  def ratingsCached(spark: SparkSession, dir: String): DataFrame =
    ratings(spark, dir).cache()

  /** S1: headerless tab-separated ratings ingest with the reference's
    * explicit 4-column schema (reference Main.scala:33-51), except the
    * unix-seconds column becomes a real TimestampType instead of the
    * reference's `from_unixtime` string detour — downstream windowing
    * then needs no re-parse. */
  def ratingsTsv(spark: SparkSession, path: String): DataFrame =
    spark.read
      .schema("user_id INT, item_id INT, rating DOUBLE, ts LONG")
      .option("sep", "\t")
      .csv(path)
      .withColumn("ts", timestamp_seconds(col("ts")))

  /** JSON-lines documents ingest — the interchange format corpus
    * drops usually arrive in before parquet conversion. The schema is
    * EXPLICIT (never inferSchema on a 100-TB drop: inference is a
    * full extra pass and a silent-drift hazard); extra keys in the
    * JSON are ignored and missing ones read as NULL. Corrupt lines are
    * dropped BY THE PARSER (DROPMALFORMED): the default PERMISSIVE
    * mode without a declared `_corrupt_record` column would surface
    * each bad line as a silent all-NULL row flowing into downstream
    * operators, and declaring the column instead trips Spark's
    * raw-file restriction on queries that reference only it. One bad
    * line never kills the read; a drop-rate AUDIT, when wanted, is a
    * separate PERMISSIVE read with the corrupt column cached first
    * (the Spark-documented pattern), not this hot ingest path. Emits
    * the same five columns as the parquet [[documents]] table, so
    * every documents-family operator runs unchanged on a JSONL drop. */
  def documentsJsonl(spark: SparkSession, path: String): DataFrame =
    spark.read
      .schema("doc_id LONG, source STRING, lang STRING, text STRING, n_chars INT")
      .option("mode", "DROPMALFORMED")
      .json(path)

  /** S2: headered CSV item-features ingest with schema inference
    * (reference Main.scala:53-59); columns beyond `id` are the feature
    * flags, ready for array assembly. */
  def featuresCsv(spark: SparkSession, path: String): DataFrame =
    spark.read
      .option("header", "true")
      .option("inferSchema", "true")
      .csv(path)

  /** Shared SQL fragment defining the same `ratings` view for the
    * DuckDB oracle — MUST stay semantically identical to [[ratings]]. */
  val ratingsSql: String =
    """ratings AS (
      |  SELECT o_custkey AS user_id, l_partkey AS item_id,
      |         round(avg(l_quantity), 6) AS rating
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  GROUP BY 1, 2
      |)""".stripMargin
}
