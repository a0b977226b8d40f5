package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/**
 * Privacy operators for training-data prep: deterministic
 * pseudonymization of natural keys, k-anonymity generalization /
 * suppression over quasi-identifiers, and regex PII scrubbing of
 * free text. Everything is per-row narrow expressions plus keyed
 * class-size aggs — the class-size dims are |quasi-id classes| rows
 * (bounded by the id domain, not the fact count), so they broadcast
 * at any data scale and the fact side never shuffles.
 */
object Privacy {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q91_k_anonymity" -> q91,
    "q109_pii_scrub" -> q109
  )

  /** Salt for [[pseudonymize]] — versioned so a rotation re-keys every
    * token at once (the standard PII-token rotation lever). */
  val TOKEN_SALT = "graft_pii_v1:"

  /** Deterministic salted pseudonym for a natural key: same input →
    * same token (joins across tables keep working), irreversible
    * without the salt. 64 bits of md5 as hex. */
  def pseudonymize(key: Column): Column =
    substring(md5(concat(lit(TOKEN_SALT), key.cast("string"))), 1, 16)

  /** Minimum published equivalence-class size for q91. */
  val K_ANON = 4

  /** Account-balance band width (q91's generalizable quasi-id part). */
  val BAND_WIDTH = 2000.0

  /** k-anonymity release of the customer table: the natural key is
    * replaced by a salted token, and the quasi-identifier
    * (nation, segment, acctbal band) goes through the standard
    * generalization ladder — publish the fine class when it already
    * has ≥ K members; otherwise generalize the band to `<any>` and
    * publish when the MERGED class (all sub-K fine classes of that
    * (nation, segment)) reaches K; otherwise suppress the row's
    * quasi-id entirely. Class sizes are counted over the PUBLISHED
    * form, so every suppressed=0 row sits in a ≥ K class — the actual
    * k-anonymity guarantee, spec-asserted.
    *
    * Scale shape: two keyed counts build class-size dims bounded by
    * |nation|·|segment|·|bands| rows — broadcast joins back over the
    * facts; the fact table itself never shuffles. */
  private def q91(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir).select(
      pseudonymize(col("c_custkey")).as("token"),
      col("c_nationkey"), col("c_mktsegment"),
      floor(col("c_acctbal") / BAND_WIDTH).cast("long").as("band"))
    val fine = c.groupBy(col("c_nationkey"), col("c_mktsegment"), col("band"))
      .agg(count(lit(1)).as("n_fine"))
    // merged class: everything generalized to (nation, segment, <any>)
    val merged = fine.filter(col("n_fine") < K_ANON)
      .groupBy(col("c_nationkey"), col("c_mktsegment"))
      .agg(sum(col("n_fine")).as("n_any"))
    c.join(broadcast(fine), Seq("c_nationkey", "c_mktsegment", "band"))
      .join(broadcast(merged), Seq("c_nationkey", "c_mktsegment"), "left")
      .select(col("token"),
        when(col("n_fine") >= K_ANON || col("n_any") >= K_ANON,
          col("c_nationkey").cast("string")).otherwise("<redacted>")
          .as("nation_out"),
        when(col("n_fine") >= K_ANON || col("n_any") >= K_ANON,
          col("c_mktsegment")).otherwise("<redacted>").as("segment_out"),
        when(col("n_fine") >= K_ANON, col("band").cast("string"))
          .when(col("n_any") >= K_ANON, lit("<any>"))
          .otherwise("<redacted>").as("acct_band"),
        (col("n_fine") < K_ANON && coalesce(col("n_any"), lit(0L)) < K_ANON)
          .cast("int").as("suppressed"))
  }

  /** Ordered PII scrub patterns (pattern, replacement). Order matters:
    * card numbers before generic digit runs would, e.g., otherwise be
    * eaten by a phone pattern. Applied as chained regexp_replace —
    * per-row narrow work, no shuffle.
    *
    * ENGINE-PORTABLE BY CONTRACT: every pattern is valid under BOTH
    * java.util.regex (Spark codegen) and RE2 (DuckDB / Go / C++
    * scanners), so the exact same strings drive the q109 oracle. That
    * rules out lookarounds — the phone rule anchors on `\(` or a
    * leading `\b\d{3}` instead of the classic `(?<!\d)…(?!\d)` guard,
    * so a bare "+1 " country prefix survives in front of the redacted
    * national number (documented trade; spec-pinned). */
  val PII_PATTERNS: Seq[(String, String)] = Seq(
    ("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("\\b\\d(?:[ -]?\\d){12,15}\\b", "<CARD>"),
    ("(?:\\(\\d{3}\\)|\\b\\d{3})[ .-]\\d{3}[ .-]\\d{4}\\b", "<PHONE>"),
    ("\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b", "<IP>"))

  /** Redact PII spans from a text column. */
  def scrubPii(text: Column): Column =
    PII_PATTERNS.foldLeft(text) { case (c, (p, r)) => regexp_replace(c, p, r) }

  /** Marker → count-extraction length, for the q109 per-kind counts
    * (occurrences counted by length delta under marker removal — no
    * second regex pass, portable to any SQL engine). */
  val PII_MARKERS: Seq[String] = PII_PATTERNS.map(_._2)

  /** q109 — PII scrub over the documents corpus, self-testing.
    *
    * The synthetic corpus is PII-free by construction, so the query
    * PLANTS deterministic spans derived from `doc_id` — `doc_id % 3`
    * emails, `doc_id % 2` phones, one IP, `(doc_id+1) % 2` cards —
    * scrubs the planted text, and emits per-kind counts recovered
    * from the scrubbed output plus `clean_pass` (the ORIGINAL text
    * survives the scrubber byte-identical: a false-positive probe
    * over the whole corpus). A real deployment drops the planting
    * stage and keeps the scrub + count columns as its redaction
    * audit. Shape: one narrow codegen'd map over the scan — no
    * shuffle, no UDF; at 100 TB this is embarrassingly parallel and
    * the regex chain runs once per row inside whole-stage codegen. */
  private def q109(spark: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    val planted = concat(
      col("text"),
      expr("repeat(concat(' u', CAST(doc_id AS STRING), '@mail.example.com'), CAST(doc_id % 3 AS INT))"),
      expr("repeat(concat(' (5', lpad(CAST(doc_id % 100 AS STRING), 2, '0'), ') 123-4567'), CAST(doc_id % 2 AS INT))"),
      concat(lit(" from 10.2."), (id % 256).cast("string"), lit(".9")),
      // the 'pay' word keeps the card digits from fusing with the
      // IP's trailing octet into one 13+-digit CARD span
      expr("repeat(' pay 4111 1111 1111 1111', CAST((doc_id + 1) % 2 AS INT))"))
    val scrubbed = scrubPii(planted)
    def markerCount(s: Column, marker: String): Column =
      ((length(s) - length(expr(s"replace(scrubbed, '$marker', '')"))) /
        lit(marker.length)).cast("long")
    Tables.table(spark, dir, "documents")
      .select(id, col("text"), scrubbed.as("scrubbed"))
      .select(
        id,
        markerCount(col("scrubbed"), "<EMAIL>").as("n_email"),
        markerCount(col("scrubbed"), "<PHONE>").as("n_phone"),
        markerCount(col("scrubbed"), "<IP>").as("n_ip"),
        markerCount(col("scrubbed"), "<CARD>").as("n_card"),
        (scrubPii(col("text")) === col("text")).cast("int").as("clean_pass"),
        substring(md5(col("scrubbed")), 1, 16).as("scrub_fp"))
  }
}
