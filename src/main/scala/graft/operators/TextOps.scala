package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.sources.Tables
import graft.functions.{MisraGriesAggregator, TopK, VectorFns}
import graft.functions.Rounding.r4

/**
 * Text-analysis operators over `documents`: per-doc quality statistics,
 * stopword-profile language identification and positional fingerprints
 * — the text leg of the LLM-data-pipeline family. Everything runs as
 * higher-order array functions on the token array (no UDFs), so the
 * whole pipeline stays inside whole-stage codegen and scales as one
 * narrow map + keyed agg.
 */
object TextOps {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q24_text_stats" -> q24,
    "q25_lang_id" -> q25,
    "q26_doc_fingerprint" -> q26,
    "q47_token_count" -> q47,
    "q48_bigram_lang_id" -> q48,
    "q61_repetition_stats" -> q61,
    "q72_heavy_hitters" -> q72,
    "q94_lm_quality" -> q94,
    "q106_perplexity_buckets" -> q106,
    "q106b_ccnet_calibrated" -> q106b,
    "q107_gopher_flags" -> q107,
    "q111_blocklist" -> q111,
    "q116_quality_classifier" -> q116,
    "q122_ngram_diversity" -> q122,
    "q123_zipf_fit" -> q123,
    "q135_vocab_growth" -> q135,
    "q142_mink_prob" -> q142,
    "q142b_mink_sketch" -> q142b,
    "q134_filter_sweep" -> q134
  )

  /** Blocklist for the C4-style badwords filter (Raffel et al. 2020
    * drop any page containing a term from a fixed blocklist). Terms
    * chosen against the synthetic vocabulary: 'dup' is rare-but-
    * present (a small fraction of docs flags, like a real corpus),
    * 'leak'/'spill' are absent (the no-hit path stays exercised). */
  val BLOCK_TERMS = Seq("dup", "leak", "spill")

  /** q111 — multi-term blocklist filter over tokenized documents:
    * per doc, total blocked-token occurrences, distinct blocked terms
    * (sorted, comma-joined so the hash gate sees a scalar), and the
    * C4 keep/drop verdict (keep ⇔ zero hits).
    *
    * Shape: the blocklist is a LITERAL array inside the generated
    * code (a real 100 k-term list would broadcast and feed the same
    * HOFs), so the whole query is one narrow codegen'd map over the
    * scan — no shuffle, no UDF, embarrassingly parallel at 100 TB. */
  private def q111(spark: SparkSession, dir: String): DataFrame = {
    val block = array(BLOCK_TERMS.map(lit): _*)
    val tk = VectorFns.tokens(col("text"))
    Tables.table(spark, dir, "documents")
      .select(col("doc_id"), col("source"), tk.as("tk"))
      .select(
        col("doc_id"), col("source"),
        size(filter(col("tk"), t => t.isInCollection(BLOCK_TERMS)))
          .cast("long").as("n_hits"),
        array_join(sort_array(array_intersect(col("tk"), block)), ",")
          .as("blocked_terms"))
      .withColumn("n_blocked",
        when(col("blocked_terms") === "", 0L)
          .otherwise(size(split(col("blocked_terms"), ",")).cast("long")))
      .withColumn("keep", (col("n_hits") === 0L).cast("int"))
      .select(col("doc_id"), col("source"), col("n_hits"),
        col("n_blocked"), col("blocked_terms"), col("keep"))
  }

  /** Gopher-rule repetition threshold: a doc whose single most common
    * word 2-gram covers > 18% of its 2-grams is flagged repetitive
    * (the published Gopher quality-filter rule for top-2-gram
    * character fraction, applied here on the count fraction). */
  val TOP_BIGRAM_REPETITIVE = 0.18

  val STOPWORDS = Seq("the", "a", "of", "and", "to", "in", "is", "it")

  /** (lang, stopword) marker profiles for the n-gram-free heuristic
    * language ID — tiny, broadcast. zh has no Latin markers: its score
    * is always 0, exercising the all-zero tie path. */
  val LANG_PROFILES: Seq[(String, String)] = Seq(
    "en" -> "the", "en" -> "a", "en" -> "of",
    "es" -> "el", "es" -> "la", "es" -> "de",
    "fr" -> "le", "fr" -> "et", "fr" -> "les",
    "de" -> "der", "de" -> "und", "de" -> "das")
  val LANGS = Seq("de", "en", "es", "fr", "zh")

  /** Per-doc token/quality statistics: counts, type-token ratio,
    * average token length, stopword ratio, and a deterministic
    * composite quality score (length-capped, stopword-penalized).
    *
    * Shape: explode once, then TWO keyed aggs — (doc, token) counts
    * first, per-doc stats second. One tokenize per row (the original
    * five-HOF select re-evaluated the split per output column and cost
    * seconds of codegen compile alone), no countDistinct Expand, and
    * every stage is a plain codegen'd hash agg that partial-aggregates
    * map-side — the shape that survives 100 TB of documents.
    *
    * Contract: documents with ZERO tokens are excluded (explode emits
    * nothing for them; the oracle filters `len(tk) > 0` to match) —
    * token statistics over an empty token set are undefined anyway. */
  private def q24(spark: SparkSession, dir: String): DataFrame = {
    val perTok = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(VectorFns.tokens(col("text"))).as("tok"))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("cnt"))
    val stats = perTok.groupBy(col("doc_id")).agg(
      sum(col("cnt")).cast("int").as("n_tokens"),
      count(lit(1)).cast("int").as("n_distinct"),
      sum(col("cnt") * length(col("tok"))).cast("double").as("sum_len"),
      sum(when(col("tok").isin(STOPWORDS: _*), col("cnt")).otherwise(lit(0L)))
        .cast("double").as("n_stop"))
    val nTok = col("n_tokens").cast("double")
    stats.select(
      col("doc_id"), col("n_tokens"), col("n_distinct"),
      r4(col("n_distinct").cast("double") / nTok).as("ttr"),
      r4(col("sum_len") / nTok).as("avg_token_len"),
      r4(col("n_stop") / nTok).as("stopword_ratio"),
      r4(least(lit(1.0), nTok / 100.0) * (lit(1.0) - col("n_stop") / nTok))
        .as("quality_score"))
  }

  /** Stopword-profile language ID → confusion matrix against the
    * labeled `lang` column. Profiles are a broadcast dimension; the
    * argmax is a per-doc window with (hits desc, lang asc) tie-break. */
  private def q25(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val profiles = spark.createDataFrame(LANG_PROFILES).toDF("plang", "pword")
    val langs = spark.createDataFrame(LANGS.map(Tuple1(_))).toDF("plang")
    val hits = docs
      .select(col("doc_id"), explode(VectorFns.tokens(col("text"))).as("tok"))
      .join(broadcast(profiles), col("tok") === col("pword"))
      .groupBy(col("doc_id"), col("plang"))
      .agg(count(lit(1)).as("hits"))
    val scored = docs.select(col("doc_id"), col("lang"))
      .crossJoin(broadcast(langs))
      .join(hits, Seq("doc_id", "plang"), "left")
      .na.fill(0L, Seq("hits"))
    TopK.perGroup(scored, Seq(col("doc_id")), Seq(col("hits").desc, col("plang").asc), 1)
      .groupBy(col("lang"), col("plang").as("pred_lang"))
      .agg(count(lit(1)).as("n_docs"))
  }

  /** Token counting two ways: whitespace tokens vs a BPE-style
    * pre-tokenizer regex (`\w+|[^\w\s]` — word pieces plus individual
    * punctuation/ideograph marks, the GPT-2 pre-tokenizer's coarse
    * shape). The chars-per-token ratio is the standard LLM-corpus
    * budgeting statistic; both counts are narrow per-row expressions
    * that scan once. */
  private def q47(spark: SparkSession, dir: String): DataFrame = {
    val t = col("text")
    val nWs = size(VectorFns.tokens(t))
    val nBpe = size(regexp_extract_all(t, lit("\\w+|[^\\w\\s]"), lit(0)))
    Tables.documents(spark, dir).select(
      col("doc_id"), col("n_chars"),
      nWs.as("n_ws_tokens"),
      nBpe.as("n_bpe_tokens"),
      // explicit NULL on zero tokens: Spark's x/0 is NULL but DuckDB's
      // is ±inf under ieee_floating_point_ops — pin both to NULL
      // (oracle mirrors with NULLIF) so empty docs can't hash-mismatch
      when(nBpe === 0, lit(null).cast("double"))
        .otherwise(r4(col("n_chars").cast("double") / nBpe.cast("double")))
        .as("chars_per_bpe_token"))
  }

  /** Repetition / diversity quality signals per document — the
    * Gopher-style repetition filters an LLM-corpus pipeline runs after
    * dedup: most-common-word fraction, distinct-word ratio and
    * most-common word-2-gram fraction, with the published
    * top-2-gram > [[TOP_BIGRAM_REPETITIVE]] flag. All keyed aggs over
    * exploded tokens (positions only feed the 2-gram self-join on
    * pos+1) — one shuffle per statistic family at any corpus size. */
  private def q61(spark: SparkSession, dir: String): DataFrame =
    repetitionStats(Tables.documents(spark, dir))

  /** Library surface of [[q61]]: Gopher-style repetition stats over
    * `(doc_id, text)` — top-word fraction, distinct-word ratio,
    * top-2-gram fraction and the > [[TOP_BIGRAM_REPETITIVE]] flag. */
  def repetitionStats(docs: DataFrame): DataFrame = {
    val toks = docs
      .select(col("doc_id"), posexplode(VectorFns.tokens(col("text"))))
      .select(col("doc_id"), col("pos"), col("col").as("w"))
    val wagg = toks.groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(sum(col("c")).as("n_words"),
        count(lit(1)).as("n_distinct"), max(col("c")).as("top_w"))
    val nxt = toks.select(col("doc_id"), (col("pos") - 1).as("pos"),
      col("w").as("w2"))
    val bagg = toks.join(nxt, Seq("doc_id", "pos"))
      .groupBy(col("doc_id"), concat(col("w"), lit(" "), col("w2")).as("g"))
      .agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(sum(col("c")).as("n_bigrams"),
        max(col("c")).as("top_bg"))
    val topBgFrac = r4(col("top_bg").cast("double") / col("n_bigrams"))
    wagg.join(bagg, Seq("doc_id"), "left") // 1-word docs: NULL 2-gram stats
      .select(col("doc_id"), col("n_words"),
        r4(col("top_w").cast("double") / col("n_words")).as("top_word_frac"),
        r4(col("n_distinct").cast("double") / col("n_words")).as("distinct_ratio"),
        topBgFrac.as("top_bigram_frac"),
        (topBgFrac > TOP_BIGRAM_REPETITIVE).as("repetitive"))
  }

  val BIGRAM_PROFILE_SIZE = 20

  /** Character-bigram language ID — the n-gram heuristic variant of
    * q25's stopword profiles, self-supervised: the `doc_id % 5 = 0`
    * slice trains per-language top-20 bigram profiles (a tiny
    * broadcast dimension); every other doc is scored by how many of
    * its bigram occurrences hit each profile, argmax with
    * deterministic tie-break, emitted as a confusion matrix. All
    * stages are keyed aggs over exploded bigrams — the same shape at
    * any corpus size. */
  private def q48(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), Dedup.normText(col("text")).as("t"))
    def bigrams(df: DataFrame): DataFrame = df
      // guard len >= 2: sequence(1, 0) in Spark DESCENDS ([1, 0]) and
      // would emit spurious rows where the oracle's generate_series
      // yields [] — short/empty docs must produce no bigrams
      .filter(length(col("t")) >= 2)
      .select(col("doc_id"), col("lang"),
        explode(sequence(lit(1), length(col("t")) - 1)).as("i"),
        col("t"))
      .select(col("doc_id"), col("lang"), expr("substring(t, i, 2)").as("bg"))

    val train = bigrams(docs.filter(col("doc_id") % 5 === 0))
    val profile = train.groupBy(col("lang").as("plang"), col("bg"))
      .agg(count(lit(1)).as("cnt"))
      .transform(TopK.perGroup(_, Seq(col("plang")), Seq(col("cnt").desc, col("bg").asc),
        BIGRAM_PROFILE_SIZE))
      .select(col("plang"), col("bg"))
    val langs = profile.select(col("plang")).distinct()

    val test = bigrams(docs.filter(col("doc_id") % 5 =!= 0))
    val hits = test.join(broadcast(profile), Seq("bg"))
      .groupBy(col("doc_id"), col("plang")).agg(count(lit(1)).as("score"))
    val scored = docs.filter(col("doc_id") % 5 =!= 0)
      .select(col("doc_id"), col("lang"))
      .crossJoin(broadcast(langs))
      .join(hits, Seq("doc_id", "plang"), "left")
      .na.fill(0L, Seq("score"))
    TopK.perGroup(scored, Seq(col("doc_id")), Seq(col("score").desc, col("plang").asc), 1)
      .groupBy(col("lang"), col("plang").as("pred_lang"))
      .agg(count(lit(1)).as("n_docs"))
  }

  /** Heavy-hitter support threshold as a fraction of total tokens. */
  val HH_PHI = 0.02
  /** Misra-Gries sketch capacity. Exactness needs HH_PHI > 1/(m+1);
    * 0.02 ≫ 1/257 leaves a 5× margin. */
  val HH_CAPACITY = 256

  /** Two-pass EXACT heavy hitters over the corpus token stream —
    * tokens covering ≥ [[HH_PHI]] of all token occurrences, with exact
    * counts. Pass 1 runs the bounded-memory [[graft.functions
    * .MisraGriesAggregator]] (capacity [[HH_CAPACITY]]) as a global
    * typed agg: map-side partial sketches hold ≤ 2·256 entries per
    * partition (summary + exact side-buffer) and only sketches cross
    * the wire, yet the merged
    * summary provably contains every token above the threshold. Pass 2
    * broadcast-semi-joins the token stream down to the candidate set
    * BEFORE the count shuffle, recounts exactly, and filters at
    * ceil(φ·n) — so the full token-cardinality shuffle (the thing that
    * hurts at 100 TB: shuffling one record per distinct token
    * occurrence) never happens, and the result is still exact, hence
    * hash-checkable against the plain GROUP BY / HAVING oracle. */
  private def q72(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = Tables.table(spark, dir, "documents")
      .select(explode(VectorFns.tokens(col("text"))).as("tok"))
    val sketch = new MisraGriesAggregator(HH_CAPACITY).toColumn
    // the typed global agg yields Dataset[MGBuf], flattened to `counts`
    val cand = toks.as[String].select(sketch)
      .select(explode(map_keys(col("counts"))).as("tok"))
    val total = toks.agg(count(lit(1)).as("n_total"))
    toks.join(broadcast(cand), Seq("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(total))
      .filter(col("cnt") >= ceil(col("n_total") * lit(HH_PHI)))
      .select(col("tok"), col("cnt"))
  }

  /** Positional rolling fingerprint: Σ position·(md5-hash(token) mod
    * 1000003) mod 2³¹-1 — order-sensitive (a permuted doc fingerprints
    * differently), all-integer, engine-exact. */
  private def q26(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), posexplode(VectorFns.tokens(col("text"))))
      .select(col("doc_id"), col("pos"),
        (Dedup.baseHash(col("col")) % 1000003L).as("h"))
      .groupBy(col("doc_id"))
      .agg((sum((col("pos") + 1) * col("h")) % 2147483647L).as("fingerprint"),
        count(lit(1)).as("n_tokens"))

  /** Flag docs whose average bigram log-prob falls below this. */
  val LM_FLAG_THRESH = -3.5

  /** Bigram-LM quality scoring — the KenLM-style perplexity filter a
    * pretraining pipeline runs over every document: train an
    * add-one-smoothed word-bigram model on the corpus itself, score
    * each doc by its mean bigram log-probability, flag the low-prob
    * tail. p(w₂|w₁) = (c(w₁w₂)+1)/(c(w₁)+V) with c(w₁) counted over
    * bigram histories and V = |distinct histories|.
    *
    * Float discipline for an ORDER-DEPENDENT sum of logs: each
    * per-bigram ln goes through one IEEE sequence (exact-integer
    * add → one double division → ln → r6) and is then quantized to
    * DECIMAL(20,6) BEFORE the per-doc sum — so the aggregation is
    * exact and order-independent at any parallelism, and only then
    * does one double division produce the mean. Scale shape: two
    * keyed count aggs build the model (the c₁₂ dim is vocab² — a
    * SHUFFLE join on the bigram key, deliberately not broadcast),
    * scoring is the same exploded-bigram stream joined back; V rides
    * a 1-row broadcast. */
  private def q94(spark: SparkSession, dir: String): DataFrame =
    lmScoresCached(spark, dir)
      .withColumn("flagged",
        (col("avg_logp") < LM_FLAG_THRESH).cast("int"))

  /** Session-cached [[lmQualityScores]] over the bare corpus table —
    * the per-doc (doc_id, n_bigrams, avg_logp) rollup that q94, q100's
    * LM stage, q106/q106b, q131's datasheet, q134's sweep and q147's
    * budget selection all derive identically (r14). Registered here;
    * every OTHER identical lmQualityScores(Tables.documents) subtree
    * hits the entry via CacheManager plan-dedup without code changes.
    * The per-micro-batch gate paths keep [[bigramStreamRaw]] —
    * distinct plans must never register cache entries (r14 probe). */
  private[graft] def lmScoresCached(spark: SparkSession, dir: String): DataFrame =
    lmQualityScores(Tables.documents(spark, dir)).cache()

  /** Library surface of [[q94]]: `(doc_id, text)` → per-doc
    * `(doc_id, n_bigrams, avg_logp)` under the corpus's own add-one
    * bigram LM. Docs with < 2 tokens drop out (no bigrams). */
  /** The exploded per-doc bigram stream `(doc_id, w1, w2)` under the
    * normText/tokens discipline — the ONE tokenization both LM legs
    * (q94's exact model, q131b's sketch model) must share, extracted
    * so a tokenizer change cannot silently diverge the sketch card
    * from the exact card it lower-bounds. Cached: every consumer
    * feeds it to 2-3 aggs plus the scoring join. */
  private[graft] def bigramStream(docs: DataFrame): DataFrame =
    bigramStreamRaw(docs).cache()

  /** [[bigramStream]] WITHOUT the session cache — for per-micro-batch
    * callers ([[lmScoreAgainst]] inside `lmGateStream`): each batch's
    * plan is distinct, so the cached form would register one
    * never-released CacheManager entry per micro-batch — unbounded
    * residency growth in a long-running gate (caught by the r14
    * ingest probe's pin-drain check). Single-consumer chains don't
    * benefit from the cache anyway. */
  private[graft] def bigramStreamRaw(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        VectorFns.tokens(Dedup.normText(col("text"))).as("tk"))
      .filter(size(col("tk")) >= 2)
      .select(col("doc_id"),
        explode(sequence(lit(1), size(col("tk")) - 1)).as("i"), col("tk"))
      .select(col("doc_id"),
        element_at(col("tk"), col("i")).as("w1"),
        element_at(col("tk"), col("i") + 1).as("w2"))

  /** Per-doc bigram COUNTS `(doc_id, w1, w2, c)` — [[bigramStream]]
    * collapsed to one row per (doc, gram). This is the persistable
    * per-doc form of the corpus LM: counts are additive over docs, so
    * a compaction folds the model by subtracting touched docs' rows
    * and adding the delta's (`Corpus.foldLmIndex`), and the expensive
    * normText/tokenize/explode work is never re-paid for an untouched
    * document. */
  private[graft] def docGramCounts(docs: DataFrame): DataFrame =
    bigramStreamRaw(docs)
      .groupBy(col("doc_id"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("c"))

  /** The per-gram r6-quantized log-prob stream `(doc_id, lp)` under
    * the corpus's add-one bigram LM — q94's scoring join before its
    * per-doc rollup, extracted so the Min-K% probe (q142) scores the
    * IDENTICAL model. */
  def perGramLogp(docs: DataFrame): DataFrame = {
    import graft.functions.Rounding.r6
    val bg = bigramStream(docs)
    val c12 = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
    val c1 = bg.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val vdim = bg.agg(countDistinct(col("w1")).as("v"))
    bg.join(c12, Seq("w1", "w2")).join(c1, Seq("w1"))
      .crossJoin(broadcast(vdim))
      .select(col("doc_id"),
        r6(log((col("c12") + 1).cast("double") /
          (col("c1") + col("v")).cast("double")))
          .cast("decimal(20,6)").as("lp"))
  }

  /** Sketch-LM model support: a bigram enters the model iff its EXACT
    * corpus count ≥ ceil(n_bigrams / LM_SKETCH_SUPPORT). */
  val LM_SKETCH_SUPPORT = 2048L

  /** Misra-Gries candidate capacity for the sketch-LM pass —
    * exactness of the two-pass heavy-hitter recipe needs
    * 1/(capacity+1) < 1/[[LM_SKETCH_SUPPORT]]; 4096 leaves a 2×
    * margin (the q72 posture on bigrams). */
  val LM_SKETCH_CAPACITY = 4096

  /** The sketch-LM twin of [[perGramLogp]] — the same `(doc_id, lp)`
    * per-gram stream scored against the TOP-GRAM model instead of the
    * full bigram universe, so the vocab²-sized c₁₂ SHUFFLE join never
    * happens. The model is the EXACT set of bigrams with count ≥
    * ceil(n/support), found without shuffling the bigram-typed
    * stream: pass 1 is the bounded-memory
    * [[graft.functions.MisraGriesAggregator]] as a global typed agg
    * (only ≤2·capacity-entry sketches cross the wire; the merged
    * summary provably contains every bigram above the support line),
    * pass 2 recounts ONLY the ≤capacity candidates behind a broadcast
    * semi-join and filters at the threshold — exact and
    * order-independent, hence hash-checkable against a plain
    * GROUP BY/HAVING oracle. In-model bigrams score EXACTLY their
    * [[perGramLogp]] log-prob ((c12+1)/(c1+V) with exact c1/V — both
    * are vocab-sized aggs, kept exact); out-of-model ones back off to
    * c12 = 0 and score strictly lower, so every per-doc rollup over
    * this stream is a provable lower bound on the exact one. With
    * support ≥ n_bigrams the threshold is 1 and the stream equals
    * [[perGramLogp]] bit-for-bit (the spec's exactness witness). */
  def perGramLogpSketch(docs: DataFrame,
      support: Long = LM_SKETCH_SUPPORT,
      capacity: Int = LM_SKETCH_CAPACITY): DataFrame = {
    import graft.functions.Rounding.r6
    require(support < capacity + 1,
      "two-pass exactness needs 1/(capacity+1) < 1/support")
    val spark = docs.sparkSession
    import spark.implicits._
    val bg = bigramStream(docs)
    // tokens are whitespace-split, so "w1 w2" is an unambiguous key
    val gram = concat_ws(" ", col("w1"), col("w2"))
    val sketch = new MisraGriesAggregator(capacity).toColumn
    val cand = bg.select(gram.as("g")).as[String].select(sketch)
      .select(explode(map_keys(col("counts"))).as("g"))
    val total = bg.agg(count(lit(1)).as("n_bg"))
    val model = bg.select(gram.as("g"), col("w1"), col("w2"))
      .join(broadcast(cand), Seq("g"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
      .crossJoin(broadcast(total))
      .filter(col("c12") >= ceil(col("n_bg") / lit(support.toDouble)))
      .select(col("w1"), col("w2"), col("c12"))
    val c1 = bg.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val vdim = bg.agg(countDistinct(col("w1")).as("v"))
    bg.join(broadcast(model), Seq("w1", "w2"), "left")
      .join(c1, Seq("w1"))
      .crossJoin(broadcast(vdim))
      .select(col("doc_id"),
        r6(log((coalesce(col("c12"), lit(0L)) + 1).cast("double") /
          (col("c1") + col("v")).cast("double")))
          .cast("decimal(20,6)").as("lp"))
  }

  /** The measured exact↔sketch crossover for the corpus LM, in
    * DISTINCT BIGRAMS — the exact model's c₁₂ table size: the column
    * that grows with corpus VOCABULARY (vocab²-shaped on organic
    * text), decides whether the scoring join can broadcast, and keys
    * the model shuffle (BASELINE §round-12,
    * `scale_probe_r12_lmgate_{sf01,sf1}.json` + `_insitu_sf1`): at
    * sf0.1's 931 distinct bigrams the exact chain wins (q142 1.76 s
    * vs the sketch's 2.37 — the two MG passes are pure overhead when
    * c₁₂ is dimension-sized); at the sf1 replica's 9 310 the two
    * sides price inside each other's band (warm floors 3.1–3.3 both
    * ways — the measured INDIFFERENCE point), and the sketch side's
    * growth factor reads 0.14× linear vs the exact side's 0.20–0.36×.
    * The gate flips past the indifference point because the axes
    * diverge from there: exact's c₁₂ grows vocab²-shaped on organic
    * text (the synthetic corpus's bounded vocab cannot exhibit it —
    * the userSimsAuto caveat), while the sketch's model build is
    * capacity-bounded and its scoring join broadcast by construction.
    * The DIMSUM_MIN_PAIRDOTS discipline: flip where the measurements
    * stop favoring exact, never extrapolate wall-clock. */
  val LM_SKETCH_MIN_GRAMS: Long = 4000L

  /** [[lmGramsAuto]]'s pure decision rule, exposed so the boundary is
    * unit-testable without building either plan: sketch iff the exact
    * model's c₁₂ table would hold at least [[LM_SKETCH_MIN_GRAMS]]
    * distinct bigrams. */
  def resolveSketchLm(gramUniverse: Long): Boolean =
    gramUniverse >= LM_SKETCH_MIN_GRAMS

  /** Corpus-LM per-gram scores with the model stage SIZED instead of
    * assumed (the `itemSimsAuto` posture applied to the q94 family):
    * one bounded scalar agg estimates the exact model's c₁₂ universe
    * (`approx_count_distinct` over the cached bigram stream — one
    * narrow pass, never a shuffle of the universe itself), then the
    * gate picks the exact bigram-universe model below the measured
    * crossover and the Misra-Gries top-gram model above it. Below the
    * crossover the returned plan IS [[perGramLogp]] — bit-identical,
    * so every registered query that routes through this seam keeps
    * its oracle hash at gate scale — and above it the sketch stream
    * is the documented lower-bound swap (q131b's model). This is the
    * default `lmGrams` for [[lmQualityScores]]/[[minKProb]]; callers
    * pin a side by passing [[perGramLogp]]/[[perGramLogpSketch]]
    * explicitly. */
  def lmGramsAuto(docs: DataFrame,
                  crossover: Long = LM_SKETCH_MIN_GRAMS): DataFrame = {
    val universe = bigramStream(docs)
      .agg(approx_count_distinct(concat_ws(" ", col("w1"), col("w2"))))
      .collect()(0).getLong(0)
    if (universe >= crossover) perGramLogpSketch(docs)
    else perGramLogp(docs)
  }

  /** The shared per-doc rollup both LM legs feed: mean r6-quantized
    * log-prob via the DECIMAL-sum discipline (order-independent at
    * any parallelism). */
  private def lmRollup(lps: DataFrame): DataFrame =
    lps.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("lp")).as("slp"))
      .select(col("doc_id"), col("n_bigrams"),
        r4(col("slp").cast("double") / col("n_bigrams")).as("avg_logp"))

  /** `lmGrams` is the LM seam (VERDICT r11 next #1, the `dotsSource`
    * pattern): None → [[lmGramsAuto]] decides exact vs sketch at the
    * measured crossover. */
  def lmQualityScores(docs: DataFrame,
                      lmGrams: Option[DataFrame] = None): DataFrame =
    lmRollup(lmGrams.getOrElse(lmGramsAuto(docs)))

  /** Score `docs` against a PRECOMPUTED standing model — the
    * ingest-side LM quality gate: an arriving batch is scored under
    * the STANDING corpus's add-one bigram LM (the `c12`/`c1` tables a
    * persisted LM index holds — in production,
    * `Corpus.readLmIndex`'s folded model) instead of a model derived
    * from the batch itself, which at batch sizes is statistically
    * meaningless. Grams the standing model has never seen back off
    * add-one style (c12 → 0, c1 → 0 ⇒ lp = ln(1/V)-shaped), scoring
    * strictly lower — the [[perGramLogpSketch]] out-of-model
    * discipline, so unseen-gram-heavy docs read as low quality, which
    * is the gate's point. V = |c1| (the standing vocabulary).
    *
    * Scale shape: the batch-side bigram stream joins the index-sized
    * model tables on the gram key (left joins — AQE broadcasts the
    * model when it is small, shuffles batch-bounded rows when not);
    * V rides a 1-row broadcast; cost scales with the batch, never
    * the standing corpus. */
  def lmScoreAgainst(docs: DataFrame, c12: DataFrame,
                     c1: DataFrame): DataFrame = {
    import graft.functions.Rounding.r6
    val vdim = c1.agg(count(lit(1)).as("v"))
    // raw (uncached) gram stream: inside the streaming gate this runs
    // once per micro-batch with a distinct plan — the cached form
    // leaks one CacheManager entry per batch (probe-caught, r14)
    lmRollup(bigramStreamRaw(docs)
      .join(c12, Seq("w1", "w2"), "left")
      .join(c1, Seq("w1"), "left")
      .crossJoin(broadcast(vdim))
      .select(col("doc_id"),
        r6(log((coalesce(col("c12"), lit(0L)) + 1).cast("double") /
          (coalesce(col("c1"), lit(0L)) + col("v")).cast("double")))
          .cast("decimal(20,6)").as("lp")))
  }

  /** Min-K% tail denominator: k = ⌈n/5⌉ (the published 20% setting) —
    * INTEGER ceil division, so both engines pick the identical k with
    * no 0.2-is-not-binary float hazard. */
  val MINK_DEN = 5L

  private def q142(spark: SparkSession, dir: String): DataFrame =
    minKProb(Tables.documents(spark, dir))

  /** q142b — the Min-K% probe scored against the Misra-Gries top-gram
    * model ([[perGramLogpSketch]]): the sketch side of the
    * [[lmGramsAuto]] boundary as a registered, oracle-gated query
    * (the q17b/q131b twin discipline), so the scale path the gate
    * flips to past [[LM_SKETCH_MIN_GRAMS]] is itself hash-checked and
    * priceable. Domain and k are identical to q142's; every in-model
    * gram's lp is bit-equal, out-of-model grams back off lower. */
  private def q142b(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    minKProb(docs, Some(perGramLogpSketch(docs)))
  }

  /** q142 — Min-K% probability (Shi et al. 2023): per document, the
    * mean log-prob of its k least-likely grams under the corpus LM —
    * the membership-inference / memorization probe. A document whose
    * WORST-case grams still score high reads as "known" to the model
    * (verbatim-memorized or boilerplate); the tail mean separates that
    * from ordinary fluent text far better than q94's full-doc mean,
    * which fluent novel text also earns. Run against a trained model's
    * scores in production; here the corpus LM makes the statistic
    * self-contained and oracle-replayable.
    *
    * Determinism at ties: grams tied on lp at the k boundary are
    * interchangeable — any row_number order selects the same VALUE
    * multiset, so the mean is tie-stable in both engines.
    *
    * Scale shape: q94's scoring joins plus ONE doc-keyed window
    * (bounded by the doc's own gram count, never corpus-wide) and a
    * keyed agg. */
  def minKProb(docs: DataFrame,
               lmGrams: Option[DataFrame] = None): DataFrame = {
    import graft.functions.Rounding.r4
    val lps = lmGrams.getOrElse(lmGramsAuto(docs))
    val counts = lps.groupBy(col("doc_id")).agg(count(lit(1)).as("n_bigrams"))
      .withColumn("k_tail",
        expr(s"(n_bigrams + ${MINK_DEN - 1}) DIV $MINK_DEN"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("lp").asc)
    lps.withColumn("rk", row_number().over(w))
      .join(counts, Seq("doc_id"))
      .filter(col("rk") <= col("k_tail"))
      .groupBy(col("doc_id"), col("n_bigrams"), col("k_tail"))
      .agg(r4(sum(col("lp")).cast("double") / col("k_tail")).as("mink_logp"))
      .select(col("doc_id"), col("n_bigrams"), col("k_tail"), col("mink_logp"))
  }

  /** Threshold grid for the q134 operating-curve sweep: the window a
    * team actually tunes the q94 cutoff inside (the fixture's
    * LM_FLAG_THRESH = −3.5 sits mid-grid). Exact binary halves, so
    * the `avg_logp >= thresh` compare is engine-identical. */
  val SWEEP_THRESHOLDS: Seq[Double] = (-12 to -4).map(_ / 2.0)

  /** q134 — quality-filter operating curve: for each candidate LM
    * threshold, how many documents/tokens survive and at what mean
    * quality — the retained-data-vs-quality tradeoff table a data
    * team reads BEFORE fixing the q94 cutoff (every corpus-filtering
    * paper publishes exactly this sweep when choosing an operating
    * point). One row per threshold: kept doc/token counts, kept
    * fractions, and the kept cohort's mean log-prob.
    *
    * Contract: the sweep runs over SCOREABLE docs (≥2 tokens — the
    * q94 domain); `mean_logp_kept` is null when a threshold keeps
    * nothing. Fractions are single IEEE divisions of exact integers;
    * the kept mean rides the r4-quantize → DECIMAL-sum discipline.
    *
    * Scale shape: the q94 chain (already priced) plus ONE explode of
    * the per-doc score row over the |grid| broadcast literals —
    * |docs|·|grid| narrow rows into one keyed agg with map-side
    * partials. No new shuffle class, no sort. */
  def filterSweep(docs: DataFrame,
                  grid: Seq[Double] = SWEEP_THRESHOLDS): DataFrame = {
    val scored = lmQualityScores(docs)
      .join(docs.select(col("doc_id"),
        size(VectorFns.tokens(col("text"))).cast("long").as("n_tok")),
        Seq("doc_id"))
    val kept = col("avg_logp") >= col("thresh")
    scored
      .select(col("avg_logp"), col("n_tok"),
        explode(array(grid.map(lit): _*)).as("thresh"))
      .groupBy(col("thresh"))
      .agg(count(lit(1)).as("n_docs_total"),
        sum(col("n_tok")).as("n_tokens_total"),
        sum(when(kept, 1L).otherwise(0L)).as("n_docs_kept"),
        sum(when(kept, col("n_tok")).otherwise(0L)).as("n_tokens_kept"),
        sum(when(kept, col("avg_logp").cast("decimal(20,4)"))).as("slp"))
      .select(col("thresh"), col("n_docs_kept"), col("n_tokens_kept"),
        r4(col("n_docs_kept").cast("double") / col("n_docs_total"))
          .as("doc_frac"),
        r4(col("n_tokens_kept").cast("double") / col("n_tokens_total"))
          .as("token_frac"),
        when(col("n_docs_kept") > 0,
          r4(col("slp").cast("double") / col("n_docs_kept")))
          .as("mean_logp_kept"))
  }

  private def q134(spark: SparkSession, dir: String): DataFrame =
    filterSweep(Tables.documents(spark, dir))

  /** The published Gopher quality-rule bounds (Rae et al. 2021 §A1.1).
    * The word-level rules apply to any corpus; the LINE-STRUCTURE
    * rules (bullet/ellipsis line fractions) need document line breaks,
    * which this synthetic corpus does not model — so they sit behind a
    * CAPABILITY GUARD (VERDICT r8 next #5): one bounded scalar
    * aggregate detects newlines in the observed corpus, the line
    * columns are real fractions when present and typed NULLs
    * ("rules not evaluable on this corpus") when not, and the oracle
    * SQL mirrors the same data-derived guard so both engines flip
    * together. */
  val GOPHER_MIN_WORDS = 50L
  val GOPHER_MAX_WORDS = 100000L
  val GOPHER_MIN_WORDLEN = 3.0
  val GOPHER_MAX_WORDLEN = 10.0
  val GOPHER_MAX_SYMBOL_RATIO = 0.1
  val GOPHER_MIN_ALPHA_RATIO = 0.8
  val GOPHER_STOPS: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")
  val GOPHER_MIN_STOPS = 2L
  /** Line-structure bounds (Rae et al. 2021 §A1.1: drop when >90% of
    * lines start with a bullet or >30% end with an ellipsis). */
  val GOPHER_MAX_BULLET_FRAC = 0.9
  val GOPHER_MAX_ELLIPSIS_FRAC = 0.3
  val GOPHER_BULLET_PREFIXES: Seq[String] = Seq("-", "*", "•")
  val GOPHER_ELLIPSIS_SUFFIXES: Seq[String] = Seq("...", "…")

  /** Per-doc Gopher quality flags: word-count bounds, mean-word-length
    * bounds, symbol-to-word ratio (# / ellipsis), alphabetic-word
    * fraction, and stop-word presence (≥2 distinct of the canonical
    * 8), plus the conjunction verdict. Same contract and shape as
    * [[q24]]: zero-token docs are excluded, and the single tokenize
    * pass feeds a (doc, token) agg then a doc agg — two codegen'd hash
    * aggs that partial-aggregate map-side, no distinct Expand (the
    * stop-word distinct count rides the already-distinct token rows).
    * Ratios quantize to 4 dp BEFORE the threshold compare so the
    * boundary verdicts replay exactly cross-engine.
    *
    * The line-structure rules ride behind the capability guard: one
    * bounded scalar aggregate (`max(contains(text, \n))` — the
    * contract-query sizing pattern, not a hot-path collect) decides
    * whether the corpus models lines at all; [[gopherFlags]] then
    * emits real bullet/ellipsis fractions + verdicts or typed NULLs. */
  private def q107(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    gopherFlags(docs, hasLines(docs))
  }

  /** The line-structure capability guard: whether any doc's text holds
    * a newline — one bounded scalar aggregate, collected. */
  private[graft] def hasLines(docs: DataFrame): Boolean =
    docs.agg(max(col("text").contains("\n").cast("int")).as("h"))
      .head().getInt(0) == 1

  /** Library surface of [[q107]]: per-doc Gopher flags over
    * `(doc_id, text)`. `corpusHasLines` gates the line-structure
    * rules — when false their columns are NULL (not evaluable) and
    * the conjunction spans the word rules only; when true the
    * bullet/ellipsis line fractions are computed over non-empty
    * trimmed lines and join the conjunction. Exposed (rather than
    * inlined in the query) so the lined branch is spec-testable on a
    * synthetic fixture even while the driver corpus has no newlines.
    *
    * `minStops` is tunable (default = the paper's 2) because the
    * stop-word rule is the one gate whose natural-English prior does
    * not transfer to every corpus — a code or tabular corpus has
    * legitimate documents with one canonical stop word. Same posture
    * as the q106b calibrated CCNet cuts: thresholds are per-corpus
    * configuration, not constants of nature. */
  def gopherFlags(docs: DataFrame, corpusHasLines: Boolean,
                  minStops: Long = GOPHER_MIN_STOPS): DataFrame = {
    val perTok = docs
      .select(col("doc_id"), explode(VectorFns.tokens(col("text"))).as("tok"))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("cnt"))
    val stats = perTok.groupBy(col("doc_id")).agg(
      sum(col("cnt")).as("n_words"),
      sum(col("cnt") * length(col("tok"))).cast("double").as("sum_len"),
      sum(when(col("tok").contains("#") || col("tok").contains("..."),
        col("cnt")).otherwise(lit(0L))).cast("double").as("n_sym"),
      sum(when(col("tok").rlike("[a-z]"), col("cnt")).otherwise(lit(0L)))
        .cast("double").as("n_alpha"),
      sum(when(col("tok").isin(GOPHER_STOPS: _*), lit(1L)).otherwise(lit(0L)))
        .as("n_stop_distinct"))
    val nW = col("n_words").cast("double")
    val mlen = r4(col("sum_len") / nW)
    val symr = r4(col("n_sym") / nW)
    val alphar = r4(col("n_alpha") / nW)
    val word = stats.select(
      col("doc_id"), col("n_words"),
      (col("n_words") >= GOPHER_MIN_WORDS &&
        col("n_words") <= GOPHER_MAX_WORDS).cast("int").as("ok_wordcount"),
      (mlen >= GOPHER_MIN_WORDLEN && mlen <= GOPHER_MAX_WORDLEN)
        .cast("int").as("ok_wordlen"),
      (symr <= GOPHER_MAX_SYMBOL_RATIO).cast("int").as("ok_symbols"),
      (alphar >= GOPHER_MIN_ALPHA_RATIO).cast("int").as("ok_alpha"),
      (col("n_stop_distinct") >= minStops).cast("int").as("ok_stop"))
    val wordPass = col("ok_wordcount") === 1 && col("ok_wordlen") === 1 &&
      col("ok_symbols") === 1 && col("ok_alpha") === 1 && col("ok_stop") === 1

    if (!corpusHasLines)
      // rules not evaluable on a corpus without line breaks: typed
      // NULLs, and the conjunction spans the five word rules
      word.select(col("*"),
        lit(null).cast("double").as("bullet_frac"),
        lit(null).cast("double").as("ellipsis_frac"),
        lit(null).cast("int").as("ok_bullet"),
        lit(null).cast("int").as("ok_ellipsis"),
        wordPass.cast("int").as("gopher_pass"))
    else {
      val isBullet = GOPHER_BULLET_PREFIXES
        .map(p => col("line").startsWith(p)).reduce(_ || _)
      val isEllipsis = GOPHER_ELLIPSIS_SUFFIXES
        .map(s => col("line").endsWith(s)).reduce(_ || _)
      val ls = docs
        .select(col("doc_id"), explode(split(col("text"), "\n")).as("raw"))
        .select(col("doc_id"), trim(col("raw")).as("line"))
        .filter(length(col("line")) > 0)
        .groupBy(col("doc_id")).agg(
          count(lit(1)).cast("double").as("n_lines"),
          sum(isBullet.cast("long")).cast("double").as("n_bullet"),
          sum(isEllipsis.cast("long")).cast("double").as("n_ellipsis"))
      val bf = r4(col("n_bullet") / col("n_lines"))
      val ef = r4(col("n_ellipsis") / col("n_lines"))
      word.join(ls, Seq("doc_id"))
        .select(word.columns.map(col) :+
          bf.as("bullet_frac") :+ ef.as("ellipsis_frac") :+
          (bf <= GOPHER_MAX_BULLET_FRAC).cast("int").as("ok_bullet") :+
          (ef <= GOPHER_MAX_ELLIPSIS_FRAC).cast("int").as("ok_ellipsis") :+
          (wordPass && bf <= GOPHER_MAX_BULLET_FRAC &&
            ef <= GOPHER_MAX_ELLIPSIS_FRAC).cast("int").as("gopher_pass"): _*)
    }
  }

  /** CCNet-style perplexity buckets: fixed avg-logp thresholds chosen
    * from this corpus's observed range (−3.61…−3.26 at sf0.01 —
    * tertile-ish cuts at −3.37/−3.40). CCNet calibrates per-language
    * percentile cuts from a sample against a reference LM; FIXED
    * constants keep the pipeline one-pass, scale-free (no global sort
    * or percentile pass over the corpus) and exactly replayable — the
    * production dial is the threshold pair. */
  val LM_HEAD_THRESH = -3.37
  val LM_MID_THRESH = -3.40

  /** Per-(lang, bucket) corpus composition under the [[q94]] LM —
    * the head/middle/tail split an LLM-data team samples from
    * (head-heavy mixes for quality, tail for diversity). Bucket means
    * accumulate in DECIMAL over the (already 4-dp-quantized) per-doc
    * scores, so the emitted means are order-independent at any
    * parallelism (the q55 lesson applied to averages). */
  private def q106(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    docs.select(col("doc_id"), col("lang"))
      .join(lmQualityScores(docs).select(col("doc_id"), col("avg_logp")),
        Seq("doc_id"))
      .withColumn("bucket",
        when(col("avg_logp") >= LM_HEAD_THRESH, "head")
          .when(col("avg_logp") >= LM_MID_THRESH, "middle")
          .otherwise("tail"))
      .groupBy(col("lang"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("avg_logp").cast("decimal(20,4)")).as("s"))
      .select(col("lang"), col("bucket"), col("n_docs"),
        r4(col("s").cast("double") / col("n_docs")).as("mean_logp"))
  }

  /** CCNet tertile cut ranks (head = best third by avg_logp) and the
    * q53b certification geometry: the sketch cut must land between the
    * exact order statistics at target ± [[CCNET_RANK_TOL]] rank —
    * hundreds of times looser than the sketch's 1/accuracy rank
    * guarantee, sound for any score distribution. */
  val CCNET_HEAD_Q = 0.6667
  val CCNET_MID_Q = 0.3333
  val CCNET_RANK_TOL = 0.02
  val CCNET_SKETCH_ACC = 10000

  /** The CALIBRATED twin of [[q106]] (VERDICT r8 next #4): q106 is
    * honest about substituting fixed thresholds where CCNet derives
    * per-language percentile cuts from scored samples (Wenzek et al.
    * 2019 §4.3 — each language's perplexity distribution is cut into
    * head/middle/tail thirds). Here the cuts come from the corpus
    * itself, per language:
    *
    *  - the SCALE path is `approx_percentile` — a bounded mergeable
    *    sketch per language, map-side combining, no global sort; its
    *    cuts are certified by the q53b rank bracket (`head_cut_ok` /
    *    `mid_cut_ok`, oracle-pinned to 1);
    *  - the ORACLE-GATED facts are the exact-percentile cuts (r4) and
    *    the bucket composition under them — DuckDB recomputes both
    *    with `quantile_cont`, so the calibration itself is
    *    hash-checked, not just shape-checked. The exact side is the
    *    audit half of the contract (the q99/q53b posture); production
    *    buckets by the certified sketch cuts.
    *
    * One-pass (q106) vs calibrated (this): fixed thresholds never
    * re-rank the corpus and replay exactly at any scale; calibrated
    * cuts track drift per language but cost a percentile pass —
    * SCALE.md §CCNet records the trade. */
  private def q106b(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // read twice (cuts, then composition) — one materialization
    val scored = docs.select(col("doc_id"), col("lang"))
      .join(lmQualityScores(docs).select(col("doc_id"), col("avg_logp")),
        Seq("doc_id"))
      .cache()
    val cuts = scored.groupBy(col("lang")).agg(
      r4(expr(s"percentile(avg_logp, $CCNET_HEAD_Q)")).as("head_cut"),
      r4(expr(s"percentile(avg_logp, $CCNET_MID_Q)")).as("mid_cut"),
      expr(s"approx_percentile(avg_logp, $CCNET_HEAD_Q, $CCNET_SKETCH_ACC)").as("a_head"),
      expr(s"approx_percentile(avg_logp, $CCNET_MID_Q, $CCNET_SKETCH_ACC)").as("a_mid"),
      expr(s"percentile(avg_logp, ${CCNET_HEAD_Q - CCNET_RANK_TOL})").as("lo_h"),
      expr(s"percentile(avg_logp, ${CCNET_HEAD_Q + CCNET_RANK_TOL})").as("hi_h"),
      expr(s"percentile(avg_logp, ${CCNET_MID_Q - CCNET_RANK_TOL})").as("lo_m"),
      expr(s"percentile(avg_logp, ${CCNET_MID_Q + CCNET_RANK_TOL})").as("hi_m"))
    import Relational.bracketOk
    val cutsV = cuts.select(col("lang"), col("head_cut"), col("mid_cut"),
      bracketOk(col("a_head"), col("lo_h"), col("hi_h")).as("head_cut_ok"),
      bracketOk(col("a_mid"), col("lo_m"), col("hi_m")).as("mid_cut_ok"))
    scored.join(broadcast(cutsV), Seq("lang"))
      .withColumn("bucket",
        when(col("avg_logp") >= col("head_cut"), "head")
          .when(col("avg_logp") >= col("mid_cut"), "middle")
          .otherwise("tail"))
      .groupBy(col("lang"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("avg_logp").cast("decimal(20,4)")).as("s"),
        min(col("head_cut")).as("head_cut"),
        min(col("mid_cut")).as("mid_cut"),
        min(col("head_cut_ok")).as("head_cut_ok"),
        min(col("mid_cut_ok")).as("mid_cut_ok"))
      .select(col("lang"), col("bucket"), col("n_docs"),
        r4(col("s").cast("double") / col("n_docs")).as("mean_logp"),
        col("head_cut"), col("mid_cut"),
        col("head_cut_ok"), col("mid_cut_ok"))
  }

  /** Hash-bucket count for the q116 nearest-centroid classifier. */
  val QC_BUCKETS = 128

  /** q116 — quality classification by nearest centroid (Rocchio 1971;
    * the geometric sibling of the GPT-3/LLaMA "quality classifier"
    * filtering step, where a linear model scores every page against a
    * trusted reference corpus). Where q110's DSIR is probabilistic
    * (bucket-LM log-likelihood ratio), this is geometric: each doc is
    * a hashed bag-of-words vector, L2-normalized; the positive class
    * centroid is the mean of target-source doc vectors, the negative
    * the mean of the rest; score(d) = x̂_d · (c⁺ − c⁻), predicted
    * positive when > 0. One trained-model-free pass that a real
    * pipeline would swap for fitted LR weights — the dataflow (hashed
    * features, broadcast weight vector, per-doc dot) is identical.
    *
    * Float discipline (q94/q110 pattern): ‖x_d‖² is an exact integer
    * sum; sqrt and the n/‖x‖ divide are single correctly-rounded IEEE
    * ops; each normalized component is r6-rounded into DECIMAL(20,6)
    * BEFORE any cross-row sum, so centroid sums are exact and
    * order-free. The score numerator is Σ_b tf_b·w_b with tf bigint ×
    * w DECIMAL(20,6) — exact, shuffle-order-free; the only trailing
    * float ops are one divide + r4 per doc.
    *
    * Scale shape: ONE keyed (doc, bucket) agg over exploded tokens
    * (map-side partial); centroids/weights are ≤2·B-row broadcast
    * dims; scoring is a broadcast join + keyed agg back to doc grain.
    * Zero-token docs have no vector and drop out (q24/q94/q110
    * contract). */
  def centroidClassifier(docs: DataFrame,
                         targets: Seq[String] = graft.operators.Corpus.DSIR_TARGET_SOURCES,
                         buckets: Int = QC_BUCKETS): DataFrame = {
    import graft.functions.Rounding.r6
    val b = lit(buckets)
    val tf = docs
      .select(col("doc_id"), col("source"),
        explode(VectorFns.tokens(col("text"))).as("tok"))
      .select(col("doc_id"), col("source"),
        (graft.operators.Dedup.baseHash(col("tok")) % b).as("b"))
      .groupBy(col("doc_id"), col("source"), col("b"))
      .agg(count(lit(1)).as("n"))
    val norms = tf.groupBy(col("doc_id"))
      .agg(sum(col("n") * col("n")).as("sq"))
      .select(col("doc_id"), sqrt(col("sq").cast("double")).as("nrm"))
    val tfn = tf.join(norms, Seq("doc_id"))
      .select(col("doc_id"), col("source").isInCollection(targets).as("t"),
        col("b"), col("n"),
        r6(col("n").cast("double") / col("nrm"))
          .cast("decimal(20,6)").as("tfn"))
    val classSizes = tfn.select(col("doc_id"), col("t")).distinct()
      .groupBy(col("t")).agg(count(lit(1)).as("m"))
    val cent = tfn.groupBy(col("t"), col("b"))
      .agg(sum(col("tfn")).as("s"))
      .join(broadcast(classSizes), Seq("t"))
      .select(col("t"), col("b"),
        r6(col("s").cast("double") / col("m"))
          .cast("decimal(20,6)").as("c"))
    val zero = lit(0).cast("decimal(20,6)")
    val w = cent.groupBy(col("b"))
      .agg((coalesce(sum(when(col("t"), col("c"))), zero) -
        coalesce(sum(when(!col("t"), col("c"))), zero)).as("w"))
    val num = tf.join(broadcast(w), Seq("b"))
      .groupBy(col("doc_id"))
      .agg(sum(col("n") * col("w")).as("num"),
        max(col("source").isInCollection(targets).cast("int")).as("is_target"))
    num.join(norms, Seq("doc_id"))
      .select(col("doc_id"),
        r4(col("num").cast("double") / col("nrm")).as("qc_score"),
        col("is_target"))
      .withColumn("predicted", (col("qc_score") > 0.0).cast("int"))
  }

  /** q116: centroid quality classifier over `documents`. */
  private def q116(spark: SparkSession, dir: String): DataFrame =
    centroidClassifier(Tables.documents(spark, dir))

  /** n-gram orders measured by [[q122]]. */
  val DIVERSITY_ORDERS: Seq[Int] = Seq(1, 2, 3)

  /** q122 — distinct-n n-gram diversity per source (Li et al. 2016's
    * distinct-1/2 generation metric applied corpus-side): for each
    * n-gram order, distinct grams / total grams — the lexical-
    * diversity readout a data curator reads next to q61's repetition
    * stats (low diversity = templated/boilerplate source; the D4
    * paper selects against it).
    *
    * Shape: grams ride ONE hash agg keyed on (source, n, md5(gram)) —
    * shuffle width is the 32-hex key, never gram text (the q117
    * discipline); the second agg to source grain is tiny. Counting
    * distinct via group-then-count keeps parity exact even under md5
    * collision, because both engines collapse the identical key. All
    * arithmetic integer except the final r4 ratio. */
  private def q122(spark: SparkSession, dir: String): DataFrame =
    ngramDiversity(Tables.documents(spark, dir))

  /** Library surface of [[q122]] over a `(source, text)` frame. */
  def ngramDiversity(docs: DataFrame): DataFrame = {
    val toks = docs
      .select(col("source"),
        VectorFns.tokens(Dedup.normText(col("text"))).as("tk"))
    DIVERSITY_ORDERS.map { n =>
      toks.select(col("source"), lit(n).as("n"),
        explode(VectorFns.shingles(col("tk"), n)).as("g"))
    }.reduce(_ unionByName _)
      .select(col("source"), col("n"), md5(col("g")).as("h"))
      .groupBy(col("source"), col("n"), col("h"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("source"), col("n"))
      .agg(count(lit(1)).as("distinct_ngrams"),
        sum(col("c")).as("total_ngrams"))
      .select(col("source"), col("n"), col("distinct_ngrams"),
        col("total_ngrams"),
        r4(col("distinct_ngrams").cast("double") /
          col("total_ngrams").cast("double")).as("diversity"))
  }

  /** Head size fitted by [[q123]] (the plateau tail of a rank/frequency
    * curve is not Zipfian; standard practice fits the head). */
  val ZIPF_HEAD = 1000

  /** q123 — Zipf power-law fit per source: least-squares slope and
    * intercept of ln(freq) on ln(rank) over the [[ZIPF_HEAD]] most
    * frequent terms — the corpus-health statistic that flags synthetic
    * or scraped-boilerplate sources (natural text slopes ≈ −1;
    * Zipf 1949, Piantadosi 2014 review).
    *
    * Float discipline (the q94 pattern): each term contributes
    * x=r6(ln rank), y=r6(ln freq) through one IEEE sequence, and the
    * x·y / x² products are themselves r6-quantized into DECIMAL(20,6)
    * BEFORE the per-source sums, so every aggregate is exact and
    * shuffle-order-free; the closed-form slope/intercept are a handful
    * of trailing IEEE ops on exact sums, r6-rounded on emit.
    *
    * Scale shape: term counts are a keyed (source, tok) agg with
    * map-side partials; the rank window sorts VOCABULARY rows per
    * source (bounded by vocab, not corpus — millions of rows at
    * 100 TB, one executor's work apiece); ties broken by token text so
    * the rank — and therefore the fit — replays identically. */
  private def q123(spark: SparkSession, dir: String): DataFrame =
    zipfFit(Tables.documents(spark, dir))

  /** Library surface of [[q123]] over a `(source, text)` frame. */
  def zipfFit(docs: DataFrame, headTerms: Int = ZIPF_HEAD): DataFrame = {
    import graft.functions.Rounding.r6
    val counts = docs
      .select(explode(VectorFns.tokens(Dedup.normText(col("text")))).as("tok"),
        col("source"))
      .groupBy(col("source"), col("tok"))
      .agg(count(lit(1)).as("cnt"))
    val head = TopK.perGroup(counts, Seq(col("source")),
        Seq(col("cnt").desc, col("tok").asc), headTerms, "rank")
      .select(col("source"),
        r6(log(col("rank").cast("double"))).cast("decimal(20,6)").as("x"),
        r6(log(col("cnt").cast("double"))).cast("decimal(20,6)").as("y"))
      // decimal×decimal would need precision 41 (> the 38 cap, where
      // engine behaviors diverge) — multiply as doubles instead: the
      // casts are exact and the product is ONE IEEE op, then r6
      .select(col("source"), col("x"), col("y"),
        r6(col("x").cast("double") * col("y").cast("double"))
          .cast("decimal(20,6)").as("xy"),
        r6(col("x").cast("double") * col("x").cast("double"))
          .cast("decimal(20,6)").as("xx"))
    // exact sums → double is EXACT here (each sum × 10⁶ is an integer
    // ≤ ~5e10 < 2⁵³), so the closed form below is one engine-identical
    // IEEE sequence; the unrounded slope feeds the intercept in both
    // engines before either is r6-rounded on emit
    head.groupBy(col("source"))
      .agg(count(lit(1)).cast("double").as("m"),
        sum(col("x")).cast("double").as("sx"),
        sum(col("y")).cast("double").as("sy"),
        sum(col("xy")).cast("double").as("sxy"),
        sum(col("xx")).cast("double").as("sxx"))
      // a 1-term source makes the slope denominator 0/0, where the
      // engines disagree (Spark Divide→NULL, DuckDB IEEE→NaN); a line
      // through one point is meaningless anyway, so drop the source
      .filter(col("m") > 1)
      .withColumn("slope_raw",
        (col("m") * col("sxy") - col("sx") * col("sy")) /
          (col("m") * col("sxx") - col("sx") * col("sx")))
      .select(col("source"), col("m").cast("long").as("n_terms"),
        r6(col("slope_raw")).as("slope"),
        r6((col("sy") - col("slope_raw") * col("sx")) / col("m"))
          .as("intercept"))
  }

  private def q135(spark: SparkSession, dir: String): DataFrame =
    vocabGrowth(Tables.documents(spark, dir))

  /** q135 — vocabulary growth (Heaps' law) per source: type counts at
    * deterministic 10%/50%/100% corpus prefixes and the implied Heaps
    * exponent β (V = K·nᵝ, Heaps 1978). Natural text sits at
    * β ≈ 0.4–0.7; β → 1 flags id-like/synthetic token streams (every
    * token new), β → 0 flags boilerplate (vocabulary saturates
    * instantly). The "prefix" is a salted hash bucket of doc_id —
    * deterministic, order-free, and the only growth-curve sampling a
    * 100-TB pipeline can afford (no global order, no second pass).
    *
    * Scale shape: one tokenize explode feeds (a) per-source
    * conditional token totals (map-side partials) and (b) ONE
    * (source, token) keyed agg whose MIN bucket decides membership in
    * every prefix at once — vocabulary-sized, never corpus-sized, no
    * countDistinct Expand. β is a handful of IEEE ops on exact BIGINT
    * sums (the q123 emit discipline), r6 on emit; degenerate sources
    * (empty or prefix-complete at 10%) are filtered identically in
    * both engines rather than relying on engine-specific x/0. */
  def vocabGrowth(docs: DataFrame): DataFrame = {
    import graft.functions.Rounding.r6
    val toks = docs
      .withColumn("bkt",
        Dedup.baseHash(concat(col("doc_id").cast("string"), lit("_vg"))) % 100)
      .select(col("source"), col("bkt"),
        explode(VectorFns.tokens(Dedup.normText(col("text")))).as("tok"))
    val totals = toks.groupBy(col("source")).agg(
      sum(when(col("bkt") < 10, 1L).otherwise(0L)).as("tokens_10"),
      sum(when(col("bkt") < 50, 1L).otherwise(0L)).as("tokens_50"),
      count(lit(1)).as("tokens_100"))
    val vocab = toks.groupBy(col("source"), col("tok"))
      .agg(min(col("bkt")).as("fb"))
      .groupBy(col("source")).agg(
        sum(when(col("fb") < 10, 1L).otherwise(0L)).as("vocab_10"),
        sum(when(col("fb") < 50, 1L).otherwise(0L)).as("vocab_50"),
        count(lit(1)).as("vocab_100"))
    totals.join(vocab, "source")
      .filter(col("tokens_10") > 0 && col("tokens_100") > col("tokens_10") &&
        col("vocab_10") > 0)
      .select(col("source"),
        col("tokens_10"), col("tokens_50"), col("tokens_100"),
        col("vocab_10"), col("vocab_50"), col("vocab_100"),
        r6(log(col("vocab_100").cast("double") / col("vocab_10").cast("double")) /
          log(col("tokens_100").cast("double") / col("tokens_10").cast("double")))
          .as("heaps_beta"))
  }
}
