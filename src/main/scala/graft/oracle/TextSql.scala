package graft.oracle

import SqlFragments.tokensSql
import graft.functions.Rounding.sql4

/** DuckDB oracle SQL for [[graft.operators.TextOps]]. */
object TextSql {

  private val toksCte =
    s"toks AS (SELECT doc_id, lang, ${tokensSql("lower(trim(text))")} AS tk FROM documents)"

  val oracle: Map[String, String] = Map(

    // q112: the decode stub's chunk means replayed at BYTE level —
    // DuckDB walks the payload's lowercase hex (2 chars per byte) and
    // parses each pair to its value, so multibyte payloads are in
    // scope. Chunk index is the stub's integer floor i*4/len
    // (0-based i over BYTES).
    "q112_mm_features" -> {
      def f(c: Int) =
        sql4(s"COALESCE(max(CASE WHEN c = $c THEN mv END), 0.0)")
      s"""WITH a AS (
         |  SELECT doc_id, lower(hex(encode(text))) AS hx,
         |         CAST(octet_length(encode(text)) AS BIGINT) AS n
         |  FROM documents
         |  WHERE octet_length(encode(text)) > 0),
         |bytes AS (
         |  SELECT doc_id, n,
         |         CAST(((i - 1) * 4) // n AS INT) AS c,
         |         CAST('0x' || substr(hx, CAST(2 * i - 1 AS INT), 2) AS INT)
         |           AS v
         |  FROM a, UNNEST(generate_series(1, CAST(n AS INT))) AS t(i)),
         |chunks AS (
         |  SELECT doc_id, n, c, CAST(sum(v) AS DOUBLE) / count(*) AS mv
         |  FROM bytes GROUP BY 1, 2, 3)
         |SELECT doc_id, CAST(n AS BIGINT) AS n_bytes,
         |       ${f(0)} AS f0, ${f(1)} AS f1, ${f(2)} AS f2, ${f(3)} AS f3
         |FROM chunks GROUP BY 1, 2""".stripMargin
    },

    // q122: distinct-n diversity — grams collapse on (source, n, md5)
    // in both engines, so parity survives even an md5 collision
    "q122_ngram_diversity" -> {
      val norm = SqlFragments.normTextSql("text")
      val orders = graft.operators.TextOps.DIVERSITY_ORDERS
      val arms = orders.map { n =>
        s"""SELECT source, $n AS n, md5(g) AS h
           |  FROM toks, UNNEST(${SqlFragments.shinglesSql("tk", n)}) AS u(g)"""
          .stripMargin
      }.mkString("\n  UNION ALL\n")
      s"""WITH toks AS (
         |  SELECT source, ${tokensSql(norm)} AS tk FROM documents),
         |grams AS (
         |$arms),
         |per AS (
         |  SELECT source, n, h, count(*) AS c FROM grams GROUP BY 1, 2, 3)
         |SELECT source, n,
         |       CAST(count(*) AS BIGINT) AS distinct_ngrams,
         |       CAST(sum(c) AS BIGINT) AS total_ngrams,
         |       ${sql4("CAST(count(*) AS DOUBLE) / CAST(sum(c) AS DOUBLE)")}
         |         AS diversity
         |FROM per GROUP BY 1, 2""".stripMargin
    },

    // q123: Zipf fit — r6-quantized ln/product terms into exact sums,
    // then the identical closed-form IEEE sequence (unrounded slope
    // feeds the intercept before either is rounded)
    "q123_zipf_fit" -> {
      val norm = SqlFragments.normTextSql("text")
      val headN = graft.operators.TextOps.ZIPF_HEAD
      def q6(e: String) =
        s"CAST(${graft.functions.Rounding.sql6(e)} AS DECIMAL(20,6))"
      s"""WITH counts AS (
         |  SELECT source, t AS tok, count(*) AS cnt
         |  FROM (SELECT source, ${tokensSql(norm)} AS tk FROM documents),
         |       UNNEST(tk) AS u(t)
         |  GROUP BY 1, 2),
         |ranked AS (
         |  SELECT source, cnt, row_number() OVER (
         |    PARTITION BY source ORDER BY cnt DESC, tok ASC) AS rank
         |  FROM counts),
         |terms AS (
         |  SELECT source,
         |         ${q6("ln(CAST(rank AS DOUBLE))")} AS x,
         |         ${q6("ln(CAST(cnt AS DOUBLE))")} AS y
         |  FROM ranked WHERE rank <= $headN),
         |terms2 AS (
         |  SELECT source, x, y,
         |         ${q6("CAST(x AS DOUBLE) * CAST(y AS DOUBLE)")} AS xy,
         |         ${q6("CAST(x AS DOUBLE) * CAST(x AS DOUBLE)")} AS xx
         |  FROM terms),
         |sums AS (
         |  SELECT source,
         |         CAST(count(*) AS DOUBLE) AS m,
         |         CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
         |         CAST(sum(xy) AS DOUBLE) AS sxy, CAST(sum(xx) AS DOUBLE) AS sxx
         |  FROM terms2 GROUP BY 1),
         |fit AS (
         |  SELECT source, m, sx, sy,
         |         (m * sxy - sx * sy) / (m * sxx - sx * sx) AS slope_raw
         |  FROM sums WHERE m > 1)
         |SELECT source, CAST(m AS BIGINT) AS n_terms,
         |       ${graft.functions.Rounding.sql6("slope_raw")} AS slope,
         |       ${graft.functions.Rounding.sql6("(sy - slope_raw * sx) / m")}
         |         AS intercept
         |FROM fit""".stripMargin
    },

    // q135: Heaps-law vocabulary growth — salted doc_id buckets mirror
    // the Spark side exactly (baseHash of doc_id||'_vg'); a type's
    // prefix membership is its MIN bucket; β from exact BIGINT sums
    "q135_vocab_growth" -> {
      val norm = SqlFragments.normTextSql("text")
      val bkt = SqlFragments.baseHashSql("CAST(doc_id AS VARCHAR) || '_vg'")
      s"""WITH tok AS (
         |  SELECT source, bkt, t AS tok
         |  FROM (SELECT source, $bkt % 100 AS bkt,
         |               ${tokensSql(norm)} AS tk FROM documents),
         |       UNNEST(tk) AS u(t)),
         |totals AS (
         |  SELECT source,
         |         CAST(sum(CASE WHEN bkt < 10 THEN 1 ELSE 0 END) AS BIGINT) AS tokens_10,
         |         CAST(sum(CASE WHEN bkt < 50 THEN 1 ELSE 0 END) AS BIGINT) AS tokens_50,
         |         CAST(count(*) AS BIGINT) AS tokens_100
         |  FROM tok GROUP BY 1),
         |firsts AS (
         |  SELECT source, tok, min(bkt) AS fb FROM tok GROUP BY 1, 2),
         |vocab AS (
         |  SELECT source,
         |         CAST(sum(CASE WHEN fb < 10 THEN 1 ELSE 0 END) AS BIGINT) AS vocab_10,
         |         CAST(sum(CASE WHEN fb < 50 THEN 1 ELSE 0 END) AS BIGINT) AS vocab_50,
         |         CAST(count(*) AS BIGINT) AS vocab_100
         |  FROM firsts GROUP BY 1)
         |SELECT source, tokens_10, tokens_50, tokens_100,
         |       vocab_10, vocab_50, vocab_100,
         |       ${graft.functions.Rounding.sql6(
              "ln(CAST(vocab_100 AS DOUBLE) / CAST(vocab_10 AS DOUBLE)) / " +
              "ln(CAST(tokens_100 AS DOUBLE) / CAST(tokens_10 AS DOUBLE))")}
         |         AS heaps_beta
         |FROM totals JOIN vocab USING (source)
         |WHERE tokens_10 > 0 AND tokens_100 > tokens_10 AND vocab_10 > 0""".stripMargin
    },

    // q120: frame sampling — true BYTE walk on both engines: DuckDB
    // slices the payload's lowercase hex encoding (2 chars per byte)
    // and hashes the hex, exactly what the Spark side's
    // md5(lower(hex(substring(binary)))) computes. Multibyte in scope.
    "q120_mm_frames" -> {
      val fb = graft.operators.Multimodal.FRAME_BYTES
      val fs = graft.operators.Multimodal.FRAME_STRIDE
      s"""WITH a AS (
         |  SELECT doc_id, lower(hex(encode(text))) AS hx,
         |         CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
         |  FROM documents
         |  WHERE octet_length(encode(text)) >= $fb),
         |f AS (
         |  SELECT doc_id, n_bytes, n_bytes // $fb AS n_frames FROM a),
         |idx AS (
         |  SELECT doc_id, n_bytes, n_frames, CAST(i AS BIGINT) AS frame_idx
         |  FROM f, UNNEST(generate_series(0, CAST(n_frames - 1 AS INT), $fs))
         |    AS t(i))
         |SELECT idx.doc_id, idx.n_bytes, idx.n_frames, idx.frame_idx,
         |       idx.frame_idx * $fb AS frame_off,
         |       md5(substr(a.hx, CAST(idx.frame_idx * ${2 * fb} + 1 AS INT),
         |                  ${2 * fb}))
         |         AS frame_md5
         |FROM idx JOIN a ON a.doc_id = idx.doc_id""".stripMargin
    },

    // q121: strided resize — DuckDB rebuilds the resized payload's
    // hex encoding with a positional string_agg over every stride-th
    // BYTE (hex pair) and must reproduce md5(lower(hex(resized)))
    // exactly. Multibyte in scope.
    "q121_mm_resize" -> {
      val st = graft.operators.Multimodal.RESIZE_STRIDE
      s"""WITH a AS (
         |  SELECT doc_id, lower(hex(encode(text))) AS hx,
         |         CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
         |  FROM documents
         |  WHERE octet_length(encode(text)) > 0),
         |r AS (
         |  SELECT doc_id, n_bytes,
         |         string_agg(substr(hx, CAST(i AS INT), 2), '' ORDER BY i)
         |           AS rzhex
         |  FROM a, UNNEST(generate_series(1, CAST(2 * n_bytes AS INT), ${2 * st}))
         |    AS t(i)
         |  GROUP BY 1, 2)
         |SELECT doc_id, n_bytes,
         |       CAST(strlen(rzhex) // 2 AS BIGINT) AS n_out,
         |       md5(rzhex) AS resized_md5
         |FROM r""".stripMargin
    },

    "q111_blocklist" -> {
      val terms = graft.operators.TextOps.BLOCK_TERMS
        .map(t => s"'$t'").mkString(", ")
      s"""WITH toks2 AS (
         |  SELECT doc_id, source, ${tokensSql("lower(trim(text))")} AS tk
         |  FROM documents),
         |hits AS (
         |  SELECT doc_id, t, count(*) AS c
         |  FROM toks2, UNNEST(tk) AS u(t)
         |  WHERE t IN ($terms)
         |  GROUP BY 1, 2),
         |agg AS (
         |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_hits,
         |         CAST(count(*) AS BIGINT) AS n_blocked,
         |         string_agg(t, ',' ORDER BY t) AS blocked_terms
         |  FROM hits GROUP BY 1)
         |SELECT d.doc_id, d.source,
         |       COALESCE(a.n_hits, 0) AS n_hits,
         |       COALESCE(a.n_blocked, 0) AS n_blocked,
         |       COALESCE(a.blocked_terms, '') AS blocked_terms,
         |       CAST(COALESCE(a.n_hits, 0) = 0 AS INTEGER) AS keep
         |FROM documents d LEFT JOIN agg a USING (doc_id)""".stripMargin
    },
    // exact two-pass heavy hitters: the sketch pass only prunes, so the
    // oracle is the plain full GROUP BY with the same ceil(φ·n) floor
    // (φ = TextOps.HH_PHI = 0.02)
    "q72_heavy_hitters" ->
      s"""WITH $toksCte,
         |te AS MATERIALIZED (SELECT unnest(tk) AS tok FROM toks)
         |SELECT tok, count(*) AS cnt FROM te GROUP BY tok
         |HAVING count(*) >= ceil((SELECT count(*) FROM te) * 0.02)""".stripMargin,

    "q24_text_stats" ->
      s"""WITH $toksCte,
         |stats AS (
         |  SELECT doc_id,
         |         len(tk) AS n_tokens,
         |         len(list_distinct(tk)) AS n_distinct,
         |         CAST(list_sum(list_transform(tk, t -> len(t))) AS DOUBLE) AS sum_len,
         |         CAST(len(list_filter(tk, t -> t IN
         |           ('the','a','of','and','to','in','is','it'))) AS DOUBLE) AS n_stop
         |  FROM toks WHERE len(tk) > 0)
         |SELECT doc_id,
         |       CAST(n_tokens AS INTEGER) AS n_tokens,
         |       CAST(n_distinct AS INTEGER) AS n_distinct,
         |       floor(CAST(n_distinct AS DOUBLE) / n_tokens * 10000.0 + 0.5) / 10000.0 AS ttr,
         |       floor(sum_len / n_tokens * 10000.0 + 0.5) / 10000.0 AS avg_token_len,
         |       floor(n_stop / n_tokens * 10000.0 + 0.5) / 10000.0 AS stopword_ratio,
         |       floor(least(1.0, CAST(n_tokens AS DOUBLE) / 100.0)
         |             * (1.0 - n_stop / n_tokens) * 10000.0 + 0.5) / 10000.0 AS quality_score
         |FROM stats""".stripMargin,

    "q25_lang_id" ->
      s"""WITH $toksCte,
         |profiles(plang, pword) AS (VALUES
         |  ('en','the'), ('en','a'), ('en','of'),
         |  ('es','el'), ('es','la'), ('es','de'),
         |  ('fr','le'), ('fr','et'), ('fr','les'),
         |  ('de','der'), ('de','und'), ('de','das')),
         |langs(plang) AS (VALUES ('de'), ('en'), ('es'), ('fr'), ('zh')),
         |hits AS (
         |  SELECT doc_id, plang, count(*) AS hits
         |  FROM toks, UNNEST(tk) AS u(tok)
         |  JOIN profiles ON tok = pword
         |  GROUP BY 1, 2),
         |scored AS (
         |  SELECT d.doc_id, d.lang, l.plang, COALESCE(h.hits, 0) AS hits
         |  FROM documents d CROSS JOIN langs l
         |  LEFT JOIN hits h ON h.doc_id = d.doc_id AND h.plang = l.plang)
         |SELECT lang, plang AS pred_lang, count(*) AS n_docs
         |FROM (SELECT *, row_number() OVER (
         |        PARTITION BY doc_id ORDER BY hits DESC, plang ASC) AS rk
         |      FROM scored)
         |WHERE rk = 1
         |GROUP BY 1, 2""".stripMargin,

    "q26_doc_fingerprint" ->
      s"""WITH $toksCte,
         |ph AS (
         |  SELECT doc_id, i AS o,
         |         CAST(('0x' || substr(md5(tk[i]), 1, 7)) AS BIGINT) % 1000003 AS h
         |  FROM toks, UNNEST(generate_series(1, len(tk))) AS u(i))
         |SELECT doc_id,
         |       CAST(sum(o * h) AS BIGINT) % 2147483647 AS fingerprint,
         |       count(*) AS n_tokens
         |FROM ph GROUP BY 1""".stripMargin,

    "q47_token_count" ->
      s"""SELECT doc_id, n_chars,
         |       CAST(len(${SqlFragments.tokensSql("lower(trim(text))")}) AS INTEGER)
         |         AS n_ws_tokens,
         |       CAST(len(regexp_extract_all(text, '\\w+|[^\\w\\s]')) AS INTEGER)
         |         AS n_bpe_tokens,
         |       floor(CAST(n_chars AS DOUBLE)
         |             / NULLIF(len(regexp_extract_all(text, '\\w+|[^\\w\\s]')), 0)
         |             * 10000.0 + 0.5) / 10000.0 AS chars_per_bpe_token
         |FROM documents""".stripMargin,

    // Gopher-style repetition stats: positional tokens → per-word
    // counts and adjacent-pair (2-gram) counts; fractions 4-dp rounded
    // BEFORE the 0.18 repetitive flag so the comparison is boundary-
    // stable in both engines. 1-word docs have NULL 2-gram stats.
    "q61_repetition_stats" ->
      s"""WITH toks0 AS MATERIALIZED (
         |  SELECT doc_id, ${SqlFragments.tokensSql("lower(trim(text))")} AS tk
         |  FROM documents),
         |toks AS MATERIALIZED (
         |  SELECT doc_id, i AS pos, tk[i] AS w
         |  FROM toks0, UNNEST(generate_series(1, len(tk))) AS u(i)),
         |wagg AS (
         |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words,
         |         count(*) AS n_distinct, max(c) AS top_w
         |  FROM (SELECT doc_id, w, count(*) AS c FROM toks GROUP BY 1, 2)
         |  GROUP BY 1),
         |bagg AS (
         |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams, max(c) AS top_bg
         |  FROM (
         |    SELECT a.doc_id, a.w || ' ' || b.w AS g, count(*) AS c
         |    FROM toks a
         |    JOIN toks b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
         |    GROUP BY 1, 2)
         |  GROUP BY 1)
         |SELECT w.doc_id, w.n_words,
         |       floor(CAST(w.top_w AS DOUBLE) / w.n_words * 10000.0 + 0.5)
         |         / 10000.0 AS top_word_frac,
         |       floor(CAST(w.n_distinct AS DOUBLE) / w.n_words * 10000.0 + 0.5)
         |         / 10000.0 AS distinct_ratio,
         |       floor(CAST(b.top_bg AS DOUBLE) / b.n_bigrams * 10000.0 + 0.5)
         |         / 10000.0 AS top_bigram_frac,
         |       (floor(CAST(b.top_bg AS DOUBLE) / b.n_bigrams * 10000.0 + 0.5)
         |         / 10000.0 > 0.18) AS repetitive
         |FROM wagg w LEFT JOIN bagg b ON b.doc_id = w.doc_id""".stripMargin,

    "q48_bigram_lang_id" ->
      s"""WITH docs AS (
         |  SELECT doc_id, lang, ${SqlFragments.normTextSql("text")} AS t
         |  FROM documents),
         |bg AS (
         |  SELECT doc_id, lang, substr(t, i, 2) AS bg
         |  FROM docs, UNNEST(generate_series(1, len(t) - 1)) AS r(i)),
         |profile AS (
         |  SELECT plang, bg FROM (
         |    SELECT lang AS plang, bg, row_number() OVER (
         |      PARTITION BY lang ORDER BY count(*) DESC, bg ASC) AS rk
         |    FROM bg WHERE doc_id % 5 = 0
         |    GROUP BY lang, bg)
         |  WHERE rk <= 20),
         |langs AS (SELECT DISTINCT plang FROM profile),
         |hits AS (
         |  SELECT b.doc_id, p.plang, count(*) AS score
         |  FROM bg b JOIN profile p ON p.bg = b.bg
         |  WHERE b.doc_id % 5 <> 0
         |  GROUP BY 1, 2),
         |scored AS (
         |  SELECT d.doc_id, d.lang, l.plang, COALESCE(h.score, 0) AS score
         |  FROM (SELECT DISTINCT doc_id, lang FROM docs WHERE doc_id % 5 <> 0) d
         |  CROSS JOIN langs l
         |  LEFT JOIN hits h ON h.doc_id = d.doc_id AND h.plang = l.plang)
         |SELECT lang, plang AS pred_lang, count(*) AS n_docs FROM (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY doc_id ORDER BY score DESC, plang ASC) AS rk
         |  FROM scored)
         |WHERE rk = 1
         |GROUP BY 1, 2""".stripMargin,

    "q43_mm_metadata" ->
      """WITH a AS (
        |  SELECT doc_id, lang, source,
        |         CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |         md5(text) AS content_md5,
        |         hex(encode(text)) AS hx
        |  FROM documents)
        |SELECT doc_id, lang, source, n_bytes, content_md5,
        |       substring(hx, 1, 8) AS frame_head,
        |       substring(hx, 2 * CAST(floor(n_bytes / 2.0) AS BIGINT) + 1, 8) AS frame_mid,
        |       substring(hx, 2 * (greatest(n_bytes - 3, 1) - 1) + 1, 8) AS frame_tail
        |FROM a""".stripMargin,

    // add-one bigram LM: per-bigram ln through ONE IEEE sequence then
    // r6-quantized to DECIMAL before the per-doc sum (order-free agg)
    "q94_lm_quality" ->
      s"""WITH toks AS (
         |  SELECT doc_id, ${SqlFragments.tokensSql(SqlFragments.normTextSql("text"))} AS tk
         |  FROM documents),
         |bg AS (
         |  SELECT doc_id, tk[i] AS w1, tk[i + 1] AS w2
         |  FROM toks, UNNEST(generate_series(1, len(tk) - 1)) AS g(i)
         |  WHERE len(tk) >= 2),
         |c12 AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2),
         |c1 AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY 1),
         |v AS (SELECT count(DISTINCT w1) AS v FROM bg),
         |scored AS (
         |  SELECT bg.doc_id,
         |         CAST(${graft.functions.Rounding.sql6(
                     "ln(CAST(c12.c12 + 1 AS DOUBLE) / CAST(c1.c1 + v.v AS DOUBLE))")}
         |              AS DECIMAL(20,6)) AS lp
         |  FROM bg JOIN c12 USING (w1, w2) JOIN c1 USING (w1), v),
         |agg AS (
         |  SELECT doc_id, count(*) AS n_bigrams, sum(lp) AS slp
         |  FROM scored GROUP BY 1)
         |SELECT doc_id, n_bigrams,
         |       ${graft.functions.Rounding.sql4("CAST(slp AS DOUBLE) / n_bigrams")} AS avg_logp,
         |       CAST(${graft.functions.Rounding.sql4("CAST(slp AS DOUBLE) / n_bigrams")}
         |            < ${graft.operators.TextOps.LM_FLAG_THRESH} AS INTEGER) AS flagged
         |FROM agg""".stripMargin,

    // q142: Min-K% probability — the q94 scored-gram chain, ranked
    // ascending per doc; k = integer-ceil(n/5) so both engines pick
    // the identical tail; ties at the boundary are value-equal, so
    // any row_number order yields the same mean
    "q142_mink_prob" -> {
      val den = graft.operators.TextOps.MINK_DEN
      s"""WITH toks AS (
         |  SELECT doc_id, ${SqlFragments.tokensSql(SqlFragments.normTextSql("text"))} AS tk
         |  FROM documents),
         |bg AS (
         |  SELECT doc_id, tk[i] AS w1, tk[i + 1] AS w2
         |  FROM toks, UNNEST(generate_series(1, len(tk) - 1)) AS g(i)
         |  WHERE len(tk) >= 2),
         |c12 AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2),
         |c1 AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY 1),
         |v AS (SELECT count(DISTINCT w1) AS v FROM bg),
         |scored AS (
         |  SELECT bg.doc_id,
         |         CAST(${graft.functions.Rounding.sql6(
                     "ln(CAST(c12.c12 + 1 AS DOUBLE) / CAST(c1.c1 + v.v AS DOUBLE))")}
         |              AS DECIMAL(20,6)) AS lp
         |  FROM bg JOIN c12 USING (w1, w2) JOIN c1 USING (w1), v),
         |cnt AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         |         CAST((count(*) + ${den - 1}) // $den AS BIGINT) AS k_tail
         |  FROM scored GROUP BY 1),
         |ranked AS (
         |  SELECT doc_id, lp,
         |         row_number() OVER (PARTITION BY doc_id ORDER BY lp ASC) AS rk
         |  FROM scored)
         |SELECT r.doc_id, c.n_bigrams, c.k_tail,
         |       ${graft.functions.Rounding.sql4(
              "CAST(sum(r.lp) AS DOUBLE) / c.k_tail")} AS mink_logp
         |FROM ranked r JOIN cnt c USING (doc_id)
         |WHERE r.rk <= c.k_tail
         |GROUP BY 1, 2, 3""".stripMargin
    },

    // q142b: the Min-K% probe under the TOP-GRAM model — the
    // Misra-Gries two-pass result is exactly a frequency filter, so
    // the oracle is the plain GROUP BY/HAVING count >= ceil(n/support)
    // model with c12 = 0 backoff for out-of-model bigrams (the q131b
    // replay discipline)
    "q142b_mink_sketch" -> {
      val den = graft.operators.TextOps.MINK_DEN
      val su = graft.operators.TextOps.LM_SKETCH_SUPPORT
      s"""WITH toks AS (
         |  SELECT doc_id, ${SqlFragments.tokensSql(SqlFragments.normTextSql("text"))} AS tk
         |  FROM documents),
         |bg AS (
         |  SELECT doc_id, tk[i] AS w1, tk[i + 1] AS w2
         |  FROM toks, UNNEST(generate_series(1, len(tk) - 1)) AS g(i)
         |  WHERE len(tk) >= 2),
         |c12 AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2
         |        HAVING count(*) >= (SELECT ceil(CAST(count(*) AS DOUBLE) / $su.0)
         |                            FROM bg)),
         |c1 AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY 1),
         |v AS (SELECT count(DISTINCT w1) AS v FROM bg),
         |scored AS (
         |  SELECT bg.doc_id,
         |         CAST(${graft.functions.Rounding.sql6(
                     "ln(CAST(COALESCE(c12.c12, 0) + 1 AS DOUBLE) / CAST(c1.c1 + v.v AS DOUBLE))")}
         |              AS DECIMAL(20,6)) AS lp
         |  FROM bg LEFT JOIN c12 USING (w1, w2) JOIN c1 USING (w1), v),
         |cnt AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         |         CAST((count(*) + ${den - 1}) // $den AS BIGINT) AS k_tail
         |  FROM scored GROUP BY 1),
         |ranked AS (
         |  SELECT doc_id, lp,
         |         row_number() OVER (PARTITION BY doc_id ORDER BY lp ASC) AS rk
         |  FROM scored)
         |SELECT r.doc_id, c.n_bigrams, c.k_tail,
         |       ${graft.functions.Rounding.sql4(
              "CAST(sum(r.lp) AS DOUBLE) / c.k_tail")} AS mink_logp
         |FROM ranked r JOIN cnt c USING (doc_id)
         |WHERE r.rk <= c.k_tail
         |GROUP BY 1, 2, 3""".stripMargin
    },

    // q134: the q94 chain joined with per-doc token counts, crossed
    // with the literal threshold grid — kept mean rides the same
    // r4-quantize -> DECIMAL-sum discipline as the per-doc scores
    "q134_filter_sweep" -> {
      val grid = graft.operators.TextOps.SWEEP_THRESHOLDS
        .map(t => f"$t%.1f").mkString(", ")
      val r4 = graft.functions.Rounding.sql4 _
      s"""WITH toks AS (
         |  SELECT doc_id, ${SqlFragments.tokensSql(SqlFragments.normTextSql("text"))} AS tk
         |  FROM documents),
         |bg AS (
         |  SELECT doc_id, tk[i] AS w1, tk[i + 1] AS w2
         |  FROM toks, UNNEST(generate_series(1, len(tk) - 1)) AS g(i)
         |  WHERE len(tk) >= 2),
         |c12 AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2),
         |c1 AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY 1),
         |v AS (SELECT count(DISTINCT w1) AS v FROM bg),
         |lmscored AS (
         |  SELECT bg.doc_id,
         |         CAST(${graft.functions.Rounding.sql6(
                     "ln(CAST(c12.c12 + 1 AS DOUBLE) / CAST(c1.c1 + v.v AS DOUBLE))")}
         |              AS DECIMAL(20,6)) AS lp
         |  FROM bg JOIN c12 USING (w1, w2) JOIN c1 USING (w1), v),
         |agg AS (
         |  SELECT doc_id, count(*) AS n_bigrams, sum(lp) AS slp
         |  FROM lmscored GROUP BY 1),
         |sc AS (
         |  SELECT a.doc_id,
         |         ${r4("CAST(a.slp AS DOUBLE) / a.n_bigrams")} AS avg_logp,
         |         CAST(len(${SqlFragments.tokensSql("lower(trim(text))")})
         |              AS BIGINT) AS n_tok
         |  FROM agg a JOIN documents d ON d.doc_id = a.doc_id),
         |grid AS (SELECT unnest([$grid]::DOUBLE[]) AS thresh)
         |SELECT g.thresh,
         |       CAST(sum(CASE WHEN avg_logp >= g.thresh THEN 1 ELSE 0 END)
         |            AS BIGINT) AS n_docs_kept,
         |       CAST(sum(CASE WHEN avg_logp >= g.thresh THEN n_tok ELSE 0 END)
         |            AS BIGINT) AS n_tokens_kept,
         |       ${r4("CAST(sum(CASE WHEN avg_logp >= g.thresh THEN 1 ELSE 0 END) AS DOUBLE) / count(*)")}
         |         AS doc_frac,
         |       ${r4("CAST(sum(CASE WHEN avg_logp >= g.thresh THEN n_tok ELSE 0 END) AS DOUBLE) / sum(n_tok)")}
         |         AS token_frac,
         |       CASE WHEN sum(CASE WHEN avg_logp >= g.thresh THEN 1 ELSE 0 END) > 0
         |            THEN ${r4("CAST(sum(CASE WHEN avg_logp >= g.thresh THEN CAST(avg_logp AS DECIMAL(20,4)) END) AS DOUBLE) / sum(CASE WHEN avg_logp >= g.thresh THEN 1 ELSE 0 END)")}
         |            ELSE NULL END AS mean_logp_kept
         |FROM sc CROSS JOIN grid g
         |GROUP BY 1""".stripMargin
    },

    // every Gopher bound interpolates from the TextOps constants (the
    // q106 LM_*_THRESH discipline) so a rule change cannot desync the
    // oracle from the engine (ADVICE r8). The line-structure columns
    // mirror the engine's data-derived capability guard: real
    // fractions + verdicts when the corpus contains newlines, typed
    // NULLs when it does not — both engines flip on the same corpus
    // fact, never on configuration.
    "q107_gopher_flags" -> {
      import graft.operators.TextOps._
      val stops = GOPHER_STOPS.map(s => s"'$s'").mkString(",")
      val bullets = GOPHER_BULLET_PREFIXES
        .map(p => s"starts_with(line, '$p')").mkString(" OR ")
      val ellipses = GOPHER_ELLIPSIS_SUFFIXES
        .map(s => s"ends_with(line, '$s')").mkString(" OR ")
      s"""WITH $toksCte,
         |cap AS (
         |  SELECT max(CASE WHEN contains(text, chr(10)) THEN 1 ELSE 0 END) AS has_lines
         |  FROM documents),
         |lines AS (
         |  SELECT doc_id, trim(l) AS line
         |  FROM documents, UNNEST(string_split(text, chr(10))) AS t(l)
         |  WHERE len(trim(l)) > 0),
         |ls AS (
         |  SELECT doc_id, CAST(count(*) AS DOUBLE) AS n_lines,
         |         CAST(sum(CASE WHEN $bullets THEN 1 ELSE 0 END) AS DOUBLE) AS n_bullet,
         |         CAST(sum(CASE WHEN $ellipses THEN 1 ELSE 0 END) AS DOUBLE) AS n_ellipsis
         |  FROM lines GROUP BY 1),
         |stats AS (
         |  SELECT doc_id,
         |         len(tk) AS n_words,
         |         CAST(list_sum(list_transform(tk, t -> len(t))) AS DOUBLE) AS sum_len,
         |         CAST(len(list_filter(tk, t -> contains(t, '#')
         |                                    OR contains(t, '...'))) AS DOUBLE) AS n_sym,
         |         CAST(len(list_filter(tk, t -> regexp_matches(t, '[a-z]'))) AS DOUBLE) AS n_alpha,
         |         len(list_distinct(list_filter(tk, t -> t IN
         |           ($stops)))) AS n_stop_distinct
         |  FROM toks WHERE len(tk) > 0),
         |f AS (
         |  SELECT s.doc_id, CAST(s.n_words AS BIGINT) AS n_words,
         |         CAST(s.n_words >= $GOPHER_MIN_WORDS AND s.n_words <= $GOPHER_MAX_WORDS
         |              AS INTEGER) AS ok_wordcount,
         |         CAST(${graft.functions.Rounding.sql4("s.sum_len / s.n_words")} >= $GOPHER_MIN_WORDLEN
         |          AND ${graft.functions.Rounding.sql4("s.sum_len / s.n_words")} <= $GOPHER_MAX_WORDLEN
         |              AS INTEGER) AS ok_wordlen,
         |         CAST(${graft.functions.Rounding.sql4("s.n_sym / s.n_words")} <= $GOPHER_MAX_SYMBOL_RATIO
         |              AS INTEGER) AS ok_symbols,
         |         CAST(${graft.functions.Rounding.sql4("s.n_alpha / s.n_words")} >= $GOPHER_MIN_ALPHA_RATIO
         |              AS INTEGER) AS ok_alpha,
         |         CAST(s.n_stop_distinct >= $GOPHER_MIN_STOPS AS INTEGER) AS ok_stop,
         |         CASE WHEN c.has_lines = 1
         |              THEN ${graft.functions.Rounding.sql4("ls.n_bullet / ls.n_lines")}
         |              ELSE NULL END AS bullet_frac,
         |         CASE WHEN c.has_lines = 1
         |              THEN ${graft.functions.Rounding.sql4("ls.n_ellipsis / ls.n_lines")}
         |              ELSE NULL END AS ellipsis_frac,
         |         c.has_lines AS has_lines
         |  FROM stats s JOIN ls USING (doc_id), cap c)
         |SELECT doc_id, n_words, ok_wordcount, ok_wordlen, ok_symbols,
         |       ok_alpha, ok_stop, bullet_frac, ellipsis_frac,
         |       CASE WHEN has_lines = 1
         |            THEN CAST(bullet_frac <= $GOPHER_MAX_BULLET_FRAC AS INTEGER)
         |            ELSE NULL END AS ok_bullet,
         |       CASE WHEN has_lines = 1
         |            THEN CAST(ellipsis_frac <= $GOPHER_MAX_ELLIPSIS_FRAC AS INTEGER)
         |            ELSE NULL END AS ok_ellipsis,
         |       CAST(ok_wordcount = 1 AND ok_wordlen = 1 AND ok_symbols = 1
         |            AND ok_alpha = 1 AND ok_stop = 1
         |            AND (has_lines = 0 OR (bullet_frac <= $GOPHER_MAX_BULLET_FRAC
         |                 AND ellipsis_frac <= $GOPHER_MAX_ELLIPSIS_FRAC))
         |            AS INTEGER) AS gopher_pass
         |FROM f""".stripMargin
    },

    "q106_perplexity_buckets" ->
      s"""WITH toks AS (
         |  SELECT doc_id, ${SqlFragments.tokensSql(SqlFragments.normTextSql("text"))} AS tk
         |  FROM documents),
         |bg AS (
         |  SELECT doc_id, tk[i] AS w1, tk[i + 1] AS w2
         |  FROM toks, UNNEST(generate_series(1, len(tk) - 1)) AS g(i)
         |  WHERE len(tk) >= 2),
         |c12 AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2),
         |c1 AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY 1),
         |v AS (SELECT count(DISTINCT w1) AS v FROM bg),
         |scored AS (
         |  SELECT bg.doc_id,
         |         CAST(${graft.functions.Rounding.sql6(
                     "ln(CAST(c12.c12 + 1 AS DOUBLE) / CAST(c1.c1 + v.v AS DOUBLE))")}
         |              AS DECIMAL(20,6)) AS lp
         |  FROM bg JOIN c12 USING (w1, w2) JOIN c1 USING (w1), v),
         |agg AS (
         |  SELECT doc_id,
         |         ${graft.functions.Rounding.sql4("CAST(sum(lp) AS DOUBLE) / count(*)")} AS avg_logp
         |  FROM scored GROUP BY 1),
         |b AS (
         |  SELECT d.lang,
         |         CASE WHEN a.avg_logp >= ${graft.operators.TextOps.LM_HEAD_THRESH} THEN 'head'
         |              WHEN a.avg_logp >= ${graft.operators.TextOps.LM_MID_THRESH} THEN 'middle'
         |              ELSE 'tail' END AS bucket,
         |         CAST(a.avg_logp AS DECIMAL(20,4)) AS al
         |  FROM agg a JOIN documents d USING (doc_id))
         |SELECT lang, bucket, count(*) AS n_docs,
         |       ${graft.functions.Rounding.sql4("CAST(sum(al) AS DOUBLE) / count(*)")} AS mean_logp
         |FROM b GROUP BY 1, 2""".stripMargin,

    // q106b calibrated twin: the exact per-language tertile cuts and
    // the composition under them are recomputed with quantile_cont;
    // head_cut_ok / mid_cut_ok certify the engine's approx_percentile
    // sketch inside the q53b rank bracket and pin to 1
    "q106b_ccnet_calibrated" -> {
      import graft.operators.TextOps.{CCNET_HEAD_Q, CCNET_MID_Q}
      s"""WITH toks AS (
         |  SELECT doc_id, ${SqlFragments.tokensSql(SqlFragments.normTextSql("text"))} AS tk
         |  FROM documents),
         |bg AS (
         |  SELECT doc_id, tk[i] AS w1, tk[i + 1] AS w2
         |  FROM toks, UNNEST(generate_series(1, len(tk) - 1)) AS g(i)
         |  WHERE len(tk) >= 2),
         |c12 AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2),
         |c1 AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY 1),
         |v AS (SELECT count(DISTINCT w1) AS v FROM bg),
         |scored AS (
         |  SELECT bg.doc_id,
         |         CAST(${graft.functions.Rounding.sql6(
                     "ln(CAST(c12.c12 + 1 AS DOUBLE) / CAST(c1.c1 + v.v AS DOUBLE))")}
         |              AS DECIMAL(20,6)) AS lp
         |  FROM bg JOIN c12 USING (w1, w2) JOIN c1 USING (w1), v),
         |agg AS (
         |  SELECT doc_id,
         |         ${graft.functions.Rounding.sql4("CAST(sum(lp) AS DOUBLE) / count(*)")} AS avg_logp
         |  FROM scored GROUP BY 1),
         |sl AS (
         |  SELECT d.lang, a.avg_logp, CAST(a.avg_logp AS DECIMAL(20,4)) AS al
         |  FROM agg a JOIN documents d USING (doc_id)),
         |cuts AS (
         |  SELECT lang,
         |         ${graft.functions.Rounding.sql4(s"quantile_cont(avg_logp, $CCNET_HEAD_Q)")} AS head_cut,
         |         ${graft.functions.Rounding.sql4(s"quantile_cont(avg_logp, $CCNET_MID_Q)")} AS mid_cut
         |  FROM sl GROUP BY 1),
         |b AS (
         |  SELECT s.lang,
         |         CASE WHEN s.avg_logp >= c.head_cut THEN 'head'
         |              WHEN s.avg_logp >= c.mid_cut THEN 'middle'
         |              ELSE 'tail' END AS bucket,
         |         s.al, c.head_cut, c.mid_cut
         |  FROM sl s JOIN cuts c USING (lang))
         |SELECT lang, bucket, count(*) AS n_docs,
         |       ${graft.functions.Rounding.sql4("CAST(sum(al) AS DOUBLE) / count(*)")} AS mean_logp,
         |       min(head_cut) AS head_cut, min(mid_cut) AS mid_cut,
         |       1 AS head_cut_ok, 1 AS mid_cut_ok
         |FROM b GROUP BY 1, 2""".stripMargin
    },

    // Rocchio nearest-centroid classifier: hashed tf vectors,
    // L2-normalized components r6-rounded into DECIMAL before any
    // cross-row sum (order-free), score = tf · (c_pos − c_neg) / ‖x‖
    "q116_quality_classifier" -> {
      val B = graft.operators.TextOps.QC_BUCKETS
      val TGT = graft.operators.Corpus.DSIR_TARGET_SOURCES
        .map(s => s"'$s'").mkString(", ")
      import graft.functions.Rounding.{sql4 => s4, sql6 => s6}
      s"""WITH toks2 AS (
         |  SELECT doc_id, source, ${tokensSql("lower(trim(text))")} AS tk
         |  FROM documents),
         |tf AS (
         |  SELECT doc_id, source,
         |         ${SqlFragments.baseHashSql("tok")} % $B AS b,
         |         count(*) AS n
         |  FROM toks2, UNNEST(tk) AS u(tok) GROUP BY 1, 2, 3),
         |nrm AS (
         |  SELECT doc_id, sqrt(CAST(sum(n * n) AS DOUBLE)) AS nrm
         |  FROM tf GROUP BY 1),
         |tfn AS (
         |  SELECT tf.doc_id, (source IN ($TGT)) AS t, b, n,
         |         CAST(${s6("CAST(n AS DOUBLE) / nrm")} AS DECIMAL(20,6)) AS tfn
         |  FROM tf JOIN nrm USING (doc_id)),
         |m AS (
         |  SELECT t, count(*) AS m
         |  FROM (SELECT DISTINCT doc_id, t FROM tfn) GROUP BY 1),
         |cent AS (
         |  SELECT t, b,
         |         CAST(${s6("CAST(sum(tfn) AS DOUBLE) / any_value(mm.m)")} AS DECIMAL(20,6)) AS c
         |  FROM tfn JOIN m mm USING (t) GROUP BY 1, 2),
         |w AS (
         |  SELECT b,
         |         COALESCE(sum(CASE WHEN t THEN c END), CAST(0 AS DECIMAL(20,6)))
         |         - COALESCE(sum(CASE WHEN NOT t THEN c END), CAST(0 AS DECIMAL(20,6))) AS w
         |  FROM cent GROUP BY 1),
         |num AS (
         |  SELECT doc_id, sum(n * w) AS num,
         |         max(CAST(source IN ($TGT) AS INT)) AS is_target
         |  FROM tf JOIN w USING (b) GROUP BY 1)
         |SELECT num.doc_id,
         |       ${s4("CAST(num AS DOUBLE) / nrm")} AS qc_score,
         |       is_target,
         |       CAST((${s4("CAST(num AS DOUBLE) / nrm")}) > 0 AS INT) AS predicted
         |FROM num JOIN nrm USING (doc_id)""".stripMargin
    }
  )
}
