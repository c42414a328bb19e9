package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkEntry.t
import graft.ops.TextStats

import Shared._

/** Per-document text analysis via [[graft.ops.TextStats]],
  * [[graft.ops.SemiStructured]] and the text expressions: language ID,
  * quality heuristics, normalization, PII scrubbing, token counts. */
private[graft] object TextStatsQueries {
  val all: Seq[Query] = Seq(
    Query("q36_repetition", (s, dir) =>
      TextStats.repetitionScore(t(s, dir, "documents"), "doc_id", "text", 3),
      """WITH g AS (
        |  SELECT doc_id, list_transform(generate_series(1, len(ts) - 2),
        |    i -> array_to_string(ts[i:i+2], ' ')) AS grams
        |  FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM documents))
        |SELECT doc_id,
        |  CASE WHEN len(grams) <= 0 THEN 1.0
        |       ELSE CAST(len(list_distinct(grams)) AS DOUBLE) / CAST(len(grams) AS DOUBLE)
        |  END AS distinct_ngram_ratio
        |FROM g""".stripMargin),
    Query("q37_pii_scrub", (s, dir) =>
      TextStats.scrubPii(t(s, dir, "documents"), "doc_id", "text"),
      {
      val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val url = "https?://[^ ]+"
      val digits = "[0-9]{7,}"
      s"""SELECT doc_id,
         |  regexp_replace(regexp_replace(regexp_replace(text,
         |    '$url', '<URL>', 'g'), '$email', '<EMAIL>', 'g'), '$digits', '<NUM>', 'g') AS clean_text,
         |  CAST(len(regexp_extract_all(text, '$email')) AS INTEGER) AS n_emails,
         |  CAST(len(regexp_extract_all(text, '$url')) AS INTEGER) AS n_urls,
         |  CAST(len(regexp_extract_all(text, '$digits')) AS INTEGER) AS n_digit_runs
         |FROM documents""".stripMargin
    }),
    // sequence packing: deterministic (shard, bin, offset) assignment of
    // documents into fixed-token-budget training bins
    Query("q56_sequence_pack", (s, dir) => {
      val docs = t(s, dir, "documents")
      val counted = docs.select(col("doc_id"),
        TextStats.bpeishTokenCount(col("text")).cast("long").as("n_tokens"))
      graft.ops.Packing.packGreedy(counted, "doc_id", "n_tokens", 512L, 4)
    },
      s"""WITH counted AS (
         |  SELECT doc_id,
         |    CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]|[^a-zA-Z0-9 ]')) AS BIGINT) AS n_tokens
         |  FROM documents),
         |sharded AS (
         |  SELECT doc_id, n_tokens, CAST(${md5ModSql("doc_id", 4)} AS BIGINT) AS shard
         |  FROM counted),
         |w AS (
         |  SELECT doc_id, n_tokens, shard,
         |    CAST(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id) - n_tokens AS BIGINT) AS start_offset
         |  FROM sharded)
         |SELECT doc_id, n_tokens, shard, start_offset,
         |  CAST(start_offset // 512 AS BIGINT) AS bin,
         |  n_tokens > 512 AS oversize
         |FROM w""".stripMargin),
    // canonicalization before dedup/fingerprinting: lowercase, strip
    // control chars, collapse whitespace — byte-reproducible on any engine
    Query("q67_text_normalize", (s, dir) =>
      TextStats.normalizeText(t(s, dir, "documents"), "doc_id", "text"),
      """WITH c AS (
        |  SELECT doc_id, text,
        |    trim(regexp_replace(regexp_replace(lower(text),
        |      '[\x00-\x1f\x7f]', ' ', 'g'), ' {2,}', ' ', 'g')) AS norm_text
        |  FROM documents)
        |SELECT doc_id, norm_text, norm_text <> text AS changed FROM c""".stripMargin),
    // per-source quality drift: the monitoring mart that catches a crawl
    // source going bad — one scan, one partial-agg shuffle
    Query("q74_quality_drift", (s, dir) =>
      TextStats.qualityDrift(t(s, dir, "documents"), "doc_id", "text", "source"),
      s"""WITH q AS (
         |  SELECT source,
         |    len(string_split(text, ' ')) AS n_tokens,
         |    CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9 ]')) AS DOUBLE)
         |      / CAST(length(text) AS DOUBLE) AS punct_ratio,
         |    CAST(len(list_filter(string_split(text, ' '),
         |      w -> list_contains(['the','a','of','and','to','in','is'], w))) AS DOUBLE)
         |      / CAST(len(string_split(text, ' ')) AS DOUBLE) AS stopword_ratio,
         |    $qualityCaseSql AS quality
         |  FROM documents)
         |SELECT source, count(*) AS n_docs,
         |  round(avg(n_tokens), 6) AS avg_tokens,
         |  round(avg(punct_ratio), 6) AS avg_punct_ratio,
         |  round(avg(stopword_ratio), 6) AS avg_stopword_ratio,
         |  CAST(sum(CASE WHEN quality = 'high' THEN 1 ELSE 0 END) AS DOUBLE)
         |    / CAST(count(*) AS DOUBLE) AS share_high
         |FROM q GROUP BY 1""".stripMargin),
    // semi-structured payloads: schema'd from_json parse (one scan-stage
    // projection) feeding a typed aggregate
    Query("q51_json_props_agg", (s, dir) => {
      val parsed = graft.ops.SemiStructured.parseJson(
        t(s, dir, "events").select("event_type", "props"), "props",
        new org.apache.spark.sql.types.StructType().add("k", "int"))
      parsed.groupBy("event_type")
        .agg(sum(col("j.k").cast("long")).as("sum_k"), count(lit(1)).as("n"))
    },
      """SELECT event_type,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
        |  count(*) AS n
        |FROM events GROUP BY 1""".stripMargin),
    // crawl-extraction markup strip: comments, tags, entities (amp last),
    // whitespace collapse — pure scan stage
    Query("q147_strip_markup", (s, dir) =>
      TextStats.stripMarkup(t(s, dir, "documents"), "doc_id", "text"),
      // q147: the same comment/tag/entity/whitespace chain (RE2-safe)
      """SELECT doc_id, trim(regexp_replace(
        |  replace(replace(replace(replace(replace(replace(
        |    regexp_replace(regexp_replace(text, '(?s)<!--.*?-->', ' ', 'g'),
        |                   '<[^>]*>', ' ', 'g'),
        |    '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
        |    '&nbsp;', ' '), '&amp;', '&'),
        |  '\s+', ' ', 'g')) AS clean_text
        |FROM documents""".stripMargin),
    Query("q27_lang_id", (s, dir) =>
      TextStats.langId(t(s, dir, "documents"), "doc_id", "text"),
      s"""SELECT doc_id,
         |  $langScoreSql,
         |  CASE
         |    WHEN score_en >= greatest(score_en, score_de, score_es, score_fr, score_zh) THEN 'en'
         |    WHEN score_de >= greatest(score_en, score_de, score_es, score_fr, score_zh) THEN 'de'
         |    WHEN score_es >= greatest(score_en, score_de, score_es, score_fr, score_zh) THEN 'es'
         |    WHEN score_fr >= greatest(score_en, score_de, score_es, score_fr, score_zh) THEN 'fr'
         |    ELSE 'zh' END AS detected_lang
         |FROM documents""".stripMargin),
    Query("q28_text_quality", (s, dir) =>
      TextStats.qualityFeatures(t(s, dir, "documents"), "doc_id", "text"),
      """SELECT doc_id,
        |  CAST(length(text) AS INTEGER) AS n_chars,
        |  CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
        |  CAST(length(replace(text, ' ', '')) AS DOUBLE) / CAST(len(string_split(text, ' ')) AS DOUBLE) AS avg_token_len,
        |  CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9 ]')) AS DOUBLE) / CAST(length(text) AS DOUBLE) AS punct_ratio,
        |  CAST(len(list_filter(string_split(text, ' '), w -> w IN ('the','a','of','and','to','in','is'))) AS DOUBLE)
        |    / CAST(len(string_split(text, ' ')) AS DOUBLE) AS stopword_ratio,
        |  CASE WHEN len(string_split(text, ' ')) >= 50
        |         AND CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9 ]')) AS DOUBLE) / CAST(length(text) AS DOUBLE) < 0.1
        |         AND CAST(length(replace(text, ' ', '')) AS DOUBLE) / CAST(len(string_split(text, ' ')) AS DOUBLE) >= 3
        |         AND CAST(length(replace(text, ' ', '')) AS DOUBLE) / CAST(len(string_split(text, ' ')) AS DOUBLE) <= 10 THEN 'high'
        |       WHEN len(string_split(text, ' ')) >= 10 THEN 'medium'
        |       ELSE 'low' END AS quality
        |FROM documents""".stripMargin),
    Query("q29_token_counts", (s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        TextStats.tokenCount(col("text")).as("n_ws_tokens"),
        TextStats.bpeishTokenCount(col("text")).as("n_bpeish_tokens")),
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS INTEGER) AS n_ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]|[^a-zA-Z0-9 ]')) AS INTEGER) AS n_bpeish_tokens
        |FROM documents""".stripMargin),
    Query("q30_fingerprints", (s, dir) =>
      TextStats.fingerprints(t(s, dir, "documents"), "doc_id", "text"),
      """SELECT doc_id, md5(text) AS content_md5,
        |  CASE WHEN length(text) < 8 THEN md5(text)
        |       ELSE list_min(list_transform(generate_series(1, length(text) - 7),
        |                     i -> md5(text[i:i+7]))) END AS min_gram_md5
        |FROM documents""".stripMargin),
    // character-entropy quality proxy (low = repeated filler, high =
    // noise): one native-kernel pass, zero shuffle
    Query("q119_char_entropy", (s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        round(graft.functions.TextFunctions.charEntropy(col("text")), 6)
          .as("char_entropy")),
      // q119: grouped-sum formulation — a different summation ORDER than the
      // kernel's code-point-ascending pass, identical at 6 dp (Σ of ≤ a few
      // hundred log terms carries ~1e-15 relative error)
      """WITH ch AS (SELECT doc_id, unnest(string_split(text, '')) AS c FROM documents),
        |cc AS (SELECT doc_id, c, count(*) AS n FROM ch GROUP BY 1, 2),
        |tot AS (SELECT doc_id, sum(n) AS tn FROM cc GROUP BY 1)
        |SELECT cc.doc_id,
        |  round(-sum((CAST(n AS DOUBLE) / tn) * log2(CAST(n AS DOUBLE) / tn)), 6) AS char_entropy
        |FROM cc JOIN tot USING (doc_id) GROUP BY cc.doc_id""".stripMargin),
    // Unicode NFC canonicalization ahead of hashing/dedup — visually equal
    // text must hash equal; one native-kernel pass, zero shuffle
    Query("q127_nfc_normalize", (s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        graft.functions.TextFunctions.nfcNormalize(col("text")).as("text_nfc")),
      // q127: both engines implement the same Unicode canonical composition
      "SELECT doc_id, nfc_normalize(text) AS text_nfc FROM documents"),
    // corpus-frequency boilerplate removal at word granularity (the test
    // corpus has no newlines; production runs sep="\n" for line-level) —
    // segments in >390 of the docs are dropped, survivors keep their order
    Query("q111_boilerplate_segments", (s, dir) =>
      TextStats.removeCommonSegments(t(s, dir, "documents"), "doc_id", "text", " ", 390L),
      // q111: aligned-unnest segment table → df counts → ordered string_agg
      // reassembly; all-boilerplate docs come back as empty strings
      """WITH segs AS (
        |  SELECT doc_id,
        |    unnest(string_split(text, ' ')) AS seg,
        |    unnest(generate_series(1, len(string_split(text, ' ')))) AS pos
        |  FROM documents),
        |dfc AS (SELECT seg, count(DISTINCT doc_id) AS df FROM segs GROUP BY 1),
        |kept AS (
        |  SELECT s.doc_id,
        |    string_agg(s.seg, ' ' ORDER BY s.pos) AS clean_text,
        |    count(*) AS n_kept
        |  FROM segs s JOIN dfc ON s.seg = dfc.seg
        |  WHERE dfc.df <= 390 GROUP BY 1)
        |SELECT d.doc_id,
        |  coalesce(k.clean_text, '') AS clean_text,
        |  CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept,
        |  CAST(len(string_split(d.text, ' ')) - coalesce(k.n_kept, 0) AS BIGINT) AS n_removed
        |FROM documents d LEFT JOIN kept k ON d.doc_id = k.doc_id""".stripMargin),
    // PII redaction (the C4/CCNet scrub step): every 5th document gains
    // a deterministic md5-derived email + IPv4 (so the oracle plants the
    // IDENTICAL bytes), then emails and IPs are replaced with typed
    // placeholders and counted — every replacement and count replayed
    Query("q363_pii_redact", (s, dir) => {
      val docs = graft.core.Tables.tableRebalanced(s, dir, "documents")
        .where(col("text").isNotNull)
      val hEmail = md5(concat(col("doc_id").cast("string"), lit(":pii")))
      val hIp = md5(concat(col("doc_id").cast("string"), lit(":pip")))
      def oct(i: Int) = conv(substring(hIp, 2 * i + 1, 2), 16, 10)
      val planted = docs.select(col("doc_id"),
        when(col("doc_id") % 5 === 0,
          concat(col("text"), lit(" contact "),
            substring(hEmail, 1, 8), lit("@example.com from "),
            concat_ws(".", oct(0), oct(1), oct(2), oct(3))))
          .otherwise(col("text")).as("text"))
      graft.ops.TextStats.piiRedact(planted, "doc_id", "text")
    },
      // q363: identical planted bytes (md5-derived email + dotted quad),
      // identical RE2-portable patterns, global replace + match counts —
      // n_emails on the original text, n_ips on the email-scrubbed text,
      // exactly the Spark operator's scan order
      {
      // DuckDB standard strings pass backslashes through verbatim, so the
      // shared Scala pattern constants interpolate unchanged
      val emailRe = graft.ops.TextStats.EmailRe
      val ipRe = graft.ops.TextStats.Ipv4Re
      def octSql(i: Int) =
        s"CAST(CAST(('0x' || substr(md5(doc_id || ':pip'), ${2 * i + 1}, 2)) AS INTEGER) AS VARCHAR)"
      s"""WITH planted AS (SELECT doc_id,
         |    CASE WHEN doc_id % 5 = 0 THEN text || ' contact ' ||
         |      substr(md5(doc_id || ':pii'), 1, 8) || '@example.com from ' ||
         |      ${octSql(0)} || '.' || ${octSql(1)} || '.' || ${octSql(2)} || '.' || ${octSql(3)}
         |    ELSE text END AS text
         |  FROM documents WHERE text IS NOT NULL),
         |scrub AS (SELECT doc_id, text,
         |    regexp_replace(text, '$emailRe', '<EMAIL>', 'g') AS no_email
         |  FROM planted)
         |SELECT doc_id AS id,
         |  regexp_replace(no_email, '$ipRe', '<IP>', 'g') AS redacted,
         |  CAST(len(regexp_extract_all(text, '$emailRe')) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(no_email, '$ipRe')) AS BIGINT) AS n_ips
         |FROM scrub""".stripMargin
    }),
    // Gopher-style hard-filter rule mart: each named rule its own flag
    // plus the conjunction — which rule killed a doc stays visible
    Query("q233_gopher_rules", (s, dir) =>
      TextStats.gopherRules(t(s, dir, "documents"), "doc_id", "text"),
      // q233: the same word stats computed once in one scan; list_intersect /
      // list_distinct replay array_intersect / array_distinct, and the
      // '...' runs are non-overlapping in both regexp engines
      """WITH w AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws,
        |    len(string_split(text, ' ')) AS nw,
        |    length(replace(text, ' ', '')) AS nonspace,
        |    len(regexp_extract_all(text, '#'))
        |      + len(regexp_extract_all(text, '\.\.\.')) AS symb
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, nw,
        |    CASE WHEN nw > 0 THEN nonspace * 1.0 / nw END AS ml,
        |    CASE WHEN nw > 0 THEN
        |      len(list_filter(ws, x -> regexp_matches(x, '[A-Za-z]'))) * 1.0 / nw
        |    END AS ar,
        |    CASE WHEN nw > 0 THEN symb * 1.0 / nw END AS sr,
        |    len(list_intersect(list_distinct(ws),
        |      ['the','a','of','and','to','in','is'])) AS sd,
        |    CASE WHEN nw > 0 THEN len(list_distinct(ws)) * 1.0 / nw END AS dr
        |  FROM w)
        |SELECT doc_id, CAST(nw AS BIGINT) AS n_words,
        |  round(coalesce(ml, 0.0), 6) AS mean_word_len,
        |  coalesce(nw >= 50 AND nw <= 100000, FALSE) AS ok_word_count,
        |  coalesce(ml >= 3.0 AND ml <= 10.0, FALSE) AS ok_mean_word_len,
        |  coalesce(ar >= 0.8, FALSE) AS ok_alpha_ratio,
        |  coalesce(sr < 0.1, FALSE) AS ok_symbol_ratio,
        |  coalesce(sd >= 2, FALSE) AS ok_stopwords,
        |  coalesce(dr > 0.2, FALSE) AS ok_repetition,
        |  coalesce(nw >= 50 AND nw <= 100000, FALSE)
        |    AND coalesce(ml >= 3.0 AND ml <= 10.0, FALSE)
        |    AND coalesce(ar >= 0.8, FALSE)
        |    AND coalesce(sr < 0.1, FALSE)
        |    AND coalesce(sd >= 2, FALSE)
        |    AND coalesce(dr > 0.2, FALSE) AS keep
        |FROM f""".stripMargin),
    // Flesch / FK-grade readability mart: pure scan-stage run counting
    Query("q243_readability", (s, dir) =>
      graft.ops.TextStats.readability(
        t(s, dir, "documents"), "doc_id", "text"),
      // q243: identical run-count arithmetic (runs -> 1 char minus
      // runs -> 0 chars needs no marker byte), identical IEEE formula
      // order, 4 dp rounds
      """WITH b AS (SELECT doc_id, coalesce(text, '') AS t FROM documents),
        |c AS (SELECT doc_id,
        |    length(regexp_replace(t, '\S+', 'x', 'g'))
        |      - length(regexp_replace(t, '\S+', '', 'g')) AS w,
        |    length(regexp_replace(t, '[.!?]+', 'x', 'g'))
        |      - length(regexp_replace(t, '[.!?]+', '', 'g')) AS s,
        |    length(regexp_replace(lower(t), '[aeiouy]+', 'x', 'g'))
        |      - length(regexp_replace(lower(t), '[aeiouy]+', '', 'g')) AS y
        |  FROM b)
        |SELECT doc_id, CAST(w AS BIGINT) AS n_words,
        |  CAST(s AS BIGINT) AS n_sentences, CAST(y AS BIGINT) AS n_syllables,
        |  CASE WHEN w > 0 THEN round(206.835
        |    - 1.015 * (CAST(greatest(w, 1) AS DOUBLE)
        |               / CAST(greatest(s, 1) AS DOUBLE))
        |    - 84.6 * (CAST(y AS DOUBLE) / CAST(greatest(w, 1) AS DOUBLE)), 4)
        |  END AS flesch,
        |  CASE WHEN w > 0 THEN round(0.39 * (CAST(greatest(w, 1) AS DOUBLE)
        |               / CAST(greatest(s, 1) AS DOUBLE))
        |    + 11.8 * (CAST(y AS DOUBLE) / CAST(greatest(w, 1) AS DOUBLE))
        |    - 15.59, 4)
        |  END AS fk_grade
        |FROM c""".stripMargin),
    // is the recorded lang column trustworthy? per-source confusion grid
    // of recorded vs detected language + source purity
    Query("q331_lang_purity", (s, dir) =>
      TextStats.langPurity(t(s, dir, "documents"), "text", "lang", "source"),
      // q331: the q27 marker-score argmax replayed, then one grid +
      // null-safe agreement reduce
      s"""WITH sc AS (SELECT source, lang AS recorded_lang,
         |    $langScoreSql
         |  FROM documents WHERE text IS NOT NULL),
         |d AS (SELECT source, recorded_lang,
         |    CASE
         |      WHEN score_en >= greatest(score_en, score_de, score_es, score_fr, score_zh) THEN 'en'
         |      WHEN score_de >= greatest(score_en, score_de, score_es, score_fr, score_zh) THEN 'de'
         |      WHEN score_es >= greatest(score_en, score_de, score_es, score_fr, score_zh) THEN 'es'
         |      WHEN score_fr >= greatest(score_en, score_de, score_es, score_fr, score_zh) THEN 'fr'
         |      ELSE 'zh' END AS detected_lang
         |  FROM sc),
         |grid AS (SELECT source, recorded_lang, detected_lang,
         |    CAST(count(*) AS BIGINT) AS n FROM d GROUP BY 1, 2, 3),
         |tot AS (SELECT source, CAST(sum(n) AS BIGINT) AS t,
         |    CAST(coalesce(sum(CASE WHEN recorded_lang IS NOT DISTINCT FROM
         |      detected_lang THEN n END), 0) AS BIGINT) AS agr
         |  FROM grid GROUP BY 1)
         |SELECT g.source, g.recorded_lang, g.detected_lang, g.n,
         |  round(CAST(g.n AS DOUBLE) / CAST(t.t AS DOUBLE), 6)
         |    AS share_of_source,
         |  g.recorded_lang IS NOT DISTINCT FROM g.detected_lang AS agree,
         |  round(CAST(t.agr AS DOUBLE) / CAST(t.t AS DOUBLE), 6)
         |    AS source_purity
         |FROM grid g JOIN tot t ON g.source = t.source""".stripMargin),
    // per-doc Unicode-script composition (multilingual curation signal
    // the word-marker language ID can't give on mixed-script text)
    Query("q176_script_shares", (s, dir) =>
      graft.ops.TextStats.scriptShares(t(s, dir, "documents"), "doc_id", "text"),
      // q176: same per-class strip-and-diff counts (RE2 'g' flag), same
      // division shapes; empty docs → null shares
      """WITH c AS (SELECT doc_id, length(text) AS len,
        |  length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS c_latin,
        |  length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS c_digit,
        |  length(text) - length(regexp_replace(text, '[\x{4e00}-\x{9fff}]', '', 'g')) AS c_cjk,
        |  length(text) - length(regexp_replace(text, '[\x{0400}-\x{04ff}]', '', 'g')) AS c_cyr,
        |  length(text) - length(regexp_replace(text, '[ ]', '', 'g')) AS c_space
        |  FROM documents)
        |SELECT doc_id, CAST(coalesce(len, 0) AS BIGINT) AS n_chars,
        |  CASE WHEN len > 0 THEN round(CAST(c_latin AS DOUBLE) / len, 6) END AS latin_share,
        |  CASE WHEN len > 0 THEN round(CAST(c_digit AS DOUBLE) / len, 6) END AS digit_share,
        |  CASE WHEN len > 0 THEN round(CAST(c_cjk AS DOUBLE) / len, 6) END AS cjk_share,
        |  CASE WHEN len > 0 THEN round(CAST(c_cyr AS DOUBLE) / len, 6) END AS cyrillic_share,
        |  CASE WHEN len > 0 THEN round(CAST(c_space AS DOUBLE) / len, 6) END AS space_share,
        |  CASE WHEN len > 0 THEN round(CAST(len -
        |    (c_latin + c_digit + c_cjk + c_cyr + c_space) AS DOUBLE) / len, 6)
        |    END AS other_share
        |FROM c""".stripMargin)
  )
}
