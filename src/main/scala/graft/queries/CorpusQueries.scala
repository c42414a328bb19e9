package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkEntry.{docPostings, t}
import graft.ops.{Sampling, TextStats}

import Shared._

/** Corpus statistics and preparation over `documents` via
  * [[graft.ops.Corpus]], [[graft.ops.Chunking]] and [[graft.ops.Packing]]:
  * vocabularies, TF-IDF/BM25 retrieval, BPE, language-model statistics,
  * chunking and sequence packing. */
private[graft] object CorpusQueries {
  /** Shared DuckDB scaffolding for the BPE oracles (q215/q249): replay
    * [[graft.ops.Corpus.bpeTrain]]'s m rounds over the word-type table and
    * return (trainingCtes, nestedApplyFold, bestsFromClause). Level-unique
    * lambda names keep DuckDB scoping unambiguous. */
  private def bpeOracleParts(m: Int): (String, String, String) = {
    val w0 =
      """w0 AS (
        |  SELECT CAST(count(*) AS BIGINT) AS freq,
        |    list_transform(generate_series(1, len(w)), i -> w[i:i]) AS syms
        |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |  WHERE len(w) > 0 GROUP BY w)""".stripMargin
    val rounds = (1 to m).map { k =>
      val prev = s"w${k - 1}"
      val pair =
        s"""p$k AS (
           |  SELECT l, r, CAST(sum(freq) AS BIGINT) AS cnt FROM (
           |    SELECT freq, unnest(syms[1:len(syms) - 1]) AS l,
           |      unnest(syms[2:len(syms)]) AS r
           |    FROM $prev WHERE len(syms) >= 2)
           |  GROUP BY 1, 2),
           |best$k AS (SELECT l, r, cnt FROM p$k
           |  ORDER BY cnt DESC, l ASC, r ASC LIMIT 1)""".stripMargin
      val apply =
        if (k == m) ""
        else
          s""",
             |w$k AS (
             |  SELECT freq, list_reduce(list_transform(syms, s -> [s]),
             |    (acc, x) -> CASE WHEN acc[-1] = b.l AND x[1] = b.r
             |      THEN list_append(acc[1:len(acc) - 1], b.l || b.r)
             |      ELSE list_append(acc, x[1]) END) AS syms
             |  FROM $prev, best$k b)""".stripMargin
      pair + apply
    }
    val nested = (1 to m).foldLeft("chars") { (inner, k) =>
      s"""list_reduce(list_transform($inner, s$k -> [s$k]),
         |    (a$k, x$k) -> CASE WHEN a$k[-1] = b$k.l AND x$k[1] = b$k.r
         |      THEN list_append(a$k[1:len(a$k) - 1], b$k.l || b$k.r)
         |      ELSE list_append(a$k, x$k[1]) END)""".stripMargin
    }
    val bestsFrom = (1 to m).map(k => s"best$k b$k").mkString(", ")
    (w0 + ",\n" + rounds.mkString(",\n"), nested, bestsFrom)
  }

  /** Shared CTE chain for the TF-IDF more-like-this retrieval: per-doc
    * term weights → norms → query-side probe → cosine table, ending at
    * CTE `sc(query_id, cand_id, cos)`. q178 ranks it; q181 reranks its
    * top-k with late interaction. Also exposes `tf(doc, term, tf)`. */
  private def moreLikeThisCtes: String =
    """tf AS (SELECT doc, term, count(*) AS tf FROM
      |    (SELECT doc_id AS doc, unnest(string_split(text, ' ')) AS term
      |     FROM documents) GROUP BY 1, 2),
      |dft AS (SELECT term, count(*) AS df_docs FROM tf GROUP BY 1),
      |nn AS (SELECT count(*) AS n FROM documents),
      |w AS (SELECT doc, tf.term,
      |    CAST(tf AS DOUBLE) * (ln((CAST(n AS DOUBLE) + 1.0) /
      |      (CAST(df_docs AS DOUBLE) + 1.0)) + 1.0) AS w
      |  FROM tf JOIN dft ON tf.term = dft.term, nn
      |  WHERE CAST(df_docs AS DOUBLE) <= 1.0 * n),
      |nrm AS (SELECT doc, sqrt(sum(w * w)) AS nrm FROM w GROUP BY 1),
      |q AS (SELECT doc AS query_id, term, w AS wq FROM w
      |  WHERE doc IN (1, 2, 3, 4, 5)),
      |dots AS (SELECT q.query_id, w.doc AS cand_id, sum(q.wq * w.w) AS dot
      |  FROM q JOIN w ON q.term = w.term WHERE w.doc <> q.query_id
      |  GROUP BY 1, 2),
      |sc AS (SELECT d.query_id, d.cand_id,
      |    round(d.dot / (nq.nrm * nc.nrm), 6) AS cos
      |  FROM dots d JOIN nrm nq ON d.query_id = nq.doc
      |  JOIN nrm nc ON d.cand_id = nc.doc)""".stripMargin

  /** q123 oracle: the q86 BM25 body and the q85 hash-embed body, each
    * ranked and cut to 100, fused by `Σ 1/(60 + rank)` — the query's own
    * hash vector built from a VALUES list with the same nibble
    * arithmetic. */
  private def hybridRrfSql: String = {
    val nib9q = "(strpos('0123456789abcdef', substr(md5(CAST(tok AS VARCHAR)), 9, 1)) - 1)"
    s"""WITH dl AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
       |            FROM documents),
       |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |          CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl FROM dl),
       |qt AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM (
       |         SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
       |       WHERE term IN ('spark', 'table', 'agg') GROUP BY 1, 2),
       |dfd AS (SELECT term, CAST(count(*) AS BIGINT) AS df_docs FROM qt GROUP BY 1),
       |sc AS (SELECT q.doc_id, q.term,
       |        ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df_docs AS DOUBLE) + 0.5)
       |          / (CAST(df_docs AS DOUBLE) + 0.5))
       |         * (CAST(tf AS DOUBLE) * 2.5)
       |         / (CAST(tf AS DOUBLE) + 1.5 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl)) AS s
       |      FROM qt q JOIN dfd USING (term) JOIN dl USING (doc_id) CROSS JOIN tot),
       |ag AS (SELECT doc_id,
       |        sum(CASE WHEN term = 'spark' THEN s END) AS s0,
       |        sum(CASE WHEN term = 'table' THEN s END) AS s1,
       |        sum(CASE WHEN term = 'agg' THEN s END) AS s2
       |      FROM sc GROUP BY 1),
       |lex AS (SELECT doc_id, round(coalesce(s0, 0) + coalesce(s1, 0) + coalesce(s2, 0), 6) AS bm25
       |        FROM ag ORDER BY bm25 DESC, doc_id LIMIT 100),
       |lrank AS (SELECT doc_id,
       |    row_number() OVER (ORDER BY bm25 DESC, doc_id ASC) AS r_lex FROM lex),
       |dtok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
       |dv AS (SELECT doc_id, CAST(${md5ModSql("tok", 16)} AS INTEGER) AS dim,
       |         CAST(sum(($nib9q % 2) * 2 - 1) AS BIGINT) AS val
       |       FROM dtok GROUP BY 1, 2 HAVING sum(($nib9q % 2) * 2 - 1) <> 0),
       |qtok AS (SELECT unnest(['spark', 'table', 'agg']) AS tok),
       |qv AS (SELECT CAST(${md5ModSql("tok", 16)} AS INTEGER) AS dim,
       |         CAST(sum(($nib9q % 2) * 2 - 1) AS BIGINT) AS qval
       |       FROM qtok GROUP BY 1 HAVING sum(($nib9q % 2) * 2 - 1) <> 0),
       |qn AS (SELECT sqrt(CAST(sum(qval * qval) AS DOUBLE)) AS qnorm FROM qv),
       |dn AS (SELECT doc_id, CAST(sum(val * val) AS BIGINT) AS n2 FROM dv GROUP BY 1),
       |dd AS (SELECT dv.doc_id, CAST(sum(dv.val * qv.qval) AS BIGINT) AS dot
       |       FROM dv JOIN qv USING (dim) GROUP BY 1),
       |cosd AS (SELECT dn.doc_id,
       |    round(CAST(coalesce(dd.dot, 0) AS DOUBLE)
       |      / (sqrt(CAST(dn.n2 AS DOUBLE)) * qn.qnorm), 6) AS cos
       |  FROM dn LEFT JOIN dd USING (doc_id) CROSS JOIN qn),
       |vcut AS (SELECT doc_id, cos FROM cosd ORDER BY cos DESC, doc_id LIMIT 100),
       |vrank AS (SELECT doc_id,
       |    row_number() OVER (ORDER BY cos DESC, doc_id ASC) AS r_vec FROM vcut),
       |fused AS (
       |  SELECT coalesce(l.doc_id, v.doc_id) AS doc_id,
       |    round(coalesce(1.0 / (60 + l.r_lex), 0)
       |        + coalesce(1.0 / (60 + v.r_vec), 0), 6) AS rrf
       |  FROM lrank l FULL OUTER JOIN vrank v ON l.doc_id = v.doc_id)
       |SELECT doc_id, rrf,
       |  CAST(row_number() OVER (ORDER BY rrf DESC, doc_id ASC) AS INTEGER) AS rank
       |FROM fused
       |QUALIFY row_number() OVER (ORDER BY rrf DESC, doc_id ASC) <= 50""".stripMargin
  }

  val all: Seq[Query] = Seq(
    // packed bins materialized into training sequences (offset-ordered
    // concatenation, one row per bin)
    Query("q57_pack_materialize", (s, dir) => {
      val docs = t(s, dir, "documents")
      val counted = docs.select(col("doc_id"), col("text"),
        TextStats.bpeishTokenCount(col("text")).cast("long").as("n_tokens"))
      graft.ops.Packing.materializeBins(
        graft.ops.Packing.packGreedy(counted, "doc_id", "n_tokens", 512L, 4),
        "text")
    },
      s"""WITH counted AS (
         |  SELECT doc_id, text,
         |    CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]|[^a-zA-Z0-9 ]')) AS BIGINT) AS n_tokens
         |  FROM documents),
         |sharded AS (
         |  SELECT doc_id, text, n_tokens, CAST(${md5ModSql("doc_id", 4)} AS BIGINT) AS shard
         |  FROM counted),
         |w AS (
         |  SELECT doc_id, text, n_tokens, shard,
         |    CAST(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id) - n_tokens AS BIGINT) AS start_offset
         |  FROM sharded)
         |SELECT shard, CAST(start_offset // 512 AS BIGINT) AS bin,
         |  count(*) AS n_docs,
         |  CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens,
         |  string_agg(text, chr(10) || chr(10) ORDER BY start_offset) AS packed_text
         |FROM w GROUP BY 1, 2""".stripMargin),
    // corpus vocabulary: top-50 terms by total occurrences, with document
    // frequency — two pipelined partial aggs, TakeOrdered cut (no window)
    Query("q58_vocabulary", (s, dir) =>
      graft.ops.Corpus.vocabulary(t(s, dir, "documents"), "doc_id", "text", 50),
      """WITH dt AS (
        |  SELECT doc_id, t.term AS term, count(*) AS tf
        |  FROM documents, unnest(string_split(text, ' ')) AS t(term)
        |  GROUP BY 1, 2)
        |SELECT term, CAST(SUM(tf) AS BIGINT) AS tf, count(*) AS df_docs
        |FROM dt GROUP BY 1
        |ORDER BY 2 DESC, 1 LIMIT 50""".stripMargin),
    // overlapping token-window chunking (window 64, stride 48) — the
    // long-document complement of q56's packing; pure scan-stage explode
    Query("q59_chunking", (s, dir) =>
      graft.ops.Chunking.chunkByTokens(t(s, dir, "documents"), "doc_id", "text", 64, 48),
      """WITH d AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n, toks, unnest(generate_series(0,
        |    CASE WHEN n <= 64 THEN 0 ELSE (n - 64 + 47) // 48 END)) AS chunk_id
        |  FROM d)
        |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
        |  array_to_string(toks[chunk_id*48 + 1 : chunk_id*48 + 64], ' ') AS chunk_text,
        |  CAST(least(64, n - chunk_id*48) AS BIGINT) AS n_chunk_tokens
        |FROM c""".stripMargin),
    // per-document top-3 TF-IDF terms (raw-ratio idf: engine-exact IEEE
    // division, no libm log — see Corpus scaladoc)
    Query("q60_tfidf_topterms", (s, dir) =>
      graft.ops.Corpus.tfidfTopTerms(t(s, dir, "documents"), "doc_id", "text", 3),
      """WITH dt AS (
        |  SELECT doc_id, t.term AS term, CAST(count(*) AS BIGINT) AS tf
        |  FROM documents, unnest(string_split(text, ' ')) AS t(term)
        |  GROUP BY 1, 2),
        |tdf AS (SELECT term, count(*) AS df_docs FROM dt GROUP BY 1),
        |nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents)
        |SELECT dt.doc_id, dt.term, dt.tf, tdf.df_docs,
        |  CAST(dt.tf AS DOUBLE) * CAST(nd.n_docs AS DOUBLE)
        |    / CAST(tdf.df_docs AS DOUBLE) AS tfidf,
        |  CAST(row_number() OVER (PARTITION BY dt.doc_id
        |    ORDER BY CAST(dt.tf AS DOUBLE) * CAST(nd.n_docs AS DOUBLE)
        |      / CAST(tdf.df_docs AS DOUBLE) DESC, dt.term) AS BIGINT) AS rk
        |FROM dt JOIN tdf USING (term), nd
        |QUALIFY rk <= 3""".stripMargin),
    // incremental vocabulary maintenance: per-half term stats merged by
    // summation, then cut — must equal the direct q58 vocabulary
    Query("q72_vocab_merge", (s, dir) => {
      val docs = t(s, dir, "documents")
      val half1 = docs.where(Sampling.md5Bucket(col("doc_id")) < 50)
      val half2 = docs.where(Sampling.md5Bucket(col("doc_id")) >= 50)
      graft.ops.Corpus.topTerms(
        graft.ops.Corpus.mergeTermStats(
          graft.ops.Corpus.termStats(half1, "doc_id", "text"),
          graft.ops.Corpus.termStats(half2, "doc_id", "text")), 50)
    },
      // q72 must equal the direct q58 vocabulary — the merge is exact, so
      // the oracle is q58's own SQL
      """WITH dt AS (
        |  SELECT doc_id, t.term AS term, count(*) AS tf
        |  FROM documents, unnest(string_split(text, ' ')) AS t(term)
        |  GROUP BY 1, 2)
        |SELECT term, CAST(SUM(tf) AS BIGINT) AS tf, count(*) AS df_docs
        |FROM dt GROUP BY 1
        |ORDER BY 2 DESC, 1 LIMIT 50""".stripMargin),
    // unigram-LM familiarity score + OOV rate — the no-model perplexity
    // proxy; integer sums + one division, engine-exact
    Query("q79_lm_familiarity", (s, dir) =>
      graft.ops.Corpus.familiarity(t(s, dir, "documents"), "doc_id", "text", 40),
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |stats AS (SELECT term, count(*) AS tf FROM toks GROUP BY 1),
        |vocab AS (SELECT term FROM stats ORDER BY tf DESC, term LIMIT 40),
        |j AS (SELECT t.doc_id, s.tf, v.term IS NOT NULL AS iv
        |      FROM toks t JOIN stats s USING (term) LEFT JOIN vocab v USING (term))
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(sum(tf) AS BIGINT) AS familiar_sum,
        |  CAST(sum(tf) AS DOUBLE) / count(*) AS familiarity,
        |  CAST(count(*) - sum(CASE WHEN iv THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS oov_rate
        |FROM j GROUP BY 1""".stripMargin),
    // one BPE merge-candidate step: adjacent-pair counts, top-200 cut
    Query("q80_bpe_pairs", (s, dir) =>
      graft.ops.Corpus.bpePairCounts(t(s, dir, "documents"), "text", 200),
      """WITH t AS (SELECT string_split(text, ' ') AS ts FROM documents),
        |p AS (SELECT unnest(list_transform(generate_series(1, len(ts) - 1),
        |        i -> ts[i] || ' ' || ts[i + 1])) AS pair
        |      FROM t WHERE len(ts) >= 2)
        |SELECT pair, CAST(count(*) AS BIGINT) AS n
        |FROM p GROUP BY 1 ORDER BY n DESC, pair LIMIT 200""".stripMargin),
    // inverted index: df + first-20 postings per term, exploded layout
    Query("q81_inverted_index", (s, dir) =>
      graft.ops.Corpus.invertedIndex(t(s, dir, "documents"), "doc_id", "text", 20),
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |dt AS (SELECT DISTINCT doc_id, term FROM tok),
        |d AS (SELECT term, CAST(count(*) AS BIGINT) AS df_docs FROM dt GROUP BY 1),
        |r AS (SELECT term, doc_id,
        |        CAST(row_number() OVER (PARTITION BY term ORDER BY doc_id) AS BIGINT) AS slot
        |      FROM dt)
        |SELECT r.term, d.df_docs, r.slot, r.doc_id
        |FROM r JOIN d USING (term) WHERE r.slot <= 20""".stripMargin),
    // ±2-token co-occurrence with PMI-style lift (ratio form, engine-exact)
    Query("q84_cooccurrence", (s, dir) =>
      graft.ops.Corpus.cooccurrence(t(s, dir, "documents"), "text", 2, 300),
      """WITH t AS (SELECT string_split(text, ' ') AS ts FROM documents),
        |pr AS (SELECT unnest(flatten(list_transform(generate_series(1, len(ts) - 1),
        |        i -> list_transform(generate_series(i + 1, least(i + 2, len(ts))),
        |        j -> CASE WHEN ts[i] <= ts[j] THEN ts[i] || ' ' || ts[j]
        |                  ELSE ts[j] || ' ' || ts[i] END)))) AS pair
        |      FROM t WHERE len(ts) >= 2),
        |pc AS (SELECT pair, CAST(count(*) AS BIGINT) AS n_ab FROM pr GROUP BY 1),
        |tok AS (SELECT unnest(string_split(text, ' ')) AS term FROM documents),
        |tc AS (SELECT term, CAST(count(*) AS BIGINT) AS n FROM tok GROUP BY 1),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM tok)
        |SELECT split_part(pair, ' ', 1) AS term_a, split_part(pair, ' ', 2) AS term_b,
        |  n_ab, a.n AS n_a, b.n AS n_b,
        |  CAST(n_ab AS DOUBLE) * CAST(n_total AS DOUBLE)
        |    / (CAST(a.n AS DOUBLE) * CAST(b.n AS DOUBLE)) AS lift
        |FROM pc JOIN tc a ON split_part(pair, ' ', 1) = a.term
        |JOIN tc b ON split_part(pair, ' ', 2) = b.term
        |CROSS JOIN tot
        |ORDER BY n_ab DESC, term_a, term_b LIMIT 300""".stripMargin),
    // BM25 corpus ranking against a fixed query (k1/b chosen exactly
    // float-representable so every constant is bit-identical cross-engine)
    Query("q86_bm25", (s, dir) =>
      graft.ops.Corpus.bm25(t(s, dir, "documents"), "doc_id", "text",
        Seq("spark", "table", "agg"), 1.5, 0.75, 50),
      """WITH dl AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
        |            FROM documents),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |          CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl FROM dl),
        |qt AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM (
        |         SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
        |       WHERE term IN ('spark', 'table', 'agg') GROUP BY 1, 2),
        |dfd AS (SELECT term, CAST(count(*) AS BIGINT) AS df_docs FROM qt GROUP BY 1),
        |sc AS (SELECT q.doc_id, q.term,
        |        ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df_docs AS DOUBLE) + 0.5)
        |          / (CAST(df_docs AS DOUBLE) + 0.5))
        |         * (CAST(tf AS DOUBLE) * 2.5)
        |         / (CAST(tf AS DOUBLE) + 1.5 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl)) AS s
        |      FROM qt q JOIN dfd USING (term) JOIN dl USING (doc_id) CROSS JOIN tot),
        |ag AS (SELECT doc_id,
        |        sum(CASE WHEN term = 'spark' THEN s END) AS s0,
        |        sum(CASE WHEN term = 'table' THEN s END) AS s1,
        |        sum(CASE WHEN term = 'agg' THEN s END) AS s2
        |      FROM sc GROUP BY 1)
        |SELECT doc_id, round(coalesce(s0, 0) + coalesce(s1, 0) + coalesce(s2, 0), 6) AS bm25
        |FROM ag ORDER BY bm25 DESC, doc_id LIMIT 50""".stripMargin),
    // hybrid retrieval: BM25 lexical ranks fused with hash-embedding
    // cosine ranks by RRF — rank-only fusion, engine-exact
    Query("q123_hybrid_rrf", (s, dir) =>
      graft.ops.Corpus.hybridRrf(t(s, dir, "documents"), "doc_id", "text",
        Seq("spark", "table", "agg"), 16, 100, 60, 50),
      hybridRrfSql),
    // Hill tail-index of the token-frequency distribution (corpus-health
    // scalar; template spam drives alpha toward 1)
    Query("q148_zipf_alpha", (s, dir) =>
      graft.ops.Corpus.zipfAlpha(t(s, dir, "documents"), "doc_id", "text", 5L),
      // q148: Hill estimator over the tf >= 5 tail, continuity-corrected
      """WITH dt AS (
        |  SELECT doc_id, t.term AS term, count(*) AS tf
        |  FROM documents, unnest(string_split(text, ' ')) AS t(term)
        |  GROUP BY 1, 2),
        |ts AS (SELECT term, CAST(SUM(tf) AS BIGINT) AS tf FROM dt GROUP BY 1)
        |SELECT CAST(count(*) AS BIGINT) AS n_tail_terms,
        |  round(1.0 + count(*) / sum(ln(tf / 4.5)), 6) AS alpha
        |FROM ts WHERE tf >= 5""".stripMargin),
    // frequency-ordered term dictionary (string-indexer ids, 1 = most
    // frequent) via the range-exchange global rank
    Query("q150_term_ids", (s, dir) =>
      graft.ops.Corpus.termIds(t(s, dir, "documents"), "doc_id", "text", 2L),
      // q150: row_number over (tf DESC, term) = the range-exchange rank
      """WITH dt AS (
        |  SELECT doc_id, t.term AS term, count(*) AS tf
        |  FROM documents, unnest(string_split(text, ' ')) AS t(term)
        |  GROUP BY 1, 2),
        |ts AS (SELECT term, CAST(SUM(tf) AS BIGINT) AS tf,
        |         count(*) AS df_docs FROM dt GROUP BY 1)
        |SELECT term, tf, df_docs,
        |  row_number() OVER (ORDER BY tf DESC, term) AS term_id
        |FROM ts WHERE tf >= 2""".stripMargin),
    // padding-bucket cost mart: power-of-two buckets, padded-token waste
    Query("q151_padding_buckets", (s, dir) =>
      graft.ops.Packing.paddingBuckets(t(s, dir, "documents"), "text"),
      // q151: smallest power-of-two bucket per doc, aggregated waste
      """WITH t AS (SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n
        |           FROM documents),
        |b AS (SELECT n, CAST(pow(2, ceil(log2(n))) AS BIGINT) AS bucket FROM t)
        |SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n) AS BIGINT) AS sum_tokens,
        |  CAST(bucket * count(*) AS BIGINT) AS padded_tokens,
        |  round(1.0 - sum(n) / CAST(bucket * count(*) AS DOUBLE), 6) AS waste_ratio
        |FROM b GROUP BY 1""".stripMargin),
    // per-source KL from the corpus term distribution (add-one smoothed
    // over the global vocabulary — a true KL, absences included)
    Query("q165_source_divergence", (s, dir) =>
      graft.ops.Corpus.sourceDivergence(t(s, dir, "documents"), "text", "source"),
      // q165: identical smoothing arithmetic over the same V×S grid
      """WITH tok AS (
        |  SELECT source, unnest(string_split(text, ' ')) AS term FROM documents),
        |st AS (SELECT source, term, count(*) AS tf_s FROM tok GROUP BY 1, 2),
        |g AS (SELECT term, CAST(sum(tf_s) AS BIGINT) AS tf_g FROM st GROUP BY 1),
        |tot AS (SELECT source, CAST(sum(tf_s) AS BIGINT) AS n_s FROM st GROUP BY 1),
        |gt AS (SELECT CAST(count(*) AS BIGINT) AS v,
        |  CAST(sum(tf_g) AS BIGINT) AS n_g FROM g),
        |grid AS (
        |  SELECT tot.source, g.term, g.tf_g, tot.n_s, st.tf_s
        |  FROM g CROSS JOIN tot
        |  LEFT JOIN st ON st.source = tot.source AND st.term = g.term)
        |SELECT source, CAST(max(n_s) AS BIGINT) AS n_tokens,
        |  round(sum(
        |    ((coalesce(tf_s, 0) + 1) / CAST(n_s + v AS DOUBLE)) *
        |    ln(((coalesce(tf_s, 0) + 1) / CAST(n_s + v AS DOUBLE)) /
        |       ((tf_g + 1) / CAST(n_g + v AS DOUBLE)))), 6) AS kl
        |FROM grid, gt GROUP BY 1""".stripMargin),
    // per-doc bigram surprisal under the corpus's own add-one LM
    // (perplexity-proxy quality filtering without an external model)
    Query("q166_bigram_surprisal", (s, dir) =>
      graft.ops.Corpus.bigramSurprisal(t(s, dir, "documents"), "doc_id", "text"),
      // q166: q80's pair stream + add-one bigram surprisal per doc
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        |p AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(ts) - 1),
        |        i -> ts[i] || ' ' || ts[i + 1])) AS pair
        |      FROM t WHERE len(ts) >= 2),
        |pc AS (SELECT pair, count(*) AS c_pair FROM p GROUP BY 1),
        |tok AS (SELECT unnest(string_split(text, ' ')) AS term FROM documents),
        |c1 AS (SELECT term, count(*) AS c_w1 FROM tok GROUP BY 1),
        |vv AS (SELECT CAST(count(*) AS BIGINT) AS v FROM c1),
        |s AS (SELECT pc.pair, pc.c_pair, c1.c_w1
        |      FROM pc JOIN c1 ON string_split(pc.pair, ' ')[1] = c1.term)
        |SELECT p.doc_id, CAST(count(*) AS BIGINT) AS n_pairs,
        |  round(avg(-ln((s.c_pair + 1) / CAST(s.c_w1 + vv.v AS DOUBLE))), 6)
        |    AS surprisal
        |FROM p JOIN s ON p.pair = s.pair, vv GROUP BY 1""".stripMargin),
    // retrieval-eval metrics over a deterministic ranked run: each user's
    // events ranked by value (the "ranker"), purchases grade 2 and
    // clicks grade 1 (the "judgments"); metrics at k = 5
    Query("q137_ranking_metrics", (s, dir) => {
      val runs = t(s, dir, "events")
        .withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("user_id"))
            .orderBy(col("value").desc, col("event_id"))))
        .withColumn("rel",
          when(col("event_type") === "purchase", 2)
            .when(col("event_type") === "click", 1).otherwise(0))
      graft.ops.Corpus.rankingMetrics(runs, "user_id", "rank", "rel", 5)
    },
      // q137: same run + judgments in SQL; DCG and ideal DCG rounded at
      // 6 dp before the ratio, mirroring the Spark side exactly
      """WITH runs AS (
        |  SELECT user_id, event_id,
        |    row_number() OVER (PARTITION BY user_id
        |                       ORDER BY value DESC NULLS LAST, event_id) AS rank,
        |    CASE WHEN event_type = 'purchase' THEN 2
        |         WHEN event_type = 'click' THEN 1 ELSE 0 END AS rel
        |  FROM events),
        |ir AS (
        |  SELECT *, row_number() OVER (PARTITION BY user_id
        |                               ORDER BY rel DESC, rank) AS ideal
        |  FROM runs)
        |SELECT user_id,
        |  CAST(count(*) AS BIGINT) AS n_results,
        |  CAST(count(*) FILTER (rel > 0) AS BIGINT) AS n_rel,
        |  CASE WHEN count(*) FILTER (rel > 0) = 0 THEN 0.0
        |       ELSE CAST(1.0 AS DOUBLE) / min(rank) FILTER (rel > 0)
        |       END AS reciprocal_rank,
        |  CAST(count(*) FILTER (rel > 0 AND rank <= 5) AS DOUBLE) / 5 AS precision_at_k,
        |  CASE WHEN count(*) FILTER (rel > 0) = 0 THEN 0.0
        |       ELSE CAST(count(*) FILTER (rel > 0 AND rank <= 5) AS DOUBLE)
        |            / count(*) FILTER (rel > 0) END AS recall_at_k,
        |  CASE WHEN count(*) FILTER (rel > 0) = 0 THEN 0.0
        |       ELSE round(
        |         round(sum(CASE WHEN rank <= 5
        |                        THEN CAST(rel AS DOUBLE) / log2(rank + 1.0)
        |                        ELSE 0.0 END), 6)
        |         / round(sum(CASE WHEN ideal <= 5
        |                          THEN CAST(rel AS DOUBLE) / log2(ideal + 1.0)
        |                          ELSE 0.0 END), 6), 6) END AS ndcg_at_k
        |FROM ir GROUP BY user_id""".stripMargin),
    // sorted ("smart") batching cost table: length-ordered batches of 32
    // docs, each padded to its own max — near-zero waste off boundaries
    Query("q194_sorted_batches", (s, dir) =>
      graft.ops.Packing.sortedBatches(
        t(s, dir, "documents").select("doc_id", "text"), "doc_id", "text", 32),
      // q194: the same (tokens, id) total order, integer-div batch cut,
      // per-batch max padding arithmetic
      """WITH t AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT)
        |    AS n FROM documents),
        |r AS (SELECT *, row_number() OVER (ORDER BY n ASC, doc_id ASC) AS rk
        |  FROM t),
        |b AS (SELECT (rk - 1) // 32 AS batch_id, n FROM r)
        |SELECT CAST(batch_id AS BIGINT) AS batch_id,
        |  count(*) AS n_docs, max(n) AS max_tokens,
        |  CAST(sum(n) AS BIGINT) AS sum_tokens,
        |  max(n) * count(*) AS padded_tokens,
        |  round(1.0 - CAST(sum(n) AS BIGINT) /
        |    CAST(max(n) * count(*) AS DOUBLE), 6) AS waste_ratio
        |FROM b GROUP BY 1""".stripMargin),
    // per-source bigram entropy/perplexity: the synthetic-data diversity
    // gauge (template expansion craters it before dedup notices)
    Query("q195_bigram_entropy", (s, dir) =>
      graft.ops.Corpus.bigramEntropy(t(s, dir, "documents"), "source", "text"),
      """WITH t AS (SELECT source, string_split(text, ' ') AS ts FROM documents),
        |p AS (SELECT source, unnest(list_transform(
        |    generate_series(1, len(ts) - 1), i -> ts[i] || ' ' || ts[i + 1]))
        |    AS pair
        |  FROM t WHERE len(ts) >= 2),
        |pc AS (SELECT source, pair, count(*) AS c FROM p GROUP BY 1, 2),
        |tot AS (SELECT source, CAST(sum(c) AS BIGINT) AS n FROM pc GROUP BY 1),
        |e AS (SELECT pc.source, CAST(max(tot.n) AS BIGINT) AS n_bigrams,
        |    CAST(count(*) AS BIGINT) AS distinct_bigrams,
        |    round(-sum((CAST(c AS DOUBLE) / CAST(tot.n AS DOUBLE)) *
        |      ln(CAST(c AS DOUBLE) / CAST(tot.n AS DOUBLE))), 6) AS entropy
        |  FROM pc JOIN tot ON pc.source = tot.source GROUP BY 1)
        |SELECT source, n_bigrams, distinct_bigrams, entropy,
        |  round(exp(entropy), 6) AS perplexity
        |FROM e""".stripMargin),
    // term burstiness: VMR of per-doc tf among containing docs — content
    // words clump, function/template words spread Poisson-ish
    Query("q192_term_burstiness", (s, dir) =>
      graft.ops.Corpus.termBurstiness(t(s, dir, "documents"), "doc_id", "text", 5),
      // q192: exact integer power sums, identical division shapes
      """WITH pd AS (SELECT doc_id, term, count(*) AS tf FROM
        |    (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |     FROM documents) GROUP BY 1, 2)
        |SELECT term, CAST(count(*) AS BIGINT) AS df_docs,
        |  CAST(sum(tf) AS BIGINT) AS total_tf,
        |  round(CAST(sum(tf) AS DOUBLE) / count(*), 6) AS mean_tf,
        |  round((CAST(sum(tf * tf) AS DOUBLE) / count(*)
        |    - (CAST(sum(tf) AS DOUBLE) / count(*))
        |      * (CAST(sum(tf) AS DOUBLE) / count(*)))
        |    / (CAST(sum(tf) AS DOUBLE) / count(*)), 6) AS vmr
        |FROM pd GROUP BY 1 HAVING count(*) >= 5""".stripMargin),
    // chi-squared term-label association over q170's contingency grid:
    // the second filter-feature-selection score (rare-but-exclusive
    // terms weight harder than under MI)
    Query("q234_chi2_terms", (s, dir) =>
      graft.ops.Corpus.termLabelChi2(t(s, dir, "documents"), "text", "lang", 5),
      // q234: q170's grid with the chi² cells — identical left-to-right
      // IEEE multiply/divide shapes; zero-expectation cells contribute 0
      """WITH raw AS (SELECT doc_id, lang AS label,
        |    unnest(string_split(text, ' ')) AS term FROM documents),
        |dt AS (SELECT DISTINCT doc_id, label, term FROM raw),
        |tl AS (SELECT term, label, count(*) AS n_tl FROM dt GROUP BY 1, 2),
        |lab AS (SELECT lang AS label, count(*) AS n_l FROM documents GROUP BY 1),
        |nn AS (SELECT count(*) AS n FROM documents),
        |nt AS (SELECT term, CAST(sum(n_tl) AS BIGINT) AS n_t FROM tl
        |  GROUP BY 1 HAVING CAST(sum(n_tl) AS BIGINT) >= 5),
        |grid AS (SELECT nt.term, nt.n_t, lab.label, lab.n_l,
        |    coalesce(tl.n_tl, 0) AS n_tl
        |  FROM nt CROSS JOIN lab
        |  LEFT JOIN tl ON tl.term = nt.term
        |    AND tl.label IS NOT DISTINCT FROM lab.label),
        |c AS (SELECT term, n_t,
        |    CAST(n_t AS DOUBLE) * CAST(n_l AS DOUBLE) / CAST(n AS DOUBLE)
        |      AS e11,
        |    (CAST(n AS DOUBLE) - CAST(n_t AS DOUBLE)) * CAST(n_l AS DOUBLE)
        |      / CAST(n AS DOUBLE) AS e01,
        |    CAST(n_tl AS DOUBLE) AS o11,
        |    CAST(n_l AS DOUBLE) - CAST(n_tl AS DOUBLE) AS o01
        |  FROM grid, nn)
        |SELECT term, CAST(max(n_t) AS BIGINT) AS df_docs,
        |  round(sum(
        |    CASE WHEN e11 > 0 THEN (o11 - e11) * (o11 - e11) / e11
        |         ELSE 0.0 END
        |    + CASE WHEN e01 > 0 THEN (o01 - e01) * (o01 - e01) / e01
        |           ELSE 0.0 END), 6) AS chi2
        |FROM c GROUP BY 1""".stripMargin),
    // interpolated Kneser-Ney bigram LM over the corpus's own counts:
    // continuation-count smoothing, top-50 bigrams by count
    Query("q244_kneser_ney", (s, dir) =>
      graft.ops.Corpus.kneserNeyBigrams(t(s, dir, "documents"), "text", 50),
      // q244: counts from the same single-space pair stream as q166;
      // the KN formula mirrored operation-for-operation at 6 dp
      """WITH t AS (SELECT string_split(text, ' ') AS ts FROM documents),
        |p AS (SELECT unnest(list_transform(generate_series(1, len(ts) - 1),
        |        i -> ts[i] || ' ' || ts[i + 1])) AS pair
        |      FROM t WHERE len(ts) >= 2),
        |pc AS (SELECT pair, count(*) AS c_pair,
        |    string_split(pair, ' ')[1] AS w1, string_split(pair, ' ')[2] AS w2
        |  FROM p GROUP BY 1),
        |l AS (SELECT w1, sum(c_pair) AS c_w1, count(*) AS n_follow
        |  FROM pc GROUP BY 1),
        |r AS (SELECT w2, count(*) AS n_precede FROM pc GROUP BY 1),
        |b AS (SELECT CAST(count(*) AS BIGINT) AS bt FROM pc)
        |SELECT pair, CAST(c_pair AS BIGINT) AS c_pair,
        |  CAST(n_follow AS BIGINT) AS n_follow,
        |  CAST(n_precede AS BIGINT) AS n_precede,
        |  round((greatest(CAST(c_pair AS DOUBLE) - 0.75, 0.0)
        |    + 0.75 * CAST(n_follow AS DOUBLE)
        |      * (CAST(n_precede AS DOUBLE) / CAST(bt AS DOUBLE)))
        |    / CAST(c_w1 AS DOUBLE), 6) AS p_kn
        |FROM pc JOIN l USING (w1) JOIN r USING (w2), b
        |QUALIFY row_number() OVER (ORDER BY c_pair DESC, pair) <= 50""".stripMargin),
    // tokenizer losslessness: q215's learned merges must concatenate
    // back to every original word - the oracle RE-DERIVES each token
    // list through the same five replayed training rounds
    Query("q249_bpe_roundtrip", (s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = graft.ops.Corpus.bpeTrain(docs, "text", 5)
        .orderBy("step").select("left", "right")
        .collect().map(r => (r.getString(0), r.getString(1))).toSeq
      graft.ops.Corpus.bpeRoundTrip(docs, "doc_id", "text", merges)
    },
      // q249: the round-trip check re-derived end to end - same training
      // replay as q215, then array_to_string(tokens) compared to the word
      {
      val (ctes, nested, bestsFrom) = bpeOracleParts(5)
      s"""WITH $ctes,
         |wd AS (
         |  SELECT doc_id, w,
         |    list_transform(generate_series(1, len(w)), i -> w[i:i]) AS chars
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
         |        FROM documents) WHERE len(w) > 0),
         |tok AS (
         |  SELECT doc_id,
         |    CASE WHEN array_to_string($nested, '') = w THEN 1 ELSE 0 END AS ok
         |  FROM wd, $bestsFrom)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
         |  CAST(sum(ok) AS BIGINT) AS n_ok,
         |  count(*) = sum(ok) AS all_ok
         |FROM tok GROUP BY 1""".stripMargin
    }),
    // tokenizer-budget design curve: token coverage and OOV rate at each
    // candidate vocab size, off one corpus scan + the bounded vocab rank
    Query("q264_vocab_coverage", (s, dir) =>
      graft.ops.Corpus.vocabCoverage(t(s, dir, "documents"), "doc_id",
        "text", Seq(100, 500, 1000, 2000, 4000)),
      // q264: q150's ranked dictionary, a sizes VALUES grid theta-joined on
      // term_id <= vocab_size, coverage as one double division of exact sums
      """WITH dt AS (
        |  SELECT doc_id, t.term AS term, count(*) AS tf
        |  FROM documents, unnest(string_split(text, ' ')) AS t(term)
        |  GROUP BY 1, 2),
        |ts AS (SELECT term, CAST(sum(tf) AS BIGINT) AS tf FROM dt GROUP BY 1),
        |r AS (SELECT term, tf,
        |    row_number() OVER (ORDER BY tf DESC, term) AS term_id FROM ts),
        |tot AS (SELECT CAST(sum(tf) AS BIGINT) AS total_tokens FROM ts),
        |sizes(vocab_size) AS (VALUES (100), (500), (1000), (2000), (4000))
        |SELECT s.vocab_size,
        |  CAST(coalesce(sum(r.tf), 0) AS BIGINT) AS covered_tokens,
        |  (SELECT total_tokens FROM tot) AS total_tokens,
        |  round(CAST(coalesce(sum(r.tf), 0) AS DOUBLE)
        |    / CAST((SELECT total_tokens FROM tot) AS DOUBLE), 6) AS coverage,
        |  round(CAST((SELECT total_tokens FROM tot) - coalesce(sum(r.tf), 0)
        |      AS DOUBLE)
        |    / CAST((SELECT total_tokens FROM tot) AS DOUBLE), 6) AS oov_rate
        |FROM sizes s LEFT JOIN r ON r.term_id <= s.vocab_size
        |GROUP BY 1""".stripMargin),
    // corpus-planning pair to q264: Chao1 richness floor + Good-Turing
    // unseen mass off one frequency-of-frequencies reduce
    Query("q266_vocab_richness", (s, dir) =>
      graft.ops.Corpus.vocabRichness(t(s, dir, "documents"), "doc_id",
        "text"),
      // q266: frequency-of-frequencies off q150's term stats; chao1 and
      // Good-Turing mass as single divisions of exact integer sums
      """WITH dt AS (
        |  SELECT doc_id, t.term AS term, count(*) AS tf
        |  FROM documents, unnest(string_split(text, ' ')) AS t(term)
        |  GROUP BY 1, 2),
        |ts AS (SELECT term, CAST(sum(tf) AS BIGINT) AS tf FROM dt GROUP BY 1),
        |sel AS (
        |  SELECT CAST(count(*) AS BIGINT) AS vocab_size,
        |    CAST(sum(tf) AS BIGINT) AS total_tokens,
        |    CAST(sum(CASE WHEN tf = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
        |    CAST(sum(CASE WHEN tf = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
        |  FROM ts)
        |SELECT vocab_size, total_tokens, f1, f2,
        |  round(CAST(vocab_size AS DOUBLE)
        |    + CAST(f1 * (f1 - 1) AS DOUBLE)
        |      / (2.0 * CAST(f2 + 1 AS DOUBLE)), 6) AS chao1,
        |  round(CAST(f1 AS DOUBLE) / CAST(total_tokens AS DOUBLE), 6)
        |    AS gt_unseen_mass
        |FROM sel""".stripMargin),
    // context-length design curve: docs cut and tokens lost at each
    // candidate window - one scan, exact integer sums
    Query("q270_truncation_loss", (s, dir) =>
      graft.ops.Chunking.truncationLoss(t(s, dir, "documents"), "doc_id",
        "text", Seq(128, 256, 512, 1024, 2048)),
      // q270: one pass over doc lengths, conditional sums per grid length
      """WITH d AS (
        |  SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n
        |  FROM documents),
        |tot AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(n) AS BIGINT) AS total_tokens
        |  FROM d),
        |g AS (SELECT unnest([128, 256, 512, 1024, 2048]) AS context_len),
        |a AS (
        |  SELECT g.context_len,
        |    CAST(sum(CASE WHEN d.n > g.context_len THEN 1 ELSE 0 END)
        |      AS BIGINT) AS docs_truncated,
        |    CAST(sum(CASE WHEN d.n > g.context_len THEN d.n - g.context_len
        |      ELSE 0 END) AS BIGINT) AS tokens_lost
        |  FROM g, d GROUP BY 1)
        |SELECT a.context_len, tot.n_docs, a.docs_truncated,
        |  round(CAST(a.docs_truncated AS DOUBLE) / CAST(tot.n_docs AS DOUBLE),
        |    6) AS pct_docs_truncated,
        |  tot.total_tokens, a.tokens_lost,
        |  round(CAST(a.tokens_lost AS DOUBLE) / CAST(tot.total_tokens
        |    AS DOUBLE), 6) AS pct_tokens_lost
        |FROM a, tot WHERE tot.n_docs > 0""".stripMargin),
    // vocabulary-growth planning: Heaps' V(n)=K*n^beta over 8 corpus
    // checkpoints - "what does 10x more data buy the tokenizer?"
    Query("q306_heaps_law", (s, dir) =>
      graft.ops.Corpus.heapsLaw(t(s, dir, "documents"), "doc_id", "text", 8),
      // q306: row_number doc ranks, exact integer checkpoint buckets,
      // first-occurrence bucket per term, micro-snapped log-log OLS
      """WITH ranked AS (
        |  SELECT text, row_number() OVER (ORDER BY doc_id) AS r,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok
        |  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL),
        |meta AS (
        |  SELECT d, least(8, d) AS cp
        |  FROM (SELECT max(r) AS d FROM ranked)),
        |b AS (
        |  SELECT ranked.*, ((r * cp + d - 1) // d) AS j
        |  FROM ranked, meta),
        |pb AS (
        |  SELECT j, CAST(count(*) AS BIGINT) AS docs,
        |    CAST(sum(ntok) AS BIGINT) AS toks
        |  FROM b GROUP BY 1),
        |fb AS (
        |  SELECT j, CAST(count(*) AS BIGINT) AS newterms FROM (
        |    SELECT term, min(j) AS j FROM (
        |      SELECT j, unnest(string_split(text, ' ')) AS term FROM b)
        |    GROUP BY 1)
        |  GROUP BY 1),
        |pts AS (
        |  SELECT pb.j AS ckpt,
        |    CAST(sum(docs) OVER (ORDER BY pb.j) AS BIGINT) AS n_docs,
        |    CAST(sum(toks) OVER (ORDER BY pb.j) AS BIGINT) AS n_tokens,
        |    CAST(sum(coalesce(newterms, 0)) OVER (ORDER BY pb.j)
        |      AS BIGINT) AS vocab
        |  FROM pb LEFT JOIN fb ON pb.j = fb.j),
        |xy AS (
        |  SELECT
        |    CAST(round(ln(CAST(n_tokens AS DOUBLE)) * 1000000.0)
        |      AS BIGINT) AS x,
        |    CAST(round(ln(CAST(vocab AS DOUBLE)) * 1000000.0)
        |      AS BIGINT) AS y
        |  FROM pts WHERE n_tokens > 0 AND vocab > 0),
        |f AS (
        |  SELECT CAST(count(*) AS BIGINT) AS k,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x * y) AS BIGINT) AS sxy,
        |    CAST(sum(x * x) AS BIGINT) AS sxx
        |  FROM xy),
        |fit AS (
        |  SELECT k,
        |    CAST(k AS DOUBLE) * CAST(sxy AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS num,
        |    CAST(k AS DOUBLE) * CAST(sxx AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS den,
        |    CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
        |    CAST(k AS DOUBLE) AS kd
        |  FROM f)
        |SELECT ckpt, n_docs, n_tokens, vocab,
        |  CASE WHEN k >= 2 AND den > 0 THEN round(num / den, 6) END AS beta,
        |  CASE WHEN k >= 2 AND den > 0 THEN
        |    round(exp((syd - (num / den) * sxd) / kd / 1000000.0), 6)
        |  END AS k_coef
        |FROM pts, fit""".stripMargin),
    // stylometry drift: Burrows' Delta over the top-50 terms - which
    // source writes furthest from the house style
    Query("q316_burrows_delta", (s, dir) =>
      graft.ops.Corpus.burrowsDelta(
        t(s, dir, "documents"), "doc_id", "text", "source", 50),
      // q316: micro-snapped relative frequencies, exact per-term panel
      // moments in term windows, |z| micro-snapped before the group mean
      """WITH toks AS (
        |  SELECT source AS g, unnest(string_split(text, ' ')) AS term
        |  FROM documents WHERE text IS NOT NULL),
        |gt AS (SELECT g, term, CAST(count(*) AS BIGINT) AS c
        |  FROM toks GROUP BY 1, 2),
        |vocab AS (SELECT term FROM (
        |    SELECT term, sum(c) AS tf FROM gt GROUP BY 1)
        |  ORDER BY tf DESC, term LIMIT 50),
        |grp AS (SELECT g, CAST(sum(c) AS BIGINT) AS ntok
        |  FROM gt GROUP BY 1),
        |panel AS (
        |  SELECT grp.g, vocab.term, grp.ntok, coalesce(gt.c, 0) AS c
        |  FROM grp CROSS JOIN vocab
        |  LEFT JOIN gt ON gt.g IS NOT DISTINCT FROM grp.g
        |    AND gt.term = vocab.term),
        |fmp AS (
        |  SELECT g, term,
        |    CAST(round(CAST(c AS DOUBLE) / CAST(ntok AS DOUBLE)
        |      * 1000000.0) AS BIGINT) AS fm
        |  FROM panel),
        |st AS (
        |  SELECT g, term, fm,
        |    CAST(count(*) OVER (PARTITION BY term) AS BIGINT) AS k,
        |    CAST(sum(fm) OVER (PARTITION BY term) AS BIGINT) AS sf,
        |    CAST(sum(fm * fm) OVER (PARTITION BY term) AS BIGINT) AS sf2
        |  FROM fmp),
        |zz AS (
        |  SELECT g,
        |    CAST(round(abs((CAST(fm AS DOUBLE)
        |        - CAST(sf AS DOUBLE) / CAST(k AS DOUBLE))
        |      / sqrt(CAST(sf2 AS DOUBLE) / CAST(k AS DOUBLE)
        |        - (CAST(sf AS DOUBLE) / CAST(k AS DOUBLE))
        |          * (CAST(sf AS DOUBLE) / CAST(k AS DOUBLE))))
        |      * 1000000.0) AS BIGINT) AS zm
        |  FROM st
        |  WHERE CAST(sf2 AS DOUBLE) * CAST(k AS DOUBLE)
        |    > CAST(sf AS DOUBLE) * CAST(sf AS DOUBLE))
        |SELECT g AS source, CAST(count(*) AS BIGINT) AS n_terms,
        |  round(CAST(sum(zm) AS DOUBLE)
        |    / (CAST(count(*) AS DOUBLE) * 1000000.0), 6) AS delta
        |FROM zz GROUP BY 1""".stripMargin),
    // do two quality signals pick the same corpus head? rank-biased
    // overlap of the length-rank vs entropy-rank top-50 per source
    Query("q320_rbo", (s, dir) =>
      graft.ops.Corpus.rboOverlap(
        t(s, dir, "documents"), "source", "doc_id",
        col("n_chars").cast("double"),
        round(graft.functions.TextFunctions.charEntropy(col("text")), 6),
        50),
      // q320: q119's entropy replay feeds the second ranking; the p^d/d
      // terms snap to micro-LONGs per term, suffix-summed into c(m)
      {
      val k = 50
      val p = 0.9
      val coef = (1.0 - p) / p
      s"""WITH ch AS (SELECT doc_id, unnest(string_split(text, '')) AS c
         |  FROM documents WHERE text IS NOT NULL),
         |cc AS (SELECT doc_id, c, count(*) AS n FROM ch GROUP BY 1, 2),
         |tot AS (SELECT doc_id, sum(n) AS tn FROM cc GROUP BY 1),
         |ent AS (SELECT cc.doc_id,
         |    round(-sum((CAST(n AS DOUBLE) / tn)
         |      * log2(CAST(n AS DOUBLE) / tn)), 6) AS entropy
         |  FROM cc JOIN tot USING (doc_id) GROUP BY cc.doc_id),
         |base AS (SELECT d.source AS g, d.doc_id AS id,
         |    CAST(round(CAST(d.n_chars AS DOUBLE) * 1000000.0) AS BIGINT)
         |      AS am,
         |    CAST(round(ent.entropy * 1000000.0) AS BIGINT) AS bm
         |  FROM documents d JOIN ent ON d.doc_id = ent.doc_id
         |  WHERE d.n_chars IS NOT NULL AND d.doc_id IS NOT NULL),
         |rk AS (SELECT g, id, am, bm,
         |    row_number() OVER (PARTITION BY g ORDER BY am DESC, id ASC)
         |      AS ra,
         |    row_number() OVER (PARTITION BY g ORDER BY bm DESC, id ASC)
         |      AS rb
         |  FROM base),
         |terms AS (SELECT d,
         |    CAST(round(pow(CAST($p AS DOUBLE), d) / d * 1000000.0)
         |      AS BIGINT) AS t
         |  FROM (SELECT unnest(generate_series(1, $k)) AS d)),
         |coefs AS (SELECT d AS m, CAST(sum(t) OVER (ORDER BY d DESC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |      AS c
         |  FROM terms),
         |common AS (SELECT rk.g, coefs.c
         |  FROM rk JOIN coefs ON greatest(rk.ra, rk.rb) = coefs.m
         |  WHERE rk.ra <= $k AND rk.rb <= $k),
         |agg AS (SELECT g, CAST(count(*) AS BIGINT) AS n_common,
         |    CAST(sum(c) AS BIGINT) AS csum FROM common GROUP BY 1),
         |items AS (SELECT g, CAST(count(*) AS BIGINT) AS n_items
         |  FROM base GROUP BY 1)
         |SELECT items.g AS source, items.n_items,
         |  coalesce(agg.n_common, 0) AS n_common,
         |  round(CAST(coalesce(agg.n_common, 0) AS DOUBLE) / $k, 6)
         |    AS overlap_at_k,
         |  round(CAST($coef AS DOUBLE)
         |    * CAST(coalesce(agg.csum, 0) AS DOUBLE) / 1000000.0, 6) AS rbo
         |FROM items LEFT JOIN agg ON items.g IS NOT DISTINCT FROM agg.g"""
        .stripMargin
    }),
    // is the corpus big enough for the budget? Chinchilla-optimal
    // params/tokens per FLOP budget vs the exact corpus token count
    Query("q326_chinchilla_plan", (s, dir) =>
      graft.ops.Corpus.chinchillaPlan(t(s, dir, "documents"), "text",
        Seq(1e18, 1e19, 1e20, 1e21, 1e22, 1e23)),
      // q326: exact whitespace-token total, closed-form grid — sqrt is
      // IEEE-correctly-rounded on both engines
      """WITH t AS (SELECT CAST(coalesce(sum(len(string_split(text, ' '))),
        |    0) AS BIGINT) AS corpus_tokens
        |  FROM documents WHERE text IS NOT NULL),
        |g AS (SELECT unnest([1e18, 1e19, 1e20,
        |    1e21, 1e22, 1e23]) AS flops_budget)
        |SELECT flops_budget, corpus_tokens,
        |  CAST(round(sqrt(flops_budget / 120.0)) AS BIGINT) AS opt_params,
        |  CAST(round(sqrt(flops_budget / 120.0) * 20.0) AS BIGINT)
        |    AS opt_tokens,
        |  round(sqrt(flops_budget / 120.0) * 20.0
        |    / CAST(corpus_tokens AS DOUBLE), 6) AS epochs_needed,
        |  round(sqrt(flops_budget / 120.0) * 20.0)
        |    > CAST(corpus_tokens AS DOUBLE) AS data_limited
        |FROM g CROSS JOIN t""".stripMargin),
    // corpus keywords: PageRank centrality over the +-2-token word
    // co-occurrence graph (TextRank), top 50
    Query("q334_textrank", (s, dir) =>
      graft.ops.Corpus.textRank(t(s, dir, "documents"), "text", 2,
        0.85, 3, 50),
      // q334: the q84 pair chain symmetrized into edges, then the q163
      // unrolled PageRank rounds and a bounded top-k window
      {
      val rounds = (1 to 3).map { t =>
        s"""c$t AS (SELECT e.dst AS node, sum(e.w / outw.ow * r${t - 1}.rank) AS s
           |  FROM e JOIN outw ON e.src = outw.src
           |  JOIN r${t - 1} ON e.src = r${t - 1}.node GROUP BY 1),
           |r$t AS (SELECT nodes.node,
           |  round((1 - 0.85) / nn.cnt + 0.85 * coalesce(c$t.s, 0), 6) AS rank
           |  FROM nodes CROSS JOIN nn
           |  LEFT JOIN c$t ON nodes.node = c$t.node)""".stripMargin
      }.mkString(",\n")
      s"""WITH t AS (SELECT string_split(text, ' ') AS ts FROM documents),
         |pr AS (SELECT unnest(flatten(list_transform(generate_series(1, len(ts) - 1),
         |        i -> list_transform(generate_series(i + 1, least(i + 2, len(ts))),
         |        j -> CASE WHEN ts[i] <= ts[j] THEN ts[i] || ' ' || ts[j]
         |                  ELSE ts[j] || ' ' || ts[i] END)))) AS pair
         |      FROM t WHERE len(ts) >= 2),
         |pc AS (SELECT pair, CAST(count(*) AS BIGINT) AS n_ab FROM pr GROUP BY 1),
         |pp AS (SELECT split_part(pair, ' ', 1) AS a,
         |    split_part(pair, ' ', 2) AS b, n_ab FROM pc),
         |e AS (SELECT a AS src, b AS dst, CAST(n_ab AS DOUBLE) AS w
         |      FROM pp WHERE a <> b
         |      UNION ALL SELECT b, a, CAST(n_ab AS DOUBLE) FROM pp WHERE a <> b),
         |outw AS (SELECT src, sum(w) AS ow FROM e GROUP BY 1),
         |nodes AS (SELECT DISTINCT node FROM
         |  (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
         |nn AS (SELECT CAST(count(*) AS DOUBLE) AS cnt FROM nodes),
         |r0 AS (SELECT node, round(1.0 / cnt, 6) AS rank FROM nodes, nn),
         |$rounds
         |SELECT node AS term, rank,
         |  CAST(row_number() OVER (ORDER BY rank DESC, node ASC) AS BIGINT)
         |    AS kw_rank
         |FROM r3
         |QUALIFY row_number() OVER (ORDER BY rank DESC, node ASC) <= 50"""
        .stripMargin
    }),
    // bin-composition diagnostics over the q56 pack: per-bin source
    // entropy and majority share - the correlated-context-window check
    Query("q269_bin_mixing", (s, dir) => {
      val counted = t(s, dir, "documents").select(col("doc_id"),
        col("source"),
        TextStats.bpeishTokenCount(col("text")).cast("long").as("n_tokens"))
      graft.ops.Packing.binMixing(
        graft.ops.Packing.packGreedy(counted, "doc_id", "n_tokens", 512L, 4),
        "source")
    },
      // q269: the q56 pack replay + per-bin source entropy; abs() folds the
      // IEEE -0.0 a single-source bin produces on both sides
      s"""WITH counted AS (
         |  SELECT doc_id, source,
         |    CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]|[^a-zA-Z0-9 ]')) AS BIGINT) AS n_tokens
         |  FROM documents),
         |sharded AS (
         |  SELECT doc_id, source, n_tokens,
         |    CAST(${md5ModSql("doc_id", 4)} AS BIGINT) AS shard
         |  FROM counted),
         |packed AS (
         |  SELECT doc_id, source, shard,
         |    CAST((SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id)
         |      - n_tokens) // 512 AS BIGINT) AS bin
         |  FROM sharded),
         |g AS (
         |  SELECT shard, bin, source, CAST(count(*) AS BIGINT) AS c
         |  FROM packed GROUP BY 1, 2, 3),
         |sized AS (
         |  SELECT shard, bin, source, c,
         |    CAST(SUM(c) OVER (PARTITION BY shard, bin) AS BIGINT) AS n
         |  FROM g)
         |SELECT shard, bin, CAST(max(n) AS BIGINT) AS n_docs,
         |  CAST(count(*) AS BIGINT) AS n_groups,
         |  abs(round(-sum((CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
         |    * ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))), 6)) AS entropy,
         |  round(CAST(max(c) AS DOUBLE) / CAST(max(n) AS DOUBLE), 6)
         |    AS top_share
         |FROM sized GROUP BY 1, 2""".stripMargin),
    // tokenizer fairness: per-language corpus-level fertility and parity
    // vs the best-served language - q215's promised per-group aggregate
    Query("q261_fertility_parity", (s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = graft.ops.Corpus.bpeTrain(docs, "text", 5)
        .orderBy("step").select("left", "right")
        .collect().map(r => (r.getString(0), r.getString(1))).toSeq
      graft.ops.Corpus.bpeFertilityByGroup(docs, "doc_id", "text", "lang",
        merges)
    },
      // q261: the q215 training replay grouped by language; fertility is
      // one division of HUGEINT-exact sums, parity divides by the window
      // max of the same raw ratio
      {
      val (ctes, nested, bestsFrom) = bpeOracleParts(5)
      s"""WITH $ctes,
         |wd AS (
         |  SELECT doc_id, lang,
         |    list_transform(generate_series(1, len(w)), i -> w[i:i]) AS chars
         |  FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
         |        FROM documents) WHERE len(w) > 0),
         |tok AS (
         |  SELECT doc_id, lang, CAST(len(chars) AS BIGINT) AS nc,
         |    CAST(len($nested) AS BIGINT) AS nt
         |  FROM wd, $bestsFrom),
         |per AS (SELECT doc_id, any_value(lang) AS lang,
         |    CAST(sum(nc) AS BIGINT) AS nc, CAST(sum(nt) AS BIGINT) AS nt
         |  FROM tok GROUP BY 1),
         |g AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(nc) AS BIGINT) AS n_chars,
         |    CAST(sum(nt) AS BIGINT) AS n_tokens,
         |    CAST(sum(nc) AS DOUBLE) / CAST(sum(nt) AS DOUBLE) AS r
         |  FROM per GROUP BY 1)
         |SELECT lang, n_docs, n_chars, n_tokens,
         |  round(r, 6) AS chars_per_token,
         |  round(r / max(r) OVER (), 6) AS parity
         |FROM g""".stripMargin
    }),
    // BPE fertility mart: train 5 merges, then tokenize every document
    // with them (nested scan-stage folds) — chars/token per doc
    Query("q215_bpe_fertility", (s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = graft.ops.Corpus.bpeTrain(docs, "text", 5)
        .orderBy("step").select("left", "right")
        .collect().map(r => (r.getString(0), r.getString(1))).toSeq
      graft.ops.Corpus.bpeTokenStats(docs, "doc_id", "text", merges)
    },
      {
      val (ctes, nested, bestsFrom) = bpeOracleParts(5)
      s"""WITH $ctes,
         |wd AS (
         |  SELECT doc_id,
         |    list_transform(generate_series(1, len(w)), i -> w[i:i]) AS chars
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
         |        FROM documents) WHERE len(w) > 0),
         |tok AS (
         |  SELECT doc_id, CAST(len(chars) AS BIGINT) AS nc,
         |    CAST(len($nested) AS BIGINT) AS nt
         |  FROM wd, $bestsFrom)
         |SELECT doc_id, CAST(sum(nc) AS BIGINT) AS n_chars,
         |  CAST(sum(nt) AS BIGINT) AS n_tokens,
         |  round(CAST(sum(nc) AS DOUBLE) / sum(nt), 6) AS chars_per_token
         |FROM tok GROUP BY 1""".stripMargin
    }),
    // full BPE tokenizer training: 5 merge rounds over the word-type
    // vocabulary (corpus scanned once; each round is a vocab-sized
    // hash-agg + argmax + scan-stage literal-pair fold)
    Query("q214_bpe_train", (s, dir) =>
      graft.ops.Corpus.bpeTrain(t(s, dir, "documents"), "text", 5),
      // q214: the same 5 rounds as chained CTEs — aligned-unnest pair
      // counts, (cnt DESC, l, r) argmax, and the SAME single-pass
      // left-to-right fold via list_reduce with a list accumulator
      {
      val m = 5
      val w0 =
        """w0 AS (
          |  SELECT CAST(count(*) AS BIGINT) AS freq,
          |    list_transform(generate_series(1, len(w)), i -> w[i:i]) AS syms
          |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
          |  WHERE len(w) > 0 GROUP BY w)""".stripMargin
      val rounds = (1 to m).map { k =>
        val prev = s"w${k - 1}"
        val pair =
          s"""p$k AS (
             |  SELECT l, r, CAST(sum(freq) AS BIGINT) AS cnt FROM (
             |    SELECT freq, unnest(syms[1:len(syms) - 1]) AS l,
             |      unnest(syms[2:len(syms)]) AS r
             |    FROM $prev WHERE len(syms) >= 2)
             |  GROUP BY 1, 2),
             |best$k AS (SELECT l, r, cnt FROM p$k
             |  ORDER BY cnt DESC, l ASC, r ASC LIMIT 1)""".stripMargin
        val apply =
          if (k == m) ""
          else
            s""",
               |w$k AS (
               |  SELECT freq, list_reduce(list_transform(syms, s -> [s]),
               |    (acc, x) -> CASE WHEN acc[-1] = b.l AND x[1] = b.r
               |      THEN list_append(acc[1:len(acc) - 1], b.l || b.r)
               |      ELSE list_append(acc, x[1]) END) AS syms
               |  FROM $prev, best$k b)""".stripMargin
        pair + apply
      }
      val selects = (1 to m).map { k =>
        s"""SELECT CAST($k AS INTEGER) AS step, l AS "left", r AS "right",
           |  l || r AS merged, cnt AS pair_count FROM best$k""".stripMargin
      }
      s"WITH $w0,\n${rounds.mkString(",\n")}\n${selects.mkString("\nUNION ALL\n")}"
    }),
    // deterministic T5 span-corruption mask plan: md5-derived span
    // starts/lengths merged to maximal islands, entirely scan-stage
    Query("q209_span_corruption", (s, dir) =>
      graft.ops.Chunking.spanCorruptionPlan(
        t(s, dir, "documents"), "doc_id", "text", 7, 3),
      // q209: same md5 start/length arithmetic; the island merge is the
      // q114 gaps-and-islands window (running-max-of-end variant, since
      // spans vary in length) — the fold and the window provably agree
      {
      val pStr = "CAST(doc_id AS VARCHAR) || '|' || CAST(p AS VARCHAR)"
      s"""WITH d AS (SELECT doc_id, len(string_split(text, ' ')) AS n
         |  FROM documents),
         |pos AS (SELECT doc_id, n,
         |    unnest(generate_series(0, n - 1)) AS p FROM d),
         |st AS (SELECT doc_id, n, p AS s,
         |    least(n - 1, p + ${md5ModSql(s"$pStr || '|L'", 3)}) AS e
         |  FROM pos WHERE ${md5ModSql(pStr, 7)} = 0),
         |m AS (SELECT doc_id, n, s, e,
         |    max(e) OVER (PARTITION BY doc_id ORDER BY s
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
         |  FROM st),
         |g AS (SELECT doc_id, n, s, e,
         |    sum(CASE WHEN pmax IS NULL OR s > pmax + 1 THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY doc_id ORDER BY s) AS grp
         |  FROM m)
         |SELECT doc_id, CAST(n AS INTEGER) AS n_tokens,
         |  CAST(min(s) AS INTEGER) AS span_start,
         |  CAST(max(e) AS INTEGER) AS span_end,
         |  CAST(max(e) - min(s) + 1 AS INTEGER) AS span_tokens
         |FROM g GROUP BY doc_id, n, grp""".stripMargin
    }),
    // CCNet-style per-language perplexity terciles of the familiarity
    // score: head/middle/tail by broadcast value cuts, no window
    Query("q210_ppl_buckets", (s, dir) =>
      graft.ops.Corpus.perplexityBuckets(
        t(s, dir, "documents"), "doc_id", "text", "lang", 40),
      // q210: the q79 familiarity chain + per-language quantile_cont cuts,
      // same strict-> comparisons (familiarity is integer/integer IEEE
      // division — bit-identical, so the cuts interpolate identical inputs)
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |  FROM documents),
        |stats AS (SELECT term, count(*) AS tf FROM toks GROUP BY 1),
        |vocab AS (SELECT term FROM stats ORDER BY tf DESC, term LIMIT 40),
        |fam AS (
        |  SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |    CAST(sum(s.tf) AS DOUBLE) / count(*) AS f
        |  FROM toks t JOIN stats s USING (term) GROUP BY 1),
        |j AS (SELECT fam.doc_id, d.lang, fam.n_tokens, fam.f
        |      FROM fam JOIN documents d USING (doc_id)),
        |cuts AS (SELECT lang, quantile_cont(f, 1.0 / 3.0) AS c1,
        |    quantile_cont(f, 2.0 / 3.0) AS c2 FROM j GROUP BY 1)
        |SELECT j.doc_id, j.lang, j.n_tokens, round(j.f, 6) AS familiarity,
        |  CASE WHEN j.f > cuts.c2 THEN 'head'
        |       WHEN j.f > cuts.c1 THEN 'middle'
        |       ELSE 'tail' END AS ppl_bucket
        |FROM j JOIN cuts USING (lang)""".stripMargin),
    // retrieve-then-rerank: q178's top-10 candidates re-scored by
    // ColBERT-style MaxSim over md5-derived token pseudo-embeddings
    Query("q181_late_interaction", (s, dir) => {
      val docs = graft.core.Tables.tableRebalanced(s, dir, "documents")
      val cands = graft.ops.Corpus.moreLikeThisOn(docPostings(s, dir),
        Seq(1L, 2L, 3L, 4L, 5L), 10).select("query_id", "cand_id")
      graft.ops.Corpus.lateInteractionRerank(docs, "doc_id", "text",
        cands, "query_id", "cand_id", 8)
    },
      // q181: q178's candidate CTEs + the same nibble vectors, fold-exact
      // dots/norms (list_reduce replays the Spark HOF fold bit-for-bit),
      // round-before-max cosines, tf-weighted mean
      s"""WITH $moreLikeThisCtes,
         |mlt AS (SELECT query_id, cand_id FROM sc
         |  QUALIFY row_number() OVER (PARTITION BY query_id
         |    ORDER BY cos DESC, cand_id ASC) <= 10),
         |tv AS (SELECT term,
         |    list_transform(generate_series(1, 8), k ->
         |      (strpos('0123456789abcdef', substr(md5(term), k, 1)) - 1 - 8)
         |        / 8.0) AS v
         |  FROM (SELECT DISTINCT term FROM tf)),
         |tn AS (SELECT term, v,
         |    list_reduce(list_prepend(0.0, list_transform(v, x -> x * x)),
         |      (a, b) -> a + b) AS n2 FROM tv),
         |tp AS (SELECT m.query_id, m.cand_id, qt.term AS qtok, qt.tf AS qtf,
         |    qv.v AS qvec, qv.n2 AS qn2, cv.v AS cvec, cv.n2 AS cn2
         |  FROM mlt m
         |  JOIN tf qt ON qt.doc = m.query_id
         |  JOIN tn qv ON qv.term = qt.term
         |  JOIN tf ct ON ct.doc = m.cand_id
         |  JOIN tn cv ON cv.term = ct.term),
         |tc AS (SELECT query_id, cand_id, qtok, qtf,
         |    CASE WHEN qn2 = 0 OR cn2 = 0 THEN 0.0
         |    ELSE round(list_reduce(list_prepend(0.0,
         |        list_transform(generate_series(1, 8), k -> qvec[k] * cvec[k])),
         |        (a, b) -> a + b) / sqrt(qn2 * cn2), 6) END AS cos
         |  FROM tp),
         |mx AS (SELECT query_id, cand_id, qtok, qtf, max(cos) AS mc
         |  FROM tc GROUP BY 1, 2, 3, 4)
         |SELECT query_id, cand_id,
         |  round(sum(qtf * mc) / sum(qtf), 6) AS maxsim
         |FROM mx GROUP BY 1, 2""".stripMargin),
    // sparse lexical more-like-this: TF-IDF cosine top-10 through the
    // postings join for five query docs (maxDfShare 1.0: the synthetic
    // corpus has ~31 terms, nearly all in >half the docs — pruning is
    // exercised in CorpusSpec; smoothed idf still downweights them)
    Query("q178_more_like_this", (s, dir) =>
      graft.ops.Corpus.moreLikeThisOn(docPostings(s, dir),
        Seq(1L, 2L, 3L, 4L, 5L), 10),
      // q178: same smoothed-idf weights, df pruning, cosine shapes, and
      // the q24 rank convention (CTE chain shared with q181's rerank)
      s"""WITH $moreLikeThisCtes
         |SELECT query_id, cand_id, cos,
         |  CAST(row_number() OVER (PARTITION BY query_id
         |    ORDER BY cos DESC, cand_id ASC) AS INTEGER) AS rank
         |FROM sc
         |QUALIFY row_number() OVER (PARTITION BY query_id
         |  ORDER BY cos DESC, cand_id ASC) <= 10""".stripMargin),
    // term↔label mutual information (feature selection / template-leak
    // probe): presence-based MI of each ≥5-df term against lang
    Query("q170_term_label_mi", (s, dir) =>
      graft.ops.Corpus.termLabelMI(t(s, dir, "documents"), "text", "lang", 5),
      // q170: the same presence/label contingency grid with identical
      // IEEE division shapes; zero cells contribute 0
      """WITH raw AS (SELECT doc_id, lang AS label,
        |    unnest(string_split(text, ' ')) AS term FROM documents),
        |dt AS (SELECT DISTINCT doc_id, label, term FROM raw),
        |tl AS (SELECT term, label, count(*) AS n_tl FROM dt GROUP BY 1, 2),
        |lab AS (SELECT lang AS label, count(*) AS n_l FROM documents GROUP BY 1),
        |nn AS (SELECT count(*) AS n FROM documents),
        |nt AS (SELECT term, CAST(sum(n_tl) AS BIGINT) AS n_t FROM tl
        |  GROUP BY 1 HAVING CAST(sum(n_tl) AS BIGINT) >= 5),
        |grid AS (SELECT nt.term, nt.n_t, lab.label, lab.n_l,
        |    coalesce(tl.n_tl, 0) AS n_tl
        |  FROM nt CROSS JOIN lab
        |  LEFT JOIN tl ON tl.term = nt.term
        |    AND tl.label IS NOT DISTINCT FROM lab.label)
        |SELECT term, CAST(max(n_t) AS BIGINT) AS df_docs,
        |  round(sum(
        |    CASE WHEN n_tl > 0 THEN
        |      (CAST(n_tl AS DOUBLE) / CAST(n AS DOUBLE)) *
        |      ln((CAST(n_tl AS DOUBLE) / CAST(n AS DOUBLE)) /
        |         ((CAST(n_t AS DOUBLE) / CAST(n AS DOUBLE)) *
        |          (CAST(n_l AS DOUBLE) / CAST(n AS DOUBLE)))) ELSE 0 END
        |    + CASE WHEN n_l - n_tl > 0 THEN
        |      (CAST(n_l - n_tl AS DOUBLE) / CAST(n AS DOUBLE)) *
        |      ln((CAST(n_l - n_tl AS DOUBLE) / CAST(n AS DOUBLE)) /
        |         ((1.0 - CAST(n_t AS DOUBLE) / CAST(n AS DOUBLE)) *
        |          (CAST(n_l AS DOUBLE) / CAST(n AS DOUBLE)))) ELSE 0 END), 6)
        |    AS mi
        |FROM grid, nn GROUP BY 1""".stripMargin)
  )
}
