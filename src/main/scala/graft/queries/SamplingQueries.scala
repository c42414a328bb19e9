package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkEntry.{dbl, lshPairs, t}
import graft.ops.{Dedup, Sampling, TextStats}

import Shared._

/** Sampling and mixing via [[graft.ops.Sampling]]: deterministic
  * splits, stratified and exact-k samples, decontamination, mixture
  * schedules and importance weights. */
private[graft] object SamplingQueries {
  /** [[clusterChainSql]]'s LSH twin: `jpairs`/`assign` built from the
    * BANDED MinHash candidate chain (q43's shape) instead of the exact
    * shingle self-join — for the benched compositions that consume the
    * scale path's pair table (q325/q335, the q141 precedent). */
  private def lshClusterChainSql: String =
    s"""WITH RECURSIVE ${minhashCtes(3, 4, 3)},
       |jpairs AS (
       |  SELECT p.id_a, p.id_b
       |  FROM pairs p JOIN sizes sa ON p.id_a = sa.doc_id JOIN sizes sb ON p.id_b = sb.doc_id
       |  WHERE CAST(p.n_common AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - p.n_common AS DOUBLE) >= 0.5),
       |${closureTailSql()}""".stripMargin

  /** The raw 32-bit md5 prefix (no modulus) as a uniform in [0, 1) —
    * [[graft.ops.Sampling.weightedSample]]'s `u`. */
  private def md5UniformSql(idExpr: String): String =
    s"(CAST(${md5PrefixSql(idExpr)} AS DOUBLE) / 4294967296.0)"

  val all: Seq[Query] = Seq(
    Query("q39_deterministic_split", (s, dir) =>
      Sampling.deterministicSplit(t(s, dir, "documents").select("doc_id"), "doc_id",
        Seq("train" -> 90, "val" -> 5, "test" -> 5)),
      s"""SELECT doc_id,
         |  CASE WHEN ${md5BucketSql("doc_id")} < 90 THEN 'train'
         |       WHEN ${md5BucketSql("doc_id")} < 95 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM documents""".stripMargin),
    // cap documents per source domain (anti-crawl-dominance), md5-ordered
    // deterministic survivors
    Query("q63_cap_per_source", (s, dir) =>
      graft.ops.Sampling.capPerStratum(t(s, dir, "documents"), "doc_id", "source", 30)
        .select(col("doc_id"), col("source")),
      """SELECT doc_id, source FROM documents
        |QUALIFY row_number() OVER (PARTITION BY source
        |  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) <= 30""".stripMargin),
    // rebalance the corpus to target language weights (en/de/fr 50/20/30)
    // without upsampling — broadcast rates, zero data shuffles
    Query("q68_rebalance_mix", (s, dir) =>
      Sampling.rebalanceToWeights(t(s, dir, "documents"), "doc_id", "lang",
        Seq("en" -> 0.5, "de" -> 0.2, "fr" -> 0.3))
        .select(col("doc_id"), col("lang")),
      s"""WITH w(lang, wt) AS (VALUES ('en', 0.5), ('de', 0.2), ('fr', 0.3)),
         |n AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
         |sc AS (SELECT min(CAST(n.n AS DOUBLE) / w.wt) AS scale
         |       FROM n JOIN w USING (lang)),
         |r AS (SELECT w.lang, sc.scale * w.wt / CAST(n.n AS DOUBLE) AS rate
         |      FROM w JOIN n USING (lang), sc)
         |SELECT d.doc_id, d.lang FROM documents d JOIN r ON d.lang = r.lang
         |WHERE ${md5ModSql("d.doc_id", 1000000)} < r.rate * 1000000.0""".stripMargin),
    // benchmark decontamination: flag corpus docs sharing any word 5-gram
    // with the (md5-held-out) eval set — broadcast bench shingles,
    // map-side probe
    Query("q73_decontaminate", (s, dir) => {
      val docs = t(s, dir, "documents")
      val bench = docs.where(Sampling.md5Bucket(col("doc_id")) < 4)
      val corpus = docs.where(Sampling.md5Bucket(col("doc_id")) >= 4)
      Dedup.contaminationFlags(corpus, bench, "doc_id", "text", 5)
    },
      s"""WITH bench AS (
         |  SELECT doc_id, text FROM documents WHERE ${md5BucketSql("doc_id")} < 4),
         |corp AS (
         |  SELECT doc_id, text FROM documents WHERE ${md5BucketSql("doc_id")} >= 4),
         |bs AS (SELECT DISTINCT shingle FROM (${shingleSql(5, "bench")})),
         |cs AS (${shingleSql(5, "corp")}),
         |bad AS (SELECT DISTINCT cs.doc_id FROM cs JOIN bs USING (shingle))
         |SELECT c.doc_id, b.doc_id IS NOT NULL AS contaminated
         |FROM corp c LEFT JOIN bad b USING (doc_id)""".stripMargin),
    // relative curation cut: keep each source's top 30% by length — exact
    // per-stratum quantile in one window pass
    Query("q100_quantile_filter", (s, dir) =>
      Sampling.keepTopQuantile(
        t(s, dir, "documents").select("doc_id", "source", "n_chars"),
        "source", "n_chars", 0.3),
      // the keep threshold is written `1.0 - 0.3` (not `0.7`): the Spark
      // side computes lit(1.0) - lit(q), and the two IEEE doubles differ
      // in the last ulp — a boundary row would flip between engines. The
      // verdict compares the RAW cume_dist (exact k/n), rounding only the
      // displayed column.
      """WITH r AS (
        |  SELECT doc_id, source, n_chars,
        |    cume_dist() OVER (PARTITION BY source ORDER BY n_chars) AS cd
        |  FROM documents)
        |SELECT doc_id, source, n_chars, round(cd, 6) AS cume_dist,
        |  cd > 1.0 - 0.3 AS kept
        |FROM r""".stripMargin),
    // Efraimidis-Spirakis deterministic weighted sample: 10 docs per
    // source, length-weighted, reproducible on any engine
    Query("q101_weighted_sample", (s, dir) =>
      Sampling.weightedSample(
        t(s, dir, "documents").select("doc_id", "source", "n_chars"),
        "doc_id", "source", "n_chars", 10),
      s"""WITH ky AS (
         |  SELECT doc_id, source, n_chars,
         |    round(pow(${md5UniformSql("doc_id")}, 1.0 / CAST(n_chars AS DOUBLE)), 6) AS wkey
         |  FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0),
         |r AS (SELECT *, row_number() OVER (PARTITION BY source
         |        ORDER BY wkey DESC, doc_id) AS rn FROM ky)
         |SELECT doc_id, source, n_chars, wkey FROM r WHERE rn <= 10""".stripMargin),
    // corpus rebalancing: per-language deterministic keep-rates (downsample
    // the dominant language, keep all of a rare one) — the language is a
    // scan-stage Column, so the stratum table is ONE pass (round 3 joined
    // langId output back on the id it already carried)
    Query("q52_stratified_sample", (s, dir) =>
      Sampling.stratifiedSample(
        t(s, dir, "documents").select(col("doc_id"),
          TextStats.detectedLang(col("text")).as("detected_lang")),
        "doc_id", "detected_lang", Seq("en" -> 40, "zh" -> 100), 70),
      s"""WITH lang AS (
         |SELECT doc_id,
         |  $langScoreSql,
         |  CASE
         |    WHEN score_en >= greatest(score_en, score_de, score_es, score_fr, score_zh) THEN 'en'
         |    WHEN score_de >= greatest(score_en, score_de, score_es, score_fr, score_zh) THEN 'de'
         |    WHEN score_es >= greatest(score_en, score_de, score_es, score_fr, score_zh) THEN 'es'
         |    WHEN score_fr >= greatest(score_en, score_de, score_es, score_fr, score_zh) THEN 'fr'
         |    ELSE 'zh' END AS detected_lang
         |FROM documents)
         |SELECT doc_id, detected_lang FROM lang
         |WHERE ${md5BucketSql("doc_id")} <
         |  CASE detected_lang WHEN 'en' THEN 40 WHEN 'zh' THEN 100 ELSE 70 END""".stripMargin),
    // exactly-k deterministic uniform sample: the k-prefix of the md5
    // total order — realized size is exact, membership engine-portable
    Query("q143_exact_k_sample", (s, dir) =>
      Sampling.exactKSample(
        t(s, dir, "documents").select("doc_id", "source"), "doc_id", 100),
      // q143: the k-prefix of the md5 total order
      """SELECT doc_id, source FROM documents
        |ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id LIMIT 100""".stripMargin),
    // exactly k docs per source: map-side per-stratum k-heaps feed the
    // one stratum-keyed exchange (WindowGroupLimit)
    Query("q144_stratified_exact_k", (s, dir) =>
      Sampling.exactKPerStratum(
        t(s, dir, "documents").select("doc_id", "source"), "doc_id", "source", 20),
      // q144: the per-stratum k-prefix of the same md5 order
      """SELECT doc_id, source FROM (
        |  SELECT doc_id, source, row_number() OVER (
        |    PARTITION BY source
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents) WHERE rn <= 20""".stripMargin),
    // weighted-fair-queueing training tape: sched_key = source_rank/weight
    // interleaves sources at their ratios, deterministically
    Query("q152_mixture_schedule", (s, dir) =>
      Sampling.mixtureSchedule(
        t(s, dir, "documents").select("doc_id", "source"), "doc_id", "source",
        Seq("src0" -> 3.0, "src1" -> 1.5, "src2" -> 1.0, "src3" -> 0.5)),
      // q152: per-source md5 rank / weight — exact IEEE division
      """WITH r AS (
        |  SELECT doc_id, source, CAST(row_number() OVER (
        |    PARTITION BY source
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS source_rank
        |  FROM documents WHERE source IN ('src0', 'src1', 'src2', 'src3'))
        |SELECT doc_id, source, source_rank,
        |  source_rank / (CASE source WHEN 'src0' THEN 3.0 WHEN 'src1' THEN 1.5
        |                 WHEN 'src2' THEN 1.0 ELSE 0.5 END) AS sched_key
        |FROM r""".stripMargin),
    // class-balanced exact downsample: every label at the minority count
    Query("q157_balance_labels", (s, dir) =>
      Sampling.balanceToMinority(
        t(s, dir, "embeddings").select("vec_id", "label"), "vec_id", "label"),
      // q157: every label cut to the global minority count, md5 order
      """WITH c AS (SELECT label, count(*) AS n FROM embeddings GROUP BY 1),
        |m AS (SELECT min(n) AS k FROM c),
        |r AS (
        |  SELECT vec_id, label, row_number() OVER (
        |    PARTITION BY label
        |    ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
        |  FROM embeddings)
        |SELECT vec_id, label FROM r, m WHERE rn <= k""".stripMargin),
    // coordinated 20% sample of orders ⋈ lineitem on the shared join key:
    // referential integrity survives the sample (independent sampling
    // would keep ~4% of the join, not 20%)
    Query("q160_coordinated_sample", (s, dir) => {
      val o = Sampling.deterministicSample(t(s, dir, "orders"), "o_orderkey", 20)
      val l = Sampling.deterministicSample(t(s, dir, "lineitem"), "l_orderkey", 20)
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_extendedprice").cast("decimal(12,2)") *
            (lit(1).cast("decimal(3,2)") - col("l_discount").cast("decimal(3,2)")))
            .as("rev_d"))
        .select(col("o_orderstatus"), col("n_items"), dbl("rev_d").as("revenue"))
    },
      // q160: the same md5-bucket predicate on BOTH join sides
      s"""SELECT o_orderstatus, count(*) AS n_items,
         |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
         |    (1 - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS revenue
         |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         |WHERE ${md5BucketSql("o_orderkey")} < 20
         |  AND ${md5BucketSql("l_orderkey")} < 20
         |GROUP BY 1""".stripMargin),
    // deterministic implicit-feedback negatives: 5 unseen parts per
    // customer from a 50-part md5 pool
    Query("q164_negative_samples", (s, dir) => {
      val inter = t(s, dir, "orders").select("o_orderkey", "o_custkey")
        .join(t(s, dir, "lineitem").select("l_orderkey", "l_partkey"),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey"), col("l_partkey"))
      Sampling.negativeSamples(inter, "o_custkey", "l_partkey",
        t(s, dir, "part"), "p_partkey", 50, 5)
    },
      // q164: same pool, same pair-md5 per-user order, same literal-k cut
      """WITH inter AS (
        |  SELECT DISTINCT o_custkey, l_partkey
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |pool AS (
        |  SELECT p_partkey AS l_partkey
        |  FROM (SELECT DISTINCT p_partkey FROM part)
        |  ORDER BY md5(CAST(p_partkey AS VARCHAR)), p_partkey LIMIT 50),
        |cand AS (
        |  SELECT u.o_custkey, pool.l_partkey
        |  FROM (SELECT DISTINCT o_custkey FROM inter) u CROSS JOIN pool),
        |neg AS (
        |  SELECT c.o_custkey, c.l_partkey FROM cand c LEFT JOIN inter i
        |  ON c.o_custkey = i.o_custkey AND c.l_partkey = i.l_partkey
        |  WHERE i.o_custkey IS NULL)
        |SELECT o_custkey, l_partkey,
        |  CAST(row_number() OVER (PARTITION BY o_custkey
        |    ORDER BY md5(CAST(o_custkey AS VARCHAR) || '|' ||
        |      CAST(l_partkey AS VARCHAR)), l_partkey) AS BIGINT) AS neg_rank
        |FROM neg QUALIFY neg_rank <= 5""".stripMargin),
    // DSIR importance weights: raw pool = the whole corpus, target = the
    // first three sources standing in for a curated reference corpus;
    // 256 hashed-unigram buckets
    Query("q136_dsir_weights", (s, dir) => {
      val docs = t(s, dir, "documents")
      Sampling.dsirWeights(docs,
        docs.where(col("source").isin("src0", "src1", "src2")),
        "doc_id", "text", 256)
    },
      // q136: hashed-unigram bucket histograms on both corpora, add-one
      // smoothed log-likelihood ratios per bucket, per-doc token-count-
      // weighted sum — ln ulps and summation order wash out at 6 dp
      s"""WITH rawterm AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
         |rawt AS (
         |  SELECT doc_id, ${md5ModSql("term", 256)} AS b FROM rawterm),
         |tgtt AS (
         |  SELECT ${md5ModSql("term", 256)} AS b
         |  FROM (SELECT unnest(string_split(text, ' ')) AS term
         |        FROM documents WHERE source IN ('src0', 'src1', 'src2'))),
         |rb AS (SELECT b, count(*) AS rn FROM rawt GROUP BY 1),
         |tb AS (SELECT b, count(*) AS tn FROM tgtt GROUP BY 1),
         |tots AS (SELECT (SELECT sum(rn) FROM rb) AS rt, (SELECT sum(tn) FROM tb) AS tt),
         |l AS (
         |  SELECT rb.b,
         |    ln((COALESCE(tb.tn, 0) + 1.0) / (tots.tt + 256.0))
         |      - ln((rb.rn + 1.0) / (tots.rt + 256.0)) AS lr
         |  FROM rb LEFT JOIN tb USING (b) CROSS JOIN tots)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |  round(sum(lr), 6) AS log_weight,
         |  round(sum(lr) / count(*), 6) AS avg_log_ratio
         |FROM rawt JOIN l USING (b)
         |GROUP BY doc_id""".stripMargin),
    // group-aware k-fold: every document of a source shares a fold, so
    // eval folds never see a training source
    Query("q138_group_kfold", (s, dir) =>
      Sampling.groupKFold(
        t(s, dir, "documents").select("doc_id", "source"), "source", 5),
      // q138: the fold is a pure function of the GROUP key
      s"""SELECT doc_id, source,
         |  CAST(${md5ModSql("source", 5)} AS BIGINT) AS fold
         |FROM documents""".stripMargin),
    // token-budget mixture plan: whitespace token counts per source, a
    // 50/30/20 target mix over three sources, 1M-token budget — the
    // epochs column is the over-repetition signal mixture designers watch
    Query("q113_token_budget_plan", (s, dir) =>
      Sampling.tokenBudgetPlan(
        t(s, dir, "documents")
          .select(col("source"), TextStats.tokenCount(col("text")).as("n_tok")),
        "source", "n_tok",
        Seq("src0" -> 50.0, "src1" -> 30.0, "src2" -> 20.0), 1000000L),
      // q113: integer count/sum aggregates, VALUES weights normalized over
      // the listed sources, one rounded division per planning column
      """WITH w(source, share) AS (VALUES
        |  ('src0', 0.5), ('src1', 0.3), ('src2', 0.2)),
        |wd AS (SELECT source, CAST(share AS DOUBLE) AS share FROM w),
        |agg AS (
        |  SELECT source, count(*) AS n_docs,
        |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY 1)
        |SELECT a.source, a.n_docs, a.n_tokens,
        |  round(wd.share, 6) AS target_share,
        |  CAST(round(wd.share * 1000000) AS BIGINT) AS target_tokens,
        |  round(CAST(round(wd.share * 1000000) AS DOUBLE) / a.n_tokens, 6) AS epochs
        |FROM agg a JOIN wd ON a.source = wd.source""".stripMargin),
    // Kish effective sample size of the q136 DSIR reweighting - the
    // did-the-weights-collapse-the-corpus gauge
    Query("q273_importance_ess", (s, dir) => {
      val docs = t(s, dir, "documents")
      graft.ops.Sampling.importanceEss(
        Sampling.dsirWeights(docs,
          docs.where(col("source").isin("src0", "src1", "src2")),
          "doc_id", "text", 256),
        "log_weight")
    },
      // q273: the q136 chain re-derived, then Kish ESS off nano-snapped
      // max-normalized weights (exact HUGEINT sums)
      s"""WITH rawterm AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
         |rawt AS (
         |  SELECT doc_id, ${md5ModSql("term", 256)} AS b FROM rawterm),
         |tgtt AS (
         |  SELECT ${md5ModSql("term", 256)} AS b
         |  FROM (SELECT unnest(string_split(text, ' ')) AS term
         |        FROM documents WHERE source IN ('src0', 'src1', 'src2'))),
         |rb AS (SELECT b, count(*) AS rn FROM rawt GROUP BY 1),
         |tb AS (SELECT b, count(*) AS tn FROM tgtt GROUP BY 1),
         |tots AS (SELECT (SELECT sum(rn) FROM rb) AS rt, (SELECT sum(tn) FROM tb) AS tt),
         |l AS (
         |  SELECT rb.b,
         |    ln((COALESCE(tb.tn, 0) + 1.0) / (tots.tt + 256.0))
         |      - ln((rb.rn + 1.0) / (tots.rt + 256.0)) AS lr
         |  FROM rb LEFT JOIN tb USING (b) CROSS JOIN tots),
         |lw AS (
         |  SELECT doc_id, round(sum(lr), 6) AS log_weight
         |  FROM rawt JOIN l USING (b) GROUP BY doc_id),
         |mx AS (SELECT max(log_weight) AS m FROM lw),
         |nano AS (
         |  SELECT CAST(round(exp(log_weight - mx.m) * 1000000000.0)
         |    AS HUGEINT) AS w, mx.m AS m
         |  FROM lw, mx WHERE log_weight IS NOT NULL),
         |s AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n, max(m) AS m,
         |    CAST(sum(w) AS HUGEINT) AS s1, CAST(sum(w * w) AS HUGEINT) AS s2
         |  FROM nano)
         |SELECT n, round(m, 6) AS max_log_weight,
         |  round(CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
         |    / CAST(s2 AS DOUBLE), 6) AS ess,
         |  round(CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
         |    / CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE), 6) AS ess_ratio
         |FROM s WHERE n > 0 AND s2 > 0""".stripMargin),
    // is q152's training tape actually mixed? runs-test z over the
    // scheduled source order (no global window - rank + adjacency join)
    Query("q311_tape_mixing", (s, dir) =>
      Sampling.tapeMixingAudit(
        Sampling.mixtureSchedule(
          t(s, dir, "documents").select("doc_id", "source"), "doc_id",
          "source",
          Seq("src0" -> 3.0, "src1" -> 1.5, "src2" -> 1.0, "src3" -> 0.5)),
        "sched_key", "doc_id", "source"),
      // q311: the q152 tape replayed, runs counted via lag over the same
      // total order, Barton-David moments from exact integer sums
      """WITH r0 AS (
        |  SELECT doc_id, source, CAST(row_number() OVER (
        |    PARTITION BY source
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT)
        |    AS source_rank
        |  FROM documents
        |  WHERE source IN ('src0', 'src1', 'src2', 'src3')),
        |tape AS (
        |  SELECT doc_id, source,
        |    source_rank / (CASE source WHEN 'src0' THEN 3.0
        |      WHEN 'src1' THEN 1.5 WHEN 'src2' THEN 1.0
        |      ELSE 0.5 END) AS sk
        |  FROM r0),
        |seq AS (
        |  SELECT source,
        |    lag(source) OVER (ORDER BY sk, doc_id) AS prev
        |  FROM tape),
        |brk AS (
        |  SELECT CAST(count(CASE WHEN prev IS NOT NULL
        |    AND prev IS DISTINCT FROM source THEN 1 END) AS BIGINT) AS b
        |  FROM seq),
        |m AS (
        |  SELECT CAST(count(*) AS BIGINT) AS k,
        |    CAST(coalesce(sum(n), 0) AS BIGINT) AS nn,
        |    CAST(coalesce(sum(n * n), 0) AS BIGINT) AS s2,
        |    CAST(coalesce(sum(n * n * n), 0) AS BIGINT) AS s3
        |  FROM (SELECT CAST(count(*) AS BIGINT) AS n
        |    FROM tape GROUP BY source))
        |SELECT nn AS n, k AS k_labels,
        |  CASE WHEN nn > 0 THEN b + 1 END AS runs,
        |  CASE WHEN nn >= 2 THEN
        |    round(CAST(nn AS DOUBLE) + 1.0
        |      - CAST(s2 AS DOUBLE) / CAST(nn AS DOUBLE), 6) END AS runs_exp,
        |  CASE WHEN nn >= 2 THEN
        |    round((CAST(s2 AS DOUBLE) * (CAST(s2 AS DOUBLE)
        |        + CAST(nn AS DOUBLE) * (CAST(nn AS DOUBLE) + 1.0))
        |      - 2.0 * CAST(nn AS DOUBLE) * CAST(s3 AS DOUBLE)
        |      - CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE)
        |        * CAST(nn AS DOUBLE))
        |      / (CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE)
        |        * (CAST(nn AS DOUBLE) - 1.0)), 6) END AS runs_var,
        |  CASE WHEN nn >= 2 AND
        |    (CAST(s2 AS DOUBLE) * (CAST(s2 AS DOUBLE)
        |        + CAST(nn AS DOUBLE) * (CAST(nn AS DOUBLE) + 1.0))
        |      - 2.0 * CAST(nn AS DOUBLE) * CAST(s3 AS DOUBLE)
        |      - CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE)
        |        * CAST(nn AS DOUBLE))
        |      / (CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE)
        |        * (CAST(nn AS DOUBLE) - 1.0)) > 0 THEN
        |    round((CAST(b + 1 AS DOUBLE)
        |      - (CAST(nn AS DOUBLE) + 1.0
        |        - CAST(s2 AS DOUBLE) / CAST(nn AS DOUBLE)))
        |      / sqrt((CAST(s2 AS DOUBLE) * (CAST(s2 AS DOUBLE)
        |          + CAST(nn AS DOUBLE) * (CAST(nn AS DOUBLE) + 1.0))
        |        - 2.0 * CAST(nn AS DOUBLE) * CAST(s3 AS DOUBLE)
        |        - CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE)
        |          * CAST(nn AS DOUBLE))
        |        / (CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE)
        |          * (CAST(nn AS DOUBLE) - 1.0))), 6) END AS z
        |FROM m, brk""".stripMargin),
    // duplication-aware split: near-dup CLUSTERS are the split unit, so
    // zero pairs straddle train/test (the naive leak count shows what a
    // per-doc split would have contaminated)
    Query("q325_cluster_safe_split", (s, dir) => {
      val docs = graft.core.Tables.tableRebalanced(s, dir, "documents")
      graft.ops.Sampling.clusterSafeSplit(
        docs.select("doc_id"), "doc_id",
        // banded LSH pairGen: the benched composition consumes the scale
        // path's pair table (q141 precedent; exact stays oracle-reachable)
        lshPairs(s, dir), "id_a", "id_b", 0.2)
    },
      // q325: the q33 closure replay labels clusters, both split devices
      // are the same exact-integer md5 cut, leak counts re-walk jpairs
      {
      val cut = math.floor(0.2 * 4294967296.0).toLong
      s"""$lshClusterChainSql,
         |lab AS (SELECT doc_id, cluster_id,
         |    CASE WHEN (${md5PrefixSql("'split|' || cluster_id")}) < $cut
         |      THEN 'test' ELSE 'train' END AS split,
         |    CASE WHEN (${md5PrefixSql("'split|' || doc_id")}) < $cut
         |      THEN 'test' ELSE 'train' END AS naive
         |  FROM assign),
         |leaks AS (SELECT
         |    CAST(coalesce(sum(CASE WHEN la.naive <> lb.naive THEN 1 END),
         |      0) AS BIGINT) AS naive_leaked_pairs,
         |    CAST(coalesce(sum(CASE WHEN la.split <> lb.split THEN 1 END),
         |      0) AS BIGINT) AS cluster_leaked_pairs
         |  FROM jpairs j JOIN lab la ON j.id_a = la.doc_id
         |  JOIN lab lb ON j.id_b = lb.doc_id)
         |SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(count(DISTINCT cluster_id) AS BIGINT) AS n_clusters,
         |  naive_leaked_pairs, cluster_leaked_pairs
         |FROM lab CROSS JOIN leaks GROUP BY 1, 4, 5""".stripMargin
    }),
    // contrastive (anchor, positive, negative) pairs with the
    // dup-cluster false-negative guard on the md5-drawn negatives
    Query("q335_contrastive_pairs", (s, dir) => {
      val docs = graft.core.Tables.tableRebalanced(s, dir, "documents")
      Sampling.contrastivePairs(docs.select("doc_id"), "doc_id",
        // banded LSH pairGen (q141 precedent): positives come from the
        // scale path's verified pair table
        lshPairs(s, dir), "id_a", "id_b", 50, 3)
    },
      // q335: the q33 closure labels guard the q164-style md5 pool draw;
      // positives rank by partner id
      s"""$lshClusterChainSql,
         |pool AS (SELECT doc_id AS cand, cluster_id AS cc FROM assign
         |  ORDER BY md5('neg|pool|' || doc_id), doc_id LIMIT 50),
         |anch AS (SELECT DISTINCT j.id_a AS anchor FROM jpairs j),
         |alab AS (SELECT anch.anchor, a.cluster_id AS ac
         |  FROM anch JOIN assign a ON anch.anchor = a.doc_id),
         |negs AS (SELECT anchor AS id_a, cand AS id_b, FALSE AS is_positive,
         |    CAST(row_number() OVER (PARTITION BY anchor
         |      ORDER BY md5('neg|' || anchor || '|' || cand), cand)
         |      AS BIGINT) AS pair_rank
         |  FROM alab JOIN pool ON ac <> cc
         |  QUALIFY pair_rank <= 3),
         |pos AS (SELECT id_a, id_b, TRUE AS is_positive,
         |    CAST(row_number() OVER (PARTITION BY id_a ORDER BY id_b)
         |      AS BIGINT) AS pair_rank
         |  FROM jpairs)
         |SELECT * FROM pos UNION ALL SELECT * FROM negs""".stripMargin),
    // labeling-budget design: Neyman-optimal allocation of a 10k-doc
    // sample across sources by token-count dispersion, largest-remainder
    // integerization summing exactly to the budget
    Query("q290_neyman_alloc", (s, dir) =>
      Sampling.neymanAllocation(
        t(s, dir, "documents").select(col("source"),
          size(split(col("text"), " ")).cast("long").as("n_tokens")),
        "source", "n_tokens", 10000L),
      // q290: exact micro moments -> mirrored sd/weights, micro-snapped
      // fractional parts, largest-remainder ranks tie to the smaller key
      """WITH d AS (
        |  SELECT source AS st,
        |    CAST(round(CAST(len(string_split(text, ' ')) AS DOUBLE)
        |      * 1000000.0) AS BIGINT) AS vm
        |  FROM documents),
        |red AS (
        |  SELECT st, CAST(count(*) AS BIGINT) AS n_rows,
        |    CAST(sum(vm) AS HUGEINT) AS s1,
        |    CAST(sum(CAST(vm AS HUGEINT) * vm) AS HUGEINT) AS s2
        |  FROM d GROUP BY 1),
        |sdw AS (
        |  SELECT st, n_rows,
        |    sqrt(greatest((CAST(s2 AS DOUBLE) / 1000000000000.0
        |      - (CAST(s1 AS DOUBLE) / 1000000.0)
        |        * (CAST(s1 AS DOUBLE) / 1000000.0)
        |        / CAST(n_rows AS DOUBLE))
        |      / CAST(n_rows AS DOUBLE), 0.0)) AS sd
        |  FROM red),
        |w AS (
        |  SELECT st, n_rows, sd, CAST(n_rows AS DOUBLE) * sd AS wgt,
        |    (SELECT sum(CAST(n_rows AS DOUBLE) * sd) FROM sdw) AS wt
        |  FROM sdw),
        |calc AS (
        |  SELECT *, 10000.0 * wgt / wt AS raw FROM w),
        |fl AS (
        |  SELECT *,
        |    CASE WHEN wt > 0 THEN CAST(floor(raw) AS BIGINT) END AS flr,
        |    CAST(round((raw - floor(raw)) * 1000000.0) AS BIGINT) AS fracm
        |  FROM calc),
        |rk AS (
        |  SELECT *,
        |    CAST(row_number() OVER (ORDER BY fracm DESC, st ASC)
        |      AS BIGINT) AS r,
        |    (SELECT 10000 - sum(flr) FROM fl) AS rem
        |  FROM fl)
        |SELECT st AS source, n_rows, round(sd, 6) AS sd,
        |  CASE WHEN wt > 0 THEN round(wgt / wt, 6) END AS weight_share,
        |  CASE WHEN wt > 0 THEN
        |    flr + CASE WHEN r <= rem THEN 1 ELSE 0 END END AS alloc,
        |  CASE WHEN wt > 0 THEN least(
        |    flr + CASE WHEN r <= rem THEN 1 ELSE 0 END, n_rows) END
        |    AS feasible_alloc
        |FROM rk""".stripMargin),
    // purged temporal 5-fold split with a 1-hour embargo around fold
    // boundaries — the autocorrelation-leakage-safe CV assignment
    Query("q207_temporal_folds", (s, dir) =>
      Sampling.temporalFolds(t(s, dir, "events"), "event_id", "ts",
        5, 3600000L),
      // q207: identical integer-µs fold arithmetic (double division then
      // floor is bit-identical cross-engine below 2^53), same clamp trick
      {
      val e = 3600000L * 1000L
      def fold(t: String) =
        s"CAST(least(4, floor((greatest(b.lo, least(b.hi, $t)) - b.lo)" +
          s" * 5 / (b.hi - b.lo + 1))) AS INTEGER)"
      s"""WITH base AS (
         |  SELECT event_id, CAST(ts AS TIMESTAMP) AS ts,
         |    epoch_us(CAST(ts AS TIMESTAMP)) AS us
         |  FROM events WHERE ts IS NOT NULL),
         |b AS (SELECT min(us) AS lo, max(us) AS hi FROM base)
         |SELECT event_id, ts, ${fold("us")} AS fold,
         |  ${fold(s"us - $e")} <> ${fold(s"us + $e")} AS is_embargo
         |FROM base, b""".stripMargin
    }),
    // Pareto frontier of (length, lexical diversity): the docs no other
    // doc beats on both axes — multi-criteria curation without a
    // weighted collapse
    Query("q186_pareto_frontier", (s, dir) =>
      Sampling.paretoFrontier2D(
        t(s, dir, "documents").select(col("doc_id"), col("n_chars"),
          size(array_distinct(split(col("text"), " "))).cast("long")
            .as("distinct_toks")),
        "doc_id", "n_chars", "distinct_toks"),
      // q186: the O(n²) NOT-EXISTS skyline definition — the op's ordered
      // single-pass must select exactly this set
      """WITH v AS (SELECT doc_id, n_chars,
        |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
        |      AS distinct_toks
        |  FROM documents
        |  WHERE n_chars IS NOT NULL AND text IS NOT NULL)
        |SELECT doc_id, n_chars, distinct_toks FROM v p
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM v q
        |  WHERE q.n_chars >= p.n_chars AND q.distinct_toks >= p.distinct_toks
        |    AND (q.n_chars > p.n_chars OR q.distinct_toks > p.distinct_toks))""".stripMargin),
    // cross-source quantile normalization of doc length: each row mapped
    // to the global score at its source-local rank (100-point curve)
    Query("q180_quantile_normalize", (s, dir) =>
      Sampling.quantileNormalize(
        t(s, dir, "documents").select("doc_id", "source", "n_chars"),
        "doc_id", "source", "n_chars", 100),
      // q180: same exact-percentile grid (6 dp at build), same exact
      // cume_dist ranks and ceil cell mapping
      {
      val ps = (1 to 100).map(_.toDouble / 100)
      s"""WITH v AS (SELECT doc_id, source, n_chars AS score
         |  FROM documents WHERE n_chars IS NOT NULL),
         |g AS (SELECT list_transform(
         |    quantile_cont(score, [${ps.mkString(", ")}]),
         |    x -> round(x, 6)) AS grid FROM v),
         |p AS (SELECT doc_id, source, score,
         |    cume_dist() OVER (PARTITION BY source ORDER BY score) AS pp
         |  FROM v)
         |SELECT doc_id, source, score,
         |  grid[CAST(ceil(pp * 100) AS INTEGER)] AS norm_score
         |FROM p, g""".stripMargin
    }),
    // temperature-scaled source mixture (alpha = 0.3): tail sources keep
    // everything (rate 1), head sources damp toward the tempered share
    Query("q132_temperature_mix", (s, dir) =>
      graft.ops.Sampling.temperatureMixture(t(s, dir, "documents"), "source", 0.3),
      // q132: shares are exact integer ratios; pow and the divisions are
      // single double ops, so 6 dp rounding is engine-stable
      """WITH c AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
        |           FROM documents GROUP BY 1),
        |s AS (SELECT source, n_docs,
        |        CAST(n_docs AS DOUBLE) / CAST(sum(n_docs) OVER () AS DOUBLE) AS p
        |      FROM c),
        |t AS (SELECT source, n_docs, p,
        |        pow(p, 0.3) / sum(pow(p, 0.3)) OVER () AS q
        |      FROM s)
        |SELECT source, n_docs, round(p, 6) AS share, round(q, 6) AS temp_share,
        |  round((q / p) / max(q / p) OVER (), 6) AS sample_rate
        |FROM t""".stripMargin)
  )
}
