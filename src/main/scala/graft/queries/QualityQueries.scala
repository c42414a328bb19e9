package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ManifestRead

import graft.SparkEntry.t

import Shared._

/** Data-quality and statistical-audit queries over [[graft.ops.Quality]]:
  * profiles, drift, outlier and calibration audits, agreement statistics,
  * hypothesis tests and their intervals. */
private[graft] object QualityQueries {
  /** Per-group moment profile recompute — shared by q94 (batch) and q251
    * (the streaming power-sum merge twin). */
  private def momentsOracleSql: String =
    """WITH a AS (
      |  SELECT event_type, CAST(count(*) AS BIGINT) AS n, sum(value) AS s1,
      |    sum(value*value) AS s2, sum(value*value*value) AS s3,
      |    sum(value*value*value*value) AS s4
      |  FROM events WHERE value IS NOT NULL GROUP BY 1)
      |SELECT event_type, n,
      |  round(s1/n, 6) AS mean,
      |  round(s2/n - (s1/n)*(s1/n), 6) AS variance,
      |  round(CASE WHEN s2/n - (s1/n)*(s1/n) > 0 THEN
      |    (s3/n - 3.0*(s1/n)*(s2/n) + 2.0*(s1/n)*(s1/n)*(s1/n))
      |      / pow(s2/n - (s1/n)*(s1/n), 1.5) END, 6) AS skewness,
      |  round(CASE WHEN s2/n - (s1/n)*(s1/n) > 0 THEN
      |    (s4/n - 4.0*(s1/n)*(s3/n) + 6.0*(s1/n)*(s1/n)*(s2/n)
      |       - 3.0*(s1/n)*(s1/n)*(s1/n)*(s1/n))
      |      / ((s2/n - (s1/n)*(s1/n)) * (s2/n - (s1/n)*(s1/n))) - 3.0 END, 6) AS kurtosis
      |FROM a""".stripMargin

  val all: Seq[Query] = Seq(
    // fixed-width histogram profile of the event value column (edge
    // saturation, null-excluded) — one partial-agg pass
    Query("q61_histogram", (s, dir) =>
      graft.ops.Quality.histogram(t(s, dir, "events"), "value", 0, 100, 20),
      """SELECT greatest(0, least(19, CAST(floor((CAST(value AS DOUBLE) - 0.0) / 5.0) AS BIGINT))) AS bucket,
        |  count(*) AS n, min(CAST(value AS DOUBLE)) AS min_val, max(CAST(value AS DOUBLE)) AS max_val
        |FROM events WHERE value IS NOT NULL GROUP BY 1""".stripMargin),
    // robust outlier flags on event values: median ± 3·MAD (exact
    // percentiles; approx twin at scale)
    Query("q64_mad_outliers", (s, dir) =>
      graft.ops.Quality.madOutliers(t(s, dir, "events"), "value", 3.0)
        .select(col("event_id"), col("value"), col("med"), col("mad"),
          col("is_outlier")),
      """WITH med AS (
        |  SELECT round(quantile_cont(CAST(value AS DOUBLE), 0.5), 6) AS med0 FROM events),
        |m2 AS (
        |  SELECT round(quantile_cont(abs(CAST(value AS DOUBLE) - med0), 0.5), 6) AS mad,
        |    max(med0) AS med
        |  FROM events, med)
        |SELECT event_id, value, m2.med, m2.mad,
        |  CASE WHEN value IS NULL THEN FALSE
        |       ELSE abs(CAST(value AS DOUBLE) - m2.med) > m2.mad * 3.0 END AS is_outlier
        |FROM events, m2""".stripMargin),
    // referential-integrity audit: documents without an embedding (the FK
    // CHECK a lakehouse can't declare), one-row summary
    Query("q78_ref_audit", (s, dir) =>
      graft.ops.Quality.referentialAudit(
        t(s, dir, "documents"), t(s, dir, "embeddings"), "doc_id", "vec_id"),
      """SELECT CAST(count(*) AS BIGINT) AS n_child,
        |  CAST(sum(CASE WHEN e.vec_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans,
        |  CAST(sum(CASE WHEN e.vec_id IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) AS orphan_share
        |FROM documents d
        |LEFT JOIN (SELECT DISTINCT vec_id FROM embeddings) e ON d.doc_id = e.vec_id""".stripMargin),
    // the per-doc curation decision table: every quality signal + verdict
    Query("q89_scorecard", (s, dir) =>
      graft.ops.Quality.curationScorecard(
        t(s, dir, "documents"), "doc_id", "text", 40, 0.99, 0.9),
      s"""WITH feats AS (
         |  SELECT doc_id,
         |    CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
         |    CAST(length(replace(text, ' ', '')) AS DOUBLE)
         |      / CAST(len(string_split(text, ' ')) AS DOUBLE) AS avg_token_len,
         |    CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9 ]')) AS DOUBLE)
         |      / CAST(length(text) AS DOUBLE) AS punct_ratio,
         |    CAST(len(list_filter(string_split(text, ' '),
         |        w -> w IN ('the','a','of','and','to','in','is'))) AS DOUBLE)
         |      / CAST(len(string_split(text, ' ')) AS DOUBLE) AS stopword_ratio,
         |    $qualityCaseSql AS quality
         |  FROM documents),
         |rep AS (
         |  SELECT doc_id,
         |    CASE WHEN len(grams) <= 0 THEN 1.0
         |         ELSE CAST(len(list_distinct(grams)) AS DOUBLE) / CAST(len(grams) AS DOUBLE)
         |    END AS distinct_ngram_ratio
         |  FROM (SELECT doc_id, list_transform(generate_series(1, len(ts) - 2),
         |          i -> array_to_string(ts[i:i+2], ' ')) AS grams
         |        FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM documents))),
         |toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
         |stats AS (SELECT term, count(*) AS tf FROM toks GROUP BY 1),
         |vocab AS (SELECT term FROM stats ORDER BY tf DESC, term LIMIT 40),
         |fam AS (
         |  SELECT doc_id,
         |    CAST(sum(tf) AS DOUBLE) / count(*) AS familiarity,
         |    CAST(count(*) - sum(CASE WHEN iv THEN 1 ELSE 0 END) AS DOUBLE)
         |      / count(*) AS oov_rate
         |  FROM (SELECT t.doc_id, s.tf, v.term IS NOT NULL AS iv
         |        FROM toks t JOIN stats s USING (term) LEFT JOIN vocab v USING (term))
         |  GROUP BY 1)
         |SELECT f.doc_id, f.n_tokens, f.avg_token_len, f.punct_ratio,
         |  f.stopword_ratio, f.quality, r.distinct_ngram_ratio,
         |  m.familiarity, m.oov_rate,
         |  (f.quality <> 'low' AND r.distinct_ngram_ratio >= 0.99
         |    AND m.oov_rate <= 0.9) AS keep
         |FROM feats f JOIN rep r USING (doc_id) JOIN fam m USING (doc_id)""".stripMargin),
    // distribution-drift fingerprint: mean/variance/skewness/kurtosis per
    // event type from one pass of mergeable power sums
    Query("q94_value_moments", (s, dir) =>
      graft.ops.Quality.momentProfile(t(s, dir, "events"), "event_type", "value"),
      momentsOracleSql),
    // dataset-card column profiler: per-column nulls/distincts/ranges,
    // one pruned single-column scan each (no Expand)
    Query("q99_column_profile", (s, dir) =>
      graft.ops.Quality.columnProfile(t(s, dir, "lineitem"),
        Seq("l_orderkey", "l_suppkey", "l_quantity", "l_extendedprice",
          "l_returnflag", "l_shipdate")),
      {
      def prof(c: String, numeric: Boolean): String = {
        val mn = if (numeric) s"round(CAST(min($c) AS DOUBLE), 6)" else "CAST(NULL AS DOUBLE)"
        val mx = if (numeric) s"round(CAST(max($c) AS DOUBLE), 6)" else "CAST(NULL AS DOUBLE)"
        s"""SELECT '$c' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
           |  CAST(count(*) - count($c) AS BIGINT) AS n_null,
           |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
           |  $mn AS min_val, $mx AS max_val
           |FROM lineitem""".stripMargin
      }
      Seq("l_orderkey" -> true, "l_suppkey" -> true, "l_quantity" -> true,
        "l_extendedprice" -> true, "l_returnflag" -> false, "l_shipdate" -> false)
        .map((prof _).tupled).mkString("\nUNION ALL\n")
    }),
    // equi-depth price histogram: 10 equal-count buckets with ranges —
    // the skew-proof twin of the fixed-width q61
    Query("q103_equidepth", (s, dir) =>
      graft.ops.Quality.equiDepthHistogram(
        t(s, dir, "lineitem").select("l_extendedprice"), "l_extendedprice", 10),
      """WITH b AS (
        |  SELECT ntile(10) OVER (ORDER BY l_extendedprice) - 1 AS bucket,
        |    l_extendedprice AS v
        |  FROM lineitem WHERE l_extendedprice IS NOT NULL)
        |SELECT CAST(bucket AS BIGINT) AS bucket, CAST(count(*) AS BIGINT) AS n,
        |  min(v) AS min_val, max(v) AS max_val
        |FROM b GROUP BY 1""".stripMargin),
    // data-quality audit: per-rule violation counts in ONE scan (the CHECK
    // constraints the source schema declares, engine-side)
    Query("q55_quality_audit", (s, dir) => {
      import graft.ops.Quality
      val li = t(s, dir, "lineitem")
      Quality.auditCounts(li, Seq(
        Quality.Rule("qty_range", col("l_quantity") >= 1 && col("l_quantity") <= 30),
        Quality.Rule("price_positive", col("l_extendedprice") > 0),
        Quality.Rule("flag_domain", col("l_returnflag").isin("A", "N", "R")),
        Quality.Rule("discount_cap", col("l_discount") <= 0.05)))
    },
      """SELECT count(*) AS total_rows,
        |  CAST(sum(CASE WHEN NOT coalesce(l_quantity >= 1 AND l_quantity <= 30, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS viol_qty_range,
        |  CAST(sum(CASE WHEN NOT coalesce(l_extendedprice > 0, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS viol_price_positive,
        |  CAST(sum(CASE WHEN NOT coalesce(l_returnflag IN ('A','N','R'), FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS viol_flag_domain,
        |  CAST(sum(CASE WHEN NOT coalesce(l_discount <= 0.05, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS viol_discount_cap
        |FROM lineitem""".stripMargin),
    // incremental moment maintenance: per-day partials merged back to the
    // exact global profile — oracle is q94's direct SQL
    Query("q149_incremental_moments", (s, dir) =>
      graft.ops.Quality.mergeMoments(
        graft.ops.Quality.momentPartials(
          t(s, dir, "events"), "event_type", to_date(col("ts")), "value"),
        "event_type"),
      // q149: the DIRECT computation — partial-then-merge must land on the
      // exact same profile q94 pins
      """WITH a AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n, sum(value) AS s1,
        |    sum(value*value) AS s2, sum(value*value*value) AS s3,
        |    sum(value*value*value*value) AS s4
        |  FROM events WHERE value IS NOT NULL GROUP BY 1)
        |SELECT event_type, n,
        |  round(s1/n, 6) AS mean,
        |  round(s2/n - (s1/n)*(s1/n), 6) AS variance,
        |  round(CASE WHEN s2/n - (s1/n)*(s1/n) > 0 THEN
        |    (s3/n - 3.0*(s1/n)*(s2/n) + 2.0*(s1/n)*(s1/n)*(s1/n))
        |      / pow(s2/n - (s1/n)*(s1/n), 1.5) END, 6) AS skewness,
        |  round(CASE WHEN s2/n - (s1/n)*(s1/n) > 0 THEN
        |    (s4/n - 4.0*(s1/n)*(s3/n) + 6.0*(s1/n)*(s1/n)*(s2/n)
        |       - 3.0*(s1/n)*(s1/n)*(s1/n)*(s1/n))
        |      / ((s2/n - (s1/n)*(s1/n)) * (s2/n - (s1/n)*(s1/n))) - 3.0 END, 6) AS kurtosis
        |FROM a""".stripMargin),
    // winsorize event values into their exact [p05, p99] range
    Query("q162_winsorize", (s, dir) =>
      graft.ops.Quality.winsorize(t(s, dir, "events"), "event_id", "value",
        0.05, 0.99),
      // q162: 6 dp-rounded exact quantile bounds, then a scan-stage clip
      """WITH b AS (
        |  SELECT round(quantile_cont(value, 0.05), 6) AS lo,
        |    round(quantile_cont(value, 0.99), 6) AS hi
        |  FROM events WHERE value IS NOT NULL)
        |SELECT event_id, value,
        |  round(greatest(lo, least(hi, value)), 6) AS value_w,
        |  value < lo AS clipped_low, value > hi AS clipped_high
        |FROM events, b WHERE value IS NOT NULL""".stripMargin),
    // corpus card: token/doc counts at every (source, lang) grain with
    // grand-total shares — pre-reduced before the cube, q48's device
    Query("q140_corpus_card", (s, dir) =>
      graft.ops.Quality.corpusCard(t(s, dir, "documents"), "source", "lang",
        size(split(col("text"), " "))),
      // q140: pre-reduced cube with DuckDB's GROUPING mask as lvl
      """WITH pre AS (
        |  SELECT source, lang, count(*) AS n_docs,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY 1, 2),
        |tot AS (SELECT CAST(sum(n_tokens) AS DOUBLE) AS t FROM pre)
        |SELECT source, lang,
        |  CAST(GROUPING(source, lang) AS INTEGER) AS lvl,
        |  CAST(sum(n_docs) AS BIGINT) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
        |  round(CAST(sum(n_tokens) AS DOUBLE) / (SELECT t FROM tot), 6) AS token_share
        |FROM pre
        |GROUP BY CUBE (source, lang)""".stripMargin),
    // Poisson-bootstrap CI for the per-type mean value — the distributed
    // bootstrap (per-row Poisson(1) weights per replicate, md5-derived)
    // tableRebalanced: the 100x replicate fan-out inherits the scan's
    // partitioning — a one-file events drop would run every md5 draw on
    // a single core (no-op at scale)
    Query("q201_bootstrap_ci", (s, dir) =>
      graft.ops.Quality.bootstrapMeanCi(
        graft.core.Tables.tableRebalanced(s, dir, "events"),
        "event_type", "event_id", "value", 100, 0.05),
      // q201: the SAME Poisson ladder literals and md5-uniform replayed;
      // replicate means 6 dp-rounded BEFORE the percentile on both engines
      {
      val ladder = graft.ops.Quality.poissonLadder
      // slot-windowed hex parse: digest h carries FOUR 8-hex uniforms;
      // replicate j = blk*4 + slot reads chars 8·slot+1 .. 8·slot+8
      val slotU = (1 to 8).map(k =>
        s"(strpos('0123456789abcdef', substr(h, 8 * slot + $k, 1)) - 1) " +
          s"* ${math.pow(16, 8 - k).toLong}").mkString(" + ")
      val wExpr = ladder.map(c => s"(CASE WHEN u >= $c THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""WITH base AS (
         |  SELECT event_type AS g, event_id AS id, CAST(value AS DOUBLE) AS v
         |  FROM events WHERE value IS NOT NULL),
         |stats AS (SELECT g, CAST(count(*) AS BIGINT) AS n_rows,
         |            round(avg(v), 6) AS mean FROM base GROUP BY 1),
         |hashed AS (
         |  SELECT g, blk, v,
         |    md5('boot|' || CAST(blk AS VARCHAR) || '|' || CAST(id AS VARCHAR))
         |      AS h
         |  FROM base CROSS JOIN generate_series(0, 24) AS t(blk)),
         |drawn AS (
         |  SELECT g, j, v, $wExpr AS w FROM (
         |    SELECT g, blk * 4 + slot AS j, v,
         |      CAST($slotU AS DOUBLE) / 4294967296.0 AS u
         |    FROM hashed CROSS JOIN generate_series(0, 3) AS s(slot))),
         |reps AS (
         |  SELECT g, j,
         |    round(CASE WHEN sum(w) > 0 THEN sum(w * v) / sum(w) END, 6) AS m
         |  FROM drawn GROUP BY 1, 2),
         |ci AS (
         |  SELECT g, round(quantile_cont(m, 0.025), 6) AS ci_lo,
         |    round(quantile_cont(m, 0.975), 6) AS ci_hi
         |  FROM reps WHERE m IS NOT NULL GROUP BY 1)
         |SELECT s.g AS event_type, s.n_rows, s.mean, ci.ci_lo, ci.ci_hi
         |FROM stats s JOIN ci ON s.g = ci.g""".stripMargin
    }),
    // Welch A/B readout over an md5 user split: per event_type, the
    // treatment-control value delta with the unpooled z-interval
    Query("q202_ab_welch", (s, dir) => {
      val variant = when(pmod(conv(substring(md5(col("user_id").cast("string")),
        1, 8), 16, 10).cast("long"), lit(2)) === 0, "a").otherwise("b")
      graft.ops.Quality.welchAbTest(
        t(s, dir, "events").withColumn("variant", variant),
        "event_type", "variant", "value", "a", "b")
    },
      // q202: identical moment arithmetic; z interpolated from the SAME
      // Scala double so the interval bounds are bit-identical
      {
      val z = 1.959963984540054
      s"""WITH e AS (
         |  SELECT event_type AS g,
         |    CASE WHEN ${md5ModSql("user_id", 2)} = 0 THEN 'a' ELSE 'b' END AS var,
         |    CAST(value AS DOUBLE) AS v
         |  FROM events WHERE value IS NOT NULL),
         |red AS (SELECT g, var, CAST(count(*) AS BIGINT) AS n,
         |          sum(v) AS s, sum(v * v) AS s2 FROM e GROUP BY 1, 2),
         |piv AS (SELECT g,
         |    coalesce(max(CASE WHEN var = 'a' THEN n END), 0) AS n_a,
         |    coalesce(max(CASE WHEN var = 'b' THEN n END), 0) AS n_b,
         |    max(CASE WHEN var = 'a' THEN s END) AS sa,
         |    max(CASE WHEN var = 'b' THEN s END) AS sb,
         |    max(CASE WHEN var = 'a' THEN s2 END) AS sa2,
         |    max(CASE WHEN var = 'b' THEN s2 END) AS sb2
         |  FROM red GROUP BY 1),
         |c AS (SELECT g, n_a, n_b,
         |    sa / n_a AS ma, sb / n_b AS mb,
         |    (sa2 - sa * sa / n_a) / (n_a - 1.0) AS va,
         |    (sb2 - sb * sb / n_b) / (n_b - 1.0) AS vb,
         |    n_a >= 2 AND n_b >= 2 AS ok
         |  FROM piv)
         |SELECT g AS event_type, n_a, n_b,
         |  CASE WHEN n_a > 0 THEN round(ma, 6) END AS mean_a,
         |  CASE WHEN n_b > 0 THEN round(mb, 6) END AS mean_b,
         |  CASE WHEN n_a > 0 AND n_b > 0 THEN round(mb - ma, 6) END AS diff,
         |  CASE WHEN ok THEN
         |    round(mb - ma - $z * sqrt(va / n_a + vb / n_b), 6) END AS ci_lo,
         |  CASE WHEN ok THEN
         |    round(mb - ma + $z * sqrt(va / n_a + vb / n_b), 6) END AS ci_hi,
         |  coalesce(CASE WHEN ok THEN
         |    mb - ma - $z * sqrt(va / n_a + vb / n_b) > 0.0
         |    OR mb - ma + $z * sqrt(va / n_a + vb / n_b) < 0.0 END, false)
         |    AS significant
         |FROM c""".stripMargin
    }),
    // per-class precision/recall/F1 against a deterministic noisy
    // predictor (hex digits 0-2 → ~19% of events mislabeled as 'click')
    Query("q189_classification_report", (s, dir) =>
      graft.ops.Quality.classificationReport(
        t(s, dir, "events").withColumn("pred",
          when(substring(md5(col("event_id").cast("string")), 1, 1) < "3",
            lit("click")).otherwise(col("event_type"))),
        "event_type", "pred"),
      // q189: same confusion reduction, rounded precision/recall feeding
      // the F1, null-not-NaN degenerate cells
      """WITH pr AS (SELECT event_type AS l,
        |    CASE WHEN substr(md5(CAST(event_id AS VARCHAR)), 1, 1) < '3'
        |      THEN 'click' ELSE event_type END AS p FROM events),
        |m AS (SELECT l, p, count(*) AS n FROM pr GROUP BY 1, 2),
        |bt AS (SELECT l AS clazz, CAST(sum(n) AS BIGINT) AS n_true
        |  FROM m GROUP BY 1),
        |bp AS (SELECT p AS clazz, CAST(sum(n) AS BIGINT) AS n_pred
        |  FROM m GROUP BY 1),
        |tpc AS (SELECT l AS clazz, CAST(n AS BIGINT) AS tp FROM m
        |  WHERE l IS NOT DISTINCT FROM p),
        |j AS (SELECT coalesce(bt.clazz, bp.clazz) AS clazz,
        |    coalesce(n_true, 0) AS n_true, coalesce(n_pred, 0) AS n_pred
        |  FROM bt FULL OUTER JOIN bp
        |  ON bt.clazz IS NOT DISTINCT FROM bp.clazz),
        |r AS (SELECT j.clazz, j.n_true, j.n_pred, coalesce(tpc.tp, 0) AS tp
        |  FROM j LEFT JOIN tpc ON j.clazz IS NOT DISTINCT FROM tpc.clazz),
        |f AS (SELECT clazz, n_true, n_pred, tp,
        |  CASE WHEN n_pred = 0 THEN NULL
        |    ELSE round(CAST(tp AS DOUBLE) / n_pred, 6) END AS "precision",
        |  CASE WHEN n_true = 0 THEN NULL
        |    ELSE round(CAST(tp AS DOUBLE) / n_true, 6) END AS "recall"
        |  FROM r)
        |SELECT clazz, n_true, n_pred, tp, "precision", "recall",
        |  CASE WHEN "precision" IS NULL OR "recall" IS NULL
        |      OR "precision" + "recall" = 0 THEN NULL
        |  ELSE round(2.0 * "precision" * "recall" /
        |    ("precision" + "recall"), 6) END AS f1
        |FROM f""".stripMargin),
    // daily PSI curve vs the first day's value distribution — drift
    // observability over time, not one two-snapshot compare
    Query("q190_psi_timeline", (s, dir) =>
      graft.ops.Quality.psiTimeline(t(s, dir, "events"), "ts", "value",
        0.0, 250.0, 20),
      // q190: same (day, bin) reduction, baseline = min day, add-one
      // shares, per-day summed contribs rounded at the end
      """WITH c AS (SELECT CAST(ts AS DATE) AS day,
        |    greatest(0, least(19,
        |      CAST(floor((CAST(value AS DOUBLE) - 0.0) / 12.5) AS BIGINT)))
        |      AS bin, count(*) AS n
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
        |days AS (SELECT DISTINCT day FROM c),
        |bins AS (SELECT unnest(generate_series(0, 19)) AS bin),
        |g AS (SELECT d.day, b.bin, coalesce(c.n, 0) AS n
        |  FROM days d CROSS JOIN bins b
        |  LEFT JOIN c ON c.day = d.day AND c.bin = b.bin),
        |t AS (SELECT day, CAST(sum(n) AS BIGINT) AS tt FROM g GROUP BY 1),
        |bl AS (SELECT g.bin,
        |    CAST(g.n + 1 AS DOUBLE) / CAST(t.tt + 20 AS DOUBLE) AS pb
        |  FROM g JOIN t USING (day)
        |  WHERE g.day = (SELECT min(day) FROM t)),
        |x AS (SELECT g.day, t.tt,
        |    (CAST(g.n + 1 AS DOUBLE) / CAST(t.tt + 20 AS DOUBLE) - bl.pb) *
        |      ln((CAST(g.n + 1 AS DOUBLE) / CAST(t.tt + 20 AS DOUBLE))
        |        / bl.pb) AS contrib
        |  FROM g JOIN t USING (day) JOIN bl USING (bin))
        |SELECT day, CAST(max(tt) AS BIGINT) AS n_rows,
        |  round(sum(contrib), 6) AS psi
        |FROM x GROUP BY 1""".stripMargin),
    // leave-one-out smoothed target encoding of event_type by value —
    // the leakage-safe categorical feature (a row never sees its own
    // label; m=20 pseudo-rows shrink rare keys toward the prior)
    Query("q204_target_encoding", (s, dir) =>
      graft.ops.Quality.targetEncoding(
        t(s, dir, "events"), "event_type", "event_id", "value", 20.0),
      // q204: identical LOO arithmetic — group sums, the global prior, the
      // same m literal; 6 dp round covers sum-order ulps (~1e-14)
      """WITH base AS (
        |  SELECT event_id, event_type, CAST(value AS DOUBLE) AS value
        |  FROM events WHERE value IS NOT NULL),
        |g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n, sum(value) AS s
        |      FROM base GROUP BY 1),
        |p AS (SELECT sum(value) / count(*) AS prior FROM base)
        |SELECT b.event_id, b.event_type, b.value,
        |  CASE WHEN g.n - 1 + 20.0 > 0 THEN
        |    round((g.s - b.value + 20.0 * p.prior) / (g.n - 1 + 20.0), 6)
        |  END AS te
        |FROM base b JOIN g USING (event_type) CROSS JOIN p""".stripMargin),
    // pairwise Pearson matrix over the lineitem numerics in ONE pass —
    // the feature-redundancy audit (near-±1 pairs are duplicate signals)
    Query("q205_corr_matrix", (s, dir) =>
      graft.ops.Quality.correlationMatrix(
        t(s, dir, "lineitem"),
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")),
      // q205: the same guarded covar_samp/stddev_samp ratio — both engines'
      // merge-stable co-moments agree to ~1e-13, far below the 6 dp
      // quantum; listwise completion fixes one shared row set
      {
      def r(a: String, b: String) =
        s"CASE WHEN count(*) > 1 AND stddev_samp($a) > 0 AND stddev_samp($b) > 0" +
          s" THEN covar_samp($a, $b) / (stddev_samp($a) * stddev_samp($b)) END"
      s"""WITH c AS (
        |  SELECT CAST(l_quantity AS DOUBLE) AS q,
        |         CAST(l_extendedprice AS DOUBLE) AS e,
        |         CAST(l_discount AS DOUBLE) AS d,
        |         CAST(l_tax AS DOUBLE) AS t
        |  FROM lineitem
        |  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
        |    AND l_discount IS NOT NULL AND l_tax IS NOT NULL),
        |one AS (SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  ${r("q", "e")} AS c1, ${r("q", "d")} AS c2, ${r("q", "t")} AS c3,
        |  ${r("e", "d")} AS c4, ${r("e", "t")} AS c5, ${r("d", "t")} AS c6 FROM c)
        |SELECT p.col_a, p.col_b, one.n_rows,
        |  round(p.v, 6) + 0.0 AS corr
        |FROM one, LATERAL (VALUES
        |  ('l_quantity', 'l_extendedprice', one.c1),
        |  ('l_quantity', 'l_discount', one.c2),
        |  ('l_quantity', 'l_tax', one.c3),
        |  ('l_extendedprice', 'l_discount', one.c4),
        |  ('l_extendedprice', 'l_tax', one.c5),
        |  ('l_discount', 'l_tax', one.c6)) AS p(col_a, col_b, v)""".stripMargin
    }),
    // epsilon-DP group counts under deterministic inverse-CDF Laplace
    // noise keyed on md5(group) - replay-stable release, no fresh-noise
    // averaging attack surface
    Query("q229_dp_counts", (s, dir) =>
      graft.ops.Quality.dpNoisedCounts(t(s, dir, "documents"),
        Seq("source", "lang"), 1.0),
      // q229: the same nibble-arithmetic uniform off md5(group key), then
      // the inverse-CDF Laplace at sensitivity 1 / epsilon 1
      {
      val nib = (k: Int) =>
        s"(strpos('0123456789abcdef', substr(hx, $k, 1)) - 1)"
      val prefix = (1 to 8).map(k =>
        s"${nib(k)} * ${math.pow(16, 8 - k).toLong}").mkString(" + ")
      s"""WITH g AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS n
         |  FROM documents GROUP BY 1, 2),
         |h AS (SELECT *, md5(concat_ws('|',
         |    coalesce(CAST(source AS VARCHAR), '<null>'),
         |    coalesce(CAST(lang AS VARCHAR), '<null>'))) AS hx FROM g),
         |u AS (SELECT source, lang, n,
         |    (CAST($prefix AS DOUBLE) + 0.5) / 4294967296.0 - 0.5 AS uu
         |  FROM h)
         |SELECT source, lang, n,
         |  round(n + (-1.0) * sign(uu) * ln(1.0 - 2.0 * abs(uu)), 6)
         |    AS n_noisy,
         |  CAST(1.0 AS DOUBLE) AS epsilon FROM u""".stripMargin
    }),
    // weight-of-evidence + information value of order priority vs the
    // fulfilled flag (add-half smoothing; exact integer shares)
    Query("q230_woe_iv", (s, dir) =>
      graft.ops.Quality.woeIv(
        t(s, dir, "orders").withColumn("is_f",
          (col("o_orderstatus") === "F").cast("int")),
        "o_orderpriority", "is_f"),
      // q230: add-half smoothed WOE shares as explicit double ratios
      """WITH c AS (SELECT o_orderpriority AS category,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_pos
        |  FROM orders WHERE o_orderstatus IS NOT NULL GROUP BY 1),
        |c2 AS (SELECT category, n, n_pos, n - n_pos AS n_neg FROM c),
        |t AS (SELECT CAST(sum(n_pos) AS BIGINT) AS pt,
        |    CAST(sum(n_neg) AS BIGINT) AS nt,
        |    CAST(count(*) AS DOUBLE) AS cc FROM c2),
        |s AS (SELECT c2.*,
        |    (CAST(n_pos AS DOUBLE) + 0.5) / (CAST(pt AS DOUBLE) + 0.5 * cc)
        |      AS sp,
        |    (CAST(n_neg AS DOUBLE) + 0.5) / (CAST(nt AS DOUBLE) + 0.5 * cc)
        |      AS sn
        |  FROM c2, t),
        |s2 AS (SELECT category, n, n_pos, n_neg,
        |    round(ln(sp / sn), 6) AS woe,
        |    round((sp - sn) * ln(sp / sn), 6) AS iv_contrib FROM s),
        |iv AS (SELECT round(sum(iv_contrib), 6) AS ivt FROM s2)
        |SELECT s2.category, s2.n, s2.n_pos, s2.n_neg, s2.woe,
        |  s2.iv_contrib, iv.ivt AS iv_total FROM s2, iv""".stripMargin),
    // Benford first-digit audit of the revenue column (string-derived
    // digit grid — exact; only the shares round)
    Query("q242_benford_audit", (s, dir) =>
      graft.ops.Quality.benfordAudit(t(s, dir, "lineitem"),
        "l_extendedprice"),
      // q242: digit from the value's decimal string (exact), Benford
      // shares via the same ln-ratio both engines round at 6 dp
      """WITH d AS (SELECT regexp_extract(CAST(l_extendedprice AS VARCHAR),
        |      '[1-9]', 0) AS digit
        |  FROM lineitem
        |  WHERE l_extendedprice IS NOT NULL AND l_extendedprice > 0
        |    AND regexp_extract(CAST(l_extendedprice AS VARCHAR),
        |      '[1-9]', 0) <> ''),
        |c AS (SELECT digit, count(*) AS n FROM d GROUP BY 1),
        |t AS (SELECT CAST(sum(n) AS DOUBLE) AS tot FROM c),
        |s AS (SELECT digit, CAST(n AS BIGINT) AS n,
        |    round(CAST(n AS DOUBLE) / tot, 6) AS share,
        |    round(ln(1.0 + 1.0 / CAST(digit AS DOUBLE)) / ln(10.0), 6)
        |      AS benford_share
        |  FROM c, t)
        |SELECT digit, n, share, benford_share,
        |  round(abs(share - benford_share), 6) AS abs_gap
        |FROM s""".stripMargin),
    // Cohen's kappa between the true type and q189's deterministic noisy
    // rater (~19% of events md5-flipped to 'click') - labeling QA
    Query("q247_cohens_kappa", (s, dir) =>
      graft.ops.Quality.cohensKappa(
        t(s, dir, "events").withColumn("pred",
          when(substring(md5(col("event_id").cast("string")), 1, 1) < "3",
            lit("click")).otherwise(col("event_type"))),
        "event_type", "pred"),
      // q247: same md5 noisy rater as q189; po/pe/kappa are single
      // divisions of exact LONG counts - no accumulation order to drift
      """WITH p AS (SELECT event_type AS r1,
        |    CASE WHEN substr(md5(CAST(event_id AS VARCHAR)), 1, 1) < '3'
        |      THEN 'click' ELSE event_type END AS r2
        |  FROM events WHERE event_type IS NOT NULL),
        |g AS (SELECT r1, r2, count(*) AS c FROM p GROUP BY 1, 2),
        |n AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM g),
        |a AS (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS agree
        |  FROM g WHERE r1 = r2),
        |m1 AS (SELECT r1, sum(c) AS c1 FROM g GROUP BY 1),
        |m2 AS (SELECT r2, sum(c) AS c2 FROM g GROUP BY 1),
        |ch AS (SELECT CAST(coalesce(sum(c1 * c2), 0) AS BIGINT) AS chance
        |  FROM m1 JOIN m2 ON m1.r1 = m2.r2)
        |SELECT n, round(CAST(agree AS DOUBLE) / CAST(n AS DOUBLE), 6) AS po,
        |  round(CAST(chance AS DOUBLE) / CAST(n * n AS DOUBLE), 6) AS pe,
        |  CASE WHEN chance < n * n THEN
        |    round((CAST(agree AS DOUBLE) / CAST(n AS DOUBLE)
        |      - CAST(chance AS DOUBLE) / CAST(n * n AS DOUBLE))
        |      / (1.0 - CAST(chance AS DOUBLE) / CAST(n * n AS DOUBLE)), 6)
        |  END AS kappa
        |FROM n, a, ch WHERE n > 0""".stripMargin),
    // gains/lift table over score deciles (rank-div buckets, exact
    // integer ratios) - the targeting readout next to q187's ROC-AUC
    Query("q248_gains_table", (s, dir) =>
      graft.ops.Quality.gainsTable(
        t(s, dir, "events").withColumn("lbl", col("user_id") % 2 === 0),
        "event_id", "value", "lbl", 10),
      // q248: row_number replay of the rank-div buckets; every ratio is
      // one division of exact LONG products
      """WITH b AS (SELECT event_id, CAST(value AS DOUBLE) AS s,
        |    CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS y
        |  FROM events WHERE value IS NOT NULL),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(coalesce(sum(y), 0) AS BIGINT) AS pos FROM b),
        |r AS (SELECT y, ((row_number() OVER (ORDER BY s DESC, event_id) - 1)
        |    * 10) // n AS bkt FROM b, nn),
        |g AS (SELECT bkt, CAST(count(*) AS BIGINT) AS nb,
        |    CAST(coalesce(sum(y), 0) AS BIGINT) AS pb FROM r GROUP BY 1),
        |c AS (SELECT *, CAST(sum(pb) OVER (ORDER BY bkt
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum FROM g)
        |SELECT bkt AS bucket, nb AS n, pb AS n_pos,
        |  round(CAST(pb AS DOUBLE) / CAST(nb AS DOUBLE), 6) AS resp_rate,
        |  CASE WHEN pos > 0 THEN
        |    round(CAST(cum AS DOUBLE) / CAST(pos AS DOUBLE), 6)
        |  END AS cum_capture,
        |  CASE WHEN pos > 0 THEN
        |    round(CAST(pb * n AS DOUBLE) / CAST(nb * pos AS DOUBLE), 6)
        |  END AS lift
        |FROM c, nn""".stripMargin),
    // unbiased pass@k over the event log: user = task, purchase =
    // success; the combinatorial estimator, not the biased first-k cut
    Query("q265_pass_at_k", (s, dir) =>
      graft.ops.Quality.passAtK(
        t(s, dir, "events").withColumn("ok",
          col("event_type") === "purchase"),
        "user_id", "ok", Seq(1, 5, 10)),
      // q265: per-task (n, c) reduce, then the unrolled product
      // Pi (n-c-i)/(n-i) in the same left-to-right order per k
      {
      val parts = Seq(1, 5, 10).map { k =>
        val prod = (0 until k).foldLeft("1.0") { (e, i) =>
          s"($e * (CAST(n - c - $i AS DOUBLE) / CAST(n - $i AS DOUBLE)))"
        }
        s"""SELECT $k AS k, CAST(count(*) AS BIGINT) AS n_tasks,
           |  round(avg(1.0 - $prod), 6) AS mean_pass_at_k
           |FROM per WHERE n >= $k""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH per AS (
         |  SELECT user_id, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
         |      AS BIGINT) AS c
         |  FROM events GROUP BY 1)
         |$parts""".stripMargin
    }),
    // Fleiss' kappa over a deterministic 5-event panel per user (panel
    // picked by event_id - a total order both engines replay; users with
    // fewer than 5 events drop out inside the operator)
    Query("q267_fleiss_kappa", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("event_id")
      graft.ops.Quality.fleissKappa(
        t(s, dir, "events")
          .withColumn("__r", row_number().over(w)).where(col("__r") <= 5),
        "user_id", "event_type", 5)
    },
      // q267: the same exact-integer Fleiss reduction - P-bar and P_e are
      // single divisions of integer sums (HUGEINT where the square can
      // overflow), kappa uses the UNROUNDED ratios like the Spark side
      """WITH panel AS (
        |  SELECT user_id, event_type FROM (
        |    SELECT user_id, event_type,
        |      row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS r
        |    FROM events) WHERE r <= 5),
        |grid AS (
        |  SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS c
        |  FROM panel WHERE event_type IS NOT NULL GROUP BY 1, 2),
        |kept AS (
        |  SELECT * FROM (
        |    SELECT user_id, event_type, c,
        |      CAST(SUM(c) OVER (PARTITION BY user_id) AS BIGINT) AS tot
        |    FROM grid) WHERE tot = 5),
        |it AS (
        |  SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_items,
        |    CAST(sum(c * c) AS BIGINT) AS sumsq
        |  FROM kept),
        |mg AS (
        |  SELECT CAST(sum(cj * cj) AS HUGEINT) AS sumcj2 FROM
        |    (SELECT CAST(sum(c) AS HUGEINT) AS cj FROM kept GROUP BY event_type)),
        |vals AS (
        |  SELECT n_items, sumcj2,
        |    CAST(n_items * 5 AS HUGEINT) * CAST(n_items * 5 AS HUGEINT) AS nn2,
        |    CAST(sumsq - n_items * 5 AS DOUBLE)
        |      / CAST(n_items * 5 * 4 AS DOUBLE) AS pb,
        |    CAST(sumcj2 AS DOUBLE)
        |      / CAST(CAST(n_items * 5 AS HUGEINT)
        |             * CAST(n_items * 5 AS HUGEINT) AS DOUBLE) AS pe
        |  FROM it, mg WHERE n_items > 0)
        |SELECT n_items, CAST(5 AS INTEGER) AS n_raters,
        |  round(pb, 6) AS p_bar, round(pe, 6) AS p_e,
        |  CASE WHEN CAST(sumcj2 AS DOUBLE) < CAST(nn2 AS DOUBLE)
        |    THEN round((pb - pe) / (1.0 - pe), 6) END AS kappa
        |FROM vals""".stripMargin),
    // Krippendorff's alpha over VARYING panel sizes (<= 7 events per
    // user, any user with >= 2 pairable) - the missing-data agreement
    // coefficient q267's fixed-panel Fleiss cannot express
    Query("q271_krippendorff", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("event_id")
      graft.ops.Quality.krippendorffAlpha(
        t(s, dir, "events")
          .withColumn("__r", row_number().over(w)).where(col("__r") <= 7),
        "user_id", "event_type")
    },
      // q271: coincidence-matrix Krippendorff with the same micro-snapped
      // per-item disagreement; category squares ride HUGEINT
      """WITH panel AS (
        |  SELECT user_id, event_type FROM (
        |    SELECT user_id, event_type,
        |      row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS r
        |    FROM events) WHERE r <= 7),
        |grid AS (
        |  SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS c
        |  FROM panel WHERE event_type IS NOT NULL GROUP BY 1, 2),
        |items AS (
        |  SELECT user_id, CAST(sum(c) AS BIGINT) AS m,
        |    CAST(sum(c * c) AS BIGINT) AS sq
        |  FROM grid GROUP BY 1 HAVING CAST(sum(c) AS BIGINT) >= 2),
        |obs AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_items,
        |    CAST(sum(m) AS BIGINT) AS n,
        |    CAST(sum(CAST(round(CAST(m * m - sq AS DOUBLE) * 1000000.0
        |      / CAST(m - 1 AS DOUBLE)) AS BIGINT)) AS BIGINT) AS o
        |  FROM items),
        |marg AS (
        |  SELECT CAST(sum(nc * nc) AS HUGEINT) AS sumnc2 FROM (
        |    SELECT CAST(sum(g.c) AS HUGEINT) AS nc
        |    FROM grid g JOIN items i USING (user_id) GROUP BY g.event_type)),
        |vals AS (
        |  SELECT n_items, n, o,
        |    CAST(CAST(n AS HUGEINT) * CAST(n AS HUGEINT) - sumnc2 AS DOUBLE)
        |      AS den,
        |    CAST(CAST(n AS HUGEINT) * (CAST(n AS HUGEINT) - 1) AS DOUBLE)
        |      AS pairs
        |  FROM obs, marg WHERE n > 0)
        |SELECT n_items, n AS n_ratings,
        |  round(CAST(o AS DOUBLE) / 1000000.0 / CAST(n AS DOUBLE), 6) AS d_o,
        |  round(den / pairs, 6) AS d_e,
        |  CASE WHEN den > 0.0 THEN
        |    round(1.0 - CAST(o AS DOUBLE) / 1000000.0
        |      * CAST(n - 1 AS DOUBLE) / den, 6) END AS alpha
        |FROM vals""".stripMargin),
    // Murphy decomposition of the Brier score over the q173 forecast:
    // calibration error vs discrimination vs base rate, residual
    // within-bin variance emitted explicitly
    Query("q272_brier_decomposition", (s, dir) =>
      graft.ops.Quality.brierDecomposition(
        t(s, dir, "events")
          .withColumn("score", least(lit(1.0), col("value") / 250.0))
          .withColumn("converted", col("event_type") === "purchase"),
        "score", "converted", 10),
      // q272: the q173 forecast, bin sums as exact integers (picto-exact
      // per-row squares), per-bin terms micro-snapped like the Spark side
      """WITH rows0 AS (
        |  SELECT round(least(1.0, CAST(value AS DOUBLE) / 250.0), 6) AS f,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        |  FROM events
        |  WHERE least(1.0, CAST(value AS DOUBLE) / 250.0) IS NOT NULL
        |    AND event_type IS NOT NULL),
        |r2 AS (
        |  SELECT greatest(0, least(CAST(floor(f * 10) AS BIGINT), 9)) AS b, y,
        |    CAST(round(f * 1000000.0) AS BIGINT) AS fm,
        |    CAST(round((f - y) * (f - y) * 1000000000000.0) AS HUGEINT) AS e
        |  FROM rows0),
        |bins AS (
        |  SELECT b, CAST(count(*) AS BIGINT) AS nk, CAST(sum(y) AS BIGINT)
        |      AS ok, CAST(sum(fm) AS BIGINT) AS fmk,
        |    CAST(sum(e) AS HUGEINT) AS ek
        |  FROM r2 GROUP BY 1),
        |tot AS (
        |  SELECT CAST(sum(nk) AS BIGINT) AS n, CAST(sum(ok) AS BIGINT) AS o,
        |    CAST(sum(ek) AS HUGEINT) AS e
        |  FROM bins),
        |terms AS (
        |  SELECT
        |    CAST(sum(CAST(round((CAST(fmk AS DOUBLE) / 1000000.0
        |        - CAST(ok AS DOUBLE))
        |      * (CAST(fmk AS DOUBLE) / 1000000.0 - CAST(ok AS DOUBLE))
        |      * 1000000.0 / CAST(nk AS DOUBLE)) AS BIGINT)) AS BIGINT) AS rl,
        |    CAST(sum(CAST(round((CAST(ok AS DOUBLE) - CAST(nk AS DOUBLE)
        |        * CAST(tot.o AS DOUBLE) / CAST(tot.n AS DOUBLE))
        |      * (CAST(ok AS DOUBLE) - CAST(nk AS DOUBLE)
        |        * CAST(tot.o AS DOUBLE) / CAST(tot.n AS DOUBLE))
        |      * 1000000.0 / CAST(nk AS DOUBLE)) AS BIGINT)) AS BIGINT) AS rs
        |  FROM bins, tot)
        |SELECT tot.n AS n,
        |  round(CAST(tot.e AS DOUBLE) / 1000000000000.0
        |    / CAST(tot.n AS DOUBLE), 6) AS brier,
        |  round(CAST(terms.rl AS DOUBLE) / 1000000.0 / CAST(tot.n AS DOUBLE),
        |    6) AS reliability,
        |  round(CAST(terms.rs AS DOUBLE) / 1000000.0 / CAST(tot.n AS DOUBLE),
        |    6) AS resolution,
        |  round((CAST(tot.o AS DOUBLE) / CAST(tot.n AS DOUBLE))
        |    * (1.0 - CAST(tot.o AS DOUBLE) / CAST(tot.n AS DOUBLE)), 6)
        |    AS uncertainty,
        |  round(CAST(tot.e AS DOUBLE) / 1000000000000.0
        |      / CAST(tot.n AS DOUBLE)
        |    - (CAST(terms.rl AS DOUBLE) / 1000000.0 / CAST(tot.n AS DOUBLE)
        |      - CAST(terms.rs AS DOUBLE) / 1000000.0 / CAST(tot.n AS DOUBLE)
        |      + (CAST(tot.o AS DOUBLE) / CAST(tot.n AS DOUBLE))
        |        * (1.0 - CAST(tot.o AS DOUBLE) / CAST(tot.n AS DOUBLE))), 6)
        |    + 0.0 AS within_bin_var
        |FROM tot, terms WHERE tot.n > 0""".stripMargin),
    // rank-based two-sample test: per-nation Mann-Whitney U of order
    // totals, BUILDING vs MACHINERY segments (+ Cliff's delta effect size)
    Query("q274_mann_whitney", (s, dir) => {
      val o = t(s, dir, "orders").select(col("o_custkey"), col("o_totalprice"))
      val c = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"), col("c_mktsegment"))
      graft.ops.Quality.mannWhitneyU(
        o.join(c, col("o_custkey") === col("c_custkey")),
        "c_nationkey", "c_mktsegment", "o_totalprice",
        "BUILDING", "MACHINERY")
    },
      // q274: the same micro-snapped rank-sum reduction — average ranks
      // via the exclusive cumsum, tie-corrected sigma, exact HUGEINT 2R
      """WITH j AS (
        |  SELECT c.c_nationkey AS g, c.c_mktsegment AS var,
        |    CAST(round(CAST(o.o_totalprice AS DOUBLE) * 1000000.0)
        |      AS BIGINT) AS vm
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |  WHERE c.c_mktsegment IN ('BUILDING', 'MACHINERY')
        |    AND o.o_totalprice IS NOT NULL),
        |grid AS (
        |  SELECT g, vm,
        |    CAST(count(*) FILTER (var = 'BUILDING') AS HUGEINT) AS ca,
        |    CAST(count(*) FILTER (var = 'MACHINERY') AS HUGEINT) AS cb
        |  FROM j GROUP BY 1, 2),
        |win AS (
        |  SELECT g, ca, cb, ca + cb AS t,
        |    COALESCE(sum(ca + cb) OVER (PARTITION BY g ORDER BY vm
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |      0) AS cum
        |  FROM grid),
        |red AS (
        |  SELECT g, CAST(sum(ca) AS BIGINT) AS n_a,
        |    CAST(sum(cb) AS BIGINT) AS n_b,
        |    CAST(sum(ca * (cum * 2 + t + 1)) AS HUGEINT) AS r2,
        |    CAST(sum(t * t * t - t) AS HUGEINT) AS ties
        |  FROM win GROUP BY 1),
        |st AS (
        |  SELECT g, n_a, n_b,
        |    r2 - CAST(n_a AS HUGEINT) * (CAST(n_a AS HUGEINT) + 1) AS u2,
        |    CAST(CAST(n_a AS HUGEINT) * CAST(n_b AS HUGEINT) AS DOUBLE)
        |      AS nm,
        |    CAST(CAST(n_a AS HUGEINT) * CAST(n_b AS HUGEINT) AS DOUBLE)
        |      / 12.0 *
        |      (CAST(CAST(n_a AS HUGEINT) + n_b + 1 AS DOUBLE)
        |       - CAST(ties AS DOUBLE)
        |         / CAST((CAST(n_a AS HUGEINT) + n_b)
        |             * (CAST(n_a AS HUGEINT) + n_b - 1) AS DOUBLE))
        |      AS sigma2
        |  FROM red)
        |SELECT g AS c_nationkey, n_a, n_b,
        |  CASE WHEN n_a >= 1 AND n_b >= 1
        |       THEN CAST(u2 AS DOUBLE) / 2.0 END AS u_a,
        |  CASE WHEN n_a >= 1 AND n_b >= 1 AND sigma2 > 0
        |       THEN round((CAST(u2 AS DOUBLE) - nm)
        |         / (2.0 * sqrt(sigma2)), 6) END AS z,
        |  CASE WHEN n_a >= 1 AND n_b >= 1
        |       THEN round(CAST(u2 AS DOUBLE) / nm - 1.0, 6)
        |       END AS cliffs_delta,
        |  COALESCE(CASE WHEN n_a >= 1 AND n_b >= 1 AND sigma2 > 0
        |    THEN abs((CAST(u2 AS DOUBLE) - nm) / (2.0 * sqrt(sigma2)))
        |      > 1.959964 END, FALSE) AS significant
        |FROM st""".stripMargin),
    // distribution-free drift pair: per event type, KS D and Wasserstein-1
    // between weekday and weekend value distributions
    Query("q275_ecdf_distance", (s, dir) =>
      graft.ops.Quality.ecdfDistance(
        t(s, dir, "events").withColumn("daytype",
          when(dayofweek(col("ts")).isin(1, 7), "weekend")
            .otherwise("weekday")),
        "event_type", "daytype", "value", "weekday", "weekend"),
      // q275: one distinct-value grid feeds both statistics; exact HUGEINT
      // numerators over the shared n_a*n_b denominator
      """WITH e AS (
        |  SELECT event_type AS g,
        |    CASE WHEN dayofweek(CAST(ts AS TIMESTAMP)) IN (0, 6)
        |         THEN 'weekend' ELSE 'weekday' END AS var,
        |    CAST(round(value * 1000000.0) AS BIGINT) AS vm
        |  FROM events WHERE value IS NOT NULL),
        |grid AS (
        |  SELECT g, vm,
        |    CAST(count(*) FILTER (var = 'weekday') AS HUGEINT) AS ca,
        |    CAST(count(*) FILTER (var = 'weekend') AS HUGEINT) AS cb
        |  FROM e GROUP BY 1, 2),
        |win AS (
        |  SELECT g, ca, cb, vm,
        |    sum(ca) OVER w AS cuma, sum(cb) OVER w AS cumb,
        |    sum(ca) OVER (PARTITION BY g) AS na,
        |    sum(cb) OVER (PARTITION BY g) AS nb,
        |    lead(vm) OVER w AS nxt
        |  FROM grid WINDOW w AS (PARTITION BY g ORDER BY vm)),
        |d AS (
        |  SELECT g, ca, cb,
        |    abs(cuma * nb - cumb * na) AS dn,
        |    COALESCE(CAST(nxt - vm AS HUGEINT), 0)
        |      * abs(cuma * nb - cumb * na) AS w1
        |  FROM win),
        |red AS (
        |  SELECT g, CAST(sum(ca) AS BIGINT) AS n_a,
        |    CAST(sum(cb) AS BIGINT) AS n_b,
        |    max(dn) AS dmax, CAST(sum(w1) AS HUGEINT) AS w1n
        |  FROM d GROUP BY 1)
        |SELECT g AS event_type, n_a, n_b,
        |  CASE WHEN n_a >= 1 AND n_b >= 1 THEN
        |    round(CAST(dmax AS DOUBLE)
        |      / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)), 6)
        |    END AS ks_d,
        |  CASE WHEN n_a >= 1 AND n_b >= 1 THEN
        |    round(sqrt(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
        |        / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)))
        |      * (CAST(dmax AS DOUBLE)
        |        / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))), 6)
        |    END AS ks_stat,
        |  COALESCE(CASE WHEN n_a >= 1 AND n_b >= 1 THEN
        |    round(sqrt(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
        |        / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)))
        |      * (CAST(dmax AS DOUBLE)
        |        / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))), 6)
        |      > 1.358102 END, FALSE) AS reject_95,
        |  CASE WHEN n_a >= 1 AND n_b >= 1 THEN
        |    round(CAST(w1n AS DOUBLE) / 1000000.0
        |      / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)), 6)
        |    END AS wasserstein1
        |FROM red""".stripMargin),
    // PR-curve summary of the q173 forecast: threshold-free average
    // precision (step integral over distinct scores, tie-exact)
    Query("q276_average_precision", (s, dir) =>
      graft.ops.Quality.averagePrecision(
        t(s, dir, "events")
          .withColumn("score", least(lit(1.0), col("value") / 250.0))
          .withColumn("converted", col("event_type") === "purchase"),
        "score", "converted"),
      // q276: thresholds are the distinct snapped scores; each step term
      // micro-snaps before the BIGINT sum (the bradleyTerry device)
      """WITH e AS (
        |  SELECT CAST(round(least(1.0, CAST(value AS DOUBLE) / 250.0)
        |      * 1000000.0) AS BIGINT) AS sm,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        |  FROM events
        |  WHERE least(1.0, CAST(value AS DOUBLE) / 250.0) IS NOT NULL
        |    AND event_type IS NOT NULL),
        |grid AS (
        |  SELECT sm, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(y) AS BIGINT) AS np
        |  FROM e GROUP BY 1),
        |win AS (
        |  SELECT n, np,
        |    sum(n) OVER (ORDER BY sm DESC) AS cn,
        |    sum(np) OVER (ORDER BY sm DESC) AS cp,
        |    sum(np) OVER () AS npos
        |  FROM grid),
        |terms AS (
        |  SELECT CAST(sum(n) AS BIGINT) AS n,
        |    CAST(max(npos) AS BIGINT) AS n_pos,
        |    CAST(sum(CASE WHEN npos > 0 AND np > 0 THEN
        |      CAST(round(CAST(np AS DOUBLE) * CAST(cp AS DOUBLE)
        |        * 1000000.0
        |        / (CAST(npos AS DOUBLE) * CAST(cn AS DOUBLE))) AS BIGINT)
        |      ELSE 0 END) AS BIGINT) AS ap
        |  FROM win)
        |SELECT n, n_pos,
        |  round(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE), 6) AS base_rate,
        |  CASE WHEN n_pos > 0
        |       THEN round(CAST(ap AS DOUBLE) / 1000000.0, 6)
        |       END AS average_precision
        |FROM terms WHERE n > 0""".stripMargin),
    // corpus-composition inequality: per-source Gini of document token
    // counts - the long-doc concentration gauge before packing
    Query("q277_token_gini", (s, dir) =>
      graft.ops.Quality.giniIndex(
        t(s, dir, "documents").select(col("source"),
          size(split(col("text"), " ")).cast("long").as("n_tokens")),
        "source", "n_tokens"),
      // q277: the rank-block identity 2*sum(i*x) = sum(v*(2*t*cum+t(t+1)))
      // over the distinct-length histogram, exact HUGEINT
      """WITH d AS (
        |  SELECT source AS g,
        |    CAST(round(CAST(len(string_split(text, ' ')) AS DOUBLE)
        |      * 1000000.0) AS BIGINT) AS vm
        |  FROM documents),
        |grid AS (
        |  SELECT g, vm, CAST(count(*) AS HUGEINT) AS t
        |  FROM d GROUP BY 1, 2),
        |win AS (
        |  SELECT g, vm, t,
        |    COALESCE(sum(t) OVER (PARTITION BY g ORDER BY vm
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |      0) AS cum
        |  FROM grid),
        |red AS (
        |  SELECT g, CAST(sum(t) AS BIGINT) AS n, min(vm) AS mn,
        |    CAST(sum(CAST(vm AS HUGEINT) * (t * cum * 2 + t * (t + 1)))
        |      AS HUGEINT) AS r,
        |    CAST(sum(CAST(vm AS HUGEINT) * t) AS HUGEINT) AS s
        |  FROM win GROUP BY 1)
        |SELECT g AS source, n,
        |  round(CAST(s AS DOUBLE) / 1000000.0, 6) AS total,
        |  CASE WHEN mn >= 0 AND s > 0 THEN
        |    round(CAST(r AS DOUBLE)
        |        / (CAST(n AS DOUBLE) * CAST(s AS DOUBLE))
        |      - (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE), 6)
        |    END AS gini
        |FROM red""".stripMargin),
    // paired classifier comparison: q189's md5-noise rater vs a
    // value-threshold rater on the SAME events - only discordants count
    Query("q278_mcnemar", (s, dir) =>
      graft.ops.Quality.mcNemar(
        t(s, dir, "events")
          .withColumn("pred_a",
            when(substring(md5(col("event_id").cast("string")), 1, 1) < "3",
              lit("click")).otherwise(col("event_type")))
          .withColumn("pred_b",
            when(col("value") > 125.0, lit("purchase"))
              .otherwise(lit("click"))),
        "event_type", "pred_a", "pred_b"),
      // q278: the same discordant-count reduction; chi2 one division of
      // exact integers, continuity correction clamped at 0
      """WITH e AS (
        |  SELECT event_type AS lab,
        |    CASE WHEN substr(md5(CAST(event_id AS VARCHAR)), 1, 1) < '3'
        |         THEN 'click' ELSE event_type END AS pa,
        |    CASE WHEN value > 125.0 THEN 'purchase' ELSE 'click' END AS pb
        |  FROM events WHERE event_type IS NOT NULL),
        |m AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(count(*) FILTER (pa = lab AND pb = lab) AS BIGINT)
        |      AS both_correct,
        |    CAST(count(*) FILTER (pa = lab AND pb <> lab) AS BIGINT)
        |      AS only_a,
        |    CAST(count(*) FILTER (pa <> lab AND pb = lab) AS BIGINT)
        |      AS only_b,
        |    CAST(count(*) FILTER (pa <> lab AND pb <> lab) AS BIGINT)
        |      AS both_wrong
        |  FROM e)
        |SELECT n, both_correct, only_a, only_b, both_wrong,
        |  CASE WHEN only_a + only_b > 0 THEN
        |    round(greatest(0.0, abs(CAST(only_a AS DOUBLE)
        |        - CAST(only_b AS DOUBLE)) - 1.0)
        |      * greatest(0.0, abs(CAST(only_a AS DOUBLE)
        |        - CAST(only_b AS DOUBLE)) - 1.0)
        |      / (CAST(only_a AS DOUBLE) + CAST(only_b AS DOUBLE)), 6)
        |    END AS chi2_cc,
        |  COALESCE(CASE WHEN only_a + only_b > 0 THEN
        |    greatest(0.0, abs(CAST(only_a AS DOUBLE)
        |        - CAST(only_b AS DOUBLE)) - 1.0)
        |      * greatest(0.0, abs(CAST(only_a AS DOUBLE)
        |        - CAST(only_b AS DOUBLE)) - 1.0)
        |      / (CAST(only_a AS DOUBLE) + CAST(only_b AS DOUBLE))
        |      > 3.841459 END, FALSE) AS significant
        |FROM m WHERE n > 0""".stripMargin),
    // q187's AUC with the DeLong sampling-noise CI - placements exact
    // off the distinct-score histogram
    Query("q279_auc_delong", (s, dir) =>
      graft.ops.Quality.rocAucDelong(
        t(s, dir, "events")
          .withColumn("score", least(lit(1.0), col("value") / 250.0))
          .withColumn("converted", col("event_type") === "purchase"),
        "score", "converted"),
      // q279: DeLong placements as exact integer numerators off the
      // distinct-score histogram; variance terms in HUGEINT
      """WITH e AS (
        |  SELECT CAST(round(least(1.0, CAST(value AS DOUBLE) / 250.0)
        |      * 1000000.0) AS BIGINT) AS sm,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        |  FROM events
        |  WHERE least(1.0, CAST(value AS DOUBLE) / 250.0) IS NOT NULL
        |    AND event_type IS NOT NULL),
        |grid AS (
        |  SELECT sm, CAST(sum(y) AS BIGINT) AS np,
        |    CAST(count(*) - sum(y) AS BIGINT) AS nn
        |  FROM e GROUP BY 1),
        |win AS (
        |  SELECT np, nn,
        |    COALESCE(sum(nn) OVER (ORDER BY sm
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |      0) AS negb,
        |    COALESCE(sum(np) OVER (ORDER BY sm
        |      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING),
        |      0) AS posa
        |  FROM grid),
        |red AS (
        |  SELECT CAST(sum(np) AS HUGEINT) AS p,
        |    CAST(sum(nn) AS HUGEINT) AS m,
        |    CAST(sum(CAST(np AS HUGEINT) * (negb * 2 + nn)) AS HUGEINT)
        |      AS s1,
        |    CAST(sum(CAST(np AS HUGEINT) * (negb * 2 + nn)
        |      * (negb * 2 + nn)) AS HUGEINT) AS s2,
        |    CAST(sum(CAST(nn AS HUGEINT) * (posa * 2 + np)) AS HUGEINT)
        |      AS t1,
        |    CAST(sum(CAST(nn AS HUGEINT) * (posa * 2 + np)
        |      * (posa * 2 + np)) AS HUGEINT) AS t2
        |  FROM win)
        |SELECT CAST(p AS BIGINT) AS n_pos, CAST(m AS BIGINT) AS n_neg,
        |  CASE WHEN p > 0 AND m > 0 THEN
        |    round(CAST(s1 AS DOUBLE)
        |      / (2.0 * CAST(m AS DOUBLE) * CAST(p AS DOUBLE)), 6)
        |    END AS auc,
        |  CASE WHEN p >= 2 AND m >= 2 THEN
        |    round(sqrt(
        |      ((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
        |          / CAST(p AS DOUBLE)) / (CAST(p AS DOUBLE) - 1.0))
        |        / (CAST(p AS DOUBLE) * (2.0 * CAST(m AS DOUBLE))
        |          * (2.0 * CAST(m AS DOUBLE)))
        |      + ((CAST(t2 AS DOUBLE) - CAST(t1 AS DOUBLE)
        |          * CAST(t1 AS DOUBLE) / CAST(m AS DOUBLE))
        |          / (CAST(m AS DOUBLE) - 1.0))
        |        / (CAST(m AS DOUBLE) * (2.0 * CAST(p AS DOUBLE))
        |          * (2.0 * CAST(p AS DOUBLE)))), 6)
        |    END AS se,
        |  CASE WHEN p >= 2 AND m >= 2 THEN
        |    round(CAST(s1 AS DOUBLE)
        |        / (2.0 * CAST(m AS DOUBLE) * CAST(p AS DOUBLE))
        |      - 1.959964 * sqrt(
        |      ((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
        |          / CAST(p AS DOUBLE)) / (CAST(p AS DOUBLE) - 1.0))
        |        / (CAST(p AS DOUBLE) * (2.0 * CAST(m AS DOUBLE))
        |          * (2.0 * CAST(m AS DOUBLE)))
        |      + ((CAST(t2 AS DOUBLE) - CAST(t1 AS DOUBLE)
        |          * CAST(t1 AS DOUBLE) / CAST(m AS DOUBLE))
        |          / (CAST(m AS DOUBLE) - 1.0))
        |        / (CAST(m AS DOUBLE) * (2.0 * CAST(p AS DOUBLE))
        |          * (2.0 * CAST(p AS DOUBLE)))), 6)
        |    END AS ci_lo,
        |  CASE WHEN p >= 2 AND m >= 2 THEN
        |    round(CAST(s1 AS DOUBLE)
        |        / (2.0 * CAST(m AS DOUBLE) * CAST(p AS DOUBLE))
        |      + 1.959964 * sqrt(
        |      ((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
        |          / CAST(p AS DOUBLE)) / (CAST(p AS DOUBLE) - 1.0))
        |        / (CAST(p AS DOUBLE) * (2.0 * CAST(m AS DOUBLE))
        |          * (2.0 * CAST(m AS DOUBLE)))
        |      + ((CAST(t2 AS DOUBLE) - CAST(t1 AS DOUBLE)
        |          * CAST(t1 AS DOUBLE) / CAST(m AS DOUBLE))
        |          / (CAST(m AS DOUBLE) - 1.0))
        |        / (CAST(m AS DOUBLE) * (2.0 * CAST(p AS DOUBLE))
        |          * (2.0 * CAST(p AS DOUBLE)))), 6)
        |    END AS ci_hi
        |FROM red WHERE p + m > 0""".stripMargin),
    // experiment-planning readout: per-nation minimum detectable effect
    // at the CURRENT cohort sizes (95% conf / 80% power)
    Query("q280_mde", (s, dir) => {
      val o = t(s, dir, "orders").select(col("o_custkey"), col("o_totalprice"))
      val c = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"), col("c_mktsegment"))
      graft.ops.Quality.mdePower(
        o.join(c, col("o_custkey") === col("c_custkey")),
        "c_nationkey", "c_mktsegment", "o_totalprice",
        "BUILDING", "MACHINERY")
    },
      // q280: the welch moment pass re-pointed at planning - same pivot,
      // (z_a + z_b) * welch SE
      """WITH j AS (
        |  SELECT c.c_nationkey AS g, c.c_mktsegment AS var,
        |    CAST(o.o_totalprice AS DOUBLE) AS v
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |  WHERE c.c_mktsegment IN ('BUILDING', 'MACHINERY')
        |    AND o.o_totalprice IS NOT NULL),
        |red AS (
        |  SELECT g, var, CAST(count(*) AS BIGINT) AS n,
        |    sum(v) AS s, sum(v * v) AS s2
        |  FROM j GROUP BY 1, 2),
        |piv AS (
        |  SELECT g,
        |    COALESCE(max(CASE WHEN var = 'BUILDING' THEN n END), 0) AS n_a,
        |    COALESCE(max(CASE WHEN var = 'MACHINERY' THEN n END), 0) AS n_b,
        |    max(CASE WHEN var = 'BUILDING' THEN s END) AS sa,
        |    max(CASE WHEN var = 'MACHINERY' THEN s END) AS sb,
        |    max(CASE WHEN var = 'BUILDING' THEN s2 END) AS sa2,
        |    max(CASE WHEN var = 'MACHINERY' THEN s2 END) AS sb2
        |  FROM red GROUP BY 1)
        |SELECT g AS c_nationkey, n_a, n_b,
        |  CASE WHEN n_a > 0 THEN round(sa / CAST(n_a AS DOUBLE), 6) END
        |    AS mean_a,
        |  CASE WHEN n_a >= 2 AND n_b >= 2 THEN
        |    round((1.959963984540054 + 0.8416212335729143) * sqrt(
        |      ((sa2 - sa * sa / CAST(n_a AS DOUBLE))
        |        / (CAST(n_a AS DOUBLE) - 1.0)) / CAST(n_a AS DOUBLE)
        |      + ((sb2 - sb * sb / CAST(n_b AS DOUBLE))
        |        / (CAST(n_b AS DOUBLE) - 1.0)) / CAST(n_b AS DOUBLE)), 6)
        |    END AS mde_abs,
        |  CASE WHEN n_a >= 2 AND n_b >= 2
        |        AND sa / CAST(n_a AS DOUBLE) <> 0.0 THEN
        |    round((1.959963984540054 + 0.8416212335729143) * sqrt(
        |      ((sa2 - sa * sa / CAST(n_a AS DOUBLE))
        |        / (CAST(n_a AS DOUBLE) - 1.0)) / CAST(n_a AS DOUBLE)
        |      + ((sb2 - sb * sb / CAST(n_b AS DOUBLE))
        |        / (CAST(n_b AS DOUBLE) - 1.0)) / CAST(n_b AS DOUBLE))
        |      / (sa / CAST(n_a AS DOUBLE)), 6)
        |    END AS mde_rel
        |FROM piv""".stripMargin),
    // do the first eight users RANK event types the same way by spend?
    // Kendall's W over strict (score desc, type asc) ranks
    Query("q301_kendalls_w", (s, dir) =>
      graft.ops.Quality.kendallsW(
        t(s, dir, "events").where(col("user_id") <= 8)
          .groupBy(col("user_id"), col("event_type"))
          .agg(round(sum("value"), 6).as("score")),
        "user_id", "event_type", "score"),
      // q301: strict row_number ranks over the complete panel, exact
      // integer rank sums, one mirrored division
      """WITH sc0 AS (
        |  SELECT user_id AS r, event_type AS i, round(sum(value), 6) AS s
        |  FROM events
        |  WHERE user_id <= 8 AND user_id IS NOT NULL
        |    AND event_type IS NOT NULL
        |  GROUP BY 1, 2),
        |sc AS (SELECT * FROM sc0 WHERE s IS NOT NULL),
        |m AS (SELECT count(DISTINCT r) AS mm FROM sc),
        |common AS (
        |  SELECT i FROM sc GROUP BY i
        |  HAVING count(*) = (SELECT mm FROM m)),
        |rk AS (
        |  SELECT sc.r, sc.i,
        |    row_number() OVER (PARTITION BY sc.r
        |      ORDER BY sc.s DESC, sc.i ASC) AS rnk
        |  FROM sc JOIN common USING (i)),
        |si AS (SELECT i, CAST(sum(rnk) AS HUGEINT) AS ri FROM rk GROUP BY 1),
        |agg AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(COALESCE(sum(ri * ri), 0) AS HUGEINT) AS ss
        |  FROM si)
        |SELECT (SELECT CAST(mm AS BIGINT) FROM m) AS n_raters,
        |  n AS n_items,
        |  CASE WHEN n >= 2 THEN
        |    round((12.0 * CAST(ss AS DOUBLE)
        |      - 3.0 * CAST((SELECT mm FROM m) AS DOUBLE)
        |        * CAST((SELECT mm FROM m) AS DOUBLE)
        |        * CAST(n AS DOUBLE)
        |        * (CAST(n AS DOUBLE) + 1.0) * (CAST(n AS DOUBLE) + 1.0))
        |      / (CAST((SELECT mm FROM m) AS DOUBLE)
        |        * CAST((SELECT mm FROM m) AS DOUBLE)
        |        * CAST(n AS DOUBLE)
        |        * (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) - 1.0)), 6)
        |    END AS w
        |FROM agg""".stripMargin),
    // does ANY market segment's mean order value differ, per nation? one
    // F + eta-sq before 10 pairwise t-tests inflate the false-positive rate
    Query("q302_anova_f", (s, dir) => {
      val o = t(s, dir, "orders").select(col("o_custkey"), col("o_totalprice"))
      val c = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"), col("c_mktsegment"))
      graft.ops.Quality.anovaF(
        o.join(c, col("o_custkey") === col("c_custkey")),
        "c_nationkey", "c_mktsegment", "o_totalprice")
    },
      // q302: per-cohort mean/SS scalars snapped to micro^2 integers before
      // the cohort sum, mirroring anovaTail's determinism device
      """WITH j AS (
        |  SELECT c.c_nationkey AS g, c.c_mktsegment AS coh,
        |    CAST(round(CAST(o.o_totalprice AS DOUBLE) * 1000000.0)
        |      AS BIGINT) AS vm
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |  WHERE o.o_totalprice IS NOT NULL),
        |p AS (
        |  SELECT g, coh, CAST(count(*) AS BIGINT) AS n,
        |    sum(CAST(vm AS DECIMAL(38,0))) AS s,
        |    sum(CAST(vm AS DECIMAL(38,0)) * CAST(vm AS DECIMAL(38,0))) AS s2
        |  FROM j GROUP BY 1, 2),
        |w AS (
        |  SELECT g, n, s, s2,
        |    CAST(sum(s) OVER (PARTITION BY g) AS DOUBLE)
        |      / CAST(sum(n) OVER (PARTITION BY g) AS DOUBLE) AS mall
        |  FROM p),
        |snap AS (
        |  SELECT g, n,
        |    CAST(round(CAST(n AS DOUBLE)
        |      * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE) - mall)
        |      * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE) - mall))
        |      AS DECIMAL(38,0)) AS bt,
        |    CAST(round(CAST(s2 AS DOUBLE)
        |      - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) * CAST(s AS DOUBLE))
        |      AS DECIMAL(38,0)) AS wt
        |  FROM w),
        |red AS (
        |  SELECT g, CAST(count(*) AS BIGINT) AS k_cohorts,
        |    CAST(sum(n) AS BIGINT) AS n,
        |    greatest(CAST(sum(bt) AS DOUBLE) / 1e12, 0.0) AS ssb,
        |    greatest(CAST(sum(wt) AS DOUBLE) / 1e12, 0.0) AS ssw
        |  FROM snap GROUP BY 1)
        |SELECT g AS c_nationkey, k_cohorts, n,
        |  round(ssb / 1e6, 6) AS ss_between_m,
        |  round(ssw / 1e6, 6) AS ss_within_m,
        |  CASE WHEN k_cohorts >= 2 AND n > k_cohorts AND ssw > 0 THEN
        |    round((ssb / (CAST(k_cohorts AS DOUBLE) - 1.0))
        |      / (ssw / (CAST(n AS DOUBLE) - CAST(k_cohorts AS DOUBLE))), 6)
        |  END AS f_stat,
        |  CASE WHEN k_cohorts >= 2 AND n > k_cohorts AND ssb + ssw > 0
        |    THEN round(ssb / (ssb + ssw), 6) END AS eta_sq
        |FROM red""".stripMargin),
    // distribution-free day-of-week location test per event type: does
    // value shift by weekday? (heavy-tail-safe twin of the ANOVA)
    Query("q303_kruskal_wallis", (s, dir) =>
      graft.ops.Quality.kruskalWallis(
        t(s, dir, "events").where(col("ts").isNotNull)
          .select(col("event_type"), dayofweek(col("ts")).as("dow"),
            col("value")),
        "event_type", "dow", "value"),
      // q303: doubled average ranks off the per-group distinct-value
      // histogram; the tie term t^3-t rides exact decimals
      """WITH e AS (
        |  SELECT event_type AS g, dayofweek(ts) + 1 AS coh,
        |    CAST(round(value * 1000000.0) AS BIGINT) AS vm
        |  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL),
        |grid AS (
        |  SELECT g, coh, vm, CAST(count(*) AS BIGINT) AS c
        |  FROM e GROUP BY 1, 2, 3),
        |w AS (
        |  SELECT g, coh, c,
        |    CAST(sum(c) OVER (PARTITION BY g ORDER BY vm)
        |      AS DECIMAL(38,0)) AS cumincl,
        |    CAST(sum(c) OVER (PARTITION BY g, vm) AS DECIMAL(38,0)) AS t,
        |    row_number() OVER (PARTITION BY g, vm ORDER BY coh) AS rn
        |  FROM grid),
        |staged AS (
        |  SELECT g, coh, c,
        |    CAST(c AS DECIMAL(38,0)) * ((cumincl - t) * 2 + t + 1) AS r2,
        |    CASE WHEN rn = 1 THEN t * t * t - t
        |         ELSE CAST(0 AS DECIMAL(38,0)) END AS tie
        |  FROM w),
        |percoh AS (
        |  SELECT g, coh, CAST(sum(c) AS BIGINT) AS n,
        |    sum(r2) AS r2s, sum(tie) AS ties
        |  FROM staged GROUP BY 1, 2),
        |w2 AS (
        |  SELECT g, n, ties, r2s,
        |    CAST(sum(n) OVER (PARTITION BY g) AS DOUBLE) AS nn
        |  FROM percoh),
        |snap AS (
        |  SELECT g, n, ties,
        |    CAST(round(CAST(r2s AS DOUBLE) * CAST(r2s AS DOUBLE)
        |      / (4.0 * CAST(n AS DOUBLE) * nn * (nn + 1.0)) * 1000000.0)
        |      AS DECIMAL(38,0)) AS tt
        |  FROM w2),
        |red AS (
        |  SELECT g, CAST(count(*) AS BIGINT) AS k_cohorts,
        |    CAST(sum(n) AS BIGINT) AS n,
        |    CAST(sum(tt) AS DOUBLE) AS tts,
        |    CAST(sum(ties) AS DOUBLE) AS tiesum
        |  FROM snap GROUP BY 1),
        |fin AS (
        |  SELECT g, k_cohorts, n,
        |    12.0 * tts / 1000000.0 - 3.0 * (CAST(n AS DOUBLE) + 1.0) AS h,
        |    1.0 - tiesum / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
        |      * CAST(n AS DOUBLE) - CAST(n AS DOUBLE)) AS corr
        |  FROM red)
        |SELECT g AS event_type, k_cohorts, n,
        |  CASE WHEN k_cohorts >= 2 AND n > k_cohorts
        |    THEN CAST(k_cohorts - 1 AS BIGINT) END AS df,
        |  CASE WHEN k_cohorts >= 2 AND n > k_cohorts
        |    THEN round(h, 6) END AS h,
        |  CASE WHEN k_cohorts >= 2 AND n > k_cohorts AND corr > 0
        |    THEN round(h / corr, 6) END AS h_corrected
        |FROM fin""".stripMargin),
    // are segment spreads EQUAL within a nation? Brown-Forsythe on
    // |value - segment median| - the q302 pooled-variance precondition
    Query("q304_levene_bf", (s, dir) => {
      val o = t(s, dir, "orders").select(col("o_custkey"), col("o_totalprice"))
      val c = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"), col("c_mktsegment"))
      graft.ops.Quality.brownForsythe(
        o.join(c, col("o_custkey") === col("c_custkey")),
        "c_nationkey", "c_mktsegment", "o_totalprice")
    },
      // q304: exact lower-median per cohort off the cumulative histogram,
      // micro-integer absolute deviations through the q302 ANOVA tail
      """WITH j AS (
        |  SELECT c.c_nationkey AS g, c.c_mktsegment AS coh,
        |    CAST(round(CAST(o.o_totalprice AS DOUBLE) * 1000000.0)
        |      AS BIGINT) AS vm
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |  WHERE o.o_totalprice IS NOT NULL),
        |grid AS (
        |  SELECT g, coh, vm, CAST(count(*) AS BIGINT) AS c
        |  FROM j GROUP BY 1, 2, 3),
        |w AS (
        |  SELECT g, coh, vm, c,
        |    sum(c) OVER (PARTITION BY g, coh ORDER BY vm) AS cum,
        |    sum(c) OVER (PARTITION BY g, coh) AS nc
        |  FROM grid),
        |m AS (
        |  SELECT g, coh, vm, c,
        |    min(CASE WHEN cum * 2 >= nc THEN vm END)
        |      OVER (PARTITION BY g, coh) AS med
        |  FROM w),
        |p AS (
        |  SELECT g, coh, CAST(sum(c) AS BIGINT) AS n,
        |    sum(CAST(c AS DECIMAL(38,0))
        |      * CAST(abs(vm - med) AS DECIMAL(38,0))) AS s,
        |    sum(CAST(c AS DECIMAL(38,0))
        |      * CAST(abs(vm - med) AS DECIMAL(38,0))
        |      * CAST(abs(vm - med) AS DECIMAL(38,0))) AS s2
        |  FROM m GROUP BY 1, 2),
        |w2 AS (
        |  SELECT g, n, s, s2,
        |    CAST(sum(s) OVER (PARTITION BY g) AS DOUBLE)
        |      / CAST(sum(n) OVER (PARTITION BY g) AS DOUBLE) AS mall
        |  FROM p),
        |snap AS (
        |  SELECT g, n,
        |    CAST(round(CAST(n AS DOUBLE)
        |      * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE) - mall)
        |      * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE) - mall))
        |      AS DECIMAL(38,0)) AS bt,
        |    CAST(round(CAST(s2 AS DOUBLE)
        |      - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) * CAST(s AS DOUBLE))
        |      AS DECIMAL(38,0)) AS wt
        |  FROM w2),
        |red AS (
        |  SELECT g, CAST(count(*) AS BIGINT) AS k_cohorts,
        |    CAST(sum(n) AS BIGINT) AS n,
        |    greatest(CAST(sum(bt) AS DOUBLE) / 1e12, 0.0) AS ssb,
        |    greatest(CAST(sum(wt) AS DOUBLE) / 1e12, 0.0) AS ssw
        |  FROM snap GROUP BY 1)
        |SELECT g AS c_nationkey, k_cohorts, n,
        |  round(ssb / 1e6, 6) AS ss_between_m,
        |  round(ssw / 1e6, 6) AS ss_within_m,
        |  CASE WHEN k_cohorts >= 2 AND n > k_cohorts AND ssw > 0 THEN
        |    round((ssb / (CAST(k_cohorts AS DOUBLE) - 1.0))
        |      / (ssw / (CAST(n AS DOUBLE) - CAST(k_cohorts AS DOUBLE))), 6)
        |  END AS f_stat,
        |  CASE WHEN k_cohorts >= 2 AND n > k_cohorts AND ssb + ssw > 0
        |    THEN round(ssb / (ssb + ssw), 6) END AS eta_sq
        |FROM red""".stripMargin),
    // publish gate over lineitem: seven declarative expectations in one
    // scan pass (+ one exact-distinct pass), mixed pass/fail on purpose
    Query("q305_expectations", (s, dir) => {
      import graft.ops.Quality.Expect._
      graft.ops.Quality.expectations(t(s, dir, "lineitem"), Seq(
        Complete("l_orderkey"),
        ValuesBetween("l_quantity", 1.0, 50.0),
        ValuesBetween("l_discount", 0.0, 0.05, 0.9),
        MatchesRegex("l_linestatus", "^[OF]$"),
        ValuesIn("l_returnflag", Seq("A", "N", "R")),
        Unique("l_orderkey"),
        RowCountBetween(1L, 10000000L),
        MeanBetween("l_extendedprice", 20000.0, 60000.0)))
    },
      // q305: every scan-stage metric from ONE aggregate row; the unique
      // check's exact distinct in the same CTE; passed on the raw metric
      """WITH s AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(count(l_orderkey) AS BIGINT) AS p0,
        |    CAST(count(l_quantity) AS BIGINT) AS p1,
        |    CAST(count(CASE WHEN CAST(l_quantity AS DOUBLE)
        |      BETWEEN 1.0 AND 50.0 THEN 1 END) AS BIGINT) AS q1,
        |    CAST(count(l_discount) AS BIGINT) AS p2,
        |    CAST(count(CASE WHEN CAST(l_discount AS DOUBLE)
        |      BETWEEN 0.0 AND 0.05 THEN 1 END) AS BIGINT) AS q2,
        |    CAST(count(l_linestatus) AS BIGINT) AS p3,
        |    CAST(count(CASE WHEN regexp_matches(l_linestatus, '^[OF]$')
        |      THEN 1 END) AS BIGINT) AS q3,
        |    CAST(count(l_returnflag) AS BIGINT) AS p4,
        |    CAST(count(CASE WHEN l_returnflag IN ('A','N','R')
        |      THEN 1 END) AS BIGINT) AS q4,
        |    CAST(count(l_orderkey) AS BIGINT) AS p5,
        |    CAST(count(DISTINCT l_orderkey) AS BIGINT) AS q5,
        |    CAST(count(l_extendedprice) AS BIGINT) AS p7,
        |    sum(CAST(CAST(round(CAST(l_extendedprice AS DOUBLE)
        |      * 1000000.0) AS BIGINT) AS DECIMAL(38,0))) AS s7
        |  FROM lineitem)
        |SELECT CAST(0 AS BIGINT) AS check_id,
        |  'complete(l_orderkey)' AS check_name, 'l_orderkey' AS col_name,
        |  round(CASE WHEN n > 0
        |    THEN CAST(p0 AS DOUBLE) / CAST(n AS DOUBLE) END, 6) AS observed,
        |  CAST(1.0 AS DOUBLE) AS lo, CAST(NULL AS DOUBLE) AS hi,
        |  coalesce(CASE WHEN n > 0
        |    THEN CAST(p0 AS DOUBLE) / CAST(n AS DOUBLE) END >= 1.0,
        |    false) AS passed
        |FROM s
        |UNION ALL SELECT CAST(1 AS BIGINT), 'between(l_quantity)',
        |  'l_quantity',
        |  round(CASE WHEN p1 > 0
        |    THEN CAST(q1 AS DOUBLE) / CAST(p1 AS DOUBLE) END, 6),
        |  CAST(1.0 AS DOUBLE), CAST(NULL AS DOUBLE),
        |  coalesce(CASE WHEN p1 > 0
        |    THEN CAST(q1 AS DOUBLE) / CAST(p1 AS DOUBLE) END >= 1.0, false)
        |FROM s
        |UNION ALL SELECT CAST(2 AS BIGINT), 'between(l_discount)',
        |  'l_discount',
        |  round(CASE WHEN p2 > 0
        |    THEN CAST(q2 AS DOUBLE) / CAST(p2 AS DOUBLE) END, 6),
        |  CAST(0.9 AS DOUBLE), CAST(NULL AS DOUBLE),
        |  coalesce(CASE WHEN p2 > 0
        |    THEN CAST(q2 AS DOUBLE) / CAST(p2 AS DOUBLE) END >= 0.9, false)
        |FROM s
        |UNION ALL SELECT CAST(3 AS BIGINT), 'matches(l_linestatus)',
        |  'l_linestatus',
        |  round(CASE WHEN p3 > 0
        |    THEN CAST(q3 AS DOUBLE) / CAST(p3 AS DOUBLE) END, 6),
        |  CAST(1.0 AS DOUBLE), CAST(NULL AS DOUBLE),
        |  coalesce(CASE WHEN p3 > 0
        |    THEN CAST(q3 AS DOUBLE) / CAST(p3 AS DOUBLE) END >= 1.0, false)
        |FROM s
        |UNION ALL SELECT CAST(4 AS BIGINT), 'in_set(l_returnflag)',
        |  'l_returnflag',
        |  round(CASE WHEN p4 > 0
        |    THEN CAST(q4 AS DOUBLE) / CAST(p4 AS DOUBLE) END, 6),
        |  CAST(1.0 AS DOUBLE), CAST(NULL AS DOUBLE),
        |  coalesce(CASE WHEN p4 > 0
        |    THEN CAST(q4 AS DOUBLE) / CAST(p4 AS DOUBLE) END >= 1.0, false)
        |FROM s
        |UNION ALL SELECT CAST(5 AS BIGINT), 'unique(l_orderkey)',
        |  'l_orderkey',
        |  round(CASE WHEN p5 > 0
        |    THEN CAST(q5 AS DOUBLE) / CAST(p5 AS DOUBLE) END, 6),
        |  CAST(1.0 AS DOUBLE), CAST(NULL AS DOUBLE),
        |  coalesce(p5 > 0 AND q5 = p5, false)
        |FROM s
        |UNION ALL SELECT CAST(6 AS BIGINT), 'row_count',
        |  CAST(NULL AS VARCHAR),
        |  round(CAST(n AS DOUBLE), 6), CAST(1.0 AS DOUBLE),
        |  CAST(10000000.0 AS DOUBLE),
        |  coalesce(n >= 1 AND n <= 10000000, false)
        |FROM s
        |UNION ALL SELECT CAST(7 AS BIGINT), 'mean(l_extendedprice)',
        |  'l_extendedprice',
        |  round(CASE WHEN p7 > 0 THEN CAST(s7 AS DOUBLE)
        |    / (1000000.0 * CAST(p7 AS DOUBLE)) END, 6),
        |  CAST(20000.0 AS DOUBLE), CAST(60000.0 AS DOUBLE),
        |  coalesce(CASE WHEN p7 > 0 THEN CAST(s7 AS DOUBLE)
        |      / (1000000.0 * CAST(p7 AS DOUBLE)) END >= 20000.0
        |    AND CASE WHEN p7 > 0 THEN CAST(s7 AS DOUBLE)
        |      / (1000000.0 * CAST(p7 AS DOUBLE)) END <= 60000.0,
        |    false)
        |FROM s""".stripMargin),
    // rollout readout without random assignment: difference-in-
    // differences per event type (even-user cohort treated, post Feb 1)
    Query("q307_did", (s, dir) =>
      graft.ops.Quality.didEstimator(
        t(s, dir, "events").where(col("ts").isNotNull)
          .withColumn("treated", col("user_id") % 2 === 0)
          .withColumn("post",
            col("ts") >= to_timestamp(lit("2024-02-01 00:00:00"))),
        "event_type", "treated", "post", "value"),
      // q307: four (treated, post) cell partials as exact micro decimals,
      // Welch-style SE across the cells, one mirrored expression tail
      """WITH b AS (
        |  SELECT event_type AS g, (user_id % 2 = 0) AS tr,
        |    (CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-02-01 00:00:00')
        |      AS post,
        |    CAST(CAST(round(CAST(value AS DOUBLE) * 1000000.0) AS BIGINT)
        |      AS DECIMAL(38,0)) AS vm
        |  FROM events
        |  WHERE ts IS NOT NULL AND value IS NOT NULL
        |    AND user_id IS NOT NULL),
        |p AS (
        |  SELECT g,
        |    CAST(count(CASE WHEN tr AND post THEN 1 END) AS BIGINT) AS nt1,
        |    sum(CASE WHEN tr AND post THEN vm END) AS st1,
        |    sum(CASE WHEN tr AND post THEN vm * vm END) AS s2t1,
        |    CAST(count(CASE WHEN tr AND NOT post THEN 1 END) AS BIGINT)
        |      AS nt0,
        |    sum(CASE WHEN tr AND NOT post THEN vm END) AS st0,
        |    sum(CASE WHEN tr AND NOT post THEN vm * vm END) AS s2t0,
        |    CAST(count(CASE WHEN NOT tr AND post THEN 1 END) AS BIGINT)
        |      AS nc1,
        |    sum(CASE WHEN NOT tr AND post THEN vm END) AS sc1,
        |    sum(CASE WHEN NOT tr AND post THEN vm * vm END) AS s2c1,
        |    CAST(count(CASE WHEN NOT tr AND NOT post THEN 1 END) AS BIGINT)
        |      AS nc0,
        |    sum(CASE WHEN NOT tr AND NOT post THEN vm END) AS sc0,
        |    sum(CASE WHEN NOT tr AND NOT post THEN vm * vm END) AS s2c0
        |  FROM b GROUP BY 1),
        |e AS (
        |  SELECT g, nt1, nt0, nc1, nc0,
        |    CAST(st1 AS DOUBLE) / CAST(nt1 AS DOUBLE) / 1000000.0 AS mt1,
        |    CAST(st0 AS DOUBLE) / CAST(nt0 AS DOUBLE) / 1000000.0 AS mt0,
        |    CAST(sc1 AS DOUBLE) / CAST(nc1 AS DOUBLE) / 1000000.0 AS mc1,
        |    CAST(sc0 AS DOUBLE) / CAST(nc0 AS DOUBLE) / 1000000.0 AS mc0,
        |    (CAST(s2t1 AS DOUBLE) - CAST(st1 AS DOUBLE)
        |      * CAST(st1 AS DOUBLE) / CAST(nt1 AS DOUBLE))
        |      / (CAST(nt1 AS DOUBLE) - 1.0) / 1e12 AS vt1,
        |    (CAST(s2t0 AS DOUBLE) - CAST(st0 AS DOUBLE)
        |      * CAST(st0 AS DOUBLE) / CAST(nt0 AS DOUBLE))
        |      / (CAST(nt0 AS DOUBLE) - 1.0) / 1e12 AS vt0,
        |    (CAST(s2c1 AS DOUBLE) - CAST(sc1 AS DOUBLE)
        |      * CAST(sc1 AS DOUBLE) / CAST(nc1 AS DOUBLE))
        |      / (CAST(nc1 AS DOUBLE) - 1.0) / 1e12 AS vc1,
        |    (CAST(s2c0 AS DOUBLE) - CAST(sc0 AS DOUBLE)
        |      * CAST(sc0 AS DOUBLE) / CAST(nc0 AS DOUBLE))
        |      / (CAST(nc0 AS DOUBLE) - 1.0) / 1e12 AS vc0
        |  FROM p)
        |SELECT g AS event_type, nt1 + nt0 + nc1 + nc0 AS n,
        |  CASE WHEN nt0 > 0 THEN round(mt0, 6) END AS m_treat_pre,
        |  CASE WHEN nt1 > 0 THEN round(mt1, 6) END AS m_treat_post,
        |  CASE WHEN nc0 > 0 THEN round(mc0, 6) END AS m_ctrl_pre,
        |  CASE WHEN nc1 > 0 THEN round(mc1, 6) END AS m_ctrl_post,
        |  CASE WHEN nt1 > 0 AND nt0 > 0 AND nc1 > 0 AND nc0 > 0
        |    THEN round((mt1 - mt0) - (mc1 - mc0), 6) END AS did,
        |  CASE WHEN nt1 >= 2 AND nt0 >= 2 AND nc1 >= 2 AND nc0 >= 2
        |      AND sqrt(vt1 / CAST(nt1 AS DOUBLE) + vt0 / CAST(nt0 AS DOUBLE)
        |        + vc1 / CAST(nc1 AS DOUBLE) + vc0 / CAST(nc0 AS DOUBLE)) > 0
        |    THEN round(sqrt(vt1 / CAST(nt1 AS DOUBLE)
        |      + vt0 / CAST(nt0 AS DOUBLE) + vc1 / CAST(nc1 AS DOUBLE)
        |      + vc0 / CAST(nc0 AS DOUBLE)), 6) END AS se,
        |  CASE WHEN nt1 >= 2 AND nt0 >= 2 AND nc1 >= 2 AND nc0 >= 2
        |      AND sqrt(vt1 / CAST(nt1 AS DOUBLE) + vt0 / CAST(nt0 AS DOUBLE)
        |        + vc1 / CAST(nc1 AS DOUBLE) + vc0 / CAST(nc0 AS DOUBLE)) > 0
        |    THEN round(((mt1 - mt0) - (mc1 - mc0))
        |      / sqrt(vt1 / CAST(nt1 AS DOUBLE) + vt0 / CAST(nt0 AS DOUBLE)
        |        + vc1 / CAST(nc1 AS DOUBLE) + vc0 / CAST(nc0 AS DOUBLE)), 6)
        |  END AS z
        |FROM e""".stripMargin),
    // annotation-QA for SCORE-valued ratings: interval Krippendorff's
    // alpha over each user's repeated event values (intra-user agreement)
    Query("q309_krippendorff_interval", (s, dir) =>
      graft.ops.Quality.krippendorffAlphaInterval(
        t(s, dir, "events"), "user_id", "value"),
      // q309: exact pair-sum identities 2(m*Q - S^2) over HUGEINT micro
      // values; the per-unit (m-1) division micro-snapped before the sum
      """WITH v AS (
        |  SELECT user_id AS item,
        |    CAST(CAST(round(CAST(value AS DOUBLE) * 1000000.0) AS BIGINT)
        |      AS HUGEINT) AS vm
        |  FROM events WHERE value IS NOT NULL),
        |per AS (
        |  SELECT item, CAST(count(*) AS BIGINT) AS m,
        |    sum(vm) AS s, sum(vm * vm) AS q
        |  FROM v GROUP BY 1
        |  HAVING count(*) >= 2),
        |obs AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_items,
        |    CAST(coalesce(sum(m), 0) AS BIGINT) AS n,
        |    coalesce(sum(CAST(round(
        |      CAST(CAST(m AS HUGEINT) * q - s * s AS DOUBLE) * 2.0 / 1e12
        |        / (CAST(m AS DOUBLE) - 1.0) * 1000000.0)
        |      AS HUGEINT)), 0) AS o,
        |    sum(s) AS sg, sum(q) AS qg
        |  FROM per)
        |SELECT n_items, n AS n_ratings,
        |  round(CAST(o AS DOUBLE) / 1000000.0 / CAST(n AS DOUBLE), 6)
        |    AS d_o,
        |  round(CAST(CAST(n AS HUGEINT) * qg - sg * sg AS DOUBLE) * 2.0
        |    / 1e12 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)), 6)
        |    AS d_e,
        |  CASE WHEN CAST(CAST(n AS HUGEINT) * qg - sg * sg AS DOUBLE)
        |      * 2.0 / 1e12 > 0 THEN
        |    round(1.0 - (CAST(o AS DOUBLE) / 1000000.0
        |        / CAST(n AS DOUBLE))
        |      / (CAST(CAST(n AS HUGEINT) * qg - sg * sg AS DOUBLE) * 2.0
        |        / 1e12 / (CAST(n AS DOUBLE)
        |        * (CAST(n AS DOUBLE) - 1.0))), 6)
        |  END AS alpha
        |FROM obs
        |WHERE n > 0""".stripMargin),
    // binning-free distribution shift: each source's doc-length ECDF vs
    // the corpus, as an exact earth-mover distance in chars
    Query("q310_wasserstein_shift", (s, dir) =>
      graft.ops.Quality.wasserstein1(
        t(s, dir, "documents"), "source", "n_chars"),
      // q310: shared distinct-value grid, group-partitioned cumsums, exact
      // integer cross-multiplied ECDF gaps, ONE division at the end
      """WITH cells AS (
        |  SELECT source AS g,
        |    CAST(round(CAST(n_chars AS DOUBLE) * 1000000.0) AS BIGINT)
        |      AS vm,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM documents WHERE n_chars IS NOT NULL GROUP BY 1, 2),
        |grid AS (SELECT vm, CAST(sum(c) AS BIGINT) AS cg
        |  FROM cells GROUP BY 1),
        |grp AS (SELECT g, CAST(sum(c) AS BIGINT) AS ng
        |  FROM cells GROUP BY 1),
        |panel AS (
        |  SELECT grp.g, grid.vm, grp.ng, grid.cg,
        |    coalesce(cells.c, 0) AS cgrp
        |  FROM grid CROSS JOIN grp
        |  LEFT JOIN cells ON cells.g IS NOT DISTINCT FROM grp.g
        |    AND cells.vm = grid.vm),
        |w AS (
        |  SELECT g, ng, vm,
        |    sum(cgrp) OVER (PARTITION BY g ORDER BY vm) AS fg,
        |    sum(cg) OVER (PARTITION BY g ORDER BY vm) AS f,
        |    lead(vm) OVER (PARTITION BY g ORDER BY vm) - vm AS dx,
        |    sum(cg) OVER (PARTITION BY g) AS n
        |  FROM panel),
        |red AS (
        |  SELECT g, CAST(max(ng) AS BIGINT) AS n_group,
        |    CAST(max(n) AS BIGINT) AS n_total,
        |    coalesce(sum(abs(CAST(fg AS HUGEINT) * n
        |      - CAST(f AS HUGEINT) * ng) * dx), 0) AS wsum
        |  FROM w WHERE dx IS NOT NULL GROUP BY 1)
        |SELECT g AS source, n_group, n_total,
        |  round(CAST(wsum AS DOUBLE)
        |    / (CAST(n_group AS DOUBLE) * CAST(n_total AS DOUBLE))
        |    / 1000000.0, 6) AS w1
        |FROM red""".stripMargin),
    // the q310 remediation: per-source decile <-> corpus decile map
    // (quantile mapping / CDF matching), exact order statistics
    Query("q315_quantile_mapping", (s, dir) =>
      graft.ops.Quality.quantileMapping(
        t(s, dir, "documents"), "source", "n_chars", 10),
      // q315: exact lower order statistics off both cumulative histograms,
      // all-integer rank comparisons, values back to units at the end
      """WITH cells AS (
        |  SELECT source AS g,
        |    CAST(round(CAST(n_chars AS DOUBLE) * 1000000.0) AS BIGINT)
        |      AS vm,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM documents WHERE n_chars IS NOT NULL GROUP BY 1, 2),
        |qs AS (SELECT unnest(generate_series(1, 9)) AS q),
        |sh AS (
        |  SELECT g, vm, sum(c) OVER (PARTITION BY g ORDER BY vm) AS cum,
        |    sum(c) OVER (PARTITION BY g) AS n
        |  FROM cells),
        |src AS (
        |  SELECT g, q, CAST(max(n) AS BIGINT) AS n_group,
        |    min(vm) AS sv
        |  FROM sh CROSS JOIN qs WHERE cum * 10 >= q * n GROUP BY 1, 2),
        |ch AS (
        |  SELECT vm, sum(cc) OVER (ORDER BY vm) AS cum,
        |    sum(cc) OVER () AS n
        |  FROM (SELECT vm, sum(c) AS cc FROM cells GROUP BY 1)),
        |corp AS (
        |  SELECT q, min(vm) AS cv
        |  FROM ch CROSS JOIN qs WHERE cum * 10 >= q * n GROUP BY 1)
        |SELECT src.g AS source, CAST(src.q AS BIGINT) AS q, src.n_group,
        |  round(CAST(sv AS DOUBLE) / 1000000.0, 6) AS src_value,
        |  round(CAST(cv AS DOUBLE) / 1000000.0, 6) AS corpus_value,
        |  round(CAST(sv - cv AS DOUBLE) / 1000000.0, 6) AS shift
        |FROM src JOIN corp USING (q)""".stripMargin),
    // assumption-free A/B p-value: 200 md5-deterministic re-randomizations
    // of the q202 split, add-one tail share of |diff| re-reaches
    Query("q318_permutation_test", (s, dir) => {
      val variant = when(pmod(conv(substring(md5(col("user_id").cast("string")),
        1, 8), 16, 10).cast("long"), lit(2)) === 0, "a").otherwise("b")
      graft.ops.Quality.permutationTest(
        t(s, dir, "events").withColumn("variant", variant),
        "event_id", "variant", "value", "a", "b", 200)
    },
      // q318: the md5 block/slot draw chain replayed; the A-side cut
      // cross-multiplies u·N < n_a·2³² in HUGEINT, each diff snaps to a
      // micro-LONG before the tail count
      {
      val reps = 200
      val blocks = (reps + 3) / 4
      val nibSum = (1 to 8).map(k =>
        s"(strpos('0123456789abcdef', substr(h, 8 * slot + $k, 1)) - 1) " +
          s"* ${math.pow(16, 8 - k).toLong}").mkString(" + ")
      s"""WITH base AS (
         |  SELECT CAST(event_id AS VARCHAR) AS id,
         |    CASE WHEN ${md5ModSql("user_id", 2)} = 0 THEN 'a' ELSE 'b' END
         |      AS var,
         |    CAST(round(CAST(value AS DOUBLE) * 1000000.0) AS BIGINT) AS vm
         |  FROM events WHERE event_id IS NOT NULL AND value IS NOT NULL),
         |obs AS (SELECT
         |    CAST(count(CASE WHEN var = 'a' THEN 1 END) AS BIGINT) AS n_a,
         |    CAST(count(CASE WHEN var = 'b' THEN 1 END) AS BIGINT) AS n_b,
         |    CAST(sum(CASE WHEN var = 'a' THEN vm END) AS BIGINT) AS sa,
         |    CAST(sum(CASE WHEN var = 'b' THEN vm END) AS BIGINT) AS sb
         |  FROM base),
         |blks AS (SELECT unnest(generate_series(0, ${blocks - 1})) AS blk),
         |slots AS (SELECT unnest(generate_series(0, 3)) AS slot),
         |draws AS (SELECT blk * 4 + slot AS j, slot, b.vm,
         |    md5('perm|' || blk || '|' || b.id) AS h
         |  FROM base b CROSS JOIN blks CROSS JOIN slots
         |  WHERE blk * 4 + slot < $reps),
         |cut AS (SELECT CAST((aa - aa % nn) // nn
         |      + CASE WHEN aa % nn <> 0 THEN 1 ELSE 0 END AS BIGINT) AS cut
         |  FROM (SELECT CAST(n_a AS HUGEINT) * 4294967296 AS aa,
         |      CAST(n_a + n_b AS HUGEINT) AS nn FROM obs)),
         |assigned AS (SELECT j, vm,
         |    CAST($nibSum AS BIGINT) < c.cut AS is_a
         |  FROM draws CROSS JOIN cut c),
         |rep AS (SELECT j,
         |    count(CASE WHEN is_a THEN 1 END) AS pna,
         |    CAST(sum(CASE WHEN is_a THEN vm END) AS BIGINT) AS psa,
         |    count(CASE WHEN NOT is_a THEN 1 END) AS pnb,
         |    CAST(sum(CASE WHEN NOT is_a THEN vm END) AS BIGINT) AS psb
         |  FROM assigned GROUP BY 1),
         |nulld AS (SELECT CAST(round(CAST(psa AS DOUBLE) / pna
         |      - CAST(psb AS DOUBLE) / pnb) AS BIGINT) AS dm
         |  FROM rep WHERE pna > 0 AND pnb > 0),
         |od AS (SELECT n_a, n_b,
         |    CAST(round(CAST(sa AS DOUBLE) / n_a
         |      - CAST(sb AS DOUBLE) / n_b) AS BIGINT) AS dmo
         |  FROM obs),
         |fin AS (SELECT od.n_a, od.n_b,
         |    round(CAST(od.dmo AS DOUBLE) / 1000000.0, 6) AS diff,
         |    CAST(count(*) AS BIGINT) AS reps,
         |    round((count(CASE WHEN abs(dm) >= abs(dmo) THEN 1 END) + 1.0)
         |      / (count(*) + 1.0), 6) AS p_value
         |  FROM nulld CROSS JOIN od GROUP BY 1, 2, 3)
         |SELECT n_a, n_b, diff, reps, p_value, p_value <= 0.05 AS significant
         |FROM fin""".stripMargin
    }),
    // peek-safe daily experiment readout: mSPRT always-valid p over the
    // day-ordered prefix, monotone significance
    Query("q319_msprt", (s, dir) => {
      val variant = when(pmod(conv(substring(md5(col("user_id").cast("string")),
        1, 8), 16, 10).cast("long"), lit(2)) === 0, "a").otherwise("b")
      graft.ops.Quality.msprtSequential(
        t(s, dir, "events").withColumn("variant", variant),
        to_date(col("ts")), "variant", "value", "a", "b", 0.1)
    },
      // q319: cumulative exact micro partials over the day calendar, lnΛ
      // snapped to a micro-LONG, the always-valid p as exp(−running max)
      {
      val tau2 = 0.1 * 0.1
      s"""WITH e AS (
         |  SELECT CAST(ts AS DATE) AS day,
         |    CASE WHEN ${md5ModSql("user_id", 2)} = 0 THEN 'a' ELSE 'b' END
         |      AS var,
         |    CAST(round(CAST(value AS DOUBLE) * 1000000.0) AS BIGINT) AS vm
         |  FROM events WHERE value IS NOT NULL),
         |daily AS (SELECT day, var, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(vm) AS BIGINT) AS s,
         |    CAST(sum(CAST(vm AS HUGEINT) * vm) AS HUGEINT) AS s2
         |  FROM e GROUP BY 1, 2),
         |byday AS (SELECT day,
         |    coalesce(max(CASE WHEN var = 'a' THEN n END), 0) AS dna,
         |    coalesce(max(CASE WHEN var = 'b' THEN n END), 0) AS dnb,
         |    coalesce(max(CASE WHEN var = 'a' THEN s END), 0) AS dsa,
         |    coalesce(max(CASE WHEN var = 'b' THEN s END), 0) AS dsb,
         |    coalesce(max(CASE WHEN var = 'a' THEN s2 END),
         |      CAST(0 AS HUGEINT)) AS dqa,
         |    coalesce(max(CASE WHEN var = 'b' THEN s2 END),
         |      CAST(0 AS HUGEINT)) AS dqb
         |  FROM daily GROUP BY 1),
         |cum AS (SELECT day,
         |    CAST(sum(dna) OVER w AS BIGINT) AS n_a,
         |    CAST(sum(dnb) OVER w AS BIGINT) AS n_b,
         |    CAST(sum(dsa) OVER w AS BIGINT) AS sa,
         |    CAST(sum(dsb) OVER w AS BIGINT) AS sb,
         |    CAST(sum(dqa) OVER w AS HUGEINT) AS qa,
         |    CAST(sum(dqb) OVER w AS HUGEINT) AS qb
         |  FROM byday
         |  WINDOW w AS (ORDER BY day
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         |st AS (SELECT day, n_a, n_b,
         |    CAST(sa AS DOUBLE) / (CAST(n_a AS DOUBLE) * 1e6) AS ma,
         |    CAST(sb AS DOUBLE) / (CAST(n_b AS DOUBLE) * 1e6) AS mb,
         |    CAST(qa AS DOUBLE) / 1e12 AS qad,
         |    CAST(qb AS DOUBLE) / 1e12 AS qbd
         |  FROM cum),
         |lam AS (SELECT day, n_a, n_b, ma, mb,
         |    (qad - n_a * ma * ma + qbd - n_b * mb * mb)
         |      / (n_a + n_b - 2.0) AS sig2
         |  FROM st),
         |ln1 AS (SELECT day, n_a, n_b, ma, mb, sig2,
         |    sig2 * (1.0 / n_a + 1.0 / n_b) AS vn,
         |    n_a >= 2 AND n_b >= 2 AND sig2 > 0 AS ok
         |  FROM lam),
         |ln2 AS (SELECT day, n_a, n_b, ma, mb, ok,
         |    CASE WHEN ok THEN CAST(round(
         |      (0.5 * ln(vn / (vn + CAST($tau2 AS DOUBLE)))
         |        + (ma - mb) * (ma - mb) * CAST($tau2 AS DOUBLE)
         |          / (2.0 * vn * (vn + CAST($tau2 AS DOUBLE))))
         |      * 1000000.0) AS BIGINT) END AS lnm
         |  FROM ln1),
         |mx AS (SELECT *, max(lnm) OVER (ORDER BY day
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_max
         |  FROM ln2)
         |SELECT day, n_a, n_b,
         |  CASE WHEN ok THEN round(ma - mb, 6) END AS diff,
         |  CAST(lnm AS DOUBLE) / 1000000.0 AS ln_lambda,
         |  CASE WHEN run_max IS NOT NULL THEN round(least(1.0,
         |    exp(-CAST(run_max AS DOUBLE) / 1e6)), 6) END AS p_always_valid,
         |  coalesce(CASE WHEN run_max IS NOT NULL THEN round(least(1.0,
         |    exp(-CAST(run_max AS DOUBLE) / 1e6)), 6) <= 0.05 END, false)
         |    AS significant
         |FROM mx""".stripMargin
    }),
    // monotone recalibration MAP (not just the q173 diagnosis): closed-
    // form PAV minimax over the same clamped bins
    Query("q321_isotonic_calibration", (s, dir) =>
      graft.ops.Quality.isotonicCalibration(
        t(s, dir, "events")
          .withColumn("score", least(lit(1.0), col("value") / 250.0))
          .withColumn("converted", col("event_type") === "purchase"),
        "score", "converted", 10),
      // q321: the q173 bins replayed; every block mean is one division of
      // exact integer prefix-sum differences, so the minimax folds over
      // identical IEEE doubles on both engines
      """WITH e AS (SELECT least(1.0, CAST(value AS DOUBLE) / 250.0) AS score,
        |    event_type = 'purchase' AS conv FROM events
        |  WHERE value IS NOT NULL),
        |b AS (SELECT greatest(0, least(9,
        |      CAST(floor(score * 10) AS BIGINT))) AS bin,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN coalesce(conv, false) THEN 1 ELSE 0 END)
        |      AS BIGINT) AS pos,
        |    round(avg(score), 6) AS mean_score
        |  FROM e GROUP BY 1),
        |c AS (SELECT bin, n, pos, mean_score,
        |    CAST(sum(n) OVER w AS BIGINT) AS cn,
        |    CAST(sum(pos) OVER w AS BIGINT) AS cp
        |  FROM b WINDOW w AS (ORDER BY bin
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |pm AS (SELECT j.bin AS jb, kk.bin AS kb,
        |    CAST(kk.cp - (j.cp - j.pos) AS DOUBLE)
        |      / CAST(kk.cn - (j.cn - j.n) AS DOUBLE) AS m
        |  FROM c j JOIN c kk ON j.bin <= kk.bin),
        |innr AS (SELECT i.bin AS ib, pm.jb, min(pm.m) AS minm
        |  FROM c i JOIN pm ON pm.jb <= i.bin AND pm.kb >= i.bin
        |  GROUP BY 1, 2),
        |iso AS (SELECT ib AS bin, round(max(minm), 6) AS iso_rate
        |  FROM innr GROUP BY 1)
        |SELECT b.bin, b.n, b.mean_score,
        |  round(CAST(b.pos AS DOUBLE) / CAST(b.n AS DOUBLE), 6)
        |    AS outcome_rate,
        |  iso.iso_rate,
        |  coalesce(iso.iso_rate >= lag(iso.iso_rate) OVER (ORDER BY b.bin),
        |    true) AS monotone_ok
        |FROM b JOIN iso ON b.bin = iso.bin""".stripMargin),
    // homogeneity-attack audit: k-anonymous cohorts (q131) can still
    // leak when < 3 distinct balance bands appear inside them
    Query("q324_l_diversity", (s, dir) =>
      graft.ops.Quality.lDiversityAudit(
        t(s, dir, "customer").withColumn("bal_band",
          floor(col("c_acctbal") / 1000).cast("long")),
        Seq("c_nationkey", "c_mktsegment"), "bal_band", 3L),
      // q324: one (quasi × band) grid, the dominant share from the same
      // deterministic argmax window (ties to the lowest band, nulls last)
      """WITH b AS (SELECT c_nationkey, c_mktsegment,
        |    CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band
        |  FROM customer),
        |cells AS (SELECT c_nationkey, c_mktsegment, bal_band,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM b GROUP BY 1, 2, 3),
        |r AS (SELECT *, row_number() OVER
        |    (PARTITION BY c_nationkey, c_mktsegment
        |     ORDER BY n DESC, bal_band ASC NULLS LAST) AS rn
        |  FROM cells)
        |SELECT c_nationkey, c_mktsegment,
        |  CAST(sum(n) AS BIGINT) AS group_size,
        |  CAST(count(*) AS BIGINT) AS distinct_sensitive,
        |  round(CAST(max(CASE WHEN rn = 1 THEN n END) AS DOUBLE)
        |    / CAST(sum(n) AS DOUBLE), 6) AS dominant_share,
        |  count(*) < 3 AS at_risk
        |FROM r GROUP BY 1, 2""".stripMargin),
    // how heavy is the value tail per event type? Hill index over the
    // top-50 order statistics; alpha < 2 means infinite variance
    Query("q328_hill_tail", (s, dir) =>
      graft.ops.Quality.hillTailIndex(
        t(s, dir, "events"), "event_type", "value", 50),
      // q328: same top-(k+1) multiset (tie-order-invariant), ln on
      // identical doubles, one mirrored division
      """WITH base AS (SELECT event_type AS g, CAST(value AS DOUBLE) AS v
        |  FROM events WHERE value IS NOT NULL AND value > 0),
        |cnt AS (SELECT g, CAST(count(*) AS BIGINT) AS n_pos
        |  FROM base GROUP BY 1),
        |r AS (SELECT g, v,
        |    row_number() OVER (PARTITION BY g ORDER BY v DESC) AS rn
        |  FROM base),
        |top AS (SELECT g, max(CASE WHEN rn = 51 THEN v END) AS xk1,
        |    sum(CASE WHEN rn <= 50 THEN ln(v) END) AS lnsum
        |  FROM r WHERE rn <= 51 GROUP BY 1)
        |SELECT cnt.g AS event_type, cnt.n_pos,
        |  round(top.xk1, 6) AS x_kplus1,
        |  CASE WHEN top.lnsum - 50.0 * ln(top.xk1) > 0
        |    THEN round(50.0 / (top.lnsum - 50.0 * ln(top.xk1)), 6) END
        |    AS alpha,
        |  coalesce(CASE WHEN top.lnsum - 50.0 * ln(top.xk1) > 0
        |    THEN round(50.0 / (top.lnsum - 50.0 * ln(top.xk1)), 6) END < 2.0,
        |    false) AS heavy_tail
        |FROM cnt JOIN top ON cnt.g = top.g""".stripMargin),
    // the privacy triad's third leg: each cohort's balance distribution
    // vs the table's, rank-grid EMD in [0,1], flagged over t = 0.2
    Query("q333_t_closeness", (s, dir) =>
      graft.ops.Quality.tCloseness(
        t(s, dir, "customer").withColumn("cohort",
          concat_ws("|", col("c_nationkey"), col("c_mktsegment"))),
        "cohort", "c_acctbal", 0.2),
      // q333: the q310 panel with Δx = one rank step and the (m−1)
      // normalizer; integer cross-products in HUGEINT
      """WITH cells AS (SELECT
        |    CAST(c_nationkey AS VARCHAR) || '|' || c_mktsegment AS g,
        |    CAST(round(CAST(c_acctbal AS DOUBLE) * 1000000.0) AS BIGINT)
        |      AS vm,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM customer WHERE c_acctbal IS NOT NULL GROUP BY 1, 2),
        |grid AS (SELECT vm, CAST(sum(c) AS BIGINT) AS cg
        |  FROM cells GROUP BY 1),
        |grp AS (SELECT g, CAST(sum(c) AS BIGINT) AS ng
        |  FROM cells GROUP BY 1),
        |panel AS (SELECT grp.g, grid.vm, grp.ng, grid.cg,
        |    coalesce(cells.c, 0) AS cgrp
        |  FROM grid CROSS JOIN grp
        |  LEFT JOIN cells ON cells.g IS NOT DISTINCT FROM grp.g
        |    AND cells.vm = grid.vm),
        |w AS (SELECT g, ng, vm,
        |    sum(cgrp) OVER (PARTITION BY g ORDER BY vm) AS fg,
        |    sum(cg) OVER (PARTITION BY g ORDER BY vm) AS f,
        |    lead(vm) OVER (PARTITION BY g ORDER BY vm) AS nxt,
        |    sum(cg) OVER (PARTITION BY g) AS n,
        |    count(*) OVER (PARTITION BY g) AS m
        |  FROM panel),
        |red AS (SELECT g, CAST(max(ng) AS BIGINT) AS n_cohort,
        |    CAST(max(n) AS BIGINT) AS nt, CAST(max(m) AS BIGINT) AS m_values,
        |    coalesce(sum(CASE WHEN nxt IS NOT NULL THEN
        |      abs(CAST(fg AS HUGEINT) * n - CAST(f AS HUGEINT) * ng) END),
        |      0) AS wsum
        |  FROM w GROUP BY 1)
        |SELECT g AS cohort, n_cohort, m_values,
        |  CASE WHEN m_values > 1 THEN round(CAST(wsum AS DOUBLE)
        |    / (CAST(n_cohort AS DOUBLE) * CAST(nt AS DOUBLE)
        |      * CAST(m_values - 1 AS DOUBLE)), 6) END AS t_value,
        |  coalesce(CASE WHEN m_values > 1 THEN round(CAST(wsum AS DOUBLE)
        |    / (CAST(n_cohort AS DOUBLE) * CAST(nt AS DOUBLE)
        |      * CAST(m_values - 1 AS DOUBLE)), 6) > 0.2 END, false)
        |    AS at_risk
        |FROM red""".stripMargin),
    // unit-free effect magnitude per nation: Hedges-corrected Cohen's d
    // with the conventional small/medium/large bands
    Query("q300_effect_size", (s, dir) => {
      val o = t(s, dir, "orders").select(col("o_custkey"), col("o_totalprice"))
      val c = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"), col("c_mktsegment"))
      graft.ops.Quality.effectSize(
        o.join(c, col("o_custkey") === col("c_custkey")),
        "c_nationkey", "c_mktsegment", "o_totalprice",
        "BUILDING", "MACHINERY")
    },
      // q300: the welch pivot re-read as a standardized magnitude; J
      // correction and bands on the same mirrored doubles
      """WITH j AS (
        |  SELECT c.c_nationkey AS g, c.c_mktsegment AS var,
        |    CAST(o.o_totalprice AS DOUBLE) AS v
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |  WHERE c.c_mktsegment IN ('BUILDING', 'MACHINERY')
        |    AND o.o_totalprice IS NOT NULL),
        |red AS (
        |  SELECT g, var, CAST(count(*) AS BIGINT) AS n,
        |    sum(v) AS s, sum(v * v) AS s2
        |  FROM j GROUP BY 1, 2),
        |piv AS (
        |  SELECT g,
        |    COALESCE(max(CASE WHEN var = 'BUILDING' THEN n END), 0) AS n_a,
        |    COALESCE(max(CASE WHEN var = 'MACHINERY' THEN n END), 0) AS n_b,
        |    max(CASE WHEN var = 'BUILDING' THEN s END) AS sa,
        |    max(CASE WHEN var = 'MACHINERY' THEN s END) AS sb,
        |    max(CASE WHEN var = 'BUILDING' THEN s2 END) AS sa2,
        |    max(CASE WHEN var = 'MACHINERY' THEN s2 END) AS sb2
        |  FROM red GROUP BY 1),
        |d AS (
        |  SELECT g, n_a, n_b,
        |    sb / CAST(n_b AS DOUBLE) - sa / CAST(n_a AS DOUBLE) AS diff,
        |    sqrt(((sa2 - sa * sa / CAST(n_a AS DOUBLE))
        |      + (sb2 - sb * sb / CAST(n_b AS DOUBLE)))
        |      / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) - 2.0)) AS sp,
        |    CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) - 2.0 AS dfree
        |  FROM piv)
        |SELECT g AS c_nationkey, n_a, n_b,
        |  CASE WHEN n_a >= 1 AND n_b >= 1 THEN round(diff, 6) END AS diff,
        |  CASE WHEN n_a >= 2 AND n_b >= 2 THEN round(sp, 6) END
        |    AS pooled_sd,
        |  CASE WHEN n_a >= 2 AND n_b >= 2 AND sp > 0 THEN
        |    round(diff / sp, 6) END AS cohens_d,
        |  CASE WHEN n_a >= 2 AND n_b >= 2 AND sp > 0 THEN
        |    round((1.0 - 3.0 / (4.0 * dfree - 1.0)) * (diff / sp), 6) END
        |    AS hedges_g,
        |  CASE WHEN n_a >= 2 AND n_b >= 2 AND sp > 0 THEN
        |    CASE WHEN abs((1.0 - 3.0 / (4.0 * dfree - 1.0)) * (diff / sp))
        |           < 0.2 THEN 'negligible'
        |         WHEN abs((1.0 - 3.0 / (4.0 * dfree - 1.0)) * (diff / sp))
        |           < 0.5 THEN 'small'
        |         WHEN abs((1.0 - 3.0 / (4.0 * dfree - 1.0)) * (diff / sp))
        |           < 0.8 THEN 'medium'
        |         ELSE 'large' END END AS magnitude
        |FROM d""".stripMargin),
    // distribution-free median CI per type: binomial order-statistic
    // ranks off the cumulative value histogram, no normality assumed
    Query("q298_median_ci", (s, dir) =>
      graft.ops.Quality.medianCi(t(s, dir, "events"), "event_type",
        "value"),
      // q298: the same clamped binomial ranks read off the cumulative
      // histogram as exact order statistics
      """WITH g AS (
        |  SELECT event_type AS grp,
        |    CAST(round(value * 1000000.0) AS BIGINT) AS vm
        |  FROM events WHERE value IS NOT NULL),
        |grid AS (
        |  SELECT grp, vm, CAST(count(*) AS BIGINT) AS c
        |  FROM g GROUP BY 1, 2),
        |cum AS (
        |  SELECT grp, vm,
        |    sum(c) OVER (PARTITION BY grp ORDER BY vm) AS cw,
        |    sum(c) OVER (PARTITION BY grp) AS n
        |  FROM grid),
        |k AS (
        |  SELECT grp, vm, cw, n,
        |    least(greatest(CAST(ceil(CAST(n AS DOUBLE) / 2.0) AS BIGINT),
        |      1), n) AS km,
        |    least(greatest(CAST(ceil(CAST(n AS DOUBLE) / 2.0
        |      - 1.959964 * sqrt(CAST(n AS DOUBLE)) / 2.0) AS BIGINT),
        |      1), n) AS kl,
        |    least(greatest(CAST(floor(CAST(n AS DOUBLE) / 2.0 + 1.0
        |      + 1.959964 * sqrt(CAST(n AS DOUBLE)) / 2.0) AS BIGINT),
        |      1), n) AS kh
        |  FROM cum)
        |SELECT grp AS event_type, CAST(max(n) AS BIGINT) AS n,
        |  round(CAST(min(CASE WHEN cw >= km THEN vm END) AS DOUBLE)
        |    / 1000000.0, 6) AS median,
        |  round(CAST(min(CASE WHEN cw >= kl THEN vm END) AS DOUBLE)
        |    / 1000000.0, 6) AS ci_lo,
        |  round(CAST(min(CASE WHEN cw >= kh THEN vm END) AS DOUBLE)
        |    / 1000000.0, 6) AS ci_hi
        |FROM k GROUP BY 1""".stripMargin),
    // normality gate per type: Jarque-Bera off one five-partial moment
    // pass - the precondition audit for any z-interval on the column
    Query("q299_jarque_bera", (s, dir) =>
      graft.ops.Quality.jarqueBera(t(s, dir, "events"), "event_type",
        "value"),
      // q299: the same five raw power sums and the same central-moment
      // expansion, mirrored term order
      """WITH red AS (
        |  SELECT event_type AS grp, CAST(count(*) AS BIGINT) AS n,
        |    sum(CAST(value AS DOUBLE)) AS s1,
        |    sum(CAST(value AS DOUBLE) * CAST(value AS DOUBLE)) AS s2,
        |    sum(CAST(value AS DOUBLE) * CAST(value AS DOUBLE)
        |      * CAST(value AS DOUBLE)) AS s3,
        |    sum(CAST(value AS DOUBLE) * CAST(value AS DOUBLE)
        |      * CAST(value AS DOUBLE) * CAST(value AS DOUBLE)) AS s4
        |  FROM events WHERE value IS NOT NULL GROUP BY 1),
        |m AS (
        |  SELECT grp, n,
        |    s2 / CAST(n AS DOUBLE)
        |      - (s1 / CAST(n AS DOUBLE)) * (s1 / CAST(n AS DOUBLE)) AS m2,
        |    s3 / CAST(n AS DOUBLE)
        |      - 3.0 * (s1 / CAST(n AS DOUBLE)) * (s2 / CAST(n AS DOUBLE))
        |      + 2.0 * (s1 / CAST(n AS DOUBLE)) * (s1 / CAST(n AS DOUBLE))
        |        * (s1 / CAST(n AS DOUBLE)) AS m3,
        |    s4 / CAST(n AS DOUBLE)
        |      - 4.0 * (s1 / CAST(n AS DOUBLE)) * (s3 / CAST(n AS DOUBLE))
        |      + 6.0 * (s1 / CAST(n AS DOUBLE)) * (s1 / CAST(n AS DOUBLE))
        |        * (s2 / CAST(n AS DOUBLE))
        |      - 3.0 * (s1 / CAST(n AS DOUBLE)) * (s1 / CAST(n AS DOUBLE))
        |        * (s1 / CAST(n AS DOUBLE)) * (s1 / CAST(n AS DOUBLE)) AS m4
        |  FROM red)
        |SELECT grp AS event_type, n,
        |  CASE WHEN n >= 4 AND m2 > 0 THEN
        |    round(m3 / sqrt(m2 * m2 * m2), 6) END AS skewness,
        |  CASE WHEN n >= 4 AND m2 > 0 THEN
        |    round(m4 / (m2 * m2), 6) END AS kurtosis,
        |  CASE WHEN n >= 4 AND m2 > 0 THEN
        |    round(CAST(n AS DOUBLE) / 6.0
        |      * ((m3 / sqrt(m2 * m2 * m2)) * (m3 / sqrt(m2 * m2 * m2))
        |        + (m4 / (m2 * m2) - 3.0) * (m4 / (m2 * m2) - 3.0) / 4.0),
        |      6) END AS jb,
        |  COALESCE(CASE WHEN n >= 4 AND m2 > 0 THEN
        |    CAST(n AS DOUBLE) / 6.0
        |      * ((m3 / sqrt(m2 * m2 * m2)) * (m3 / sqrt(m2 * m2 * m2))
        |        + (m4 / (m2 * m2) - 3.0) * (m4 / (m2 * m2) - 3.0) / 4.0)
        |      > 5.991465 END, FALSE) AS reject_normal
        |FROM m""".stripMargin),
    // mixture-bias alarm: does the pooled urgent-rate difference point
    // the same way as every per-nation difference?
    Query("q296_simpson_check", (s, dir) => {
      val o = t(s, dir, "orders").select(col("o_custkey"),
        (col("o_orderpriority") === "1-URGENT").as("urgent"))
      val c = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"), col("c_mktsegment"))
      graft.ops.Quality.simpsonCheck(
        o.join(c, col("o_custkey") === col("c_custkey")),
        "c_nationkey", "c_mktsegment", "urgent", "BUILDING", "MACHINERY")
    },
      // q296: the q284 reduction re-aggregated into the per-group sign
      // census vs the pooled sign
      """WITH j AS (
        |  SELECT c.c_nationkey AS g, c.c_mktsegment AS var,
        |    CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS y
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |  WHERE c.c_mktsegment IN ('BUILDING', 'MACHINERY')
        |    AND o.o_orderpriority IS NOT NULL),
        |red AS (
        |  SELECT g, var, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(y) AS BIGINT) AS x
        |  FROM j GROUP BY 1, 2),
        |piv AS (
        |  SELECT g,
        |    COALESCE(max(CASE WHEN var = 'BUILDING' THEN n END), 0) AS na,
        |    COALESCE(max(CASE WHEN var = 'BUILDING' THEN x END), 0) AS xa,
        |    COALESCE(max(CASE WHEN var = 'MACHINERY' THEN n END), 0) AS nb,
        |    COALESCE(max(CASE WHEN var = 'MACHINERY' THEN x END), 0) AS xb
        |  FROM red GROUP BY 1),
        |d AS (
        |  SELECT *, na >= 1 AND nb >= 1 AS hasboth,
        |    CAST(xb AS DOUBLE) / CAST(nb AS DOUBLE)
        |      - CAST(xa AS DOUBLE) / CAST(na AS DOUBLE) AS gd
        |  FROM piv),
        |tot AS (
        |  SELECT CAST(count(*) FILTER (hasboth) AS BIGINT) AS n_groups,
        |    CAST(COALESCE(sum(na), 0) AS BIGINT) AS tna,
        |    CAST(COALESCE(sum(xa), 0) AS BIGINT) AS txa,
        |    CAST(COALESCE(sum(nb), 0) AS BIGINT) AS tnb,
        |    CAST(COALESCE(sum(xb), 0) AS BIGINT) AS txb,
        |    CAST(count(*) FILTER (hasboth AND gd > 0) AS BIGINT)
        |      AS groups_b_better,
        |    CAST(count(*) FILTER (hasboth AND gd < 0) AS BIGINT)
        |      AS groups_a_better,
        |    CAST(count(*) FILTER (hasboth AND gd = 0.0) AS BIGINT)
        |      AS groups_tied
        |  FROM d),
        |p AS (
        |  SELECT *,
        |    CAST(txa AS DOUBLE) / CAST(tna AS DOUBLE) AS pa,
        |    CAST(txb AS DOUBLE) / CAST(tnb AS DOUBLE) AS pb
        |  FROM tot)
        |SELECT n_groups,
        |  CASE WHEN tna >= 1 THEN round(pa, 6) END AS pooled_p_a,
        |  CASE WHEN tnb >= 1 THEN round(pb, 6) END AS pooled_p_b,
        |  CASE WHEN tna >= 1 AND tnb >= 1 THEN round(pb - pa, 6) END
        |    AS pooled_diff,
        |  groups_b_better, groups_a_better, groups_tied,
        |  COALESCE(CASE WHEN tna >= 1 AND tnb >= 1 AND n_groups > 0 THEN
        |    (pb - pa > 0 AND groups_b_better = 0 AND groups_a_better > 0)
        |    OR (pb - pa < 0 AND groups_a_better = 0
        |      AND groups_b_better > 0) END, FALSE) AS reversal
        |FROM p""".stripMargin),
    // is the per-(user,type) arrival process Poisson? one-sample KS of
    // inter-arrival gaps vs the fitted exponential, per event type
    Query("q292_exponential_gof", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id", "event_type")
        .orderBy(col("ts"), col("event_id"))
      val gaps = t(s, dir, "events")
        .withColumn("gap_s",
          (unix_micros(col("ts")) -
            unix_micros(lag(col("ts"), 1).over(w))).cast("double") / 1e6)
        .where(col("gap_s").isNotNull)
      graft.ops.Quality.exponentialGof(gaps, "event_type", "gap_s")
    },
      // q292: the same step-edge KS against the fitted exponential; the
      // transcendental F rides mirrored doubles under the 6dp quantum
      """WITH g AS (
        |  SELECT event_type AS grp,
        |    CAST(round((CAST(epoch_us(CAST(ts AS TIMESTAMP))
        |      - lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER
        |        (PARTITION BY user_id, event_type
        |         ORDER BY CAST(ts AS TIMESTAMP), event_id) AS DOUBLE)
        |      / 1000000.0) * 1000000.0) AS BIGINT) AS vm
        |  FROM events),
        |g2 AS (SELECT grp, vm FROM g WHERE vm IS NOT NULL AND vm >= 0),
        |grid AS (
        |  SELECT grp, vm, CAST(count(*) AS BIGINT) AS c
        |  FROM g2 GROUP BY 1, 2),
        |cum AS (
        |  SELECT grp, vm, c,
        |    sum(c) OVER (PARTITION BY grp ORDER BY vm) AS cw,
        |    sum(CAST(c AS HUGEINT) * vm) OVER (PARTITION BY grp) AS sv,
        |    sum(c) OVER (PARTITION BY grp) AS n
        |  FROM grid),
        |t AS (
        |  SELECT grp, n,
        |    CAST(sv AS DOUBLE) / 1000000.0 / CAST(n AS DOUBLE) AS mean,
        |    CASE WHEN sv > 0 THEN greatest(
        |      abs(CAST(cw AS DOUBLE) / CAST(n AS DOUBLE)
        |        - (1.0 - exp(-1.0 * (1.0 / (CAST(sv AS DOUBLE) / 1000000.0
        |            / CAST(n AS DOUBLE)))
        |          * (CAST(vm AS DOUBLE) / 1000000.0)))),
        |      abs(CAST(cw - c AS DOUBLE) / CAST(n AS DOUBLE)
        |        - (1.0 - exp(-1.0 * (1.0 / (CAST(sv AS DOUBLE) / 1000000.0
        |            / CAST(n AS DOUBLE)))
        |          * (CAST(vm AS DOUBLE) / 1000000.0))))) END AS d
        |  FROM cum),
        |red AS (
        |  SELECT grp, CAST(max(n) AS BIGINT) AS n, max(mean) AS mean,
        |    max(d) AS dmax
        |  FROM t GROUP BY 1)
        |SELECT grp AS event_type, n, round(mean, 6) AS mean,
        |  CASE WHEN mean > 0 THEN round(1.0 / mean, 6) END AS lambda,
        |  CASE WHEN mean > 0 THEN round(dmax, 6) END AS ks_d,
        |  COALESCE(CASE WHEN mean > 0 THEN
        |    dmax > 1.358 / sqrt(CAST(n AS DOUBLE)) END, FALSE)
        |    AS reject_95_conservative
        |FROM red""".stripMargin),
    // conversion-rate A/B: per-nation urgent-order share, BUILDING vs
    // MACHINERY, pooled z + Wilson intervals off exact counts
    Query("q284_conversion_ab", (s, dir) => {
      val o = t(s, dir, "orders").select(col("o_custkey"),
        (col("o_orderpriority") === "1-URGENT").as("urgent"))
      val c = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"), col("c_mktsegment"))
      graft.ops.Quality.twoProportionTest(
        o.join(c, col("o_custkey") === col("c_custkey")),
        "c_nationkey", "c_mktsegment", "urgent", "BUILDING", "MACHINERY")
    },
      // q284: pooled z + Wilson, every statistic closed-form arithmetic on
      // the same exact counts (z constants as in-engine products)
      """WITH j AS (
        |  SELECT c.c_nationkey AS g, c.c_mktsegment AS var,
        |    CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS y
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |  WHERE c.c_mktsegment IN ('BUILDING', 'MACHINERY')
        |    AND o.o_orderpriority IS NOT NULL),
        |red AS (
        |  SELECT g, var, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(y) AS BIGINT) AS x
        |  FROM j GROUP BY 1, 2),
        |piv AS (
        |  SELECT g,
        |    COALESCE(max(CASE WHEN var = 'BUILDING' THEN n END), 0) AS n_a,
        |    COALESCE(max(CASE WHEN var = 'BUILDING' THEN x END), 0) AS x_a,
        |    COALESCE(max(CASE WHEN var = 'MACHINERY' THEN n END), 0) AS n_b,
        |    COALESCE(max(CASE WHEN var = 'MACHINERY' THEN x END), 0) AS x_b
        |  FROM red GROUP BY 1),
        |d AS (
        |  SELECT g, n_a, x_a, n_b, x_b,
        |    CAST(n_a AS DOUBLE) AS na, CAST(x_a AS DOUBLE) AS xa,
        |    CAST(n_b AS DOUBLE) AS nb, CAST(x_b AS DOUBLE) AS xb
        |  FROM piv),
        |s AS (
        |  SELECT *,
        |    (xa + xb) / (na + nb) AS pool,
        |    xb / nb - xa / na AS diff
        |  FROM d)
        |SELECT g AS c_nationkey, n_a, x_a, n_b, x_b,
        |  CASE WHEN n_a >= 1 THEN round(xa / na, 6) END AS p_a,
        |  CASE WHEN n_a >= 1 THEN round(
        |    ((xa + 1.959964 * 1.959964 / 2.0) - 1.959964 *
        |      sqrt(xa * (na - xa) / na + 1.959964 * 1.959964 / 4.0))
        |    / (na + 1.959964 * 1.959964), 6) END AS p_a_lo,
        |  CASE WHEN n_a >= 1 THEN round(
        |    ((xa + 1.959964 * 1.959964 / 2.0) + 1.959964 *
        |      sqrt(xa * (na - xa) / na + 1.959964 * 1.959964 / 4.0))
        |    / (na + 1.959964 * 1.959964), 6) END AS p_a_hi,
        |  CASE WHEN n_b >= 1 THEN round(xb / nb, 6) END AS p_b,
        |  CASE WHEN n_b >= 1 THEN round(
        |    ((xb + 1.959964 * 1.959964 / 2.0) - 1.959964 *
        |      sqrt(xb * (nb - xb) / nb + 1.959964 * 1.959964 / 4.0))
        |    / (nb + 1.959964 * 1.959964), 6) END AS p_b_lo,
        |  CASE WHEN n_b >= 1 THEN round(
        |    ((xb + 1.959964 * 1.959964 / 2.0) + 1.959964 *
        |      sqrt(xb * (nb - xb) / nb + 1.959964 * 1.959964 / 4.0))
        |    / (nb + 1.959964 * 1.959964), 6) END AS p_b_hi,
        |  CASE WHEN n_a >= 1 AND n_b >= 1 THEN round(diff, 6) END AS diff,
        |  CASE WHEN n_a >= 1 AND n_b >= 1 AND x_a + x_b > 0
        |        AND x_a + x_b < n_a + n_b THEN
        |    round(diff / sqrt(pool * (1.0 - pool)
        |      * (1.0 / na + 1.0 / nb)), 6) END AS z,
        |  COALESCE(CASE WHEN n_a >= 1 AND n_b >= 1 AND x_a + x_b > 0
        |        AND x_a + x_b < n_a + n_b THEN
        |    abs(diff / sqrt(pool * (1.0 - pool)
        |      * (1.0 / na + 1.0 / nb))) > 1.959964 END, FALSE)
        |    AS significant
        |FROM s""".stripMargin),
    // WHERE the distributions differ: exact per-quantile order statistics
    // of order totals, BUILDING vs MACHINERY
    Query("q285_qte", (s, dir) => {
      val o = t(s, dir, "orders").select(col("o_custkey"), col("o_totalprice"))
      val c = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
      graft.ops.Quality.quantileTreatmentEffect(
        o.join(c, col("o_custkey") === col("c_custkey")),
        "c_mktsegment", "o_totalprice", "BUILDING", "MACHINERY",
        Seq(0.1, 0.25, 0.5, 0.75, 0.9, 0.99))
    },
      // q285: exact order statistics read off the cumulative histogram,
      // rank = clamp(ceil(p*n)), quantile grid cast to DOUBLE
      """WITH j AS (
        |  SELECT c.c_mktsegment AS var,
        |    CAST(round(CAST(o.o_totalprice AS DOUBLE) * 1000000.0)
        |      AS BIGINT) AS vm
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |  WHERE c.c_mktsegment IN ('BUILDING', 'MACHINERY')
        |    AND o.o_totalprice IS NOT NULL),
        |grid AS (
        |  SELECT vm,
        |    CAST(count(*) FILTER (var = 'BUILDING') AS BIGINT) AS ca,
        |    CAST(count(*) FILTER (var = 'MACHINERY') AS BIGINT) AS cb
        |  FROM j GROUP BY 1),
        |cum AS (
        |  SELECT vm,
        |    sum(ca) OVER (ORDER BY vm) AS cuma,
        |    sum(cb) OVER (ORDER BY vm) AS cumb,
        |    sum(ca) OVER () AS na, sum(cb) OVER () AS nb
        |  FROM grid),
        |q AS (
        |  SELECT unnest([CAST(0.1 AS DOUBLE), CAST(0.25 AS DOUBLE),
        |    CAST(0.5 AS DOUBLE), CAST(0.75 AS DOUBLE),
        |    CAST(0.9 AS DOUBLE), CAST(0.99 AS DOUBLE)]) AS quantile),
        |hits AS (
        |  SELECT q.quantile,
        |    CAST(max(cum.na) AS BIGINT) AS n_a,
        |    CAST(max(cum.nb) AS BIGINT) AS n_b,
        |    min(CASE WHEN cum.cuma >= least(greatest(
        |        CAST(ceil(q.quantile * CAST(cum.na AS DOUBLE)) AS BIGINT),
        |        1), cum.na) THEN cum.vm END) AS qa,
        |    min(CASE WHEN cum.cumb >= least(greatest(
        |        CAST(ceil(q.quantile * CAST(cum.nb AS DOUBLE)) AS BIGINT),
        |        1), cum.nb) THEN cum.vm END) AS qb
        |  FROM q, cum GROUP BY 1)
        |SELECT quantile, n_a, n_b,
        |  CASE WHEN n_a >= 1
        |       THEN round(CAST(qa AS DOUBLE) / 1000000.0, 6) END AS q_a,
        |  CASE WHEN n_b >= 1
        |       THEN round(CAST(qb AS DOUBLE) / 1000000.0, 6) END AS q_b,
        |  CASE WHEN n_a >= 1 AND n_b >= 1
        |       THEN round(CAST(qb - qa AS DOUBLE) / 1000000.0, 6) END AS qte
        |FROM hits""".stripMargin),
    // outlier-robust effect: 5%-trimmed mean difference of event values,
    // click vs purchase, off the cumulative value histogram
    Query("q286_trimmed_diff", (s, dir) =>
      graft.ops.Quality.trimmedMeanDiff(
        t(s, dir, "events"), "event_type", "value", "click", "purchase",
        0.05),
      // q286: per value block, kept copies = overlap of its rank span with
      // [t+1, n-t]; micro-sums exact in HUGEINT
      """WITH e AS (
        |  SELECT event_type AS var,
        |    CAST(round(value * 1000000.0) AS BIGINT) AS vm
        |  FROM events
        |  WHERE value IS NOT NULL AND event_type IN ('click', 'purchase')),
        |grid AS (
        |  SELECT vm,
        |    CAST(count(*) FILTER (var = 'click') AS BIGINT) AS ca,
        |    CAST(count(*) FILTER (var = 'purchase') AS BIGINT) AS cb
        |  FROM e GROUP BY 1),
        |cum AS (
        |  SELECT vm, ca, cb,
        |    sum(ca) OVER (ORDER BY vm) AS cuma,
        |    sum(cb) OVER (ORDER BY vm) AS cumb,
        |    sum(ca) OVER () AS na, sum(cb) OVER () AS nb
        |  FROM grid),
        |k AS (
        |  SELECT vm, na, nb,
        |    greatest(0, least(cuma, na - ta) - greatest(cuma - ca, ta))
        |      AS ka,
        |    greatest(0, least(cumb, nb - tb) - greatest(cumb - cb, tb))
        |      AS kb
        |  FROM (SELECT *,
        |      CAST(floor(0.05 * CAST(na AS DOUBLE)) AS BIGINT) AS ta,
        |      CAST(floor(0.05 * CAST(nb AS DOUBLE)) AS BIGINT) AS tb
        |    FROM cum)),
        |red AS (
        |  SELECT CAST(max(na) AS BIGINT) AS n_a,
        |    CAST(max(nb) AS BIGINT) AS n_b,
        |    CAST(COALESCE(sum(ka), 0) AS BIGINT) AS kept_a,
        |    CAST(COALESCE(sum(kb), 0) AS BIGINT) AS kept_b,
        |    CAST(sum(CAST(ka AS HUGEINT) * vm) AS HUGEINT) AS sa,
        |    CAST(sum(CAST(kb AS HUGEINT) * vm) AS HUGEINT) AS sb
        |  FROM k)
        |SELECT n_a, n_b, kept_a, kept_b,
        |  CASE WHEN kept_a > 0 THEN round(CAST(sa AS DOUBLE)
        |    / (1000000.0 * CAST(kept_a AS DOUBLE)), 6) END AS tmean_a,
        |  CASE WHEN kept_b > 0 THEN round(CAST(sb AS DOUBLE)
        |    / (1000000.0 * CAST(kept_b AS DOUBLE)), 6) END AS tmean_b,
        |  CASE WHEN kept_a > 0 AND kept_b > 0 THEN
        |    round(CAST(sb AS DOUBLE) / (1000000.0 * CAST(kept_b AS DOUBLE))
        |      - CAST(sa AS DOUBLE) / (1000000.0 * CAST(kept_a AS DOUBLE)),
        |      6) END AS diff
        |FROM red WHERE n_a + n_b > 0""".stripMargin),
    // exact binomial sign test per supplier (monthly 1996-vs-1995 ship
    // counts, n <= 12) -> Benjamini-Hochberg over the 1000-supplier family
    Query("q281_sign_fdr", (s, dir) => {
      val li = t(s, dir, "lineitem")
        .where(year(col("l_shipdate")).isin(1995, 1996))
      val diffs = li
        .groupBy(col("l_suppkey"), month(col("l_shipdate")).as("mo"))
        .agg((count(when(year(col("l_shipdate")) === 1996, 1)) -
          count(when(year(col("l_shipdate")) === 1995, 1))).as("diff"))
      graft.ops.Quality.bhFdr(
        graft.ops.Quality.signTest(diffs, "l_suppkey", "diff"),
        "l_suppkey", "p", 0.1)
    },
      // q281: the binomial CDF via the integer recurrence in a recursive
      // CTE (exact in doubles for n <= 50), then the exact-integer BH cut
      """WITH RECURSIVE pm AS (
        |  SELECT l_suppkey AS k, month(l_shipdate) AS mo,
        |    CAST(count(*) FILTER (year(l_shipdate) = 1996) AS BIGINT)
        |      - CAST(count(*) FILTER (year(l_shipdate) = 1995) AS BIGINT)
        |      AS diff
        |  FROM lineitem WHERE year(l_shipdate) IN (1995, 1996)
        |  GROUP BY 1, 2),
        |sg AS (
        |  SELECT k, CAST(count(*) AS BIGINT) AS n,
        |    CAST(count(*) FILTER (diff > 0) AS BIGINT) AS np,
        |    CAST(count(*) FILTER (diff < 0) AS BIGINT) AS nn
        |  FROM pm WHERE diff <> 0 GROUP BY 1),
        |r AS (
        |  SELECT k, n, least(np, nn) AS kk, 0 AS i,
        |    CAST(1.0 AS DOUBLE) AS c, CAST(1.0 AS DOUBLE) AS s
        |  FROM sg WHERE n <= 50
        |  UNION ALL
        |  SELECT k, n, kk, i + 1,
        |    c * (CAST(n AS DOUBLE) - i) / (i + 1),
        |    s + c * (CAST(n AS DOUBLE) - i) / (i + 1)
        |  FROM r WHERE i < kk),
        |cdf AS (SELECT k, s FROM r WHERE i = kk),
        |pv AS (
        |  SELECT sg.k,
        |    CASE WHEN sg.n >= 1 AND sg.n <= 50 THEN
        |      round(least(1.0, 2.0 * (cdf.s
        |        / pow(2.0, CAST(sg.n AS DOUBLE)))), 6) END AS p
        |  FROM sg LEFT JOIN cdf ON sg.k = cdf.k),
        |fam AS (
        |  SELECT k, p, CAST(round(p * 1000000.0) AS BIGINT) AS pm6
        |  FROM pv WHERE p IS NOT NULL),
        |rk AS (
        |  SELECT k, p, pm6,
        |    CAST(row_number() OVER (ORDER BY pm6, k) AS INT) AS rank,
        |    count(*) OVER () AS m
        |  FROM fam),
        |fl AS (
        |  SELECT k, p, rank, pm6 * m <= rank * 100000 AS flag FROM rk),
        |ct AS (
        |  SELECT k, p, rank,
        |    max(CASE WHEN flag THEN rank END) OVER () AS cutoff
        |  FROM fl)
        |SELECT k AS l_suppkey, p, rank,
        |  rank <= COALESCE(cutoff, 0) AS rejected
        |FROM ct""".stripMargin),
    // categorical MI / Theil's U between event type and day-of-week:
    // micro-long cell terms over the exact contingency grid - the
    // nonlinear dependence gauge next to q205's Pearson matrix
    Query("q254_categorical_mi", (s, dir) =>
      graft.ops.Quality.categoricalMI(
        t(s, dir, "events").where(col("ts").isNotNull)
          .withColumn("dow", pmod(datediff(to_date(col("ts")),
            lit("1970-01-01").cast("date")), lit(7))),
        "event_type", "dow"),
      // q254: same epoch-anchored dow, same micro-long cell snap, null-
      // safe marginal joins; integer sums carry no accumulation order
      """WITH e AS (SELECT event_type AS a,
        |    datediff('day', DATE '1970-01-01',
        |      CAST(CAST(ts AS TIMESTAMP) AS DATE)) % 7 AS b
        |  FROM events WHERE ts IS NOT NULL),
        |g AS (SELECT a, b, count(*) AS nij FROM e GROUP BY 1, 2),
        |ma AS (SELECT a, CAST(sum(nij) AS BIGINT) AS ni FROM g GROUP BY 1),
        |mb AS (SELECT b, CAST(sum(nij) AS BIGINT) AS nj FROM g GROUP BY 1),
        |t AS (SELECT CAST(sum(nij) AS BIGINT) AS n FROM g),
        |mi AS (SELECT CAST(sum(CAST(round((CAST(nij AS DOUBLE) / n)
        |      * ln(n * CAST(nij AS DOUBLE)
        |        / (CAST(ni AS DOUBLE) * CAST(nj AS DOUBLE)))
        |      * 1000000.0) AS BIGINT)) AS BIGINT) AS mim
        |  FROM g JOIN ma ON g.a IS NOT DISTINCT FROM ma.a
        |    JOIN mb ON g.b IS NOT DISTINCT FROM mb.b, t),
        |ha AS (SELECT CAST(sum(CAST(round(-(CAST(ni AS DOUBLE) / n)
        |      * ln(CAST(ni AS DOUBLE) / n) * 1000000.0) AS BIGINT))
        |    AS BIGINT) AS ham FROM ma, t),
        |hb AS (SELECT CAST(sum(CAST(round(-(CAST(nj AS DOUBLE) / n)
        |      * ln(CAST(nj AS DOUBLE) / n) * 1000000.0) AS BIGINT))
        |    AS BIGINT) AS hbm FROM mb, t),
        |na AS (SELECT CAST(count(*) AS BIGINT) AS n_a FROM ma),
        |nb AS (SELECT CAST(count(*) AS BIGINT) AS n_b FROM mb)
        |SELECT t.n AS n, na.n_a, nb.n_b,
        |  CAST(ham AS DOUBLE) / 1000000.0 AS h_a,
        |  CAST(hbm AS DOUBLE) / 1000000.0 AS h_b,
        |  CAST(mim AS DOUBLE) / 1000000.0 AS mi,
        |  CASE WHEN ham > 0 THEN
        |    round(CAST(mim AS DOUBLE) / CAST(ham AS DOUBLE), 6)
        |  END AS u_a_given_b,
        |  CASE WHEN hbm > 0 THEN
        |    round(CAST(mim AS DOUBLE) / CAST(hbm AS DOUBLE), 6)
        |  END AS u_b_given_a
        |FROM t, mi, ha, hb, na, nb""".stripMargin),
    // streaming twin of q94/q149: per-group moments held open across
    // three micro-batches by additive power-sum merges - the drained
    // store must finish to the one-pass batch profile
    Query("q251_stream_moments", (s, dir) => {
      import graft.streaming.EventStream
      val ev = t(s, dir, "events").select("event_id", "event_type", "value")
      val tmp = java.nio.file.Files.createTempDirectory("q251-mom").toString
      val srcDir = new java.io.File(s"$tmp/drops"); srcDir.mkdirs()
      def drop(df: DataFrame, name: String, modTime: Long): Unit = {
        val stage = s"$tmp/stage_$name"
        df.coalesce(1).write.parquet(stage)
        val part = new java.io.File(stage).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        val dst = new java.io.File(srcDir, s"$name.parquet")
        java.nio.file.Files.move(part.toPath, dst.toPath)
        dst.setLastModified(modTime)
      }
      drop(ev.where(pmod(col("event_id"), lit(3)) === 0), "b0", 1000000L)
      drop(ev.where(pmod(col("event_id"), lit(3)) === 1), "b1", 2000000L)
      drop(ev.where(pmod(col("event_id"), lit(3)) === 2), "b2", 3000000L)
      val schema = ManifestRead.footerSchema(s, s"$srcDir/b0.parquet")
      val stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("basePath", srcDir.toString)
        .parquet(s"$srcDir/*.parquet")
      val store = new graft.sources.TableStore(s)
      val q = EventStream.streamMomentsMerge(stream, store, s"$tmp/moments",
        s"$tmp/ckpt", "event_type", "value")
      q.awaitTermination()
      graft.ops.Quality.mergeMoments(store.read(s"$tmp/moments"), "event_type")
    },
      // q251: identical full-scan recompute - the stream's additive
      // power-sum merges must finish to the same profile
      momentsOracleSql),
    // per-event-type ROC-AUC of value against a deterministic pseudo
    // label (even user_id) — the threshold-free score-quality check
    Query("q187_roc_auc", (s, dir) =>
      graft.ops.Quality.rocAuc(
        t(s, dir, "events").withColumn("lbl", col("user_id") % 2 === 0),
        "event_type", "value", "lbl"),
      // q187: identical rank-sum identity on the reduced per-score table
      """WITH red AS (SELECT event_type, CAST(value AS DOUBLE) AS s,
        |    CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS np,
        |    CAST(sum(CASE WHEN user_id % 2 = 0 THEN 0 ELSE 1 END) AS BIGINT)
        |      AS nn
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
        |cum AS (SELECT *, coalesce(CAST(sum(nn) OVER (PARTITION BY event_type
        |    ORDER BY s ASC ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |    AS BIGINT), 0) AS cum_neg,
        |  CAST(np AS DOUBLE) * (coalesce(CAST(sum(nn) OVER (
        |    PARTITION BY event_type ORDER BY s ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
        |    + CAST(nn AS DOUBLE) / 2.0) AS c
        |  FROM red)
        |SELECT event_type, CAST(sum(np) AS BIGINT) AS n_pos,
        |  CAST(sum(nn) AS BIGINT) AS n_neg,
        |  CASE WHEN sum(np) = 0 OR sum(nn) = 0 THEN NULL
        |  ELSE round(sum(c) / (CAST(sum(np) AS BIGINT) *
        |    CAST(sum(nn) AS BIGINT)), 6) END AS auc
        |FROM cum GROUP BY 1""".stripMargin),
    // reliability diagram + ECE: value-derived [0,1] score vs purchase
    // outcome over 10 equal-width bins
    Query("q173_calibration", (s, dir) =>
      graft.ops.Quality.calibrationBins(
        t(s, dir, "events")
          .withColumn("score", least(lit(1.0), col("value") / 250.0))
          .withColumn("converted", col("event_type") === "purchase"),
        "score", "converted", 10),
      // q173: same clamped bins, 6 dp averages, spine-kept empty bins,
      // contribs coalesced to 0 before the ECE sum
      """WITH e AS (SELECT least(1.0, CAST(value AS DOUBLE) / 250.0) AS score,
        |    event_type = 'purchase' AS conv FROM events),
        |c AS (SELECT greatest(0, least(9,
        |    CAST(floor(score * 10) AS BIGINT))) AS bin,
        |    count(*) AS n, round(avg(score), 6) AS mean_score,
        |    round(avg(CASE WHEN coalesce(conv, false) THEN 1.0 ELSE 0.0 END), 6)
        |      AS outcome_rate
        |  FROM e WHERE score IS NOT NULL GROUP BY 1),
        |sp AS (SELECT unnest(generate_series(0, 9)) AS bin),
        |g AS (SELECT sp.bin, coalesce(c.n, 0) AS n, c.mean_score,
        |    c.outcome_rate, round(abs(c.mean_score - c.outcome_rate), 6) AS gap
        |  FROM sp LEFT JOIN c ON sp.bin = c.bin),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM g),
        |w AS (SELECT g.*, coalesce(CAST(n AS DOUBLE) / tot * gap, 0.0)
        |    AS contrib FROM g, t)
        |SELECT CAST(bin AS BIGINT) AS bin, CAST(n AS BIGINT) AS n,
        |  mean_score, outcome_rate, gap,
        |  (SELECT round(sum(contrib), 6) FROM w) AS ece
        |FROM w""".stripMargin),
    // PSI between the first and second half-month of events — the
    // distribution-stability scalar over 20 fixed bins of value
    Query("q172_psi_drift", (s, dir) => {
      val ev = t(s, dir, "events")
      val cut = java.sql.Timestamp.valueOf("2024-01-16 00:00:00")
      graft.ops.Quality.psiDrift(
        ev.where(col("ts") < cut), ev.where(col("ts") >= cut),
        "value", 0.0, 250.0, 20)
    },
      // q172: same clamped fixed bins, add-one shares, per-bin rounds
      """WITH binsp AS (SELECT unnest(generate_series(0, 19)) AS bin),
        |a AS (SELECT value FROM events
        |  WHERE ts < TIMESTAMP '2024-01-16 00:00:00'),
        |b AS (SELECT value FROM events
        |  WHERE ts >= TIMESTAMP '2024-01-16 00:00:00'),
        |ca AS (SELECT greatest(0, least(19,
        |    CAST(floor((CAST(value AS DOUBLE) - 0.0) / 12.5) AS BIGINT)))
        |    AS bin, count(*) AS n
        |  FROM a WHERE value IS NOT NULL GROUP BY 1),
        |cb AS (SELECT greatest(0, least(19,
        |    CAST(floor((CAST(value AS DOUBLE) - 0.0) / 12.5) AS BIGINT)))
        |    AS bin, count(*) AS n
        |  FROM b WHERE value IS NOT NULL GROUP BY 1),
        |g AS (SELECT binsp.bin, coalesce(ca.n, 0) AS n_a,
        |    coalesce(cb.n, 0) AS n_b
        |  FROM binsp LEFT JOIN ca ON binsp.bin = ca.bin
        |  LEFT JOIN cb ON binsp.bin = cb.bin),
        |t AS (SELECT CAST(sum(n_a) AS BIGINT) AS ta,
        |  CAST(sum(n_b) AS BIGINT) AS tb FROM g),
        |p AS (SELECT bin, n_a, n_b,
        |  CAST(n_a + 1 AS DOUBLE) / CAST(ta + 20 AS DOUBLE) AS pa,
        |  CAST(n_b + 1 AS DOUBLE) / CAST(tb + 20 AS DOUBLE) AS pb
        |  FROM g, t),
        |c AS (SELECT CAST(bin AS BIGINT) AS bin, CAST(n_a AS BIGINT) AS n_a,
        |  CAST(n_b AS BIGINT) AS n_b, round(pa, 6) AS p_a, round(pb, 6) AS p_b,
        |  round((pb - pa) * ln(pb / pa), 6) AS contrib FROM p)
        |SELECT c.*, (SELECT round(sum(contrib), 6) FROM c) AS psi
        |FROM c""".stripMargin),
    // column-profile drift between two snapshot halves (the ingest
    // regression check): even doc_ids as yesterday, odd as today
    Query("q169_profile_drift", (s, dir) => {
      val docs = t(s, dir, "documents")
      graft.ops.Quality.profileDrift(
        docs.where(col("doc_id") % 2 === 0),
        docs.where(col("doc_id") % 2 === 1),
        Seq("n_chars", "lang", "text"))
    },
      // q169: both halves' per-column profiles re-derived (numeric min/max
      // only for n_chars; rates rounded BEFORE the delta, like the op)
      {
      def prof(src: String): String =
        s"""SELECT 'n_chars' AS col_name, count(*) AS n_rows,
           |    count(*) - count(n_chars) AS n_null,
           |    count(DISTINCT n_chars) AS n_distinct,
           |    round(CAST(min(n_chars) AS DOUBLE), 6) AS min_val,
           |    round(CAST(max(n_chars) AS DOUBLE), 6) AS max_val FROM $src
           |  UNION ALL
           |  SELECT 'lang', count(*), count(*) - count(lang),
           |    count(DISTINCT lang), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
           |  FROM $src
           |  UNION ALL
           |  SELECT 'text', count(*), count(*) - count(text),
           |    count(DISTINCT text), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
           |  FROM $src""".stripMargin
      s"""WITH a AS (SELECT * FROM documents WHERE doc_id % 2 = 0),
         |b AS (SELECT * FROM documents WHERE doc_id % 2 = 1),
         |pa AS (${prof("a")}),
         |pb AS (${prof("b")}),
         |ra AS (SELECT *, CASE WHEN n_rows = 0 THEN NULL
         |    ELSE round(n_null / CAST(n_rows AS DOUBLE), 6) END AS rate FROM pa),
         |rb AS (SELECT *, CASE WHEN n_rows = 0 THEN NULL
         |    ELSE round(n_null / CAST(n_rows AS DOUBLE), 6) END AS rate FROM pb)
         |SELECT ra.col_name,
         |  CAST(ra.n_rows AS BIGINT) AS n_rows_a,
         |  CAST(rb.n_rows AS BIGINT) AS n_rows_b,
         |  ra.rate AS null_rate_a, rb.rate AS null_rate_b,
         |  round(rb.rate - ra.rate, 6) AS null_rate_delta,
         |  CAST(ra.n_distinct AS BIGINT) AS n_distinct_a,
         |  CAST(rb.n_distinct AS BIGINT) AS n_distinct_b,
         |  ra.min_val AS min_a, rb.min_val AS min_b,
         |  ra.max_val AS max_a, rb.max_val AS max_b
         |FROM ra JOIN rb ON ra.col_name = rb.col_name""".stripMargin
    }),
    // k-anonymity audit over demographic quasi-identifiers: cohorts
    // smaller than k re-identify their members — the privacy CHECK before
    // releasing user-derived training tables
    Query("q131_k_anonymity", (s, dir) =>
      graft.ops.Quality.kAnonymityAudit(t(s, dir, "customer"),
        Seq("c_nationkey", "c_mktsegment"), 10L),
      """SELECT c_nationkey, c_mktsegment, CAST(count(*) AS BIGINT) AS group_size,
        |  count(*) < 10 AS at_risk
        |FROM customer GROUP BY 1, 2""".stripMargin)
  )
}
