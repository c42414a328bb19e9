package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkEntry.t

/** Mergeable sketches via [[graft.ops.Sketches]] (KMV, Misra-Gries,
  * HLL, count-min, quantile) and the error bounds they carry. */
private[graft] object SketchesQueries {
  /** q197/q120: the Misra–Gries presence + undercount theorems pinned TRUE
    * at summary size `k` (threshold N/(k+1)); exact counts replayed. */
  private def mgBoundSql(k: Int): String =
    s"""WITH tok AS (
       |  SELECT source, unnest(string_split(text, ' ')) AS term FROM documents),
       |ex AS (SELECT source, term, count(*) AS cnt FROM tok GROUP BY 1, 2),
       |tot AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS n_tokens
       |        FROM ex GROUP BY 1)
       |SELECT e.source, max(t.n_tokens) AS n_tokens,
       |  CAST(sum(CASE WHEN e.cnt > CAST(t.n_tokens AS DOUBLE) / ${k + 1}.0
       |                THEN 1 ELSE 0 END) AS BIGINT) AS n_heavy,
       |  TRUE AS all_heavy_present, TRUE AS est_within_bound
       |FROM ex e JOIN tot t USING (source) GROUP BY 1""".stripMargin

  val all: Seq[Query] = Seq(
    // KMV-sketch cross-source overlap: the q82 scale twin. The k-minimum-
    // values estimator is a pure function of the input SET (k smallest
    // distinct md5s — merge-order invariant by construction), so the
    // estimates themselves are oracle-replayable, not just their bounds
    Query("q105_source_overlap_kmv", (s, dir) =>
      graft.ops.Sketches.sourceOverlapKmv(
        graft.core.Tables.table(s, dir, "documents"), "source", "text", 3, 256),
      // q105: the KMV estimator replayed VALUE-exact — per source the k
      // smallest distinct md5(shingle)s, then the same union-slice /
      // common-minima / (k−1)/frac(kth) arithmetic as the Scala array
      // expressions; merge-order cannot move a set's k minima, so the
      // estimates (not just their bounds) hash-match
      {
      val k = 256
      val nibSum = (1 to 12).map(i =>
        s"(strpos('0123456789abcdef', substr(h, $i, 1)) - 1) * ${BigInt(16).pow(12 - i)}").mkString(" + ")
      def fracOf(expr: String) =
        s"(CAST((SELECT $nibSum FROM (SELECT $expr AS h)) AS DOUBLE) / ${math.pow(16, 12)})"
      def cardOf(lst: String) =
        s"(CASE WHEN len($lst) < $k THEN CAST(len($lst) AS DOUBLE) " +
          s"ELSE ${k - 1}.0 / ${fracOf(s"$lst[$k]")} END)"
      s"""WITH sh AS (
         |  SELECT DISTINCT source AS src, md5(shingle) AS h FROM (
         |    SELECT source, unnest(list_distinct(list_transform(
         |      generate_series(1, len(ts) - 2),
         |      i -> array_to_string(ts[i:i+2], ' ')))) AS shingle
         |    FROM (SELECT source, string_split(text, ' ') AS ts FROM documents))),
         |rk AS (SELECT src, h,
         |    row_number() OVER (PARTITION BY src ORDER BY h) AS rn FROM sh),
         |sk AS (SELECT src, list(h ORDER BY h) AS kmv
         |  FROM rk WHERE rn <= $k GROUP BY src),
         |pairs AS (SELECT a.src AS src_a, a.kmv AS kmv_a,
         |    b.src AS src_b, b.kmv AS kmv_b
         |  FROM sk a CROSS JOIN sk b WHERE a.src < b.src),
         |comb AS (SELECT src_a, src_b, kmv_a, kmv_b,
         |    (list_sort(list_distinct(kmv_a || kmv_b)))[1:$k] AS combined
         |  FROM pairs),
         |scored AS (SELECT src_a, src_b, kmv_a, kmv_b, combined,
         |    CASE WHEN len(combined) = 0 THEN 0.0
         |      ELSE CAST(len(list_filter(combined,
         |          x -> list_contains(kmv_a, x) AND list_contains(kmv_b, x)))
         |        AS DOUBLE) / CAST(len(combined) AS DOUBLE) END AS jac
         |  FROM comb)
         |SELECT src_a, src_b, round(jac, 2) AS est_jaccard,
         |  round(CASE WHEN jac = 0.0 THEN 0.0
         |    ELSE jac * ${cardOf("combined")}
         |      / least(${cardOf("kmv_a")}, ${cardOf("kmv_b")}) END, 2)
         |    AS est_containment
         |FROM scored""".stripMargin
    }),
    // Misra–Gries at the q120 scale point (k=100): the summary CONTENT is
    // partitioning-dependent by nature, so the driver-checked row is the
    // CONTRACT form (presence + undercount theorems as booleans) at the
    // same k — the raw top-terms surface stays topTermsApprox (spec-pinned)
    Query("q120_heavy_hitters_mg", (s, dir) =>
      graft.ops.Sketches.heavyHittersContract(
        graft.core.Tables.table(s, dir, "documents"), "source", "text", 100),
      // q120: the same contract at the benchmark's scale point k=100
      mgBoundSql(100)),
    // exact per-group distribution mart (the sketch variant's oracle twin)
    Query("q45_percentiles", (s, dir) =>
      graft.ops.Sketches.percentilesExact(
        t(s, dir, "lineitem").select(col("l_returnflag"),
          col("l_quantity").cast("double").as("qty")),
        Seq("l_returnflag"), "qty"),
      """SELECT l_returnflag, count(*) AS n,
        |  round(avg(CAST(l_quantity AS DOUBLE)), 6) AS mean,
        |  round(quantile_cont(CAST(l_quantity AS DOUBLE), 0.5), 6) AS p50,
        |  round(quantile_cont(CAST(l_quantity AS DOUBLE), 0.9), 6) AS p90,
        |  round(quantile_cont(CAST(l_quantity AS DOUBLE), 0.99), 6) AS p99
        |FROM lineitem GROUP BY 1""".stripMargin),
    // KMV cardinality contract: deterministic md5 estimator replayed by
    // the oracle, |est − exact| ≤ 5σ·exact/√(k−2) as a checked row
    Query("q196_kmv_bound", (s, dir) =>
      graft.ops.Sketches.kmvCardinalityContract(
        t(s, dir, "documents"), "source", "text", 3, 256, 5.0),
      // q195: the q166 pair stream per source, plain Shannon fold, e^H of
      // the rounded entropy
      // q196: the KMV estimator replayed exactly — distinct md5(shingle)s,
      // k-th minimum via row_number, the same 12-hex-nibble fraction, the
      // same 5σ/√(k−2) bound (sqrt interpolated from the SAME Scala double)
      {
      val k = 256
      val sqrtK2 = math.sqrt(k - 2.0)
      val nibbleSum = (1 to 12).map(i =>
        s"(strpos('0123456789abcdef', substr(kh, $i, 1)) - 1) * ${BigInt(16).pow(12 - i)}")
        .mkString(" + ")
      s"""WITH shs AS (
         |  SELECT source, unnest(list_distinct(list_transform(
         |    generate_series(1, len(ts) - 2), i -> array_to_string(ts[i:i+2], ' '))))
         |    AS shingle
         |  FROM (SELECT source, string_split(text, ' ') AS ts FROM documents)),
         |d AS (SELECT DISTINCT source, md5(shingle) AS h FROM shs),
         |r AS (SELECT source, h,
         |    row_number() OVER (PARTITION BY source ORDER BY h) AS rn,
         |    count(*) OVER (PARTITION BY source) AS nd
         |  FROM d),
         |kth AS (SELECT source, max(nd) AS exact_distinct,
         |    max(CASE WHEN rn = $k THEN h END) AS kh
         |  FROM r GROUP BY source),
         |e AS (SELECT source, exact_distinct,
         |    CASE WHEN exact_distinct < $k THEN CAST(exact_distinct AS DOUBLE)
         |         ELSE ${k - 1}.0 /
         |           (CAST($nibbleSum AS DOUBLE) / 281474976710656.0) END AS est
         |  FROM kth)
         |SELECT source, exact_distinct,
         |  round(est, 6) AS est_distinct,
         |  round(abs(est - CAST(exact_distinct AS DOUBLE)), 6) AS abs_err,
         |  abs(est - CAST(exact_distinct AS DOUBLE))
         |    <= 5.0 * CAST(exact_distinct AS DOUBLE) / $sqrtK2 AS within_bound
         |FROM e""".stripMargin
    }),
    // Misra–Gries contract: the MG(5) presence + undercount theorems as
    // booleans the oracle pins to TRUE for every partitioning
    Query("q197_mg_bound", (s, dir) =>
      graft.ops.Sketches.heavyHittersContract(
        t(s, dir, "documents"), "source", "text", 5),
      // q197: exact token totals + heavy count; the MG theorems pinned TRUE
      // (a merge-order bug in the aggregate becomes a hash mismatch)
      mgBoundSql(5)),
    // GK-quantile contract: percentile_approx's rank guarantee checked
    // per (event_type, p); oracle recomputes n and pins the boolean
    Query("q198_quantile_bound", (s, dir) =>
      graft.ops.Sketches.quantileRankContract(
        t(s, dir, "events"), "event_type", "value",
        Seq(0.5, 0.9, 0.99), 100),
      // q198: exact group sizes + the same p literals; the GK rank theorem
      // pinned TRUE (the sketch content itself is engine-specific)
      """WITH g AS (SELECT event_type, count(value) AS n_rows
        |           FROM events WHERE value IS NOT NULL GROUP BY 1)
        |SELECT event_type, p, n_rows, TRUE AS within_rank_bound
        |FROM g CROSS JOIN
        |  (SELECT unnest([CAST(0.5 AS DOUBLE), CAST(0.9 AS DOUBLE),
        |                  CAST(0.99 AS DOUBLE)]) AS p)""".stripMargin),
    // HLL++ contract: approx_count_distinct within 5 rsd of exact
    Query("q199_hll_bound", (s, dir) =>
      graft.ops.Sketches.hllBoundContract(
        t(s, dir, "events"), "event_type", "event_id", 0.05, 5.0),
      // q199: exact distinct counts; the HLL++ rsd bound pinned TRUE
      """SELECT event_type,
        |  CAST(count(DISTINCT event_id) AS BIGINT) AS exact_distinct,
        |  TRUE AS within_bound
        |FROM events GROUP BY 1""".stripMargin),
    // token-weighted length percentiles: the median TOKEN's document
    // length - the budget-relevant number, not the median document
    Query("q291_weighted_percentiles", (s, dir) =>
      graft.ops.Sketches.weightedPercentiles(
        t(s, dir, "documents").select(
          size(split(col("text"), " ")).cast("long").as("n_tokens")),
        "n_tokens", "n_tokens", Seq(0.25, 0.5, 0.9, 0.99)),
      // q291: the same weighted histogram cut at ceil(p*W) micro-units
      """WITH d AS (
        |  SELECT CAST(round(CAST(len(string_split(text, ' ')) AS DOUBLE)
        |    * 1000000.0) AS BIGINT) AS vm
        |  FROM documents
        |  WHERE CAST(len(string_split(text, ' ')) AS DOUBLE) > 0),
        |hist AS (
        |  SELECT vm, CAST(sum(vm) AS HUGEINT) AS w FROM d GROUP BY 1),
        |cum AS (
        |  SELECT vm, sum(w) OVER (ORDER BY vm) AS cw,
        |    sum(w) OVER () AS tw
        |  FROM hist),
        |g AS (SELECT unnest([CAST(0.25 AS DOUBLE), CAST(0.5 AS DOUBLE),
        |  CAST(0.9 AS DOUBLE), CAST(0.99 AS DOUBLE)]) AS p)
        |SELECT g.p,
        |  round(CAST(max(cum.tw) AS DOUBLE) / 1000000.0, 6)
        |    AS total_weight,
        |  round(CAST(min(CASE WHEN CAST(cum.cw AS DOUBLE)
        |      >= ceil(g.p * CAST(cum.tw AS DOUBLE)) THEN cum.vm END)
        |    AS DOUBLE) / 1000000.0, 6) AS q
        |FROM g, cum GROUP BY 1""".stripMargin),
    // count-min join-size contract: two KB sketches bound the
    // orders⋈customer cardinality from above — the planner's "how big
    // is this join" probe, estimate + theorem both oracle-pinned
    Query("q216_join_size_cms", (s, dir) =>
      graft.ops.Sketches.joinSizeContract(
        t(s, dir, "orders"), "o_custkey",
        t(s, dir, "customer"), "c_custkey", 4, 64),
      // q216: both CMS matrices re-derived cell-by-cell (q184's device),
      // per-row inner products, min over rows; exact side is Σ f_a·f_b
      {
      def win(off: Int, item: String): String = (1 to 8).map(k =>
        s"(strpos('0123456789abcdef', substr(md5($item), ${off + k}, 1)) - 1) * ${math.pow(16, 8 - k).toLong}")
        .mkString(" + ")
      def cellRows(src: String) = (0 until 4).map(r =>
        s"SELECT $r AS r, ((${win(r * 8, "k")}) % 64) AS idx, f FROM $src")
        .mkString("\n  UNION ALL ")
      s"""WITH fa AS (SELECT CAST(o_custkey AS VARCHAR) AS k, count(*) AS f
         |  FROM orders WHERE o_custkey IS NOT NULL GROUP BY 1),
         |fb AS (SELECT CAST(c_custkey AS VARCHAR) AS k, count(*) AS f
         |  FROM customer WHERE c_custkey IS NOT NULL GROUP BY 1),
         |ha AS (${cellRows("fa")}),
         |hb AS (${cellRows("fb")}),
         |ca AS (SELECT r, idx, CAST(sum(f) AS BIGINT) AS c FROM ha GROUP BY 1, 2),
         |cb AS (SELECT r, idx, CAST(sum(f) AS BIGINT) AS c FROM hb GROUP BY 1, 2),
         |ip AS (SELECT ca.r, CAST(sum(ca.c * cb.c) AS BIGINT) AS s
         |  FROM ca JOIN cb ON ca.r = cb.r AND ca.idx = cb.idx GROUP BY 1),
         |est AS (SELECT min(s) AS join_size_est FROM ip),
         |ex AS (SELECT CAST(coalesce(sum(fa.f * fb.f), 0) AS BIGINT)
         |    AS join_size_exact
         |  FROM fa JOIN fb USING (k))
         |SELECT est.join_size_est, ex.join_size_exact,
         |  est.join_size_est >= ex.join_size_exact AS never_under
         |FROM est, ex""".stripMargin
    }),
    // the q206 window-distinct at 100 TB: per-day HLL sketches union
    // over the trailing window (distinct doesn't decompose — sketch
    // unions do); |est − exact| pinned within 5·rsd as a contract
    Query("q211_wau_hll_bound", (s, dir) =>
      graft.ops.Sketches.rollingActiveContract(
        t(s, dir, "events"), "user_id", "ts", 7, 12, 5.0),
      // q211: the q206 exact window recomputed; the sketch estimate is not
      // emitted (registers aren't engine-replayable — q199's convention),
      // only the bound boolean, pinned TRUE
      """WITH ud AS (
        |  SELECT DISTINCT user_id AS u, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |b AS (SELECT min(d) AS lo, max(d) AS hi FROM ud),
        |days AS (
        |  SELECT CAST(unnest(generate_series(b.lo, b.hi,
        |    INTERVAL 1 DAY)) AS DATE) AS day FROM b)
        |SELECT days.day,
        |  CAST(count(DISTINCT ud.u) AS BIGINT) AS wau_exact,
        |  TRUE AS within_bound
        |FROM days LEFT JOIN ud
        |  ON ud.d BETWEEN days.day - 6 AND days.day
        |GROUP BY 1""".stripMargin),
    // count-min sketch: every term's never-undercounting frequency
    // estimate from a 4×16 matrix vs its true count (width deliberately
    // small so collisions are visible; the matrix itself is exact under
    // any partitioning, so the whole thing oracles)
    Query("q184_count_min", (s, dir) => {
      val tok = t(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("term"))
      val sk = tok.agg(
        graft.functions.SketchFunctions.countMin(col("term"), 4, 16).as("sk"))
      tok.groupBy("term").agg(count(lit(1)).as("tf_true"))
        .crossJoin(broadcast(sk))
        .select(col("term"), col("tf_true"),
          graft.ops.Sketches.cmEstimate(col("sk"), col("term"), 4, 16)
            .as("tf_est"))
    },
      // q184: the 4×16 matrix re-derived — per md5-hex-window row, cell
      // mass = Σ tf of the terms hashing there; estimate = min over rows
      {
      def win(off: Int): String = (1 to 8).map(k =>
        s"(strpos('0123456789abcdef', substr(md5(term), ${off + k}, 1)) - 1) * ${math.pow(16, 8 - k).toLong}")
        .mkString(" + ")
      val rows = (0 until 4).map(r =>
        s"SELECT term, tf_true, $r AS r, ((${win(r * 8)}) % 16) AS idx FROM tc")
      s"""WITH tok AS (SELECT unnest(string_split(text, ' ')) AS term
         |  FROM documents),
         |tc AS (SELECT term, count(*) AS tf_true FROM tok GROUP BY 1),
         |hashed AS (${rows.mkString("\n  UNION ALL ")}),
         |cells AS (SELECT r, idx, CAST(sum(tf_true) AS BIGINT) AS c
         |  FROM hashed GROUP BY 1, 2)
         |SELECT h.term, CAST(max(h.tf_true) AS BIGINT) AS tf_true,
         |  min(c.c) AS tf_est
         |FROM hashed h JOIN cells c ON c.r = h.r AND c.idx = h.idx
         |GROUP BY 1""".stripMargin
    })
  )
}
