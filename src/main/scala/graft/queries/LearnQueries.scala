package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkEntry.t

/** Small in-engine learners and evaluations via [[graft.ops.Learn]]:
  * regression and classifiers, conformal coverage, causal estimates and
  * data-cartography audits. */
private[graft] object LearnQueries {
  val all: Seq[Query] = Seq(
    // full-batch logistic regression, 3 unrolled GD rounds on z-scored
    // features, 6 dp weight re-round per round (engine-exact trajectory)
    Query("q231_logistic_gd", (s, dir) =>
      graft.ops.Learn.logisticGd(
        t(s, dir, "events")
          .withColumn("y", (col("event_type") === "purchase").cast("int"))
          .withColumn("hr", hour(col("ts")).cast("double")),
        Seq("value", "hr"), "y", 0.5, 3),
      // q231: 3 unrolled GD rounds — z-scored features off 6dp moments,
      // 6dp weight re-round per round, softplus loss, z>=0 predictions
      """WITH base AS (
        |  SELECT CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0.0 END
        |      AS y,
        |    CAST(value AS DOUBLE) AS x0,
        |    CAST(date_part('hour', ts) AS DOUBLE) AS x1
        |  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
        |    AND event_type IS NOT NULL),
        |st AS (SELECT round(avg(x0), 6) AS m0,
        |    round(stddev_pop(x0), 6) AS s0,
        |    round(avg(x1), 6) AS m1, round(stddev_pop(x1), 6) AS s1
        |  FROM base),
        |z AS (SELECT y, (x0 - m0) / s0 AS z0, (x1 - m1) / s1 AS z1
        |  FROM base, st),
        |w1 AS (SELECT round(0 - 0.5 * avg(0.5 - y), 6) AS b,
        |    round(0 - 0.5 * avg((0.5 - y) * z0), 6) AS wa,
        |    round(0 - 0.5 * avg((0.5 - y) * z1), 6) AS wb FROM z),
        |p2 AS (SELECT z.*,
        |    1.0 / (1.0 + exp(-(w1.b + w1.wa * z0 + w1.wb * z1))) AS p,
        |    w1.b AS pb, w1.wa AS pwa, w1.wb AS pwb FROM z, w1),
        |w2 AS (SELECT round(first(pb) - 0.5 * avg(p - y), 6) AS b,
        |    round(first(pwa) - 0.5 * avg((p - y) * z0), 6) AS wa,
        |    round(first(pwb) - 0.5 * avg((p - y) * z1), 6) AS wb FROM p2),
        |p3 AS (SELECT z.*,
        |    1.0 / (1.0 + exp(-(w2.b + w2.wa * z0 + w2.wb * z1))) AS p,
        |    w2.b AS pb, w2.wa AS pwa, w2.wb AS pwb FROM z, w2),
        |w3 AS (SELECT round(first(pb) - 0.5 * avg(p - y), 6) AS b,
        |    round(first(pwa) - 0.5 * avg((p - y) * z0), 6) AS wa,
        |    round(first(pwb) - 0.5 * avg((p - y) * z1), 6) AS wb FROM p3),
        |sel AS (SELECT z.y, z.z0, z.z1,
        |    w3.b + w3.wa * z0 + w3.wb * z1 AS zf,
        |    w3.b AS b, w3.wa AS wa, w3.wb AS wb FROM z, w3)
        |SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(3 AS BIGINT) AS n_iters,
        |  first(b) AS bias, first(wa) AS w_value, first(wb) AS w_hr,
        |  round(avg(greatest(zf, 0.0) - y * zf
        |    + ln(1.0 + exp(-abs(zf)))), 6) AS log_loss,
        |  round(avg(CASE WHEN (CASE WHEN zf >= 0 THEN 1.0 ELSE 0.0 END) = y
        |    THEN 1.0 ELSE 0.0 END), 6) AS accuracy
        |FROM sel""".stripMargin),
    // nearest-class-mean holdout evaluation: per-label train centroids,
    // 20% held-out assignment, confusion mart — the embedding/label
    // quality gate next to q232's geometry-only silhouette
    Query("q235_centroid_eval", (s, dir) =>
      graft.ops.Learn.nearestCentroidEval(
        t(s, dir, "embeddings"), "vec_id", "embedding", "label", 5),
      // q235: q91's rounded-float centroid replay on the train split; the
      // holdout cosines replay dotF's sequential double fold bit-for-bit
      // (list_reduce — the q181 device; list_cosine_similarity's own
      // summation lands an ulp away often enough to flip the 6th dp)
      """WITH tr AS (SELECT label, unnest(CAST(embedding AS DOUBLE[])) AS v,
        |    unnest(generate_series(0, len(embedding) - 1)) AS dim
        |  FROM embeddings
        |  WHERE embedding IS NOT NULL AND label IS NOT NULL
        |    AND vec_id % 5 <> 0),
        |c AS (SELECT label AS cent_label, dim,
        |    CAST(CAST(round(avg(v), 6) AS FLOAT) AS DOUBLE) AS cv
        |  FROM tr GROUP BY 1, 2),
        |cents AS (SELECT cent_label, list(cv ORDER BY dim) AS cvec
        |  FROM c GROUP BY 1),
        |cn AS (SELECT cent_label, cvec,
        |    sqrt(list_reduce(list_prepend(0.0,
        |      list_transform(cvec, x -> x * x)), (a, b) -> a + b)) AS cnorm
        |  FROM cents),
        |te AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
        |  FROM embeddings
        |  WHERE embedding IS NOT NULL AND label IS NOT NULL
        |    AND vec_id % 5 = 0),
        |tn AS (SELECT vec_id, label, e,
        |    sqrt(list_reduce(list_prepend(0.0,
        |      list_transform(e, x -> x * x)), (a, b) -> a + b)) AS enorm
        |  FROM te),
        |sim AS (SELECT t.vec_id, t.label, c.cent_label,
        |    round(list_reduce(list_prepend(0.0,
        |        list_transform(generate_series(1, len(t.e)),
        |          k -> t.e[k] * c.cvec[k])), (a, b) -> a + b)
        |      / (t.enorm * c.cnorm), 6) AS csim
        |  FROM tn t CROSS JOIN cn c),
        |r AS (SELECT *, row_number() OVER (PARTITION BY vec_id
        |    ORDER BY csim DESC, cent_label ASC) AS rn FROM sim)
        |SELECT label, cent_label AS pred_label,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(round(csim * 1000000.0) AS BIGINT)) AS DOUBLE)
        |    / (count(*) * CAST(1000000.0 AS DOUBLE)) AS mean_cos
        |FROM r WHERE rn = 1 GROUP BY 1, 2""".stripMargin),
    // split-conformal coverage contract: the distribution-free >= 90%
    // interval guarantee measured on the deterministic holdout and
    // pinned as a boolean (the sketch-contract family, for uncertainty)
    Query("q236_conformal_coverage", (s, dir) =>
      graft.ops.Learn.conformalCoverage(
        t(s, dir, "events"), "event_id", "event_type", "value", 0.9, 5),
      // q236: same rank arithmetic (⌈(n+1)·α⌉ clamped, id-tied order
      // statistic) and the α(1−α) slack product interpolated from the SAME
      // Scala double so both engines compare identical IEEE values
      {
      val alpha = 0.9
      val varTerm = alpha * (1.0 - alpha)
      s"""WITH b AS (SELECT event_id, event_type, CAST(value AS DOUBLE) AS v
         |  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
         |st AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_calib,
         |    round(avg(v), 6) AS mu
         |  FROM b WHERE event_id % 5 <> 0 GROUP BY 1),
         |sc AS (SELECT b.event_type, b.event_id, abs(b.v - st.mu) AS s,
         |    st.n_calib
         |  FROM b JOIN st USING (event_type) WHERE b.event_id % 5 <> 0),
         |r AS (SELECT *, row_number() OVER (PARTITION BY event_type
         |    ORDER BY s, event_id) AS rn FROM sc),
         |q AS (SELECT event_type, round(s, 6) AS qhat FROM r
         |  WHERE rn = least(CAST(ceil((n_calib + 1) *
         |    CAST($alpha AS DOUBLE)) AS BIGINT), n_calib)),
         |h AS (SELECT st.event_type, st.n_calib, st.mu, q.qhat,
         |    CAST(count(*) AS BIGINT) AS n_hold,
         |    round(avg(CASE WHEN abs(b.v - st.mu) <= q.qhat
         |      THEN 1.0 ELSE 0.0 END), 6) AS coverage
         |  FROM b JOIN st USING (event_type) JOIN q USING (event_type)
         |  WHERE b.event_id % 5 = 0 GROUP BY 1, 2, 3, 4)
         |SELECT event_type, n_calib, n_hold, mu, qhat, coverage,
         |  coverage >= CAST($alpha AS DOUBLE)
         |    - 5.0 * sqrt(CAST($varTerm AS DOUBLE) / n_hold) AS covered
         |FROM h""".stripMargin
    }),
    // arena-style Bradley-Terry supplier ranking from within-order
    // ship-speed duels (earlier l_shipdate wins; ties and same-supplier
    // pairs excluded), 3 unrolled MM rounds with micro-integer sums
    Query("q268_bradley_terry", (s, dir) => {
      // one ship-year of duels: the arena estimator needs a season, not
      // the full history (the operator itself is O(pair-grid)/iteration)
      val li = t(s, dir, "lineitem")
        .where(col("l_shipdate").between("1995-01-01", "1995-12-31"))
      val a = li.select(col("l_orderkey"), col("l_linenumber").as("ln_a"),
        col("l_suppkey").as("sup_a"), col("l_shipdate").as("d_a"))
      val b = li.select(col("l_orderkey"), col("l_linenumber").as("ln_b"),
        col("l_suppkey").as("sup_b"), col("l_shipdate").as("d_b"))
      val duels = a.join(b, Seq("l_orderkey"))
        .where(col("ln_a") < col("ln_b") && col("sup_a") =!= col("sup_b") &&
          col("d_a") =!= col("d_b"))
        .select(
          when(col("d_a") < col("d_b"), col("sup_a")).otherwise(col("sup_b"))
            .as("winner"),
          when(col("d_a") < col("d_b"), col("sup_b")).otherwise(col("sup_a"))
            .as("loser"))
      graft.ops.Learn.bradleyTerry(duels, "winner", "loser", 3)
    },
      // q268: the full 3-round MM replay - every order-sensitive sum rides
      // as micro-integer BIGINTs, so each round's strengths are single
      // divisions of exact integers in both engines
      """WITH duels AS (
        |  SELECT
        |    CASE WHEN a.l_shipdate < b.l_shipdate THEN a.l_suppkey
        |         ELSE b.l_suppkey END AS w,
        |    CASE WHEN a.l_shipdate < b.l_shipdate THEN b.l_suppkey
        |         ELSE a.l_suppkey END AS l
        |  FROM (SELECT * FROM lineitem
        |        WHERE l_shipdate BETWEEN '1995-01-01' AND '1995-12-31') a
        |  JOIN (SELECT * FROM lineitem
        |        WHERE l_shipdate BETWEEN '1995-01-01' AND '1995-12-31') b
        |    ON a.l_orderkey = b.l_orderkey
        |   AND a.l_linenumber < b.l_linenumber
        |   AND a.l_suppkey <> b.l_suppkey
        |   AND a.l_shipdate <> b.l_shipdate),
        |wins AS (
        |  SELECT w AS a, l AS b, CAST(count(*) AS BIGINT) AS wab
        |  FROM duels GROUP BY 1, 2),
        |grid0 AS (
        |  SELECT a, b, CAST(sum(w) AS BIGINT) AS w FROM (
        |    SELECT a, b, wab AS w FROM wins
        |    UNION ALL
        |    SELECT b AS a, a AS b, 0 AS w FROM wins) GROUP BY 1, 2),
        |grid AS (
        |  SELECT a, b, w,
        |    CAST(SUM(w) OVER (PARTITION BY LEAST(a, b), GREATEST(a, b))
        |      AS BIGINT) AS n
        |  FROM grid0),
        |tot AS (
        |  SELECT a AS player, CAST(sum(n) AS BIGINT) AS games,
        |    CAST(sum(w) AS BIGINT) AS wins
        |  FROM grid GROUP BY 1),
        |p0 AS (SELECT player, 1.0 AS p FROM tot),
        |d1 AS (
        |  SELECT g.a AS player,
        |    CAST(sum(CAST(round(CAST(g.n AS DOUBLE) * 1000000.0
        |      / (pa.p + pb.p)) AS BIGINT)) AS BIGINT) AS den
        |  FROM grid g JOIN p0 pa ON g.a = pa.player
        |              JOIN p0 pb ON g.b = pb.player GROUP BY 1),
        |r1 AS (
        |  SELECT t.player, GREATEST(round(CAST(t.wins AS DOUBLE) * 1000000.0
        |    / CAST(d.den AS DOUBLE), 6), 0.000001) AS snap
        |  FROM tot t JOIN d1 d USING (player)),
        |n1 AS (
        |  SELECT CAST(sum(CAST(round(snap * 1000000.0) AS BIGINT)) AS BIGINT)
        |      AS s, CAST(count(*) AS BIGINT) AS c
        |  FROM r1),
        |p1 AS (
        |  SELECT player, GREATEST(round(snap * CAST(c AS DOUBLE)
        |    / (CAST(s AS DOUBLE) / 1000000.0), 6), 0.000001) AS p
        |  FROM r1, n1),
        |d2 AS (
        |  SELECT g.a AS player,
        |    CAST(sum(CAST(round(CAST(g.n AS DOUBLE) * 1000000.0
        |      / (pa.p + pb.p)) AS BIGINT)) AS BIGINT) AS den
        |  FROM grid g JOIN p1 pa ON g.a = pa.player
        |              JOIN p1 pb ON g.b = pb.player GROUP BY 1),
        |r2 AS (
        |  SELECT t.player, GREATEST(round(CAST(t.wins AS DOUBLE) * 1000000.0
        |    / CAST(d.den AS DOUBLE), 6), 0.000001) AS snap
        |  FROM tot t JOIN d2 d USING (player)),
        |n2 AS (
        |  SELECT CAST(sum(CAST(round(snap * 1000000.0) AS BIGINT)) AS BIGINT)
        |      AS s, CAST(count(*) AS BIGINT) AS c
        |  FROM r2),
        |p2 AS (
        |  SELECT player, GREATEST(round(snap * CAST(c AS DOUBLE)
        |    / (CAST(s AS DOUBLE) / 1000000.0), 6), 0.000001) AS p
        |  FROM r2, n2),
        |d3 AS (
        |  SELECT g.a AS player,
        |    CAST(sum(CAST(round(CAST(g.n AS DOUBLE) * 1000000.0
        |      / (pa.p + pb.p)) AS BIGINT)) AS BIGINT) AS den
        |  FROM grid g JOIN p2 pa ON g.a = pa.player
        |              JOIN p2 pb ON g.b = pb.player GROUP BY 1),
        |r3 AS (
        |  SELECT t.player, GREATEST(round(CAST(t.wins AS DOUBLE) * 1000000.0
        |    / CAST(d.den AS DOUBLE), 6), 0.000001) AS snap
        |  FROM tot t JOIN d3 d USING (player)),
        |n3 AS (
        |  SELECT CAST(sum(CAST(round(snap * 1000000.0) AS BIGINT)) AS BIGINT)
        |      AS s, CAST(count(*) AS BIGINT) AS c
        |  FROM r3),
        |p3 AS (
        |  SELECT player, GREATEST(round(snap * CAST(c AS DOUBLE)
        |    / (CAST(s AS DOUBLE) / 1000000.0), 6), 0.000001) AS p
        |  FROM r3, n3)
        |SELECT t.player, t.games, t.wins, p3.p AS strength,
        |  CAST(row_number() OVER (ORDER BY p3.p DESC, t.player ASC)
        |    AS INTEGER) AS rank
        |FROM tot t JOIN p3 USING (player)""".stripMargin),
    // causal readout when assignment wasn't random: propensity-weighted
    // (Hajek) treatment-effect of the AUTOMOBILE segment on order value,
    // controlling for account balance via the replayable GD propensity
    Query("q308_ipw_ate", (s, dir) => {
      val o = t(s, dir, "orders").select(col("o_custkey"), col("o_totalprice"))
      val c = t(s, dir, "customer").where(col("c_mktsegment").isNotNull)
        .select(col("c_custkey"), col("c_acctbal"), col("c_mktsegment"))
      graft.ops.Learn.ipwAte(
        o.join(c, col("o_custkey") === col("c_custkey"))
          .withColumn("treated", col("c_mktsegment") === "AUTOMOBILE"),
        Seq("c_acctbal"), "treated", "o_totalprice", 0.5, 3)
    },
      // q308: the q289 GD replay (per-round 6dp weight snaps) + clipped
      // 6dp propensities -> micro-integer weighted sums, one mirrored tail
      """WITH base AS (
        |  SELECT CASE WHEN c.c_mktsegment = 'AUTOMOBILE'
        |      THEN 1.0 ELSE 0.0 END AS y,
        |    CAST(o.o_totalprice AS DOUBLE) AS yout,
        |    CAST(c.c_acctbal AS DOUBLE) AS x0
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |  WHERE c.c_mktsegment IS NOT NULL AND c.c_acctbal IS NOT NULL
        |    AND o.o_totalprice IS NOT NULL),
        |st AS (SELECT round(avg(x0), 6) AS m0,
        |    round(stddev_pop(x0), 6) AS s0 FROM base),
        |z AS (SELECT y, yout, (x0 - m0) / s0 AS z0 FROM base, st),
        |w1 AS (SELECT round(0 - 0.5 * avg(0.5 - y), 6) AS b,
        |    round(0 - 0.5 * avg((0.5 - y) * z0), 6) AS wa FROM z),
        |p2 AS (SELECT z.*,
        |    1.0 / (1.0 + exp(-(w1.b + w1.wa * z0))) AS p,
        |    w1.b AS pb, w1.wa AS pwa FROM z, w1),
        |w2 AS (SELECT round(first(pb) - 0.5 * avg(p - y), 6) AS b,
        |    round(first(pwa) - 0.5 * avg((p - y) * z0), 6) AS wa FROM p2),
        |p3 AS (SELECT z.*,
        |    1.0 / (1.0 + exp(-(w2.b + w2.wa * z0))) AS p,
        |    w2.b AS pb, w2.wa AS pwa FROM z, w2),
        |w3 AS (SELECT round(first(pb) - 0.5 * avg(p - y), 6) AS b,
        |    round(first(pwa) - 0.5 * avg((p - y) * z0), 6) AS wa FROM p3),
        |sel AS (SELECT z.y, z.yout, w3.b + w3.wa * z0 AS zf FROM z, w3),
        |ww AS (SELECT y, yout,
        |    round(CASE WHEN y = 1.0 THEN 1.0 / e
        |      ELSE 1.0 / (1.0 - e) END, 6) AS w
        |  FROM (SELECT y, yout,
        |      round(least(greatest(1.0 / (1.0 + exp(-zf)), 0.05),
        |        0.95), 6) AS e
        |    FROM sel)),
        |red AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(count(CASE WHEN y = 1.0 THEN 1 END) AS BIGINT) AS n_treat,
        |    CAST(count(CASE WHEN y = 0.0 THEN 1 END) AS BIGINT) AS n_ctrl,
        |    sum(CASE WHEN y = 1.0 THEN CAST(CAST(round(w * 1000000.0)
        |      AS BIGINT) AS HUGEINT) END) AS wt1,
        |    sum(CASE WHEN y = 1.0 THEN CAST(CAST(round(w * yout
        |      * 1000000.0) AS BIGINT) AS HUGEINT) END) AS wy1,
        |    sum(CASE WHEN y = 1.0 THEN CAST(CAST(round(w * w * 1000000.0)
        |      AS BIGINT) AS HUGEINT) END) AS w21,
        |    sum(CASE WHEN y = 0.0 THEN CAST(CAST(round(w * 1000000.0)
        |      AS BIGINT) AS HUGEINT) END) AS wt0,
        |    sum(CASE WHEN y = 0.0 THEN CAST(CAST(round(w * yout
        |      * 1000000.0) AS BIGINT) AS HUGEINT) END) AS wy0,
        |    sum(CASE WHEN y = 0.0 THEN CAST(CAST(round(w * w * 1000000.0)
        |      AS BIGINT) AS HUGEINT) END) AS w20
        |  FROM ww)
        |SELECT n, n_treat, n_ctrl,
        |  CASE WHEN n_treat > 0 THEN round(CAST(wt1 AS DOUBLE)
        |    * CAST(wt1 AS DOUBLE) / CAST(w21 AS DOUBLE) / 1000000.0, 6)
        |  END AS ess_treat,
        |  CASE WHEN n_ctrl > 0 THEN round(CAST(wt0 AS DOUBLE)
        |    * CAST(wt0 AS DOUBLE) / CAST(w20 AS DOUBLE) / 1000000.0, 6)
        |  END AS ess_ctrl,
        |  CASE WHEN n_treat > 0 THEN
        |    round(CAST(wy1 AS DOUBLE) / CAST(wt1 AS DOUBLE), 6)
        |  END AS mean_treat_w,
        |  CASE WHEN n_ctrl > 0 THEN
        |    round(CAST(wy0 AS DOUBLE) / CAST(wt0 AS DOUBLE), 6)
        |  END AS mean_ctrl_w,
        |  CASE WHEN n_treat > 0 AND n_ctrl > 0 THEN
        |    round(CAST(wy1 AS DOUBLE) / CAST(wt1 AS DOUBLE)
        |      - CAST(wy0 AS DOUBLE) / CAST(wt0 AS DOUBLE), 6)
        |  END AS ate
        |FROM red""".stripMargin),
    // long-tail loss reweighting by effective sample count (Cui et al.):
    // per label, eff_n and the k-normalized class weight
    Query("q312_class_weights", (s, dir) =>
      graft.ops.Learn.classBalancedWeights(
        t(s, dir, "embeddings"), "label", 0.999),
      // q312: same unrounded eff-n expression both sides; the (1.0-0.999)
      // subtraction is written out so both engines share the exact double
      """WITH c AS (
        |  SELECT label, CAST(count(*) AS BIGINT) AS n
        |  FROM embeddings GROUP BY 1),
        |r AS (
        |  SELECT label, n,
        |    round((1.0 - power(0.999, CAST(n AS DOUBLE)))
        |      / (1.0 - 0.999), 6) AS eff_n,
        |    CAST(round(1.0 / ((1.0 - power(0.999, CAST(n AS DOUBLE)))
        |      / (1.0 - 0.999)) * 1000000.0) AS BIGINT) AS wm
        |  FROM c),
        |t AS (
        |  SELECT CAST(count(*) AS BIGINT) AS k,
        |    CAST(coalesce(sum(wm), 0) AS BIGINT) AS sw
        |  FROM r)
        |SELECT label, n, eff_n,
        |  round(CAST(wm AS DOUBLE) * CAST(k AS DOUBLE)
        |    / CAST(sw AS DOUBLE), 6) AS weight
        |FROM r, t""".stripMargin),
    // which examples are easy/hard/ambiguous? training-dynamics map over
    // the q289 GD trajectory's per-round snapshots (dataset cartography)
    Query("q313_data_cartography", (s, dir) => {
      val docs = t(s, dir, "documents")
        .where(col("source").isin("src0", "src1") &&
          col("n_chars").isNotNull && col("text").isNotNull)
        .withColumn("is_src1",
          (col("source") === "src1").cast("double"))
        .withColumn("n_tokens", size(split(col("text"), " ")).cast("double"))
      graft.ops.Learn.dataCartography(docs, Seq("n_chars", "n_tokens"),
        "is_src1", 0.5, 3)
    },
      // q313: the q289 GD replay with ALL THREE weight snapshots in scope;
      // per-row confidence folds and bucket cuts mirrored expression-for-
      // expression, bucket means over micro-integer sums
      """WITH base AS (
        |  SELECT CASE WHEN source = 'src1' THEN 1.0 ELSE 0.0 END AS y,
        |    CAST(n_chars AS DOUBLE) AS x0,
        |    CAST(len(string_split(text, ' ')) AS DOUBLE) AS x1
        |  FROM documents WHERE source IN ('src0', 'src1')
        |    AND n_chars IS NOT NULL AND text IS NOT NULL),
        |st AS (SELECT round(avg(x0), 6) AS m0,
        |    round(stddev_pop(x0), 6) AS s0,
        |    round(avg(x1), 6) AS m1, round(stddev_pop(x1), 6) AS s1
        |  FROM base),
        |z AS (SELECT y, (x0 - m0) / s0 AS z0, (x1 - m1) / s1 AS z1
        |  FROM base, st),
        |w1 AS (SELECT round(0 - 0.5 * avg(0.5 - y), 6) AS b,
        |    round(0 - 0.5 * avg((0.5 - y) * z0), 6) AS wa,
        |    round(0 - 0.5 * avg((0.5 - y) * z1), 6) AS wb FROM z),
        |p2 AS (SELECT z.*,
        |    1.0 / (1.0 + exp(-(w1.b + w1.wa * z0 + w1.wb * z1))) AS p,
        |    w1.b AS pb, w1.wa AS pwa, w1.wb AS pwb FROM z, w1),
        |w2 AS (SELECT round(first(pb) - 0.5 * avg(p - y), 6) AS b,
        |    round(first(pwa) - 0.5 * avg((p - y) * z0), 6) AS wa,
        |    round(first(pwb) - 0.5 * avg((p - y) * z1), 6) AS wb FROM p2),
        |p3 AS (SELECT z.*,
        |    1.0 / (1.0 + exp(-(w2.b + w2.wa * z0 + w2.wb * z1))) AS p,
        |    w2.b AS pb, w2.wa AS pwa, w2.wb AS pwb FROM z, w2),
        |w3 AS (SELECT round(first(pb) - 0.5 * avg(p - y), 6) AS b,
        |    round(first(pwa) - 0.5 * avg((p - y) * z0), 6) AS wa,
        |    round(first(pwb) - 0.5 * avg((p - y) * z1), 6) AS wb FROM p3),
        |cr AS (SELECT z.y,
        |    1.0 / (1.0 + exp(-(w1.b + w1.wa * z0 + w1.wb * z1))) AS q1,
        |    1.0 / (1.0 + exp(-(w2.b + w2.wa * z0 + w2.wb * z1))) AS q2,
        |    1.0 / (1.0 + exp(-(w3.b + w3.wa * z0 + w3.wb * z1))) AS q3
        |  FROM z, w1, w2, w3),
        |cc AS (SELECT
        |    CASE WHEN y = 1.0 THEN q1 ELSE 1.0 - q1 END AS c1,
        |    CASE WHEN y = 1.0 THEN q2 ELSE 1.0 - q2 END AS c2,
        |    CASE WHEN y = 1.0 THEN q3 ELSE 1.0 - q3 END AS c3
        |  FROM cr),
        |mm AS (SELECT c1, c2, c3,
        |    (0.0 + c1 + c2 + c3) / 3.0 AS m FROM cc),
        |sn AS (SELECT
        |    round(m, 6) AS conf6,
        |    round(sqrt((0.0 + (c1 - m) * (c1 - m) + (c2 - m) * (c2 - m)
        |      + (c3 - m) * (c3 - m)) / 3.0), 6) AS var6
        |  FROM mm),
        |bk0 AS (SELECT
        |    CAST(round(conf6 * 1000000.0) AS BIGINT) AS cm,
        |    CAST(round(var6 * 1000000.0) AS BIGINT) AS vm
        |  FROM sn),
        |mc AS (SELECT min(cm) AS medc FROM (
        |    SELECT cm, sum(n) OVER (ORDER BY cm) AS cum,
        |      sum(n) OVER () AS tot
        |    FROM (SELECT cm, CAST(count(*) AS BIGINT) AS n
        |      FROM bk0 GROUP BY 1))
        |  WHERE cum * 2 >= tot),
        |mv AS (SELECT min(vm) AS medv FROM (
        |    SELECT vm, sum(n) OVER (ORDER BY vm) AS cum,
        |      sum(n) OVER () AS tot
        |    FROM (SELECT vm, CAST(count(*) AS BIGINT) AS n
        |      FROM bk0 GROUP BY 1))
        |  WHERE cum * 2 >= tot),
        |bk AS (SELECT
        |    CASE WHEN vm >= medv THEN 'ambiguous'
        |      WHEN cm >= medc THEN 'easy_to_learn'
        |      ELSE 'hard_to_learn' END AS bucket, cm, vm
        |  FROM bk0, mc, mv)
        |SELECT bucket, CAST(count(*) AS BIGINT) AS n,
        |  round(CAST(sum(cm) AS DOUBLE)
        |    / (CAST(count(*) AS DOUBLE) * 1000000.0), 6) AS mean_conf,
        |  round(CAST(sum(vm) AS DOUBLE)
        |    / (CAST(count(*) AS DOUBLE) * 1000000.0), 6) AS mean_var
        |FROM bk GROUP BY 1""".stripMargin),
    // how much is 10x more data worth? centroid-model accuracy at nested
    // md5 training fractions + the power-law error extrapolation
    Query("q314_learning_curve", (s, dir) =>
      graft.ops.Learn.learningCurve(
        t(s, dir, "embeddings"), "vec_id", "embedding", "label", 5),
      // q314: the q235 centroid pipeline replayed once per md5 training
      // fraction (generated CTE chain), then the q306 micro-snapped
      // log-log OLS and the 10x extrapolation, mirrored term-for-term
      {
      val hex = "0123456789abcdef"
      def maskSql(f: Int): String =
        if (f >= 16) ""
        else s"""
           |    AND substring(md5(CAST(vec_id AS VARCHAR)), 1, 1) < '${hex.charAt(f)}'""".stripMargin
      def perFrac(f: Int): String =
        s"""tr$f AS (SELECT label, unnest(CAST(embedding AS DOUBLE[])) AS v,
           |    unnest(generate_series(0, len(embedding) - 1)) AS dim
           |  FROM embeddings
           |  WHERE embedding IS NOT NULL AND label IS NOT NULL
           |    AND vec_id % 5 <> 0${maskSql(f)}),
           |c$f AS (SELECT label AS cent_label, dim,
           |    CAST(CAST(round(avg(v), 6) AS FLOAT) AS DOUBLE) AS cv
           |  FROM tr$f GROUP BY 1, 2),
           |cents$f AS (SELECT cent_label, list(cv ORDER BY dim) AS cvec
           |  FROM c$f GROUP BY 1),
           |cn$f AS (SELECT cent_label, cvec,
           |    sqrt(list_reduce(list_prepend(0.0,
           |      list_transform(cvec, x -> x * x)), (a, b) -> a + b))
           |      AS cnorm
           |  FROM cents$f),
           |sim$f AS (SELECT t.vec_id, t.label, c.cent_label,
           |    round(list_reduce(list_prepend(0.0,
           |        list_transform(generate_series(1, len(t.e)),
           |          k -> t.e[k] * c.cvec[k])), (a, b) -> a + b)
           |      / (t.enorm * c.cnorm), 6) AS csim
           |  FROM tn t CROSS JOIN cn$f c),
           |r$f AS (SELECT *, row_number() OVER (PARTITION BY vec_id
           |    ORDER BY csim DESC, cent_label ASC) AS rn FROM sim$f),
           |a$f AS (SELECT
           |    CAST(count(CASE WHEN label = cent_label THEN 1 END)
           |      AS BIGINT) AS diag,
           |    CAST(count(*) AS BIGINT) AS tot
           |  FROM r$f WHERE rn = 1),
           |t$f AS (SELECT CAST(count(*) AS BIGINT) AS n_train
           |  FROM embeddings
           |  WHERE vec_id % 5 <> 0 AND embedding IS NOT NULL
           |    AND label IS NOT NULL${maskSql(f)})""".stripMargin
      def pointSel(f: Int): String =
        s"""SELECT CAST($f AS BIGINT) AS frac_16ths, t$f.n_train,
           |  CASE WHEN a$f.tot > 0 THEN CAST(a$f.diag AS DOUBLE)
           |    / CAST(a$f.tot AS DOUBLE) END AS acc
           |FROM a$f, t$f""".stripMargin
      val fracs = Seq(4, 8, 12, 16)
      s"""WITH te AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
         |  FROM embeddings
         |  WHERE embedding IS NOT NULL AND label IS NOT NULL
         |    AND vec_id % 5 = 0),
         |tn AS (SELECT vec_id, label, e,
         |    sqrt(list_reduce(list_prepend(0.0,
         |      list_transform(e, x -> x * x)), (a, b) -> a + b)) AS enorm
         |  FROM te),
         |${fracs.map(perFrac).mkString(",\n")},
         |pts AS (${fracs.map(pointSel).mkString("\nUNION ALL\n")}),
         |pe AS (SELECT frac_16ths, n_train, acc, 1.0 - acc AS err
         |  FROM pts),
         |xy AS (SELECT
         |    CAST(round(ln(CAST(n_train AS DOUBLE)) * 1000000.0)
         |      AS BIGINT) AS x,
         |    CAST(round(ln(err) * 1000000.0) AS BIGINT) AS y, n_train
         |  FROM pe WHERE n_train > 0 AND err > 0),
         |f AS (SELECT CAST(count(*) AS BIGINT) AS k,
         |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         |    CAST(sum(x * y) AS BIGINT) AS sxy,
         |    CAST(sum(x * x) AS BIGINT) AS sxx,
         |    CAST(max(n_train) AS BIGINT) AS nfull
         |  FROM xy),
         |fit AS (SELECT k,
         |    CAST(k AS DOUBLE) * CAST(sxy AS DOUBLE)
         |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS num,
         |    CAST(k AS DOUBLE) * CAST(sxx AS DOUBLE)
         |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS den,
         |    CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
         |    CAST(k AS DOUBLE) AS kd, nfull
         |  FROM f)
         |SELECT pe.frac_16ths, pe.n_train, round(pe.acc, 6) AS accuracy,
         |  round(pe.err, 6) AS err,
         |  CASE WHEN k >= 2 AND den > 0
         |    THEN round(-(num / den), 6) END AS decay_b,
         |  CASE WHEN k >= 2 AND den > 0 THEN
         |    round(exp((syd - (num / den) * sxd) / kd / 1000000.0
         |      + (num / den)
         |        * ln(10.0 * CAST(nfull AS DOUBLE))), 6) END AS err_at_10x
         |FROM pe, fit""".stripMargin
    }),
    // which labels are WRONG? confident-learning joint over out-of-sample
    // centroid scores: off-diagonal rows are the estimated noise mass
    Query("q317_label_noise", (s, dir) =>
      graft.ops.Learn.confidentLearning(
        t(s, dir, "embeddings"), "vec_id", "embedding", "label", 5),
      // q317: the q235 centroid/cosine replay extended with the confident
      // joint — the threshold clear test cross-multiplies in HUGEINT, so
      // the boundary is integer-exact on both engines
      """WITH tr AS (SELECT label, unnest(CAST(embedding AS DOUBLE[])) AS v,
        |    unnest(generate_series(0, len(embedding) - 1)) AS dim
        |  FROM embeddings
        |  WHERE embedding IS NOT NULL AND label IS NOT NULL
        |    AND vec_id % 5 <> 0),
        |c AS (SELECT label AS cent_label, dim,
        |    CAST(CAST(round(avg(v), 6) AS FLOAT) AS DOUBLE) AS cv
        |  FROM tr GROUP BY 1, 2),
        |cents AS (SELECT cent_label, list(cv ORDER BY dim) AS cvec
        |  FROM c GROUP BY 1),
        |cn AS (SELECT cent_label, cvec,
        |    sqrt(list_reduce(list_prepend(0.0,
        |      list_transform(cvec, x -> x * x)), (a, b) -> a + b)) AS cnorm
        |  FROM cents),
        |te AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
        |  FROM embeddings
        |  WHERE embedding IS NOT NULL AND label IS NOT NULL
        |    AND vec_id % 5 = 0),
        |tv AS (SELECT vec_id, label, e,
        |    sqrt(list_reduce(list_prepend(0.0,
        |      list_transform(e, x -> x * x)), (a, b) -> a + b)) AS enorm
        |  FROM te),
        |sim AS (SELECT t.vec_id, t.label AS given_label, c.cent_label,
        |    CAST(round(round(list_reduce(list_prepend(0.0,
        |        list_transform(generate_series(1, len(t.e)),
        |          k -> t.e[k] * c.cvec[k])), (a, b) -> a + b)
        |      / (t.enorm * c.cnorm), 6) * 1000000.0) AS BIGINT) AS sm
        |  FROM tv t CROSS JOIN cn c),
        |thr AS (SELECT cent_label AS t_label, CAST(sum(sm) AS HUGEINT) AS tsum,
        |    CAST(count(*) AS HUGEINT) AS tcnt
        |  FROM sim WHERE given_label = cent_label GROUP BY 1),
        |pass AS (SELECT s.vec_id, s.given_label, s.cent_label,
        |    row_number() OVER (PARTITION BY s.vec_id
        |      ORDER BY s.sm DESC, s.cent_label ASC) AS rn
        |  FROM sim s JOIN thr t ON s.cent_label = t.t_label
        |  WHERE CAST(s.sm AS HUGEINT) * t.tcnt >= t.tsum),
        |joint AS (SELECT given_label, cent_label AS suspected_label,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM pass WHERE rn = 1 GROUP BY 1, 2),
        |tot AS (SELECT given_label,
        |    CAST(count(DISTINCT vec_id) AS BIGINT) AS tot
        |  FROM sim GROUP BY 1),
        |conf AS (SELECT given_label, CAST(sum(n) AS BIGINT) AS c
        |  FROM joint GROUP BY 1)
        |SELECT given_label, suspected_label, n,
        |  round(CAST(n AS DOUBLE)
        |    / sum(n) OVER (PARTITION BY given_label), 6) AS frac,
        |  given_label <> suspected_label AS flagged
        |FROM joint
        |UNION ALL
        |SELECT t.given_label, NULL AS suspected_label,
        |  t.tot - coalesce(c.c, 0) AS n, NULL AS frac, false AS flagged
        |FROM tot t LEFT JOIN conf c USING (given_label)
        |WHERE t.tot - coalesce(c.c, 0) > 0""".stripMargin),
    // which 20 examples get labeled next: smallest best-vs-second-best
    // centroid margin, at most 5 per nearest-centroid cell
    Query("q322_active_learning", (s, dir) =>
      graft.ops.Learn.activeLearningBatch(
        t(s, dir, "embeddings"), "vec_id", "embedding", "label", 5, 20, 5),
      // q322: the q317 centroid/cosine replay, then margins between the
      // micro-snapped top-2 scores and the two deterministic pick windows
      """WITH tr AS (SELECT label, unnest(CAST(embedding AS DOUBLE[])) AS v,
        |    unnest(generate_series(0, len(embedding) - 1)) AS dim
        |  FROM embeddings
        |  WHERE embedding IS NOT NULL AND label IS NOT NULL
        |    AND vec_id % 5 <> 0),
        |c AS (SELECT label AS cent_label, dim,
        |    CAST(CAST(round(avg(v), 6) AS FLOAT) AS DOUBLE) AS cv
        |  FROM tr GROUP BY 1, 2),
        |cents AS (SELECT cent_label, list(cv ORDER BY dim) AS cvec
        |  FROM c GROUP BY 1),
        |cn AS (SELECT cent_label, cvec,
        |    sqrt(list_reduce(list_prepend(0.0,
        |      list_transform(cvec, x -> x * x)), (a, b) -> a + b)) AS cnorm
        |  FROM cents),
        |te AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
        |  FROM embeddings
        |  WHERE embedding IS NOT NULL AND label IS NOT NULL
        |    AND vec_id % 5 = 0),
        |tv AS (SELECT vec_id, e,
        |    sqrt(list_reduce(list_prepend(0.0,
        |      list_transform(e, x -> x * x)), (a, b) -> a + b)) AS enorm
        |  FROM te),
        |sim AS (SELECT t.vec_id, c.cent_label,
        |    CAST(round(round(list_reduce(list_prepend(0.0,
        |        list_transform(generate_series(1, len(t.e)),
        |          k -> t.e[k] * c.cvec[k])), (a, b) -> a + b)
        |      / (t.enorm * c.cnorm), 6) * 1000000.0) AS BIGINT) AS sm
        |  FROM tv t CROSS JOIN cn c),
        |r AS (SELECT vec_id, cent_label, sm,
        |    row_number() OVER (PARTITION BY vec_id
        |      ORDER BY sm DESC, cent_label ASC) AS rn
        |  FROM sim),
        |t2 AS (SELECT vec_id,
        |    max(CASE WHEN rn = 1 THEN cent_label END) AS nearest_label,
        |    max(CASE WHEN rn = 2 THEN cent_label END) AS second_label,
        |    max(CASE WHEN rn = 1 THEN sm END) AS sm1,
        |    max(CASE WHEN rn = 2 THEN sm END) AS sm2
        |  FROM r WHERE rn <= 2 GROUP BY 1),
        |mg AS (SELECT *, sm1 - sm2 AS margin FROM t2 WHERE sm2 IS NOT NULL),
        |cap AS (SELECT *, row_number() OVER (PARTITION BY nearest_label
        |    ORDER BY margin ASC, vec_id ASC) AS cr FROM mg),
        |pick AS (SELECT *, row_number() OVER
        |    (ORDER BY margin ASC, vec_id ASC) AS pick_rank
        |  FROM cap WHERE cr <= 5)
        |SELECT vec_id, nearest_label, second_label,
        |  round(CAST(sm1 AS DOUBLE) / 1000000.0, 6) AS sim,
        |  round(CAST(margin AS DOUBLE) / 1000000.0, 6) AS margin,
        |  CAST(pick_rank AS BIGINT) AS pick_rank
        |FROM pick WHERE pick_rank <= 20""".stripMargin),
    // in-engine regression: closed-form ridge of extended price on
    // (quantity, discount) via 3x3 Cramer over exact micro moments
    Query("q293_ridge", (s, dir) =>
      graft.ops.Learn.ridgeClosedForm(
        t(s, dir, "lineitem"), "l_quantity", "l_discount",
        "l_extendedprice", 1.0),
      // q293: the same nine exact micro moments, the same fixed-order
      // Cramer expansion, weights re-snapped before the residual pass
      """WITH b AS (
        |  SELECT CAST(round(CAST(l_quantity AS DOUBLE) * 1000000.0)
        |      AS BIGINT) AS x1,
        |    CAST(round(CAST(l_discount AS DOUBLE) * 1000000.0)
        |      AS BIGINT) AS x2,
        |    CAST(round(CAST(l_extendedprice AS DOUBLE) * 1000000.0)
        |      AS BIGINT) AS y
        |  FROM lineitem WHERE l_quantity IS NOT NULL
        |    AND l_discount IS NOT NULL AND l_extendedprice IS NOT NULL),
        |mom AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x1) AS HUGEINT) AS s1, CAST(sum(x2) AS HUGEINT) AS s2,
        |    CAST(sum(y) AS HUGEINT) AS sy,
        |    CAST(sum(CAST(x1 AS HUGEINT) * x1) AS HUGEINT) AS s11,
        |    CAST(sum(CAST(x2 AS HUGEINT) * x2) AS HUGEINT) AS s22,
        |    CAST(sum(CAST(x1 AS HUGEINT) * x2) AS HUGEINT) AS s12,
        |    CAST(sum(CAST(x1 AS HUGEINT) * y) AS HUGEINT) AS s1y,
        |    CAST(sum(CAST(x2 AS HUGEINT) * y) AS HUGEINT) AS s2y,
        |    CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
        |  FROM b),
        |d AS (
        |  SELECT n, sy, syy,
        |    CAST(n AS DOUBLE) AS nd,
        |    CAST(s1 AS DOUBLE) / 1000000.0 AS s1d,
        |    CAST(s2 AS DOUBLE) / 1000000.0 AS s2d,
        |    CAST(sy AS DOUBLE) / 1000000.0 AS syd,
        |    CAST(s11 AS DOUBLE) / 1000000000000.0 + 1.0 AS m11,
        |    CAST(s22 AS DOUBLE) / 1000000000000.0 + 1.0 AS m22,
        |    CAST(s12 AS DOUBLE) / 1000000000000.0 AS m12,
        |    CAST(s1y AS DOUBLE) / 1000000000000.0 AS s1yd,
        |    CAST(s2y AS DOUBLE) / 1000000000000.0 AS s2yd,
        |    CAST(syy AS DOUBLE) / 1000000000000.0 AS syyd
        |  FROM mom WHERE n > 0),
        |fit AS (
        |  SELECT n, nd, syd, syyd,
        |    round((syd * (m11 * m22 - m12 * m12)
        |      - s1d * (s1yd * m22 - m12 * s2yd)
        |      + s2d * (s1yd * m12 - m11 * s2yd))
        |      / (nd * (m11 * m22 - m12 * m12)
        |        - s1d * (s1d * m22 - m12 * s2d)
        |        + s2d * (s1d * m12 - m11 * s2d)), 6) AS bias,
        |    round((nd * (s1yd * m22 - m12 * s2yd)
        |      - syd * (s1d * m22 - m12 * s2d)
        |      + s2d * (s1d * s2yd - s1yd * s2d))
        |      / (nd * (m11 * m22 - m12 * m12)
        |        - s1d * (s1d * m22 - m12 * s2d)
        |        + s2d * (s1d * m12 - m11 * s2d)), 6) AS w1,
        |    round((nd * (m11 * s2yd - s1yd * m12)
        |      - s1d * (s1d * s2yd - s1yd * s2d)
        |      + syd * (s1d * m12 - m11 * s2d))
        |      / (nd * (m11 * m22 - m12 * m12)
        |        - s1d * (s1d * m22 - m12 * s2d)
        |        + s2d * (s1d * m12 - m11 * s2d)), 6) AS w2
        |  FROM d),
        |sse AS (
        |  SELECT CAST(COALESCE(sum(CAST(round(
        |      (CAST(b.y AS DOUBLE) / 1000000.0
        |        - (fit.bias + fit.w1 * (CAST(b.x1 AS DOUBLE) / 1000000.0)
        |          + fit.w2 * (CAST(b.x2 AS DOUBLE) / 1000000.0)))
        |      * (CAST(b.y AS DOUBLE) / 1000000.0
        |        - (fit.bias + fit.w1 * (CAST(b.x1 AS DOUBLE) / 1000000.0)
        |          + fit.w2 * (CAST(b.x2 AS DOUBLE) / 1000000.0)))
        |      * 1000000.0) AS HUGEINT)), 0) AS HUGEINT) AS ssem
        |  FROM b, fit)
        |SELECT fit.n AS n_rows, CAST(1.0 AS DOUBLE) AS lambda, fit.bias,
        |  fit.w1 AS w_l_quantity, fit.w2 AS w_l_discount,
        |  CASE WHEN syyd - syd * syd / nd > 0 THEN
        |    round(1.0 - CAST(sse.ssem AS DOUBLE) / 1000000.0
        |      / (syyd - syd * syd / nd), 6) END AS r2
        |FROM fit, sse""".stripMargin),
    // dataset-shift detector: can a logistic probe tell src0 from src1
    // on (chars, tokens)? accuracy vs the binomial noise band around 0.5
    Query("q289_c2st", (s, dir) =>
      graft.ops.Learn.c2st(
        t(s, dir, "documents")
          .withColumn("n_tokens",
            size(split(col("text"), " ")).cast("double")),
        Seq("n_chars", "n_tokens"), "source", "src0", "src1", 0.5, 3),
      // q289: the q231 unrolled-GD replay over document features, plus the
      // binomial noise band on the SAME rounded accuracy
      """WITH base AS (
        |  SELECT CASE WHEN source = 'src1' THEN 1.0 ELSE 0.0 END AS y,
        |    CAST(n_chars AS DOUBLE) AS x0,
        |    CAST(len(string_split(text, ' ')) AS DOUBLE) AS x1
        |  FROM documents WHERE source IN ('src0', 'src1')
        |    AND n_chars IS NOT NULL AND text IS NOT NULL),
        |st AS (SELECT round(avg(x0), 6) AS m0,
        |    round(stddev_pop(x0), 6) AS s0,
        |    round(avg(x1), 6) AS m1, round(stddev_pop(x1), 6) AS s1
        |  FROM base),
        |z AS (SELECT y, (x0 - m0) / s0 AS z0, (x1 - m1) / s1 AS z1
        |  FROM base, st),
        |w1 AS (SELECT round(0 - 0.5 * avg(0.5 - y), 6) AS b,
        |    round(0 - 0.5 * avg((0.5 - y) * z0), 6) AS wa,
        |    round(0 - 0.5 * avg((0.5 - y) * z1), 6) AS wb FROM z),
        |p2 AS (SELECT z.*,
        |    1.0 / (1.0 + exp(-(w1.b + w1.wa * z0 + w1.wb * z1))) AS p,
        |    w1.b AS pb, w1.wa AS pwa, w1.wb AS pwb FROM z, w1),
        |w2 AS (SELECT round(first(pb) - 0.5 * avg(p - y), 6) AS b,
        |    round(first(pwa) - 0.5 * avg((p - y) * z0), 6) AS wa,
        |    round(first(pwb) - 0.5 * avg((p - y) * z1), 6) AS wb FROM p2),
        |p3 AS (SELECT z.*,
        |    1.0 / (1.0 + exp(-(w2.b + w2.wa * z0 + w2.wb * z1))) AS p,
        |    w2.b AS pb, w2.wa AS pwa, w2.wb AS pwb FROM z, w2),
        |w3 AS (SELECT round(first(pb) - 0.5 * avg(p - y), 6) AS b,
        |    round(first(pwa) - 0.5 * avg((p - y) * z0), 6) AS wa,
        |    round(first(pwb) - 0.5 * avg((p - y) * z1), 6) AS wb FROM p3),
        |sel AS (SELECT z.y, z.z0, z.z1,
        |    w3.b + w3.wa * z0 + w3.wb * z1 AS zf,
        |    w3.b AS b, w3.wa AS wa, w3.wb AS wb FROM z, w3),
        |fit AS (SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(3 AS BIGINT) AS n_iters,
        |  first(b) AS bias, first(wa) AS w_n_chars, first(wb) AS w_n_tokens,
        |  round(avg(greatest(zf, 0.0) - y * zf
        |    + ln(1.0 + exp(-abs(zf)))), 6) AS log_loss,
        |  round(avg(CASE WHEN (CASE WHEN zf >= 0 THEN 1.0 ELSE 0.0 END) = y
        |    THEN 1.0 ELSE 0.0 END), 6) AS accuracy
        |FROM sel)
        |SELECT *,
        |  abs(accuracy - 0.5)
        |    > 1.959964 * sqrt(0.25 / CAST(n_rows AS DOUBLE)) AS shifted
        |FROM fit""".stripMargin),
    // data attribution: leave-one-shard-out nearest-centroid accuracy
    // deltas - which ingestion shard helps/hurts the label structure
    Query("q282_source_influence", (s, dir) =>
      graft.ops.Learn.sourceInfluence(
        t(s, dir, "embeddings").withColumn("shard", pmod(col("vec_id"), lit(4))),
        "vec_id", "embedding", "label", "shard"),
      // q282: the same leave-out algebra - micro-snapped per-(label,shard)
      // partials, float-roundtripped centroids, argmax with smaller-label
      // ties, accuracies as divisions of exact counts
      """WITH b AS (
        |  SELECT vec_id, CAST(vec_id % 4 AS VARCHAR) AS g, label,
        |    CAST(embedding AS DOUBLE[]) AS e
        |  FROM embeddings
        |  WHERE embedding IS NOT NULL AND label IS NOT NULL),
        |dims AS (
        |  SELECT label, g, unnest(e) AS v,
        |    unnest(generate_series(0, len(e) - 1)) AS dim
        |  FROM b),
        |lg AS (
        |  SELECT label, g, dim,
        |    CAST(round(sum(v) * 1000000.0) AS BIGINT) AS sm,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM dims GROUP BY 1, 2, 3),
        |models AS (
        |  SELECT DISTINCT g AS excl FROM b
        |  UNION ALL SELECT '__full__'),
        |cent AS (
        |  SELECT m.excl, l.label, l.dim,
        |    CAST(CAST(round(CAST(sum(l.sm) AS DOUBLE)
        |      / (1000000.0 * CAST(sum(l.n) AS DOUBLE)), 6) AS FLOAT)
        |      AS DOUBLE) AS cv
        |  FROM models m JOIN lg l
        |    ON m.excl = '__full__' OR l.g IS DISTINCT FROM m.excl
        |  GROUP BY 1, 2, 3
        |  HAVING sum(l.n) > 0),
        |cvecs AS (
        |  SELECT excl, label AS cent_label, list(cv ORDER BY dim) AS cvec
        |  FROM cent GROUP BY 1, 2),
        |cn AS (
        |  SELECT excl, cent_label, cvec,
        |    sqrt(list_reduce(list_prepend(0.0,
        |      list_transform(cvec, x -> x * x)), (a, y) -> a + y)) AS cnorm
        |  FROM cvecs),
        |bn AS (
        |  SELECT vec_id, g, label, e,
        |    sqrt(list_reduce(list_prepend(0.0,
        |      list_transform(e, x -> x * x)), (a, y) -> a + y)) AS enorm
        |  FROM b),
        |sim AS (
        |  SELECT t.vec_id, t.label, c.excl, c.cent_label,
        |    round(list_reduce(list_prepend(0.0,
        |        list_transform(generate_series(1, len(t.e)),
        |          k -> t.e[k] * c.cvec[k])), (a, y) -> a + y)
        |      / (t.enorm * c.cnorm), 6) AS csim
        |  FROM bn t CROSS JOIN cn c),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY vec_id, excl
        |    ORDER BY csim DESC, cent_label ASC) AS rn
        |  FROM sim),
        |accs AS (
        |  SELECT excl, CAST(count(*) AS BIGINT) AS ne,
        |    CAST(count(*) FILTER (cent_label IS NOT DISTINCT FROM label)
        |      AS BIGINT) AS nc
        |  FROM r WHERE rn = 1 GROUP BY 1),
        |af AS (
        |  SELECT CAST(nc AS DOUBLE) / CAST(ne AS DOUBLE) AS v
        |  FROM accs WHERE excl = '__full__'),
        |sizes AS (
        |  SELECT g, CAST(count(*) AS BIGINT) AS n_members FROM b GROUP BY 1)
        |SELECT s.g AS shard, s.n_members,
        |  round(af.v, 6) AS acc_full,
        |  round(CAST(a.nc AS DOUBLE) / CAST(a.ne AS DOUBLE), 6) AS acc_loo,
        |  round(af.v - CAST(a.nc AS DOUBLE) / CAST(a.ne AS DOUBLE), 6)
        |    AS influence
        |FROM sizes s
        |LEFT JOIN accs a ON s.g IS NOT DISTINCT FROM a.excl
        |CROSS JOIN af""".stripMargin),
    // in-engine multinomial naive Bayes langID: micro-long log-probs
    // make every document score an exact integer sum; ~19% md5 holdout,
    // confusion mart out
    Query("q253_naive_bayes", (s, dir) =>
      graft.ops.Learn.naiveBayesEval(
        t(s, dir, "documents"), "doc_id", "text", "lang",
        substring(md5(col("doc_id").cast("string")), 1, 1) < "3"),
      // q253: full training replay - same smoothed grid, same micro-long
      // snap (round-half-away matches on both engines), same integer
      // score sums and DESC/label-ASC argmax
      """WITH b AS (SELECT doc_id, text, lang,
        |    substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '3' AS te
        |  FROM documents WHERE lang IS NOT NULL AND text IS NOT NULL),
        |tr AS (SELECT * FROM b WHERE NOT te),
        |tl AS (SELECT l, t, count(*) AS c FROM (
        |    SELECT lang AS l, unnest(string_split(text, ' ')) AS t FROM tr)
        |  WHERE len(t) > 0 GROUP BY 1, 2),
        |cl AS (SELECT l, CAST(sum(c) AS BIGINT) AS clt FROM tl GROUP BY 1),
        |vo AS (SELECT DISTINCT t FROM tl),
        |vs AS (SELECT CAST(count(*) AS BIGINT) AS v FROM vo),
        |grid AS (SELECT cl.l, vo.t,
        |    CAST(round(ln(CAST(coalesce(tl.c, 0) + 1 AS DOUBLE)
        |      / CAST(cl.clt + vs.v AS DOUBLE)) * 1000000.0) AS BIGINT) AS lp
        |  FROM vo CROSS JOIN cl
        |    LEFT JOIN tl ON tl.l = cl.l AND tl.t = vo.t, vs),
        |pr AS (SELECT l, CAST(round(ln(CAST(dl AS DOUBLE) / CAST(d AS DOUBLE))
        |      * 1000000.0) AS BIGINT) AS plp
        |  FROM (SELECT lang AS l, count(*) AS dl FROM tr GROUP BY 1),
        |       (SELECT count(*) AS d FROM tr)),
        |dt AS (SELECT doc, tru, t, count(*) AS tf FROM (
        |    SELECT doc_id AS doc, lang AS tru,
        |      unnest(string_split(text, ' ')) AS t
        |    FROM b WHERE te)
        |  WHERE len(t) > 0 GROUP BY 1, 2, 3),
        |sc AS (SELECT dt.doc, dt.tru, g.l,
        |    CAST(sum(dt.tf * g.lp) AS BIGINT) AS s
        |  FROM dt JOIN grid g ON dt.t = g.t GROUP BY 1, 2, 3),
        |sc2 AS (SELECT sc.doc, sc.tru, sc.l, sc.s + pr.plp AS score
        |  FROM sc JOIN pr ON sc.l = pr.l),
        |w AS (SELECT doc, tru, l FROM sc2
        |  QUALIFY row_number() OVER (PARTITION BY doc
        |    ORDER BY score DESC, l ASC) = 1)
        |SELECT tru AS true_label, l AS pred_label,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM w GROUP BY 1, 2""".stripMargin)
  )
}
