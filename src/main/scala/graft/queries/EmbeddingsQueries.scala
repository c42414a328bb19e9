package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkEntry.t

import Shared._

/** Embedding transforms and audits via [[graft.ops.Embeddings]]:
  * quantization, product and binary codes, principal components,
  * centroids and outliers. */
private[graft] object EmbeddingsQueries {
  /** q116 oracle: both sub-quantizers' final assignments, exploded to the
    * (vec_id, subspace, code) layout of the Spark side's posexplode. */
  private def pqEncodeSql: String =
    s"""WITH ${pqSubspaceCtes(0)},
       |${pqSubspaceCtes(1)}
       |SELECT vec_id, CAST(0 AS INTEGER) AS subspace, CAST(code AS INTEGER) AS code FROM a01
       |UNION ALL
       |SELECT vec_id, CAST(1 AS INTEGER) AS subspace, CAST(code AS INTEGER) AS code FROM a11""".stripMargin

  /** q121/q122 oracle building block: the two 32-bit sign words of a
    * 64-dim embedding, as flat CASE-sum bit terms (disjoint bits: + == OR;
    * 32-bit words keep every value positive, no sign-bit shift). */
  private def signWordSql(w: Int): String =
    (0 until 32).map(b =>
      s"(CASE WHEN embedding[${w * 32 + b + 1}] >= 0 THEN ${1L << b} ELSE 0 END)")
      .mkString(" + ")

  /** q121 oracle: both packed words per vector, exploded like posexplode. */
  private def binarizeSql: String =
    s"""WITH b AS (
       |  SELECT vec_id, CAST(${signWordSql(0)} AS BIGINT) AS c0,
       |    CAST(${signWordSql(1)} AS BIGINT) AS c1
       |  FROM embeddings WHERE embedding IS NOT NULL)
       |SELECT vec_id, CAST(0 AS INTEGER) AS word, c0 AS code FROM b
       |UNION ALL
       |SELECT vec_id, CAST(1 AS INTEGER) AS word, c1 AS code FROM b""".stripMargin

  /** q122 oracle: all-integer Hamming ranking — xor + bit_count per word,
    * ties to the lower candidate id. */
  private def hammingTopKSql: String =
    s"""WITH b AS (
       |  SELECT vec_id, CAST(${signWordSql(0)} AS BIGINT) AS c0,
       |    CAST(${signWordSql(1)} AS BIGINT) AS c1
       |  FROM embeddings WHERE embedding IS NOT NULL),
       |q AS (SELECT * FROM b WHERE vec_id % 50 = 0),
       |c AS (SELECT * FROM b WHERE vec_id % 50 <> 0),
       |sc AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
       |    CAST(bit_count(xor(q.c0, c.c0)) + bit_count(xor(q.c1, c.c1)) AS BIGINT) AS hamming
       |  FROM q CROSS JOIN c)
       |SELECT query_id, cand_id, hamming,
       |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY hamming ASC, cand_id ASC) AS INTEGER) AS rank
       |FROM sc
       |QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY hamming ASC, cand_id ASC) <= 10""".stripMargin

  /** q117 oracle: ADC scoring — per-subspace LUT entries rounded at 6 dp
    * exactly like the Spark lut, summed in subspace order, re-rounded. */
  private def pqTopKSql: String =
    s"""WITH ${pqSubspaceCtes(0)},
       |${pqSubspaceCtes(1)},
       |enc AS (
       |  SELECT a0.vec_id, a0.code AS c0, a1.code AS c1
       |  FROM a01 a0 JOIN a11 a1 ON a0.vec_id = a1.vec_id
       |  WHERE a0.vec_id % 50 <> 0),
       |q AS (
       |  SELECT vec_id, embedding FROM embeddings
       |  WHERE vec_id % 50 = 0 AND embedding IS NOT NULL),
       |sc AS (
       |  SELECT q.vec_id AS query_id, x.vec_id AS cand_id,
       |    round(round(list_inner_product(CAST(q.embedding[1:32] AS DOUBLE[]), b0.cvec), 6)
       |        + round(list_inner_product(CAST(q.embedding[33:64] AS DOUBLE[]), b1.cvec), 6), 6) AS score
       |  FROM q CROSS JOIN enc x
       |  JOIN cb0 b0 ON b0.code = x.c0
       |  JOIN cb1 b1 ON b1.code = x.c1)
       |SELECT query_id, cand_id, score,
       |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, cand_id ASC) AS INTEGER) AS rank
       |FROM sc
       |QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY score DESC, cand_id ASC) <= 10""".stripMargin

  /** q97 oracle: `iters` power-iteration steps, mirroring
    * [[graft.ops.Embeddings.topPrincipalComponent]] exactly — constant
    * `round(1/√d, 6)` start, per-step Gram-vector product in index-order
    * double arithmetic (`list_dot_product` ≡ the unrolled codegen sum),
    * iterates rounded to 6 dp between steps. */
  private def powerIterSql(d: Int, iters: Int): String = {
    val w0 = {
      val x = BigDecimal(1.0 / math.sqrt(d))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      Seq.fill(d)(x.toString).mkString("[", ", ", "]")
    }
    val sb = new StringBuilder
    sb ++= "WITH e AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings),\n"
    sb ++= s"p1 AS (SELECT v, list_dot_product(v, $w0) AS s FROM e),\n"
    for (k <- 1 to iters) {
      if (k > 1)
        sb ++= s"p$k AS (SELECT v, list_dot_product(v, w${k - 1}.w) AS s FROM e, w${k - 1}),\n"
      sb ++= s"t$k AS (SELECT dim, sum(vv * s) AS t FROM (" +
        s"SELECT unnest(v) AS vv, unnest(generate_series(1, $d)) AS dim, s FROM p$k" +
        s") GROUP BY dim),\n"
      sb ++= s"n$k AS (SELECT sqrt(sum(t * t)) AS nrm FROM t$k)"
      if (k < iters)
        // zero-norm guard mirrors the Spark side: a degenerate cloud keeps
        // the (all-zero) t instead of dividing by zero
        sb ++= s",\nw$k AS (SELECT list(CASE WHEN nrm = 0 THEN t ELSE round(t / nrm, 6) END" +
          s" ORDER BY dim) AS w FROM t$k, n$k),\n"
    }
    sb ++= s"\nSELECT CAST(t$iters.dim - 1 AS INTEGER) AS dim, " +
      s"round(CASE WHEN n$iters.nrm = 0 THEN 0.0 ELSE t$iters.t / n$iters.nrm END, 6) AS loading, " +
      s"round(n$iters.nrm, 6) AS eigenvalue FROM t$iters, n$iters"
    sb.toString
  }

  val all: Seq[Query] = Seq(
    // product quantization (Jégou et al. 2011): m=2 subspaces × k=8 codes,
    // one Lloyd iteration — codebook training + encode, engine-exact via
    // the reduced-L2 ranking key (see Embeddings.nearestCode)
    Query("q116_pq_encode", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cb = graft.ops.Embeddings.pqTrain(emb, "vec_id", "embedding", 64, 2, 8, 1)
      graft.ops.Embeddings.pqEncode(emb, "vec_id", "embedding", cb, 64, 2)
        .select(col("vec_id"), posexplode(col("codes")).as(Seq("subspace", "code")))
    },
      pqEncodeSql),
    // sign-bit binary codes: 64 dims packed into two 32-bit words (32×
    // smaller than floats); exploded to (vec_id, word, code) rows
    Query("q121_binarize", (s, dir) =>
      graft.ops.Embeddings.binarize(t(s, dir, "embeddings"), "vec_id", "embedding", 64)
        .select(col("vec_id"), posexplode(col("code")).as(Seq("word", "code"))),
      binarizeSql),
    // Hamming top-10 over the binary codes — all-integer distance, exact
    // on any engine; float vectors never load at query time
    Query("q122_hamming_topk", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val codes = graft.ops.Embeddings.binarize(
        emb.where(col("vec_id") % 50 =!= 0), "vec_id", "embedding", 64)
      val qcodes = graft.ops.Embeddings.binarize(
        emb.where(col("vec_id") % 50 === 0), "vec_id", "embedding", 64)
      graft.ops.Embeddings.hammingTopK(codes, "vec_id", "code",
        qcodes, "vec_id", "code", 2, 10)
    },
      hammingTopKSql),
    // ADC top-10 per held-out query (every 50th vector) over PQ codes:
    // the query meets full-precision centroids, the corpus only its codes
    Query("q117_pq_topk", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cb = graft.ops.Embeddings.pqTrain(emb, "vec_id", "embedding", 64, 2, 8, 1)
      val corpus = emb.where(col("vec_id") % 50 =!= 0)
      val codes = graft.ops.Embeddings.pqEncode(corpus, "vec_id", "embedding", cb, 64, 2)
      graft.ops.Embeddings.pqTopK(codes, "vec_id", "codes",
        emb.where(col("vec_id") % 50 === 0), "vec_id", "embedding", cb, 64, 2, 10)
    },
      pqTopKSql),
    // symmetric int8 embedding quantization (4x storage cut before ANN
    // indexing), element-exact across engines
    Query("q66_quantize_int8", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      graft.ops.Embeddings.quantizeInt8(emb, "vec_id", "embedding")
        .select(col("vec_id"), round(col("scale"), 6).as("scale"),
          posexplode(col("qvec")).as(Seq("dim", "qval")))
    },
      """WITH s AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS dv,
        |    list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))) / 127.0 AS scale
        |  FROM embeddings)
        |SELECT vec_id, round(scale, 6) AS scale,
        |  CAST(unnest(generate_series(0, len(dv) - 1)) AS INTEGER) AS dim,
        |  unnest(list_transform(dv, x ->
        |    CASE WHEN scale = 0 THEN CAST(0 AS INTEGER)
        |         ELSE CAST(greatest(-127, least(127, round(x / scale))) AS INTEGER) END)) AS qval
        |FROM s""".stripMargin),
    // feature-hashing vectorizer: model-free 16-dim signed-count embedding
    Query("q85_hash_embed", (s, dir) =>
      graft.ops.Embeddings.hashEmbed(t(s, dir, "documents"), "doc_id", "text", 16),
      {
      val nib9 = "(strpos('0123456789abcdef', substr(md5(CAST(tok AS VARCHAR)), 9, 1)) - 1)"
      s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
         |h AS (SELECT doc_id,
         |        CAST(${md5ModSql("tok", 16)} AS INTEGER) AS dim,
         |        CAST(($nib9 % 2) * 2 - 1 AS BIGINT) AS sign
         |      FROM tok)
         |SELECT doc_id, dim, CAST(sum(sign) AS BIGINT) AS val
         |FROM h GROUP BY 1, 2 HAVING sum(sign) <> 0""".stripMargin
    }),
    // class prototypes: per-label mean embedding via the native vector-sum
    // aggregate (one label-keyed shuffle of (labels × dim) doubles)
    Query("q91_label_centroids", (s, dir) =>
      graft.ops.Embeddings.labelCentroids(t(s, dir, "embeddings"), "label", "embedding"),
      """WITH m AS (
        |  SELECT label, unnest(CAST(embedding AS DOUBLE[])) AS v,
        |    unnest(generate_series(0, len(embedding) - 1)) AS dim
        |  FROM embeddings)
        |SELECT label, CAST(count(*) AS BIGINT) AS n_members,
        |  CAST(dim AS INTEGER) AS dim, round(avg(v), 6) AS mean_val
        |FROM m GROUP BY label, dim""".stripMargin),
    // dominant principal direction by matrix-free power iteration (3 steps,
    // one scan each; O(d) driver state) — the pre-ANN anisotropy probe
    Query("q97_principal_component", (s, dir) =>
      graft.ops.Embeddings.topPrincipalComponent(
        t(s, dir, "embeddings"), "embedding", 64, 3),
      powerIterSql(64, 3)),
    // label QA: cosine of each vector to its own label's centroid, low
    // scores flagged as suspected mislabels/corruption
    Query("q98_label_outliers", (s, dir) =>
      graft.ops.Embeddings.labelOutliers(
        t(s, dir, "embeddings"), "vec_id", "label", "embedding", 0.2),
      """WITH m AS (
        |  SELECT label, unnest(CAST(embedding AS DOUBLE[])) AS v,
        |    unnest(generate_series(0, len(embedding) - 1)) AS dim
        |  FROM embeddings),
        |c AS (SELECT label, dim, CAST(CAST(round(avg(v), 6) AS FLOAT) AS DOUBLE) AS cv
        |      FROM m GROUP BY 1, 2),
        |cents AS (SELECT label, list(cv ORDER BY dim) AS cvec FROM c GROUP BY 1),
        |scored AS (
        |  SELECT e.vec_id, e.label,
        |    CASE WHEN sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
        |                                    CAST(e.embedding AS DOUBLE[])))
        |           * sqrt(list_dot_product(t.cvec, t.cvec)) <> 0
        |      THEN round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), t.cvec), 6)
        |    END AS cos_to_centroid
        |  FROM embeddings e JOIN cents t ON e.label = t.label)
        |SELECT vec_id, label, cos_to_centroid,
        |  coalesce(cos_to_centroid < 0.2, false) AS is_outlier
        |FROM scored""".stripMargin),
    // per-label embedding centroid drift vs the global centroid — the
    // "which slice moved in embedding space" QA number
    Query("q142_centroid_drift", (s, dir) =>
      graft.ops.Embeddings.centroidDrift(
        t(s, dir, "embeddings"), "label", "embedding"),
      // q142: both centroids from 6 dp-rounded per-dim means (the q91
      // shape), cosine over the rounded operands, rounded at 6
      """WITH m AS (
        |  SELECT label, unnest(CAST(embedding AS DOUBLE[])) AS v,
        |    unnest(generate_series(0, len(embedding) - 1)) AS dim
        |  FROM embeddings),
        |lc AS (SELECT label, dim, CAST(count(*) AS BIGINT) AS n,
        |         round(avg(v), 6) AS lm
        |       FROM m GROUP BY label, dim),
        |gc AS (SELECT dim, round(avg(v), 6) AS gm FROM m GROUP BY dim)
        |SELECT label, n AS n_members,
        |  CASE WHEN sum(lm * lm) = 0 OR sum(gm * gm) = 0 THEN 0.0
        |       ELSE round(sum(lm * gm) / (sqrt(sum(lm * lm)) * sqrt(sum(gm * gm))), 6)
        |       END AS drift_cosine
        |FROM lc JOIN gc USING (dim)
        |GROUP BY label, n""".stripMargin),
    // mean pairwise cosine per label WITHOUT pair generation — the
    // norm-of-sum identity over unit vectors
    Query("q145_group_diversity", (s, dir) =>
      graft.ops.Embeddings.intraGroupDiversity(
        t(s, dir, "embeddings"), "label", "embedding"),
      // q145: the same norm-of-sum identity over float-rounded unit
      // vectors, per-dim sums rounded at 6 before the square
      """WITH v AS (
        |  SELECT label, CAST(embedding AS DOUBLE[]) AS e,
        |    sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
        |                                 x -> x * x))) AS nrm
        |  FROM embeddings),
        |u AS (
        |  SELECT label, nrm,
        |    unnest(list_transform(e,
        |      x -> CAST(CAST(x / nrm AS REAL) AS DOUBLE))) AS uf,
        |    unnest(generate_series(0, len(e) - 1)) AS dim
        |  FROM v WHERE nrm > 0),
        |s AS (SELECT label, dim, round(sum(uf), 6) AS sd
        |      FROM u GROUP BY label, dim),
        |n AS (SELECT label, CAST(count(*) AS BIGINT) AS n
        |      FROM v WHERE nrm > 0 GROUP BY label)
        |SELECT label, n AS n_members,
        |  CASE WHEN n < 2 THEN NULL
        |       ELSE round((sum(sd * sd) - n) / (n * (n - 1.0)), 6) END
        |    AS mean_pairwise_cosine
        |FROM s JOIN n USING (label)
        |GROUP BY label, n""".stripMargin),
    // matryoshka truncation: first 8 dims, re-normalized to unit L2.
    // Scala API keeps `tvec array<double>`; the driver-facing row
    // explodes to (vec_id, dim, v) scalars for the harness comparator.
    Query("q156_matryoshka", (s, dir) =>
      graft.ops.Embeddings.truncateRenorm(
        t(s, dir, "embeddings"), "vec_id", "embedding", 8)
        .select(col("vec_id"), posexplode(col("tvec")))
        .select(col("vec_id"),
          (col("pos") + 1).cast("long").as("dim"), col("col").as("v")),
      // q156: list slice + sequential double fold, 6 dp — zero-norm → zeros;
      // exploded to (vec_id, dim, v) rows to match the driver-facing shape
      """WITH s AS (
        |  SELECT vec_id,
        |    list_transform(embedding[1:8], x -> CAST(x AS DOUBLE)) AS sl
        |  FROM embeddings),
        |n AS (
        |  SELECT vec_id, sl,
        |    sqrt(list_aggregate(list_transform(sl, x -> x * x), 'sum')) AS nrm
        |  FROM s)
        |SELECT vec_id, g.dim AS dim,
        |  CASE WHEN nrm = 0 THEN 0.0
        |       ELSE round(sl[g.dim] / nrm, 6) END AS v
        |FROM n CROSS JOIN generate_series(1, 8) AS g(dim)""".stripMargin),
    // semantic decontamination: corpus embeddings vs a broadcast eval set
    // (every 25th vector), flagged at max-cosine ≥ 0.30 — the paraphrase-
    // level leak check the n-gram probe (q73) can't see
    Query("q112_semantic_contamination", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      graft.ops.Embeddings.semanticContamination(
        emb.where(col("vec_id") % 25 =!= 0), emb.where(col("vec_id") % 25 === 0),
        "vec_id", "embedding", 0.30)
    },
      // q112: small-side cross product + per-corpus-row max, mirroring the
      // float-kernel cosine with DOUBLE[] list_cosine_similarity at 6 dp
      """WITH bench AS (
        |  SELECT CAST(embedding AS DOUBLE[]) AS e FROM embeddings
        |  WHERE vec_id % 25 = 0 AND embedding IS NOT NULL),
        |corp AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
        |  WHERE vec_id % 25 <> 0 AND embedding IS NOT NULL),
        |sims AS (
        |  SELECT c.vec_id, round(list_cosine_similarity(c.e, b.e), 6) AS cos
        |  FROM corp c, bench b)
        |SELECT vec_id, max(cos) AS max_cos, max(cos) >= 0.30 AS contaminated
        |FROM sims GROUP BY 1""".stripMargin),
    // int8-tier recall contract: cosine over the quantized INTEGER
    // vectors (scale cancels — no dequantize) vs exact float cosine
    Query("q223_int8_recall", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      graft.ops.Embeddings.int8RecallContract(
        emb.where(col("vec_id") % 50 =!= 0),
        emb.where(col("vec_id") % 50 === 0),
        "vec_id", "embedding", 10)
    },
      // q223: q66's quantization replayed, integer-vector cosines ranked
      // with the same round/tie, ∩ the exact float top-k
      """WITH qz AS (
        |  SELECT vec_id,
        |    list_transform(CAST(embedding AS DOUBLE[]), x ->
        |      CASE WHEN list_max(list_transform(CAST(embedding AS DOUBLE[]),
        |          y -> abs(y))) = 0 THEN 0.0
        |        ELSE CAST(greatest(-127, least(127, round(x /
        |          (list_max(list_transform(CAST(embedding AS DOUBLE[]),
        |            y -> abs(y))) / 127.0)))) AS DOUBLE) END) AS qv
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |qn AS (SELECT vec_id, qv FROM qz
        |  WHERE list_dot_product(qv, qv) > 0),
        |i8 AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id
        |  FROM qn q, qn c
        |  WHERE q.vec_id % 50 = 0 AND c.vec_id % 50 <> 0
        |  QUALIFY row_number() OVER (PARTITION BY q.vec_id
        |    ORDER BY round(list_cosine_similarity(q.qv, c.qv), 6) DESC,
        |      c.vec_id ASC) <= 10),
        |ex AS (
        |  SELECT a.vec_id AS query_id, c.vec_id AS cand_id
        |  FROM embeddings a, embeddings c
        |  WHERE a.vec_id % 50 = 0 AND c.vec_id % 50 <> 0
        |    AND a.embedding IS NOT NULL AND c.embedding IS NOT NULL
        |    AND list_dot_product(CAST(a.embedding AS DOUBLE[]),
        |      CAST(a.embedding AS DOUBLE[])) > 0
        |    AND list_dot_product(CAST(c.embedding AS DOUBLE[]),
        |      CAST(c.embedding AS DOUBLE[])) > 0
        |  QUALIFY row_number() OVER (PARTITION BY a.vec_id
        |    ORDER BY round(list_cosine_similarity(
        |      CAST(a.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])), 6)
        |      DESC, c.vec_id ASC) <= 10)
        |SELECT ex.query_id,
        |  CAST(count(i8.cand_id) AS BIGINT) AS n_found,
        |  round(CAST(count(i8.cand_id) AS DOUBLE) / 10, 6) AS recall
        |FROM ex LEFT JOIN i8
        |  ON ex.query_id = i8.query_id AND ex.cand_id = i8.cand_id
        |GROUP BY 1""".stripMargin),
    // binary-tier recall contract: the measured recall@10 of the sign-
    // code Hamming ranking vs exact cosine, per query, ratio replayable
    Query("q222_hamming_recall", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      graft.ops.Embeddings.hammingRecallContract(
        emb.where(col("vec_id") % 50 =!= 0),
        emb.where(col("vec_id") % 50 === 0),
        "vec_id", "embedding", 64, 10)
    },
      // q222: the q122 bit-code chain ∩ the exact rounded-cosine top-k,
      // per-query hit counts over the two k-lists
      s"""WITH b AS (
         |  SELECT vec_id, CAST(${signWordSql(0)} AS BIGINT) AS c0,
         |    CAST(${signWordSql(1)} AS BIGINT) AS c1
         |  FROM embeddings WHERE embedding IS NOT NULL),
         |qq AS (SELECT * FROM b WHERE vec_id % 50 = 0),
         |cc AS (SELECT * FROM b WHERE vec_id % 50 <> 0),
         |ham AS (
         |  SELECT qq.vec_id AS query_id, cc.vec_id AS cand_id
         |  FROM qq CROSS JOIN cc
         |  QUALIFY row_number() OVER (PARTITION BY qq.vec_id
         |    ORDER BY bit_count(xor(qq.c0, cc.c0)) +
         |      bit_count(xor(qq.c1, cc.c1)) ASC, cc.vec_id ASC) <= 10),
         |ex AS (
         |  SELECT a.vec_id AS query_id, c.vec_id AS cand_id
         |  FROM embeddings a, embeddings c
         |  WHERE a.vec_id % 50 = 0 AND c.vec_id % 50 <> 0
         |    AND a.embedding IS NOT NULL AND c.embedding IS NOT NULL
         |    AND list_dot_product(CAST(a.embedding AS DOUBLE[]),
         |      CAST(a.embedding AS DOUBLE[])) > 0
         |    AND list_dot_product(CAST(c.embedding AS DOUBLE[]),
         |      CAST(c.embedding AS DOUBLE[])) > 0
         |  QUALIFY row_number() OVER (PARTITION BY a.vec_id
         |    ORDER BY round(list_cosine_similarity(
         |      CAST(a.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])), 6)
         |      DESC, c.vec_id ASC) <= 10)
         |SELECT ex.query_id,
         |  CAST(count(ham.cand_id) AS BIGINT) AS n_found,
         |  round(CAST(count(ham.cand_id) AS DOUBLE) / 10, 6) AS recall
         |FROM ex LEFT JOIN ham
         |  ON ex.query_id = ham.query_id AND ex.cand_id = ham.cand_id
         |GROUP BY 1""".stripMargin),
    // deterministic Johnson-Lindenstrauss ±1 projection 64 → 16 dims.
    // Scala API keeps `proj array<double>`; the driver-facing row
    // explodes to (vec_id, dim, v) scalars for the harness comparator.
    Query("q183_random_projection", (s, dir) =>
      graft.ops.Embeddings.randomProjection(
        t(s, dir, "embeddings"), "vec_id", "embedding", 64, 16)
        .select(col("vec_id"), posexplode(col("proj")))
        .select(col("vec_id"),
          (col("pos") + 1).cast("long").as("dim"), col("col").as("v")),
      // q183: the SAME literal sign matrix interpolated from
      // projectionSigns, same dot/scale/round shapes; exploded to
      // (vec_id, dim, v) rows to match the driver-facing shape
      {
      val elems = graft.ops.Embeddings.projectionSigns(64, 16).map { r =>
        val signs = r.map(v => if (v > 0) "1.0" else "-1.0").mkString(", ")
        s"round(list_dot_product(CAST(embedding AS DOUBLE[]), [$signs]) / sqrt(16.0), 6)"
      }
      s"""WITH p AS (SELECT vec_id, [${elems.mkString(",\n  ")}] AS proj
         |  FROM embeddings)
         |SELECT vec_id, g.dim AS dim, proj[g.dim] AS v
         |FROM p CROSS JOIN generate_series(1, 16) AS g(dim)""".stripMargin
    }),
    // per-dimension embedding mean/std from ONE pass over the native
    // vector-sum buffers — the standardization profile; no element explode
    Query("q133_dim_stats", (s, dir) =>
      graft.ops.Embeddings.dimStats(t(s, dir, "embeddings"), "embedding"),
      // q133: squares in FLOAT (the storage precision, matching the Spark
      // kernel), accumulation in DOUBLE; variance via the clamped
      // sum-of-squares identity on both engines
      """WITH m AS (
        |  SELECT unnest(CAST(embedding AS DOUBLE[])) AS v,
        |    unnest(list_transform(embedding, x -> CAST(x * x AS DOUBLE))) AS v2,
        |    unnest(generate_series(0, len(embedding) - 1)) AS dim
        |  FROM embeddings WHERE embedding IS NOT NULL)
        |SELECT dim, round(avg(v), 6) AS mean_val,
        |  round(sqrt(greatest(
        |    sum(v2) / count(*) - avg(v) * avg(v), 0.0)), 6) AS std_val
        |FROM m GROUP BY dim""".stripMargin)
  )
}
