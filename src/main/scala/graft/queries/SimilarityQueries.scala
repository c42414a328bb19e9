package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ManifestRead

import graft.SparkEntry.{cachedCount, exactJudgePairs, kmeansAssigned, mpPairs04, rpPairs04, signPairs04, t}
import graft.ops.Similarity

import Shared._

/** Embedding similarity search via [[graft.ops.Similarity]]: exact and
  * banded (sign-LSH, multi-probe, RP-LSH) near-duplicate pairs and their
  * recall contracts, IVF/PQ top-k, k-means and kNN-graph queries. */
private[graft] object SimilarityQueries {
  private def cosineSql: String =
    """SELECT a.vec_id AS query_id, b.vec_id AS cand_id,
      |  round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) AS cos
      |FROM embeddings a, embeddings b WHERE a.vec_id <> b.vec_id""".stripMargin

  /** `Similarity.recommendedBits` mirrored in SQL: the smallest b in
    * [2, 24] with 150·2^b ≥ n (integer form of ⌈log2(n/150)⌉ — exact at
    * power-of-two boundaries on both engines). `nFrom` is a relation
    * whose single row/column is the corpus count, e.g.
    * `(SELECT count(*) AS n FROM embeddings)`. */
  private def bitsSqlFrom(nFrom: String): String =
    s"greatest(2, coalesce((SELECT min(b) FROM generate_series(2, 24) g(b), $nFrom nn " +
      "WHERE 150 * (CAST(1 AS BIGINT) << b) >= nn.n), 24))"

  /** md5-derandomized ±1 hyperplane CTEs (the exact `Similarity.rpPlanes`
    * derivation — first md5 nibble of "rp:b:j:d" even → +1): `p(bits)`
    * derived from `nFrom`, and `planes(band, bit, pl)`. */
  private def rpPlanesCtes(bands: Int, nFrom: String): String =
    s"""p AS (SELECT ${bitsSqlFrom(nFrom)} AS bits),
       |planes AS (
       |  SELECT band, bit,
       |    list_transform(generate_series(0, 63),
       |      d -> CASE WHEN (strpos('0123456789abcdef', substr(md5('rp:' || band || ':' || bit || ':' || d), 1, 1)) - 1) % 2 = 0
       |           THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE) END) AS pl
       |  FROM (SELECT unnest(generate_series(0, ${bands - 1})) AS band)
       |  CROSS JOIN (SELECT unnest(generate_series(0, (SELECT bits FROM p) - 1)) AS bit))""".stripMargin

  /** Per-(vec, band) RP bucket-string table over `rel` — left-to-right
    * double inner products (list_inner_product accumulates like the dotF
    * kernel), bits concatenated in bit order. */
  private def rpBucketSql(rel: String): String =
    s"""SELECT vec_id, band, string_agg(bch, '' ORDER BY bit) AS bucket FROM (
       |    SELECT e.vec_id, pl.band, pl.bit,
       |      CASE WHEN list_inner_product(CAST(e.embedding AS DOUBLE[]), pl.pl) >= 0 THEN '1' ELSE '0' END AS bch
       |    FROM $rel e CROSS JOIN planes pl)
       |  GROUP BY 1, 2""".stripMargin

  /** q341/q342 shared CTE chain: planes + self-join bucket table + the
    * deduped candidate pairs. Ends at `cand(id_a, id_b)`. */
  private def rpBandedCtes(bands: Int): String =
    s"""${rpPlanesCtes(bands, "(SELECT count(*) AS n FROM embeddings)")},
       |banded AS (
       |  ${rpBucketSql("embeddings")}),
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id)""".stripMargin

  /** q342/q350 oracle: the RP-LSH recall contract at cosine threshold
    * `thr` — the q341 candidate machinery judged against the exact pair
    * set, subset + floor pinned TRUE (the Scala side derives the floor
    * from the closed-form model; the oracle pins only the boolean). */
  private def rpRecallSql(thr: String): String =
    s"""WITH ${rpBandedCtes(16)},
       |bp AS (
       |  SELECT c.id_a, c.id_b
       |  FROM cand c
       |  JOIN embeddings x ON x.vec_id = c.id_a
       |  JOIN embeddings y ON y.vec_id = c.id_b
       |  WHERE round(list_cosine_similarity(CAST(x.embedding AS DOUBLE[]), CAST(y.embedding AS DOUBLE[])), 6) >= $thr),
       |pcx AS ($cosineSql),
       |ex AS (SELECT CAST(count(*) AS BIGINT) AS n_exact FROM pcx
       |  WHERE query_id < cand_id AND cos >= $thr),
       |bn AS (SELECT CAST(count(*) AS BIGINT) AS n_banded FROM bp)
       |SELECT CAST((SELECT bits FROM p) AS INTEGER) AS bits,
       |  CAST(16 AS INTEGER) AS bands,
       |  n_exact, n_banded,
       |  CASE WHEN n_exact = 0 THEN 1.0
       |    ELSE round(CAST(n_banded AS DOUBLE) / n_exact, 6) END AS recall,
       |  TRUE AS banded_subset_exact,
       |  TRUE AS meets_floor
       |FROM ex CROSS JOIN bn""".stripMargin

  /** q345/q351 oracle: the multi-probe gain contract at cosine threshold
    * `thr` — flip position is the row_number-1 bit by (rounded |value| in
    * DOUBLE space, bit), the probe bucket is substr surgery on the base
    * bucket, candidates join (base ∪ probed) × base; superset and nonneg
    * gain pinned TRUE (structural laws). */
  private def multiProbeGainSql(thr: String): String =
    s"""WITH p AS (SELECT bits, greatest(1, least(8, 64 // bits)) AS bands FROM (
       |  SELECT ${bitsSqlFrom("(SELECT count(*) AS n FROM embeddings)")} AS bits)),
       |banded AS (
       |  ${dynamicBandedSql("embeddings")}),
       |bandgrid AS (
       |  SELECT e.vec_id, e.embedding, p.bits,
       |    unnest(generate_series(0, p.bands - 1)) AS band
       |  FROM embeddings e CROSS JOIN p),
       |bitgrid AS (
       |  SELECT vec_id, band, bits, embedding,
       |    unnest(generate_series(0, bits - 1)) AS bit
       |  FROM bandgrid),
       |jst AS (
       |  SELECT vec_id, band, bit AS jstar FROM (
       |    SELECT vec_id, band, bit,
       |      row_number() OVER (PARTITION BY vec_id, band
       |        ORDER BY round(abs(CAST(embedding[band * bits + bit + 1] AS DOUBLE)), 6), bit) AS r
       |    FROM bitgrid) WHERE r = 1),
       |probed AS (
       |  SELECT b.vec_id, b.band,
       |    substr(b.bucket, 1, j.jstar) ||
       |    CASE WHEN substr(b.bucket, j.jstar + 1, 1) = '1' THEN '0' ELSE '1' END ||
       |    substr(b.bucket, j.jstar + 2) AS bucket
       |  FROM banded b JOIN jst j ON b.vec_id = j.vec_id AND b.band = j.band),
       |allp AS (SELECT * FROM banded UNION ALL SELECT * FROM probed),
       |bcand AS (
       |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
       |mcand AS (
       |  SELECT DISTINCT least(x.vec_id, y.vec_id) AS id_a,
       |    greatest(x.vec_id, y.vec_id) AS id_b
       |  FROM allp x JOIN banded y
       |    ON x.band = y.band AND x.bucket = y.bucket AND x.vec_id <> y.vec_id),
       |bp AS (
       |  SELECT c.id_a, c.id_b FROM bcand c
       |  JOIN embeddings x ON x.vec_id = c.id_a
       |  JOIN embeddings y ON y.vec_id = c.id_b
       |  WHERE round(list_cosine_similarity(CAST(x.embedding AS DOUBLE[]), CAST(y.embedding AS DOUBLE[])), 6) >= $thr),
       |mp AS (
       |  SELECT c.id_a, c.id_b FROM mcand c
       |  JOIN embeddings x ON x.vec_id = c.id_a
       |  JOIN embeddings y ON y.vec_id = c.id_b
       |  WHERE round(list_cosine_similarity(CAST(x.embedding AS DOUBLE[]), CAST(y.embedding AS DOUBLE[])), 6) >= $thr),
       |pcx AS ($cosineSql),
       |ex AS (SELECT CAST(count(*) AS BIGINT) AS n_exact FROM pcx
       |  WHERE query_id < cand_id AND cos >= $thr),
       |nb AS (SELECT CAST(count(*) AS BIGINT) AS n_base FROM bp),
       |nm AS (SELECT CAST(count(*) AS BIGINT) AS n_multiprobe FROM mp)
       |SELECT CAST((SELECT bits FROM p) AS INTEGER) AS bits,
       |  CAST((SELECT bands FROM p) AS INTEGER) AS bands,
       |  n_exact, n_base, n_multiprobe,
       |  CASE WHEN n_exact = 0 THEN 1.0
       |    ELSE round(CAST(n_base AS DOUBLE) / n_exact, 6) END AS recall_base,
       |  CASE WHEN n_exact = 0 THEN 1.0
       |    ELSE round(CAST(n_multiprobe AS DOUBLE) / n_exact, 6) END AS recall_multiprobe,
       |  TRUE AS multiprobe_superset,
       |  TRUE AS gain_nonneg
       |FROM ex CROSS JOIN nb CROSS JOIN nm""".stripMargin

  /** Sign-LSH band-table CTE body over `rel`, bucketing band b on dims
    * [b·bits, (b+1)·bits) with bits/bands read from CTE `p(bits, bands)` —
    * the dynamic twin of the frozen per-band UNION ALL the adaptive
    * queries replaced. */
  private def dynamicBandedSql(rel: String): String =
    s"""SELECT vec_id, band,
       |    array_to_string(list_transform(generate_series(band * bits + 1, band * bits + bits),
       |      i -> CASE WHEN embedding[i] >= 0 THEN '1' ELSE '0' END), '') AS bucket
       |  FROM (SELECT e.vec_id, e.embedding, p.bits,
       |          unnest(generate_series(0, p.bands - 1)) AS band
       |        FROM $rel e CROSS JOIN p)""".stripMargin

  /** q65 oracle: two Lloyd iterations. Mirrors [[graft.ops.Similarity
    * .kmeansFit]] exactly: md5-hashed seed, rounded-cosine assignment
    * (ties to the lower centroid id), per-cell element means rounded to
    * 6 dp and round-tripped through FLOAT between iterations (the Spark
    * side feeds float arrays to the native dot kernel). */
  private def kmeansStepSql(i: Int, centsRel: String): String =
    s"""sim$i AS (
       |  SELECT e.vec_id, c.cent_id,
       |    round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.cvec), 6) AS csim
       |  FROM embeddings e CROSS JOIN $centsRel c),
       |a$i AS (
       |  SELECT vec_id, cent_id FROM (
       |    SELECT vec_id, cent_id,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cent_id ASC) AS r
       |    FROM sim$i) WHERE r = 1),
       |m$i AS (
       |  SELECT a.cent_id AS cell,
       |    unnest(CAST(e.embedding AS DOUBLE[])) AS v,
       |    unnest(generate_series(0, len(e.embedding) - 1)) AS dim
       |  FROM a$i a JOIN embeddings e ON e.vec_id = a.vec_id)""".stripMargin

  /** Two Lloyd iterations from the md5-seeded centroids, ending at the m2
    * member/element block. `cells` is a SQL
    * expression for the seed count: the model-choice consumers (q65 fit,
    * q232 silhouette) keep the literal 8; the OCCUPANCY-sensitive
    * consumers (q83 semantic dedup, q327 outliers — their within-cell
    * pair stage is quadratic in cell size) derive ⌈√count⌉ like q38. */
  private def kmeansTwoIterPrefix(cells: String = "8"): String =
    s"""WITH cents0 AS (
       |  SELECT vec_id AS cent_id, CAST(embedding AS DOUBLE[]) AS cvec
       |  FROM embeddings
       |  QUALIFY row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) <= ($cells)),
       |${kmeansStepSql(1, "cents0")},
       |c1 AS (
       |  SELECT cell, dim, CAST(CAST(round(avg(v), 6) AS FLOAT) AS DOUBLE) AS cv
       |  FROM m1 GROUP BY 1, 2),
       |cents1 AS (SELECT cell AS cent_id, list(cv ORDER BY dim) AS cvec FROM c1 GROUP BY 1),
       |${kmeansStepSql(2, "cents1")}""".stripMargin

  private def kmeansFitSql: String =
    s"""${kmeansTwoIterPrefix()}
       |SELECT cell, CAST(count(*) AS BIGINT) AS n_members,
       |  CAST(dim AS INTEGER) AS dim, round(avg(v), 6) AS mean_val
       |FROM m2 GROUP BY cell, dim""".stripMargin

  /** q118 oracle: q117's scoring behind an IVF gate — coarse centroids are
    * the md5-sampled corpus slice, corpus rows sit in their argmax-cosine
    * cell (ties to lower cent_id — the ivfPqTopK sort-by-id device), each
    * query probes its top-2 cells, and only cell-mates get scored. */
  private def ivfPqTopKSql: String =
    s"""WITH ${pqSubspaceCtes(0)},
       |${pqSubspaceCtes(1)},
       |pcells AS (
       |  SELECT least(65536, greatest(4, CAST(ceil(sqrt(CAST(count(*) AS DOUBLE))) AS INTEGER))) AS cells
       |  FROM embeddings WHERE vec_id % 50 <> 0),
       |cents AS (
       |  SELECT vec_id AS cent_id, CAST(embedding AS DOUBLE[]) AS cvec
       |  FROM embeddings CROSS JOIN pcells
       |  WHERE vec_id % 50 <> 0 AND embedding IS NOT NULL
       |  QUALIFY row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) <= pcells.cells),
       |asim AS (
       |  SELECT e.vec_id, c.cent_id,
       |    round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.cvec), 6) AS csim
       |  FROM embeddings e CROSS JOIN cents c
       |  WHERE e.vec_id % 50 <> 0 AND e.embedding IS NOT NULL),
       |cellof AS (
       |  SELECT vec_id, cent_id FROM (
       |    SELECT vec_id, cent_id,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cent_id ASC) AS r
       |    FROM asim) WHERE r = 1),
       |q AS (
       |  SELECT vec_id, embedding FROM embeddings
       |  WHERE vec_id % 50 = 0 AND embedding IS NOT NULL),
       |qsim AS (
       |  SELECT q.vec_id AS query_id, c.cent_id,
       |    round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), c.cvec), 6) AS csim
       |  FROM q CROSS JOIN cents c),
       |probes AS (
       |  SELECT query_id, cent_id FROM (
       |    SELECT query_id, cent_id,
       |      row_number() OVER (PARTITION BY query_id ORDER BY csim DESC, cent_id ASC) AS r
       |    FROM qsim) WHERE r <= 2),
       |enc AS (
       |  SELECT a0.vec_id, a0.code AS c0, a1.code AS c1
       |  FROM a01 a0 JOIN a11 a1 ON a0.vec_id = a1.vec_id
       |  WHERE a0.vec_id % 50 <> 0),
       |sc AS (
       |  SELECT p.query_id, a.vec_id AS cand_id,
       |    round(round(list_inner_product(CAST(q.embedding[1:32] AS DOUBLE[]), b0.cvec), 6)
       |        + round(list_inner_product(CAST(q.embedding[33:64] AS DOUBLE[]), b1.cvec), 6), 6) AS score
       |  FROM probes p
       |  JOIN q ON q.vec_id = p.query_id
       |  JOIN cellof a ON a.cent_id = p.cent_id
       |  JOIN enc ON enc.vec_id = a.vec_id
       |  JOIN cb0 b0 ON b0.code = enc.c0
       |  JOIN cb1 b1 ON b1.code = enc.c1)
       |SELECT query_id, cand_id, score,
       |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, cand_id ASC) AS INTEGER) AS rank
       |FROM sc
       |QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY score DESC, cand_id ASC) <= 10""".stripMargin

  /** Shared q83/q327 scaffold: trained cents2 (same FLOAT round-trip as
    * the Spark side), a third assignment pass (`a3`), then ALL
    * within-cell pairs with rounded cosine as CTE `pc`. Cell count is the
    * SCALE-ADAPTIVE ⌈√count⌉ (clamped like `Similarity.recommendedCells`)
    * — the within-cell pair stage is quadratic in cell size, so these two
    * consumers must not freeze k the way the model-choice queries do. */
  private def withinCellPairsPrefix: String =
    s"""${kmeansTwoIterPrefix("SELECT least(65536, greatest(4, " +
         "CAST(ceil(sqrt(CAST(count(*) AS DOUBLE))) AS INTEGER))) FROM embeddings")},
       |c2 AS (
       |  SELECT cell, dim, CAST(CAST(round(avg(v), 6) AS FLOAT) AS DOUBLE) AS cv
       |  FROM m2 GROUP BY 1, 2),
       |cents2 AS (SELECT cell AS cent_id, list(cv ORDER BY dim) AS cvec FROM c2 GROUP BY 1),
       |${kmeansStepSql(3, "cents2")},
       |pc AS (
       |  SELECT x.cent_id AS cell, x.vec_id AS id_a, y.vec_id AS id_b,
       |    round(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
       |      CAST(eb.embedding AS DOUBLE[])), 6) AS cos
       |  FROM a3 x JOIN a3 y ON x.cent_id = y.cent_id AND x.vec_id < y.vec_id
       |  JOIN embeddings ea ON ea.vec_id = x.vec_id
       |  JOIN embeddings eb ON eb.vec_id = y.vec_id)""".stripMargin

  /** q83 oracle: the shared within-cell scaffold filtered at ≥ 0.3. */
  private def semanticDedupSql: String =
    s"""$withinCellPairsPrefix
       |SELECT cell, id_a, id_b, cos FROM pc WHERE cos >= 0.3""".stripMargin

  val all: Seq[Query] = Seq(
    Query("q24_cosine_topk", (s, dir) =>
      Similarity.bruteForceTopK(t(s, dir, "embeddings"), "vec_id", "embedding", 5),
      s"""WITH pc AS ($cosineSql)
         |SELECT query_id, cand_id, cos,
         |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id ASC) AS INTEGER) AS rank
         |FROM pc
         |QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id ASC) <= 5""".stripMargin),
    // single-band didactic form; bits SCALE-ADAPTIVE as registered (the
    // occupancy rule, mirrored from count(*) in the oracle) so even the
    // fragile single-prefix shape never freezes a quadratic bucket size
    Query("q25_ann_lsh_topk", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.lshTopK(emb, "vec_id", "embedding", 3,
        Similarity.recommendedBits(cachedCount(s, dir, "embeddings")(emb)))
    },
      // q25: adaptive single-band bucket — the leading `bits` dims' sign
      // pattern, bits derived from count(*) exactly like the Scala side
      s"""WITH p AS (SELECT ${bitsSqlFrom("(SELECT count(*) AS n FROM embeddings)")} AS bits),
         |bucketed AS (
         |  SELECT vec_id, embedding,
         |    array_to_string(list_transform(generate_series(1, p.bits),
         |      i -> CASE WHEN embedding[i] >= 0 THEN '1' ELSE '0' END), '') AS bucket
         |  FROM embeddings CROSS JOIN p),
         |pc AS (
         |  SELECT a.vec_id AS query_id, b.vec_id AS cand_id,
         |    round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) AS cos
         |  FROM bucketed a JOIN bucketed b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id)
         |SELECT query_id, cand_id, cos,
         |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id ASC) AS INTEGER) AS rank
         |FROM pc
         |QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id ASC) <= 3""".stripMargin),
    // contrastive hard negatives: nearest wrong-label neighbors (exact
    // baseline; hardNegativesLsh is the banded scale path, spec-pinned)
    Query("q139_hard_negatives", (s, dir) =>
      Similarity.hardNegativesExact(
        t(s, dir, "embeddings"), "vec_id", "embedding", "label", 5),
      // q139: the q24 cross join restricted to label-mismatched pairs
      """WITH pc AS (
        |  SELECT a.vec_id AS query_id, a.label AS query_label,
        |    b.vec_id AS cand_id, b.label AS cand_label,
        |    round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) AS cos
        |  FROM embeddings a, embeddings b
        |  WHERE a.vec_id <> b.vec_id AND a.label IS DISTINCT FROM b.label)
        |SELECT query_id, query_label, cand_id, cand_label, cos,
        |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id ASC) AS INTEGER) AS rank
        |FROM pc
        |QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id ASC) <= 5""".stripMargin),
    Query("q26_embed_neardup", (s, dir) =>
      Similarity.nearDupPairs(t(s, dir, "embeddings"), "vec_id", "embedding", 0.4),
      s"""WITH pc AS ($cosineSql)
         |SELECT query_id AS id_a, cand_id AS id_b, cos
         |FROM pc WHERE query_id < cand_id AND cos >= 0.4""".stripMargin),
    // scale path for q26: banded LSH candidates instead of the N² cross
    // join. Calibration is SCALE-ADAPTIVE as registered (the SCALE10X
    // lesson: the frozen 4-bit sf0.1 calibration ran 77× on a 10× corpus):
    // bits = recommendedBits(count) keeps expected bucket occupancy ≤ 150,
    // bands = as many as the 64 dims still fit (capped at 8). At sf0.1
    // (n=2000) this derives the same 4-bit × 8-band plan the frozen entry
    // shipped; at 10×/100× it widens to 8/11 bits on its own. The oracle
    // CTE mirrors the identical integer arithmetic from count(*), so the
    // candidate sets replay exactly at every scale.
    Query("q44_embed_neardup_lsh", (s, dir) => signPairs04(s, dir),
      // q44: SCALE-ADAPTIVE calibration mirrored in SQL — bits is the
      // smallest b in [2,24] with 150·2^b ≥ count(*) (the integer form of
      // ⌈log2(n/150)⌉, exact at power-of-two boundaries on both engines),
      // bands = min(8, 64 // bits); band b buckets on the sign pattern of
      // dims [b·bits, (b+1)·bits), built dynamically via list_transform
      s"""WITH p AS (SELECT bits, greatest(1, least(8, 64 // bits)) AS bands FROM (
        |  SELECT ${bitsSqlFrom("(SELECT count(*) AS n FROM embeddings)")} AS bits)),
        |banded AS (
        |  ${dynamicBandedSql("embeddings")}),
        |cand AS (
        |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM banded a JOIN banded b
        |    ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
        |pc AS (
        |  SELECT c.id_a, c.id_b,
        |    round(list_cosine_similarity(CAST(x.embedding AS DOUBLE[]), CAST(y.embedding AS DOUBLE[])), 6) AS cos
        |  FROM cand c
        |  JOIN embeddings x ON x.vec_id = c.id_a
        |  JOIN embeddings y ON y.vec_id = c.id_b)
        |SELECT id_a, id_b, cos FROM pc WHERE cos >= 0.4""".stripMargin),
    // the granularity rule's recall COST, driver-checked at the NEXT
    // decade's calibration (VERDICT r6 #3): bits/bands derived for a
    // 10× corpus, measured against today's exact pair set — wider bands
    // buy occupancy with recall, and the floor is an oracle-pinned TRUE
    // so a recall collapse is a hash mismatch, not scaladoc prose.
    // The floor is MODEL-DERIVED (VERDICT r7 #2): half the closed-form
    // sign-LSH collision curve at this (threshold, bits, bands) — it
    // falls with the derived calibration exactly as measured recall does
    // (0.47/0.20/0.032 measured vs 0.41/0.18/0.031 model across three
    // decades), so the contract holds at EVERY scale instead of failing
    // off-gate at 10× the way the old SF-pinned 0.1 did. This corpus's
    // exact pairs sit at cos ≈ 0.4–0.5 (no planted high-cosine dups) —
    // the worst case for sign-LSH; a corpus needing high TAIL recall at
    // a weak threshold buys it with more bands (cost ∝ bands), not
    // narrower buckets (cost ∝ N²/2^bits).
    Query("q340_lsh_recall_scaled", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val n10 = 10L * cachedCount(s, dir, "embeddings")(emb)
      val bits = Similarity.recommendedBits(n10)
      val bands = Similarity.recommendedBands(n10, 64)
      Similarity.lshRecallContract(emb, "vec_id", "embedding", 0.4,
        bits, bands, Similarity.modelRecallFloor(0.4, bits, bands),
        Some(exactJudgePairs(s, dir, 0.4)))
    },
      // q340: the q44 banded candidate machinery re-derived at 10·count(*)
      // (the NEXT decade's calibration), judged against the exact
      // cosine-threshold pair set; subset + floor pinned as literal TRUE
      s"""WITH p AS (SELECT bits, greatest(1, least(8, 64 // bits)) AS bands FROM (
         |  SELECT ${bitsSqlFrom("(SELECT 10 * count(*) AS n FROM embeddings)")} AS bits)),
         |banded AS (
         |  ${dynamicBandedSql("embeddings")}),
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM banded a JOIN banded b
         |    ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
         |bp AS (
         |  SELECT c.id_a, c.id_b
         |  FROM cand c
         |  JOIN embeddings x ON x.vec_id = c.id_a
         |  JOIN embeddings y ON y.vec_id = c.id_b
         |  WHERE round(list_cosine_similarity(CAST(x.embedding AS DOUBLE[]), CAST(y.embedding AS DOUBLE[])), 6) >= 0.4),
         |pc AS ($cosineSql),
         |ex AS (SELECT CAST(count(*) AS BIGINT) AS n_exact FROM pc
         |  WHERE query_id < cand_id AND cos >= 0.4),
         |bn AS (SELECT CAST(count(*) AS BIGINT) AS n_banded FROM bp)
         |SELECT CAST((SELECT bits FROM p) AS INTEGER) AS bits,
         |  CAST((SELECT bands FROM p) AS INTEGER) AS bands,
         |  n_exact, n_banded,
         |  CASE WHEN n_exact = 0 THEN 1.0
         |    ELSE round(CAST(n_banded AS DOUBLE) / n_exact, 6) END AS recall,
         |  TRUE AS banded_subset_exact,
         |  TRUE AS meets_floor
         |FROM ex CROSS JOIN bn""".stripMargin),
    // RANDOM-HYPERPLANE sign-LSH (Charikar 2002), md5-derandomized so the
    // oracle replays every bucket bit: bands UNBOUNDED by the vector's 64
    // dims — 16 bands at the adaptive bit width, where the raw-dim path
    // structurally caps at 64/bits. The answer to q340's measured recall
    // cost: same occupancy (same bits), recall 0.94 at sf0.1 vs 0.75 for
    // the dim-capped 8-band q44 calibration.
    Query("q341_rplsh_neardup", (s, dir) => rpPairs04(s, dir),
      // q341: every md5-derived plane sign and bucket bit replayed; then
      // the standard candidate→exact-cosine verify tail
      s"""WITH ${rpBandedCtes(16)},
         |pc AS (
         |  SELECT c.id_a, c.id_b,
         |    round(list_cosine_similarity(CAST(x.embedding AS DOUBLE[]), CAST(y.embedding AS DOUBLE[])), 6) AS cos
         |  FROM cand c
         |  JOIN embeddings x ON x.vec_id = c.id_a
         |  JOIN embeddings y ON y.vec_id = c.id_b)
         |SELECT id_a, id_b, cos FROM pc WHERE cos >= 0.4""".stripMargin),
    // the recall contract certifying the bands-buy-recall claim at the
    // same adaptive bits q44 runs (floor oracle-pinned TRUE; measured
    // 1.0 at sf0.01 / 0.94 at sf0.1). Floor MODEL-DERIVED like q340's:
    // half the closed-form curve at (0.4, bits, 16) — RP planes ARE the
    // i.i.d. hyperplanes the model assumes, so it tracks tightly (model
    // 0.94 at sf0.1 vs measured 0.94) and travels to any scale where the
    // old SF-pinned 0.7 was gate-only.
    Query("q342_rplsh_recall", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val bits = Similarity.recommendedBits(cachedCount(s, dir, "embeddings")(emb))
      Similarity.rpLshRecallContract(emb, "vec_id", "embedding", 0.4,
        bits, 16, 64, Similarity.modelRecallFloor(0.4, bits, 16),
        Some(exactJudgePairs(s, dir, 0.4)),
        bandedGen = Some(rpPairs04(s, dir)))
    },
      // q342/q350: the q341 machinery judged against the exact pair set;
      // subset + floor pinned as literal TRUE (the floor is half the
      // closed-form model at (threshold, bits, 16), computed Scala-side
      // only — the oracle pins the boolean)
      rpRecallSql("0.4")),
    // the STRONG-THRESHOLD recall contract (cos ≥ 0.8 — where LSH dedup
    // is actually deployed): on the driver fixtures no pair reaches 0.8
    // (n_exact = 0 → recall 1.0 by convention), so this row's teeth are
    // the planted-strong-pair scale fixture (tools/make_scale_fixture.py
    // --plant-strong), where it measures the RP tier against pairs the
    // operator is deployed to catch; the floor is the same closed-form
    // model, which at 0.8 predicts near-1 recall at every derived
    // calibration (p = 0.795: 1−(1−p^8)^16 ≈ 0.94 even at 10× bits)
    Query("q350_rplsh_recall_strong", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val bits = Similarity.recommendedBits(cachedCount(s, dir, "embeddings")(emb))
      Similarity.rpLshRecallContract(emb, "vec_id", "embedding", 0.8,
        bits, 16, 64, Similarity.modelRecallFloor(0.8, bits, 16),
        Some(exactJudgePairs(s, dir, 0.8)),
        bandedGen = Some(rpPairs04(s, dir).where(col("cos") >= 0.8)))
    },
      // q350: the same contract at the deployment threshold (no driver-SF
      // pair reaches 0.8, so n_exact = 0 → recall 1.0 here; the planted
      // scale fixture is where this row measures)
      rpRecallSql("0.8")),
    // multi-probe at the deployment threshold: the q345 gain laws
    // (structural superset, nonneg gain) certified where near-dups are
    // strong; recall_base/recall_multiprobe measure on the planted
    // fixture what one extra probe buys at cos 0.8
    Query("q351_multiprobe_strong", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val n = cachedCount(s, dir, "embeddings")(emb)
      Similarity.lshMultiProbeGainContract(emb, "vec_id", "embedding", 0.8,
        Similarity.recommendedBits(n), Similarity.recommendedBands(n, 64),
        Some(exactJudgePairs(s, dir, 0.8)),
        baseGen = Some(signPairs04(s, dir).where(col("cos") >= 0.8)),
        multiGen = Some(mpPairs04(s, dir).where(col("cos") >= 0.8)))
    },
      // q351: the gain laws at the deployment threshold (driver-SF
      // n_exact = 0; the planted scale fixture measures what one extra
      // probe buys on strong pairs)
      multiProbeGainSql("0.8")),
    // MULTI-PROBE sign-LSH (Lv et al. 2007): each vector also probes the
    // bucket at its least-confident bit flipped — the third LSH knob
    // (bits=occupancy, bands=recall @ cost ∝ bands, probes=recall with NO
    // new hash tables). Same adaptive (bits, bands) as q44; candidates
    // are a structural superset of q44's.
    Query("q344_lsh_multiprobe", (s, dir) => mpPairs04(s, dir),
      // q344/q345: multi-probe machinery in SQL — the flip position is the
      // row_number-1 bit by (rounded |value| in DOUBLE space, bit), the
      // probe bucket is substr surgery on the base bucket, and candidates
      // join (base ∪ probed) × base
      s"""WITH p AS (SELECT bits, greatest(1, least(8, 64 // bits)) AS bands FROM (
         |  SELECT ${bitsSqlFrom("(SELECT count(*) AS n FROM embeddings)")} AS bits)),
         |banded AS (
         |  ${dynamicBandedSql("embeddings")}),
         |bandgrid AS (
         |  SELECT e.vec_id, e.embedding, p.bits,
         |    unnest(generate_series(0, p.bands - 1)) AS band
         |  FROM embeddings e CROSS JOIN p),
         |bitgrid AS (
         |  SELECT vec_id, band, bits, embedding,
         |    unnest(generate_series(0, bits - 1)) AS bit
         |  FROM bandgrid),
         |jst AS (
         |  SELECT vec_id, band, bit AS jstar FROM (
         |    SELECT vec_id, band, bit,
         |      row_number() OVER (PARTITION BY vec_id, band
         |        ORDER BY round(abs(CAST(embedding[band * bits + bit + 1] AS DOUBLE)), 6), bit) AS r
         |    FROM bitgrid) WHERE r = 1),
         |probed AS (
         |  SELECT b.vec_id, b.band,
         |    substr(b.bucket, 1, j.jstar) ||
         |    CASE WHEN substr(b.bucket, j.jstar + 1, 1) = '1' THEN '0' ELSE '1' END ||
         |    substr(b.bucket, j.jstar + 2) AS bucket
         |  FROM banded b JOIN jst j ON b.vec_id = j.vec_id AND b.band = j.band),
         |allp AS (SELECT * FROM banded UNION ALL SELECT * FROM probed),
         |cand AS (
         |  SELECT DISTINCT least(x.vec_id, y.vec_id) AS id_a,
         |    greatest(x.vec_id, y.vec_id) AS id_b
         |  FROM allp x JOIN banded y
         |    ON x.band = y.band AND x.bucket = y.bucket AND x.vec_id <> y.vec_id),
         |pc AS (
         |  SELECT c.id_a, c.id_b,
         |    round(list_cosine_similarity(CAST(x.embedding AS DOUBLE[]), CAST(y.embedding AS DOUBLE[])), 6) AS cos
         |  FROM cand c
         |  JOIN embeddings x ON x.vec_id = c.id_a
         |  JOIN embeddings y ON y.vec_id = c.id_b)
         |SELECT id_a, id_b, cos FROM pc WHERE cos >= 0.4""".stripMargin),
    // the gain contract: multiprobe vs base recall at identical params,
    // superset + nonneg-gain oracle-pinned TRUE (structural laws)
    Query("q345_multiprobe_gain", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val n = cachedCount(s, dir, "embeddings")(emb)
      Similarity.lshMultiProbeGainContract(emb, "vec_id", "embedding", 0.4,
        Similarity.recommendedBits(n), Similarity.recommendedBands(n, 64),
        Some(exactJudgePairs(s, dir, 0.4)),
        baseGen = Some(signPairs04(s, dir)),
        multiGen = Some(mpPairs04(s, dir)))
    },
      // q345/q351: base (q44 tail) and multiprobe (q344 tail) pair sets
      // against the exact judge; superset and nonneg gain pinned TRUE
      multiProbeGainSql("0.4")),
    // the RP tier's ingestion-time shape (q200's twin with unbounded
    // bands): standing corpus = even vec_ids, arriving batch = odd; bits
    // from the CORPUS count, 16 bands
    Query("q343_rplsh_dedup_across", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val corpus = emb.where(col("vec_id") % 2 === 0)
      Similarity.rpLshNearDupPairsAcross(
        corpus, emb.where(col("vec_id") % 2 === 1),
        "vec_id", "embedding", 0.3,
        Similarity.recommendedBits(
          cachedCount(s, dir, "embeddings_even")(corpus)), 16, 64)
    },
      // q343: the two-sided RP bucket tables from the same plane CTEs; bits
      // from the standing corpus's count, exactly like the Scala side
      s"""WITH emb_c AS (SELECT * FROM embeddings WHERE vec_id % 2 = 0),
         |emb_b AS (SELECT * FROM embeddings WHERE vec_id % 2 = 1),
         |${rpPlanesCtes(16, "(SELECT count(*) AS n FROM emb_c)")},
         |bc AS (
         |  ${rpBucketSql("emb_c")}),
         |bd AS (
         |  ${rpBucketSql("emb_b")}),
         |cand AS (
         |  SELECT DISTINCT c.vec_id AS corpus_id, d.vec_id AS batch_id
         |  FROM bc c JOIN bd d ON c.band = d.band AND c.bucket = d.bucket),
         |pc AS (
         |  SELECT c.corpus_id, c.batch_id,
         |    round(list_cosine_similarity(CAST(x.embedding AS DOUBLE[]),
         |      CAST(y.embedding AS DOUBLE[])), 6) AS cos
         |  FROM cand c
         |  JOIN emb_c x ON x.vec_id = c.corpus_id
         |  JOIN emb_b y ON y.vec_id = c.batch_id)
         |SELECT corpus_id, batch_id, cos FROM pc WHERE cos >= 0.3""".stripMargin),
    // 3-band ANN top-k; bits SCALE-ADAPTIVE as registered — per-query
    // candidate volume stays ≈ bands × target_occupancy at every corpus
    // size instead of N/2^8 per band (bands yield to bucket width only
    // past 21 bits: greatest(1, least(3, 64/bits)))
    Query("q34_ann_multiband", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val bits = Similarity.recommendedBits(cachedCount(s, dir, "embeddings")(emb))
      Similarity.multiBandLshTopK(emb, "vec_id", "embedding", 3, bits,
        math.max(1, math.min(3, 64 / bits)))
    },
      // q34: adaptive bits, bands = greatest(1, least(3, 64 // bits)) —
      // identical arithmetic to the Scala registration
      s"""WITH p AS (SELECT bits, greatest(1, least(3, 64 // bits)) AS bands FROM (
         |  SELECT ${bitsSqlFrom("(SELECT count(*) AS n FROM embeddings)")} AS bits)),
         |banded AS (
         |  ${dynamicBandedSql("embeddings")}),
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS query_id, b.vec_id AS cand_id
         |  FROM banded a JOIN banded b
         |    ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id <> b.vec_id),
         |pc AS (
         |  SELECT c.query_id, c.cand_id,
         |    round(list_cosine_similarity(CAST(x.embedding AS DOUBLE[]), CAST(y.embedding AS DOUBLE[])), 6) AS cos
         |  FROM cand c
         |  JOIN embeddings x ON x.vec_id = c.query_id
         |  JOIN embeddings y ON y.vec_id = c.cand_id)
         |SELECT query_id, cand_id, cos,
         |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id ASC) AS INTEGER) AS rank
         |FROM pc
         |QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id ASC) <= 3""".stripMargin),
    // IVF cell count is SCALE-ADAPTIVE as registered: nCells = ⌈√N⌉ (the
    // SCALE10X remedy for the frozen 8-cell calibration that ran 13× on a
    // 10× corpus — candidates per query are N·nProbe/nCells, so cells must
    // grow with N). The oracle derives the same ⌈√count⌉ in SQL.
    Query("q38_ivf_topk", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.ivfTopK(emb, "vec_id", "embedding", 3,
        Similarity.recommendedCells(cachedCount(s, dir, "embeddings")(emb)), 2)
    },
      // q38: SCALE-ADAPTIVE cell count mirrored in SQL — nCells = ⌈√count⌉
      // clamped to [4, 65536] (IEEE sqrt/ceil are exact at perfect squares,
      // so the two engines can't ulp-diverge); centroid seed unchanged
      // (lowest md5-of-id rows)
      """WITH p AS (SELECT least(65536, greatest(4,
        |    CAST(ceil(sqrt(CAST(count(*) AS DOUBLE))) AS INTEGER))) AS cells FROM embeddings),
        |cents AS (
        |  SELECT vec_id AS cent_id, embedding AS cvec
        |  FROM embeddings CROSS JOIN p
        |  QUALIFY row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) <= p.cells),
        |sim AS (
        |  SELECT e.vec_id, c.cent_id,
        |    round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(c.cvec AS DOUBLE[])), 6) AS csim
        |  FROM embeddings e CROSS JOIN cents c),
        |ranked AS (
        |  SELECT vec_id, cent_id,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cent_id ASC) AS r
        |  FROM sim),
        |assigned AS (SELECT vec_id AS cand_id, cent_id AS cell FROM ranked WHERE r = 1),
        |probes AS (SELECT vec_id AS query_id, cent_id AS cell FROM ranked WHERE r <= 2),
        |pc AS (
        |  SELECT p.query_id, a.cand_id,
        |    round(list_cosine_similarity(CAST(x.embedding AS DOUBLE[]), CAST(y.embedding AS DOUBLE[])), 6) AS cos
        |  FROM probes p
        |  JOIN assigned a ON a.cell = p.cell AND a.cand_id <> p.query_id
        |  JOIN embeddings x ON x.vec_id = p.query_id
        |  JOIN embeddings y ON y.vec_id = a.cand_id)
        |SELECT query_id, cand_id, cos,
        |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id ASC) AS INTEGER) AS rank
        |FROM pc
        |QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id ASC) <= 3""".stripMargin),
    // IVF-PQ: coarse cells prune candidates (probe 2 of 8), ADC ranks the
    // survivors — the composition production ANN indexes run
    Query("q118_ivfpq_topk", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cb = graft.ops.Embeddings.pqTrain(emb, "vec_id", "embedding", 64, 2, 8, 1)
      // coarse cells SCALE-ADAPTIVE from the corpus count (⌈√N⌉, the q38
      // rule — candidates per query are N·nProbe/nCells); PQ codebook
      // size (m=2, k=8) is a MODEL choice and stays
      val corpus = emb.where(col("vec_id") % 50 =!= 0)
      Similarity.ivfPqTopK(corpus, "vec_id", "embedding",
        emb.where(col("vec_id") % 50 === 0), "vec_id", cb, 64, 2, 10,
        Similarity.recommendedCells(
          cachedCount(s, dir, "embeddings_mod50")(corpus)), 2)
    },
      ivfPqTopKSql),
    // one k-means refinement step over the IVF hashed-sample seed; means
    // exploded to (cell, dim, mean_val) rows for the oracle compare
    Query("q50_kmeans_step", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val seeds = emb.orderBy(md5(col("vec_id").cast("string")), col("vec_id")).limit(8)
      Similarity.kmeansStep(emb, "vec_id", "embedding", seeds)
        .select(col("cell"), col("n_members"),
          posexplode(col("centroid")).as(Seq("dim", "mean_val")))
        .withColumn("mean_val", round(col("mean_val"), 6))
    },
      """WITH cents AS (
        |  SELECT vec_id AS cent_id, embedding AS cvec
        |  FROM embeddings ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8),
        |sim AS (
        |  SELECT e.vec_id, c.cent_id,
        |    round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(c.cvec AS DOUBLE[])), 6) AS csim
        |  FROM embeddings e CROSS JOIN cents c),
        |assigned AS (
        |  SELECT vec_id, cent_id FROM (
        |    SELECT vec_id, cent_id,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cent_id ASC) AS r
        |    FROM sim) WHERE r = 1),
        |m AS (
        |  SELECT a.cent_id AS cell,
        |    unnest(CAST(e.embedding AS DOUBLE[])) AS v,
        |    unnest(generate_series(0, len(e.embedding) - 1)) AS dim
        |  FROM assigned a JOIN embeddings e ON e.vec_id = a.vec_id)
        |SELECT cell, CAST(count(*) AS BIGINT) AS n_members,
        |  CAST(dim AS INTEGER) AS dim, round(avg(v), 6) AS mean_val
        |FROM m GROUP BY cell, dim""".stripMargin),
    // full Lloyd's k-means (2 iterations from the md5-hashed seed):
    // trains the IVF coarse quantizer; q50 is one step of this
    Query("q65_kmeans_fit", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.kmeansFit(emb, "vec_id", "embedding", 8, 2)
        .select(col("cell"), col("n_members"),
          posexplode(col("centroid")).as(Seq("dim", "mean_val")))
        .withColumn("mean_val", round(col("mean_val"), 6))
    },
      kmeansFitSql),
    // SemDeDup: k-means cells, then near-dup pairs WITHIN a cell only
    // SemDeDup cell count SCALE-ADAPTIVE as registered (⌈√N⌉ like q38 —
    // the within-cell pair stage is quadratic in cell size); 2 Lloyd
    // iterations and the 0.3 threshold unchanged, oracle mirrors the count
    Query("q83_semantic_dedup", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.semanticNearDupPairs(emb, "vec_id", "embedding",
        Similarity.recommendedCells(cachedCount(s, dir, "embeddings")(emb)), 2, 0.3,
        assignedGen = Some(kmeansAssigned(s, dir)))
    },
      semanticDedupSql),
    // PageRank over the exact 3-NN cosine graph: prototype centrality
    // (central vectors summarize their neighborhood)
    Query("q163_knn_pagerank", (s, dir) => {
      val knn = Similarity.bruteForceTopK(
        t(s, dir, "embeddings"), "vec_id", "embedding", 3)
        .where(col("cos") > 0)
      graft.ops.Graph.pageRank(knn, "query_id", "cand_id", "cos", 0.85, 3)
    },
      // q163: three unrolled PR rounds over the exact 3-NN edges;
      // (1 - 0.85) in SQL so the teleport is the IDENTICAL IEEE value
      s"""WITH pc AS ($cosineSql),
         |k AS (SELECT query_id, cand_id, cos FROM pc
         |  QUALIFY row_number() OVER (PARTITION BY query_id
         |    ORDER BY cos DESC, cand_id ASC) <= 3),
         |e AS (SELECT query_id AS src, cand_id AS dst, cos AS w
         |  FROM k WHERE cos > 0),
         |outw AS (SELECT src, sum(w) AS ow FROM e GROUP BY 1),
         |nodes AS (SELECT DISTINCT node FROM
         |  (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
         |nn AS (SELECT CAST(count(*) AS DOUBLE) AS cnt FROM nodes),
         |r0 AS (SELECT node, round(1.0 / cnt, 6) AS rank FROM nodes, nn),
         |c1 AS (SELECT e.dst AS node, sum(e.w / outw.ow * r0.rank) AS s
         |  FROM e JOIN outw ON e.src = outw.src
         |  JOIN r0 ON e.src = r0.node GROUP BY 1),
         |r1 AS (SELECT nodes.node,
         |  round((1 - 0.85) / nn.cnt + 0.85 * coalesce(c1.s, 0), 6) AS rank
         |  FROM nodes CROSS JOIN nn LEFT JOIN c1 ON nodes.node = c1.node),
         |c2 AS (SELECT e.dst AS node, sum(e.w / outw.ow * r1.rank) AS s
         |  FROM e JOIN outw ON e.src = outw.src
         |  JOIN r1 ON e.src = r1.node GROUP BY 1),
         |r2 AS (SELECT nodes.node,
         |  round((1 - 0.85) / nn.cnt + 0.85 * coalesce(c2.s, 0), 6) AS rank
         |  FROM nodes CROSS JOIN nn LEFT JOIN c2 ON nodes.node = c2.node),
         |c3 AS (SELECT e.dst AS node, sum(e.w / outw.ow * r2.rank) AS s
         |  FROM e JOIN outw ON e.src = outw.src
         |  JOIN r2 ON e.src = r2.node GROUP BY 1),
         |r3 AS (SELECT nodes.node,
         |  round((1 - 0.85) / nn.cnt + 0.85 * coalesce(c3.s, 0), 6) AS rank
         |  FROM nodes CROSS JOIN nn LEFT JOIN c3 ON nodes.node = c3.node)
         |SELECT node, rank FROM r3""".stripMargin),
    // semi-supervised label spread over the 3-NN cosine graph: half the
    // labels md5-masked to null, two synchronous rounds re-derive them
    Query("q167_label_spread", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val seeds = emb.select(col("vec_id"),
        when(substring(md5(col("vec_id").cast("string")), 1, 1) < "8",
          col("label")).as("label"))
      val knn = Similarity.bruteForceTopK(emb, "vec_id", "embedding", 3)
        .where(col("cos") > 0)
      graft.ops.Graph.labelSpread(seeds, "vec_id", "label",
        knn, "query_id", "cand_id", "cos", 2)
    },
      // q167: two unrolled label-spread rounds over the exact 3-NN edges;
      // votes rounded to 6 dp, ties to the smallest label, seeds clamped
      s"""WITH pc AS ($cosineSql),
         |k AS (SELECT query_id, cand_id, cos FROM pc
         |  QUALIFY row_number() OVER (PARTITION BY query_id
         |    ORDER BY cos DESC, cand_id ASC) <= 3),
         |e AS (SELECT query_id AS src, cand_id AS dst, cos AS w
         |  FROM k WHERE cos > 0),
         |l0 AS (SELECT vec_id AS node,
         |  CASE WHEN substr(md5(CAST(vec_id AS VARCHAR)), 1, 1) < '8'
         |    THEN label END AS seed,
         |  CASE WHEN substr(md5(CAST(vec_id AS VARCHAR)), 1, 1) < '8'
         |    THEN label END AS label
         |  FROM embeddings),
         |v1 AS (SELECT e.dst, l0.label AS l, round(sum(e.w), 6) AS vote
         |  FROM e JOIN l0 ON e.src = l0.node
         |  WHERE l0.label IS NOT NULL GROUP BY 1, 2),
         |w1 AS (SELECT dst, l FROM v1
         |  QUALIFY row_number() OVER (PARTITION BY dst
         |    ORDER BY vote DESC, l ASC) = 1),
         |l1 AS (SELECT l0.node, l0.seed,
         |  coalesce(l0.seed, w1.l, l0.label) AS label
         |  FROM l0 LEFT JOIN w1 ON l0.node = w1.dst),
         |v2 AS (SELECT e.dst, l1.label AS l, round(sum(e.w), 6) AS vote
         |  FROM e JOIN l1 ON e.src = l1.node
         |  WHERE l1.label IS NOT NULL GROUP BY 1, 2),
         |w2 AS (SELECT dst, l FROM v2
         |  QUALIFY row_number() OVER (PARTITION BY dst
         |    ORDER BY vote DESC, l ASC) = 1),
         |l2 AS (SELECT l1.node, l1.seed,
         |  coalesce(l1.seed, w2.l, l1.label) AS label
         |  FROM l1 LEFT JOIN w2 ON l1.node = w2.dst)
         |SELECT node, label, seed IS NOT NULL AS is_seed FROM l2""".stripMargin),
    // streaming EMBEDDING ingest with inline ANN rejection (q110's
    // embedding twin): two ordered micro-batches of vectors, each
    // sign-LSH-checked against the standing side (fixed even-id corpus
    // plus batch-1 survivors when batch 2 arrives), exact-cosine verify,
    // survivors appended exactly once — the ingestion-time semantic-dedup
    // composition, oracled as the same two-stage chain in SQL
    Query("q366_stream_ann_ingest", (s, dir) => {
      import graft.streaming.EventStream
      val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
      val corpus = emb.where(col("vec_id") % 2 === 0)
      val n = cachedCount(s, dir, "embeddings_even")(corpus)
      val tmp = java.nio.file.Files.createTempDirectory("q366-ann").toString
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
      drop(emb.where(pmod(col("vec_id"), lit(4)) === 1), "b0", 1000000L)
      drop(emb.where(pmod(col("vec_id"), lit(4)) === 3), "b1", 2000000L)
      val schema = ManifestRead.footerSchema(s, s"$srcDir/b0.parquet")
      val stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("basePath", srcDir.toString)
        .parquet(s"$srcDir/*.parquet")
      val store = new graft.sources.TableStore(s)
      withStatePartitions(s, 8) {
        // recalib: the library's own occupancy rule, re-applied at
        // decade milestones of the STANDING count (VERDICT r10 #1 —
        // bootstrap-pinned calibration drifts under-banded forever)
        val q = EventStream.streamAnnDedupedIngest(stream, corpus, store,
          s"$tmp/vectors", "vec_id", "embedding", 0.3,
          graft.ops.Similarity.recommendedBits(n),
          graft.ops.Similarity.recommendedBands(n, 64), s"$tmp/ckpt",
          recalib = Some(m => (graft.ops.Similarity.recommendedBits(m),
            graft.ops.Similarity.recommendedBands(m, 64))))
        q.awaitTermination()
      }
      store.read(s"$tmp/vectors").select("vec_id")
    },
      // q366: the two-stage incremental ANN semantics spelled out — batch 1
      // checked against the fixed even-id corpus; batch 2 against corpus ∪
      // batch-1 survivors; ONE calibration CTE (bits/bands from the
      // standing corpus's count, the Scala side's pinned parameters)
      {
      def annCross(corpusRel: String, batchRel: String, sfx: String): String =
        s"""bc_$sfx AS (
           |  ${dynamicBandedSql(corpusRel)}),
           |bb_$sfx AS (
           |  ${dynamicBandedSql(batchRel)}),
           |vp_$sfx AS (
           |  SELECT DISTINCT c.batch_id FROM (
           |    SELECT DISTINCT x.vec_id AS corpus_id, y.vec_id AS batch_id
           |    FROM bc_$sfx x JOIN bb_$sfx y
           |      ON x.band = y.band AND x.bucket = y.bucket) c
           |  JOIN $corpusRel a ON a.vec_id = c.corpus_id
           |  JOIN $batchRel b ON b.vec_id = c.batch_id
           |  WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
           |    CAST(b.embedding AS DOUBLE[])), 6) >= 0.3)""".stripMargin
      s"""WITH emb_c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 2 = 0),
         |b1 AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 4 = 1),
         |b2 AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 4 = 3),
         |p AS (SELECT bits, greatest(1, least(8, 64 // bits)) AS bands FROM (
         |  SELECT ${bitsSqlFrom("(SELECT count(*) AS n FROM emb_c)")} AS bits)),
         |${annCross("emb_c", "b1", "s1")},
         |surv1 AS (SELECT vec_id, embedding FROM b1
         |          WHERE vec_id NOT IN (SELECT batch_id FROM vp_s1)),
         |standing2 AS (SELECT * FROM emb_c UNION ALL SELECT * FROM surv1),
         |${annCross("standing2", "b2", "s2")},
         |surv2 AS (SELECT vec_id, embedding FROM b2
         |          WHERE vec_id NOT IN (SELECT batch_id FROM vp_s2))
         |SELECT vec_id FROM surv1
         |UNION ALL
         |SELECT vec_id FROM surv2""".stripMargin
    }),
    // the ANN gate's INTRA-BATCH flag demonstrated (q370's embedding
    // twin): ONE micro-batch of vectors with mutual near-dups,
    // intraBatch = true — banded self-pairs → connected components →
    // min-id representatives BEFORE the standing join. Oracled as the
    // same chain (recursive closure over cosine-verified self-pairs,
    // then the corpus cross-check over reps only)
    Query("q371_stream_ann_intra_batch", (s, dir) => {
      import graft.streaming.EventStream
      val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
      val corpus = emb.where(col("vec_id") % 2 === 0)
      val n = cachedCount(s, dir, "embeddings_even")(corpus)
      val tmp = java.nio.file.Files.createTempDirectory("q371-intra").toString
      val srcDir = new java.io.File(s"$tmp/drops"); srcDir.mkdirs()
      val stage = s"$tmp/stage_b0"
      emb.where(col("vec_id") % 2 === 1).coalesce(1).write.parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        new java.io.File(srcDir, "b0.parquet").toPath)
      val schema = ManifestRead.footerSchema(s, s"$srcDir/b0.parquet")
      val stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("basePath", srcDir.toString)
        .parquet(s"$srcDir/*.parquet")
      val store = new graft.sources.TableStore(s)
      withStatePartitions(s, 8) {
        val q = EventStream.streamAnnDedupedIngest(stream, corpus, store,
          s"$tmp/vectors", "vec_id", "embedding", 0.3,
          graft.ops.Similarity.recommendedBits(n),
          graft.ops.Similarity.recommendedBands(n, 64), s"$tmp/ckpt",
          intraBatch = true,
          recalib = Some(m => (graft.ops.Similarity.recommendedBits(m),
            graft.ops.Similarity.recommendedBands(m, 64))))
        q.awaitTermination()
      }
      store.read(s"$tmp/vectors").select("vec_id")
    },
      // q371: the ANN gate's intra-batch reduction spelled out — banded
      // self-pairs within the batch (cosine-verified), the recursive
      // min-label closure, representatives = own cluster id, then the
      // corpus cross-check over the representatives only (q366's chain)
      s"""WITH RECURSIVE emb_c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 2 = 0),
         |b1 AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 2 = 1),
         |p AS (SELECT bits, greatest(1, least(8, 64 // bits)) AS bands FROM (
         |  SELECT ${bitsSqlFrom("(SELECT count(*) AS n FROM emb_c)")} AS bits)),
         |bb_i AS (
         |  ${dynamicBandedSql("b1")}),
         |jpairs AS (
         |  SELECT c.id_a, c.id_b FROM (
         |    SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
         |    FROM bb_i x JOIN bb_i y
         |      ON x.band = y.band AND x.bucket = y.bucket AND x.vec_id < y.vec_id) c
         |  JOIN b1 a ON a.vec_id = c.id_a
         |  JOIN b1 b ON b.vec_id = c.id_b
         |  WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
         |    CAST(b.embedding AS DOUBLE[])), 6) >= 0.3),
         |bdocs AS (SELECT vec_id AS doc_id FROM b1),
         |${closureTailSql("bdocs")},
         |reps AS (SELECT b.vec_id, b.embedding FROM b1 b
         |         JOIN assign a ON a.doc_id = b.vec_id AND a.cluster_id = b.vec_id),
         |bc_x AS (
         |  ${dynamicBandedSql("emb_c")}),
         |bb_x AS (
         |  ${dynamicBandedSql("reps")}),
         |vp_x AS (
         |  SELECT DISTINCT c.batch_id FROM (
         |    SELECT DISTINCT x.vec_id AS corpus_id, y.vec_id AS batch_id
         |    FROM bc_x x JOIN bb_x y
         |      ON x.band = y.band AND x.bucket = y.bucket) c
         |  JOIN emb_c a ON a.vec_id = c.corpus_id
         |  JOIN reps b ON b.vec_id = c.batch_id
         |  WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
         |    CAST(b.embedding AS DOUBLE[])), 6) >= 0.3)
         |SELECT vec_id FROM reps
         |WHERE vec_id NOT IN (SELECT batch_id FROM vp_x)""".stripMargin),
    // the ANN GATE'S COSINE THRESHOLD priced the same way: ONE sign-LSH
    // candidate pass at the gate's own calibration (bits/bands from the
    // corpus count) over the q366 corpus/batch-1 split, exact cosines
    // computed once, then pairs kept and batch rows dropped per
    // threshold cut — the 0.3 operating point flagged
    Query("q373_ann_threshold_sweep", (s, dir) => {
      import s.implicits._
      val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
      val corpus = emb.where(col("vec_id") % 2 === 0)
      val batch = emb.where(pmod(col("vec_id"), lit(4)) === 1)
      val n = cachedCount(s, dir, "embeddings_even")(corpus)
      val cand = graft.core.CacheRegistry.persist(
        Similarity.lshNearDupPairsAcross(corpus, batch, "vec_id", "embedding",
          -1.0, Similarity.recommendedBits(n), Similarity.recommendedBands(n, 64)))
      val grid = Seq(0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9).toDF("threshold")
      grid.join(cand, col("cos") >= col("threshold"), "left")
        .groupBy("threshold")
        .agg(count(col("cos")).as("n_pairs"),
          countDistinct(col("batch_id")).as("n_dropped"))
        .select(col("threshold"), col("n_pairs"), col("n_dropped"),
          (col("threshold") === lit(0.3)).as("chosen"))
    },
      // q373: the ANN gate's cosine threshold priced — q366's banded
      // candidate chain at the gate's own calibration, exact cosines
      // computed once, counts per grid cut; the 0.3 operating point flagged
      s"""WITH emb_c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 2 = 0),
         |b1 AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 4 = 1),
         |p AS (SELECT bits, greatest(1, least(8, 64 // bits)) AS bands FROM (
         |  SELECT ${bitsSqlFrom("(SELECT count(*) AS n FROM emb_c)")} AS bits)),
         |bc_x AS (
         |  ${dynamicBandedSql("emb_c")}),
         |bb_x AS (
         |  ${dynamicBandedSql("b1")}),
         |cand AS (SELECT DISTINCT x.vec_id AS corpus_id, y.vec_id AS batch_id
         |  FROM bc_x x JOIN bb_x y ON x.band = y.band AND x.bucket = y.bucket),
         |vc AS (SELECT c.batch_id,
         |    round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
         |      CAST(b.embedding AS DOUBLE[])), 6) AS cos
         |  FROM cand c JOIN emb_c a ON a.vec_id = c.corpus_id
         |  JOIN b1 b ON b.vec_id = c.batch_id),
         |grid(threshold) AS (VALUES (0.1), (0.2), (0.3), (0.4), (0.5), (0.6), (0.7), (0.8), (0.9))
         |SELECT CAST(g.threshold AS DOUBLE) AS threshold,
         |  CAST(count(v.cos) AS BIGINT) AS n_pairs,
         |  CAST(count(DISTINCT v.batch_id) AS BIGINT) AS n_dropped,
         |  CAST(g.threshold AS DOUBLE) = 0.3 AS chosen
         |FROM grid g LEFT JOIN vc v ON v.cos >= CAST(g.threshold AS DOUBLE)
         |GROUP BY 1""".stripMargin),
    // incremental batch-vs-corpus EMBEDDING near-dup (the semantic twin
    // of q49's text version): even vec_ids are the standing corpus, odd
    // the arriving batch; sign-LSH banded candidates, exact-cosine verify
    // bits SCALE-ADAPTIVE from the STANDING CORPUS's count (the side whose
    // band table persists and whose occupancy the candidate join pays;
    // the batch is transient) — mirrored in the oracle from the same
    // even-id filter
    Query("q200_embed_dedup_across", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val corpus = emb.where(col("vec_id") % 2 === 0)
      val n = cachedCount(s, dir, "embeddings_even")(corpus)
      Similarity.lshNearDupPairsAcross(
        corpus, emb.where(col("vec_id") % 2 === 1),
        "vec_id", "embedding", 0.3,
        Similarity.recommendedBits(n), Similarity.recommendedBands(n, 64))
    },
      // q200: the q44 sign-band replay split corpus/batch, verified cosines
      // q200: adaptive bits/bands from the STANDING CORPUS's count (the
      // even-id side), both band tables built from the same p CTE
      {
      s"""WITH emb_c AS (SELECT * FROM embeddings WHERE vec_id % 2 = 0),
         |emb_b AS (SELECT * FROM embeddings WHERE vec_id % 2 = 1),
         |p AS (SELECT bits, greatest(1, least(8, 64 // bits)) AS bands FROM (
         |  SELECT ${bitsSqlFrom("(SELECT count(*) AS n FROM emb_c)")} AS bits)),
         |bc AS (
         |  ${dynamicBandedSql("emb_c")}),
         |bd AS (
         |  ${dynamicBandedSql("emb_b")}),
         |cand AS (
         |  SELECT DISTINCT c.vec_id AS corpus_id, d.vec_id AS batch_id
         |  FROM bc c JOIN bd d ON c.band = d.band AND c.bucket = d.bucket),
         |pc AS (
         |  SELECT c.corpus_id, c.batch_id,
         |    round(list_cosine_similarity(CAST(x.embedding AS DOUBLE[]),
         |      CAST(y.embedding AS DOUBLE[])), 6) AS cos
         |  FROM cand c
         |  JOIN emb_c x ON x.vec_id = c.corpus_id
         |  JOIN emb_b y ON y.vec_id = c.batch_id)
         |SELECT corpus_id, batch_id, cos FROM pc WHERE cos >= 0.3""".stripMargin
    }),
    // k-center greedy coreset: 6 farthest-point-traversal picks over the
    // embedding space (diverse subset / eval-probe selection)
    Query("q188_kcenter_coreset", (s, dir) =>
      Similarity.kCenterCoreset(t(s, dir, "embeddings"), "vec_id", "embedding", 6),
      // q188: the greedy traversal unrolled — same ‖x−c‖² expansion (the
      // double index-order dot is bit-identical to dotF), raw min-dist
      // carried, round-before-argmax pick, id tie-break
      {
      val k = 6
      val head =
        """WITH x AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v,
          |    list_dot_product(CAST(embedding AS DOUBLE[]),
          |      CAST(embedding AS DOUBLE[])) AS xx
          |  FROM embeddings WHERE embedding IS NOT NULL),
          |c1 AS (SELECT id, v, xx FROM x ORDER BY id ASC LIMIT 1),
          |d1 AS (SELECT x.id, x.v, x.xx,
          |    (x.xx - 2.0 * list_dot_product(x.v, c1.v) + c1.xx) AS draw
          |  FROM x, c1 WHERE x.id <> c1.id)""".stripMargin
      val rounds = (2 to k).map { i =>
        val pick =
          s"""c$i AS (SELECT id, v, xx, draw FROM d${i - 1}
             |  ORDER BY round(draw, 6) DESC, id ASC LIMIT 1)""".stripMargin
        val carry = if (i == k) "" else
          s""",
             |d$i AS (SELECT a.id, a.v, a.xx,
             |    least(a.draw, (a.xx - 2.0 * list_dot_product(a.v, c$i.v)
             |      + c$i.xx)) AS draw
             |  FROM d${i - 1} a, c$i WHERE a.id <> c$i.id)""".stripMargin
        pick + carry
      }
      val selects =
        s"SELECT CAST(1 AS BIGINT) AS center_rank, id, CAST(NULL AS DOUBLE) AS radius FROM c1" +:
          (2 to k).map(i =>
            s"SELECT CAST($i AS BIGINT), id, round(draw, 6) FROM c$i")
      (head +: rounds).mkString(",\n") + "\n" +
        selects.mkString("\nUNION ALL ")
    }),
    // MMR diverse re-rank against vec 1's embedding: greedy
    // λ·rel − (1−λ)·max-sim-to-selected, 5 picks (pure top-k would
    // return near-copies of the best hit)
    Query("q203_mmr_rerank", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val qv = emb.where(col("vec_id") === 1)
        .select("embedding").head().getSeq[Float](0)
      Similarity.mmrRerank(
        emb.where(col("vec_id") =!= 1), "vec_id", "embedding", qv, 5, 0.7)
    },
      // q203: the q188 unrolled-greedy device — per-pick CTEs carrying the
      // running max-similarity, the SAME λ / (1−λ) Scala double literals,
      // round-before-argmax with id tie-break at every pick
      {
      val k = 5
      val lambda = 0.7
      val oneMinus = 1.0 - lambda
      val head =
        """WITH x AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
          |  FROM embeddings WHERE vec_id <> 1 AND embedding IS NOT NULL
          |    AND list_dot_product(CAST(embedding AS DOUBLE[]),
          |          CAST(embedding AS DOUBLE[])) > 0),
          |qv AS (SELECT CAST(embedding AS DOUBLE[]) AS q
          |       FROM embeddings WHERE vec_id = 1),
          |r AS (SELECT id, v, round(list_cosine_similarity(v, qv.q), 6) AS rel
          |      FROM x, qv),
          |c1 AS (SELECT id, v, rel FROM r ORDER BY rel DESC, id ASC LIMIT 1),
          |d1 AS (SELECT a.id, a.v, a.rel,
          |    round(list_cosine_similarity(a.v, c1.v), 6) AS msim
          |  FROM r a, c1 WHERE a.id <> c1.id)""".stripMargin
      val rounds = (2 to k).map { i =>
        val pick =
          s"""c$i AS (SELECT id, v, rel,
             |    round($lambda * rel - $oneMinus * msim, 6) AS score
             |  FROM d${i - 1}
             |  ORDER BY round($lambda * rel - $oneMinus * msim, 6) DESC, id ASC
             |  LIMIT 1)""".stripMargin
        val carry = if (i == k) "" else
          s""",
             |d$i AS (SELECT a.id, a.v, a.rel,
             |    greatest(a.msim,
             |      round(list_cosine_similarity(a.v, c$i.v), 6)) AS msim
             |  FROM d${i - 1} a, c$i WHERE a.id <> c$i.id)""".stripMargin
        pick + carry
      }
      val selects =
        s"SELECT CAST(1 AS BIGINT) AS mmr_rank, id, rel, CAST(NULL AS DOUBLE) AS score FROM c1" +:
          (2 to k).map(i => s"SELECT CAST($i AS BIGINT), id, rel, score FROM c$i")
      (head +: rounds).mkString(",\n") + "\n" + selects.mkString("\nUNION ALL ")
    }),
    // simplified (centroid-based) silhouette per k-means cell: the
    // clustering-quality gate for the SemDeDup/IVF cells
    Query("q232_silhouette", (s, dir) =>
      Similarity.silhouette(t(s, dir, "embeddings"), "vec_id", "embedding",
        8, 2),
      // q232: the q83 trained cents2, a third assignment-style cosine pass,
      // a/b off the SAME rounded cosines, per-cell rollup
      s"""${kmeansTwoIterPrefix()},
         |c2 AS (
         |  SELECT cell, dim, CAST(CAST(round(avg(v), 6) AS FLOAT) AS DOUBLE) AS cv
         |  FROM m2 GROUP BY 1, 2),
         |cents2 AS (SELECT cell AS cent_id, list(cv ORDER BY dim) AS cvec FROM c2 GROUP BY 1),
         |sim3 AS (SELECT e.vec_id, c.cent_id,
         |    round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.cvec), 6) AS csim
         |  FROM embeddings e CROSS JOIN cents2 c WHERE e.embedding IS NOT NULL),
         |r3 AS (SELECT *, row_number() OVER (PARTITION BY vec_id
         |    ORDER BY csim DESC, cent_id ASC) AS r FROM sim3),
         |pp AS (SELECT vec_id,
         |    max(CASE WHEN r = 1 THEN cent_id END) AS cell,
         |    max(CASE WHEN r = 1 THEN csim END) AS own,
         |    max(CASE WHEN r <> 1 THEN csim END) AS nxt
         |  FROM r3 GROUP BY 1),
         |sc AS (SELECT cell,
         |    CASE WHEN greatest(1.0 - own, 1.0 - nxt) > 0
         |      THEN ((1.0 - nxt) - (1.0 - own))
         |        / greatest(1.0 - own, 1.0 - nxt)
         |      ELSE CAST(0.0 AS DOUBLE) END AS s
         |  FROM pp)
         |SELECT cell, CAST(count(*) AS BIGINT) AS n_members,
         |  round(avg(s), 6) + 0.0 AS mean_silhouette,
         |  round(avg(CASE WHEN s < 0 THEN 1.0 ELSE 0.0 END), 6)
         |    AS share_negative
         |FROM sc GROUP BY cell""".stripMargin),
    // bitext-style margin mining: banded LSH candidates across the
    // parity-split pools, hubness-cancelling margin, mutual-argmax pairs
    Query("q263_margin_mates", (s, dir) =>
      Similarity.marginMates(
        t(s, dir, "embeddings").withColumn("side",
          when(col("vec_id") % 2 === 0, "even").otherwise("odd")),
        "vec_id", "embedding", "side", 3, 8, 3),
      // q263: full banded-LSH replay (q34's bucket CTE), cross-side filter,
      // micro-integer top-3 means, the margin division mirrored verbatim,
      // mutual argmax via the (a,b)=(b,a) self-join of per-query rank-1 rows
      {
      def bucket(b: Int) = (b * 8 + 1 to b * 8 + 8).map(i =>
        s"CASE WHEN embedding[$i] >= 0 THEN '1' ELSE '0' END").mkString(" || ")
      val bandRows = (0 until 3).map(b =>
        s"SELECT vec_id, $b AS band, ${bucket(b)} AS bucket FROM embeddings")
        .mkString("\n  UNION ALL\n  ")
      s"""WITH banded AS (
         |  $bandRows),
         |sided AS (SELECT vec_id,
         |    CASE WHEN vec_id % 2 = 0 THEN 'even' ELSE 'odd' END AS side
         |  FROM embeddings),
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS query_id, b.vec_id AS cand_id
         |  FROM banded a JOIN banded b
         |    ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id <> b.vec_id),
         |pc AS (
         |  SELECT c.query_id, c.cand_id, sx.side AS sa, sy.side AS sb,
         |    round(list_cosine_similarity(CAST(x.embedding AS DOUBLE[]),
         |      CAST(y.embedding AS DOUBLE[])), 6) AS cos
         |  FROM cand c
         |  JOIN embeddings x ON x.vec_id = c.query_id
         |  JOIN embeddings y ON y.vec_id = c.cand_id
         |  JOIN sided sx ON sx.vec_id = c.query_id
         |  JOIN sided sy ON sy.vec_id = c.cand_id
         |  WHERE sx.side <> sy.side),
         |micro AS (SELECT *,
         |    CAST(round(cos * 1000000.0, 0) AS BIGINT) AS m FROM pc),
         |knn AS (
         |  SELECT query_id, CAST(sum(m) AS BIGINT) AS s,
         |    CAST(count(*) AS BIGINT) AS n
         |  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
         |      ORDER BY cos DESC, cand_id ASC) AS rn FROM micro)
         |  WHERE rn <= 3 GROUP BY 1),
         |marg AS (
         |  SELECT p.query_id, p.cand_id, p.sa, p.sb, p.cos,
         |    round(p.cos / (((CAST(ka.s AS DOUBLE) / ka.n
         |      + CAST(kb.s AS DOUBLE) / kb.n) / 2.0) / 1000000.0), 6) AS margin
         |  FROM micro p
         |  JOIN knn ka ON ka.query_id = p.query_id
         |  JOIN knn kb ON kb.query_id = p.cand_id),
         |best AS (
         |  SELECT query_id, cand_id, sa, sb, cos, margin,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY margin DESC, cand_id ASC) AS rn
         |  FROM marg)
         |SELECT x.query_id AS id_a, x.cand_id AS id_b, x.cos, x.margin
         |FROM best x JOIN best y
         |  ON y.rn = 1 AND x.query_id = y.cand_id AND x.cand_id = y.query_id
         |WHERE x.rn = 1 AND x.sa < x.sb""".stripMargin
    }),
    // label-free embedding outliers: 1 - (3rd-NN cosine) within the
    // vector's IVF cell - the q83 cell machinery, pointed at isolation
    Query("q327_knn_outliers", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.ivfKthNnOutliers(emb, "vec_id", "embedding",
        Similarity.recommendedCells(cachedCount(s, dir, "embeddings")(emb)), 2, 3,
        assignedGen = Some(kmeansAssigned(s, dir)))
    },
      // q327: the q83 within-cell scaffold, symmetrized, kth-cosine via
      // the same deterministic window; missing kth (cell too small) stays
      // NULL through the left join
      s"""$withinCellPairsPrefix,
         |sym AS (SELECT id_a AS id, id_b AS nbr, cos FROM pc
         |        UNION ALL SELECT id_b, id_a, cos FROM pc),
         |kth AS (SELECT id, cos AS kth_cos FROM (
         |    SELECT id, cos, row_number() OVER (PARTITION BY id
         |      ORDER BY cos DESC, nbr ASC) AS r FROM sym)
         |  WHERE r = 3),
         |sizes AS (SELECT cent_id AS cell, CAST(count(*) AS BIGINT)
         |    AS n_in_cell
         |  FROM a3 GROUP BY 1)
         |SELECT a3.vec_id, a3.cent_id AS cell, s.n_in_cell, k.kth_cos,
         |  round(1.0 - k.kth_cos, 6) AS outlier_score
         |FROM a3 JOIN sizes s ON a3.cent_id = s.cell
         |LEFT JOIN kth k ON a3.vec_id = k.id""".stripMargin),
    // GraphSAGE-style mean aggregation over the exact 3-NN cosine graph:
    // every vector's neighborhood-mean embedding (one message-passing
    // round as plain relational ops; q163's edge chain)
    Query("q208_neighbor_mean", (s, dir) => {
      val knn = Similarity.bruteForceTopK(
        t(s, dir, "embeddings"), "vec_id", "embedding", 3)
        .where(col("cos") > 0)
      graft.ops.Graph.neighborMeanEmbedding(knn, "query_id", "cand_id",
        t(s, dir, "embeddings"), "vec_id", "embedding")
    },
      // q208: the q163 edge chain + q91's aligned-unnest per-dim mean
      s"""WITH pc AS ($cosineSql),
         |k AS (SELECT query_id, cand_id, cos FROM pc
         |  QUALIFY row_number() OVER (PARTITION BY query_id
         |    ORDER BY cos DESC, cand_id ASC) <= 3),
         |e AS (SELECT query_id AS src, cand_id AS dst FROM k WHERE cos > 0),
         |m AS (SELECT e.src AS node,
         |    unnest(CAST(b.embedding AS DOUBLE[])) AS v,
         |    unnest(generate_series(0, len(b.embedding) - 1)) AS dim
         |  FROM e JOIN embeddings b ON e.dst = b.vec_id
         |  WHERE b.embedding IS NOT NULL)
         |SELECT node, CAST(count(*) AS BIGINT) AS degree,
         |  CAST(dim AS INTEGER) AS dim, round(avg(v), 6) AS mean_val
         |FROM m GROUP BY node, dim""".stripMargin),
    // per-node triangles + clustering coefficient over the 3-NN cosine
    // graph (similarity-graph QA: cliques of copies vs hub artifacts)
    Query("q182_triangle_stats", (s, dir) => {
      val knn = Similarity.bruteForceTopK(
        t(s, dir, "embeddings"), "vec_id", "embedding", 3)
        .where(col("cos") > 0)
      graft.ops.Graph.triangleStats(knn, "query_id", "cand_id")
    },
      // q182: same canonicalization, lowest-apex wedge join, and corner
      // fan-out over the exact 3-NN edges
      s"""WITH pc AS ($cosineSql),
         |k AS (SELECT query_id, cand_id, cos FROM pc
         |  QUALIFY row_number() OVER (PARTITION BY query_id
         |    ORDER BY cos DESC, cand_id ASC) <= 3),
         |e AS (SELECT query_id AS s, cand_id AS d FROM k WHERE cos > 0),
         |canon AS (SELECT DISTINCT least(s, d) AS a, greatest(s, d) AS b
         |  FROM e WHERE s <> d),
         |deg AS (SELECT node, count(*) AS degree FROM
         |  (SELECT a AS node FROM canon UNION ALL SELECT b FROM canon)
         |  GROUP BY 1),
         |tri AS (SELECT w1.a, w1.b AS b1, w2.b AS b2
         |  FROM canon w1 JOIN canon w2 ON w1.a = w2.a AND w1.b < w2.b
         |  JOIN canon c ON c.a = w1.b AND c.b = w2.b),
         |pn AS (SELECT node, count(*) AS triangles FROM
         |  (SELECT a AS node FROM tri UNION ALL SELECT b1 FROM tri
         |   UNION ALL SELECT b2 FROM tri) GROUP BY 1)
         |SELECT deg.node, CAST(deg.degree AS BIGINT) AS degree,
         |  CAST(coalesce(pn.triangles, 0) AS BIGINT) AS triangles,
         |  CASE WHEN deg.degree < 2 THEN 0.0
         |  ELSE round(2.0 * coalesce(pn.triangles, 0) /
         |    (deg.degree * (deg.degree - 1)), 6) END AS coeff
         |FROM deg LEFT JOIN pn ON deg.node = pn.node""".stripMargin)
  )
}
