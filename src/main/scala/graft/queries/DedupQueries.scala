package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ManifestRead

import graft.SparkEntry.{cachedCount, eligible, jacPairs05, lshPairs, t}
import graft.ops.{Dedup, TextStats}

import Shared._

/** Text deduplication via [[graft.ops.Dedup]] and [[graft.ops.Graph]]:
  * exact, n-gram Jaccard, MinHash-LSH and SimHash pairs, clusters and
  * survivors, curation composites and streaming dedup ingest. */
private[graft] object DedupQueries {
  private def eligibleDocs(s: SparkSession, dir: String): DataFrame = eligible(s, dir)._1
  private def lshPairsEligible(s: SparkSession, dir: String): DataFrame = eligible(s, dir)._2

  /** The exact-Jaccard self-join CTEs over a `sh(doc_id, shingle)` CTE:
    * `<pairs>(id_a, id_b, n_common)` and `sizes(doc_id, n_sh)`. */
  private def jaccardCtes(pairs: String = "pairs"): String =
    s"""$pairs AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
      |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1)""".stripMargin

  private def jaccardTailSql: String =
    s"""${jaccardCtes()}
      |SELECT p.id_a, p.id_b,
      |  CAST(p.n_common AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - p.n_common AS DOUBLE) AS jaccard
      |FROM pairs p JOIN sizes sa ON p.id_a = sa.doc_id JOIN sizes sb ON p.id_b = sb.doc_id
      |WHERE CAST(p.n_common AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - p.n_common AS DOUBLE) >= 0.5""".stripMargin

  /** One corpus↔batch MinHash+LSH verification chain as CTEs, every name
    * suffixed with `_$sfx` so several instantiations compose in one WITH
    * (q49 uses one; q110's two-batch incremental ingest uses two). The
    * final `vp_$sfx` CTE holds the verified pairs (jaccard ≥ `minJ`). */
  private def minhashCrossCtes(n: Int, bands: Int, rows: Int, minJ: Double,
                               corpusRel: String, batchRel: String,
                               sfx: String): String = {
    val h = bands * rows
    def sigCte(sh: String) = (0 until h)
      .map(i => s"min(md5('$i:' || shingle)) AS sig_$i").mkString(",\n    ") match {
        case cols => s"SELECT doc_id,\n    $cols\n  FROM $sh GROUP BY doc_id"
      }
    def bandCte(sigs: String) = (0 until bands).map { b =>
      val slots = (b * rows until b * rows + rows).map(r => s"sig_$r").mkString(", ")
      s"SELECT doc_id, $b AS band, md5(concat_ws('|', $slots)) AS bh FROM $sigs"
    }.mkString("\n  UNION ALL\n  ")
    s"""sh_c_$sfx AS (${shingleSql(n, corpusRel)}),
       |sh_b_$sfx AS (${shingleSql(n, batchRel)}),
       |sigs_c_$sfx AS (${sigCte(s"sh_c_$sfx")}),
       |sigs_b_$sfx AS (${sigCte(s"sh_b_$sfx")}),
       |banded_c_$sfx AS (
       |  ${bandCte(s"sigs_c_$sfx")}),
       |banded_b_$sfx AS (
       |  ${bandCte(s"sigs_b_$sfx")}),
       |cand_$sfx AS (
       |  SELECT DISTINCT c.doc_id AS id_a, b.doc_id AS id_b
       |  FROM banded_c_$sfx c JOIN banded_b_$sfx b ON c.band = b.band AND c.bh = b.bh),
       |pairs_$sfx AS (
       |  SELECT c.id_a, c.id_b, count(*) AS n_common
       |  FROM cand_$sfx c JOIN sh_c_$sfx a ON a.doc_id = c.id_a
       |              JOIN sh_b_$sfx b ON b.doc_id = c.id_b AND b.shingle = a.shingle
       |  GROUP BY 1, 2),
       |sizes_c_$sfx AS (SELECT doc_id, count(*) AS n_sh FROM sh_c_$sfx GROUP BY 1),
       |sizes_b_$sfx AS (SELECT doc_id, count(*) AS n_sh FROM sh_b_$sfx GROUP BY 1),
       |vp_$sfx AS (
       |  SELECT p.id_a, p.id_b,
       |    CAST(p.n_common AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - p.n_common AS DOUBLE) AS jaccard
       |  FROM pairs_$sfx p JOIN sizes_c_$sfx sa ON p.id_a = sa.doc_id
       |                    JOIN sizes_b_$sfx sb ON p.id_b = sb.doc_id
       |  WHERE CAST(p.n_common AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - p.n_common AS DOUBLE) >= $minJ)""".stripMargin
  }

  /** Batch-vs-corpus MinHash+LSH oracle (q49): the same signature/banding
    * chain as [[minhashCtes]] built per side, candidates = corpus-band ⋈
    * batch-band only. */
  private def minhashCrossSql(n: Int, bands: Int, rows: Int): String =
    s"""WITH corpus AS (SELECT * FROM documents WHERE doc_id % 2 = 0),
       |batch AS (SELECT * FROM documents WHERE doc_id % 2 = 1),
       |${minhashCrossCtes(n, bands, rows, 0.5, "corpus", "batch", "x")}
       |SELECT id_a AS corpus_id, id_b AS batch_id, jaccard FROM vp_x""".stripMargin

  /** MinHash+LSH oracle: md5-based signatures, banded, verified. */
  private def minhashSql(n: Int, bands: Int, rows: Int): String =
    s"""WITH ${minhashCtes(n, bands, rows)}
       |SELECT p.id_a, p.id_b,
       |  CAST(p.n_common AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - p.n_common AS DOUBLE) AS jaccard
       |FROM pairs p JOIN sizes sa ON p.id_a = sa.doc_id JOIN sizes sb ON p.id_b = sb.doc_id
       |WHERE CAST(p.n_common AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - p.n_common AS DOUBLE) >= 0.5""".stripMargin

  /** Shared recursive-CTE chain: near-dup pairs → transitive closure →
    * per-doc min-reachable cluster id, as CTE `assign(doc_id, cluster_id)`.
    * q33 selects the assignment; q35 the surviving representatives. */
  private def clusterChainSql: String =
    s"""WITH RECURSIVE sh AS (${shingleSql(3)}),
       |${jaccardCtes()},
       |jpairs AS (
       |  SELECT p.id_a, p.id_b
       |  FROM pairs p JOIN sizes sa ON p.id_a = sa.doc_id JOIN sizes sb ON p.id_b = sb.doc_id
       |  WHERE CAST(p.n_common AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - p.n_common AS DOUBLE) >= 0.5),
       |${closureTailSql()}""".stripMargin

  /** 16-bit md5-nibble SimHash oracle. */
  private def simhashSql: String = {
    val votes = (0 until 16).map(i =>
      s"sum(CASE WHEN substr(h, ${i + 1}, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS v_$i")
      .mkString(",\n    ")
    val sig = (0 until 16).map(i =>
      s"CASE WHEN v_$i > 0 THEN CAST(${1L << i} AS BIGINT) ELSE CAST(0 AS BIGINT) END")
      .mkString(" + ")
    s"""WITH tok AS (
       |  SELECT doc_id, md5(unnest(string_split(text, ' '))) AS h FROM documents),
       |votes AS (SELECT doc_id,
       |    $votes
       |  FROM tok GROUP BY doc_id)
       |SELECT doc_id, $sig AS simhash16 FROM votes""".stripMargin
  }

  /** q53 oracle: language filter ∘ quality filter ∘ near-dup removal — the
    * q27 lang CASE and q28 quality CASE rebuilt as CTEs, then the q43
    * MinHash+LSH/closure chain over the ELIGIBLE docs only (the Spark side
    * runs the banded pair generator, so the oracle mirrors it exactly). */
  private def corpusCurationSql: String =
    s"""$curationCtes
       |SELECT doc_id FROM assign WHERE cluster_id = doc_id""".stripMargin

  /** Shared CTE chain of the corpus-curation composite (q53), up to and
    * including `assign` — q221 extends it with the packing tail. */
  private def curationCtes: String = {
    val qualityCase = qualityCaseSql
    s"""WITH RECURSIVE lang AS (
       |SELECT doc_id,
       |  $langScoreSql,
       |  CASE
       |    WHEN score_en >= greatest(score_en, score_de, score_es, score_fr, score_zh) THEN 'en'
       |    WHEN score_de >= greatest(score_en, score_de, score_es, score_fr, score_zh) THEN 'de'
       |    WHEN score_es >= greatest(score_en, score_de, score_es, score_fr, score_zh) THEN 'es'
       |    WHEN score_fr >= greatest(score_en, score_de, score_es, score_fr, score_zh) THEN 'fr'
       |    ELSE 'zh' END AS detected_lang
       |FROM documents),
       |qual AS (SELECT doc_id, $qualityCase AS quality FROM documents),
       |eligible AS (
       |  SELECT d.doc_id, d.text FROM documents d
       |  JOIN lang l ON l.doc_id = d.doc_id
       |  JOIN qual q ON q.doc_id = d.doc_id
       |  WHERE l.detected_lang = 'en' AND q.quality <> 'low'),
       |${minhashCtes(3, 4, 3, "eligible")},
       |jpairs AS (
       |  SELECT p.id_a, p.id_b
       |  FROM pairs p JOIN sizes sa ON p.id_a = sa.doc_id JOIN sizes sb ON p.id_b = sb.doc_id
       |  WHERE CAST(p.n_common AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - p.n_common AS DOUBLE) >= 0.5),
       |${closureTailSql("eligible")}""".stripMargin
  }

  val all: Seq[Query] = Seq(
    Query("q20_dedup_exact", (s, dir) =>
      Dedup.exact(t(s, dir, "documents").select(md5(col("text")).as("text_md5"),
        col("doc_id")), Seq("text_md5"), "doc_id"),
      """SELECT md5(text) AS text_md5, MIN(doc_id) AS kept_id, COUNT(*) AS n_copies
        |FROM documents GROUP BY 1""".stripMargin),
    Query("q21_dedup_ngram_jaccard", (s, dir) => jacPairs05(s, dir),
      s"""WITH sh AS (${shingleSql(3)}),
         |$jaccardTailSql""".stripMargin),
    Query("q22_dedup_minhash_lsh", (s, dir) => lshPairs(s, dir),
      minhashSql(3, 4, 3)),
    Query("q23_dedup_simhash", (s, dir) =>
      Dedup.simHash16(t(s, dir, "documents"), "doc_id", "text"),
      simhashSql),
    Query("q33_dedup_clusters", (s, dir) => {
      val docs = graft.core.Tables.tableRebalanced(s, dir, "documents")
      Dedup.clusters(jacPairs05(s, dir),
        "id_a", "id_b", docs.select("doc_id"), "doc_id")
    },
      s"""$clusterChainSql
         |SELECT doc_id, cluster_id FROM assign""".stripMargin),
    Query("q35_dedup_drop", (s, dir) =>
      Dedup.dropNearDuplicates(
        graft.core.Tables.tableRebalanced(s, dir, "documents"),
        "doc_id", "text", 3, 0.5, pairGen = Some(jacPairs05(s, dir))),
      s"""$clusterChainSql
         |SELECT doc_id FROM assign WHERE cluster_id = doc_id""".stripMargin),
    // the 100 TB dedup path end-to-end: LSH candidate pairs (no all-pairs
    // stage) -> components -> representatives, oracle-checked as a whole
    Query("q43_dedup_drop_lsh", (s, dir) => {
      val docs = graft.core.Tables.tableRebalanced(s, dir, "documents")
      Dedup.dropNearDuplicates(docs, "doc_id", "text", 3, 0.5,
        pairGen = Some(lshPairs(s, dir)))
    },
      s"""WITH RECURSIVE ${minhashCtes(3, 4, 3)},
         |jpairs AS (
         |  SELECT p.id_a, p.id_b
         |  FROM pairs p JOIN sizes sa ON p.id_a = sa.doc_id JOIN sizes sb ON p.id_b = sb.doc_id
         |  WHERE CAST(p.n_common AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - p.n_common AS DOUBLE) >= 0.5),
         |${closureTailSql()}
         |SELECT doc_id FROM assign WHERE cluster_id = doc_id""".stripMargin),
    // ingestion-time dedup: the new batch (odd ids) checked against the
    // standing corpus (even ids) — corpus×corpus pairs are never generated
    Query("q49_incremental_dedup", (s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.minHashLshPairsAcross(
        docs.where(col("doc_id") % 2 === 0), docs.where(col("doc_id") % 2 === 1),
        "doc_id", "text", 3, 4, 3, 0.5)
    },
      minhashCrossSql(3, 4, 3)),
    // dedup audit: every dropped doc with the representative that kept it
    // out (the "why did my document disappear" report)
    Query("q71_dedup_audit", (s, dir) =>
      Dedup.nearDuplicateAudit(
        graft.core.Tables.tableRebalanced(s, dir, "documents"),
        "doc_id", "text", 3, 0.5, pairGen = Some(jacPairs05(s, dir))),
      s"""$clusterChainSql
         |SELECT doc_id AS dropped_id, cluster_id AS kept_id
         |FROM assign WHERE doc_id <> cluster_id""".stripMargin),
    // cross-source shingle-overlap matrix (containment coefficient)
    Query("q82_source_overlap", (s, dir) =>
      Dedup.sourceOverlap(
        graft.core.Tables.tableRebalanced(s, dir, "documents"),
        "source", "text", 3, exact = true),
      """WITH sh AS (
        |  SELECT DISTINCT src, shingle FROM (
        |    SELECT source AS src, unnest(list_distinct(list_transform(
        |      generate_series(1, len(ts) - 2),
        |      i -> array_to_string(ts[i:i+2], ' ')))) AS shingle
        |    FROM (SELECT source, string_split(text, ' ') AS ts FROM documents))),
        |sizes AS (SELECT src, CAST(count(*) AS BIGINT) AS n_sh FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT a.src AS src_a, b.src AS src_b, CAST(count(*) AS BIGINT) AS n_common
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.src < b.src
        |  GROUP BY 1, 2)
        |SELECT i.src_a, i.src_b, i.n_common, sa.n_sh AS n_a, sb.n_sh AS n_b,
        |  CAST(i.n_common AS DOUBLE) / least(sa.n_sh, sb.n_sh) AS containment
        |FROM inter i JOIN sizes sa ON i.src_a = sa.src
        |JOIN sizes sb ON i.src_b = sb.src""".stripMargin),
    // near-dup clusters keeping the LONGEST member (curation policy), not
    // the smallest id — per-cluster arg-max via max_by, no window sort
    Query("q95_cluster_best_rep", (s, dir) =>
      Dedup.bestRepresentatives(
        graft.core.Tables.tableRebalanced(s, dir, "documents")
          .select("doc_id", "text"), "doc_id", "text", 3, 0.5,
        pairGen = Some(jacPairs05(s, dir))),
      s"""$clusterChainSql,
         |scored AS (SELECT a.cluster_id, a.doc_id, length(d.text) AS len
         |           FROM assign a JOIN documents d ON a.doc_id = d.doc_id),
         |best AS (SELECT cluster_id, doc_id,
         |           row_number() OVER (PARTITION BY cluster_id
         |             ORDER BY len DESC, doc_id ASC) AS rn
         |         FROM scored),
         |stats AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members,
         |            CAST(max(len) AS INTEGER) AS rep_len FROM scored GROUP BY 1)
         |SELECT s.cluster_id, b.doc_id AS rep_id, s.n_members, s.rep_len
         |FROM stats s JOIN best b ON s.cluster_id = b.cluster_id AND b.rn = 1""".stripMargin),
    // train/eval split-leakage audit: per held-out doc, the share of its
    // 3-grams that also appear in the train split
    Query("q96_split_leakage", (s, dir) =>
      Dedup.splitLeakage(
        t(s, dir, "documents").select("doc_id", "text"), "doc_id", "text", 3, 90, 0.5),
      s"""WITH sh AS (${shingleSql(3)}),
         |b AS (SELECT doc_id, shingle, ${md5BucketSql("doc_id")} < 90 AS train FROM sh),
         |tg AS (SELECT DISTINCT shingle FROM b WHERE train),
         |held AS (SELECT doc_id, shingle FROM b WHERE NOT train),
         |tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams FROM held GROUP BY 1),
         |lk AS (SELECT h.doc_id, CAST(count(*) AS BIGINT) AS n_leaked
         |       FROM held h JOIN tg USING (shingle) GROUP BY 1)
         |SELECT t.doc_id, t.n_grams,
         |  coalesce(l.n_leaked, CAST(0 AS BIGINT)) AS n_leaked,
         |  round(CAST(coalesce(l.n_leaked, 0) AS DOUBLE) / CAST(t.n_grams AS DOUBLE), 6) AS leak_ratio,
         |  round(CAST(coalesce(l.n_leaked, 0) AS DOUBLE) / CAST(t.n_grams AS DOUBLE), 6) >= 0.5 AS leaky
         |FROM tot t LEFT JOIN lk l ON t.doc_id = l.doc_id""".stripMargin),
    // per-doc n-gram novelty: share of 3-grams appearing in no other doc
    // (inverse boilerplate / memorization-risk signal)
    Query("q102_novelty", (s, dir) =>
      Dedup.ngramNovelty(
        t(s, dir, "documents").select("doc_id", "text"), "doc_id", "text", 3),
      s"""WITH sh AS (${shingleSql(3)}),
         |dfc AS (SELECT shingle, CAST(count(*) AS BIGINT) AS dfn FROM sh GROUP BY 1)
         |SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
         |  CAST(sum(CASE WHEN d.dfn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
         |  round(CAST(sum(CASE WHEN d.dfn = 1 THEN 1 ELSE 0 END) AS DOUBLE)
         |    / CAST(count(*) AS DOUBLE), 6) AS novelty
         |FROM sh s JOIN dfc d ON s.shingle = d.shingle
         |GROUP BY s.doc_id""".stripMargin),
    // corpus version diff: old drops %11 ids, new drops %5 ids, edits %3
    // texts, and re-keys %13 docs under shifted ids - the release-notes
    // mart (added/removed/changed + id-churn-vs-data-churn audit)
    Query("q339_corpus_diff", (s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val old = docs.where(col("doc_id") % 11 =!= 0)
      val edited = docs.where(col("doc_id") % 5 =!= 0)
        .withColumn("text", when(col("doc_id") % 3 === 0,
          concat(lit("edited "), col("text"))).otherwise(col("text")))
      val rekeyed = docs.where(col("doc_id") % 13 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      Dedup.corpusDiff(old, edited.unionByName(rekeyed), "doc_id", "text")
    },
      // q339: the same %-derived old/new snapshots, id-keyed full outer on
      // content hashes, rekey audit via distinct-hash membership
      """WITH o AS (SELECT doc_id AS id, md5(coalesce(text, '')) AS h
        |  FROM documents WHERE doc_id % 11 <> 0),
        |base_new AS (
        |  SELECT doc_id AS id,
        |    CASE WHEN doc_id % 3 = 0 THEN 'edited ' || text ELSE text END
        |      AS text
        |  FROM documents WHERE doc_id % 5 <> 0
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS id, text FROM documents
        |  WHERE doc_id % 13 = 0),
        |n AS (SELECT id, md5(coalesce(text, '')) AS h FROM base_new),
        |j AS (SELECT o.h AS ho, n.h AS hn
        |  FROM o FULL OUTER JOIN n ON o.id = n.id),
        |st AS (SELECT CASE WHEN ho IS NULL THEN 'added'
        |    WHEN hn IS NULL THEN 'removed'
        |    WHEN ho = hn THEN 'unchanged' ELSE 'changed' END AS status,
        |    ho, hn FROM j),
        |oh AS (SELECT DISTINCT h FROM o),
        |nh AS (SELECT DISTINCT h FROM n)
        |SELECT status, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(coalesce(sum(CASE
        |    WHEN status = 'added' AND hn IN (SELECT h FROM oh) THEN 1
        |    WHEN status = 'removed' AND ho IN (SELECT h FROM nh) THEN 1
        |    ELSE 0 END), 0) AS BIGINT) AS n_content_rekeyed
        |FROM st GROUP BY 1""".stripMargin),
    // the full curation pipeline a training run executes, composed
    // end-to-end: language filter ∘ quality filter ∘ near-dup removal.
    // Both filters are pure scan-stage Columns, so eligibility is ONE pass
    // over `documents` — no per-filter join back on the id (round 3: the
    // join form shuffled the whole corpus twice) — and the pair generator
    // is the banded MinHash+LSH path, so the flagship composite runs the
    // same plan shape it would at 100 TB.
    Query("q53_corpus_curation", (s, dir) => {
      // persisted: the LSH band self-join, the verify arrays, and the
      // cluster id list all consume `eligible` — uncached, each would
      // re-run the (expensive) language/quality scan over the full corpus.
      // tableRebalanced: a one-file corpus drop is ONE scan partition,
      // which would run the lang/quality/MinHash kernels on a single core;
      // a corpus-scale scan passes through with no added shuffle
      Dedup.dropNearDuplicates(eligibleDocs(s, dir), "doc_id", "text", 3, 0.5,
        pairGen = Some(lshPairsEligible(s, dir)))
    },
      corpusCurationSql),
    // duplication-count weights: each dedup survivor with its cluster's
    // multiplicity (same pair machinery as q35/q71)
    // duplication-count training weights over the BANDED LSH pair path —
    // the q35/q43 split: the benched entry plans the 100 TB shape (the
    // exact Σdf² generator stays reachable for the q35 oracle twin)
    Query("q141_dup_weights", (s, dir) => {
      val docs = graft.core.Tables.tableRebalanced(s, dir, "documents")
      Dedup.duplicationWeights(docs, "doc_id", "text", 3, 0.5,
        pairGen = Some(lshPairs(s, dir)))
    },
      // q141: survivor multiplicities off the shared cluster-closure chain
      // q141: the q43 LSH chain (banded candidates, exact-Jaccard verify,
      // recursive closure), then one count per cluster representative
      s"""WITH RECURSIVE ${minhashCtes(3, 4, 3)},
         |jpairs AS (
         |  SELECT p.id_a, p.id_b
         |  FROM pairs p JOIN sizes sa ON p.id_a = sa.doc_id JOIN sizes sb ON p.id_b = sb.doc_id
         |  WHERE CAST(p.n_common AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - p.n_common AS DOUBLE) >= 0.5),
         |${closureTailSql()}
         |SELECT cluster_id AS doc_id, count(*) AS weight
         |FROM assign GROUP BY 1""".stripMargin),
    // span-level exact-duplicate detection: maximal token spans whose every
    // 3-gram occurs ≥2 times corpus-wide — the exact-substring-dedup
    // primitive (document-level near-dup keeps both copies of a page that
    // merely shares a boilerplate paragraph; this finds the paragraph)
    Query("q114_repeated_spans", (s, dir) =>
      Dedup.repeatedSpans(
        graft.core.Tables.tableRebalanced(s, dir, "documents")
          .select("doc_id", "text"), "doc_id", "text", 3),
      // q114: positional 3-grams (WITH multiplicity — no list_distinct, a
      // within-doc repeat is still a repeat), corpus occurrence counts,
      // gaps-and-islands merge of consecutive duplicated positions
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        |grams AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
        |    array_to_string(ts[i:i+2], ' ') AS gram
        |  FROM toks, unnest(generate_series(1, len(ts) - 2)) AS u(i)),
        |dup AS (SELECT gram FROM grams GROUP BY gram HAVING count(*) >= 2),
        |hits AS (SELECT g.doc_id, g.pos FROM grams g JOIN dup USING (gram)),
        |isl AS (SELECT doc_id, pos,
        |  pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        |  FROM hits)
        |SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
        |  CAST(count(*) + 2 AS BIGINT) AS span_tokens
        |FROM isl GROUP BY doc_id, grp""".stripMargin),
    // the removal step over the same spans: splice out every token covered
    // by a corpus-repeated 3-gram, keep full cardinality (n_dropped = 0 for
    // untouched docs, clean_text = '' for fully-boilerplate ones)
    Query("q115_remove_repeated_spans", (s, dir) =>
      Dedup.removeRepeatedSpans(
        graft.core.Tables.tableRebalanced(s, dir, "documents")
          .select("doc_id", "text"), "doc_id", "text", 3),
      // q115: expand duplicated gram starts to covered token positions,
      // splice survivors back in order; LEFT joins keep full cardinality
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        |grams AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
        |    array_to_string(ts[i:i+2], ' ') AS gram
        |  FROM toks, unnest(generate_series(1, len(ts) - 2)) AS u(i)),
        |dup AS (SELECT gram FROM grams GROUP BY gram HAVING count(*) >= 2),
        |hits AS (SELECT g.doc_id, g.pos FROM grams g JOIN dup USING (gram)),
        |cov AS (SELECT DISTINCT doc_id, pos + o AS p
        |  FROM hits, unnest(generate_series(0, 2)) AS v(o)),
        |tok AS (SELECT doc_id, CAST(i AS BIGINT) AS p, ts[i] AS tk
        |  FROM toks, unnest(generate_series(1, len(ts))) AS w(i)),
        |cl AS (
        |  SELECT tok.doc_id,
        |    string_agg(tok.tk, ' ' ORDER BY tok.p) FILTER (WHERE cov.p IS NULL) AS ct,
        |    count(*) FILTER (WHERE cov.p IS NOT NULL) AS nd
        |  FROM tok LEFT JOIN cov ON tok.doc_id = cov.doc_id AND tok.p = cov.p
        |  GROUP BY tok.doc_id)
        |SELECT d.doc_id, coalesce(cl.ct, '') AS clean_text,
        |  CAST(coalesce(cl.nd, 0) AS BIGINT) AS n_dropped
        |FROM documents d LEFT JOIN cl USING (doc_id)""".stripMargin),
    // the TEXT GATE'S JACCARD FLOOR priced the way the verify radius was
    // (VERDICT r10 task 6): ONE banded candidate pass over the q110
    // corpus/batch split (MinHash 4×3, unthresholded verify), then pairs
    // kept and DISTINCT batch rows dropped per candidate floor — the
    // gate's 0.5 operating point flagged as the chosen row. A drifting
    // floor (or drifting pair density under it) is a hash mismatch
    Query("q372_text_threshold_sweep", (s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      val corpus = docs.where(col("doc_id") % 2 === 0).select("doc_id", "text")
      val batch = docs.where(pmod(col("doc_id"), lit(4)) === 1)
        .select("doc_id", "text")
      val cand = graft.core.CacheRegistry.persist(
        Dedup.minHashLshPairsAcross(corpus, batch, "doc_id", "text",
          3, 4, 3, 0.0))
      val grid = Seq(0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9).toDF("threshold")
      grid.join(cand, col("jaccard") >= col("threshold"), "left")
        .groupBy("threshold")
        .agg(count(col("jaccard")).as("n_pairs"),
          countDistinct(col("batch_id")).as("n_dropped"))
        .select(col("threshold"), col("n_pairs"), col("n_dropped"),
          (col("threshold") === lit(0.5)).as("chosen"))
    },
      // q372: the text gate's Jaccard floor priced — the q110 banded
      // corpus↔batch chain UNthresholded (minJ = 0), then pair / dropped-row
      // counts per grid floor; the 0.5 operating point flagged
      s"""WITH corpus AS (SELECT * FROM documents WHERE doc_id % 2 = 0),
         |batch AS (SELECT * FROM documents WHERE doc_id % 4 = 1),
         |${minhashCrossCtes(3, 4, 3, 0.0, "corpus", "batch", "x")},
         |grid(threshold) AS (VALUES (0.2), (0.3), (0.4), (0.5), (0.6), (0.7), (0.8), (0.9))
         |SELECT CAST(g.threshold AS DOUBLE) AS threshold,
         |  CAST(count(v.jaccard) AS BIGINT) AS n_pairs,
         |  CAST(count(DISTINCT v.id_b) AS BIGINT) AS n_dropped,
         |  CAST(g.threshold AS DOUBLE) = 0.5 AS chosen
         |FROM grid g LEFT JOIN vp_x v ON v.jaccard >= CAST(g.threshold AS DOUBLE)
         |GROUP BY 1""".stripMargin),
    // directional containment pairs: short docs covered ≥80% by another
    // doc's shingles — the quote/excerpt detector Jaccard misses
    Query("q191_containment_pairs", (s, dir) =>
      Dedup.containmentPairs(
        t(s, dir, "documents").select("doc_id", "text"), "doc_id", "text",
        3, 0.8, 80),
      // q191: the same asymmetric probe — short-doc shingles joined
      // against the corpus table, containment on the short side's size
      {
      s"""WITH sh AS (${shingleSql(3)}),
         |shorts AS (SELECT doc_id FROM documents
         |  WHERE len(string_split(text, ' ')) <= 80),
         |a AS (SELECT sh.doc_id AS contained_id, shingle
         |  FROM sh JOIN shorts USING (doc_id)),
         |sizes AS (SELECT contained_id, count(*) AS na FROM a GROUP BY 1),
         |common AS (SELECT a.contained_id, sh.doc_id AS container_id,
         |    count(*) AS n_common
         |  FROM a JOIN sh ON a.shingle = sh.shingle
         |    AND a.contained_id <> sh.doc_id
         |  GROUP BY 1, 2)
         |SELECT contained_id, container_id,
         |  round(CAST(n_common AS DOUBLE) / na, 6) AS containment
         |FROM common JOIN sizes USING (contained_id)
         |WHERE round(CAST(n_common AS DOUBLE) / na, 6) >= 0.8""".stripMargin
    }),
    // MinHash estimator-error contract: per verified candidate pair, the
    // signature-agreement estimate pinned inside the 5-sigma Bernoulli
    // band around exact Jaccard (q217 checks recall; this checks the
    // ESTIMATE itself — a salt/slot bug flips `within` on real pairs)
    Query("q238_minhash_bound", (s, dir) =>
      Dedup.minHashEstimateContract(
        t(s, dir, "documents").select("doc_id", "text"),
        "doc_id", "text", 3, 4, 3, 0.2),
      // q238: the q22 signature/banding chain replayed; est, bound, and the
      // comparison rebuilt with identical IEEE shapes (1/h interpolated from
      // the SAME Scala double — a bare 1.0/12.0 is DECIMAL division here)
      {
      val h = 12
      val invH = 1.0 / h
      val matchSum = (0 until h)
        .map(i => s"CASE WHEN a.sig_$i = b.sig_$i THEN 1 ELSE 0 END")
        .mkString(" + ")
      s"""WITH ${minhashCtes(3, 4, 3)},
         |jm AS (SELECT p.id_a, p.id_b,
         |    CAST(p.n_common AS DOUBLE)
         |      / CAST(sa.n_sh + sb.n_sh - p.n_common AS DOUBLE) AS jaccard
         |  FROM pairs p JOIN sizes sa ON p.id_a = sa.doc_id
         |               JOIN sizes sb ON p.id_b = sb.doc_id
         |  WHERE CAST(p.n_common AS DOUBLE)
         |    / CAST(sa.n_sh + sb.n_sh - p.n_common AS DOUBLE) >= 0.2),
         |mm AS (SELECT c.id_a, c.id_b, $matchSum AS n_matches
         |  FROM cand c JOIN sigs a ON a.doc_id = c.id_a
         |              JOIN sigs b ON b.doc_id = c.id_b)
         |SELECT j.id_a, j.id_b, CAST(m.n_matches AS BIGINT) AS n_matches,
         |  CAST(m.n_matches AS DOUBLE) / CAST($h.0 AS DOUBLE) AS est,
         |  j.jaccard,
         |  5.0 * sqrt(j.jaccard * (1.0 - j.jaccard)
         |    / CAST($h.0 AS DOUBLE)) + $invH AS bound,
         |  abs(CAST(m.n_matches AS DOUBLE) / CAST($h.0 AS DOUBLE) - j.jaccard)
         |    <= 5.0 * sqrt(j.jaccard * (1.0 - j.jaccard)
         |      / CAST($h.0 AS DOUBLE)) + $invH AS within
         |FROM jm j JOIN mm m ON m.id_a = j.id_a AND m.id_b = j.id_b""".stripMargin
    }),
    // dedup savings: what the LSH drop actually buys per source, in
    // documents AND tokens - the curation run's budget line
    Query("q262_dedup_savings", (s, dir) => {
      val docs = graft.core.Tables.tableRebalanced(s, dir, "documents")
      val kept = Dedup.dropNearDuplicates(docs, "doc_id", "text", 3, 0.5,
        pairGen = Some(lshPairs(s, dir)))
      Dedup.dedupSavings(docs, kept, "doc_id", "text", "source")
    },
      // q262: q43's LSH keep chain, then flag-and-aggregate per source
      // (no source-key join, so null sources and emptied sources fall out)
      s"""WITH RECURSIVE ${minhashCtes(3, 4, 3)},
         |jpairs AS (
         |  SELECT p.id_a, p.id_b
         |  FROM pairs p JOIN sizes sa ON p.id_a = sa.doc_id
         |    JOIN sizes sb ON p.id_b = sb.doc_id
         |  WHERE CAST(p.n_common AS DOUBLE)
         |    / CAST(sa.n_sh + sb.n_sh - p.n_common AS DOUBLE) >= 0.5),
         |${closureTailSql()},
         |keep AS (SELECT doc_id FROM assign WHERE cluster_id = doc_id),
         |d AS (SELECT doc_id, source,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS tok
         |  FROM documents),
         |f AS (SELECT d.source, d.tok,
         |    CASE WHEN k.doc_id IS NOT NULL THEN 1 ELSE 0 END AS kept
         |  FROM d LEFT JOIN keep k ON d.doc_id = k.doc_id)
         |SELECT source, CAST(count(*) AS BIGINT) AS docs_before,
         |  CAST(sum(kept) AS BIGINT) AS docs_after,
         |  CAST(sum(tok) AS BIGINT) AS tokens_before,
         |  CAST(sum(CASE WHEN kept = 1 THEN tok ELSE 0 END) AS BIGINT)
         |    AS tokens_after,
         |  round(CAST(count(*) - sum(kept) AS DOUBLE)
         |    / CAST(count(*) AS DOUBLE), 6) AS doc_drop_rate,
         |  round(CAST(sum(tok) - sum(CASE WHEN kept = 1 THEN tok ELSE 0 END)
         |      AS DOUBLE)
         |    / CAST(sum(tok) AS DOUBLE), 6) AS token_drop_rate
         |FROM f GROUP BY 1""".stripMargin),
    // is duplication within-source or cross-source? Newman modularity of
    // the LSH near-dup pair graph under the source partition
    Query("q323_dup_modularity", (s, dir) => {
      val docs = graft.core.Tables.tableRebalanced(s, dir, "documents")
      graft.ops.Graph.modularity(lshPairs(s, dir),
        "id_a", "id_b", docs.select("doc_id", "source"), "doc_id", "source")
    },
      // q323: the q22 LSH pair replay feeds the edge list; every count is
      // an exact LONG and each cell's Q term is two mirrored divisions
      s"""WITH ${minhashCtes(3, 4, 3)},
         |ep AS (SELECT p.id_a, p.id_b FROM pairs p
         |  JOIN sizes sa ON p.id_a = sa.doc_id
         |  JOIN sizes sb ON p.id_b = sb.doc_id
         |  WHERE CAST(p.n_common AS DOUBLE)
         |    / CAST(sa.n_sh + sb.n_sh - p.n_common AS DOUBLE) >= 0.5),
         |canon AS (SELECT DISTINCT least(id_a, id_b) AS a,
         |    greatest(id_a, id_b) AS b FROM ep WHERE id_a <> id_b),
         |tagged AS (SELECT cc.a, cc.b,
         |    coalesce(da.source, '__node:' || cc.a) AS ca,
         |    coalesce(db.source, '__node:' || cc.b) AS cb
         |  FROM canon cc LEFT JOIN documents da ON cc.a = da.doc_id
         |  LEFT JOIN documents db ON cc.b = db.doc_id),
         |m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM tagged),
         |wth AS (SELECT ca AS c, CAST(count(*) AS BIGINT) AS within_edges
         |  FROM tagged WHERE ca IS NOT DISTINCT FROM cb GROUP BY 1),
         |deg AS (SELECT c, CAST(count(*) AS BIGINT) AS degree_sum,
         |    CAST(count(DISTINCT node) AS BIGINT) AS n_nodes
         |  FROM (SELECT a AS node, ca AS c FROM tagged
         |        UNION ALL SELECT b, cb FROM tagged) GROUP BY 1),
         |cells AS (SELECT deg.c AS community, n_nodes, degree_sum,
         |    coalesce(w.within_edges, 0) AS within_edges,
         |    round(CAST(coalesce(w.within_edges, 0) AS DOUBLE)
         |        / CAST(m.m AS DOUBLE)
         |      - (CAST(degree_sum AS DOUBLE) / (2.0 * CAST(m.m AS DOUBLE)))
         |        * (CAST(degree_sum AS DOUBLE) / (2.0 * CAST(m.m AS DOUBLE))),
         |      6) AS q_contrib
         |  FROM deg LEFT JOIN wth w ON deg.c IS NOT DISTINCT FROM w.c
         |  CROSS JOIN m)
         |SELECT cells.*, t.modularity FROM cells CROSS JOIN
         |  (SELECT round(sum(q_contrib), 6) AS modularity FROM cells) t"""
        .stripMargin),
    // which Jaccard cut to dedup at: one pair table generated at 0.1,
    // swept across the whole threshold grid as a broadcast re-filter
    Query("q329_threshold_sweep", (s, dir) => {
      val docs = graft.core.Tables.tableRebalanced(s, dir, "documents")
      Dedup.thresholdSweep(
        Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.1),
        "id_a", "id_b", "jaccard",
        Seq(0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9))
    },
      // q329: one exact pair table at the floor threshold, the grid
      // re-filter and both counts mirrored
      {
      val gridSql = Seq(0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9)
        .map(t => s"CAST($t AS DOUBLE)").mkString(", ")
      s"""WITH sh AS (${shingleSql(3)}),
         |${jaccardCtes()},
         |jf AS (SELECT p.id_a, p.id_b,
         |    CAST(p.n_common AS DOUBLE)
         |      / CAST(sa.n_sh + sb.n_sh - p.n_common AS DOUBLE) AS j
         |  FROM pairs p JOIN sizes sa ON p.id_a = sa.doc_id
         |  JOIN sizes sb ON p.id_b = sb.doc_id
         |  WHERE CAST(p.n_common AS DOUBLE)
         |    / CAST(sa.n_sh + sb.n_sh - p.n_common AS DOUBLE) >= 0.1),
         |g AS (SELECT unnest([$gridSql]) AS threshold),
         |k AS (SELECT g.threshold, jf.id_a, jf.id_b
         |  FROM g JOIN jf ON jf.j >= g.threshold),
         |pc AS (SELECT threshold, CAST(count(*) AS BIGINT) AS pairs_kept
         |  FROM k GROUP BY 1),
         |dc AS (SELECT threshold, CAST(count(DISTINCT d) AS BIGINT)
         |    AS docs_involved
         |  FROM (SELECT threshold, id_a AS d FROM k
         |        UNION ALL SELECT threshold, id_b AS d FROM k) GROUP BY 1)
         |SELECT g.threshold, coalesce(pc.pairs_kept, 0) AS pairs_kept,
         |  coalesce(dc.docs_involved, 0) AS docs_involved
         |FROM g LEFT JOIN pc ON g.threshold = pc.threshold
         |LEFT JOIN dc ON g.threshold = dc.threshold""".stripMargin
    }),
    // dup-graph 2-core: two bounded peels separate dense duplication
    // cores from pendant chains (q33's components can't tell them apart)
    Query("q250_kcore_peel", (s, dir) => {
      graft.ops.Graph.kCorePeel(jacPairs05(s, dir), "id_a", "id_b", 2, 2)
    },
      // q215: the q214 training chain + the same 5 folds nested in
      // training order over every document's words (level-unique lambda
      // names keep DuckDB scoping unambiguous)
      // q250: the exact verified-pair edges (q21's CTEs), symmetrized,
      // then two unrolled peel rounds - degree aggs + keep-set joins
      s"""WITH sh AS (${shingleSql(3)}),
         |${jaccardCtes("pr")},
         |vp AS (SELECT p.id_a, p.id_b
         |  FROM pr p JOIN sizes sa ON p.id_a = sa.doc_id
         |    JOIN sizes sb ON p.id_b = sb.doc_id
         |  WHERE CAST(p.n_common AS DOUBLE)
         |    / CAST(sa.n_sh + sb.n_sh - p.n_common AS DOUBLE) >= 0.5),
         |e0 AS (SELECT id_a AS a, id_b AS b FROM vp WHERE id_a <> id_b
         |  UNION SELECT id_b, id_a FROM vp WHERE id_a <> id_b),
         |d1 AS (SELECT a, count(*) AS deg FROM e0 GROUP BY 1),
         |k1 AS (SELECT a FROM d1 WHERE deg >= 2),
         |e1 AS (SELECT e.a, e.b FROM e0 e JOIN k1 x ON e.a = x.a
         |  JOIN k1 y ON e.b = y.a),
         |d2 AS (SELECT a, count(*) AS deg FROM e1 GROUP BY 1),
         |k2 AS (SELECT a FROM d2 WHERE deg >= 2),
         |e2 AS (SELECT e.a, e.b FROM e1 e JOIN k2 x ON e.a = x.a
         |  JOIN k2 y ON e.b = y.a)
         |SELECT a AS node, CAST(count(*) AS BIGINT) AS degree
         |FROM e2 GROUP BY 1""".stripMargin),
    // per-source dedup rates: the crawl-health mart (a source whose
    // dup_rate jumps is re-serving content the corpus already has)
    Query("q224_source_dedup_rates", (s, dir) => {
      val docs = graft.core.Tables.tableRebalanced(s, dir, "documents")
      Dedup.sourceDedupRates(docs.select("doc_id", "text", "source"),
        "doc_id", "text", "source", 3, 0.5,
        pairGen = Some(jacPairs05(s, dir)))
    },
      // q224: the q33 closure chain + a source-keyed survivor rollup
      s"""$clusterChainSql,
         |j AS (SELECT d.source, a.doc_id, a.cluster_id
         |  FROM assign a JOIN documents d ON d.doc_id = a.doc_id)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN doc_id = cluster_id THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_survivors,
         |  round(1.0 - CAST(sum(CASE WHEN doc_id = cluster_id THEN 1 ELSE 0
         |    END) AS DOUBLE) / count(*), 6) AS dup_rate
         |FROM j GROUP BY 1""".stripMargin),
    // curation-to-tape composite: the q53 curated survivors packed into
    // fixed-token training bins (q56's layout) — filter ∘ dedup ∘ pack,
    // the end-to-end "raw corpus to training tape" chain in one plan
    Query("q221_curation_to_tape", (s, dir) => {
      val eligible = eligibleDocs(s, dir)
      val kept = Dedup.dropNearDuplicates(eligible, "doc_id", "text", 3, 0.5,
        pairGen = Some(lshPairsEligible(s, dir)))
      val counted = eligible.join(kept, Seq("doc_id"))
        .select(col("doc_id"),
          TextStats.bpeishTokenCount(col("text")).cast("long").as("n_tokens"))
      graft.ops.Packing.packGreedy(counted, "doc_id", "n_tokens", 512L, 4)
    },
      // q221: the q53 curation chain + the q56 packing tail over survivors
      s"""$curationCtes,
         |survivors AS (
         |  SELECT a.doc_id FROM assign a WHERE a.cluster_id = a.doc_id),
         |counted AS (
         |  SELECT e.doc_id,
         |    CAST(len(regexp_extract_all(e.text,
         |      '[a-zA-Z]+|[0-9]|[^a-zA-Z0-9 ]')) AS BIGINT) AS n_tokens
         |  FROM eligible e JOIN survivors s ON s.doc_id = e.doc_id),
         |sharded AS (
         |  SELECT doc_id, n_tokens,
         |    CAST(${md5ModSql("doc_id", 4)} AS BIGINT) AS shard
         |  FROM counted),
         |wprev AS (
         |  SELECT doc_id, n_tokens, shard,
         |    CAST(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id)
         |      - n_tokens AS BIGINT) AS start_offset
         |  FROM sharded)
         |SELECT doc_id, n_tokens, shard, start_offset,
         |  CAST(start_offset // 512 AS BIGINT) AS bin,
         |  n_tokens > 512 AS oversize
         |FROM wprev""".stripMargin),
    // LSH dedup recall contract: what the banded plan actually misses
    // vs the exact Jaccard pairs, as one pinned ratio row
    Query("q217_dedup_recall", (s, dir) =>
      Dedup.lshRecallContract(
        graft.core.Tables.tableRebalanced(s, dir, "documents")
          .select("doc_id", "text"), "doc_id", "text", 3, 4, 3, 0.5,
        exactGen = Some(jacPairs05(s, dir)),
        lshGen = Some(lshPairs(s, dir))),
      // q217: the q21 exact-pair chain and the q22 banded chain share one
      // shingle CTE; recall = |lsh ∩ exact| / |exact|, both md5-replayed
      {
      s"""WITH ${minhashCtes(3, 4, 3)},
         |lsh AS (
         |  SELECT p.id_a, p.id_b
         |  FROM pairs p JOIN sizes sa ON p.id_a = sa.doc_id
         |    JOIN sizes sb ON p.id_b = sb.doc_id
         |  WHERE CAST(p.n_common AS DOUBLE) /
         |    CAST(sa.n_sh + sb.n_sh - p.n_common AS DOUBLE) >= 0.5),
         |epairs AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |exact AS (
         |  SELECT p.id_a, p.id_b
         |  FROM epairs p JOIN sizes sa ON p.id_a = sa.doc_id
         |    JOIN sizes sb ON p.id_b = sb.doc_id
         |  WHERE CAST(p.n_common AS DOUBLE) /
         |    CAST(sa.n_sh + sb.n_sh - p.n_common AS DOUBLE) >= 0.5),
         |ne AS (SELECT CAST(count(*) AS BIGINT) AS n_exact_pairs FROM exact),
         |nf AS (SELECT CAST(count(*) AS BIGINT) AS n_lsh_found
         |  FROM exact e JOIN lsh l ON e.id_a = l.id_a AND e.id_b = l.id_b)
         |SELECT ne.n_exact_pairs, nf.n_lsh_found,
         |  CASE WHEN ne.n_exact_pairs > 0 THEN
         |    round(CAST(nf.n_lsh_found AS DOUBLE) / ne.n_exact_pairs, 6)
         |  END AS recall
         |FROM ne, nf""".stripMargin
    }),
    // golden-record survivorship over fuzzy-name clusters of part: the
    // MDM chain collapsed at the NAME level (the 64 distinct names
    // cluster under noun-blocked levenshtein — cold/old/new/red families
    // merge; members attach by name, one merge agg builds golden rows)
    Query("q213_golden_record", (s, dir) => {
      import Dedup.Survivorship._
      val withBlk = t(s, dir, "part")
        .withColumn("__blk", split(col("p_name"), " ").getItem(1))
      val names = withBlk.select(col("__blk"), col("p_name")).distinct()
      val pairs = graft.ops.Joins.blockedFuzzyPairs(
        names.withColumn("__nid", col("p_name")), "__nid", "p_name", "__blk", 2)
      val labels = Dedup.clusters(pairs, "id_a", "id_b",
        names.select(col("p_name").as("__nid")), "__nid")
      val members = withBlk.join(
        labels.select(col("__nid").as("p_name"), col("cluster_id")),
        Seq("p_name"))
      Dedup.goldenRecord(members, "p_partkey", "cluster_id",
        Seq(Longest("p_name"), MaxNum("p_retailprice"),
          FromPrimary("p_brand"), FromPrimary("p_size")))
    },
      // q213: name-level recursive closure (the q33 device over the 64
      // distinct names), then the three survivorship reads as QUALIFY
      // argmax CTEs — same total orders as the struct-min/max aggregates
      """WITH RECURSIVE p AS (
        |  SELECT p_partkey, p_name, p_brand, p_size, p_retailprice,
        |    split_part(p_name, ' ', 2) AS blk FROM part),
        |names AS (SELECT DISTINCT blk, p_name FROM p),
        |jpairs AS (
        |  SELECT a.p_name AS id_a, b.p_name AS id_b
        |  FROM names a JOIN names b ON a.blk = b.blk
        |    AND a.p_name < b.p_name
        |    AND abs(len(a.p_name) - len(b.p_name)) <= 2
        |    AND levenshtein(a.p_name, b.p_name) <= 2),
        |sym AS (SELECT id_a AS a, id_b AS b FROM jpairs
        |        UNION SELECT id_b, id_a FROM jpairs),
        |reach(a, b) AS (
        |  SELECT a, b FROM sym
        |  UNION
        |  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a),
        |assign AS (
        |  SELECT n.p_name,
        |    least(n.p_name, coalesce(min(r.b), n.p_name)) AS cluster_id
        |  FROM names n LEFT JOIN reach r ON r.a = n.p_name
        |  GROUP BY n.p_name),
        |m AS (SELECT p.*, a.cluster_id FROM p JOIN assign a USING (p_name)),
        |agg AS (
        |  SELECT cluster_id, CAST(min(p_partkey) AS BIGINT) AS survivor_id,
        |    CAST(count(*) AS BIGINT) AS n_members,
        |    max(p_retailprice) AS p_retailprice
        |  FROM m GROUP BY 1),
        |longest AS (
        |  SELECT cluster_id, p_name FROM m
        |  QUALIFY row_number() OVER (PARTITION BY cluster_id
        |    ORDER BY len(p_name) DESC, p_name DESC) = 1),
        |prim AS (
        |  SELECT cluster_id, p_brand, p_size FROM m
        |  QUALIFY row_number() OVER (PARTITION BY cluster_id
        |    ORDER BY p_partkey ASC) = 1)
        |SELECT agg.cluster_id, agg.survivor_id, agg.n_members,
        |  longest.p_name, agg.p_retailprice, prim.p_brand, prim.p_size
        |FROM agg JOIN longest USING (cluster_id) JOIN prim USING (cluster_id)""".stripMargin),
    // per-cluster MEDOID (min summed Levenshtein to cluster mates) — the
    // most-typical representative, vs q95's longest-copy policy
    // medoids over the BANDED LSH pair path (the q141/q43 split: the
    // benched entry plans the 100 TB shape; exact pairGen stays reachable)
    Query("q174_cluster_medoids", (s, dir) => {
      val docs = graft.core.Tables.tableRebalanced(s, dir, "documents")
        .select("doc_id", "text")
      Dedup.clusterMedoids(docs, "doc_id", "text", 3, 0.5,
        pairGen = Some(lshPairs(s, dir)))
    },
      // q174: cluster closure + within-cluster Levenshtein cost matrix;
      // null text compares as '' (the op's rule), argmin ties to min id
      // q174: the q43 LSH chain feeds the same medoid tail
      s"""WITH RECURSIVE ${minhashCtes(3, 4, 3)},
         |jpairs AS (
         |  SELECT p.id_a, p.id_b
         |  FROM pairs p JOIN sizes sa ON p.id_a = sa.doc_id JOIN sizes sb ON p.id_b = sb.doc_id
         |  WHERE CAST(p.n_common AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - p.n_common AS DOUBLE) >= 0.5),
         |${closureTailSql()},
         |mem AS (SELECT a.cluster_id, a.doc_id, coalesce(d.text, '') AS text
         |        FROM assign a JOIN documents d ON a.doc_id = d.doc_id),
         |cost AS (SELECT l.cluster_id, l.doc_id,
         |    CAST(coalesce(sum(CASE WHEN r.doc_id <> l.doc_id
         |      THEN levenshtein(l.text, r.text) END), 0) AS BIGINT) AS cost
         |  FROM mem l JOIN mem r ON l.cluster_id = r.cluster_id
         |  GROUP BY l.cluster_id, l.doc_id, l.text),
         |stats AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members,
         |            CAST(min(cost) AS BIGINT) AS medoid_cost
         |          FROM cost GROUP BY 1),
         |best AS (SELECT cluster_id, doc_id,
         |           row_number() OVER (PARTITION BY cluster_id
         |             ORDER BY cost ASC, doc_id ASC) AS rn
         |         FROM cost)
         |SELECT s.cluster_id, b.doc_id AS medoid_id, s.n_members, s.medoid_cost
         |FROM stats s JOIN best b ON s.cluster_id = b.cluster_id AND b.rn = 1""".stripMargin),
    // streaming ingest with inline near-dup rejection, drained over two
    // ordered micro-batches: each batch drops rows with an LSH-verified
    // near-duplicate in the STANDING side (the fixed corpus plus batch 1's
    // survivors when batch 2 arrives) before appending — the ingestion-
    // time incremental-dedup composition, oracled as the same two-stage
    // chain in SQL
    Query("q110_stream_dedup_ingest", (s, dir) => {
      import graft.streaming.EventStream
      val docs = t(s, dir, "documents")
      val tmp = java.nio.file.Files.createTempDirectory("q110-ingest").toString
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
      drop(docs.where(col("doc_id") % 4 === 1).select("doc_id", "text"), "b0", 1000000L)
      drop(docs.where(col("doc_id") % 4 === 3).select("doc_id", "text"), "b1", 2000000L)
      val schema = ManifestRead.footerSchema(s, s"$srcDir/b0.parquet")
      val stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("basePath", srcDir.toString)
        .parquet(s"$srcDir/*.parquet")
      val corpus = docs.where(col("doc_id") % 2 === 0).select("doc_id", "text")
      val n0 = cachedCount(s, dir, "documents_even")(corpus)
      val store = new graft.sources.TableStore(s)
      withStatePartitions(s, 8) {
        // recalib: the standing index re-bands at decade milestones (the
        // bench corpus never leaves the bootstrap decade, so the oracle's
        // fixed-banding replay is exact)
        val q = EventStream.streamDedupedIngest(stream, corpus, store,
          s"$tmp/bronze", "doc_id", "text", 3, 4, 3, 0.5, s"$tmp/ckpt",
          recalib = Some(m => graft.ops.Dedup.recommendedBanding(m, n0, 4, 3)))
        q.awaitTermination()
      }
      store.read(s"$tmp/bronze").select("doc_id", "text")
    },
      // q110: the two-stage incremental semantics spelled out — batch 1 is
      // checked against the fixed corpus; batch 2 against corpus ∪ batch-1
      // survivors; the final table is the union of survivors
      s"""WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
         |b1 AS (SELECT doc_id, text FROM documents WHERE doc_id % 4 = 1),
         |b2 AS (SELECT doc_id, text FROM documents WHERE doc_id % 4 = 3),
         |${minhashCrossCtes(3, 4, 3, 0.5, "corpus", "b1", "s1")},
         |surv1 AS (SELECT doc_id, text FROM b1
         |          WHERE doc_id NOT IN (SELECT id_b FROM vp_s1)),
         |standing2 AS (SELECT * FROM corpus UNION ALL SELECT * FROM surv1),
         |${minhashCrossCtes(3, 4, 3, 0.5, "standing2", "b2", "s2")},
         |surv2 AS (SELECT doc_id, text FROM b2
         |          WHERE doc_id NOT IN (SELECT id_b FROM vp_s2))
         |SELECT doc_id, text FROM surv1
         |UNION ALL
         |SELECT doc_id, text FROM surv2""".stripMargin),
    // the INTRA-BATCH flag demonstrated (VERDICT r9 #6): ONE micro-batch
    // containing mutual near-dups, intraBatch = true — the batch first
    // reduces to cluster representatives (banded self-pairs → connected
    // components → min id, the q43 chain) BEFORE the standing join, so
    // two near-dups arriving together can no longer both be admitted.
    // Oracled as the same two-stage chain: reps via the recursive
    // closure, then the corpus cross-check over reps only
    Query("q370_stream_intra_batch", (s, dir) => {
      import graft.streaming.EventStream
      val docs = t(s, dir, "documents")
      val tmp = java.nio.file.Files.createTempDirectory("q370-intra").toString
      val srcDir = new java.io.File(s"$tmp/drops"); srcDir.mkdirs()
      val stage = s"$tmp/stage_b0"
      docs.where(col("doc_id") % 2 === 1).select("doc_id", "text")
        .coalesce(1).write.parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        new java.io.File(srcDir, "b0.parquet").toPath)
      val schema = ManifestRead.footerSchema(s, s"$srcDir/b0.parquet")
      val stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("basePath", srcDir.toString)
        .parquet(s"$srcDir/*.parquet")
      val corpus = docs.where(col("doc_id") % 4 === 0).select("doc_id", "text")
      val n0 = cachedCount(s, dir, "documents_mod4")(corpus)
      val store = new graft.sources.TableStore(s)
      withStatePartitions(s, 8) {
        val q = EventStream.streamDedupedIngest(stream, corpus, store,
          s"$tmp/bronze", "doc_id", "text", 3, 4, 3, 0.5, s"$tmp/ckpt",
          intraBatch = true,
          recalib = Some(m => graft.ops.Dedup.recommendedBanding(m, n0, 4, 3)))
        q.awaitTermination()
      }
      store.read(s"$tmp/bronze").select("doc_id", "text")
    },
      // q370: the intra-batch reduction spelled out — the batch's own
      // banded pairs (q22's chain), the recursive min-label closure (q43's
      // chain), representatives = docs that are their own cluster id, then
      // the corpus cross-check over the representatives only
      s"""WITH RECURSIVE corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 4 = 0),
         |batch AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1),
         |${minhashCtes(3, 4, 3, "batch")},
         |jpairs AS (
         |  SELECT p.id_a, p.id_b
         |  FROM pairs p JOIN sizes sa ON p.id_a = sa.doc_id JOIN sizes sb ON p.id_b = sb.doc_id
         |  WHERE CAST(p.n_common AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - p.n_common AS DOUBLE) >= 0.5),
         |${closureTailSql("batch")},
         |reps AS (SELECT b.doc_id, b.text FROM batch b
         |         JOIN assign a ON a.doc_id = b.doc_id AND a.cluster_id = b.doc_id),
         |${minhashCrossCtes(3, 4, 3, 0.5, "corpus", "reps", "x")}
         |SELECT doc_id, text FROM reps
         |WHERE doc_id NOT IN (SELECT id_b FROM vp_x)""".stripMargin)
  )
}
