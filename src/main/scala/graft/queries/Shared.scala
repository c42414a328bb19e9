package graft.queries

import org.apache.spark.sql.SparkSession

import graft.ops.TextStats

/** Oracle and build helpers that several query families use. Every
  * helper is a `def`: oracle text is built only when an oracle is asked
  * for. */
private[queries] object Shared {
  /** Runs `body` with spark.sql.shuffle.partitions temporarily lowered —
    * a streaming drain pins its state-store count to this value at stream
    * START (via the checkpoint), and per-store open/commit overhead
    * dominates the few-MB bench state: 8 stores measured q107 at half its
    * 32-store wall time. Batch stages inside the drain are AQE-coalesced
    * and insensitive. Restored afterwards for the rest of the suite. */
  def withStatePartitions[A](s: SparkSession, n: Int)(body: => A): A = {
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", n.toString)
    try body finally s.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** Word n-gram distinct-shingle table as SQL (DuckDB list ops) over any
    * relation with (doc_id, text). */
  def shingleSql(n: Int, rel: String = "documents"): String =
    s"""SELECT doc_id, unnest(list_distinct(list_transform(
       |  generate_series(1, len(ts) - ${n - 1}),
       |  i -> array_to_string(ts[i:i+${n - 1}], ' ')))) AS shingle
       |FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM $rel)""".stripMargin

  /** MinHash+LSH CTE chain — `sh`/`sigs`/`banded`/`cand`/`pairs`/`sizes`,
    * shared by the pair oracle (q22), the LSH end-to-end drop (q43), and
    * the curation composite (q53, over its `eligible` CTE). */
  def minhashCtes(n: Int, bands: Int, rows: Int,
                          rel: String = "documents"): String = {
    val h = bands * rows
    val sigCols = (0 until h)
      .map(i => s"min(md5('$i:' || shingle)) AS sig_$i").mkString(",\n    ")
    val bandRows = (0 until bands).map { b =>
      val slots = (b * rows until b * rows + rows).map(r => s"sig_$r").mkString(", ")
      s"SELECT doc_id, $b AS band, md5(concat_ws('|', $slots)) AS bh FROM sigs"
    }.mkString("\n  UNION ALL\n  ")
    s"""sh AS (${shingleSql(n, rel)}),
       |sigs AS (SELECT doc_id,
       |    $sigCols
       |  FROM sh GROUP BY doc_id),
       |banded AS (
       |  $bandRows),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
       |  FROM banded x JOIN banded y ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id),
       |pairs AS (
       |  SELECT c.id_a, c.id_b, count(*) AS n_common
       |  FROM cand c JOIN sh a ON a.doc_id = c.id_a JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
       |  GROUP BY 1, 2),
       |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1)""".stripMargin
  }

  /** Transitive closure + min-label assignment over a CTE `jpairs(id_a,
    * id_b)` (requires WITH RECURSIVE upstream): `assign(doc_id,
    * cluster_id)` for every doc in `rel`. */
  def closureTailSql(rel: String = "documents"): String =
    s"""sym AS (SELECT id_a AS a, id_b AS b FROM jpairs
       |        UNION SELECT id_b, id_a FROM jpairs),
       |reach(a, b) AS (
       |  SELECT a, b FROM sym
       |  UNION
       |  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a),
       |assign AS (
       |  SELECT d.doc_id,
       |    least(d.doc_id, coalesce(min(r.b), d.doc_id)) AS cluster_id
       |  FROM $rel d LEFT JOIN reach r ON r.a = d.doc_id
       |  GROUP BY d.doc_id)""".stripMargin

  def langScoreSql: String = TextStats.langMarkers.map { case (lang, ms) =>
    val set = ms.map(m => s"'$m'").mkString(", ")
    s"CAST(len(list_filter(string_split(text, ' '), w -> w IN ($set))) AS INTEGER) AS score_$lang"
  }.mkString(",\n  ")

  /** The id's 32-bit md5 prefix (first 8 hex nibbles as a uint32) — the
    * shared hash device of [[md5ModSql]] and [[md5UniformSql]]. */
  def md5PrefixSql(idExpr: String): String = {
    val nib = (k: Int) =>
      s"(strpos('0123456789abcdef', substr(md5(CAST($idExpr AS VARCHAR)), $k, 1)) - 1)"
    (1 to 8).map(k => s"${nib(k)} * ${math.pow(16, 8 - k).toLong}").mkString(" + ")
  }

  /** md5-derived bucket in SQL: first 8 hex nibbles of md5(id) as an
    * integer, mod `m` — the oracle twin of [[graft.ops.Sampling.md5Bucket]]
    * (m = 100) and [[graft.ops.Packing.packGreedy]]'s shard (m = nShards). */
  def md5ModSql(idExpr: String, m: Int): String =
    s"((${md5PrefixSql(idExpr)}) % $m)"

  def md5BucketSql(idExpr: String): String = md5ModSql(idExpr, 100)

  /** q116/q117 oracle building block: PQ sub-quantizer training for
    * subspace `j` of a 64-dim vector split in two — the kmeans CTE
    * pattern specialized to vector slices and the reduced-L2 ranking key
    * `round(|c|² − 2·x·c, 6)` (list_inner_product accumulates doubles
    * left-to-right exactly like the dotF kernel, so assignment is
    * engine-exact, not approximately-equal). Ends at a${j}1 = the final
    * (vec_id, code) assignment against the recoded post-iteration book. */
  def pqSubspaceCtes(j: Int): String = {
    val lo = j * 32 + 1
    val hi = (j + 1) * 32
    val sub = s"CAST(e.embedding[$lo:$hi] AS DOUBLE[])"
    s"""cents${j}0 AS (
       |  SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS code,
       |    CAST(embedding[$lo:$hi] AS DOUBLE[]) AS cvec
       |  FROM embeddings WHERE embedding IS NOT NULL
       |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8),
       |d${j}0 AS (
       |  SELECT e.vec_id, c.code,
       |    round(list_inner_product(c.cvec, c.cvec)
       |      - 2 * list_inner_product($sub, c.cvec), 6) AS rd
       |  FROM embeddings e CROSS JOIN cents${j}0 c WHERE e.embedding IS NOT NULL),
       |a${j}0 AS (
       |  SELECT vec_id, code FROM (
       |    SELECT vec_id, code,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY rd ASC, code ASC) AS r
       |    FROM d${j}0) WHERE r = 1),
       |m$j AS (
       |  SELECT a.code, unnest($sub) AS v,
       |    unnest(generate_series(1, ${hi - lo + 1})) AS dim
       |  FROM a${j}0 a JOIN embeddings e ON e.vec_id = a.vec_id),
       |c${j}1 AS (
       |  SELECT code, dim, CAST(CAST(round(avg(v), 6) AS FLOAT) AS DOUBLE) AS cv
       |  FROM m$j GROUP BY 1, 2),
       |cb$j AS (
       |  SELECT row_number() OVER (ORDER BY code) - 1 AS code, cvec FROM (
       |    SELECT code, list(cv ORDER BY dim) AS cvec FROM c${j}1 GROUP BY 1)),
       |d${j}1 AS (
       |  SELECT e.vec_id, c.code,
       |    round(list_inner_product(c.cvec, c.cvec)
       |      - 2 * list_inner_product($sub, c.cvec), 6) AS rd
       |  FROM embeddings e CROSS JOIN cb$j c WHERE e.embedding IS NOT NULL),
       |a${j}1 AS (
       |  SELECT vec_id, code FROM (
       |    SELECT vec_id, code,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY rd ASC, code ASC) AS r
       |    FROM d${j}1) WHERE r = 1)""".stripMargin
  }

  /** The q28 quality CASE, shared by the q53 curation chain and the q74
    * drift mart. */
  def qualityCaseSql: String =
    """CASE WHEN len(string_split(text, ' ')) >= 50
      |         AND CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9 ]')) AS DOUBLE) / CAST(length(text) AS DOUBLE) < 0.1
      |         AND CAST(length(replace(text, ' ', '')) AS DOUBLE) / CAST(len(string_split(text, ' ')) AS DOUBLE) >= 3
      |         AND CAST(length(replace(text, ' ', '')) AS DOUBLE) / CAST(len(string_split(text, ' ')) AS DOUBLE) <= 10 THEN 'high'
      |       WHEN len(string_split(text, ' ')) >= 10 THEN 'medium'
      |       ELSE 'low' END""".stripMargin
}
