package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkEntry.{cachedCount, jacPairs05, t, tierFps, tierPairs, tierRadius}
import graft.ops.Multimodal

import Shared._

/** Media plumbing via [[graft.ops.Multimodal]]: container decode
  * (WAV/PPM/PNG/Y4M/JPEG), perceptual fingerprints with their near-dup
  * pairs, recall contracts and cross-modal consensus. The vote-grid
  * queries here also carry chunked oracle replays. */
private[graft] object MultimodalQueries {
  /** q352/q353: the decoded-PCM content replayed WITHOUT byte parsing —
    * the audio twin of [[ppmRealContentCtes]]: sample block j of the
    * word-sampled WAV synthesis (96 samples = 12 blocks) is
    * `md5(word_{⌊j·nWords/12⌋} || ':pxwav:' || j)`, each block's 16
    * digest bytes are 8 little-endian int16 frames (high hex pair ||
    * low, two's-complement wrap), space-joined in stream order — exactly
    * what the real RIFF parser emits. Ends at `wdocs(doc_id, text)`. */
  private def wavRealContentCtesOver(rel: String): String =
    s"""wwords AS (SELECT doc_id, string_split(text, ' ') AS ws
      |  FROM $rel WHERE text IS NOT NULL),
      |wblk AS (SELECT doc_id, j,
      |    md5(ws[(j * len(ws)) // 12 + 1] || ':pxwav:' || j) AS h
      |  FROM wwords CROSS JOIN (SELECT unnest(generate_series(0, 11)) AS j)),
      |wsmp AS (SELECT doc_id, j * 8 + s AS k,
      |    CAST(('0x' || substr(h, 4 * s + 3, 2) || substr(h, 4 * s + 1, 2)) AS INTEGER) AS u
      |  FROM wblk CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS s)),
      |wdocs AS (SELECT doc_id,
      |    string_agg(CAST(CASE WHEN u >= 32768 THEN u - 65536 ELSE u END AS VARCHAR),
      |      ' ' ORDER BY k) AS text
      |  FROM wsmp GROUP BY 1)""".stripMargin

  private def wavRealContentCtes: String = wavRealContentCtesOver("documents")

  /** q354–q356: the frame-sampled decoded-luma content of the Y4M
    * synthesis replayed WITHOUT byte parsing — the video member of the
    * md5-chain device: with 4×4 C444 frames (48 plane bytes = 3 blocks
    * per frame, 8 frames) the Y plane of frame f is exactly block j=0,
    * i.e. the 16 digest bytes of
    * `md5(word_{⌊f·3·nWords/24⌋} || ':pxvid:' || f || ':0')`, one luma
    * value per byte in raster order — exactly what the real Y4M parser
    * emits for sampled frames 0,2,4,6. Ends at `vdocs(doc_id, text)`
    * over COMPOSITE ids `doc_id·64 + frame` (the
    * [[graft.ops.Multimodal.videoFrameFingerprints]] radix). */
  private def y4mRealContentCtesOver(rel: String): String =
    s"""vwords AS (SELECT doc_id, string_split(text, ' ') AS ws
      |  FROM $rel WHERE text IS NOT NULL),
      |vfrm AS (SELECT unnest(generate_series(0, 6, 2)) AS f),
      |vblk AS (SELECT doc_id, f,
      |    md5(ws[((f * 3) * len(ws)) // 24 + 1] || ':pxvid:' || f || ':0') AS h
      |  FROM vwords CROSS JOIN vfrm),
      |vbytes AS (SELECT doc_id, f, m AS k,
      |    CAST(('0x' || substr(h, 2 * m + 1, 2)) AS INTEGER) AS v
      |  FROM vblk CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS m)),
      |vdocs AS (SELECT doc_id * 64 + f AS doc_id,
      |    string_agg(CAST(v AS VARCHAR), ' ' ORDER BY k) AS text
      |  FROM vbytes GROUP BY 1)""".stripMargin

  private def y4mRealContentCtes: String = y4mRealContentCtesOver("documents")

  /** q357–q359: the codec-decoded pixel content of the PNG synthesis
    * replayed WITHOUT running a codec — possible precisely because PNG
    * is LOSSLESS: the decoded grid equals the pre-encode md5-chain grid,
    * so the ':pxpng:' word-sampled chain (8×8 = 12 blocks) reconstructs
    * every byte the real ImageIO decode emits. Ends at
    * `gdocs(doc_id, text)`, the (id, decoded-luma) relation. */
  private def pngRealContentCtesOver(rel: String): String =
    s"""gwords AS (SELECT doc_id, string_split(text, ' ') AS ws
      |  FROM $rel WHERE text IS NOT NULL),
      |gblk AS (SELECT doc_id, j,
      |    md5(ws[(j * len(ws)) // 12 + 1] || ':pxpng:' || j) AS h
      |  FROM gwords CROSS JOIN (SELECT unnest(generate_series(0, 11)) AS j)),
      |gbytes AS (SELECT doc_id, j * 16 + m AS k,
      |    CAST(('0x' || substr(h, 2 * m + 1, 2)) AS INTEGER) AS v
      |  FROM gblk CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS m)),
      |gluma AS (SELECT doc_id, k // 3 AS px, CAST(sum(v) AS BIGINT) AS luma
      |  FROM gbytes GROUP BY 1, 2),
      |gdocs AS (SELECT doc_id,
      |    string_agg(CAST(luma AS VARCHAR), ' ' ORDER BY px) AS text
      |  FROM gluma GROUP BY 1)""".stripMargin

  private def pngRealContentCtes: String = pngRealContentCtesOver("documents")

  /** q336/q337/q338 (the utf-8 text tier — the container-true chains ride
    * the 128-bit grid since r9): the
    * 64-bit perceptual fingerprint replayed bit-exact — per content 4-gram
    * the first 16 md5 hex chars form the vote word (char c, nibble bit b ↔
    * bit 64−4c+b); the (c, value) count grid folds the votes, nibbles
    * reassemble via a 16-row HUGEINT multiplier table with a
    * two's-complement wrap to BIGINT. `rel` is any relation with
    * (doc_id, text). CTEs are `p`-prefixed so the chain composes with the
    * shingle/jaccard CTEs (q338). Ends at `pfps(id, fp)`. */
  private def perceptualFpsCtesOver(rel: String): String = {
    val multipliers = (1 to 16)
      .map(c => s"($c, CAST('${BigInt(16).pow(16 - c)}' AS HUGEINT))")
      .mkString(", ")
    s"""psh AS (SELECT doc_id,
       |    substr(md5(unnest(list_transform(
       |      generate_series(1, len(text) - 3),
       |      i -> substr(text, i, 4)))), 1, 16) AS h
       |  FROM $rel WHERE text IS NOT NULL),
       |pcs AS (SELECT unnest(generate_series(1, 16)) AS c),
       |pgrid AS (SELECT doc_id, c,
       |    strpos('0123456789abcdef', substr(h, c, 1)) - 1 AS v,
       |    count(*) AS n
       |  FROM psh CROSS JOIN pcs GROUP BY 1, 2, 3),
       |pbs AS (SELECT unnest(generate_series(0, 3)) AS b),
       |pbits AS (SELECT doc_id, c, b,
       |    CASE WHEN sum(n * (2 * ((v >> b) & 1) - 1)) > 0
       |         THEN 1 ELSE 0 END AS bit
       |  FROM pgrid CROSS JOIN pbs GROUP BY 1, 2, 3),
       |pnibs AS (SELECT doc_id, c, CAST(sum(bit << b) AS HUGEINT) AS nv
       |  FROM pbits GROUP BY 1, 2),
       |pm(c, mult) AS (VALUES $multipliers),
       |pfpu AS (SELECT doc_id, sum(nv * mult) AS u
       |  FROM pnibs JOIN pm USING (c) GROUP BY 1),
       |pfps AS (SELECT d.doc_id AS id, CAST(CASE
       |      WHEN f.u IS NULL THEN 0
       |      WHEN f.u >= CAST('9223372036854775808' AS HUGEINT)
       |        THEN f.u - CAST('18446744073709551616' AS HUGEINT)
       |      ELSE f.u END AS BIGINT) AS fp
       |  FROM $rel d LEFT JOIN pfpu f USING (doc_id))""".stripMargin
  }

  private def perceptualFpsCtes: String = perceptualFpsCtesOver("documents")

  /** q364/q365: the 128-BIT fingerprint replayed bit-exact — the 64-bit
    * nibble-grid device run over all 32 md5 hex chars: chars 1–16
    * reassemble to `fph`, chars 17–32 to `fpl` (each a big-endian 64-bit
    * number via a per-half multiplier table, two's-complement wrapped).
    * Ends at `pfps(id, fph, fpl)`. */
  private def perceptual128FpsCtesOver(rel: String): String = {
    val multipliers = ((1 to 16).map(c =>
      s"($c, CAST('${BigInt(16).pow(16 - c)}' AS HUGEINT))") ++
      (17 to 32).map(c =>
        s"($c, CAST('${BigInt(16).pow(32 - c)}' AS HUGEINT))")).mkString(", ")
    val wrap = (u: String) =>
      s"""CAST(CASE
         |      WHEN $u IS NULL THEN 0
         |      WHEN $u >= CAST('9223372036854775808' AS HUGEINT)
         |        THEN $u - CAST('18446744073709551616' AS HUGEINT)
         |      ELSE $u END AS BIGINT)""".stripMargin
    s"""psh AS (SELECT doc_id,
       |    md5(unnest(list_transform(
       |      generate_series(1, len(text) - 3),
       |      i -> substr(text, i, 4)))) AS h
       |  FROM $rel WHERE text IS NOT NULL),
       |pcs AS (SELECT unnest(generate_series(1, 32)) AS c),
       |pgrid AS (SELECT doc_id, c,
       |    strpos('0123456789abcdef', substr(h, c, 1)) - 1 AS v,
       |    count(*) AS n
       |  FROM psh CROSS JOIN pcs GROUP BY 1, 2, 3),
       |pbs AS (SELECT unnest(generate_series(0, 3)) AS b),
       |pbits AS (SELECT doc_id, c, b,
       |    CASE WHEN sum(n * (2 * ((v >> b) & 1) - 1)) > 0
       |         THEN 1 ELSE 0 END AS bit
       |  FROM pgrid CROSS JOIN pbs GROUP BY 1, 2, 3),
       |pnibs AS (SELECT doc_id, c, CAST(sum(bit << b) AS HUGEINT) AS nv
       |  FROM pbits GROUP BY 1, 2),
       |pm(c, mult) AS (VALUES $multipliers),
       |pfpu AS (SELECT doc_id,
       |    sum(CASE WHEN c <= 16 THEN nv * mult END) AS uh,
       |    sum(CASE WHEN c >= 17 THEN nv * mult END) AS ul
       |  FROM pnibs JOIN pm USING (c) GROUP BY 1),
       |pfps AS (SELECT d.doc_id AS id,
       |    ${wrap("f.uh")} AS fph,
       |    ${wrap("f.ul")} AS fpl
       |  FROM $rel d LEFT JOIN pfpu f USING (doc_id))""".stripMargin
  }

  /** The 128-bit scale-adaptive band tail: width mirrors
    * `Multimodal.recommendedWidth128` (clamp {4,8,16,32} — the 32-bit
    * cap the 64-bit tier cannot reach), bands = 128/width, the first
    * 64/width bands read `fph`, the rest `fpl`. Since r10 the tail also
    * DERIVES THE VERIFY RADIUS (`Multimodal.recommendedRadius128`'s SQL
    * twin): `pham` holds banded id pairs with their Hamming distance at
    * the cap 24, `psw` counts them per grid radius {8,12,16,20,24}, and
    * `prad` picks the largest radius whose pair count stays within 16
    * pairs per fingerprint row (budget = 16·count(pfps)), falling back
    * to the smallest. Ends at `pham(id_a, id_b, ham)` + `prad(rr)`. */
  private def perceptual128BandTailCtes: String =
    """pnn AS (SELECT count(*) AS n FROM documents),
      |pwb AS (SELECT CASE WHEN bb <= 4 THEN 4 WHEN bb <= 8 THEN 8
      |               WHEN bb <= 16 THEN 16 ELSE 32 END AS w FROM (
      |  SELECT greatest(2, coalesce((SELECT min(b) FROM generate_series(2, 24) g(b), pnn
      |           WHERE 150 * (CAST(1 AS BIGINT) << b) >= pnn.n), 24)) AS bb)),
      |pbands AS (SELECT unnest(generate_series(0, (128 // (SELECT w FROM pwb)) - 1)) AS band),
      |pbt AS (SELECT id, band,
      |    (CASE WHEN band < 64 // (SELECT w FROM pwb) THEN fph ELSE fpl END
      |      >> ((band % (64 // (SELECT w FROM pwb))) * (SELECT w FROM pwb)))
      |      & (CASE WHEN (SELECT w FROM pwb) = 64 THEN -1
      |         ELSE ((CAST(1 AS BIGINT) << (SELECT w FROM pwb)) - 1) END) AS bucket
      |  FROM pfps CROSS JOIN pbands),
      |pcand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
      |  FROM pbt a JOIN pbt b ON a.band = b.band AND a.bucket = b.bucket
      |    AND a.id < b.id),
      |pham AS (SELECT c.id_a, c.id_b,
      |    CAST(bit_count(xor(fa.fph, fb.fph)) + bit_count(xor(fa.fpl, fb.fpl)) AS BIGINT) AS ham
      |  FROM pcand c JOIN pfps fa ON c.id_a = fa.id
      |  JOIN pfps fb ON c.id_b = fb.id
      |  WHERE bit_count(xor(fa.fph, fb.fph)) + bit_count(xor(fa.fpl, fb.fpl)) <= 24),
      |psw AS (SELECT g.r, CAST(count(h.ham) AS BIGINT) AS n
      |  FROM (VALUES (8), (12), (16), (20), (24)) g(r)
      |  LEFT JOIN pham h ON h.ham <= g.r GROUP BY g.r),
      |prad AS (SELECT coalesce(max(r) FILTER (WHERE n <= 16 * (SELECT count(*) FROM pfps)), 8) AS rr
      |  FROM psw)""".stripMargin

  /** q355/q356/q361: the 128-bit scale-adaptive band tail over PER-FRAME
    * fingerprints — [[perceptual128BandTailCtes]] with the video tier's
    * two deltas: width derives from the SAMPLED-FRAME row count
    * (count(documents)·4, mirroring `recommendedWidth128(4·count)`), and
    * the band join key carries the frame index (`id % 64`) so a frame
    * vouches only for its temporal counterpart. Ends at
    * `vver(id_a, id_b)` over composite ids (verified 128-bit
    * Hamming ≤ 24). */
  private def video128BandTailCtesOver(rel: String): String =
    s"""vnn AS (SELECT count(*) * 4 AS n FROM documents),
      |vwb AS (SELECT CASE WHEN bb <= 4 THEN 4 WHEN bb <= 8 THEN 8
      |               WHEN bb <= 16 THEN 16 ELSE 32 END AS w FROM (
      |  SELECT greatest(2, coalesce((SELECT min(b) FROM generate_series(2, 24) g(b), vnn
      |           WHERE 150 * (CAST(1 AS BIGINT) << b) >= vnn.n), 24)) AS bb)),
      |vbands AS (SELECT unnest(generate_series(0, (128 // (SELECT w FROM vwb)) - 1)) AS band),
      |vbt AS (SELECT id, band,
      |    (CASE WHEN band < 64 // (SELECT w FROM vwb) THEN fph ELSE fpl END
      |      >> ((band % (64 // (SELECT w FROM vwb))) * (SELECT w FROM vwb)))
      |      & (CASE WHEN (SELECT w FROM vwb) = 64 THEN -1
      |         ELSE ((CAST(1 AS BIGINT) << (SELECT w FROM vwb)) - 1) END) AS bucket
      |  FROM $rel CROSS JOIN vbands),
      |vcand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
      |  FROM vbt a JOIN vbt b ON a.band = b.band AND a.bucket = b.bucket
      |    AND a.id % 64 = b.id % 64 AND a.id < b.id),
      |vham AS (SELECT c.id_a, c.id_b,
      |    CAST(bit_count(xor(fa.fph, fb.fph)) + bit_count(xor(fa.fpl, fb.fpl)) AS BIGINT) AS ham
      |  FROM vcand c JOIN pfps fa ON c.id_a = fa.id
      |  JOIN pfps fb ON c.id_b = fb.id
      |  WHERE bit_count(xor(fa.fph, fb.fph)) + bit_count(xor(fa.fpl, fb.fpl)) <= 24),
      |vsw AS (SELECT g.r, CAST(count(h.ham) AS BIGINT) AS n
      |  FROM (VALUES (8), (12), (16), (20), (24)) g(r)
      |  LEFT JOIN vham h ON h.ham <= g.r GROUP BY g.r),
      |vrad AS (SELECT coalesce(max(r) FILTER (WHERE n <= 16 * (SELECT count(*) FROM $rel)), 8) AS rr
      |  FROM vsw),
      |vver AS (SELECT id_a, id_b FROM vham WHERE ham <= (SELECT rr FROM vrad))""".stripMargin

  private def video128BandTailCtes: String = video128BandTailCtesOver("pfps")

  /** The 128-bit banded pair SELECT over `pham`/`prad` — shared final
    * stage of q348/q352/q358/q364: pairs at the DERIVED radius (≤ the
    * cap 24, the 3/16 proportional default the rule falls back to when
    * density is affordable). */
  private def perceptual128PairSelect: String =
    """SELECT id_a, id_b, ham AS hamming
      |FROM pham WHERE ham <= (SELECT rr FROM prad)""".stripMargin

  /** The 128-bit recall-contract tail (banded vs exact Hamming, BOTH at
    * the derived radius `prad.rr`, subset pinned TRUE) — shared by
    * q349/q353/q359/q365. */
  private def perceptual128RecallTail: String =
    """banded AS (SELECT id_a, id_b
      |  FROM pham WHERE ham <= (SELECT rr FROM prad)),
      |ex AS (SELECT CAST(count(*) AS BIGINT) AS n_exact
      |  FROM pfps a JOIN pfps b ON a.id < b.id
      |  WHERE bit_count(xor(a.fph, b.fph)) + bit_count(xor(a.fpl, b.fpl))
      |    <= (SELECT rr FROM prad)),
      |bn AS (SELECT CAST(count(*) AS BIGINT) AS n_banded FROM banded)
      |SELECT n_exact, n_banded,
      |  CASE WHEN n_exact = 0 THEN 1.0
      |    ELSE round(CAST(n_banded AS DOUBLE) / n_exact, 6) END AS recall,
      |  TRUE AS banded_subset_exact
      |FROM ex CROSS JOIN bn""".stripMargin

  /** q348/q349: the CONTAINER-TRUE decoded-luma content replayed WITHOUT
    * byte parsing — pixel block j of the word-sampled P6 synthesis
    * ([[graft.ops.Multimodal.synthesizePpmFromWords]], 8×8 = 12 blocks)
    * is `md5(word_{⌊j·nWords/12⌋} || ':pximg:' || j)`, its 16 digest
    * bytes are consecutive hex pairs, and per-pixel luma is the sum of 3
    * consecutive bytes — exactly what the real P6 parser emits after
    * walking the actual payload. Ends at `rdocs(doc_id, text)`, the
    * (id, decoded-content) relation the fingerprint grid then consumes. */
  private def ppmRealContentCtesOver(rel: String): String =
    s"""rwords AS (SELECT doc_id, string_split(text, ' ') AS ws
      |  FROM $rel WHERE text IS NOT NULL),
      |rblk AS (SELECT doc_id, j,
      |    md5(ws[(j * len(ws)) // 12 + 1] || ':pximg:' || j) AS h
      |  FROM rwords CROSS JOIN (SELECT unnest(generate_series(0, 11)) AS j)),
      |rbytes AS (SELECT doc_id, j * 16 + m AS k,
      |    CAST(('0x' || substr(h, 2 * m + 1, 2)) AS INTEGER) AS v
      |  FROM rblk CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS m)),
      |rluma AS (SELECT doc_id, k // 3 AS px, CAST(sum(v) AS BIGINT) AS luma
      |  FROM rbytes GROUP BY 1, 2),
      |rdocs AS (SELECT doc_id,
      |    string_agg(CAST(luma AS VARCHAR), ' ' ORDER BY px) AS text
      |  FROM rluma GROUP BY 1)""".stripMargin

  private def ppmRealContentCtes: String = ppmRealContentCtesOver("documents")

  /** The SCALE-ADAPTIVE band bucket join over `pfps` — ends at
    * `pcand(id_a, id_b)` (deduped, a < b). Band WIDTH mirrors
    * `Multimodal.recommendedBands`: the smallest b in [2,24] with
    * 150·2^b ≥ count(documents) (integer ⌈log2(n/150)⌉), rounded up to a
    * power of two and clamped to {4, 8, 16}; bands = 64 / width. Masked
    * extraction `(fp >> s) & (2^w − 1)` reads bits s..s+w−1 identically
    * under DuckDB's shift and Spark's `shiftright` + AND. */
  private def perceptualBandTailCtes: String =
    """pnn AS (SELECT count(*) AS n FROM documents),
      |pwb AS (SELECT CASE WHEN bb <= 4 THEN 4 WHEN bb <= 8 THEN 8 ELSE 16 END AS w FROM (
      |  SELECT greatest(2, coalesce((SELECT min(b) FROM generate_series(2, 24) g(b), pnn
      |           WHERE 150 * (CAST(1 AS BIGINT) << b) >= pnn.n), 24)) AS bb)),
      |pbands AS (SELECT unnest(generate_series(0, (64 // (SELECT w FROM pwb)) - 1)) AS band),
      |pbt AS (SELECT id, band,
      |    (fp >> (band * (SELECT w FROM pwb))) & ((CAST(1 AS BIGINT) << (SELECT w FROM pwb)) - 1) AS bucket
      |  FROM pfps CROSS JOIN pbands),
      |pcand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
      |  FROM pbt a JOIN pbt b ON a.band = b.band AND a.bucket = b.bucket
      |    AND a.id < b.id)""".stripMargin

  /** The 64-bit DERIVED-RADIUS tail (VERDICT r10 task 5 — the legacy
    * tier joins the rule the 128-bit family carries): `p64ham` holds
    * banded id pairs with their Hamming distance at the cap 12 (the
    * historical fixed default), `p64sw` counts them per grid radius
    * {4,6,8,10,12}, `p64rad` picks the largest radius whose pair count
    * stays within 16 pairs per fingerprint row (fallback: the
    * smallest) — `Multimodal.recommendedRadius64`'s SQL twin, so the
    * rule reproduces 12 wherever density is affordable and a drifting
    * radius is a hash mismatch. Shared by q336/q337/q338. */
  private def perceptual64SweepTailCtes: String =
    """p64ham AS (SELECT c.id_a, c.id_b,
      |    CAST(bit_count(xor(fa.fp, fb.fp)) AS BIGINT) AS ham
      |  FROM pcand c JOIN pfps fa ON c.id_a = fa.id
      |  JOIN pfps fb ON c.id_b = fb.id
      |  WHERE bit_count(xor(fa.fp, fb.fp)) <= 12),
      |p64sw AS (SELECT g.r, CAST(count(h.ham) AS BIGINT) AS n
      |  FROM (VALUES (4), (6), (8), (10), (12)) g(r)
      |  LEFT JOIN p64ham h ON h.ham <= g.r GROUP BY g.r),
      |p64rad AS (SELECT coalesce(max(r) FILTER (WHERE n <= 16 * (SELECT count(*) FROM pfps)), 4) AS rr
      |  FROM p64sw)""".stripMargin

  /** q32 oracle: the fake-decode features are pure functions of md5(text),
    * so DuckDB reproduces them with nibble arithmetic. `nib(k)` = value of
    * 1-based hex digit k of the digest. */
  private def decodeSql: String = {
    def nib(k: Int): String = s"(strpos('0123456789abcdef', substr(hx, $k, 1)) - 1)"
    def nibs(from: Int, n: Int): String =
      (0 until n).map(i => s"${nib(from + i)} * ${math.pow(16, n - 1 - i).toLong}")
        .mkString(" + ")
    s"""WITH h AS (
       |  SELECT doc_id, md5(text) AS hx,
       |    CAST(octet_length(encode(text)) AS BIGINT) AS bl
       |  FROM documents)
       |SELECT doc_id AS id, bl AS byteLen,
       |  CAST(16 + ((${nibs(1, 4)}) % 240) AS INTEGER) AS width,
       |  CAST(16 + ((${nibs(5, 4)}) % 240) AS INTEGER) AS height,
       |  CAST(3 AS INTEGER) AS channels,
       |  CAST(${nibs(9, 8)} AS DOUBLE) / 4294967296.0 AS meanLuma
       |FROM h""".stripMargin
  }

  // shared by the chunked (doc-modulo) oracle replays below
  private def chunkSrc = "(SELECT * FROM documents WHERE doc_id % <<NCHUNKS>> = <<CHUNK>>)"
  private def fps64(contentCtes: Option[String], rel: String): String =
    (contentCtes.map(c => s"WITH $c,\n").getOrElse("WITH ")) +
      s"${perceptualFpsCtesOver(rel)}\nSELECT id, fp FROM pfps"
  private def fps128(contentCtes: Option[String], rel: String): String =
    (contentCtes.map(c => s"WITH $c,\n").getOrElse("WITH ")) +
      s"${perceptual128FpsCtesOver(rel)}\nSELECT id, fph, fpl FROM pfps"
  private def pairs128 = s"WITH $perceptual128BandTailCtes\n$perceptual128PairSelect"
  private def pairs128IdOnly =
    s"SELECT id_a, id_b FROM (\n$pairs128)"
  private def videoPairs =
    s"""WITH $video128BandTailCtes
       |SELECT id_a // 64 AS id_a, id_b // 64 AS id_b,
       |  CAST(count(*) AS BIGINT) AS n_frames
       |FROM vver GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin

  val all: Seq[Query] = Seq(
    // blob GC audit: bytes held by media whose docs curation dropped
    Query("q159_orphan_audit", (s, dir) => {
      val docs = t(s, dir, "documents")
      graft.ops.Multimodal.orphanAudit(
        graft.ops.Multimodal.asMediaTable(docs, "doc_id", "text", "text"),
        docs.where(col("n_chars") >= 200), "doc_id")
    },
      // q159: utf-8 byte accounting over the kept-docs reference set
      """WITH m AS (
        |  SELECT doc_id AS id,
        |    CAST(octet_length(encode(text)) AS BIGINT) AS bytes
        |  FROM documents),
        |r AS (SELECT DISTINCT doc_id FROM documents WHERE n_chars >= 200)
        |SELECT CAST(count(*) AS BIGINT) AS n_media,
        |  CAST(count(*) FILTER (WHERE r.doc_id IS NULL) AS BIGINT) AS n_orphans,
        |  CAST(coalesce(sum(m.bytes), 0) AS BIGINT) AS bytes_total,
        |  CAST(coalesce(sum(m.bytes) FILTER (WHERE r.doc_id IS NULL), 0) AS BIGINT)
        |    AS bytes_orphaned,
        |  CASE WHEN coalesce(sum(m.bytes), 0) = 0 THEN 0.0
        |       ELSE round(coalesce(sum(m.bytes) FILTER (WHERE r.doc_id IS NULL), 0)
        |         / CAST(sum(m.bytes) AS DOUBLE), 6) END AS orphan_bytes_share
        |FROM m LEFT JOIN r ON m.id = r.doc_id""".stripMargin),
    Query("q31_multimodal_meta", (s, dir) =>
      Multimodal.metadataOnly(
        Multimodal.asMediaTable(t(s, dir, "documents"), "doc_id", "text", "text")),
      """SELECT doc_id AS id, CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
        |  md5(text) AS content_hash, 'text' AS kind
        |FROM documents""".stripMargin),
    Query("q32_multimodal_decode", (s, dir) =>
      Multimodal.fakeDecode(s, Multimodal.asMediaTable(
        t(s, dir, "documents"), "doc_id", "text", "text")).toDF(),
      decodeSql),
    // perceptual near-dup over the BINARY column: decode (stub) → SimHash-64
    // over content 4-grams → banded bucket join → Hamming ≤ 12 verify —
    // the image-dedup shape with the media dropped in at the decode slot.
    // Band count is SCALE-ADAPTIVE as registered (Multimodal.
    // recommendedBands: width from the occupancy rule rounded to a
    // power of two, bands = 64/width ∈ {16,8,4}) — the SCALE10X remedy
    // for the frozen 8-band calibration that ran 22.5× on a 10× corpus.
    // At sf0.1 (5k docs) this derives the same 8×8-bit plan the frozen
    // entry shipped; the oracle mirrors the arithmetic from count(*).
    // tableRebalanced: the fingerprint kernel is the CPU hot spot and a
    // single-file corpus arrives as ONE scan partition (the documented
    // single-core pitfall; no-op at real scale)
    Query("q336_perceptual_neardup", (s, dir) => {
      val docs = graft.core.Tables.tableRebalanced(s, dir, "documents")
      // radius DERIVED since r11 (tierRadius "text64" — the legacy tier
      // joins the rule the 128-bit family carries; lands at the
      // historical 12 wherever density is affordable)
      tierPairs(s, dir, "text64")
    },
      // q336: every fingerprint BIT replayed — per content 4-gram the first
      // 16 md5 hex chars form the 64-bit vote word (char c, nibble bit b ↔
      // bit 64−4c+b); the (c, value) count grid folds the votes, nibbles
      // reassemble via a 16-row multiplier table in HUGEINT with a two's-
      // complement wrap to BIGINT, then the same SCALE-ADAPTIVE band bucket
      // join (width from count(documents), perceptualBandTailCtes) +
      // Hamming ≤ 12 verify as the Scala plan
      s"""WITH $perceptualFpsCtes,
         |$perceptualBandTailCtes,
         |$perceptual64SweepTailCtes
         |SELECT id_a, id_b, ham AS hamming
         |FROM p64ham WHERE ham <= (SELECT rr FROM p64rad)""".stripMargin,
      chunked = Some(ChunkedOracle(
        Seq(ChunkStage("pfps", fps64(None, chunkSrc), chunked = true)),
        s"""WITH $perceptualBandTailCtes,
           |$perceptual64SweepTailCtes
           |SELECT id_a, id_b, ham AS hamming
           |FROM p64ham WHERE ham <= (SELECT rr FROM p64rad)""".stripMargin))),
    // REAL container decode in the decode slot (not the md5-feature stub):
    // synthesize byte-correct RIFF/WAVE PCM16 payloads (samples from the
    // row's md5 chain so the oracle replays them WITHOUT byte parsing),
    // then parse them back with an actual RIFF parser — magic checks,
    // little-endian header fields, a sample fold to exact-integer
    // features. MP3/FLAC decoders drop into the same mapPartitions slot.
    Query("q346_wav_decode", (s, dir) => {
      val docs = graft.core.Tables.tableRebalanced(s, dir, "documents")
      Multimodal.decodeWav(s,
        Multimodal.synthesizeWav(s, docs, "doc_id", "text", 32, 16000))
    },
      // q346: every PCM sample replayed from the md5 chain — block j's 16
      // digest bytes are 8 little-endian int16s (high hex pair || low), the
      // features are exact integer folds
      """WITH bl AS (SELECT doc_id, text, unnest(generate_series(0, 3)) AS j
        |  FROM documents WHERE text IS NOT NULL),
        |hx AS (SELECT doc_id, j, md5(text || ':' || j) AS h FROM bl),
        |smp AS (SELECT doc_id,
        |    CAST(('0x' || substr(h, 4 * s + 3, 2) || substr(h, 4 * s + 1, 2)) AS INTEGER) AS u
        |  FROM hx CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS s)),
        |sv AS (SELECT doc_id, CASE WHEN u >= 32768 THEN u - 65536 ELSE u END AS v FROM smp)
        |SELECT doc_id AS id, CAST(16000 AS INTEGER) AS sample_rate,
        |  CAST(count(*) AS BIGINT) AS n_samples,
        |  CAST(sum(CAST(v AS BIGINT) * v) AS BIGINT) AS sum_sq,
        |  CAST(max(abs(v)) AS BIGINT) AS peak
        |FROM sv GROUP BY 1""".stripMargin),
    // the image twin: byte-correct binary Netpbm P6 payloads (ASCII
    // header + md5-chain RGB planes), decoded by a real header parser +
    // channel-sum fold; JPEG/PNG decoders drop into the same slot
    Query("q347_ppm_decode", (s, dir) => {
      val docs = graft.core.Tables.tableRebalanced(s, dir, "documents")
      Multimodal.decodePpm(s,
        Multimodal.synthesizePpm(s, docs, "doc_id", "text", 4, 4))
    },
      // q347: the 48 pixel bytes (4×4 RGB) replayed bytewise from the
      // ':img:' md5 chain; channel = byte index mod 3
      """WITH bl AS (SELECT doc_id, text, unnest(generate_series(0, 2)) AS j
        |  FROM documents WHERE text IS NOT NULL),
        |hx AS (SELECT doc_id, j, md5(text || ':img:' || j) AS h FROM bl),
        |bytes AS (SELECT doc_id, j * 16 + m AS k,
        |    CAST(('0x' || substr(h, 2 * m + 1, 2)) AS INTEGER) AS v
        |  FROM hx CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS m))
        |SELECT doc_id AS id, CAST(4 AS INTEGER) AS width, CAST(4 AS INTEGER) AS height,
        |  CAST(sum(CASE WHEN k % 3 = 0 THEN v END) AS BIGINT) AS sum_r,
        |  CAST(sum(CASE WHEN k % 3 = 1 THEN v END) AS BIGINT) AS sum_g,
        |  CAST(sum(CASE WHEN k % 3 = 2 THEN v END) AS BIGINT) AS sum_b
        |FROM bytes GROUP BY 1""".stripMargin),
    // CONTAINER-TRUE perceptual near-dup (VERDICT r7 #1): the fingerprint
    // input is REAL DECODED PIXELS, not the utf-8 stub — synthesize a
    // binary Netpbm P6 per row whose 16-byte pixel blocks sample the
    // text's words (block j keys md5 on word ⌊j·nWords/12⌋, so texts
    // differing in a few words decode to images differing in a few
    // blocks — the local-edit structure a perceptual hash exists to
    // capture), parse it back with the real P6 parser, fingerprint the
    // decoded per-pixel luma grid, band-join on the SimHash. Since r9 the
    // chain rides the 128-BIT tier (VERDICT r8 #1: the measured width-cap
    // remedy — threshold 24/128, the same 3/16 proportional radius as the
    // old 12/64; width derived by the {4,8,16,32} rule). The md5-chain
    // synthesis keeps every pixel byte — and therefore every fingerprint
    // bit — oracle-replayable WITHOUT byte parsing (the q346/q347 device).
    Query("q348_ppm_neardup_real", (s, dir) => tierPairs(s, dir, "ppm"),
      // q348: the container-true chain — decoded-luma content (rdocs)
      // replayed from the word-sampled md5 chain, then the 128-BIT
      // fingerprint grid + {4,8,16,32}-width band tail (q364's device; pnn
      // still counts documents, the corpus the Scala side calibrates on)
      s"""WITH $ppmRealContentCtes,
         |${perceptual128FpsCtesOver("rdocs")},
         |$perceptual128BandTailCtes
         |$perceptual128PairSelect""".stripMargin,
      chunked = Some(ChunkedOracle(
        Seq(ChunkStage("pfps",
          fps128(Some(ppmRealContentCtesOver(chunkSrc)), "rdocs"), chunked = true)),
        pairs128))),
    // the container-true chain's recall contract (q337's device over real
    // decoded pixels, at 128 bits): banded pairs vs the exact Hamming
    // pair set at the same adaptive width, subset pinned TRUE
    Query("q349_ppm_recall_real", (s, dir) => {
      val docs = graft.core.Tables.tableRebalanced(s, dir, "documents")
      Multimodal.perceptualRecallContract128On(tierFps(s, dir, "ppm"),
        Multimodal.recommendedWidth128(cachedCount(s, dir, "documents")(docs)),
        tierRadius(s, dir, "ppm"),
        bandedGen = Some(tierPairs(s, dir, "ppm")))
    },
      // q349: q365's recall-contract tail over the container-true
      // fingerprints; subset pinned TRUE
      s"""WITH $ppmRealContentCtes,
         |${perceptual128FpsCtesOver("rdocs")},
         |$perceptual128BandTailCtes,
         |$perceptual128RecallTail""".stripMargin),
    // the audio twin of q348 (VERDICT r7 #1 asked for "luma grid / PCM
    // samples" — this is the PCM half): word-sampled RIFF/WAVE PCM16
    // synthesis, REAL RIFF parse back to the signed sample stream,
    // SimHash-128 over the decoded samples, banded Hamming pairs
    Query("q352_wav_neardup_real", (s, dir) => tierPairs(s, dir, "wav"),
      // q352: the audio container-true chain — decoded-PCM content (wdocs)
      // replayed from the word-sampled md5 chain, then the SAME 128-bit
      // grid + band tail as q348
      s"""WITH $wavRealContentCtes,
         |${perceptual128FpsCtesOver("wdocs")},
         |$perceptual128BandTailCtes
         |$perceptual128PairSelect""".stripMargin,
      chunked = Some(ChunkedOracle(
        Seq(ChunkStage("pfps",
          fps128(Some(wavRealContentCtesOver(chunkSrc)), "wdocs"), chunked = true)),
        pairs128))),
    // its recall contract (q349's device over decoded PCM)
    Query("q353_wav_recall_real", (s, dir) => {
      val docs = graft.core.Tables.tableRebalanced(s, dir, "documents")
      Multimodal.perceptualRecallContract128On(tierFps(s, dir, "wav"),
        Multimodal.recommendedWidth128(cachedCount(s, dir, "documents")(docs)),
        tierRadius(s, dir, "wav"),
        bandedGen = Some(tierPairs(s, dir, "wav")))
    },
      // q353: the recall-contract tail over the decoded-PCM fingerprints
      s"""WITH $wavRealContentCtes,
         |${perceptual128FpsCtesOver("wdocs")},
         |$perceptual128BandTailCtes,
         |$perceptual128RecallTail""".stripMargin),
    // REAL frame-sampled VIDEO decode — the temporal member of the
    // container-true family (q346 audio, q347 image): synthesize a real
    // YUV4MPEG2 C444 stream per row (8 frames of 4×4, word-sampled
    // md5-chain planes), parse it back with the byte-level Y4M parser
    // sampling every 2nd frame, and emit each sampled frame's decoded
    // luma grid — every plane byte oracle-replayable without byte parsing
    Query("q354_y4m_frame_sample", (s, dir) => {
      val docs = graft.core.Tables.tableRebalanced(s, dir, "documents")
      Multimodal.y4mLumaFrames(s,
        Multimodal.synthesizeY4mFromWords(s, docs, "doc_id", "text", 4, 4, 8), 2)
    },
      // q354: every SAMPLED frame's decoded luma grid replayed byte-exact
      // from the word-sampled ':pxvid:' md5 chain — frames 0,2,4,6, one
      // content row per (video, frame)
      s"""WITH $y4mRealContentCtes
         |SELECT doc_id AS id, CAST(f AS BIGINT) AS frame,
         |  string_agg(CAST(v AS VARCHAR), ' ' ORDER BY k) AS content
         |FROM vbytes GROUP BY 1, 2""".stripMargin),
    // FRAME-ALIGNED video near-dup: per-sampled-frame SimHash-128 over
    // the REAL decoded luma grids, banded Hamming join with the frame
    // index in the band key (a frame only vouches for its temporal
    // counterpart), then videos pair when ≥ 2 of their 4 sampled frames
    // match — the temporal composition of the q348 chain; band width
    // derives from the sampled-frame row count (4·|documents|). THE
    // query VERDICT r8 measured the 64-bit width cap on (306.7 s /
    // 453.9 M noise pairs at 100×): it now rides the 128-bit tier
    Query("q355_y4m_neardup_real", (s, dir) => tierPairs(s, dir, "y4m"),
      // q355: the frame-aligned video near-dup — per-frame 128-bit
      // fingerprint grid over composite ids (doc·64+frame), the
      // {4,8,16,32}-width band tail with the frame index in the join key,
      // then ≥ 2 matched sampled frames per video pair
      s"""WITH $y4mRealContentCtes,
         |${perceptual128FpsCtesOver("vdocs")},
         |$video128BandTailCtes
         |SELECT id_a // 64 AS id_a, id_b // 64 AS id_b,
         |  CAST(count(*) AS BIGINT) AS n_frames
         |FROM vver GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin,
      chunked = Some(ChunkedOracle(
        Seq(ChunkStage("pfps",
          fps128(Some(y4mRealContentCtesOver(chunkSrc)), "vdocs"), chunked = true)),
        videoPairs))),
    // scene-change (shot-boundary) detection: Hamming delta between
    // consecutive sampled-frame fingerprints of the same video, cut when
    // > 32 of 128 bits flip (the old 16/64 radius, proportionally) —
    // composes with the same fingerprint frame
    Query("q356_y4m_scene_change", (s, dir) =>
      Multimodal.videoSceneChanges128(tierFps(s, dir, "y4m"), 2, 32),
      // q356: shot-boundary detection — 128-bit Hamming delta between
      // consecutive sampled-frame fingerprints (composite ids two apart
      // within a video), cut when > 32 of 128 bits flip
      s"""WITH $y4mRealContentCtes,
         |${perceptual128FpsCtesOver("vdocs")}
         |SELECT a.id // 64 AS id, CAST(a.id % 64 AS BIGINT) AS frame_from,
         |  CAST(b.id % 64 AS BIGINT) AS frame_to,
         |  CAST(bit_count(xor(a.fph, b.fph)) + bit_count(xor(a.fpl, b.fpl)) AS BIGINT) AS hamming,
         |  bit_count(xor(a.fph, b.fph)) + bit_count(xor(a.fpl, b.fpl)) > 32 AS is_cut
         |FROM pfps a JOIN pfps b
         |  ON a.id // 64 = b.id // 64 AND b.id % 64 = a.id % 64 + 2""".stripMargin,
      chunked = Some(ChunkedOracle(
        Seq(ChunkStage("pfps",
          fps128(Some(y4mRealContentCtesOver(chunkSrc)), "vdocs"), chunked = true)),
        """SELECT a.id // 64 AS id, CAST(a.id % 64 AS BIGINT) AS frame_from,
          |  CAST(b.id % 64 AS BIGINT) AS frame_to,
          |  CAST(bit_count(xor(a.fph, b.fph)) + bit_count(xor(a.fpl, b.fpl)) AS BIGINT) AS hamming,
          |  bit_count(xor(a.fph, b.fph)) + bit_count(xor(a.fpl, b.fpl)) > 32 AS is_cut
          |FROM pfps a JOIN pfps b
          |  ON a.id // 64 = b.id // 64 AND b.id % 64 = a.id % 64 + 2""".stripMargin))),
    // 128-BIT perceptual near-dup — the measured width-cap remedy: the
    // 64-bit tier's bands max out at 16-bit buckets (q336 read 18×/decade
    // at 100×, q355 25× — occupancy grows past ~10⁶ items), while 128
    // bits admit 32-bit bands whose occupancy stays bounded through ~10⁹
    // items at the same ≥ 4-band recall floor. Same SimHash votes, same
    // md5 (the full 16-byte digest instead of half), every bit replayed
    Query("q364_perceptual128_neardup", (s, dir) => tierPairs(s, dir, "text"),
      // q364: the 128-bit grid (chars 1–32 → fph/fpl), the {4,8,16,32}
      // width rule, and the two-half Hamming verify — every bit replayed
      s"""WITH ${perceptual128FpsCtesOver("documents")},
         |$perceptual128BandTailCtes
         |$perceptual128PairSelect""".stripMargin,
      chunked = Some(ChunkedOracle(
        Seq(ChunkStage("pfps", fps128(None, chunkSrc), chunked = true)),
        pairs128))),
    // its recall contract (q337's device at 128 bits, at the SAME
    // derived radius as q364 — cap 24, the 3/16 proportional default)
    Query("q365_perceptual128_recall", (s, dir) => {
      val docs = graft.core.Tables.tableRebalanced(s, dir, "documents")
      Multimodal.perceptualRecallContract128On(tierFps(s, dir, "text"),
        Multimodal.recommendedWidth128(cachedCount(s, dir, "documents")(docs)),
        tierRadius(s, dir, "text"),
        bandedGen = Some(tierPairs(s, dir, "text")))
    },
      // q365: the recall-contract tail at 128 bits
      s"""WITH ${perceptual128FpsCtesOver("documents")},
         |$perceptual128BandTailCtes,
         |$perceptual128RecallTail""".stripMargin),
    // the VIDEO tier's recall ledger (VERDICT r8 task 6 — the width
    // rule's recall price contract-checked on the modality where the
    // 64-bit cap actually bound): frame-aligned banded pairs at the
    // derived width vs the exact frame-aligned judge, both on the
    // deterministic 1-in-5 video subsample (the production shape of a
    // recall audit — the exact judge shrinks 25×, the ratio estimate
    // stands); subset pinned TRUE
    Query("q367_video128_recall", (s, dir) => {
      val docs = graft.core.Tables.tableRebalanced(s, dir, "documents")
      Multimodal.videoRecallContract128(tierFps(s, dir, "y4m"),
        Multimodal.recommendedWidth128(4L * cachedCount(s, dir, "documents")(docs)),
        tierRadius(s, dir, "y4m_sub5"), 2, 5)
    },
      // q367: the video recall ledger — the 128-bit frame grid over the
      // 1-in-5 video subsample (sfps), the SAME width derivation as q355
      // (vnn counts the FULL sampled-frame corpus — the registered
      // calibration), banded video pairs (vver → ≥ 2 frames) vs the exact
      // frame-aligned judge; subset pinned TRUE
      s"""WITH $y4mRealContentCtes,
         |${perceptual128FpsCtesOver("vdocs")},
         |sfps AS (SELECT * FROM pfps WHERE (id // 64) % 5 = 0),
         |${video128BandTailCtesOver("sfps")},
         |vband AS (SELECT id_a // 64 AS id_a, id_b // 64 AS id_b
         |  FROM vver GROUP BY 1, 2 HAVING count(*) >= 2),
         |vex AS (SELECT a.id // 64 AS id_a, b.id // 64 AS id_b
         |  FROM sfps a JOIN sfps b
         |    ON a.id % 64 = b.id % 64 AND a.id // 64 < b.id // 64
         |  WHERE bit_count(xor(a.fph, b.fph)) + bit_count(xor(a.fpl, b.fpl))
         |    <= (SELECT rr FROM vrad)
         |  GROUP BY 1, 2 HAVING count(*) >= 2),
         |e AS (SELECT CAST(count(*) AS BIGINT) AS n_exact FROM vex),
         |bn AS (SELECT CAST(count(*) AS BIGINT) AS n_banded FROM vband)
         |SELECT (SELECT w FROM vwb) AS width, n_exact, n_banded,
         |  CASE WHEN n_exact = 0 THEN 1.0
         |    ELSE round(CAST(n_banded AS DOUBLE) / n_exact, 6) END AS recall,
         |  TRUE AS banded_subset_exact
         |FROM e CROSS JOIN bn""".stripMargin),
    // LOSSY-codec (JPEG) ingest contract — the format class whose decode
    // CANNOT be SQL-replayed (DCT output is decoder-defined): real JDK
    // JPEG encode of the md5-chain grid, then the dual-decode device —
    // dims preserved, two independent encode+decode lineages
    // bit-identical, and mean |decoded − reference| per channel ≤ 72 —
    // measured 40.5–60.25 (avg 48.2) on md5-noise images, JPEG's
    // worst-case content, vs 85 for DECODE-PRODUCED-GARBAGE (mean |Δ| of
    // two independent uniform bytes), so the bound separates a working
    // codec from a broken one with margin on both sides — all
    // engine-measured, oracle-pinned booleans
    Query("q368_jpeg_lossy_contract", (s, dir) => {
      val docs = graft.core.Tables.tableRebalanced(s, dir, "documents")
      Multimodal.jpegLossyContract(s, docs, "doc_id", "text", 8, 8, 72.0)
    },
      // q368: the lossy-codec contract — the three engine-measured
      // properties (geometry, decode determinism, bounded error) are
      // booleans the oracle pins TRUE; n_images replays from the corpus
      """SELECT CAST(count(*) AS BIGINT) AS n_images, TRUE AS dims_match,
        |  TRUE AS decode_deterministic, TRUE AS mae_within_bound
        |FROM documents WHERE text IS NOT NULL""".stripMargin),
    // the RADIUS DECISION made auditable (VERDICT r9 #4): the banded
    // pair-density sweep behind the derived verify radius — exact
    // id-pair counts per grid radius from ONE banded join over DISTINCT
    // fingerprints (multiplicity products, no expansion), with the
    // chosen operating point flagged. The oracle replays rule and
    // counts (psw/prad), so a drifting radius is a hash mismatch
    Query("q369_hamming_radius_sweep", (s, dir) => {
      val docs = graft.core.Tables.tableRebalanced(s, dir, "documents")
      val n = cachedCount(s, dir, "documents")(docs)
      val sweep = graft.core.CacheRegistry.persist(
        Multimodal.hammingRadiusSweep128(tierFps(s, dir, "text"),
          Multimodal.recommendedWidth128(n), Seq(8, 12, 16, 20, 24)))
      val rr = sweep.agg(coalesce(
        max(when(col("n_pairs") <= lit(16.0 * n), col("radius"))),
        lit(8)).as("__rr"))
      sweep.crossJoin(rr).select(col("radius"), col("n_pairs"),
        (col("radius") === col("__rr")).as("chosen"))
    },
      // q369: the radius decision's ledger — the per-radius banded pair
      // counts (psw) and the rule's pick (prad), replayed by the same
      // CTEs every 128-bit pair oracle now derives its radius from
      s"""WITH ${perceptual128FpsCtesOver("documents")},
         |$perceptual128BandTailCtes
         |SELECT r AS radius, n AS n_pairs,
         |  r = (SELECT rr FROM prad) AS chosen
         |FROM psw""".stripMargin),
    // image RESIZE (the decode/feature-extract/resize/frame-sample
    // quartet's last member): real P6 parse, then 2×2 box-sum downsample
    // to a 4×4 grid in exact integer arithmetic — every output cell
    // replayed by the oracle from the ':pximg:' chain
    Query("q362_image_resize", (s, dir) => {
      val docs = graft.core.Tables.tableRebalanced(s, dir, "documents")
      Multimodal.resizePpmLuma(s,
        Multimodal.synthesizePpmFromWords(s, docs, "doc_id", "text", 8, 8), 2)
    },
      // q362: the box-sum pyramid cell (x, y) sums the lumas of pixels
      // px with (px%8)//2 = x and (px//8)//2 = y — integer-exact, replayed
      // from the same ':pximg:' chain as q348
      s"""WITH $ppmRealContentCtes
         |SELECT doc_id AS id, CAST((px % 8) // 2 AS BIGINT) AS x,
         |  CAST((px // 8) // 2 AS BIGINT) AS y,
         |  CAST(sum(luma) AS BIGINT) AS luma
         |FROM rluma GROUP BY 1, 2, 3""".stripMargin),
    // TRIMODAL consensus dedup — the capstone of the container-true
    // family: the image (real P6 decode, q348), audio (real RIFF parse,
    // q352), and video (frame-sampled Y4M, q355) near-dup pair sets vote;
    // a pair is a consensus duplicate when ≥ 2 of the 3 REAL-decoded
    // modalities agree, and single-modality hits stay visible as the
    // curation signal (re-encode, caption swap) they are
    Query("q361_trimodal_consensus", (s, dir) => {
      val img = tierPairs(s, dir, "ppm").select("id_a", "id_b")
      val aud = tierPairs(s, dir, "wav").select("id_a", "id_b")
      val vid = tierPairs(s, dir, "y4m").select("id_a", "id_b")
      Multimodal.modalityVote(
        Seq("image" -> img, "audio" -> aud, "video" -> vid), 2)
    },
      // q361: the three REAL-decoded modality pair chains (each a nested
      // WITH so the shared CTE names stay isolated, the q338 device),
      // composed on the normalized pair key by an N-way vote
      s"""WITH ipairs AS (SELECT id_a, id_b FROM (
         |  WITH $ppmRealContentCtes,
         |  ${perceptual128FpsCtesOver("rdocs")},
         |  $perceptual128BandTailCtes
         |  $perceptual128PairSelect)),
         |apairs AS (SELECT id_a, id_b FROM (
         |  WITH $wavRealContentCtes,
         |  ${perceptual128FpsCtesOver("wdocs")},
         |  $perceptual128BandTailCtes
         |  $perceptual128PairSelect)),
         |vpairs AS (SELECT id_a, id_b FROM (
         |  WITH $y4mRealContentCtes,
         |  ${perceptual128FpsCtesOver("vdocs")},
         |  $video128BandTailCtes
         |  SELECT id_a // 64 AS id_a, id_b // 64 AS id_b
         |  FROM vver GROUP BY 1, 2 HAVING count(*) >= 2)),
         |allm AS (
         |  SELECT id_a, id_b, 'image' AS m FROM ipairs
         |  UNION ALL SELECT id_a, id_b, 'audio' AS m FROM apairs
         |  UNION ALL SELECT id_a, id_b, 'video' AS m FROM vpairs)
         |SELECT id_a, id_b,
         |  bool_or(m = 'image') AS in_image,
         |  bool_or(m = 'audio') AS in_audio,
         |  bool_or(m = 'video') AS in_video,
         |  CAST(count(DISTINCT m) AS BIGINT) AS n_modalities,
         |  count(DISTINCT m) >= 2 AS consensus
         |FROM allm GROUP BY 1, 2""".stripMargin,
      chunked = Some(ChunkedOracle(
        Seq(
          ChunkStage("pfps",
            fps128(Some(ppmRealContentCtesOver(chunkSrc)), "rdocs"), chunked = true),
          ChunkStage("ipairs", pairs128IdOnly, chunked = false),
          ChunkStage("pfps",
            fps128(Some(wavRealContentCtesOver(chunkSrc)), "wdocs"), chunked = true),
          ChunkStage("apairs", pairs128IdOnly, chunked = false),
          ChunkStage("pfps",
            fps128(Some(y4mRealContentCtesOver(chunkSrc)), "vdocs"), chunked = true),
          ChunkStage("vpairs",
            s"SELECT id_a, id_b FROM (\n$videoPairs)", chunked = false)),
        """WITH allm AS (
          |  SELECT id_a, id_b, 'image' AS m FROM ipairs
          |  UNION ALL SELECT id_a, id_b, 'audio' AS m FROM apairs
          |  UNION ALL SELECT id_a, id_b, 'video' AS m FROM vpairs)
          |SELECT id_a, id_b,
          |  bool_or(m = 'image') AS in_image,
          |  bool_or(m = 'audio') AS in_audio,
          |  bool_or(m = 'video') AS in_video,
          |  CAST(count(DISTINCT m) AS BIGINT) AS n_modalities,
          |  count(DISTINCT m) >= 2 AS consensus
          |FROM allm GROUP BY 1, 2""".stripMargin))),
    // compressed-TEXT ingestion: gzip every document into a real RFC-1952
    // blob, inflate it back through the JDK codec, and run the first
    // curation steps (char/word counts) on the DECODED content — the
    // oracle reads the original text directly, so the row hashing pins
    // the decompress-then-curate chain lossless end to end
    Query("q360_gzip_ingest", (s, dir) => {
      val docs = graft.core.Tables.tableRebalanced(s, dir, "documents")
      Multimodal.gunzipContent(s,
          Multimodal.gzipPayloads(s, docs, "doc_id", "text"))
        .select(col("id"), col("content"),
          length(col("content")).cast("long").as("n_chars"),
          size(split(col("content"), " ", -1)).cast("long").as("n_words"))
    },
      // q360: the gzip round trip is lossless, so the oracle IS the
      // original text — any divergence in content or the counts derived
      // from it means the compress/inflate chain corrupted a byte
      """SELECT doc_id AS id, text AS content,
        |  CAST(len(text) AS BIGINT) AS n_chars,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words
        |FROM documents WHERE text IS NOT NULL""".stripMargin),
    // ENTROPY-CODED decode through the REAL JDK codec: synthesize a real
    // PNG per row (IHDR/IDAT/IEND, DEFLATE-compressed — the format class
    // VERDICT r7 filed as sandbox-blocked; javax.imageio ships in every
    // JDK), decode it back with ImageIO, fold exact channel sums. PNG is
    // lossless, so the decoded pixels replay from the md5 chain exactly
    Query("q357_png_decode", (s, dir) => {
      val docs = graft.core.Tables.tableRebalanced(s, dir, "documents")
      Multimodal.decodeImage(s,
        Multimodal.synthesizePngFromWords(s, docs, "doc_id", "text", 8, 8))
    },
      // q357: the codec decode's channel sums replayed from the ':pxpng:'
      // chain — valid because PNG is lossless (decoded grid == synthesized
      // grid); channel = byte index mod 3
      s"""WITH $pngRealContentCtes
         |SELECT doc_id AS id, CAST(8 AS INTEGER) AS width,
         |  CAST(8 AS INTEGER) AS height,
         |  CAST(sum(CASE WHEN k % 3 = 0 THEN v END) AS BIGINT) AS sum_r,
         |  CAST(sum(CASE WHEN k % 3 = 1 THEN v END) AS BIGINT) AS sum_g,
         |  CAST(sum(CASE WHEN k % 3 = 2 THEN v END) AS BIGINT) AS sum_b
         |FROM gbytes GROUP BY 1""".stripMargin),
    // codec-true perceptual near-dup: the q348 chain with the raw P6
    // container swapped for compressed PNG and the byte-level parser
    // swapped for the real codec — 128-bit fingerprints of
    // DEFLATE-decoded pixels
    Query("q358_png_neardup_real", (s, dir) => tierPairs(s, dir, "png"),
      // q358: the codec-true chain — DEFLATE-decoded luma content (gdocs),
      // then the SAME 128-bit grid + band tail as q348
      s"""WITH $pngRealContentCtes,
         |${perceptual128FpsCtesOver("gdocs")},
         |$perceptual128BandTailCtes
         |$perceptual128PairSelect""".stripMargin,
      chunked = Some(ChunkedOracle(
        Seq(ChunkStage("pfps",
          fps128(Some(pngRealContentCtesOver(chunkSrc)), "gdocs"), chunked = true)),
        pairs128))),
    // its recall contract (q349's device over codec-decoded pixels)
    Query("q359_png_recall_real", (s, dir) => {
      val docs = graft.core.Tables.tableRebalanced(s, dir, "documents")
      Multimodal.perceptualRecallContract128On(tierFps(s, dir, "png"),
        Multimodal.recommendedWidth128(cachedCount(s, dir, "documents")(docs)),
        tierRadius(s, dir, "png"),
        bandedGen = Some(tierPairs(s, dir, "png")))
    },
      // q359: the recall-contract tail over the codec-true fingerprints
      s"""WITH $pngRealContentCtes,
         |${perceptual128FpsCtesOver("gdocs")},
         |$perceptual128BandTailCtes,
         |$perceptual128RecallTail""".stripMargin),
    // the banded perceptual path's recall vs the exact Hamming pair set,
    // driver-checked (the q217 contract device for the media tier), at
    // the same adaptive band count q336 registers
    Query("q337_perceptual_recall", (s, dir) => {
      val docs = graft.core.Tables.tableRebalanced(s, dir, "documents")
      Multimodal.perceptualRecallContractOn(tierFps(s, dir, "text64"),
        Multimodal.recommendedBands(cachedCount(s, dir, "documents")(docs)),
        tierRadius(s, dir, "text64"),
        bandedGen = Some(tierPairs(s, dir, "text64")))
    },
      // q337: the q217 recall-contract device for the perceptual tier —
      // exact Hamming pair count vs the banded set's; subset pinned TRUE
      // (the banded path verifies with the same exact filter)
      s"""WITH $perceptualFpsCtes,
         |$perceptualBandTailCtes,
         |$perceptual64SweepTailCtes,
         |banded AS (SELECT id_a, id_b
         |  FROM p64ham WHERE ham <= (SELECT rr FROM p64rad)),
         |ex AS (SELECT CAST(count(*) AS BIGINT) AS n_exact
         |  FROM pfps a JOIN pfps b ON a.id < b.id
         |  WHERE bit_count(xor(a.fp, b.fp)) <= (SELECT rr FROM p64rad)),
         |bn AS (SELECT CAST(count(*) AS BIGINT) AS n_banded FROM banded)
         |SELECT n_exact, n_banded,
         |  CASE WHEN n_exact = 0 THEN 1.0
         |    ELSE round(CAST(n_banded AS DOUBLE) / n_exact, 6) END AS recall,
         |  TRUE AS banded_subset_exact
         |FROM ex CROSS JOIN bn""".stripMargin),
    // paired-modality consensus: text near-dups x perceptual near-dups on
    // the normalized pair key - both-agree is the high-confidence drop set
    Query("q338_crossmodal_consensus", (s, dir) => {
      val docs = graft.core.Tables.tableRebalanced(s, dir, "documents")
      Multimodal.crossModalConsensus(
        // jaccard rides UNROUNDED: both engines divide identical integer
        // operands (the q21 parity device), so the doubles already match
        jacPairs05(s, dir),
        "id_a", "id_b", "jaccard",
        tierPairs(s, dir, "text64"),
        "id_a", "id_b", "hamming")
    },
      // q338: both modality pair oracles composed on the normalized pair key
      s"""WITH sh AS (${shingleSql(3)}),
         |tpairs AS (
         |  SELECT * FROM (
         |    WITH pairs AS (
         |      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
         |      FROM sh a JOIN sh b ON a.shingle = b.shingle
         |        AND a.doc_id < b.doc_id
         |      GROUP BY 1, 2),
         |    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1)
         |    SELECT p.id_a, p.id_b,
         |      CAST(p.n_common AS DOUBLE)
         |        / CAST(sa.n_sh + sb.n_sh - p.n_common AS DOUBLE) AS text_score
         |    FROM pairs p JOIN sizes sa ON p.id_a = sa.doc_id
         |    JOIN sizes sb ON p.id_b = sb.doc_id
         |    WHERE CAST(p.n_common AS DOUBLE)
         |      / CAST(sa.n_sh + sb.n_sh - p.n_common AS DOUBLE) >= 0.5)),
         |$perceptualFpsCtes,
         |$perceptualBandTailCtes,
         |$perceptual64SweepTailCtes,
         |mpairs AS (SELECT id_a, id_b, ham AS media_hamming
         |  FROM p64ham WHERE ham <= (SELECT rr FROM p64rad))
         |SELECT coalesce(t.id_a, m.id_a) AS id_a,
         |  coalesce(t.id_b, m.id_b) AS id_b,
         |  t.text_score, m.media_hamming,
         |  t.id_a IS NOT NULL AS in_text,
         |  m.id_a IS NOT NULL AS in_media,
         |  t.id_a IS NOT NULL AND m.id_a IS NOT NULL AS consensus
         |FROM tpairs t FULL OUTER JOIN mpairs m
         |  ON t.id_a = m.id_a AND t.id_b = m.id_b""".stripMargin)
  )
}
