package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  private def media = Multimodal.asMediaTable(
    Seq((1L, "hello"), (2L, "")).toDF("id", "content"), "id", "content", "text")

  test("asMediaTable: payload bytes + typed metadata struct") {
    media.schema.fieldNames shouldBe Array("id", "payload", "meta")
    val r = media.select($"id", $"meta.byteLen", $"meta.kind")
      .as[(Long, Long, String)].collect().toSet
    r shouldBe Set((1L, 5L, "text"), (2L, 0L, "text"))
  }

  test("metadataOnly prunes the payload column from the plan") {
    val plan = Multimodal.metadataOnly(media).queryExecution.optimizedPlan
    // the payload column must not survive into the optimized projection
    plan.output.map(_.name) should not contain "payload"
  }

  test("fakeDecode: md5-derived features, partition-wise contract") {
    val d1 = Multimodal.fakeDecode(spark, media).collect().sortBy(_.id)
    val d2 = Multimodal.fakeDecode(spark, media.repartition(3)).collect().sortBy(_.id)
    d1 shouldBe d2 // partitioning must not change results
    d1.map(_.id).toSeq shouldBe Seq(1L, 2L)
    val f = d1.head
    f.byteLen shouldBe 5L
    f.channels shouldBe 3
    // md5("hello") = 5d41402abc4b2a76b9719d911017c592; features are pinned
    // nibble arithmetic over it (what the DuckDB oracle recomputes)
    val hx = "5d41402abc4b2a76b9719d911017c592"
    f.width shouldBe 16 + (java.lang.Long.parseLong(hx.substring(0, 4), 16) % 240).toInt
    f.height shouldBe 16 + (java.lang.Long.parseLong(hx.substring(4, 8), 16) % 240).toInt
    f.meanLuma shouldBe java.lang.Long.parseLong(hx.substring(8, 16), 16).toDouble / 4294967296.0
    // empty payload decodes from md5("") — no crash, still deterministic
    d1(1).byteLen shouldBe 0L
    val he = "d41d8cd98f00b204e9800998ecf8427e"
    d1(1).width shouldBe 16 + (java.lang.Long.parseLong(he.substring(0, 4), 16) % 240).toInt
  }

  test("perceptualHash64: deterministic, locality-sensitive over small " +
    "edits, 0 for empty/short content") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      // one-word edit of doc 1: most 4-gram shingles survive
      (2L, "the quick brown fox jumps over the lazy cat again and again"),
      // unrelated content
      (3L, "completely different text with nothing shared at all here"),
      (4L, ""), (5L, "abc")).toDF("id", "content")
    val m = Multimodal.asMediaTable(docs, "id", "content", "text")
    val fp = Multimodal.perceptualHash64(spark, m)
      .as[(Long, Long)].collect().toMap
    fp(4L) shouldBe 0L // no 4-grams
    fp(5L) shouldBe 0L // 3 chars < one shingle
    // rerun: bit-identical (pure function of content)
    Multimodal.perceptualHash64(spark, m).as[(Long, Long)]
      .collect().toMap shouldBe fp
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    // near-dup pair is much closer than either is to the unrelated doc
    ham(fp(1L), fp(2L)) should be < 16
    ham(fp(1L), fp(3L)) should be > ham(fp(1L), fp(2L))
  }

  test("perceptualHash64 kernel == aggregation witness, incl. multibyte " +
    "code points and degenerate content") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "héllo wörld — naïve façade über café"),
      (3L, "中文文本去重测试 一二三四五六七八九十"),
      (4L, "mixed 中en文 and ascii ümlauts"),
      (5L, ""), (6L, "abc"), (7L, "abcd"),
      (8L, "aaaaaaaaaaaaaaaaaaaaaaaa")).toDF("id", "content")
    val m = Multimodal.asMediaTable(docs, "id", "content", "text")
    val kernel = Multimodal.perceptualHash64(spark, m)
      .as[(Long, Long)].collect().toMap
    val witness = EquivalenceWitnesses.perceptualHash64Agg(m)
      .as[(Long, Long)].collect().toMap
    witness shouldBe kernel
    kernel(5L) shouldBe 0L
    kernel(6L) shouldBe 0L
    kernel(7L) should not be 0L // exactly one shingle: its own bits
  }

  test("perceptualNearDupPairs: banded Hamming join finds the planted " +
    "near-dup, excludes the unrelated doc, a < b, exact dups at 0") {
    val base = "the quick brown fox jumps over the lazy dog " * 6
    val docs = Seq(
      (1L, base + "and then it sleeps"),
      (2L, base + "and then it snores"), // small suffix edit of doc 1
      (3L, "completely different text with nothing shared at all here"),
      (6L, base + "and then it sleeps")) // exact dup of doc 1
      .toDF("id", "content")
    val m = Multimodal.asMediaTable(docs, "id", "content", "text")
    val pairs = graft.core.CacheRegistry.scoped {
      Multimodal.perceptualNearDupPairs(spark, m, 8, 12)
        .as[(Long, Long, Long)].collect().toSet
    }
    graft.core.CacheRegistry.drain()
    pairs should contain ((1L, 6L, 0L)) // exact dup: identical fingerprint
    pairs.map(p => (p._1, p._2)) should contain ((1L, 2L))
    all(pairs.map(_._3)) should be <= 12L
    pairs.foreach { case (a, b, _) => a should be < b }
    pairs.map(p => (p._1, p._2)) should not contain ((1L, 3L))
    an[IllegalArgumentException] should be thrownBy
      Multimodal.perceptualNearDupPairs(spark, m, 7, 12)
  }

  test("perceptualRecallContract: banded is a subset of exact, recall in " +
    "(0, 1], counts consistent") {
    val base = "the quick brown fox jumps over the lazy dog " * 6
    val docs = (1L to 8L).map(i => (i, base + s"tail word $i")).toDF("id", "content")
    val m = Multimodal.asMediaTable(docs, "id", "content", "text")
    val r = graft.core.CacheRegistry.scoped {
      Multimodal.perceptualRecallContract(spark, m, 8, 12).head()
    }
    graft.core.CacheRegistry.drain()
    // bandedGen form (round 11): the maintained banded pair frame passed
    // into the On-variant must reproduce the direct contract row
    val rGen = graft.core.CacheRegistry.scoped {
      val fps = graft.core.CacheRegistry.persist(
        Multimodal.perceptualHash64(spark, m))
      Multimodal.perceptualRecallContractOn(fps, 8, 12,
        bandedGen = Some(Multimodal.perceptualNearDupPairsOn(fps, 8, 12)))
        .head()
    }
    graft.core.CacheRegistry.drain()
    rGen shouldBe r
    val (nExact, nBanded) = (r.getAs[Long]("n_exact"), r.getAs[Long]("n_banded"))
    nExact should be > 0L
    nBanded should be <= nExact
    r.getAs[Boolean]("banded_subset_exact") shouldBe true
    r.getAs[Double]("recall") shouldBe
      (BigDecimal(nBanded.toDouble / nExact)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("recommendedBands: occupancy-rule width rounded to a power of two, " +
    "bands in {16, 8, 4}, the SCALE10X calibration points") {
    Multimodal.recommendedBands(500) shouldBe 16   // width 4 (sf0.01 docs)
    Multimodal.recommendedBands(5000) shouldBe 8   // width 8 (sf0.1 docs — the frozen plan)
    Multimodal.recommendedBands(50000) shouldBe 4  // width 16 (the 10× remedy)
    Multimodal.recommendedBands(5000000) shouldBe 4 // width clamps at 16
    Multimodal.recommendedBands(1) shouldBe 16      // bits clamps at 2 → width 4
    // every output divides 64 (the perceptualNearDupPairs precondition)
    for (n <- Seq(1L, 100L, 1000L, 10000L, 100000L, 10000000L))
      64 % Multimodal.recommendedBands(n) shouldBe 0
  }

  test("perceptualNearDupPairsOn: identical pairs to the media-frame " +
    "entry point when handed the same fingerprints") {
    val base = "the quick brown fox jumps over the lazy dog " * 6
    val docs = (1L to 6L).map(i => (i, base + s"suffix $i")).toDF("id", "content")
    val m = Multimodal.asMediaTable(docs, "id", "content", "text")
    val (viaMedia, viaFps) = graft.core.CacheRegistry.scoped {
      val a = Multimodal.perceptualNearDupPairs(spark, m, 8, 12)
        .as[(Long, Long, Long)].collect().toSet
      val fps = graft.core.CacheRegistry.persist(
        Multimodal.perceptualHash64(spark, m))
      val b = Multimodal.perceptualNearDupPairsOn(fps, 8, 12)
        .as[(Long, Long, Long)].collect().toSet
      (a, b)
    }
    graft.core.CacheRegistry.drain()
    viaFps shouldBe viaMedia
    an[IllegalArgumentException] should be thrownBy
      Multimodal.perceptualNearDupPairsOn(Seq((1L, 0L)).toDF("id", "phash64"), 7, 12)
  }

  test("crossModalConsensus: pair keys normalize (a < b), flags and " +
    "consensus reflect membership") {
    val text = Seq((2L, 1L, 0.8), (3L, 4L, 0.6)).toDF("ta", "tb", "score")
    val med = Seq((1L, 2L, 3L), (5L, 6L, 0L)).toDF("ma", "mb", "ham")
    val out = Multimodal.crossModalConsensus(
        text, "ta", "tb", "score", med, "ma", "mb", "ham")
      .orderBy("id_a", "id_b")
      .as[(Long, Long, Option[Double], Option[Long], Boolean, Boolean, Boolean)]
      .collect().toList
    out shouldBe List(
      (1L, 2L, Some(0.8), Some(3L), true, true, true),   // (2,1) normalized
      (3L, 4L, Some(0.6), None, true, false, false),
      (5L, 6L, None, Some(0L), false, true, false))
  }

  test("decodeWav: parses a hand-built RIFF payload byte-for-byte, " +
    "round-trips the synthesizer, rejects corrupt magic") {
    // golden fixture: 3 samples (100, -200, 32767) at 8 kHz, built by hand
    val samples = Seq[Short](100, -200, 32767)
    val bb = java.nio.ByteBuffer.allocate(44 + 6)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(42).put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16).putShort(1).putShort(1)
      .putInt(8000).putInt(16000).putShort(2).putShort(16)
      .put("data".getBytes("US-ASCII")).putInt(6)
    samples.foreach(bb.putShort)
    val media = Seq((7L, bb.array())).toDF("id", "payload")
    val r = Multimodal.decodeWav(spark, media).head()
    r.getAs[Int]("sample_rate") shouldBe 8000
    r.getAs[Long]("n_samples") shouldBe 3L
    r.getAs[Long]("sum_sq") shouldBe (100L * 100 + 200L * 200 + 32767L * 32767)
    r.getAs[Long]("peak") shouldBe 32767L

    // synth → decode round trip: features recompute from the md5 chain
    val docs = Seq((1L, "hello"), (2L, "other words")).toDF("doc_id", "text")
    val wavs = Multimodal.synthesizeWav(spark, docs, "doc_id", "text", 32, 16000)
    val out = Multimodal.decodeWav(spark, wavs)
      .orderBy("id").collect()
    out.map(_.getAs[Long]("n_samples")).toSeq shouldBe Seq(32L, 32L)
    val md = java.security.MessageDigest.getInstance("MD5")
    val data = (0 until 4).flatMap { j =>
      md.reset(); md.digest(s"hello:$j".getBytes("UTF-8")).toSeq
    }.toArray
    val sb = java.nio.ByteBuffer.wrap(data).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val expect = (0 until 32).map(_ => sb.getShort.toLong)
    out.head.getAs[Long]("sum_sq") shouldBe expect.map(s => s * s).sum
    out.head.getAs[Long]("peak") shouldBe expect.map(math.abs).max

    val corrupt = Seq((9L, "JUNK".getBytes("US-ASCII") ++ bb.array().drop(4)))
      .toDF("id", "payload")
    an[Exception] should be thrownBy Multimodal.decodeWav(spark, corrupt).head()
  }

  test("decodePpm: parses the variable-length ASCII header (multi-digit " +
    "dims), exact channel sums, rejects non-P6") {
    // 2x1 image: pixels (1,2,3) and (250, 0, 128), header built by hand
    val header = "P6\n2 1\n255\n".getBytes("US-ASCII")
    val px = Array[Byte](1, 2, 3, 250.toByte, 0, 128.toByte)
    val media = Seq((3L, header ++ px)).toDF("id", "payload")
    val r = Multimodal.decodePpm(spark, media).head()
    r.getAs[Int]("width") shouldBe 2
    r.getAs[Int]("height") shouldBe 1
    (r.getAs[Long]("sum_r"), r.getAs[Long]("sum_g"), r.getAs[Long]("sum_b")) shouldBe
      ((251L, 2L, 131L))

    // multi-digit dims exercise the tokenizer: 12x10 from the synthesizer
    val docs = Seq((1L, "hello")).toDF("doc_id", "text")
    val img = Multimodal.synthesizePpm(spark, docs, "doc_id", "text", 12, 10)
    val d = Multimodal.decodePpm(spark, img).head()
    d.getAs[Int]("width") shouldBe 12
    d.getAs[Int]("height") shouldBe 10
    val md = java.security.MessageDigest.getInstance("MD5")
    val bytes = (0 until 23).flatMap { j =>
      md.reset(); md.digest(s"hello:img:$j".getBytes("UTF-8")).toSeq
    }.take(12 * 10 * 3).map(_ & 0xff)
    d.getAs[Long]("sum_r") shouldBe bytes.zipWithIndex.collect { case (v, k) if k % 3 == 0 => v.toLong }.sum
    d.getAs[Long]("sum_b") shouldBe bytes.zipWithIndex.collect { case (v, k) if k % 3 == 2 => v.toLong }.sum

    val notP6 = Seq((4L, "P5\n2 1\n255\n".getBytes("US-ASCII") ++ px)).toDF("id", "payload")
    an[Exception] should be thrownBy Multimodal.decodePpm(spark, notP6).head()
  }

  test("synthesizePpmFromWords + ppmLumaContent: real P6 round trip, " +
    "luma values replay from the word-sampled md5 chain") {
    val docs = Seq((1L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val media = Multimodal.synthesizePpmFromWords(spark, docs, "doc_id", "text", 8, 8)
    // the payload is a byte-correct P6 the real parser accepts
    val dec = Multimodal.decodePpm(spark, media).head()
    dec.getAs[Int]("width") shouldBe 8
    dec.getAs[Int]("height") shouldBe 8
    // luma content = r+g+b per pixel over the md5-chain bytes, in raster
    // order: recompute by hand from the sampled words
    val words = "alpha beta gamma delta".split(" ", -1)
    val md = java.security.MessageDigest.getInstance("MD5")
    val bytes = (0 until 12).flatMap { j =>
      md.reset()
      md.digest(s"${words((j * words.length) / 12)}:pximg:$j".getBytes("UTF-8")).toSeq
    }.map(_ & 0xff)
    val expect = bytes.grouped(3).map(_.sum).mkString(" ")
    Multimodal.ppmLumaContent(spark, media)
      .as[(Long, String)].head()._2 shouldBe expect
    // block alignment guard: 4x4x3 = 48 is a multiple of 16, 5x5x3 is not
    an[IllegalArgumentException] should be thrownBy
      Multimodal.synthesizePpmFromWords(spark, docs, "doc_id", "text", 5, 5)
    // NULL texts are filtered, not coined as the string "null"
    val withNull = Seq((1L, Option("alpha beta")), (2L, Option.empty[String]))
      .toDF("doc_id", "text")
    Multimodal.synthesizePpmFromWords(spark, withNull, "doc_id", "text", 8, 8)
      .count() shouldBe 1L
  }

  test("container-true perceptual chain: word-level edits decode to " +
    "nearby images, unrelated texts to far ones") {
    val base = (1 to 24).map(i => s"w$i").mkString(" ")
    val oneEdit = base.replace("w7", "zz") // one word of 24 substituted
    val unrelated = (1 to 24).map(i => s"v$i").mkString(" ")
    val docs = Seq((1L, base), (2L, oneEdit), (3L, unrelated), (4L, base))
      .toDF("doc_id", "text")
    val media = Multimodal.synthesizePpmFromWords(spark, docs, "doc_id", "text", 8, 8)
    val fp = Multimodal.perceptualHash64Content(
        spark, Multimodal.ppmLumaContent(spark, media))
      .as[(Long, Long)].collect().toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    ham(fp(1L), fp(4L)) shouldBe 0 // exact dup: identical image
    // one substituted word changes ~1 of 12 pixel blocks: small Hamming
    ham(fp(1L), fp(2L)) should be < 13
    // unrelated words change every block: pseudo-random distance
    ham(fp(1L), fp(3L)) should be > 13
    // the composed pair query finds exactly the planted structure
    val pairs = graft.core.CacheRegistry.scoped {
      val fps = graft.core.CacheRegistry.persist(
        Multimodal.perceptualHash64Content(
          spark, Multimodal.ppmLumaContent(spark, media)))
      Multimodal.perceptualNearDupPairsOn(fps, 16, 12)
        .as[(Long, Long, Long)].collect().toSet
    }
    graft.core.CacheRegistry.drain()
    pairs.map(p => (p._1, p._2)) should contain allOf ((1L, 4L), (1L, 2L), (2L, 4L))
    pairs.map(p => (p._1, p._2)).foreach { case (a, b) =>
      Set(a, b) should not contain 3L
    }
  }

  test("synthesizeWavFromWords + wavSampleContent: real RIFF round trip, " +
    "samples replay from the word-sampled md5 chain, locality holds") {
    val base = (1 to 24).map(i => s"w$i").mkString(" ")
    val docs = Seq((1L, base), (2L, base.replace("w7", "zz")),
      (3L, (1 to 24).map(i => s"v$i").mkString(" "))).toDF("doc_id", "text")
    val media = Multimodal.synthesizeWavFromWords(spark, docs, "doc_id", "text", 96, 16000)
    // a byte-correct WAV the real parser accepts, 96 frames
    val dec = Multimodal.decodeWav(spark, media).where($"id" === 1L).head()
    dec.getAs[Long]("n_samples") shouldBe 96L
    // content = signed int16 stream recomputed by hand from sampled words
    val words = base.split(" ", -1)
    val md = java.security.MessageDigest.getInstance("MD5")
    val data = (0 until 12).flatMap { j =>
      md.reset()
      md.digest(s"${words((j * words.length) / 12)}:pxwav:$j".getBytes("UTF-8")).toSeq
    }.toArray
    val sb = java.nio.ByteBuffer.wrap(data).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val expect = (0 until 96).map(_ => sb.getShort.toInt).mkString(" ")
    Multimodal.wavSampleContent(spark, media).where($"id" === 1L)
      .as[(Long, String)].head()._2 shouldBe expect
    // one substituted word changes ~1 of 12 sample blocks: small Hamming
    val fp = Multimodal.perceptualHash64Content(
        spark, Multimodal.wavSampleContent(spark, media))
      .as[(Long, Long)].collect().toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    ham(fp(1L), fp(2L)) should be < 13
    ham(fp(1L), fp(3L)) should be > 13
    // block alignment guard
    an[IllegalArgumentException] should be thrownBy
      Multimodal.synthesizeWavFromWords(spark, docs, "doc_id", "text", 20, 16000)
  }

  test("synthesizeY4mFromWords + y4mLumaFrames: real Y4M round trip, " +
    "frame sampling, luma replays from the word-sampled md5 chain") {
    val text = "alpha beta gamma delta epsilon zeta"
    val docs = Seq((7L, text)).toDF("doc_id", "text")
    val media = Multimodal.synthesizeY4mFromWords(spark, docs, "doc_id", "text", 4, 4, 8)
    // container shape: stream header + 8 × (FRAME marker + 48 plane bytes)
    val payload = media.as[(Long, Array[Byte])].head()._2
    val headerLen = "YUV4MPEG2 W4 H4 F25:1 Ip A1:1 C444\n".length
    payload.length shouldBe headerLen + 8 * (6 + 48)
    new String(payload, 0, 9, "US-ASCII") shouldBe "YUV4MPEG2"
    // every 2nd frame sampled: frames 0,2,4,6, one luma row each
    val frames = Multimodal.y4mLumaFrames(spark, media, 2)
      .as[(Long, Long, String)].collect().sortBy(_._2)
    frames.map(_._2).toSeq shouldBe Seq(0L, 2L, 4L, 6L)
    frames.foreach(_._1 shouldBe 7L)
    // luma of frame f = the 16 bytes of md5(word:pxvid:f:0) — the Y plane
    // is exactly block 0 of the frame's 3 blocks at 4x4 C444
    val words = text.split(" ", -1)
    val md = java.security.MessageDigest.getInstance("MD5")
    def expectLuma(f: Int): String = {
      md.reset()
      val wj = words(((f * 3) * words.length) / 24)
      md.digest(s"$wj:pxvid:$f:0".getBytes("UTF-8"))
        .map(_ & 0xff).mkString(" ")
    }
    frames.foreach { case (_, f, content) =>
      content shouldBe expectLuma(f.toInt)
    }
    // every=1 keeps all 8 frames
    Multimodal.y4mLumaFrames(spark, media, 1).count() shouldBe 8L
    // malformed payloads fail loudly: wrong magic, unsupported chroma
    val bogus = Seq((1L, "not a y4m stream\n".getBytes("US-ASCII")))
      .toDF("id", "payload")
    an[Exception] should be thrownBy
      Multimodal.y4mLumaFrames(spark, bogus, 1).collect()
    val c420 = Seq((1L, "YUV4MPEG2 W4 H4 F25:1 Ip A1:1 C420\nFRAME\n"
      .getBytes("US-ASCII"))).toDF("id", "payload")
    an[Exception] should be thrownBy
      Multimodal.y4mLumaFrames(spark, c420, 1).collect()
    // block alignment guard (4x4x3 = 48 ok; 3x3x3 = 27 is not)
    an[IllegalArgumentException] should be thrownBy
      Multimodal.synthesizeY4mFromWords(spark, docs, "doc_id", "text", 3, 3, 8)
    // NULL texts filtered (the synthesizeWavFromWords contract)
    val withNull = Seq((1L, Option("alpha beta")), (2L, Option.empty[String]))
      .toDF("doc_id", "text")
    Multimodal.synthesizeY4mFromWords(spark, withNull, "doc_id", "text", 4, 4, 8)
      .count() shouldBe 1L
  }

  test("video frame fingerprints + frame-aligned near-dup + scene changes: " +
    "planted temporal structure found, unrelated excluded") {
    val base = (1 to 24).map(i => s"w$i").mkString(" ")
    val oneEdit = base.replace("w7", "zz") // early words → early frames differ
    val unrelated = (1 to 24).map(i => s"v$i").mkString(" ")
    val docs = Seq((1L, base), (2L, oneEdit), (3L, unrelated), (4L, base))
      .toDF("doc_id", "text")
    val media = Multimodal.synthesizeY4mFromWords(spark, docs, "doc_id", "text", 4, 4, 8)
    graft.core.CacheRegistry.scoped {
      val fps = graft.core.CacheRegistry.persist(
        Multimodal.videoFrameFingerprints(spark,
          Multimodal.y4mLumaFrames(spark, media, 2)))
      // composite id round trip: 4 videos × 4 sampled frames
      fps.count() shouldBe 16L
      fps.select("frame").distinct().as[Long].collect().toSet shouldBe
        Set(0L, 2L, 4L, 6L)
      val pairs = Multimodal.videoNearDupPairs(fps, 16, 12, 2)
        .as[(Long, Long, Long)].collect()
        .map(t => ((t._1, t._2), t._3)).toMap
      // identical videos: all 4 sampled frames match
      pairs((1L, 4L)) shouldBe 4L
      // one-word edit perturbs one frame's blocks; ≥ 2 frames still match
      pairs.keySet should contain((1L, 2L))
      // unrelated video pairs with nobody
      pairs.keySet.foreach { case (a, b) => Set(a, b) should not contain 3L }
      // scene changes: exactly 3 transitions per video (0→2, 2→4, 4→6);
      // the synthesis keys blocks on (word, frame, block), so consecutive
      // frames differ by design — assert the structural contract: cut
      // flag ≡ hamming > threshold, and identical-text videos (1 and 4)
      // replay identical transition profiles
      val cuts = Multimodal.videoSceneChanges(fps, 2, 16)
        .as[(Long, Long, Long, Long, Boolean)].collect()
      cuts.length shouldBe 12 // 4 videos × 3 transitions
      cuts.groupBy(_._1).values.foreach { perVid =>
        perVid.map(c => (c._2, c._3)).sortBy(_._1).toSeq shouldBe
          Seq((0L, 2L), (2L, 4L), (4L, 6L))
      }
      cuts.foreach { c => c._5 shouldBe (c._4 > 16L) }
      val prof1 = cuts.filter(_._1 == 1L).map(c => (c._2, c._4)).sortBy(_._1).toSeq
      val prof4 = cuts.filter(_._1 == 4L).map(c => (c._2, c._4)).sortBy(_._1).toSeq
      prof1 shouldBe prof4
    }
    graft.core.CacheRegistry.drain()
  }

  test("synthesizePngFromWords + decodeImage + imageLumaContent: real " +
    "DEFLATE round trip through the JDK codec, pixels replay exactly") {
    val text = "alpha beta gamma delta"
    val docs = Seq((3L, text)).toDF("doc_id", "text")
    val media = Multimodal.synthesizePngFromWords(spark, docs, "doc_id", "text", 8, 8)
    val payload = media.as[(Long, Array[Byte])].head()._2
    // a REAL PNG: 8-byte signature, and genuinely compressed (the
    // container is an entropy-coded stream, not the raw grid)
    payload.take(8).map(_ & 0xff).toSeq shouldBe
      Seq(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a)
    // the codec decode recovers the md5-chain pixels EXACTLY (lossless)
    val words = text.split(" ", -1)
    val md = java.security.MessageDigest.getInstance("MD5")
    val bytes = (0 until 12).flatMap { j =>
      md.reset()
      md.digest(s"${words((j * words.length) / 12)}:pxpng:$j".getBytes("UTF-8")).toSeq
    }.map(_ & 0xff)
    val dec = Multimodal.decodeImage(spark, media).head()
    dec.getAs[Int]("width") shouldBe 8
    dec.getAs[Int]("height") shouldBe 8
    dec.getAs[Long]("sum_r") shouldBe bytes.grouped(3).map(_(0)).sum.toLong
    dec.getAs[Long]("sum_g") shouldBe bytes.grouped(3).map(_(1)).sum.toLong
    dec.getAs[Long]("sum_b") shouldBe bytes.grouped(3).map(_(2)).sum.toLong
    // luma content through the codec == luma content of the raw grid
    Multimodal.imageLumaContent(spark, media)
      .as[(Long, String)].head()._2 shouldBe
      bytes.grouped(3).map(_.sum).mkString(" ")
    // unrecognized payloads fail loudly
    val bogus = Seq((1L, "not an image".getBytes("US-ASCII"))).toDF("id", "payload")
    an[Exception] should be thrownBy
      Multimodal.decodeImage(spark, bogus).collect()
    // the codec also reads the raw-container tier's P6? it does not —
    // but it MUST read what the PPM pixels look like re-encoded: the
    // codec-true chain and the P6 chain fingerprint the same luma when
    // fed the same pixel bytes (cross-container consistency of the kernel)
    val ppm = Multimodal.synthesizePpmFromWords(spark, docs, "doc_id", "text", 8, 8)
    val ppmLuma = Multimodal.ppmLumaContent(spark, ppm).as[(Long, String)].head()._2
    val mdp = java.security.MessageDigest.getInstance("MD5")
    val ppmBytes = (0 until 12).flatMap { j =>
      mdp.reset()
      mdp.digest(s"${words((j * words.length) / 12)}:pximg:$j".getBytes("UTF-8")).toSeq
    }.map(_ & 0xff)
    ppmLuma shouldBe ppmBytes.grouped(3).map(_.sum).mkString(" ")
  }

  test("gzipPayloads + gunzipContent: real RFC-1952 round trip, lossless " +
    "including multibyte content; malformed streams fail loudly") {
    val texts = Seq((1L, "plain ascii words"), (2L, "ünïcödé — 普通话 🚀"),
      (3L, ""))
    val docs = texts.toDF("doc_id", "text")
    val media = Multimodal.gzipPayloads(spark, docs, "doc_id", "text")
    // a REAL gzip member: RFC-1952 magic + deflate method byte
    val payload = media.where($"id" === 1L).as[(Long, Array[Byte])].head()._2
    (payload(0) & 0xff) shouldBe 0x1f
    (payload(1) & 0xff) shouldBe 0x8b
    payload(2).toInt shouldBe 8
    // the payload is genuinely compressed framing, not the raw text
    new String(payload, "UTF-8") should not include "plain ascii"
    val back = Multimodal.gunzipContent(spark, media)
      .as[(Long, String)].collect().toMap
    texts.foreach { case (id, t) => back(id) shouldBe t }
    // NULL texts filtered (the family contract)
    val withNull = Seq((1L, Option("x")), (2L, Option.empty[String]))
      .toDF("doc_id", "text")
    Multimodal.gzipPayloads(spark, withNull, "doc_id", "text")
      .count() shouldBe 1L
    // a corrupt stream raises the codec's own error, not silent garbage
    val bogus = Seq((9L, Array[Byte](0x1f.toByte, 0x8b.toByte, 8, 0, 0)))
      .toDF("id", "payload")
    an[Exception] should be thrownBy
      Multimodal.gunzipContent(spark, bogus).collect()
  }

  test("resizePpmLuma: 2x2 box-sum downsample matches the hand fold; " +
    "factor must divide dims; malformed payloads rejected") {
    val text = "alpha beta gamma delta"
    val docs = Seq((5L, text)).toDF("doc_id", "text")
    val media = Multimodal.synthesizePpmFromWords(spark, docs, "doc_id", "text", 8, 8)
    // hand-fold: md5-chain bytes → per-pixel luma → 2x2 block sums
    val words = text.split(" ", -1)
    val md = java.security.MessageDigest.getInstance("MD5")
    val luma = (0 until 12).flatMap { j =>
      md.reset()
      md.digest(s"${words((j * words.length) / 12)}:pximg:$j".getBytes("UTF-8")).toSeq
    }.map(_ & 0xff).grouped(3).map(_.sum.toLong).toArray
    val expect = (for (y <- 0 until 4; x <- 0 until 4) yield {
      (x.toLong, y.toLong,
        luma(2 * y * 8 + 2 * x) + luma(2 * y * 8 + 2 * x + 1) +
          luma((2 * y + 1) * 8 + 2 * x) + luma((2 * y + 1) * 8 + 2 * x + 1))
    }).toSet
    val got = Multimodal.resizePpmLuma(spark, media, 2)
      .as[(Long, Long, Long, Long)].collect()
    got.length shouldBe 16
    got.map(r => (r._2, r._3, r._4)).toSet shouldBe expect
    // factor 1 is the identity grid; factor 3 does not divide 8
    Multimodal.resizePpmLuma(spark, media, 1).count() shouldBe 64L
    an[Exception] should be thrownBy
      Multimodal.resizePpmLuma(spark, media, 3).collect()
    val bogus = Seq((1L, "P5 bogus".getBytes("US-ASCII"))).toDF("id", "payload")
    an[Exception] should be thrownBy
      Multimodal.resizePpmLuma(spark, bogus, 2).collect()
  }

  test("modalityVote: N-way vote, disagreement stays visible, guards") {
    val img = Seq((1L, 2L), (3L, 4L), (5L, 6L)).toDF("id_a", "id_b")
    val aud = Seq((1L, 2L), (3L, 4L)).toDF("id_a", "id_b")
    val vid = Seq((1L, 2L), (7L, 8L)).toDF("id_a", "id_b")
    val out = Multimodal.modalityVote(
        Seq("image" -> img, "audio" -> aud, "video" -> vid), 2)
      .as[(Long, Long, Boolean, Boolean, Boolean, Long, Boolean)]
      .collect().map(r => (r._1, r._2) -> r).toMap
    out((1L, 2L)) shouldBe ((1L, 2L, true, true, true, 3L, true))
    out((3L, 4L)) shouldBe ((3L, 4L, true, true, false, 2L, true))
    // single-modality hits survive with consensus=false (the signal)
    out((5L, 6L)) shouldBe ((5L, 6L, true, false, false, 1L, false))
    out((7L, 8L)) shouldBe ((7L, 8L, false, false, true, 1L, false))
    out.size shouldBe 4
    an[IllegalArgumentException] should be thrownBy
      Multimodal.modalityVote(Seq.empty, 1)
    an[IllegalArgumentException] should be thrownBy
      Multimodal.modalityVote(Seq("a" -> img, "a" -> aud), 1)
    an[IllegalArgumentException] should be thrownBy
      Multimodal.modalityVote(Seq("a" -> img), 2)
  }

  test("perceptualHash128Content: the 64-bit tier is exactly the high " +
    "half; locality; banded pairs + recall contract at width 32") {
    val base = (1 to 24).map(i => s"w$i").mkString(" ")
    val oneEdit = base.replace("w7", "zz")
    val unrelated = (1 to 24).map(i => s"v$i").mkString(" ")
    val docs = Seq((1L, base), (2L, oneEdit), (3L, unrelated), (4L, base),
      (5L, ""), (6L, "abc")).toDF("id", "content")
    val fp128 = Multimodal.perceptualHash128Content(spark, docs)
      .as[(Long, Long, Long)].collect().map(t => t._1 -> (t._2, t._3)).toMap
    // law: fph == the 64-bit kernel's fingerprint (same votes over the
    // digest's first 8 bytes), so the 128-bit tier strictly extends it
    val fp64 = Multimodal.perceptualHash64Content(spark, docs)
      .as[(Long, Long)].collect().toMap
    fp128.foreach { case (id, (hi, _)) => hi shouldBe fp64(id) }
    // short/empty content → (0, 0)
    fp128(5L) shouldBe ((0L, 0L))
    fp128(6L) shouldBe ((0L, 0L))
    def ham(a: (Long, Long), b: (Long, Long)) =
      java.lang.Long.bitCount(a._1 ^ b._1) + java.lang.Long.bitCount(a._2 ^ b._2)
    ham(fp128(1L), fp128(4L)) shouldBe 0
    ham(fp128(1L), fp128(2L)) should be < 25 // one-word edit: local
    ham(fp128(1L), fp128(3L)) should be > 25 // unrelated: ~64 expected
    graft.core.CacheRegistry.scoped {
      val real = docs.where($"id" <= 4L)
      val fps = graft.core.CacheRegistry.persist(
        Multimodal.perceptualHash128Content(spark, real))
      // width 8 → 16 bands: the one-word-edit pair (≈15 flipped bits of
      // 128) has ≥ 1 clean 8-bit band w.h.p. — the recall configuration
      val pairs8 = Multimodal.perceptualNearDupPairs128On(fps, 8, 24)
        .as[(Long, Long, Long)].collect().map(t => (t._1, t._2)).toSet
      pairs8 should contain allOf ((1L, 4L), (1L, 2L), (2L, 4L))
      pairs8.foreach { case (a, b) => Set(a, b) should not contain 3L }
      // width 32 → 4 bands: the occupancy configuration — exact dups
      // (hamming 0: every band clean) are ALWAYS found; the edit pair
      // usually is not (P(one 32-bit quarter clean) ≈ 3% here) — the
      // standard LSH width/recall trade, here made visible
      val pairs32 = Multimodal.perceptualNearDupPairs128On(fps, 32, 24)
        .as[(Long, Long, Long)].collect().map(t => (t._1, t._2)).toSet
      pairs32 should contain((1L, 4L))
      pairs32.foreach { case (a, b) => Set(a, b) should not contain 3L }
      val c = Multimodal.perceptualRecallContract128On(fps, 32, 24)
        .as[(Long, Long, Double, Boolean)].head()
      c._4 shouldBe true // banded ⊆ exact
      c._2 should be <= c._1
      // bandedGen form (round 11): passing the maintained banded pair
      // frame in must reproduce the direct contract row exactly
      Multimodal.perceptualRecallContract128On(fps, 32, 24,
        bandedGen = Some(Multimodal.perceptualNearDupPairs128On(fps, 32, 24)))
        .as[(Long, Long, Double, Boolean)].head() shouldBe c
      // width guards
      an[IllegalArgumentException] should be thrownBy
        Multimodal.perceptualNearDupPairs128On(fps, 24, 24)
    }
    graft.core.CacheRegistry.drain()
  }

  test("orphanAudit: byte accounting over the reference set, empty refs") {
    val m = Multimodal.asMediaTable(
      Seq((1L, "hello"), (2L, "abc"), (3L, "xy")).toDF("id", "content"),
      "id", "content", "text")
    val refs = Seq(1L, 3L, 99L).toDF("doc_id") // 99 references nothing — harmless
    val r = Multimodal.orphanAudit(m, refs, "doc_id")
      .as[(Long, Long, Long, Long, Double)].collect().head
    r shouldBe ((3L, 1L, 10L, 3L, 0.3)) // only doc 2 (3 bytes of 10) is orphaned
    val empty = Multimodal.orphanAudit(m, refs.where($"doc_id" < 0L), "doc_id")
      .as[(Long, Long, Long, Long, Double)].collect().head
    empty shouldBe ((3L, 3L, 10L, 10L, 1.0)) // nothing referenced: all orphans
  }

  test("video 128-bit tier: fph extends the 64-bit fingerprints, " +
    "frame-aligned pairs and scene changes match the planted structure") {
    val base = (1 to 24).map(i => s"w$i").mkString(" ")
    val oneEdit = base.replace("w7", "zz")
    val unrelated = (1 to 24).map(i => s"v$i").mkString(" ")
    val docs = Seq((1L, base), (2L, oneEdit), (3L, unrelated), (4L, base))
      .toDF("doc_id", "text")
    val media = Multimodal.synthesizeY4mFromWords(spark, docs, "doc_id", "text", 4, 4, 8)
    graft.core.CacheRegistry.scoped {
      val frames = Multimodal.y4mLumaFrames(spark, media, 2)
      val fps = graft.core.CacheRegistry.persist(
        Multimodal.videoFrameFingerprints128(spark, frames))
      fps.count() shouldBe 16L // 4 videos × 4 sampled frames
      // law: the high half IS the 64-bit tier, per (video, frame)
      val hi = fps.select($"id", $"frame", $"fph").as[(Long, Long, Long)]
        .collect().map(t => (t._1, t._2) -> t._3).toMap
      val f64 = Multimodal.videoFrameFingerprints(spark, frames)
        .as[(Long, Long, Long)].collect().map(t => (t._1, t._2) -> t._3).toMap
      hi shouldBe f64
      // width 8 (16 bands): the recall configuration at threshold 24/128
      val pairs = Multimodal.videoNearDupPairs128(fps, 8, 24, 2)
        .as[(Long, Long, Long)].collect()
        .map(t => ((t._1, t._2), t._3)).toMap
      pairs((1L, 4L)) shouldBe 4L // identical videos: all 4 frames match
      pairs.keySet should contain((1L, 2L)) // one-word edit: ≥ 2 frames
      pairs.keySet.foreach { case (a, b) => Set(a, b) should not contain 3L }
      // scene changes at the proportional 32/128 cut
      val cuts = Multimodal.videoSceneChanges128(fps, 2, 32)
        .as[(Long, Long, Long, Long, Boolean)].collect()
      cuts.length shouldBe 12 // 4 videos × 3 transitions
      cuts.foreach { c => c._5 shouldBe (c._4 > 32L) }
      val prof1 = cuts.filter(_._1 == 1L).map(c => (c._2, c._4)).sortBy(_._1).toSeq
      val prof4 = cuts.filter(_._1 == 4L).map(c => (c._2, c._4)).sortBy(_._1).toSeq
      prof1 shouldBe prof4 // identical texts replay identical profiles
      // width guards
      an[IllegalArgumentException] should be thrownBy
        Multimodal.videoNearDupPairs128(fps, 24, 24, 2)
      an[IllegalArgumentException] should be thrownBy
        Multimodal.videoSceneChanges128(fps, 0, 32)
    }
    graft.core.CacheRegistry.drain()
  }

  test("videoRecallContract128: subset law, sampled judge, planted pair found") {
    val base = (1 to 24).map(i => s"w$i").mkString(" ")
    val oneEdit = base.replace("w7", "zz")
    val unrelated = (1 to 24).map(i => s"v$i").mkString(" ")
    // ids all ≡ 0 (mod 5): the deterministic subsample keeps every video
    val docs = Seq((5L, base), (10L, oneEdit), (15L, unrelated), (20L, base))
      .toDF("doc_id", "text")
    val media = Multimodal.synthesizeY4mFromWords(spark, docs, "doc_id", "text", 4, 4, 8)
    graft.core.CacheRegistry.scoped {
      val fps = graft.core.CacheRegistry.persist(
        Multimodal.videoFrameFingerprints128(spark,
          Multimodal.y4mLumaFrames(spark, media, 2)))
      val c = Multimodal.videoRecallContract128(fps, 8, 24, 2, 5)
        .as[(Int, Long, Long, Double, Boolean)].head()
      c._1 shouldBe 8 // width echoed
      c._2 should be >= 1L // the identical pair (5, 20) is exact
      c._5 shouldBe true // banded ⊆ exact
      c._3 should be <= c._2
      c._4 should (be >= 0.0 and be <= 1.0)
      // sampleMod 4 keeps only id 20 — a one-video subsample has no
      // pairs, so recall is 1.0 by the n_exact = 0 convention
      val lone = Multimodal.videoRecallContract128(fps, 8, 24, 2, 4)
        .as[(Int, Long, Long, Double, Boolean)].head()
      lone._2 shouldBe 0L
      lone._4 shouldBe 1.0
      an[IllegalArgumentException] should be thrownBy
        Multimodal.videoRecallContract128(fps, 8, 24, 2, 0)
    }
    graft.core.CacheRegistry.drain()
  }

  test("jpegLossyContract: dims + determinism + bounded error hold at a " +
    "calibrated bound, and the bound has teeth") {
    val docs = Seq((1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six"),
      (3L, Option.empty[String].orNull)).toDF("doc_id", "text")
    val r = Multimodal.jpegLossyContract(spark, docs, "doc_id", "text", 8, 8, 80.0)
      .as[(Long, Boolean, Boolean, Boolean)].head()
    r shouldBe ((2L, true, true, true)) // NULL text filtered
    // an absurd 1.0 bound must FAIL visibly (lossy error is real)
    val tight = Multimodal.jpegLossyContract(spark, docs, "doc_id", "text", 8, 8, 1.0)
      .as[(Long, Boolean, Boolean, Boolean)].head()
    tight._4 shouldBe false
    tight._2 shouldBe true // dims still match
    an[IllegalArgumentException] should be thrownBy
      Multimodal.jpegLossyContract(spark, docs, "doc_id", "text", 8, 8, 0.0)
    // the per-image ledger: mae strictly positive (JPEG is lossy on
    // noise), digest stable across lineages
    val l1 = Multimodal.jpegDecodeLedger(spark, docs, "doc_id", "text", 8, 8)
      .as[(Long, Boolean, Double, String)].collect().sortBy(_._1)
    val l2 = Multimodal.jpegDecodeLedger(spark, docs, "doc_id", "text", 8, 8)
      .as[(Long, Boolean, Double, String)].collect().sortBy(_._1)
    l1.length shouldBe 2
    l1.foreach { case (_, ok, mae, _) => ok shouldBe true; mae should be > 0.0 }
    l1.map(_._4).toSeq shouldBe l2.map(_._4).toSeq
  }

  test("videoFrameFingerprints: a frame index >= 64 fails loudly instead " +
    "of aliasing into the next video id (the composite-radix contract)") {
    val frames = Seq((1L, 63L, "x " * 40), (1L, 64L, "y " * 40))
      .toDF("id", "frame", "content")
    an[Exception] should be thrownBy
      Multimodal.videoFrameFingerprints(spark, frames).collect()
    an[Exception] should be thrownBy
      Multimodal.videoFrameFingerprints128(spark, frames).collect()
    // the in-radix slice of the same data is fine
    Multimodal.videoFrameFingerprints(spark,
      frames.where($"frame" < 64L)).count() shouldBe 1L
  }

  test("gunzipContent: inflated-size bound stops a gzip bomb; default " +
    "bound passes normal payloads") {
    val docs = Seq((1L, "hello world " * 50)).toDF("doc_id", "text")
    val gz = Multimodal.gzipPayloads(spark, docs, "doc_id", "text")
    Multimodal.gunzipContent(spark, gz).count() shouldBe 1L
    // the same payload against a 100-byte ceiling fails loudly
    an[Exception] should be thrownBy
      Multimodal.gunzipContent(spark, gz, maxBytes = 100L).collect()
    an[IllegalArgumentException] should be thrownBy
      Multimodal.gunzipContent(spark, gz, maxBytes = 0L)
  }

  test("decodeImage/imageLumaContent: header dims validated BEFORE pixel " +
    "allocation - an oversized declaration fails loudly") {
    val docs = Seq((1L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val png = Multimodal.synthesizePngFromWords(spark, docs, "doc_id", "text", 8, 8)
    Multimodal.decodeImage(spark, png).count() shouldBe 1L
    // 64 pixels against a 16-pixel bound: rejected at the header, not OOM
    an[Exception] should be thrownBy
      Multimodal.decodeImage(spark, png, maxPixels = 16L).collect()
    an[Exception] should be thrownBy
      Multimodal.imageLumaContent(spark, png, maxPixels = 16L).collect()
  }

  test("value-level banding: randomized duplicate-heavy corpus matches " +
    "the brute-force id-level band-join reference (64-bit, 128-bit, video)") {
    // The round-9 rewrite bands DISTINCT fingerprint values and expands
    // back to id pairs; this pins the claimed equivalence in-repo on a
    // seeded corpus where most ids repeat a small value pool (the shape
    // the rewrite exists for), including near-miss mutated neighbors.
    val rnd = new scala.util.Random(42)
    val base = Seq.fill(25)(rnd.nextLong())
    val near = base.take(10).map(v =>
      v ^ (1L << rnd.nextInt(64)) ^ (1L << rnd.nextInt(64)))
    val pool = base ++ near
    def pick(): Long = pool(rnd.nextInt(pool.size))

    val bands = 8; val width64 = 64 / bands; val maxH = 12
    def buckets(v: Long, w: Int, nb: Int, bandOff: Int = 0): Set[(Int, Long)] = {
      val mask = if (w == 64) -1L else (1L << w) - 1
      (0 until nb).map(b => (b + bandOff, (v >> (b * w)) & mask)).toSet
    }

    // 64-bit scalar tier
    val rows64 = (1L to 120L).map(i => (i, pick()))
    val ref64 = (for {
      (ia, va) <- rows64; (ib, vb) <- rows64
      if ia < ib && buckets(va, width64, bands).intersect(buckets(vb, width64, bands)).nonEmpty
      h = java.lang.Long.bitCount(va ^ vb).toLong
      if h <= maxH
    } yield (ia, ib, h)).toSet
    val got64 = Multimodal.perceptualNearDupPairsOn(
      rows64.toDF("id", "phash64"), bands, maxH)
      .as[(Long, Long, Long)].collect()
    got64.length shouldBe got64.toSet.size // no duplicate pair rows
    got64.toSet shouldBe ref64
    ref64.count(_._3 == 0L) should be > 50 // the duplicate-heavy regime is exercised

    // 128-bit tier (width 16 -> 8 bands across both halves)
    val w128 = 16; val perHalf = 64 / w128; val maxH128 = 24
    val rows128 = (1L to 120L).map(i => (i, pick(), pick()))
    def buckets128(h: Long, l: Long): Set[(Int, Long)] =
      buckets(h, w128, perHalf) ++ buckets(l, w128, perHalf, bandOff = perHalf)
    val ref128 = (for {
      (ia, ha, la) <- rows128; (ib, hb, lb) <- rows128
      if ia < ib && buckets128(ha, la).intersect(buckets128(hb, lb)).nonEmpty
      h = (java.lang.Long.bitCount(ha ^ hb) + java.lang.Long.bitCount(la ^ lb)).toLong
      if h <= maxH128
    } yield (ia, ib, h)).toSet
    val got128 = Multimodal.perceptualNearDupPairs128On(
      rows128.toDF("id", "fph", "fpl"), w128, maxH128)
      .as[(Long, Long, Long)].collect()
    got128.length shouldBe got128.toSet.size
    got128.toSet shouldBe ref128

    // video tier: per-frame match rule, then the >= minFrames aggregate
    val minFrames = 2
    val vrows = for { id <- 1L to 30L; f <- 0L to 3L } yield (id, f, pick())
    val matched = for {
      (ia, fa, va) <- vrows; (ib, fb, vb) <- vrows
      if ia < ib && fa == fb
      if buckets(va, width64, bands).intersect(buckets(vb, width64, bands)).nonEmpty
      if java.lang.Long.bitCount(va ^ vb) <= maxH
    } yield ((ia, ib), fa)
    val refVid = matched.groupBy(_._1).map { case ((a, b), fs) => (a, b, fs.size.toLong) }
      .filter(_._3 >= minFrames).toSet
    val gotVid = Multimodal.videoNearDupPairs(
      vrows.toDF("id", "frame", "phash64"), bands, maxH, minFrames)
      .as[(Long, Long, Long)].collect()
    gotVid.length shouldBe gotVid.toSet.size
    gotVid.toSet shouldBe refVid

    // 128-bit video tier: the same rule over both halves, on a small pool
    // where equal high halves with 1-bit-apart low halves (and the
    // converse) exercise every branch of the (fph, fpl) pair order
    val pool128 = base.take(4).flatMap { h =>
      val l = pick(); Seq((h, l), (h, l ^ 1L), (h ^ 4L, l)) }
    val vrows128 = for { id <- 1L to 30L; f <- 0L to 3L } yield {
      val (h, l) = pool128(rnd.nextInt(pool128.size)); (id, f, h, l) }
    val matched128 = for {
      (ia, fa, ha, la) <- vrows128; (ib, fb, hb, lb) <- vrows128
      if ia < ib && fa == fb
      if buckets128(ha, la).intersect(buckets128(hb, lb)).nonEmpty
      if java.lang.Long.bitCount(ha ^ hb) + java.lang.Long.bitCount(la ^ lb) <= maxH128
    } yield ((ia, ib), fa)
    val refVid128 = matched128.groupBy(_._1)
      .map { case ((a, b), fs) => (a, b, fs.size.toLong) }
      .filter(_._3 >= minFrames).toSet
    val gotVid128 = Multimodal.videoNearDupPairs128(
      vrows128.toDF("id", "frame", "fph", "fpl"), w128, maxH128, minFrames)
      .as[(Long, Long, Long)].collect()
    gotVid128.length shouldBe gotVid128.toSet.size
    gotVid128.toSet shouldBe refVid128
    refVid128.size should be > 20 // the duplicate-heavy regime is exercised
  }

  test("hammingRadiusSweep128 counts exact banded id-pair density per " +
    "radius; recommendedRadius128 picks the largest affordable radius") {
    // same duplicate-heavy seeded pool as the banding-equivalence spec:
    // the sweep must count id pairs (multiplicity products + C(m,2)
    // equal-value pairs) without ever expanding them
    val rnd = new scala.util.Random(7)
    val base = Seq.fill(20)(rnd.nextLong())
    val near = base.take(8).map(v =>
      v ^ (1L << rnd.nextInt(64)) ^ (1L << rnd.nextInt(64)))
    val pool = base ++ near
    def pick(): Long = pool(rnd.nextInt(pool.size))
    val w = 16; val perHalf = 64 / w
    val radii = Seq(8, 12, 16, 20, 24)
    def buckets(v: Long, off: Int): Set[(Int, Long)] =
      (0 until perHalf).map(b => (b + off, (v >> (b * w)) & 0xffffL)).toSet
    val rows = (1L to 100L).map(i => (i, pick(), pick()))
    val fps = rows.toDF("id", "fph", "fpl")
    def ref(r: Int): Long = (for {
      (ia, ha, la) <- rows; (ib, hb, lb) <- rows
      if ia < ib
      if (buckets(ha, 0) ++ buckets(la, perHalf))
        .intersect(buckets(hb, 0) ++ buckets(lb, perHalf)).nonEmpty
      if java.lang.Long.bitCount(ha ^ hb) + java.lang.Long.bitCount(la ^ lb) <= r
    } yield 1L).sum
    val sweep = Multimodal.hammingRadiusSweep128(fps, w, radii)
      .as[(Int, Long)].collect().toMap
    radii.foreach(r => sweep(r) shouldBe ref(r))

    // the rule: cap when everything is affordable, floor when nothing is
    val n = rows.size.toLong
    Multimodal.recommendedRadius128(fps, w, n,
      maxPairsPerItem = 1e9) shouldBe 24
    Multimodal.recommendedRadius128(fps, w, n,
      maxPairsPerItem = 0.0) shouldBe 8
    // mid budget: exactly the largest radius whose count fits
    val budget = (sweep(16) + 0.5) / n
    Multimodal.recommendedRadius128(fps, w, n,
      maxPairsPerItem = budget) shouldBe
      radii.filter(r => sweep(r) <= budget * n).max

    // Auto == On at the radius the rule picks (shared value-pair frame)
    val picked = Multimodal.recommendedRadius128(fps, w, n)
    Multimodal.perceptualNearDupPairs128Auto(fps, w, n)
      .as[(Long, Long, Long)].collect().toSet shouldBe
      Multimodal.perceptualNearDupPairs128On(fps, w, picked)
        .as[(Long, Long, Long)].collect().toSet

    // 64-bit twin (the legacy tier's sweep — exercised here because its
    // aggregate-by-hamming tail was restructured in round 11): id-pair
    // density per radius against the same brute-force reference
    val rows64 = (1L to 100L).map(i => (i, pick()))
    val fps64 = rows64.toDF("id", "phash64")
    val bands64 = 4; val w64 = 64 / bands64
    def buckets64(v: Long): Set[(Int, Long)] =
      (0 until bands64).map(b => (b, (v >> (b * w64)) & ((1L << w64) - 1))).toSet
    val radii64 = Seq(4, 6, 8, 10, 12)
    def ref64(r: Int): Long = (for {
      (ia, fa) <- rows64; (ib, fb) <- rows64
      if ia < ib
      if buckets64(fa).intersect(buckets64(fb)).nonEmpty
      if java.lang.Long.bitCount(fa ^ fb) <= r
    } yield 1L).sum
    val sweep64 = Multimodal.hammingRadiusSweep64(fps64, bands64, radii64)
      .as[(Int, Long)].collect().toMap
    radii64.foreach(r => sweep64(r) shouldBe ref64(r))

    // video twin: frame-keyed density, frame-pair counts
    val vrows = for { id <- 1L to 40L; f <- 0L to 3L } yield (id, f, pick(), pick())
    val vfps = vrows.toDF("id", "frame", "fph", "fpl")
    def vref(r: Int): Long = (for {
      (ia, fa, ha, la) <- vrows; (ib, fb, hb, lb) <- vrows
      if ia < ib && fa == fb
      if (buckets(ha, 0) ++ buckets(la, perHalf))
        .intersect(buckets(hb, 0) ++ buckets(lb, perHalf)).nonEmpty
      if java.lang.Long.bitCount(ha ^ hb) + java.lang.Long.bitCount(la ^ lb) <= r
    } yield 1L).sum
    val vsweep = Multimodal.videoRadiusSweep128(vfps, w, radii)
      .as[(Int, Long)].collect().toMap
    radii.foreach(r => vsweep(r) shouldBe vref(r))
    val vPicked = Multimodal.recommendedRadiusVideo128(vfps, w, vrows.size.toLong)
    Multimodal.videoNearDupPairs128Auto(vfps, w, vrows.size.toLong, 2)
      .as[(Long, Long, Long)].collect().toSet shouldBe
      Multimodal.videoNearDupPairs128(vfps, w, vPicked, 2)
        .as[(Long, Long, Long)].collect().toSet
  }
}
