package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.ManifestRead

/** Scale-validation runner (not part of the driver contract): times the
  * dedup/ANN family against an arbitrary data dir and reports output ROWS
  * alongside seconds — the measurement half of SCALE10X.md.
  *
  * Since round 7 the registered q44/q38/q336 derive their LSH/IVF
  * granularity from a deterministic `count()` of the input
  * ([[graft.ops.Similarity.recommendedBits]]/`recommendedCells`,
  * [[graft.ops.Multimodal.recommendedBands]]), so this probe simply runs
  * the REGISTERED queries — what a user copies is what gets measured.
  * q43 rides along as the text-shingle reference point. Row counts matter
  * as much as seconds here: on the heavily templated synthetic corpus the
  * near-dup ANSWER volume within each replicated sub-corpus is quadratic
  * in family size (a data property, not a plan defect), and wall-clock
  * can only be judged against the rows the operator was asked to emit.
  *
  * Usage: `sbt "runMain graft.ScaleProbe /tmp/scale10x"` — one JSON line
  * of per-probe {sec, rows}. Generate fixtures with
  * `tools/make_scale_fixture.py <src_sf> <out> <reps> [--plant-strong]`.
  * SPARK_GRAFT_PROBES overrides the probe list (comma-separated exact
  * names) — e.g. the recall tiers against the planted-strong-pair
  * fixture. */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.core.GraftSession.harness("graft-scaleprobe", cpus)
    val probes = sys.env.get("SPARK_GRAFT_PROBES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq("q43_dedup_drop_lsh", "q44_embed_neardup_lsh",
        "q38_ivf_topk", "q336_perceptual_neardup"))
    // ad-hoc probes beyond the registry: the strong-threshold (cos 0.8)
    // PAIR operators alone — without the O(N²) exact judge their recall
    // contracts carry — so the planted-strong-pair fixture can measure
    // the operator's wall, not the judge's (SCALE10X round-8 rows)
    def strongPairProbes(name: String): Option[(SparkSession, String) => DataFrame] =
      name match {
        case "rplsh_pairs_strong" => Some((s, d) => {
          val emb = graft.core.Tables.table(s, d, "embeddings")
          graft.ops.Similarity.rpLshNearDupPairs(emb, "vec_id", "embedding",
            0.8, graft.ops.Similarity.recommendedBits(emb.count()), 16, 64)
        })
        case "multiprobe_pairs_strong" => Some((s, d) => {
          val emb = graft.core.Tables.table(s, d, "embeddings")
          val n = emb.count()
          graft.ops.Similarity.lshMultiProbeNearDupPairs(emb, "vec_id",
            "embedding", 0.8, graft.ops.Similarity.recommendedBits(n),
            graft.ops.Similarity.recommendedBands(n, 64))
        })
        // the streaming-floor decomposition (VERDICT r7 #6): the q251
        // moments-merge shape with the SAME total data split into 1 vs 3
        // micro-batch drops — the wall difference divided by 2 is the
        // marginal cost of one micro-batch (offset/commit-log + replan +
        // merge job), separating the fixed engine floor from data work
        case "stream_moments_drops1" => Some((s, d) => streamMomentsProbe(s, d, 1))
        case "stream_moments_drops3" => Some((s, d) => streamMomentsProbe(s, d, 3))
        // the width-cap demonstration (SCALE10X round 8): the perceptual
        // PAIR stage alone over the utf-8 content fingerprints, 64-bit
        // tier at its 16-bit width cap vs the 128-bit tier at the 32-bit
        // width only it can reach — on the templated corpus the hot
        // (band, bucket) cells drive the candidate join quadratically,
        // and bucket SPACE is the knob that splits them
        case "p64_pairs_w16" => Some((s, d) => {
          val fps = graft.core.CacheRegistry.persist(
            graft.ops.Multimodal.perceptualHash64Content(s, contentOf(s, d)))
          graft.ops.Multimodal.perceptualNearDupPairsOn(fps, 4, 12)
        })
        case "p128_pairs_w32" => Some((s, d) => {
          val fps = graft.core.CacheRegistry.persist(
            graft.ops.Multimodal.perceptualHash128Content(s, contentOf(s, d)))
          graft.ops.Multimodal.perceptualNearDupPairs128On(fps, 32, 24)
        })
        // the maintained-signature-index flatness claim (VERDICT r8 #2):
        // ONE streaming ANN micro-batch against an empty admitted history
        // vs the SAME batch against a pre-admitted history 2× the corpus
        // (sig table pre-seeded, as the maintained index leaves it). With
        // the per-trigger standing-side re-fingerprint gone, the warm
        // batch pays the batch's own projections + a bucket join against
        // the stored index — near the cold wall, not O(history)
        case "ann_batch_cold" => Some((s, d) => annBatchProbe(s, d, preAdmit = false))
        case "ann_batch_warm" => Some((s, d) => annBatchProbe(s, d, preAdmit = true))
        // the join-stage isolation of the same claim, streaming plumbing
        // removed: one batch against corpus + 2×-corpus admitted history,
        // (a) via the maintained signature index vs (b) re-fingerprinting
        // the standing side per trigger (the r8 shape). The delta is the
        // per-trigger O(standing) banding compute the index retires; the
        // shared remainder (bucket-join + exact-cosine verify) scales
        // with COLLISIONS, which no index can remove
        case "ann_join_indexed" => Some((s, d) => annJoinProbe(s, d, indexed = true))
        case "ann_join_refingerprint" => Some((s, d) => annJoinProbe(s, d, indexed = false))
        // the text-side flatness claim (VERDICT r9 #1): ONE streaming
        // text micro-batch via streamDedupedIngest against a pre-admitted
        // history of R fixture reps, maintained minhash sig/array index
        // pre-seeded as the sink leaves it. The harness second includes
        // the (history-sized) setup writes, so the probe ALSO prints
        // setup/trigger split to stderr — the trigger term is the claim
        case "text_batch_hist5" => Some((s, d) => textBatchProbe(s, d, histReps = 5))
        case "text_batch_hist50" => Some((s, d) => textBatchProbe(s, d, histReps = 50))
        // the join-stage isolation of the same claim, streaming plumbing
        // removed: one batch against corpus + R-rep admitted history,
        // (a) via the stored minhash index vs (b) re-signing the standing
        // side per trigger (the r9 shape). Setup writes are identical in
        // both arms, so the harness-second DELTA is the per-trigger
        // standing re-sign the index retires
        case "text_join_indexed" => Some((s, d) => textJoinProbe(s, d, indexed = true))
        case "text_join_resign" => Some((s, d) => textJoinProbe(s, d, indexed = false))
        // stage decomposition of the indexed text trigger: candidate
        // stage (batch bands ⋈ stored sigs) timed apart from the full
        // verify (candidates ⋈ stored arrays ⋈ batch arrays), setup
        // untimed — where does per-trigger wall go as history grows?
        case "text_stages_hist5" => Some((s, d) => textStagesProbe(s, d, 5))
        case "text_stages_hist50" => Some((s, d) => textStagesProbe(s, d, 50))
        // milestone re-banding price/benefit at a decade of standing
        // growth: stale = bootstrap calibration frozen, tracked =
        // re-derived from the standing count (run each in its own JVM)
        case "ann_reband_stale" => Some((s, d) => annRebandProbe(s, d, tracked = false))
        case "ann_reband_tracked" => Some((s, d) => annRebandProbe(s, d, tracked = true))
        // the trigger body replayed OUTSIDE streaming, each sub-step
        // timed: marker reads, dup join + survivor materialization,
        // the three appends — which term grows with history?
        case "text_sink_hist5" => Some((s, d) => textSinkProbe(s, d, 5))
        case "text_sink_hist50" => Some((s, d) => textSinkProbe(s, d, 50))
        // the ANN verify-term isolation (VERDICT r9 #2): identical
        // candidate stage, exact-cosine verify fetching vectors from
        // (a) the narrow stored <table>_vecs sibling the r10 sink
        // maintains vs (b) re-evaluating the caller's corpus plan plus a
        // full admitted-table read per trigger (the r9 shape)
        case "ann_verify_stored" => Some((s, d) => annVerifyProbe(s, d, stored = true))
        case "ann_verify_replan" => Some((s, d) => annVerifyProbe(s, d, stored = false))
        // pricing value-level banding on a duplicate-POOR corpus
        // (VERDICT r9 #7): fingerprints = xxhash64(doc_id) — every value
        // distinct, ZERO duplicate structure, so the distinct+expand
        // exchanges value-level banding adds are pure overhead and the
        // id-level twin is the floor. Same bands (4×16-bit), radius 12
        case "p64_unique_valuelevel" => Some((s, d) =>
          graft.ops.Multimodal.perceptualNearDupPairsOn(uniqueFps(s, d), 4, 12))
        case "p64_unique_idlevel" => Some((s, d) => idLevelPairs(uniqueFps(s, d), 4, 12))
        // the same two arms on the duplicate-HEAVY bench corpus (the
        // real SimHash fingerprints value-level banding was built for) —
        // the other half of the trade being priced
        case "p64_heavy_valuelevel" => Some((s, d) =>
          graft.ops.Multimodal.perceptualNearDupPairsOn(graft.core.CacheRegistry.persist(
            graft.ops.Multimodal.perceptualHash64Content(s, contentOf(s, d))), 4, 12))
        case "p64_heavy_idlevel" => Some((s, d) => idLevelPairs(graft.core.CacheRegistry.persist(
          graft.ops.Multimodal.perceptualHash64Content(s, contentOf(s, d))), 4, 12))
        case _ => None
      }
    // the pre-value-level-banding (round-8) id-level pair plan, inlined
    // here as the measurement twin: band (id, phash64) rows directly,
    // candidate pairs at id grain, exact Hamming verify
    def idLevelPairs(fps: DataFrame, bands: Int, maxHamming: Int): DataFrame = {
      import org.apache.spark.sql.functions._
      val width = 64 / bands
      val mask = (1L << width) - 1
      val bandCols = (0 until bands).map { b =>
        struct(lit(b).as("band"),
          (shiftright(col("phash64"), b * width).bitwiseAND(lit(mask))).as("bucket"))
      }
      val banded = fps.select(col("id"), col("phash64"),
          explode(array(bandCols: _*)).as("bb"))
        .select(col("id"), col("phash64"),
          col("bb.band").as("band"), col("bb.bucket").as("bucket"))
      banded.toDF("id_a", "fa", "band", "bucket")
        .join(banded.toDF("id_b", "fb", "band", "bucket"), Seq("band", "bucket"))
        .where(col("id_a") < col("id_b"))
        .select("id_a", "id_b", "fa", "fb").distinct()
        .withColumn("hamming",
          bit_count(col("fa").bitwiseXOR(col("fb"))).cast("long"))
        .where(col("hamming") <= maxHamming)
        .select("id_a", "id_b", "hamming")
    }
    def uniqueFps(s: SparkSession, d: String): DataFrame =
      // persisted like every registered pair query persists its
      // fingerprint frame — the comparison prices the PAIR STAGE plans,
      // not how many times each re-reads an unpersisted input
      graft.core.CacheRegistry.persist(
        graft.core.Tables.tableRebalanced(s, d, "documents")
          .select(org.apache.spark.sql.functions.col("doc_id").as("id"),
            org.apache.spark.sql.functions.xxhash64(
              org.apache.spark.sql.functions.col("doc_id")).as("phash64")))
    def textBatchProbe(s: SparkSession, d: String, histReps: Int): DataFrame = {
      import org.apache.spark.sql.functions.{col, lit, pmod}
      import graft.ops.Dedup
      val rep = 10000000L
      val docs = graft.core.Tables.table(s, d, "documents").select("doc_id", "text")
      val rep0 = docs.where(col("doc_id") < lit(rep))
      val corpus = rep0.where(pmod(col("doc_id"), lit(2)) === 0)
      val batch = rep0.where(pmod(col("doc_id"), lit(4)) === 3)
      val hist = docs.where(col("doc_id") >= lit(rep) &&
        col("doc_id") < lit((histReps + 1) * rep))
      val tmp = java.nio.file.Files.createTempDirectory(
        s"probe-text$histReps").toString
      val store = new graft.sources.TableStore(s)
      val table = s"$tmp/bronze"
      val m = Map("committedBatch" -> "-1")
      val t0 = System.nanoTime()
      store.overwriteWithMeta(table, hist, m)
      val standing = corpus.unionByName(hist)
      store.overwriteWithMeta(s"${table}_minhash_sigs",
        Dedup.minHashBandTable(standing, "doc_id", "text", 3, 4, 3), m)
      store.overwriteWithMeta(s"${table}_minhash_arrays",
        Dedup.shingleArrays(standing, "doc_id", "text", 3), m)
      val srcDir = new java.io.File(s"$tmp/drops"); srcDir.mkdirs()
      val stage = s"$tmp/stage_b0"
      batch.coalesce(1).write.parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        new java.io.File(srcDir, "b0.parquet").toPath)
      val schema = ManifestRead.footerSchema(s, s"$srcDir/b0.parquet")
      val stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("basePath", srcDir.toString)
        .parquet(s"$srcDir/*.parquet")
      val t1 = System.nanoTime()
      val q = graft.streaming.EventStream.streamDedupedIngest(stream, corpus,
        store, table, "doc_id", "text", 3, 4, 3, 0.5, s"$tmp/ckpt")
      q.awaitTermination()
      val t2 = System.nanoTime()
      System.err.println(f"[probe] text_batch_hist$histReps setup_sec=${(t1 - t0) / 1e9}%.3f trigger_sec=${(t2 - t1) / 1e9}%.3f")
      q.recentProgress.foreach(p => System.err.println(
        s"[probe] text_batch_hist$histReps progress batch=${p.batchId} " +
          s"durationMs=${p.durationMs}"))
      store.read(table).where(pmod(col("doc_id"), lit(4)) === 3)
    }
    def textJoinProbe(s: SparkSession, d: String, indexed: Boolean): DataFrame = {
      import org.apache.spark.sql.functions.{col, lit, pmod}
      import graft.ops.Dedup
      val rep = 10000000L
      val docs = graft.core.Tables.table(s, d, "documents").select("doc_id", "text")
      val rep0 = docs.where(col("doc_id") < lit(rep))
      val corpus = rep0.where(pmod(col("doc_id"), lit(2)) === 0)
      val batch = rep0.where(pmod(col("doc_id"), lit(4)) === 3)
      val hist = docs.where(col("doc_id") >= lit(rep) &&
        col("doc_id") < lit(11L * rep))
      val tmp = java.nio.file.Files.createTempDirectory("probe-textjoin").toString
      val store = new graft.sources.TableStore(s)
      store.overwrite(s"$tmp/bronze", hist)
      val standing = corpus.unionByName(hist)
      store.overwrite(s"$tmp/sigs",
        Dedup.minHashBandTable(standing, "doc_id", "text", 3, 4, 3))
      store.overwrite(s"$tmp/arrays",
        Dedup.shingleArrays(standing, "doc_id", "text", 3))
      val admitted = store.read(s"$tmp/bronze")
      val dups =
        if (indexed)
          Dedup.minHashLshPairsIndexed(store.read(s"$tmp/sigs"),
            store.read(s"$tmp/arrays"), batch, "doc_id", "text", 3, 4, 3, 0.5)
        else
          Dedup.minHashLshPairsAcross(corpus.unionByName(admitted), batch,
            "doc_id", "text", 3, 4, 3, 0.5)
      batch.join(dups.select(col("batch_id").as("doc_id")).distinct(),
        Seq("doc_id"), "left_anti")
    }
    def textStagesProbe(s: SparkSession, d: String, histReps: Int): DataFrame = {
      import org.apache.spark.sql.functions.{col, lit, pmod}
      import graft.ops.Dedup
      val rep = 10000000L
      val docs = graft.core.Tables.table(s, d, "documents").select("doc_id", "text")
      val rep0 = docs.where(col("doc_id") < lit(rep))
      val corpus = rep0.where(pmod(col("doc_id"), lit(2)) === 0)
      val batch = rep0.where(pmod(col("doc_id"), lit(4)) === 3)
      val hist = docs.where(col("doc_id") >= lit(rep) &&
        col("doc_id") < lit((histReps + 1) * rep))
      val tmp = java.nio.file.Files.createTempDirectory(
        s"probe-stages$histReps").toString
      val store = new graft.sources.TableStore(s)
      val standing = corpus.unionByName(hist)
      store.overwrite(s"$tmp/sigs",
        Dedup.minHashBandTable(standing, "doc_id", "text", 3, 4, 3))
      store.overwrite(s"$tmp/arrays",
        Dedup.shingleArrays(standing, "doc_id", "text", 3))
      val t0 = System.nanoTime()
      val cands = store.read(s"$tmp/sigs")
        .repartition(s.sparkContext.defaultParallelism)
        .toDF("id_a", "band", "bh")
        .join(Dedup.minHashBandTable(batch, "doc_id", "text", 3, 4, 3)
          .toDF("id_b", "band", "bh"), Seq("band", "bh"))
        .select("id_a", "id_b").distinct()
      val nCands = cands.count()
      val t1 = System.nanoTime()
      val pairs = Dedup.minHashLshPairsIndexed(store.read(s"$tmp/sigs"),
        store.read(s"$tmp/arrays"), batch, "doc_id", "text", 3, 4, 3, 0.5)
      val nPairs = pairs.count()
      val t2 = System.nanoTime()
      // full_sec is the WHOLE indexed pipeline (it re-plans the candidate
      // join internally), not a verify-only term: verify-only ≈ full_sec
      // − cand_sec, since the candidate stage was also timed alone above
      System.err.println(f"[probe] text_stages_hist$histReps n_cands=$nCands " +
        f"n_pairs=$nPairs cand_sec=${(t1 - t0) / 1e9}%.3f full_sec=${(t2 - t1) / 1e9}%.3f")
      pairs
    }
    /** The milestone-re-banding price/benefit isolation (VERDICT r10 #1):
      * standing side = bootstrap corpus (1/16 of the table) + admitted
      * history (14/16) — 15× the bootstrap count, a decade past the
      * bootstrap calibration. `stale` keeps the index at the BOOTSTRAP
      * calibration (what a never-re-banded gate degrades to); `tracked`
      * re-derives (bits, bands) from the standing count (what the
      * milestone rebuild produces). sign_sec is the one-off rebuild
      * price (amortized over the decade); cand/full are the per-trigger
      * stages whose collision volume the calibration bounds. full_sec is
      * the whole indexed pipeline (it re-plans the candidate join), not
      * verify-only. */
    def annRebandProbe(s: SparkSession, d: String, tracked: Boolean): DataFrame = {
      import org.apache.spark.sql.functions.{col, pmod, lit}
      import graft.ops.Similarity
      val emb = graft.core.Tables.table(s, d, "embeddings")
        .select("vec_id", "embedding")
      val corpus = emb.where(pmod(col("vec_id"), lit(16)) === 0)
      val hist = emb.where(pmod(col("vec_id"), lit(16)).between(1, 14))
      val batch = emb.where(pmod(col("vec_id"), lit(16)) === 15)
      val n0 = corpus.count()
      val standing = corpus.unionByName(hist)
      val nStanding = standing.count()
      val (bits, bands) =
        if (tracked)
          (Similarity.recommendedBits(nStanding),
            Similarity.recommendedBands(nStanding, 64))
        else
          (Similarity.recommendedBits(n0), Similarity.recommendedBands(n0, 64))
      val tmp = java.nio.file.Files.createTempDirectory(
        s"probe-reband-$tracked").toString
      val store = new graft.sources.TableStore(s)
      val t0 = System.nanoTime()
      store.overwrite(s"$tmp/sigs",
        Similarity.signBandTable(standing, "vec_id", "embedding", bits, bands))
      val tSign = System.nanoTime()
      store.overwrite(s"$tmp/vecs", standing)
      val t1 = System.nanoTime()
      val cands = store.read(s"$tmp/sigs")
        .repartition(s.sparkContext.defaultParallelism)
        .toDF("corpus_id", "band", "bucket")
        .join(Similarity.signBandTable(batch, "vec_id", "embedding", bits, bands)
          .toDF("batch_id", "band", "bucket"), Seq("band", "bucket"))
        .select("corpus_id", "batch_id").distinct()
      val nCands = cands.count()
      val t2 = System.nanoTime()
      val pairs = Similarity.lshNearDupPairsIndexed(store.read(s"$tmp/sigs"),
        store.read(s"$tmp/vecs"), batch, "vec_id", "embedding", 0.3, bits, bands)
      val nPairs = pairs.count()
      val t3 = System.nanoTime()
      System.err.println(
        f"[probe] ann_reband_${if (tracked) "tracked" else "stale"}%s " +
        f"n0=$n0 n_standing=$nStanding bits=$bits bands=$bands " +
        f"sign_sec=${(tSign - t0) / 1e9}%.3f n_cands=$nCands " +
        f"cand_sec=${(t2 - t1) / 1e9}%.3f n_pairs=$nPairs " +
        f"full_sec=${(t3 - t2) / 1e9}%.3f")
      pairs
    }
    def textSinkProbe(s: SparkSession, d: String, histReps: Int): DataFrame = {
      import org.apache.spark.sql.functions.{col, lit, pmod}
      import graft.ops.Dedup
      val rep = 10000000L
      val docs = graft.core.Tables.table(s, d, "documents").select("doc_id", "text")
      val rep0 = docs.where(col("doc_id") < lit(rep))
      val corpus = rep0.where(pmod(col("doc_id"), lit(2)) === 0)
      val batch = rep0.where(pmod(col("doc_id"), lit(4)) === 3)
      val hist = docs.where(col("doc_id") >= lit(rep) &&
        col("doc_id") < lit((histReps + 1) * rep))
      val tmp = java.nio.file.Files.createTempDirectory(
        s"probe-sink$histReps").toString
      val store = new graft.sources.TableStore(s)
      val table = s"$tmp/bronze"
      val m = Map("committedBatch" -> "-1")
      store.overwriteWithMeta(table, hist, m)
      val standing = corpus.unionByName(hist)
      store.overwriteWithMeta(s"${table}_minhash_sigs",
        Dedup.minHashBandTable(standing, "doc_id", "text", 3, 4, 3), m)
      store.overwriteWithMeta(s"${table}_minhash_arrays",
        Dedup.shingleArrays(standing, "doc_id", "text", 3), m)
      def tt[A](label: String)(body: => A): A = {
        val t0 = System.nanoTime()
        val r = body
        System.err.println(
          f"[probe] text_sink_hist$histReps $label=${(System.nanoTime() - t0) / 1e9}%.3f")
        r
      }
      val mk = Map("committedBatch" -> "0")
      tt("markers") {
        store.metaMaxLong(table, "committedBatch")
        store.versionMeta(s"${table}_minhash_sigs")
        store.versionMeta(s"${table}_minhash_arrays")
        store.versionMeta(table)
      }
      val dups = Dedup.minHashLshPairsIndexed(
        store.read(s"${table}_minhash_sigs"),
        store.read(s"${table}_minhash_arrays"), batch,
        "doc_id", "text", 3, 4, 3, 0.5)
        .select(col("batch_id").as("doc_id")).distinct()
      val survivors = batch.join(dups, Seq("doc_id"), "left_anti")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      tt("append_data") { store.appendWithMeta(table, survivors, mk) }
      tt("append_sigs") { store.appendWithMeta(s"${table}_minhash_sigs",
        Dedup.minHashBandTable(survivors, "doc_id", "text", 3, 4, 3), mk) }
      tt("append_arrays") { store.appendWithMeta(s"${table}_minhash_arrays",
        Dedup.shingleArrays(survivors, "doc_id", "text", 3), mk) }
      survivors.unpersist()
      store.read(table).where(pmod(col("doc_id"), lit(4)) === 3)
    }
    def annVerifyProbe(s: SparkSession, d: String, stored: Boolean): DataFrame = {
      import org.apache.spark.sql.functions.{col, pmod, lit}
      import graft.ops.Similarity
      val emb = graft.core.Tables.table(s, d, "embeddings")
        .select("vec_id", "embedding")
      val corpus = emb.where(pmod(col("vec_id"), lit(4)) === 0)
      val hist = emb.where(pmod(col("vec_id"), lit(4)) === 1 ||
        pmod(col("vec_id"), lit(4)) === 2)
      val batch = emb.where(pmod(col("vec_id"), lit(4)) === 3)
      val n = corpus.count()
      val bits = Similarity.recommendedBits(n)
      val bands = Similarity.recommendedBands(n, 64)
      val tmp = java.nio.file.Files.createTempDirectory(
        s"probe-annverify-$stored").toString
      val store = new graft.sources.TableStore(s)
      store.overwrite(s"$tmp/vectors", hist)
      store.overwrite(s"$tmp/vectors_sigs",
        Similarity.signBandTable(corpus.unionByName(hist), "vec_id", "embedding",
          bits, bands))
      store.overwrite(s"$tmp/vectors_vecs", corpus.unionByName(hist))
      val verifySide =
        if (stored) store.read(s"$tmp/vectors_vecs")
        else corpus.unionByName(store.read(s"$tmp/vectors"))
      val dups = Similarity.lshNearDupPairsIndexed(
        store.read(s"$tmp/vectors_sigs"), verifySide, batch,
        "vec_id", "embedding", 0.3, bits, bands)
      batch.join(dups.select(col("batch_id").as("vec_id")).distinct(),
        Seq("vec_id"), "left_anti")
    }
    def annJoinProbe(s: SparkSession, d: String, indexed: Boolean): DataFrame = {
      import org.apache.spark.sql.functions.{col, pmod, lit}
      import graft.ops.Similarity
      val emb = graft.core.Tables.table(s, d, "embeddings")
        .select("vec_id", "embedding")
      val corpus = emb.where(pmod(col("vec_id"), lit(4)) === 0)
      val hist = emb.where(pmod(col("vec_id"), lit(4)) === 1 ||
        pmod(col("vec_id"), lit(4)) === 2)
      val batch = emb.where(pmod(col("vec_id"), lit(4)) === 3)
      val n = corpus.count()
      val bits = Similarity.recommendedBits(n)
      val bands = Similarity.recommendedBands(n, 64)
      val tmp = java.nio.file.Files.createTempDirectory("probe-annjoin").toString
      val store = new graft.sources.TableStore(s)
      store.overwrite(s"$tmp/vectors", hist)
      store.overwrite(s"$tmp/vectors_sigs",
        Similarity.signBandTable(corpus, "vec_id", "embedding", bits, bands)
          .unionByName(Similarity.signBandTable(hist, "vec_id", "embedding",
            bits, bands)))
      // both shapes read the admitted side from the store, as the sink does
      val admitted = store.read(s"$tmp/vectors")
      val dups =
        if (indexed)
          Similarity.lshNearDupPairsIndexed(store.read(s"$tmp/vectors_sigs"),
            corpus.unionByName(admitted), batch,
            "vec_id", "embedding", 0.3, bits, bands)
        else
          Similarity.lshNearDupPairsAcross(corpus, batch,
            "vec_id", "embedding", 0.3, bits, bands)
            .unionByName(Similarity.lshNearDupPairsAcross(admitted, batch,
              "vec_id", "embedding", 0.3, bits, bands))
      batch.join(dups.select(col("batch_id").as("vec_id")).distinct(),
        Seq("vec_id"), "left_anti")
    }
    def annBatchProbe(s: SparkSession, d: String, preAdmit: Boolean): DataFrame = {
      import org.apache.spark.sql.functions.{col, pmod, lit}
      import graft.ops.Similarity
      val emb = graft.core.Tables.table(s, d, "embeddings")
        .select("vec_id", "embedding")
      val corpus = emb.where(pmod(col("vec_id"), lit(4)) === 0)
      val n = corpus.count()
      val bits = Similarity.recommendedBits(n)
      val bands = Similarity.recommendedBands(n, 64)
      val tmp = java.nio.file.Files.createTempDirectory(
        s"probe-ann-${if (preAdmit) "warm" else "cold"}").toString
      val store = new graft.sources.TableStore(s)
      val table = s"$tmp/vectors"
      if (preAdmit) {
        // admitted history = 2× the corpus, with its maintained sig index
        val hist = emb.where(pmod(col("vec_id"), lit(4)) === 1 ||
          pmod(col("vec_id"), lit(4)) === 2)
        store.overwrite(table, hist)
        store.overwrite(s"${table}_sigs",
          Similarity.signBandTable(corpus, "vec_id", "embedding", bits, bands)
            .unionByName(Similarity.signBandTable(hist, "vec_id", "embedding",
              bits, bands)))
      }
      val srcDir = new java.io.File(s"$tmp/drops"); srcDir.mkdirs()
      val stage = s"$tmp/stage_b0"
      emb.where(pmod(col("vec_id"), lit(4)) === 3).coalesce(1).write.parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        new java.io.File(srcDir, "b0.parquet").toPath)
      val schema = ManifestRead.footerSchema(s, s"$srcDir/b0.parquet")
      val stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("basePath", srcDir.toString)
        .parquet(s"$srcDir/*.parquet")
      graft.streaming.EventStream.streamAnnDedupedIngest(stream, corpus, store,
        table, "vec_id", "embedding", 0.3, bits, bands, s"$tmp/ckpt")
        .awaitTermination()
      // rows reported = the batch's survivors (same magnitude both probes)
      store.read(table).where(pmod(col("vec_id"), lit(4)) === 3)
    }
    def contentOf(s: SparkSession, d: String): DataFrame =
      graft.core.Tables.tableRebalanced(s, d, "documents")
        .select(org.apache.spark.sql.functions.col("doc_id").as("id"),
          org.apache.spark.sql.functions.col("text").as("content"))
    def streamMomentsProbe(s: SparkSession, d: String, nDrops: Int): DataFrame = {
      import org.apache.spark.sql.functions.{col, pmod, lit}
      val ev = graft.core.Tables.table(s, d, "events")
        .select("event_id", "event_type", "value")
      val tmp = java.nio.file.Files.createTempDirectory(s"probe-mom$nDrops").toString
      val srcDir = new java.io.File(s"$tmp/drops"); srcDir.mkdirs()
      (0 until nDrops).foreach { i =>
        val stage = s"$tmp/stage_b$i"
        ev.where(pmod(col("event_id"), lit(nDrops)) === i).coalesce(1)
          .write.parquet(stage)
        val part = new java.io.File(stage).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        val dst = new java.io.File(srcDir, s"b$i.parquet")
        java.nio.file.Files.move(part.toPath, dst.toPath)
        dst.setLastModified((i + 1) * 1000000L)
      }
      val schema = ManifestRead.footerSchema(s, s"$srcDir/b0.parquet")
      val stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("basePath", srcDir.toString)
        .parquet(s"$srcDir/*.parquet")
      val store = new graft.sources.TableStore(s)
      val q = graft.streaming.EventStream.streamMomentsMerge(stream, store,
        s"$tmp/moments", s"$tmp/ckpt", "event_type", "value")
      q.awaitTermination()
      graft.ops.Quality.mergeMoments(store.read(s"$tmp/moments"), "event_type")
    }
    val out = probes.map { name =>
      val fn = strongPairProbes(name).getOrElse(SparkEntry.queries(name))
      var secs = -1.0
      var rows = -1L
      try graft.core.CacheRegistry.scoped {
        val t0 = System.nanoTime()
        rows = fn(spark, dir).count()
        secs = (System.nanoTime() - t0) / 1e9
      } catch { case e: Throwable =>
        System.err.println(s"[probe] $name FAILED: ${e.getMessage}")
      }
      graft.core.CacheRegistry.drain()
      f""""$name":{"sec":$secs%.3f,"rows":$rows}"""
    }
    println(out.mkString(s"""{"dir":"$dir",""", ",", "}"))
    spark.stop()
  }
}
