package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** Structured-Streaming upgrade path for the reference's micro-batch ingest
  * loop (SURVEY.md §2.8): the ADF-scheduled watermark scan
  * (/root/reference/adf/pipeline.json:129) is the batch shape of a file
  * stream + event-time watermark; `Trigger.AvailableNow` reproduces the
  * scheduled-batch semantics exactly (process everything available, then
  * stop) while keeping exactly-once file tracking in the checkpoint instead
  * of a hand-rolled watermark file.
  *
  * The transforms are written against plain DataFrames so the SAME function
  * runs in batch (tested against the DuckDB oracle via q16) and as a
  * streaming query — the Spark-native way to keep the two paths consistent.
  */
object EventStream {

  /** Event-time hourly aggregate (shared batch/streaming shape; q16). */
  def hourlyAggregate(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(12,2)")).as("sum_value_d"))
      .select(col("window.start").as("hour"), col("event_type"),
        col("n_events"), col("sum_value_d").cast("double").as("sum_value"))

  /** SLIDING event-time windows (shared batch/streaming shape; q168):
    * every event lands in `size / slide` overlapping windows — the
    * smoothed rate/alert signal a tumbling window can't give (a spike
    * straddling a tumbling boundary halves; a sliding window sees it
    * whole). Same exact-decimal sum device as [[hourlyAggregate]];
    * windows are epoch-aligned (Spark's `window()` default), so an
    * external engine reproduces membership with epoch-aligned
    * time buckets. `size` must be a multiple of `slide`.
    *
    * Scale shape: the ×(size/slide) row fan-out happens MAP-SIDE into a
    * partial aggregate, so the exchange carries ≤ \|windows × types\|
    * partial rows, never the multiplied event stream. In streaming, pair
    * with a watermark (state eviction); drain with `outputMode complete`
    * to a test sink to observe suppressed-tail windows too. */
  def slidingCounts(events: DataFrame, size: String = "1 hour",
                    slide: String = "15 minutes"): DataFrame =
    events
      .groupBy(window(col("ts"), size, slide), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(12,2)")).as("sum_value_d"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("n_events"), col("sum_value_d").cast("double").as("sum_value"))

  /** File-source stream over a landing directory of csv drops — the
    * streaming form of the reference's landing scan. `maxFilesPerTrigger`
    * bounds micro-batch size at scale. */
  def readCsvStream(spark: SparkSession, dir: String, schema: StructType,
                    maxFilesPerTrigger: Int = 100): DataFrame =
    spark.readStream
      .schema(schema)
      .option("header", "true")
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .csv(dir)

  /** Streaming scan of the benchmark `events` table — the readStream twin of
    * [[graft.core.Tables.table]], with the same ts normalization (file
    * sources need an explicit schema; it comes from the file's footer). */
  def readEventsStream(spark: SparkSession, dir: String): DataFrame =
    // the benchmark table is a single FILE: FileStreamSource force-sets
    // basePath to the path itself unless the path is a glob, and a file
    // basePath fails partition inference — so glob the filename and anchor
    // basePath at the table directory explicitly
    graft.core.Tables.events(spark, s"$dir/events.parquet")(
      spark.readStream.schema(_).option("basePath", dir).parquet(s"$dir/events.parquet*"))

  /** Run a streaming aggregate with a 1-hour event-time watermark (late data
    * beyond it is dropped and state is evicted — bounded state at scale),
    * draining everything available then stopping (scheduled-batch parity). */
  def runAvailableNow(events: DataFrame, checkpoint: String, outPath: String): StreamingQuery =
    hourlyAggregate(events.withWatermark("ts", "1 hour"))
      .writeStream
      .outputMode("append")
      .format("parquet")
      .option("path", outPath)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()

  /** The shared committed-batch replay guard (every foreachBatch writer
    * here): on restart Spark RE-RUNS the last un-checkpointed micro-batch
    * with the same batchId, and a naive sink would apply it twice. The
    * marker rides INSIDE the TableStore manifest commit
    * ([[graft.sources.TableStore.appendWithMeta]]) — version and marker
    * advance atomically, so the classic two-phase crash window (data
    * committed, marker lost) cannot exist. Reads take the MAX across the
    * table's whole manifest history ([[graft.sources.TableStore.metaMaxLong]]):
    * a maintenance commit that doesn't restate the marker (compact, a
    * manual append) cannot silently reset it to "never" — and after an
    * explicit `restore`, the marker still wins (a redelivered old batch is
    * NOT re-applied to the rolled-back table; restore is an operator
    * action, not a replay license). */
  private def lastCommittedBatch(store: graft.sources.TableStore,
                                 table: String): Long =
    store.metaMaxLong(table, "committedBatch").getOrElse(-1L)

  private def batchMarker(batchId: Long): Map[String, String] =
    Map("committedBatch" -> batchId.toString)

  /** The CURRENT version's committedBatch marker — used to detect a
    * SIBLING index lagging its data table (the crash window between the
    * data commit and the index commit): unlike [[lastCommittedBatch]]'s
    * history max, a restore/rollback of the sibling drops its current
    * marker and correctly reads as "behind". */
  private def currentBatchMarker(store: graft.sources.TableStore,
                                 table: String): Long =
    store.versionMeta(table).get("committedBatch")
      .flatMap(v => scala.util.Try(v.trim.toLong).toOption).getOrElse(-1L)

  /** True when sibling index table `sib` trails the data table's latest
    * commit — the ONLY histories in which the self-heal scan can find
    * work, so the (table ⋈ sib) anti-join is gated on it instead of
    * running every trigger (VERDICT r9 #3: a clean history paid a full
    * data-table + index scan per trigger to prove the heal was empty). */
  private[streaming] def indexLags(store: graft.sources.TableStore,
                                   table: String, sib: String): Boolean =
    store.exists(table) &&
      currentBatchMarker(store, sib) < currentBatchMarker(store, table)

  /** Repair a sibling index that trails its data table: re-derive index
    * rows (via `sign`) for data-table ids missing from the sibling and
    * append them under the data table's current marker (plus
    * `extraMeta` — the sigs siblings' calibration markers, which every
    * commit must restate because meta is not inherited). Runs ONLY when
    * [[indexLags]] says the sibling trails. When the sibling trails but
    * NOTHING is missing — a [[graft.sources.TableStore.compact]] of the
    * sibling dropped its marker (maintenance commits state their own,
    * usually empty, meta), the expected shape after compacting an index
    * that accumulates one data dir per trigger — the marker is
    * re-stamped with a metadata-only commit
    * ([[graft.sources.TableStore.stampMeta]]): without it every future
    * trigger would re-pay the full data ⋈ sibling heal scan to
    * re-discover that nothing is missing.
    *
    * Returns the number of healed rows, so the caller can fold them into
    * the index's standing-count marker (a crash between the data commit
    * and the sibling append would otherwise leave those rows permanently
    * uncounted by the milestone-re-banding bookkeeping). */
  private def healSibling(store: graft.sources.TableStore, table: String,
                          sib: String, idCol: String, cols: Seq[String],
                          extraMeta: Map[String, String] = Map.empty)
                         (sign: DataFrame => DataFrame): Long =
    if (!indexLags(store, table, sib)) 0L
    else {
      val marker = batchMarker(currentBatchMarker(store, table))
      // persisted: the heal scan (a data ⋈ sibling anti-join) feeds both
      // the count probe and the append — unpersisted it would run twice
      // per lagging sibling
      val missing = store.read(table).select(cols.map(col): _*)
        .join(store.read(sib).select(idCol).distinct(), Seq(idCol), "left_anti")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val healed = missing.count()
        if (healed > 0L)
          store.appendWithMeta(sib, sign(missing), marker ++ extraMeta)
        else store.stampMeta(sib, marker ++ extraMeta)
        healed
      } finally missing.unpersist()
    }

  /** The sigs siblings' calibration markers (see the milestone-re-banding
    * notes on [[streamDedupedIngest]]/[[streamAnnDedupedIngest]]): the
    * two calibration knobs under gate-specific keys, the standing count
    * at the last calibration decision, and the current standing count. */
  private def calibMeta(keyA: String, a: Int, keyB: String, b: Int,
                        calibCount: Long, standingCount: Long): Map[String, String] =
    Map(keyA -> a.toString, keyB -> b.toString,
      "calibCount" -> calibCount.toString,
      "standingCount" -> standingCount.toString)

  /** Parse the four calibration markers: the CURRENT version's first,
    * then the LATEST historical version carrying all four — a compact of
    * the sigs sibling (the expected maintenance action: it accumulates a
    * data dir per trigger) states no markers but changes no signatures,
    * so the newest historical calibration still describes the content
    * exactly, at the cost of a manifest-history walk instead of a full
    * index rebuild. (The count markers can be one heal behind after a
    * restore — they are milestone-pacing bookkeeping, not a correctness
    * input, and the sigs heal folds missing rows back in.) None only
    * when NO version ever carried them (a legacy or vacuum-folded
    * index) — the caller's recovery path rebuilds from scratch then.
    * CAVEAT, documented on both gates: restoring a sigs sibling ACROSS a
    * re-banding boundary leaves content at the old calibration under
    * newer history markers — delete the sibling instead (bootstrap
    * rebuilds it); an index is a derived artifact, not a table to roll
    * back. */
  private def readCalib(store: graft.sources.TableStore, sib: String,
                        keyA: String, keyB: String): Option[(Int, Int, Long, Long)] = {
    def parse(m: Map[String, String]): Option[(Int, Int, Long, Long)] = for {
      a <- m.get(keyA).flatMap(v => scala.util.Try(v.toInt).toOption)
      b <- m.get(keyB).flatMap(v => scala.util.Try(v.toInt).toOption)
      cc <- m.get("calibCount").flatMap(v => scala.util.Try(v.toLong).toOption)
      sc <- m.get("standingCount").flatMap(v => scala.util.Try(v.toLong).toOption)
    } yield (a, b, cc, sc)
    parse(store.versionMeta(sib)).orElse(
      store.versions(sib).reverse.iterator
        .map(v => parse(store.versionMetaAt(sib, v)))
        .collectFirst { case Some(c) => c })
  }

  /** Streaming Bronze ingest: a file stream drained into the versioned
    * [[graft.sources.TableStore]] via `foreachBatch` — the streaming twin of
    * [[graft.etl.BronzeIngest.ingestTable]]. The checkpoint tracks which
    * files each micro-batch consumed (exactly-once file accounting replaces
    * the hand-rolled watermark file), and every micro-batch lands as one
    * atomic TableStore append, so a crash between batches leaves the table
    * at the last committed version — never a half-written batch.
    * `Trigger.AvailableNow` drains everything then stops (the scheduled-
    * batch parity mode); drop the trigger for a long-running ingest.
    *
    * Replay safety: the committed-batch marker rides IN the append's
    * manifest commit (see [[lastCommittedBatch]]) — there is no window in
    * which data landed but the marker didn't.
    *
    * At scale the batch size is governed by `maxFilesPerTrigger` on the
    * source (bound memory per micro-batch) and each append is partitioned
    * like the batch path (`partitionBy`). */
  def streamToBronze(stream: DataFrame, store: graft.sources.TableStore,
                     table: String, checkpoint: String,
                     partitionBy: Seq[String] = Nil,
                     onAppend: Long => Unit = _ => ()): StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        if (batchId > lastCommittedBatch(store, table) && !batch.isEmpty) {
          // rows observed during the append itself (the BronzeIngest
          // count-during-write device; the source's numInputRows metric
          // counts csv HEADER lines too, so it can't back a report).
          // foreachBatch runs on the driver, so the callback sees every
          // committed batch in order.
          onAppend(graft.core.Observed.countDuring(batch.toDF())(
            store.appendWithMeta(table, _, batchMarker(batchId), partitionBy)))
        }
      }
      .start()

  /** Streaming maintenance of the incremental daily mart
    * ([[graft.etl.IncrementalMart]]): each micro-batch of order rows
    * reduces to per-day partials — ONE delta hash-agg, the only work that
    * scales with the batch — which merge with the stored partials on the
    * mart key and atomically overwrite the versioned table (pointer
    * swap; the read side of the merge still sees the previous version's
    * files while the new one is written). History is never rescanned:
    * however large the fact grows, a batch pays its own reduction plus a
    * |days|-row merge. Replay safety: the committed-batch marker rides IN
    * the overwrite's manifest commit (see [[lastCommittedBatch]]) — a
    * re-delivered batchId is skipped, so no day's counts can double on
    * recovery, and no crash can separate the merge from its marker. */
  def streamMartMerge(stream: DataFrame, store: graft.sources.TableStore,
                      table: String, checkpoint: String,
                      lgK: Int = 12): StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        if (batchId > lastCommittedBatch(store, table) && !batch.isEmpty) {
          val delta = graft.etl.IncrementalMart.dailyPartials(batch.toDF(), lgK)
          val merged =
            if (store.exists(table))
              graft.etl.IncrementalMart.mergePartials(store.read(table), delta)
            else delta
          store.overwriteWithMeta(table, merged, batchMarker(batchId))
          ()
        }
      }
      .start()

  /** Streaming maintenance of per-group distribution MOMENTS — the
    * [[streamMartMerge]] pattern applied to [[graft.ops.Quality]]'s raw
    * power sums: each micro-batch reduces to (group, n, Σv, Σv², Σv³,
    * Σv⁴) partials in ONE hash-agg, which merge ADDITIVELY into the
    * stored table (moments are algebraic in the power sums — the same
    * merge law q149 pins for batch backfills, now held open across a
    * stream). [[graft.ops.Quality.mergeMoments]] over the stored table
    * yields mean/variance/skew/kurtosis at any point without touching
    * history. Same atomic manifest-meta replay marker as
    * [[streamToBronze]] (see [[lastCommittedBatch]]). */
  def streamMomentsMerge(stream: DataFrame, store: graft.sources.TableStore,
                         table: String, checkpoint: String,
                         groupCol: String, valueCol: String): StreamingQuery = {
    import org.apache.spark.sql.functions.{col, lit, sum}
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        if (batchId > lastCommittedBatch(store, table) && !batch.isEmpty) {
          val delta = graft.ops.Quality
            .momentPartials(batch.toDF(), groupCol, lit(0), valueCol)
            .drop("part")
          val merged =
            (if (store.exists(table)) store.read(table).unionByName(delta)
             else delta)
              .groupBy(col(groupCol))
              .agg(sum("n").as("n"), sum("s1").as("s1"), sum("s2").as("s2"),
                sum("s3").as("s3"), sum("s4").as("s4"))
          store.overwriteWithMeta(table, merged, batchMarker(batchId))
          ()
        }
      }
      .start()
  }

  /** Streaming ingest with inline near-dup rejection — the ingestion-time
    * composition of [[streamToBronze]] and
    * [[graft.ops.Dedup.minHashLshPairsIndexed]]: each micro-batch is
    * checked against the STANDING corpus (the supplied `corpus` plus
    * everything this stream has already appended), rows with an
    * LSH-verified near-duplicate are dropped, and only the survivors are
    * appended. This is the shape a 100 TB training-data pipeline actually
    * runs: the corpus is never re-deduped against itself; each arriving
    * batch pays only its own banded join against the standing side.
    *
    * The standing side is a MAINTAINED INDEX (the pattern
    * [[streamAnnDedupedIngest]] established, back-ported per VERDICT r9
    * #1): two versioned sibling tables hold the MinHash LSH band rows
    * (`<table>_minhash_sigs`: (id, band, bh)) and the exact-Jaccard
    * verify arrays (`<table>_minhash_arrays`: (id, sh)) of corpus +
    * admitted rows — initialized from the corpus on the first trigger,
    * appended with each admitted batch's rows — so a trigger pays the
    * BATCH's signature pass plus a bucket join against the stored index;
    * per-trigger cost no longer grows with how much history was admitted
    * (the previous shape re-signed EVERY admitted survivor per trigger —
    * a bound that grows without bound).
    *
    * Replay safety: the committed-batch marker rides IN the data commit
    * ([[graft.sources.TableStore.appendWithMeta]]) — version and marker
    * advance atomically, closing the crash window the previous separate
    * marker file left (VERDICT r9 #1). The sibling appends are later
    * commits and CAN lag a crash; the next trigger self-heals by
    * re-signing admitted rows missing from the index (an id anti-join),
    * gated on the siblings' own marker trailing the data table's
    * ([[indexLags]]) so a clean history never pays the heal scan.
    *
    * INTRA-BATCH semantics: by default the batch is never joined against
    * itself, so two novel near-dup rows arriving in the SAME micro-batch
    * both survive — dedup granularity is the micro-batch boundary.
    * `intraBatch = true` first reduces the batch to cluster
    * representatives (banded self-pairs → connected components → keep
    * min id, [[graft.ops.Dedup.dropNearDuplicates]]) BEFORE the standing
    * join, so a batch can never admit two near-dups of each other.
    *
    * MILESTONE RE-BANDING (VERDICT r10 #1): the caller's (bands,
    * rowsPerBand) is the BOOTSTRAP calibration only — the sigs sibling
    * carries its own calibration markers (`calibBands`/`calibRows`) plus
    * the standing count they were derived at (`calibCount`) and the
    * current standing count (`standingCount`), all committed atomically
    * with every signature write. With `recalib` set, each decade of
    * standing growth past the last calibration decision re-derives the
    * banding from the CURRENT standing count
    * ([[graft.ops.Dedup.recommendedBanding]] is the intended rule) and
    * rebuilds the sigs sibling from the stored shingle arrays in one
    * atomic overwrite — so the index calibration tracks n forever
    * instead of freezing at the bootstrap corpus, at amortized O(1)
    * re-signs per admitted row. `recalib = None` pins the bootstrap
    * calibration (the previous behavior). A maintenance commit that
    * drops the calibration markers triggers the RECOVERY path: recount
    * the standing side, re-derive, rebuild — the index is never trusted
    * at an unknown calibration. */
  def streamDedupedIngest(stream: DataFrame, corpus: DataFrame,
                          store: graft.sources.TableStore, table: String,
                          idCol: String, textCol: String,
                          n: Int, bands: Int, rowsPerBand: Int,
                          minJaccard: Double, checkpoint: String,
                          intraBatch: Boolean = false,
                          recalib: Option[Long => (Int, Int)] = None): StreamingQuery = {
    import graft.ops.Dedup
    val sigsTable = s"${table}_minhash_sigs"
    val arraysTable = s"${table}_minhash_arrays"
    val corpusSlim = corpus.select(col(idCol), col(textCol))
    // seeds the standing-count marker at bootstrap and backs the
    // meta-loss recovery; computed at most once per gate instance
    lazy val corpusN = corpusSlim.count()
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        if (batchId > lastCommittedBatch(store, table) && !batch.isEmpty) {
          val df0 = batch.toDF()
          // index bootstrap: the fixed corpus is signed ONCE, on the
          // first trigger — never again; the calibration + standing-count
          // markers commit WITH the signatures
          if (!store.exists(sigsTable)) {
            val n0 = corpusN
            store.overwriteWithMeta(sigsTable,
              Dedup.minHashBandTable(corpusSlim, idCol, textCol, n, bands,
                rowsPerBand),
              batchMarker(-1L) ++
                calibMeta("calibBands", bands, "calibRows", rowsPerBand, n0, n0))
          }
          if (!store.exists(arraysTable))
            store.overwriteWithMeta(arraysTable,
              Dedup.shingleArrays(corpusSlim, idCol, textCol, n),
              batchMarker(-1L))
          // self-heal the crash window between the data commit and the
          // sibling commits — ONLY when a sibling's marker trails the
          // data table's (a clean history skips the scan entirely). The
          // CALIBRATION-INDEPENDENT arrays sibling heals first: it is
          // the re-banding rebuild source, so it must be complete before
          // any sigs rebuild below reads it.
          healSibling(store, table, arraysTable, idCol, Seq(idCol, textCol))(
            missing => Dedup.shingleArrays(missing, idCol, textCol, n))
          // ACTIVE calibration: the sigs sibling's stored markers govern
          // this trigger's banding (NOT the caller's bootstrap values —
          // a milestone may have re-banded the index); when a
          // maintenance commit dropped the markers, RECOVER by
          // recounting the standing side and rebuilding the sigs from
          // the arrays sibling in one atomic overwrite
          var (curBands, curRows, calibCount, standingCount) =
            readCalib(store, sigsTable, "calibBands", "calibRows").getOrElse {
              val sc = corpusN +
                (if (store.exists(table)) store.read(table).count() else 0L)
              val (b, r) = recalib.map(_(sc)).getOrElse((bands, rowsPerBand))
              store.overwriteWithMeta(sigsTable,
                Dedup.minHashBandTableFromArrays(store.read(arraysTable),
                  idCol, b, r),
                batchMarker(currentBatchMarker(store, table)) ++
                  calibMeta("calibBands", b, "calibRows", r, sc, sc))
              (b, r, sc, sc)
            }
          // heal the sigs sibling at its ACTIVE calibration (restating
          // the calibration markers the heal commit would otherwise
          // drop), folding healed rows into the standing count
          standingCount += healSibling(store, table, sigsTable, idCol,
            Seq(idCol, textCol),
            calibMeta("calibBands", curBands, "calibRows", curRows,
              calibCount, standingCount))(
            missing => Dedup.minHashBandTable(missing, idCol, textCol, n,
              curBands, curRows))
          // MILESTONE RE-BANDING (VERDICT r10 #1): when the standing
          // side has grown a DECADE past the last calibration decision,
          // re-derive the banding from the standing count and rebuild
          // the sigs sibling from the arrays sibling in ONE atomic
          // overwrite — the LSM-style milestone that keeps collision
          // volume tracking n instead of drifting under-banded forever.
          // Amortized O(1) per admitted row (each row is re-signed at
          // most once per decade); a crash mid-rebuild leaves the old
          // sigs version intact (pointer-swap commit).
          recalib.foreach { rule =>
            if (standingCount >= 10L * calibCount) {
              val (nb, nr) = rule(standingCount)
              calibCount = standingCount
              if (nb != curBands || nr != curRows) {
                curBands = nb; curRows = nr
                store.overwriteWithMeta(sigsTable,
                  Dedup.minHashBandTableFromArrays(store.read(arraysTable),
                    idCol, nb, nr),
                  batchMarker(currentBatchMarker(store, sigsTable)) ++
                    calibMeta("calibBands", nb, "calibRows", nr,
                      calibCount, standingCount))
              }
            }
          }
          // ONE signature pass per trigger (VERDICT r10 #3): the batch's
          // band + shingle-array tables are computed once, persisted,
          // and reused by the intra-batch reduction, the standing-index
          // join, AND the sibling-index appends (the previous shape
          // signed the intra path twice and survivors a third time)
          val slim0 = df0.select(col(idCol), col(textCol))
          val batchBands = Dedup.minHashBandTable(slim0, idCol, textCol,
            n, curBands, curRows)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          val batchArrays = Dedup.shingleArrays(slim0, idCol, textCol, n)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          try {
            // optional intra-batch reduction BEFORE the standing join:
            // banded self-pairs → cluster representatives (min id)
            val df =
              if (!intraBatch) df0
              else {
                val pairs = Dedup.minHashLshPairsOn(batchBands, batchArrays,
                  idCol, minJaccard)
                df0.join(Dedup.dropNearDuplicates(slim0, idCol, textCol, n,
                  minJaccard, Some(pairs)), Seq(idCol), "left_semi")
              }
            val keep = df.select(idCol)
            val dups = Dedup.minHashLshPairsIndexed(
              store.read(sigsTable), store.read(arraysTable), df,
              idCol, textCol, n, curBands, curRows, minJaccard,
              batchBands = Some(batchBands.join(keep, Seq(idCol), "left_semi")),
              batchArrays = Some(batchArrays.join(keep, Seq(idCol), "left_semi")))
              .select(col("batch_id").as(idCol)).distinct()
            val survivors = df.join(dups, Seq(idCol), "left_anti")
              .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            try {
              val marker = batchMarker(batchId)
              if (store.exists(table)) store.appendWithMeta(table, survivors, marker)
              else store.overwriteWithMeta(table, survivors, marker)
              val survivorIds = survivors.select(idCol)
              store.appendWithMeta(sigsTable,
                batchBands.join(survivorIds, Seq(idCol), "left_semi"),
                marker ++ calibMeta("calibBands", curBands, "calibRows", curRows,
                  calibCount, standingCount + survivors.count()))
              store.appendWithMeta(arraysTable,
                batchArrays.join(survivorIds, Seq(idCol), "left_semi"), marker)
              ()
            } finally survivors.unpersist()
          } finally { batchBands.unpersist(); batchArrays.unpersist() }
        }
      }
      .start()
  }

  /** Streaming EMBEDDING ingest with inline ANN near-dup rejection — the
    * embedding twin of [[streamDedupedIngest]]: each micro-batch of
    * vectors is sign-LSH bucket-joined against the STANDING side — the
    * fixed corpus plus everything this stream has already admitted — and
    * rows with an exact-cosine-verified near-duplicate (cos ≥
    * `threshold`) are dropped before the survivors append. The
    * ingestion-time semantic-dedup composition: corpus² pairs are never
    * generated, each batch pays only batch×standing candidates at the
    * occupancy the (bits, bands) calibration bounds. `bits`/`bands` are
    * pinned by the caller from the STANDING CORPUS's count (the side
    * whose occupancy the candidate join pays; the batch is transient).
    *
    * The standing side is a MAINTAINED INDEX (VERDICT r8 #2, completed
    * r10): TWO versioned sibling tables hold the (id, band, bucket)
    * sign-LSH signatures (`<table>_sigs`) AND the verify vectors
    * (`<table>_vecs`: (id, vec)) of corpus + admitted rows — initialized
    * from the corpus on the first trigger, appended with each admitted
    * batch — so a trigger pays the BATCH's projections plus a bucket
    * join against the stored index, and the exact-cosine verify fetches
    * vectors from the NARROW stored sibling instead of re-reading the
    * (arbitrarily wide) data table and re-evaluating the caller's corpus
    * plan every trigger (VERDICT r9 #2: at 100 TB standing history that
    * union was a per-trigger full scan of the standing vector column
    * even when zero buckets collided). Candidates verify by exact cosine
    * via an id-keyed fetch bounded by the collision set
    * ([[graft.ops.Similarity.lshNearDupPairsIndexed]]).
    *
    * Replay safety: the committed-batch marker rides IN the data commit
    * ([[graft.sources.TableStore.appendWithMeta]]) — version and marker
    * advance atomically, closing the crash window a separate marker file
    * leaves (appended data whose marker never landed would re-append on
    * restart). The sibling appends are later commits and CAN lag a
    * crash; the next trigger self-heals by re-signing admitted rows
    * missing from the index (an id anti-join), gated on the sibling's
    * own marker trailing the data table's ([[indexLags]]) so a clean
    * history never pays the heal scan (VERDICT r9 #3).
    *
    * INTRA-BATCH semantics: by default the batch is never joined against
    * itself, so two novel near-dup vectors arriving in the SAME
    * micro-batch are both admitted — dedup granularity is the
    * micro-batch boundary, the same contract as [[streamDedupedIngest]].
    * `intraBatch = true` first reduces the batch to cluster
    * representatives (banded self-pairs
    * [[graft.ops.Similarity.lshNearDupPairs]] → connected components →
    * keep min id) BEFORE the standing join.
    *
    * MILESTONE RE-BANDING (VERDICT r10 #1): the caller's (bits, bands)
    * is the BOOTSTRAP calibration only — the sigs sibling carries its
    * own calibration markers (`calibBits`/`calibBands`, plus
    * `calibCount`/`standingCount`), committed atomically with every
    * signature write. With `recalib` set (the intended rule: `m =>
    * (recommendedBits(m), recommendedBands(m, dim))`), each decade of
    * standing growth past the last calibration decision re-derives
    * (bits, bands) from the CURRENT standing count and rebuilds the
    * sigs sibling from the vecs sibling in one atomic overwrite — the
    * occupancy rule is an explicit function of n, and without this the
    * stored index drifts under-banded as admitted history grows and
    * collision-bound verify work grows superlinearly (the dominant
    * per-trigger term at the 100× probe). `recalib = None` pins the
    * bootstrap calibration (the previous behavior). Calibration-marker
    * loss (a maintenance commit) RECOVERS by recounting the standing
    * side and rebuilding — the index is never trusted at an unknown
    * calibration. */
  def streamAnnDedupedIngest(stream: DataFrame, corpus: DataFrame,
                             store: graft.sources.TableStore, table: String,
                             idCol: String, vecCol: String,
                             threshold: Double, bits: Int, bands: Int,
                             checkpoint: String,
                             intraBatch: Boolean = false,
                             recalib: Option[Long => (Int, Int)] = None): StreamingQuery = {
    import graft.ops.Similarity
    val sigsTable = s"${table}_sigs"
    val vecsTable = s"${table}_vecs"
    val corpusSlim = corpus.select(col(idCol), col(vecCol))
    // seeds the standing-count marker at bootstrap and backs the
    // meta-loss recovery; computed at most once per gate instance
    lazy val corpusN = corpusSlim.count()
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        if (batchId > lastCommittedBatch(store, table) && !batch.isEmpty) {
          val df0 = batch.toDF().select(col(idCol), col(vecCol))
          // index bootstrap: the fixed corpus is signed (and its vectors
          // copied beside the index) ONCE, on the first trigger; the
          // calibration + standing-count markers commit WITH the sigs
          if (!store.exists(sigsTable)) {
            val n0 = corpusN
            store.overwriteWithMeta(sigsTable,
              Similarity.signBandTable(corpusSlim, idCol, vecCol, bits, bands),
              batchMarker(-1L) ++
                calibMeta("calibBits", bits, "calibBands", bands, n0, n0))
          }
          if (!store.exists(vecsTable))
            store.overwriteWithMeta(vecsTable, corpusSlim, batchMarker(-1L))
          // self-heal the crash window between the data commit and the
          // sibling commits — ONLY when a sibling's marker trails the
          // data table's (a clean history skips the scan entirely). The
          // CALIBRATION-INDEPENDENT vecs sibling heals first: it is the
          // re-banding rebuild source, so it must be complete before
          // any sigs rebuild below reads it.
          healSibling(store, table, vecsTable, idCol, Seq(idCol, vecCol))(
            identity)
          // ACTIVE calibration: the sigs sibling's stored markers govern
          // this trigger's banding (a milestone may have re-banded past
          // the caller's bootstrap values); meta loss RECOVERS by
          // recounting the standing side and rebuilding from the vecs
          // sibling in one atomic overwrite
          var (curBits, curBands, calibCount, standingCount) =
            readCalib(store, sigsTable, "calibBits", "calibBands").getOrElse {
              val sc = corpusN +
                (if (store.exists(table)) store.read(table).count() else 0L)
              val (nb, nba) = recalib.map(_(sc)).getOrElse((bits, bands))
              store.overwriteWithMeta(sigsTable,
                Similarity.signBandTable(store.read(vecsTable), idCol, vecCol,
                  nb, nba),
                batchMarker(currentBatchMarker(store, table)) ++
                  calibMeta("calibBits", nb, "calibBands", nba, sc, sc))
              (nb, nba, sc, sc)
            }
          // heal the sigs sibling at its ACTIVE calibration (restating
          // the calibration markers the heal commit would otherwise
          // drop), folding healed rows into the standing count
          standingCount += healSibling(store, table, sigsTable, idCol,
            Seq(idCol, vecCol),
            calibMeta("calibBits", curBits, "calibBands", curBands,
              calibCount, standingCount))(
            missing => Similarity.signBandTable(missing, idCol, vecCol,
              curBits, curBands))
          // MILESTONE RE-BANDING (VERDICT r10 #1): when the standing
          // side has grown a DECADE past the last calibration decision,
          // re-derive (bits, bands) from the standing count — the
          // occupancy rule [[graft.ops.Similarity.recommendedBits]] is
          // an explicit function of n, so a bootstrap-pinned calibration
          // drifts under-banded and collision volume grows
          // superlinearly — and rebuild the sigs sibling from the vecs
          // sibling in ONE atomic overwrite. Amortized O(1) re-signs
          // per admitted row; a crash mid-rebuild leaves the old sigs
          // version intact (pointer-swap commit).
          recalib.foreach { rule =>
            if (standingCount >= 10L * calibCount) {
              val (nb, nba) = rule(standingCount)
              calibCount = standingCount
              if (nb != curBits || nba != curBands) {
                curBits = nb; curBands = nba
                store.overwriteWithMeta(sigsTable,
                  Similarity.signBandTable(store.read(vecsTable), idCol,
                    vecCol, nb, nba),
                  batchMarker(currentBatchMarker(store, sigsTable)) ++
                    calibMeta("calibBits", nb, "calibBands", nba,
                      calibCount, standingCount))
              }
            }
          }
          // ONE signature pass per trigger (VERDICT r10 #3): the batch's
          // sign-LSH band table is computed once, persisted, and reused
          // by the intra-batch reduction, the standing-index join, AND
          // the sigs-sibling append (the previous shape signed the intra
          // path twice and survivors a third time)
          val batchSigs = Similarity.signBandTable(df0, idCol, vecCol,
            curBits, curBands)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          try {
            // optional intra-batch reduction BEFORE the standing join:
            // banded self-pairs → cluster representatives (min id)
            val df =
              if (!intraBatch) df0
              else {
                val pairs = Similarity.lshNearDupPairsOn(batchSigs, df0,
                  idCol, vecCol, threshold)
                val keep = graft.ops.Dedup
                  .clusters(pairs, "id_a", "id_b", df0.select(idCol), idCol)
                  .where(col(idCol) === col("cluster_id")).select(idCol)
                df0.join(keep, Seq(idCol), "left_semi")
              }
            val keepIds = df.select(idCol)
            val dups = Similarity.lshNearDupPairsIndexed(
              store.read(sigsTable), store.read(vecsTable), df,
              idCol, vecCol, threshold, curBits, curBands,
              batchSigs = Some(batchSigs.join(keepIds, Seq(idCol), "left_semi")))
              .select(col("batch_id").as(idCol)).distinct()
            val survivors = df.join(dups, Seq(idCol), "left_anti")
              .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            try {
              val marker = batchMarker(batchId)
              if (store.exists(table)) store.appendWithMeta(table, survivors, marker)
              else store.overwriteWithMeta(table, survivors, marker)
              store.appendWithMeta(sigsTable,
                batchSigs.join(survivors.select(idCol), Seq(idCol), "left_semi"),
                marker ++ calibMeta("calibBits", curBits, "calibBands", curBands,
                  calibCount, standingCount + survivors.count()))
              store.appendWithMeta(vecsTable, survivors, marker)
              ()
            } finally survivors.unpersist()
          } finally batchSigs.unpersist()
        }
      }
      .start()
  }

  /** Streaming SCD2 upsert — the streaming form of
    * [[graft.etl.SilverScd2]]: every micro-batch is staged (full-outer
    * hash-diff against the current slice, per-pk batch dedup) and merged
    * (expire + insert + atomic pointer swap) with the SAME
    * [[graft.etl.Scd2]] machinery the batch path runs, so the two paths
    * cannot drift. The first batch initial-loads the table. `runTs` per
    * batch is the batch's max `tsCol` — pinned from the DATA, so a
    * replayed batch produces byte-identical versions.
    *
    * Replay safety: the committed-batch marker rides IN the merge's
    * manifest commit (see [[lastCommittedBatch]]) — a re-delivered
    * batchId is skipped instead of double-merged (stage itself would
    * classify a replay as NO CHANGE, so the marker guards only the
    * expire/re-insert churn, not correctness of current rows). A batch
    * that stages to NO CHANGE commits nothing — its replay just
    * re-stages to the same no-op, so the missing marker is harmless.
    *
    * At scale each micro-batch merge shuffles the batch side only when the
    * silver table is pk-bucketed ([[graft.sources.BucketedTableStore]]);
    * state lives in the table, not the stream — no growing stream state. */
  def streamToSilverScd2(stream: DataFrame, store: graft.sources.TableStore,
                         silverPath: String, pk: String, tsCol: String,
                         checkpoint: String): StreamingQuery = {
    import graft.etl.Scd2
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        if (batchId > lastCommittedBatch(store, silverPath) && !batch.isEmpty) {
          val df = batch.toDF()
          val runTs = df.agg(max(col(tsCol))).head().getTimestamp(0)
          if (!store.exists(silverPath))
            store.overwriteWithMeta(silverPath, Scd2.initialLoad(df, runTs),
              batchMarker(batchId), Seq("is_current"))
          else {
            val target = store.read(silverPath)
            val staged = Scd2.stage(df, target.where(col("is_current")), pk)
            if (!staged.isEmpty)
              store.overwriteWithMeta(silverPath,
                Scd2.applyMerge(target, staged, pk, runTs),
                batchMarker(batchId), Seq("is_current"))
          }
          ()
        }
      }
      .start()
  }

  /** Watermarked stream-stream interval join (attribution): every
    * (left, right) pair sharing `key` with `rightTime` in
    * `[leftTime, leftTime + horizon]` — the streaming twin of
    * [[graft.ops.Joins.bandedRangeJoin]] at `lower = 0, upper = horizon`
    * (click→purchase attribution, exposure→outcome linkage) with
    * inner-join semantics.
    *
    * State stays bounded because BOTH ingredients Spark needs are present:
    * each side carries an event-time watermark (`delayThreshold`), and the
    * join condition bounds the two event times against each other — so a
    * buffered left row is droppable once the right watermark passes
    * `leftTime + horizon`, and a buffered right row once the left
    * watermark passes `rightTime`. Without the time-range conjunct the
    * state store would grow forever; this operator makes the contract
    * impossible to miss. Same column contract as the batch range join:
    * `key` must be the only shared column name (enforced).
    *
    * `horizon` is a SQL interval body, e.g. `"30 minutes"`. */
  def intervalJoinStream(left: DataFrame, right: DataFrame, key: String,
                         leftTime: String, rightTime: String,
                         horizon: String, delayThreshold: String): DataFrame = {
    val shared = left.columns.intersect(right.columns).filterNot(_ == key)
    require(shared.isEmpty,
      s"intervalJoinStream: sides share non-key column(s) ${shared.mkString("'", "', '", "'")} - " +
        "rename them before joining (only the join key may be shared)")
    require(left.columns.contains(key) && right.columns.contains(key),
      s"intervalJoinStream: both sides must carry join key '$key'")
    val l = left.withColumnRenamed(key, "__lk")
      .withWatermark(leftTime, delayThreshold)
    val r = right.withColumnRenamed(key, "__rk")
      .withWatermark(rightTime, delayThreshold)
    l.join(r,
        col("__lk") === col("__rk") &&
          col(rightTime) >= col(leftTime) &&
          col(rightTime) <= col(leftTime) + expr(s"INTERVAL $horizon"))
      .drop("__rk")
      .withColumnRenamed("__lk", key)
  }

  /** Streaming exact dedup with bounded state — the streaming form of
    * [[graft.ops.Dedup.exact]] for at-least-once sources: duplicate keys
    * arriving within the watermark horizon are dropped, and per-key state is
    * evicted once the event-time watermark passes it, so state size is
    * O(keys per horizon), not O(all keys ever). */
  def dedupStream(events: DataFrame, keyCols: Seq[String],
                  watermarkCol: String, horizon: String): DataFrame =
    events.withWatermark(watermarkCol, horizon)
      .dropDuplicatesWithinWatermark(keyCols)

  // -------------------------------------------------------------------
  // Stateful processing: sessionization via mapGroupsWithState — the
  // custom-state primitive the reference lacks but a streaming engine needs.
  // -------------------------------------------------------------------

  final case class Event(user_id: Long, ts: java.sql.Timestamp, event_type: String)
  final case class SessionState(start: Long, lastSeen: Long, nEvents: Long)
  final case class SessionUpdate(user_id: Long, sessionStartMs: Long,
                                 nEvents: Long, durationMs: Long, closed: Boolean)

  /** Per-user session aggregation with a processing-time gap timeout.
    * Works on both `Dataset[Event]` groups in streaming and (for tests) via
    * [[sessionizeBatch]], which applies the same fold deterministically.
    *
    * Gap semantics match [[sessionizeBatch]] exactly: the sorted batch is
    * split wherever consecutive events are more than `gapMs` apart; the
    * first segment merges into the carried-over open session when within the
    * gap. Every segment superseded within the batch is emitted as a
    * `closed = true` update (flatMap — one input batch can close several
    * sessions); only the last segment stays in state as the open session.
    *
    * `timeout = NoTimeout` disables idle-session closing (deterministic
    * drain-and-stop runs; registered processing-time timeouts otherwise keep
    * the micro-batch loop alive). */
  /** Fold a sorted batch of event times into gap-delimited segments, seeded
    * with the carried-over open session (merged iff within the gap; a
    * superseded open session closes). Returns (closed segments, open). */
  private def foldSessions(prev: Option[SessionState], times: Seq[Long],
                           gapMs: Long): (Seq[SessionState], SessionState) = {
    val mergesPrev = prev.exists(s => times.head - s.lastSeen <= gapMs)
    val closed = Seq.newBuilder[SessionState]
    if (!mergesPrev) prev.foreach(closed += _)
    var open =
      if (mergesPrev) prev.get
      else SessionState(times.head, times.head, 0)
    times.foreach { t =>
      if (t - open.lastSeen <= gapMs)
        open = SessionState(open.start, t, open.nEvents + 1)
      else {
        closed += open
        open = SessionState(t, t, 1)
      }
    }
    (closed.result(), open)
  }

  private def updates(user: Long, closed: Seq[SessionState],
                      open: SessionState): Iterator[SessionUpdate] =
    (closed.map(s =>
      SessionUpdate(user, s.start, s.nEvents, s.lastSeen - s.start, closed = true)) :+
      SessionUpdate(user, open.start, open.nEvents,
        open.lastSeen - open.start, closed = false)).iterator

  private def closeTimedOut(user: Long,
                            state: GroupState[SessionState]): Iterator[SessionUpdate] = {
    val s = state.get
    state.remove()
    Iterator.single(
      SessionUpdate(user, s.start, s.nEvents, s.lastSeen - s.start, closed = true))
  }

  def sessionize(events: Dataset[Event], gapMs: Long,
                 timeout: GroupStateTimeout = GroupStateTimeout.ProcessingTimeTimeout)
      : Dataset[SessionUpdate] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.OutputMode
    val useTimeout = timeout != GroupStateTimeout.NoTimeout
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionUpdate](
        OutputMode.Update, timeout) {
        (user: Long, batch: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) closeTimedOut(user, state)
          else {
            val times = batch.map(_.ts.getTime).toSeq.sorted
            if (times.isEmpty) Iterator.empty
            else {
              val (closed, open) = foldSessions(state.getOption, times, gapMs)
              state.update(open)
              if (useTimeout) state.setTimeoutDuration(gapMs)
              updates(user, closed, open)
            }
          }
      }
  }

  /** Event-time variant of [[sessionize]]: idle sessions close when the
    * WATERMARK passes `lastSeen + gap`, not when wall-clock does — replays
    * and backfills produce byte-identical output, which processing-time
    * timeouts cannot guarantee. Input must carry `withWatermark` on `ts`. */
  def sessionizeEventTime(events: Dataset[Event], gapMs: Long): Dataset[SessionUpdate] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.OutputMode
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionUpdate](
        OutputMode.Update, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, batch: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) closeTimedOut(user, state)
          else {
            val times = batch.map(_.ts.getTime).toSeq.sorted
            if (times.isEmpty) Iterator.empty
            else {
              val (closed, open) = foldSessions(state.getOption, times, gapMs)
              state.update(open)
              state.setTimeoutTimestamp(open.lastSeen + gapMs)
              updates(user, closed, open)
            }
          }
      }
  }

  /** Batch-deterministic sessionization (same gap semantics, expressed as a
    * window fold) — the oracle for [[sessionize]] and a batch operator in its
    * own right: session boundaries = gaps > gapMs between consecutive events
    * per user. */
  def sessionizeBatch(events: DataFrame, gapMs: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy("user_id").orderBy("ts")
    // gaps in exact integer microseconds (unix_micros ↔ DuckDB epoch_us) —
    // double-epoch arithmetic rounds, and a boundary gap that rounds
    // differently across engines silently shifts every later session id
    val marked = events
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        (col("prev_ts").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev_ts")) > gapMs * 1000L)
          .cast("int"))
      .withColumn("session_id", sum("new_session").over(byUser))
    marked.groupBy("user_id", "session_id")
      .agg(min("ts").as("session_start"), max("ts").as("session_end"),
        count(lit(1)).as("n_events"))
      .withColumn("duration_ms",
        // µs diff < 2^53, so the double division is exact at every integer
        // boundary and the cast truncates like DuckDB's // on non-negatives
        ((unix_micros(col("session_end")) - unix_micros(col("session_start")))
          / lit(1000L)).cast("long"))
  }

  /** Run a REAL watermarked windowed aggregation (append mode — the mode
    * whose watermark actually FILTERS late data; update mode only evicts
    * state) over a disordered stream and return the total
    * `numRowsDroppedByWatermark` the state operators observed — the
    * streaming half of the
    * [[graft.ops.EventAnalytics.watermarkPlan]] convergence proof.
    *
    * The EXACT per-batch drop count is not replayable from first
    * principles: whether a late row is dropped or absorbed depends on
    * whether its window's state was already evicted, and the metric's
    * batch attribution is scheduler-internal (measured here: rows late
    * vs the CURRENT watermark but with live state are absorbed, not
    * dropped). What IS analytic is the envelope — every row late vs the
    * TWO-batch-lag watermark has provably lost its state, and no row
    * can drop unless late vs the one-batch-lag watermark — so callers
    * pin the observed total between those two exactly-replayable counts
    * (the [[graft.ops.Sketches]] contract convention: guarantees, not
    * internals). */
  def streamWatermarkDropCount(stream: DataFrame, tsCol: String,
                               delay: String, windowDur: String,
                               checkpoint: String): Long = {
    val agg = stream.withWatermark(tsCol, delay)
      .groupBy(window(col(tsCol), windowDur).as("__w"))
      .agg(count(lit(1)).as("__n"))
    val q = agg.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        // a full count drives every partition: a no-op sink would leave
        // the state stores uncommitted (STATE_STORE_COMMIT_VALIDATION)
        batch.count(); ()
      }
      .start()
    q.awaitTermination()
    q.recentProgress.map(_.stateOperators.map(_.numRowsDroppedByWatermark)
      .sum).sum
  }
}
