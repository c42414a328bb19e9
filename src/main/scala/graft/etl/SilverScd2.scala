package graft.etl

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.actions.ActionSink
import graft.sources.{BucketedTableStore, TableConfig, TableStore, WatermarkStore}

/** Bronze → Silver SCD2 stage (/root/reference/databricks_notebooks/
  * 2_Bronze_to_Silver.py:35-158): watermark-incremental read, hash-diff
  * staging, the new-record side channel, the merge rewrite, and the
  * commit-then-watermark ordering.
  *
  * Order of effects per table (the reference's transactional contract):
  *   1. read watermark; filter Bronze by `ingestion_timestamp > wm` (and
  *      prune `ingest_date` partitions before the watermark's day);
  *   2. stage INSERT/UPDATE rows against the current Silver slice — the
  *      one aggregate over the persisted staged rows also fills the
  *      batch's observed row count and newest timestamp, so an empty batch
  *      stops here (`skipped-empty`) and an unchanged one commits only its
  *      watermark (`no-changes`);
  *   3. deliver the new-record side channel (Customers feed);
  *   4. atomically swap the merged Silver state;
  *   5. only then commit the new watermark — a crash before 5 re-processes
  *      the batch (idempotent: replay stages nothing, see Scd2Spec).
  */
object SilverScd2 {

  final case class Report(table: String, staged: Long, action: String)

  /** The reference's new-customer feed is keyed on the Customers table
    * (2_Bronze_to_Silver.py:108-111).
    *
    * `bucketed` opts the Silver merge TARGET into the pk-bucketed catalog
    * layout ([[BucketedTableStore]]): the SCD2 diff then shuffles only the
    * incremental batch — the standing dimension table scans
    * pre-hash-partitioned on the pk (the 100 TB merge shape;
    * PipelineE2ESpec asserts the single-exchange diff plan end-to-end).
    * Trade-off vs the path store: the bucketed layout is not partitioned
    * by `is_current`, so a current-slice read filters instead of pruning —
    * right for merge-dominated dimensions, wrong for history tables read
    * far more often than merged. */
  def run(store: TableStore, watermarks: WatermarkStore,
          bronzeRoot: String, silverRoot: String,
          config: TableConfig, runTs: Timestamp,
          sink: ActionSink, sideChannelTable: String = "Customers",
          sideChannelCols: Seq[String] = Seq("Name", "Email"),
          bucketed: Option[BucketedTableStore] = None): Report = {
    val table = config.name
    val bronze = s"$bronzeRoot/$table"
    val silver = s"$silverRoot/$table"
    if (!store.exists(bronze)) return Report(table, 0, "skipped-no-bronze")

    val silverExists = bucketed match {
      case Some(b) => b.exists(table)
      case None => store.exists(silver)
    }
    def writeSilver(df: DataFrame): Unit = bucketed match {
      case Some(b) => b.overwrite(table, df, config.pk)
      case None => store.overwrite(silver, df, Seq("is_current"))
    }

    val wm = watermarks.read(table)
    val batch = newerThan(store.read(bronze), wm)

    if (!silverExists) {
      // first-run branch (2_Bronze_to_Silver.py:76-81); the path store
      // partitions by is_current so the Gold current-slice read prunes
      // instead of scanning full history; the bucketed store lays out on
      // the pk instead (the merge-side optimum). Runs once per table, so it
      // keeps the plain probe: persist, then one aggregate for emptiness
      // and the new watermark.
      val cached = batch.persist(StorageLevel.MEMORY_AND_DISK)
      try {
        val batchStats = cached.agg(count(lit(1)), max("ingestion_timestamp")).head()
        if (batchStats.getLong(0) == 0) return Report(table, 0, "skipped-empty")
        // row count observed during the write — no second pass for the report
        val initial = Scd2.initialLoad(cached, runTs)
        val rows = bucketed match {
          case Some(b) => graft.core.Observed.countDuring(initial)(b.overwrite(table, _, config.pk))
          case None => graft.core.Observed.countDuring(initial)(store.overwrite(silver, _, Seq("is_current")))
        }
        watermarks.commit(table, WatermarkStore.format(batchStats.getTimestamp(1)))
        return Report(table, rows, "initial-load")
      } finally cached.unpersist()
    }

    // The batch's row count and newest timestamp are observed while the
    // staged aggregate below builds `staged`, the only pass over the batch.
    val batchObs = Observation()
    val observed = batch.observe(batchObs,
      count(lit(1)).as("rows"), max("ingestion_timestamp").as("wm"))
    val target = bucketed.map(_.read(table)).getOrElse(store.read(silver))
    val staged = Scd2.stage(observed, target.where(col("is_current")), config.pk)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // one pass for the staged total (the report) and the INSERT count
      // (whether the side channel fires)
      val stagedStats = staged
        .agg(count(lit(1)), count(when(col("action") === "INSERT", true))).head()
      // filled by that aggregate; computed directly only if its plan
      // dropped the observed batch scan (see Observed.reported)
      val batchStats = graft.core.Observed.reported(batchObs)
        .getOrElse(batch.agg(count(lit(1)), max("ingestion_timestamp")).head())
      if (batchStats.getLong(0) == 0) return Report(table, 0, "skipped-empty")
      val newWm = batchStats.getTimestamp(1)
      val stagedRows = stagedStats.getLong(0)
      if (stagedRows == 0) {
        watermarks.commit(table, WatermarkStore.format(newWm))
        return Report(table, 0, "no-changes")
      }
      if (table == sideChannelTable && stagedStats.getLong(1) > 0)
        sink.deliver(Scd2.insertedRecords(staged, sideChannelCols))
      val next = Scd2.applyMerge(target, staged, config.pk, runTs)
      writeSilver(next)
      watermarks.commit(table, WatermarkStore.format(newWm)) // only after the swap
      Report(table, stagedRows, "merged")
    } finally staged.unpersist()
  }

  /** Bronze rows ingested after watermark `wm`. A Bronze table partitioned
    * by `ingest_date` also gets the implied `ingest_date >= to_date(wm)`,
    * so partitions older than the watermark's day are pruned, not scanned.
    * Both dates are taken in the session time zone, as
    * [[BronzeIngest.withAuditCols]] derives `ingest_date`; the predicate is
    * exact only while ingest and merge share that zone (GraftSession pins
    * UTC). */
  private[etl] def newerThan(bronze: DataFrame, wm: String): DataFrame = {
    val wmTs = lit(wm).cast("timestamp")
    val newer = col("ingestion_timestamp") > wmTs
    bronze.where(
      if (bronze.columns.contains("ingest_date")) newer && col("ingest_date") >= to_date(wmTs)
      else newer)
  }
}
