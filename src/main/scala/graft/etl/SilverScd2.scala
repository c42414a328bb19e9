package graft.etl

import java.sql.Timestamp

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
  *   1. read watermark; filter Bronze by `ingestion_timestamp > wm`;
  *   2. stage INSERT/UPDATE rows against the current Silver slice;
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
    def writeSilver(df: org.apache.spark.sql.DataFrame): Unit = bucketed match {
      case Some(b) => b.overwrite(table, df, config.pk)
      case None => store.replaceWith(silver, df, Seq("is_current"))
    }

    val wm = watermarks.read(table)
    val batch = store.read(bronze)
      .where(col("ingestion_timestamp") > lit(wm).cast("timestamp"))
      .persist(StorageLevel.MEMORY_AND_DISK) // feeds ≥2 actions below
    try {
      // one pass for the emptiness probe and the batch's new watermark
      val batchStats = batch.agg(count(lit(1)), max("ingestion_timestamp")).head()
      if (batchStats.getLong(0) == 0) return Report(table, 0, "skipped-empty")
      val newWm = batchStats.getTimestamp(1)

      if (!silverExists) {
        // first-run branch (2_Bronze_to_Silver.py:76-81); the path store
        // partitions by is_current so the Gold current-slice read prunes
        // instead of scanning full history; the bucketed store lays out on
        // the pk instead (the merge-side optimum)
        // row count observed during the write — no second pass for the report
        val initial = Scd2.initialLoad(batch, runTs)
        val rows = bucketed match {
          case Some(b) => graft.core.Observed.countDuring(initial)(b.overwrite(table, _, config.pk))
          case None => graft.core.Observed.countDuring(initial)(store.overwrite(silver, _, Seq("is_current")))
        }
        watermarks.commit(table, WatermarkStore.format(newWm))
        return Report(table, rows, "initial-load")
      }

      val target = bucketed.map(_.read(table)).getOrElse(store.read(silver))
      val staged = Scd2.stage(batch, target.where(col("is_current")), config.pk)
        .persist(StorageLevel.MEMORY_AND_DISK)
      try {
        // one pass for the staged total (the report) and the INSERT count
        // (whether the side channel fires)
        val stagedStats = staged
          .agg(count(lit(1)), count(when(col("action") === "INSERT", true))).head()
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
    } finally batch.unpersist()
  }
}
