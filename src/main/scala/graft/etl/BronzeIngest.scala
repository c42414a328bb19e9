package graft.etl

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.{LandingSource, TableStore}

/** Landing → Bronze stage (/root/reference/databricks_notebooks/
  * 1_Landing_to_Bronze.py): per discovered table — schema pin or infer,
  * empty-batch short-circuit, audit columns, append with schema evolution.
  *
  * Audit columns (1_Landing_to_Bronze.py:54-55): `ingestion_timestamp` is the
  * pinned per-run timestamp (the reference drifts current_timestamp();
  * SURVEY.md §7.4), `source_file` is the scan-provenance column.
  *
  * Scale notes: the ingest is embarrassingly parallel per file — no shuffle
  * anywhere in the stage; the only full-pass costs are first-run schema
  * inference (one extra scan, amortized away by pinning) and the parquet
  * encode. A later run's pinned schema comes from the Bronze manifest
  * without a job, and the empty-batch check is the row count observed
  * during the append, so a run reads its landing batch exactly once.
  * Bronze appends are O(batch) in [[TableStore]].
  */
object BronzeIngest {

  val auditCols: Set[String] = Set("ingestion_timestamp", "source_file", "ingest_date")

  final case class Report(table: String, rows: Long, action: String)

  /** `ingest_date` doubles as the Bronze partition column (reference
    * README.MD:120: Bronze "often partitioned by ingestion date"). It is
    * `ingestion_timestamp`'s date in the session time zone, so Silver's
    * watermark read adds the implied `ingest_date >= to_date(wm)`
    * ([[SilverScd2.newerThan]]) and prunes whole date partitions instead
    * of scanning all history. */
  def withAuditCols(df: DataFrame, runTs: Timestamp): DataFrame =
    df.withColumn("ingestion_timestamp", lit(runTs))
      .withColumn("source_file", input_file_name())
      .withColumn("ingest_date", to_date(lit(runTs)))

  /** Ingest one table: pin-or-infer read → audit cols → append (schema
    * evolves on write; 1_Landing_to_Bronze.py:36-67), committed only when
    * the append wrote rows — an empty batch is `skipped-empty` and leaves
    * no version behind. `typeOverrides` applies decimal-strict types on
    * the FIRST read only — later runs pin the committed Bronze schema,
    * which already carries them. */
  def ingestTable(landing: LandingSource, store: TableStore, bronzeRoot: String,
                  table: String, runTs: Timestamp,
                  typeOverrides: Map[String, String] = Map.empty): Report = {
    val target = s"$bronzeRoot/$table"
    val existed = store.exists(target)
    val raw =
      if (existed) landing.readPinned(table, store.schemaOf(target), auditCols)
      else landing.readInferred(table, typeOverrides)
    // rows counted during the append itself: neither an emptiness probe
    // nor a count-after-write re-reads the landing batch
    val rows = store.appendNonEmpty(target, withAuditCols(raw, runTs), Seq("ingest_date"))
    Report(table, rows,
      if (rows == 0) "skipped-empty" else if (existed) "appended" else "created")
  }

  /** Ingest every landed table that `include` accepts (the reference's
    * discovery loop, 1_Landing_to_Bronze.py:27-73; [[Pipeline.run]] passes
    * its configured active tables): a bad table is reported and skipped,
    * the rest of the run continues. Tables share nothing, so they ingest
    * concurrently ([[graft.core.Fanout]]), each under the job description
    * `bronze:<table>`; reports come back in `listTables` order. */
  def run(landing: LandingSource, store: TableStore, bronzeRoot: String,
          runTs: Timestamp,
          typeOverrides: String => Map[String, String] = _ => Map.empty,
          include: String => Boolean = _ => true): Seq[Report] =
    perTable(landing, include)(t =>
      ingestTable(landing, store, bronzeRoot, t, runTs, typeOverrides(t)))

  /** One unit per landed table that `include` accepts, run concurrently
    * and labelled; a table whose ingest throws becomes a `failed:` report. */
  private def perTable(landing: LandingSource, include: String => Boolean)(
      ingest: String => Report): Seq[Report] =
    graft.core.Fanout.map(landing.listTables().filter(include)) { t =>
      graft.core.Fanout.labelled(landing.spark, s"bronze:$t") {
        try ingest(t)
        catch { case e: Exception => Report(t, -1, s"failed: ${e.getMessage}") }
      }
    }

  /** Streaming twin of [[ingestTable]]: the landing entry consumed as an
    * append-only file stream through
    * [[graft.streaming.EventStream.streamToBronze]] under
    * `Trigger.AvailableNow` (drain everything new, then stop — scheduled-
    * batch parity). The stream checkpoint does the exactly-once FILE
    * accounting the batch path delegates to SCD2's no-change detection:
    * a landed file reaches Bronze exactly once even across crashes and
    * re-runs, and an unchanged landing zone appends nothing (where the
    * batch path re-appends the whole zone every run and lets the merge
    * no-op). Contract shift: drops must be NEW files — the streaming
    * source never re-reads a replaced same-name file.
    *
    * Scale notes: micro-batch size is bounded by the source's
    * `maxFilesPerTrigger`; each batch lands as one atomic versioned
    * append partitioned by `ingest_date` like the batch path, so Silver's
    * watermark filter prunes the same partitions either way. */
  def ingestTableStreaming(landing: LandingSource, store: TableStore,
                           bronzeRoot: String, table: String, runTs: Timestamp,
                           checkpointRoot: String,
                           typeOverrides: Map[String, String] = Map.empty): Report = {
    val target = s"$bronzeRoot/$table"
    val existed = store.exists(target)
    val schema =
      if (existed)
        org.apache.spark.sql.types.StructType(
          store.schemaOf(target).fields.filterNot(f => auditCols.contains(f.name)))
      else landing.readInferred(table, typeOverrides).schema
    val stream = withAuditCols(landing.readStream(table, schema), runTs)
    val appended = new java.util.concurrent.atomic.LongAdder
    val q = graft.streaming.EventStream.streamToBronze(
      stream, store, target, s"$checkpointRoot/$table", Seq("ingest_date"),
      onAppend = appended.add)
    q.awaitTermination()
    val rows = appended.sum()
    val action =
      if (rows == 0) "skipped-empty" else if (existed) "appended" else "created"
    Report(table, rows, action)
  }

  /** [[run]] with the streaming ingest path — same discovery loop, table
    * filter, concurrency and skip-vs-fail routing, each table drained via
    * its own checkpoint. */
  def runStreaming(landing: LandingSource, store: TableStore, bronzeRoot: String,
                   runTs: Timestamp, checkpointRoot: String,
                   typeOverrides: String => Map[String, String] = _ => Map.empty,
                   include: String => Boolean = _ => true): Seq[Report] =
    perTable(landing, include)(t => ingestTableStreaming(landing, store, bronzeRoot, t,
      runTs, checkpointRoot, typeOverrides(t)))
}
