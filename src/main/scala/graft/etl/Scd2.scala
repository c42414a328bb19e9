package graft.etl

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** SCD Type 2 merge engine — the reference's signature composite operator
  * (/root/reference/databricks_notebooks/2_Bronze_to_Silver.py:35-150).
  *
  * Pure DataFrame → DataFrame functions: classification, staging, and the
  * merge rewrite are all lazy plans; the storage commit lives in
  * [[TableStore]] so the logic is unit-testable without I/O.
  *
  * Scale notes:
  *  - change detection is a sha2-256 fingerprint over the tracked columns
  *    (2_Bronze_to_Silver.py:72,84), so the diff join compares one column
  *    instead of N and stays stable under schema evolution.
  *  - the diff is a full-outer equi-join on the pk: both sides shuffle on the
  *    pk once (sort-merge; full outer cannot broadcast). At 100 TB keep the
  *    target in [[graft.sources.BucketedTableStore]] (pk-bucketed catalog
  *    layout): the target scan arrives pre-partitioned and only the
  *    (incremental, much smaller) source batch shuffles —
  *    BucketedTableStoreSpec pins that plan shape.
  *  - the expiry rewrite joins the target against the *distinct changed keys*
  *    (2_Bronze_to_Silver.py:123), a set bounded by the batch size — Spark
  *    broadcasts it, so expiring never shuffles the big target.
  *  - deletes are intentionally not tracked (reference README.MD:141).
  *
  * NULL caveat replicated deliberately: `concat_ws` skips NULLs, so
  * ("a", NULL) and (NULL, "a") collide and NULL→"" transitions are invisible
  * (SURVEY.md §2.4 step 3). Set `nullSafe = true` for a sentinel-separated
  * variant that distinguishes them.
  */
object Scd2 {

  /** Audit/bookkeeping columns never included in change detection
    * (2_Bronze_to_Silver.py:69-70). */
  val defaultExclusions: Set[String] =
    Set("ingestion_timestamp", "source_file", "source_path", "ingest_date",
      "CreatedAt", "UpdatedAt",
      "is_current", "effective_date", "end_date", "hash", "action")

  val scd2Columns: Seq[String] = Seq("is_current", "effective_date", "end_date")

  /** Tracked columns = everything minus pk minus exclusions, derived from
    * whatever columns arrive so schema evolution is covered automatically. */
  def trackedColumns(df: DataFrame, pk: String,
                     exclusions: Set[String] = defaultExclusions): Seq[String] =
    df.columns.toSeq.filterNot(c => c == pk || exclusions.contains(c))

  /** sha2-256 row fingerprint over the tracked columns
    * (2_Bronze_to_Silver.py:72). */
  def fingerprint(tracked: Seq[String], nullSafe: Boolean = false): Column = {
    val parts =
      if (nullSafe) tracked.map(c => coalesce(col(c).cast("string"), lit("\u0000NULL\u0000")))
      else tracked.map(col)
    sha2(concat_ws("||", parts: _*), 256)
  }

  /** The diff core [[stage]] and [[stageWithDeletes]] classify: the source
    * batch reduced to one fingerprinted row per pk (alias `s`) full-outer
    * joined on the pk to the current target's (pk, fingerprint) (alias
    * `t`). */
  private def diffJoin(source: DataFrame, currentTarget: DataFrame, pk: String,
                       exclusions: Set[String], nullSafe: Boolean): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tracked = trackedColumns(source, pk, exclusions)
    val hashed = source.withColumn("hash", fingerprint(tracked, nullSafe))
    val ordering =
      (if (source.columns.contains("ingestion_timestamp"))
        Seq(col("ingestion_timestamp").desc) else Seq.empty) :+ col("hash").desc
    val s = hashed
      .withColumn("__rn",
        row_number().over(Window.partitionBy(col(pk)).orderBy(ordering: _*)))
      .where(col("__rn") === 1).drop("__rn").alias("s")
    val t = currentTarget
      .withColumn("hash", fingerprint(tracked, nullSafe))
      .select(col(pk), col("hash")).alias("t")
    s.join(t, col(s"s.$pk") === col(s"t.$pk"), "full_outer")
  }

  /** Full-outer diff of source batch vs current target slice, classified into
    * INSERT / UPDATE / NO CHANGE (2_Bronze_to_Silver.py:87-99). Returns the
    * staged rows (source columns + `action`), INSERT+UPDATE only.
    *
    * The batch is first reduced to ONE row per pk — the latest by
    * `ingestion_timestamp` when the batch carries one, with the row
    * fingerprint as a deterministic tiebreak. At-least-once ingestion
    * legally hands stage() several rows per key (a key updated across two
    * Bronze appends before one Silver run, or a replayed append after a
    * crash); staging more than one would insert multiple current versions
    * and break the one-is_current-per-pk invariant. The dedup window
    * partitions on the pk — the same key the diff join shuffles on, so the
    * exchange is reused, not doubled. */
  def stage(source: DataFrame, currentTarget: DataFrame, pk: String,
            exclusions: Set[String] = defaultExclusions,
            nullSafe: Boolean = false): DataFrame =
    diffJoin(source, currentTarget, pk, exclusions, nullSafe)
      .withColumn("action",
        when(col(s"t.$pk").isNull, "INSERT")
          .when(col(s"s.$pk").isNull, "NO CHANGE")
          .when(col("s.hash") =!= col("t.hash"), "UPDATE")
          .otherwise("NO CHANGE"))
      .where(col("action").isin("INSERT", "UPDATE"))
      .select((source.columns.map(c => col(s"s.$c")).toIndexedSeq :+ col("action")): _*)

  /** Snapshot-diff variant of [[stage]] for FULL-snapshot sources: the
    * reference leaves delete handling as an optional extension
    * (README.MD:141 — an incremental watermark extract cannot see deletes),
    * but a source that lands complete snapshots CAN: a pk present in the
    * current target slice and absent from the snapshot was deleted upstream,
    * classified `DELETE` here and expired (without a successor version) by
    * [[applyMergeWithDeletes]].
    *
    * Output is [[stage]]'s shape plus DELETE rows, whose pk comes from the
    * target side (their source columns are NULL — there is no source row).
    * Same one-shuffle full-outer diff; use ONLY with full snapshots — an
    * incremental batch would classify every quiet key as deleted. */
  def stageWithDeletes(source: DataFrame, currentTarget: DataFrame, pk: String,
                       exclusions: Set[String] = defaultExclusions,
                       nullSafe: Boolean = false): DataFrame =
    diffJoin(source, currentTarget, pk, exclusions, nullSafe)
      .withColumn("action",
        when(col(s"t.$pk").isNull, "INSERT")
          .when(col(s"s.$pk").isNull, "DELETE")
          .when(col("s.hash") =!= col("t.hash"), "UPDATE")
          .otherwise("NO CHANGE"))
      .where(col("action").isin("INSERT", "UPDATE", "DELETE"))
      .select((source.columns.map {
        case c if c == pk => coalesce(col(s"s.$pk"), col(s"t.$pk")).as(pk)
        case c => col(s"s.$c")
      }.toIndexedSeq :+ col("action")): _*)

  /** Distinct changed keys whose current versions must be expired
    * (2_Bronze_to_Silver.py:122-123). */
  def expireKeys(staged: DataFrame, pk: String): DataFrame =
    staged.where(col("action") === "UPDATE").select(pk).distinct()

  /** New-record side channel (the reference's new-customers-for-emailing feed,
    * 2_Bronze_to_Silver.py:108-119): INSERT-classified rows projected. */
  def insertedRecords(staged: DataFrame, projection: Seq[String]): DataFrame =
    staged.where(col("action") === "INSERT").select(projection.map(col): _*)

  /** First-run branch (2_Bronze_to_Silver.py:76-81): source + SCD2 columns. */
  def initialLoad(source: DataFrame, runTs: Timestamp): DataFrame =
    source
      .withColumn("is_current", lit(true))
      .withColumn("effective_date", lit(runTs))
      .withColumn("end_date", lit(null).cast("timestamp"))

  /** Point-in-time (time-travel) read of an SCD2 history: the version of
    * each key that was in effect AT `ts` — `effective_date <= ts < end_date`
    * (open-ended for current rows). This is the payoff of keeping SCD2
    * history: any past state reconstructs with ONE partition-prunable
    * filter, no snapshots. Note `is_current` in the result reflects the
    * table's PRESENT state, not the as-of moment; at most one version per
    * key qualifies (applyMerge's expiry invariant). */
  def asOf(history: DataFrame, ts: Timestamp): DataFrame =
    history.where(col("effective_date") <= lit(ts) &&
      (col("end_date").isNull || col("end_date") > lit(ts)))

  /** The Delta-MERGE rewrite (2_Bronze_to_Silver.py:127-140 without Delta):
    * computes the complete next state of the target —
    * untouched rows ∪ expired rows ∪ new current versions — as one lazy plan
    * suitable for an atomic table swap.
    *
    * `runTs` is threaded explicitly: the reference takes several drifting
    * current_timestamp() snapshots per run; we pin one per run for
    * determinism (SURVEY.md §7.4).
    */
  def applyMerge(fullTarget: DataFrame, staged: DataFrame, pk: String,
                 runTs: Timestamp): DataFrame =
    applyMergeCore(fullTarget, expireKeys(staged, pk),
      staged.where(col("action").isin("INSERT", "UPDATE")), runTs)

  /** [[applyMerge]] for [[stageWithDeletes]] output: DELETE keys expire
    * their current version exactly like UPDATE keys, but contribute no new
    * version — the key's history simply ends (end_date = runTs). */
  def applyMergeWithDeletes(fullTarget: DataFrame, staged: DataFrame, pk: String,
                            runTs: Timestamp): DataFrame =
    applyMergeCore(fullTarget,
      staged.where(col("action").isin("UPDATE", "DELETE")).select(pk).distinct(),
      staged.where(col("action").isin("INSERT", "UPDATE")), runTs)

  private def applyMergeCore(fullTarget: DataFrame, keys: DataFrame,
                             inserting: DataFrame, runTs: Timestamp): DataFrame = {
    val dataCols = fullTarget.columns.filterNot(scd2Columns.contains(_))
    // left join against the (small, broadcastable) changed-key set; rows that
    // match AND are current get expired, everything else passes through.
    val pk = keys.columns.head
    val matched = fullTarget.join(
      broadcast(keys.withColumn("__expire", lit(true))), Seq(pk), "left")
    val rewritten = matched
      .withColumn("end_date",
        when(col("__expire") && col("is_current"), lit(runTs)).otherwise(col("end_date")))
      .withColumn("is_current",
        when(col("__expire") && col("is_current"), lit(false)).otherwise(col("is_current")))
      .drop("__expire")
    val inserts = initialLoad(inserting.drop("action"), runTs)
      .select((dataCols.map(col) ++ scd2Columns.map(col)).toIndexedSeq: _*)
    rewritten.select((dataCols.map(col) ++ scd2Columns.map(col)).toIndexedSeq: _*).union(inserts)
  }
}
