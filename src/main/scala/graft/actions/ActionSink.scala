package graft.actions

import org.apache.spark.sql.DataFrame

/** Data-driven side-effect boundary — the reference's new-customer email
  * fan-out (/root/reference/adf/pipeline.json:396-441: per-row HTTP POST of
  * `{name, email}` to a Logic App, fed by the `new_customers_for_emailing`
  * table written at 2_Bronze_to_Silver.py:108-119).
  *
  * The engine computes the record set; delivery is pluggable. A production
  * impl would batch rows per partition and POST (never per-row from the
  * driver); tests use [[CollectingSink]].
  */
trait ActionSink {
  /** Deliver one batch of action records. [[graft.etl.SilverScd2]] calls
    * it BEFORE it swaps in the merged Silver state and commits the
    * watermark: a delivery that throws leaves both untouched, so the re-run
    * stages and delivers the batch again (at-least-once). */
  def deliver(records: DataFrame): Unit
}

/** Test/dev sink: materializes the records on the driver. Safe to call
  * from any thread: a pipeline delivers from whichever thread runs the
  * table's Silver unit, and concurrent deliveries are all recorded. */
class CollectingSink extends ActionSink {
  @volatile private var recorded: List[Seq[Map[String, Any]]] = Nil
  def batches: List[Seq[Map[String, Any]]] = recorded
  override def deliver(records: DataFrame): Unit = {
    val cols = records.columns
    val rows = records.collect().toSeq
      .map(r => cols.map(c => c -> r.getAs[Any](c)).toMap)
    synchronized { recorded = recorded :+ rows }
  }
}

/** No-op sink for pipelines without side effects. */
object NullSink extends ActionSink {
  override def deliver(records: DataFrame): Unit = ()
}

/** Production-shaped HTTP fan-out: batches rows per executor partition and
  * POSTs one JSON-array payload per batch with bounded retry + exponential
  * backoff — the scale-safe form of the reference's per-row Logic-App POST
  * loop (adf/pipeline.json:416-438), which fans out from the orchestrator
  * one record at a time. The transport is injected (`payload => HTTP
  * status`) so tests run an in-JVM recorder and production supplies a
  * java.net.http client initialized per partition; delivery is
  * at-least-once per batch (a failed batch retries its whole payload),
  * matching the pipeline's replay semantics.
  */
class HttpBatchSink(post: String => Int, batchSize: Int = 500,
                    maxRetries: Int = 3, backoffMs: Long = 100)
    extends ActionSink with Serializable {
  override def deliver(records: DataFrame): Unit = {
    val (bs, mr, bo, p) = (batchSize, maxRetries, backoffMs, post)
    records.toJSON.foreachPartition { (it: Iterator[String]) =>
      it.grouped(bs).foreach { batch =>
        val payload = batch.mkString("[", ",", "]")
        var attempt = 0
        var done = false
        while (!done) {
          val status = try p(payload) catch { case _: Exception => 599 }
          // 4xx (minus 408 request-timeout / 429 throttled) is a permanent
          // client error: retrying burns the backoff budget on the task
          // thread to fail identically — fail the task immediately
          val permanent = status >= 400 && status < 500 &&
            status != 408 && status != 429
          if (status >= 200 && status < 300) done = true
          else if (permanent)
            throw new IllegalStateException(
              s"HTTP sink: batch rejected with client error $status - not retried")
          else {
            attempt += 1
            if (attempt > mr)
              throw new IllegalStateException(
                s"HTTP sink: batch failed after $mr retries (last status $status)")
            Thread.sleep(bo << (attempt - 1))
          }
        }
      }
    }
  }
}

/** Metastore sink — the reference's `saveAsTable("default.
  * new_customers_for_emailing")` overwrite (2_Bronze_to_Silver.py:114-116),
  * including the CREATE DATABASE IF NOT EXISTS DDL (:11). The written table
  * is what the downstream fan-out reads (adf/pipeline.json:396-441). */
class MetastoreSink(database: String, table: String) extends ActionSink {
  override def deliver(records: DataFrame): Unit = {
    records.sparkSession.sql(s"CREATE DATABASE IF NOT EXISTS $database")
    records.write.mode("overwrite").saveAsTable(s"$database.$table")
  }
}
