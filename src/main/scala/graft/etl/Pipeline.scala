package graft.etl

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.actions.{ActionSink, NullSink}
import graft.core.Fanout
import graft.sources.{BucketedTableStore, LandingSource, TableConfig, TableStore, WatermarkStore}

/** End-to-end medallion pipeline driver, replacing the reference's ADF
  * orchestration (/root/reference/adf/pipeline.json:89-362: ForEach copy →
  * LandingToBronze → BronzeToSilver → SilverToGold, with the new-customer
  * fan-out hanging off BronzeToSilver at :364-441).
  *
  * Error routing mirrors the reference's skip-vs-fail matrix: a missing
  * landing/Bronze table skips that table (1_Landing_to_Bronze.py:71-73,
  * 2_Bronze_to_Silver.py:152-158); anything else propagates and fails the
  * run (README.MD:232).
  */
final case class PipelineConfig(
    landingRoot: String,
    bronzeRoot: String,
    silverRoot: String,
    goldRoot: String,
    stateRoot: String,
    tables: Seq[TableConfig],
    sideChannelTable: String = "Customers",
    sideChannelCols: Seq[String] = Seq("Name", "Email"),
    // opt-in: Silver merge targets live pk-bucketed in this catalog
    // database (n buckets) instead of the path store — the SCD2 diff then
    // shuffles only the incremental batch (see SilverScd2.run's scaladoc)
    silverBuckets: Option[Int] = None,
    silverDatabase: String = "graft_silver",
    // opt-in: Landing → Bronze runs as a checkpointed file stream under
    // Trigger.AvailableNow instead of the re-read-everything batch scan —
    // exactly-once file accounting, append-only landing contract (see
    // BronzeIngest.ingestTableStreaming's scaladoc)
    streamingBronze: Boolean = false)

final case class RunReport(
    bronze: Seq[BronzeIngest.Report],
    silver: Seq[SilverScd2.Report],
    gold: Option[GoldBuild.Report])

class Pipeline(spark: SparkSession, conf: PipelineConfig,
               sink: ActionSink = NullSink) {

  val store = new TableStore(spark)
  val watermarks = new WatermarkStore(spark, conf.stateRoot)
  private val landing = new LandingSource(spark, conf.landingRoot)
  private val bucketed: Option[BucketedTableStore] =
    conf.silverBuckets.map(n => new BucketedTableStore(spark, conf.silverDatabase, n))

  /** One incremental run: Bronze ingest → SCD2 merge per active table →
    * optional Gold rebuild from a caller-supplied fact builder.
    *
    * Scope: Bronze ingests only the landed tables that `conf.tables` lists
    * as active — the tables Silver merges — so an unconfigured or inactive
    * landing entry grows no Bronze table.
    *
    * Concurrency: within a layer, independent units run at once on their
    * own driver threads ([[graft.core.Fanout]]) — Bronze per active landed
    * table, Silver per active table, Gold per mart ([[GoldBuild.run]]) —
    * and each unit's Spark jobs carry the description `bronze:<table>`,
    * `silver:<table>` or `gold:<mart>`. Layers stay ordered: every Bronze
    * commit precedes any Silver work, and every Silver commit precedes Gold.
    * A table's own deliver → swap → watermark order is unchanged. A layer
    * with one unit (an incremental run touching one table) executes inline
    * on the caller's thread.
    *
    * Failure: a Bronze table that fails is reported `failed:` and the run
    * goes on. A Silver table that throws does not stop the others: they
    * commit their state and watermarks, and `run` rethrows the first
    * failure (in table order) only after every Silver unit has finished,
    * without building Gold. The failed table's watermark is not advanced,
    * so a re-run re-processes its batch and converges on the state of an
    * uninterrupted run. */
  def run(runTs: Timestamp,
          goldFact: Option[SparkSession => DataFrame] = None): RunReport = {
    val active = conf.tables.filter(_.active)
    val overrides = active.map(t => t.name -> t.typeOverrides).toMap
    val bronze =
      if (conf.streamingBronze)
        BronzeIngest.runStreaming(landing, store, conf.bronzeRoot, runTs,
          s"${conf.stateRoot}/bronze_checkpoints", overrides.getOrElse(_, Map.empty),
          overrides.contains)
      else BronzeIngest.run(landing, store, conf.bronzeRoot, runTs,
        overrides.getOrElse(_, Map.empty), overrides.contains)
    val silver = Fanout.map(active) { tc =>
      Fanout.labelled(spark, s"silver:${tc.name}")(
        SilverScd2.run(store, watermarks, conf.bronzeRoot, conf.silverRoot,
          tc, runTs, sink, conf.sideChannelTable, conf.sideChannelCols, bucketed))
    }
    val gold = goldFact.map(f => GoldBuild.run(spark, store, conf.goldRoot, f(spark)))
    RunReport(bronze, silver, gold)
  }

  def silverTable(name: String): DataFrame = bucketed match {
    case Some(b) => b.read(name)
    case None => store.read(s"${conf.silverRoot}/$name")
  }
  def goldTable(name: String): DataFrame = store.read(s"${conf.goldRoot}/$name")
}
