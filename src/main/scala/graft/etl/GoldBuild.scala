package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.core.{Fanout, Observed}
import graft.sources.TableStore

/** Silver → Gold stage (/root/reference/databricks_notebooks/
  * 3_Silver_to_Gold.py): current-version star join into the denormalized
  * fact, then the six marts, each atomically overwritten.
  *
  * Structure preserved from the reference:
  *  - dims are read with the `is_current = true` filter before joining
  *    (3_Silver_to_Gold.py:12-16) — at scale, partitioning Silver by
  *    `is_current` makes this partition pruning;
  *  - the fact is cached once and feeds all marts (3_Silver_to_Gold.py:44);
  *  - monthly/quarterly re-aggregate the daily result (3_Silver_to_Gold.py:
  *    64-71), including its sum-of-daily-distinct semantics;
  *  - segmentation reads the written daily mart BACK from storage
  *    (3_Silver_to_Gold.py:102-103) — load-bearing: it exercises the
  *    sink→source path and decouples from the cached lineage.
  */
object GoldBuild {

  final case class Report(marts: Map[String, Long])

  /** Read a Silver table's current slice (P2: 3_Silver_to_Gold.py:12-16). */
  def currentSlice(store: TableStore, silverRoot: String, table: String): DataFrame =
    store.read(s"$silverRoot/$table").where(col("is_current"))

  /** Build all marts from a prepared fact (however it was joined) and commit
    * each via atomic overwrite. Returns per-mart row counts, each observed
    * during its overwrite ([[graft.core.Observed]]) rather than re-read.
    *
    * The fact, daily and rates frames are persisted once and shared. Marts
    * are independent units run concurrently ([[graft.core.Fanout]]), each
    * under the job description `gold:<mart>`: `fact_order_details`, monthly,
    * quarterly and `customer_analytics` beside the daily and rates marts.
    * `seller_segmentation` runs in the daily mart's unit after that mart is
    * committed, because it reads the daily mart back from storage.
    *
    * Failure: a mart that throws does not stop the other units; they
    * commit, and `run` rethrows the first failure (in the order above) only
    * after every unit has finished. A failed daily mart also skips
    * segmentation. Every commit is an atomic overwrite, so a re-run
    * replaces whatever a failed run left and matches an uninterrupted run. */
  def run(spark: SparkSession, store: TableStore, goldRoot: String,
          fact: DataFrame): Report = {
    val factCached = fact.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val daily = GoldMarts.sellerPerformanceDaily(GoldMarts.withDateParts(factCached))
        .persist(StorageLevel.MEMORY_AND_DISK)
      try {
        val rates = GoldMarts.orderRates(factCached)
          .persist(StorageLevel.MEMORY_AND_DISK)
        try {
          def write(name: String, df: => DataFrame,
                    partitionBy: Seq[String] = Nil): (String, Long) =
            Fanout.labelled(spark, s"gold:$name")(name ->
              Observed.countDuring(df)(store.overwrite(s"$goldRoot/$name", _, partitionBy)))
          val units: Seq[() => Seq[(String, Long)]] = Seq(
            // the stored fact is partitioned by order year — at 100 TB every
            // period-scoped mart query prunes to its years instead of
            // scanning the whole fact (the reference leaves this to Delta;
            // README.MD:120)
            () => Seq(write("fact_order_details",
              factCached.withColumn("order_year", year(col("OrderDate"))),
              Seq("order_year"))),
            () => Seq(
              write("seller_performance_daily", daily, Seq("year")),
              // segmentation reads the committed daily mart back (A6 semantics)
              write("seller_segmentation", GoldMarts.sellerSegmentation(
                store.read(s"$goldRoot/seller_performance_daily"), rates))),
            () => Seq(write("seller_performance_monthly",
              GoldMarts.sellerPerformanceMonthly(daily))),
            () => Seq(write("seller_performance_quarterly",
              GoldMarts.sellerPerformanceQuarterly(daily))),
            () => Seq(write("order_rates", rates)),
            () => Seq(write("customer_analytics", GoldMarts.customerAnalytics(factCached))))
          Report(Fanout.map(units)(_()).flatten.toMap)
        } finally rates.unpersist()
      } finally daily.unpersist()
    } finally factCached.unpersist()
  }
}
