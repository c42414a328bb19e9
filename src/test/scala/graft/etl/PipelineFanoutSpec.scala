package graft.etl

import java.nio.file.{Files, Path => JPath}
import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.actions.{ActionSink, CollectingSink}
import graft.sources.{TableConfig, WatermarkStore}

/** Concurrent units inside a pipeline run: failure semantics per layer,
  * job labels, and the inline path of a one-table run. */
class PipelineFanoutSpec extends SparkSpec {
  import spark.implicits._

  private val t1 = Timestamp.valueOf("2026-01-01 00:00:00")
  private val t2 = Timestamp.valueOf("2026-02-01 00:00:00")

  private def writeCsv(landing: JPath, table: String, rows: Seq[String]): Unit = {
    val d = landing.resolve(table)
    Files.createDirectories(d)
    d.toFile.listFiles().foreach(_.delete())
    Files.writeString(d.resolve("part-0.csv"), rows.mkString("\n"))
  }

  private def config(root: JPath, landing: JPath, tables: Seq[TableConfig]) =
    PipelineConfig(
      landingRoot = landing.toString,
      bronzeRoot = root.resolve("bronze").toString,
      silverRoot = root.resolve("silver").toString,
      goldRoot = root.resolve("gold").toString,
      stateRoot = root.resolve("state").toString,
      tables = tables)

  private def rows(df: DataFrame): Set[String] =
    df.drop("source_file", "ingest_date").collect().map(_.toString).toSet

  /** Delivers to `inner` unless `failing`; records the delivering thread. */
  private final class FlakySink(inner: ActionSink) extends ActionSink {
    @volatile var failing = false
    @volatile var threads: List[Long] = Nil
    override def deliver(records: DataFrame): Unit = {
      threads ::= Thread.currentThread().getId
      if (failing) throw new IllegalStateException("side channel down")
      inner.deliver(records)
    }
  }

  private val threeTables = Seq(TableConfig("Customers", "CustomerID"),
    TableConfig("Products", "ProductID"), TableConfig("Sellers", "SellerID"))

  private def landThree(landing: JPath, run: Int): Unit = {
    writeCsv(landing, "Customers", "CustomerID,Name,Email" +: (
      if (run == 1) Seq("1,Ann,a@x", "2,Bob,b@x")
      else Seq("1,Ann,a@x", "2,Bob,b2@x", "3,Cat,c@x")))
    writeCsv(landing, "Products", "ProductID,Price" +: (
      if (run == 1) Seq("10,5", "11,6") else Seq("10,5", "11,7")))
    writeCsv(landing, "Sellers", "SellerID,Region" +: (
      if (run == 1) Seq("20,north") else Seq("20,south", "21,east")))
  }

  test("a Silver table that throws: the others commit, the run rethrows " +
    "after all units finish, a re-run matches an uninterrupted run") {
    val landing = Files.createTempDirectory("graft-fanout-landing")
    landThree(landing, 1)
    val okRoot = Files.createTempDirectory("graft-fanout-ok")
    val okSink = new CollectingSink
    val ok = new Pipeline(spark, config(okRoot, landing, threeTables), okSink)
    val faultRoot = Files.createTempDirectory("graft-fanout-fault")
    val faultSink = new CollectingSink
    val flaky = new FlakySink(faultSink)
    val fault = new Pipeline(spark, config(faultRoot, landing, threeTables), flaky)
    ok.run(t1)
    fault.run(t1)

    // run 2 lands a new customer: its side-channel delivery throws, before
    // the Customers swap and watermark
    landThree(landing, 2)
    ok.run(t2).silver.map(_.action) shouldBe Seq("merged", "merged", "merged")
    flaky.failing = true
    val e = intercept[IllegalStateException](fault.run(t2))
    e.getMessage shouldBe "side channel down"
    // the other units finished before the rethrow: their commits are there
    for (t <- Seq("Products", "Sellers")) {
      fault.watermarks.read(t) shouldBe WatermarkStore.format(t2)
      rows(fault.silverTable(t)) shouldBe rows(ok.silverTable(t))
    }
    fault.watermarks.read("Customers") shouldBe WatermarkStore.format(t1)
    fault.silverTable("Customers").count() shouldBe 2

    // the re-run processes only the failed table's batch
    flaky.failing = false
    fault.run(t2).silver.map(_.action) shouldBe
      Seq("merged", "skipped-empty", "skipped-empty")
    for (t <- threeTables.map(_.name)) {
      fault.watermarks.read(t) shouldBe ok.watermarks.read(t)
      rows(fault.silverTable(t)) shouldBe rows(ok.silverTable(t))
    }
    faultSink.batches shouldBe okSink.batches
  }

  test("a Bronze table that fails is reported in listTables order and the " +
    "run goes on") {
    val root = Files.createTempDirectory("graft-fanout-bronze")
    val landing = root.resolve("landing")
    landThree(landing, 1)
    val tables = threeTables.map(t =>
      if (t.name == "Products") t.copy(typeOverrides = Map("Price" -> "no_such_type"))
      else t)
    val r = new Pipeline(spark, config(root, landing, tables)).run(t1)
    r.bronze.map(_.table) shouldBe Seq("Customers", "Products", "Sellers")
    r.bronze.map(b => (b.rows, b.action.takeWhile(_ != ' '))) shouldBe
      Seq((2L, "created"), (-1L, "failed:"), (1L, "created"))
    r.silver.map(_.action) shouldBe Seq("initial-load", "skipped-no-bronze", "initial-load")
  }

  test("Bronze ingests only the landed tables configured as active") {
    val root = Files.createTempDirectory("graft-fanout-scope")
    val landing = root.resolve("landing")
    landThree(landing, 1)
    val tables = Seq(TableConfig("Customers", "CustomerID"),
      TableConfig("Products", "ProductID", active = false))
    val conf = config(root, landing, tables)
    val r = new Pipeline(spark, conf).run(t1)
    r.bronze.map(_.table) shouldBe Seq("Customers")
    r.silver.map(_.table) shouldBe Seq("Customers")
    val store = new graft.sources.TableStore(spark)
    for (t <- Seq("Products", "Sellers"))
      store.exists(s"${conf.bronzeRoot}/$t") shouldBe false
  }

  private def fact: DataFrame =
    (1 to 12).map(i => (i, i % 4, i % 3, s"202${i % 3}-0${1 + i % 5}-1${i % 8}", i.toDouble))
      .toDF("OrderID", "CustomerID", "SellerID", "d", "amt")
      .select($"OrderID", $"CustomerID", concat(lit("c"), $"CustomerID").as("CustomerName"),
        $"SellerID", concat(lit("s"), $"SellerID").as("SellerName"),
        lit(1).as("ProductID"), lit("p").as("ProductName"),
        lit("c").as("CategoryName"),
        when($"OrderID" % 4 === 0, "Cancelled").otherwise("Delivered").as("StatusName"),
        lit(java.math.BigDecimal.ONE).cast("decimal(12,2)").as("Quantity"),
        lit(java.math.BigDecimal.ONE).cast("decimal(12,2)").as("CurrentPrice"),
        $"amt".cast("decimal(12,2)").as("TotalAmount"),
        $"d".cast("date").as("OrderDate"))

  private val marts = Seq("fact_order_details", "seller_performance_daily",
    "seller_performance_monthly", "seller_performance_quarterly", "order_rates",
    "seller_segmentation", "customer_analytics")

  test("a Gold mart that fails: the other marts commit, the build rethrows " +
    "after all units finish, a re-run matches an uninterrupted build") {
    val store = new graft.sources.TableStore(spark)
    val okRoot = Files.createTempDirectory("graft-fanout-gold-ok").toString
    GoldBuild.run(spark, store, okRoot, fact).marts.keySet shouldBe marts.toSet
    // a plain file where the customer_analytics table dir belongs
    val faultRoot = Files.createTempDirectory("graft-fanout-gold-fault")
    val blocker = faultRoot.resolve("customer_analytics")
    Files.writeString(blocker, "not a table")
    an[Exception] should be thrownBy GoldBuild.run(spark, store, faultRoot.toString, fact)
    for (m <- marts.filterNot(_ == "customer_analytics"))
      rows(store.read(s"$faultRoot/$m")) shouldBe rows(store.read(s"$okRoot/$m"))

    Files.delete(blocker)
    GoldBuild.run(spark, store, faultRoot.toString, fact)
    for (m <- marts)
      rows(store.read(s"$faultRoot/$m")) shouldBe rows(store.read(s"$okRoot/$m"))
  }

  test("each unit's jobs carry its layer and name; a one-table run stays on " +
    "the caller's thread and restores the caller's job description") {
    val root = Files.createTempDirectory("graft-fanout-labels")
    val landing = root.resolve("landing")
    landThree(landing, 1)
    val two = threeTables.take(2)
    val pipe = new Pipeline(spark, config(root, landing, two))
    val (_, descriptions) = org.apache.spark.sql.graft.JobCount.descriptionsDuring(spark) {
      pipe.run(t1, goldFact = Some(_ => fact))
      spark.sparkContext.getLocalProperty("spark.job.description") shouldBe "counted block"
    }
    // Bronze and Silver both cover only the configured tables: the landed
    // Sellers table is not ingested
    descriptions.filterNot(_ == "counted block").toSet shouldBe
      (two.map(t => s"bronze:${t.name}") ++ two.map(t => s"silver:${t.name}") ++
        marts.map(m => s"gold:$m")).toSet

    // one table: inline, so delivery happens on this thread and the
    // caller's own description survives the run
    val sink = new FlakySink(new CollectingSink)
    val one = new Pipeline(spark, config(root, landing, two.take(1)), sink)
    landThree(landing, 2)
    spark.sparkContext.setJobDescription("caller")
    try {
      one.run(t2).silver.map(_.action) shouldBe Seq("merged")
      spark.sparkContext.getLocalProperty("spark.job.description") shouldBe "caller"
    } finally spark.sparkContext.setJobDescription(null)
    sink.threads shouldBe List(Thread.currentThread().getId)
  }
}
