package graft.etl

import java.nio.file.{Files, Path => JPath, Paths}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.actions.CollectingSink
import graft.sources.TableConfig

/** End-to-end golden test (SURVEY.md §5.2): CSV drops driven through
  * Bronze → Silver → Gold across three incremental runs — initial load, an
  * attribute change, then a new+changed mix — asserting Silver version
  * history, the new-customer side channel, and a Gold mart. */
class PipelineE2ESpec extends SparkSpec {
  import spark.implicits._

  private val t1 = Timestamp.valueOf("2026-01-01 00:00:00")
  private val t2 = Timestamp.valueOf("2026-02-01 00:00:00")
  private val t3 = Timestamp.valueOf("2026-03-01 00:00:00")

  /** Replaces the table's landing file, like the reference's per-run ADF
    * copy overwriting `<Table>.csv` (adf/pipeline.json:178). */
  private def writeCsv(dir: JPath, table: String, header: String, rows: Seq[String]): Unit = {
    val d = dir.resolve(table)
    Files.createDirectories(d)
    d.toFile.listFiles().foreach(_.delete())
    Files.writeString(d.resolve("part-0.csv"), (header +: rows).mkString("\n"))
  }

  /** Parquet files per directory in the data dir(s) the table's current
    * manifest points at, keyed by the partition path below the data dir. */
  private def filesPerPartitionDir(table: String): Map[String, Int] = {
    val t = Paths.get(table)
    val v = Files.readString(t.resolve("_current")).trim
    val dirs = Files.readString(t.resolve(s"_v$v")).split("\n").map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#"))
    dirs.toSeq.flatMap { d =>
      val stream = Files.walk(t.resolve(d))
      try stream.iterator().asScala.toList
        .filter(f => f.getFileName.toString.endsWith(".parquet"))
        .map(f => t.resolve(d).relativize(f.getParent).toString)
      finally stream.close()
    }.groupBy(identity).map { case (k, fs) => k -> fs.size }
  }

  test("a small SCD2 merge adds one file per is_current dir, not one per " +
    "shuffle partition") {
    val root = Files.createTempDirectory("graft-e2e-files")
    val landing = root.resolve("landing")
    val conf = PipelineConfig(
      landingRoot = landing.toString,
      bronzeRoot = root.resolve("bronze").toString,
      silverRoot = root.resolve("silver").toString,
      goldRoot = root.resolve("gold").toString,
      stateRoot = root.resolve("state").toString,
      tables = Seq(TableConfig("Customers", "CustomerID")))
    val pipe = new Pipeline(spark, conf, new CollectingSink)
    val header = "CustomerID,Name,Email,Segment"
    writeCsv(landing, "Customers", header,
      (1 to 12).map(i => s"$i,C$i,c$i@x.com,retail"))
    pipe.run(t1)
    val silver = s"${conf.silverRoot}/Customers"
    val loaded = filesPerPartitionDir(silver)
    // a 3-row delta: one change, two new keys, spread over the shuffle
    // partitions the staged frame is cached with
    writeCsv(landing, "Customers", header, Seq(
      "2,C2,c2@x.com,wholesale", "13,C13,c13@x.com,retail",
      "14,C14,c14@x.com,retail"))
    pipe.run(t2).silver.map(s => (s.action, s.staged)) shouldBe Seq(("merged", 3L))
    // the merge rewrites the previous files' rows and unions in the staged
    // rows: the staged side adds at most one file per is_current dir
    val merged = filesPerPartitionDir(silver)
    merged.keySet shouldBe Set("is_current=true", "is_current=false")
    merged.foreach { case (dir, n) => n should be <= loaded.getOrElse(dir, 0) + 1 }
  }

  test("small Gold marts write one file per year dir, not one per shuffle " +
    "partition") {
    val goldRoot = Files.createTempDirectory("graft-e2e-gold").toString
    val store = new graft.sources.TableStore(spark)
    // a fact spanning three order years, several rows per year and seller
    val fact = (1 to 24).map(i => (i, i % 5, s"cust${i % 5}", i % 3,
      s"${2021 + i % 3}-0${1 + i % 4}-1${i % 7}",
      i.toDouble)).toDF("OrderID", "CustomerID", "CustomerName", "SellerID",
      "d", "amt")
      .select($"OrderID", $"CustomerID", $"CustomerName",
        $"SellerID", concat(lit("s"), $"SellerID").as("SellerName"),
        lit(1).as("ProductID"), lit("p").as("ProductName"),
        lit("c").as("CategoryName"), lit("Delivered").as("StatusName"),
        lit(java.math.BigDecimal.ONE).cast("decimal(12,2)").as("Quantity"),
        lit(java.math.BigDecimal.ONE).cast("decimal(12,2)").as("CurrentPrice"),
        $"amt".cast("decimal(12,2)").as("TotalAmount"),
        $"d".cast("date").as("OrderDate"))
    GoldBuild.run(spark, store, goldRoot, fact)
    val dailyFiles = filesPerPartitionDir(s"$goldRoot/seller_performance_daily")
    dailyFiles.keySet shouldBe Set("year=2021", "year=2022", "year=2023")
    all(dailyFiles.values) should be <= 1
  }

  test("three incremental runs: history, side channel, gold marts") {
    val root = Files.createTempDirectory("graft-e2e")
    val landing = root.resolve("landing")
    val sink = new CollectingSink
    val conf = PipelineConfig(
      landingRoot = landing.toString,
      bronzeRoot = root.resolve("bronze").toString,
      silverRoot = root.resolve("silver").toString,
      goldRoot = root.resolve("gold").toString,
      stateRoot = root.resolve("state").toString,
      tables = Seq(TableConfig("Customers", "CustomerID")))
    val pipe = new Pipeline(spark, conf, sink)

    // -- run 1: initial load ------------------------------------------------
    writeCsv(landing, "Customers", "CustomerID,Name,Email,Segment", Seq(
      "1,Alice,alice@x.com,retail",
      "2,Bob,bob@x.com,retail"))
    val r1 = pipe.run(t1)
    r1.bronze.map(_.action) shouldBe Seq("created")
    r1.silver.map(_.action) shouldBe Seq("initial-load")
    val s1 = pipe.silverTable("Customers")
    s1.count() shouldBe 2
    s1.where($"is_current").count() shouldBe 2
    sink.batches shouldBe Nil // initial load is not an incremental INSERT

    // -- run 2: attribute change for Bob -----------------------------------
    writeCsv(landing, "Customers", "CustomerID,Name,Email,Segment", Seq(
      "1,Alice,alice@x.com,retail",      // unchanged -> NO CHANGE
      "2,Bob,bob@x.com,wholesale"))      // changed segment -> UPDATE
    val r2 = pipe.run(t2)
    r2.silver.map(_.action) shouldBe Seq("merged")
    val s2 = pipe.silverTable("Customers").cache()
    s2.count() shouldBe 3 // 2 current + 1 expired Bob
    s2.where($"CustomerID" === 2 && !$"is_current")
      .select("Segment").as[String].collect() shouldBe Array("retail")
    s2.where($"CustomerID" === 2 && $"is_current")
      .select("Segment", "effective_date").as[(String, Timestamp)]
      .collect() shouldBe Array(("wholesale", t2))
    s2.unpersist()
    sink.batches shouldBe Nil // update, not insert

    // -- run 3: new customer + another change ------------------------------
    writeCsv(landing, "Customers", "CustomerID,Name,Email,Segment", Seq(
      "2,Bob,bob2@x.com,wholesale",      // email changed -> UPDATE
      "3,Carol,carol@x.com,retail"))     // new -> INSERT (side channel!)
    val r3 = pipe.run(t3)
    r3.silver.map(_.action) shouldBe Seq("merged")
    val s3 = pipe.silverTable("Customers").cache()
    s3.count() shouldBe 5 // 3 current + 2 expired Bob versions
    s3.where($"is_current").count() shouldBe 3
    // full Bob history, ordered
    val bob = s3.where($"CustomerID" === 2)
      .orderBy("effective_date")
      .select($"Email", $"is_current", $"end_date".isNull)
      .as[(String, Boolean, Boolean)].collect().toSeq
    bob shouldBe Seq(
      ("bob@x.com", false, false),
      ("bob@x.com", false, false),
      ("bob2@x.com", true, true))
    s3.unpersist()
    // side channel delivered exactly Carol
    sink.batches.map(_.map(m => (m("Name"), m("Email")))) shouldBe
      List(Seq(("Carol", "carol@x.com")))

    // -- gold: customer_analytics over a toy fact --------------------------
    val fact = Seq(
      (1, 10, "Alice", 5.0), (2, 10, "Alice", 7.0), (3, 11, "Bob", 3.0)
    ).toDF("OrderID", "CustomerID", "CustomerName", "amt")
      .withColumn("TotalAmount", $"amt".cast("decimal(12,2)"))
      .withColumn("OrderDate", lit("2024-01-01").cast("date"))
      .drop("amt")
    val g = GoldBuild.run(spark, pipe.store, conf.goldRoot,
      fact.select($"OrderID", $"CustomerID", $"CustomerName",
        lit(1).as("SellerID"), lit("s").as("SellerName"),
        lit(1).as("ProductID"), lit("p").as("ProductName"),
        lit("c").as("CategoryName"), lit("Delivered").as("StatusName"),
        lit(java.math.BigDecimal.ONE).cast("decimal(12,2)").as("Quantity"),
        lit(java.math.BigDecimal.ONE).cast("decimal(12,2)").as("CurrentPrice"),
        $"TotalAmount", $"OrderDate"))
    g.marts("customer_analytics") shouldBe 2
    val ca = pipe.goldTable("customer_analytics")
      .select($"CustomerID", $"total_orders", $"customer_type")
      .as[(Int, Long, String)].collect().toSet
    ca shouldBe Set((10, 2L, "Returning Customer"), (11, 1L, "New Customer"))
  }

  test("bucketed silver target: same SCD2 history, diff plans a single exchange") {
    val root = Files.createTempDirectory("graft-e2e-bucketed")
    val landing = root.resolve("landing")
    val sink = new CollectingSink
    val conf = PipelineConfig(
      landingRoot = landing.toString,
      bronzeRoot = root.resolve("bronze").toString,
      silverRoot = root.resolve("silver").toString,
      goldRoot = root.resolve("gold").toString,
      stateRoot = root.resolve("state").toString,
      tables = Seq(TableConfig("Customers", "CustomerID")),
      silverBuckets = Some(4),
      silverDatabase = "graft_e2e_bucketed")
    val pipe = new Pipeline(spark, conf, sink)

    writeCsv(landing, "Customers", "CustomerID,Name,Email,Segment", Seq(
      "1,Alice,alice@x.com,retail",
      "2,Bob,bob@x.com,retail"))
    pipe.run(t1).silver.map(_.action) shouldBe Seq("initial-load")

    writeCsv(landing, "Customers", "CustomerID,Name,Email,Segment", Seq(
      "1,Alice,alice@x.com,retail",
      "2,Bob,bob@x.com,wholesale"))
    pipe.run(t2).silver.map(_.action) shouldBe Seq("merged")

    writeCsv(landing, "Customers", "CustomerID,Name,Email,Segment", Seq(
      "2,Bob,bob2@x.com,wholesale",
      "3,Carol,carol@x.com,retail"))
    pipe.run(t3).silver.map(_.action) shouldBe Seq("merged")

    // identical history to the path-store run: 3 current + 2 expired Bobs
    val s3 = pipe.silverTable("Customers").cache()
    s3.count() shouldBe 5
    s3.where($"is_current").count() shouldBe 3
    s3.where($"CustomerID" === 2).orderBy("effective_date")
      .select($"Email", $"is_current")
      .as[(String, Boolean)].collect().toSeq shouldBe Seq(
        ("bob@x.com", false), ("bob@x.com", false), ("bob2@x.com", true))
    s3.unpersist()
    sink.batches.map(_.map(m => m("Name"))) shouldBe List(Seq("Carol"))

    // the merge-diff plan against the pipeline's OWN silver target (read
    // through the version-pointer view): one exchange — the batch side —
    // and a bucketed target scan
    val batch = Seq((2, "Bob", "bob3@x.com", "wholesale"))
      .toDF("CustomerID", "Name", "Email", "Segment")
    val staged = Scd2.stage(batch,
      pipe.silverTable("Customers").where($"is_current"), "CustomerID")
    staged.collect()
    val plan = staged.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    "Exchange hashpartitioning".r.findAllIn(plan).size shouldBe 1
    plan should include("Bucketed: true")

    // retention: vacuum drops superseded versions, the pointer view survives
    val store = new graft.sources.BucketedTableStore(spark, "graft_e2e_bucketed", 4)
    store.vacuum("Customers")
    spark.sql("SHOW TABLES IN graft_e2e_bucketed")
      .select("tableName").as[String].collect()
      .count(_.startsWith("customers__v")) shouldBe 1
    pipe.silverTable("Customers").count() shouldBe 5
  }

  test("streaming bronze ingest: exactly-once file feed through SCD2 to gold " +
    "(Trigger.AvailableNow)") {
    val root = Files.createTempDirectory("graft-e2e-stream")
    val landing = root.resolve("landing")
    val sink = new CollectingSink
    val conf = PipelineConfig(
      landingRoot = landing.toString,
      bronzeRoot = root.resolve("bronze").toString,
      silverRoot = root.resolve("silver").toString,
      goldRoot = root.resolve("gold").toString,
      stateRoot = root.resolve("state").toString,
      tables = Seq(TableConfig("Customers", "CustomerID")),
      streamingBronze = true)
    val pipe = new Pipeline(spark, conf, sink)

    // append-only landing: each run DROPS A NEW FILE (the streaming
    // contract) instead of replacing the old one
    def dropCsv(name: String, rows: Seq[String]): Unit = {
      val d = landing.resolve("Customers")
      Files.createDirectories(d)
      Files.writeString(d.resolve(name),
        ("CustomerID,Name,Email,Segment" +: rows).mkString("\n"))
    }

    // -- run 1: initial snapshot --------------------------------------------
    dropCsv("drop-1.csv", Seq(
      "1,Alice,alice@x.com,retail",
      "2,Bob,bob@x.com,retail"))
    val r1 = pipe.run(t1)
    r1.bronze.map(_.action) shouldBe Seq("created")
    r1.bronze.map(_.rows) shouldBe Seq(2L)
    r1.silver.map(_.action) shouldBe Seq("initial-load")
    pipe.silverTable("Customers").where($"is_current").count() shouldBe 2

    // -- run 2: new drop, Bob changed ---------------------------------------
    dropCsv("drop-2.csv", Seq(
      "1,Alice,alice@x.com,retail",
      "2,Bob,bob@x.com,wholesale"))
    val r2 = pipe.run(t2)
    r2.bronze.map(_.action) shouldBe Seq("appended")
    // exactly-once: ONLY the new file's rows reach bronze (the batch path
    // would re-append drop-1's rows too and rely on the merge to no-op)
    r2.bronze.map(_.rows) shouldBe Seq(2L)
    r2.silver.map(_.action) shouldBe Seq("merged")
    val s2 = pipe.silverTable("Customers")
    s2.count() shouldBe 3
    s2.where($"CustomerID" === 2 && $"is_current")
      .select("Segment").as[String].collect() shouldBe Array("wholesale")

    // -- run 3: nothing new landed → ingest appends nothing, and silver's
    // watermark filter sees an EMPTY batch (the batch path would re-append
    // the whole zone and reach the weaker "no-changes" merge no-op)
    val r3 = pipe.run(t3)
    r3.bronze.map(_.action) shouldBe Seq("skipped-empty")
    r3.bronze.map(_.rows) shouldBe Seq(0L)
    r3.silver.map(_.action) shouldBe Seq("skipped-empty")

    // -- run 4: new customer lands; side channel fires; gold builds ---------
    val t4 = Timestamp.valueOf("2026-04-01 00:00:00")
    dropCsv("drop-3.csv", Seq("3,Carol,carol@x.com,retail"))
    val r4 = pipe.run(t4,
      goldFact = Some { s =>
        import s.implicits._
        Seq((1, 1, "Alice", 5.0), (2, 3, "Carol", 7.0))
          .toDF("OrderID", "CustomerID", "CustomerName", "amt")
          .select($"OrderID", $"CustomerID", $"CustomerName",
            lit(1).as("SellerID"), lit("s").as("SellerName"),
            lit(1).as("ProductID"), lit("p").as("ProductName"),
            lit("c").as("CategoryName"), lit("Delivered").as("StatusName"),
            lit(java.math.BigDecimal.ONE).cast("decimal(12,2)").as("Quantity"),
            lit(java.math.BigDecimal.ONE).cast("decimal(12,2)").as("CurrentPrice"),
            $"amt".cast("decimal(12,2)").as("TotalAmount"),
            lit("2024-01-01").cast("date").as("OrderDate"))
      })
    r4.bronze.map(_.rows) shouldBe Seq(1L)
    r4.silver.map(_.action) shouldBe Seq("merged")
    sink.batches.map(_.map(m => m("Name"))) shouldBe List(Seq("Carol"))
    val s4 = pipe.silverTable("Customers")
    s4.where($"is_current").count() shouldBe 3
    r4.gold.map(_.marts("customer_analytics")) shouldBe Some(2)
  }

  private def customersConf(root: JPath): PipelineConfig = PipelineConfig(
    landingRoot = root.resolve("landing").toString,
    bronzeRoot = root.resolve("bronze").toString,
    silverRoot = root.resolve("silver").toString,
    goldRoot = root.resolve("gold").toString,
    stateRoot = root.resolve("state").toString,
    tables = Seq(TableConfig("Customers", "CustomerID")))

  private def dataDirs(table: String): Set[String] =
    Paths.get(table).toFile.listFiles().map(_.getName).filter(_.startsWith("data-")).toSet

  test("an empty landing file is skipped-empty: no new Bronze version, no " +
    "orphan data dir") {
    val root = Files.createTempDirectory("graft-e2e-empty-landing")
    val conf = customersConf(root)
    val pipe = new Pipeline(spark, conf)
    val landing = Paths.get(conf.landingRoot)
    val bronze = s"${conf.bronzeRoot}/Customers"
    writeCsv(landing, "Customers", "CustomerID,Name", Seq("1,Alice"))
    pipe.run(t1).bronze.map(_.action) shouldBe Seq("created")
    val dirs = dataDirs(bronze)
    writeCsv(landing, "Customers", "CustomerID,Name", Nil)
    val r = pipe.run(t2)
    r.bronze.map(b => (b.rows, b.action)) shouldBe Seq((0L, "skipped-empty"))
    r.silver.map(_.action) shouldBe Seq("skipped-empty")
    pipe.store.currentVersion(bronze) shouldBe Some(0L)
    pipe.store.versions(bronze) shouldBe Seq(0L)
    dataDirs(bronze) shouldBe dirs
    // an empty first landing creates no table at all
    val fresh = Files.createTempDirectory("graft-e2e-empty-first")
    val freshConf = customersConf(fresh)
    writeCsv(Paths.get(freshConf.landingRoot), "Customers", "CustomerID,Name", Nil)
    new Pipeline(spark, freshConf).run(t1).bronze.map(_.action) shouldBe Seq("skipped-empty")
    new graft.sources.TableStore(spark).exists(s"${freshConf.bronzeRoot}/Customers") shouldBe false
  }

  test("incremental Silver: an empty batch is skipped-empty without " +
    "hanging; a re-landed identical batch is no-changes and advances the " +
    "watermark") {
    import org.scalatest.concurrent.TimeLimits.failAfter
    import org.scalatest.time.SpanSugar._
    val root = Files.createTempDirectory("graft-e2e-empty-batch")
    val conf = customersConf(root)
    val pipe = new Pipeline(spark, conf)
    val tc = conf.tables.head
    def silver(ts: Timestamp) = failAfter(2.minutes) {
      SilverScd2.run(pipe.store, pipe.watermarks, conf.bronzeRoot, conf.silverRoot,
        tc, ts, graft.actions.NullSink)
    }
    writeCsv(Paths.get(conf.landingRoot), "Customers", "CustomerID,Name", Seq("1,Alice", "2,Bob"))
    pipe.run(t1).silver.map(_.action) shouldBe Seq("initial-load")
    // Bronze holds nothing newer than the watermark: the observed batch
    // count is 0, whatever plan AQE chose for the empty side
    silver(t2) shouldBe SilverScd2.Report("Customers", 0, "skipped-empty")
    pipe.watermarks.read("Customers") shouldBe graft.sources.WatermarkStore.format(t1)
    // the same rows land again: nothing to stage, but the batch is consumed
    BronzeIngest.ingestTable(new graft.sources.LandingSource(spark, conf.landingRoot),
      pipe.store, conf.bronzeRoot, "Customers", t2).action shouldBe "appended"
    silver(t3) shouldBe SilverScd2.Report("Customers", 0, "no-changes")
    pipe.watermarks.read("Customers") shouldBe graft.sources.WatermarkStore.format(t2)
    pipe.silverTable("Customers").count() shouldBe 2
  }

  test("Silver's watermark read prunes Bronze ingest_date partitions") {
    val root = Files.createTempDirectory("graft-e2e-prune")
    val conf = customersConf(root)
    val pipe = new Pipeline(spark, conf)
    writeCsv(Paths.get(conf.landingRoot), "Customers", "CustomerID,Name", Seq("1,Alice"))
    pipe.run(t1)
    pipe.run(t2)
    val wm = pipe.watermarks.read("Customers")
    val batch = SilverScd2.newerThan(pipe.store.read(s"${conf.bronzeRoot}/Customers"), wm)
    batch.count() shouldBe 0
    val plan = batch.queryExecution.executedPlan.toString
    plan should include regex "PartitionFilters: \\[[^\\]]*ingest_date"
    // the t1 and t2 partitions exist; only t2's day survives pruning
    import org.apache.spark.sql.execution.FileSourceScanExec
    val scan = batch.queryExecution.executedPlan.collectFirst {
      case s: FileSourceScanExec => s
    }.get
    scan.relation.location.listFiles(scan.partitionFilters, Nil).size shouldBe 1
  }

  test("an incremental one-table run costs 9 Spark jobs") {
    val root = Files.createTempDirectory("graft-e2e-jobs")
    val conf = customersConf(root)
    val landing = Paths.get(conf.landingRoot)
    val pipe = new Pipeline(spark, conf.copy(sideChannelCols = Seq("Name")), new CollectingSink)
    writeCsv(landing, "Customers", "CustomerID,Name", Seq("1,Ann", "2,Bob"))
    pipe.run(t1)
    writeCsv(landing, "Customers", "CustomerID,Name", Seq("2,Bobby", "3,Cat"))
    val (r, jobs) = org.apache.spark.sql.graft.JobCount.during(spark)(pipe.run(t2))
    r.silver.map(s => (s.staged, s.action)) shouldBe Seq((2L, "merged"))
    // 16 before manifests recorded schemas and the emptiness and watermark
    // probes were folded into the append and the staged aggregate: 3
    // footer merges, the CSV emptiness probe and a 3-job batch aggregate
    jobs shouldBe 9
  }

  test("re-running the same batch is idempotent (watermark no-change path)") {
    val root = Files.createTempDirectory("graft-idem")
    val landing = root.resolve("landing")
    val conf = PipelineConfig(
      landingRoot = landing.toString,
      bronzeRoot = root.resolve("bronze").toString,
      silverRoot = root.resolve("silver").toString,
      goldRoot = root.resolve("gold").toString,
      stateRoot = root.resolve("state").toString,
      tables = Seq(TableConfig("Customers", "CustomerID")))
    val pipe = new Pipeline(spark, conf)
    writeCsv(landing, "Customers", "CustomerID,Name", Seq("1,Alice"))
    pipe.run(t1)
    // no new files landed: bronze appends the same file again (same content),
    // but the SCD2 stage detects no changes and current rows stay put
    val r2 = pipe.run(t2)
    r2.silver.map(_.action) shouldBe Seq("no-changes")
    val s = pipe.silverTable("Customers")
    s.where($"is_current").count() shouldBe 1
  }
}
