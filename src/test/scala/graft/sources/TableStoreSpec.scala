package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{JobCount, ManifestRead}
import org.apache.spark.sql.types.{DataType, StructType}

import graft.SparkSpec

class TableStoreSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft-store").toString

  private def currentManifest(t: String): Seq[String] = {
    val v = Files.readString(Paths.get(t, "_current")).trim
    Files.readString(Paths.get(t, s"_v$v")).split("\n").map(_.trim).filter(_.nonEmpty).toSeq
  }

  /** The current manifest's recorded `#s` schema, and the schema merging
    * its data dirs' footers gives. */
  private def recordedAndMerged(t: String): (DataType, StructType) = {
    val lines = currentManifest(t)
    val recorded = lines.collectFirst {
      case l if l.startsWith("#s ") => DataType.fromJson(l.drop(3))
    }.getOrElse(fail(s"no #s line in ${lines.mkString(" | ")}"))
    val parts = lines.filter(_.startsWith("#p ")).map { l =>
      val Array(_, n, ddl) = l.split(" ", 3)
      n -> DataType.fromDDL(ddl)
    }
    val dirs = lines.filterNot(_.startsWith("#")).map(d => s"$t/$d")
    (recorded, ManifestRead.mergedDataSchema(spark, dirs, parts))
  }

  private def recordsMergedSchema(t: String): Unit = {
    val (recorded, merged) = recordedAndMerged(t)
    recorded shouldBe merged
  }

  /** Drops the `#s` line from the current manifest: the manifest a writer
    * from before recorded schemas left. */
  private def makeLegacy(t: String): Unit = {
    val v = Files.readString(Paths.get(t, "_current")).trim
    Files.writeString(Paths.get(t, s"_v$v"),
      currentManifest(t).filterNot(_.startsWith("#s ")).mkString("\n"))
    // the Hadoop local-FS checksum sidecar no longer matches the edit
    Files.deleteIfExists(Paths.get(t, s"._v$v.crc"))
  }

  test("exists is false before the first commit, true after") {
    val store = new TableStore(spark)
    val t = tmp() + "/t"
    store.exists(t) shouldBe false
    store.overwrite(t, Seq((1, "a")).toDF("id", "v"))
    store.exists(t) shouldBe true
    store.currentVersion(t) shouldBe Some(0L)
  }

  test("append adds data without rewriting, read sees the union") {
    val store = new TableStore(spark)
    val t = tmp() + "/t"
    store.append(t, Seq((1, "a")).toDF("id", "v"))
    store.append(t, Seq((2, "b")).toDF("id", "v"))
    store.currentVersion(t) shouldBe Some(1L)
    store.read(t).as[(Int, String)].collect().toSet shouldBe Set((1, "a"), (2, "b"))
  }

  test("append with a new column evolves the schema (old rows read NULL)") {
    val store = new TableStore(spark)
    val t = tmp() + "/t"
    store.append(t, Seq((1, "a")).toDF("id", "v"))
    store.append(t, Seq((2, "b", "x")).toDF("id", "v", "extra"))
    val r = store.read(t)
    r.columns.toSet shouldBe Set("id", "v", "extra")
    r.where($"id" === 1).select("extra").as[Option[String]].head() shouldBe None
    r.where($"id" === 2).select("extra").as[Option[String]].head() shouldBe Some("x")
  }

  test("overwrite swaps the visible state atomically; vacuum drops orphans") {
    val store = new TableStore(spark)
    val t = tmp() + "/t"
    store.append(t, Seq((1, "a")).toDF("id", "v"))
    store.overwrite(t, Seq((9, "z")).toDF("id", "v"))
    store.read(t).as[(Int, String)].collect().toSeq shouldBe Seq((9, "z"))
    // the old data dir still exists until vacuum, but is invisible
    store.vacuum(t)
    store.read(t).as[(Int, String)].collect().toSeq shouldBe Seq((9, "z"))
    val dirs = new java.io.File(t).listFiles().map(_.getName).filter(_.startsWith("data-"))
    dirs.length shouldBe 1
  }

  test("partitioned overwrite: hive-style dirs, boolean partition type round-trips") {
    val store = new TableStore(spark)
    val t = tmp() + "/t"
    val df = Seq((1, true), (2, false), (3, true)).toDF("id", "is_current")
    store.overwrite(t, df, Seq("is_current"))
    // hive-style partition dirs inside the data dir
    val dataDir = new java.io.File(t).listFiles()
      .filter(_.getName.startsWith("data-")).head
    dataDir.listFiles().map(_.getName).filter(_.startsWith("is_current=")).toSet shouldBe
      Set("is_current=true", "is_current=false")
    // the partition column reads back as BOOLEAN — partition-value inference
    // alone would return string, breaking every where(col("is_current"))
    val r = store.read(t)
    r.schema("is_current").dataType shouldBe org.apache.spark.sql.types.BooleanType
    r.where($"is_current").select("id").as[Int].collect().toSet shouldBe Set(1, 3)
  }

  test("append carries the partition layout forward without restating it") {
    val store = new TableStore(spark)
    val t = tmp() + "/t"
    def batch(id: Int, d: String) =
      Seq((id, d)).toDF("id", "d").withColumn("d", $"d".cast("date"))
    store.append(t, batch(1, "2026-01-01"), Seq("d"))
    store.append(t, batch(2, "2026-01-02")) // layout inherited
    val r = store.read(t)
    r.schema("d").dataType shouldBe org.apache.spark.sql.types.DateType
    r.count() shouldBe 2
    // every data dir is laid out by the established partition column
    new java.io.File(t).listFiles().filter(_.getName.startsWith("data-"))
      .foreach { dd =>
        dd.listFiles().map(_.getName).count(_.startsWith("d=")) shouldBe 1
      }
  }

  test("vacuum removes orphaned partitioned data dirs recursively") {
    val store = new TableStore(spark)
    val t = tmp() + "/t"
    store.overwrite(t, Seq((1, true), (2, false)).toDF("id", "is_current"),
      Seq("is_current"))
    store.overwrite(t, Seq((3, true)).toDF("id", "is_current"), Seq("is_current"))
    new java.io.File(t).listFiles().count(_.getName.startsWith("data-")) shouldBe 2
    store.vacuum(t)
    val left = new java.io.File(t).listFiles().filter(_.getName.startsWith("data-"))
    left.length shouldBe 1
    // the survivor is the live dir and still reads fine
    store.read(t).select("id").as[Int].collect().toSeq shouldBe Seq(3)
  }

  test("compact folds accumulated append dirs into one; vacuum reclaims the rest") {
    val store = new TableStore(spark)
    val t = tmp() + "/t"
    // a run of incremental appends on a partitioned layout
    (1 to 5).foreach { i =>
      store.append(t, Seq((i, s"v$i", i % 2)).toDF("id", "v", "p"), Seq("p"))
    }
    store.manifestDirs(t) shouldBe 5
    val before = store.read(t).as[(Int, String, Int)].collect().toSet

    store.compact(t)
    store.manifestDirs(t) shouldBe 1
    // identical contents, partition layout preserved (pruning still works)
    store.read(t).as[(Int, String, Int)].collect().toSet shouldBe before
    store.read(t).where($"p" === 0).count() shouldBe before.count(_._3 == 0)

    // appends keep working after compaction; vacuum drops the old dirs
    store.append(t, Seq((9, "v9", 1)).toDF("id", "v", "p"))
    store.manifestDirs(t) shouldBe 2
    store.vacuum(t)
    store.read(t).count() shouldBe (before.size + 1)
  }

  test("schemaOf pins the committed schema") {
    val store = new TableStore(spark)
    val t = tmp() + "/t"
    store.overwrite(t, Seq((1, "a")).toDF("id", "v"))
    store.schemaOf(t).fieldNames.toSeq shouldBe Seq("id", "v")
  }

  test("schemaOf answers from the manifest: no job, read's schema") {
    val store = new TableStore(spark)
    val plain = tmp() + "/plain"
    store.overwrite(plain, Seq((1, "a")).toDF("id", "v"))
    store.append(plain, Seq((2, "b", 2.5)).toDF("id", "v", "x"))
    val parted = tmp() + "/parted"
    store.overwrite(parted, Seq((1, "a", true)).toDF("id", "v", "is_current"),
      Seq("is_current"))
    store.append(parted, Seq((2, "b", 7L, false)).toDF("id", "v", "n", "is_current"))
    for (t <- Seq(plain, parted)) {
      val (schema, jobs) = JobCount.during(spark)(store.schemaOf(t))
      jobs shouldBe 0
      schema shouldBe store.read(t).schema
    }
    store.schemaOf(parted).fieldNames.toSeq shouldBe Seq("id", "v", "n", "is_current")
  }

  test("every commit records the footer-merged data schema") {
    val store = new TableStore(spark)
    val t = tmp() + "/t"
    store.overwrite(t, Seq((1, "a", true)).toDF("id", "v", "is_current"),
      Seq("is_current"))
    recordsMergedSchema(t)
    // the 3-dir evolution: a dir that adds a column, then one lacking it
    store.append(t, Seq((2, "b", "x", true)).toDF("id", "v", "extra", "is_current"))
    recordsMergedSchema(t)
    store.append(t, Seq((3, "y", true)).toDF("id", "late", "is_current"))
    recordsMergedSchema(t)
    store.restore(t, 1)
    recordsMergedSchema(t)
    store.stampMeta(t, Map("k" -> "1"))
    recordsMergedSchema(t)
    store.compact(t)
    recordsMergedSchema(t)
    // one write of every column type a Spark frame can carry into parquet
    val wide = spark.sql("""SELECT CAST(1 AS TINYINT) b, CAST(2 AS SMALLINT) s,
        3 i, 4L l, CAST(1.5 AS FLOAT) f, 2.5D d, CAST(1.25 AS DECIMAL(12,2)) dec,
        'x' str, CAST('ab' AS BINARY) bin, true bo, DATE'2026-01-01' dt,
        TIMESTAMP'2026-01-01 00:00:00' ts, TIMESTAMP_NTZ'2026-01-01 00:00:00' ntz,
        array(1, 2) arr, map('a', 1) mp, named_struct('a', 1, 'b', 'x') st,
        CAST('ab' AS VARCHAR(10)) vc, parse_json('{"a":1}') var, 'p' part""")
      .withColumn("meta", $"i".as("meta",
        new org.apache.spark.sql.types.MetadataBuilder().putString("k", "v").build()))
    val w = tmp() + "/wide"
    store.overwrite(w, wide, Seq("part"))
    recordsMergedSchema(w)
  }

  test("an append whose types conflict fails before writing a data dir") {
    val store = new TableStore(spark)
    val t = tmp() + "/t"
    store.overwrite(t, Seq((1, "a")).toDF("id", "v"))
    an[Exception] should be thrownBy store.append(t, Seq(("one", "b")).toDF("id", "v"))
    new java.io.File(t).listFiles().count(_.getName.startsWith("data-")) shouldBe 1
    store.currentVersion(t) shouldBe Some(0L)
  }

  test("appendNonEmpty commits only a batch with rows") {
    val store = new TableStore(spark)
    val t = tmp() + "/t"
    store.appendNonEmpty(t, Seq.empty[(Int, String)].toDF("id", "d"), Seq("d")) shouldBe 0L
    store.exists(t) shouldBe false
    store.appendNonEmpty(t, Seq((1, "x"), (2, "y")).toDF("id", "d"), Seq("d")) shouldBe 2L
    store.appendNonEmpty(t, Seq((3, "x")).toDF("id", "d").where($"id" > 5)) shouldBe 0L
    store.currentVersion(t) shouldBe Some(0L)
    new java.io.File(t).listFiles().count(_.getName.startsWith("data-")) shouldBe 1
    store.read(t).count() shouldBe 2L
  }

  test("readVersion opens its manifest once") {
    val store = new TableStore(spark)
    val t = tmp() + "/t"
    store.overwrite(t, Seq((1, true)).toDF("id", "is_current"), Seq("is_current"))
    store.manifestReadCount.set(0L)
    store.readVersion(t, 0)
    store.manifestReadCount.get() shouldBe 1L
  }

  test("time travel: readVersion reads any un-vacuumed past snapshot") {
    val store = new TableStore(spark)
    val t = tmp() + "/t"
    store.append(t, Seq((1, "a")).toDF("id", "v"))           // v0
    store.append(t, Seq((2, "b")).toDF("id", "v"))           // v1
    store.overwrite(t, Seq((9, "z")).toDF("id", "v"))        // v2
    store.versions(t) shouldBe Seq(0L, 1L, 2L)
    store.readVersion(t, 0).as[(Int, String)].collect().toSet shouldBe
      Set((1, "a"))
    store.readVersion(t, 1).as[(Int, String)].collect().toSet shouldBe
      Set((1, "a"), (2, "b"))
    store.readVersion(t, 2).as[(Int, String)].collect().toSet shouldBe
      Set((9, "z"))
    // current read == latest version
    store.read(t).as[(Int, String)].collect().toSet shouldBe Set((9, "z"))
    // unknown version names the available ones
    val e = intercept[IllegalStateException] { store.readVersion(t, 7) }
    e.getMessage should include("available: 0, 1, 2")
  }

  test("time travel fails loudly on a vacuumed version, not partially") {
    val store = new TableStore(spark)
    val t = tmp() + "/t"
    store.append(t, Seq((1, "a")).toDF("id", "v"))           // v0
    store.overwrite(t, Seq((9, "z")).toDF("id", "v"))        // v1
    // pre-vacuum, the old snapshot is still exactly readable
    store.readVersion(t, 0).count() shouldBe 1L
    // keep-all-manifests mode: the out-of-window version stays listed and
    // fails on its missing DATA dirs
    store.vacuum(t, foldManifests = false)
    val e = intercept[IllegalStateException] { store.readVersion(t, 0) }
    e.getMessage should include("vacuumed")
    // default (folding) mode: the manifest is gone too — still loud
    store.vacuum(t)
    store.versions(t) shouldBe Seq(1L)
    intercept[IllegalStateException] { store.readVersion(t, 0) }
      .getMessage should include("no manifest")
    // appends-only history survives a NON-folding vacuum for free: every
    // old version's dirs are a subset of the current manifest
    val t2 = tmp() + "/t2"
    store.append(t2, Seq((1, "a")).toDF("id", "v"))
    store.append(t2, Seq((2, "b")).toDF("id", "v"))
    store.vacuum(t2, foldManifests = false)
    store.readVersion(t2, 0).count() shouldBe 1L
  }

  test("vacuum with a retention window keeps that many snapshots readable") {
    val store = new TableStore(spark)
    val t = tmp() + "/t"
    store.overwrite(t, Seq((1, "a")).toDF("id", "v")) // v0
    store.overwrite(t, Seq((2, "b")).toDF("id", "v")) // v1
    store.overwrite(t, Seq((3, "c")).toDF("id", "v")) // v2
    store.vacuum(t, keepVersions = 2)
    // v1 and v2 survive; v0's dirs AND manifest are gone (folded)
    store.readVersion(t, 1).as[(Int, String)].collect().toSet shouldBe Set((2, "b"))
    store.readVersion(t, 2).as[(Int, String)].collect().toSet shouldBe Set((3, "c"))
    store.versions(t) shouldBe Seq(1L, 2L)
    intercept[IllegalStateException] { store.readVersion(t, 0) }
      .getMessage should include("no manifest")
    an[IllegalArgumentException] should be thrownBy store.vacuum(t, 0)
  }

  test("vacuum folds manifests: the monotone marker max survives retention") {
    val store = new TableStore(spark)
    val t = tmp() + "/t"
    store.overwriteWithMeta(t, Seq((1, "a")).toDF("id", "v"),
      Map("committedBatch" -> "0"))                          // v0
    store.appendWithMeta(t, Seq((2, "b")).toDF("id", "v"),
      Map("committedBatch" -> "7"))                          // v1
    store.compact(t)                                         // v2, marker-less
    store.vacuum(t, keepVersions = 1)
    // only the marker-less compact survives, yet the history max lives on
    store.versions(t) shouldBe Seq(2L)
    store.versionMeta(t) shouldBe Map.empty
    store.metaMaxLong(t, "committedBatch") shouldBe Some(7L)
    // folding is cumulative across vacuums: a later fold merges with the
    // sidecar instead of replacing it
    store.appendWithMeta(t, Seq((3, "c")).toDF("id", "v"),
      Map("committedBatch" -> "9", "other" -> "2"))          // v3
    store.compact(t)                                         // v4, marker-less
    store.vacuum(t, keepVersions = 1)
    store.metaMaxLong(t, "committedBatch") shouldBe Some(9L)
    store.metaMaxLong(t, "other") shouldBe Some(2L)
    store.read(t).count() shouldBe 3L
  }

  test("folded-marker sidecar recovers from a crash between delete and rename") {
    val store = new TableStore(spark)
    val t = tmp() + "/t"
    store.overwriteWithMeta(t, Seq((1, "a")).toDF("id", "v"),
      Map("committedBatch" -> "4"))
    store.compact(t)
    store.vacuum(t, keepVersions = 1)
    store.metaMaxLong(t, "committedBatch") shouldBe Some(4L)
    // simulate the crash window: final sidecar deleted, tmp (complete)
    // left behind — the read falls back to the tmp file
    val dir = new java.io.File(t)
    val fin = new java.io.File(dir, "_meta_folded")
    val tmpF = new java.io.File(dir, "_meta_folded.tmp")
    java.nio.file.Files.copy(fin.toPath, tmpF.toPath)
    fin.delete() shouldBe true
    new java.io.File(dir, "._meta_folded.crc").delete()
    store.metaMaxLong(t, "committedBatch") shouldBe Some(4L)
  }

  test("metaMaxLong takes the current-version fast path: O(1) manifest " +
    "reads however long the history") {
    val store = new TableStore(spark)
    val t = tmp() + "/t"
    store.overwriteWithMeta(t, Seq((1, "a")).toDF("id", "v"),
      Map("committedBatch" -> "0"))
    // a long-running stream's manifest history, minus the data writes:
    // metadata-only commits are the cheap stand-in for 300 triggers
    (1 to 300).foreach(i => store.stampMeta(t, Map("committedBatch" -> i.toString)))
    store.manifestReadCount.set(0L)
    store.metaMaxLong(t, "committedBatch") shouldBe Some(300L)
    // ONE manifest read (the current version) — not 301
    store.manifestReadCount.get() should be <= 2L
    // the absent-key path still scans history (and is the slow path)
    store.manifestReadCount.set(0L)
    store.metaMaxLong(t, "nope") shouldBe None
    store.manifestReadCount.get() should be >= 300L
  }

  test("restore rolls back to a past snapshot as a NEW commit, history intact") {
    val store = new TableStore(spark)
    val t = tmp() + "/t"
    store.append(t, Seq((1, "a")).toDF("id", "v"))    // v0
    store.overwrite(t, Seq((9, "z")).toDF("id", "v")) // v1
    store.restore(t, 0) shouldBe 2L
    store.read(t).as[(Int, String)].collect().toSet shouldBe Set((1, "a"))
    // the rolled-back commit is still in history (restore adds, never erases)
    store.versions(t) shouldBe Seq(0L, 1L, 2L)
    store.readVersion(t, 1).as[(Int, String)].collect().toSet shouldBe
      Set((9, "z"))
    // vacuum now treats the RESTORED dirs as live and the rollback victim
    // as dead
    store.vacuum(t)
    store.read(t).as[(Int, String)].collect().toSet shouldBe Set((1, "a"))
    intercept[IllegalStateException] { store.readVersion(t, 1) }
  }

  test("versionDiff labels inserts/deletes; refuses a schema-epoch boundary") {
    val store = new TableStore(spark)
    val t = tmp() + "/t"
    store.append(t, Seq((1, "a"), (2, "b")).toDF("id", "v"))    // v0
    store.overwrite(t, Seq((2, "b"), (3, "c")).toDF("id", "v")) // v1
    store.versionDiff(t, 0, 1).as[(Int, String, String)].collect().toSet shouldBe
      Set((3, "c", "insert"), (1, "a", "delete"))
    // symmetric direction swaps the labels; self-diff is empty
    store.versionDiff(t, 1, 0).where($"change" === "insert").count() shouldBe 1L
    store.versionDiff(t, 1, 1).count() shouldBe 0L
    // schema evolution between the versions → loud failure, no NULL-padding
    store.append(t, Seq((4, "d", "x")).toDF("id", "v", "extra")) // v2
    val e = intercept[IllegalArgumentException] { store.versionDiff(t, 1, 2) }
    e.getMessage should include("schema")
  }

  test("changeFeed classifies keyed updates as pre/post pairs, drops " +
    "unchanged rows, null payloads compare null-safely") {
    val store = new TableStore(spark)
    val t = tmp() + "/t"
    store.append(t,
      Seq((1, Some("a")), (2, Some("b")), (3, None), (4, Some("d")))
        .toDF("id", "v"))                                          // v0
    store.overwrite(t,
      Seq((2, Some("B")), (3, None), (4, Some("d")), (5, Some("e")))
        .toDF("id", "v"))                                          // v1
    val feed = graft.core.CacheRegistry.scoped {
      store.changeFeed(t, 0, 1, Seq("id"))
        .as[(Int, Option[String], String)].collect().toSet
    }
    feed shouldBe Set(
      (1, Some("a"), "delete"),
      (5, Some("e"), "insert"),
      (2, Some("b"), "update_preimage"),
      (2, Some("B"), "update_postimage"))
    // ids 3 (null payload, unchanged) and 4 (unchanged) are absent
    an[IllegalArgumentException] should be thrownBy
      store.changeFeed(t, 0, 1, Seq.empty)
    an[IllegalArgumentException] should be thrownBy
      store.changeFeed(t, 0, 1, Seq("missing"))
    graft.core.CacheRegistry.drain()
  }

  test("a crashed writer's orphan manifest never blocks later commits") {
    val store = new TableStore(spark)
    val t = tmp() + "/t"
    store.overwrite(t, Seq((1, "a")).toDF("id", "v")) // _v0 committed
    // crashed writer: manifest written, pointer never moved
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(t, "_v1"), "data-dead")
    // next commit claims the version AFTER the orphan instead of colliding
    // with it (a collision would poison the table until manual cleanup)
    store.append(t, Seq((2, "b")).toDF("id", "v"))
    store.currentVersion(t) shouldBe Some(2L)
    store.read(t).select("id").as[Int].collect().toSet shouldBe Set(1, 2)
    // the orphan's phantom data dir is ignored by reads and by vacuum's
    // live-set (it was never committed)
    store.vacuum(t)
    store.read(t).select("id").as[Int].collect().toSet shouldBe Set(1, 2)
  }

  test("partitioned multi-dir read plans ONE scan with real partition pruning") {
    val store = new TableStore(spark)
    val t = tmp() + "/t"
    // three appends = three sibling partitioned data dirs (the shape that
    // used to force an O(dirs) union of scans)
    store.overwrite(t, Seq((1, true), (2, false)).toDF("id", "is_current"),
      Seq("is_current"))
    store.append(t, Seq((3, true), (4, false)).toDF("id", "is_current"))
    store.append(t, Seq((5, true)).toDF("id", "is_current"))

    val all = store.read(t)
    all.select("id").as[Int].collect().toSet shouldBe Set(1, 2, 3, 4, 5)
    all.schema("is_current").dataType shouldBe
      org.apache.spark.sql.types.BooleanType

    val current = all.where($"is_current")
    current.select("id").as[Int].collect().toSet shouldBe Set(1, 3, 5)
    val plan = current.queryExecution.executedPlan.toString
    // one scan node over all three dirs — not a union of per-dir scans
    "FileScan parquet".r.findAllIn(plan).size shouldBe 1
    plan should not include "Union"
    // and the filter prunes at the PARTITION level, not post-scan
    plan should include regex "PartitionFilters: \\[[^\\]]*is_current"
    // pruning is real: the scan's selected partitions hold only the
    // is_current=true files (3 dirs x 1 file), not all 5
    import org.apache.spark.sql.execution.FileSourceScanExec
    val scan = current.queryExecution.executedPlan.collectLeaves()
      .collectFirst { case s: FileSourceScanExec => s }.get
    scan.relation.location.listFiles(scan.partitionFilters, Nil)
      .flatMap(_.files).size shouldBe 3
  }

  test("partitioned read with schema evolution across data dirs") {
    val store = new TableStore(spark)
    val t = tmp() + "/t"
    store.overwrite(t, Seq((1, "a", true)).toDF("id", "v", "is_current"),
      Seq("is_current"))
    // second dir adds a column; first dir's rows must read it as NULL
    store.append(t, Seq((2, "b", "x", true)).toDF("id", "v", "extra", "is_current"))
    // a third dir lacking the earlier additions: columns still merge in
    // append order, whatever the (random) data dir names sort as
    store.append(t, Seq((3, "y", true)).toDF("id", "late", "is_current"))
    val r = store.read(t)
    r.columns.toSeq shouldBe Seq("id", "v", "extra", "late", "is_current")
    r.where($"id" === 1).select("extra").as[Option[String]].head() shouldBe None
    r.where($"id" === 2).select("extra").as[Option[String]].head() shouldBe Some("x")
    r.where($"id" === 3).select("v", "late").as[(Option[String], String)]
      .head() shouldBe ((None, "y"))
  }

  test("partitioned read runs no job; a legacy manifest merges footers in one") {
    val store = new TableStore(spark)
    val t = tmp() + "/t"
    store.overwrite(t, Seq((0, "a", true)).toDF("id", "v", "is_current"), Seq("is_current"))
    (1 to 3).foreach(i => store.append(t, Seq((i, "b", i % 2 == 0)).toDF("id", "v", "is_current")))
    store.append(t, Seq((4, 4L, true)).toDF("id", "extra", "is_current"))
    store.manifestDirs(t) shouldBe 5
    val (df, jobs) = JobCount.during(spark)(store.read(t))
    jobs shouldBe 0
    val rows = df.collect().toSet
    rows.map(_.getInt(0)) shouldBe (0 to 4).toSet

    makeLegacy(t)
    val (legacy, legacyJobs) = JobCount.during(spark)(store.read(t))
    legacyJobs shouldBe 1
    legacy.schema shouldBe df.schema
    legacy.collect().toSet shouldBe rows
    store.append(t, Seq((5, "c", false)).toDF("id", "v", "is_current"))
    recordsMergedSchema(t)
    JobCount.during(spark)(store.read(t))._2 shouldBe 0
    store.read(t).collect().toSet.map((r: org.apache.spark.sql.Row) => r.getInt(0)) shouldBe
      (0 to 5).toSet
  }

  test("version meta commits atomically with the data and is NOT inherited") {
    val store = new TableStore(spark)
    val t = tmp() + "/t"
    store.versionMeta(t) shouldBe Map.empty // no table yet
    store.overwriteWithMeta(t, Seq((1, "a")).toDF("id", "v"),
      Map("committedBatch" -> "0"))
    store.versionMeta(t) shouldBe Map("committedBatch" -> "0")
    store.appendWithMeta(t, Seq((2, "b")).toDF("id", "v"),
      Map("committedBatch" -> "1", "source" -> "stream-x"))
    store.versionMeta(t) shouldBe
      Map("committedBatch" -> "1", "source" -> "stream-x")
    // a plain commit states no markers — stale meta must not carry forward
    store.append(t, Seq((3, "c")).toDF("id", "v"))
    store.versionMeta(t) shouldBe Map.empty
    // data unaffected by meta plumbing
    store.read(t).count() shouldBe 3L
    // meta rides the manifest, so it time-travels with the version
    store.restore(t, 1L)
    store.read(t).count() shouldBe 2L
    // restore is a NEW commit with its own (empty) markers
    store.versionMeta(t) shouldBe Map.empty
    // malformed keys/values fail loudly
    an[IllegalArgumentException] should be thrownBy
      store.appendWithMeta(t, Seq((4, "d")).toDF("id", "v"), Map("a b" -> "v"))
    an[IllegalArgumentException] should be thrownBy
      store.appendWithMeta(t, Seq((4, "d")).toDF("id", "v"), Map("k" -> "a\nb"))
    // an empty or whitespace-padded value would not survive the
    // manifest's line-trim round trip — rejected at write time
    an[IllegalArgumentException] should be thrownBy
      store.appendWithMeta(t, Seq((4, "d")).toDF("id", "v"), Map("k" -> ""))
    an[IllegalArgumentException] should be thrownBy
      store.appendWithMeta(t, Seq((4, "d")).toDF("id", "v"), Map("k" -> " x "))
  }

  test("versionMeta skips a malformed legacy meta line instead of bricking the read") {
    val store = new TableStore(spark)
    val t = tmp() + "/t"
    store.overwriteWithMeta(t, Seq((1, "a")).toDF("id", "v"),
      Map("good" -> "1"))
    // hand-plant a value-less marker line (what a pre-hardening writer
    // could produce from meta value "") in the current manifest
    val v = store.currentVersion(t).get
    val mp = new java.io.File(s"$t/_v$v")
    val lines = scala.io.Source.fromFile(mp).mkString
    val out = new java.io.PrintWriter(mp)
    out.print(s"#b broken\n$lines"); out.close()
    // drop the Hadoop local-FS checksum sidecar the hand-edit invalidated
    new java.io.File(s"$t/._v$v.crc").delete()
    store.versionMeta(t) shouldBe Map("good" -> "1")
    store.read(t).count() shouldBe 1L
  }

  test("metaMaxLong survives marker-less maintenance commits (compact) " +
    "and wins over restore") {
    val store = new TableStore(spark)
    val t = tmp() + "/t"
    store.metaMaxLong(t, "committedBatch") shouldBe None
    store.overwriteWithMeta(t, Seq((1, "a")).toDF("id", "v"),
      Map("committedBatch" -> "0"))
    store.appendWithMeta(t, Seq((2, "b")).toDF("id", "v"),
      Map("committedBatch" -> "3"))
    store.metaMaxLong(t, "committedBatch") shouldBe Some(3L)
    // compact restates no markers; the current-version read resets but
    // the history max does not — a redelivered batch stays skipped
    store.compact(t)
    store.versionMeta(t) shouldBe Map.empty
    store.metaMaxLong(t, "committedBatch") shouldBe Some(3L)
    // restore rolls data back; the marker still wins (an explicit
    // operator action is not a license to re-apply old batches)
    store.restore(t, 0L)
    store.metaMaxLong(t, "committedBatch") shouldBe Some(3L)
  }

  test("stampMeta re-states a marker without touching data (metadata-only " +
    "commit after a compact dropped it)") {
    val store = new TableStore(spark)
    val t = tmp() + "/t"
    intercept[IllegalStateException] { store.stampMeta(t, Map("k" -> "1")) }
    store.overwriteWithMeta(t, Seq((1, "a")).toDF("id", "v"),
      Map("committedBatch" -> "5"))
    store.compact(t)
    store.versionMeta(t) shouldBe Map.empty
    val before = store.read(t).collect().toSet
    val v = store.stampMeta(t, Map("committedBatch" -> "5"))
    // a new version exists whose CURRENT meta carries the marker again,
    // the data is byte-identical, and time travel still sees history
    store.versionMeta(t) shouldBe Map("committedBatch" -> "5")
    store.read(t).collect().toSet shouldBe before
    store.readVersion(t, v - 1).collect().toSet shouldBe before
  }

  test("stampMeta preserves a partitioned layout's partition meta") {
    val store = new TableStore(spark)
    val t = tmp() + "/t"
    store.overwriteWithMeta(t, Seq((1, "a", true)).toDF("id", "v", "is_current"),
      Map.empty, Seq("is_current"))
    store.stampMeta(t, Map("committedBatch" -> "2"))
    store.versionMeta(t) shouldBe Map("committedBatch" -> "2")
    val r = store.read(t)
    r.count() shouldBe 1L
    r.schema("is_current").dataType shouldBe
      org.apache.spark.sql.types.BooleanType
  }

  test("version meta coexists with a partitioned layout") {
    val store = new TableStore(spark)
    val t = tmp() + "/t"
    store.overwriteWithMeta(t, Seq((1, "a", true)).toDF("id", "v", "is_current"),
      Map("committedBatch" -> "7"), Seq("is_current"))
    store.versionMeta(t) shouldBe Map("committedBatch" -> "7")
    // partition layout carries forward; meta re-stated per commit
    store.appendWithMeta(t, Seq((2, "b", false)).toDF("id", "v", "is_current"),
      Map("committedBatch" -> "8"))
    store.versionMeta(t) shouldBe Map("committedBatch" -> "8")
    val r = store.read(t)
    r.count() shouldBe 2L
    r.schema("is_current").dataType shouldBe
      org.apache.spark.sql.types.BooleanType
  }
}
