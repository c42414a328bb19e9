package graft.core

import java.nio.file.Files

import org.apache.spark.sql.graft.{JobCount, ManifestRead}
import org.apache.spark.sql.types.{StructType, TimestampType}

import graft.{SparkEntry, SparkSpec}

/** Bench tables load with no Spark job: each schema comes from one footer
  * read on the driver, and it is the schema `spark.read.parquet` infers. */
class TablesSpec extends SparkSpec {

  private val nanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  /** `spark.read.parquet(path).schema` with events.ts typed as
    * [[Tables.table]] normalizes it. */
  private def inferred(path: String, name: String): StructType = {
    val s = spark.read.parquet(path).schema
    if (name != "events") s
    else StructType(s.map(f => if (f.name == "ts") f.copy(dataType = TimestampType) else f))
  }

  for (sf <- Seq("sf0.001", "sf0.01"); name <- Tables.all)
    test(s"Tables.table($sf, $name) runs no job and has the inferred schema") {
      val dir = s"/root/testdata/$sf"
      val (df, jobs) = JobCount.during(spark)(Tables.table(spark, dir, name))
      jobs shouldBe 0
      df.schema shouldBe inferred(s"$dir/$name.parquet", name)
    }

  test("events: the footer schema is the inferred one with nanosAsLong on and off") {
    val path = s"$sf0001/events.parquet"
    val before = spark.conf.getOption(nanosAsLong)
    try {
      for (on <- Seq("true", "false")) {
        spark.conf.set(nanosAsLong, on)
        val inferred = scala.util.Try(spark.read.parquet(path).schema)
        val (footer, jobs) = JobCount.during(spark)(
          scala.util.Try(ManifestRead.footerSchema(spark, path)))
        jobs shouldBe 0
        withClue(s"nanosAsLong=$on: ") {
          footer.isSuccess shouldBe inferred.isSuccess
          footer.toOption shouldBe inferred.toOption
        }
      }
    } finally before match {
      case Some(v) => spark.conf.set(nanosAsLong, v)
      case None => spark.conf.unset(nanosAsLong)
    }
  }

  test("a Spark-written 3-file directory: the footer schema is the inferred one") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-tables").toString
    val same = s"$root/same"
    (1 to 30).map(i => (i, s"v$i", i * 0.5)).toDF("id", "v", "x")
      .repartition(3).write.parquet(same)
    // appends whose files disagree: inference reads the first file by path
    val mixed = s"$root/mixed"
    Seq((1, "a")).toDF("id", "a").write.parquet(mixed)
    Seq((2, 2L)).toDF("id", "b").write.mode("append").parquet(mixed)
    Seq((3, 3.0)).toDF("id", "c").write.mode("append").parquet(mixed)
    for (dir <- Seq(same, mixed)) {
      new java.io.File(dir).listFiles().count(_.getName.endsWith(".parquet")) shouldBe 3
      val (footer, jobs) = JobCount.during(spark)(ManifestRead.footerSchema(spark, dir))
      jobs shouldBe 0
      footer shouldBe spark.read.parquet(dir).schema
    }
  }

  test("q01, q28, q41 and q42 build with no Spark job") {
    for (q <- Seq("q01_pricing_summary", "q28_text_quality", "q41_sessionize",
        "q42_salted_join")) {
      SparkEntry.clearCaches(spark)
      val (_, jobs) = JobCount.during(spark)(SparkEntry.queries(q)(spark, sf0001))
      withClue(s"$q: ")(jobs shouldBe 0)
    }
    SparkEntry.clearCaches(spark)
  }
}
