package graft.core

import java.nio.file.Files

import graft.SparkSpec

class ObservedSpec extends SparkSpec {
  import spark.implicits._

  test("countDuring returns the rows the write processed — no extra job") {
    val root = Files.createTempDirectory("graft-observed").toString
    val store = new graft.sources.TableStore(spark)
    val df = (1 to 137).map(i => (i, s"v$i", i % 3)).toDF("id", "v", "p")
    val n = Observed.countDuring(df)(
      store.overwrite(s"$root/t", _, Seq("p")))
    n shouldBe 137
    store.read(s"$root/t").count() shouldBe 137
    // appends observe the same way
    val m = Observed.countDuring(df.limit(10).toDF())(
      store.append(s"$root/t", _))
    m shouldBe 10
    store.read(s"$root/t").count() shouldBe 147
  }

  test("reported reads an observation filled inside a persisted frame, and " +
    "gives up on one that is never filled") {
    val obs = org.apache.spark.sql.Observation()
    val cached = (1 to 50).toDF("id")
      .observe(obs, org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)))
      .where($"id" % 2 === 0).persist()
    try {
      cached.count() shouldBe 25
      cached.count() shouldBe 25
      Observed.reported(obs).map(_.getLong(0)) shouldBe Some(50L)
    } finally cached.unpersist()
    import scala.concurrent.duration._
    Observed.reported(org.apache.spark.sql.Observation(), 100.millis) shouldBe None
  }
}
