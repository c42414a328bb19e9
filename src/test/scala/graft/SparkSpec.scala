package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Shared local SparkSession for specs (one JVM-wide session; tests fork),
  * built by the same factory users get, so specs cover the shipped conf. */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = graft.core.GraftSession.builder("graft-test", "local[4]", shufflePartitions = 4)
      .config("spark.sql.warehouse.dir", graft.core.GraftSession.tempWarehouse())
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

trait SparkSpec extends AnyFunSuite with Matchers {
  lazy val spark: SparkSession = SparkSpec.spark
  lazy val sf0001 = "/root/testdata/sf0.001"
}
