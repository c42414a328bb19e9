package org.apache.spark.sql.graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Records the Spark jobs a block of driver code starts. Only jobs in the
  * block's own job group count, so work from unrelated threads does not;
  * threads the block starts inherit the group. The listener bus is drained
  * before reading, which needs this package. */
object JobCount {
  def during[A](spark: SparkSession)(body: => A): (A, Int) = {
    val (result, descriptions) = descriptionsDuring(spark)(body)
    (result, descriptions.size)
  }

  /** The block's result and the `spark.job.description` of each of its
    * jobs (the job group's own description where a job set none). */
  def descriptionsDuring[A](spark: SparkSession)(body: => A): (A, Seq[String]) = {
    val sc = spark.sparkContext
    val group = s"job-count-${java.util.UUID.randomUUID()}"
    val jobs = new ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).filter(_.getProperty("spark.jobGroup.id") == group)
          .foreach(p => jobs.add(p.getProperty("spark.job.description")))
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "counted block")
    try {
      val result = body
      sc.listenerBus.waitUntilEmpty()
      (result, jobs.asScala.toSeq)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
