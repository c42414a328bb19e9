package graft.actions

import java.util.concurrent.CountDownLatch

import graft.SparkSpec

class CollectingSinkSpec extends SparkSpec {
  import spark.implicits._

  test("concurrent deliveries are all recorded") {
    val batches = (0 until 8).map(i => Seq(i).toDF("id"))
    // several rounds: one round rarely overlaps two appends
    for (_ <- 1 to 10) {
      val sink = new CollectingSink
      val go = new CountDownLatch(1)
      val threads = batches.map { df =>
        val t = new Thread(() => { go.await(); sink.deliver(df) })
        t.start()
        t
      }
      go.countDown()
      threads.foreach(_.join())
      sink.batches.map(_.map(_("id"))).sortBy(_.head.asInstanceOf[Int]) shouldBe
        (0 until 8).map(i => Seq(i))
    }
  }
}
