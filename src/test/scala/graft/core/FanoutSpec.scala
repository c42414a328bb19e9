package graft.core

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

class FanoutSpec extends AnyFunSuite with Matchers {

  test("units run concurrently: two units that wait on each other both finish") {
    // run one after the other, the first unit would time out waiting for
    // the second's count-down
    val bothArrived = new CountDownLatch(2)
    Fanout.map(Seq(1, 2)) { _ =>
      bothArrived.countDown()
      bothArrived.await(30, TimeUnit.SECONDS)
    } shouldBe Seq(true, true)
  }

  test("results come back in input order, not completion order") {
    Fanout.map(1 to 6) { i =>
      Thread.sleep((6 - i) * 20L)
      i * 10
    } shouldBe (1 to 6).map(_ * 10)
  }

  test("zero or one unit runs inline on the caller's thread") {
    val caller = Thread.currentThread().getId
    Fanout.map(Seq("only"))(_ => Thread.currentThread().getId) shouldBe Seq(caller)
    Fanout.map(Seq.empty[Int])(identity) shouldBe empty
    Fanout.map(Seq(1, 2))(_ => Thread.currentThread().getId) should not contain caller
  }

  test("a failure is rethrown only after every unit finished; the first in " +
    "input order wins") {
    val finished = new AtomicInteger
    val e = intercept[IllegalStateException] {
      Fanout.map(0 to 3) {
        case 1 => Thread.sleep(100); throw new IllegalStateException("unit 1")
        case 2 => throw new IllegalStateException("unit 2")
        case _ => Thread.sleep(300); finished.incrementAndGet()
      }
    }
    e.getMessage shouldBe "unit 1"
    finished.get shouldBe 2
  }
}
