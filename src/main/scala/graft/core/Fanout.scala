package graft.core

import org.apache.spark.sql.SparkSession

/** Runs independent driver-side units of one pipeline layer concurrently —
  * the reference's ADF ForEach over source tables (adf/pipeline.json:89-98),
  * whose iterations share nothing but the cluster.
  *
  * Each unit is a chain of small Spark jobs (a scan, a write, a commit), so
  * running units one after another leaves most executor slots idle between
  * jobs. Here every unit gets its own driver thread for the duration of one
  * call and submits its jobs to the shared scheduler, which bounds the
  * executor work; there is no pool size to tune.
  *
  * Contract:
  *  - results come back in input order;
  *  - zero or one unit runs inline on the caller's thread (no thread is
  *    started, so a one-table run executes exactly the serial code);
  *  - `map` returns only after every unit has finished, failed or not, so
  *    no unit is still writing when the caller sees the outcome;
  *  - if any unit failed, the first failure in input order is rethrown.
  *
  * Spark's thread-local job properties (job group, scheduler pool) are
  * inherited by each unit thread as a copy taken when the thread starts.
  */
object Fanout {

  def map[A, B](units: Seq[A])(f: A => B): Seq[B] =
    if (units.sizeIs <= 1) units.map(f)
    else {
      val results = new Array[Any](units.size)
      val failures = new Array[Throwable](units.size)
      val caller = Thread.currentThread().getName
      val threads = units.zipWithIndex.map { case (unit, i) =>
        val t = new Thread(() =>
          try results(i) = f(unit)
          catch { case e: Throwable => failures(i) = e },
          s"$caller-fanout-$i")
        t.start()
        t
      }
      // an interrupt must not let the caller return while units still run;
      // it is re-asserted once every unit has been joined
      var interrupted = false
      threads.foreach { t =>
        while (t.isAlive)
          try t.join()
          catch { case _: InterruptedException => interrupted = true }
      }
      if (interrupted) Thread.currentThread().interrupt()
      failures.find(_ != null).foreach(e => throw e)
      results.toSeq.asInstanceOf[Seq[B]]
    }

  /** Runs `body` with `label` as the Spark job description of the calling
    * thread (`spark.job.description`), so every job the body starts is
    * attributable to its unit, and restores the previous description after. */
  def labelled[A](spark: SparkSession, label: String)(body: => A): A = {
    val sc = spark.sparkContext
    val previous = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(label)
    try body
    finally sc.setJobDescription(previous)
  }
}
