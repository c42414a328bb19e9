package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Engine counters summed since the harness registered them: Spark jobs
  * and tasks from a listener, Janino compiles from Spark's codegen log
  * line, JIT/GC/CPU time from the JVM's MXBeans. `snapshot` reads them all;
  * a call's counters are the difference of two snapshots. */
final class Counters(sc: SparkContext) extends SparkListener {
  private val jobs, tasks, cpuNs, shuffleBytes, spillBytes = new AtomicLong
  private val taskMs = ArrayBuffer.empty[Long]
  private val compiles, compileUs = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      cpuNs.addAndGet(m.executorCpuTime)
      shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
    taskMs.synchronized { taskMs += e.taskInfo.duration }
  }

  private val codegenLogger =
    "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
  private val generatedIn = """Code generated in ([0-9.]+) ms""".r.unanchored

  /** Count `Code generated in N ms` lines, which Spark logs at INFO once per
    * Janino compile (cache hits log nothing). Only this logger is raised to
    * INFO, and its lines go to this appender only. */
  private def hookCodegenLog(): Unit = {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val appender = new AbstractAppender("perfbench-codegen", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = e.getMessage.getFormattedMessage match {
        case generatedIn(ms) =>
          compiles.incrementAndGet()
          compileUs.addAndGet((ms.toDouble * 1000).toLong)
        case _ =>
      }
    }
    appender.start()
    val config = ctx.getConfiguration
    val lc = new LoggerConfig(codegenLogger, Level.INFO, false)
    lc.addAppender(appender, Level.INFO, null)
    config.addLogger(codegenLogger, lc)
    ctx.updateLoggers()
  }

  def register(): Unit = {
    sc.addSparkListener(this)
    hookCodegenLog()
  }

  def snapshot(): Map[String, Double] = {
    org.apache.spark.BenchListenerBus.drain(sc)
    import scala.jdk.CollectionConverters._
    val gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
    Map(
      "spark.jobs" -> jobs.get.toDouble,
      "spark.tasks" -> tasks.get.toDouble,
      "spark.executor_cpu_s" -> cpuNs.get / 1e9,
      "spark.shuffle_bytes" -> shuffleBytes.get.toDouble,
      "spark.spill_bytes" -> spillBytes.get.toDouble,
      "codegen.compiles" -> compiles.get.toDouble,
      "codegen.compile_s" -> compileUs.get / 1e6,
      "jvm.jit_s" -> ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3,
      "jvm.gc_s" -> gcMs / 1e3)
  }

  /** Task durations (ms) recorded since the last call, then forgotten. */
  def takeTaskMs(): Seq[Long] = taskMs.synchronized {
    val out = taskMs.toSeq
    taskMs.clear()
    out
  }
}

object Counters {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def processCpuS(): Double = os.getProcessCpuTime / 1e9
}
