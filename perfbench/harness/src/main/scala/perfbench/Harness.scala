package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import graft.core.GraftSession

/** Benchmark JVM: builds the session from `GraftSession.builder` (master
  * and paths only), sets up one workload, makes its `warmup` calls, then
  * at least `warmCalls` more and until `seconds` have passed since the
  * warm-up ended, and writes
  * `result.json` (and `spans.jsonl` when traced) into the run root.
  * Arguments are `key=value`: workload, root, seconds, threads, trace (0|1). */
object Harness {

  private def json(v: Any): String = v match {
    case null => "null"
    case s: String =>
      "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case o: Option[_] => o.map(json).getOrElse("null")
    case other => json(other.toString)
  }

  /** Heap still in use after a full collection, in MB: what the program
    * retains between calls (caches, persisted frames), free of the GC
    * timing that makes the committed or resident size wander. */
  private def retainedHeapMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def main(args: Array[String]): Unit = {
    val opt = args.map(_.split("=", 2)).map(a => a(0) -> a(1)).toMap
    val root = Paths.get(opt("root")).toAbsolutePath
    val seconds = opt("seconds").toDouble
    val tracer = new Tracer(opt("trace") == "1")

    val spark = GraftSession.builder("perfbench", s"local[${opt("threads")}]")
      .config("spark.local.dir", root.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", root.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val counters = new Counters(spark.sparkContext)
    if (tracer.enabled) counters.register()

    val workload: Workload = opt("workload") match {
      case "pipeline_incremental" => new PipelineWorkload(spark, root, tracer)
      case "query_mix" => new QueryMix(spark, root, tracer)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val setupT0 = System.nanoTime()
    workload.setup()
    System.err.println(f"[perfbench] set-up ${(System.nanoTime() - setupT0) / 1e9}%.2f s")
    val ready = java.time.Instant.now()
    val readyEpochS = ready.getEpochSecond + ready.getNano / 1e9
    val setupError =
      try tracer.span("bench.check")(workload.checkSetup())
      catch { case e: Exception => Some(s"check: ${e.getClass.getName}: ${e.getMessage}") }
    setupError.foreach(e => System.err.println(s"[perfbench] set-up FAILED: $e"))

    val setupHeapMb = retainedHeapMb()
    val calls = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
    var start = System.nanoTime()
    var i = 0
    while (i < workload.warmup + workload.warmCalls ||
        (System.nanoTime() - start) / 1e9 < seconds) {
      if (i == workload.warmup) start = System.nanoTime()
      tracer.call = i
      workload.prepare(i)
      counters.takeTaskMs()
      val before = if (tracer.enabled) counters.snapshot() else Map.empty[String, Double]
      val cpu0 = Counters.processCpuS()
      val t0 = System.nanoTime()
      val error =
        try { tracer.span("call")(workload.call(i)); None }
        catch { case e: Exception => Some(s"${e.getClass.getName}: ${e.getMessage}") }
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = Counters.processCpuS() - cpu0
      val engine =
        if (!tracer.enabled) Map.empty[String, Double]
        else {
          val after = counters.snapshot()
          val ms = counters.takeTaskMs().sorted
          val skew = if (ms.isEmpty) 0.0 else ms.last.toDouble / math.max(1L, ms(ms.size / 2))
          after.map { case (k, v) => k -> (v - before(k)) } + ("spark.task_skew" -> skew)
        }
      val failure = error.orElse(
        try tracer.span("bench.check")(workload.check(i))
        catch { case e: Exception => Some(s"check: ${e.getClass.getName}: ${e.getMessage}") })
      val counts = if (error.isEmpty) workload.callCounts else Map.empty[String, Double]
      tracer.span("bench.cleanup")(workload.cleanup(i))
      val heapMb = retainedHeapMb()
      System.err.println(f"[perfbench] call $i $wall%.2f s cpu $cpu%.1f s" +
        failure.map(f => s" FAILED: $f").getOrElse(""))
      calls += Map("i" -> i, "wall_s" -> wall,
        "cpu_s" -> cpu, "heap_mb" -> heapMb, "ok" -> failure.isEmpty, "error" -> failure,
        "counters" -> (engine ++ counts))
      i += 1
    }

    val runtime = ManagementFactory.getRuntimeMXBean
    val result = Map(
      "ready_epoch_s" -> readyEpochS,
      "warmup" -> workload.warmup,
      "setup_heap_mb" -> setupHeapMb,
      "setup" -> workload.setupFigures,
      "setup_error" -> setupError,
      "calls" -> calls.toSeq,
      "jvm_flags" -> runtime.getInputArguments.toArray.toSeq,
      "spark_conf" -> spark.sparkContext.getConf.getAll.toMap,
      "nproc" -> Runtime.getRuntime.availableProcessors)
    Files.write(root.resolve("result.json"), json(result).getBytes(StandardCharsets.UTF_8))
    if (tracer.enabled)
      Files.write(root.resolve("spans.jsonl"), tracer.spans.map { s =>
        json(Map("id" -> s.id, "parent" -> s.parent, "call" -> s.call, "name" -> s.name,
          "start" -> s.start, "end" -> s.end))
      }.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}
