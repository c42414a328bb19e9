package graft

/** Optimization-round instrumentation: dump `.explain("formatted")` for
  * named queries to files (plans/<query>.txt), with the artifacts those
  * queries consume pre-warmed exactly as the bench harness warms them, so
  * the captured plan is the one the timed run executes. Usage:
  *
  *   sbt "runMain graft.PlanDump <sfDir> <outDir> q369,q318"
  *
  * Prefix match on names, like SPARK_GRAFT_QUERIES. Read-only: no query
  * results are kept, no mirrors written.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, namesArg) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.core.GraftSession.harness("graft-plandump", cpus)
    new java.io.File(outDir).mkdirs()
    val selected = SparkEntry.selected(Some(namesArg))
    try SparkEntry.warmCachesFor(spark, sfDir, selected.map(_.name))
    catch { case e: Throwable =>
      System.err.println(s"[plandump] warmup failed: ${e.getMessage}")
    }
    selected.foreach { q =>
      val name = q.name
      try graft.core.CacheRegistry.scoped {
        val df = q.build(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$outDir/$name.txt"), txt)
        System.err.println(s"[plandump] wrote $outDir/$name.txt")
      }
      catch { case e: Throwable =>
        System.err.println(s"[plandump] $name failed: ${e.getMessage}")
      }
      finally graft.core.CacheRegistry.drain()
    }
    SparkEntry.clearCaches(spark)
    spark.stop()
  }
}
