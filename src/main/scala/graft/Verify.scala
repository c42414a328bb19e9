package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = graft.core.GraftSession.harness("graft-verify", cpus)
    new java.io.File(outDir).mkdirs()
    // single-file dumps keep the driver's row-level comparator simple; at
    // scale-fixture volumes (q336 at 100x: 454 M rows) one writer task
    // becomes the bottleneck — SPARK_GRAFT_VERIFY_COALESCE=0 keeps the
    // parallel writers (validate_scale.py globs the directory either way)
    val singleFile = sys.env.getOrElse("SPARK_GRAFT_VERIFY_COALESCE", "1") != "0"
    // SPARK_GRAFT_QUERIES=q53,q106 restricts the result dump (local
    // iteration only; the driver always runs the full set). The oracle
    // files are always complete.
    SparkEntry.selected(sys.env.get("SPARK_GRAFT_QUERIES")).foreach { query =>
      val name = query.name
      try graft.core.CacheRegistry.scoped {
        val df = query.build(spark, sfDir)
        (if (singleFile) df.coalesce(1) else df)
          .write.mode("overwrite").parquet(s"$outDir/$name")
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      finally graft.core.CacheRegistry.drain()
    }
    SparkEntry.clearCaches(spark)
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // keys in name order, so dumps of two trees compare byte for byte
    val json = SparkEntry.oracleSql.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // chunked replays for the vote-grid family (tools/validate_grid_chunked.py)
    val cjson = SparkEntry.chunkedOracle.toSeq.sortBy(_._1).map { case (k, v) =>
      val stages = v.stages.map { st =>
        s"""{"table": ${q(st.table)}, "sql": ${q(st.sql)}, "chunked": ${st.chunked}}"""
      }.mkString("[", ",", "]")
      s"""${q(k)}: {"stages": $stages, "final": ${q(v.finalSql)}}"""
    }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_chunked.json"), cjson)
    spark.stop()
  }
}
