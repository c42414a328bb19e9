package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** CSV landing-zone discovery and reads — the reference's table-discovery
  * loop (/root/reference/databricks_notebooks/1_Landing_to_Bronze.py:12-24)
  * re-expressed over the Hadoop FileSystem API.
  *
  * A landing entry is either `<Table>.csv` or a directory `<Table>/` of csv
  * parts; entries prefixed `_` (checkpoints, markers) are skipped, matching
  * the reference's normalization.
  */
class LandingSource(val spark: SparkSession, landingRoot: String) {

  private def fs(p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Discover landed tables: strip `.csv`, skip `_`-prefixed entries. */
  def listTables(): Seq[String] = {
    val root = new Path(landingRoot)
    val f = fs(root)
    if (!f.exists(root)) Seq.empty
    else f.listStatus(root).toSeq
      .map(_.getPath.getName)
      .filterNot(_.startsWith("_"))
      .map(n => if (n.endsWith(".csv")) n.dropRight(4) else n)
      .distinct.sorted
  }

  private def tablePath(table: String): String = {
    val asFile = new Path(landingRoot, s"$table.csv")
    if (fs(asFile).exists(asFile)) asFile.toString
    else new Path(landingRoot, table).toString
  }

  /** First-sight read: header + schema inference
    * (1_Landing_to_Bronze.py:37,44-46).
    *
    * `typeOverrides` (column → DDL type) is the decimal-strict mode
    * (SURVEY §7.4): CSV inference degrades the reference's DECIMAL money
    * columns to double; an override re-reads the text with the declared
    * type pinned in the schema, so values parse exactly instead of
    * round-tripping through binary floating point. Subsequent runs inherit
    * strictness automatically — [[readPinned]] reuses the Bronze schema. */
  def readInferred(table: String,
                   typeOverrides: Map[String, String] = Map.empty): DataFrame = {
    val inferred = spark.read.option("header", "true").option("inferSchema", "true")
      .csv(tablePath(table))
    if (typeOverrides.isEmpty) inferred
    else {
      val strict = StructType(inferred.schema.fields.map(f =>
        typeOverrides.get(f.name)
          .map(t => f.copy(dataType = org.apache.spark.sql.types.DataType.fromDDL(t)))
          .getOrElse(f)))
      spark.read.schema(strict).option("header", "true").csv(tablePath(table))
    }
  }

  /** Subsequent reads pin the existing Bronze schema so inference never
    * flips types between runs (1_Landing_to_Bronze.py:41-42). Audit columns
    * in the pinned schema are dropped — they are re-derived at ingest. */
  def readPinned(table: String, schema: StructType,
                 auditCols: Set[String]): DataFrame = {
    val pinned = StructType(schema.fields.filterNot(f => auditCols.contains(f.name)))
    spark.read.schema(pinned).option("header", "true").csv(tablePath(table))
  }

  /** Streaming twin of the pinned read: a file-source stream over the
    * table's landing entry. The landing zone becomes an APPEND-ONLY file
    * feed — the stream checkpoint does the exactly-once file accounting
    * (a replaced same-name file counts as already seen; each drop must be
    * a new file, which is how production landing zones behave anyway).
    * A single-file entry streams via a glob anchored at the landing root
    * (a bare file basePath fails source construction — the
    * [[graft.streaming.EventStream.readEventsStream]] device). */
  def readStream(table: String, schema: StructType,
                 maxFilesPerTrigger: Int = 100): DataFrame = {
    val reader = spark.readStream.schema(schema).option("header", "true")
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
    val asFile = new Path(landingRoot, s"$table.csv")
    if (fs(asFile).exists(asFile))
      reader.option("basePath", landingRoot)
        .csv(new Path(landingRoot, s"$table.csv*").toString)
    else reader.csv(new Path(landingRoot, table).toString)
  }
}
