package org.apache.spark.sql.graft

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileReader, ParquetFileWriter}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BoundReference, Cast, Expression, Literal, Predicate}
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.{DataType, StructField, StructType}
import org.apache.spark.util.HadoopFSUtils

/** Manifest-backed [[FileIndex]] for the versioned TableStore layout.
  *
  * A partitioned table version references several immutable data dirs, each
  * hive-partitioned internally (`data-xxx/is_current=true/part-*.parquet`).
  * Spark's built-in partition discovery wants ONE root per scan — sibling
  * partitioned roots in a multi-path read throw "Conflicting directory
  * structures", which previously forced one scan per data dir unioned by
  * name. That shape is correct (filters push into every branch) but plans
  * O(dirs) scans: a year of daily appends is a 365-way union.
  *
  * This index hands Catalyst the manifest's file list directly: ONE scan
  * node over all data dirs, partition values parsed from the hive-style
  * subdirectories and typed from the manifest's RECORDED `#p` column types
  * (no inference — inference has no boolean and would misread
  * `is_current=true`). Partition pruning is implemented exactly like
  * Spark's `PartitioningAwareFileIndex.prunePartitions`: bind the pushed
  * partition filters to the partition schema and filter the in-memory
  * partition list, so a pruned query never even lists the dead files'
  * splits.
  */
class ManifestFileIndex(spark: SparkSession, dataDirs: Seq[Path],
                        override val partitionSchema: StructType)
    extends FileIndex {

  private val hadoopConf = spark.sparkContext.hadoopConfiguration
  private val zoneId = spark.sessionState.conf.sessionLocalTimeZone

  /** One non-empty file per data dir, in manifest order: the files of a
    * dir come from one write and share its schema, so these footers are
    * all the data-schema merge needs. */
  private val schemaSamples = scala.collection.mutable.ArrayBuffer.empty[FileStatus]

  /** (partition values, files) groups, listed once at construction — the
    * manifest's data dirs are immutable, so there is nothing to refresh. */
  private val partitions: Seq[PartitionDirectory] = {
    val groups = scala.collection.mutable.LinkedHashMap
      .empty[Seq[Any], scala.collection.mutable.ArrayBuffer[FileStatus]]
    dataDirs.foreach { dir =>
      val sampled = schemaSamples.size
      val fs = dir.getFileSystem(hadoopConf)
      def walk(p: Path, values: Map[String, String]): Unit =
        fs.listStatus(p).foreach { st =>
          val name = st.getPath.getName
          if (!name.startsWith("_") && !name.startsWith(".")) {
            if (st.isDirectory) {
              val kv = name.split("=", 2)
              walk(st.getPath,
                if (kv.length == 2) values + (kv(0) -> kv(1)) else values)
            } else if (st.getLen > 0) {
              if (schemaSamples.size == sampled) schemaSamples += st
              val row = partitionSchema.fields.map { f =>
                values.get(f.name).map(castPartitionValue(_, f.dataType)).orNull
              }.toSeq
              groups.getOrElseUpdate(
                row, scala.collection.mutable.ArrayBuffer.empty) += st
            }
          }
        }
      walk(dir, Map.empty)
    }
    groups.map { case (values, files) =>
      PartitionDirectory(InternalRow.fromSeq(values), files.toArray)
    }.toSeq
  }

  /** Hive path fragment → typed catalyst value (manifest-declared type). */
  private def castPartitionValue(raw: String, dt: DataType): Any = {
    val unescaped = ExternalCatalogUtils.unescapePathName(raw)
    if (unescaped == ExternalCatalogUtils.DEFAULT_PARTITION_NAME) null
    else Cast(Literal(unescaped), dt, Option(zoneId)).eval(InternalRow.empty)
  }

  override def rootPaths: Seq[Path] = dataDirs

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    if (partitionFilters.isEmpty) partitions
    else {
      // same binding as PartitioningAwareFileIndex.prunePartitions
      val bound = Predicate.createInterpreted(
        partitionFilters.reduce(And).transform {
          case a: AttributeReference =>
            val i = partitionSchema.indexWhere(_.name == a.name)
            BoundReference(i, partitionSchema(i).dataType, nullable = true)
        })
      partitions.filter(p => bound.eval(p.values))
    }

  override def inputFiles: Array[String] =
    partitions.flatMap(_.files.map(_.getPath.toString)).toArray

  override def refresh(): Unit = () // manifest data dirs are immutable

  override def sizeInBytes: Long =
    partitions.flatMap(_.files.map(_.getLen)).sum

  /** The data schema merged across data dirs in manifest order (schema
    * evolution: a later dir's new columns append), read from one footer
    * per dir in ONE Spark job, whatever the number of dirs. Calls the merge
    * directly because `inferSchema` would sort the files by path, and data
    * dir names are random. Partition columns are not stored in the files. */
  def mergedDataSchema: StructType =
    ParquetFileFormat
      .mergeSchemasInParallel(Map("mergeSchema" -> "true"), schemaSamples.toSeq, spark)
      .map(s => StructType(s.filterNot(f => partitionSchema.fieldNames.contains(f.name))).asNullable)
      .getOrElse(throw new IllegalStateException(
        s"no parquet data files under ${dataDirs.mkString(", ")}"))
}

/** Public entry: a single-scan DataFrame over a manifest's data dirs, the
  * schema arithmetic a manifest's recorded `#s` schema line needs, and the
  * job-free footer schema of a plain parquet path. */
object ManifestRead {

  /** Read `dirs` as ONE partitioned parquet scan, with no Spark job.
    * `partitionCols` are the manifest-recorded (name, type) pairs, in
    * layout order; they surface LAST in the schema, as with any
    * partitioned parquet read. `dataSchema` is the manifest-recorded data
    * schema; a data dir missing one of its columns reads it as NULL
    * (schema evolution). */
  def read(spark: SparkSession, dirs: Seq[String],
           partitionCols: Seq[(String, DataType)],
           dataSchema: StructType): DataFrame = {
    val partitionSchema = partitionSchemaOf(partitionCols)
    val index = new ManifestFileIndex(spark, dirs.map(new Path(_)), partitionSchema)
    val relation = HadoopFsRelation(index, partitionSchema, dataSchema,
      bucketSpec = None, new ParquetFileFormat,
      Map("mergeSchema" -> "true"))(spark)
    spark.baseRelationToDataFrame(relation)
  }

  /** The footer-merged data schema of `dirs`, in manifest order: the
    * schema of a legacy manifest, which records none. One Spark job. */
  def mergedDataSchema(spark: SparkSession, dirs: Seq[String],
                       partitionCols: Seq[(String, DataType)]): StructType =
    new ManifestFileIndex(spark, dirs.map(new Path(_)), partitionSchemaOf(partitionCols))
      .mergedDataSchema

  /** The schema `spark.read.parquet(path)` infers, read on the driver with
    * no Spark job. Picks the one file Spark's non-merging inference reads
    * (`_common_metadata`, else `_metadata`, else the first data file by
    * path, hidden files skipped by the file index's own rule) and converts
    * its footer with the converter inference uses, so session settings
    * such as `nanosAsLong` apply. Read afresh on every call. */
  def footerSchema(spark: SparkSession, path: String): StructType = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    val summaries = Seq(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE,
      ParquetFileWriter.PARQUET_METADATA_FILE)
    def leaves(st: FileStatus): Seq[FileStatus] =
      if (!st.isDirectory) Seq(st)
      else fs.listStatus(st.getPath).toSeq
        .filterNot(c => HadoopFSUtils.shouldFilterOutPathName(c.getPath.getName))
        .flatMap(leaves)
    val files = leaves(fs.getFileStatus(root)).sortBy(_.getPath.toString)
    val file = summaries.flatMap(n => files.find(_.getPath.getName == n)).headOption
      .orElse(files.find(f => !summaries.contains(f.getPath.getName)))
      .getOrElse(throw new IllegalStateException(s"no parquet data files under $path"))
    val footer = ParquetFileReader.readFooter(conf, file, ParquetMetadataConverter.SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, footer),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf)).asNullable
  }

  /** The data schema a data dir written from a frame of `schema` adds: its
    * columns without the partition columns, nullable the way
    * [[ManifestFileIndex.mergedDataSchema]] reads them back. */
  def dataSchema(schema: StructType, partitionCols: Seq[String]): StructType =
    StructType(schema.filterNot(f => partitionCols.contains(f.name))).asNullable

  /** `earlier` widened by `later`'s new columns, appended in order; a
    * column whose types disagree throws. The same merge the footer read
    * applies across data dirs in manifest order. */
  def mergeSchemas(spark: SparkSession, earlier: StructType, later: StructType): StructType =
    earlier.merge(later, spark.sessionState.conf.caseSensitiveAnalysis)

  private def partitionSchemaOf(partitionCols: Seq[(String, DataType)]): StructType =
    StructType(partitionCols.map { case (n, t) => StructField(n, t) })
}
