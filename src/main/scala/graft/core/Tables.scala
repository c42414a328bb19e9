package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
import org.apache.spark.sql.graft.ManifestRead
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType}

/** Loaders for the benchmark star schema (TPC-H-ish parquet tables).
  *
  * Each read takes its schema from one parquet footer, read on the driver
  * ([[ManifestRead.footerSchema]]), and hands it to `spark.read.schema(..)
  * .parquet`, so loading a table runs no Spark job and a query build that
  * only reads tables runs none either. Catalyst predicate pushdown / column
  * pruning still reach the scan — callers should filter/select on the
  * result and let the optimizer prune (verified via `.explain`:
  * PushedFilters + ReadSchema shrink accordingly).
  */
object Tables {
  val all: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    if (name == "events") events(spark, path)(spark.read.schema(_).parquet(path))
    else spark.read.schema(ManifestRead.footerSchema(spark, path)).parquet(path)
  }

  /** The `events` table at `path`, read by `read` from its footer schema,
    * with `ts` normalized to a session-tz timestamp. events.ts has shipped
    * as parquet TIMESTAMP(NANOS) in some data drops and plain
    * TIMESTAMP(MICROS) in others, so normalize from whatever the file
    * actually holds:
    *  - NANOS: the vectorized reader rejects it; read as a nanos-since-epoch
    *    long and truncate to micros (the generator emits no sub-microsecond
    *    precision, so this is lossless);
    *  - MICROS with isAdjustedToUTC=false: arrives as TIMESTAMP_NTZ; cast to
    *    session-tz timestamp (sessions here pin UTC) so literal comparisons
    *    and watermark arithmetic type-check;
    *  - MICROS adjusted: already TimestampType, pass through.
    * Shared by the batch read and its streaming twin. */
  private[graft] def events(spark: SparkSession, path: String)(
      read: StructType => DataFrame): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = ManifestRead.footerSchema(spark, path)
    val raw = read(schema)
    schema("ts").dataType match {
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }

  /** [[table]], rebalanced to the session's parallelism when the scan
    * yields fewer partitions. A small corpus arriving as one parquet file
    * is ONE scan partition, so every downstream CPU-heavy kernel pass
    * (MinHash signatures, language-ID, quality scoring) would run on one
    * core while the other 31 idle; the round-robin shuffle of a sub-
    * parallelism input is trivially cheap next to those kernels. A
    * corpus-scale scan (≥ parallelism partitions — the 100 TB case)
    * passes through untouched: NO shuffle is ever added to a big input. */
  def tableRebalanced(spark: SparkSession, dir: String, name: String): DataFrame = {
    val t = table(spark, dir, name)
    val p = spark.sparkContext.defaultParallelism
    if (t.rdd.getNumPartitions < p) t.repartition(p) else t
  }
}
