package graft.sources

import java.util.UUID

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.ManifestRead
import org.apache.spark.sql.types.{DataType, StructField, StructType}

/** Versioned-Parquet table layout — the engine's replacement for the Delta
  * tables the reference relies on (append / overwrite / MERGE-rewrite /
  * existence probe / schema evolution; SURVEY.md §4.4, reference
  * /root/reference/README.MD:206).
  *
  * Layout:
  * {{{
  *   table/
  *     data-<uuid>/part-*.parquet     immutable data directories
  *     _v<N>                          manifest, one item per line:
  *       #p <column> <ddl type>         a partition column, in layout order
  *       #s <StructType json>           the version's data schema
  *       #b <key> <value>               a version marker
  *       data-<uuid>                    a data dir of the version
  *     _current                       pointer: the committed version number
  * }}}
  *
  * Commits are atomic by pointer swap: data dirs are written first, then the
  * manifest, then `_current` is overwritten last — a reader always resolves a
  * fully-written version. Appends are O(batch), not O(table): a new data dir
  * is added to the manifest instead of rewriting existing files (the same
  * idea as the Delta log, minimal single-writer form).
  *
  * Schema evolution (reference `mergeSchema=true`,
  * 1_Landing_to_Bronze.py:60): an append records the previous schema merged
  * with the batch's, so a batch with new columns widens the table and old
  * rows read as NULL.
  *
  * Recorded schema: every commit writes the `#s` line — the data schema
  * without partition columns, nullable, exactly what merging the data
  * dirs' footers in manifest order would give. Readers take it from there
  * and never open a footer, as Delta readers take the schema from the
  * log's `metaData` action (Armbrust et al., VLDB 2020), so a read or a
  * [[schemaOf]] runs no Spark job. A legacy manifest without the line
  * reads through the footer merge (one job), and its next commit records
  * the merged schema.
  */
class TableStore(spark: SparkSession) {
  import TableStore._

  private def fs(p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Existence probe (reference `DeltaTable.isDeltaTable`,
    * 1_Landing_to_Bronze.py:36, 2_Bronze_to_Silver.py:74). */
  def exists(table: String): Boolean = {
    val cur = new Path(table, "_current")
    fs(cur).exists(cur)
  }

  def currentVersion(table: String): Option[Long] = {
    val cur = new Path(table, "_current")
    val f = fs(cur)
    if (!f.exists(cur)) None
    else {
      val in = f.open(cur)
      try Some(new String(in.readAllBytes(), "UTF-8").trim.toLong)
      finally in.close()
    }
  }

  /** Manifest-file reads since construction — a TEST OBSERVABILITY hook:
    * the marker fast path's contract is "O(1) manifest reads on the
    * common path" ([[metaMaxLong]]), and a spec can only pin that by
    * counting, not timing. Not part of the store's public surface. */
  private[sources] val manifestReadCount =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** The lines of manifest `_v<v>` (the layout in the class doc). A `#p`
    * line's type is load-bearing: Spark's partition-value inference has no
    * boolean (an `is_current=true` dir would read back as string), so
    * [[read]] casts each recorded partition column back to its declared
    * type. */
  private def manifestLines(table: String, v: Long): Seq[String] = {
    manifestReadCount.incrementAndGet()
    val mp = new Path(table, s"_v$v")
    val f = fs(mp)
    val in = f.open(mp)
    try new String(in.readAllBytes(), "UTF-8").split("\n").toSeq
      .map(_.trim).filter(_.nonEmpty)
    finally in.close()
  }

  private def manifest(table: String, v: Long): Manifest =
    Manifest(manifestLines(table, v))

  /** The data schema `m` records, or for a legacy manifest its footer
    * merge (one Spark job). */
  private def dataSchemaOf(table: String, m: Manifest): StructType =
    m.schema.getOrElse(ManifestRead.mergedDataSchema(spark,
      m.dirs.map(d => new Path(table, d).toString), m.partitions))

  private def writeFile(p: Path, content: String): Unit = {
    val f = fs(p)
    val out = f.create(p, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
  }

  private def newDataDir(): String = s"data-${UUID.randomUUID().toString.take(8)}"

  private def writeDataDir(table: String, df: DataFrame, partitionBy: Seq[String],
                           dir: String = newDataDir()): String = {
    val w = df.write
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(new Path(table, dir).toString)
    dir
  }

  /** Next manifest number: one past the highest existing `_v*` file OR the
    * committed pointer — a crashed writer's orphan manifest (written but
    * never pointed at) is skipped over instead of blocking every later
    * commit. */
  private def nextVersion(table: String): Long = {
    val tp = new Path(table)
    val f = fs(tp)
    val existing =
      if (!f.exists(tp)) Seq.empty[Long]
      else f.listStatus(tp).toSeq.map(_.getPath.getName)
        .filter(_.matches("_v\\d+")).map(_.drop(2).toLong)
    (existing ++ currentVersion(table)).foldLeft(-1L)(math.max) + 1L
  }

  /** Write manifest `_v<N>` — partition lines, the recorded data schema,
    * `meta`'s markers, then `dirs` — and point `_current` at it. */
  private def commit(table: String, dirs: Seq[String], partitionLines: Seq[String],
                     schema: StructType, meta: Map[String, String]): Long = {
    val lines = (partitionLines :+ s"#s ${schema.json}") ++ metaLines(meta) ++ dirs
    val v = nextVersion(table)
    val mp = new Path(table, s"_v$v")
    // exclusive create = a single-writer TRIPWIRE, not a lock: two writers
    // claiming the same version used to silently overwrite each other's
    // manifest; now the loser fails loudly. Interleaved read-modify-write
    // races (both writers basing on the same parent version but claiming
    // different numbers) remain possible — the store's contract is
    // single-writer; multi-writer needs manifest CAS (e.g. a log service).
    val out =
      try fs(mp).create(mp, false)
      catch {
        case e: java.io.IOException =>
          throw new java.util.ConcurrentModificationException(
            s"TableStore: version $v at $table was already claimed - the store " +
              "is single-writer; serialize commits (" + e.getMessage + ")")
      }
    try out.write(lines.mkString("\n").getBytes("UTF-8"))
    finally out.close()
    writeFile(new Path(table, "_current"), v.toString) // pointer last = commit
    v
  }

  private def partitionMetaFor(df: DataFrame, partitionBy: Seq[String]): Seq[String] =
    partitionBy.map { c =>
      val f = df.schema.fields.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(s"partition column $c not in schema"))
      s"#p $c ${f.dataType.catalogString}"
    }

  /** Read the current committed snapshot, merging schemas across data dirs.
    * Partition columns carry their manifest-recorded types (inference
    * covers no boolean) and appear LAST in the schema, as with any
    * partitioned parquet layout.
    *
    * Partitioned tables read through [[org.apache.spark.sql.graft.ManifestRead]]:
    * built-in partition discovery rejects sibling partitioned data dirs in
    * one multi-path read ("conflicting directory structures"), and the
    * per-dir-scan union it previously forced plans O(data dirs) scans — a
    * year of daily appends would be a 365-way union. The manifest-backed
    * FileIndex plans ONE scan over every data dir with typed partition
    * values and real partition pruning (TableStoreSpec + PlanSpec assert
    * both). */
  def read(table: String): DataFrame =
    readVersion(table, currentVersion(table).getOrElse(
      throw new IllegalStateException(s"no committed version at $table")))

  /** Time travel (reference Delta `versionAsOf`, the Databricks-side
    * history the pipeline's MERGE targets keep implicitly): read the
    * snapshot a past commit produced. Every commit leaves its `_v<N>`
    * manifest on disk and data dirs are immutable, so any version whose
    * data dirs have not been [[vacuum]]ed is still exactly readable.
    * A vacuumed version fails loudly (listing the missing dirs) rather
    * than returning a silently partial table. */
  def readVersion(table: String, version: Long): DataFrame = {
    val m = readable(table, version)
    val dirs = m.dirs.map(d => new Path(table, d).toString)
    val schema = dataSchemaOf(table, m)
    if (m.partitions.isEmpty) spark.read.schema(schema).parquet(dirs: _*)
    else ManifestRead.read(spark, dirs, m.partitions, schema)
  }

  /** `version`'s manifest, read once, after checking that it exists and
    * that none of its data dirs was vacuumed. */
  private def readable(table: String, version: Long): Manifest = {
    val mp = new Path(table, s"_v$version")
    if (!fs(mp).exists(mp))
      throw new IllegalStateException(
        s"no manifest for version $version at $table " +
          s"(available: ${versions(table).mkString(", ")})")
    val m = manifest(table, version)
    val missing = m.dirs.filter { d =>
      val p = new Path(table, d); !fs(p).exists(p)
    }
    if (missing.nonEmpty)
      throw new IllegalStateException(
        s"version $version at $table is no longer readable - data " +
          s"dir(s) ${missing.mkString(", ")} were vacuumed")
    m
  }

  /** Roll the table back to a past snapshot (reference Delta `RESTORE`):
    * `version`'s manifest is re-committed as a NEW version, so history —
    * including the rolled-back commits — is preserved and the restore is
    * itself time-travel-able. Data dirs are immutable and shared between
    * manifests; nothing is copied. Fails like [[readVersion]] if the
    * target snapshot was vacuumed. */
  def restore(table: String, version: Long): Long = {
    val m = readable(table, version)
    commit(table, m.dirs, m.partitionLines, dataSchemaOf(table, m), Map.empty)
  }

  /** Row-level diff between two committed snapshots (the Delta change-
    * data-feed question answered from plain snapshots): rows in `to` but
    * not `from` marked `insert`, rows in `from` but not `to` marked
    * `delete`, multiset semantics (`exceptAll` — a row appearing twice in
    * `to` and once in `from` diffs as one insert). An update shows as
    * delete + insert of the two row images. Cost is one hash-aggregate
    * shuffle per side — no driver collection, scales with the table.
    * Both versions must share a schema (diff across a schema-evolution
    * boundary is ambiguous — fail loudly instead of NULL-padding). */
  def versionDiff(table: String, from: Long, to: Long): DataFrame = {
    val a = readVersion(table, from)
    val b = readVersion(table, to)
    require(a.schema == b.schema,
      s"versionDiff: versions $from and $to of $table have different " +
        s"schemas (${a.schema.simpleString} vs ${b.schema.simpleString}) - " +
        "diff within one schema epoch")
    import org.apache.spark.sql.functions.lit
    b.exceptAll(a).withColumn("change", lit("insert"))
      .unionByName(a.exceptAll(b).withColumn("change", lit("delete")))
  }

  /** KEY-AWARE change feed between two versions — [[versionDiff]]'s
    * row-set diff upgraded to Delta-CDF semantics: with a primary key,
    * a row that changed VALUE becomes an `update_preimage` /
    * `update_postimage` pair instead of an unrelated delete+insert, so a
    * downstream consumer (an incremental mart, a cache invalidator, a
    * reverse-ETL sink) can apply the delta keyed. Classification:
    * key only in `to` → insert; key only in `from` → delete; key in both
    * with any payload column differing (null-safely) → the pre/post
    * pair; unchanged rows are dropped. Keys must be unique per version
    * (the merge-target invariant [[graft.etl.Scd2]] maintains).
    *
    * Scale shape: ONE key-shuffled full-outer join of the two version
    * scans (persisted — all four branches consume it); everything else
    * is scan-stage predicates. History size is irrelevant: only the two
    * compared versions are read. */
  def changeFeed(table: String, from: Long, to: Long,
                 keyCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    require(keyCols.nonEmpty, "changeFeed: need at least one key column")
    val a = readVersion(table, from)
    val b = readVersion(table, to)
    require(a.schema == b.schema,
      s"changeFeed: versions $from and $to of $table have different " +
        s"schemas (${a.schema.simpleString} vs ${b.schema.simpleString}) - " +
        "diff within one schema epoch")
    val cols = a.columns.toSeq
    require(keyCols.forall(cols.contains),
      s"changeFeed: key columns ${keyCols.mkString(",")} missing from schema")
    val payload = cols.filterNot(keyCols.contains)
    val aP = a.select(cols.map(c => col(c).as(s"__a_$c")) :+
      lit(1).as("__ina"): _*)
    val bP = b.select(cols.map(c => col(c).as(s"__b_$c")) :+
      lit(1).as("__inb"): _*)
    val keyEq = keyCols.map(k => col(s"__a_$k") <=> col(s"__b_$k"))
      .reduce(_ && _)
    val j = graft.core.CacheRegistry.persist(aP.join(bP, keyEq, "full_outer"))
    def side(pfx: String): Seq[org.apache.spark.sql.Column] =
      cols.map(c => col(s"__${pfx}_$c").as(c))
    val ins = j.where(col("__ina").isNull)
      .select(side("b"): _*).withColumn("change", lit("insert"))
    val del = j.where(col("__inb").isNull)
      .select(side("a"): _*).withColumn("change", lit("delete"))
    val differs =
      if (payload.isEmpty) lit(false)
      else payload.map(c => !(col(s"__a_$c") <=> col(s"__b_$c")))
        .reduce(_ || _)
    val upd = j.where(col("__ina").isNotNull && col("__inb").isNotNull &&
      differs)
    ins
      .unionByName(del)
      .unionByName(upd.select(side("a"): _*)
        .withColumn("change", lit("update_preimage")))
      .unionByName(upd.select(side("b"): _*)
        .withColumn("change", lit("update_postimage")))
  }

  /** Version numbers with a manifest on disk, ascending, capped at the
    * committed pointer. A crashed writer's orphan manifest below the
    * pointer can appear here — [[readVersion]] still reads it coherently
    * if its data dirs exist (data is written before the manifest), and
    * fails loudly if they never landed. */
  def versions(table: String): Seq[Long] = {
    val tp = new Path(table)
    val f = fs(tp)
    val cur = currentVersion(table)
    if (!f.exists(tp) || cur.isEmpty) Seq.empty
    else f.listStatus(tp).toSeq.map(_.getPath.getName)
      .filter(_.matches("_v\\d+")).map(_.drop(2).toLong)
      .filter(_ <= cur.get).sorted
  }

  /** Atomic overwrite: the new state becomes visible in one pointer swap
    * (reference Delta `mode("overwrite")`, 3_Silver_to_Gold.py:60).
    * `partitionBy` lays the data out hive-style (e.g. Silver by
    * `is_current` so the current-slice scan is partition pruning;
    * Bronze by ingest date, reference README.MD:120). It is also the
    * MERGE-rewrite commit (reference Delta MERGE,
    * 2_Bronze_to_Silver.py:127-133): callers compute the complete next
    * state (e.g. [[graft.etl.Scd2.applyMerge]]) and swap it in. */
  def overwrite(table: String, df: DataFrame, partitionBy: Seq[String] = Nil): Long =
    overwriteWithMeta(table, df, Map.empty, partitionBy)

  /** [[overwrite]] carrying VERSION METADATA: `meta` commits in the same
    * manifest write as the data, so a marker that must advance WITH the
    * data (a streaming sink's committed-batch id) cannot be lost to a
    * crash between a data commit and a separate marker write — the
    * transactional-write pattern Delta's `txnAppId`/`txnVersion` serves. */
  def overwriteWithMeta(table: String, df: DataFrame, meta: Map[String, String],
                        partitionBy: Seq[String] = Nil): Long = {
    val partitionLines = partitionMetaFor(df, partitionBy)
    commit(table, Seq(writeDataDir(table, df, partitionBy)), partitionLines,
      ManifestRead.dataSchema(df.schema, partitionBy), meta)
  }

  /** Append with schema evolution: adds a data dir to the manifest without
    * touching existing files (reference Delta append + `mergeSchema`,
    * 1_Landing_to_Bronze.py:59-67). The table's existing partition layout
    * carries forward; pass `partitionBy` on first append to establish it. */
  def append(table: String, df: DataFrame, partitionBy: Seq[String] = Nil): Long =
    appendWithMeta(table, df, Map.empty, partitionBy)

  /** [[append]] carrying VERSION METADATA (see [[overwriteWithMeta]]).
    * Partition layout carries forward from the previous version; `meta`
    * does NOT — each commit states its own markers, so a stale marker
    * cannot masquerade as current. */
  def appendWithMeta(table: String, df: DataFrame, meta: Map[String, String],
                     partitionBy: Seq[String] = Nil): Long = {
    val next = nextAppend(table, df, partitionBy)
    commit(table, next.dirs :+ writeDataDir(table, df, next.partitionCols),
      next.partitionLines, next.schema, meta)
  }

  /** [[append]] that commits only a batch with rows: the rows are counted
    * during the write itself ([[graft.core.Observed]]), and a batch of 0
    * rows leaves no new version and no data dir behind. Returns the rows
    * appended. One job, where probing the batch for emptiness first would
    * run it twice. */
  def appendNonEmpty(table: String, df: DataFrame, partitionBy: Seq[String] = Nil): Long = {
    val next = nextAppend(table, df, partitionBy)
    val dir = newDataDir()
    val rows = graft.core.Observed.countDuring(df)(
      writeDataDir(table, _, next.partitionCols, dir))
    if (rows > 0) commit(table, next.dirs :+ dir, next.partitionLines, next.schema, Map.empty)
    else {
      val p = new Path(table, dir)
      fs(p).delete(p, true)
    }
    rows
  }

  /** The current data dirs, the partition layout (carried forward, or
    * established by `partitionBy` on a first append) and the recorded
    * schema merged with `df`'s. Merging before the data dir is written
    * lets a type conflict fail without leaving an orphan dir. */
  private def nextAppend(table: String, df: DataFrame,
                         partitionBy: Seq[String]): NextAppend = {
    val prev = currentVersion(table).map(manifest(table, _))
    val partitionLines = prev.map(_.partitionLines).filter(_.nonEmpty)
      .getOrElse(partitionMetaFor(df, partitionBy))
    val added = ManifestRead.dataSchema(df.schema, columnsOf(partitionLines))
    val schema = prev.fold(added)(m =>
      ManifestRead.mergeSchemas(spark, dataSchemaOf(table, m), added))
    NextAppend(prev.fold(Seq.empty[String])(_.dirs), partitionLines, schema)
  }

  /** Metadata-only commit: re-commit the CURRENT manifest with the
    * current version's markers MERGED with `meta` (`meta` wins on key
    * collision) — the same data dirs, no bytes written or moved. The
    * remedy when a maintenance commit ([[compact]], [[restore]], a
    * manual append) dropped a marker a reader gates on (markers are not
    * inherited by design): stamping is one tiny manifest write, where
    * re-deriving the marker's consequences (e.g. a streaming sink's
    * sibling-index heal scan) can cost a full table scan per trigger.
    * Merging (rather than replacing) means stamping one marker cannot
    * silently drop an unrelated marker the same version carries — e.g.
    * a calibration marker beside a committed-batch marker. */
  def stampMeta(table: String, meta: Map[String, String]): Long = {
    val v = currentVersion(table).getOrElse(throw new IllegalStateException(
      s"stampMeta: no committed version at $table"))
    val m = manifest(table, v)
    commit(table, m.dirs, m.partitionLines, dataSchemaOf(table, m), metaOf(m.lines) ++ meta)
  }

  private def metaLines(meta: Map[String, String]): Seq[String] =
    meta.toSeq.sortBy(_._1).map { case (k, v) =>
      // the value must survive the manifest's line-trim round trip: an
      // empty or whitespace-padded value would write a line that reads
      // back with fewer tokens and brick every later versionMeta read
      require(k.nonEmpty && !k.exists(c => c == ' ' || c == '\n') &&
        v.nonEmpty && v.trim == v && !v.exists(c => c == '\n'),
        s"version meta: key must be space/newline-free and value " +
          s"non-empty, untrimmed-whitespace-free and newline-free, " +
          s"got '$k' -> '$v'")
      s"#b $k $v"
    }

  private def metaOf(lines: Seq[String]): Map[String, String] =
    lines.filter(_.startsWith("#b ")).flatMap { l =>
      // defensive parse: a malformed/legacy line (missing value) is
      // skipped rather than bricking every read of the table
      l.split(" ", 3) match {
        case Array(_, k, value) => Some(k -> value)
        case _ => None
      }
    }.toMap

  /** The CURRENT version's metadata markers (`#b` manifest lines) —
    * empty for a table without one, or whose latest commit carried none.
    * Markers are NOT inherited across commits: a [[compact]]/[[restore]]/
    * manual append states its own (usually empty) markers. */
  def versionMeta(table: String): Map[String, String] =
    currentVersion(table) match {
      case None => Map.empty
      case Some(v) => metaOf(manifestLines(table, v))
    }

  /** The metadata markers a SPECIFIC committed version carries — the
    * history read behind latest-marker recovery: a maintenance commit
    * ([[compact]], [[restore]]) states no markers, but the version
    * before it still does, and for markers describing table CONTENT a
    * compact did not change (an index sibling's calibration), the
    * latest historical value is the correct one. */
  def versionMetaAt(table: String, version: Long): Map[String, String] =
    metaOf(manifestLines(table, version))

  /** Maximum LONG value of marker `key` across the table's manifest
    * history — the replay-safe read for MONOTONE markers like a
    * streaming sink's `committedBatch`: [[versionMeta]] sees only the
    * latest commit, so an interleaved [[compact]] (or any commit that
    * doesn't restate the marker) would silently reset it to "never" and
    * a redelivered micro-batch would re-append.
    *
    * FAST PATH (VERDICT r10 #2): when the CURRENT version carries the
    * key, its value IS the answer — one manifest read, O(1) however
    * long the history. This leans on the monotone-writer contract the
    * marker class is defined by (every data commit restates a
    * non-decreasing value; [[graft.streaming.EventStream]]'s writers
    * all do): a streaming table at 10⁵ triggers would otherwise pay
    * 10⁵ tiny driver-side manifest reads PER TRIGGER — O(T²) over the
    * stream's lifetime. Commits that cannot vouch for the marker
    * ([[compact]], [[restore]], a manual append) state no markers at
    * all, so they fall through to the history scan rather than
    * answering wrongly. The scan also folds in [[vacuum]]'s
    * folded-marker sidecar, so the max survives manifest retention. */
  def metaMaxLong(table: String, key: String): Option[Long] = {
    val parse = (v: String) => scala.util.Try(v.trim.toLong).toOption
    versionMeta(table).get(key).flatMap(parse) match {
      case fast @ Some(_) => fast
      case None =>
        val hits = versions(table).flatMap(v =>
          metaOf(manifestLines(table, v)).get(key)).flatMap(parse) ++
          foldedMeta(table).get(key)
        if (hits.isEmpty) None else Some(hits.max)
    }
  }

  private def foldedMetaPath(table: String) = new Path(table, "_meta_folded")
  private def foldedMetaTmpPath(table: String) = new Path(table, "_meta_folded.tmp")

  /** Monotone markers preserved from manifests [[vacuum]] deleted —
    * `key value` lines, max-long per key. Recovery rule: the final file
    * wins; a crash between [[vacuum]]'s delete and rename leaves only
    * the tmp file, whose content is complete (written fully before the
    * final was touched), so it is read as the fallback. */
  private def foldedMeta(table: String): Map[String, Long] = {
    val finalP = foldedMetaPath(table)
    val tmpP = foldedMetaTmpPath(table)
    val f = fs(finalP)
    val p = if (f.exists(finalP)) Some(finalP)
            else if (f.exists(tmpP)) Some(tmpP) else None
    p.map { path =>
      val in = f.open(path)
      val lines =
        try new String(in.readAllBytes(), "UTF-8").split("\n").toSeq
        finally in.close()
      lines.map(_.trim).filter(_.nonEmpty).flatMap { l =>
        l.split(" ", 2) match {
          case Array(k, v) => scala.util.Try(v.trim.toLong).toOption.map(k -> _)
          case _ => None
        }
      }.toMap
    }.getOrElse(Map.empty)
  }

  /** Current committed schema (used to pin CSV re-reads,
    * 1_Landing_to_Bronze.py:41-42), as [[read]] would show it: the
    * recorded data schema, then the partition columns. Answered from the
    * manifest alone — no file listing, no Spark job — except for a legacy
    * manifest, which is read. */
  def schemaOf(table: String): StructType = {
    val m = manifest(table, currentVersion(table).getOrElse(
      throw new IllegalStateException(s"no committed version at $table")))
    m.schema match {
      case Some(data) =>
        StructType(data.fields ++ m.partitions.map { case (n, t) => StructField(n, t) })
      case None => read(table).schema
    }
  }

  /** Rewrite the table's accumulated data dirs as ONE dir and commit —
    * the small-files remedy. Every append adds a data dir (and, under a
    * date-partitioned layout, at least one file per partition per run), so
    * a year of incremental runs leaves hundreds of dirs whose per-file
    * open/footer costs start to dominate scans; compaction folds them into
    * a single dir of full-size parquet files while keeping the partition
    * layout. The swap is the same atomic pointer commit as any write —
    * readers see either the old layout or the new one; old dirs stay on
    * disk for in-flight readers until [[vacuum]].
    *
    * Run it when `manifestDirs` grows past a handful (a scheduler-driven
    * maintenance job at scale, exactly like Delta/Iceberg OPTIMIZE). */
  def compact(table: String): Long = {
    val v = currentVersion(table).getOrElse(
      throw new IllegalStateException(s"no committed version at $table"))
    overwrite(table, readVersion(table, v), manifest(table, v).partitionCols)
  }

  /** Number of live data dirs in the current manifest — the compaction
    * trigger signal. */
  def manifestDirs(table: String): Int =
    currentVersion(table).map(v => manifest(table, v).dirs.size).getOrElse(0)

  /** Drop data dirs not referenced by any of the newest `keepVersions`
    * committed manifests (Delta `VACUUM`'s retention window, counted in
    * versions instead of hours — deterministic for tests and replays).
    * The default keeps only the current snapshot; pass more to retain a
    * [[readVersion]]/[[restore]] horizon. An out-of-window version is
    * gone from [[versions]] and fails LOUDLY on read — never partially.
    *
    * MANIFEST FOLDING (VERDICT r10 task 4): with `foldManifests` (the
    * default), manifests below the retention window are deleted too —
    * a high-frequency streaming table commits up to 3 manifest versions
    * per trigger (data + index siblings), so "manifests are never
    * deleted" made [[versions]] listings and time-travel metadata grow
    * forever even after their data dirs were reclaimed. Monotone LONG
    * markers from folded manifests are preserved in the `_meta_folded`
    * sidecar (max per key, merged with any prior sidecar) so
    * [[metaMaxLong]]'s replay guarantee survives retention; non-long
    * marker values fold away with their manifests (the monotone-long
    * class is exactly what the history-max read serves). The sidecar
    * swap is crash-safe: content is fully written to `.tmp` first, and
    * folded manifests are deleted only after the rename — at every
    * crash point either the old sidecar + the manifests, the complete
    * tmp, or the complete final file carries the folded maxes.
    * Pass `foldManifests = false` for the old keep-all-manifests
    * behavior (a forensic log). */
  def vacuum(table: String, keepVersions: Int = 1,
             foldManifests: Boolean = true): Unit = {
    require(keepVersions >= 1,
      s"vacuum: need keepVersions >= 1, got $keepVersions")
    val tp = new Path(table)
    val f = fs(tp)
    currentVersion(table).foreach { _ =>
      val vs = versions(table)
      val live = vs.takeRight(keepVersions)
        .flatMap(v => manifest(table, v).dirs).toSet
      f.listStatus(tp).foreach { st =>
        val n = st.getPath.getName
        if (n.startsWith("data-") && !live.contains(n))
          f.delete(st.getPath, true)
      }
      val folded = vs.dropRight(keepVersions)
      if (foldManifests && folded.nonEmpty) {
        val foldedMax: Map[String, Long] = folded
          .flatMap(v => metaOf(manifestLines(table, v)).toSeq)
          .flatMap { case (k, v) =>
            scala.util.Try(v.trim.toLong).toOption.map(k -> _)
          }
          .groupBy(_._1).map { case (k, kvs) => k -> kvs.map(_._2).max }
        val merged = (foldedMeta(table).toSeq ++ foldedMax.toSeq)
          .groupBy(_._1).map { case (k, kvs) => k -> kvs.map(_._2).max }
        if (merged.nonEmpty) {
          val tmpP = foldedMetaTmpPath(table)
          val finalP = foldedMetaPath(table)
          writeFile(tmpP, merged.toSeq.sortBy(_._1)
            .map { case (k, v) => s"$k $v" }.mkString("\n"))
          f.delete(finalP, false)
          if (!f.rename(tmpP, finalP))
            throw new IllegalStateException(
              s"vacuum: could not swap folded-marker sidecar at $table")
        }
        folded.foreach { v =>
          f.delete(new Path(table, s"_v$v"), false)
        }
      }
    }
  }
}

private object TableStore {
  /** One manifest, parsed from a single read of its file. */
  final case class Manifest(lines: Seq[String]) {
    val dirs: Seq[String] = lines.filterNot(_.startsWith("#"))
    val partitionLines: Seq[String] = lines.filter(_.startsWith("#p "))
    def partitionCols: Seq[String] = columnsOf(partitionLines)
    def partitions: Seq[(String, DataType)] = partitionLines.map { l =>
      val Array(_, name, ddl) = l.split(" ", 3)
      name -> DataType.fromDDL(ddl)
    }
    /** The recorded data schema; None for a legacy manifest. */
    lazy val schema: Option[StructType] = lines.collectFirst {
      case l if l.startsWith("#s ") => DataType.fromJson(l.drop(3)).asInstanceOf[StructType]
    }
  }

  def columnsOf(partitionLines: Seq[String]): Seq[String] =
    partitionLines.map(_.split(" ", 3)(1))

  /** What an append commits besides its new data dir. */
  final case class NextAppend(dirs: Seq[String], partitionLines: Seq[String],
                              schema: StructType) {
    def partitionCols: Seq[String] = columnsOf(partitionLines)
  }
}
