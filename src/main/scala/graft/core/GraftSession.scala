package graft.core

import org.apache.spark.sql.SparkSession

/** SparkSession factory with scale-oriented defaults.
  *
  * Local testing runs `local[32]`; the same settings are what we would ship on
  * a real cluster: AQE on (runtime re-planning, skew-join splitting, shuffle
  * coalescing), UTC session timezone (oracle parity + determinism), and a
  * shuffle-partition count sized to the local core count rather than Spark's
  * default 200 (on a 1000-executor cluster this would instead be set to
  * 2-3x total cores, or left to AQE's coalescing with a high initial value).
  *
  * Cached plans may re-partition: Spark keeps a persisted frame's final
  * shuffle at `shufflePartitions` unless
  * `spark.sql.optimizer.canChangeCachedPlanOutputPartitioning` is on, so a
  * small persisted frame (an incremental merge batch, a Gold mart) pinned
  * one task per shuffle partition on every action over it and up to one
  * file per shuffle partition in every directory written from it. With it
  * on, AQE sizes a cached frame's output from measured bytes like any other
  * shuffle (README "Cache lifecycle" has the measured effect).
  */
object GraftSession {
  def builder(appName: String = "graft", master: String = "local[32]",
              shufflePartitions: Int = 32): SparkSession.Builder =
    SparkSession.builder()
      .appName(appName)
      .master(master)
      .withExtensions(new org.apache.spark.sql.graft.GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // let AQE coalesce the final shuffle of persisted plans too
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")

  /** The session every harness main (Bench, Verify, PlanDump, ScaleProbe)
    * runs on: [[builder]] at `local[cpus]` with `cpus` shuffle partitions,
    * plus what a long local run needs —
    *   - a fresh warehouse dir, removed when the JVM exits: the default
    *     ./spark-warehouse persists across JVMs while the in-memory catalog
    *     does not, so a catalog-backed query (q109) would find its
    *     versioned table's directory already on disk and refuse the create;
    *   - shuffle/spill scratch on /dev/shm when it has real headroom (it
    *     avoids multi-second virtio dirty-page-flush stalls but competes
    *     with the heap for RAM), else the JVM temp dir;
    *   - a 600 s network timeout with a 60 s heartbeat, so a multi-second
    *     VM stall does not kill the executor (round 1: heartbeat death ×60
    *     at the default 10 s interval / 120 s timeout). */
  def harness(appName: String, cpus: Int): SparkSession = {
    val shm = new java.io.File("/dev/shm")
    val localDir =
      if (shm.isDirectory && shm.getUsableSpace > (16L << 30)) "/dev/shm/graft-spark-local"
      else System.getProperty("java.io.tmpdir")
    val s = builder(appName, s"local[$cpus]", cpus)
      .config("spark.sql.warehouse.dir", tempWarehouse())
      .config("spark.local.dir", localDir)
      .config("spark.network.timeout", "600s")
      .config("spark.executor.heartbeatInterval", "60s")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** A fresh `graft-warehouse` temp dir, deleted with its contents when
    * the JVM exits. */
  def tempWarehouse(): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-warehouse").toFile
    sys.addShutdownHook(org.apache.commons.io.FileUtils.deleteQuietly(dir))
    dir.toString
  }

  def get(): SparkSession = {
    val s = builder().getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
