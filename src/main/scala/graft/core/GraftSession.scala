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

  def get(): SparkSession = {
    val s = builder().getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
