package graft

import org.apache.spark.sql.graft.JobCount

import graft.core.CacheRegistry

/** Driver-contract smoke: `entry` returns rows at sf0.001 (the driver's t1
  * gate), no two query records share a name, and the maintained-artifact
  * plan names exactly the queries that reach each artifact. */
class SparkEntrySpec extends SparkSpec {

  test("entry returns rows on sf0.001 (driver smoke contract)") {
    val df = SparkEntry.entry(spark)
    df.count() should be > 0L
  }

  // a record pairs each build with its oracle, so the derived maps agree by
  // construction; a repeated name would still drop a query from them
  test("query names are unique across the family files") {
    val names = SparkEntry.registry.map(_.name)
    names.diff(names.distinct) shouldBe empty
  }

  test("a record builds its oracle text only when asked for it") {
    var built = 0
    val q = graft.queries.Query("q_probe", (s, _) => s.emptyDataFrame,
      { built += 1; "SELECT 1" })
    q.build(spark, sf0001)
    built shouldBe 0
    q.oracle shouldBe "SELECT 1"
    built shouldBe 1
  }

  test("warmCachesFor warms only consumed artifacts, and release is by last consumer") {
    SparkEntry.clearCaches(spark)
    // a query family with no maintained artifacts warms nothing
    SparkEntry.warmCachesFor(spark, sf0001,
      Seq("q01_pricing_summary", "q61_histogram")) shouldBe empty
    // the pair-index family warms exactly its closure
    val warmed = SparkEntry.warmCachesFor(spark, sf0001,
      Seq("q22_dedup_minhash_lsh")).map(_._1)
    warmed shouldBe Seq("lsh_pairs")
    val before = spark.sparkContext.getPersistentRDDs.size
    before should be >= 1
    // q22 still pending: release keeps the frame
    SparkEntry.releaseSpentCaches(spark, sf0001, Seq("q22_dedup_minhash_lsh"))
    spark.sparkContext.getPersistentRDDs.size shouldBe before
    // last consumer done: release drops it
    SparkEntry.releaseSpentCaches(spark, sf0001, Seq("q01_pricing_summary"))
    spark.sparkContext.getPersistentRDDs.size should be < before
    SparkEntry.clearCaches(spark)
  }

  /** One pass over every registered query at sf0.001, starting from
    * cleared caches: each query's failure, if any, the artifact keys its
    * build and count reached, and the Spark jobs its build alone ran.
    * Shared by the specs below so the suite builds the queries once. */
  private lazy val pass: Seq[(String, Option[String], Set[String], Int)] = {
    SparkEntry.clearCaches(spark)
    val runs = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val ((failure, buildJobs), reached) = CacheRegistry.recording {
        try {
          val (df, jobs) = JobCount.during(spark)(fn(spark, sf0001))
          (if (df.count() > 0) None else Some(s"$name: 0 rows"), jobs)
        } catch { case e: Exception => (Some(s"$name: ${e.getMessage}"), 0) }
      }
      (name, failure, reached, buildJobs)
    }
    SparkEntry.clearCaches(spark)
    runs
  }

  test("all queries run and return rows at sf0.001") {
    pass.flatMap(_._2) shouldBe empty
  }

  // a build should be lazy: list each build that still runs a job (no
  // bound is asserted yet)
  test("build-job census: the queries whose build runs Spark jobs") {
    val eager = pass.collect { case (name, _, _, jobs) if jobs > 0 => name -> jobs }
    eager.foreach { case (name, jobs) => info(s"$name: $jobs build jobs") }
    info(s"${eager.size} of ${pass.size} builds run jobs, ${eager.map(_._2).sum} jobs in all")
  }

  test("each artifact's declared consumers are exactly the queries that reach it") {
    val declared = SparkEntry.artifacts.map { case (key, consumers, _) => key -> consumers }.toMap
    val reachedBy = pass.flatMap { case (name, _, keys, _) => keys.map(_ -> name) }
      .groupMap(_._1)(_._2).view.mapValues(_.toSet).toMap
    (reachedBy.keySet -- declared.keySet) shouldBe empty
    val mismatches = declared.toSeq.sortBy(_._1).flatMap { case (key, consumers) =>
      val reached = reachedBy.getOrElse(key, Set.empty)
      (reached -- consumers).toSeq.sorted.map(q => s"$key: undeclared consumer $q") ++
        (consumers -- reached).toSeq.sorted.map(q => s"$key: declared $q never reaches it")
    }
    mismatches shouldBe empty
  }
}
