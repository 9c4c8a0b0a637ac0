package graft

/** Round-14 persist hygiene (VERDICT r13 item 8): builders that
  * persist frames consumed by their RETURNED lazy plan register them
  * in CacheReleases, so a library caller can release them after the
  * terminal action instead of leaking one cached corpus per call. */
class CacheReleasesSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  private def clearAll(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
  }

  test("q_lm_perplexity persists are released by CacheReleases") {
    // q_ann_pq_adc: its codegen-barrier frames share the one registry
    Seq("q_lm_perplexity", "q_ann_pq_adc").foreach { name =>
      clearAll() // other suites share this session; start from zero
      CacheReleases.releaseAll()
      val df = SparkEntry.queries(name)(spark, dir)
      df.write.mode("overwrite").format("noop").save() // terminal action
      assert(spark.sparkContext.getPersistentRDDs.nonEmpty,
        s"sanity: $name should have persisted its shared frames")
      CacheReleases.releaseAll()
      assert(spark.sparkContext.getPersistentRDDs.isEmpty,
        s"$name: releaseAll must drop every registered persist")
      assert(spark.sharedState.cacheManager.isEmpty,
        s"$name: releaseAll must leave no cached data")
    }
  }

  test("q_cms_heavy_hitters leaves no persistent RDDs behind") {
    clearAll()
    val df = SparkEntry.queries("q_cms_heavy_hitters")(spark, dir)
    df.write.mode("overwrite").format("noop").save()
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      "the builder unpersists its terms frame after its driver probes")
  }

  test("Harness.clearState drops every persist and drains the release queue") {
    clearAll()
    Harness.runFully(spark, "q_lm_perplexity", dir)
    assert(!CacheReleases.isEmpty, "sanity: the builder registered its frames")
    Harness.clearState(spark)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    assert(CacheReleases.isEmpty)
  }
}
