package graft

import org.apache.spark.sql.CacheManagerBridge

/** Every frame a builder caches goes through [[CacheReleases]], so a
  * library caller releases it after the terminal action instead of
  * leaking one cached corpus per call. Other suites cache on this
  * shared session too, so each case compares the cached-plan and
  * persistent-RDD counts with the counts taken before its build. */
class CacheReleasesSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  /** (cached plans, persistent RDDs) on the shared session. */
  private def held: (Int, Int) = (CacheManagerBridge.numCachedEntries(spark),
    spark.sparkContext.getPersistentRDDs.size)

  /** One query per caching shape. */
  private val shapes = Seq(
    "q_lm_perplexity",      // persists the returned plan reads
    "q_ann_pq_adc",         // codegen-barrier frames
    "q_join_range",         // a builder's own persist
    "q_max_concurrency",    // GlobalRank.withRunningSum
    "q_dedup_simhash",      // ClassGuard.collapse
    "q_dedup_components",   // Components: a persist plus lazy checkpoints
    "q_stream_scd2_parity", // the SCD2 fold's eager checkpoints
    "q_star_fact")          // the pipeline twin

  test("q_lm_perplexity persists are released by CacheReleases") {
    shapes.foreach { name =>
      CacheReleases.releaseAll() // drop what earlier suites registered
      val before = held
      val df = SparkEntry.queries(name)(spark, dir)
      df.write.mode("overwrite").format("noop").save() // terminal action
      val built = held
      assert(built._1 > before._1 || built._2 > before._2,
        s"sanity: $name should have cached something ($before -> $built)")
      CacheReleases.releaseAll()
      assert(held == before,
        s"$name: releaseAll must return (plans, RDDs) to $before, built $built")
    }
  }

  test("q_cms_heavy_hitters leaves no persistent RDDs behind") {
    val before = held
    val df = SparkEntry.queries("q_cms_heavy_hitters")(spark, dir)
    df.write.mode("overwrite").format("noop").save()
    assert(held == before,
      "the builder unpersists its terms frame after its driver probes")
  }

  test("Harness.clearState drops every persist and drains the release queue") {
    CacheReleases.releaseAll()
    val before = held
    Harness.runFully(spark, "q_lm_perplexity", dir)
    assert(!CacheReleases.isEmpty, "sanity: the builder registered its frames")
    Harness.clearState()
    assert(held == before)
    assert(CacheReleases.isEmpty)
  }
}
