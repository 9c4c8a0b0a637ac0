package graft

import org.apache.spark.sql.SparkSession

/** The one place a local session is built and cleaned: Bench, Verify,
  * the spec suite and the dev tools under `src/test/scala/graft/dev`
  * all go through it, so the confs they measure and verify under
  * cannot drift apart. */
object Harness {
  /** Local session on `cpus` threads (one shuffle partition per
    * thread), under [[Q.Base]] with the native functions registered,
    * AQE on, no UI; so a query without its own conf builds on it
    * directly. Log level ERROR: [[clearState]]'s blanket unpersist of
    * the lazy localCheckpoint RDDs (Components) emits thousands of
    * harmless "cannot be recomputed after unpersisting" WARN lines per
    * run. */
  def session(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config(Q.Base)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftExtensions.register(spark)
    spark
  }

  /** Drop every cached frame and persisted RDD, then drain the
    * [[CacheReleases]] queue (its frames are already unpersisted by
    * then; draining drops the references). Several dedup/resolution
    * builders persist their self-joined input, and one query's cache
    * must not GC-pressure the next. */
  def clearState(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    CacheReleases.releaseAll()
  }

  /** Execute the registered query's FULL plan and discard the rows:
    * count() would let the optimizer prune every projection it does
    * not need (a pure derivation query would time as a bare scan);
    * the noop sink materializes every output column. */
  def runFully(spark: SparkSession, name: String, dir: String): Unit =
    SparkEntry.queries(name)(spark, dir)
      .write.mode("overwrite").format("noop").save()
}
