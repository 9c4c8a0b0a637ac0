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
    * directly. Log level ERROR: each released local checkpoint (the
    * Components rounds, the SCD2 fold) logs a harmless "cannot be
    * recomputed after unpersisting" WARN line. */
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

  /** Release every frame the last query cached: every builder caches
    * through [[CacheReleases]], so one query's cache cannot
    * GC-pressure the next. */
  def clearState(): Unit = CacheReleases.releaseAll()

  /** Execute the registered query's FULL plan and discard the rows:
    * count() would let the optimizer prune every projection it does
    * not need (a pure derivation query would time as a bare scan);
    * the noop sink materializes every output column. */
  def runFully(spark: SparkSession, name: String, dir: String): Unit =
    SparkEntry.queries(name)(spark, dir)
      .write.mode("overwrite").format("noop").save()
}
