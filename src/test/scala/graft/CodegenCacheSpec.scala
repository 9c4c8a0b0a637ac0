package graft

import graft.pipeline.{Etl1, Etl2}
import org.apache.spark.metrics.source.CodegenMetrics

/** The generated-class cache holds a whole pipeline run: `Q.Static`
  * sizes it above Spark's default of 100 entries, which one
  * `Etl1.run` + `Etl2.run` exceeds, so with the default every later run
  * recompiles the classes the LRU cache evicted. */
class CodegenCacheSpec extends SparkSpec {
  private def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("a second pipeline run compiles no generated class") {
    val root = RtaPipelineSpec.fixtureDir()
    def round(): Long = {
      val c0 = compiles()
      Etl1.run(spark, s"$root/raw.csv", s"$root/stage")
      Etl2.run(spark, s"$root/stage", s"$root/gold")
      Harness.clearState()
      compiles() - c0
    }
    round()
    val second = round()
    assert(second == 0, s"second run compiled $second classes")
  }

  test("ensureConf writes the static keys on a session built elsewhere") {
    val s = spark.newSession()
    Tables.ensureConf(s)
    Q.Static.foreach { case (k, v) => assert(s.conf.get(k) == v, k) }
  }
}
