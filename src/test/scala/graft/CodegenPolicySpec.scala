package graft

/** Round-14 codegen policy: flagged queries run with whole-stage
  * fusion OFF (their fused methods blow HotSpot's 8000-bytecode JIT
  * limit — CodegenPolicy scaladoc). Pins (1) the wrapper actually sets
  * the conf per query and resets it for non-flagged queries, and
  * (2) a flagged query's RESULT is bit-identical under both codegen
  * modes, so the policy is a pure execution-strategy choice. */
class CodegenPolicySpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"
  private val key = "spark.sql.codegen.wholeStage"

  test("wrapped builder sets and resets the whole-stage conf") {
    spark.conf.set(key, "true")
    SparkEntry.queries("q_scd2_fold")(spark, dir)
    assert(spark.conf.get(key) == "false",
      "flagged query must disable whole-stage fusion")
    SparkEntry.queries("q_counts")(spark, dir)
    assert(spark.conf.get(key) == "true",
      "non-flagged query must restore the default")
    // release the lazy frames' caches (q_scd2_fold persists nothing,
    // but keep the shared session clean for other suites)
    Harness.clearState(spark)
  }

  test("flagged query results are identical under both codegen modes") {
    def rows(mode: String): Seq[String] = {
      spark.conf.set(key, mode)
      try {
        val df = graft.SparkEntry.queries("q_date_parse_multi")(spark, dir)
        spark.conf.set(key, mode) // the wrapper re-applied the policy; force the mode under test
        df.collect().map(_.toString).sorted.toSeq
      } finally spark.conf.set(key, "true")
    }
    val fused = rows("true")
    val unfused = rows("false")
    assert(fused == unfused, "codegen mode must not change results")
    Harness.clearState(spark)
  }
}
