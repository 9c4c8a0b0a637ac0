package graft


/** AQE skew-join handling — the runtime complement to manual salting
  * (`q_join_salted`). Salting rewrites the query; AQE instead splits
  * oversized shuffle partitions at execution time using the real map
  * output sizes. At 100 TB the practical stance is: leave AQE skew
  * handling ON as the safety net, salt only the joins whose skew is
  * known and stable. This spec pins that the net actually catches: a
  * 90%-one-key join, with thresholds scaled to fixture size, ends up
  * with its skewed side split (the SMJ node reports isSkewJoin).
  */
class AqeSpec extends SparkSpec {
  import spark.implicits._

  test("AQE splits the skewed partition at runtime (isSkewJoin)") {
    val confs = Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      // Q.Base (which the suite session carries) sets the
      // ADAPTIVE threshold to 64m; without disabling it too, AQE
      // converts the SMJ to broadcast at runtime and the skew-split
      // machinery under test never engages
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    Tables.withConf(spark, confs: _*) {
      // 90% of left rows share key 0; right is uniform
      val left = (1L to 40000L)
        .map(i => (if (i % 10 == 0) i % 100 else 0L, s"pad_left_$i"))
        .toDF("k", "lv")
      val right = (0L until 100L).map(k => (k, s"r_$k")).toDF("k", "rv")
      val joined = left.join(right, Seq("k"))
      // execute THIS queryExecution (count() would plan a separate
      // one and leave this adaptive plan un-finalized)
      assert(joined.collect().length == 40000)
      // string match, not collect(): the final SMJ sits inside a
      // ResultQueryStage whose plan is not a TreeNode child
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("isFinalPlan=true"), "adaptive plan never finalized")
      assert(plan.contains("SortMergeJoin(skew=true)"),
        "AQE did not mark the join skewed:\n" + plan)
      assert(plan.contains("AQEShuffleRead skewed"),
        "skewed partition was not split:\n" + plan)
    }
  }
}
