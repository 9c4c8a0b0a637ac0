package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

/** Bucketing — the co-located-join tool for 100 TB fact×fact joins.
  * A shuffle join moves BOTH tables across the network every time
  * they're joined; bucketing pays that shuffle once at write time
  * (`bucketBy(n, key)`) and every later equi-join on the key reads
  * matching buckets side by side with NO exchange. These specs pin
  * the two plan properties that make that work: bucketed scans
  * expose their partitioning, and a same-bucket-count join keeps
  * zero ShuffleExchange operators.
  */
class BucketingSpec extends SparkSpec {
  import spark.implicits._

  private def shuffles(df: org.apache.spark.sql.DataFrame): Int = {
    val plan = df.queryExecution.executedPlan
    val inner = plan.collect { case a: AdaptiveSparkPlanExec => a.executedPlan }
    (plan +: inner).map(_.collect { case s: ShuffleExchangeExec => s }.size).sum
  }

  test("bucketed fact-fact equi-join runs with zero shuffle exchanges") {
    val wh = Files.createTempDirectory("graft_bucket_wh").toString
    try {
      val left = (1L to 2000L).map(k => (k, k % 7)).toDF("k", "a")
      val right = (1L to 2000L).filter(_ % 3 == 0).map(k => (k, k % 5)).toDF("k", "b")
      left.write.mode("overwrite").option("path", s"$wh/t_left")
        .bucketBy(8, "k").sortBy("k").saveAsTable("t_left")
      right.write.mode("overwrite").option("path", s"$wh/t_right")
        .bucketBy(8, "k").sortBy("k").saveAsTable("t_right")

      // force the shuffle-join path: broadcast would hide the exchange
      Tables.withConf(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
        val l = spark.table("t_left")
        val r = spark.table("t_right")
        val joined = l.join(r, Seq("k"))
        assert(shuffles(joined) == 0,
          "bucketed join still shuffles:\n" + joined.queryExecution.executedPlan)
        assert(joined.count() == right.count().toLong)

        // the control: the same join over plain parquet shuffles both sides
        l.write.mode("overwrite").parquet(s"$wh/plain_left")
        r.write.mode("overwrite").parquet(s"$wh/plain_right")
        val plain = spark.read.parquet(s"$wh/plain_left")
          .join(spark.read.parquet(s"$wh/plain_right"), Seq("k"))
        assert(shuffles(plain) == 2, "control join should shuffle both sides")
      }
    } finally {
      spark.sql("DROP TABLE IF EXISTS t_left")
      spark.sql("DROP TABLE IF EXISTS t_right")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(wh))
    }
  }

  test("grouped aggregation on the bucket key skips its shuffle too") {
    val wh = Files.createTempDirectory("graft_bucket_wh2").toString
    try {
      (1L to 1000L).map(k => (k % 100, k)).toDF("k", "v")
        .write.mode("overwrite").option("path", s"$wh/t_agg")
        .bucketBy(8, "k").saveAsTable("t_agg")
      val agg = spark.table("t_agg").groupBy("k").agg(sum("v").as("s"))
      assert(shuffles(agg) == 0,
        "bucketed groupBy still shuffles:\n" + agg.queryExecution.executedPlan)
      assert(agg.count() == 100)
    } finally {
      spark.sql("DROP TABLE IF EXISTS t_agg")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(wh))
    }
  }
}
