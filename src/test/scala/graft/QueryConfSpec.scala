package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

/** Per-query session conf declared on `Q.conf`: `SparkEntry.queries`
  * builds such a query on a clone of the caller's session. Pins that
  * (1) no query that declares conf changes its caller's conf, while its
  * frame runs under that conf; (2) an unfused and a fused query built
  * on one session keep their own codegen modes on two threads; and
  * (3) an unfused query's result is identical under both codegen modes,
  * so `Q.Unfused` is a pure execution-strategy choice. */
class QueryConfSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  private val dir = "/root/testdata/sf0.001"
  private val wholeStage = "spark.sql.codegen.wholeStage"
  private val policy = "spark.sql.legacy.timeParserPolicy"

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("a query's declared conf reaches its frame and never its caller") {
    val declaring = SparkEntry.registry.filter(_.conf.nonEmpty)
    assert(declaring.nonEmpty)
    Tables.withConf(spark, wholeStage -> "true", policy -> "CORRECTED") {
      declaring.foreach { q =>
        val before = spark.conf.getAll
        val df = SparkEntry.queries(q.name)(spark, dir)
        assert(spark.conf.getAll == before, s"${q.name} changed the caller's conf")
        q.conf.foreach { case (k, v) =>
          assert(df.sparkSession.conf.get(k) == v, s"${q.name}: $k")
        }
        Harness.clearState(spark)
      }
    }
  }

  test("an unfused and a fused query keep their codegen modes on two threads") {
    val names = Seq("q_star_fact", "q_fact_assembly")
    val serial = names.map { n =>
      val r = rows(SparkEntry.queries(n)(spark, dir))
      Harness.clearState(spark)
      r
    }
    // both built before either runs: building the second must not
    // change the first one's conf
    val Seq(star, fact) = names.map(SparkEntry.queries(_)(spark, dir))
    val parallel = Await.result(
      Future.sequence(Seq(star, fact).map(df => Future(rows(df)))), 10.minutes)
    def fused(df: DataFrame): Boolean =
      collectWithSubqueries(df.queryExecution.executedPlan) {
        case w: WholeStageCodegenExec => w
      }.nonEmpty
    assert(!fused(star), "q_star_fact must run without whole-stage fusion")
    assert(fused(fact), "q_fact_assembly must keep whole-stage fusion")
    assert(parallel == serial, "concurrent results must match serial ones")
    Harness.clearState(spark)
  }

  test("flagged query results are identical under both codegen modes") {
    def run(mode: String): Seq[String] = {
      val df = SparkEntry.queries("q_date_parse_multi")(spark, dir)
      df.sparkSession.conf.set(wholeStage, mode) // the query's own clone
      rows(df)
    }
    assert(run("true") == run("false"), "codegen mode must not change results")
    Harness.clearState(spark)
  }
}
