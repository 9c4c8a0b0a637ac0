package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

/** Session conf: every query runs under `Q.Base` plus its declared
  * `Q.conf`, and `SparkEntry.queries` builds on a clone of the caller's
  * session where that does not hold. Pins that (1) no query changes a
  * default-conf caller's conf or functions, while its frame runs under
  * `Q.Base ++ q.conf` and returns the suite session's rows; (2) an
  * unfused and a fused query built on one session keep their own
  * codegen modes on two threads; and (3) an unfused query's result is
  * identical under both codegen modes, so `Q.Unfused` is a pure
  * execution-strategy choice. */
class QueryConfSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  private val dir = "/root/testdata/sf0.001"
  private val wholeStage = "spark.sql.codegen.wholeStage"
  private val policy = "spark.sql.legacy.timeParserPolicy"

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** A library caller's session: Spark's default ANSI on, none of the
    * engine's functions, and two declared keys preset to values no
    * query declares. */
  private def defaultCaller(): SparkSession = {
    val s = spark.newSession()
    Seq("spark.sql.ansi.enabled" -> "true", wholeStage -> "true", policy -> "CORRECTED")
      .foreach { case (k, v) => s.conf.set(k, v) }
    s
  }

  private def graftFunctions(s: SparkSession): Seq[String] =
    s.sessionState.functionRegistry.listFunction().map(_.funcName)
      .filter(_.startsWith("graft_"))

  /** Build `name` on `caller`, asserting the caller is left as it was
    * and the frame carries `Q.Base ++ q.conf`. */
  private def buildOn(caller: SparkSession, name: String): DataFrame = {
    val q = SparkEntry.registry.find(_.name == name).get
    val before = caller.conf.getAll
    val df = SparkEntry.queries(name)(caller, dir)
    assert(caller.conf.getAll == before, s"$name changed the caller's conf")
    assert(graftFunctions(caller).isEmpty, s"$name registered functions on the caller")
    (Q.Base ++ q.conf).foreach { case (k, v) =>
      assert(df.sparkSession.conf.get(k) == v, s"$name: $k")
    }
    df
  }

  test("a query's declared conf reaches its frame and never its caller") {
    val declaring = SparkEntry.registry.filter(_.conf.nonEmpty)
    assert(declaring.nonEmpty)
    val caller = defaultCaller()
    declaring.foreach { q =>
      buildOn(caller, q.name)
      Harness.clearState()
    }
  }

  test("a conf-free query runs under Q.Base on a default-conf caller, which it leaves as it was") {
    // the suite session holds the base, so it builds without a clone
    assert(SparkEntry.queries("q_cube_agg")(spark, dir).sparkSession eq spark)
    val caller = defaultCaller()
    assert(graftFunctions(caller).isEmpty)
    // the cheapest build of each *Queries object that has a conf-free
    // query (every StarQueries and StreamQueries query declares conf)
    val cheapest = Seq("q_topk_global", "q_union_allow_missing", "q_text_tokens",
      "q_vec_quantize", "q_cube_agg", "q_array_pos", "q_triangle_count",
      "q_hll_rollup", "q_k_anonymity", "q_fuzzy_jaro")
    cheapest.foreach { n =>
      assert(SparkEntry.registry.exists(q => q.name == n && q.conf.isEmpty), n)
      buildOn(caller, n)
      Harness.clearState()
    }
    // sizeOfNull, nanosAsLong and a graft_* function, on the clone
    Seq("q_jsonl_scan", "q_events_window", "q_vec_quantize").foreach { n =>
      assert(rows(buildOn(caller, n)) == rows(SparkEntry.queries(n)(spark, dir)), n)
      Harness.clearState()
    }
  }

  test("an unfused and a fused query keep their codegen modes on two threads") {
    val names = Seq("q_star_fact", "q_fact_assembly")
    val serial = names.map { n =>
      val r = rows(SparkEntry.queries(n)(spark, dir))
      Harness.clearState()
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
    Harness.clearState()
  }

  test("flagged query results are identical under both codegen modes") {
    def run(mode: String): Seq[String] = {
      val df = SparkEntry.queries("q_date_parse_multi")(spark, dir)
      df.sparkSession.conf.set(wholeStage, mode) // the query's own clone
      rows(df)
    }
    assert(run("true") == run("false"), "codegen mode must not change results")
    Harness.clearState()
  }
}
