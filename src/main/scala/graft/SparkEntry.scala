package graft

import graft.queries.{AnalyticsQueries, CoreQueries, EventQueries, GraphQueries, JoinQueries, SimilarityQueries, StarQueries, StatQueries, StreamQueries, TextQueries, VectorQueries, WarehouseQueries}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {
  /** Full operator registry; each Q is independently verifiable. */
  def registry: Seq[Q] =
    CoreQueries.all ++ JoinQueries.all ++ TextQueries.all ++ VectorQueries.all ++
      EventQueries.all ++ AnalyticsQueries.all ++ StarQueries.all ++
      StreamQueries.all ++ GraphQueries.all ++ WarehouseQueries.all ++
      StatQueries.all ++ SimilarityQueries.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks
    * rows>0. Star-style: deterministic newest-order-per-customer dedup
    * (etl1:68-70 semantics) → dim joins (etl2:256-258 semantics) →
    * aggregate by region. */
  def entry(caller: SparkSession): DataFrame = {
    val spark = Tables.sessionUnder(caller, Q.Base)
    val dir = "/root/testdata/sf0.001"
    val o = Tables.load(spark, dir, "orders")
    val c = Tables.load(spark, dir, "customer")
    val n = Tables.load(spark, dir, "nation")
    val r = Tables.load(spark, dir, "region")
    val latest = ops.Dedup.latestPerKey(o, Seq("o_custkey"),
      Seq(col("o_orderdate").desc, col("o_orderkey").desc))
    latest
      .join(broadcast(c), latest("o_custkey") === c("c_custkey"), "left")
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"), "left")
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"), "left")
      .groupBy(col("r_name"))
      .agg(count(lit(1)).as("n_customers"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("latest_price_cents"))
  }

  /** One entry per operator from SURVEY.md §2. A query runs under
    * [[Q.Base]] plus its own [[Q.conf]]. It builds on the caller's
    * session when all of that already holds there (a [[Harness]]
    * session holds the base), and otherwise on a clone of it (conf,
    * functions and listeners kept) with that conf applied, so its eager
    * actions and the caller's terminal action run under it and the
    * caller's session is untouched. Cloning adds a few ms a build. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { q =>
      val conf = Q.Base ++ q.conf
      q.name -> { (spark: SparkSession, dir: String) =>
        q.build(Tables.sessionUnder(spark, conf), dir)
      }
    }.toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    registry.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
