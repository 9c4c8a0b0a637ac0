package graft.queries

import graft.{Q, Tables}
import graft.ops._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Join / set-op / resolution operator inventory (SURVEY.md §2.3, §2.5,
  * §2.7) wired to the fixture tables. */
object JoinQueries {
  import Tables.load

  /** J1: broadcast LEFT equi-join of fact rows against a small dim
    * (reference etl2:206-213). Scale: dim ships to every executor —
    * no shuffle of the big side; keep the explicit hint for plan
    * stability at any statistics. */
  val qJoinBroadcastLeft = Q(
    "q_join_broadcast_left",
    (spark, dir) => {
      val li = load(spark, dir, "lineitem")
      val p = load(spark, dir, "part")
      li.join(broadcast(p), li("l_partkey") === p("p_partkey"), "left")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          col("p_brand"), col("p_type"),
          round(col("l_extendedprice") * 100).cast("long").as("price_cents"))
    },
    Some("""SELECT l_orderkey, l_linenumber, l_partkey, p_brand, p_type,
      CAST(round(l_extendedprice*100) AS BIGINT) AS price_cents
      FROM lineitem LEFT JOIN part ON l_partkey = p_partkey"""),
    "J1 broadcast LEFT equi-join (etl2:206-213)")

  /** J2: LEFT ANTI join — keys in the left with no match in the right
    * (reference etl2:216-218). */
  val qJoinAnti = Q(
    "q_join_anti",
    (spark, dir) => {
      val c = load(spark, dir, "customer")
      val big = load(spark, dir, "orders").filter(col("o_totalprice") >= 350000)
      // the filtered right side is tiny — broadcast it so the anti-join
      // never shuffles the big (customer) side; at scale an SMJ here
      // would shuffle the whole left for nothing
      c.join(broadcast(big.select(col("o_custkey").as("c_custkey"))),
          Seq("c_custkey"), "left_anti")
        .select("c_custkey", "c_name", "c_mktsegment")
    },
    Some("""SELECT c_custkey, c_name, c_mktsegment FROM customer c
      WHERE NOT EXISTS (SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey AND o.o_totalprice >= 350000)"""),
    "J2 LEFT ANTI join (etl2:216-218)")

  /** LEFT SEMI join — the dual of J2; rounds out the join family. */
  val qJoinSemi = Q(
    "q_join_semi",
    (spark, dir) => {
      val s = load(spark, dir, "supplier")
      val li = load(spark, dir, "lineitem")
      s.join(li.select(col("l_suppkey").as("s_suppkey")), Seq("s_suppkey"), "left_semi")
        .select("s_suppkey", "s_name")
    },
    Some("""SELECT s_suppkey, s_name FROM supplier s
      WHERE EXISTS (SELECT 1 FROM lineitem l WHERE l.l_suppkey = s.s_suppkey)"""),
    "LEFT SEMI join (completeness; anti-join dual)")

  /** J1–J4 + W2 + U1: the full entity-resolution cascade — exact match,
    * residue, blocked Levenshtein fuzzy match with a deterministic
    * best-candidate window, union — over a catalog built from `part`
    * and observations synthesized by deterministic corruption so DuckDB
    * reproduces them (reference etl2:195-250). Runs
    * `Resolution.resolve`, the code `Etl2.resolveVehicles` runs, with
    * one exact key (the name) and one block key (its 2-char prefix);
    * the oracle keeps the reference's anti-join form. */
  val qResolutionFuzzy = Q(
    "q_resolution_fuzzy",
    (spark, dir) => {
      val p = load(spark, dir, "part")
      val k = col("p_partkey")
      val dv = p.select(lower(trim(col("p_name"))).as("model_norm"))
        .distinct()
        .select(sha2(col("model_norm"), 256).as("model_id"), col("model_norm"),
          Resolution.prefixBlock(col("model_norm")).as("block"))
      val corrupted = when(k % 5 === 0, concat(upper(col("p_name")), lit(" ")))
        .when(k % 5 === 1,
          substring(col("p_name"), lit(1), greatest(length(col("p_name")) - 2, lit(0))))
        .when(k % 5 === 2, concat(col("p_name"), lit(" zz")))
        .when(k % 5 === 3, reverse(col("p_name")))
        .otherwise(col("p_name"))
      val obs = p.select(k.as("obs_id"), lower(trim(corrupted)).as("model_norm"))
        .withColumn("block", Resolution.prefixBlock(col("model_norm")))
      val res = Resolution.resolve(obs, "obs_id", dv, "model_id",
        exactKeys = Seq("model_norm"), fuzzyKey = "model_norm", blockKeys = Seq("block"))
      obs.join(res, Seq("obs_id"), "left")
        .select("obs_id", "model_id", "lev_dist", "is_fuzzy")
    },
    Some("""WITH dv AS (
      SELECT sha256(model_norm) AS model_id, model_norm FROM (
        SELECT DISTINCT lower(trim(p_name)) AS model_norm FROM part)),
    obs AS (
      SELECT p_partkey AS obs_id,
        lower(trim(CASE
          WHEN p_partkey % 5 = 0 THEN upper(p_name) || ' '
          WHEN p_partkey % 5 = 1 THEN substring(p_name, 1, greatest(length(p_name)-2, 0))
          WHEN p_partkey % 5 = 2 THEN p_name || ' zz'
          WHEN p_partkey % 5 = 3 THEN reverse(p_name)
          ELSE p_name END)) AS obs_norm
      FROM part),
    exact AS (
      SELECT o.obs_id, d.model_id, CAST(NULL AS INTEGER) AS lev_dist, FALSE AS is_fuzzy
      FROM obs o JOIN dv d ON o.obs_norm = d.model_norm),
    unres AS (
      SELECT * FROM obs WHERE obs_id NOT IN (SELECT obs_id FROM exact)),
    fuzzy AS (
      SELECT u.obs_id, d.model_id,
        levenshtein(u.obs_norm, d.model_norm) AS lev_dist, TRUE AS is_fuzzy
      FROM unres u JOIN dv d
        ON substring(u.obs_norm, 1, 2) = substring(d.model_norm, 1, 2)
       AND length(u.obs_norm) >= 2 AND length(d.model_norm) >= 2
      WHERE levenshtein(u.obs_norm, d.model_norm) <= 3
      QUALIFY row_number() OVER (PARTITION BY u.obs_id
        ORDER BY lev_dist ASC, d.model_id ASC) = 1),
    resolved AS (SELECT * FROM exact UNION ALL SELECT * FROM fuzzy)
    SELECT o.obs_id, r.model_id, r.lev_dist, r.is_fuzzy
    FROM obs o LEFT JOIN resolved r ON o.obs_id = r.obs_id"""),
    "J1-J4/W2/U1 exact→anti→blocked-fuzzy→union resolution (etl2:195-250)")

  /** U1: unionByName(allowMissingColumns) — disjoint projections merged
    * with null fill (reference etl2:243). */
  val qUnionAllowMissing = Q(
    "q_union_allow_missing",
    (spark, dir) => {
      val o = load(spark, dir, "orders")
      val high = o.filter(col("o_totalprice") >= 100000)
        .select(col("o_orderkey"), lit("HIGH").as("tier"),
          round(col("o_totalprice") * 100).cast("long").as("price_cents"))
      val low = o.filter(col("o_totalprice") < 100000)
        .select(col("o_orderkey"), lit("LOW").as("tier"),
          col("o_orderpriority"))
      high.unionByName(low, allowMissingColumns = true)
    },
    Some("""SELECT o_orderkey, 'HIGH' AS tier,
        CAST(round(o_totalprice*100) AS BIGINT) AS price_cents,
        CAST(NULL AS VARCHAR) AS o_orderpriority
      FROM orders WHERE o_totalprice >= 100000
      UNION ALL
      SELECT o_orderkey, 'LOW', CAST(NULL AS BIGINT), o_orderpriority
      FROM orders WHERE o_totalprice < 100000"""),
    "U1 unionByName(allowMissingColumns=true) (etl2:243)")

  /** A1 (deterministic): dimension build — content-addressed surrogate
    * key + deterministic first-row-per-key attributes
    * (reference etl2:156-186 with the etl2:236 tiebreak discipline). */
  val qDimBuild = Q(
    "q_dim_build",
    (spark, dir) => {
      val p = load(spark, dir, "part")
      val keyed = p.select(
        sha2(concat_ws("|", lower(trim(col("p_brand"))), lower(trim(col("p_type")))), 256)
          .as("dim_sk"),
        lower(trim(col("p_brand"))).as("brand_norm"),
        lower(trim(col("p_type"))).as("type_norm"),
        col("p_partkey"), col("p_size"), col("p_retailprice"))
      Dedup.latestPerKey(keyed, Seq("dim_sk"), Seq(col("p_partkey").asc))
        .select(col("dim_sk"), col("brand_norm"), col("type_norm"),
          col("p_size").as("first_size"),
          round(col("p_retailprice") * 100).cast("long").as("first_price_cents"))
    },
    Some("""SELECT
      sha256(concat_ws('|', lower(trim(p_brand)), lower(trim(p_type)))) AS dim_sk,
      lower(trim(p_brand)) AS brand_norm, lower(trim(p_type)) AS type_norm,
      p_size AS first_size,
      CAST(round(p_retailprice*100) AS BIGINT) AS first_price_cents
      FROM part
      QUALIFY row_number() OVER (
        PARTITION BY sha256(concat_ws('|', lower(trim(p_brand)), lower(trim(p_type))))
        ORDER BY p_partkey ASC) = 1"""),
    "A1 deterministic dim build: sha key + first-row-per-key (etl2:156-186)",
    conf = Q.Unfused)

  /** J5 + P4 + §2.8 date keys: fact assembly — chained LEFT joins to
    * dims, int yyyyMMdd date key, validity filter
    * (reference etl2:256-275). Scale: both dims broadcast; the fact
    * side never shuffles. */
  val qFactAssembly = Q(
    "q_fact_assembly",
    (spark, dir) => {
      val o = load(spark, dir, "orders")
      val c = load(spark, dir, "customer")
      val n = load(spark, dir, "nation")
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"), "left")
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"), "left")
        .select(
          col("o_orderkey"),
          DateParse.dateKey(col("o_orderdate")).as("order_date_id"),
          sha2(concat_ws("|",
            Norm.orUnknown(lower(trim(col("c_name")))),
            Norm.orUnknown(col("c_custkey").cast("string"))), 256).as("customer_sk"),
          col("n_name").as("nation_name"),
          round(col("o_totalprice") * 100).cast("long").as("price_cents"))
        .filter(col("order_date_id").isNotNull)
    },
    Some("""SELECT o_orderkey,
      CAST(strftime(o_orderdate, '%Y%m%d') AS INTEGER) AS order_date_id,
      sha256(concat_ws('|',
        coalesce(nullif(trim(lower(trim(c_name))), ''), 'UNKNOWN'),
        coalesce(nullif(trim(CAST(c_custkey AS VARCHAR)), ''), 'UNKNOWN'))) AS customer_sk,
      n_name AS nation_name,
      CAST(round(o_totalprice*100) AS BIGINT) AS price_cents
      FROM orders
      LEFT JOIN customer ON o_custkey = c_custkey
      LEFT JOIN nation ON c_nationkey = n_nationkey
      WHERE CAST(strftime(o_orderdate, '%Y%m%d') AS INTEGER) IS NOT NULL"""),
    "J5 fact assembly: chained dim joins + date key + validity filter (etl2:256-275)")

  /** Date dimension: the reference populates dim_date with a recursive
    * calendar CTE (starschema_dw.txt:80-97); Spark-native equivalent is
    * sequence()+explode over the fact's date range — no recursion, no
    * driver loop, one row per day. */
  val qDateDim = Q(
    "q_date_dim",
    (spark, dir) => {
      val o = load(spark, dir, "orders")
      o.agg(min(to_date(col("o_orderdate"))).as("lo"),
          max(to_date(col("o_orderdate"))).as("hi"))
        .select(explode(sequence(col("lo"), col("hi"))).as("full_date"))
        .select(
          DateParse.dateKey(col("full_date")).as("date_id"),
          col("full_date"),
          year(col("full_date")).as("year"),
          quarter(col("full_date")).as("quarter"),
          month(col("full_date")).as("month"),
          dayofmonth(col("full_date")).as("day"),
          (dayofweek(col("full_date")) - 1).as("dow_sun0"),
          (dayofweek(col("full_date")) === 1 || dayofweek(col("full_date")) === 7)
            .as("is_weekend"))
    },
    Some("""WITH r AS (
      SELECT CAST(min(o_orderdate) AS DATE) AS lo,
             CAST(max(o_orderdate) AS DATE) AS hi FROM orders),
    d AS (
      SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS full_date
      FROM r)
    SELECT CAST(strftime(full_date, '%Y%m%d') AS INTEGER) AS date_id,
      full_date,
      CAST(year(full_date) AS INTEGER) AS year,
      CAST(quarter(full_date) AS INTEGER) AS quarter,
      CAST(month(full_date) AS INTEGER) AS month,
      CAST(day(full_date) AS INTEGER) AS day,
      CAST(dayofweek(full_date) AS INTEGER) AS dow_sun0,
      dayofweek(full_date) IN (0, 6) AS is_weekend
    FROM d"""),
    "dim_date calendar build (starschema_dw.txt:80-97) via sequence+explode")

  /** Bucketed co-located join — the big-join scale shape the prompt
    * calls out by name: when BOTH sides are too large to broadcast,
    * pre-bucketing them on the join key (same bucket count) lets the
    * sort-merge join read bucket i against bucket i with ZERO exchange
    * on either side. At 100 TB this converts the dominant cost of a
    * fact-fact join — shuffling both inputs — into a pure local merge;
    * the bucketing cost is paid once at write time and amortized over
    * every subsequent join on that key.
    *
    * The merge hint pins SMJ (a broadcast would hide the co-location
    * being demonstrated; at real scale neither side is broadcastable).
    * PlanSpec asserts the join subtree contains no shuffle. The
    * managed-table write goes to the session warehouse dir
    * (LOCAL-MODE note: same per-invocation idempotent-write convention
    * as q_csv_scan; on a cluster these would be persistent catalog
    * tables written once). Aggregation after the join is integer-exact.
    */
  val qJoinBucketed = Q(
    "q_join_bucketed",
    (spark, dir) => {
      val o = load(spark, dir, "orders")
      val c = load(spark, dir, "customer")
      // a prior SESSION's managed-table dir survives while the
      // in-memory catalog does not — drop both before writing, or
      // saveAsTable fails with LOCATION_ALREADY_EXISTS
      def resetTable(table: String): Unit = {
        spark.sql(s"DROP TABLE IF EXISTS $table")
        val wh = new java.net.URI(spark.conf.get("spark.sql.warehouse.dir"))
        val loc = new org.apache.hadoop.fs.Path(new org.apache.hadoop.fs.Path(wh), table)
        val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (fs.exists(loc)) fs.delete(loc, true)
      }
      resetTable("graft_bkt_orders")
      resetTable("graft_bkt_customer")
      o.write.bucketBy(8, "o_custkey").sortBy("o_custkey")
        .saveAsTable("graft_bkt_orders")
      c.write.bucketBy(8, "c_custkey").sortBy("c_custkey")
        .saveAsTable("graft_bkt_customer")
      val ob = spark.table("graft_bkt_orders")
      val cb = spark.table("graft_bkt_customer")
      ob.hint("merge").join(cb, ob("o_custkey") === cb("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          sum(round(col("o_totalprice") * 100)).cast("long").as("total_cents"))
    },
    Some("""SELECT c_mktsegment, COUNT(*) AS n_orders,
      CAST(SUM(round(o_totalprice*100)) AS BIGINT) AS total_cents
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY 1"""),
    "Bucketed co-located SMJ: both sides pre-bucketed on the key, zero-shuffle join")

  /** FULL OUTER join — the remaining join type in the family (LEFT /
    * ANTI / SEMI / INNER / bucketed SMJ are covered above). Two
    * derived per-customer sets that each contain keys the other
    * lacks: negative-balance customers vs customers holding a
    * ≥450k order; both null sides must survive into the output.
    *
    * Scale: FULL OUTER cannot broadcast either side (unmatched rows
    * of BOTH sides must be emitted, so both must be partitioned) —
    * the right plan is a sort-merge join with one shuffle per side
    * on the join key, which is exactly what Spark picks; both inputs
    * are pre-aggregated to key cardinality before the join so the
    * shuffled payload is counts, not raw rows. */
  val qJoinFullOuter = Q(
    "q_join_full_outer",
    (spark, dir) => {
      val neg = load(spark, dir, "customer")
        .filter(col("c_acctbal") < 0)
        .groupBy(col("c_custkey"))
        .agg(round(min(col("c_acctbal")) * 100).cast("long").as("acctbal_cents"))
      val big = load(spark, dir, "orders")
        .filter(col("o_totalprice") >= 450000)
        .groupBy(col("o_custkey").as("c_custkey"))
        .agg(count(lit(1)).as("n_big_orders"))
      neg.join(big, Seq("c_custkey"), "full_outer")
        .select(col("c_custkey"),
          col("acctbal_cents"),
          col("n_big_orders"),
          (col("acctbal_cents").isNotNull && col("n_big_orders").isNotNull)
            .cast("int").as("in_both"))
    },
    Some("""SELECT COALESCE(n.c_custkey, b.c_custkey) AS c_custkey,
      n.acctbal_cents, b.n_big_orders,
      CAST(n.acctbal_cents IS NOT NULL AND b.n_big_orders IS NOT NULL
        AS INTEGER) AS in_both
      FROM (SELECT c_custkey,
              CAST(round(MIN(c_acctbal)*100) AS BIGINT) AS acctbal_cents
            FROM customer WHERE c_acctbal < 0 GROUP BY 1) n
      FULL OUTER JOIN (SELECT o_custkey AS c_custkey,
              COUNT(*) AS n_big_orders
            FROM orders WHERE o_totalprice >= 450000 GROUP BY 1) b
      ON n.c_custkey = b.c_custkey"""),
    "FULL OUTER join: pre-aggregated sides, SMJ with unmatched rows from both")

  /** Dynamic partition pruning — the join-time sibling of static
    * partition pruning (q_partitioned_roundtrip): the fact is
    * partitioned on a derived year; the dim side's filter is only
    * known at plan time as a predicate on DIM attributes, so Spark
    * injects a runtime subquery (`dynamicpruning#…` in the fact
    * scan's PartitionFilters) that evaluates the dim first and reads
    * ONLY the fact partitions whose years survive. At 100 TB this is
    * the difference between scanning every date partition and the
    * handful a dimension filter selects — the core star-schema scan
    * optimization. PlanSpec pins the dynamicpruning expression in the
    * scan. Fixture-write convention and LOCAL-MODE path note as
    * q_partitioned_roundtrip; the oracle computes from the source
    * table directly, so it does NOT read the scratch path (no verify
    * interleaving hazard). */
  val dppPath = Tables.staging("graft_dpp/orders")
  val qJoinDpp = Q(
    "q_join_dpp",
    (spark, dir) => {
      load(spark, dir, "orders")
        .withColumn("o_year", year(col("o_orderdate")))
        .write.mode("overwrite").partitionBy("o_year").parquet(dppPath)
      val fact = spark.read.parquet(dppPath)
      val dim = load(spark, dir, "orders")
        .select(year(col("o_orderdate")).as("o_year")).distinct()
        .withColumn("is_even", pmod(col("o_year"), lit(2)) === 0)
      fact
        .join(broadcast(dim.filter(col("is_even"))), Seq("o_year"))
        .groupBy("o_year")
        .agg(count(lit(1)).as("n"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("sum_cents"))
    },
    Some("""SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
      COUNT(*) AS n,
      CAST(SUM(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS sum_cents
      FROM orders
      WHERE year(o_orderdate) % 2 = 0
      GROUP BY 1"""),
    "Dynamic partition pruning: dim filter prunes fact partitions at runtime")

  val all: Seq[Q] = Seq(qJoinBroadcastLeft, qJoinAnti, qJoinSemi,
    qResolutionFuzzy, qUnionAllowMissing, qDimBuild, qFactAssembly, qDateDim,
    qJoinBucketed, qJoinFullOuter, qJoinDpp)
}
