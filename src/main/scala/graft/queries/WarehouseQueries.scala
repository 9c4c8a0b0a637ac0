package graft.queries

import graft.{CacheReleases, Q, Tables}
import org.apache.spark.sql.functions._

/** Warehouse-maintenance operator family: the queries a team RUNNING
  * this engine as their warehouse needs beyond ad-hoc analytics —
  * mergeable sketch rollups (build daily, re-aggregate monthly without
  * rescanning raw), incremental materialized-aggregate maintenance
  * (delta-merge proven equal to full recompute), declarative
  * data-quality audits (the expectations gate in front of every load),
  * and schema-evolution scans (corpora accrete columns over time;
  * yesterday's files must stay readable).
  *
  * Reference scope note: the reference pipeline re-runs its whole ETL
  * per load (etl1_clean_and_stage.py, etl2_advclean_and_dimcreatin.py)
  * — affordable at its scale, not at 100 TB. These operators are the
  * incremental/maintenance counterparts that make the same outputs
  * affordable when only a day of data is new.
  */
object WarehouseQueries {
  import Tables.load

  private def cents(c: String): org.apache.spark.sql.Column =
    round(col(c) * 100).cast("long")

  /** Mergeable HLL sketch rollup — the pattern that replaces
    * COUNT(DISTINCT) at warehouse scale: distinct-counting does not
    * re-aggregate (a month's distincts are not the sum of its days'),
    * so the daily rollup stores a DataSketches HLL sketch per
    * (month, day) and the monthly query UNIONS the sketches —
    * KB per group, no rescan of the raw table, lossless union at equal
    * lgConfigK. Emits the merged estimate only as an integer
    * within-tolerance flag (the q_approx_sketches convention: raw
    * estimates are engine-specific; the bounded-error claim is what an
    * oracle can pin), alongside exact values the oracle recomputes.
    * Scale: stage 1 is one combinable shuffle on (month, day); stage 2
    * shuffles ~30 sketch rows per month. The exact-distinct branch
    * exists only to verify the flag and would be dropped in
    * production. */
  val qHllRollup = Q(
    "q_hll_rollup",
    (spark, dir) => {
      val base = load(spark, dir, "orders")
        .select(trunc(col("o_orderdate"), "month").as("month"),
          to_date(col("o_orderdate")).as("day"), col("o_custkey"))
      val daily = base.groupBy("month", "day")
        .agg(hll_sketch_agg(col("o_custkey")).as("sk"),
          count(lit(1)).as("n"))
      val monthly = daily.groupBy("month")
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"),
          count(lit(1)).as("n_days"), sum(col("n")).as("n_orders"))
      val exact = base.select("month", "o_custkey").distinct()
        .groupBy("month").agg(count(lit(1)).as("exact_customers"))
      monthly.join(exact, Seq("month"))
        .select(col("month"), col("n_days"), col("n_orders"),
          col("exact_customers"),
          (abs(col("est") - col("exact_customers")) * 10000 <=
            col("exact_customers") * 500).cast("int").as("hll_within_5pct"))
    },
    Some("""SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
      COUNT(DISTINCT CAST(o_orderdate AS DATE)) AS n_days,
      COUNT(*) AS n_orders,
      COUNT(DISTINCT o_custkey) AS exact_customers,
      1 AS hll_within_5pct
      FROM orders GROUP BY 1"""),
    "Daily HLL sketches unioned to monthly distincts (mergeable rollup)")

  /** Incremental materialized-aggregate maintenance: the stored
    * aggregate table (keys × combinable measures) is advanced by
    * aggregating ONLY the delta partition and merging — sum of sums,
    * sum of counts, min of mins, max of maxs — never rescanning
    * history. The cutoff is mid-month so June-1998 keys exist on BOTH
    * sides and the merge genuinely combines. The oracle is the full
    * recompute: hash equality IS the proof that delta-merge == from
    * scratch (the q_scd2_merge convention, at the aggregate level).
    * Scale: history scan is the stored agg table (keys-sized, not
    * fact-sized); the delta filter is pushed to the scan so a
    * date-partitioned fact reads one partition. */
  val qIncrAgg = Q(
    "q_incr_agg",
    (spark, dir) => {
      val cut = lit("1998-06-15 00:00:00").cast("timestamp")
      def agg(df: org.apache.spark.sql.DataFrame) = df
        .select(trunc(col("o_orderdate"), "month").as("month"),
          col("o_orderpriority"), cents("o_totalprice").as("c"))
        .groupBy("month", "o_orderpriority")
        .agg(count(lit(1)).as("n"), sum(col("c")).as("sum_cents"),
          min(col("c")).as("min_cents"), max(col("c")).as("max_cents"))
      val orders = load(spark, dir, "orders")
      val stored = agg(orders.filter(col("o_orderdate") < cut))
      val delta  = agg(orders.filter(col("o_orderdate") >= cut))
      stored.unionByName(delta)
        .groupBy("month", "o_orderpriority")
        .agg(sum(col("n")).as("n"), sum(col("sum_cents")).as("sum_cents"),
          min(col("min_cents")).as("min_cents"),
          max(col("max_cents")).as("max_cents"))
    },
    Some("""SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
      o_orderpriority, COUNT(*) AS n,
      CAST(SUM(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS sum_cents,
      MIN(CAST(round(o_totalprice*100) AS BIGINT)) AS min_cents,
      MAX(CAST(round(o_totalprice*100) AS BIGINT)) AS max_cents
      FROM orders GROUP BY 1, 2"""),
    "Incremental agg maintenance: base + delta merge == full recompute")

  /** Declarative data-quality audit — the expectations gate
    * (dbt-test / Great-Expectations shape) that runs in front of every
    * load: NOT-NULL, accepted-values, range, primary-key uniqueness,
    * and referential integrity, each reported as one
    * (table, check, violations, checked, pass) row. Violations are
    * SEEDED deterministically (mod-prime slices mirrored verbatim in
    * the oracle) so every check is proven to actually fire — an audit
    * that has only ever seen clean data is untested.
    * Scale: the three row-local checks share ONE scan (conditional
    * sums in a single aggregate, unpivoted via stack); uniqueness is
    * count − distinct-count (combinable, never a per-key window); RI
    * is an id-only anti join. The orphan remap is
    * -key-1, not -key: key 0 is a fixed point of negation and exists
    * in the fixture, so plain negation under-seeds. */
  val qDqAudit = Q(
    "q_dq_audit",
    (spark, dir) => {
      val o = load(spark, dir, "orders")
        .withColumn("o_custkey",
          when(pmod(col("o_orderkey"), lit(991)) === 0, lit(null))
            .otherwise(col("o_custkey")))
        .withColumn("o_totalprice",
          when(pmod(col("o_orderkey"), lit(997)) === 0, -col("o_totalprice"))
            .otherwise(col("o_totalprice")))
        .withColumn("o_orderstatus",
          when(pmod(col("o_orderkey"), lit(983)) === 0, lit("X"))
            .otherwise(col("o_orderstatus")))
      val corrupted = o.unionAll(o.filter(pmod(col("o_orderkey"), lit(977)) === 0))
      val rowChecks = corrupted.agg(
        sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("v1"),
        sum(when(!col("o_orderstatus").isin("F", "O", "P"), 1L).otherwise(0L)).as("v2"),
        sum(when(col("o_totalprice") <= 0, 1L).otherwise(0L)).as("v3"),
        count(lit(1)).as("n"),
        countDistinct(col("o_orderkey")).as("nk"))
        .selectExpr("""stack(4,
          'orders', 'not_null_custkey',  v1,     n,
          'orders', 'accepted_status',   v2,     n,
          'orders', 'positive_price',    v3,     n,
          'orders', 'unique_orderkey',   n - nk, n)
          AS (table_name, check_name, violations, checked_rows)""")
      val li = load(spark, dir, "lineitem")
        .withColumn("l_orderkey",
          when(pmod(col("l_orderkey"), lit(971)) === 0, -col("l_orderkey") - 1)
            .otherwise(col("l_orderkey")))
      val nLi = li.agg(count(lit(1)).as("checked_rows"))
      val orphans = li.select("l_orderkey")
        .join(load(spark, dir, "orders").select("o_orderkey"),
          col("l_orderkey") === col("o_orderkey"), "left_anti")
        .agg(count(lit(1)).as("violations"))
      val ri = orphans.crossJoin(nLi)
        .select(lit("lineitem").as("table_name"),
          lit("ri_orderkey").as("check_name"),
          col("violations"), col("checked_rows"))
      rowChecks.unionByName(ri)
        .withColumn("pass", (col("violations") === 0).cast("int"))
    },
    Some("""WITH c0 AS (
        SELECT o_orderkey,
          CASE WHEN o_orderkey % 991 = 0 THEN NULL ELSE o_custkey END AS o_custkey,
          CASE WHEN o_orderkey % 997 = 0 THEN -o_totalprice ELSE o_totalprice END AS o_totalprice,
          CASE WHEN o_orderkey % 983 = 0 THEN 'X' ELSE o_orderstatus END AS o_orderstatus
        FROM orders),
      corrupted AS (SELECT * FROM c0
        UNION ALL SELECT * FROM c0 WHERE o_orderkey % 977 = 0),
      agg AS (SELECT
          SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS v1,
          SUM(CASE WHEN o_orderstatus NOT IN ('F','O','P') THEN 1 ELSE 0 END) AS v2,
          SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS v3,
          COUNT(*) AS n, COUNT(DISTINCT o_orderkey) AS nk
        FROM corrupted),
      li AS (SELECT CASE WHEN l_orderkey % 971 = 0 THEN -l_orderkey - 1
          ELSE l_orderkey END AS l_orderkey FROM lineitem),
      rows_out AS (
        SELECT 'orders' AS table_name, 'not_null_custkey' AS check_name,
          CAST(v1 AS BIGINT) AS violations, n AS checked_rows FROM agg
        UNION ALL SELECT 'orders', 'accepted_status', CAST(v2 AS BIGINT), n FROM agg
        UNION ALL SELECT 'orders', 'positive_price', CAST(v3 AS BIGINT), n FROM agg
        UNION ALL SELECT 'orders', 'unique_orderkey', CAST(n - nk AS BIGINT), n FROM agg
        UNION ALL SELECT 'lineitem', 'ri_orderkey',
          (SELECT COUNT(*) FROM li WHERE l_orderkey NOT IN
            (SELECT o_orderkey FROM orders)),
          (SELECT COUNT(*) FROM li))
      SELECT table_name, check_name, violations, checked_rows,
        CAST(violations = 0 AS INTEGER) AS pass FROM rows_out"""),
    "Data-quality audit: null/domain/range/unique/RI checks, seeded violations")

  /** Schema-evolution scan: batch 1 (years < 1998; the fixture spans 1995-2001) was written before the channel
    * column existed; batch 2 carries it. `mergeSchema` unions the
    * per-file parquet schemas so old files surface NULL for the new
    * column — the accrete-columns-over-time reality of any corpus that
    * outlives its first schema. DuckDB mirrors with
    * read_parquet(union_by_name) — two engines agreeing on the merged
    * read. Same LOCAL-MODE idempotent fixture-write convention as
    * q_partitioned_roundtrip; the written CONTENT derives from the
    * input dir, so the oracle (which reads this path at CHECK time)
    * is only valid when build and check see the same bytes — verify
    * runs for DIFFERENT SFs must not interleave between a run's build
    * and its check (the driver's build→check is sequential per SF; a
    * dev workflow running two SFs concurrently races here and fails
    * with a value mismatch, not silently).
    * Scale note: mergeSchema footer-merges at planning time — O(files)
    * on the driver; production tables pin the merged schema in a
    * catalog instead. The read itself stays pruned/pushed. */
  val schemaEvoPath = Tables.staging("graft_schema_evo")
  val qSchemaEvolution = Q(
    "q_schema_evolution",
    (spark, dir) => {
      val orders = load(spark, dir, "orders")
      orders.filter(year(col("o_orderdate")) < 1998)
        .select(col("o_orderkey"), cents("o_totalprice").as("price_cents"))
        .write.mode("overwrite").parquet(s"$schemaEvoPath/batch=1")
      orders.filter(year(col("o_orderdate")) >= 1998)
        .select(col("o_orderkey"), cents("o_totalprice").as("price_cents"),
          when(pmod(col("o_orderkey"), lit(3)) === 0, "web")
            .when(pmod(col("o_orderkey"), lit(3)) === 1, "store")
            .otherwise("app").as("channel"))
        .write.mode("overwrite").parquet(s"$schemaEvoPath/batch=2")
      spark.read.option("mergeSchema", "true").parquet(schemaEvoPath)
        .groupBy(col("batch").cast("int").as("batch"),
          coalesce(col("channel"), lit("legacy")).as("channel"))
        .agg(count(lit(1)).as("n"), sum(col("price_cents")).as("sum_cents"))
    },
    Some(s"""SELECT CAST(batch AS INTEGER) AS batch,
      COALESCE(channel, 'legacy') AS channel,
      COUNT(*) AS n, CAST(SUM(price_cents) AS BIGINT) AS sum_cents
      FROM read_parquet('$schemaEvoPath/*/*.parquet',
        union_by_name=true, hive_partitioning=true)
      GROUP BY 1, 2"""),
    "mergeSchema scan over drifted parquet batches (added column → null backfill)")

  /** Snapshot diff — the table-versioning primitive (what "time
    * travel"/CDC tooling computes between two table versions): given
    * yesterday's and today's snapshots keyed by PK, emit every key as
    * insert / delete / update, dropping the unchanged majority. The
    * new snapshot is derived from the old by deterministic seeded
    * mutations (mod-prime slices, mirrored verbatim in the oracle):
    * %101 deleted, %103 re-prioritized, %107 cloned to a disjoint
    * +2e9 key range (fixture keys stay well below at every SF).
    * Change detection is a null-safe full-outer join on the PK with
    * column-wise <=> comparison — never a formatted-string hash, so
    * no cross-engine float-formatting taste can leak in.
    * Scale: one key-partitioned shuffle per side feeding a full-outer
    * SMJ — the unavoidable shape of a whole-table diff; at 100 TB both
    * snapshots would be bucketed on the PK so the join runs
    * exchange-free (the q_join_bucketed write-once/join-many shape).
    * Update rows re-verify all compared columns, so a diff over
    * identical snapshots is provably empty. */
  private val snapCols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
    "o_orderpriority", "price_cents", "o_day")

  /** Yesterday's snapshot: orders keyed by PK with typed columns. */
  private def oldSnapshot(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    load(spark, dir, "orders").select(
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      col("o_orderpriority"), cents("o_totalprice").as("price_cents"),
      to_date(col("o_orderdate")).as("o_day"))

  /** Today's snapshot: deterministic seeded mutations of yesterday's
    * (%101 deleted, %103 re-prioritized, %107 cloned to +2e9 keys). */
  private def newSnapshot(old: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val mutated = old
      .filter(pmod(col("o_orderkey"), lit(101)) =!= 0)
      .withColumn("o_orderpriority",
        when(pmod(col("o_orderkey"), lit(103)) === 0, lit("0-REPRIORITIZED"))
          .otherwise(col("o_orderpriority")))
    val inserted = old.filter(pmod(col("o_orderkey"), lit(107)) === 0)
      .withColumn("o_orderkey", col("o_orderkey") + 2000000000L)
    mutated.unionByName(inserted)
  }

  /** Full-outer PK join of the two snapshots with null-safe column
    * compare; rows classified insert/delete/update, unchanged dropped.
    * Carries the NEW payload so a downstream apply step is possible. */
  private def snapshotChanges(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val old = oldSnapshot(spark, dir)
    val neu = newSnapshot(old)
    val o = old.select(snapCols.map(c => col(c).as("old_" + c)): _*)
    val n = neu.select(snapCols.map(c => col(c).as("new_" + c)): _*)
    val joined = o.join(n,
      o("old_o_orderkey") === n("new_o_orderkey"), "full_outer")
    val changed = snapCols.tail.map(c =>
      !(col("old_" + c) <=> col("new_" + c))).reduce(_ || _)
    joined.select(
      (Seq(
        coalesce(col("old_o_orderkey"), col("new_o_orderkey")).as("o_orderkey"),
        when(col("new_o_orderkey").isNull, "delete")
          .when(col("old_o_orderkey").isNull, "insert")
          .when(changed, "update").as("change_type")) ++
        snapCols.map(c => col("new_" + c))): _*)
      .filter(col("change_type").isNotNull)
  }

  val qSnapshotDiff = Q(
    "q_snapshot_diff",
    (spark, dir) => {
      snapshotChanges(spark, dir).select("o_orderkey", "change_type")
    },
    Some("""WITH old AS (
        SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority,
          CAST(round(o_totalprice*100) AS BIGINT) AS price_cents,
          CAST(o_orderdate AS DATE) AS o_day
        FROM orders),
      neu AS (
        SELECT o_orderkey, o_custkey, o_orderstatus,
          CASE WHEN o_orderkey % 103 = 0 THEN '0-REPRIORITIZED'
            ELSE o_orderpriority END AS o_orderpriority,
          price_cents, o_day
        FROM old WHERE o_orderkey % 101 != 0
        UNION ALL
        SELECT o_orderkey + 2000000000, o_custkey, o_orderstatus,
          o_orderpriority, price_cents, o_day
        FROM old WHERE o_orderkey % 107 = 0)
      SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
        CASE WHEN n.o_orderkey IS NULL THEN 'delete'
          WHEN o.o_orderkey IS NULL THEN 'insert'
          WHEN o.o_custkey IS DISTINCT FROM n.o_custkey
            OR o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
            OR o.o_orderpriority IS DISTINCT FROM n.o_orderpriority
            OR o.price_cents IS DISTINCT FROM n.price_cents
            OR o.o_day IS DISTINCT FROM n.o_day
          THEN 'update' END AS change_type
      FROM old o FULL OUTER JOIN neu n ON o.o_orderkey = n.o_orderkey
      WHERE CASE WHEN n.o_orderkey IS NULL THEN 'delete'
          WHEN o.o_orderkey IS NULL THEN 'insert'
          WHEN o.o_custkey IS DISTINCT FROM n.o_custkey
            OR o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
            OR o.o_orderpriority IS DISTINCT FROM n.o_orderpriority
            OR o.price_cents IS DISTINCT FROM n.price_cents
            OR o.o_day IS DISTINCT FROM n.o_day
          THEN 'update' END IS NOT NULL"""),
    "Snapshot diff: full-outer PK join, null-safe column compare, CDC classes")

  /** CDC APPLY — the consumer side of q_snapshot_diff, closing the
    * change-data-capture loop: given yesterday's snapshot and the
    * classified change set (with new payloads), reconstruct today's
    * snapshot as old ∖ (deleted ∪ updated keys) ∪ (updated ∪ inserted
    * payloads). The oracle is today's snapshot computed DIRECTLY from
    * the seeded mutations — hash equality proves diff → apply is the
    * identity, i.e. the change feed alone is sufficient to advance a
    * replica (what every downstream CDC consumer relies on).
    * Scale: the removal is a LEFT ANTI join shipping only PK ids; the
    * upsert union ships only changed-row payloads (changes-sized, not
    * table-sized); the diff itself is the q_snapshot_diff full-outer
    * SMJ. The changes frame is persisted once — both the anti and the
    * upsert side consume it, and its lineage contains the full-outer
    * diff. */
  val qCdcApply = Q(
    "q_cdc_apply",
    (spark, dir) => {
      val old = oldSnapshot(spark, dir)
      val changes = snapshotChanges(spark, dir)
        .transform(CacheReleases.persisted)
      val removedKeys = changes
        .filter(col("change_type").isin("delete", "update"))
        .select(col("o_orderkey"))
      val upserts = changes
        .filter(col("change_type").isin("insert", "update"))
        .select(col("o_orderkey") +: snapCols.tail.map(c =>
          col("new_" + c).as(c)): _*)
      old.join(removedKeys, Seq("o_orderkey"), "left_anti")
        .unionByName(upserts)
    },
    Some("""WITH old AS (
        SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority,
          CAST(round(o_totalprice*100) AS BIGINT) AS price_cents,
          CAST(o_orderdate AS DATE) AS o_day
        FROM orders)
      SELECT o_orderkey, o_custkey, o_orderstatus,
        CASE WHEN o_orderkey % 103 = 0 THEN '0-REPRIORITIZED'
          ELSE o_orderpriority END AS o_orderpriority,
        price_cents, o_day
      FROM old WHERE o_orderkey % 101 != 0
      UNION ALL
      SELECT o_orderkey + 2000000000, o_custkey, o_orderstatus,
        o_orderpriority, price_cents, o_day
      FROM old WHERE o_orderkey % 107 = 0"""),
    "CDC apply: old snapshot + change feed reconstructs the new snapshot",
    conf = Q.Unfused)

  val all: Seq[Q] = Seq(qHllRollup, qIncrAgg, qDqAudit, qSchemaEvolution,
    qSnapshotDiff, qCdcApply)
}
