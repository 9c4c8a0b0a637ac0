package graft.queries

import graft.{CacheReleases, Q, Tables}
import org.apache.spark.sql.functions._

/** SQL-surface statistics family: the grouping-sets / reshape /
  * binning / privacy-audit operators that round out the warehouse
  * query surface beyond what the reference's five scripts exercise
  * (the reference aggregates only flat GROUP BYs —
  * etl2_advclean_and_dimcreatin.py builds dims with plain groupBy;
  * everything here is the analyst-facing layer on top).
  *
  * Conventions as everywhere in the registry: money in integer cents,
  * ratios in integer basis points, explicit deterministic tiebreaks,
  * every aggregate aliased identically in the Spark plan and the
  * DuckDB oracle.
  */
object StatQueries {
  import Tables.load

  private def cents(c: String): org.apache.spark.sql.Column =
    round(col(c) * 100).cast("long")

  /** Explicit GROUPING SETS — the general form of the cube/rollup
    * family (q_cube_agg, q_rollup_agg): a hand-picked set list
    * ((status, priority), (status), ()) plus grouping_id() so
    * consumers can tell a real NULL from an aggregated-out level.
    * Catalyst plans all sets in ONE Expand + single shuffle — same
    * cost class as the plain aggregate, not one job per set.
    * Scale: Expand multiplies rows by the number of sets (3 here)
    * before the combinable aggregate — the standard engine trade;
    * keep the set list small at fact scale. */
  val qGroupingSets = Q(
    "q_grouping_sets",
    (spark, dir) => {
      load(spark, dir, "orders")
        .groupingSets(
          Seq(Seq(col("o_orderstatus"), col("o_orderpriority")),
            Seq(col("o_orderstatus")), Seq()),
          col("o_orderstatus"), col("o_orderpriority"))
        .agg(grouping_id().as("gid"), count(lit(1)).as("n"),
          sum(cents("o_totalprice")).as("sum_cents"))
    },
    Some("""SELECT o_orderstatus, o_orderpriority,
      CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
      COUNT(*) AS n,
      CAST(SUM(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS sum_cents
      FROM orders
      GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
        (o_orderstatus), ())"""),
    "GROUPING SETS with grouping_id (general grouping-sets family)")

  /** Wide→long reshape via the native Dataset.unpivot (melt) — the
    * inverse of q_pivot_status: a per-month wide layout (one column
    * per order status) unpivoted back to (month, status, n) rows.
    * unpivot is a row-local Expand — no shuffle beyond the one
    * building the wide input; the variable/value column names are
    * explicit so the schema is stable.
    * Scale: Expand ×3 on an already-aggregated (months-sized) input —
    * negligible; unpivoting a fact table instead would multiply the
    * scan, so reshape AFTER aggregating, as here. */
  val qUnpivot = Q(
    "q_unpivot",
    (spark, dir) => {
      val wide = load(spark, dir, "orders")
        .groupBy(trunc(col("o_orderdate"), "month").as("month"))
        .agg(
          sum(when(col("o_orderstatus") === "F", 1L).otherwise(0L)).as("F"),
          sum(when(col("o_orderstatus") === "O", 1L).otherwise(0L)).as("O"),
          sum(when(col("o_orderstatus") === "P", 1L).otherwise(0L)).as("P"))
      wide.unpivot(Array(col("month")), Array(col("F"), col("O"), col("P")),
        "status", "n")
    },
    Some("""WITH wide AS (
        SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
          SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS f,
          SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS o,
          SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS p
        FROM orders GROUP BY 1)
      SELECT month, 'F' AS status, CAST(f AS BIGINT) AS n FROM wide
      UNION ALL SELECT month, 'O', CAST(o AS BIGINT) FROM wide
      UNION ALL SELECT month, 'P', CAST(p AS BIGINT) FROM wide"""),
    "Dataset.unpivot wide→long reshape (inverse of pivot)")

  /** Equi-depth binning: exact NTILE(10) deciles over order price
    * with an explicit (cents, o_orderkey) tiebreak, then per-bin
    * count/min/max/sum — the quantile-histogram every data profiler
    * emits. A bare `ntile() OVER (ORDER BY ...)` window would funnel
    * the fact table through ONE partition (Spark warns and does
    * exactly that), so the rank comes from `ops.GlobalRank`: range
    * repartition + parallel partition-local sort + k-row offset
    * action + broadcast offset join, and the decile is the closed-form
    * NTILE bucket of (global rank, total). Identical values to the
    * window form — PlanSpec pins that the plan has a range exchange
    * and NO single-partition exchange; OpsSpec differentials the rank
    * against Spark's own window ntile.
    * Scale: one range exchange + one combinable shuffle; the offsets
    * action moves k rows to the driver. */
  val qQuantileBins = Q(
    "q_quantile_bins",
    (spark, dir) => {
      val base = load(spark, dir, "orders")
        .select(col("o_orderkey"), cents("o_totalprice").as("c"))
      val parts = spark.sparkContext.defaultParallelism
      val (ranked, total) = graft.ops.GlobalRank.withGlobalRank(
        base, Seq(col("c").asc, col("o_orderkey").asc), "r", parts)
      ranked
        .withColumn("decile", graft.ops.GlobalRank.ntileFromRank(col("r"), total, 10))
        .groupBy("decile")
        .agg(count(lit(1)).as("n"), min(col("c")).as("min_cents"),
          max(col("c")).as("max_cents"), sum(col("c")).as("sum_cents"))
    },
    Some("""WITH t AS (
        SELECT o_orderkey, CAST(round(o_totalprice*100) AS BIGINT) AS c,
          NTILE(10) OVER (ORDER BY CAST(round(o_totalprice*100) AS BIGINT),
            o_orderkey) AS decile
        FROM orders)
      SELECT decile, COUNT(*) AS n, MIN(c) AS min_cents, MAX(c) AS max_cents,
        CAST(SUM(c) AS BIGINT) AS sum_cents
      FROM t GROUP BY decile"""),
    "Equi-depth deciles (NTILE) with deterministic tiebreak + per-bin stats")

  /** Equi-width histogram of document length per language — the
    * fixed-bucket companion to the equi-depth bins above: bucket =
    * min(n_chars div 100, 9), so the top bucket is open-ended. One
    * combinable shuffle; bucket math is row-local integer division.
    * The (lang, bucket) grid is NOT densified — empty buckets are
    * absent, matching the SQL GROUP BY exactly (densify with
    * q_gapfill's calendar-join shape if a chart needs zeros). */
  val qHistogram = Q(
    "q_histogram",
    (spark, dir) => {
      load(spark, dir, "documents")
        .select(col("lang"),
          least(floor(col("n_chars") / 100), lit(9L)).cast("int").as("bucket"),
          col("n_chars"))
        .groupBy("lang", "bucket")
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))
    },
    Some("""SELECT lang,
      CAST(LEAST(n_chars // 100, 9) AS INTEGER) AS bucket,
      COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      FROM documents GROUP BY 1, 2"""),
    "Equi-width histogram of doc length per language")

  /** k-anonymity audit — the privacy gate on a training corpus's
    * metadata (companion to q_pii_scrub, which redacts content):
    * every (nation, segment, account-balance band) quasi-identifier
    * combination is a group; groups smaller than k=5 re-identify
    * their members. Emits per-group size + meets_k plus the count of
    * at-risk rows via a window-free self-aggregate (the summary is a
    * second combinable pass over group rows, never a window over the
    * corpus). Banding c_acctbal to $1000 is itself the generalization
    * step of k-anonymization — the query both audits and demonstrates
    * the technique.
    * Scale: two combinable shuffles on the QI key (groups, then the
    * scalar summary is groups-sized). */
  val qKAnonymity = Q(
    "q_k_anonymity",
    (spark, dir) => {
      val groups = load(spark, dir, "customer")
        .select(col("c_nationkey"), col("c_mktsegment"),
          floor(col("c_acctbal") / 1000).cast("long").as("bal_band"))
        .groupBy("c_nationkey", "c_mktsegment", "bal_band")
        .agg(count(lit(1)).as("group_n"))
        .withColumn("meets_k", (col("group_n") >= 5).cast("int"))
      groups
    },
    Some("""SELECT c_nationkey, c_mktsegment,
      CAST(FLOOR(c_acctbal / 1000) AS BIGINT) AS bal_band,
      COUNT(*) AS group_n,
      CAST(COUNT(*) >= 5 AS INTEGER) AS meets_k
      FROM customer GROUP BY 1, 2, 3"""),
    "k-anonymity audit over quasi-identifier groups (k=5, banded balance)")

  /** Table profiling — the per-column summary every warehouse
    * profiler emits (count / nulls / exact distinct / min / max), one
    * row per column. Built as one aggregate branch PER COLUMN unioned
    * together, deliberately NOT one aggregate with six countDistincts:
    * multi-distinct in a single aggregate plans an Expand that
    * multiplies the fact scan by the column count, while per-column
    * branches each read exactly ONE parquet column (PlanSpec pins the
    * pruned ReadSchema) and aggregate combinably. At 100 TB you would
    * swap exact distinct for the q_hll_rollup sketch; exact is the
    * oracle shape. min/max are emitted as ISO strings of exact types
    * (longs, date) — never float formatting, which differs across
    * engines. NULLs are seeded on a mod-prime slice so the null
    * counter is proven live. */
  val qTableProfile = Q(
    "q_table_profile",
    (spark, dir) => {
      val o = load(spark, dir, "orders")
        .withColumn("o_custkey",
          when(pmod(col("o_orderkey"), lit(89)) === 0, lit(null))
            .otherwise(col("o_custkey")))
      def profile(c: String, expr0: org.apache.spark.sql.Column) =
        o.select(expr0.as("v"))
          .agg(count(lit(1)).as("n_rows"),
            sum(when(col("v").isNull, 1L).otherwise(0L)).as("n_nulls"),
            countDistinct(col("v")).as("n_distinct"),
            min(col("v")).cast("string").as("min_value"),
            max(col("v")).cast("string").as("max_value"))
          .select(lit(c).as("column_name"), col("n_rows"), col("n_nulls"),
            col("n_distinct"), col("min_value"), col("max_value"))
      profile("o_orderkey", col("o_orderkey"))
        .unionByName(profile("o_custkey", col("o_custkey")))
        .unionByName(profile("o_orderstatus", col("o_orderstatus")))
        .unionByName(profile("o_orderpriority", col("o_orderpriority")))
        .unionByName(profile("price_cents", cents("o_totalprice")))
        .unionByName(profile("o_day", to_date(col("o_orderdate"))))
    },
    Some("""WITH o AS (
        SELECT o_orderkey,
          CASE WHEN o_orderkey % 89 = 0 THEN NULL ELSE o_custkey END AS o_custkey,
          o_orderstatus, o_orderpriority,
          CAST(round(o_totalprice*100) AS BIGINT) AS price_cents,
          CAST(o_orderdate AS DATE) AS o_day
        FROM orders)
      SELECT 'o_orderkey' AS column_name, COUNT(*) AS n_rows,
        CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
        COUNT(DISTINCT o_orderkey) AS n_distinct,
        CAST(MIN(o_orderkey) AS VARCHAR) AS min_value,
        CAST(MAX(o_orderkey) AS VARCHAR) AS max_value FROM o
      UNION ALL SELECT 'o_custkey', COUNT(*),
        CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        COUNT(DISTINCT o_custkey),
        CAST(MIN(o_custkey) AS VARCHAR), CAST(MAX(o_custkey) AS VARCHAR) FROM o
      UNION ALL SELECT 'o_orderstatus', COUNT(*),
        CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        COUNT(DISTINCT o_orderstatus),
        MIN(o_orderstatus), MAX(o_orderstatus) FROM o
      UNION ALL SELECT 'o_orderpriority', COUNT(*),
        CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        COUNT(DISTINCT o_orderpriority),
        MIN(o_orderpriority), MAX(o_orderpriority) FROM o
      UNION ALL SELECT 'price_cents', COUNT(*),
        CAST(SUM(CASE WHEN price_cents IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        COUNT(DISTINCT price_cents),
        CAST(MIN(price_cents) AS VARCHAR), CAST(MAX(price_cents) AS VARCHAR) FROM o
      UNION ALL SELECT 'o_day', COUNT(*),
        CAST(SUM(CASE WHEN o_day IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        COUNT(DISTINCT o_day),
        CAST(MIN(o_day) AS VARCHAR), CAST(MAX(o_day) AS VARCHAR) FROM o"""),
    "Per-column table profile: count/nulls/distinct/min/max, pruned scans")

  /** Robust outlier screen: per-segment median + MAD (median absolute
    * deviation) — the screen that, unlike q_anomaly_zscore's moments,
    * a few extreme rows cannot drag (50% breakdown point vs 0).
    * Medians are EXACT lower medians (value at rank (n+1) div 2),
    * defined identically in both engines — never an averaged even-n
    * median, which would leave integer space.
    *
    * Scale: segments = (status, year) so per-segment sorts
    * parallelize; the two window passes shuffle by segment once each
    * (exact per-group medians are inherently a per-group sort — at
    * extreme per-segment cardinality swap in the approx-percentile
    * sketch, the q_approx_sketches path). The tiny (segment-count-
    * sized) median/MAD tables broadcast back; flags and counts are
    * pure integer arithmetic. */
  val qAnomalyMad = Q(
    "q_anomaly_mad",
    (spark, dir) => {
      val base = load(spark, dir, "orders").select(
        col("o_orderstatus").as("seg"),
        year(col("o_orderdate").cast("date")).as("yr"),
        cents("o_totalprice").as("cents"))
      val wO = org.apache.spark.sql.expressions.Window
        .partitionBy("seg", "yr").orderBy(col("cents").asc)
      val wP = org.apache.spark.sql.expressions.Window.partitionBy("seg", "yr")
      val r1 = base.withColumn("rn", row_number().over(wO))
        .withColumn("n", count(lit(1)).over(wP))
      val med = r1.filter(col("rn") === expr("(n+1) div 2"))
        .select(col("seg"), col("yr"), col("cents").as("med"), col("n"))
      val dv = base.join(broadcast(med), Seq("seg", "yr"))
        .withColumn("dev", abs(col("cents") - col("med")))
      val wD = org.apache.spark.sql.expressions.Window
        .partitionBy("seg", "yr").orderBy(col("dev").asc)
      val mad = dv.withColumn("rn2", row_number().over(wD))
        .filter(col("rn2") === expr("(n+1) div 2"))
        .select(col("seg"), col("yr"), col("dev").as("mad"))
      dv.join(broadcast(mad), Seq("seg", "yr"))
        .groupBy("seg", "yr")
        .agg(max("n").as("n"), max("med").as("med_cents"),
          max("mad").as("mad_cents"),
          sum(when(col("dev") > col("mad") * 3, 1L).otherwise(0L)).as("n_outliers"))
    },
    Some("""WITH b AS (
      SELECT o_orderstatus AS seg, year(CAST(o_orderdate AS DATE)) AS yr,
        CAST(round(o_totalprice*100) AS BIGINT) AS cents FROM orders),
    r AS (
      SELECT seg, yr, cents,
        row_number() OVER (PARTITION BY seg, yr ORDER BY cents) AS rn,
        COUNT(*) OVER (PARTITION BY seg, yr) AS n
      FROM b),
    m AS (SELECT seg, yr, cents AS med, n FROM r WHERE rn = (n+1)//2),
    dv AS (
      SELECT b.seg, b.yr, abs(b.cents - m.med) AS dev, m.med, m.n
      FROM b JOIN m USING (seg, yr)),
    r2 AS (
      SELECT seg, yr, dev, med, n,
        row_number() OVER (PARTITION BY seg, yr ORDER BY dev) AS rn2
      FROM dv),
    md AS (SELECT seg, yr, dev AS mad FROM r2 WHERE rn2 = (n+1)//2)
    SELECT dv.seg, dv.yr, MAX(dv.n) AS n, MAX(dv.med) AS med_cents,
      MAX(md.mad) AS mad_cents,
      CAST(SUM(CASE WHEN dv.dev > 3*md.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM dv JOIN md ON dv.seg = md.seg AND dv.yr = md.yr
    GROUP BY dv.seg, dv.yr"""),
    "Robust median/MAD outlier screen (exact lower medians, integer flags)")

  /** Chi-square test of independence between two categorical corpus
    * attributes (lang × source) — the data-profiling check for "is my
    * language mix confounded with my source mix", i.e. whether
    * per-source sampling will silently skew the language balance.
    *
    * chi2 = Σ (o - e)²/e with e = rowtot·coltot/n. Every per-cell
    * contribution is rounded to e4 BEFORE the integer sum (the
    * lm_perplexity convention), so the statistic is merge-order
    * independent and hash-exact. dof = (|lang|-1)·(|source|-1).
    *
    * Scale: one combinable aggregate builds the contingency cells;
    * row/col totals re-aggregate the CELLS (category-count-sized,
    * never the corpus) and broadcast back; the single 1-row grand
    * total crosses as the one allowed broadcast nested loop. */
  val qChiSquare = Q(
    "q_chi_square",
    (spark, dir) => {
      val cells = load(spark, dir, "documents")
        .groupBy("lang", "source").agg(count(lit(1)).as("o"))
        .transform(CacheReleases.persisted)
      val rt = cells.groupBy("lang").agg(sum("o").as("rt"))
      val ct = cells.groupBy("source").agg(sum("o").as("ct"))
      val tot = cells.agg(sum("o").as("n"),
        countDistinct("lang").as("nl"), countDistinct("source").as("ns"))
      val e = col("rt").cast("double") * col("ct").cast("double") / col("n").cast("double")
      val contrib = round(lit(10000.0) *
        (col("o").cast("double") - e) * (col("o").cast("double") - e) / e)
        .cast("long")
      cells
        .join(broadcast(rt), Seq("lang"))
        .join(broadcast(ct), Seq("source"))
        .crossJoin(broadcast(tot))
        .select(col("n"), ((col("nl") - 1) * (col("ns") - 1)).as("dof"),
          contrib.as("c_e4"))
        .groupBy("n", "dof")
        .agg(sum(col("c_e4")).as("chi2_e4"))
    },
    Some("""WITH cells AS (
      SELECT lang, source, COUNT(*) AS o FROM documents GROUP BY 1, 2),
    rt AS (SELECT lang, CAST(SUM(o) AS BIGINT) AS rt FROM cells GROUP BY 1),
    ct AS (SELECT source, CAST(SUM(o) AS BIGINT) AS ct FROM cells GROUP BY 1),
    tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n,
      COUNT(DISTINCT lang) AS nl, COUNT(DISTINCT source) AS ns FROM cells)
    SELECT t.n, (t.nl - 1) * (t.ns - 1) AS dof,
      CAST(SUM(CAST(round(10000.0
        * (c.o::DOUBLE - r.rt::DOUBLE * x.ct::DOUBLE / t.n::DOUBLE)
        * (c.o::DOUBLE - r.rt::DOUBLE * x.ct::DOUBLE / t.n::DOUBLE)
        / (r.rt::DOUBLE * x.ct::DOUBLE / t.n::DOUBLE)) AS BIGINT))
        AS BIGINT) AS chi2_e4
    FROM cells c
    JOIN rt r ON c.lang = r.lang
    JOIN ct x ON c.source = x.source
    CROSS JOIN tot t
    GROUP BY t.n, (t.nl - 1) * (t.ns - 1)"""),
    "Chi-square independence test lang x source (cell-rounded integer statistic)")

  /** Winsorization: clip each segment's values at its exact p5/p95 —
    * the robust-preprocessing step that bounds heavy tails before
    * moment-based features (means, covariances) are trusted.
    * Percentile ranks are explicit integer formulas (lo = ⌈5n/100⌉,
    * hi = ⌈95n/100⌉, values at those ranks in the sorted segment; 5/95
    * rather than 1/99 so the caps bite even in the smallest gate-scale
    * segments — the rank formula is the operator, the percentile is a
    * parameter), so
    * both engines select identical cap values with no interpolation
    * semantics in play. Output is the per-segment clipping contract:
    * caps, clip counts each side, and the exact winsorized sum.
    *
    * Scale: same shape as q_anomaly_mad — one per-segment rank pass
    * (bounded (status, year) segments), caps broadcast back, clip +
    * sum as one combinable aggregate. */
  val qWinsorize = Q(
    "q_winsorize",
    (spark, dir) => {
      val base = load(spark, dir, "orders").select(
        col("o_orderstatus").as("seg"),
        year(col("o_orderdate").cast("date")).as("yr"),
        cents("o_totalprice").as("cents"))
      val wO = org.apache.spark.sql.expressions.Window
        .partitionBy("seg", "yr").orderBy(col("cents").asc)
      val wP = org.apache.spark.sql.expressions.Window.partitionBy("seg", "yr")
      val ranked = base.withColumn("rn", row_number().over(wO))
        .withColumn("n", count(lit(1)).over(wP))
      val caps = ranked
        .filter(col("rn") === expr("(n*5 + 99) div 100") ||
          col("rn") === expr("(n*95 + 99) div 100"))
        .groupBy("seg", "yr")
        .agg(min("cents").as("lo_cents"), max("cents").as("hi_cents"))
      base.join(broadcast(caps), Seq("seg", "yr"))
        .groupBy("seg", "yr")
        .agg(count(lit(1)).as("n"),
          min("lo_cents").as("lo_cents"), min("hi_cents").as("hi_cents"),
          sum(when(col("cents") < col("lo_cents"), 1L).otherwise(0L)).as("n_clip_lo"),
          sum(when(col("cents") > col("hi_cents"), 1L).otherwise(0L)).as("n_clip_hi"),
          sum(greatest(least(col("cents"), col("hi_cents")), col("lo_cents")))
            .as("winsor_sum_cents"))
    },
    Some("""WITH b AS (
      SELECT o_orderstatus AS seg, year(CAST(o_orderdate AS DATE)) AS yr,
        CAST(round(o_totalprice*100) AS BIGINT) AS cents FROM orders),
    r AS (
      SELECT seg, yr, cents,
        row_number() OVER (PARTITION BY seg, yr ORDER BY cents) AS rn,
        COUNT(*) OVER (PARTITION BY seg, yr) AS n
      FROM b),
    caps AS (
      SELECT seg, yr, MIN(cents) AS lo_cents, MAX(cents) AS hi_cents
      FROM r WHERE rn = (n*5 + 99)//100 OR rn = (n*95 + 99)//100
      GROUP BY 1, 2)
    SELECT b.seg, b.yr, COUNT(*) AS n,
      MIN(c.lo_cents) AS lo_cents, MIN(c.hi_cents) AS hi_cents,
      CAST(SUM(CASE WHEN b.cents < c.lo_cents THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_lo,
      CAST(SUM(CASE WHEN b.cents > c.hi_cents THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_hi,
      CAST(SUM(greatest(least(b.cents, c.hi_cents), c.lo_cents)) AS BIGINT) AS winsor_sum_cents
    FROM b JOIN caps c ON b.seg = c.seg AND b.yr = c.yr
    GROUP BY b.seg, b.yr"""),
    "Winsorize at exact per-segment p5/p95 (integer rank caps, clip counts, exact sums)")

  /** Exact ROC-AUC (Mann-Whitney U with mid-rank tie correction) —
    * the classifier-evaluation staple, computed the sort-free scalable
    * way: collapse to per-score (count, positives) FIRST (one
    * combinable aggregate), then a running sum over the per-SCORE
    * frame gives each tie group's [lo, hi] rank range; mid-ranks
    * enter doubled (lo + hi, an integer) so nothing leaves integer
    * space: AUC = (Σ_pos 2·midrank − n_pos(n_pos+1)) / (2·n_pos·n_neg)
    * in exact ppm via integral division.
    *
    * Scale: the corpus never sorts — only the distinct-score frame
    * does (bounded cardinality; here doc lengths). The demo scores
    * doc length against the lang='en' label — mechanically the real
    * metric for any (score, label) pair. */
  val qAucEval = Q(
    "q_auc_eval",
    (spark, dir) => {
      val d = load(spark, dir, "documents").select(
        col("n_chars").as("score"),
        when(col("lang") === "en", 1L).otherwise(0L).as("pos"))
      val per = d.groupBy("score")
        .agg(count(lit(1)).as("cnt"), sum("pos").as("np"))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("score").asc)
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      val r = per
        .withColumn("cum", sum(col("cnt")).over(w))
        // lo + hi = (cum - cnt + 1) + cum, the DOUBLED mid-rank
        .withColumn("contrib", col("np") * (col("cum") * 2 - col("cnt") + 1))
      r.agg(sum(col("np")).as("n_pos"),
          (sum(col("cnt")) - sum(col("np"))).as("n_neg"),
          sum(col("contrib")).as("u2"))
        .select(col("n_pos"), col("n_neg"),
          expr("""CAST((CAST(u2 - n_pos * (n_pos + 1) AS DECIMAL(38,0)) * 1000000)
            div (CAST(2 AS DECIMAL(38,0)) * n_pos * n_neg) AS BIGINT)""")
            .as("auc_ppm"))
    },
    Some("""WITH d AS (
      SELECT n_chars AS score,
        CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
      FROM documents),
    per AS (SELECT score, COUNT(*) AS cnt, CAST(SUM(pos) AS BIGINT) AS np
      FROM d GROUP BY 1),
    r AS (
      SELECT np, cnt,
        SUM(cnt) OVER (ORDER BY score ROWS BETWEEN UNBOUNDED PRECEDING
          AND CURRENT ROW) AS cum
      FROM per),
    agg AS (
      SELECT CAST(SUM(np) AS BIGINT) AS n_pos,
        CAST(SUM(cnt) - SUM(np) AS BIGINT) AS n_neg,
        CAST(SUM(np * (cum * 2 - cnt + 1)) AS BIGINT) AS u2
      FROM r)
    SELECT n_pos, n_neg,
      CAST(CAST(u2 - n_pos * (n_pos + 1) AS HUGEINT) * 1000000
        // (CAST(2 AS HUGEINT) * n_pos * n_neg) AS BIGINT) AS auc_ppm
    FROM agg"""),
    "Exact tie-corrected ROC-AUC in ppm (per-score collapse, no corpus sort)")

  val all: Seq[Q] = Seq(qGroupingSets, qUnpivot, qQuantileBins, qHistogram,
    qKAnonymity, qTableProfile, qAnomalyMad, qChiSquare, qWinsorize,
    qAucEval)
}
