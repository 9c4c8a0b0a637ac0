package graft.ops

import graft.CacheReleases
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Global total-order rank WITHOUT a single-partition sort.
  *
  * A bare `row_number() OVER (ORDER BY ...)` (or ntile/percent_rank)
  * moves the whole input through ONE partition — the canonical
  * scale-killer for global ranking at fact-table size. The scalable
  * shape (the zipWithIndex pattern, expressed in DataFrame terms):
  *
  *   1. `repartitionByRange` on the sort key — Spark samples range
  *      boundaries, every partition holds a contiguous key range, the
  *      sort parallelizes across all of them;
  *   2. `sortWithinPartitions` — no further exchange;
  *   3. per-partition row counts via ONE k-row action (k = number of
  *      partitions), prefix-summed on the driver into offsets;
  *   4. within-partition position from `monotonically_increasing_id()`
  *      (documented layout: partitionId * 2^33 + row index within the
  *      partition, assigned in row order of the sorted stage), plus
  *      the broadcast offset of the partition = global 1-based rank.
  *
  * The only data movement is the one range exchange; the offsets table
  * is k rows and broadcast. Rank values are deterministic for any
  * boundary sampling as long as the sort key is a total order (callers
  * must include a unique tiebreak column).
  */
object GlobalRank {
  private val PART_BITS = 33L // monotonically_increasing_id partition stride

  /** Adds `rankCol` = 1-based global rank by `sortCols` (must be a
    * total order) and returns (frame, totalCount). One extra k-row
    * action computes the per-partition offsets. */
  def withGlobalRank(df: DataFrame, sortCols: Seq[Column], rankCol: String,
      numParts: Int): (DataFrame, Long) = {
    val ranged = df
      .repartitionByRange(numParts, sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
      .withColumn("__gr_mid", monotonically_increasing_id())
      .withColumn("__gr_pid", shiftright(col("__gr_mid"), PART_BITS.toInt))
      .withColumn("__gr_local",
        col("__gr_mid").bitwiseAND(lit((1L << PART_BITS) - 1)))
      .transform(CacheReleases.persisted)
    val counts = ranged.groupBy(col("__gr_pid")).count()
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val offsets = counts.scanLeft((-1L, 0L)) { case ((_, acc), (pid, n)) =>
      (pid, acc + n)
    }.tail.zip(counts).map { case ((pid, cum), (_, n)) => (pid, cum - n) }
    val total = counts.map(_._2).sum
    val spark = df.sparkSession
    import spark.implicits._
    val offDf = offsets.toSeq.toDF("__gr_pid", "__gr_off")
    val ranked = ranged
      .join(broadcast(offDf), Seq("__gr_pid"))
      .withColumn(rankCol, col("__gr_off") + col("__gr_local") + 1L)
      .drop("__gr_mid", "__gr_pid", "__gr_local", "__gr_off")
    (ranked, total)
  }

  /** Adds `outCol` = running sum of `deltaCol` in the global
    * `sortCols` order WITHOUT a single-partition window — the
    * distributed sweep-line primitive (max-concurrency, inventory
    * levels, watermark tracking all reduce to it).
    *
    * Same shape as [[withGlobalRank]]: one range exchange, partition-
    * local sorted prefix sums (a window PARTITIONED by the physical
    * partition id — never a global window), one k-row action for the
    * per-partition delta totals, exclusive-prefix offsets broadcast
    * back. Callers must make `sortCols` a total order. `deltaCol` may
    * be nullable — null deltas contribute 0 to the running sum (both
    * the per-partition totals and the in-partition prefix are
    * coalesced), never an NPE or a null outCol. */
  def withRunningSum(df: DataFrame, sortCols: Seq[Column], deltaCol: Column,
      outCol: String, numParts: Int): DataFrame = {
    val ranged = df
      .withColumn("__gr_d", deltaCol)
      .repartitionByRange(numParts, sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
      .withColumn("__gr_pid", spark_partition_id())
      .transform(CacheReleases.persisted)
    // coalesce(sum, 0): an all-null delta partition aggregates to a
    // null sum, and a bare getLong would NPE at the driver (latent —
    // current callers pass lit(±1), but the contract allows nullable
    // deltas; a null delta contributes 0 to the sweep either way)
    val totals = ranged.groupBy(col("__gr_pid"))
      .agg(coalesce(sum(col("__gr_d")), lit(0L)).cast("long").as("t"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    val offsets = totals.scanLeft((-1, 0L)) { case ((_, acc), (pid, t)) =>
      (pid, acc + t)
    }.tail.zip(totals).map { case ((pid, cum), (_, t)) => (pid, cum - t) }
    val spark = df.sparkSession
    import spark.implicits._
    val offDf = offsets.toSeq.toDF("__gr_pid", "__gr_off")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__gr_pid"))
      .orderBy(sortCols: _*)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    ranged
      .join(broadcast(offDf), Seq("__gr_pid"))
      .withColumn(outCol,
        col("__gr_off") + coalesce(sum(col("__gr_d")).over(w), lit(0L)))
      .drop("__gr_pid", "__gr_d", "__gr_off")
  }

  /** SQL NTILE(k) bucket from a 1-based global rank over n rows —
    * the closed form both Spark and DuckDB implement: the first
    * n mod k buckets get ceil(n/k) rows, the rest floor(n/k). */
  def ntileFromRank(rank: Column, n: Long, k: Int): Column = {
    val q = n / k
    val rem = n % k
    val bigCut = rem * (q + 1) // ranks 1..bigCut live in the big buckets
    when(rank <= bigCut, floor((rank - 1) / (q + 1)) + 1)
      .otherwise(lit(rem) + floor((rank - bigCut - 1) / q) + 1)
      .cast("int")
  }
}
