package graft.queries

import graft.{CacheReleases, Q, Tables}
import graft.ops.TextOps.words
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Streaming↔batch parity, oracle-verified (VERDICT r3 item 8): the
  * foreachBatch incremental-dedup pipeline run to COMPLETION on a
  * bounded file stream, its accumulated output registered as a normal
  * oracle row. The DuckDB oracle is the BATCH q_bloom_prefilter SQL —
  * so the correctness gate itself proves the streaming execution
  * produces byte-identical results to the one-shot batch plan. That
  * holds structurally because the per-batch operator (Bloom prefilter
  * + exact verify join against a fixed history) distributes over
  * micro-batch union; this query turns the claim into a hash-checked
  * fact every round. */
object StreamQueries {
  import Tables.load

  /** `spark.sql.shuffle.partitions` = n, for [[Tables.withConf]]
    * around a STREAMING query, where it is the state-store partition
    * count, fixed at the checkpoint's first run — the state sizing
    * dial: every micro-batch pays per-partition state-store
    * open/commit/snapshot cost, so partitions must track KEY
    * CARDINALITY (state volume / target per-task state), not the
    * batch-side core count. At bench scale 32 state partitions for a
    * handful of keys made per-batch overhead dominate (q_stream_
    * stream_join 7.5 s → measured ~3× faster at 8); at corpus scale
    * the same dial turns the other way. Results are partitioning-
    * independent (hash-verified), only the constant factor moves. */
  private def statePartitions(n: Int): (String, String) =
    "spark.sql.shuffle.partitions" -> n.toString

  /** Scratch root. LOCAL-MODE-ONLY path, same note as q_csv_scan:
    * single-JVM environment makes driver-local /tmp visible to all
    * executors; a cluster run points this at shared storage. */
  val parityRoot = Tables.streamScratch("parity")

  val qStreamBatchParity = Q(
    "q_stream_batch_parity",
    (spark, dir) => {
      val inDir = s"$parityRoot/in"
      val outDir = s"$parityRoot/out"
      val ckDir = s"$parityRoot/ck"
      // fresh scratch per invocation — checkpoint state from a prior
      // run would make the file source skip "already processed" input
      val fs = new Path(parityRoot)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new Path(parityRoot), true)

      // identical history/new-docs split to q_bloom_prefilter.
      // f persisted (round 13): the history aggregate and the
      // new-docs fixture write otherwise each re-run the tokenize+md5
      // over the corpus — one derivation, two cached reads.
      val d = load(spark, dir, "documents")
      val f = d.select(col("doc_id"),
        md5(concat_ws(" ", slice(words(col("text")), 1, 5))).as("fp"))
        .transform(CacheReleases.persisted)
      val hist = f.filter(col("doc_id") % 3 === 0)
        .groupBy("fp").agg(min(col("doc_id")).as("canonical"))
        .transform(CacheReleases.persisted)
      // the "arriving" docs land as 2 parquet files = 2 micro-batches
      // (maxFilesPerTrigger=1), so the stream genuinely processes the
      // corpus incrementally rather than as one batch in disguise.
      // 2, not 4 (round 10): per-trigger latency dominated this query
      // (VERDICT r9 item 2 — the parity is trigger-bound, not
      // data-bound), and two batches already prove the incremental
      // claim — the per-batch operator distributes over micro-batch
      // union whatever the batch count.
      f.filter(col("doc_id") % 3 =!= 0).repartition(2)
        .write.mode("overwrite").parquet(inDir)

      // no state-partition dial here: foreachBatch queries keep NO
      // engine state store — fewer partitions would only cost the
      // per-batch joins their parallelism (measured 2.4 -> 2.9 s at 8)
      val stream = spark.readStream
        .schema("doc_id LONG, fp STRING")
        .option("maxFilesPerTrigger", "1")
        .parquet(inDir)
      val q = stream.writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          graft.ops.BloomOps.prefilteredJoin(hist, batch, "fp")
            .select(col("doc_id"), col("fp"), col("canonical"))
            .write.mode("append").parquet(outDir)
          ()
        }
        .option("checkpointLocation", ckDir)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      hist.unpersist()
      f.unpersist(false) // hist's first materialization (batch 1) reads it
      spark.read.parquet(outDir)
    },
    // the BATCH pipeline's oracle, verbatim — parity is the point
    Some("""WITH f AS (
      SELECT doc_id,
        md5(array_to_string((string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '))[1:5], ' ')) AS fp
      FROM documents),
    hist AS (SELECT fp, min(doc_id) AS canonical FROM f
      WHERE doc_id % 3 = 0 GROUP BY fp)
    SELECT n.doc_id, n.fp, h.canonical
    FROM (SELECT doc_id, fp FROM f WHERE doc_id % 3 != 0) n
    JOIN hist h USING (fp)"""),
    "Streaming foreachBatch incremental dedup == batch result (parity oracle)",
    conf = Q.StreamScratch)

  /** Streaming SCD2 maintenance — the dimension-update pipeline as it
    * actually runs in production: a seed history is built once, then
    * each arriving update batch advances it through the strictly-
    * incremental ops.Scd2.fold (history rows + batch only, no fact
    * re-read). Two date-windowed files arrive as ordered micro-batches
    * (maxFilesPerTrigger=1; sequential writes give strictly increasing
    * mtimes, which the file source replays in order — the same
    * in-date-order assumption every incremental warehouse load makes).
    * The final history is hash-compared against the FULL-REBUILD SQL:
    * chained fold-of-fold converges to from-scratch truth, proven
    * every round.
    *
    * Each fold ends in localCheckpoint(): the history is the loop
    * state, and without the barrier its plan doubles per batch (the
    * Components round-3 lesson). Same LOCAL-MODE-ONLY scratch-path
    * note as q_stream_batch_parity. */
  val scd2Root = Tables.streamScratch("scd2")

  val qStreamScd2Parity = Q(
    "q_stream_scd2_parity",
    (spark, dir) => {
      val inDir = s"$scd2Root/in"
      val ckDir = s"$scd2Root/ck"
      val fs = new Path(scd2Root)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new Path(scd2Root), true)

      val cutoff = "2001-06-01"
      // persisted (round 13): the seed history plus the two
      // update-window fixture writes are three scans of the same
      // projection — one derivation, three cached reads
      val o = AnalyticsQueries.ordersProjected(spark, dir)
        .transform(CacheReleases.persisted)
      var hist = CacheReleases.checkpointed(
        graft.ops.Scd2.history(o.filter(col("d") < lit(cutoff))), eager = true)
      // two update windows, not three (round 10): the chained-fold
      // claim needs >= 2 folds over the seed (fold-of-fold); the third
      // bought only another trigger's latency (VERDICT r9 item 2)
      Seq(("2001-06-01", "2001-08-01"), ("2001-08-01", "2002-01-01"))
        .foreach { case (lo, hi) =>
        o.filter(col("d") >= lit(lo) && col("d") < lit(hi))
          .coalesce(1).write.mode("append").parquet(inDir)
      }
      o.unpersist(false)
      // foreachBatch-only (no engine state store) — see the
      // q_stream_batch_parity note; the dial stays off here too
      val stream = spark.readStream
        .schema("o_custkey LONG, o_orderkey LONG, d DATE, st STRING")
        .option("maxFilesPerTrigger", "1")
        .parquet(inDir)
      val q = stream.writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          if (!batch.isEmpty) {
            hist = CacheReleases.checkpointed(graft.ops.Scd2.fold(hist, batch), eager = true)
          }
          ()
        }
        .option("checkpointLocation", ckDir)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      hist
    },
    Some(AnalyticsQueries.scd2Sql),
    "Streaming SCD2: chained incremental folds == full rebuild (parity oracle)",
    conf = Q.StreamScratch ++ Q.Unfused)

  /** Streaming dedup with WATERMARKED state —
    * `dropDuplicatesWithinWatermark`, the built-in Structured
    * Streaming operator the two foreachBatch parities don't cover:
    * dedup state lives INSIDE the engine and is expired by the event-
    * time watermark, which is what makes infinite-stream dedup
    * feasible at all (unbounded streams cannot keep unbounded state;
    * the watermark bounds it to the late-arrival window).
    *
    * Fixture: every event_id % 5 == 0 event is re-delivered in a LATER
    * micro-batch (at-least-once delivery, the case the operator
    * exists for). The watermark delay exceeds the fixture's full time
    * span, so no state expires mid-run and the streamed output must
    * equal exactly one row per event — which is precisely the batch
    * oracle (the seeded re-deliveries are byte-identical copies, so
    * the oracle is simply the original projection of `events`). A
    * surviving duplicate fails rows_match; a dropped original fails
    * hash_match. Same LOCAL-MODE scratch-path note as the other
    * stream parities. */
  val wmRoot = Tables.streamScratch("wmdedup")

  val qStreamWatermarkDedup = Q(
    "q_stream_watermark_dedup",
    (spark, dir) => {
      val inDir = s"$wmRoot/in"
      val outDir = s"$wmRoot/out"
      val ckDir = s"$wmRoot/ck"
      val fs = new Path(wmRoot)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new Path(wmRoot), true)

      val ev = load(spark, dir, "events").select(
        col("event_id"), col("ts"), col("user_id"), col("event_type"),
        round(col("value") * 100).cast("long").as("cents"))
      // originals first (1 file), then the re-delivered copies (1
      // file, strictly later mtime → later micro-batch) — two triggers
      // total; the operator's contract (dup arrives in a LATER batch,
      // state must remember the original) needs exactly two
      ev.coalesce(1).write.mode("overwrite").parquet(inDir)
      ev.filter(col("event_id") % 5 === 0)
        .coalesce(1).write.mode("append").parquet(inDir)

      // 4, not 8 (round-11 P28 re-sweep after the tmpfs scratch move —
      // cheap fsyncs moved the curve: p4 1.58 / p8 1.69 s five-pass
      // interleaved medians; results partitioning-independent)
      Tables.withConf(spark, statePartitions(4)) {
        val stream = spark.readStream
          .schema("event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, cents LONG")
          .option("maxFilesPerTrigger", "1")
          .parquet(inDir)
        val deduped = stream
          .withWatermark("ts", "3650 days")
          .dropDuplicatesWithinWatermark("event_id")
        val q = deduped.writeStream
          .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
            batch.select(col("event_id"),
                col("ts").cast("long").as("ts_s"), col("user_id"),
                col("event_type"), col("cents"))
              .write.mode("append").parquet(outDir)
            ()
          }
          .option("checkpointLocation", ckDir)
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      spark.read.parquet(outDir)
    },
    Some("""SELECT event_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
      user_id, event_type,
      CAST(round(value*100) AS BIGINT) AS cents
      FROM events"""),
    "Streaming watermarked dedup: re-delivered events collapse to the batch set",
    conf = Q.StreamScratch)

  /** Watermarked STREAM-STREAM inner join — the remaining Structured
    * Streaming state shape (two-sided buffered state, expired by the
    * pair of watermarks plus an explicit event-time bound): clicks
    * join purchases by the same user within the following hour. Both
    * sides buffer only the watermark-bounded window — without the
    * time-range condition the state is unbounded and the query is
    * unrunnable at scale, which is exactly the discipline this
    * operator demonstrates.
    *
    * Each matched pair is emitted exactly once regardless of which
    * micro-batch each side arrived in, so the accumulated output must
    * equal the batch time-bounded join — the oracle. Same LOCAL-MODE
    * scratch-path note as the other stream parities. */
  val ssjRoot = Tables.streamScratch("ssj")

  val qStreamStreamJoin = Q(
    "q_stream_stream_join",
    (spark, dir) => {
      val fs = new Path(ssjRoot)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new Path(ssjRoot), true)

      val ev = load(spark, dir, "events")
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
      ev.filter(col("event_type") === "click")
        .select(col("event_id").as("c_id"), col("ts").as("c_ts"),
          col("user_id").as("c_user"))
        .repartition(2).write.mode("overwrite").parquet(s"$ssjRoot/clicks")
      ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("ts").as("p_ts"),
          col("user_id").as("p_user"))
        .repartition(2).write.mode("overwrite").parquet(s"$ssjRoot/purchases")

      // 4 state partitions, not 8: two-sided join state pays the
      // per-partition store open/commit/snapshot cost TWICE per batch
      // (one store per side), so this query sits lower on the
      // partition-count curve than the single-store parities
      // (round-10 same-host A/B: 8->4 partitions 4.17 -> 3.89 s median,
      // min 3.53 -> 2.94, while 2 partitions regressed to 4.38 s;
      // results partitioning-independent, hash-verified; round-11 P28
      // post-tmpfs re-sweep confirms: p1/p2/p4 flat at ~2.98,
      // p8 3.37 s — 4 stays)
      Tables.withConf(spark, statePartitions(4)) {
        val clicks = spark.readStream
          .schema("c_id LONG, c_ts TIMESTAMP, c_user LONG")
          .option("maxFilesPerTrigger", "1").parquet(s"$ssjRoot/clicks")
          .withWatermark("c_ts", "3650 days")
        val purchases = spark.readStream
          .schema("p_id LONG, p_ts TIMESTAMP, p_user LONG")
          .option("maxFilesPerTrigger", "1").parquet(s"$ssjRoot/purchases")
          .withWatermark("p_ts", "3650 days")
        val joined = clicks.join(purchases, expr(
          "c_user = p_user AND p_ts >= c_ts AND p_ts <= c_ts + interval 1 hour"))
        val q = joined.writeStream
          .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
            batch.select(col("c_id"), col("p_id"), col("c_user").as("user_id"),
                (col("p_ts").cast("long") - col("c_ts").cast("long")).as("gap_s"))
              .write.mode("append").parquet(s"$ssjRoot/out")
            ()
          }
          .option("checkpointLocation", s"$ssjRoot/ck")
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      spark.read.parquet(s"$ssjRoot/out")
    },
    Some("""SELECT c.event_id AS c_id, p.event_id AS p_id, c.user_id,
      CAST(floor(epoch(p.ts)) - floor(epoch(c.ts)) AS BIGINT) AS gap_s
      FROM events c JOIN events p
        ON c.user_id = p.user_id
       AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
      WHERE c.event_type = 'click' AND p.event_type = 'purchase'"""),
    "Watermarked stream-stream join == the batch time-bounded join (parity oracle)",
    conf = Q.StreamScratch)

  /** Stateful streaming SESSIONIZATION parity — the remaining
    * Structured Streaming state shape after the foreachBatch /
    * watermark-dedup / stream-stream-join parities:
    * `flatMapGroupsWithState` with per-user O(1) session state
    * ([[graft.streaming.EventOps.sessionizeStreaming]]), run to
    * completion on a bounded chronological file stream and
    * hash-compared against the BATCH window-function sessionizer's
    * oracle on the same input.
    *
    * The stream arrives as 2 micro-batches split at the time midpoint
    * (written in order; maxFilesPerTrigger=1), so sessions genuinely
    * SPAN the micro-batch boundary and the state carry-over is what's
    * being proven. A final sentinel batch (one far-future event per user,
    * event_id = -1) closes every open session — Append-mode
    * flatMapGroupsWithState only emits CLOSED sessions, and the
    * sentinel's own session stays open and unemitted, so streamed
    * output == all batch sessions exactly.
    *
    * Timestamps are truncated to whole seconds on BOTH sides (input
    * projection + oracle): the session state keys on epoch-millis,
    * the batch form floors to epoch-seconds, and the fixture carries
    * microseconds — truncation makes gap arithmetic identical in
    * any unit (a production state would store micros instead).
    * user_id is compressed mod 10: the raw fixture averages ~2 events
    * per user per DAY against a 30-minute gap, so nearly every
    * session is a single event and state carry-over would go
    * untested; 10 dense synthetic users yield thousands of
    * multi-event sessions at the gate SF. The micro-batch cut is
    * anchored to an INTERIOR session event (an event whose predecessor
    * is in the same session and strictly earlier), so at least one
    * session provably spans the cut at any SF — StreamingSpec pins
    * this non-vacuousness. State-store partitions follow key
    * cardinality (10 users → 8 partitions), the q_stream_stream_join
    * sizing note. Same LOCAL-MODE scratch-path note as the other
    * parities. */
  val sessRoot = Tables.streamScratch("sess")

  /** Second-truncated, user-compressed event stream for the
    * sessionization parity fixture. */
  private[graft] def sessionEvents(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    load(spark, dir, "events")
      .select(col("event_id"), date_trunc("second", col("ts")).as("ts"),
        pmod(col("user_id"), lit(10)).as("user_id"),
        col("event_type"), col("value"))

  /** ONE micro-batch cut instant, anchored to an interior session
    * event at/after the time midpoint (falling back to the bare
    * midpoint if no interior event follows it): the anchored event's
    * session has rows strictly before AND at/after the cut, so
    * cross-batch state carry-over is exercised by construction.
    * One cut, not three (round 10): the carry-over proof needs one
    * provably-spanned boundary, and each extra cut bought only another
    * state-store trigger's latency (VERDICT r9 item 2 — the six
    * parities were trigger-bound, not data-bound). One 2-scalar
    * action + one 1-scalar action. */
  private[graft] def sessionCuts(ev: org.apache.spark.sql.DataFrame)
      : (Long, Long, Seq[Long]) = {
    import ev.sparkSession.implicits._
    import org.apache.spark.sql.expressions.Window
    val (tMin, tMax) = ev.agg(
      min(col("ts").cast("long")), max(col("ts").cast("long")))
      .as[(Long, Long)].collect().head
    val mid = tMin + math.max(1L, (tMax - tMin + 2) / 2)
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").asc, col("event_id").asc)
    val interior = ev
      .withColumn("p", lag(col("ts"), 1).over(w).cast("long"))
      .select(col("ts").cast("long").as("t"), col("p"))
      .filter(col("p").isNotNull && col("p") < col("t") &&
        col("t") - col("p") <= 1800L)
    val row = interior.agg(
      min(when(col("t") >= mid, col("t")))).collect().head
    val cuts = Seq(if (row.isNullAt(0)) mid else row.getLong(0))
    (tMin, tMax, cuts)
  }

  val qStreamSessionParity = Q(
    "q_stream_session_parity",
    (spark, dir) => {
      import spark.implicits._
      val inDir = s"$sessRoot/in"
      val outDir = s"$sessRoot/out"
      val ckDir = s"$sessRoot/ck"
      val fs = new Path(sessRoot)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new Path(sessRoot), true)

      val ev = sessionEvents(spark, dir)
      val (_, tMax, cuts) = sessionCuts(ev)
      val bounds = (Long.MinValue +: cuts) :+ (tMax + 1)
      bounds.sliding(2).foreach { case Seq(lo, hi) =>
        ev.filter(col("ts").cast("long") >= lo && col("ts").cast("long") < hi)
          .coalesce(1).write.mode("append").parquet(inDir)
      }
      // sentinel: one far-future event per user closes all open sessions
      ev.select(col("user_id")).distinct()
        .select(lit(-1L).as("event_id"),
          lit(tMax + 1801L).cast("timestamp").as("ts"), col("user_id"),
          lit("sentinel").as("event_type"), lit(0.0).as("value"))
        .coalesce(1).write.mode("append").parquet(inDir)

      // 4, not 8 (round-11 P28 post-tmpfs re-sweep: p4 2.45 / p8 2.53 s
      // five-pass interleaved medians — small but consistent)
      Tables.withConf(spark, statePartitions(4)) {
        val stream = spark.readStream
          .schema("event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE")
          .option("maxFilesPerTrigger", "1")
          .parquet(inDir)
          .as[graft.streaming.EventOps.Event]
        val q = graft.streaming.EventOps.sessionizeStreaming(stream, 30,
            org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout)
          .writeStream
          .format("parquet")
          .option("path", outDir)
          .option("checkpointLocation", ckDir)
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      spark.read.parquet(outDir)
    },
    // the batch sessionizer's oracle on second-truncated input, with
    // the same (user_id, session_start, n_events) projection
    Some("""WITH e AS (
      SELECT event_id, date_trunc('second', ts) AS ts,
        user_id % 10 AS user_id FROM events),
    g AS (
      SELECT user_id, ts, event_id,
        CASE WHEN lag(ts) OVER w IS NULL
              OR floor(epoch(ts)) - floor(epoch(lag(ts) OVER w)) > 1800
             THEN 1 ELSE 0 END AS brk
      FROM e
      WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
    s AS (
      SELECT user_id, ts,
        CAST(SUM(brk) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
      FROM g)
    SELECT user_id, min(ts) AS session_start, COUNT(*) AS n_events
    FROM s GROUP BY user_id, session_seq"""),
    "Stateful streaming sessionization == batch window sessionizer (parity oracle)",
    conf = Q.StreamScratch)

  /** Watermarked WINDOW-AGGREGATE parity — the first streaming shape
    * anyone writes (tumbling-window counts in Append mode) proven
    * equal to the batch plan it shares
    * ([[graft.streaming.EventOps.windowedCounts]] is literally the
    * same function both ways). Append mode only emits a window once
    * the watermark passes its end, so a final sentinel event (2 hours
    * past the real maximum, one synthetic row) pushes the watermark
    * beyond every real window; the sentinel's own window stays open
    * and unemitted. Events arrive as 2 chronological micro-batches —
    * windows spanning the cut accumulate state across batches before
    * closing, which is the aggregation-state carry-over this parity
    * pins (the sessionization twin pins the arbitrary-state path;
    * 2 batches, not 4, round 10 — one spanned boundary proves the
    * carry-over, extra batches only bought trigger latency).
    * The oracle is the batch q_events_window SQL verbatim. Same
    * LOCAL-MODE scratch-path note as the other parities. */
  val winRoot = Tables.streamScratch("win")

  val qStreamWindowParity = Q(
    "q_stream_window_parity",
    (spark, dir) => {
      import spark.implicits._
      val inDir = s"$winRoot/in"
      val outDir = s"$winRoot/out"
      val ckDir = s"$winRoot/ck"
      val fs = new Path(winRoot)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new Path(winRoot), true)

      val ev = load(spark, dir, "events")
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
      val (tMin, tMax) = ev.agg(
        min(col("ts").cast("long")), max(col("ts").cast("long")))
        .as[(Long, Long)].collect().head
      val step = math.max(1L, (tMax - tMin + 2) / 2)
      (0 until 2).foreach { i =>
        val lo = tMin + i * step
        val hi = if (i == 1) tMax + 1 else tMin + (i + 1) * step
        ev.filter(col("ts").cast("long") >= lo && col("ts").cast("long") < hi)
          .coalesce(1).write.mode("append").parquet(inDir)
      }
      // sentinel pushes the watermark past every real window
      spark.range(1)
        .select(lit(-1L).as("event_id"),
          lit(tMax + 7200L).cast("timestamp").as("ts"),
          lit(-1L).as("user_id"), lit("sentinel").as("event_type"),
          lit(0.0).as("value"))
        .coalesce(1).write.mode("append").parquet(inDir)

      // 2, not 8 (round-11 P28 post-tmpfs re-sweep: p2 2.38 / p4 2.55 /
      // p8 2.68 s five-pass interleaved medians, p2 best in the 3-pass
      // sweep too). The per-key state here is a tiny running count, so
      // fewer stores win until key VOLUME (windows × types) outgrows a
      // task — the cardinality note on statePartitions.
      Tables.withConf(spark, statePartitions(2)) {
        val stream = spark.readStream
          .schema("event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE")
          .option("maxFilesPerTrigger", "1")
          .parquet(inDir)
        val q = graft.streaming.EventOps
          .streamingWindowedCounts(stream, "1 hour", "1 second")
          .writeStream
          .outputMode("append")
          .format("parquet")
          .option("path", outDir)
          .option("checkpointLocation", ckDir)
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      spark.read.parquet(outDir)
    },
    // the batch q_events_window oracle, verbatim — parity is the point
    Some("""SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start,
      event_type, COUNT(*) AS n_events,
      CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS value_cents
      FROM events GROUP BY 1, 2"""),
    "Watermarked streaming window aggregate == the batch window plan (parity oracle)",
    conf = Q.StreamScratch)

  val all: Seq[Q] = Seq(qStreamBatchParity, qStreamScd2Parity,
    qStreamWatermarkDedup, qStreamStreamJoin, qStreamSessionParity,
    qStreamWindowParity)
}
