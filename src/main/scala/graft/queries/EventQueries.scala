package graft.queries

import graft.{CacheReleases, Q, Tables}
import graft.ops.Multimodal
import graft.streaming.EventOps
import org.apache.spark.sql.functions._

/** Event-time analytics over `events`, the multimodal decode boundary
  * over `documents`, and the grouping-sets family over `lineitem`. */
object EventQueries {
  import Tables.load

  /** Tumbling 1-hour event-time window counts — the batch face of the
    * shared batch/streaming plan (EventOps.windowedCounts; streaming
    * twin exercised in StreamingSpec). */
  val qEventsWindow = Q(
    "q_events_window",
    (spark, dir) => {
      EventOps.windowedCounts(load(spark, dir, "events"))
    },
    Some("""SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start,
      event_type, COUNT(*) AS n_events,
      CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS value_cents
      FROM events GROUP BY 1, 2"""),
    "Tumbling event-time window aggregation (batch/streaming shared plan)")

  /** Sessionization (30-min inactivity gap) via lag + running-sum
    * windows — batch equivalent of the mapGroupsWithState streaming
    * op; one shuffle on user_id. */
  val qEventsSessionize = Q(
    "q_events_sessionize",
    (spark, dir) => {
      EventOps.sessionizeBatch(load(spark, dir, "events"))
    },
    Some("""WITH g AS (
      SELECT user_id, ts, event_id,
        CASE WHEN lag(ts) OVER w IS NULL
              OR floor(epoch(ts)) - floor(epoch(lag(ts) OVER w)) > 1800
             THEN 1 ELSE 0 END AS brk
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
    s AS (
      SELECT user_id, ts,
        CAST(SUM(brk) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
      FROM g)
    SELECT user_id, session_seq, min(ts) AS session_start,
      max(ts) AS session_end, COUNT(*) AS n_events
    FROM s GROUP BY user_id, session_seq"""),
    "Sessionization by inactivity gap (batch twin of stateful streaming)")

  /** Multimodal decode boundary: deterministic multi-frame PPM
    * payloads through the batched mapPartitions parser
    * (Multimodal.decodeFeatures — a REAL byte-level decode, including
    * a full raster scan). The oracle recomputes every feature from the
    * fixture's closed forms: dims/frames from the text length, n_bytes
    * from the header+raster layout, pixel_sum from the constant-fill
    * frames — so a decoder that skipped or misread bytes hash-fails. */
  val qMultimodalDecode = Q(
    "q_multimodal_decode",
    (spark, dir) => {
      val packed = Multimodal.packPpm(load(spark, dir, "documents"), "doc_id", "text")
      Multimodal.decodeFeatures(packed).toDF()
    },
    Some("""WITH d AS (
      SELECT doc_id, octet_length(encode(text)) AS n FROM documents),
    dims AS (
      SELECT doc_id,
        CAST(1 + n % 64 AS INTEGER) AS width,
        CAST(1 + n % 48 AS INTEGER) AS height,
        CAST(1 + n % 7 AS INTEGER) AS n_frames
      FROM d)
    SELECT doc_id, 'image/x-portable-pixmap' AS mime,
      CAST(n_frames * (9 + length(CAST(width AS VARCHAR))
        + length(CAST(height AS VARCHAR)) + width*height*3) AS BIGINT) AS n_bytes,
      width, height, 3 AS channels, n_frames,
      CAST(list_sum([((doc_id + f) % 256) * width * height * 3
        FOR f IN range(n_frames)]) AS BIGINT) AS pixel_sum
    FROM dims"""),
    "Multimodal: real PPM byte-level decode via batched mapPartitions")

  /** Second multimodal container (VERDICT r3 item 7): RIFF/WAVE PCM
    * audio through the same batched typed-decode boundary as the PPM
    * family — header grammar, fmt-chunk fields, and a full sample
    * scan, no codec dependency. The oracle recomputes every feature
    * (incl. the all-samples sum) from the fixture's closed forms, so
    * a decoder that skipped the data chunk hash-fails. */
  val qMultimodalAudio = Q(
    "q_multimodal_audio",
    (spark, dir) => {
      val packed = Multimodal.packWav(load(spark, dir, "documents"), "doc_id", "text")
      Multimodal.decodeAudio(packed).toDF()
    },
    Some("""WITH d AS (
      SELECT doc_id, octet_length(encode(text)) AS n FROM documents),
    p AS (
      SELECT doc_id,
        CAST(1 + doc_id % 2 AS INTEGER) AS channels,
        CAST(8000 + (n % 3) * 4000 AS INTEGER) AS sample_rate,
        CAST(64 + n % 256 AS INTEGER) AS n_samples
      FROM d)
    SELECT doc_id, 'audio/wav' AS mime,
      CAST(44 + n_samples * channels * 2 AS BIGINT) AS n_bytes,
      channels, sample_rate, 16 AS bits, n_samples,
      CAST(list_sum([(doc_id*31 + j*7) % 65536 - 32768
        FOR j IN range(n_samples * channels)]) AS BIGINT) AS sample_sum
    FROM p"""),
    "Multimodal: RIFF/WAVE PCM byte-level decode via batched mapPartitions")

  /** Windowed audio features: per-256-value frame sums computed in
    * the SAME byte pass as the decode (no per-row samples array ever
    * materializes); frame rows multiply only after the payload is
    * dropped, so what shuffles is a table of integers — the audio
    * twin of q_multimodal_frames' decode-then-window discipline. The
    * oracle recomputes every frame sum from the fixture's closed-form
    * sample formula, so a windowing bug (off-by-one frame boundary,
    * missed tail frame) hash-fails. */
  val qAudioFrames = Q(
    "q_audio_frames",
    (spark, dir) => {
      val packed = Multimodal.packWav(load(spark, dir, "documents"), "doc_id", "text")
      Multimodal.frameEnergies(packed, 256).toDF()
    },
    Some("""WITH d AS (
      SELECT doc_id, octet_length(encode(text)) AS n FROM documents),
    p AS (
      SELECT doc_id,
        (1 + doc_id % 2) * (64 + n % 256) AS m
      FROM d),
    f AS (
      SELECT doc_id, m, unnest(range((m + 255) // 256)) AS fi FROM p)
    SELECT doc_id, CAST(fi AS INTEGER) AS frame_idx,
      CAST(LEAST(256, m - fi * 256) AS INTEGER) AS n_vals,
      CAST(list_sum([(doc_id*31 + j*7) % 65536 - 32768
        FOR j IN range(fi * 256, LEAST(m, (fi + 1) * 256))]) AS BIGINT)
        AS frame_sum
    FROM f"""),
    "Multimodal audio: per-frame PCM sums in one decode pass (windowed features)")

  /** Multimodal pre-processing chain: decode → aspect-preserving
    * resize to a 224-box → uniform frame sampling (≤ 4 frames).
    * The decode is the real PPM parser; resize/stride arithmetic is
    * integer letterbox + strictly increasing sample indices. Frames
    * multiply rows AFTER payload bytes are dropped — media bytes never
    * explode or shuffle. */
  val qMultimodalFrames = Q(
    "q_multimodal_frames",
    (spark, dir) => {
      val packed = Multimodal.packPpm(load(spark, dir, "documents"), "doc_id", "text")
      val feats = Multimodal.decodeFeatures(packed).toDF()
      Multimodal.sampleFrames(Multimodal.fitSquare(feats, 224), 4)
        .select(col("doc_id"), col("width"), col("height"),
          col("out_w"), col("out_h"), col("n_frames"), col("frame_idx"))
    },
    Some("""WITH d AS (
      SELECT doc_id,
        CAST(1 + octet_length(encode(text)) % 64 AS INTEGER) AS width,
        CAST(1 + octet_length(encode(text)) % 48 AS INTEGER) AS height,
        CAST(1 + octet_length(encode(text)) % 7 AS INTEGER) AS n_frames
      FROM documents),
    r AS (
      SELECT *,
        greatest(1, CAST((width * 224) // greatest(width, height) AS INTEGER)) AS out_w,
        greatest(1, CAST((height * 224) // greatest(width, height) AS INTEGER)) AS out_h
      FROM d),
    f AS (
      SELECT *, unnest(generate_series(0, least(n_frames, 4) - 1)) AS i
      FROM r)
    SELECT doc_id, width, height, out_w, out_h, n_frames,
      CAST(CASE WHEN n_frames <= 4 THEN i
                ELSE (i * (n_frames - 1)) // 3 END AS INTEGER) AS frame_idx
    FROM f"""),
    "Multimodal: decode → letterbox resize → uniform frame sampling")

  /** ROLLUP hierarchy totals (grouping-sets family). */
  val qRollupAgg = Q(
    "q_rollup_agg",
    (spark, dir) => {
      load(spark, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"),
          sum(round(col("l_extendedprice") * 100).cast("long")).as("price_cents"))
    },
    Some("""SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
      CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS price_cents
      FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)"""),
    "ROLLUP aggregation (grouping-sets family)")

  /** CUBE over two dimensions. */
  val qCubeAgg = Q(
    "q_cube_agg",
    (spark, dir) => {
      load(spark, dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n"))
    },
    Some("""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
      FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)"""),
    "CUBE aggregation (grouping-sets family)")

  /** Rolling 1-hour RANGE window per user (event-time, second
    * granularity): count + value sum over [t-3599s, t]. RANGE frames
    * include peer rows by definition, so same-second ties resolve
    * identically in any engine — no tiebreak needed. One shuffle on
    * user_id. */
  val qEventsRolling = Q(
    "q_events_rolling",
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts").cast("long"))
        .rangeBetween(-3599, Window.currentRow)
      load(spark, dir, "events").select(
        col("user_id"), col("event_id"), col("ts"),
        count(lit(1)).over(w).as("n_events_1h"),
        sum(round(col("value") * 100).cast("long")).over(w).as("value_cents_1h"))
    },
    Some("""SELECT user_id, event_id, ts,
      COUNT(*) OVER w AS n_events_1h,
      CAST(SUM(CAST(round(value*100) AS BIGINT)) OVER w AS BIGINT) AS value_cents_1h
      FROM events
      WINDOW w AS (PARTITION BY user_id
        ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
        RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW)"""),
    "Rolling event-time RANGE window: 1-hour trailing count + sum")

  /** Funnel analysis: signup → click → purchase, each stage's
    * timestamp being the user's earliest event of that type at-or-
    * after the previous stage. Three grouped aggregates chained by
    * broadcast joins on the (small) per-user stage table — event rows
    * shuffle once per stage, user rows broadcast. */
  val qEventsFunnel = Q(
    "q_events_funnel",
    (spark, dir) => {
      val e = load(spark, dir, "events").select("user_id", "event_type", "ts")
      val s1 = e.filter(col("event_type") === "signup")
        .groupBy("user_id").agg(min(col("ts")).as("t1"))
      val s2 = e.join(broadcast(s1), Seq("user_id"))
        .filter(col("event_type") === "click" && col("ts") >= col("t1"))
        .groupBy("user_id").agg(min(col("ts")).as("t2"))
      val s3 = e.join(broadcast(s2), Seq("user_id"))
        .filter(col("event_type") === "purchase" && col("ts") >= col("t2"))
        .groupBy("user_id").agg(min(col("ts")).as("t3"))
      s1.agg(count(lit(1)).as("n_signup"))
        .crossJoin(s2.agg(count(lit(1)).as("n_click_after_signup")))
        .crossJoin(s3.agg(count(lit(1)).as("n_purchase_after_click")))
    },
    Some("""WITH s1 AS (
      SELECT user_id, min(ts) AS t1 FROM events
      WHERE event_type = 'signup' GROUP BY user_id),
    s2 AS (
      SELECT e.user_id, min(e.ts) AS t2 FROM events e JOIN s1 USING (user_id)
      WHERE e.event_type = 'click' AND e.ts >= s1.t1 GROUP BY e.user_id),
    s3 AS (
      SELECT e.user_id, min(e.ts) AS t3 FROM events e JOIN s2 USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts >= s2.t2 GROUP BY e.user_id)
    SELECT (SELECT COUNT(*) FROM s1) AS n_signup,
      (SELECT COUNT(*) FROM s2) AS n_click_after_signup,
      (SELECT COUNT(*) FROM s3) AS n_purchase_after_click"""),
    "Funnel: staged sequential conversion counts (signup→click→purchase)")

  /** Sliding event-time windows (1 hour, 30-minute slide): each event
    * lands in exactly two overlapping buckets; the expansion is
    * row-local (a generate, not a join) and the aggregate combines
    * map-side. Oracle derives the same two epoch-aligned starts per
    * event arithmetically. */
  val qEventsSliding = Q(
    "q_events_sliding",
    (spark, dir) => {
      // project to the 3 needed columns (with cents already derived)
      // BEFORE the window generate: the generate doubles every row, so
      // the doubled rows must be narrow — at 100 TB the difference is
      // doubling 3 columns vs doubling the whole event record
      load(spark, dir, "events")
        .select(col("ts"), col("event_type"),
          round(col("value") * 100).cast("long").as("cents"))
        .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"),
          col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("cents")).as("value_cents"))
        .select(col("w.start").as("window_start"), col("event_type"),
          col("n_events"), col("value_cents"))
    },
    Some("""WITH e AS (
      SELECT event_type, value,
        CAST(floor(floor(epoch(ts))/1800)*1800 AS BIGINT) AS s1
      FROM events),
    u AS (SELECT event_type, value, unnest([s1, s1 - 1800]) AS ws FROM e)
    SELECT make_timestamp(ws * 1000000) AS window_start, event_type,
      COUNT(*) AS n_events,
      CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS value_cents
    FROM u GROUP BY 1, 2"""),
    "Sliding event-time windows (1h window, 30min slide)")

  /** Range (interval) join via bucket decomposition. A naive
    * `t.sec BETWEEN w.start AND w.end` join is a nested-loop /
    * cartesian plan — quadratic and unshippable at scale. The scale
    * shape: decompose each interval into the fixed-width buckets it
    * overlaps (here: days; ≤ ceil(len/bucket)+1 rows per interval),
    * equi-join on (key, bucket) — hash-shuffled, bounded fan-out —
    * then apply the exact range predicate as a cheap post-filter.
    * Windows here are derived from the data (every 7th day per event
    * type, [day+6h, day+66h)); the oracle runs the same join as a
    * plain range predicate, proving the decomposition is lossless.
    * All arithmetic in epoch seconds — exact in any engine. */
  val qJoinRange = Q(
    "q_join_range",
    (spark, dir) => {
      // persist: both the window derivation and the probe side consume
      // this projection — without the cache the events scan (and the
      // nanos-ts conversion) runs twice
      val e = load(spark, dir, "events")
        .select(col("event_type"), col("ts").cast("long").as("sec"),
          round(col("value") * 100).cast("long").as("cents"))
        .withColumn("day", expr("sec div 86400"))
        .transform(CacheReleases.persisted)
      val wins = e.select(col("event_type"), col("day").as("wday"))
        .filter(col("wday") % 7 === 0).distinct()
      // each 60h window [wday·86400+21600, wday·86400+237600) overlaps
      // exactly days wday..wday+2
      val buckets = wins.select(col("event_type"), col("wday"),
        explode(sequence(col("wday"), col("wday") + 2)).as("day"))
      e.join(buckets, Seq("event_type", "day"))
        .filter(col("sec") >= col("wday") * 86400 + 21600 &&
          col("sec") < col("wday") * 86400 + 237600)
        .groupBy("event_type", "wday")
        .agg(count(lit(1)).as("n_events"), sum(col("cents")).as("sum_cents"))
    },
    Some("""WITH e AS (
      SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) AS sec,
        CAST(round(value*100) AS BIGINT) AS cents
      FROM events),
    d AS (SELECT event_type, sec // 86400 AS day, sec, cents FROM e),
    w AS (SELECT DISTINCT event_type, day AS wday FROM d WHERE day % 7 = 0)
    SELECT w.event_type, w.wday, COUNT(*) AS n_events,
      CAST(SUM(d.cents) AS BIGINT) AS sum_cents
    FROM w JOIN d ON d.event_type = w.event_type
      AND d.sec >= w.wday*86400 + 21600
      AND d.sec < w.wday*86400 + 237600
    GROUP BY 1, 2"""),
    "Range/interval join via day-bucket decomposition (equi-join + post-filter)")

  /** Marketing attribution: every purchase credited to the FIRST and
    * LAST marketing touch (click/view) in its trailing 7-day window.
    * Touch identity rides a fixed-width sortable pack string
    * (zero-padded epoch ‖ type ‖ zero-padded event_id) so min/max over
    * the RANGE frame pick a fully-deterministic argmin/argmax — no
    * min_by tie ambiguity, and both engines order the same bytes. The
    * CASE-null trick keeps non-touch rows out of the min/max/count
    * without a second pass; one shuffle on user_id serves all three.
    * The 12-digit id pad holds to ~1e12 events (≫ 100 TB of events);
    * same RANGE-frame convention as q_events_rolling. */
  val qAttribution = Q(
    "q_attribution",
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val e = load(spark, dir, "events").select(
        col("user_id"), col("event_id"), col("event_type"),
        col("ts").cast("long").as("sec"))
      val pack = concat_ws(":",
        lpad(col("sec").cast("string"), 10, "0"),
        col("event_type"),
        lpad(col("event_id").cast("string"), 12, "0"))
      val touch = when(col("event_type").isin("click", "view"), pack)
      val w = Window.partitionBy("user_id").orderBy(col("sec"))
        .rangeBetween(-604799, Window.currentRow)
      e.select(col("user_id"), col("event_id"), col("event_type"), col("sec"),
        min(touch).over(w).as("first_touch"),
        max(touch).over(w).as("last_touch"),
        count(touch).over(w).as("n_touches"))
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), col("n_touches"),
          split(col("first_touch"), ":").getItem(1).as("first_touch_type"),
          split(col("last_touch"), ":").getItem(1).as("last_touch_type"),
          (col("sec") - split(col("first_touch"), ":").getItem(0).cast("long"))
            .as("secs_to_convert"))
    },
    Some("""WITH e AS (
      SELECT user_id, event_id, event_type,
        CAST(floor(epoch(ts)) AS BIGINT) AS sec,
        lpad(CAST(CAST(floor(epoch(ts)) AS BIGINT) AS VARCHAR), 10, '0')
          || ':' || event_type || ':'
          || lpad(CAST(event_id AS VARCHAR), 12, '0') AS pack
      FROM events),
    wins AS (
      SELECT user_id, event_id, event_type, sec,
        MIN(CASE WHEN event_type IN ('click','view') THEN pack END) OVER w
          AS first_touch,
        MAX(CASE WHEN event_type IN ('click','view') THEN pack END) OVER w
          AS last_touch,
        COUNT(CASE WHEN event_type IN ('click','view') THEN pack END) OVER w
          AS n_touches
      FROM e
      WINDOW w AS (PARTITION BY user_id ORDER BY sec
        RANGE BETWEEN 604799 PRECEDING AND CURRENT ROW))
    SELECT user_id, event_id, n_touches,
      string_split(first_touch, ':')[2] AS first_touch_type,
      string_split(last_touch, ':')[2] AS last_touch_type,
      sec - CAST(string_split(first_touch, ':')[1] AS BIGINT)
        AS secs_to_convert
    FROM wins WHERE event_type = 'purchase'"""),
    "First/last-touch attribution over a trailing RANGE window, pack-string argmin")

  /** Exact binary dedup of multimodal payloads — the image analog of
    * q_dedup_exact: digest the bytes row-locally (md5 over the full
    * payload), group by digest, keep one representative per class.
    * The fixture synthesizes the realistic duplication pattern (a
    * small set of images — logos, memes — reused across many
    * documents): content id = doc_id mod 32 keys the bytes, so 32
    * distinct payloads spread over the whole corpus.
    *
    * Correctness evidence: the oracle cannot hash bytes it cannot
    * build, so it groups by the closed-form duplicate CLASS instead —
    * md5-grouping matching class-grouping exactly (count, min, sum
    * per group) proves the pack→digest→group pipeline collapses
    * precisely the byte-identical payloads and nothing else (two
    * classes always differ in their first frame's fill byte).
    *
    * Scale: digest is row-local in the batched decode pass; the
    * group-by ships (16-byte digest, id) — payload bytes never
    * shuffle. The rep join for the shared-content fixture broadcasts
    * 32 rows. */
  val qMultimodalDedup = Q(
    "q_multimodal_dedup",
    (spark, dir) => {
      import spark.implicits._
      val docs = load(spark, dir, "documents")
      // Representative text per duplicate class = the class's MIN
      // doc_id's text, derived from the class itself — never the
      // assumption that doc_ids 0..31 all exist (an absent id would
      // silently drop its whole class on this side while the
      // class-grouping oracle still counts it). Two tiny aggregates
      // + a broadcast self-probe; 32 rows either way.
      val repIds = docs
        .groupBy(pmod(col("doc_id"), lit(32)).as("rep_id"))
        .agg(min(col("doc_id")).as("min_doc"))
      val reps = repIds
        .join(docs.select(col("doc_id").as("min_doc"), col("text")), Seq("min_doc"))
        .select(col("rep_id"), col("text").as("rep_text"))
      val packed = docs
        .select(col("doc_id"), pmod(col("doc_id"), lit(32)).as("rep_id"))
        .join(broadcast(reps), Seq("rep_id"))
        .select(col("rep_id"), col("doc_id"), col("rep_text"))
        .as[(Long, Long, String)]
        .map { case (rep, id, text) =>
          (id, Multimodal.buildPpmBytes(rep, text)) }
        .toDF("doc_id", "payload")
      packed
        .select(col("doc_id"), md5(col("payload")).as("digest"))
        .groupBy("digest")
        .agg(count(lit(1)).as("n_copies"), min("doc_id").as("rep_doc_id"),
          sum("doc_id").as("sum_doc_ids"))
        .filter(col("n_copies") >= 2)
        .select("n_copies", "rep_doc_id", "sum_doc_ids")
    },
    Some("""SELECT COUNT(*) AS n_copies, MIN(doc_id) AS rep_doc_id,
      CAST(SUM(doc_id) AS BIGINT) AS sum_doc_ids
      FROM documents GROUP BY doc_id % 32 HAVING COUNT(*) >= 2"""),
    "Exact binary dedup of media payloads (md5 digest classes == closed-form classes)")

  /** Sliding-window COUNT DISTINCT — 7-day windows of distinct active
    * users, advanced daily. A rolling SUM of daily distincts would
    * double-count users active on several days; true sliding distinct
    * needs user identity inside the window. The scalable shape:
    * shrink to per-(day, user) first (one combinable distinct), then
    * explode each day into the ≤7 windows containing it and run one
    * more distinct aggregate keyed by (window, user) — never a
    * per-window scan of raw events, never a window function holding a
    * user set in memory.
    *
    * Scale: explode ×7 happens AFTER the per-day dedup (days×users
    * rows, not events); both aggregates are keyed shuffles. Window
    * count W multiplies rows by W — at larger W switch to the
    * sketched (HLL) variant, q_hll_rollup's merge path. */
  val qSlidingDistinct = Q(
    "q_sliding_distinct",
    (spark, dir) => {
      val ev = load(spark, dir, "events")
      val dayUser = ev.select(to_date(col("ts")).as("day"), col("user_id"))
        .distinct()
      dayUser
        .select(col("user_id"),
          explode(sequence(lit(0), lit(6))).as("off"), col("day"))
        .select(col("user_id"),
          date_add(date_sub(col("day"), 6), col("off")).as("window_start"))
        .distinct()
        .groupBy("window_start")
        .agg(countDistinct(col("user_id")).as("n_users"))
    },
    Some("""WITH du AS (
      SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
    w AS (
      SELECT DISTINCT day - 6 + CAST(off AS INTEGER) AS window_start, user_id
      FROM du, (SELECT unnest(generate_series(0, 6)) AS off))
    SELECT window_start, COUNT(DISTINCT user_id) AS n_users
    FROM w GROUP BY 1"""),
    "True sliding-window count distinct (7-day windows, explode-after-dedup)")

  /** Cohort retention matrix — the product-analytics staple: users
    * grouped by first-seen week (cohort), activity counted as
    * distinct users per (cohort, weeks-since-cohort). Written the
    * scalable way: first-seen is one min-aggregate keyed by user;
    * activity shrinks to per-(user, week) before the join; the
    * matrix aggregate is combinable.
    *
    * Weeks are ISO date_trunc('week') in both engines (Monday
    * start); offsets are exact integer day-diffs div 7. */
  val qRetentionCohorts = Q(
    "q_retention_cohorts",
    (spark, dir) => {
      val ev = load(spark, dir, "events")
      val userWeek = ev
        .select(col("user_id"), trunc(to_date(col("ts")), "week").as("week"))
        .distinct()
        .transform(CacheReleases.persisted)
      val cohort = userWeek.groupBy("user_id").agg(min("week").as("cohort_week"))
      userWeek.join(cohort, Seq("user_id"))
        .select(col("cohort_week"),
          expr("CAST(datediff(week, cohort_week) div 7 AS BIGINT)")
            .as("week_offset"), col("user_id"))
        .groupBy("cohort_week", "week_offset")
        .agg(countDistinct(col("user_id")).as("n_users"))
    },
    Some("""WITH uw AS (
      SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS week
      FROM events),
    c AS (SELECT user_id, MIN(week) AS cohort_week FROM uw GROUP BY 1)
    SELECT c.cohort_week,
      CAST((uw.week - c.cohort_week) // 7 AS BIGINT) AS week_offset,
      COUNT(DISTINCT uw.user_id) AS n_users
    FROM uw JOIN c ON uw.user_id = c.user_id
    GROUP BY 1, 2"""),
    "Cohort retention matrix (first-seen week x weeks-since, distinct users)")

  /** Interval merging (gaps-and-islands): each event opens a 5-minute
    * activity interval; overlapping/touching intervals per user merge
    * into maximal islands. The classic pattern — a new island starts
    * exactly where the running max of previous interval ends stops
    * covering the next start — expressed with one per-user window
    * (cummax + flag + running flag-sum), entirely integer epoch
    * seconds.
    *
    * Scale: one shuffle (by user) + one window pass; islands then
    * aggregate per (user, island) with map-side combine. */
  val qIntervalMerge = Q(
    "q_interval_merge",
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val iv = load(spark, dir, "events").select(
        col("user_id"), col("event_id"),
        col("ts").cast("long").as("s"),
        (col("ts").cast("long") + 300L).as("e"))
      val w = Window.partitionBy("user_id").orderBy(col("s").asc, col("event_id").asc)
      val prevMax = max(col("e")).over(w.rowsBetween(Window.unboundedPreceding, -1))
      val flagged = iv
        .withColumn("new_island",
          when(prevMax.isNull || col("s") > prevMax, 1L).otherwise(0L))
        .withColumn("island",
          sum(col("new_island")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      flagged.groupBy("user_id", "island")
        .agg(min("s").as("start_s"), max("e").as("end_s"),
          count(lit(1)).as("n_events"))
    },
    Some("""WITH iv AS (
      SELECT user_id, event_id,
        CAST(floor(epoch(ts)) AS BIGINT) AS s,
        CAST(floor(epoch(ts)) AS BIGINT) + 300 AS e
      FROM events),
    f AS (
      SELECT user_id, event_id, s, e,
        CASE WHEN max(e) OVER (PARTITION BY user_id ORDER BY s, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
          OR s > max(e) OVER (PARTITION BY user_id ORDER BY s, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        THEN 1 ELSE 0 END AS new_island
      FROM iv),
    g AS (
      SELECT user_id, s, e,
        CAST(SUM(new_island) OVER (PARTITION BY user_id ORDER BY s, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS island
      FROM f)
    SELECT user_id, island, MIN(s) AS start_s, MAX(e) AS end_s,
      COUNT(*) AS n_events
    FROM g GROUP BY 1, 2"""),
    "Gaps-and-islands interval merge per user (cummax + flag + running sum)")

  /** Global peak concurrency — the sweep-line answer to "how many
    * sessions were open at once": every interval contributes +1 at
    * its start and -1 at its end, the running sum over the globally
    * time-ordered points is the occupancy curve, and the output pins
    * its exact peak and the first instant it is reached.
    *
    * A bare `SUM() OVER (ORDER BY t)` funnels every point through ONE
    * partition — so the running sum comes from
    * [[graft.ops.GlobalRank.withRunningSum]]: range repartition on
    * the point order, partition-local sorted prefix sums, k-row
    * totals action, broadcast exclusive offsets (the zipWithIndex
    * pattern generalized from ranks to prefix sums). Tiebreak puts
    * -1 before +1 at equal timestamps: half-open [s, e) intervals —
    * a session ending at t frees its slot before one starting at t
    * takes it. PlanSpec pins the absence of a SinglePartition
    * exchange; OpsSpec differentials the runner against Spark's own
    * global window at several partition counts. */
  val qMaxConcurrency = Q(
    "q_max_concurrency",
    (spark, dir) => {
      val iv = load(spark, dir, "events").select(
        col("event_id"), col("ts").cast("long").as("s"),
        (col("ts").cast("long") + 300L).as("e"))
      // one generate, not a self-union: the union form scans the
      // events table once per endpoint — 2× I/O at corpus scale
      val pts = iv.select(explode(array(
          struct(col("s").as("t"), lit(1L).as("d"), col("event_id").as("event_id")),
          struct(col("e").as("t"), lit(-1L).as("d"), col("event_id").as("event_id")))).as("p"))
        .select(col("p.t").as("t"), col("p.d").as("d"), col("p.event_id").as("event_id"))
      val parts = spark.sparkContext.defaultParallelism
      val run = graft.ops.GlobalRank.withRunningSum(
        pts, Seq(col("t").asc, col("d").asc, col("event_id").asc),
        col("d"), "occ", parts)
      val tot = run.agg(max(col("occ")).as("max_concurrent"),
        (count(lit(1)) / 2).cast("long").as("n_intervals"))
      run.crossJoin(broadcast(tot))
        .filter(col("occ") === col("max_concurrent"))
        .groupBy("max_concurrent", "n_intervals")
        .agg(min(col("t")).as("first_peak_s"))
        .select("max_concurrent", "first_peak_s", "n_intervals")
    },
    Some("""WITH iv AS (
      SELECT event_id, CAST(floor(epoch(ts)) AS BIGINT) AS s,
        CAST(floor(epoch(ts)) AS BIGINT) + 300 AS e
      FROM events),
    pts AS (
      SELECT s AS t, CAST(1 AS BIGINT) AS d, event_id FROM iv
      UNION ALL
      SELECT e AS t, CAST(-1 AS BIGINT) AS d, event_id FROM iv),
    r AS (
      SELECT t, CAST(SUM(d) OVER (ORDER BY t, d, event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS occ
      FROM pts)
    SELECT MAX(occ) AS max_concurrent,
      MIN(CASE WHEN occ = (SELECT MAX(occ) FROM r) THEN t END) AS first_peak_s,
      (SELECT COUNT(*) FROM iv) AS n_intervals
    FROM r"""),
    "Global peak concurrency via distributed sweep line (no single-partition window)")

  val all: Seq[Q] = Seq(qEventsWindow, qEventsSessionize, qMultimodalDecode,
    qMultimodalAudio, qMultimodalFrames, qRollupAgg, qCubeAgg, qEventsRolling,
    qEventsFunnel, qEventsSliding, qJoinRange, qAttribution, qAudioFrames,
    qMultimodalDedup, qSlidingDistinct, qRetentionCohorts, qIntervalMerge,
    qMaxConcurrency)
}
