package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{LongType, StructType}

/** Fixture-table access, staging paths and the session-conf helpers.
  * The conf the whole engine assumes is [[Q.Base]]: [[Harness]]
  * sessions start with it, `SparkEntry.queries` builds on a clone where
  * it does not hold, and the pipeline jobs scope it with [[withConf]].
  */
object Tables {
  /** Staging root for every fixture write, roundtrip sink, and stream
    * checkpoint the registry performs (CSV/JSONL/ORC/partitioned
    * roundtrips, DPP/range-layout/schema-evolution tables, the six
    * streaming parity roots). The LOCAL-MODE assumption lives HERE and
    * only here: this harness runs single-JVM local[*], so a
    * driver-local tmpdir is readable by every "executor" thread. A
    * real multi-executor deployment sets GRAFT_STAGING_DIR to a
    * shared-filesystem URI (HDFS/object store) and none of the
    * queries change — the paths are deployment details, not query
    * semantics. */
  val stagingDir: String = sys.env.getOrElse("GRAFT_STAGING_DIR", "/tmp")

  /** Per-process staging namespace (round-11 VERDICT item 6): every
    * fixed staging path (roundtrip sinks, csv/jsonl fixtures,
    * DPP/layout tables, the stream-scratch fallback) lives under a
    * run-scoped subdir, so two concurrent sessions — e.g. an sf0.1 dev
    * verify while an sf1 DuckDB compare is still queued — can never
    * overwrite each other's staged files mid-oracle (round 11 saw two
    * sf1 false reds from exactly that race). The oracle SQL strings
    * embed the nonce'd path and are dumped by the SAME process that
    * wrote the files, so a later compare reads this run's bytes no
    * matter what other runs started since. GRAFT_STAGING_NS pins the
    * namespace externally (e.g. to share staged fixtures across a
    * driver's own sequential steps, or on a cluster where the pid of
    * one JVM means nothing). */
  val stagingNs: String =
    sys.env.getOrElse("GRAFT_STAGING_NS", {
      // pid + process START SECOND: pid alone is reusable, so a new run
      // named run_<reused-pid> would silently inherit a dead run's stale
      // staged tree (round-12 ADVICE). The start instant disambiguates —
      // a reused pid gets a fresh namespace, and the sweep can tell a
      // live owner from a namesake (it re-reads the instant).
      val h = ProcessHandle.current()
      val start = h.info().startInstant()
        .map[String](si => s"_${si.getEpochSecond}").orElse("")
      s"run_${h.pid()}$start"
    })

  /** A staging path under [[stagingDir]], namespaced by [[stagingNs]]. */
  def staging(sub: String): String = {
    sweepOnce
    touchNs()
    s"$stagingDir/graft_staging/$stagingNs/$sub"
  }
  @volatile private var lastNsTouch = 0L
  private val heartbeatName = ".graft_heartbeat"

  /** Refresh this run's namespace liveness evidence (rate-limited to
    * once per 10 min): bumps each existing ns root's mtime AND a
    * heartbeat file inside it, so the dead-run sweep's age test
    * measures time since LAST USE, not since first write. Called from
    * [[load]], which fires on nearly every query build for a session's
    * whole life. The touch in [[staging]] alone would not do (round-12
    * ADVICE): every staging() call site is a top-level val evaluated
    * once at object init, before any namespace dir exists, so a >3 h
    * run's files could be reaped by a concurrent JVM's sweep while its
    * DuckDB compare was still queued. */
  private def touchNs(): Unit = {
    val now = System.currentTimeMillis()
    if (now - lastNsTouch > 10L * 60 * 1000) {
      lastNsTouch = now
      nsRoots.foreach { r =>
        val d = new java.io.File(s"$r/$stagingNs")
        if (d.isDirectory) try {
          d.setLastModified(now)
          java.nio.file.Files.writeString(
            d.toPath.resolve(heartbeatName), now.toString)
          ()
        } catch { case scala.util.control.NonFatal(_) => () }
      }
    }
  }

  /** The user-scoped tmpfs stream-scratch root, when /dev/shm exists
    * and is writable (per-run namespaces live under it). */
  private def shmStreamRoot: Option[String] = {
    val shm = new java.io.File("/dev/shm")
    if (shm.isDirectory && shm.canWrite)
      Some(s"/dev/shm/graft_stream_${sys.props.getOrElse("user.name", "anon")}")
    else None
  }

  /** Roots that hold per-run namespaces and get the dead-run sweep:
    * the staging tree and (when tmpfs is in play) the user-scoped
    * stream-scratch tree — the latter lives in RAM, so leaked
    * namespaces there are strictly worse than leaked /tmp files. */
  private def nsRoots: Seq[String] =
    Seq(s"$stagingDir/graft_staging") ++ shmStreamRoot

  /** Best-effort GC of dead runs' namespace trees, once per JVM: a
    * dir is deleted only when its OWNER IS PROVABLY DEAD and its tree
    * is ≥ 3 h past last use — last use = max(dir mtime, heartbeat-file
    * mtime), which [[touchNs]] keeps fresh while any owner is alive
    * (both conditions: a just-exited Verify's files must stay readable
    * for its still-queued DuckDB compare). Ownership evidence, by name
    * shape (round-12 ADVICE — liveness is no longer inferred from the
    * pid digits alone):
    *  - `run_<pid>_<startsec>` (auto format): dead iff the pid is gone
    *    OR its start second differs — a REUSED pid is a namesake, not
    *    an owner;
    *  - bare `run_<pid>` (legacy auto / pinned lookalike): dead iff the
    *    pid is gone; the heartbeat freshness test still protects a
    *    LIVE pinned owner whose name happens to parse this way;
    *  - anything else: pinned, not ours to reap.
    * Failures are swallowed: GC is a courtesy, not a correctness
    * dependency. */
  private lazy val sweepOnce: Unit = try {
    val cutoff = System.currentTimeMillis() - 3L * 3600 * 1000
    nsRoots.map(new java.io.File(_)).foreach { root =>
      Option(root.listFiles()).getOrElse(Array.empty[java.io.File])
        .filter(d => d.getName.startsWith("run_") && d.getName != stagingNs)
        .foreach { d =>
          val dead = d.getName.stripPrefix("run_").split('_') match {
            case Array(p) =>
              p.toLongOption.exists(pid => ProcessHandle.of(pid).isEmpty)
            case Array(p, s) =>
              (p.toLongOption, s.toLongOption) match {
                case (Some(pid), Some(start)) =>
                  val h = ProcessHandle.of(pid)
                  !h.isPresent || h.get().info().startInstant()
                    .map[java.lang.Boolean](_.getEpochSecond != start)
                    .orElse(java.lang.Boolean.FALSE)
                case _ => false
              }
            case _ => false
          }
          val hb = new java.io.File(d, heartbeatName)
          val lastUse = math.max(d.lastModified(),
            if (hb.isFile) hb.lastModified() else 0L)
          if (dead && lastUse < cutoff) {
            import scala.reflect.io.Directory
            new Directory(d).deleteRecursively()
            ()
          }
        }
    }
  } catch { case scala.util.control.NonFatal(_) => () }

  /** Scratch root for PER-INVOCATION streaming state: micro-batch input
    * fixtures, checkpoint/offset/commit logs, state-store deltas, and
    * the accumulated output each parity query reads back in the same
    * call. Every parity deletes this tree at the top of its builder, so
    * durability across a host crash buys nothing — the data's life is
    * one invocation. That makes a RAM-backed filesystem the right
    * default when one exists: the micro-batch tax is dominated by
    * per-trigger fsyncs of tiny checkpoint files (offset log + commit
    * log + state delta per batch), which tmpfs turns into memory
    * writes. A cluster deployment sets GRAFT_STREAM_SCRATCH to shared
    * storage (mandatory there anyway — executors must see the
    * checkpoint), restoring the durable path without code change. */
  val streamScratchDir: String = sys.env.get("GRAFT_STREAM_SCRATCH")
    .orElse {
      // User-scoped AND run-namespaced: /dev/shm is world-writable+
      // sticky, so the user segment separates users, and the stagingNs
      // segment separates two concurrent runs by the SAME user — each
      // parity builder recursively deletes its scratch root at the top
      // of its build, so a shared path would let run B reap run A's
      // live checkpoints mid-query (the round-11 staging race class,
      // round-12 review). Dead runs' namespaces are reaped by the same
      // sweep as the staging tree (they live in RAM).
      shmStreamRoot.map(r => s"$r/$stagingNs")
    }
    // No tmpfs: stay under a graft-owned subtree of the staging root —
    // the parity builders recursively delete their scratch roots, so a
    // bare stagingDir fallback would hand them generic paths like
    // /tmp/parity that can clobber unrelated data on a shared host.
    .getOrElse(staging("graft_stream"))

  /** A scratch path under [[streamScratchDir]]. */
  def streamScratch(sub: String): String = s"$streamScratchDir/$sub"

  /** Apply [[Q.Static]] and [[Q.Base]] to `spark` and register the native
    * functions, for a session built outside [[Harness]] whose own SQL
    * should run under the engine's conf. The registry does not need the
    * base: `SparkEntry.queries` builds on a clone when it does not hold.
    *
    * Precondition for [[Q.Static]]: Spark reads those keys once per JVM,
    * when the first query is compiled. Call this before that, with
    * `spark` the active session, and the generated-class cache is sized
    * to the engine's working set; after it, the write is a harmless
    * no-op and the cache keeps the size it was created with. */
  def ensureConf(spark: SparkSession): Unit = {
    val conf = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.conf
    Q.Static.foreach { case (k, v) => conf.setConfString(k, v) }
    install(spark, Q.Base)
  }

  private def install(spark: SparkSession, conf: Map[String, String]): Unit = {
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    graft.functions.GraftExtensions.register(spark)
  }

  /** Run `body` with `kv` set on `spark`'s session conf, then put each
    * key back, or unset it if it had no value. For the pipeline jobs
    * and dials inside a builder; a registry query declares [[Q.conf]]. */
  def withConf[A](spark: SparkSession, kv: (String, String)*)(body: => A): A = {
    val prev = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** The session to build on under `conf`: `spark` itself when every
    * entry of `conf` already holds there and the native functions are
    * registered, else [[cloneWith]]. Checking before installing leaves
    * the caller's session as it was in both cases. */
  def sessionUnder(spark: SparkSession, conf: Map[String, String]): SparkSession =
    if (conf.forall { case (k, v) => spark.conf.getOption(k).contains(v) } &&
        graft.functions.GraftExtensions.registered(spark)) spark
    else cloneWith(spark, conf)

  /** A clone of `spark` with `conf` applied and the native functions
    * registered; the caller's session is untouched. */
  def cloneWith(spark: SparkSession, conf: Map[String, String]): SparkSession = {
    val s = org.apache.spark.sql.SessionClone(spark)
    install(s, conf)
    s
  }

  /** Read fixture table `name` from `sfDir`. Each file's schema is
    * inferred once, by [[fixtureSchema]], and the read supplies it, so a
    * repeated build runs no Spark job here (inference launches one per
    * read: 50–86 ms at p50 against 6.7–11 ms with the schema supplied,
    * 60 reads each on a warm JVM, 4-core host).
    *
    * Precondition: a fixture rewritten in place shows as a new
    * [[fixtureStamp]], that is, with a new modification time or length.
    * A rewrite that keeps both reads with the old schema. */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    touchNs()
    val path = s"$sfDir/$name.parquet"
    val raw = spark.read.schema(fixtureSchema(spark, path)).parquet(path)
    if (name == "events") eventsAsMicros(raw) else raw
  }

  /** A fixture's modification time and length, read through Hadoop's
    * `FileSystem`, so a remote URI gets a real stamp. (A Parquet
    * directory's time changes when an overwrite replaces its part
    * files.) Memo keys carry it next to the path, so a fixture
    * regenerated in place invalidates what was derived from the old
    * bytes. */
  def fixtureStamp(spark: SparkSession, path: String): (Long, Long) = {
    val p = new org.apache.hadoop.fs.Path(path)
    val st = p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p)
    (st.getModificationTime, st.getLen)
  }

  private val fixtureSchemas = new java.util.concurrent.ConcurrentHashMap[
    (String, (Long, Long), Map[String, String]), StructType]()

  /** What `spark.read.parquet(path).schema` infers, memoized per path,
    * [[fixtureStamp]] and the session's explicitly set Parquet and
    * case-sensitivity keys, which change what inference returns
    * (`nanosAsLong` reads a TIMESTAMP(NANOS) `events.ts` as a long;
    * without it inference fails). */
  private[graft] def fixtureSchema(spark: SparkSession, path: String): StructType = {
    val inference = spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.") ||
        k == "spark.sql.caseSensitive"
    }
    fixtureSchemas.computeIfAbsent((path, fixtureStamp(spark, path), inference),
      _ => spark.read.parquet(path).schema)
  }

  /** `events.parquet` carries TIMESTAMP(NANOS), read as raw longs under
    * [[Q.Base]]'s `nanosAsLong`; integer-divide them to
    * microseconds — the fixture generator emits µs-granular values, so
    * the narrowing is lossless. `div` (integral divide) is load-bearing:
    * a double-typed `/` on ~1.7e18 ns loses precision past 2^53. */
  private def eventsAsMicros(raw: DataFrame): DataFrame =
    if (raw.schema("ts").dataType == LongType)
      raw.withColumn("ts", org.apache.spark.sql.functions.expr(
        "timestamp_micros(ts div 1000)"))
    else raw

  val all: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")
}

/** One verifiable operator: a Spark builder + (optionally) equivalent
  * ANSI SQL the driver runs in DuckDB over the same parquet tables.
  * `conf` is the session conf the query runs under on top of
  * [[Q.Base]] (see `SparkEntry.queries`). */
final case class Q(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    doc: String,
    conf: Map[String, String] = Map.empty)

object Q {
  /** The session conf every query and the pipeline run under. The
    * reference runs Spark 3 with non-ANSI semantics (reference
    * etl1_clean_and_stage.py:23, etl2_advclean_and_dimcreatin.py:46):
    * ANSI off and UTC make query semantics match the classic DataFrame
    * behavior (to_date → null on bad input, casts never throw) and let
    * the DuckDB oracle agree on day truncation. */
  val Base: Map[String, String] = Map(
    "spark.sql.ansi.enabled" -> "false",
    "spark.sql.session.timeZone" -> "UTC",
    // With ANSI off, Spark keeps the legacy sentinel size(NULL) = -1,
    // which no SQL oracle mirrors (DuckDB len(NULL) = NULL) — it
    // hash-failed q_jsonl_scan for three driver runs on the
    // missing-`tags` fixture row. Every other size() call site in this
    // repo operates on split/transform outputs that cannot be NULL
    // (audited round 6; pinned by NullSentinelSpec), so flipping the
    // legacy conf changes exactly the NULL case and kills the whole
    // sentinel class rather than one call site.
    "spark.sql.legacy.sizeOfNull" -> "false",
    // Round 6: per-doc side tables (e.g. the nn set-size tables in the
    // dedup family) lost their forced broadcast() hints — a pinned
    // doc-cardinality broadcast is an OOM at 1B+ docs. The default
    // 10 MB STATIC threshold then demoted those joins to shuffles of
    // the far larger pair side at sf10 (nn ≈ 8 MB est.; jaccard
    // 46→83 s). Raising the STATIC threshold instead is a trap: it
    // works on parquet-compressed size estimates, so a 57 MB documents
    // scan made the planner broadcast 50M-row exploded shingle frames
    // (measured heap OOM at sf10). The ADAPTIVE threshold is the right
    // dial — AQE re-plans SMJ→broadcast from ACTUAL post-shuffle
    // sizes: the genuinely-small sides (nn ≈ 16 MB real) convert, the
    // multi-GB index sides never do, and nothing is pinned at cluster
    // scale.
    "spark.sql.adaptive.autoBroadcastJoinThreshold" -> (64 * 1024 * 1024).toString,
    // Parquet written without isAdjustedToUTC (e.g. by DuckDB or Hive)
    // would otherwise surface TIMESTAMP_NTZ, which epoch arithmetic
    // (CAST(ts AS BIGINT)) rejects at analysis time — found by the sf1
    // spot-check, whose DuckDB-built fixture broke q_events_sessionize.
    // With the session pinned to UTC the two flavors are numerically
    // identical, so read both as TIMESTAMP.
    "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false",
    // events' TIMESTAMP(NANOS) as raw longs; see Tables.load
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // Each `SessionClone` gets its own session artifact state, so the
    // executor tasks of a query that builds on a clone run under a new
    // class loader, and that loader is part of `CodeGenerator`'s cache
    // key: every such build recompiled every class it had compiled
    // before. A second 163-query pass at sf0.01 compiled 638 classes
    // with isolation on and 65 with it off. The engine adds no
    // session-scoped artifacts (jars, files, archives), so nothing
    // depends on the isolation.
    "spark.sql.artifact.isolation.enabled" -> "false")

  /** Static SQL conf: keys Spark reads once per JVM, which
    * `spark.conf.set` refuses, so they cannot ride on [[Base]] through
    * `install`, `sessionUnder` or `cloneWith`. [[Harness.session]] passes
    * them to the session builder and `Tables.ensureConf` writes them
    * into a session built elsewhere.
    *
    * `CodeGenerator` keeps compiled whole-stage and expression classes
    * in an LRU cache of `codegen.cache.maxEntries` classes, sized when
    * it first compiles. Spark's default of 100 is below one pass of any
    * benchmark workload (114 distinct classes for the pipeline, 109 for
    * short_queries, 143–146 for dedup_search), so every later pass
    * recompiled 66–129 of them, 0.9–2.2 s of Janino time per pass. One
    * pass over all 163 registered queries compiles 2,421 distinct
    * classes at sf0.01; 4096 keeps that whole working set resident,
    * with room for the classes some queries compile anew on each run
    * (65 on a second full pass). The memory is the classes
    * themselves, and it is no more than the default's: after two
    * 163-query passes at sf0.01, metaspace held 232 MB at 4096 against
    * 245 MB at 100, whose recompiles each load a new class. */
  val Static: Map[String, String] = Map("spark.sql.codegen.cache.maxEntries" -> "4096")

  /** Whole-stage fusion off (round 14). The RTA star/scd2/date-parse
    * family builds VERY wide projections (dozens of chained
    * regexp/when/date expressions per row). Fusing them into one
    * whole-stage processNext produces generated methods past HotSpot's
    * DontCompileHugeMethods limit (HugeMethodLimit = 8000 bytecodes), so
    * the fused method runs in the BYTECODE INTERPRETER — slower than the
    * unfused path, whose per-operator projections compile to small,
    * JIT-friendly methods. The same class of bug as round 13's quantize
    * kernel (VectorExpressions.Quantize1000), but here the width is
    * intrinsic to the declared pipeline semantics, so the fix is to stop
    * fusing rather than to rewrite the expressions.
    *
    * Evidence (P45/P46, interleaved same-JVM medians):
    *  - stage(rawSynth) noop at sf0.1: 2.10 s fused vs 1.38 s unfused
    *    while the stage is pure CPU (27 s task time / 19.4 s CPU on 32
    *    tasks) — a per-row effect, not fixed overhead;
    *  - q_star_fact sf0.1 5.21 -> 4.43, sf1 15.6 -> 11.1 (two fresh JVM
    *    sessions agree); q_star_dim_vehicle sf1 8.7 -> 6.1;
    *  - Spark's own escape hatch confirms the mechanism: with
    *    spark.sql.codegen.hugeMethodLimit=8000 (fall back exactly when
    *    the JIT would refuse) q_star_fact sf1 reads 12.4 vs 15.6;
    *  - the scd2/cdc/date-parse family shows the same direction at both
    *    SFs (q_scd2_merge 1.03 -> 0.81 sf0.1, 1.79 -> 1.41 sf1;
    *    q_cdc_apply -17%/-9%; q_date_parse_multi -17%/-14%).
    * Queries that measured NEUTRAL or NEGATIVE unfused at either SF
    * (q_fact_assembly, q1_pricing_summary, q_misalign_repair,
    * q_resolution_fuzzy, ...) stay on the default fused path. Scale
    * note: the method-size pathology is data-independent (bytecode size
    * does not grow with rows, and the interpretation penalty is
    * per-row), so the unfused choice holds at any corpus size. */
  val Unfused: Map[String, String] = Map("spark.sql.codegen.wholeStage" -> "false")

  /** The reference runs both Glue jobs under LEGACY time parsing
    * (etl1:23, etl2:46): 2-digit years resolve via SimpleDateFormat's
    * 80/20 pivot, and the dd/MM/yyyy parses of the pipeline depend on
    * it. */
  val LegacyTime: Map[String, String] =
    Map("spark.sql.legacy.timeParserPolicy" -> "LEGACY")

  /** Streaming-scratch conf for the six stream parities. Their
    * checkpoints are per-invocation scratch (deleted at the top of each
    * builder, never resumed), so:
    *  - retaining the default 100 batches of offset/commit/state files
    *    only multiplies tiny-file fsyncs per trigger;
    *  - Spark 4.1 generates + verifies a checksum SIBLING for every
    *    checkpoint file (offset/commit log entries, every state-store
    *    delta), each written on its own spawned thread —
    *    ChecksumCheckpointFileManager showed up directly in the round-13
    *    P42 off-CPU stack samples, and the parity scratch dirs carried 3
    *    bookkeeping files per delta (Spark's `N.delta.crc` plus Hadoop
    *    ChecksumFileSystem's hidden `.crc` of both). Corruption detection
    *    buys nothing for tmpfs checkpoints that are never resumed; a
    *    durable production checkpoint on real storage keeps the default.
    * Round-14 measured NEGATIVE, recorded so it is not retried: a
    * pure-java.nio CheckpointFileManager (no Hadoop local-FS chmod/ls
    * process forks, no checksum machinery) A/B'd flat-to-slower over
    * all six parities (P48 interleaved ABBA ×12 runs/side at sf0.1:
    * batch 1.81 vs 1.77, scd2 2.36 vs 2.36, wmdedup 1.40 vs 1.41,
    * ssjoin 1.98 vs 1.87, session 2.30 vs 2.13, window 2.07 vs 1.86 —
    * nio first). The Shell forks P47 sampled come from the parquet
    * fixture/output writes' committer path, not the checkpoint
    * manager; the checkpoint files were already cheap on tmpfs. */
  val StreamScratch: Map[String, String] = Map(
    "spark.sql.streaming.minBatchesToRetain" -> "1",
    "spark.sql.streaming.checkpoint.fileChecksum.enabled" -> "false")
}
