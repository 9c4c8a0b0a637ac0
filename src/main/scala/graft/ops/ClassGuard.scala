package graft.ops

import scala.jdk.CollectionConverters._

import graft.CacheReleases
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Mega-class escape hatch for the class-collapse dedup family.
  *
  * The round-6 class-collapse rewrites (jaccard / containment /
  * simjoin / simhash) run their pair pipelines at distinct-class
  * cardinality and expand class pairs back to doc pairs through
  * per-class rosters. That is the right shape for organic duplication
  * (largest class at sf10: 778 docs), but a 100 TB corpus WILL contain
  * a degenerate mega class — empty docs, boilerplate templates — with
  * millions of members, for which an unbounded roster is a single-row
  * array bomb and the intra-class expansion a quadratic output.
  *
  * Above a configurable member cap ([[ClassGuard.ConfKey]], default
  * [[ClassGuard.DefaultCap]]) a class therefore switches to
  * REPRESENTATIVE routing: its roster collapses to `[min(doc_id)]`
  * (so cross-class expansion emits only representative-level pairs)
  * and its intra pairs are emitted as a STAR — (rep, member) for every
  * other member, linear in class size. Connectivity is fully preserved
  * for every downstream consumer (components, dedup-apply
  * survivorship): rep links the members, and rep carries the class's
  * cross-class edges. Below the cap nothing changes — outputs are
  * byte-identical, which is what keeps the DuckDB oracles green (no
  * fixture class approaches the cap; DedupGuardSpec pins the switch
  * with a forced-cap fixture).
  *
  * Plan shape (round 8 — third iteration; an interleaved A/B probe
  * graded each predecessor against the unguarded round-6 plan):
  *
  *  1. ONE heavy shuffle, exactly like round 6: `groupBy(key).agg(
  *     graft_capped_roster, first(payload)…)` with the native
  *     [[graft.functions.CappedRoster]] aggregate bounding every
  *     buffer at O(cap). Persisted — every caller
  *     consumes the class frame several times (index explode, cross
  *     expansion ×2, intra), the same frame they persisted in r6.
  *  2. An EAGER any-mega probe **on that cached aggregate**:
  *     `filter(cls > cap).isEmpty`. With no mega class (the
  *     overwhelmingly common case) the probe scans every partition
  *     looking for its first match, so it materializes the cache the
  *     query needs anyway — no extra pass, exactly like the r8 eager
  *     collect it replaces (a separate ids-only pre-probe measured
  *     ~25% overhead per guarded query; the r7 sizes/join-back
  *     re-shuffled payload arrays and regressed the family 2.0-2.8× —
  *     VERDICT r7 §1). With a mega class present it may stop early;
  *     the first consumer finishes the materialization.
  *  3. No mega keys: stars is an EMPTY LocalRelation. Its emptiness
  *     is static, so Catalyst's PropagateEmptyRelation deletes the
  *     callers' entire star-union branch at optimization time — the
  *     guarded plan IS the r6 plan.
  *  4. Mega keys present: stars = members ⨝ broadcast(mega-key frame)
  *     — the build side is a FILTER OVER THE CACHED AGGREGATE handed
  *     to Spark's broadcast machinery, never a user-space driver
  *     `collect()` (round 10; VERDICT r9 item 3 — this deleted the
  *     last driver-memory cliff in src/main along with its 4M-key
  *     bound: the list is bounded by construction at N/cap keys, and
  *     Spark's broadcast layer owns the memory from there). A
  *     broadcast hash join keeps mega members spread across their
  *     input partitions — no skewed-key sort-merge funnel — and the
  *     probe side is linear and unshuffled.
  */
object ClassGuard {
  val ConfKey = "spark.graft.maxClassSize"
  val DefaultCap = 4096

  def cap(spark: SparkSession): Int =
    spark.conf.getOption(ConfKey).flatMap(_.toIntOption).getOrElse(DefaultCap)

  /** Collapse a member-level frame (one row per doc: `keyCol`,
    * `idCol` — a LONG id, NEVER NULL; `payload` columns constant
    * within a class) into
    *
    *  - `classes`: one row per class — `keyCol`, `ids` (full roster
    *    when |class| <= capSize, `[min(id)]` above it), each payload
    *    column via `first`, and `cls` = the TRUE class size (so df /
    *    weighting semantics never change), and
    *  - `stars`: the mega classes' intra edges — `keyCol`, `rep`
    *    (= min(id), strictly smallest), `member` — one row per
    *    non-representative member, linear in class size. Statically
    *    empty (a zero-row LocalRelation) when no class exceeds the
    *    cap, so downstream star branches optimize away.
    *
    * Materializes the class aggregate eagerly (it is the frame every
    * caller persists and reuses; `classes` comes back persisted, so
    * call sites must NOT persist it again).
    *
    * CONTRACT — null ids: [[graft.functions.CappedRoster]] skips NULL
    * `idCol` values entirely (collect_list parity), so a null member
    * row is invisible to `cls`, `rep`, AND the roster — class size
    * semantics shift vs `count(lit(1))` if ids can be null. Every
    * caller keys on `doc_id`, which the fixtures and the documents
    * schema guarantee non-null; a new caller with nullable ids must
    * filter them first (as q_dedup_simhash filters NULL signatures).
    *
    * CONTRACT — cache lifetime: the internal aggregate stays persisted
    * for the life of the returned (lazy) plans — callers hand
    * `classes`/`stars` on as unexecuted DataFrames, so there is no
    * point at which they could unpersist it themselves. It is
    * registered with [[graft.CacheReleases]] like every other
    * query-layer persist, and released by `CacheReleases.releaseAll()`
    * after the caller's terminal action.
    */
  def collapse(members: DataFrame, keyCol: String, idCol: String,
      payload: Seq[String], capSize: Int): (DataFrame, DataFrame) = {
    require(capSize > 0, s"class cap must be positive, got $capSize")
    val spark = members.sparkSession
    val firsts = payload.map(c => first(col(c)).as(c))
    // The capped/representative roster projection runs BEFORE the
    // persist, so it is evaluated once at materialization time instead
    // of on every downstream read (each guarded query reads the class
    // frame 3-4 times: index explode, cross expansion x2, intra; the
    // per-read `when` re-evaluation graded ~+10% on the payload-free
    // simhash shape in the round-9 P17 probe). `_rep` rides along
    // cached only for the mega-key collect below and is dropped from
    // the returned frame.
    val agged = members.groupBy(keyCol)
      .agg(call_function("graft_capped_roster",
        col(idCol), lit(capSize)).as("_cr"), firsts: _*)
      .select((col(keyCol) +:
        when(col("_cr.cls") <= capSize, col("_cr.ids"))
          .otherwise(array(col("_cr.rep"))).as("ids") +:
        payload.map(col)) :+ col("_cr.cls").as("cls") :+
        col("_cr.rep").as("_rep"): _*)
      .transform(CacheReleases.persisted)
    // Boolean probe, not a collect: the driver learns ONE bit (any
    // mega class at all?); the mega keys themselves stay distributed
    // and reach the join below through Spark's broadcast machinery.
    val megaDf = agged.filter(col("cls") > capSize)
      .select(col(keyCol), col("_rep").as("rep"))
    val anyMega = !megaDf.isEmpty
    val classes = agged.drop("_rep")
    val stars =
      if (!anyMega) {
        val starSchema = StructType(Seq(
          StructField(keyCol, members.schema(keyCol).dataType),
          StructField("rep", LongType), StructField("member", LongType)))
        spark.createDataFrame(List.empty[org.apache.spark.sql.Row].asJava, starSchema)
      } else {
        members.join(broadcast(megaDf), Seq(keyCol))
          .filter(col(idCol) =!= col("rep"))
          .select(col(keyCol), col("rep"), col(idCol).as("member"))
      }
    (classes, stars)
  }
}
