package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.Row

/** Pins the legacy-vs-ANSI null-sentinel surfaces (round-6 audit).
  *
  * The engine runs with `spark.sql.ansi.enabled=false` (reference
  * parity: classic cast/to_date null-on-bad-input semantics), which
  * keeps several LEGACY behaviors where Spark emits a SENTINEL value
  * that no SQL oracle will ever mirror. One of them —
  * `size(NULL) = -1` vs DuckDB `len(NULL) = NULL` — hash-failed
  * q_jsonl_scan for three driver runs before being root-caused. This
  * spec pins every surface in that class so a regression (or a new
  * query relying on a sentinel) fails here rather than in the driver's
  * oracle compare:
  *
  *  - size(NULL): legacy -1 is DISABLED in Q.Base
  *    (spark.sql.legacy.sizeOfNull=false) → NULL, matching DuckDB.
  *  - element_at / getItem out of bounds: NULL with ANSI off, matching
  *    DuckDB list indexing — safe, pinned.
  *  - cast of a malformed string: NULL with ANSI off — matches DuckDB
  *    TRY_CAST, NOT plain CAST (which errors); oracles must use
  *    TRY_CAST/CASE where inputs can be malformed.
  *  - integral cast overflow: legacy mode WRAPS (no NULL, no error) —
  *    DuckDB errors. No oracle-compared column may narrow-cast a value
  *    that can overflow; pinned here as documentation of the hazard.
  *  - division by zero: NULL with ANSI off; DuckDB integer division
  *    errors — oracles must guard with NULLIF.
  */
class NullSentinelSpec extends SparkSpec {

  test("Q.Base disables the legacy size(NULL) = -1 sentinel") {
    assert(spark.conf.get("spark.sql.legacy.sizeOfNull") == "false")
    val df = spark.sql(
      "SELECT size(CAST(NULL AS ARRAY<STRING>)) AS n, size(array('a')) AS one")
    val r = df.collect().head
    assert(r.isNullAt(0), s"size(NULL) must be NULL, got ${r.get(0)}")
    assert(r.getInt(1) == 1)
  }

  test("q_jsonl_scan missing-tags row yields NULL n_tags (the driver bug)") {
    val out = graft.queries.CoreQueries.qJsonlScan
      .build(spark, "unused")
      .filter(col("id") === 5)
      .select("n_tags", "first_tag")
      .collect()
    assert(out.length == 1)
    assert(out.head.isNullAt(0),
      s"row id=5 (no tags key) must have n_tags NULL, got ${out.head.get(0)}")
    assert(out.head.isNullAt(1))
  }

  test("element_at out-of-bounds is NULL with ANSI off (matches DuckDB)") {
    val r = spark.sql(
      "SELECT element_at(array('a','b'), 5) AS oob, " +
      "element_at(map('k','v'), 'missing') AS mk, " +
      "element_at(array('a','b'), -5) AS noob").collect().head
    assert(r.isNullAt(0) && r.isNullAt(1) && r.isNullAt(2))
  }

  test("malformed-string cast is NULL (oracle side must TRY_CAST)") {
    val r = spark.sql(
      "SELECT CAST('12x' AS INT) AS bad, CAST('' AS DOUBLE) AS empty, " +
      "CAST('2024-99-99' AS DATE) AS baddate").collect().head
    assert(r.isNullAt(0) && r.isNullAt(1) && r.isNullAt(2))
  }

  test("legacy integral overflow WRAPS — never narrow-cast oracle columns") {
    val r = spark.sql(
      "SELECT CAST(4294967296 AS INT) AS wraps").collect().head
    // With ANSI off this silently wraps to 0 — a sentinel-class hazard:
    // DuckDB would raise. The pin is that it does NOT return NULL, so
    // any query narrowing a possibly-large value is wrong by design.
    assert(!r.isNullAt(0) && r.getInt(0) == 0)
  }

  test("division by zero is NULL with ANSI off (oracle must NULLIF)") {
    val r = spark.sql(
      "SELECT 1 div 0 AS idiv, CAST(1 AS DOUBLE)/0 AS ddiv, 5 % 0 AS m")
      .collect().head
    assert(r.isNullAt(0), "integral div by zero must be NULL")
    assert(r.isNullAt(1), "double / 0 is NULL in Spark non-ANSI (not inf)")
    assert(r.isNullAt(2))
  }
}
