package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text normalization used before joining / hashing.
  * Semantics from reference etl1_clean_and_stage.py:66,100,104-108 and
  * etl2_advclean_and_dimcreatin.py:105-117,156-162. */
object Norm {
  /** lower(trim(x)) — the canonical join/hash normalization
    * (reference etl2:200-202,221-226). */
  def lowerTrim(c: Column): Column = lower(trim(c))

  /** Keep only model-safe characters (reference etl1:100). */
  def cleanModelDesc(c: Column): Column =
    regexp_replace(c, "[^A-Za-z0-9\\s\\+\\-\\(\\)\\./]", "")

  /** NULL/blank → "UNKNOWN", else trimmed (reference etl2:156). */
  def orUnknown(c: Column): Column =
    coalesce(nullif(trim(c), lit("")), lit("UNKNOWN"))
}

/** Multi-format defensive date parsing
  * (reference etl1_clean_and_stage.py:32-53).
  * Raw strings are cleaned (strip non-date chars, unify separators),
  * then parsed by shape; unparseable → null. */
object DateParse {
  /** `[^\d/.\-]` strip + `[.\-]`→`/` (reference etl1:36-39). */
  def cleanDateStr(c: Column): Column =
    regexp_replace(regexp_replace(c, "[^\\d/.\\-]", ""), "[\\.\\-]", "/")

  /** Shape-dispatched to_date over dd/MM/yyyy | yyyy/MM/dd | dd/MM/yy
    * (reference etl1:40-49), else null. 2-digit years resolve per the
    * session's time parser policy. The three anchored shapes cannot
    * overlap, so branch order does not matter; the strip leaves no
    * whitespace, so padded input needs no trim.
    *
    * Round-11 negative probe (P31, sf1, interleaved): replacing the
    * guarded to_date branches with substring→cast→make_date integer
    * arithmetic — semantics-identical for valid post-1582 dates —
    * measured ~2× SLOWER in `Etl1.stage` (11.2 vs 6.3 s stage wall),
    * with or without hand-CSE'd cleaned columns; the extra expressions
    * push the already-wide stage projection out of whole-stage codegen.
    * This LEGACY to_date chain is ~160 ns/row post-regex and is the
    * measured floor — don't "optimize" it again without an A/B. */
  def parseMulti(c: Column): Column = {
    val u = cleanDateStr(c)
    when(u.rlike("^\\d{2}/\\d{2}/\\d{4}$"), to_date(u, "dd/MM/yyyy"))
      .when(u.rlike("^\\d{4}/\\d{2}/\\d{2}$"), to_date(u, "yyyy/MM/dd"))
      .when(u.rlike("^\\d{2}/\\d{2}/\\d{2}$"), to_date(u, "dd/MM/yy"))
      .otherwise(lit(null).cast("date"))
  }

  /** date → int yyyyMMdd surrogate date key (reference etl2:263-267). */
  def dateKey(c: Column): Column =
    date_format(c, "yyyyMMdd").cast("int")
}

/** Row-level column-misalignment repair: an office name that landed in
  * the `fromdate` column is moved to `OfficeCd`
  * (reference etl1_clean_and_stage.py:76-94). */
object Repair {
  val OfficePattern = "(?i)^(RTA|UNIT OFFICE|MVI|DTO|ZONAL|TRANSPORT).*"
  val StateCodePattern = "(?i)^(TS|TG)$"

  /** Steps 1–3 of the reference repair (etl1:76-94): move an office
    * name out of `fromdate` into a null `OfficeCd`, null that
    * `fromdate`, null a bare state code. Returns (repairedOffice,
    * repairedFromdate). One when-chain gives the reference's sequential
    * result: a moved value matches `OfficePattern`, so it is never a
    * state code. The step-4 backfill is `Etl1.stage`'s. */
  def officeCdRepair(officeCd: Column, fromdate: Column): (Column, Column) = {
    val officeLike = fromdate.rlike(OfficePattern)
    val office = when(officeLike && officeCd.isNull, fromdate)
      .when(officeCd.rlike(StateCodePattern), lit(null).cast("string"))
      .otherwise(officeCd)
    val fd = when(officeLike, lit(null).cast("string")).otherwise(fromdate)
    (office, fd)
  }
}

/** Keyed deduplication. */
object Dedup {
  /** Deterministic keep-one-row-per-key: row_number over
    * (partitionBy keys, orderBy order), keep rank 1
    * (reference etl1:68-70 newest-wins; etl2:236-238 best-match).
    * Scale note: one hash-partition shuffle on `keys`; no skew issue
    * unless a single key dominates — salt upstream if so. */
  def latestPerKey(df: DataFrame, keys: Seq[String], order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }
}

/** Content-addressed surrogate keys: SHA-256 over '|'-joined normalized
  * natural-key parts (reference etl2_advclean_and_dimcreatin.py:156-162).
  * Deterministic and idempotent across runs — no identity columns, so
  * dimension builds are embarrassingly parallel at any scale. */
object Keys {
  def sha(parts: Column*): Column =
    sha2(concat_ws("|", parts.map(p => Norm.orUnknown(p)): _*), 256)
}
