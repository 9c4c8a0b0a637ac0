package graft.queries

import graft.{CacheReleases, Q, Tables}
import graft.pipeline.{Etl1, Etl2}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end star-schema parity: the full Etl1.stage → Etl2
  * (keyed, dimensions, resolveVehicles, fact) pipeline (reference etl1_clean_and_stage.py:56-148 +
  * etl2_advclean_and_dimcreatin.py:100-331) run over a raw
  * registration table synthesized deterministically from `orders`, so
  * a DuckDB oracle can mirror the whole cascade: newest-wins dedup on
  * raw date strings, misalignment repair, model/variant derivation,
  * multi-format date parsing, fuel/year normalization, surrogate
  * keys, dimension dedup, vehicle resolution, and fact assembly.
  *
  * The piecewise operator queries (q_dim_build, q_resolution_fuzzy,
  * q_fact_assembly, ...) verify each stage in isolation; these two
  * verify the COMPOSED pipeline — the round-1 verdict's "gold outputs
  * are never DuckDB-compared" gap. Resolution takes BOTH branches
  * end-to-end: after the dims are built, a deterministic slice of the
  * observations (slno % 13 = 1) gets a one-character modelName typo —
  * the curated-dims-vs-noisy-batch shape the reference's cascade
  * exists for (etl2:220-244). Those rows miss the exact 3-key join,
  * enter the blocked fuzzy join (block key = first-2 chars, preserved
  * by the suffix typo; every synthesized model has a distinct 2-char
  * prefix, so the only in-block candidate at the same make-year is the
  * row's own original), resolve at levenshtein = 1, and flow into the
  * fact with IS_FUZZY_MATCH = true and the ORIGINAL vehicle id — which
  * is what lets the oracle mirror the outcome declaratively: perturbed
  * MODEL_NAME, original VEHICLE_ID, fuzzy flag on exactly that slice.
  *
  * The synthesized raw rows exercise every repair branch: office
  * strings misaligned into fromdate (row dropped after repair — no
  * parsable date), TS state codes nulled then backfilled from the
  * fromdate string, trailing maker junk, trailer/electric/BS-emission
  * model descriptions, 2-digit / missing / inferrable make years,
  * dd/MM/yyyy + yyyy/MM/dd date shapes, and duplicate registrations
  * whose fromdate string sorts lexicographically below every real
  * date (the reference dedups on the RAW string, etl1:68-70).
  */
object StarQueries {
  import Tables.load

  /** Deterministic raw registration table from `orders`. Every value
    * is a pure function of (o_orderkey, o_custkey, o_orderdate), so
    * DuckDB rebuilds it bit-for-bit. */
  def rawSynth(spark: SparkSession, dir: String): DataFrame = {
    // single-row-group fixture: spread the scan before the synth
    // projection (regex/date-format heavy) so it runs on all cores —
    // same rationale as q_dedup_ngram_jaccard's repartition
    val o = load(spark, dir, "orders").repartition(col("o_orderkey"))
    val k = col("o_orderkey")
    val main = o.select(
      concat(lit("TR"), k.cast("string")).as("tempRegistrationNumber"),
      k.as("slno"),
      when(k % 11 === 3, lit("RTA KHAIRATABAD"))
        .otherwise(date_format(col("o_orderdate"), "dd/MM/yyyy")).as("fromdate"),
      date_format(date_add(col("o_orderdate"), 1825), "yyyy/MM/dd").as("todate"),
      when(k % 11 === 3, lit(null).cast("string"))
        .when(k % 11 === 5, lit("TS"))
        .otherwise(concat(lit("RTA-"), (col("o_custkey") % 20).cast("string")))
        .as("OfficeCd"),
      concat(lit("Maker "), (col("o_custkey") % 30).cast("string"),
        element_at(array(lit(""), lit("\\"), lit("."), lit(",,")),
          (k % 4 + 1).cast("int"))).as("makerName"),
      element_at(array(
        lit("Alpha LX 2015 BS IV"), lit("Beta tipper heavy duty"),
        lit("Gamma EV plus"), lit("Delta"), lit("Epsilon ZX BS IIIA"),
        lit("Zeta@MK2 pro"), lit("Eta turbo 2009"), lit("Theta S hybrid")),
        (k % 8 + 1).cast("int")).as("modelDesc"),
      element_at(array(lit("BATTERY OPERATED"), lit("PETROL"), lit("DIESEL"),
        lit("CNG GAS"), lit("LPG"), lit("KEROSENE")),
        (col("o_custkey") % 6 + 1).cast("int")).as("fuel"),
      element_at(array(lit(null).cast("string"), lit(""), lit("UNKNOWN"),
        lit("15"), lit("2018")), (k % 5 + 1).cast("int")).as("makeYear"),
      when(k % 3 === 0, lit(null).cast("string"))
        .otherwise(concat(lit("C"), (k % 5).cast("string"))).as("colour"),
      element_at(array(lit("HMV"), lit("LMV"), lit(null).cast("string"),
        lit("MCV")), (k % 4 + 1).cast("int")).as("vehicleClass"),
      when(k % 9 === 0, lit(null).cast("int"))
        .otherwise((k % 9).cast("int")).as("seatCapacity"))
    // duplicate registrations: '00/00/0000' sorts lexicographically
    // below every real dd/MM/yyyy string, so the main row always wins
    // the newest-wins window and the dup's junk never reaches parsing
    val dups = o.filter(k % 7 === 0).select(
      concat(lit("TR"), k.cast("string")).as("tempRegistrationNumber"),
      (k + 100000000L).as("slno"),
      lit("00/00/0000").as("fromdate"),
      lit("xx").as("todate"),
      lit("RTA-DUP").as("OfficeCd"),
      lit("Dup Maker").as("makerName"),
      lit("Dup model").as("modelDesc"),
      lit("DIESEL").as("fuel"),
      lit("1999").as("makeYear"),
      lit("X").as("colour"),
      lit("LMV").as("vehicleClass"),
      lit(2).cast("int").as("seatCapacity"))
    main.unionByName(dups)
  }

  private def fact(spark: SparkSession, dir: String): DataFrame = {
    // persist the keyed stage and dim_vehicle, as Etl2.run does: the
    // dimensions, resolution and fact assembly consume the stage
    // lineage ~6x (three dims, the resolution's observation window,
    // manRes, fact) and re-deriving Etl1.stage's window + repairs per
    // consumer measured 13 s vs ~3 s cached at sf0.1. (Round-11 note: a localCheckpoint
    // swap measured FASTER to materialize — P31, 5.9 vs 8 s at sf1 —
    // but slower end-to-end: six consumers re-read this frame, and
    // InMemoryRelation's pruned columnar reads beat row
    // deserialization across that many scans.)
    val df = Etl2.keyed(Etl1.stage(rawSynth(spark, dir)))
      .transform(CacheReleases.persisted)
    val (dv, _, _) = Etl2.dimensions(df)
    val dvC = CacheReleases.persisted(dv)
    // Observation corruption AFTER the dim build (dims stay clean):
    // a suffix typo keeps the 2-char block key and stays at
    // levenshtein 1 from the row's own dim entry, so the fuzzy branch
    // must recover the original VEHICLE_ID. The surrogate keys were
    // computed by keyed() before the typo, so the fact's fallback
    // coalesce also carries the original id — resolution correctness,
    // not the coalesce, is what the fuzzy flag witnesses.
    // The oracle's IS_FUZZY_MATCH = (slno%13=1) rule rests on fixture
    // invariants (non-null >=2-char models on the slice; corrupted
    // keys >= levenshtein 2 from every other in-block dim candidate)
    // pinned with targeted messages in RtaPipelineSpec
    // ("q_star_fact fixture invariants...") — change the synth or the
    // corruption and that test, not an oracle hash, is what fails.
    val dfObs = df.withColumn("modelName",
      when(col("slno") % 13 === 1, concat(col("modelName"), lit("Q")))
        .otherwise(col("modelName")))
    val res = Etl2.resolveVehicles(dfObs, dvC)
    Etl2.fact(dfObs, res)
  }

  /** The raw→stage→keyed mirror as DuckDB CTEs (shared by both
    * oracles). Every step mirrors one Etl1/Etl2 transformation in
    * order; see the Scaladoc above for the branch inventory. */
  private val sqlStageCtes: String = """
    main AS (
      SELECT 'TR' || CAST(o_orderkey AS VARCHAR) AS reg,
        o_orderkey AS slno,
        CASE WHEN o_orderkey % 11 = 3 THEN 'RTA KHAIRATABAD'
             ELSE strftime(o_orderdate, '%d/%m/%Y') END AS fromdate,
        strftime(o_orderdate + INTERVAL 1825 DAY, '%Y/%m/%d') AS todate,
        CASE WHEN o_orderkey % 11 = 3 THEN NULL
             WHEN o_orderkey % 11 = 5 THEN 'TS'
             ELSE 'RTA-' || CAST(o_custkey % 20 AS VARCHAR) END AS OfficeCd,
        'Maker ' || CAST(o_custkey % 30 AS VARCHAR) ||
          (['', '\', '.', ',,'])[CAST(o_orderkey % 4 AS INTEGER) + 1] AS makerName,
        (['Alpha LX 2015 BS IV','Beta tipper heavy duty','Gamma EV plus','Delta',
          'Epsilon ZX BS IIIA','Zeta@MK2 pro','Eta turbo 2009','Theta S hybrid'
          ])[CAST(o_orderkey % 8 AS INTEGER) + 1] AS modelDesc,
        (['BATTERY OPERATED','PETROL','DIESEL','CNG GAS','LPG','KEROSENE'
          ])[CAST(o_custkey % 6 AS INTEGER) + 1] AS fuel,
        ([NULL, '', 'UNKNOWN', '15', '2018'
          ])[CAST(o_orderkey % 5 AS INTEGER) + 1] AS makeYear,
        CASE WHEN o_orderkey % 3 = 0 THEN NULL
             ELSE 'C' || CAST(o_orderkey % 5 AS VARCHAR) END AS colour,
        (['HMV','LMV',NULL,'MCV'])[CAST(o_orderkey % 4 AS INTEGER) + 1] AS vehicleClass,
        CASE WHEN o_orderkey % 9 = 0 THEN NULL
             ELSE CAST(o_orderkey % 9 AS INTEGER) END AS seat
      FROM orders),
    dups AS (
      SELECT 'TR' || CAST(o_orderkey AS VARCHAR), o_orderkey + 100000000,
        '00/00/0000', 'xx', 'RTA-DUP', 'Dup Maker', 'Dup model', 'DIESEL',
        '1999', 'X', 'LMV', 2
      FROM orders WHERE o_orderkey % 7 = 0),
    raw AS (SELECT * FROM main UNION ALL SELECT * FROM dups),
    ded AS (
      SELECT *, regexp_replace(makerName, '[\\.,]+$', '') AS makerClean
      FROM raw
      QUALIFY row_number() OVER (PARTITION BY reg
        ORDER BY fromdate DESC, todate DESC, slno ASC) = 1),
    rep0 AS (
      SELECT *,
        regexp_matches(fromdate,
          '(?i)^(RTA|UNIT OFFICE|MVI|DTO|ZONAL|TRANSPORT).*') AS officeLike
      FROM ded),
    rep1 AS (
      SELECT *,
        CASE WHEN officeLike AND OfficeCd IS NULL THEN fromdate
             ELSE OfficeCd END AS of1,
        CASE WHEN officeLike THEN NULL ELSE fromdate END AS fd2
      FROM rep0),
    rep2 AS (
      SELECT *, CASE WHEN regexp_matches(of1, '(?i)^(TS|TG)$') THEN NULL
                     ELSE of1 END AS of2
      FROM rep1),
    rep AS (
      SELECT *, CASE WHEN of2 IS NULL AND fd2 IS NOT NULL THEN fd2
                     ELSE of2 END AS office
      FROM rep2),
    md0 AS (
      SELECT *,
        trim(regexp_replace(modelDesc, '[^A-Za-z0-9\s+\-()./]', ' ', 'g')) AS mdc
      FROM rep),
    md1 AS (
      SELECT *,
        regexp_matches(lower(mdc), 'trailer|trailor|tipper|tractor|tanker') AS isTrailer,
        regexp_matches(lower(mdc), '\b(ev|bov|electric|hybrid)\b') AS isElectric,
        regexp_split_to_array(mdc, '\s+') AS mw
      FROM md0),
    md2 AS (
      SELECT *,
        upper(CASE WHEN isTrailer THEN mdc ELSE mw[1] END) AS modelName,
        upper(CASE WHEN isTrailer THEN 'TRAILER/TIPPER/TRACTOR/TANKER'
                   ELSE trim(array_to_string(mw[2:len(mw)], ' ')) END) AS var0
      FROM md1),
    md AS (
      SELECT *, CASE WHEN var0 = '' OR var0 IS NULL THEN 'UNKNOWN'
                     ELSE var0 END AS variant
      FROM md2),
    typ0 AS (
      SELECT *,
        regexp_replace(trim(regexp_replace(CAST(fd2 AS VARCHAR),
          '[^0-9/.\-]', '', 'g')), '[.\-]', '/', 'g') AS fc,
        regexp_replace(trim(regexp_replace(CAST(todate AS VARCHAR),
          '[^0-9/.\-]', '', 'g')), '[.\-]', '/', 'g') AS tc,
        regexp_extract(mdc, '(19\d{2}|20[0-2]\d)', 0) AS my_inf
      FROM md),
    typ AS (
      SELECT *,
        CASE WHEN regexp_matches(fc, '^\d{2}/\d{2}/\d{4}$')
               THEN try_strptime(fc, '%d/%m/%Y')::DATE
             WHEN regexp_matches(fc, '^\d{4}/\d{2}/\d{2}$')
               THEN try_strptime(fc, '%Y/%m/%d')::DATE
             ELSE NULL END AS fromdate_parsed,
        CASE WHEN regexp_matches(tc, '^\d{2}/\d{2}/\d{4}$')
               THEN try_strptime(tc, '%d/%m/%Y')::DATE
             WHEN regexp_matches(tc, '^\d{4}/\d{2}/\d{2}$')
               THEN try_strptime(tc, '%Y/%m/%d')::DATE
             ELSE NULL END AS todate_parsed,
        upper(CASE WHEN regexp_matches(fuel, 'BATTERY|ELECTRIC') THEN 'ELECTRIC'
                   WHEN regexp_matches(fuel, 'PETROL|GASOLINE') THEN 'PETROL'
                   WHEN regexp_matches(fuel, 'DIESEL') THEN 'DIESEL'
                   WHEN regexp_matches(fuel, 'CNG') THEN 'CNG'
                   WHEN regexp_matches(fuel, 'LPG') THEN 'LPG'
                   ELSE 'UNKNOWN' END) AS fuel_clean,
        CASE WHEN makeYear IS NULL OR makeYear = '' OR makeYear = 'UNKNOWN'
             THEN CASE WHEN my_inf != '' THEN my_inf ELSE 'UNKNOWN' END
             ELSE makeYear END AS my1
      FROM typ0),
    stage AS (SELECT * FROM typ WHERE fromdate_parsed IS NOT NULL),
    keyed AS (
      SELECT *,
        CASE WHEN length(my1) = 2 AND regexp_matches(my1, '^[0-9]{2}$')
             THEN '20' || my1 ELSE my1 END AS makeYearClean,
        CASE WHEN isElectric THEN 'ELECTRIC'
             WHEN em_raw IS NULL OR em_raw = '' THEN 'UNKNOWN'
             ELSE upper(regexp_replace(em_raw, '\s', '', 'g')) END AS emission
      FROM (SELECT *,
        regexp_extract(mdc, '(BS\s?III[AB]?|BS\s?IV|BS\s?V|BS\s?VI)', 1) AS em_raw
        FROM stage)),
    ids AS (
      SELECT *,
        CASE WHEN makeYearClean IS NULL THEN 'UNKNOWN'
             ELSE makeYearClean END AS makeYearKey
      FROM keyed),
    fin AS (
      SELECT *,
        sha256(concat_ws('|', lower(trim(modelName)), lower(trim(variant)),
          makeYearKey)) AS VEHICLE_ID,
        sha256(lower(trim(makerClean))) AS MANUFACTURER_ID,
        sha256(lower(trim(office))) AS RTA_ID
      FROM ids)"""

  /** Fact parity: every surviving registration, with surrogate keys,
    * int date ids, and the (exact-resolved) vehicle id. */
  val qStarFact = Q(
    "q_star_fact",
    (spark, dir) => fact(spark, dir),
    Some("WITH " + sqlStageCtes + """
    SELECT VEHICLE_ID, MANUFACTURER_ID, RTA_ID,
      CAST(strftime(fromdate_parsed, '%Y%m%d') AS INTEGER) AS REGISTRATION_ISSUE_DATE_ID,
      CAST(strftime(todate_parsed, '%Y%m%d') AS INTEGER) AS REGISTRATION_EXPIRY_DATE_ID,
      CAST(year(fromdate_parsed) AS INTEGER) AS REGISTRATION_YEAR,
      CASE WHEN regexp_matches(makeYearClean, '^[0-9]{4}$')
           THEN CAST(makeYearClean || '0101' AS INTEGER) ELSE NULL END AS MANUFACTURER_DATE_ID,
      vehicleClass AS TRANSPORT_TYPE,
      reg AS TEMP_REGISTRATION_NUMBER,
      slno AS SLNO,
      slno % 13 = 1 AS IS_FUZZY_MATCH,
      colour AS COLOUR,
      fuel_clean AS FUEL_TYPE,
      CASE WHEN slno % 13 = 1 THEN modelName || 'Q' ELSE modelName END AS MODEL_NAME
    FROM fin"""),
    "End-to-end Etl1→Etl2 fact parity (etl1:56-148 + etl2:100-331)",
    conf = Q.Unfused ++ Q.LegacyTime)

  /** dim_vehicle parity: first-row-per-VEHICLE_ID attributes with the
    * deterministic tempRegistrationNumber tiebreak. */
  val qStarDimVehicle = Q(
    "q_star_dim_vehicle",
    (spark, dir) => {
      // dims need only the keyed stage — skip the resolution cascade
      // and fact assembly fact() would also build
      val (dv, _, _) = Etl2.dimensions(Etl2.keyed(Etl1.stage(rawSynth(spark, dir))))
      dv
    },
    Some("WITH " + sqlStageCtes + """
    SELECT VEHICLE_ID,
      modelName AS MODEL_NAME,
      variant AS VARIANT,
      emission AS EMISSION_STANDARD,
      fuel_clean AS FUEL,
      coalesce(colour, 'UNKNOWN') AS COLOUR,
      coalesce(vehicleClass, 'UNKNOWN') AS VEHICLE_CLASS,
      makeYearClean AS MAKE_YEAR,
      coalesce(seat, 0) AS SEAT_CAPACITY,
      isElectric AS IS_ELECTRIC
    FROM fin
    QUALIFY row_number() OVER (PARTITION BY VEHICLE_ID ORDER BY reg ASC) = 1"""),
    "End-to-end Etl2 dim_vehicle parity (etl2:170-186)",
    conf = Q.Unfused ++ Q.LegacyTime)

  val all: Seq[Q] = Seq(qStarFact, qStarDimVehicle)
}
