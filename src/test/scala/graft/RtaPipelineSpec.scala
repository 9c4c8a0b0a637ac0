package graft

import graft.pipeline.{Etl1, Etl2}
import org.apache.spark.sql.CacheManagerBridge
import org.apache.spark.sql.functions._

/** End-to-end pipeline test on an RTA-shaped synthetic CSV: raw →
  * Etl1 stage → Etl2 gold, asserting the star-schema invariants the
  * reference's warehouse DDL implies (starschema_dw.txt:56-66 FKs). */
class RtaPipelineSpec extends SparkSpec {
  import RtaPipelineSpec._
  import spark.implicits._

  private val policy = "spark.sql.legacy.timeParserPolicy"
  private val ansi = "spark.sql.ansi.enabled"

  /** Output root, and the caller's timeParserPolicy and ANSI flag after
    * the two jobs (preset to CORRECTED and ANSI on for them, as on a
    * default Spark session; the jobs scope their own conf). */
  private lazy val (dirs, policyAfterRuns, ansiAfterRuns) = {
    val root = fixtureDir()
    Tables.withConf(spark, policy -> "CORRECTED", ansi -> "true") {
      Etl1.run(spark, s"$root/raw.csv", s"$root/stage")
      Etl2.run(spark, s"$root/stage", s"$root/gold")
      (root, spark.conf.get(policy), spark.conf.get(ansi))
    }
  }

  private lazy val stage = spark.read.parquet(s"$dirs/stage")
  private lazy val fact = spark.read.parquet(s"$dirs/gold/fact_registrations")
  private lazy val dimV = spark.read.parquet(s"$dirs/gold/dim_vehicle")
  private lazy val dimM = spark.read.parquet(s"$dirs/gold/dim_manufacturer")
  private lazy val dimR = spark.read.parquet(s"$dirs/gold/dim_rta")

  test("stage: dedup keeps newest row per registration") {
    val tr1 = stage.filter($"tempRegistrationNumber" === "TR001").collect()
    assert(tr1.length == 1)
    assert(tr1.head.getAs[Int]("slno") == 2)
    assert(policyAfterRuns == "CORRECTED",
      "Etl1.run/Etl2.run must leave the caller's timeParserPolicy as they found it")
    assert(ansiAfterRuns == "true",
      "Etl1.run/Etl2.run must leave the caller's ANSI flag as they found it")
  }

  test("stage: validity gate drops repaired-misaligned and junk dates") {
    val keys = stage.select("tempRegistrationNumber").as[String].collect().toSet
    assert(!keys.contains("TR002")) // fromdate consumed by office repair
    assert(!keys.contains("TR006")) // unparseable
    assert(keys == Set("TR001", "TR003", "TR004", "TR005"))
  }

  test("stage: TS office code nulled then backfilled from fromdate") {
    val r = stage.filter($"tempRegistrationNumber" === "TR003").first()
    assert(r.getAs[String]("OfficeCd") == "02/03/2021")
  }

  test("stage: model/variant/trailer derivation") {
    val m = stage.select($"tempRegistrationNumber", $"modelName", $"variant")
      .as[(String, String, String)].collect()
      .map { case (k, v, w) => k -> ((v, w)) }.toMap
    assert(m("TR001") == ("SWIFT", "VDI BS IV"))
    assert(m("TR005") == ("WATER TANKER 6000L", "TRAILER/TIPPER/TRACTOR/TANKER"))
  }

  test("stage: date shapes + partition columns") {
    val r = stage.filter($"tempRegistrationNumber" === "TR004").first()
    assert(r.getAs[java.sql.Date]("fromdate_parsed").toString == "2021-04-03")
    assert(r.getAs[Int]("year") == 2021 && r.getAs[Int]("month") == 4)
  }

  test("gold: makeYear 2-digit fix + MANUFACTURER_DATE_ID") {
    val r = fact.filter($"TEMP_REGISTRATION_NUMBER" === "TR004").first()
    assert(r.getAs[Int]("MANUFACTURER_DATE_ID") == 20180101)
  }

  test("gold: fact rows = valid stage rows; no fuzzy on self-derived dims") {
    assert(fact.count() == stage.count())
    assert(fact.filter($"IS_FUZZY_MATCH" === true).count() == 0)
  }

  test("gold: star FK integrity (anti-join counts are zero)") {
    def orphans(fk: String, dim: org.apache.spark.sql.DataFrame, pk: String) =
      fact.filter(col(fk).isNotNull).select(col(fk).as(pk))
        .join(dim.select(pk), Seq(pk), "left_anti").count()
    assert(orphans("VEHICLE_ID", dimV, "VEHICLE_ID") == 0)
    assert(orphans("MANUFACTURER_ID", dimM, "MANUFACTURER_ID") == 0)
    assert(orphans("RTA_ID", dimR, "RTA_ID") == 0)
  }

  test("gold: dims are unique on their surrogate keys") {
    assert(dimV.count() == dimV.select("VEHICLE_ID").distinct().count())
    assert(dimM.count() == dimM.select("MANUFACTURER_ID").distinct().count())
    assert(dimR.count() == dimR.select("RTA_ID").distinct().count())
  }

  test("gold: fact is partitioned by REGISTRATION_YEAR and compacted") {
    val parts = new java.io.File(s"$dirs/gold/fact_registrations").listFiles
      .filter(_.getName.startsWith("REGISTRATION_YEAR="))
    assert(parts.nonEmpty)
    // tiny data → sized coalesce collapses to 1 file per partition dir
    parts.foreach { p =>
      assert(p.listFiles.count(_.getName.endsWith(".parquet")) == 1)
    }
  }

  test("dimensions min(struct) row choice == ordered-window dedup (differential)") {
    import org.apache.spark.sql.expressions.Window
    // the scale-shaped aggregate (SCALE.md plan trap 4) must pick the
    // exact rows the reference-shaped window picks on every dim
    val keyed = Etl2.keyed(stage)
    val (dv, dm, dr) = Etl2.dimensions(keyed)
    def windowed(d: org.apache.spark.sql.DataFrame, key: String) = {
      val w = Window.partitionBy(col(key))
        .orderBy(col("tempRegistrationNumber").asc)
      d.withColumn("__rn", row_number().over(w))
        .filter($"__rn" === 1).drop("__rn", "tempRegistrationNumber")
    }
    val dvW = windowed(keyed.select(col("tempRegistrationNumber"),
      col("VEHICLE_ID"), col("modelName").as("MODEL_NAME"),
      col("variant").as("VARIANT"),
      col("emissionStandard").as("EMISSION_STANDARD"),
      col("fuel_clean").as("FUEL"),
      coalesce(col("colour"), lit("UNKNOWN")).as("COLOUR"),
      coalesce(col("vehicleClass"), lit("UNKNOWN")).as("VEHICLE_CLASS"),
      col("makeYear_clean").as("MAKE_YEAR"),
      coalesce(col("seatCapacity").cast("int"), lit(0)).as("SEAT_CAPACITY"),
      col("isElectric").as("IS_ELECTRIC")), "VEHICLE_ID")
    assert(dv.exceptAll(dvW).isEmpty && dvW.exceptAll(dv).isEmpty)
    val dmW = windowed(keyed.select(col("tempRegistrationNumber"),
      col("MANUFACTURER_ID"), col("makerName").as("MAKER_NAME")),
      "MANUFACTURER_ID")
    assert(dm.exceptAll(dmW).isEmpty && dmW.exceptAll(dm).isEmpty)
    assert(dr.count() == dr.select("RTA_ID").distinct().count())
  }

  test("q_star_fact: fuzzy-resolved rows flow through the composed pipeline") {
    val f = SparkEntry.queries("q_star_fact")(spark, "/root/testdata/sf0.001")
      .persist()
    try {
      val fuzzy = f.filter($"IS_FUZZY_MATCH" === true)
      assert(fuzzy.count() >= 1, "the slno%13 typo slice produced no fuzzy rows")
      // the fuzzy flag tracks exactly the corrupted observation slice
      assert(f.filter($"IS_FUZZY_MATCH" === ($"SLNO" % 13 =!= 1)).count() == 0)
      // the cascade recovered the ORIGINAL vehicle: every fuzzy row's
      // id is a real dim key, and its MODEL_NAME carries the typo
      val dv = SparkEntry.queries("q_star_dim_vehicle")(spark, "/root/testdata/sf0.001")
      assert(fuzzy.join(dv.select("VEHICLE_ID"), Seq("VEHICLE_ID"), "left_anti")
        .count() == 0)
      assert(fuzzy.filter(!$"MODEL_NAME".endsWith("Q")).count() == 0)
    } finally { f.unpersist() }
  }

  test("q_star_fact fixture invariants behind the slno%13 oracle rule") {
    // The q_star_fact oracle hard-codes IS_FUZZY_MATCH = (slno%13=1).
    // That rule is only correct under fixture invariants this test
    // pins EXPLICITLY, so a fixture change fails here with a targeted
    // message instead of surfacing as an opaque oracle hash mismatch
    // (ADVICE r3). Invariants, per Etl2.resolveVehicles semantics:
    val keyed = Etl2.keyed(Etl1.stage(
      graft.queries.StarQueries.rawSynth(spark, "/root/testdata/sf0.001")))
    // 1. every corrupted-slice observation keeps a usable model: the
    //    "+Q" typo must leave modelName non-null with a >=2-char
    //    trimmed prefix, or the row would skip the fuzzy block and
    //    come out non-fuzzy, breaking the %13 rule
    val slice = keyed.filter(col("slno") % 13 === 1)
    val badModel = slice
      .filter(col("modelName").isNull || length(trim(col("modelName"))) < 2)
      .count()
    assert(badModel == 0,
      s"$badModel corrupted-slice rows have null/short modelName — " +
        "they would miss the fuzzy block and falsify the %13 oracle rule")
    // 2. within every (2-char model prefix, make-year) fuzzy block,
    //    the corrupted key "<model>Q <variant>" is at levenshtein >= 2
    //    from every OTHER dim candidate (its own original is at
    //    exactly 1), so the original is the unique best match — no
    //    tiebreak dependence, and no accidental exact match either
    val (dv, _, _) = Etl2.dimensions(keyed)
    val cand = dv.select(
      col("VEHICLE_ID").as("vid"),
      substring(lower(trim(col("MODEL_NAME"))), 1, 2).as("block"),
      col("MAKE_YEAR").cast("string").as("yr"),
      lower(trim(concat_ws(" ", col("MODEL_NAME"), col("VARIANT"))))
        .as("fuzzy_key"),
      lower(trim(concat_ws(" ", concat(col("MODEL_NAME"), lit("Q")),
        col("VARIANT")))).as("corrupt_key"))
    val ambiguous = cand.as("a")
      .join(cand.as("b"),
        col("a.block") === col("b.block") && col("a.yr") === col("b.yr") &&
          col("a.vid") =!= col("b.vid") &&
          levenshtein(col("a.corrupt_key"), col("b.fuzzy_key")) < 2)
      .count()
    assert(ambiguous == 0,
      s"$ambiguous dim pairs are within levenshtein 1 of a corrupted " +
        "key in the same fuzzy block — resolution would be ambiguous " +
        "and the %13 oracle rule unsound")
  }

  test("fuzzy resolution engages when the dim lacks the exact key") {
    val stageDf = Etl2.keyed(stage)
    // dim with the model one edit away ("SWIFT VDJ" vs "SWIFT VDI"),
    // same block (sw); TR001's make-year is 2019
    def resolveTr001(makeYear: String) = {
      val dv = Seq(("VEH1", "SWIFT", "VDJ BS IV", makeYear))
        .toDF("VEHICLE_ID", "MODEL_NAME", "VARIANT", "MAKE_YEAR")
        .withColumn("EMISSION_STANDARD", lit("UNKNOWN"))
        .withColumn("FUEL", lit("PETROL"))
      Etl2.resolveVehicles(stageDf, dv)
        .filter($"tempRegistrationNumber" === "TR001").collect()
    }
    val res = resolveTr001("2019")
    assert(res.length == 1)
    assert(res.head.getAs[String]("VEHICLE_ID_resolved") == "VEH1")
    assert(res.head.getAs[Boolean]("IS_FUZZY_MATCH"))
    assert(res.head.getAs[Int]("LEV_DIST") == 1)
    // the make-year is a block key: a fuzzy match never crosses years
    assert(resolveTr001("2018").isEmpty)
  }

  test("Etl2.run leaves no cached frame after CacheReleases.releaseAll") {
    // a stage of its own: a plan another run left cached would be
    // found again, not added, and hide a leak
    val root = dirs
    Etl1.run(spark, s"$root/raw.csv", s"$root/stage-rerun")
    def cached = CacheManagerBridge.numCachedEntries(spark)
    val before = cached
    Etl2.run(spark, s"$root/stage-rerun", s"$root/gold-rerun")
    CacheReleases.releaseAll()
    assert(cached <= before,
      "Etl2.run must unpersist its frames or register them with CacheReleases")
  }
}

object RtaPipelineSpec {
  val header = "slno,tempRegistrationNumber,fromdate,todate,OfficeCd,makerName,modelDesc,fuel,makeYear,colour,vehicleClass,seatCapacity"
  val rows = Seq(
    // normal rows, incl. a duplicate registration (newest 2021 wins)
    "1,TR001,01/02/2020,01/02/2035,OFFICE1,MARUTI.,SWIFT VDI BS IV,PETROL,2019,RED,LMV,5",
    "2,TR001,01/02/2021,01/02/2036,OFFICE1,MARUTI,SWIFT VDI BS IV,PETROL,2019,RED,LMV,5",
    // misaligned: office name landed in fromdate → repaired then
    // dropped by the validity gate (no date left)
    "3,TR002,RTA HYDERABAD,01/02/2035,,TATA,NEXON EV,BATTERY,2020,BLUE,LMV,5",
    // TS state code → nulled, then backfilled from fromdate
    "4,TR003,02/03/2021,02/03/2036,TS,HYUNDAI,I20 SPORTZ,DIESEL,,WHITE,LMV,5",
    // dot-separated date + 2-digit year + year also in modelDesc
    "5,TR004,03.04.2021,,OFFICE2,HONDA,CITY 2018 ZX,PETROL,18,BLACK,LMV,5",
    // trailer
    "6,TR005,04/05/2021,04/05/2036,OFFICE2,ASHOK LEYLAND,WATER TANKER 6000L,DIESEL,2017,YELLOW,HGV,2",
    // unparseable date → dropped by validity gate
    "7,TR006,junk,junk,OFFICE3,KIA,SELTOS HTK,PETROL,2021,GREY,LMV,5"
  )

  /** Write the fixture as `raw.csv` under a new temp dir; returns the dir. */
  def fixtureDir(): String = {
    val root = java.nio.file.Files.createTempDirectory("graft-e2e").toString
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$root/raw.csv"),
      (header +: rows).mkString("\n"))
    root
  }
}
