package graft.pipeline

import graft.ops.{DateParse, Repair}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Raw registration CSV → cleaned, deduplicated, partitioned stage.
  * Semantics from the reference's first Glue job
  * (etl1_clean_and_stage.py:56-148), expressed as a pure
  * DataFrame => DataFrame so it unit-tests without I/O. The date parse
  * is `ops.DateParse.parseMulti` and steps 1-3 of the office repair are
  * `ops.Repair.officeCdRepair`, the same functions the
  * `q_date_parse_multi`, `q_date_parse_yy` and `q_misalign_repair`
  * oracle queries check.
  *
  * Deliberate divergences (documented, all strict improvements):
  *  - the dedup window gets deterministic tiebreaks (todate, slno)
  *    after the reference's `fromdate desc` (etl1:68 alone is
  *    tie-nondeterministic);
  *  - callers can pass an explicit schema instead of inferSchema's
  *    extra full scan (etl1:59);
  *  - no eager count() actions between plan stages (etl1:60,139
  *    execute the lineage twice for logging).
  */
object Etl1 {
  val TrailerPattern = "trailer|trailor|tipper|tractor|tanker"
  val ElectricPattern = "\\b(ev|bov|electric|hybrid)\\b"

  /** Raw rows → stage rows. Input needs the raw RTA columns
    * (tempRegistrationNumber, fromdate, todate, OfficeCd, makerName,
    * modelDesc, fuel, makeYear, ...); extra columns pass through. */
  def stage(raw: DataFrame): DataFrame = {
    // maker cleanup (etl1:66 — trailing backslash/dot/comma)
    val cleaned = raw.withColumn("makerName",
      regexp_replace(col("makerName"), "[\\\\.,]+$", ""))

    // newest-wins dedup per registration on the RAW fromdate string
    // (etl1:68-70), with deterministic tiebreaks added
    val w = Window.partitionBy("tempRegistrationNumber")
      .orderBy(col("fromdate").desc, col("todate").desc, col("slno").asc)
    val deduped = cleaned
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")

    // OfficeCd misalignment repair (etl1:76-94): steps 1-3 from
    // Repair, then the step-4 backfill from the repaired fromdate
    val (office, fromdate) = Repair.officeCdRepair(col("OfficeCd"), col("fromdate"))
    val repaired = deduped
      .withColumns(Map("OfficeCd" -> office, "fromdate" -> fromdate))
      .withColumn("OfficeCd",
        when(col("OfficeCd").isNull && col("fromdate").isNotNull, col("fromdate"))
          .otherwise(col("OfficeCd")))

    // model description → modelName/variant (etl1:100-109)
    val modeled = repaired
      .withColumn("modelDescClean",
        trim(regexp_replace(col("modelDesc"), "[^A-Za-z0-9\\s\\+\\-\\(\\)\\./]", " ")))
      .withColumn("isTrailer", lower(col("modelDescClean")).rlike(TrailerPattern))
      .withColumn("isElectric", lower(col("modelDescClean")).rlike(ElectricPattern))
      .withColumn("modelWords", split(col("modelDescClean"), "\\s+"))
      .withColumn("modelName",
        upper(when(col("isTrailer"), col("modelDescClean"))
          .otherwise(col("modelWords").getItem(0))))
      .withColumn("variant_words",
        slice(col("modelWords"), lit(2), size(col("modelWords")) - 1))
      .withColumn("variant",
        upper(when(col("isTrailer"), lit("TRAILER/TIPPER/TRACTOR/TANKER"))
          .otherwise(trim(concat_ws(" ", col("variant_words"))))))
      .withColumn("variant",
        when(col("variant") === "" || col("variant").isNull, lit("UNKNOWN"))
          .otherwise(col("variant")))

    // dates (etl1:32-53,114), fuel + makeYear (etl1:120-130)
    val typed = modeled
      .withColumn("fromdate_parsed", DateParse.parseMulti(col("fromdate")))
      .withColumn("todate_parsed", DateParse.parseMulti(col("todate")))
      .withColumn("fuel_clean",
        upper(when(col("fuel").rlike("BATTERY|ELECTRIC"), lit("ELECTRIC"))
          .when(col("fuel").rlike("PETROL|GASOLINE"), lit("PETROL"))
          .when(col("fuel").rlike("DIESEL"), lit("DIESEL"))
          .when(col("fuel").rlike("CNG"), lit("CNG"))
          .when(col("fuel").rlike("LPG"), lit("LPG"))
          .otherwise(lit("UNKNOWN"))))
      .withColumn("makeYear_inferred",
        regexp_extract(col("modelDescClean"), "(19\\d{2}|20[0-2]\\d)", 0))
      .withColumn("makeYear",
        when(col("makeYear").isNull || col("makeYear") === "" ||
          col("makeYear") === "UNKNOWN",
          when(col("makeYear_inferred") =!= "", col("makeYear_inferred"))
            .otherwise(lit("UNKNOWN")))
          .otherwise(col("makeYear")))
      .drop("makeYear_inferred")

    // partition columns + validity gate (etl1:136-137)
    typed
      .withColumn("year", year(col("fromdate_parsed")))
      .withColumn("month", month(col("fromdate_parsed")))
      .filter(col("fromdate_parsed").isNotNull &&
        col("year").isNotNull && col("month").isNotNull)
  }

  /** CSV in → partitioned stage Parquet out (etl1:59,145), under
    * [[graft.Q.Base]] and LEGACY time parsing (etl1:23); the caller's
    * conf is restored on the way out. */
  def run(spark: SparkSession, inputPath: String, stagePath: String,
      schema: Option[org.apache.spark.sql.types.StructType] = None): Unit =
    graft.Tables.withConf(spark, (graft.Q.Base ++ graft.Q.LegacyTime).toSeq: _*) {
      val reader = spark.read.option("header", true)
      val raw = schema match {
        case Some(s) => reader.schema(s).csv(inputPath)
        case None    => reader.option("inferSchema", true).csv(inputPath)
      }
      stage(raw).write.mode("overwrite")
        .partitionBy("year", "month").parquet(stagePath)
    }
}
