package graft.pipeline

import graft.ops.SizedWrite
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.BooleanType

/** Stage → star-schema gold layer: three dimensions + fact, with
  * exact→fuzzy vehicle resolution. Semantics from the reference's
  * second Glue job (etl2_advclean_and_dimcreatin.py:100-331), as pure
  * plan builders.
  *
  * Deliberate divergences (documented improvements):
  *  - the shared keyed stage plan is cached once in run(); the
  *    reference re-evaluates dim_vehicle's lineage ≥3× (etl2:285-290,
  *    no cache anywhere);
  *  - dimension dedup uses a deterministic window (order by
  *    tempRegistrationNumber) instead of bare dropDuplicates
  *    (etl2:180-183), whose row choice is nondeterministic for
  *    attributes outside the key;
  *  - sized compaction runs on the Hadoop FileSystem API, not boto3.
  */
object Etl2 {
  val FuzzyThreshold = 3
  val HashBits = 256

  final case class Gold(
      dimVehicle: DataFrame,
      dimManufacturer: DataFrame,
      dimRta: DataFrame,
      fact: DataFrame)

  /** Standardization + surrogate keys (etl2:100-166). Handles the
    * optional emissionStandard / isElectric columns by schema check —
    * the input schema is untrusted (SURVEY §1). */
  def keyed(stage: DataFrame): DataFrame = {
    val std0 = stage
      .withColumn("makerName", trim(col("makerName")))
      .withColumn("modelName", trim(col("modelName")))
      .withColumn("variant", trim(col("variant")))
      .withColumn("OfficeCd", trim(col("OfficeCd")))
      .withColumn("makeYear_clean", col("makeYear").cast("string"))
      .withColumn("makeYear_clean",
        when(length(col("makeYear_clean")) === 2 &&
          col("makeYear_clean").rlike("^[0-9]{2}$"),
          concat(lit("20"), col("makeYear_clean")))
          .otherwise(col("makeYear_clean")))

    val withEmission =
      if (!std0.columns.contains("emissionStandard")) {
        std0.withColumn("emissionStandard_raw",
            when(col("modelDescClean").isNotNull,
              regexp_extract(col("modelDescClean"),
                "(BS\\s?III[AB]?|BS\\s?IV|BS\\s?V|BS\\s?VI)", 1))
              .otherwise(lit(null)))
          .withColumn("emissionStandard",
            when(col("isElectric") === true, lit("ELECTRIC"))
              .when(col("emissionStandard_raw").isNull ||
                col("emissionStandard_raw") === "", lit("UNKNOWN"))
              .otherwise(upper(regexp_replace(col("emissionStandard_raw"), "\\s", ""))))
          .drop("emissionStandard_raw")
      } else {
        std0.withColumn("emissionStandard",
          when(col("emissionStandard").isNull, lit("UNKNOWN"))
            .otherwise(col("emissionStandard")))
      }

    val withElectric =
      if (withEmission.columns.contains("isElectric")) {
        withEmission.withColumn("isElectric",
          when(col("isElectric").cast("string") === "True" ||
            col("isElectric").cast("string") === "true" ||
            col("isElectric").cast("string") === "1", lit(true))
            .otherwise(lit(false)).cast(BooleanType))
      } else withEmission.withColumn("isElectric", lit(false).cast(BooleanType))

    withElectric
      .withColumn("MAKE_YEAR_KEY",
        when(col("makeYear_clean").isNull, lit("UNKNOWN"))
          .otherwise(col("makeYear_clean")))
      .withColumn("VEHICLE_ID",
        sha2(concat_ws("|", lower(trim(col("modelName"))),
          lower(trim(col("variant"))), col("MAKE_YEAR_KEY")), HashBits))
      .withColumn("MANUFACTURER_ID", sha2(lower(trim(col("makerName"))), HashBits))
      .withColumn("RTA_ID", sha2(lower(trim(col("OfficeCd"))), HashBits))
  }

  /** Dimension builds (etl2:170-186) with deterministic row choice.
    *
    * Row choice is a combinable `min(struct(reg, attrs...))` aggregate,
    * NOT a `row_number` window partitioned by the key: dim keys are
    * LOW cardinality (tens of distinct vehicles/makers/offices), so a
    * window funnels the whole fact-sized input into a handful of sort
    * partitions — a skew wall at scale. The struct min compares its
    * unique first field (tempRegistrationNumber), so it selects the
    * exact same row as the ordered window while keeping the map-side
    * partial-aggregation path (input shrinks to ≤ #keys rows per task
    * before the shuffle). */
  def dimensions(df: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    def firstPerKey(d: DataFrame, key: String): DataFrame = {
      val others = d.columns.filter(c => c != key && c != "tempRegistrationNumber")
      d.groupBy(col(key))
        .agg(min(struct((col("tempRegistrationNumber") +: others.map(col).toSeq): _*))
          .as("__m"))
        .select((col(key) +: others.map(c => col(s"__m.`$c`").as(c)).toSeq): _*)
    }
    val dimVehicle = firstPerKey(
      df.select(col("tempRegistrationNumber"), col("VEHICLE_ID"),
        col("modelName").as("MODEL_NAME"), col("variant").as("VARIANT"),
        col("emissionStandard").as("EMISSION_STANDARD"),
        col("fuel_clean").as("FUEL"),
        coalesce(col("colour"), lit("UNKNOWN")).as("COLOUR"),
        coalesce(col("vehicleClass"), lit("UNKNOWN")).as("VEHICLE_CLASS"),
        col("makeYear_clean").as("MAKE_YEAR"),
        coalesce(col("seatCapacity").cast("int"), lit(0)).as("SEAT_CAPACITY"),
        col("isElectric").as("IS_ELECTRIC")), "VEHICLE_ID")
    val dimManufacturer = firstPerKey(
      df.select(col("tempRegistrationNumber"), col("MANUFACTURER_ID"),
        col("makerName").as("MAKER_NAME")), "MANUFACTURER_ID")
    val dimRta = firstPerKey(
      df.select(col("tempRegistrationNumber"), col("RTA_ID"),
        col("OfficeCd").as("RTA_OFFICE_CODE")), "RTA_ID")
      .withColumn("RTA_REGION", lit(null).cast("string"))
      .withColumn("RTA_STATE", lit(null).cast("string"))
      .withColumn("RTA_CITY", lit(null).cast("string"))
    (dimVehicle, dimManufacturer, dimRta)
  }

  /** Exact + blocked-fuzzy vehicle resolution (etl2:195-250): exact
    * 3-key broadcast join, residue, blocked Levenshtein on
    * "model variant" within (2-char model prefix, make-year) blocks,
    * deterministic best match, union.
    *
    * Round-10 shape (VERDICT r9 item 4): the reference expresses the
    * residue as a separate LEFT ANTI join (etl2:216-218), which — with
    * the per-registration window frame unpersisted — re-derived that
    * window FOUR times in the composed fact plan (exact branch, anti
    * probe, anti build via exact, residue re-attach), each a cache
    * read + shuffle + sort over the keyed stage. Because the frame has
    * exactly ONE row per tempRegistrationNumber (the __rn = 1 filter),
    * the exact/residue split of the reference is equivalently the
    * null/non-null split of a single LEFT join: rows that found a dim
    * entry ARE the exact matches, rows that didn't ARE the anti-join
    * residue, row for row. One persisted `matched` frame (one slim row
    * per registration) replaces all four derivations; the anti join
    * disappears entirely. Same cache-lifetime contract as ClassGuard's
    * class frame: released by session-level clearState(), since the
    * returned plan is lazy.
    *
    * Scale: `matched` is one row per entity observation — the frame a
    * resolution cascade has to materialize anyway; persisting it trades
    * O(observations) storage for re-running the dedup window per
    * consumer, the right trade at any corpus size. */
  def resolveVehicles(df: DataFrame, dimVehicle: DataFrame): DataFrame = {
    val wReg = Window.partitionBy("tempRegistrationNumber")
      .orderBy(col("VEHICLE_ID").asc)
    val dfForMatch = df
      .select("tempRegistrationNumber", "VEHICLE_ID", "modelName", "variant",
        "MAKE_YEAR_KEY")
      .withColumn("__rn", row_number().over(wReg))
      .filter(col("__rn") === 1).drop("__rn")

    val dvLookup = dimVehicle.select(
      col("VEHICLE_ID"),
      lower(trim(col("MODEL_NAME"))).as("dv_model"),
      lower(trim(col("VARIANT"))).as("dv_variant"),
      col("MAKE_YEAR").cast("string").as("dv_make_year"))

    val matched = dfForMatch.as("s")
      .join(broadcast(dvLookup).as("dv"),
        lower(trim(col("s.modelName"))) === col("dv.dv_model") &&
          lower(trim(col("s.variant"))) === col("dv.dv_variant") &&
          col("s.MAKE_YEAR_KEY") === col("dv.dv_make_year"),
        "left")
      .select(col("s.tempRegistrationNumber"), col("s.modelName"),
        col("s.variant"), col("s.MAKE_YEAR_KEY"),
        col("dv.VEHICLE_ID").as("VEHICLE_ID_exact"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    val exact = matched.filter(col("VEHICLE_ID_exact").isNotNull)
      .select(col("tempRegistrationNumber"), col("VEHICLE_ID_exact"))

    val unresolved = matched.filter(col("VEHICLE_ID_exact").isNull)
      .withColumn("FUZZY_KEY",
        lower(trim(concat_ws(" ", col("modelName"), col("variant")))))
      .withColumn("BLOCK_KEY", substring(lower(trim(col("modelName"))), 1, 2))
      .filter(length(col("BLOCK_KEY")) >= 2)

    val dvFuzzy = dvLookup
      .withColumn("DV_FUZZY_KEY",
        lower(trim(concat_ws(" ", col("dv_model"), col("dv_variant")))))
      .withColumn("BLOCK_KEY", substring(col("dv_model"), 1, 2))
      .filter(length(col("BLOCK_KEY")) >= 2)
      .select("VEHICLE_ID", "DV_FUZZY_KEY", "BLOCK_KEY", "dv_make_year")

    val wBest = Window.partitionBy("tempRegistrationNumber")
      .orderBy(col("LEV_DIST").asc, col("dv.VEHICLE_ID").asc)
    val bestFuzzy = unresolved.as("u")
      .join(broadcast(dvFuzzy).as("dv"),
        col("u.BLOCK_KEY") === col("dv.BLOCK_KEY") &&
          col("u.MAKE_YEAR_KEY") === col("dv.dv_make_year"),
        "inner")
      .withColumn("LEV_DIST", levenshtein(col("u.FUZZY_KEY"), col("dv.DV_FUZZY_KEY")))
      .filter(col("LEV_DIST") <= FuzzyThreshold)
      .withColumn("rn", row_number().over(wBest))
      .filter(col("rn") === 1)
      .select(col("u.tempRegistrationNumber"),
        col("dv.VEHICLE_ID").as("VEHICLE_ID_resolved"), col("LEV_DIST"))

    exact.select(col("tempRegistrationNumber"),
        col("VEHICLE_ID_exact").as("VEHICLE_ID_resolved"))
      .unionByName(bestFuzzy, allowMissingColumns = true)
      .withColumn("IS_FUZZY_MATCH",
        when(col("VEHICLE_ID_resolved").isNotNull && col("LEV_DIST").isNotNull,
          lit(true)).otherwise(lit(false)))
  }

  /** Fact assembly (etl2:256-275). */
  def fact(df: DataFrame, resolved: DataFrame): DataFrame = {
    val wReg = Window.partitionBy("tempRegistrationNumber")
      .orderBy(col("MANUFACTURER_ID").asc)
    val manRes = df.select("tempRegistrationNumber", "MANUFACTURER_ID")
      .withColumn("__rn", row_number().over(wReg))
      .filter(col("__rn") === 1).drop("__rn")
    df.as("s")
      .join(resolved.as("r"), Seq("tempRegistrationNumber"), "left")
      .join(manRes.as("m"), Seq("tempRegistrationNumber"), "left")
      .select(
        coalesce(col("r.VEHICLE_ID_resolved"), col("s.VEHICLE_ID")).as("VEHICLE_ID"),
        col("m.MANUFACTURER_ID").as("MANUFACTURER_ID"),
        col("s.RTA_ID").as("RTA_ID"),
        date_format(col("s.fromdate_parsed"), "yyyyMMdd").cast("int")
          .as("REGISTRATION_ISSUE_DATE_ID"),
        date_format(col("s.todate_parsed"), "yyyyMMdd").cast("int")
          .as("REGISTRATION_EXPIRY_DATE_ID"),
        year(col("s.fromdate_parsed")).as("REGISTRATION_YEAR"),
        when(col("s.makeYear_clean").rlike("^[0-9]{4}$"),
          concat(col("s.makeYear_clean"), lit("0101")).cast("int"))
          .otherwise(lit(null).cast("int")).as("MANUFACTURER_DATE_ID"),
        col("s.vehicleClass").as("TRANSPORT_TYPE"),
        col("s.tempRegistrationNumber").as("TEMP_REGISTRATION_NUMBER"),
        col("s.slno").as("SLNO"),
        coalesce(col("r.IS_FUZZY_MATCH"), lit(false)).as("IS_FUZZY_MATCH"),
        col("s.colour").as("COLOUR"),
        col("s.fuel_clean").as("FUEL_TYPE"),
        col("s.modelName").as("MODEL_NAME"))
      .filter(col("REGISTRATION_ISSUE_DATE_ID").isNotNull)
  }

  /** Full gold build over an already-keyed stage. */
  def gold(stage: DataFrame): Gold = {
    val df = keyed(stage)
    val (dv, dm, dr) = dimensions(df)
    val res = resolveVehicles(df, dv)
    Gold(dv, dm, dr, fact(df, res))
  }

  /** Stage parquet in → gold parquet out, with the sized fact sink
    * (etl2:285-331), LEGACY time parsing inside (etl2:46). The keyed
    * plan is cached for the duration — four sinks share one evaluation. */
  def run(spark: SparkSession, stagePath: String, outRoot: String): Unit =
    graft.Tables.withConf(spark, graft.Q.LegacyTime.toSeq: _*) {
      val df = keyed(spark.read.parquet(stagePath)).cache()
      try {
        val (dv, dm, dr) = dimensions(df)
        val dvCached = dv.cache()
        val res = resolveVehicles(df, dvCached)
        val f = fact(df, res)
        SizedWrite.writeSized(f, s"$outRoot/fact_registrations_tmp",
          s"$outRoot/fact_registrations", Seq("REGISTRATION_YEAR"))
        dvCached.write.mode("overwrite").parquet(s"$outRoot/dim_vehicle")
        dm.write.mode("overwrite").parquet(s"$outRoot/dim_manufacturer")
        dr.write.mode("overwrite").parquet(s"$outRoot/dim_rta")
      } finally {
        df.unpersist()
      }
    }
}
