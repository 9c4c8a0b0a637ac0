package perfbench

import graft.{CacheReleases, SparkEntry, Tables}
import graft.ops.SizedWrite
import graft.pipeline.{Etl1, Etl2}
import graft.queries._
import org.apache.spark.ListenerDrain
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

import java.io.File
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer

/** One benchmark run in its own JVM: set-up, a warm-up pass whose
  * outputs the Python side checks, then closed-loop measured passes for
  * `--seconds`. Prints nothing the caller parses; the measurements go
  * to `--result` as JSON.
  *
  * Options (all `--key value`): workload (etl_pipeline | dedup_search |
  * short_queries), data (generated inputs), work (scratch outputs),
  * seconds, trace (0|1), cpus, result, queries (comma list, in order). */
object Main {
  val RawColumns = Seq("slno", "tempRegistrationNumber", "fromdate", "todate",
    "OfficeCd", "makerName", "modelDesc", "fuel", "makeYear", "colour",
    "vehicleClass", "seatCapacity")

  val Families: Seq[(String, Seq[graft.Q])] = Seq(
    "core" -> CoreQueries.all, "join" -> JoinQueries.all,
    "text" -> TextQueries.all, "vector" -> VectorQueries.all,
    "event" -> EventQueries.all, "analytics" -> AnalyticsQueries.all,
    "star" -> StarQueries.all, "stream" -> StreamQueries.all,
    "graph" -> GraphQueries.all, "warehouse" -> WarehouseQueries.all,
    "stat" -> StatQueries.all, "similarity" -> SimilarityQueries.all)
  lazy val familyOf: Map[String, String] =
    Families.flatMap { case (f, qs) => qs.map(_.name -> f) }.toMap

  final case class Op(name: String, seconds: Double, ok: Boolean)
  final case class Pass(wallS: Double, startMs: Long, endMs: Long, ops: Seq[Op],
      compileNs: Long, methods: Long)

  def session(cpus: String, work: String): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()

  def clearState(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    CacheReleases.releaseAll()
  }

  def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()

  /** Parquet data files under a directory: (count, bytes). */
  def parquetFiles(dir: String): (Int, Long) = {
    val root = Paths.get(dir)
    if (!Files.isDirectory(root)) (0, 0L) else {
      val fs = Files.walk(root).toArray.map(_.asInstanceOf[java.nio.file.Path])
        .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
      (fs.length, fs.map(Files.size).sum)
    }
  }

  /** Peak resident set size of this JVM, MB. */
  def vmHwmMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).toArray.map(_.toString)
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(0.0)

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def jstr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val data = opt("data"); val work = opt("work")
    val seconds = opt("seconds").toDouble
    val trace = opt.get("trace").contains("1")
    val cpus = opt("cpus")
    val queries = opt.getOrElse("queries", "").split(',').toSeq.filter(_.nonEmpty)
    val runId = s"$workload-${opt.getOrElse("seed", "0")}"

    // Set-up, three times: session start-up plus the library's conf and
    // function registration. The caller reports the median.
    val startups = ArrayBuffer[Double]()
    var spark: SparkSession = null
    for (_ <- 1 to 3) {
      if (spark != null) spark.stop()
      val t = System.nanoTime()
      spark = session(cpus, work)
      Tables.ensureConf(spark)
      startups += (System.nanoTime() - t) / 1e9
    }
    spark.sparkContext.setLogLevel("ERROR")
    val rec = if (trace) Some(new Recorder) else None
    rec.foreach { r =>
      spark.sparkContext.addSparkListener(r)
      spark.listenerManager.register(r)
    }
    val spans = new Spans(runId)
    def span[T](name: String)(f: => T): T = if (trace) spans(name)(f) else f

    val failed = ArrayBuffer[String]()
    var attempted = 0
    def attempt(name: String)(f: => Unit): Op = {
      attempted += 1
      val t = System.nanoTime()
      val ok = try { f; true } catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] $name failed: $e")
          failed += name; false
      }
      Op(name, (System.nanoTime() - t) / 1e9, ok)
    }

    val raw = s"$data/raw"; val stage = s"$work/stage"; val gold = s"$work/gold"
    val verifyDir = s"$work/verify"
    val schema = StructType(RawColumns.map(StructField(_, StringType)))
    val unknown = queries.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")

    /** Every operation of the workload once, in order. The verifying
      * pass writes query outputs to parquet; the others use the noop sink. */
    def passOps(verify: Boolean): Seq[Op] = workload match {
      case "etl_pipeline" => Seq(attempt("etl") {
        span("etl1.run")(Etl1.run(spark, raw, stage, Some(schema)))
        span("etl2.run")(Etl2.run(spark, stage, gold))
        clearState(spark)
      })
      case "dedup_search" | "short_queries" => queries.map { q =>
        val op = attempt(q) {
          span(s"query.$q") {
            val df = span("build")(SparkEntry.queries(q)(spark, data))
            if (verify) df.coalesce(1).write.mode("overwrite").parquet(s"$verifyDir/$q")
            else noop(df)
          }
        }
        clearState(spark)
        op
      }
      case other => sys.error(s"unknown workload $other")
    }

    def pass(verify: Boolean): Pass = {
      val m0 = CodegenMark()
      val ms0 = System.currentTimeMillis(); val t0 = System.nanoTime()
      val ops = span("pass")(passOps(verify))
      val wall = (System.nanoTime() - t0) / 1e9
      val m1 = CodegenMark()
      rec.foreach(_ => ListenerDrain(spark.sparkContext))
      Pass(wall, ms0, System.currentTimeMillis(), ops,
        m1.compileNs - m0.compileNs, m1.methods - m0.methods)
    }

    // Warm-up pass: JIT and codegen caches, and the outputs that are
    // checked against the oracle. In a traced run it also records the
    // largest method of every fused stage.
    rec.foreach(_.watchCodegen = true)
    val warm = pass(verify = true)
    rec.foreach(_.watchCodegen = false)
    if (workload != "etl_pipeline") {
      val oracle = SparkEntry.oracleSql
      Files.writeString(Paths.get(s"$verifyDir/oracle_sql.json"),
        queries.flatMap(q => oracle.get(q).map(sql => s"${jstr(q)}: ${jstr(sql)}"))
          .mkString("{", ",\n", "}"))
    }

    val passes = ArrayBuffer[Pass]()
    val tm = System.nanoTime()
    while (passes.isEmpty || (System.nanoTime() - tm) / 1e9 < seconds)
      passes += pass(verify = false)
    val peakRss = vmHwmMb()

    // Traced runs only: Etl2.run taken apart into its public functions,
    // each materialised on its own, and a separate SizedWrite call.
    val parts = scala.collection.mutable.LinkedHashMap[String, Double](
      Seq("etl2.keyed_s", "etl2.dimensions_s", "etl2.resolve_s", "etl2.fact_s",
        "sizedwrite.wall_s").map(_ -> 0.0): _*)
    if (trace && workload == "etl_pipeline") {
      def timed(key: String)(f: => Unit): Unit = {
        val t = System.nanoTime(); span(key)(f); parts(key) = (System.nanoTime() - t) / 1e9
      }
      spark.conf.set("spark.sql.legacy.timeParserPolicy", "LEGACY")
      val keyed = Etl2.keyed(spark.read.parquet(stage))
      val dv = Etl2.dimensions(keyed)._1
      timed("etl2.keyed_s")(noop(keyed))
      timed("etl2.dimensions_s") {
        val (v, m, r) = Etl2.dimensions(keyed); noop(v); noop(m); noop(r)
      }
      timed("etl2.resolve_s")(noop(Etl2.resolveVehicles(keyed, dv)))
      clearState(spark)
      timed("etl2.fact_s")(noop(Etl2.fact(keyed, Etl2.resolveVehicles(keyed, dv))))
      clearState(spark)
      val fact = Etl2.fact(keyed, Etl2.resolveVehicles(keyed, dv))
        .persist(StorageLevel.MEMORY_AND_DISK)
      fact.count()
      timed("sizedwrite.wall_s")(SizedWrite.writeSized(fact,
        s"$work/sized/fact_tmp", s"$work/sized/fact", Seq("REGISTRATION_YEAR")))
      clearState(spark)
    }
    spark.stop()

    val layers: Map[String, Double] = rec.map { r =>
      val stats = new LayerStats(r)
      val inputBytes = Option(new File(raw).listFiles()).map(_.map(_.length).sum).getOrElse(0L)
      val perPass: Seq[Map[String, Double]] = passes.toSeq.map { p =>
        val w = (p.startMs, p.endMs)
        val inPass = spans.done.toSeq.filter(s => s.startMs >= w._1 && s.endMs <= w._2)
        def spanSum(name: String) = inPass.filter(_.name == name).map(_.wallS).sum
        val all = stats.window(w)
        val etl1 = inPass.find(_.name == "etl1.run").map(s => stats.window((s.startMs, s.endMs)))
        def etl1Metric(k: String) = etl1.map(_(k)).getOrElse(0.0)
        val fam = Families.flatMap { case (f, _) =>
          val qs = inPass.filter(s => s.name.startsWith("query.") &&
            familyOf.get(s.name.stripPrefix("query.")).contains(f))
          val wall = qs.map(_.wallS).sum
          val jobs = qs.map(s => stats.jobUnionS((s.startMs, s.endMs))).sum
          Seq(s"family.$f.wall_s" -> wall, s"family.$f.gap_s" -> math.max(0.0, wall - jobs))
        }
        all ++ fam ++ Map(
          "trace.pass_s" -> p.wallS,
          "driver.gap_s" -> math.max(0.0, p.wallS - all("jobs.wall_s")),
          "codegen.compile_s" -> p.compileNs / 1e9,
          "codegen.methods" -> p.methods.toDouble,
          "plan.build_s" -> spanSum("build"),
          "etl1.wall_s" -> spanSum("etl1.run"),
          "etl1.rows_in" -> etl1Metric("io.input_rows"),
          "etl1.rows_out" -> etl1Metric("io.output_rows"),
          "etl1.bytes_written" -> etl1Metric("io.output_bytes"),
          "etl2.wall_s" -> spanSum("etl2.run"),
          "etl.bytes_written_per_input_byte" ->
            (if (inputBytes > 0) all("io.output_bytes") / inputBytes else 0.0))
      }
      val med = perPass.head.keySet.map(k => k -> median(perPass.map(_(k)))).toMap
      val fused = r.fusedMethodBytes.values
      med ++ parts ++ Map(
        "etl2.parts_sum_s" -> parts.filter(_._1.startsWith("etl2.")).values.sum,
        "etl1.files_written" -> parquetFiles(stage)._1.toDouble,
        "sizedwrite.bytes_rewritten" -> parquetFiles(s"$gold/fact_registrations")._2.toDouble,
        "sizedwrite.files_out" -> parquetFiles(s"$gold/fact_registrations")._1.toDouble,
        "codegen.max_method_bytes" -> fused.maxOption.getOrElse(0).toDouble,
        "codegen.methods_over_8000" -> fused.count(_ > 8000).toDouble)
    }.getOrElse(Map.empty)
    if (trace) {
      new File(s"$work/trace").mkdirs()
      Files.writeString(Paths.get(s"$work/trace/spans.jsonl"), spans.toJsonl)
    }

    def num(d: Double) = if (d.isNaN || d.isInfinite) "0" else d.toString
    val passJson = passes.map { p =>
      val ops = p.ops.map(o => s"[${jstr(o.name)},${num(o.seconds)},${o.ok}]").mkString("[", ",", "]")
      s"""{"wall_s":${num(p.wallS)},"ops":$ops}"""
    }.mkString("[", ",", "]")
    val layerJson = layers.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${jstr(k)}:${num(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(opt("result")),
      s"""{"startup_s":${startups.map(num).mkString("[", ",", "]")},""" +
      s""""warmup_s":${num(warm.wallS)},"passes":$passJson,""" +
      s""""attempted":$attempted,"failed":${failed.map(jstr).mkString("[", ",", "]")},""" +
      s""""peak_rss_mb":${num(peakRss)},"layers":$layerJson}""")
  }
}
