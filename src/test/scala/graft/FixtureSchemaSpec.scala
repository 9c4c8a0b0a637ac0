package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.LongType

/** `Tables.load` infers each fixture's Parquet schema once per file
  * stamp and session Parquet conf, then reads with the schema supplied,
  * so a repeated build runs no inference job. */
class FixtureSchemaSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"
  private val nanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  /** Spark jobs started while `body` runs. */
  private def jobs(body: => Unit): Int = {
    val sc = spark.sparkContext
    val started = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { started.incrementAndGet(); () }
    }
    ListenerDrain(sc)
    sc.addSparkListener(listener)
    try { body; ListenerDrain(sc) }
    finally sc.removeSparkListener(listener)
    started.get
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  /** The events read before the memo: inference, then the nanos-to-micros
    * step when `ts` reads as a long. */
  private def eventsAsMicros(raw: DataFrame): DataFrame =
    if (raw.schema("ts").dataType == LongType)
      raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    else raw

  private def withTempDir(body: String => Unit): Unit = {
    val root = java.nio.file.Files.createTempDirectory("fixture_schema").toFile
    try body(root.toString)
    finally { new scala.reflect.io.Directory(root).deleteRecursively(); () }
  }

  test("a repeated load of each fixture table runs no Spark job") {
    Tables.all.foreach { t =>
      Tables.load(spark, dir, t)
      assert(jobs(Tables.load(spark, dir, t)) == 0, t)
    }
  }

  test("each fixture reads with the schema and rows inference gives") {
    Tables.all.foreach { t =>
      val inferred = spark.read.parquet(s"$dir/$t.parquet")
      assert(Tables.fixtureSchema(spark, s"$dir/$t.parquet") == inferred.schema, t)
      val expected = if (t == "events") eventsAsMicros(inferred) else inferred
      val loaded = Tables.load(spark, dir, t)
      assert(loaded.schema == expected.schema, t)
      assert(rows(loaded) == rows(expected), t)
    }
  }

  test("a fixture rewritten in place is read with its new schema") {
    withTempDir { root =>
      val path = s"$root/t.parquet"
      spark.range(3).selectExpr("id AS a").write.parquet(path)
      assert(Tables.load(spark, root, "t").columns.toSeq == Seq("a"))
      spark.range(3).selectExpr("id AS a", "CAST(id AS STRING) AS b")
        .write.mode("overwrite").parquet(path)
      val df = Tables.load(spark, root, "t")
      assert(df.schema == spark.read.parquet(path).schema)
      assert(df.columns.toSeq == Seq("a", "b"))
    }
  }

  test("sessions that differ only in nanosAsLong each get their own events.ts inference") {
    withTempDir { root =>
      val path = s"$root/events.parquet"
      val ns = 1700000000123456000L
      val schema = MessageTypeParser.parseMessageType(
        "message events { required int64 ts (TIMESTAMP(NANOS,true)); }")
      val w = ExampleParquetWriter.builder(new Path(path)).withType(schema).build()
      try w.write(new SimpleGroupFactory(schema).newGroup().append("ts", ns))
      finally w.close()
      val Seq(native, asLong) =
        Seq("false", "true").map(v => Tables.cloneWith(spark, Map(nanosAsLong -> v)))
      assert(Tables.fixtureSchema(asLong, path) == asLong.read.parquet(path).schema)
      assert(Tables.fixtureSchema(asLong, path)("ts").dataType == LongType)
      // Spark reads TIMESTAMP(NANOS) only as a long, so without the key
      // inference fails, and the memo must fail with it rather than hand
      // this session the other session's schema.
      Seq(() => native.read.parquet(path).schema, () => Tables.fixtureSchema(native, path))
        .foreach(f => assert(intercept[AnalysisException](f()).getCondition == "PARQUET_TYPE_ILLEGAL"))
      val micros = Tables.load(asLong, root, "events").selectExpr("unix_micros(ts)").head().getLong(0)
      assert(micros == ns / 1000)
    }
  }
}
