package graft

import graft.ops._
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** Unit tests for the scalar-operator layer (SURVEY.md §2.8, §2.2). */
class OpsSpec extends SparkSpec {
  import spark.implicits._

  test("DateParse.parseMulti handles all reference shapes") {
    val df = Seq(
      ("01/02/2015", "2015-02-01"),   // dd/MM/yyyy
      ("2015/02/01", "2015-02-01"),   // yyyy/MM/dd
      ("01.02.2015", "2015-02-01"),   // dot separators unified
      ("01-02-2015", "2015-02-01"),   // dash separators unified
      (" 01/02/2015 ", "2015-02-01"), // padding stripped
      ("n/a", null),                  // junk → null
      ("", null)
    ).toDF("raw", "want")
    val got = df.select(col("want"),
      DateParse.parseMulti(col("raw")).cast("string").as("got")).collect()
    got.foreach { r => assert(r.getString(1) == r.getString(0), r.toString) }
  }

  test("DateParse 2-digit years resolve under LEGACY policy") {
    val got = Tables.withConf(spark, Q.LegacyTime.toSeq: _*) {
      Seq("01/02/15").toDF("raw")
        .select(DateParse.parseMulti(col("raw")).cast("string")).first.getString(0)
    }
    assert(got == "2015-02-01")
  }

  test("DateParse.dateKey produces int yyyyMMdd") {
    val got = Seq("2015-02-01").toDF("d")
      .select(DateParse.dateKey(col("d").cast("date"))).first.getInt(0)
    assert(got == 20150201)
  }

  test("Repair.officeCdRepair moves office names and nulls state codes") {
    val df = Seq(
      (null.asInstanceOf[String], "RTA HYDERABAD"),  // misaligned → move
      ("TS", "01/02/2015"),                          // state code → null
      ("OFFICE9", "01/02/2015")                      // untouched
    ).toDF("office", "fromdate")
    val (o, f) = Repair.officeCdRepair(col("office"), col("fromdate"))
    val rows = df.select(o.as("o"), f.as("f")).collect()
    assert(rows(0) == Row("RTA HYDERABAD", null))
    assert(rows(1) == Row(null, "01/02/2015"))
    assert(rows(2) == Row("OFFICE9", "01/02/2015"))
  }

  test("Dedup.latestPerKey keeps exactly the ordered-first row per key") {
    val df = Seq(
      ("a", "2020-01-01", 1), ("a", "2021-01-01", 2), ("a", "2021-01-01", 3),
      ("b", "2019-01-01", 4)
    ).toDF("k", "d", "v")
    val got = Dedup.latestPerKey(df, Seq("k"),
      Seq(col("d").desc, col("v").desc)).orderBy("k")
      .select("k", "v").as[(String, Int)].collect()
    assert(got.toSeq == Seq(("a", 3), ("b", 4)))
  }

  test("Keys.sha is deterministic and null-normalizing") {
    val df = Seq(("A ", "b"), ("A ", "b"), (null, "b")).toDF("x", "y")
    val keys = df.select(Keys.sha(lower(trim(col("x"))), col("y"))).as[String].collect()
    assert(keys(0) == keys(1))
    assert(keys(2) != keys(0))
    assert(keys.forall(_.length == 64))
  }

  test("SizedWrite.optimalPartitions follows the reference formula") {
    val MB = 1024L * 1024
    assert(SizedWrite.optimalPartitions(0) == 1)
    assert(SizedWrite.optimalPartitions(63 * MB) == 1)          // < 64MB → 1
    assert(SizedWrite.optimalPartitions(65 * MB) == 1)          // ceil(65/128)=1
    assert(SizedWrite.optimalPartitions(129 * MB) == 2)
    assert(SizedWrite.optimalPartitions(128L * 100 * MB) == 100)
    assert(SizedWrite.optimalPartitions(128L * 1000 * MB) == 100) // cap
  }

  test("SizedWrite.writeSized compacts small output to one file") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-sw").toString
    val df = (1 to 1000).toDF("n").withColumn("p", col("n") % 2)
    SizedWrite.writeSized(df, s"$tmp/tmp", s"$tmp/final", Seq("p"))
    val files = new java.io.File(s"$tmp/final").listFiles
      .filter(_.getName.startsWith("p="))
      .flatMap(_.listFiles).filter(_.getName.endsWith(".parquet"))
    assert(files.length == 2) // 1 coalesced task × 2 partition values
    assert(!new java.io.File(s"$tmp/tmp").exists) // temp cleaned up
    val back = spark.read.parquet(s"$tmp/final")
    assert(back.count() == 1000)
  }

  test("BloomOps.sizedBits follows the optimal-bits formula and clamps") {
    // m = ceil(-n ln p / ln(2)^2), byte-aligned up: 1000 items @ 1% →
    // 9586 bits raw → 9592 aligned
    assert(BloomOps.sizedBits(1000L, 0.01) == 9592L)
    // scales linearly with history (the round-2 hardcode did not)
    assert(BloomOps.sizedBits(100000L, 0.01) == 958512L)
    // floor: tiny/zero histories still get a minimal aligned filter
    assert(BloomOps.sizedBits(0L) == 64L && BloomOps.sizedBits(1L) == 64L)
    // ceiling: Spark's default BloomFilterAggregate maxNumBits (the
    // SINGLE-sketch path clamps; the sharded path never does)
    assert(BloomOps.sizedBits(100000000L, 0.01) == BloomOps.DefaultMaxNumBits)
    intercept[IllegalArgumentException](BloomOps.sizedBits(-1L))
    intercept[IllegalArgumentException](BloomOps.sizedBits(10L, 0.0))
  }

  test("BloomOps.numShards keeps every shard under the cap at target FPP") {
    // under-cap history → 1 shard
    assert(BloomOps.numShards(1000L, 0.01, 67108864L) == 1)
    // the 8 MB default cap holds ~7.0M items at 1%; 10M needs 2 shards
    assert(BloomOps.numShards(7000000L, 0.01, 67108864L) == 1)
    assert(BloomOps.numShards(10000000L, 0.01, 67108864L) == 2)
    // every shard's optimal sizing fits the cap across a sweep,
    // including alignment-slack edges (combos whose shard count would
    // exceed the 4096 literal-probe bound are asserted below instead)
    for (n <- Seq(1L, 100L, 999983L, 7000000L, 7100000L, 50000000L,
        123456789L); cap <- Seq(8192L, 65536L, 67108864L)
        if BloomOps.optimalBits(n, 0.01) / cap < 4096) {
      val shards = BloomOps.numShards(n, 0.01, cap)
      val perShard = (n + shards - 1) / shards
      assert(BloomOps.optimalBits(perShard, 0.01) <= cap,
        s"n=$n cap=$cap shards=$shards")
    }
    // past the literal-probe bound the require fires loudly (123M items
    // at a 1 KB cap would need 8197 shards) — the partition-wise
    // build/probe documented in SCALE.md is the next boundary
    intercept[IllegalArgumentException](BloomOps.numShards(123456789L, 0.01, 8192L))
    intercept[IllegalArgumentException](BloomOps.numShards(10L, 0.01, 8L))
  }

  test("BloomOps sharded prefilter: exact result + FPP holds past the cap") {
    // Lower the session cap so a 20k-item history exceeds it (the same
    // conf Spark's BloomFilterAggregate clamps against), forcing the
    // fingerprint-prefix sharded path at test scale.
    Tables.withConf(spark, "spark.sql.optimizer.runtime.bloomFilter.maxNumBits" -> "8192") {
      val hist = spark.range(20000)
        .select(concat(lit("h"), col("id")).as("fp"), col("id").as("canonical"))
        .persist()
      // 10k members (dups) + 10k non-members interleaved
      val novel = spark.range(10000)
        .select(concat(lit("h"), (col("id") * 2)).as("fp"), col("id").as("doc_id"))
        .union(spark.range(10000)
          .select(concat(lit("x"), col("id")).as("fp"),
            (col("id") + 10000).as("doc_id")))
      val shards = BloomOps.numShards(20000L, BloomOps.TargetFpp, 8192L)
      assert(shards >= 24, s"expected a genuinely sharded run, got $shards")
      // exact output: prefilteredJoin == plain join (verify kills FPs)
      val got = BloomOps.prefilteredJoin(hist, novel, "fp")
        .select("doc_id", "canonical").as[(Long, Long)].collect().sorted
      val want = novel.join(hist, Seq("fp"))
        .select("doc_id", "canonical").as[(Long, Long)].collect().sorted
      assert(got.nonEmpty && got.sameElements(want))
      // FPP contract: among the 10k non-members, survivors ≈ 1%
      val fpSurvivors = BloomOps.prefilter(hist, novel, "fp")
        .filter(col("fp").startsWith("x")).count()
      assert(fpSurvivors < 300L, s"FPP degraded: $fpSurvivors/10000 false positives")
      hist.unpersist()
    }
  }

  test("graft_bloom_sharded (O(1) probe) equals the when-chain equivalent") {
    // build genuinely sharded sketches at a lowered cap, then compare
    // the production O(1)-routing expression against the composed
    // public-machinery when-chain on members, non-members, and rows
    // routing to empty shards
    val hist = spark.range(5000)
      .select(concat(lit("k"), col("id")).as("fp")).persist()
    hist.count()
    val n = BloomOps.numShards(5000L, BloomOps.TargetFpp, 8192L)
    assert(n >= 6, s"want a multi-shard case, got $n")
    val perShard = (5000L + n - 1) / n
    val sketches = BloomOps.shardedSketches(hist, "fp", n, perShard,
      BloomOps.optimalBits(perShard))
    val probes = spark.range(8000)
      .select(concat(lit("k"), col("id")).as("fp")) // 5000 in, 3000 out
    val got = probes
      .withColumn("native", BloomOps.shardedContains(sketches, col("fp"), n))
      .withColumn("chain", BloomOps.shardedContainsChain(sketches, col("fp"), n))
    assert(got.filter(col("native") =!= col("chain")).count() == 0)
    // no false negatives on the 5000 members
    assert(got.filter(expr("CAST(substring(fp, 2) AS BIGINT) < 5000"))
      .filter(!col("native")).count() == 0)
    hist.unpersist()
  }

  test("BloomOps.prefilteredJoin short-circuits an empty history") {
    val hist = Seq.empty[(String, Long)].toDF("fp", "canonical")
    val novel = Seq(("a", 1L), ("b", 2L)).toDF("fp", "doc_id")
    // zero-row history: BloomFilterAggregate would return a null
    // sketch (analysis-time failure in the probe); the short-circuit
    // must instead yield the plain-join result — empty
    assert(BloomOps.prefilteredJoin(hist, novel, "fp").isEmpty)
    val hist2 = Seq(("a", 0L)).toDF("fp", "canonical")
    val got = BloomOps.prefilteredJoin(hist2, novel, "fp")
      .select("doc_id", "canonical").as[(Long, Long)].collect()
    assert(got.toSeq == Seq((1L, 0L)))
  }

  test("approx sketches track exact aggregates within their error bounds") {
    // q_approx_sketches hash-verifies exact values + bounded-error
    // flags at the oracle; this pins the raw estimates locally too
    val df = spark.range(10000).select(
      (col("id") % 1000).as("k"), col("id").cast("double").as("v"))
      .repartition(4) // force partial-agg sketch merges across partitions
    val row = df.agg(
      approx_count_distinct(col("k")).as("ad"),
      percentile_approx(col("v"), lit(0.5), lit(1000)).as("ap"),
      expr("percentile(v, 0.5)").as("ep")).first()
    val ad = row.getLong(0)
    assert(math.abs(ad - 1000L) <= 100, s"HLL estimate $ad vs exact 1000")
    val (ap, ep) = (row.getDouble(1), row.getDouble(2))
    assert(math.abs(ap - ep) <= 100.0, s"approx median $ap vs exact $ep")
  }

  test("Multimodal decode parses a hand-built two-frame P6 stream bit-exactly") {
    val ascii = java.nio.charset.StandardCharsets.US_ASCII
    // 2x1: frame 0 has explicit distinct pixel bytes, frame 1 constant 7
    val bytes = "P6\n2 1\n255\n".getBytes(ascii) ++
      Array[Byte](1, 2, 3, 4, 5, 6) ++
      "P6\n2 1\n255\n".getBytes(ascii) ++ Array.fill[Byte](6)(7)
    val got = Multimodal.decodeFeatures(
      Seq(Multimodal.MediaRow(42L, bytes, Multimodal.PpmMime)).toDS()).head()
    assert(got == Multimodal.MediaFeatures(42L, Multimodal.PpmMime,
      bytes.length.toLong, 2, 1, 3, 2, (1 + 2 + 3 + 4 + 5 + 6) + 6 * 7))
    // malformed input fails loudly, never guesses: truncated raster
    val bad = "P6\n2 1\n255\n".getBytes(ascii) ++ Array[Byte](1, 2, 3)
    intercept[Exception] {
      Multimodal.decodeFeatures(
        Seq(Multimodal.MediaRow(7L, bad, Multimodal.PpmMime)).toDS()).head()
    }
  }

  test("Multimodal packPpm → decode round-trips the fixture's closed forms") {
    val df = Seq((3L, "hello world"), (260L, "x")).toDF("doc_id", "text")
    val got = Multimodal.decodeFeatures(Multimodal.packPpm(df, "doc_id", "text"))
      .collect().map(f => f.doc_id -> f).toMap
    val h = got(3L) // n = 11: w 12, h 12, frames 5, fill bytes 3..7
    assert((h.width, h.height, h.n_frames) == ((12, 12, 5)))
    assert(h.pixel_sum == (3 + 4 + 5 + 6 + 7).toLong * 12 * 12 * 3)
    val x = got(260L) // n = 1: 2x2, 2 frames; fill wraps mod 256 → 4, 5
    assert((x.width, x.height, x.n_frames) == ((2, 2, 2)))
    assert(x.pixel_sum == (4 + 5).toLong * 2 * 2 * 3)
  }

  test("Multimodal WAV decode parses a hand-built RIFF file bit-exactly") {
    val ascii = java.nio.charset.StandardCharsets.US_ASCII
    // hand-assembled mono 16-bit WAV, 3 samples (5, -2, 100), plus an
    // unknown 'LIST' chunk between fmt and data that the RIFF grammar
    // says to skip
    def le32(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte,
      (v >> 16).toByte, (v >> 24).toByte)
    def le16(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte)
    val fmt = "fmt ".getBytes(ascii) ++ le32(16) ++ le16(1) ++ le16(1) ++
      le32(8000) ++ le32(16000) ++ le16(2) ++ le16(16)
    val list = "LIST".getBytes(ascii) ++ le32(4) ++ "INFO".getBytes(ascii)
    val data = "data".getBytes(ascii) ++ le32(6) ++
      le16(5) ++ le16(-2 & 0xffff) ++ le16(100)
    val body = "WAVE".getBytes(ascii) ++ fmt ++ list ++ data
    val bytes = "RIFF".getBytes(ascii) ++ le32(body.length) ++ body
    val got = Multimodal.decodeAudio(
      Seq(Multimodal.AudioRow(42L, bytes, Multimodal.WavMime)).toDS()).head()
    assert(got == Multimodal.AudioFeatures(42L, Multimodal.WavMime,
      bytes.length.toLong, 1, 8000, 16, 3, 5L - 2L + 100L))
    // malformed input fails loudly: data chunk overruns the payload
    val bad = bytes.dropRight(2)
    intercept[Exception] {
      Multimodal.decodeAudio(
        Seq(Multimodal.AudioRow(7L, bad, Multimodal.WavMime)).toDS()).head()
    }
  }

  test("Multimodal packWav → decodeAudio round-trips the closed forms") {
    val df = Seq((3L, "hello world"), (260L, "x")).toDF("doc_id", "text")
    val got = Multimodal.decodeAudio(Multimodal.packWav(df, "doc_id", "text"))
      .collect().map(f => f.doc_id -> f).toMap
    val h = got(3L) // n = 11: rate 8000+(11%3)*4000=16000, 2ch, 75 samples
    assert((h.channels, h.sample_rate, h.bits, h.n_samples) == ((2, 16000, 16, 75)))
    assert(h.n_bytes == 44L + 75 * 2 * 2)
    assert(h.sample_sum == (0 until 150).map(j => (3L * 31 + j * 7) % 65536 - 32768).sum)
    val x = got(260L) // n = 1: rate 12000, 1ch (260 even), 65 samples
    assert((x.channels, x.sample_rate, x.n_samples) == ((1, 12000, 65)))
    assert(x.sample_sum == (0 until 65).map(j => (260L * 31 + j * 7) % 65536 - 32768).sum)
  }

  test("Multimodal.fitSquare letterboxes exactly; sampleFrames strides strictly") {
    val d = Seq((1L, 509, 251, 7), (2L, 100, 200, 3), (3L, 1, 1, 1),
      (4L, 224, 224, 5)).toDF("doc_id", "width", "height", "n_frames")
    val r = Multimodal.fitSquare(d, 224)
      .select("doc_id", "out_w", "out_h").as[(Long, Int, Int)].collect()
      .map(t => t._1 -> (t._2, t._3)).toMap
    assert(r(1L) === ((224, 110)))   // wide: 251*224 div 509 = 110
    assert(r(2L) === ((112, 224)))   // tall: 100*224 div 200
    assert(r(3L) === ((224, 224)))   // 1x1 scales to the full box
    assert(r(4L) === ((224, 224)))   // exact fit unchanged
    val f = Multimodal.sampleFrames(Multimodal.fitSquare(d, 224), 4)
      .groupBy("doc_id").agg(collect_list(col("frame_idx")).as("fs"))
      .as[(Long, Seq[Int])].collect().toMap
    assert(f(1L).sorted === Seq(0, 2, 4, 6))  // n=7 > k: stride (n-1)/(k-1)
    assert(f(2L).sorted === Seq(0, 1, 2))     // n ≤ k: every frame
    assert(f(3L).sorted === Seq(0))
    assert(f(4L).sorted === Seq(0, 1, 2, 4))  // n=5: floor(4i/3)
    // corrupt asset (n_frames=0): no rows, NOT sequence(0,-1) garbage
    val z = Seq((9L, 10, 10, 0)).toDF("doc_id", "width", "height", "n_frames")
    assert(Multimodal.sampleFrames(Multimodal.fitSquare(z, 224), 4).count() === 0)
    // k=1 degenerates to "first frame only", no div-by-zero
    assert(Multimodal.sampleFrames(Multimodal.fitSquare(d, 224), 1)
      .select("frame_idx").as[Int].collect().toSeq.forall(_ == 0))
  }

  test("GlobalRank equals the single-partition window rank + ntile, any partitioning") {
    import org.apache.spark.sql.expressions.Window
    val df = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .select(col("o_orderkey"),
        round(col("o_totalprice") * 100).cast("long").as("c"))
    val sort = Seq(col("c").asc, col("o_orderkey").asc)
    // reference: Spark's own global window (fine at fixture size)
    val w = Window.orderBy(sort: _*)
    val ref = df.withColumn("r", row_number().over(w))
      .withColumn("decile", ntile(10).over(w))
      .select("o_orderkey", "r", "decile")
    for (parts <- Seq(1, 3, 32)) {
      val (ranked, total) = GlobalRank.withGlobalRank(df, sort, "r", parts)
      assert(total == df.count())
      val got = ranked.withColumn("decile",
        GlobalRank.ntileFromRank(col("r"), total, 10))
        .select("o_orderkey", "r", "decile")
      assert(got.exceptAll(ref).isEmpty && ref.exceptAll(got).isEmpty,
        s"rank mismatch at numParts=$parts")
      ranked.unpersist()
    }
    spark.catalog.clearCache()
  }

  test("GlobalRank ntileFromRank handles k > n (every rank in a big bucket)") {
    val (ranked, total) = GlobalRank.withGlobalRank(
      Seq(5L, 1L, 9L).toDF("v"), Seq(col("v").asc), "r", 2)
    assert(total == 3)
    val got = ranked.withColumn("b", GlobalRank.ntileFromRank(col("r"), total, 10))
      .select("v", "b").as[(Long, Int)].collect().toMap
    assert(got == Map(1L -> 1, 5L -> 2, 9L -> 3))
    spark.catalog.clearCache()
  }

  test("GlobalRank.withRunningSum equals the single-partition window, any partitioning") {
    val rnd = new scala.util.Random(11)
    val rows = Seq.tabulate(3000) { i =>
      (rnd.nextInt(500).toLong, if (rnd.nextBoolean()) 1L else -1L, i.toLong)
    }
    val df = rows.toDF("t", "d", "id")
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("t").asc, col("d").asc, col("id").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val expect = df.withColumn("occ", sum(col("d")).over(w))
      .select("id", "occ").as[(Long, Long)].collect().toMap
    for (parts <- Seq(1, 3, 32)) {
      val got = GlobalRank.withRunningSum(
        df, Seq(col("t").asc, col("d").asc, col("id").asc), col("d"), "occ", parts)
        .select("id", "occ").as[(Long, Long)].collect().toMap
      assert(got == expect, s"running sum diverges at parts=$parts")
      spark.catalog.clearCache()
    }
  }
}
