package graft

import graft.ops.Layout
import org.apache.spark.sql.functions._

/** Semantics of the round-4 curation/warehouse additions: z-order
  * layout, SCD2 history, line-level dedup, mixture sampling, TF-IDF.
  * The oracle pins cross-engine equality; these specs pin the
  * PROPERTIES each operator promises (disjoint file ranges, contiguous
  * versions, survivorship counts, budget caps, rank bounds). */
class CurationSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  private def q(name: String) = SparkEntry.queries(name)(spark, dir)

  test("Layout.zorder16 matches a bit-interleave reference on random pairs") {
    def ref(x: Long, y: Long): Long = {
      var z = 0L; var i = 0
      while (i < 16) {
        z |= ((x >> i) & 1L) << (2 * i)
        z |= ((y >> i) & 1L) << (2 * i + 1)
        i += 1
      }
      z
    }
    val rnd = new scala.util.Random(7)
    val pairs = Seq.fill(256)(
      (rnd.nextInt(65536).toLong, rnd.nextInt(65536).toLong)) ++
      Seq((0L, 0L), (65535L, 0L), (0L, 65535L), (65535L, 65535L))
    import spark.implicits._
    val got = pairs.toDF("x", "y")
      .select(col("x"), col("y"), Layout.zorder16(col("x"), col("y")).as("z"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)) -> r.getLong(2))).toMap
    pairs.foreach { case (x, y) =>
      assert(got((x, y)) === ref(x, y), s"zorder16($x,$y)")
    }
  }

  test("Layout.clusteredWrite produces files with disjoint z ranges") {
    val out = "/tmp/graft_zorder_write"
    val df = Tables.load(spark, dir, "lineitem")
      .select((col("l_partkey") % 65536L).as("x"),
        (col("l_suppkey") % 65536L).as("y"))
    Layout.clusteredWrite(df, Layout.zorder16(col("x"), col("y")), 8, out)
    val back = spark.read.parquet(out)
      .withColumn("f", input_file_name())
      .withColumn("z", Layout.zorder16(col("x"), col("y")))
    val ranges = back.groupBy("f")
      .agg(min("z").as("lo"), max("z").as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    assert(ranges.length > 1)
    ranges.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) =>
        assert(hi1 <= lo2, "file z ranges overlap — range partitioning lost")
      case _ =>
    }
    // the point of the layout: each file's envelope is a bounded box,
    // not the full domain, in BOTH dimensions
    val env = back.groupBy("f").agg(
      (max("x") - min("x")).as("dx"), (max("y") - min("y")).as("dy"))
      .agg(min("dx"), min("dy")).collect()(0)
    assert(env.getLong(0) < 65536L / 2 || env.getLong(1) < 65536L / 2,
      "no file has a bounded envelope in either dimension")
  }

  test("q_scd2_orders: contiguous versions, exactly one current row per customer") {
    val out = q("q_scd2_orders").cache()
    try {
      val perCust = out.groupBy("o_custkey").agg(
        count(lit(1)).as("n"),
        min("version").as("vmin"), max("version").as("vmax"),
        sum(when(col("is_current"), 1L).otherwise(0L)).as("n_cur"))
      assert(perCust.filter(col("vmin") =!= 1L || col("vmax") =!= col("n")
        || col("n_cur") =!= 1L).count() === 0L)
      // runs really are maximal: consecutive versions never repeat a status
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("o_custkey").orderBy("version")
      val rep = out.withColumn("prev", lag(col("o_orderstatus"), 1).over(w))
        .filter(col("prev") === col("o_orderstatus"))
      assert(rep.count() === 0L, "adjacent versions with identical status")
      // validity intervals chain: valid_to == next version's valid_from
      val chain = out.withColumn("nxt", lead(col("valid_from"), 1).over(w))
        .filter(!(col("valid_to") <=> col("nxt")))
      assert(chain.count() === 0L, "valid_to does not chain to next valid_from")
    } finally { out.unpersist(); () }
  }

  test("q_line_dedup: exactly one global survivor per seeded boilerplate line") {
    val out = q("q_line_dedup").cache()
    try {
      val docs = Tables.load(spark, dir, "documents")
      val n4 = docs.filter(col("doc_id") % 4 === 0).count()
      val n6 = docs.filter(col("doc_id") % 6 === 0).count()
      // fixture invariant the seeding depends on: original texts are
      // globally unique, so ONLY the two seeded lines ever collide
      assert(docs.select("text").distinct().count() === docs.count(),
        "fixture texts no longer unique — seeded-survivor arithmetic invalid")
      val agg = out.agg(sum("n_lines"), sum("n_kept")).collect()(0)
      assert(agg.getLong(0) - agg.getLong(1) === (n4 - 1) + (n6 - 1),
        "dropped-line count != duplicate boilerplate occurrences")
      // docs carrying no boilerplate keep everything
      val clean = out.filter(col("doc_id") % 4 =!= 0 && col("doc_id") % 6 =!= 0)
        .filter(col("n_kept") =!= col("n_lines"))
      assert(clean.count() === 0L)
    } finally { out.unpersist(); () }
  }

  test("Scd2.fold: extends open runs, versions new customers, chains batches") {
    import graft.ops.Scd2
    def o(rows: (Long, Long, String, String)*) = {
      import spark.implicits._
      rows.toDF("o_custkey", "o_orderkey", "d0", "st")
        .select(col("o_custkey"), col("o_orderkey"),
          col("d0").cast("date").as("d"), col("st"))
    }
    val old = o((1L, 1L, "2020-01-01", "A"), (1L, 2L, "2020-02-01", "A"),
      (2L, 10L, "2020-01-15", "F"))
    val b1 = o((1L, 3L, "2020-03-01", "A"), // extends cust 1's open A run
      (2L, 11L, "2020-03-01", "O"),         // new version for cust 2
      (3L, 20L, "2020-03-05", "P"))         // brand-new customer
    val b2 = o((1L, 4L, "2020-04-01", "B")) // closes cust 1's A run
    val folded = Scd2.fold(Scd2.fold(Scd2.history(old), b1), b2).cache()
    try {
      val full = Scd2.history(old.unionByName(b1).unionByName(b2))
      assert(folded.exceptAll(full).isEmpty && full.exceptAll(folded).isEmpty,
        "chained folds diverge from the full rebuild")
      // the A run absorbed the batch-1 order: weight carried through
      val a = folded.filter(col("o_custkey") === 1L && col("version") === 1L)
        .collect()(0)
      assert(a.getAs[String]("o_orderstatus") === "A"
        && a.getAs[Long]("n_orders") === 3L
        && !a.getAs[Boolean]("is_current"))
      // the brand-new customer starts at version 1, open
      val c3 = folded.filter(col("o_custkey") === 3L).collect()
      assert(c3.length === 1 && c3(0).getAs[Long]("version") === 1L
        && c3(0).getAs[Boolean]("is_current"))
    } finally { folded.unpersist(); () }
  }

  test("q_mixture_sample: rates cap at 10000 and admission is below-rate") {
    val out = q("q_mixture_sample").cache()
    try {
      assert(out.filter(col("bucket") >= col("rate_bp")).count() === 0L)
      assert(out.filter(col("rate_bp") > 10000L).count() === 0L)
      // at least one source must be thinned (rate < 10000), else the
      // fixture no longer exercises the rebalancing at all
      assert(out.filter(col("rate_bp") < 10000L).count() > 0L)
    } finally { out.unpersist(); () }
  }

  test("q_ann_pq_encode: codes use the full codebook; packed code is consistent") {
    import graft.queries.VectorQueries.{PqM, PqK, PqBits}
    val out = q("q_ann_pq_encode").cache()
    try {
      // every subspace should spread vectors over a wide slice of the
      // codebook (a seeded k=256 codebook over the 500-vector fixture
      // leaves many cells thinly used after one Lloyd round; a
      // COLLAPSED codebook — a handful of distinct codes — means
      // training regressed). Bound: an eighth of the codebook, well
      // below healthy (~200 distinct at (8,256) on this fixture) and
      // far above collapse.
      (0 until PqM).foreach { m =>
        assert(out.select(s"code_$m").distinct().count() >= PqK / 8,
          s"subspace $m codebook collapsed")
      }
      val half = PqM / 2
      val packedLo = (0 until half)
        .map(m => col(s"code_$m") * lit(1L << (PqBits * m)))
        .reduce(_ + _)
      val packedHi = (half until PqM)
        .map(m => col(s"code_$m") * lit(1L << (PqBits * (m - half))))
        .reduce(_ + _)
      assert(out.filter(col("pq_lo") =!= packedLo).count() === 0L)
      assert(out.filter(col("pq_hi") =!= packedHi).count() === 0L)
    } finally { out.unpersist(); () }
  }

  test("q_ann_pq_adc recall against the exact baseline is far above random") {
    import org.apache.spark.sql.Row
    def pairs(name: String): Set[(Long, Long)] =
      q(name).select("q_id", "neighbor_id").collect()
        .map { case Row(a: Long, b: Long) => (a, b) }.toSet
    val exact = pairs("q_ann_cosine_topk")
    val adc = pairs("q_ann_pq_adc")
    val recall = (adc & exact).size.toDouble / exact.size
    // top-10 of ~500 ⇒ random recall ≈ 0.02; the (8,256) geometry on
    // near-uniform synthetic vectors measures ≈ 0.8+ (P33 sweep, r13);
    // the floor stays loose — it guards against collapse, not drift
    assert(recall > 0.2, f"ADC recall@10 $recall%.3f far below the (8,256) level")
  }

  test("q_ann_ivfpq: re-rank budget honored and recall clears both parts' ceilings") {
    import org.apache.spark.sql.Row
    val Row(nExact: Long, nApprox: Long, nHit: Long, nReranked: Long,
      nCodeScanned: Long, recallPpm: Long) =
      q("q_ann_ivfpq_recall").collect().head
    val nQueries = q("q_ann_ivfpq_topk").select("q_id").distinct().count()
    val corpus = Tables.load(spark, dir, "embeddings").count()
    // the expensive budget: exact re-rank ≤ (N div 8) per query — the
    // 13%-of-corpus bar the round-12 verdict set
    assert(nReranked <= nQueries * math.max(32L, corpus / 8L))
    // code scan covers more than the re-rank (that's the point of PQ)
    // but stays bounded by the probed-cell mass
    assert(nCodeScanned >= nReranked)
    assert(nApprox === nExact)
    // measured 92% at this fixture (P36); floor guards collapse, and
    // sits above BOTH composed parts' own ceilings (trained-IVF 64%,
    // raw PQ-ADC 67%) — the composition must beat its pieces
    assert(recallPpm > 700000L, s"IVF-PQ recall@10 $recallPpm ppm")
    assert(nHit * 1000000L / nExact === recallPpm)
  }

  test("range-clustered layout skips row groups the scattered layout reads") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    // the cluster column must be a DATE: a pushed TIMESTAMP range is
    // NOT consulted for parquet row-group skipping on this Spark
    // (measured via the dev probe: 1500/1500 rows read with disjoint
    // envelopes), while the identical DATE range prunes — which is why
    // q_range_layout derives o_date before writing
    val o = Tables.load(spark, dir, "orders")
      .withColumn("o_date", to_date(col("o_orderdate")))
    val clustered = "/tmp/graft_layout_clustered"
    val scattered = "/tmp/graft_layout_scattered"
    o.repartitionByRange(8, col("o_date"))
      .sortWithinPartitions(col("o_date"))
      .write.mode("overwrite").parquet(clustered)
    o.repartition(8, col("o_orderkey"))
      .write.mode("overwrite").parquet(scattered)
    // rows the parquet reader actually produced (surviving row groups).
    // No aggregate on purpose: an exchange would wrap the scan in an
    // AQE query stage (a leaf), hiding it from plan.collect
    def scanRows(path: String): Long = {
      val df = spark.read.parquet(path)
        .filter(col("o_date").between(lit("1996-01-01"), lit("1996-12-31")))
        .select(col("o_orderkey"))
      df.collect()
      val scans = df.queryExecution.executedPlan.collect {
        case a: AdaptiveSparkPlanExec => a.executedPlan.collect {
          case f: FileSourceScanExec => f
        }
        case f: FileSourceScanExec => Seq(f)
      }.flatten
      assert(scans.nonEmpty, df.queryExecution.executedPlan.toString)
      scans.map(_.metrics("numOutputRows").value).sum
    }
    val cl = scanRows(clustered)
    val sc = scanRows(scattered)
    // q_range_layout's write-side claim, measured: the date window
    // covers ~1/6 of the span, so the clustered read touches ~2 of 8
    // file envelopes while the scattered read touches all of them
    assert(cl > 0 && sc > 0)
    assert(cl * 3 <= sc, s"clustered scan read $cl rows vs scattered $sc — no skipping")
  }

  test("q_tfidf_terms: dense rank 1..5 per doc; corpus-wide terms score zero") {
    val out = q("q_tfidf_terms").cache()
    try {
      val perDoc = out.groupBy("doc_id").agg(
        count(lit(1)).as("n"), min("rk").as("rmin"), max("rk").as("rmax"))
      assert(perDoc.filter(col("rmin") =!= 1L || col("rmax") =!= col("n")
        || col("n") > 5L).count() === 0L)
      val nDocs = Tables.load(spark, dir, "documents").count()
      assert(out.filter(col("df") === nDocs && col("score_bp") =!= 0L)
        .count() === 0L, "idf of an every-doc term must be 0")
    } finally { out.unpersist(); () }
  }

  test("q_dedup_substring: every banner doc is flagged; sampling is non-vacuous") {
    val out = q("q_dedup_substring").cache()
    try {
      val banner = out.filter(col("doc_id") % 7 === 0)
      assert(banner.count() > 1L, "need >1 banner doc for a cross-doc dup")
      // the banner must actually contain a selected (md5-nibble-0)
      // shingle — otherwise the whole query silently tests nothing
      assert(banner.filter(col("has_dup") =!= 1).count() === 0L,
        "a seeded banner doc was not flagged — banner no longer " +
          "contains a winnowing-selected shingle")
      // flag is derived, not independent
      assert(out.filter((col("n_dup_sampled") > 0) =!=
        (col("has_dup") === 1)).count() === 0L)
      assert(out.filter(col("n_dup_sampled") > col("n_sampled")).count() === 0L)
    } finally { out.unpersist(); () }
  }

  test("winnowing selection is alignment-independent (same spans, shifted)") {
    import spark.implicits._
    // identical 96-char payload embedded at DIFFERENT offsets; a
    // stride-based sampler would pick differently-aligned shingles and
    // miss the match — content-defined selection must pick the SAME
    // payload shingles in both docs
    val payload = "the quick brown fox jumps over the lazy dog while " +
      "seventeen jackdaws inspect quartz obelisks"
    val docs = Seq(
      (1L, "XX" + payload + "tail one"),
      (2L, "YYYYYYYYYYYYYYYYYYYSHIFT" + payload + "other suffix")).toDF("doc_id", "t")
    val sampled = docs
      .select(col("doc_id"), explode(expr("sequence(1, length(t) - 31)")).as("p"),
        col("t"))
      .select(col("doc_id"), expr("substring(t, p, 32)").as("sh"))
      .filter(substring(md5(col("sh")), 1, 1) === "0")
    val common = sampled.filter(col("doc_id") === 1L).select("sh")
      .intersect(sampled.filter(col("doc_id") === 2L).select("sh"))
    assert(common.count() >= 1L,
      "no common sampled shingle across shifted copies — selection is " +
        "not content-defined (or the 1/16 rate left the payload unsampled)")
  }

  test("q_bpe_learn matches hand-computed merges on a synthetic corpus") {
    import spark.implicits._
    // vocab: "aaa"×3, "bc"×2. Round 1: (a,a) count 6 (overlapping
    // positions both count, Sennrich get_stats) → merge greedy
    // left-to-right: aaa → [aa, a]. Round 2: (aa,a) count 3 — the
    // merged token immediately participates as LEFT symbol. Round 3:
    // only (b,c) remains.
    val tmp = java.nio.file.Files.createTempDirectory("graft-bpe").toString
    Seq((1L, "aaa bc bc", "en", "t", 9L), (2L, "aaa aaa", "en", "t", 7L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = SparkEntry.queries("q_bpe_learn")(spark, tmp)
      .orderBy("round_id")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(got.toSeq === Seq((1, "a", "a", 6L), (2, "aa", "a", 3L), (3, "b", "c", 2L)))
  }

  test("q_join_full_outer keeps unmatched rows from BOTH sides") {
    val out = q("q_join_full_outer").cache()
    try {
      val leftOnly = out.filter(col("n_big_orders").isNull).count()
      val rightOnly = out.filter(col("acctbal_cents").isNull).count()
      assert(leftOnly > 0L, "no left-only rows — fixture lost its negative-balance-only customers")
      assert(rightOnly > 0L, "no right-only rows")
      assert(out.filter(col("in_both") === 1)
        .filter(col("acctbal_cents").isNull || col("n_big_orders").isNull)
        .count() === 0L)
      assert(out.select("c_custkey").distinct().count() === out.count(),
        "full outer on pre-aggregated sides must emit one row per key")
    } finally { out.unpersist(); () }
  }

  test("q_dedup_containment: every seeded excerpt is caught at full containment") {
    val out = q("q_dedup_containment").persist()
    try {
      import spark.implicits._
      // seeded excerpt ids are -(doc_id+1) for doc_id % 17 == 0
      val nSeeds = Tables.load(spark, dir, "documents")
        .filter(col("doc_id") % 17 === 0).count()
      assert(nSeeds > 0, "fixture must have seeds")
      val caught = out.filter(col("doc_in") < 0)
        .select(col("doc_in"), col("doc_of"), col("cont_bp"))
        .as[(Long, Long, Long)].collect()
      // each excerpt must be contained in its own source at exactly
      // 10000 bp (a prefix's 3-shingles all occur in the source, and
      // df-capping removes shingles globally, never one-sided)
      val bySource = caught.filter { case (in, of, _) => -in - 1 == of }
      assert(bySource.length == nSeeds,
        s"expected $nSeeds seeded pairs, caught ${bySource.length}")
      assert(bySource.forall(_._3 == 10000L),
        s"seeded prefix containment must be exactly 10000 bp: ${bySource.toSeq}")
      // directionality: no source is flagged as contained in its excerpt
      assert(!caught.exists { case (in, of, _) => in >= 0 && of < 0 },
        "containment must be asymmetric: the big doc is never inside its excerpt")
    } finally { out.unpersist(); () }
  }

  test("q_pagerank: ranks bounded below by the base mass; handoff graph is non-trivial") {
    val out = q("q_pagerank").persist()
    try {
      import spark.implicits._
      val rows = out.as[(Long, Long)].collect()
      // top-20, capped by the node count (sf0.001 has only 15 users)
      assert(rows.nonEmpty && rows.length <= 20)
      // every node keeps at least the undamped base mass
      assert(rows.forall(_._2 >= 150000L), rows.toSeq.toString)
      // the top node must have actually accumulated inbound mass
      assert(rows.map(_._2).max > 150000L, "graph must not be edgeless")
      // output is the global top-20: descending, ties by node asc
      val sorted = rows.sortBy(r => (-r._2, r._1)).toSeq
      assert(rows.toSeq == sorted, "top-20 ordering must be deterministic")
    } finally { out.unpersist(); () }
  }

  test("graft_nfc: composes decomposed marks, idempotent, ASCII pass-through, null-safe") {
    import spark.implicits._
    val rows = Seq(
      ("cafe\u0301", "caf\u00e9"),   // e + combining acute -> e-acute
      ("nai\u0308ve", "na\u00efve"), // i + combining diaeresis -> i-uml
      ("caf\u00e9", "caf\u00e9"),    // already composed: unchanged
      ("plain ascii 123", "plain ascii 123"),
      ("", ""))
    val out = rows.toDF("s", "expect")
      .selectExpr("graft_nfc(s) AS got", "expect",
        "graft_nfc(graft_nfc(s)) AS twice")
      .as[(String, String, String)].collect()
    out.foreach { case (got, expect, twice) =>
      assert(got == expect, s"nfc('$got') != '$expect'")
      assert(twice == got, "nfc must be idempotent")
    }
    val n = Seq(Option.empty[String]).toDF("s")
      .selectExpr("graft_nfc(s) AS got").collect()
    assert(n.head.isNullAt(0), "null in → null out")
  }

  test("q_lm_perplexity: repeated text scores below novel text; totals consistent") {
    import spark.implicits._
    val out = q("q_lm_perplexity").persist()
    try {
      val rows = out.select("n_bigrams", "nll_sum", "avg_nll_bp")
        .as[(Long, Long, Long)].collect()
      assert(rows.nonEmpty)
      // integral-division consistency of the reported average
      assert(rows.forall { case (n, s, a) => a == s / n })
      // a corpus-trained LM must find SOME spread (else the score is
      // vacuous as a filter signal)
      val avgs = rows.map(_._3)
      assert(avgs.max > avgs.min, "perplexity signal must discriminate")
    } finally { out.unpersist(); () }
  }

  test("q_dq_audit: every seeded check fires; RI orphans match the seed slice") {
    import spark.implicits._
    val rows = q("q_dq_audit")
      .select("check_name", "violations", "pass")
      .as[(String, Long, Int)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    // an audit that has only ever seen clean data is untested — all five
    // seeded corruptions must be caught, and pass must reflect it
    rows.foreach { case (chk, (v, p)) =>
      assert(v > 0, s"$chk found no violations — seed not firing")
      assert(p == 0, s"$chk pass flag inconsistent with $v violations")
    }
    // orphan count == the exact seeded slice (negated keys can never match)
    val li = Tables.load(spark, dir, "lineitem")
    val seeded = li.filter(pmod(col("l_orderkey"), lit(971)) === 0).count()
    assert(rows("ri_orderkey")._1 == seeded)
  }

  test("q_attribution: touch ordering and window bounds hold") {
    import spark.implicits._
    val rows = q("q_attribution")
      .select("n_touches", "first_touch_type", "last_touch_type",
        "secs_to_convert")
      .as[(Long, Option[String], Option[String], Option[Long])].collect()
    assert(rows.nonEmpty)
    assert(rows.exists(_._1 > 0), "no purchase had any touches — vacuous")
    rows.foreach { case (n, ft, lt, secs) =>
      if (n == 0) assert(ft.isEmpty && lt.isEmpty && secs.isEmpty)
      else {
        assert(ft.nonEmpty && lt.nonEmpty)
        assert(Set("click", "view")(ft.get) && Set("click", "view")(lt.get))
        // first touch precedes (or equals) the purchase, within 7 days
        assert(secs.get >= 0 && secs.get <= 604799)
      }
    }
  }

  test("q_collocations: ratio rank is exact and pairs genuinely co-occur") {
    import spark.implicits._
    val rows = q("q_collocations")
      .select("c12", "pmi_ratio_ppm").as[(Long, Long)].collect()
    assert(rows.length == 20)
    assert(rows.forall(_._1 >= 5), "min-count floor violated")
    // PMI > 0 ⟺ ratio > 1 ⟺ ppm > 1e6: top collocations must be
    // positively associated, else the ranking is vacuous
    assert(rows.forall(_._2 > 1000000L), rows.mkString(","))
  }

  test("q_bpe_encode: token counts bounded by words below and chars above") {
    import spark.implicits._
    val rows = q("q_bpe_encode")
      .as[(Long, Long, Long)].collect() // doc_id, n_words, n_tokens_bpe
    assert(rows.nonEmpty)
    // chars per doc (of the tokenized words) — the no-merge upper bound
    val chars = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), explode(graft.ops.TextOps.words(col("text"))).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("doc_id").agg(sum(length(col("w"))).as("c"))
      .as[(Long, Long)].collect().toMap
    rows.foreach { case (id, nw, nt) =>
      assert(nt >= nw, s"doc $id: fewer tokens than words")
      assert(nt <= chars(id), s"doc $id: more tokens than characters")
    }
    // three merges were learned from this corpus — they must actually
    // compress it, else the apply step is vacuous
    assert(rows.map(_._3).sum < chars.values.sum,
      "BPE merges did not reduce token count anywhere")
  }

  test("q_triangle_count equals a brute-force triple-join reference") {
    import spark.implicits._
    // reference: id-ordered triple join a<b<c — O(m^3)-ish, test-scale only
    // (same seeded cliques as the registered query: u%97==0 → {u,u+1,u+2})
    val seeds = Tables.load(spark, dir, "events")
      .select(col("user_id")).distinct()
      .filter(pmod(col("user_id"), lit(97)) === 0)
    val clique = seeds.select(col("user_id").as("src"), (col("user_id") + 1).as("dst"))
      .unionAll(seeds.select((col("user_id") + 1).as("src"), (col("user_id") + 2).as("dst")))
      .unionAll(seeds.select(col("user_id").as("src"), (col("user_id") + 2).as("dst")))
    val und = queries.GraphQueries.handoffEdges(spark, dir).unionByName(clique)
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct().persist()
    try {
      val e1 = und.select(col("a").as("x"), col("b").as("y"))
      val e2 = und.select(col("a").as("y2"), col("b").as("z"))
      val e3 = und.select(col("a").as("x3"), col("b").as("z3"))
      val tris = e1.join(e2, col("y") === col("y2"))
        .join(e3, col("x") === col("x3") && col("z") === col("z3"))
        .select(col("x"), col("y"), col("z"))
      val refCounts = tris
        .select(explode(array(col("x"), col("y"), col("z"))).as("node"))
        .groupBy("node").agg(count(lit(1)).as("n_triangles"))
        .orderBy(col("n_triangles").desc, col("node").asc).limit(20)
        .as[(Long, Long)].collect().toSeq
      val got = q("q_triangle_count").as[(Long, Long)].collect().toSeq
      assert(got == refCounts, s"degree-oriented != brute force:\n$got\n$refCounts")
      assert(got.nonEmpty && got.head._2 > 0, "no triangles found — vacuous")
    } finally { und.unpersist(); () }
  }

  test("q_snapshot_diff class counts match the seeded mutation slices") {
    import spark.implicits._
    val byType = q("q_snapshot_diff").groupBy("change_type").count()
      .as[(String, Long)].collect().toMap
    val keys = Tables.load(spark, dir, "orders").select("o_orderkey")
    def slice(m: Int) = keys.filter(pmod(col("o_orderkey"), lit(m)) === 0).count()
    assert(byType("delete") == slice(101))
    assert(byType("insert") == slice(107))
    // updates exclude keys that were deleted first (101 wins over 103)
    val upd = keys.filter(pmod(col("o_orderkey"), lit(103)) === 0 &&
      pmod(col("o_orderkey"), lit(101)) =!= 0).count()
    assert(byType("update") == upd)
    assert(byType.values.forall(_ > 0), s"vacuous class: $byType")
  }

  test("q_incr_agg: merged table equals the direct full aggregate") {
    val merged = q("q_incr_agg")
    val full = Tables.load(spark, dir, "orders")
      .select(trunc(col("o_orderdate"), "month").as("month"),
        col("o_orderpriority"),
        round(col("o_totalprice") * 100).cast("long").as("c"))
      .groupBy("month", "o_orderpriority")
      .agg(count(lit(1)).as("n"), sum(col("c")).as("sum_cents"),
        min(col("c")).as("min_cents"), max(col("c")).as("max_cents"))
    assert(merged.exceptAll(full).isEmpty && full.exceptAll(merged).isEmpty)
    // the cutoff must split a month so the merge genuinely combines:
    // June 1998 exists on both sides
    val jun = Tables.load(spark, dir, "orders")
      .filter(trunc(col("o_orderdate"), "month") === lit("1998-06-01"))
    assert(jun.filter(col("o_orderdate") <
      lit("1998-06-15 00:00:00").cast("timestamp")).count() > 0)
    assert(jun.filter(col("o_orderdate") >=
      lit("1998-06-15 00:00:00").cast("timestamp")).count() > 0)
  }

  test("q_knn_graph edges are mutual top-3 members of the bucketed candidates") {
    import graft.ops.VectorOps._
    import spark.implicits._
    val edges = q("q_knn_graph")
      .as[(Long, Long, Long)].collect().toSeq
    assert(edges.nonEmpty, "mutual-kNN graph is empty at fixture scale")
    assert(edges.forall { case (a, b, bp) => a < b && bp >= 1000 })
    // independently recompute each vector's bucketed top-3 and check
    // every emitted edge is mutual in it (and at the right rank cos)
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val e = withNormalizedNative(emb, "embedding", "vn")
      .select(col("vec_id"), col("vn"))
      .withColumn("bucket",
        lshBucket(col("vn"), adaptivePlanes(emb.count()), 64))
    val pairs = bucketedPairsCosineAtLeast(e, "bucket", "vec_id", "vn", 1000L)
      .as[(Long, Long, Long)].collect().toSeq
    val directed = pairs.flatMap { case (a, b, bp) => Seq((a, b, bp), (b, a, bp)) }
    val top3 = directed.groupBy(_._1).map { case (src, es) =>
      src -> es.sortBy(t => (-t._3, t._2)).take(3).map(t => (t._2, t._3)).toSet
    }
    edges.foreach { case (a, b, bp) =>
      assert(top3(a).contains((b, bp)) && top3(b).contains((a, bp)),
        s"edge ($a,$b,$bp) not mutual in independently recomputed top-3")
    }
    Harness.clearState()
  }

  test("q_semantic_clusters is consistent with the mutual-kNN edge set") {
    import spark.implicits._
    val clusters = q("q_semantic_clusters")
      .as[(Long, Long)].collect().toMap
    assert(clusters.nonEmpty, "no clusters at fixture scale")
    val edges = q("q_knn_graph")
      .select(col("vec_a"), col("vec_b")).as[(Long, Long)].collect()
    // every edge's endpoints share a cluster; every clustered vertex
    // appears in some edge; cluster label = min member id
    edges.foreach { case (a, b) =>
      assert(clusters(a) == clusters(b), s"edge ($a,$b) crosses clusters")
    }
    val inEdges = edges.flatMap { case (a, b) => Seq(a, b) }.toSet
    assert(clusters.keySet == inEdges)
    clusters.groupBy(_._2).foreach { case (label, members) =>
      assert(label == members.keys.min, s"cluster $label label != min member")
    }
    Harness.clearState()
  }

  test("q_audio_frames: frame sums recombine to q_multimodal_audio sample sums") {
    import spark.implicits._
    val byDoc = q("q_audio_frames")
      .groupBy("doc_id").agg(sum(col("frame_sum")).as("s"),
        sum(col("n_vals")).as("nv"))
      .as[(Long, Long, Long)].collect().map(t => t._1 -> (t._2, t._3)).toMap
    val full = q("q_multimodal_audio")
      .select(col("doc_id"), col("sample_sum"),
        (col("n_samples") * col("channels")).cast("long").as("m"))
      .as[(Long, Long, Long)].collect()
    assert(full.nonEmpty)
    full.foreach { case (id, ss, m) =>
      assert(byDoc(id) == ((ss, m)),
        s"doc $id: frames ${byDoc(id)} != full ($ss, $m)")
    }
  }

  test("q_text_entropy: uniform docs score ln(n_types), repetitive docs score 0") {
    import spark.implicits._
    val rows = q("q_text_entropy")
      .as[(Long, Long, Long, Long)].collect()
      .map { case (id, nTok, nTyp, ent) => id -> (nTok, nTyp, ent) }.toMap
    // entropy bounded by ln(n_types) in nat-bp (+1 for per-term rounding slack)
    rows.values.foreach { case (_, nTyp, ent) =>
      val cap = math.round(10000.0 * math.log(nTyp.toDouble)) + nTyp
      assert(ent >= 0 && ent <= cap, s"entropy $ent outside [0, $cap]")
    }
    // a doc where every token is distinct hits the cap exactly;
    // single-type docs score exactly 0
    rows.values.foreach { case (nTok, nTyp, ent) =>
      if (nTyp == 1) assert(ent == 0)
    }
  }

  test("q_simjoin_prefix equals brute-force exact Jaccard>=0.6 (no false negatives/positives)") {
    import spark.implicits._
    import graft.ops.TextOps
    // exact all-pairs over the SAME hashed-shingle multisets the
    // production path ships (the kernel dedups strings, so a hash
    // collision yields a duplicated value — the join-count semantics
    // Σ_s cntA(s)·cntB(s) mirror that exactly); test-scope-only brute
    // force, the completeness proof the prefix rule is judged by
    val sets = Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        TextOps.shingleHashes(TextOps.words(col("text"))).as("hs"))
      .as[(Long, Seq[Long])].collect()
      .map { case (id, hs) =>
        id -> hs.groupBy(identity).map { case (s, v) => s -> v.size.toLong } }
    val expect = (for {
      (a, ca) <- sets; (b, cb) <- sets if a < b
      na = ca.values.sum; nb = cb.values.sum
      shared = ca.keysIterator.map(s => ca(s) * cb.getOrElse(s, 0L)).sum
      if shared * 5 >= (na + nb - shared) * 3 && na > 0 && nb > 0
    } yield (a, b, shared)).toSet
    val got = q("q_simjoin_prefix")
      .select("doc_a", "doc_b", "shared")
      .as[(Long, Long, Long)].collect().toSet
    assert(got == expect, s"prefix join ${got.size} pairs vs brute ${expect.size}")
    assert(got.nonEmpty) // non-vacuous at sf0.001
  }

  test("q_anomaly_mad matches a brute-force median/MAD per segment") {
    import spark.implicits._
    val base = Tables.load(spark, dir, "orders")
      .select(col("o_orderstatus").as("seg"),
        year(col("o_orderdate").cast("date")).as("yr"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      .as[(String, Int, Long)].collect()
      .groupBy { case (s, y, _) => (s, y) }
    val rows = q("q_anomaly_mad")
      .as[(String, Int, Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    def lowerMedian(xs: Seq[Long]): Long = xs.sorted.apply((xs.size + 1) / 2 - 1)
    rows.foreach { case (seg, yr, n, med, mad, nOut) =>
      val cs = base((seg, yr)).map(_._3).toSeq
      assert(n == cs.size)
      val m = lowerMedian(cs)
      assert(med == m, s"($seg,$yr) med $med != $m")
      val dev = cs.map(c => math.abs(c - m))
      val md = lowerMedian(dev)
      assert(mad == md, s"($seg,$yr) mad $mad != $md")
      assert(nOut == dev.count(_ > 3 * md))
    }
  }

  test("q_covariance_matrix equals a direct two-pass covariance on collected vectors") {
    import spark.implicits._
    val vecs = Tables.load(spark, dir, "embeddings")
      .select(col("embedding")).as[Seq[Float]].collect()
      .map(_.take(8).map(v => math.round(v.toDouble * 1e6)).toArray)
    val n = vecs.length.toLong
    val B = BigInt(100000000000000L) // hi/lo limb base, mirrors the query
    val rows = q("q_covariance_matrix")
      .select(col("i"), col("j"), col("n"),
        col("sxy_hi"), col("sxy_lo"), col("cov_hi"), col("cov_lo"))
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect()
    assert(rows.length == 36)
    rows.foreach { case (i, j, nq, sxyHi, sxyLo, covHi, covLo) =>
      assert(nq == n)
      val sxy = vecs.map(v => BigInt(v(i.toInt)) * BigInt(v(j.toInt))).sum
      val sx = vecs.map(v => BigInt(v(i.toInt))).sum
      val sy = vecs.map(v => BigInt(v(j.toInt))).sum
      assert(BigInt(sxyHi) * B + BigInt(sxyLo) == sxy, s"($i,$j) sxy")
      assert(BigInt(covHi) * B + BigInt(covLo) == sxy * n - sx * sy,
        s"($i,$j) cov_num")
      // lo carries the dividend's sign (truncated %): |lo| < B and
      // hi·lo never have opposite signs
      assert(sxyLo.abs < 100000000000000L && covLo.abs < 100000000000000L)
    }
  }

  test("q_split_holdout: splits are disjoint, exhaustive, and md5-derived") {
    import spark.implicits._
    val ids = Tables.load(spark, dir, "documents")
      .select(col("doc_id")).as[Long].collect()
    def bucket(id: Long): Long = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      val hex = h.map(b => f"$b%02x").mkString.take(15)
      java.lang.Long.parseLong(hex, 16) % 2147483647L % 100L
    }
    val expect = ids.groupBy { id =>
      val b = bucket(id)
      if (b < 90) "train" else if (b < 95) "val" else "test"
    }.map { case (s, xs) => s -> ((xs.length.toLong, xs.sum)) }
    val got = q("q_split_holdout")
      .as[(String, Long, Long)].collect()
      .map { case (s, n, c) => s -> ((n, c)) }.toMap
    assert(got == expect)
    assert(got.values.map(_._1).sum == ids.length) // exhaustive
    assert(got.keySet == Set("train", "val", "test")) // every split non-empty
  }

  test("q_sentence_split: sentences reassemble to the exact token stream, in order") {
    import spark.implicits._
    import graft.ops.TextOps
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), TextOps.words(col("text")).as("w"))
      .as[(Long, Seq[String])].collect().toMap
    val sents = q("q_sentence_split")
      .as[(Long, Long, String, Long)].collect()
      .groupBy(_._1)
    assert(sents.nonEmpty)
    sents.foreach { case (id, xs) =>
      val ordered = xs.sortBy(_._2)
      // indices strictly increasing, words recombine exactly
      val rebuilt = ordered.flatMap(_._3.split("\\s+")).toSeq
      assert(rebuilt == docs(id).filter(_.nonEmpty), s"doc $id reassembly")
      ordered.foreach { case (_, _, s, nw) =>
        assert(nw == s.split("\\s+").length)
        assert(nw <= 8) // boundary every 8 words
      }
    }
    // non-vacuous: multi-sentence docs exist
    assert(sents.values.exists(_.length >= 3))
  }

  test("q_chi_square equals a direct recomputation from the contingency table") {
    import spark.implicits._
    val cells = Tables.load(spark, dir, "documents")
      .groupBy("lang", "source").count()
      .as[(String, String, Long)].collect()
    val n = cells.map(_._3).sum
    val rt = cells.groupBy(_._1).map { case (k, v) => k -> v.map(_._3).sum }
    val ct = cells.groupBy(_._2).map { case (k, v) => k -> v.map(_._3).sum }
    val chi = cells.map { case (l, s, o) =>
      val e = rt(l).toDouble * ct(s).toDouble / n.toDouble
      math.round(10000.0 * (o - e) * (o - e) / e)
    }.sum
    val dof = (rt.size - 1).toLong * (ct.size - 1).toLong
    val Array((gotN, gotDof, gotChi)) = q("q_chi_square")
      .as[(Long, Long, Long)].collect()
    assert(gotN == n && gotDof == dof && gotChi == chi)
    assert(chi > 0) // non-vacuous
  }

  test("q_label_propagation: seeds clamped, spread matches a sequential replay") {
    import spark.implicits._
    val seedMap = Tables.load(spark, dir, "embeddings")
      .filter(col("vec_id") % 20 === 0)
      .select(col("vec_id"), col("label").cast("long"))
      .as[(Long, Long)].collect().toMap
    val mut = q("q_knn_graph").select("vec_a", "vec_b")
      .as[(Long, Long)].collect()
    val adj = (mut ++ mut.map(_.swap)).groupBy(_._1)
      .map { case (k, v) => k -> v.map(_._2).toSeq }
    val got = q("q_label_propagation")
      .as[(Long, Long, Long)].collect()
    assert(got.map(_._1).distinct.length == got.length) // one label per node
    // sequential replay of the 2 synchronous rounds
    var lab = seedMap
    var expect = seedMap.map { case (k, v) => k -> ((v, 0L)) }
    for (r <- 1 to 2) {
      val newly = adj.keys.filterNot(lab.contains).flatMap { u =>
        val votes = adj(u).flatMap(lab.get).groupBy(identity)
          .map { case (l, v) => (l, v.size) }
        if (votes.isEmpty) None
        else Some(u -> votes.minBy { case (l, c) => (-c, l) }._1)
      }.toMap
      lab = lab ++ newly
      expect = expect ++ newly.map { case (k, v) => k -> ((v, r.toLong)) }
    }
    assert(got.map { case (id, l, r) => id -> ((l, r)) }.toMap == expect)
    assert(got.count(_._3 == 1L) > 0) // non-vacuous spread
  }

  test("q_sampling_temperature: exact ppm recomputation + rare-source lift property") {
    import spark.implicits._
    val counts = Tables.load(spark, dir, "documents")
      .groupBy("source").count().as[(String, Long)].collect().toMap
    val sE6 = counts.map { case (s, n) => s -> math.round(1e6 * math.sqrt(n.toDouble)) }
    val w = sE6.values.sum
    val got = q("q_sampling_temperature")
      .as[(String, Long, Long, Long)].collect()
    assert(got.length == counts.size)
    got.foreach { case (s, n, se6, ppm) =>
      assert(n == counts(s) && se6 == sE6(s))
      assert(ppm == se6 * 1000000L / w)
    }
    // temperature lifts every below-average source ABOVE its
    // proportional share (sqrt concavity), small integer slack
    val total = counts.values.sum
    got.filter { case (s, n, _, _) => n * counts.size < total }
      .foreach { case (s, n, _, ppm) =>
        assert(ppm * total >= n * 1000000L - total, s"source $s not lifted")
      }
  }

  test("q_ngram_novelty equals a sequential first-seen replay; first doc scores 10000") {
    import spark.implicits._
    import graft.ops.TextOps
    val sets = Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        array_distinct(TextOps.shingles3(TextOps.words(col("text")))).as("sh"))
      .as[(Long, Seq[String])].collect()
      .map { case (id, sh) => id -> sh.filter(_.nonEmpty).toSet }
    val firstSeen = sets.flatMap { case (id, sh) => sh.map(_ -> id) }
      .groupBy(_._1).map { case (s, v) => s -> v.map(_._2).min }
    val got = q("q_ngram_novelty")
      .as[(Long, Long, Long, Long)].collect()
    assert(got.length == sets.count(_._2.nonEmpty))
    val bySet = sets.toMap
    got.foreach { case (id, nSh, nNov, bp) =>
      val sh = bySet(id)
      assert(nSh == sh.size)
      val nov = sh.count(s => firstSeen(s) == id)
      assert(nNov == nov, s"doc $id novel $nNov != $nov")
      assert(bp == nov.toLong * 10000 / sh.size)
    }
    val minDoc = sets.filter(_._2.nonEmpty).map(_._1).min
    assert(got.find(_._1 == minDoc).get._4 == 10000L)
    assert(got.exists(_._4 < 10000L)) // non-vacuous: shared shingles exist
  }

  test("q_tokenizer_fertility recomputes from raw text with the BPE-ish regex") {
    import spark.implicits._
    val docs = Tables.load(spark, dir, "documents")
      .select(col("lang"), col("text")).as[(String, String)].collect()
    val re = "[a-z]+|[0-9]+|[^a-z0-9\\s]".r
    val agg = docs.groupBy(_._1).map { case (l, xs) =>
      val tok = xs.map(d => re.findAllIn(d._2.toLowerCase).length.toLong).sum
      val bytes = xs.map(_._2.getBytes("UTF-8").length.toLong).sum
      l -> ((xs.length.toLong, tok, bytes))
    }
    val got = q("q_tokenizer_fertility")
      .as[(String, Long, Long, Long, Long)].collect()
    assert(got.length == agg.size)
    got.foreach { case (l, n, tok, bytes, bp) =>
      assert((n, tok, bytes) == ((agg(l)._1, agg(l)._2, agg(l)._3)), s"lang $l")
      assert(bp == tok * 10000 / bytes)
    }
  }

  test("q_winsorize matches brute-force p5/p95 clipping per segment") {
    import spark.implicits._
    val base = Tables.load(spark, dir, "orders")
      .select(col("o_orderstatus").as("seg"),
        year(col("o_orderdate").cast("date")).as("yr"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      .as[(String, Int, Long)].collect()
      .groupBy { case (s, y, _) => (s, y) }
    val got = q("q_winsorize")
      .as[(String, Int, Long, Long, Long, Long, Long, Long)].collect()
    assert(got.nonEmpty)
    got.foreach { case (seg, yr, n, lo, hi, cLo, cHi, wSum) =>
      val cs = base((seg, yr)).map(_._3).toSeq.sorted
      assert(n == cs.size)
      val eLo = cs((cs.size * 5 + 99) / 100 - 1)
      val eHi = cs((cs.size * 95 + 99) / 100 - 1)
      assert(lo == eLo && hi == eHi, s"($seg,$yr) caps ($lo,$hi) != ($eLo,$eHi)")
      assert(cLo == cs.count(_ < eLo) && cHi == cs.count(_ > eHi))
      assert(wSum == cs.map(c => math.max(eLo, math.min(c, eHi))).sum)
      assert(lo <= hi)
    }
    // non-vacuous: at least one segment actually clips
    assert(got.exists(r => r._6 > 0 || r._7 > 0))
  }

  test("q_multimodal_dedup: digest classes equal closed-form classes; all docs covered") {
    import spark.implicits._
    val ids = Tables.load(spark, dir, "documents")
      .select(col("doc_id")).as[Long].collect()
    val expect = ids.groupBy(_ % 32).values
      .filter(_.length >= 2)
      .map(g => (g.length.toLong, g.min, g.sum)).toSet
    val got = q("q_multimodal_dedup")
      .as[(Long, Long, Long)].collect().toSet
    assert(got == expect)
    // every class at gate scale has >= 2 members, so the groups cover
    // the whole corpus — a digest mismatch would split a class
    assert(got.toSeq.map(_._1).sum == ids.length)
  }

  test("q_sliding_distinct equals brute-force window membership") {
    import spark.implicits._
    val du = Tables.load(spark, dir, "events")
      .select(to_date(col("ts")).as("day"), col("user_id"))
      .distinct().as[(java.sql.Date, Long)].collect()
    val expect = du.flatMap { case (d, u) =>
      (0 to 6).map(off => (d.toLocalDate.minusDays(6 - off.toLong), u))
    }.distinct.groupBy(_._1).map { case (ws, v) => ws -> v.map(_._2).distinct.length.toLong }
    val got = q("q_sliding_distinct")
      .as[(java.sql.Date, Long)].collect()
      .map { case (d, n) => d.toLocalDate -> n }.toMap
    assert(got == expect)
    // a window is a union of days, so it can never undercut its days;
    // at gate scale the 15-user universe saturates a single busy day,
    // so >= (not >) is the strongest scale-independent form
    val daily = du.groupBy(_._1).map(_._2.length)
    assert(got.values.max >= daily.max)
  }

  test("q_retention_cohorts: offset-0 equals cohort size; brute-force matrix") {
    import spark.implicits._
    val uw = Tables.load(spark, dir, "events")
      .select(col("user_id"), trunc(to_date(col("ts")), "week").as("week"))
      .distinct().as[(Long, java.sql.Date)].collect()
    val cohort = uw.groupBy(_._1).map { case (u, v) =>
      u -> v.map(_._2.toLocalDate).min(Ordering.by((d: java.time.LocalDate) => d.toEpochDay)) }
    val expect = uw.map { case (u, w) =>
      val c = cohort(u)
      ((c, (w.toLocalDate.toEpochDay - c.toEpochDay) / 7), u)
    }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).distinct.length.toLong }
    val got = q("q_retention_cohorts")
      .as[(java.sql.Date, Long, Long)].collect()
      .map { case (c, off, n) => ((c.toLocalDate, off)) -> n }.toMap
    assert(got == expect)
    // offset 0 contains every cohort member by construction
    cohort.values.toSeq.distinct.foreach { c =>
      assert(got((c, 0L)) == cohort.count(_._2 == c))
    }
  }

  test("q_lag_features: per-customer replay (gaps, deltas, null firsts)") {
    import spark.implicits._
    val base = Tables.load(spark, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"),
        col("o_orderdate").cast("date").as("d"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      .as[(Long, Long, java.sql.Date, Long)].collect()
      .groupBy(_._1)
    val got = q("q_lag_features")
      .select(col("o_custkey"), col("o_orderkey"), col("order_seq"),
        col("days_since_prev"), col("delta_cents"))
      .as[(Long, Long, Long, Option[Long], Option[Long])].collect()
      .groupBy(_._1)
    base.foreach { case (cust, orders) =>
      val sorted = orders.sortBy(o => (o._3.toLocalDate.toEpochDay, o._2))
      val rows = got(cust).sortBy(_._3)
      assert(rows.length == sorted.length)
      rows.zipWithIndex.foreach { case ((_, ok, seq, gap, dc), i) =>
        assert(ok == sorted(i)._2 && seq == i + 1)
        if (i == 0) assert(gap.isEmpty && dc.isEmpty)
        else {
          assert(gap.get == sorted(i)._3.toLocalDate.toEpochDay -
            sorted(i - 1)._3.toLocalDate.toEpochDay)
          assert(dc.get == sorted(i)._4 - sorted(i - 1)._4)
        }
      }
    }
  }

  test("q_interval_merge: islands replay sequentially; islands are disjoint and gapped") {
    import spark.implicits._
    val iv = Tables.load(spark, dir, "events")
      .select(col("user_id"), col("event_id"), col("ts").cast("long").as("s"))
      .as[(Long, Long, Long)].collect()
      .groupBy(_._1)
    val got = q("q_interval_merge")
      .as[(Long, Long, Long, Long, Long)].collect()
      .groupBy(_._1)
    assert(got.keySet == iv.keySet)
    iv.foreach { case (u, evs) =>
      // sequential replay of the merge
      val sorted = evs.sortBy(e => (e._3, e._2)).map(e => (e._3, e._3 + 300L))
      val islands = sorted.tail.foldLeft(List((sorted.head._1, sorted.head._2, 1L))) {
        case ((s0, e0, n) :: rest, (s, e)) =>
          if (s > e0) (s, e + 0L, 1L) :: (s0, e0, n) :: rest
          else (s0, math.max(e0, e), n + 1) :: rest
        case (Nil, _) => Nil
      }.reverse
      val rows = got(u).sortBy(_._2).map(r => (r._3, r._4, r._5)).toList
      assert(rows == islands, s"user $u islands")
      // islands strictly separated by gaps
      rows.sliding(2).foreach {
        case List((_, e1, _), (s2, _, _)) => assert(s2 > e1)
        case _ =>
      }
    }
  }

  test("q_max_concurrency equals a brute-force sweep (ends free before starts)") {
    import spark.implicits._
    val iv = Tables.load(spark, dir, "events")
      .select(col("event_id"), col("ts").cast("long").as("s"))
      .as[(Long, Long)].collect()
    val pts = iv.flatMap { case (id, s) =>
      Seq((s, 1L, id), (s + 300L, -1L, id)) }
      .sortBy { case (t, d, id) => (t, d, id) }
    var occ = 0L; var best = 0L; var firstPeak = 0L
    pts.foreach { case (t, d, _) =>
      occ += d
      if (occ > best) { best = occ; firstPeak = t }
    }
    val Array((mc, fp, n)) = q("q_max_concurrency")
      .as[(Long, Long, Long)].collect()
    assert(mc == best && fp == firstPeak && n == iv.length)
    assert(mc >= 2) // non-vacuous: overlap exists at gate scale
  }

  test("q_assoc_rules: brute-force baskets (support/confidence/lift, complete at >=10)") {
    import spark.implicits._
    val p = Tables.load(spark, dir, "part")
      .select(col("p_partkey"), col("p_brand")).as[(Long, String)].collect().toMap
    val baskets = Tables.load(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey")).as[(Long, Long)].collect()
      .map { case (o, pk) => (o, p(pk)) }.distinct
    val nOrders = baskets.map(_._1).distinct.length.toLong
    val na = baskets.groupBy(_._2).map { case (b, v) => b -> v.length.toLong }
    val pairCounts = baskets.groupBy(_._1).values.flatMap { items =>
      val bs = items.map(_._2).sorted
      for { i <- bs.indices; j <- i + 1 until bs.length } yield (bs(i), bs(j))
    }.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      .filter(_._2 >= 10)
    val got = q("q_assoc_rules")
      .as[(String, String, Long, Long, Long, Long, Long, Long)].collect()
    assert(got.length == pairCounts.size, "rule set incomplete or padded")
    got.foreach { case (a, b, nab, nA, nB, nOrd, conf, lift) =>
      assert(nab == pairCounts((a, b)))
      assert(nA == na(a) && nB == na(b) && nOrd == nOrders)
      assert(conf == nab * 1000000L / nA)
      assert(lift == (BigInt(nab) * nOrders * 1000000 / (BigInt(nA) * nB)).toLong)
    }
    // non-vacuous: some rule must show positive association (lift > 1)
    assert(got.exists(_._8 > 1000000L))
  }

  test("q_auc_eval equals the pairwise Mann-Whitney definition (ties at 1/2)") {
    import spark.implicits._
    val d = Tables.load(spark, dir, "documents")
      .select(col("n_chars"), col("lang")).as[(Long, String)].collect()
    val pos = d.filter(_._2 == "en").map(_._1)
    val neg = d.filter(_._2 != "en").map(_._1)
    // O(n_pos * n_neg) definitional AUC: wins + half-ties
    var wins2 = BigInt(0)
    pos.foreach { s =>
      neg.foreach { t =>
        if (s > t) wins2 += 2 else if (s == t) wins2 += 1
      }
    }
    val expect = (wins2 * 1000000 / (BigInt(2) * pos.length * neg.length)).toLong
    val Array((nPos, nNeg, auc)) = q("q_auc_eval")
      .as[(Long, Long, Long)].collect()
    assert(nPos == pos.length && nNeg == neg.length)
    assert(auc == expect, s"auc $auc != definitional $expect")
    assert(auc > 0 && auc < 1000000) // non-degenerate
  }

  test("q_dedup_lsh_eval: metrics recompute from first principles (sigs + exact truth)") {
    import spark.implicits._
    import graft.ops.TextOps
    val rowsD = Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        TextOps.shingleHashes(TextOps.words(col("text"))).as("hs"),
        TextOps.minhashSignature(
          TextOps.shingleHashes(TextOps.words(col("text")))).as("sig"))
      .as[(Long, Seq[Long], Seq[Long])].collect()
    // truth: exact multiset Jaccard >= 1/2 (the simjoin counting)
    val counts = rowsD.map { case (id, hs, _) =>
      id -> hs.groupBy(identity).map { case (s, v) => s -> v.size.toLong } }
    val truth = (for {
      (a, ca) <- counts; (b, cb) <- counts if a < b
      na = ca.values.sum; nb = cb.values.sum
      shared = ca.keysIterator.map(s => ca(s) * cb.getOrElse(s, 0L)).sum
      if shared * 2 >= na + nb - shared && na > 0 && nb > 0
    } yield (a, b)).toSet
    // candidates: any shared (band, key) over the 4x2 default
    // NOTE: iterate a Seq, not the Map — a for-comprehension over a
    // Map that yields pairs rebuilds a Map and silently collapses all
    // candidates sharing doc_a (cost a debugging session)
    val sigs = rowsD.map { case (id, _, sig) => id -> sig }.toSeq
    def keys(sig: Seq[Long]): Seq[(Int, String)] =
      (0 until 4).map(j => j -> s"${sig(j * 2)}_${sig(j * 2 + 1)}")
    val cand = (for {
      (a, sa) <- sigs; (b, sb) <- sigs if a < b
      if keys(sa).intersect(keys(sb)).nonEmpty
    } yield (a, b)).toSet
    val hit = truth.intersect(cand)
    val Array((nT, nC, nH, rec, prec)) = q("q_dedup_lsh_eval")
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(nT == truth.size && nC == cand.size && nH == hit.size,
      s"counts ($nT,$nC,$nH) != brute (${truth.size},${cand.size},${hit.size})")
    assert(rec == (if (truth.isEmpty) 0L else hit.size.toLong * 1000000 / truth.size))
    assert(prec == (if (cand.isEmpty) 0L else hit.size.toLong * 1000000 / cand.size))
    assert(nT > 0 && nC > 0) // non-vacuous at gate scale
  }

  test("q_random_projection recomputes from raw embeddings with the sign hash") {
    import spark.implicits._
    def sgn(i: Int, j: Int): Long =
      if (java.lang.Long.bitCount(i.toLong * 1000003L + j.toLong * 7919L) % 2 == 0) 1L else -1L
    val raw = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect().toMap
    val rows = q("q_random_projection").collect()
    assert(rows.length == raw.size)
    rows.take(32).foreach { r =>
      val id = r.getLong(0)
      val x = raw(id).map(v => math.round(v.toDouble * 1e6)).toArray
      (0 until 16).foreach { j =>
        val want = (0 until 64).map(i => sgn(i, j) * x(i)).sum
        assert(r.getLong(1 + j) == want, s"vec $id p$j")
      }
    }
  }
}
