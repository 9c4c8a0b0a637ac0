package graft

import graft.ops.{TextOps, VectorOps}
import org.apache.spark.sql.functions._

/** Unit tests for the text/vector extension primitives. */
class TextVectorSpec extends SparkSpec {
  import spark.implicits._

  test("normText collapses whitespace and case") {
    val got = Seq("  The  QUICK\t fox ").toDF("t")
      .select(TextOps.normText(col("t"))).as[String].first()
    assert(got == "the quick fox")
  }

  test("shingles3: sliding 3-grams, whole-doc fallback for short docs") {
    val got = Seq("a b c d", "a b").toDF("t")
      .select(TextOps.shingles3(TextOps.words(col("t")))).as[Seq[String]].collect()
    assert(got(0) == Seq("a b c", "b c d"))
    assert(got(1) == Seq("a b"))
  }

  test("stringHash is stable and in range") {
    val h = Seq("abc", "abc", "xyz").toDF("s")
      .select(TextOps.stringHash(col("s"))).as[Long].collect()
    assert(h(0) == h(1) && h(0) != h(2))
    assert(h.forall(v => v >= 0 && v < TextOps.P))
  }

  test("minhash: identical docs share signatures; similar docs collide more") {
    def sig(t: String): Seq[Long] = Seq(t).toDF("t")
      .select(TextOps.minhashSignature(
        transform(array_distinct(TextOps.shingles3(TextOps.words(col("t")))),
          s => TextOps.stringHash(s)))).as[Seq[Long]].first()
    val a = sig("the quick brown fox jumps over the lazy dog today")
    val b = sig("the quick brown fox jumps over the lazy dog today")
    val c = sig("completely different words in this document entirely now then")
    assert(a == b)
    assert(a.length == 8)
    assert(a != c)
  }

  test("simhash: identical inputs agree; hamming to different input is large") {
    def sim(t: String): Long = Seq(t).toDF("t")
      .select(TextOps.simhash(
        transform(array_distinct(TextOps.words(col("t"))),
          w => TextOps.stringHash(w)), 32)).as[Long].first()
    val a = sim("alpha beta gamma delta epsilon")
    val b = sim("alpha beta gamma delta epsilon")
    val c = sim("zeta eta theta iota kappa")
    assert(a == b)
    assert(a != c)
    assert(a >= 0 && a < (1L << 32))
  }

  test("cosine: identity 1, orthogonality 0, scale invariance") {
    val df = Seq((Seq(1f, 2f, 3f), Seq(2f, 4f, 6f), Seq(0f, 0f, 1f)))
      .toDF("a", "b", "z")
    def cos(x: String, y: String): Double = df.select(
      VectorOps.cosine(VectorOps.toDoubles(col(x)), VectorOps.toDoubles(col(y))))
      .as[Double].first()
    assert(math.abs(cos("a", "a") - 1.0) < 1e-12)
    assert(math.abs(cos("a", "b") - 1.0) < 1e-12)
    val az = cos("a", "z")
    assert(math.abs(az - 3.0 / math.sqrt(14.0)) < 1e-12)
  }

  test("planeWeightConst equals the Column-form planeWeight it replaced") {
    // lshBucket folds the LCG weights to double literals; this pins the
    // folded constants to the executable Column spec so neither copy
    // can drift silently
    val pairs = for (p <- 0 until 8; d <- Seq(0, 1, 31, 63)) yield (p, d)
    val viaColumn = spark.range(1).select(pairs.map { case (p, d) =>
      VectorOps.planeWeight(lit(p), lit(d), 64).as(s"w_${p}_$d")
    }: _*).first()
    pairs.zipWithIndex.foreach { case ((p, d), i) =>
      assert(viaColumn.getDouble(i) === VectorOps.planeWeightConst(p, d, 64),
        s"plane $p dim $d")
    }
  }

  test("lshBucket: deterministic, in range, sensitive to direction") {
    val df = Seq(
      (1L, Seq.fill(8)(1f)), (2L, Seq.fill(8)(1f)), (3L, Seq.fill(8)(-1f))
    ).toDF("id", "v")
    val got = df.select(col("id"),
      VectorOps.lshBucket(VectorOps.toDoubles(col("v")), 8, 8).as("b"))
      .as[(Long, Long)].collect().toMap
    assert(got(1L) == got(2L))
    assert(got(1L) != got(3L)) // opposite vector flips every plane sign
    assert(got.values.forall(b => b >= 0 && b < 256))
  }

  test("adaptivePlanes: 4 at every graded SF, grows with log N, exact at boundaries") {
    // the graded-SF pins are load-bearing: 4 planes is what every
    // existing oracle hash was earned at (sf0.001=50, sf0.01=500,
    // sf0.1=2000 embeddings)
    assert(VectorOps.adaptivePlanes(50) === 4)
    assert(VectorOps.adaptivePlanes(500) === 4)
    assert(VectorOps.adaptivePlanes(2000) === 4)
    // power-of-two boundary must not wobble (the reason the formula is
    // integer bit-length, not floating log2): 8000 = 500·2^4 exactly
    assert(VectorOps.adaptivePlanes(8000) === 4)
    assert(VectorOps.adaptivePlanes(8001) === 5)
    // the sf1/sf10 gate fixtures
    assert(VectorOps.adaptivePlanes(20000) === 6)
    assert(VectorOps.adaptivePlanes(200000) === 9)
    // occupancy stays in (250, 500] for any N above the floor
    (Seq(10000L, 123456L, 5000000L, 3000000000L)).foreach { n =>
      val p = VectorOps.adaptivePlanes(n)
      val occ = n.toDouble / (1L << p)
      assert(occ <= 500.0, s"N=$n planes=$p occupancy $occ")
      assert(occ > 250.0 || p == 4, s"N=$n planes=$p over-split: $occ")
    }
  }

  test("bucketedPairsCosineAtLeast ⊆ all-pairs, identical cos_bp values") {
    val e = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val n = VectorOps.withNormalizedNative(e, "embedding", "vn")
      .select(col("vec_id"), col("vn"))
    // 4000 bp, not the registry's 4500: sf0.001 has no pair ≥ 0.45 that
    // also shares a 4-plane bucket, and an empty set would vacuously pass.
    val exact = graft.dev.DevBaselines.allPairsCosineAtLeast(n, "vec_id", "vn", 4000L, 4)
      .as[(Long, Long, Long)].collect().map(t => (t._1, t._2) -> t._3).toMap
    val bucketed = VectorOps.bucketedPairsCosineAtLeast(
        n.withColumn("bucket", VectorOps.lshBucket(col("vn"), 4, 64)),
        "bucket", "vec_id", "vn", 4000L)
      .as[(Long, Long, Long)].collect()
    assert(bucketed.nonEmpty)
    // every bucketed pair exists in the exact set with the same value
    bucketed.foreach { case (a, b, bp) =>
      assert(exact.get((a, b)).contains(bp), s"($a,$b)=$bp not in exact")
    }
  }

  test("q_semantic_dedup is SOUND: every removal is a real ≥τ pair, canonical < removed") {
    val e = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val n = VectorOps.withNormalizedNative(e, "embedding", "vn")
      .select(col("vec_id"), col("vn"))
    // exact all-pairs at the registry threshold (4500 bp) — the
    // removal set must be a subset (clustering can only LOSE pairs
    // across boundaries, never invent them) and each canonical a true
    // ≥τ match below the removed id
    val exact = graft.dev.DevBaselines.allPairsCosineAtLeast(n, "vec_id", "vn", 4500L, 4)
      .as[(Long, Long, Long)].collect().map(t => (t._1, t._2) -> t._3).toMap
    val removed = SparkEntry.queries("q_semantic_dedup")(spark, "/root/testdata/sf0.001")
      .as[(Long, Long, Long)].collect()
    removed.foreach { case (vid, canon, bp) =>
      assert(canon < vid, s"canonical $canon not below removed $vid")
      assert(exact.get((canon, vid)).contains(bp),
        s"($canon,$vid)=$bp not a true ≥τ pair")
    }
  }

  test("vocabHits and quality components") {
    val got = Seq("the cat and the hat").toDF("t")
      .select(TextOps.vocabHits(TextOps.words(col("t")), Seq("the", "and")))
      .as[Int].first()
    assert(got == 3)
    val bpe = Seq("ab 12 c.").toDF("t")
      .select(TextOps.bpeishTokenCount(col("t"))).as[Int].first()
    assert(bpe == 4)
    val zh = Seq("ab中文c").toDF("t")
      .select(TextOps.nonAsciiCount(col("t"))).as[Int].first()
    assert(zh == 2)
  }

  private val Sf = "/root/testdata/sf0.001"

  test("q_sample_stratified: buckets under the per-stratum rate, en downsampled") {
    val s = SparkEntry.queries("q_sample_stratified")(spark, Sf)
      .select($"lang", $"bucket").as[(String, Long)].collect()
    assert(s.nonEmpty)
    s.foreach { case (lang, b) =>
      val rate = if (lang == "en") 2000L else 6000L
      assert(b >= 0 && b < rate, s"bucket $b out of range for $lang")
    }
    // en is the dominant stratum in the fixture but samples at 1/3 the
    // rate — the rebalancing must actually bite
    val byLang = s.groupBy(_._1).view.mapValues(_.length).toMap
    assert(byLang.getOrElse("en", 0) < byLang.filter(_._1 != "en").values.sum)
  }

  test("q_decontaminate: benchmark docs never flagged, evidence consistent") {
    val rows = SparkEntry.queries("q_decontaminate")(spark, Sf)
      .select($"doc_id", $"n_hits", $"n_sh", $"contam_bp")
      .as[(Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (id, hits, nSh, bp) =>
      assert(id % 50 != 0, s"benchmark doc $id flagged as contaminated")
      assert(hits >= 1 && hits <= nSh, s"doc $id: hits $hits vs shingles $nSh")
      assert(bp == math.round(10000.0 * hits / nSh))
    }
  }

  test("q_text_repetition: bp identities hold per doc") {
    val rows = SparkEntry.queries("q_text_repetition")(spark, Sf)
      .select($"n_words", $"n_distinct", $"top_c", $"dup_word_bp", $"top_word_bp")
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (n, d, top, dupBp, topBp) =>
      assert(d <= n && top <= n && top >= 1)
      assert(dupBp == math.round(10000.0 * (n - d) / n))
      assert(topBp == math.round(10000.0 * top / n))
      assert(topBp >= math.round(10000.0 / d))
    }
  }

  test("q_chunk_pack: bins contiguous from 0 per source, cum consistent") {
    val rows = SparkEntry.queries("q_chunk_pack")(spark, Sf)
      .select($"source", $"doc_id", $"n_tok", $"bin_id")
      .as[(String, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (src, docs) =>
      val sorted = docs.sortBy(_._2)
      var cum = 0L
      sorted.foreach { case (_, id, nTok, bin) =>
        assert(bin == cum / 256, s"$src doc $id: bin $bin, cum-before $cum")
        cum += nTok
      }
      assert(sorted.head._4 == 0, s"$src does not start at bin 0")
    }
  }

  test("q_listagg: sequence length matches order count (single-char statuses)") {
    val rows = SparkEntry.queries("q_listagg")(spark, Sf)
      .select($"n_orders", $"status_seq").as[(Long, String)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (n, seq) =>
      assert(seq.length == 2 * n - 1, s"'$seq' vs $n orders")
    }
  }

  test("q_gapfill: axis dense per key, fill preserves totals") {
    val rows = SparkEntry.queries("q_gapfill")(spark, Sf)
      .select($"o_custkey", $"midx", $"n_orders")
      .as[(Long, Int, Long)].collect()
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (k, ms) =>
      val idx = ms.map(_._2).sorted
      assert(idx.last - idx.head + 1 == idx.length, s"customer $k axis has gaps")
      assert(idx.distinct.length == idx.length, s"customer $k axis has dups")
    }
    // zero-filled rows exist (the fixture has sparse months) and every
    // original order is accounted for
    assert(rows.exists(_._3 == 0L))
    val o = spark.read.parquet(s"$Sf/orders.parquet")
      .filter($"o_custkey" % 25 === 0).count()
    assert(rows.map(_._3).sum == o)
  }

  test("q_dedup_components: labels are consistent minima over the pair graph") {
    val pairs = SparkEntry.queries("q_dedup_ngram_jaccard")(spark, Sf)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect()
    val comp = SparkEntry.queries("q_dedup_components")(spark, Sf)
      .select($"doc_id", $"component").as[(Long, Long)].collect().toMap
    assert(pairs.nonEmpty && comp.nonEmpty)
    // every scored pair landed in one cluster
    pairs.foreach { case (a, b) =>
      assert(comp(a) == comp(b), s"pair ($a,$b) split across components")
    }
    // the label is the smallest member, and itself a member
    comp.groupBy(_._2).foreach { case (c, members) =>
      assert(members.keys.min == c, s"component $c label is not its min member")
      assert(comp(c) == c)
    }
  }

  test("q_bloom_prefilter result is bloom-independent (== plain join)") {
    import graft.ops.TextOps
    val d = spark.read.parquet(s"$Sf/documents.parquet")
    val f = d.select($"doc_id",
      md5(concat_ws(" ", slice(TextOps.words($"text"), 1, 5))).as("fp"))
    val hist = f.filter($"doc_id" % 3 === 0)
      .groupBy("fp").agg(min($"doc_id").as("canonical"))
    val plain = f.filter($"doc_id" % 3 =!= 0).join(hist, Seq("fp"))
      .select($"doc_id", $"fp", $"canonical")
    val got = SparkEntry.queries("q_bloom_prefilter")(spark, Sf)
    assert(got.count() > 0)
    // no false negatives (bloom can only ADD candidates; the exact
    // join removes them) — the prefiltered result equals the plain join
    assert(got.exceptAll(plain).isEmpty && plain.exceptAll(got).isEmpty)
  }

  test("q_vec_quantize: clip/zero/sum bounds per vector") {
    val rows = SparkEntry.queries("q_vec_quantize")(spark, Sf)
      .select($"amax_e6", $"sum_q", $"n_clip", $"n_zero")
      .as[(Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (amax, sumQ, clip, zero) =>
      // amax_e6 > 0 ⇒ amax ≥ 0.5e-6 ≫ the 1e-30 clamp floor ⇒ scaling
      // is genuine and the max-|x| element quantizes to ±127. The
      // converse does NOT hold (a genuine 1e-7-scale vector also
      // rounds amax_e6 to 0), so no assertion on the zero case beyond
      // the universal bounds.
      if (amax > 0) assert(clip >= 1)
      assert(clip >= 0 && clip <= 64)
      assert(zero >= 0 && zero <= 64)
      assert(math.abs(sumQ) <= 127L * 64)
    }
    // the fixture has real vectors — the genuine-scale branch must run
    assert(rows.exists(_._1 > 0))
  }
}
