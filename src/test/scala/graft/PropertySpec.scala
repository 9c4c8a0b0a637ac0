package graft

import graft.ops.{Dedup, Keys}
import graft.ops.TextOps
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property tests (SURVEY §5.3): algebraic laws the operators must
  * satisfy on arbitrary inputs, not just fixtures. Plain scalacheck
  * generators sampled under fixed seeds (scalatestplus glue is not in
  * the offline dependency cache; deterministic seeds are better for
  * CI anyway). */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def forAll[A](g: Gen[A], n: Int = 12)(f: A => Unit): Unit =
    (0 until n).foreach { i =>
      f(g.pureApply(Gen.Parameters.default, Seed(42L + i)))
    }

  private def forAll[A, B](g1: Gen[A], g2: Gen[B])(f: (A, B) => Unit): Unit =
    forAll(Gen.zip(g1, g2))(p => f(p._1, p._2))

  private def whenever(cond: Boolean)(f: => Unit): Unit = if (cond) f

  private val word = Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.mkString)
  private val rows = Gen.listOfN(40,
    Gen.zip(Gen.choose(1L, 8L), Gen.choose(0L, 50L), word))

  test("latestPerKey is idempotent and keeps exactly one row per key") {
    forAll(rows) { rs =>
      whenever(rs.nonEmpty) {
        val df = rs.toDF("k", "v", "s")
        val once = Dedup.latestPerKey(df, Seq("k"),
          Seq(col("v").desc, col("s").desc))
        val twice = Dedup.latestPerKey(once, Seq("k"),
          Seq(col("v").desc, col("s").desc))
        val a = once.collect().toSet
        assert(a === twice.collect().toSet)
        assert(once.select("k").distinct().count() === once.count())
        assert(once.select("k").distinct().count()
          === df.select("k").distinct().count())
      }
    }
  }

  test("latestPerKey picks the ordering maximum per key") {
    forAll(rows) { rs =>
      whenever(rs.nonEmpty) {
        val df = rs.toDF("k", "v", "s")
        val got = Dedup.latestPerKey(df, Seq("k"), Seq(col("v").desc, col("s").desc))
          .select("k", "v", "s").as[(Long, Long, String)].collect()
          .map(r => r._1 -> ((r._2, r._3))).toMap
        val want = rs.groupBy(_._1).map { case (k, g) =>
          k -> g.map(r => (r._2, r._3)).max
        }
        assert(got === want)
      }
    }
  }

  test("TopKAgg equals sort-and-take on arbitrary data, any merge split") {
    val agg = new graft.functions.TopKAgg(3)
    val pairs = Gen.listOfN(25, Gen.zip(Gen.choose(0L, 10L), Gen.choose(0L, 100L)))
    forAll(Gen.zip(pairs, Gen.choose(0, 25))) { case (xs, cut) =>
      val want = xs.sortBy { case (v, id) => (-v, id) }.take(3)
      val folded = xs.foldLeft(agg.zero)(agg.reduce)
      assert(agg.finish(folded) === want)
      // merge law: any split of the input merges to the same top-k
      val (l, r) = xs.splitAt(math.min(cut, xs.size))
      val merged = agg.merge(
        l.foldLeft(agg.zero)(agg.reduce), r.foldLeft(agg.zero)(agg.reduce))
      assert(agg.finish(merged) === want)
    }
  }

  test("KMeans.lloydAssign matches a sequential Lloyd reference") {
    import graft.ops.KMeans
    // small integer coordinates keep every product exact in doubles, so
    // the naive reference's arithmetic agrees as long as the fold order
    // matches (both are left-assoc)
    val vecGen = Gen.listOfN(3, Gen.choose(-50L, 50L)).map(_.toArray)
    val dataGen = Gen.listOfN(24, vecGen)
      .map(_.zipWithIndex.map { case (v, i) => (i.toLong * 3 + 1, v) })

    def refLloyd(rows: Seq[(Long, Array[Long])], k: Int, iters: Int): Map[Long, Int] = {
      def hn(c: Array[Double]) = c.map(x => x * x).sum / 2
      var cents: Seq[Array[Double]] =
        rows.sortBy(_._1).take(k).map(_._2.map(_.toDouble))
      def assignAll: Map[Long, Int] = rows.map { case (id, v) =>
        val ms = cents.map(c =>
          v.indices.map(i => v(i) * c(i)).foldLeft(0.0)(_ + _) - hn(c))
        id -> ms.zipWithIndex.reduceLeft((a, b) => if (b._1 > a._1) b else a)._2
      }.toMap
      (0 until iters - 1).foreach { _ =>
        val a = assignAll
        val byC = rows.groupBy(r => a(r._1))
        cents = cents.zipWithIndex.map { case (prev, j) =>
          byC.get(j).fold(prev) { g =>
            val n = g.size
            Array.tabulate(3)(i => g.map(_._2(i)).sum.toDouble / n)
          }
        }
      }
      assignAll
    }

    forAll(dataGen, 6) { rows =>
      val df = rows.map { case (id, v) => (id, v.toSeq) }.toDF("vec_id", "vq")
      val got = KMeans.lloydAssign(df, "vq", "vec_id", 2, 3, 2, "cluster")
        .select("vec_id", "cluster").as[(Long, Int)].collect().toMap
      assert(got === refLloyd(rows, 2, 2))
    }
  }

  test("graft_lloyd_scores argmax equals graft_lloyd_assign everywhere") {
    // the trained-IVF probe ranks cells by the scores array; its best
    // cell must be exactly the cell the assignment kernel picks, or
    // probe-1 IVF would diverge from the corpus partition
    graft.functions.GraftExtensions.register(spark)
    val vecGen = Gen.listOfN(4, Gen.choose(-50L, 50L)).map(_.toSeq)
    val centGen = Gen.listOfN(5, Gen.listOfN(4,
      Gen.choose(-50, 50).map(_.toDouble)).map(_.toSeq)).map(_.toSeq)
    forAll(Gen.zip(Gen.listOfN(30, vecGen), centGen), 6) { case (vecs, cents) =>
      val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("vec_id", "vq")
      val out = df.select(
        call_function("graft_lloyd_assign", col("vq"), typedLit(cents)).as("a"),
        call_function("graft_lloyd_scores", col("vq"), typedLit(cents)).as("s"))
        .collect()
      out.foreach { r =>
        val a = r.getInt(0)
        val s = r.getSeq[Double](1)
        assert(s.length === cents.length)
        // ties go to the smallest j in the assign kernel; indexOf on
        // the max mirrors that
        assert(s.indexOf(s.max) === a, s"scores $s vs assign $a")
      }
    }
  }

  test("graft_quantize1000 equals the unrolled round+cast chain") {
    // the native kernel must reproduce cast(round(x*1000) as bigint)
    // bit-for-bit, including values adjacent to .5 boundaries
    import graft.ops.KMeans
    graft.functions.GraftExtensions.register(spark)
    val edgy = Gen.oneOf(
      Gen.choose(-1.0, 1.0),
      Gen.choose(-1000, 1000).map(t => (t + 0.5) / 1000.0),
      Gen.choose(-1000, 1000).map(t =>
        Math.nextDown((t + 0.5) / 1000.0)),
      Gen.choose(-1000, 1000).map(t =>
        Math.nextUp((t + 0.5) / 1000.0)))
    val vecGen = Gen.listOfN(6, edgy).map(_.toSeq)
    forAll(Gen.listOfN(40, vecGen), 8) { vecs =>
      val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("vec_id", "vn")
      val out = df.select(
        KMeans.quantizeUnrolled(col("vn"), 6).as("want"),
        KMeans.quantize1000(col("vn")).as("got")).collect()
      out.foreach { r =>
        assert(r.getSeq[Long](0) === r.getSeq[Long](1))
      }
    }
  }

  test("KMeans.assignMulti equals chained per-subspace assigns") {
    // the round-13 PQ-encode optimization: one kernel over the full
    // quantized vector must pick exactly the codes the M chained
    // assign(slice(vq, m·sub+1, sub)) calls picked, for arbitrary
    // books (including duplicate centroids → smallest-j ties)
    import graft.ops.KMeans
    graft.functions.GraftExtensions.register(spark)
    val M = 3; val sub = 4; val k = 5
    val vecGen = Gen.listOfN(M * sub, Gen.choose(-50L, 50L)).map(_.toSeq)
    val bookGen = Gen.listOfN(M, Gen.listOfN(k, Gen.listOfN(sub,
      Gen.choose(-5, 5).map(_.toDouble))))
    forAll(Gen.zip(Gen.listOfN(20, vecGen), bookGen), 6) { case (vecs, books) =>
      val cents = books.map(_.zipWithIndex.map { case (c, j) =>
        KMeans.Centroid(j, c.toArray,
          c.map(x => x * x).foldLeft(0.0)(_ + _) / 2)
      })
      val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("vec_id", "vq")
      var chained = df
      (0 until M).foreach { m =>
        chained = KMeans.assign(
          chained.withColumn(s"vq_$m", slice(col("vq"), m * sub + 1, sub)),
          s"vq_$m", cents(m), s"want_$m")
      }
      val both = KMeans.assignMulti(chained, "vq", cents,
        (0 until M).map(m => s"got_$m"))
        .select((0 until M).flatMap(m =>
          Seq(col(s"want_$m"), col(s"got_$m"))): _*)
        .collect()
      both.foreach { r =>
        (0 until M).foreach { m =>
          assert(r.getInt(2 * m) === r.getInt(2 * m + 1), s"subspace $m")
        }
      }
    }
  }

  test("Keys.sha is deterministic and order-sensitive") {
    forAll(word, word) { (a, b) =>
      val df = Seq((a, b)).toDF("a", "b")
        .select(Keys.sha(col("a"), col("b")).as("h1"),
          Keys.sha(col("a"), col("b")).as("h2"),
          Keys.sha(col("b"), col("a")).as("h3"))
      val r = df.as[(String, String, String)].head()
      assert(r._1 === r._2)
      assert(r._1.matches("[0-9a-f]{64}"))
      if (a != b) assert(r._1 !== r._3)
    }
  }

  test("unionByName(allowMissing) null-fills exactly the missing column") {
    forAll(Gen.listOfN(10, Gen.zip(Gen.choose(0L, 9L), word))) { rs =>
      val a = rs.toDF("k", "s")
      val b = rs.toDF("k", "s").withColumn("extra", col("k") * 2)
      val u = a.unionByName(b, allowMissingColumns = true)
      assert(u.count() === 2L * rs.size)
      assert(u.filter(col("extra").isNull).count() === rs.size)
    }
  }

  test("levenshtein is symmetric, zero iff equal, bounded by max length") {
    forAll(word, word) { (a, b) =>
      val r = Seq((a, b)).toDF("a", "b")
        .select(levenshtein(col("a"), col("b")).as("d1"),
          levenshtein(col("b"), col("a")).as("d2"))
        .as[(Int, Int)].head()
      assert(r._1 === r._2)
      assert((r._1 == 0) === (a == b))
      assert(r._1 <= math.max(a.length, b.length))
    }
  }

  test("stringHash stays in [0, P) and is stable") {
    forAll(word) { s =>
      val df = Seq(s).toDF("s")
        .select(TextOps.stringHash(col("s")).as("h1"),
          TextOps.stringHash(col("s")).as("h2"))
      val (h1, h2) = df.as[(Long, Long)].head()
      assert(h1 === h2)
      assert(h1 >= 0 && h1 < TextOps.P)
    }
  }

  test("MinHashAgg (mergeable sketch) equals the row-local fold") {
    forAll(Gen.listOfN(8, Gen.zip(Gen.choose(1L, 3L), word))) { rs =>
      whenever(rs.nonEmpty) {
        val hashed = rs.toDF("doc_id", "tok")
          .select(col("doc_id"), TextOps.stringHash(col("tok")).as("h"))
        val mh = udaf(graft.functions.MinHashAgg)
        val viaAgg = hashed.groupBy("doc_id")
          .agg(mh(col("h")).as("sig"))
          .as[(Long, Array[Long])].collect().toMap
        val viaFold = hashed.groupBy("doc_id")
          .agg(collect_list(col("h")).as("hs"))
          .select(col("doc_id"), TextOps.minhashSignature(col("hs")).as("sig"))
          .as[(Long, Array[Long])].collect().toMap
        assert(viaAgg.keySet === viaFold.keySet)
        viaAgg.foreach { case (k, v) => assert(v.toSeq === viaFold(k).toSeq) }
      }
    }
  }

  test("native shingle/word hash kernels equal the composed built-ins") {
    forAll(Gen.listOfN(6, Gen.choose(1, 8).flatMap(n =>
      Gen.listOfN(n, word).map(_.mkString(" "))))) { texts =>
      val df = texts.toDF("text")
      val viaKernel = df.select(
        TextOps.shingleHashes(TextOps.words(col("text"))).as("sh"),
        TextOps.wordHashes60(TextOps.words(col("text"))).as("wh"))
        .as[(Seq[Long], Seq[Long])].collect()
      val viaBuiltins = df.select(
        transform(array_distinct(TextOps.shingles3(TextOps.words(col("text")))),
          s => TextOps.stringHash(s)).as("sh"),
        transform(array_distinct(TextOps.words(col("text"))),
          w => TextOps.stringHash60(w)).as("wh"))
        .as[(Seq[Long], Seq[Long])].collect()
      assert(viaKernel.toSeq === viaBuiltins.toSeq)
    }
  }

  test("graft_shingle_hashes_ne equals composed form with the '' filter") {
    // the q_ngram_novelty kernel: distinct shingles, empty STRING
    // dropped pre-hash, then stringHash — including texts that produce
    // the empty whole-doc shingle (blank text)
    graft.functions.GraftExtensions.register(spark)
    val textGen = Gen.oneOf(
      Gen.const(""),
      Gen.const("   "),
      Gen.choose(1, 8).flatMap(n => Gen.listOfN(n, word).map(_.mkString(" "))))
    forAll(Gen.listOfN(8, textGen)) { texts =>
      val df = texts.toDF("text")
      val viaKernel = df.select(
        call_function("graft_shingle_hashes_ne",
          TextOps.words(col("text"))).as("sh"))
        .as[Seq[Long]].collect()
      val viaBuiltins = df.select(
        transform(filter(array_distinct(
            TextOps.shingles3(TextOps.words(col("text")))), s => s =!= ""),
          s => TextOps.stringHash(s)).as("sh"))
        .as[Seq[Long]].collect()
      assert(viaKernel.toSeq === viaBuiltins.toSeq)
    }
  }

  test("native graft_minhash equals the composed-built-ins fold") {
    forAll(Gen.listOfN(10, word)) { ws =>
      whenever(ws.nonEmpty) {
        val df = Seq(ws).toDF("toks")
          .select(transform(col("toks"), t => TextOps.stringHash(t)).as("hs"))
        val native = df.select(TextOps.minhashSignature(col("hs")))
          .as[Seq[Long]].head()
        val fold = df.select(TextOps.minhashSignatureFold(col("hs")))
          .as[Seq[Long]].head()
        assert(native === fold)
      }
    }
    // empty set: both sides are the fold identity (P per permutation)
    val empty = Seq(Seq.empty[String]).toDF("toks")
      .select(transform(col("toks"), t => TextOps.stringHash(t)).as("hs"))
    assert(empty.select(TextOps.minhashSignature(col("hs")))
      .as[Seq[Long]].head() === Seq.fill(8)(TextOps.P))
  }

  test("native graft_quantize equals the unrolled built-ins on the fixture") {
    import graft.ops.VectorOps
    val dims = 64
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val native = SparkEntry.queries("q_vec_quantize")(spark, "/root/testdata/sf0.001")
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    val unrolled = e
      .select(col("vec_id"), col("embedding"),
        VectorOps.quantizeAmax(col("embedding"), dims).as("amax"))
      .select(col("vec_id") +:
        VectorOps.quantizeStatsUnrolled(col("embedding"), col("amax"), dims): _*)
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(native.length == unrolled.length && native.nonEmpty)
    native.zip(unrolled).foreach { case (n, u) => assert(n === u) }
  }

  test("native graft_quantize matches a scala reference on arbitrary vectors") {
    forAll(Gen.listOfN(8, Gen.choose(-4.0f, 4.0f))) { vec =>
      val got = Seq(Tuple1(vec)).toDF("v")
        .select(call_function("graft_quantize", col("v")).as("qz"))
        .select(col("qz.amax_e6"), col("qz.sum_q"), col("qz.n_clip"), col("qz.n_zero"))
        .as[(Long, Long, Long, Long)].head()
      def rh(x: Double): Long = java.math.BigDecimal.valueOf(x)
        .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue().toLong
      val amax = math.max(vec.map(x => math.abs(x.toDouble)).foldLeft(0.0)(math.max), 1e-30)
      val qs = vec.map(x => rh(x.toDouble * 127.0 / amax))
      assert(got === ((rh(amax * 1000000.0), qs.sum,
        qs.count(q => math.abs(q) == 127L).toLong, qs.count(_ == 0L).toLong)))
    }
  }

  test("simhashGrouped equals row-local simhash for any token set") {
    forAll(Gen.listOfN(6, Gen.zip(Gen.choose(1L, 3L), word))) { rs =>
      whenever(rs.nonEmpty) {
        val d = rs.toDF("doc_id", "tok")
          .groupBy("doc_id").agg(collect_set(col("tok")).as("toks"))
          .select(col("doc_id"),
            transform(col("toks"), t => TextOps.stringHash(t)).as("wh"))
        val grouped = TextOps.simhashGrouped(d, "doc_id", "wh", 16)
          .as[(Long, Long)].collect().toMap
        val local = d.select(col("doc_id"), TextOps.simhash(col("wh"), 16).as("sim"))
          .as[(Long, Long)].collect().toMap
        assert(grouped === local)
      }
    }
  }

  test("native graft_simhash60 equals simhashGrouped at 60 bits") {
    forAll(Gen.listOfN(6, Gen.zip(Gen.choose(1L, 3L), word))) { rs =>
      whenever(rs.nonEmpty) {
        val d = rs.toDF("doc_id", "tok")
          .groupBy("doc_id").agg(collect_set(col("tok")).as("toks"))
          .select(col("doc_id"),
            transform(col("toks"), t => TextOps.stringHash60(t)).as("wh"))
        val grouped = TextOps.simhashGrouped(d, "doc_id", "wh", 60)
          .as[(Long, Long)].collect().toMap
        val native = d.select(col("doc_id"),
          TextOps.simhash60Native(col("wh")).as("sim"))
          .as[(Long, Long)].collect().toMap
        assert(native === grouped)
      }
    }
  }

  test("LshPlanner derives band/row splits from the S-curve") {
    import graft.ops.LshPlanner._
    // closed forms
    assert(sCurveThreshold(4, 2) == 0.5) // (1/4)^(1/2)
    assert(math.abs(sCurveThreshold(2, 3) - math.pow(0.5, 1.0 / 3)) < 1e-12)
    // the registry default IS the planned 0.5-threshold configuration —
    // byte-identical results to the former fixed constants
    assert(plan(0.5, 8) == (4, 2))
    assert(graft.queries.TextQueries.MinhashDefault == (4, 2))
    // the 0.8-target configuration: 2 bands x 3 rows, threshold ~0.794
    assert(plan(0.8, 8) == (2, 3))
    assert(graft.queries.TextQueries.MinhashT8 == (2, 3))
    // planner respects the budget and tracks the target across a sweep
    forAll(Gen.choose(0.05, 0.95), Gen.choose(2, 8)) { (t: Double, k: Int) =>
      val (b, r) = plan(t, k)
      assert(b * r <= k && b >= 1 && r >= 1)
      // no other candidate under the budget is strictly closer
      val best = (for { rr <- 1 to k; bb <- 1 to k / rr }
        yield math.abs(sCurveThreshold(bb, rr) - t)).min
      assert(math.abs(sCurveThreshold(b, r) - t) <= best + 1e-12)
    }
    // collision probability: monotone in s, equals s^r at b=1,
    // and crosses 1/2 near the threshold (the S-curve inflection)
    forAll(Gen.zip(Gen.choose(0.0, 1.0), Gen.choose(1, 4), Gen.choose(1, 4))) {
      case (s: Double, b: Int, r: Int) =>
        val p = collisionProbability(s, b, r)
        assert(p >= 0 && p <= 1)
        assert(collisionProbability(math.min(1.0, s + 0.1), b, r) >= p - 1e-12)
        assert(math.abs(collisionProbability(s, 1, r) - math.pow(s, r)) < 1e-12)
    }
    assert(collisionProbability(sCurveThreshold(4, 2), 4, 2) > 0.4 &&
      collisionProbability(sCurveThreshold(4, 2), 4, 2) < 0.75)
  }

  test("jaroWinklerKernel matches the published metric (DuckDB-validated values)") {
    import org.apache.spark.unsafe.types.UTF8String
    def jw(a: String, b: String): Double =
      graft.functions.TextExpressions.jaroWinklerKernel(
        UTF8String.fromString(a), UTF8String.fromString(b))
    // classic textbook pairs — constants are DuckDB
    // jaro_winkler_similarity outputs, so equality here IS the
    // two-implementations-agree proof at unit level
    assert(jw("martha", "marhta") == 0.9611111111111111)  // 1 transposition + prefix 3
    assert(jw("dwayne", "duane") == 0.8400000000000001)
    assert(jw("dixon", "dicksonx") == 0.8133333333333332)
    assert(jw("aaaaaab", "aaaaaba") == 0.9714285714285714)
    // prefix bonus caps at 4 chars
    assert(jw("prefixes", "prefixesx") == 0.9777777777777777)
    // below the 0.7 boost threshold the shared prefix earns NO bonus
    assert(jw("abcdef", "abxxxx") == 0.5555555555555555)
    // edges: DuckDB semantics — any empty side scores 0 (even both-empty);
    // 1-char window is empty; 2-char transposition-only is 0 matches
    assert(jw("", "") == 0.0 && jw("a", "") == 0.0 && jw("", "a") == 0.0)
    assert(jw("a", "b") == 0.0 && jw("ab", "ba") == 0.0)
    assert(jw("same", "same") == 1.0)
    // symmetry on arbitrary pairs
    forAll(Gen.zip(Gen.alphaStr, Gen.alphaStr)) { case (a: String, b: String) =>
      assert(math.abs(jw(a, b) - jw(b, a)) < 1e-15)
      val v = jw(a, b); assert(v >= 0.0 && v <= 1.0)
    }
  }

  test("graft_pair_overlap equals the explode-join multiset count") {
    // The kernel q_dedup_lsh_eval's exact-truth stage runs row-locally
    // in place of `explode JOIN explode ON value` + count. Parity must
    // hold on MULTISETS (duplicate values multiply: cnt_a·cnt_b),
    // empty arrays (0), and null ELEMENTS (SQL equi-joins never match
    // NULL, the kernel skips them). Values drawn from a 6-value
    // universe so duplicates and cross-side collisions are dense.
    val smallVal = Gen.choose(0L, 5L)
    val arr = Gen.choose(0, 8).flatMap(n => Gen.listOfN(n,
      Gen.frequency(9 -> smallVal.map(Option(_)), 1 -> Gen.const(Option.empty[Long]))))
    forAll(Gen.zip(arr, arr)) { case (a, b) =>
      val df = Seq((1L, a, b)).toDF("id", "a", "b")
      val kernel = df.select(TextOps.pairOverlap(col("a"), col("b")))
        .as[Long].head()
      val ea = df.select(col("id"), explode(col("a")).as("v"))
      val eb = df.select(col("id"), explode(col("b")).as("v"))
      val joined = ea.join(eb, Seq("id", "v")).count()
      assert(kernel === joined)
      // scala multiset reference closes the triangle
      val ca = a.flatten.groupBy(identity).view.mapValues(_.size.toLong)
      val cb = b.flatten.groupBy(identity).view.mapValues(_.size.toLong)
      val ref = ca.map { case (v, n) => n * cb.getOrElse(v, 0L) }.sum
      assert(kernel === ref)
    }
    // pinned DIVERGENCE on a NULL array (not element): the kernel
    // null-propagates like every scalar SQL function, while explode of
    // a NULL array emits zero rows so the join-count reads 0. Callers
    // must not feed NULL arrays expecting 0 (lsh_eval's hs is non-null
    // by construction).
    val dfn = Seq((1L, Option.empty[Seq[Long]], Option(Seq(1L, 2L))))
      .toDF("id", "a", "b")
    assert(dfn.select(TextOps.pairOverlap(col("a"), col("b")))
      .as[Option[Long]].head() === None)
  }

  test("graft_sampled_substrings equals the explode+substring+md5 composed form") {
    // The kernel replaced q_dedup_substring's sample stage (round-9
    // P21: 4x). Parity must hold per POSITION SET on the same md5
    // top-nibble-zero selection, and the kernel's windows must count
    // CODE POINTS exactly like Spark's substring/length — pinned with
    // fixed non-BMP cases (4-byte UTF-8 / UTF-16 surrogate pairs)
    // plus randomized mixed-width strings.
    val fixed = Seq(
      "x" * 32,                                    // exactly one window
      "the quick brown fox jumps over the lazy dog. " * 8,
      "ab😀cd" * 12,                     // emoji every 5 cps
      "é中🤖" * 20,             // 2/3/4-byte widths
      ("z" * 40) + ("😀" * 8) + ("z" * 40))
    val mixedChar = Gen.frequency(
      8 -> Gen.alphaLowerChar.map(_.toString),
      1 -> Gen.oneOf("é", "中", " "),
      1 -> Gen.const("😀"))
    val randText = Gen.choose(0, 120)
      .flatMap(n => Gen.listOfN(n, mixedChar).map(_.mkString))
    val texts = fixed ++ (0 until 10).map(i =>
      randText.pureApply(Gen.Parameters.default, Seed(4242L + i)))
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "t")
    val longEnough = df.filter(length(col("t")) >= 32)
    val composed = longEnough
      .select(col("id"), col("t"),
        explode(expr("sequence(1, length(t) - 31)")).as("p"))
      .select(col("id"), expr("substring(t, p, 32)").as("sh"))
      .filter(substring(md5(col("sh")), 1, 1) === "0")
      .groupBy("id").agg(sort_array(collect_list("sh")).as("shs"))
    val kernel = longEnough
      .select(col("id"),
        sort_array(call_function("graft_sampled_substrings", col("t"))).as("shs"))
    val mismatches = kernel.as("k")
      .join(composed.as("c"), Seq("id"), "full_outer")
      .filter(
        // composed has no row when NOTHING sampled; kernel emits [] —
        // those agree; any other difference is a parity break
        !(coalesce(col("k.shs"), array()) <=> coalesce(col("c.shs"), array())))
      .count()
    assert(mismatches === 0L)
    // at least one fixed case must actually sample something, or the
    // parity assertion is vacuous
    assert(kernel.filter(size(col("shs")) > 0).count() > 0)
    // short input -> empty array (the query filters length >= 32
    // before the kernel, but the kernel itself must not blow up);
    // NULL input null-propagates like every scalar function
    val edge = Seq((1L, Option("tiny")), (2L, Option.empty[String]))
      .toDF("id", "t")
      .select(call_function("graft_sampled_substrings", col("t")).as("shs"))
      .collect()
    assert(edge(0).getAs[scala.collection.Seq[String]]("shs").isEmpty)
    assert(edge(1).isNullAt(0))
  }
}
