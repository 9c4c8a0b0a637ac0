package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Guards on the dedup-detection family's degenerate inputs.
  *
  * Round-6 advice (medium): the signature-level simhash rewrite gave
  * NULL-text documents a NULL signature; groupBy("sim") would collect
  * them into one NULL-sig class and the intra-class expansion emitted
  * hamming-0 pairs for them — pairs the DuckDB oracle's band equi-join
  * (where NULL never equals NULL) can never produce. The fix filters
  * NULL signatures before classing; this spec pins it with a fixture
  * the sf tables don't contain (>= 2 NULL-text rows).
  */
class DedupGuardSpec extends SparkSpec {

  private def docsDir(rows: Seq[(Long, String)]): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-docs").toString
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("text", StringType),
      StructField("lang", StringType),
      StructField("source", StringType),
      StructField("n_chars", LongType)))
    val data = rows.map { case (id, t) =>
      Row(id, t, "en", "fixture",
        if (t == null) null else t.length.toLong: java.lang.Long)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(data, 2), schema)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("simhash: NULL-text docs never pair (NULL-sig class is dropped)") {
    val dir = docsDir(Seq(
      1L -> "the quick brown fox jumps over the lazy dog today again",
      2L -> "the quick brown fox jumps over the lazy dog today again",
      3L -> null,
      4L -> null,
      5L -> null,
      6L -> "completely different unrelated words fill this document entirely now"))
    val out = graft.queries.TextQueries.qDedupSimhash.build(spark, dir)
      .select("doc_a", "doc_b", "hamming").collect()
    val nullIds = Set(3L, 4L, 5L)
    assert(out.forall(r => !nullIds(r.getLong(0)) && !nullIds(r.getLong(1))),
      s"NULL-text docs leaked into pairs: ${out.mkString(", ")}")
    // the genuine duplicate pair must still surface (hamming 0)
    assert(out.exists(r => r.getLong(0) == 1L && r.getLong(1) == 2L
      && r.getInt(2) == 0), s"missing (1,2) dup pair: ${out.mkString(", ")}")
  }

  // ---- mega-class escape hatch (round 7, VERDICT item 2) ----
  //
  // 30 identical docs with the cap forced to 10: the class must switch
  // to representative routing — intra pairs become the 29-edge star
  // (rep=1, member) instead of the 435 all-pairs rows, and no two
  // non-representative members ever pair. Assertions are output-shape
  // only, so they hold for every query in the family.

  private val dupText =
    "the quick brown fox jumps over the lazy dog every single day"
  private def megaDir(): String = docsDir(
    (1L to 30L).map(_ -> dupText) :+
      (40L -> "entirely different content words appear in this other document now"))

  private def assertStar(pairs: Seq[(Long, Long)], queryName: String): Unit = {
    val members = (2L to 30L).toSet
    val intra = pairs.filter { case (a, b) => a <= 30 && b <= 30 }
    assert(!intra.exists { case (a, b) => members(a) && members(b) },
      s"$queryName: non-representative members paired directly: " +
        intra.filter { case (a, b) => members(a) && members(b) }.take(5))
    val star = members.map(m => (1L, m))
    assert(star.subsetOf(intra.toSet),
      s"$queryName: missing star edges: ${(star -- intra.toSet).take(5)}")
  }

  private def withCap[A](n: Int)(f: => A): A =
    Tables.withConf(spark, graft.ops.ClassGuard.ConfKey -> n.toString)(f)

  private def pairsOf(df: org.apache.spark.sql.DataFrame,
      a: String, b: String): Seq[(Long, Long)] =
    df.select(a, b).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

  test("mega class: jaccard emits a linear star above the cap") {
    val dir = megaDir()
    withCap(10) {
      val p = pairsOf(graft.queries.TextQueries.qDedupNgramJaccard
        .build(spark, dir), "doc_a", "doc_b")
      assertStar(p, "q_dedup_ngram_jaccard")
      assert(p.size < 100, s"quadratic intra output survived: ${p.size} pairs")
    }
  }

  test("mega class: simhash emits a linear star above the cap") {
    val dir = megaDir()
    withCap(10) {
      val p = pairsOf(graft.queries.TextQueries.qDedupSimhash
        .build(spark, dir), "doc_a", "doc_b")
      assertStar(p, "q_dedup_simhash")
      assert(p.size < 100, s"quadratic intra output survived: ${p.size} pairs")
    }
  }

  test("mega class: containment emits a two-direction star above the cap") {
    val dir = megaDir()
    withCap(10) {
      val p = pairsOf(graft.queries.TextQueries.qDedupContainment
        .build(spark, dir), "doc_in", "doc_of")
      val members = (2L to 30L).toSet
      assert(!p.exists { case (a, b) => members(a) && members(b) },
        "non-representative members paired directly")
      val star = members.flatMap(m => Seq((1L, m), (m, 1L)))
      val intra = p.filter { case (a, b) => a <= 30 && a >= 1 && b <= 30 && b >= 1 }.toSet
      assert(star.subsetOf(intra), s"missing star edges: ${(star -- intra).take(5)}")
    }
  }

  test("mega class: simjoin emits a linear star above the cap") {
    val dir = megaDir()
    withCap(10) {
      val p = pairsOf(graft.queries.SimilarityQueries.qSimjoinPrefix
        .build(spark, dir), "doc_a", "doc_b")
      assertStar(p, "q_simjoin_prefix")
      assert(p.size < 100, s"quadratic intra output survived: ${p.size} pairs")
    }
  }

  test("below the cap the roster path is unchanged (all-pairs intra)") {
    val dir = docsDir((1L to 5L).map(_ -> dupText))
    val p = pairsOf(graft.queries.TextQueries.qDedupNgramJaccard
      .build(spark, dir), "doc_a", "doc_b")
    val want = for (a <- 1L to 5L; b <- (a + 1) to 5L) yield (a, b)
    assert(p.toSet == want.toSet && p.size == 10,
      s"expected full 10-pair clique below cap, got ${p.sorted}")
  }
}
