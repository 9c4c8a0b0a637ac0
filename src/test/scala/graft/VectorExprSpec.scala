package graft

import graft.functions.GraftExtensions
import graft.ops.VectorOps
import org.apache.spark.sql.functions._

/** Native Catalyst vector expressions: registration, bit-parity with
  * the unrolled built-in forms, null behavior, float widening, and
  * codegen participation. */
class VectorExprSpec extends SparkSpec {
  import spark.implicits._

  private val dims = 8

  private def df = Seq(
    (1L, Array(1.0f, 2f, 3f, 4f, 5f, 6f, 7f, 8f),
      Array(0.5, 0.25, -1.0, 2.0, 0.0, 3.5, -2.25, 1.0)),
    (2L, Array(0.1f, -0.2f, 0.3f, -0.4f, 0.5f, -0.6f, 0.7f, -0.8f),
      Array(1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0))
  ).toDF("id", "vf", "vd")

  test("graft_dot is bit-identical to the unrolled built-in form") {
    GraftExtensions.register(spark)
    val d = df
      .withColumn("vfd", VectorOps.toDoublesUnrolled(col("vf"), dims))
      .withColumn("native", VectorOps.dotNative(col("vfd"), col("vd")))
      .withColumn("unrolled", VectorOps.dotUnrolled(col("vfd"), col("vd"), dims))
      .select("native", "unrolled").as[(Double, Double)].collect()
    d.foreach { case (n, u) =>
      assert(java.lang.Double.doubleToLongBits(n)
        === java.lang.Double.doubleToLongBits(u))
    }
  }

  test("graft_dot widens float arrays exactly (no pre-cast needed)") {
    GraftExtensions.register(spark)
    val d = df
      .withColumn("direct", VectorOps.dotNative(col("vf"), col("vd")))
      .withColumn("viaCast", VectorOps.dotNative(
        VectorOps.toDoublesUnrolled(col("vf"), dims), col("vd")))
      .select("direct", "viaCast").as[(Double, Double)].collect()
    d.foreach { case (a, b) =>
      assert(java.lang.Double.doubleToLongBits(a)
        === java.lang.Double.doubleToLongBits(b))
    }
  }

  test("withNormalizedNative matches withNormalized bitwise") {
    GraftExtensions.register(spark)
    val a = VectorOps.withNormalizedNative(df, "vf", "vn")
      .select("id", "vn").as[(Long, Array[Double])].collect().toMap
    val b = VectorOps.withNormalized(df, "vf", "vn", dims)
      .select("id", "vn").as[(Long, Array[Double])].collect().toMap
    assert(a.keySet === b.keySet)
    a.foreach { case (k, va) =>
      va.zip(b(k)).foreach { case (x, y) =>
        assert(java.lang.Double.doubleToLongBits(x)
          === java.lang.Double.doubleToLongBits(y))
      }
    }
  }

  test("null array input yields null, not a crash") {
    GraftExtensions.register(spark)
    val d = Seq((1L, Option.empty[Array[Double]], Array(1.0, 2.0)))
      .toDF("id", "a", "b")
      .withColumn("dot", VectorOps.dotNative(col("a"), col("b")))
      .select("dot").collect()
    assert(d.head.isNullAt(0))
  }

  test("expressions run inside whole-stage codegen") {
    // a parquet scan, not a local Seq: ConvertToLocalRelation folds
    // in-memory inputs away before any physical plan exists
    GraftExtensions.register(spark)
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val plan = VectorOps.withNormalizedNative(e, "embedding", "vn")
      .withColumn("dot", VectorOps.dotNative(col("vn"), col("vn")))
      .queryExecution.executedPlan.toString
    // '*(n)' marks a WholeStageCodegen stage in the simple-plan string
    assert(plan.linesIterator.exists(l =>
      l.contains("*(") && l.contains("graft_dot")))
  }

  test("GraftExtensions injects every native function into a fresh extension set") {
    // the hook cluster deployments reach via
    // spark.sql.extensions=graft.functions.GraftExtensions
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(ext)
    // an extensions-only session (no Tables.ensureConf) must resolve
    // every function the query layer calls by name —
    // graft_capped_roster especially, or every ClassGuard-guarded
    // dedup query fails analysis (ADVICE r8).
    val injected = org.apache.spark.sql.GraftExtensionsBridge.injectedNames(ext)
    assert(injected
      === Set("graft_dot", "graft_scale_div", "graft_quantize",
        "graft_quantize1000", "graft_lloyd_assign", "graft_lloyd_scores",
        "graft_lloyd_assign_multi", "graft_pq_adc_table",
        "graft_minhash", "graft_shingle_hashes", "graft_shingle_hashes_ne",
        "graft_word_hashes60",
        "graft_simhash60", "graft_nfc", "graft_sampled_substrings",
        "graft_jaro_winkler", "graft_pair_overlap", "graft_capped_roster",
        "graft_bloom_agg", "graft_bloom_contains", "graft_bloom_sharded"))
    // and the in-process registration path resolves exactly that set
    GraftExtensions.register(spark)
    val registered = spark.sessionState.functionRegistry.listFunction()
      .map(_.funcName).filter(_.startsWith("graft_")).toSet
    assert(registered === injected)
  }

  test("graft_lloyd_assign_multi rejects malformed codebook literals at analysis time") {
    GraftExtensions.register(spark)
    val vq = Seq((1L, Array(1L, 2L, 3L, 4L))).toDF("id", "vq")
    def assign(books: Seq[Seq[Seq[Double]]]) =
      vq.select(call_function("graft_lloyd_assign_multi", col("vq"), typedLit(books)))
    // well-formed: 2 subspaces × 2 codewords × 2 dims
    assert(assign(Seq(Seq(Seq(1.0, 0.0), Seq(0.0, 1.0)),
      Seq(Seq(1.0, 1.0), Seq(2.0, 2.0)))).as[Seq[Int]].head() === Seq(1, 1))
    def rejected(books: Seq[Seq[Seq[Double]]], why: String): Unit = {
      val e = intercept[org.apache.spark.sql.AnalysisException](assign(books))
      assert(e.getMessage.contains(why), e.getMessage)
    }
    rejected(Seq(Seq(Seq(1.0, 0.0)), Seq.empty), "empty subspace")
    rejected(Seq(Seq(Seq(1.0, 0.0)), Seq(Seq.empty[Double])), "empty codeword")
    rejected(Seq(Seq(Seq(1.0, 0.0), Seq(1.0))), "mixed codeword lengths")
  }

  test("SQL surface works after registration") {
    GraftExtensions.register(spark)
    df.createOrReplaceTempView("vec_test")
    val r = spark.sql(
      "SELECT graft_dot(vd, vd) AS d FROM vec_test WHERE id = 2")
      .as[Double].head()
    assert(r === 8.0) // vd for id=2 is eight exact 1.0s
  }
}
