package graft.functions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.types.IntegerType

/** Session-extension entry point for cluster deployments:
  * `--conf spark.sql.extensions=graft.functions.GraftExtensions`
  * injects the native functions into every session built from that
  * config. The in-process path ([[GraftExtensions.register]], called
  * when Harness builds a session and when Tables clones one) reads the
  * same table.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach { case (name, arity, build) =>
      ext.injectFunction((FunctionIdentifier(name), GraftExtensions.info(name),
        GraftExtensions.checked(name, arity, build)))
    }
}

object GraftExtensions {
  import TextExpressions._
  import VectorExpressions._

  /** Every native function the query layer calls by name:
    * (SQL name, arity, builder over exactly `arity` arguments). */
  private val functions: Seq[(String, Int, Seq[Expression] => Expression)] = Seq(
    ("graft_dot", 2, es => ArrayDotProduct(es(0), es(1))),
    ("graft_scale_div", 2, es => ArrayScaleDivide(es(0), es(1))),
    ("graft_quantize", 1, es => QuantizeStats(es(0))),
    ("graft_quantize1000", 1, es => Quantize1000(es(0))),
    ("graft_lloyd_assign", 2, es => LloydAssignCentroids(es(0), es(1))),
    ("graft_lloyd_scores", 2, es => LloydScoresCentroids(es(0), es(1))),
    ("graft_lloyd_assign_multi", 2, es => LloydAssignMulti(es(0), es(1))),
    ("graft_pq_adc_table", 2, es => PqAdcTableExpr(es(0), es(1))),
    ("graft_bloom_agg", 3, es =>
      new BloomFilterAggregate(es(0), es(1), es(2)).toAggregateExpression()),
    ("graft_bloom_contains", 2, es => BloomFilterMightContain(es(0), es(1))),
    ("graft_bloom_sharded", 2, es =>
      BloomFunctions.ShardedBloomContains(es(0), es(1))),
    ("graft_minhash", 1, es => MinHashSignature(es(0))),
    ("graft_shingle_hashes", 1, es => ShingleHashes(es(0))),
    ("graft_shingle_hashes_ne", 1, es => ShingleHashesNonEmpty(es(0))),
    ("graft_word_hashes60", 1, es => WordHashes60(es(0))),
    ("graft_simhash60", 1, es => SimHash60(es(0))),
    ("graft_nfc", 1, es => NfcNormalize(es(0))),
    ("graft_sampled_substrings", 1, es => SampledSubstrings32(es(0))),
    ("graft_jaro_winkler", 2, es => JaroWinkler(es(0), es(1))),
    ("graft_pair_overlap", 2, es => PairOverlap(es(0), es(1))),
    // ClassGuard.collapse calls this by name; the cap must be an
    // integer literal (it sizes the aggregation buffer)
    ("graft_capped_roster", 2, es => es(1) match {
      case Literal(v: Int, IntegerType) =>
        CappedRoster(es(0), v).toAggregateExpression()
      case other => throw new IllegalArgumentException(
        s"graft_capped_roster cap must be an integer literal, got $other")
    }))

  /** A wrong-arity SQL call fails with a clear message at analysis
    * time, not an IndexOutOfBoundsException (and never silently drops
    * extra arguments). */
  private def checked(name: String, arity: Int,
      build: Seq[Expression] => Expression): Seq[Expression] => Expression =
    es => {
      require(es.length == arity, s"$name takes $arity argument(s), got ${es.length}")
      build(es)
    }

  private def info(name: String) =
    new ExpressionInfo(classOf[GraftExtensions].getName, name)

  /** Every native function is registered on `spark`'s session. */
  def registered(spark: SparkSession): Boolean = {
    val reg = spark.sessionState.functionRegistry
    functions.forall { case (name, _, _) => reg.functionExists(FunctionIdentifier(name)) }
  }

  /** Idempotent session-level registration; `call_function` then makes
    * the expressions usable from the Column API without depending on
    * version-specific Column internals. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    functions.foreach { case (name, arity, build) =>
      val id = FunctionIdentifier(name)
      if (!reg.functionExists(id))
        reg.registerFunction(id, info(name), checked(name, arity, build))
    }
  }
}
