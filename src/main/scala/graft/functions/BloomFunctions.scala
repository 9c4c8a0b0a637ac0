package graft.functions

import java.io.ByteArrayInputStream

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.util.sketch.BloomFilter

/** Spark's runtime-filter Bloom machinery, surfaced as session
  * functions. BloomFilterAggregate / BloomFilterMightContain are the
  * codegen'd internals behind Spark's own runtime row-level filtering
  * (InjectRuntimeFilter); they are not in the public registry, so we
  * register them the same way as the graft native expressions. Inputs
  * must be xxhash64-hashed longs — the same convention Spark's
  * injected filters use.
  *
  * graft_bloom_agg(xxhash64(k), estimatedItems, numBits) → binary
  * graft_bloom_contains(bloom, xxhash64(k)) → boolean (no false
  * negatives; false positives bounded by numBits/estimatedItems).
  * graft_bloom_sharded(sketches: array<binary>, xxhash64(k)) → boolean
  *   probe of a hash-range-sharded sketch family (see below).
  */
object BloomFunctions {
  /** Probe of N hash-range-sharded Bloom sketches in O(1) per row —
    * the partition-wise successor to the foldable when-chain
    * (`BloomOps.shardedContainsChain`): the chain's generated code
    * grows linearly in shard count and hits JIT/method limits in the
    * thousands, while this expression routes
    * shard = floorMod(hash, N) and calls one `mightContainLong`
    * regardless of N, so shard count is bounded by sketch MEMORY, not
    * code size.
    *
    * `sketches` must be a foldable array<binary> DENSE in shard id
    * (element i = shard i's serialized sketch, null when that shard
    * has no history rows — probes route there to definitely-absent,
    * which is exact). Filters deserialize once per executor via the
    * transient lazy val; per-row work is an array index + one probe. */
  case class ShardedBloomContains(left: Expression, right: Expression)
      extends BinaryExpression {
    override def checkInputDataTypes(): TypeCheckResult =
      (left.dataType, right.dataType) match {
        case (ArrayType(BinaryType, _), LongType) if left.foldable =>
          TypeCheckResult.TypeCheckSuccess
        case (l, r) => TypeCheckResult.TypeCheckFailure(
          s"$prettyName expects (foldable array<binary>, bigint), got " +
            s"${l.simpleString} (foldable=${left.foldable}) and ${r.simpleString}")
      }
    override def dataType: DataType = BooleanType
    override def prettyName: String = "graft_bloom_sharded"

    @transient private lazy val filters: Array[BloomFilter] = {
      val ad = left.eval(null).asInstanceOf[ArrayData]
      require(ad != null && ad.numElements() > 0,
        s"$prettyName: sketch array must be non-null and non-empty")
      Array.tabulate(ad.numElements()) { i =>
        if (ad.isNullAt(i)) null
        else BloomFilter.readFrom(new ByteArrayInputStream(ad.getBinary(i)))
      }
    }

    /** Public for generated code: route + probe. */
    def probe(h: Long): Boolean = {
      val f = filters(java.lang.Math.floorMod(h, filters.length.toLong).toInt)
      f != null && f.mightContainLong(h)
    }

    override protected def nullSafeEval(s: Any, h: Any): Any =
      probe(h.asInstanceOf[Long])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("shardedBloom", this,
        classOf[ShardedBloomContains].getName)
      nullSafeCodeGen(ctx, ev, (_, h) => s"${ev.value} = $ref.probe($h);")
    }

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }
}
