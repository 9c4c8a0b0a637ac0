package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expressions for the vector hot path.
  *
  * Why custom expressions (tier (b) of the extension ladder) instead
  * of composed built-ins: a 64-dim dot product written as built-ins is
  * either a higher-order `aggregate` (interpreted per element) or 64
  * `element_at` terms (codegen'd, but 128 bounds/null checks and a
  * 129-node expression tree per use site). With `doGenCode` the whole
  * product is one `for` loop over the two `ArrayData` buffers inside
  * whole-stage codegen. Accumulation is the same left-assoc order as
  * the unrolled form, so results are bit-identical and the DuckDB
  * oracles keep matching.
  *
  * Element nulls are not checked (embedding vectors are dense by
  * construction); a null ARRAY input yields null via BinaryExpression's
  * default null-intolerant path.
  */
object VectorExpressions {
  private def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  private def isVec(dt: DataType): Boolean = dt match {
    case ArrayType(FloatType | DoubleType, _) => true
    case _ => false
  }

  /** dot(a, b): float/double arrays → double; mixed widths widen
    * exactly. */
  case class ArrayDotProduct(left: Expression, right: Expression)
      extends BinaryExpression {
    override def checkInputDataTypes(): TypeCheckResult =
      if (isVec(left.dataType) && isVec(right.dataType))
        TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects two array<float|double> arguments, got " +
          s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
    override def dataType: DataType = DoubleType
    override def prettyName: String = "graft_dot"

    override protected def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]; val y = b.asInstanceOf[ArrayData]
      val lf = elemType(left) == FloatType; val rf = elemType(right) == FloatType
      val n = math.min(x.numElements(), y.numElements())
      var s = 0.0; var i = 0
      while (i < n) {
        val xv = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
        val yv = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
        s += xv * yv; i += 1
      }
      s
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val lGet = if (elemType(left) == FloatType) "getFloat" else "getDouble"
      val rGet = if (elemType(right) == FloatType) "getFloat" else "getDouble"
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val i = ctx.freshName("i"); val n = ctx.freshName("n")
        val s = ctx.freshName("s")
        s"""
        int $n = java.lang.Math.min($a.numElements(), $b.numElements());
        double $s = 0.0;
        for (int $i = 0; $i < $n; $i++) {
          $s += ((double) $a.$lGet($i)) * ((double) $b.$rGet($i));
        }
        ${ev.value} = $s;
        """
      })
    }

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** a / scalar, element-wise: float/double array → double array.
    * Used for L2 normalization (divide by the precomputed norm). */
  case class ArrayScaleDivide(left: Expression, right: Expression)
      extends BinaryExpression {
    override def checkInputDataTypes(): TypeCheckResult =
      if (isVec(left.dataType) && right.dataType == DoubleType)
        TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (array<float|double>, double), got " +
          s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
    override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
    override def prettyName: String = "graft_scale_div"

    override protected def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val d = b.asInstanceOf[Double]
      val lf = elemType(left) == FloatType
      val n = x.numElements()
      val out = new Array[Double](n)
      var i = 0
      while (i < n) {
        out(i) = (if (lf) x.getFloat(i).toDouble else x.getDouble(i)) / d
        i += 1
      }
      ArrayData.toArrayData(out)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val get = if (elemType(left) == FloatType) "getFloat" else "getDouble"
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val i = ctx.freshName("i"); val n = ctx.freshName("n")
        val arr = ctx.freshName("arr")
        s"""
        int $n = $a.numElements();
        double[] $arr = new double[$n];
        for (int $i = 0; $i < $n; $i++) {
          $arr[$i] = ((double) $a.$get($i)) / $b;
        }
        ${ev.value} = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData($arr);
        """
      })
    }

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** Exactly Spark's `round(x)` for doubles (Round expression:
    * shortest-decimal BigDecimal, HALF_UP) followed by the long cast —
    * the native kernel must reproduce it bit-for-bit or it diverges
    * from the composed form the DuckDB oracle was verified against. */
  def roundHalfUpToLong(v: Double): Long =
    // Spark's RoundBase passes NaN/Infinity through (BigDecimal.valueOf
    // would throw); the scala toLong then matches the non-ANSI
    // double→long cast: NaN→0, ±Inf→Long.Max/MinValue
    if (v.isNaN || v.isInfinite) v.toLong
    else java.math.BigDecimal.valueOf(v)
      .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue().toLong

  /** graft_quantize(vec): symmetric int8 quantization statistics as
    * ONE generated loop — struct(amax_e6, sum_q, n_clip, n_zero).
    * The unrolled-built-ins form of the same math is a 192-term
    * projection whose generated method exceeds HotSpot's JIT size
    * limit and runs in the bytecode interpreter (~120 µs/row measured
    * at sf0.1); the loop form is a normal hot method. Arithmetic is
    * bit-identical to the unrolled form (PropertySpec pins it):
    * amax = max(|x_i|, 1e-30), q_i = round_half_up(x_i·127/amax).
    *
    * Precondition (same convention as ArrayDotProduct): array elements
    * must be non-null. Slots are read raw (getFloat/getDouble), so a
    * null element contributes 0 rather than null-propagating the way
    * the unrolled element_at form would. The embedding pipeline never
    * produces null elements; callers with containsNull input must
    * filter first. */
  case class QuantizeStats(child: Expression) extends UnaryExpression {
    override def checkInputDataTypes(): TypeCheckResult =
      if (isVec(child.dataType)) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects array<float|double>, got ${child.dataType.simpleString}")
    override def dataType: DataType = StructType(Seq(
      StructField("amax_e6", LongType, nullable = false),
      StructField("sum_q", LongType, nullable = false),
      StructField("n_clip", LongType, nullable = false),
      StructField("n_zero", LongType, nullable = false)))
    override def prettyName: String = "graft_quantize"

    override protected def nullSafeEval(input: Any): Any = {
      val xs = input.asInstanceOf[ArrayData]
      val f = elemType(child) == FloatType
      val n = xs.numElements()
      var amax = 1e-30; var i = 0
      while (i < n) {
        val v = math.abs(if (f) xs.getFloat(i).toDouble else xs.getDouble(i))
        if (v > amax) amax = v
        i += 1
      }
      var sumQ = 0L; var nClip = 0L; var nZero = 0L; i = 0
      while (i < n) {
        val x = if (f) xs.getFloat(i).toDouble else xs.getDouble(i)
        val q = roundHalfUpToLong(x * 127.0 / amax)
        sumQ += q
        if (math.abs(q) == 127L) nClip += 1
        if (q == 0L) nZero += 1
        i += 1
      }
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](roundHalfUpToLong(amax * 1000000.0), sumQ, nClip, nZero))
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val get = if (elemType(child) == FloatType) "getFloat" else "getDouble"
      val helper = "graft.functions.VectorExpressions.roundHalfUpToLong"
      nullSafeCodeGen(ctx, ev, a => {
        val i = ctx.freshName("i"); val n = ctx.freshName("n")
        val amax = ctx.freshName("amax"); val v = ctx.freshName("v")
        val q = ctx.freshName("q"); val sumQ = ctx.freshName("sumQ")
        val nClip = ctx.freshName("nClip"); val nZero = ctx.freshName("nZero")
        s"""
        int $n = $a.numElements();
        double $amax = 1e-30;
        for (int $i = 0; $i < $n; $i++) {
          double $v = java.lang.Math.abs((double) $a.$get($i));
          if ($v > $amax) $amax = $v;
        }
        long $sumQ = 0L; long $nClip = 0L; long $nZero = 0L;
        for (int $i = 0; $i < $n; $i++) {
          long $q = $helper(((double) $a.$get($i)) * 127.0 / $amax);
          $sumQ += $q;
          if (java.lang.Math.abs($q) == 127L) $nClip++;
          if ($q == 0L) $nZero++;
        }
        ${ev.value} = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          new Object[]{
            java.lang.Long.valueOf($helper($amax * 1000000.0)),
            java.lang.Long.valueOf($sumQ),
            java.lang.Long.valueOf($nClip),
            java.lang.Long.valueOf($nZero)});
        """
      })
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Integer-thousandths quantization of a double vector in ONE small
    * kernel: out[i] = cast(round(v[i+1] * 1000) as bigint) — exactly
    * the element chain [[graft.ops.KMeans.quantizeUnrolled]] composes
    * from built-ins, including Spark's `round` semantics (the same
    * `BigDecimal.valueOf(x).setScale(0, HALF_UP)` call Spark's Round
    * generates for doubles, with the same NaN/infinity passthrough and
    * the same non-ANSI double→long truncating cast). Values are
    * bit-identical BY CONSTRUCTION — PropertySpec pins it.
    *
    * Why it exists (round 13): the unrolled form inlines 64
    * round+cast+element_at trees (~100 bytecodes each) into whatever
    * whole-stage-codegen method consumes vq; together with an
    * assignment kernel that pushes the generated processNext past
    * HotSpot's DontCompileHugeMethods limit (8000 bytecodes), so the
    * WHOLE stage — including the k·dims assignment loops — ran in the
    * bytecode interpreter. Measured at sf0.1 (P41): the PQ corpus
    * encode was 1.5-2.0 s with the unrolled form and the arithmetic
    * alone is ~30 ms compiled. One compact loop keeps the method a
    * normal JIT candidate.
    *
    * PRECONDITION (same as QuantizeStats, round-14 ADVICE): array
    * elements must be NON-NULL — slots are read raw via getDouble, so
    * a null element quantizes as 0 rather than null-propagating like
    * the composed round(element_at(...)) chain. containsNull=true
    * SCHEMAS are still accepted (parquet-loaded arrays carry that flag
    * even when the data has no nulls); it is null VALUES that are out
    * of contract. Every caller feeds fixture-derived vectors built
    * from non-null doubles. */
  case class Quantize1000(child: Expression) extends UnaryExpression {
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects array<double>, got ${child.dataType.simpleString}")
    }
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "graft_quantize1000"

    override protected def nullSafeEval(a: Any): Any = {
      val v = a.asInstanceOf[ArrayData]
      val n = v.numElements()
      val out = new Array[Long](n)
      var i = 0
      while (i < n) {
        out(i) = roundHalfUpToLong(v.getDouble(i) * 1000.0)
        i += 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a => {
        val n = ctx.freshName("n"); val i = ctx.freshName("i")
        val out = ctx.freshName("out")
        val helper = "graft.functions.VectorExpressions.roundHalfUpToLong"
        s"""
        int $n = $a.numElements();
        long[] $out = new long[$n];
        for (int $i = 0; $i < $n; $i++) {
          $out[$i] = $helper($a.getDouble($i) * 1000.0);
        }
        ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
        """
      })

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Lloyd/PQ assignment: argmax_j (vq·c_j − |c_j|²/2), ties to the
    * smallest j. `cents` must be a FOLDABLE array<array<double>>
    * literal (k × dims); it is extracted once on the driver and ships
    * to executors as one reference object, so the generated code is
    * two short loops regardless of k·dims — the unrolled-projection
    * form this replaces generated k·dims product nodes per use site
    * and dominated the PQ queries' wall clock via codegen compilation
    * (measured ~2.5 s at sf0.001 AND sf0.1, i.e. all fixed cost).
    * Arithmetic is bit-identical to the unrolled form: per-centroid
    * left-assoc sum of (double)long × double, minus the halfNorm
    * computed by the same ascending loop, strict-greater selection. */
  case class LloydAssignCentroids(left: Expression, right: Expression)
      extends BinaryExpression {
    override def checkInputDataTypes(): TypeCheckResult = left.dataType match {
      case ArrayType(LongType, _) if right.foldable &&
        right.dataType.isInstanceOf[ArrayType] => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (array<bigint>, foldable array<array<double>>)")
    }
    override def dataType: DataType = IntegerType
    override def prettyName: String = "graft_lloyd_assign"

    @transient private lazy val cents: Array[Array[Double]] = {
      val ad = right.eval(null).asInstanceOf[ArrayData]
      Array.tabulate(ad.numElements())(j => ad.getArray(j).toDoubleArray())
    }
    @transient private lazy val halfNorms: Array[Double] =
      cents.map { c =>
        var ss = 0.0; var i = 0
        while (i < c.length) { ss += c(i) * c(i); i += 1 }
        ss / 2
      }

    override protected def nullSafeEval(a: Any, b: Any): Any = {
      val vq = a.asInstanceOf[ArrayData]
      // stage the vector in a primitive buffer ONCE: every element is
      // otherwise re-read k times through ArrayData (boxed Object[]
      // when the input is a fresh array(...) projection, not a cached
      // UnsafeArrayData) — measured as the whole PQ/IVF encode cost at
      // sf0.1 (round 13 P41: ~45 ns per re-read × k·dims·rows)
      val dims = if (cents.isEmpty) 0 else cents(0).length
      val v = new Array[Double](dims)
      var d = 0
      while (d < dims) { v(d) = vq.getLong(d).toDouble; d += 1 }
      var best = 0; var bm = 0.0
      var j = 0
      while (j < cents.length) {
        val c = cents(j)
        var s = 0.0; var i = 0
        while (i < c.length) { s += v(i) * c(i); i += 1 }
        s -= halfNorms(j)
        if (j == 0 || s > bm) { bm = s; best = j }
        j += 1
      }
      best
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val cRef = ctx.addReferenceObj("lloydCents", cents, "double[][]")
      val hRef = ctx.addReferenceObj("lloydHns", halfNorms, "double[]")
      val dims = if (cents.isEmpty) 0 else cents(0).length
      nullSafeCodeGen(ctx, ev, (a, _) => {
        val j = ctx.freshName("j"); val i = ctx.freshName("i")
        val s = ctx.freshName("s"); val bm = ctx.freshName("bm")
        val bj = ctx.freshName("bj"); val c = ctx.freshName("c")
        val v = ctx.freshName("v"); val d = ctx.freshName("d")
        s"""
        double[] $v = new double[$dims];
        for (int $d = 0; $d < $dims; $d++) {
          $v[$d] = (double) $a.getLong($d);
        }
        int $bj = 0; double $bm = 0.0;
        for (int $j = 0; $j < $cRef.length; $j++) {
          double[] $c = $cRef[$j];
          double $s = 0.0;
          for (int $i = 0; $i < $c.length; $i++) {
            $s += $v[$i] * $c[$i];
          }
          $s -= $hRef[$j];
          if ($j == 0 || $s > $bm) { $bm = $s; $bj = $j; }
        }
        ${ev.value} = $bj;
        """
      })
    }

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** Lloyd metric VECTOR: m_j = vq·c_j − |c_j|²/2 for every centroid j,
    * as array<double>. Same arithmetic as [[LloydAssignCentroids]]
    * (left-assoc integer×double dot in ascending i, halfNorms from the
    * same ascending loop), so argmax over the output selects exactly
    * the cell graft_lloyd_assign would. The trained-IVF query side
    * needs the TOP-N cells per query (multi-probe), not just the
    * nearest — posexplode over this array + a rank window gives them
    * with one constant-size kernel call per query row. */
  case class LloydScoresCentroids(left: Expression, right: Expression)
      extends BinaryExpression {
    override def checkInputDataTypes(): TypeCheckResult = left.dataType match {
      case ArrayType(LongType, _) if right.foldable &&
        right.dataType.isInstanceOf[ArrayType] => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (array<bigint>, foldable array<array<double>>)")
    }
    override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
    override def prettyName: String = "graft_lloyd_scores"

    @transient private lazy val cents: Array[Array[Double]] = {
      val ad = right.eval(null).asInstanceOf[ArrayData]
      Array.tabulate(ad.numElements())(j => ad.getArray(j).toDoubleArray())
    }
    @transient private lazy val halfNorms: Array[Double] =
      cents.map { c =>
        var ss = 0.0; var i = 0
        while (i < c.length) { ss += c(i) * c(i); i += 1 }
        ss / 2
      }

    override protected def nullSafeEval(a: Any, b: Any): Any = {
      val vq = a.asInstanceOf[ArrayData]
      // primitive staging buffer — see LloydAssignCentroids
      val dims = if (cents.isEmpty) 0 else cents(0).length
      val v = new Array[Double](dims)
      var d = 0
      while (d < dims) { v(d) = vq.getLong(d).toDouble; d += 1 }
      val out = new Array[Double](cents.length)
      var j = 0
      while (j < cents.length) {
        val c = cents(j)
        var s = 0.0; var i = 0
        while (i < c.length) { s += v(i) * c(i); i += 1 }
        out(j) = s - halfNorms(j)
        j += 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val cRef = ctx.addReferenceObj("lloydCents", cents, "double[][]")
      val hRef = ctx.addReferenceObj("lloydHns", halfNorms, "double[]")
      val dims = if (cents.isEmpty) 0 else cents(0).length
      nullSafeCodeGen(ctx, ev, (a, _) => {
        val j = ctx.freshName("j"); val i = ctx.freshName("i")
        val s = ctx.freshName("s"); val out = ctx.freshName("out")
        val c = ctx.freshName("c")
        val v = ctx.freshName("v"); val d = ctx.freshName("d")
        s"""
        double[] $v = new double[$dims];
        for (int $d = 0; $d < $dims; $d++) {
          $v[$d] = (double) $a.getLong($d);
        }
        double[] $out = new double[$cRef.length];
        for (int $j = 0; $j < $cRef.length; $j++) {
          double[] $c = $cRef[$j];
          double $s = 0.0;
          for (int $i = 0; $i < $c.length; $i++) {
            $s += $v[$i] * $c[$i];
          }
          $out[$j] = $s - $hRef[$j];
        }
        ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
        """
      })
    }

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** All M PQ subspace assignments in ONE kernel:
    * out[m] = argmax_j (vq[m·sub .. m·sub+sub-1] · c_mj − |c_mj|²/2),
    * ties to the smallest j — for foldable per-subspace codebooks
    * (M × k × sub doubles). Bit-identical to M separate
    * [[LloydAssignCentroids]] calls over `slice(vq, m·sub+1, sub)`
    * (same ascending-i left-assoc dot, same halfNorm loop, same
    * strict-greater selection): the slices never materialize and the
    * quantized-vector subtree is evaluated ONCE per row instead of
    * once per subspace. That duplication was measured as the PQ
    * encode's whole cost at sf0.1 (P41: 2.04 s with 8 chained assigns
    * vs 0.27 s for the prep alone — each collapsed assign re-inlined
    * the 64-`round()` quantize tree, and Spark's `round` is a
    * BigDecimal construction per element even in codegen). */
  case class LloydAssignMulti(left: Expression, right: Expression)
      extends BinaryExpression {
    override def checkInputDataTypes(): TypeCheckResult = left.dataType match {
      // full 3-level shape match (round-14 ADVICE): a wrongly nested
      // literal (array<array<double>>) or an empty outer array used to
      // pass analysis and fail at runtime inside the lazy books
      // extraction with a ClassCastException; the literal's contents are
      // checked here too, since `books`/codegen read books(0)(0).length
      // as the subspace width for every codeword
      case ArrayType(LongType, _) if right.foldable &&
          (right.dataType match {
            case ArrayType(ArrayType(ArrayType(DoubleType, _), _), _) => true
            case _ => false
          }) =>
        val outer = right.eval(null).asInstanceOf[ArrayData]
        def fail(why: String) = TypeCheckResult.TypeCheckFailure(
          s"$prettyName: codebook literal has $why")
        if (outer == null || outer.numElements() == 0) fail("no subspaces")
        else {
          val subspaces = (0 until outer.numElements()).map(m =>
            if (outer.isNullAt(m)) null else outer.getArray(m))
          val words = subspaces.filter(_ != null).flatMap(ks =>
            (0 until ks.numElements()).map(j =>
              if (ks.isNullAt(j)) null else ks.getArray(j)))
          if (subspaces.exists(ks => ks == null || ks.numElements() == 0))
            fail("an empty subspace")
          else if (words.exists(c => c == null || c.numElements() == 0))
            fail("an empty codeword")
          else if (words.map(_.numElements()).distinct.size > 1)
            fail("mixed codeword lengths")
          else TypeCheckResult.TypeCheckSuccess
        }
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (array<bigint>, foldable array<array<array<double>>>)")
    }
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def prettyName: String = "graft_lloyd_assign_multi"

    @transient private lazy val books: Array[Array[Array[Double]]] = {
      val ms = right.eval(null).asInstanceOf[ArrayData]
      Array.tabulate(ms.numElements()) { m =>
        val ks = ms.getArray(m)
        Array.tabulate(ks.numElements())(j => ks.getArray(j).toDoubleArray())
      }
    }
    @transient private lazy val halfNorms: Array[Array[Double]] =
      books.map(_.map { c =>
        var ss = 0.0; var i = 0
        while (i < c.length) { ss += c(i) * c(i); i += 1 }
        ss / 2
      })

    override protected def nullSafeEval(a: Any, b: Any): Any = {
      val vq = a.asInstanceOf[ArrayData]
      val mN = books.length
      val sub = books(0)(0).length
      // primitive staging buffer — see LloydAssignCentroids
      val v = new Array[Double](mN * sub)
      var d = 0
      while (d < v.length) { v(d) = vq.getLong(d).toDouble; d += 1 }
      val out = new Array[Int](mN)
      var m = 0
      while (m < mN) {
        val ks = books(m); val hs = halfNorms(m)
        var best = 0; var bm = 0.0
        var j = 0
        while (j < ks.length) {
          val c = ks(j)
          var s = 0.0; var i = 0
          while (i < sub) { s += v(m * sub + i) * c(i); i += 1 }
          s -= hs(j)
          if (j == 0 || s > bm) { bm = s; best = j }
          j += 1
        }
        out(m) = best
        m += 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val bRef = ctx.addReferenceObj("pqAssignBooks", books, "double[][][]")
      val hRef = ctx.addReferenceObj("pqAssignHns", halfNorms, "double[][]")
      val dims = books.length * (if (books.isEmpty) 0 else books(0)(0).length)
      nullSafeCodeGen(ctx, ev, (a, _) => {
        val m = ctx.freshName("m"); val j = ctx.freshName("j")
        val i = ctx.freshName("i"); val s = ctx.freshName("s")
        val bm = ctx.freshName("bm"); val bj = ctx.freshName("bj")
        val sub = ctx.freshName("sub"); val out = ctx.freshName("out")
        val c = ctx.freshName("c"); val ks = ctx.freshName("ks")
        val hs = ctx.freshName("hs")
        val v = ctx.freshName("v"); val d = ctx.freshName("d")
        s"""
        int $sub = $bRef[0][0].length;
        double[] $v = new double[$dims];
        for (int $d = 0; $d < $dims; $d++) {
          $v[$d] = (double) $a.getLong($d);
        }
        int[] $out = new int[$bRef.length];
        for (int $m = 0; $m < $bRef.length; $m++) {
          double[][] $ks = $bRef[$m];
          double[] $hs = $hRef[$m];
          int $bj = 0; double $bm = 0.0;
          for (int $j = 0; $j < $ks.length; $j++) {
            double[] $c = $ks[$j];
            double $s = 0.0;
            for (int $i = 0; $i < $sub; $i++) {
              $s += $v[$m * $sub + $i] * $c[$i];
            }
            $s -= $hs[$j];
            if ($j == 0 || $s > $bm) { $bm = $s; $bj = $j; }
          }
          $out[$m] = $bj;
        }
        ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
        """
      })
    }

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** PQ asymmetric-distance table: for query vector vn and foldable
    * per-subspace codebooks (M × k × sub doubles), emit the flat
    * array d[m·k + j] = Σ_i vn[m·sub + i] · c[m][j][i] (left-assoc).
    * One loop nest replaces M·k unrolled product columns — same
    * values, constant-size generated code. */
  case class PqAdcTableExpr(left: Expression, right: Expression)
      extends BinaryExpression {
    override def checkInputDataTypes(): TypeCheckResult = left.dataType match {
      case ArrayType(DoubleType, _) if right.foldable &&
        right.dataType.isInstanceOf[ArrayType] => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (array<double>, foldable array<array<array<double>>>)")
    }
    override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
    override def prettyName: String = "graft_pq_adc_table"

    @transient private lazy val books: Array[Array[Array[Double]]] = {
      val ms = right.eval(null).asInstanceOf[ArrayData]
      Array.tabulate(ms.numElements()) { m =>
        val ks = ms.getArray(m)
        Array.tabulate(ks.numElements())(j => ks.getArray(j).toDoubleArray())
      }
    }

    override protected def nullSafeEval(a: Any, b: Any): Any = {
      val vn = a.asInstanceOf[ArrayData]
      val mN = books.length; val kN = books(0).length
      val sub = books(0)(0).length
      // primitive staging buffer — see LloydAssignCentroids
      val v = new Array[Double](mN * sub)
      var d = 0
      while (d < v.length) { v(d) = vn.getDouble(d); d += 1 }
      val out = new Array[Double](mN * kN)
      var m = 0
      while (m < mN) {
        var j = 0
        while (j < kN) {
          val c = books(m)(j)
          var s = 0.0; var i = 0
          while (i < sub) { s += v(m * sub + i) * c(i); i += 1 }
          out(m * kN + j) = s
          j += 1
        }
        m += 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val bRef = ctx.addReferenceObj("pqBooks", books, "double[][][]")
      val dims = books.length * (if (books.isEmpty) 0 else books(0)(0).length)
      nullSafeCodeGen(ctx, ev, (a, _) => {
        val m = ctx.freshName("m"); val j = ctx.freshName("j")
        val i = ctx.freshName("i"); val s = ctx.freshName("s")
        val kN = ctx.freshName("kN"); val sub = ctx.freshName("sub")
        val out = ctx.freshName("out"); val c = ctx.freshName("c")
        val v = ctx.freshName("v"); val d = ctx.freshName("d")
        s"""
        int $kN = $bRef[0].length;
        int $sub = $bRef[0][0].length;
        double[] $v = new double[$dims];
        for (int $d = 0; $d < $dims; $d++) {
          $v[$d] = $a.getDouble($d);
        }
        double[] $out = new double[$bRef.length * $kN];
        for (int $m = 0; $m < $bRef.length; $m++) {
          for (int $j = 0; $j < $kN; $j++) {
            double[] $c = $bRef[$m][$j];
            double $s = 0.0;
            for (int $i = 0; $i < $sub; $i++) {
              $s += $v[$m * $sub + $i] * $c[$i];
            }
            $out[$m * $kN + $j] = $s;
          }
        }
        ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
        """
      })
    }

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }
}
