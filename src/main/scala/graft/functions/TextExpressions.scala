package graft.functions

import graft.ops.TextOps
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expression for the MinHash hot path.
  *
  * The row-local signature was a stack of 8 higher-order `aggregate`
  * folds (one per permutation), each interpreted per element — 8×|set|
  * interpreted lambda frames per document. Here all 8 mins come out of
  * ONE generated loop over the hash array, inside whole-stage codegen.
  * Arithmetic is identical to the fold ((a_i*h + b_i) mod P, running
  * min, empty set → P), so signatures are bit-identical to both the
  * fold and the `MinHashAgg` Aggregator (PropertySpec cross-checks),
  * and the DuckDB oracles keep matching.
  *
  * Inputs are `stringHash` values (non-negative, < P), so a_i*h + b_i
  * stays well under 2^63 and plain Java `%` equals `pmod`.
  */
object TextExpressions {
  /** minhash(hashes: array<long>) → array<long> of k signature mins. */
  case class MinHashSignature(child: Expression) extends UnaryExpression {
    private val k = TextOps.MinhashA.length

    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
      case dt => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects array<bigint>, got ${dt.simpleString}")
    }
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "graft_minhash"

    // null elements are SKIPPED, matching the fold: in the composed
    // form `least(acc, pmod(null*a+b, P))` evaluates to least(acc,
    // null), and Spark's least ignores nulls — a null hash never
    // tightens any permutation min
    override protected def nullSafeEval(input: Any): Any = {
      val xs = input.asInstanceOf[ArrayData]
      val mins = Array.fill(k)(TextOps.P)
      val n = xs.numElements()
      var i = 0
      while (i < n) {
        if (!xs.isNullAt(i)) {
          val h = xs.getLong(i)
          var j = 0
          while (j < k) {
            val v = (TextOps.MinhashA(j) * h + TextOps.MinhashB(j)) % TextOps.P
            if (v < mins(j)) mins(j) = v
            j += 1
          }
        }
        i += 1
      }
      ArrayData.toArrayData(mins)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a => {
        val i = ctx.freshName("i"); val n = ctx.freshName("n")
        val h = ctx.freshName("h"); val v = ctx.freshName("v")
        val m = ctx.freshName("mins")
        val p = TextOps.P
        val perPerm = TextOps.MinhashA.zip(TextOps.MinhashB).zipWithIndex.map {
          case ((av, bv), j) =>
            s"""long $v$j = (${av}L * $h + ${bv}L) % ${p}L;
               if ($v$j < $m[$j]) $m[$j] = $v$j;"""
        }.mkString("\n")
        s"""
        long[] $m = new long[$k];
        java.util.Arrays.fill($m, ${p}L);
        int $n = $a.numElements();
        for (int $i = 0; $i < $n; $i++) {
          if (!$a.isNullAt($i)) {
            long $h = $a.getLong($i);
            $perPerm
          }
        }
        ${ev.value} = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData($m);
        """
      })

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Shared digest kernel: md5 of the UTF-8 bytes, first 15 hex chars
    * as a 60-bit value — identical to
    * `conv(substring(md5(s), 1, 15), 16, 10)` (first 8 digest bytes
    * big-endian, logical-shifted one nibble). */
  private def md5Bits60(md: java.security.MessageDigest,
      s: org.apache.spark.unsafe.types.UTF8String): Long = {
    md.reset()
    val d = md.digest(s.getBytes)
    val be = ((d(0) & 0xffL) << 56) | ((d(1) & 0xffL) << 48) |
      ((d(2) & 0xffL) << 40) | ((d(3) & 0xffL) << 32) |
      ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
      ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
    be >>> 4
  }

  private val Space = org.apache.spark.unsafe.types.UTF8String.fromString(" ")

  /** Distinct word-3-gram shingles of a word array, hashed. Static so
    * the generated code calls one shared kernel (no per-element lambda
    * interpretation); semantics are exactly
    * `array_distinct(shingles3(words))` then per-shingle
    * `stringHash` (mod P) / `stringHash60` (raw 60 bits):
    * first-occurrence order, whole-doc shingle when < 3 words. */
  def shingleHashKernel(words: ArrayData, modP: Boolean,
      dropEmpty: Boolean = false): ArrayData = {
    import org.apache.spark.unsafe.types.UTF8String
    val md = java.security.MessageDigest.getInstance("MD5")
    val n = words.numElements()
    val seen = new java.util.LinkedHashSet[UTF8String]()
    if (n >= 3) {
      var i = 0
      while (i + 2 < n) {
        seen.add(UTF8String.concatWs(Space,
          words.getUTF8String(i), words.getUTF8String(i + 1),
          words.getUTF8String(i + 2)))
        i += 1
      }
    } else {
      val parts = (0 until n).map(words.getUTF8String)
      seen.add(UTF8String.concatWs(Space, parts: _*))
    }
    // dropEmpty filters the empty STRING before hashing (the composed
    // `FILTER s != ''` predicate), never a hash value — a colliding
    // non-empty shingle is unaffected
    if (dropEmpty) seen.remove(UTF8String.EMPTY_UTF8)
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) {
      val h = md5Bits60(md, it.next())
      out(j) = if (modP) h % TextOps.P else h
      j += 1
    }
    ArrayData.toArrayData(out)
  }

  /** Distinct words of a word array, hashed (the SimHash input shape):
    * `array_distinct(words)` then per-word hash, first-occurrence
    * order. Null elements are skipped — the composed form would emit a
    * null hash element instead, but a null token carries no signature
    * signal, and every engine-side producer (`words`) is null-free. */
  def wordHashKernel(words: ArrayData, modP: Boolean): ArrayData = {
    import org.apache.spark.unsafe.types.UTF8String
    val md = java.security.MessageDigest.getInstance("MD5")
    val n = words.numElements()
    val seen = new java.util.LinkedHashSet[UTF8String]()
    var i = 0
    while (i < n) {
      if (!words.isNullAt(i)) seen.add(words.getUTF8String(i))
      i += 1
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) {
      val h = md5Bits60(md, it.next())
      out(j) = if (modP) h % TextOps.P else h
      j += 1
    }
    ArrayData.toArrayData(out)
  }

  /** Base class for the two hash-set expressions: array<string> →
    * array<long>, evaluated through one static kernel call (present in
    * both interpreted and generated paths). */
  abstract class HashSetExpr extends UnaryExpression {
    protected def kernelName: String
    protected def kernel(a: ArrayData): ArrayData

    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case dt => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects array<string>, got ${dt.simpleString}")
    }
    override def dataType: DataType = ArrayType(LongType, containsNull = false)

    override protected def nullSafeEval(input: Any): Any =
      kernel(input.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a => {
        s"${ev.value} = graft.functions.TextExpressions.$kernelName($a);"
      })
  }

  /** shingle_hashes(words) → distinct-3-gram stringHash values. */
  case class ShingleHashes(child: Expression) extends HashSetExpr {
    override def prettyName: String = "graft_shingle_hashes"
    override protected def kernelName: String = "shingleHashesModP"
    override protected def kernel(a: ArrayData): ArrayData = shingleHashesModP(a)
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** shingle_hashes_ne(words) → distinct-3-gram stringHash values with
    * the EMPTY shingle dropped before hashing — the exact kernel form
    * of `explode(array_distinct(shingles3(w))) FILTER s != '' →
    * stringHash(s)` that q_ngram_novelty composes from built-ins
    * (round 13: the interpreted `transform` lambda + per-shingle md5
    * expression chain was the query's dominant stage; the filter is on
    * the STRING pre-hash, identical to the composed predicate).
    * PropertySpec pins kernel == composed. */
  case class ShingleHashesNonEmpty(child: Expression) extends HashSetExpr {
    override def prettyName: String = "graft_shingle_hashes_ne"
    override protected def kernelName: String = "shingleHashesModPNonEmpty"
    override protected def kernel(a: ArrayData): ArrayData =
      shingleHashesModPNonEmpty(a)
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** word_hashes60(words) → distinct-word stringHash60 values. */
  case class WordHashes60(child: Expression) extends HashSetExpr {
    override def prettyName: String = "graft_word_hashes60"
    override protected def kernelName: String = "wordHashes60"
    override protected def kernel(a: ArrayData): ArrayData = wordHashes60(a)
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** SimHash vote kernel, 60 bits: bit b of the signature is set iff
    * Σ over token hashes of (+1 if hash bit b set else −1) is > 0.
    * Bit-identical to the grouped explode+sum form it replaces
    * (`TextOps.simhashGrouped`, whose NULL-element vote is −1 on every
    * bit via `when(NULL,1).otherwise(-1)` — mirrored here; the
    * `graft_word_hashes60` input never contains NULL anyway), and to
    * the DuckDB oracle's nested list_sum for non-empty input (empty →
    * 0 on both sides). Row-local: no explode, no doc-keyed shuffle, no
    * 60-column aggregate — at sf10 the grouped form's 50M exploded
    * vote rows were the query's dominant cost. */
  def simhash60Kernel(hashes: ArrayData): Long = {
    val votes = new Array[Int](60)
    val n = hashes.numElements()
    var i = 0
    while (i < n) {
      if (hashes.isNullAt(i)) {
        var b = 0
        while (b < 60) { votes(b) -= 1; b += 1 }
      } else {
        val h = hashes.getLong(i)
        var b = 0
        while (b < 60) {
          votes(b) += (if (((h >>> b) & 1L) == 1L) 1 else -1)
          b += 1
        }
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 60) { if (votes(b) > 0) sig |= 1L << b; b += 1 }
    sig
  }

  /** simhash60(hashes: array<long>) → 60-bit signature as long. */
  case class SimHash60(child: Expression) extends UnaryExpression {
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
      case dt => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects array<bigint>, got ${dt.simpleString}")
    }
    override def dataType: DataType = LongType
    override def prettyName: String = "graft_simhash60"

    override protected def nullSafeEval(input: Any): Any =
      simhash60Kernel(input.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a => {
        s"${ev.value} = graft.functions.TextExpressions.simhash60Kernel($a);"
      })

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** nfc(s) → Unicode NFC normalization of s — the canonical first
    * step of text cleaning (decomposed accents, compatibility forms
    * from different scrapers collapse to one byte sequence, so exact
    * dedup/fingerprints stop treating 'café' and 'cafe'+U+0301 as
    * different documents). Wraps `java.text.Normalizer` (ICU-free,
    * ships with the JDK) as a codegen'd expression: the generated code
    * calls the same static kernel eval uses, so interpreted and
    * compiled paths are one implementation. */
  case class NfcNormalize(child: Expression) extends UnaryExpression {
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case dt => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects string, got ${dt.simpleString}")
    }
    override def dataType: DataType = StringType
    override def prettyName: String = "graft_nfc"

    override protected def nullSafeEval(input: Any): Any =
      nfcKernel(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, s =>
        s"${ev.value} = graft.functions.TextExpressions.nfcKernel($s);")

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** jaro_winkler(s1, s2) → similarity in [0,1] — the record-linkage
    * scorer that (unlike levenshtein) rewards shared prefixes and
    * tolerates transpositions, the standard choice for name matching.
    *
    * Semantics are the classic Winkler variant (match window
    * max(l1,l2)/2 - 1, transpositions halved, prefix bonus ≤ 4 chars
    * at p=0.1 applied only when jaro > 0.7) with BOTH-empty → 0 —
    * byte-for-byte the behavior of DuckDB's independent
    * `jaro_winkler_similarity`, which the oracle uses: two unrelated
    * implementations agreeing on every scored pair is the correctness
    * evidence. Operates on UTF-16 code units (identical to per-char
    * comparison for the ASCII fixture names; documented boundary). */
  case class JaroWinkler(left: Expression, right: Expression)
      extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
    override def checkInputDataTypes(): TypeCheckResult =
      if (left.dataType == StringType && right.dataType == StringType)
        TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects two string arguments, got " +
          s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
    override def dataType: DataType = DoubleType
    override def prettyName: String = "graft_jaro_winkler"

    override protected def nullSafeEval(a: Any, b: Any): Any =
      jaroWinklerKernel(
        a.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
        b.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) =>
        s"${ev.value} = graft.functions.TextExpressions.jaroWinklerKernel($a, $b);")

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** pair_overlap(a: array<long>, b: array<long>) → bigint: the
    * multiset join count Σ over values v of cnt_a(v)·cnt_b(v) — the
    * number of rows `explode(a) JOIN explode(b) ON equal value` would
    * produce. Row-local replacement for the token-anchored
    * explode-join + groupBy-count that the exact-truth verification
    * stage used to pay per candidate pair (pair × |tokens| shuffle
    * rows): with the shingle-hash arrays carried on the pair row, the
    * overlap is one generated kernel call inside whole-stage codegen.
    * MULTISET (not distinct) semantics are load-bearing: `hs` dedups
    * shingle STRINGS before hashing, so two distinct shingles
    * colliding mod P leave a duplicate hash value, and the SQL join
    * the oracle runs counts cnt_a·cnt_b for it — `array_intersect`
    * (distinct) would silently disagree on exactly those rows. NULL
    * elements never join in SQL, so they are skipped here. */
  case class PairOverlap(left: Expression, right: Expression)
      extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
    private def ok(dt: DataType): Boolean = dt match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    override def checkInputDataTypes(): TypeCheckResult =
      if (ok(left.dataType) && ok(right.dataType))
        TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects two array<bigint> arguments, got " +
          s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
    override def dataType: DataType = LongType
    override def prettyName: String = "graft_pair_overlap"

    override protected def nullSafeEval(a: Any, b: Any): Any =
      pairOverlapKernel(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) =>
        s"${ev.value} = graft.functions.TextExpressions.pairOverlapKernel($a, $b);")

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** Sort-merge multiset overlap: copy non-null values, sort both,
    * two-pointer over equal-value runs multiplying run lengths.
    * O((m+n) log) time, no hashing, no boxing. */
  def pairOverlapKernel(a: ArrayData, b: ArrayData): Long = {
    def vals(x: ArrayData): Array[Long] = {
      val n = x.numElements()
      val out = new Array[Long](n)
      var m = 0; var i = 0
      while (i < n) {
        if (!x.isNullAt(i)) { out(m) = x.getLong(i); m += 1 }
        i += 1
      }
      val r = if (m == n) out else java.util.Arrays.copyOf(out, m)
      java.util.Arrays.sort(r)
      r
    }
    val xs = vals(a); val ys = vals(b)
    var i = 0; var j = 0; var s = 0L
    while (i < xs.length && j < ys.length) {
      if (xs(i) < ys(j)) i += 1
      else if (xs(i) > ys(j)) j += 1
      else {
        val v = xs(i); var ci = 0L; var cj = 0L
        while (i < xs.length && xs(i) == v) { ci += 1; i += 1 }
        while (j < ys.length && ys(j) == v) { cj += 1; j += 1 }
        s += ci * cj
      }
    }
    s
  }

  // static entry points for the generated code (fixed signatures)
  def shingleHashesModP(a: ArrayData): ArrayData = shingleHashKernel(a, modP = true)
  def shingleHashesModPNonEmpty(a: ArrayData): ArrayData =
    shingleHashKernel(a, modP = true, dropEmpty = true)
  def wordHashes60(a: ArrayData): ArrayData = wordHashKernel(a, modP = false)

  /** One pass each for matches and transpositions; O(l1·window) time,
    * two boolean scratch arrays. Validated against DuckDB's
    * implementation on 3000 random string pairs (PropertySpec pins
    * hand-computed values + the empty/equal/boost edge cases). */
  def jaroWinklerKernel(
      a: org.apache.spark.unsafe.types.UTF8String,
      b: org.apache.spark.unsafe.types.UTF8String): Double = {
    val s1 = a.toString; val s2 = b.toString
    val l1 = s1.length; val l2 = s2.length
    if (l1 == 0 || l2 == 0) return 0.0 // DuckDB: any empty side → 0
    if (s1 == s2) return 1.0
    // md can be -1 (two distinct 1-char strings): window is empty and
    // the score is 0 — matches DuckDB
    val md = math.max(l1, l2) / 2 - 1
    val m1 = new Array[Boolean](l1); val m2 = new Array[Boolean](l2)
    var matches = 0
    var i = 0
    while (i < l1) {
      val lo = math.max(0, i - md); val hi = math.min(l2 - 1, i + md)
      var j = lo
      var found = false
      while (j <= hi && !found) {
        if (!m2(j) && s1.charAt(i) == s2.charAt(j)) {
          m1(i) = true; m2(j) = true; matches += 1; found = true
        }
        j += 1
      }
      i += 1
    }
    if (matches == 0) return 0.0
    var t = 0; var k = 0
    i = 0
    while (i < l1) {
      if (m1(i)) {
        while (!m2(k)) k += 1
        if (s1.charAt(i) != s2.charAt(k)) t += 1
        k += 1
      }
      i += 1
    }
    val tr = t / 2
    val m = matches.toDouble
    val jaro = (m / l1 + m / l2 + (m - tr) / m) / 3.0
    if (jaro <= 0.7) jaro
    else {
      val pm = math.min(4, math.min(l1, l2))
      var p = 0
      var stop = false
      while (p < pm && !stop) {
        if (s1.charAt(p) == s2.charAt(p)) p += 1 else stop = true
      }
      jaro + p * 0.1 * (1.0 - jaro)
    }
  }
  def nfcKernel(s: org.apache.spark.unsafe.types.UTF8String): org.apache.spark.unsafe.types.UTF8String = {
    val str = s.toString
    // fast path: Normalizer.isNormalized is O(n) with no allocation,
    // and virtually all real corpus text is already NFC
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
    else org.apache.spark.unsafe.types.UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }

  // MessageDigest is stateful and not thread-safe, and local-mode
  // tasks can evaluate the same plan object concurrently.
  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Winnowing sample kernel for q_dedup_substring: every K=32-code-
    * point substring of `t` whose md5 hex digest starts with '0' (top
    * nibble zero — 1/16 of positions, selected by CONTENT so duplicated
    * regions sample identically at any alignment). Bit-identical to the
    * `explode(sequence(1, length-31)) → substring → md5-prefix filter`
    * pipeline it replaced, which materialized EVERY position through
    * Generate before the sample kept 1 in 16 (round-9 P21 interleaved
    * A/B at sf0.1: 5.27 s → 1.33 s median, same rows+hash; the kernel
    * does the same md5 work but skips the 16× row traffic). The oracle
    * is unchanged: DuckDB's substr/md5 mirror stays valid because the
    * sample SET is the same.
    *
    * Windows are counted in CODE POINTS to match Spark's `length`/
    * `substring` SQL semantics on non-BMP text (PropertySpec pins with
    * surrogate pairs): one UTF-8 pass marks code-point byte offsets
    * (continuation bytes are 10xxxxxx), then each window is digested
    * straight from the byte array — no per-position String or copy
    * until a window is actually kept. */
  def sampledSubstrings32(t: org.apache.spark.unsafe.types.UTF8String): ArrayData = {
    val K = 32
    val bytes = t.getBytes
    var n = 0
    var b = 0
    while (b < bytes.length) { if ((bytes(b) & 0xC0) != 0x80) n += 1; b += 1 }
    if (n < K) return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    val offsets = new Array[Int](n + 1)
    var i = 0; b = 0
    while (b < bytes.length) {
      if ((bytes(b) & 0xC0) != 0x80) { offsets(i) = b; i += 1 }
      b += 1
    }
    offsets(n) = bytes.length
    val md = md5Local.get()
    val out = scala.collection.mutable.ArrayBuffer[Any]()
    i = 0
    val last = n - K
    while (i <= last) {
      val s = offsets(i); val e = offsets(i + K)
      md.reset()
      md.update(bytes, s, e - s)
      if ((md.digest()(0) & 0xF0) == 0)
        out += org.apache.spark.unsafe.types.UTF8String.fromBytes(bytes, s, e - s)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }

  /** sampled_substrings(t: string) → array<string> of the winnowing-
    * sampled 32-code-point shingles (see [[sampledSubstrings32]]). */
  case class SampledSubstrings32(child: Expression) extends UnaryExpression {
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case dt => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects string, got ${dt.simpleString}")
    }
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def prettyName: String = "graft_sampled_substrings"
    override protected def nullSafeEval(input: Any): Any =
      sampledSubstrings32(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, t => {
        s"${ev.value} = graft.functions.TextExpressions.sampledSubstrings32($t);"
      })
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }
}
