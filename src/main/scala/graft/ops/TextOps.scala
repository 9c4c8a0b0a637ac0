package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-pipeline primitives for large-scale corpus processing:
  * tokenization, shingling, content hashing, MinHash, SimHash.
  *
  * All pure Column expressions (whole-stage-codegen'd, no UDFs): every
  * derivation is row-local, so the operators scale embarrassingly —
  * the only shuffles in the dedup pipelines are the candidate-pair
  * joins, which are blocked (LSH bands / shingle inverted index) to
  * keep candidate sets bounded. Extension work beyond the reference's
  * own surface (it has none of these); hashing discipline follows its
  * content-addressed-key idea (etl2_advclean_and_dimcreatin.py:156-162).
  */
object TextOps {
  /** Mersenne prime 2^31-1: modulus for MinHash universal hashing. */
  val P = 2147483647L

  /** Multipliers/offsets for the k=8 MinHash permutations — small odd
    * constants so a*h+b stays well under 2^63. */
  val MinhashA: Seq[Long] = Seq(7L, 13L, 29L, 41L, 53L, 67L, 83L, 97L)
  val MinhashB: Seq[Long] = Seq(3L, 11L, 19L, 31L, 43L, 59L, 71L, 89L)

  /** lower + trim + collapse whitespace — canonical text form. */
  def normText(c: Column): Column =
    regexp_replace(lower(trim(c)), "\\s+", " ")

  /** Word tokens of the canonical form (split on the single spaces
    * normText guarantees). */
  def words(c: Column): Column = split(normText(c), " ")

  /** Word 3-gram shingles; short docs collapse to one whole-doc
    * shingle so every document has a non-empty shingle set.
    * element_at×3, not slice: the transform lambda runs interpreted
    * per shingle, and slice allocates a 3-element array each call —
    * direct indexing measured ~2× cheaper over a 260k-shingle corpus. */
  def shingles3(w: Column): Column =
    when(size(w) >= 3,
      transform(sequence(lit(1), size(w) - 2),
        i => concat_ws(" ", element_at(w, i), element_at(w, i + 1),
          element_at(w, i + 2))))
      .otherwise(array(concat_ws(" ", w)))

  /** String → uniform long in [0, P): first 60 bits of md5, mod P.
    * Reproducible in any engine with md5 + hex→int. */
  def stringHash(s: Column): Column =
    pmod(conv(substring(md5(s), 1, 15), 16, 10).cast("long"), lit(P))

  /** String → uniform long in [0, 2^60): first 60 bits of md5, no
    * modulus — the wide variant for SimHash, where every signature bit
    * must come from an independent hash bit. */
  def stringHash60(s: Column): Column =
    conv(substring(md5(s), 1, 15), 16, 10).cast("long")

  /** `array_distinct(shingles3(words)) → stringHash each`, as ONE
    * native kernel call (graft.functions.TextExpressions) instead of
    * an interpreted transform-over-sequence + per-shingle expression
    * chain. Bit-identical to the composed form (PropertySpec) for
    * non-null input; a NULL words array null-propagates (the composed
    * form would give the whole-doc empty shingle [""], and the DuckDB
    * list_distinct drops NULLs for 0 — the three disagreed before this
    * kernel existed; fixture text is non-null, so none of them fires).
    * Requires GraftExtensions.register (done by Harness.session and
    * Tables.cloneWith). */
  def shingleHashes(wordsCol: Column): Column =
    call_function("graft_shingle_hashes", wordsCol)

  /** `array_distinct(words) → stringHash60 each`, native kernel —
    * the SimHash input shape. */
  def wordHashes60(wordsCol: Column): Column =
    call_function("graft_word_hashes60", wordsCol)

  /** Multiset join-overlap Σ cnt_a(v)·cnt_b(v) of two hash arrays —
    * the row-local equivalent of `explode JOIN explode` + count
    * (native kernel; see TextExpressions.PairOverlap). Requires
    * GraftExtensions.register (done by Harness.session and
    * Tables.cloneWith). */
  def pairOverlap(a: Column, b: Column): Column =
    call_function("graft_pair_overlap", a, b)

  /** MinHash signature (k values) over a set of hashed shingles:
    * mh_i = min over h of (a_i*h + b_i) mod P. Row-local; computed by
    * the native `graft_minhash` expression — one codegen'd loop
    * produces all k mins (the fold variant below runs 8 interpreted
    * `aggregate` lambdas per row). Requires GraftExtensions.register
    * (done by Harness.session and Tables.cloneWith). */
  def minhashSignature(hashes: Column): Column =
    call_function("graft_minhash", hashes)

  /** The composed-built-ins form of [[minhashSignature]] — identical
    * arithmetic (spec cross-checked); kept as the no-custom-expression
    * fallback and as the executable spec of what the native loop does. */
  def minhashSignatureFold(hashes: Column): Column = {
    val mins = MinhashA.zip(MinhashB).map { case (a, b) =>
      aggregate(hashes, lit(P),
        (acc, h) => least(acc, pmod(h * a + b, lit(P))))
    }
    array(mins: _*)
  }

  /** SimHash (nBits wide, default 16) over a set of hashed tokens:
    * bit b is set iff sum over tokens of ±1 (per token-hash bit b) is
    * positive. Row-local; bit test via integer shifts (exact at any
    * hash width) so any engine reproduces it. */
  def simhash(hashes: Column, nBits: Int = 16): Column =
    aggregate(
      sequence(lit(0), lit(nBits - 1)),
      lit(0L),
      (acc, b) => {
        val vote = aggregate(hashes, lit(0L),
          (s, h) => s + when(
            call_function("shiftright", h, b.cast("int")) % 2 === 1, 1L)
            .otherwise(-1L))
        acc + when(vote > 0,
          call_function("shiftleft", lit(1L), b.cast("int"))).otherwise(0L)
      })

  /** SimHash via the native 60-bit kernel — row-local inside
    * whole-stage codegen, no explode/shuffle/aggregate. Bit-identical
    * to [[simhashGrouped]] (PropertySpec cross-checks). Requires
    * GraftExtensions.register (done by Harness.session and
    * Tables.cloneWith). */
  def simhash60Native(hashesCol: Column): Column =
    call_function("graft_simhash60", hashesCol)

  /** SimHash at corpus scale, grouped form: explode token hashes and
    * compute the per-bit votes as codegen'd grouped sums (one shuffle
    * on the doc id) instead of the row-local nested fold, which runs
    * interpreted per (bit × token). Same math as [[simhash]],
    * bit-identical. Superseded on the hot path by [[simhash60Native]]
    * (no explode, no shuffle); kept as the executable spec and the
    * shape a pre-codegen engine would use. */
  def simhashGrouped(df: DataFrame, idCol: String, hashesCol: String,
      nBits: Int): DataFrame = {
    val ex = df.select(col(idCol), explode(col(hashesCol)).as("__h"))
    // shiftright, not floor(h / 2^b): exact at any hash width (double
    // division loses bits past 2^53) and stays integer-codegen'd
    val votes = (0 until nBits).map { b =>
      sum(when(shiftright(col("__h"), b) % 2 === 1, 1L)
        .otherwise(-1L)).as(s"__v$b")
    }
    val sim = (0 until nBits)
      .map(b => when(col(s"__v$b") > 0, lit(1L << b)).otherwise(0L))
      .reduce(_ + _)
    ex.groupBy(col(idCol)).agg(votes.head, votes.tail: _*)
      .select(col(idCol), sim.as("sim"))
  }

  /** Exact content fingerprint: md5 hex of the canonical text. */
  def fingerprintMd5(c: Column): Column = md5(normText(c))

  /** Deterministic sampling bucket in [0, n): salted md5 of the key.
    * Content-addressed (no RNG state), so a sample is reproducible
    * across runs, engines, and batch/streaming — the filter is
    * stateless and watermark-free by construction. */
  def sampleBucket(key: Column, salt: String, n: Long): Column =
    pmod(stringHash(concat(lit(salt), key.cast("string"))), lit(n))

  /** BPE-ish token count: letter runs, digit runs, single punctuation
    * marks — the standard pre-tokenizer shape. */
  def bpeishTokenCount(c: Column): Column =
    size(regexp_extract_all(lower(c), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0)))

  /** Count of tokens that appear in a fixed vocabulary. */
  def vocabHits(tokens: Column, vocab: Seq[String]): Column =
    size(filter(tokens, t => array_contains(array(vocab.map(lit): _*), t)))

  /** Non-printable-ASCII character count (CJK etc. detector that works
    * identically under Java regex and RE2). */
  def nonAsciiCount(c: Column): Column =
    length(regexp_replace(c, "[ -~]", ""))
}
