package graft.queries

import graft.{CacheReleases, Q, Tables}
import graft.ops.VectorOps._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search + embedding near-dedup over `embeddings`
  * (array<float>, 64-dim). Vectors are L2-normalized once per row and
  * pairwise work is a single unrolled (codegen'd) dot product — the
  * shape that survives a 100× corpus: normalize is row-local, the
  * query side broadcasts, and the only quadratic term is dot products
  * on pre-normalized vectors. The DuckDB oracles mirror the exact
  * accumulation order, and outputs carry ranks / integer basis points,
  * never raw doubles. */
object VectorQueries {
  import Tables.load

  private val Dims = 64

  /** Unrolled `x[1]*y[1] + ... + x[n]*y[n]` as DuckDB SQL (mirrors
    * dotUnrolled's left-assoc order). */
  private def sqlDot(x: String, y: String): String =
    (1 to Dims).map(i => s"$x[$i]*$y[$i]").mkString(" + ")

  private def sqlNormalizedCte: String =
    s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    n AS (SELECT vec_id, [x / sqrt(${sqlDot("v", "v")}) FOR x IN v] AS vn FROM e)"""

  /** Embedding-corpus size per data dir, memoized: the adaptive-plane
    * queries need ONE scalar (the count) before the plan is built, and
    * the bench re-builds each query many times per JVM — so the count
    * job runs once per fixture instead of once per pass. The key
    * carries the fixture's stamp alongside the path (round-12 ADVICE):
    * regenerating a dir IN PLACE at a different size (e.g. /tmp/sf10
    * rebuilt between P34 runs in one long-lived session) changes the
    * stamp and re-counts, so the memoized plane count can no longer
    * silently diverge from the oracle's live COUNT(*). */
  private val corpusSizes =
    new java.util.concurrent.ConcurrentHashMap[(String, (Long, Long)), java.lang.Long]()
  private def corpusSize(spark: SparkSession, dir: String): Long =
    corpusSizes.computeIfAbsent((dir, Tables.fixtureStamp(spark, s"$dir/embeddings.parquet")),
      _ => load(spark, dir, "embeddings").count()).longValue()

  /** Corpus-adaptive bucket CTEs shared by the pair-kernel oracles:
    * `pl` mirrors [[graft.ops.VectorOps.adaptivePlanes]] exactly
    * (integer ceil-div + bit length — no floating log2, so both
    * engines pick the identical count at every N; 4 at every graded
    * SF), `pp`/`b` compute that many planes' signatures with the same
    * LCG weights as the fixed-plane era. */
  private def sqlAdaptiveBucketCtes: String =
    """pl AS (SELECT GREATEST(4, CASE WHEN (COUNT(*) + 499) // 500 > 1
      THEN LENGTH(BIN((COUNT(*) + 499) // 500 - 1)) ELSE 1 END) AS np FROM n),
    pp AS (
      SELECT vec_id, p,
        list_sum([vn[d+1] * (((1103515245*(p*64+d+1)+12345) % 2147483648)
          / 2147483648.0 - 0.5) FOR d IN generate_series(0, 63)]) AS proj
      FROM n, (SELECT unnest(generate_series(0, (SELECT np FROM pl) - 1)) AS p)),
    b AS (
      SELECT vec_id,
        CAST(sum(CASE WHEN proj > 0 THEN CAST(floor(pow(2, p)) AS BIGINT)
          ELSE 0 END) AS BIGINT) AS bucket
      FROM pp GROUP BY vec_id)"""

  /** Brute-force cosine top-k (the exact baseline an ANN variant is
    * judged against). Scale: the query set is broadcast; the corpus is
    * scanned once, top-k per query via window over (query, cos).
    *
    * The query set is FIXED-SIZE (≤ 500: `% 50` spacing capped to the
    * id range < 25000) — a retrieval workload does not grow with the
    * corpus. The cap is load-bearing: an uncapped `% 50` set is 2% OF
    * THE CORPUS, making the baseline O(N²/50) — measured at sf10
    * (500k vectors × 10k queries = 5·10⁹ candidate rows) the rank
    * window became a multi-hour spilling sort. With the cap the scan
    * is O(N·500): linear in the corpus, parallel over its partitions.
    * All fixture ids at the driver's gate scales are < 25000, so
    * results there are unchanged. */
  /** The exact brute-force top-10 over any frame carrying
    * (vec_id, vn) — shared by q_ann_cosine_topk (fresh normalize
    * chain) and the recall queries, which pass their already-cached
    * prep frame so the baseline doesn't re-derive the normalize from
    * the scan (round 13; same chain, same values either way). */
  private def exactTopkFrom(vecs: DataFrame): DataFrame = {
    val e = vecs.select(col("vec_id"), col("vn"))
    val q = e.filter(col("vec_id") % 50 === 0 && col("vec_id") < 25000)
      .select(col("vec_id").as("q_id"), col("vn").as("qn"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    e.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .withColumn("cos", dotNative(col("qn"), col("vn")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .select(col("q_id"), col("rank"), col("vec_id").as("neighbor_id"))
  }

  val qAnnCosineTopk = Q(
    "q_ann_cosine_topk",
    (spark, dir) => {
      exactTopkFrom(
        withNormalizedNative(load(spark, dir, "embeddings"), "embedding", "vn"))
    },
    Some(s"""WITH $sqlNormalizedCte,
    q AS (SELECT vec_id AS q_id, vn AS qn FROM n WHERE vec_id % 50 = 0 AND vec_id < 25000),
    c AS (
      SELECT q.q_id, n.vec_id, ${sqlDot("qn", "vn")} AS cos
      FROM n JOIN q ON n.vec_id != q.q_id)
    SELECT q_id, CAST(rank AS INTEGER) AS rank, vec_id AS neighbor_id FROM (
      SELECT q_id, vec_id,
        row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id ASC) AS rank
      FROM c) WHERE rank <= 10"""),
    "Similarity search: brute-force cosine top-k per query (exact baseline)")

  /** Random-hyperplane LSH bucketing — the ANN scale path: signatures
    * are row-local, near-neighbor work becomes per-bucket. Output is
    * the bucket histogram (deterministic signature check). */
  val qAnnLshBuckets = Q(
    "q_ann_lsh_buckets",
    (spark, dir) => {
      val e = load(spark, dir, "embeddings")
        // unrolled cast (codegen'd): `transform` runs interpreted per
        // element; float→double widening is exact either way
        .select(col("vec_id"), toDoublesUnrolled(col("embedding"), Dims).as("v"))
      e.withColumn("bucket", lshBucket(col("v"), 8, Dims))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_vecs"), min("vec_id").as("min_vec_id"))
    },
    Some("""WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    pp AS (
      SELECT vec_id, p,
        list_sum([v[d+1] * (((1103515245*(p*64+d+1)+12345) % 2147483648)
          / 2147483648.0 - 0.5) FOR d IN generate_series(0, 63)]) AS proj
      FROM e, (SELECT unnest(generate_series(0, 7)) AS p)),
    b AS (
      SELECT vec_id,
        CAST(sum(CASE WHEN proj > 0 THEN CAST(floor(pow(2, p)) AS BIGINT)
          ELSE 0 END) AS BIGINT) AS bucket
      FROM pp GROUP BY vec_id)
    SELECT bucket, COUNT(*) AS n_vecs, min(vec_id) AS min_vec_id
    FROM b GROUP BY bucket"""),
    "Similarity search scale path: random-hyperplane LSH bucket histogram")

  /** Embedding-cosine near-dedup, LSH-blocked — the 100 TB shape:
    * vectors are bucketed by random-hyperplane signature (plane count
    * corpus-adaptive, [[graft.ops.VectorOps.adaptivePlanes]] — 4 at
    * the graded SFs, growing with log N so bucket occupancy stays
    * ~constant and the per-bucket kernel never goes quadratic), then
    * each bucket's pairs run through the per-bucket primitive-array
    * kernel (cos ≥ 0.45 in basis points). No corpus-sized collect, no
    * all-pairs join; candidate recall loss across bucket boundaries
    * is the documented ANN trade. Buckets are deterministic, so the
    * DuckDB oracle joins on the same bucket and is exact. */
  val qDedupEmbCosine = Q(
    "q_dedup_emb_cosine",
    (spark, dir) => {
      val emb = load(spark, dir, "embeddings")
      // bounded driver action: ONE scalar (the corpus size) picks the
      // plane count; memoized per dir, so repeated builds skip the job
      val planes = adaptivePlanes(corpusSize(spark, dir))
      val e = withNormalizedNative(emb, "embedding", "vn")
        .select(col("vec_id"), col("vn"))
        .withColumn("bucket", lshBucket(col("vn"), planes, Dims))
      bucketedPairsCosineAtLeast(e, "bucket", "vec_id", "vn", 4500L)
        .select(col("vec_id_a").as("vec_a"), col("vec_id_b").as("vec_b"),
          col("cos_bp"))
    },
    Some(s"""WITH $sqlNormalizedCte,
    $sqlAdaptiveBucketCtes,
    nb AS (SELECT n.vec_id, n.vn, b.bucket FROM n JOIN b USING (vec_id)),
    p AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        CAST(round(10000 * (${sqlDot("a.vn", "b.vn")})) AS BIGINT) AS cos_bp
      FROM nb a JOIN nb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
    SELECT vec_a, vec_b, cos_bp FROM p WHERE cos_bp >= 4500"""),
    "Near-dedup: embedding cosine pairs, LSH-bucketed kernel (scale shape)")

  /** IVF-style ANN: the scale path made concrete. Vectors are
    * LSH-bucketed (coarse quantizer; plane count corpus-adaptive so a
    * bucket holds ~500 vectors at any N); each query probes only its
    * own bucket, so per-query work is bucket-sized — ~CONSTANT, not a
    * fixed fraction of the corpus. Same output shape as the exact
    * baseline (q_ann_cosine_topk) — recall loss is the documented
    * trade (q_ann_ivf_recall measures it; the TRAINED multi-probe
    * variant q_ann_ivf_trained is the recall-governed scale path);
    * candidates and ranks are fully deterministic, so the oracle is
    * exact. */
  val qAnnIvfTopk = Q(
    "q_ann_ivf_topk",
    (spark, dir) => {
      val emb = load(spark, dir, "embeddings")
      val planes = adaptivePlanes(corpusSize(spark, dir))
      val e = withNormalizedNative(emb, "embedding", "vn")
        .select(col("vec_id"), col("vn"))
        .withColumn("bucket", lshBucket(col("vn"), planes, Dims))
      val q = e.filter(col("vec_id") % 50 === 0 && col("vec_id") < 25000)
        .select(col("vec_id").as("q_id"), col("vn").as("qn"), col("bucket"))
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("cos").desc, col("vec_id").asc)
      e.join(broadcast(q), Seq("bucket"))
        .filter(col("vec_id") =!= col("q_id"))
        .withColumn("cos", dotNative(col("qn"), col("vn")))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 10)
        .select(col("q_id"), col("rank"), col("vec_id").as("neighbor_id"))
    },
    Some(s"""WITH $sqlNormalizedCte,
    $sqlAdaptiveBucketCtes,
    nb AS (SELECT n.vec_id, n.vn, b.bucket FROM n JOIN b USING (vec_id)),
    q AS (SELECT vec_id AS q_id, vn AS qn, bucket FROM nb WHERE vec_id % 50 = 0 AND vec_id < 25000),
    c AS (
      SELECT q.q_id, nb.vec_id, ${sqlDot("qn", "vn")} AS cos
      FROM nb JOIN q USING (bucket) WHERE nb.vec_id != q.q_id)
    SELECT q_id, CAST(rank AS INTEGER) AS rank, vec_id AS neighbor_id FROM (
      SELECT q_id, vec_id,
        row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id ASC) AS rank
      FROM c) WHERE rank <= 10"""),
    "Similarity search scale path: IVF/LSH-bucketed approximate top-k")

  /** The DuckDB mirror of two Lloyd rounds (seed → assign → update →
    * assign → cluster stats). Centroid means come from integer sums
    * (order-independent, so Spark's parallel aggregation agrees
    * exactly); the metric is the same left-assoc double formula both
    * engines evaluate over those exact integers. */
  private def sqlKmeans: String = {
    s"""WITH $sqlKmeansChain
    SELECT CAST(cluster AS INTEGER) AS cluster, COUNT(*) AS n_vecs,
      min(vec_id) AS min_vec_id
    FROM a2 GROUP BY cluster"""
  }

  /** The shared CTE chain (normalize → quantize → seed → two Lloyd
    * rounds → final assignment `a2(vec_id, cluster)`) — used by both
    * the k-means histogram oracle and the SemDeDup oracle. */
  private def sqlKmeansChain: String = {
    val dotVqC = (1 to Dims).map(i => s"vq[$i]*c[$i]").mkString(" + ")
    val sums = (1 to Dims).map(i => s"sum(vq[$i])").mkString(", ")
    s"""$sqlNormalizedCte,
    q AS (SELECT vec_id,
      [CAST(round(vn[i]*1000) AS BIGINT) FOR i IN generate_series(1, $Dims)] AS vq
      FROM n),
    seeds AS (SELECT vec_id, vq, row_number() OVER (ORDER BY vec_id) - 1 AS j
      FROM q QUALIFY j < 4),
    c0 AS (SELECT j, [CAST(x AS DOUBLE) FOR x IN vq] AS c FROM seeds),
    c0h AS (SELECT j, c, list_sum([x*x FOR x IN c]) / 2 AS hn FROM c0),
    a1 AS (SELECT vec_id, vq, j AS cluster FROM (
        SELECT q.vec_id, q.vq, t.j, ($dotVqC) - t.hn AS m
        FROM q CROSS JOIN c0h t)
      QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY m DESC, j ASC) = 1),
    u AS (SELECT cluster AS j, COUNT(*) AS n, [$sums] AS s FROM a1 GROUP BY cluster),
    c1 AS (SELECT cl.j,
        CASE WHEN u.j IS NULL THEN c0x.c
             ELSE [CAST(s[i] AS DOUBLE) / n FOR i IN generate_series(1, $Dims)]
        END AS c
      FROM (SELECT unnest(generate_series(0, 3)) AS j) cl
      LEFT JOIN u ON u.j = cl.j
      JOIN c0 c0x ON c0x.j = cl.j),
    c1h AS (SELECT j, c, list_sum([x*x FOR x IN c]) / 2 AS hn FROM c1),
    a2 AS (SELECT vec_id, j AS cluster FROM (
        SELECT q.vec_id, t.j, ($dotVqC) - t.hn AS m
        FROM q CROSS JOIN c1h t)
      QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY m DESC, j ASC) = 1)"""
  }

  /** K-means (Lloyd) training over the embeddings — the IVF coarse
    * quantizer's training step (q_ann_ivf_topk uses fixed hyperplanes;
    * real IVF trains its cells). k=4, two assignment rounds; output is
    * the final cluster histogram. Assignment is row-local (centroids
    * are plan literals), the update is one map-side-combinable integer
    * shuffle, and only k rows reach the driver — see ops.KMeans for
    * why the integer-space aggregation makes an exact cross-engine
    * oracle possible. */
  val qKmeansLloyd = Q(
    "q_kmeans_lloyd",
    (spark, dir) => {
      val e = withNormalizedNative(load(spark, dir, "embeddings"), "embedding", "vn")
        .select(col("vec_id"),
          graft.ops.KMeans.quantize1000(col("vn")).as("vq"))
        // seeds + update + final assignment each act on this lineage
        .transform(CacheReleases.persisted)
      graft.ops.KMeans.lloydAssign(e, "vq", "vec_id", 4, Dims, 2, "cluster")
        .groupBy("cluster")
        .agg(count(lit(1)).as("n_vecs"), min("vec_id").as("min_vec_id"))
    },
    Some(sqlKmeans),
    "K-means Lloyd training (IVF quantizer): row-local assign, integer-exact update")

  /** Symmetric int8 quantization of the embedding column — the
    * compression step that makes a 100 TB vector corpus servable
    * (4× smaller than float32, SIMD-friendly dot products downstream).
    * Per vector: scale = max|x| (guarded), q_i = round(127·x_i/scale)
    * — entirely row-local unrolled codegen'd expressions, zero
    * shuffles. Output is integer evidence of the quantization (scale
    * in 1e-6 units, sum of quantized values, clip/zero counts), never
    * raw doubles, so the cross-engine compare is exact. */
  val qVecQuantize = Q(
    "q_vec_quantize",
    (spark, dir) => {
      // native graft_quantize kernel: the unrolled-built-ins form of
      // this math is a 192-term projection whose generated method blows
      // HotSpot's JIT size limit and runs interpreted (~120 µs/row
      // measured at sf0.1); the one-loop expression is a normal hot
      // method. PropertySpec pins native == unrolled == oracle.
      val e = load(spark, dir, "embeddings")
      e.select(col("vec_id"),
          call_function("graft_quantize", col("embedding")).as("qz"))
        .select(col("vec_id"), col("qz.amax_e6").as("amax_e6"),
          col("qz.sum_q").as("sum_q"), col("qz.n_clip").as("n_clip"),
          col("qz.n_zero").as("n_zero"))
    },
    Some {
      val absArgs = (1 to Dims).map(i => s"abs(v[$i])").mkString(", ")
      val qCols = (1 to Dims).map(i => s"round(v[$i]*127.0/amax) AS q$i").mkString(", ")
      val sumQ = (1 to Dims).map(i => s"q$i").mkString(" + ")
      val nClip = (1 to Dims).map(i => s"(CASE WHEN abs(q$i) = 127 THEN 1 ELSE 0 END)").mkString(" + ")
      val nZero = (1 to Dims).map(i => s"(CASE WHEN q$i = 0 THEN 1 ELSE 0 END)").mkString(" + ")
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      a AS (SELECT vec_id, v, greatest(greatest($absArgs), 1e-30) AS amax FROM e),
      q AS (SELECT vec_id, amax, $qCols FROM a)
      SELECT vec_id,
        CAST(round(amax*1000000.0) AS BIGINT) AS amax_e6,
        CAST($sumQ AS BIGINT) AS sum_q,
        CAST($nClip AS BIGINT) AS n_clip,
        CAST($nZero AS BIGINT) AS n_zero
      FROM q"""
    },
    "Int8 embedding quantization: row-local scale + clamp, integer evidence")

  /** PQ geometry: M subspaces of Dims/M dims, PqK codewords each
    * (PqBits = log2 PqK bits per subspace in the packed code).
    * Round-12 P33 sweep at sf0.01 (recall@10 vs exact, bits/vector):
    * (4,8)=13%@12b — the round-11 shipping point — (4,16)=18%@16b,
    * (8,8)=23%@24b, (8,16)=31%@32b, (8,32)=38%@40b, (16,16)=43%@64b.
    * Round 13 ships (8,256) = 8 bytes/vector, THE production PQ
    * layout (one byte per subspace — what FAISS-style IVF-PQ deploys
    * at billion scale): 32× smaller than the raw 256-byte float32
    * vector, recall governed by q_ann_pq_recall (VERDICT r12 item 5
    * targets ≥ 70%; the extended P33 table is in DEVLOG r13). Codes
    * are trained per subspace with the same integer-exact Lloyd
    * machinery at any k — only these constants move. */
  private[graft] val PqM = 8
  private val PqSub = Dims / PqM
  private[graft] val PqK = 256
  private[graft] val PqBits = 8
  /** Lloyd rounds for PQ codebook training (seed counts as round 1,
    * matching ops.KMeans semantics). */
  private[graft] val PqIters = 2

  /** One subspace's Lloyd training as DuckDB CTEs (mirrors
    * ops.KMeans seed/assign/update exactly — the same machinery the
    * q_kmeans_lloyd oracle already proves): q_m quantized subvectors,
    * seeds → c0 → one update (u, c1) → final assignment a2_m. */
  private def sqlPqSub(m: Int): String = {
    val lo = m * PqSub + 1; val hi = (m + 1) * PqSub
    val dot = (1 to PqSub).map(i => s"vq[$i]*c[$i]").mkString(" + ")
    val sums = (1 to PqSub).map(i => s"sum(vq[$i])").mkString(", ")
    s"""q_$m AS (SELECT vec_id,
      [CAST(round(vn[i]*1000) AS BIGINT) FOR i IN generate_series($lo, $hi)] AS vq
      FROM n),
    seeds_$m AS (SELECT vec_id, vq, row_number() OVER (ORDER BY vec_id) - 1 AS j
      FROM q_$m QUALIFY j < $PqK),
    c0_$m AS (SELECT j, [CAST(x AS DOUBLE) FOR x IN vq] AS c FROM seeds_$m),
    c0h_$m AS (SELECT j, c, list_sum([x*x FOR x IN c]) / 2 AS hn FROM c0_$m),
    a1_$m AS (SELECT vec_id, vq, j AS cluster FROM (
        SELECT q.vec_id, q.vq, t.j, ($dot) - t.hn AS m
        FROM q_$m q CROSS JOIN c0h_$m t)
      QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY m DESC, j ASC) = 1),
    u_$m AS (SELECT cluster AS j, COUNT(*) AS n, [$sums] AS s
      FROM a1_$m GROUP BY cluster),
    c1_$m AS (SELECT cl.j,
        CASE WHEN u.j IS NULL THEN c0x.c
             ELSE [CAST(s[i] AS DOUBLE) / n FOR i IN generate_series(1, $PqSub)]
        END AS c
      FROM (SELECT unnest(generate_series(0, ${PqK - 1})) AS j) cl
      LEFT JOIN u_$m u ON u.j = cl.j
      JOIN c0_$m c0x ON c0x.j = cl.j),
    c1h_$m AS (SELECT j, c, list_sum([x*x FOR x IN c]) / 2 AS hn FROM c1_$m),
    a2_$m AS (SELECT vec_id, j AS code FROM (
        SELECT q.vec_id, t.j, ($dot) - t.hn AS m
        FROM q_$m q CROSS JOIN c1h_$m t)
      QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY m DESC, j ASC) = 1)"""
  }

  /** Product-quantization encoding — the compression that makes
    * billion-vector ANN serviceable: split each (normalized) vector
    * into PqM subspaces of Dims/PqM dims, train an independent
    * PqK-codeword Lloyd codebook per subspace (same integer-exact
    * machinery as q_kmeans_lloyd, so the oracle mirrors it exactly),
    * and encode every vector as its M nearest-centroid ids packed
    * into one small code. Here the code is M·PqBits = 40 bits;
    * production PQ uses k=256 (one byte per subspace, 64 dims →
    * 8 bytes instead of 256) — the plan shape is identical, only the
    * literal count grows.
    *
    * Scale: per subspace, training is the Lloyd shape (row-local
    * assignment against centroid literals, ONE combinable integer
    * update shuffle, k rows to the driver); encoding is entirely
    * row-local. The corpus is persisted once and never shuffles. */
  val qAnnPqEncode = Q(
    "q_ann_pq_encode",
    (spark, dir) => {
      val base = withNormalizedNative(load(spark, dir, "embeddings"), "embedding", "vn")
        .select(col("vec_id"),
          graft.ops.KMeans.quantize1000(col("vn")).as("vq"))
        .select(col("vec_id") +: col("vq") +: (0 until PqM).map(m =>
          slice(col("vq"), m * PqSub + 1, PqSub).as(s"vq_$m")): _*)
        // one seed action + one update pass serve ALL subspaces
        // (lloydTrainMulti); the persisted lineage is read ~3 times
        // total instead of ~9 (round 13)
        .transform(CacheReleases.persisted)
      val vqCols = (0 until PqM).map(m => s"vq_$m")
      val cents = graft.ops.KMeans.lloydTrainMulti(base, vqCols, "vec_id", PqK, PqSub, 2)
      val cur = graft.ops.KMeans.assignMulti(base, "vq", cents,
        (0 until PqM).map(m => s"code_$m"))
      // Packed code is TWO longs (pq_lo = subspaces 0..M/2-1, pq_hi =
      // the rest): the (8,256) geometry is 64 packed bits, which a
      // single SIGNED long cannot hold — code_7 << 56 reaches the sign
      // bit, where Spark wraps silently and DuckDB BIGINT errors. Two
      // 32-bit halves keep both engines in exact positive arithmetic
      // at any geometry with (M/2)·PqBits ≤ 62. Shift constants stay
      // Long literals (1 << 35 wraps in 32-bit arithmetic — the
      // round-12 bug class).
      val half = PqM / 2
      cur.select(col("vec_id") +:
        (0 until PqM).map(m => col(s"code_$m").cast("int").as(s"code_$m")) :+
        (0 until half).map(m => col(s"code_$m") * lit(1L << (PqBits * m)))
          .reduce(_ + _).cast("long").as("pq_lo") :+
        (half until PqM).map(m =>
            col(s"code_$m") * lit(1L << (PqBits * (m - half))))
          .reduce(_ + _).cast("long").as("pq_hi"): _*)
    },
    Some {
      val half = PqM / 2
      val codeCols = (0 until PqM)
        .map(m => s"CAST(a2_$m.code AS INTEGER) AS code_$m").mkString(", ")
      val packedLo = (0 until half)
        .map(m => s"a2_$m.code * ${1L << (PqBits * m)}").mkString(" + ")
      val packedHi = (half until PqM)
        .map(m => s"a2_$m.code * ${1L << (PqBits * (m - half))}").mkString(" + ")
      val joins = (1 until PqM).map(m => s"JOIN a2_$m USING (vec_id)").mkString(" ")
      s"""WITH $sqlNormalizedCte,
    ${(0 until PqM).map(sqlPqSub).mkString(",\n    ")}
    SELECT a2_0.vec_id, $codeCols,
      CAST($packedLo AS BIGINT) AS pq_lo,
      CAST($packedHi AS BIGINT) AS pq_hi
    FROM a2_0 $joins"""
    },
    "PQ encoding: per-subspace Lloyd codebooks, row-local encode, packed codes")

  /** PQ asymmetric-distance (ADC) search — the query path that makes
    * the codes useful: each query precomputes ONE M×k lookup table
    * (query-subvector · codeword, exact doubles), then every corpus
    * vector is scored by M table lookups on its PqBits-bit codes — the
    * full vectors never participate in the scan. Top-10 per query by
    * (sim desc, id asc); vectors sharing a code tie exactly and break
    * on id, so the ranking is deterministic in both engines.
    *
    * Scale: this is the shape that serves a billion vectors — the
    * corpus side carries only vec_id + M small codes (bytes, not
    * 256-byte floats), the per-query table is built once and
    * broadcast with the query set, and scoring is M integer-indexed
    * branches in codegen. Training + encoding reuse the PQ
    * machinery; the scan cost is O(corpus × M), not O(corpus × Dims).
    * The frames it persists belong to the RETURNED plan. */
  private def pqAdcTopk(spark: SparkSession, dir: String): DataFrame = {
    val base = withNormalizedNative(load(spark, dir, "embeddings"), "embedding", "vn")
      .select(col("vec_id"), col("vn"),
        graft.ops.KMeans.quantize1000(col("vn")).as("vq"))
      .select(col("vec_id") +: col("vn") +: col("vq") +: (0 until PqM).map(m =>
        slice(col("vq"), m * PqSub + 1, PqSub).as(s"vq_$m")): _*)
      // persisted for the TRAINING actions AND the post-training
      // consumers (encode scan, query table — each would otherwise
      // re-derive the row-local prep; round 13 — the
      // unpersist-after-training form re-derived prep twice).
      .transform(CacheReleases.persisted)
    val cents = graft.ops.KMeans.lloydTrainMulti(base,
      (0 until PqM).map(m => s"vq_$m"), "vec_id", PqK, PqSub, PqIters)
    val coded = graft.ops.KMeans.assignMulti(base, "vq", cents,
      (0 until PqM).map(m => s"code_$m"))
    // materialize the codes: encode-once-scan-codes is the PQ
    // contract, and without the barrier codegen fuses all the
    // assignment projections (~2k product terms) into the rank
    // sort's method, which blows the 64 KB limit and runs
    // interpreted (measured: 2.3-5.4 s → ~1 s at sf0.1)
    val corpus = coded.select(col("vec_id") +:
      (0 until PqM).map(m => col(s"code_$m")): _*)
      .transform(CacheReleases.persisted)
    // per-query ADC table: d[m·k+j] = q-subvector · codeword j of
    // subspace m, computed ONCE per query as a single native-
    // expression array (exact vn doubles, left-assoc i order —
    // bit-identical to the oracle's t_m CTE and to the unrolled
    // column form this replaces); scoring is M codegen'd
    // element_at lookups instead of an M·k-way when-chain
    val qt = base.filter(col("vec_id") % 50 === 0 && col("vec_id") < 25000)
      .select(col("vec_id").as("q_id"),
        call_function("graft_pq_adc_table", col("vn"),
          typedLit(cents.map(_.map(_.c.toSeq)))).as("adc"))
    val sim = (0 until PqM).map(m =>
      element_at(col("adc"), col(s"code_$m") + lit(m * PqK + 1)))
      .reduceLeft(_ + _)
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("vec_id").asc)
    // narrow to 3 columns BEFORE the window: the rank sort otherwise
    // inlines all M code + M·k table columns into its generated
    // sorter, which blows the 64 KB codegen method limit and falls
    // back to interpreted (measured: 2.6→0.9 s at sf0.1)
    corpus.join(broadcast(qt), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), sim.as("sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .select(col("q_id"), col("rank"), col("vec_id").as("neighbor_id"))
  }

  val qAnnPqAdc = Q(
    "q_ann_pq_adc",
    (spark, dir) => {
      pqAdcTopk(spark, dir)
    },
    Some {
      def qdot(m: Int): String =
        (1 to PqSub).map(i => s"vn[${m * PqSub + i}]*c[$i]").mkString(" + ")
      val codeSel = (0 until PqM).map(m => s"a2_$m.code AS code_$m").mkString(", ")
      val codeJoins = (1 until PqM).map(m => s"JOIN a2_$m USING (vec_id)").mkString(" ")
      val tCtes = (0 until PqM).map(m =>
        s"t_$m AS (SELECT q_id, j, (${qdot(m)}) AS d FROM qs CROSS JOIN c1_$m)")
        .mkString(",\n    ")
      // Left-deep MATERIALIZED chain, one table-lookup join per step
      // (round 12): the previous flat 8-way join form let the
      // optimizer order the t_m lookups as cross products (the only
      // equality between two t_m's routes through t_0.q_id), which
      // blew up at M=8 — the sf0.01 oracle never returned. Chaining
      // s_m = s_{m-1} ⋈ t_m pins both the join ORDER and the addition
      // order: sim accumulates left-assoc exactly like the Spark
      // side's reduceLeft.
      val sCtes = (0 until PqM).map { m =>
        if (m == 0) {
          val carry = (1 until PqM).map(x => s"codes.code_$x").mkString(", ")
          s"""s_0 AS MATERIALIZED (SELECT t_0.q_id, codes.vec_id, $carry, t_0.d AS sim
      FROM codes JOIN t_0 ON t_0.j = codes.code_0)"""
        } else {
          val p = s"s_${m - 1}"
          val carry = ((m + 1) until PqM).map(x => s"$p.code_$x, ").mkString
          s"""s_$m AS MATERIALIZED (SELECT $p.q_id, $p.vec_id, $carry$p.sim + t_$m.d AS sim
      FROM $p JOIN t_$m ON t_$m.j = $p.code_$m AND t_$m.q_id = $p.q_id)"""
        }
      }.mkString(",\n    ")
      s"""WITH $sqlNormalizedCte,
    ${(0 until PqM).map(sqlPqSub).mkString(",\n    ")},
    qs AS (SELECT vec_id AS q_id, vn FROM n WHERE vec_id % 50 = 0 AND vec_id < 25000),
    $tCtes,
    codes AS MATERIALIZED (SELECT a2_0.vec_id, $codeSel FROM a2_0 $codeJoins),
    $sCtes,
    adc AS (SELECT q_id, vec_id, sim FROM s_${PqM - 1} WHERE vec_id != q_id)
    SELECT q_id, CAST(rank AS INTEGER) AS rank, vec_id AS neighbor_id FROM (
      SELECT q_id, vec_id,
        row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id ASC) AS rank
      FROM adc) WHERE rank <= 10"""
    },
    "PQ ADC search: per-query lookup tables over packed PQ codes, top-10")

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup =
    * cluster the embedding space with a TRAINED quantizer (k-means),
    * then search for near-duplicates only within each cluster — the
    * trained twin of q_dedup_emb_cosine's fixed-hyperplane blocking.
    * Keep-first rule: a vector is removed iff a lower-id vector in its
    * cluster has cosine ≥ τ; its canonical is the smallest such id
    * (a min(struct) aggregate — map-side combinable, never a window).
    *
    * Scale: assignment is row-local (centroids are plan literals), the
    * pair kernel is per-cluster; k must grow ~N/target_cluster_size so
    * per-cluster work stays bounded (the paper runs k=50k over 5B
    * embeddings — same shape, bigger k). No corpus collect, no
    * all-pairs join. */
  val qSemanticDedup = Q(
    "q_semantic_dedup",
    (spark, dir) => {
      val e = withNormalizedNative(load(spark, dir, "embeddings"), "embedding", "vn")
        .select(col("vec_id"), col("vn"))
        .withColumn("vq", graft.ops.KMeans.quantize1000(col("vn")))
        .transform(CacheReleases.persisted)
      val assigned = graft.ops.KMeans
        .lloydAssign(e, "vq", "vec_id", 4, Dims, 2, "cluster")
        .select(col("cluster"), col("vec_id"), col("vn"))
      val pairs = bucketedPairsCosineAtLeast(assigned, "cluster", "vec_id", "vn", 4500L)
      pairs.groupBy(col("vec_id_b").as("vec_id"))
        .agg(min(struct(col("vec_id_a"), col("cos_bp"))).as("m"))
        .select(col("vec_id"), col("m.vec_id_a").as("canonical_id"),
          col("m.cos_bp").as("cos_bp"))
    },
    Some(s"""WITH $sqlKmeansChain,
    nb AS (SELECT a2.vec_id, a2.cluster, n.vn FROM a2 JOIN n USING (vec_id)),
    p AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
      CAST(round(10000 * (${sqlDot("a.vn", "b.vn")})) AS BIGINT) AS cos_bp
      FROM nb a JOIN nb b ON a.cluster = b.cluster AND a.vec_id < b.vec_id),
    f AS (SELECT * FROM p WHERE cos_bp >= 4500),
    r AS (SELECT b_id, a_id, cos_bp,
      row_number() OVER (PARTITION BY b_id ORDER BY a_id ASC, cos_bp ASC) AS rn
      FROM f)
    SELECT b_id AS vec_id, a_id AS canonical_id, cos_bp FROM r WHERE rn = 1"""),
    "SemDeDup: k-means-clustered embedding space, within-cluster cosine dedup")

  /** Hybrid retrieval — reciprocal-rank fusion (Cormack et al. 2009)
    * of a lexical ranking and a vector ranking, the standard RAG
    * retrieval shape. Queries are the docs with vec_id % 50 == 0
    * (doc_id aligns with vec_id in the fixture):
    *   - lexical: candidates ranked per query by shared distinct-word
    *     count over a df-capped (≤ 50) inverted index — the same
    *     bounded-posting-list shape as the n-gram dedup family, so
    *     pair work never goes quadratic on stopwords;
    *   - vector: exact cosine rank over the broadcast query set (the
    *     q_ann_cosine_topk shape; swap in the IVF/LSH variant at
    *     corpus scale).
    * Fusion: RRF_ppm = Σ 1_000_000 div (60 + rank) over the systems
    * that returned the doc (k=60 per the paper) — integer arithmetic,
    * so fused scores compare exactly cross-engine. Top-10 per query.
    * The query set is fixed-size (≤ 500, same cap + rationale as
    * q_ann_cosine_topk): retrieval workloads don't scale with the
    * corpus, and capping keeps both sides linear in N.
    *
    * Scale: the index join shuffles on term with bounded lists; the
    * cosine side broadcasts only the query rows; fusion is a
    * candidate-sized groupBy. Nothing corpus-sized is collected. */
  val qRrfHybrid = Q(
    "q_rrf_hybrid",
    (spark, dir) => {
      import graft.ops.TextOps.words
      val DfCap = 50
      val TopN = 20
      // lexical side: df-capped distinct-word inverted index
      val toks = load(spark, dir, "documents").repartition(col("doc_id"))
        .select(col("doc_id"), explode(array_distinct(words(col("text")))).as("term"))
        .transform(CacheReleases.persisted)
      val hot = toks.groupBy("term").agg(count(lit(1)).as("df"))
        .filter(col("df") > DfCap).select("term")
      val idx = toks.join(broadcast(hot), Seq("term"), "left_anti")
      val qToks = idx.filter(col("doc_id") % 50 === 0 && col("doc_id") < 25000)
        .select(col("doc_id").as("q_id"), col("term"))
      val overlap = idx.join(qToks, Seq("term"))
        .filter(col("doc_id") =!= col("q_id"))
        .groupBy("q_id", "doc_id")
        .agg(count(lit(1)).as("overlap"))
      val wLex = org.apache.spark.sql.expressions.Window.partitionBy(col("q_id"))
        .orderBy(col("overlap").desc, col("doc_id").asc)
      val lex = overlap.withColumn("rank", row_number().over(wLex))
        .filter(col("rank") <= TopN).select("q_id", "doc_id", "rank")
      // vector side: exact cosine top-N per broadcast query
      val e = withNormalizedNative(load(spark, dir, "embeddings"), "embedding", "vn")
        .select(col("vec_id"), col("vn"))
      val qv = e.filter(col("vec_id") % 50 === 0 && col("vec_id") < 25000)
        .select(col("vec_id").as("q_id"), col("vn").as("qn"))
      val wVec = org.apache.spark.sql.expressions.Window.partitionBy(col("q_id"))
        .orderBy(col("cos").desc, col("vec_id").asc)
      val vec = e.join(broadcast(qv), col("vec_id") =!= col("q_id"))
        .withColumn("cos", dotNative(col("qn"), col("vn")))
        .withColumn("rank", row_number().over(wVec))
        .filter(col("rank") <= TopN)
        .select(col("q_id"), col("vec_id").as("doc_id"), col("rank"))
      // reciprocal-rank fusion, integer ppm
      val fused = lex.unionByName(vec)
        .select(col("q_id"), col("doc_id"),
          expr("1000000 div (60 + rank)").as("rrf"))
        .groupBy("q_id", "doc_id")
        .agg(sum(col("rrf")).as("rrf_ppm"), count(lit(1)).as("n_systems"))
      val wF = org.apache.spark.sql.expressions.Window.partitionBy(col("q_id"))
        .orderBy(col("rrf_ppm").desc, col("doc_id").asc)
      fused.withColumn("fused_rank", row_number().over(wF))
        .filter(col("fused_rank") <= 10)
        .select(col("q_id"), col("fused_rank").cast("int").as("fused_rank"),
          col("doc_id"), col("rrf_ppm"), col("n_systems"))
    },
    Some(s"""WITH $sqlNormalizedCte,
    toks AS (SELECT doc_id,
        unnest(list_distinct(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '))) AS term
      FROM documents),
    idx AS (SELECT doc_id, term FROM toks
      WHERE term NOT IN (SELECT term FROM toks GROUP BY term HAVING COUNT(*) > 50)),
    qt AS (SELECT doc_id AS q_id, term FROM idx WHERE doc_id % 50 = 0 AND doc_id < 25000),
    ov AS (SELECT qt.q_id, idx.doc_id, COUNT(*) AS overlap
      FROM idx JOIN qt USING (term) WHERE idx.doc_id != qt.q_id GROUP BY 1, 2),
    lex AS (SELECT q_id, doc_id, rank FROM (
      SELECT q_id, doc_id,
        row_number() OVER (PARTITION BY q_id ORDER BY overlap DESC, doc_id ASC) AS rank
      FROM ov) WHERE rank <= 20),
    qv AS (SELECT vec_id AS q_id, vn AS qn FROM n WHERE vec_id % 50 = 0 AND vec_id < 25000),
    cs AS (SELECT qv.q_id, n.vec_id AS doc_id, ${sqlDot("qn", "vn")} AS cos
      FROM n JOIN qv ON n.vec_id != qv.q_id),
    vec AS (SELECT q_id, doc_id, rank FROM (
      SELECT q_id, doc_id,
        row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, doc_id ASC) AS rank
      FROM cs) WHERE rank <= 20),
    u AS (SELECT q_id, doc_id, 1000000 // (60 + rank) AS rrf FROM lex
      UNION ALL
      SELECT q_id, doc_id, 1000000 // (60 + rank) AS rrf FROM vec),
    fused AS (SELECT q_id, doc_id, CAST(SUM(rrf) AS BIGINT) AS rrf_ppm,
        COUNT(*) AS n_systems
      FROM u GROUP BY 1, 2)
    SELECT q_id, CAST(fused_rank AS INTEGER) AS fused_rank, doc_id, rrf_ppm,
      n_systems FROM (
      SELECT q_id, doc_id, rrf_ppm, n_systems,
        row_number() OVER (PARTITION BY q_id ORDER BY rrf_ppm DESC, doc_id ASC) AS fused_rank
      FROM fused) WHERE fused_rank <= 10"""),
    "Hybrid retrieval: RRF fusion of df-capped lexical rank + cosine rank")

  /** Mutual k-nearest-neighbor graph over the embedding corpus — the
    * edge structure that semantic clustering / graph-based dedup /
    * manifold sampling all start from (mutual-kNN is the standard
    * noise-robust variant: an edge survives only if BOTH endpoints
    * rank each other in their top-k). Candidates come from the same
    * 4-plane LSH buckets as q_dedup_emb_cosine (per-bucket kernel, no
    * all-pairs join); per-vector top-3 by (cos desc, id asc) is a
    * key-partitioned window over bucket-bounded candidates; the mutual
    * filter is ONE hash aggregate on the unordered pair key (count==2
    * ⇔ both directions survived their top-k window — sound because the
    * bucket kernel emits each unordered pair at most once: one bucket
    * per vector, i<j enumeration).
    * Cross-bucket recall loss is the documented ANN trade.
    * Scale: pairs are bucket-quadratic (bounded by bucket size), edges
    * ≤ 3N after the window — every later stage is linear in N. */
  /** Mutual-kNN edges (the q_knn_graph construction), reused by the
    * semantic-clusters composition. Round-10 shape (VERDICT r9 item 1):
    * the former mutuality SELF-JOIN on the reversed edge re-shuffled
    * the persisted top-k frame twice (one exchange per join side) and
    * forced the persist in the first place; the pair-key groupBy does
    * it in ONE map-side-combinable exchange over a single pass, so the
    * top-k frame has exactly one consumer and the persist (plus its
    * materialization cost) is gone. */
  private def knnEdges(spark: SparkSession, dir: String): DataFrame = {
    val emb = load(spark, dir, "embeddings")
    // bounded driver action: ONE scalar (corpus size) → plane count;
    // adaptive planes keep bucket occupancy ~constant so the pair
    // kernel stays linear per decade (round-12 sf10 gate: 4 fixed
    // planes ran the sf10 kernel quadratic, 32×/decade)
    val planes = adaptivePlanes(corpusSize(spark, dir))
    val e = withNormalizedNative(emb, "embedding", "vn")
      .select(col("vec_id"), col("vn"))
      .withColumn("bucket", lshBucket(col("vn"), planes, Dims))
    val pairs = bucketedPairsCosineAtLeast(e, "bucket", "vec_id", "vn", 1000L)
    // Symmetric expansion via ONE generate, not a self-union: a union
    // of two selects over `pairs` scans it twice, and `pairs` is the
    // O(bucket²) flatMapGroups kernel — the whole shuffle + dot-product
    // pass would run per side (round-6 shave; bench: 12.4 s → see
    // DEVLOG). explode doubles the rows in the same pass.
    val directed = pairs.select(explode(array(
        struct(col("vec_id_a").as("src"), col("vec_id_b").as("dst"),
          col("cos_bp").as("cos_bp")),
        struct(col("vec_id_b").as("src"), col("vec_id_a").as("dst"),
          col("cos_bp").as("cos_bp")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"),
        col("e.cos_bp").as("cos_bp"))
    val w = Window.partitionBy("src")
      .orderBy(col("cos_bp").desc, col("dst").asc)
    val top = directed.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
    // mutual ⇔ BOTH directions of the unordered pair survived their
    // window: each direction appears at most once (kernel emits each
    // unordered pair once), so count==2 is exact. cos_bp is symmetric
    // (both rows carry the one pair row's value) — min = that value.
    top.groupBy(least(col("src"), col("dst")).as("vec_a"),
        greatest(col("src"), col("dst")).as("vec_b"))
      .agg(count(lit(1)).as("_n"), min(col("cos_bp")).as("cos_bp"))
      .filter(col("_n") === 2)
      .select(col("vec_a"), col("vec_b"), col("cos_bp"))
  }

  /** The mutual-top-3 edge list as DuckDB CTEs, shared by the
    * q_knn_graph oracle and the recursive clusters oracle. */
  private def knnSqlCtes: String = s"""$sqlNormalizedCte,
    $sqlAdaptiveBucketCtes,
    nb AS (SELECT n.vec_id, n.vn, b.bucket FROM n JOIN b USING (vec_id)),
    p AS (
      SELECT a.vec_id AS va, b.vec_id AS vb,
        CAST(round(10000 * (${sqlDot("a.vn", "b.vn")})) AS BIGINT) AS cos_bp
      FROM nb a JOIN nb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
    pf AS (SELECT * FROM p WHERE cos_bp >= 1000),
    d AS (SELECT va AS src, vb AS dst, cos_bp FROM pf
      UNION ALL SELECT vb, va, cos_bp FROM pf),
    t AS (SELECT src, dst, cos_bp,
      row_number() OVER (PARTITION BY src ORDER BY cos_bp DESC, dst) AS rk
      FROM d),
    tk AS (SELECT * FROM t WHERE rk <= 3)"""

  val qKnnGraph = Q(
    "q_knn_graph",
    (spark, dir) => {
      knnEdges(spark, dir)
    },
    Some(s"""WITH $knnSqlCtes
    SELECT x.src AS vec_a, x.dst AS vec_b, x.cos_bp AS cos_bp
    FROM tk x JOIN tk y ON x.src = y.dst AND x.dst = y.src
    WHERE x.src < x.dst"""),
    "Mutual kNN graph (k=3) from LSH-bucketed candidates")

  /** Semantic clustering as a composition of two proven parts: the
    * mutual-kNN edge structure (above) fed into the large-star/
    * small-star connected-components machinery of the dedup family
    * (`ops.Components`) — how manifold-style corpus clustering
    * actually runs at scale (edges are ≤ 3N after the top-k window;
    * the component loop is O(log n) rounds of key-partitioned joins
    * with a localCheckpoint barrier per round). Output is the
    * per-vector cluster assignment (cluster = min vec_id of the
    * component), oracled by the exact recursive transitive closure
    * over the SAME edge CTEs — composition proven end-to-end, not
    * assumed from part-wise greens.
    * The recursive oracle is GATE-SCALE only: reach accumulates
    * |C|² (vertex, root) pairs per component, so a 1860-member sf1
    * cluster makes the DuckDB closure blow up — precisely why the
    * engine side runs large-star/small-star instead. sf1 evidence is
    * an exact union-find differential over the sf1 edge list
    * (DEVLOG round 4f: 18600 vertices, 504 clusters, byte-equal). */
  val qSemanticClusters = Q(
    "q_semantic_clusters",
    (spark, dir) => {
      val edges = knnEdges(spark, dir)
        .select(col("vec_a").as("u"), col("vec_b").as("v"))
      // escalateAfter=0: straight to the large-star/small-star phase.
      // The mutual-kNN manifold graph is CHAIN-shaped (diameter >> 4),
      // so the min-label phase never converges within any small budget
      // — its rounds are pure warm-up cost before the O(log n) star
      // phase runs anyway. Same labels either way (both phases converge
      // to the component minimum); round-10 same-host A/B at sf0.1:
      // 7.09 s (budget 4) -> 6.20 s (skip straight to stars). Dedup
      // graphs keep the default: they are star-shaped and the
      // propagation phase converges in <= 3 cheap rounds there.
      // uniqueOrderedPairs: the mutual-kNN aggregate emits each pair
      // once with vec_a < vec_b, so the star phase starts from the
      // reversed input directly — no symmetric-closure explode/persist
      // and no filter+distinct exchange (Components scaladoc).
      graft.ops.Components.connectedComponents(edges, escalateAfter = 0,
          uniqueOrderedPairs = true)
        .select(col("vtx").as("vec_id"), col("comp").as("cluster"))
    },
    Some(s"""WITH RECURSIVE $knnSqlCtes,
    mut AS (
      SELECT x.src AS a, x.dst AS b
      FROM tk x JOIN tk y ON x.src = y.dst AND x.dst = y.src
      WHERE x.src < x.dst),
    edges AS (
      SELECT a AS u, b AS v FROM mut
      UNION
      SELECT b AS u, a AS v FROM mut),
    reach(v, r) AS (
      SELECT u AS v, u AS r FROM edges
      UNION
      SELECT e.u AS v, reach.r
      FROM edges e JOIN reach ON reach.v = e.v)
    SELECT v AS vec_id, min(r) AS cluster FROM reach GROUP BY v"""),
    "Semantic clusters: mutual-kNN edges -> connected components")

  /** Covariance of the first 8 embedding dimensions as a single-pass
    * aggregate — the feature-stats primitive behind whitening / PCA
    * preprocessing. Values go to exact integer micro-units first
    * (float→double is exact, both engines round the same double), so
    * every sum is associative and merge-order independent; the d²
    * product sums accumulate as DECIMAL(38,0) (the q_stats_corr
    * convention — BIGINT would overflow near n·1e12).
    *
    * Scale: ONE map-side-combinable aggregate over the corpus — d²+d+1
    * accumulators, no shuffle of data rows, a 1-row result exploded to
    * (i,j) pairs driver-free via stack(). cov_num = n·Σxy − Σx·Σy is
    * the exact integer numerator (cov = cov_num / n² micro²); emitting
    * the numerator keeps the compare exact with no double division.
    *
    * Output representation (round-4 driver hash-fail fix): DECIMAL is
    * INTERNAL ONLY. Σxy and cov_num leave the query as two BIGINT
    * limbs each (hi/lo, base 1e14: v = hi·1e14 + lo, lo carries the
    * dividend's sign — Spark Remainder and DuckDB HUGEINT % are both
    * truncated, so the limbs match bit-for-bit). decimal128 output
    * columns hash through arbitrary-precision paths that differ
    * across parquet readers (same class as the round-1 HUGEINT
    * incident); BIGINT limbs hash identically everywhere. Two limbs
    * cover |v| ≤ 9.2e18·1e14 ≈ 9e32, i.e. n up to ~2e10 rows at
    * micro-unit scale — past 100 TB; the DECIMAL(38,0) accumulator
    * itself caps at n ≈ 7e12. The DuckDB mirror splits limbs in
    * HUGEINT (never DOUBLE: v−lo exceeds 2^53 long before the limb
    * bound, and float division would corrupt hi). */
  val qCovarianceMatrix: Q = {
    val D = 8
    val pairs = for { i <- 0 until D; j <- i until D } yield (i, j)
    val sqlXs = (0 until D).map(i =>
      s"CAST(round(CAST(embedding[${i + 1}] AS DOUBLE) * 1e6) AS BIGINT) AS x$i")
      .mkString(", ")
    val sqlAggs = ((0 until D).map(i => s"CAST(SUM(x$i) AS BIGINT) AS s$i") ++
      pairs.map { case (i, j) => s"CAST(SUM(x$i*x$j) AS DECIMAL(38,0)) AS p${i}_$j" })
      .mkString(", ")
    val B = 100000000000000L // 1e14 limb base; see Scaladoc
    val sqlRows = pairs.map { case (i, j) =>
      s"""SELECT i, j, n, sx_i, sx_j,
        CAST((sxy - sxy % $B) // $B AS BIGINT) AS sxy_hi,
        CAST(sxy % $B AS BIGINT) AS sxy_lo,
        CAST((cov - cov % $B) // $B AS BIGINT) AS cov_hi,
        CAST(cov % $B AS BIGINT) AS cov_lo
      FROM (SELECT CAST($i AS BIGINT) AS i, CAST($j AS BIGINT) AS j, n,
        s$i AS sx_i, s$j AS sx_j, CAST(p${i}_$j AS HUGEINT) AS sxy,
        CAST(p${i}_$j AS HUGEINT)*n - CAST(s$i AS HUGEINT)*s$j AS cov
        FROM g)"""
    }.mkString("\n      UNION ALL ")
    Q(
      "q_covariance_matrix",
      (spark, dir) => {
        val dec = org.apache.spark.sql.types.DecimalType(38, 0)
        val e = load(spark, dir, "embeddings")
        val xs = e.select((0 until D).map(i =>
          round(element_at(col("embedding"), i + 1).cast("double") * 1e6)
            .cast("long").as(s"x$i")): _*)
        val aggCols = Seq(count(lit(1)).as("n")) ++
          (0 until D).map(i => sum(col(s"x$i")).as(s"s$i")) ++
          pairs.map { case (i, j) =>
            sum((col(s"x$i") * col(s"x$j")).cast(dec)).as(s"p${i}_$j") }
        val g = xs.agg(aggCols.head, aggCols.tail: _*)
        val stackArgs = pairs.map { case (i, j) =>
          s"CAST($i AS BIGINT), CAST($j AS BIGINT), s$i, s$j, p${i}_$j"
        }.mkString(", ")
        // Limb split in exact decimal arithmetic: lo = v % B (truncated,
        // sign of dividend), hi = (v − lo)/B — the numerator is an exact
        // multiple of B, so the decimal divide is exact at any scale.
        def limbs(v: org.apache.spark.sql.Column, name: String) = Seq(
          ((v - (v % B)) / B).cast("long").as(s"${name}_hi"),
          (v % B).cast("long").as(s"${name}_lo"))
        val covNum = ((col("sxy") * col("n")).cast(dec) -
          (col("sx_i").cast(dec) * col("sx_j")).cast(dec)).cast(dec)
        g.select(col("n"),
          expr(s"stack(${pairs.length}, $stackArgs) AS (i, j, sx_i, sx_j, sxy)"))
          .select(Seq(col("i"), col("j"), col("n"), col("sx_i"), col("sx_j")) ++
            limbs(col("sxy"), "sxy") ++ limbs(covNum, "cov"): _*)
      },
      Some(s"""WITH xs AS (SELECT $sqlXs FROM embeddings),
      g AS (SELECT COUNT(*) AS n, $sqlAggs FROM xs)
      $sqlRows"""),
      "Single-pass exact covariance of embedding dims (d^2 combinable integer sums)")
  }

  /** Johnson-Lindenstrauss random projection 64 → 16 dims with a ±1
    * sign matrix derived from a FIXED hash (parity of
    * bit_count(i·1000003 + j·7919)) — no matrix to broadcast, no
    * vocabulary pass, reproducible in any engine. The classic
    * dimensionality-reduction front-end for ANN at corpus scale
    * (Achlioptas 2003: ±1 entries preserve pairwise distances in
    * expectation like Gaussian ones).
    *
    * Scale: completely row-local and shuffle-free; micro-unit longs
    * keep every sum exact (|p_j| ≤ 64·1e6·0.6 ≪ 2^63). The 64
    * element_at casts are materialized ONCE as named columns before
    * the 16 sum expressions reference them — the round-1 nested-
    * expression trap would otherwise inline each cast 16×. */
  val qRandomProjection: Q = {
    val InD = 64; val OutD = 16
    def sgn(i: Int, j: Int): Int =
      if (java.lang.Long.bitCount(i.toLong * 1000003L + j.toLong * 7919L) % 2 == 0) 1 else -1
    val sqlXs = (0 until InD).map(i =>
      s"CAST(round(CAST(embedding[${i + 1}] AS DOUBLE) * 1e6) AS BIGINT) AS x$i")
      .mkString(", ")
    val sqlProjs = (0 until OutD).map { j =>
      (0 until InD).map(i => s"${if (sgn(i, j) > 0) "+" else "-"} x$i")
        .mkString(" ") + s" AS p$j"
    }.mkString(", ")
    Q(
      "q_random_projection",
      (spark, dir) => {
        val e = load(spark, dir, "embeddings")
        val xs = e.select(col("vec_id") +: (0 until InD).map(i =>
          round(element_at(col("embedding"), i + 1).cast("double") * 1e6)
            .cast("long").as(s"x$i")): _*)
        val projs = (0 until OutD).map { j =>
          (0 until InD).map(i =>
            if (sgn(i, j) > 0) col(s"x$i") else -col(s"x$i"))
            .reduce(_ + _).as(s"p$j")
        }
        xs.select(col("vec_id") +: projs: _*)
      },
      Some(s"""WITH xs AS (SELECT vec_id, $sqlXs FROM embeddings)
      SELECT vec_id, $sqlProjs FROM xs"""),
      "Johnson-Lindenstrauss +-1 projection 64->16 (hash-derived signs, shuffle-free)")
  }

  /** Semi-supervised label propagation over the mutual-kNN graph: a
    * seed set (every 20th vector keeps its `label`) spreads by
    * majority vote of labeled neighbors for 2 synchronous rounds —
    * how a small amount of human labeling annotates a corpus-scale
    * embedding space (Zhu & Ghahramani 2002). Deterministic by
    * construction: votes break ties (count desc, label asc), rounds
    * are synchronous, and already-labeled nodes are clamped.
    *
    * Scale: per round, one key-partitioned join (edges ⋈ labels) +
    * one combinable vote aggregate + one per-node window — all keyed
    * by vector id, nothing corpus²; edges are ≤ 3N (mutual top-3).
    * The oracle replays both rounds as SQL CTEs over the same edge
    * construction — composition proven end-to-end. */
  val qLabelPropagation = Q(
    "q_label_propagation",
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val em = load(spark, dir, "embeddings")
      val seeds = em.filter(pmod(col("vec_id"), lit(20)) === 0)
        .select(col("vec_id"), col("label").cast("long").as("lab"),
          lit(0L).as("rnd"))
      val mut = knnEdges(spark, dir).select(col("vec_a"), col("vec_b"))
      // one generate, not a self-union: the union form executes the
      // mutual-kNN join lineage once per side
      val edges = mut.select(explode(array(
          struct(col("vec_a").as("u"), col("vec_b").as("v")),
          struct(col("vec_b").as("u"), col("vec_a").as("v")))).as("e"))
        .select(col("e.u").as("u"), col("e.v").as("v"))
        .transform(CacheReleases.persisted)
      def spread(lab: org.apache.spark.sql.DataFrame, r: Int): org.apache.spark.sql.DataFrame = {
        val nbr = edges
          .join(lab.select(col("vec_id").as("v"), col("lab")), Seq("v"))
          .select(col("u"), col("lab"))
        val unl = nbr.join(lab.select(col("vec_id").as("u")), Seq("u"), "left_anti")
        val w = Window.partitionBy("u").orderBy(col("c").desc, col("lab").asc)
        unl.groupBy("u", "lab").agg(count(lit(1)).as("c"))
          .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
          .select(col("u").as("vec_id"), col("lab"), lit(r.toLong).as("rnd"))
      }
      val l1 = seeds.union(spread(seeds, 1))
        .transform(CacheReleases.persisted)
      l1.union(spread(l1, 2))
    },
    Some(s"""WITH $knnSqlCtes,
    mut AS (
      SELECT x.src AS a, x.dst AS b FROM tk x
      JOIN tk y ON x.src = y.dst AND x.dst = y.src
      WHERE x.src < x.dst),
    ed AS (SELECT a AS u, b AS v FROM mut UNION ALL SELECT b AS u, a AS v FROM mut),
    seeds AS (
      SELECT vec_id, CAST(label AS BIGINT) AS lab, CAST(0 AS BIGINT) AS rnd
      FROM embeddings WHERE vec_id % 20 = 0),
    v1 AS (
      SELECT e.u, s.lab, COUNT(*) AS c FROM ed e JOIN seeds s ON e.v = s.vec_id
      WHERE e.u NOT IN (SELECT vec_id FROM seeds) GROUP BY 1, 2),
    r1 AS (
      SELECT u AS vec_id, lab, CAST(1 AS BIGINT) AS rnd FROM v1
      QUALIFY row_number() OVER (PARTITION BY u ORDER BY c DESC, lab ASC) = 1),
    l1 AS (SELECT * FROM seeds UNION ALL SELECT * FROM r1),
    v2 AS (
      SELECT e.u, s.lab, COUNT(*) AS c FROM ed e JOIN l1 s ON e.v = s.vec_id
      WHERE e.u NOT IN (SELECT vec_id FROM l1) GROUP BY 1, 2),
    r2 AS (
      SELECT u AS vec_id, lab, CAST(2 AS BIGINT) AS rnd FROM v2
      QUALIFY row_number() OVER (PARTITION BY u ORDER BY c DESC, lab ASC) = 1)
    SELECT * FROM l1 UNION ALL SELECT * FROM r2"""),
    "Semi-supervised label propagation (2 synchronous majority rounds, mutual-kNN)")

  /** Recall governance for the ANN variants (VERDICT r10 item 5): the
    * MinHash family grades its recall via q_dedup_lsh_eval, but IVF
    * and PQ had no equivalent — an approximate index whose recall is
    * never measured is not a scale path, it's a hope. recall@10 of the
    * approximate top-k against the exact brute-force top-k on the SAME
    * probe set, as one aggregated row (n_exact / n_approx / n_hit /
    * recall_ppm, integer ppm so the compare is exact).
    *
    * Both sides reuse the graded queries' own builders and oracle SQL
    * verbatim (composed as subqueries), so this row grades exactly
    * what q_ann_ivf_topk / q_ann_pq_adc ship — any drift in either
    * chain shows up here as a recall change. Scale: the heavy work is
    * the two top-k queries themselves; the eval adds only
    * probe-set-sized joins (≤ 500 queries × 10 ranks).
    *
    * Absolute recall on THIS fixture is low by construction: the
    * synthetic embeddings are near-uniform on the sphere, the
    * adversarial case for cell-probe ANN (a random query's true
    * neighbors spread evenly across cells, so 1-probe IVF recall ≈
    * cell mass, and coarse PQ quantization error swamps the tiny
    * cosine gaps between near-ties). Real corpora cluster; the eval is
    * here to MEASURE the trade, not to flatter it. The round-12
    * trained-IVF and (8,32) PQ geometries lift it regardless — see
    * q_ann_ivf_trained_recall and the P32/P33 sweeps. */
  private def annRecallQ(name: String, exact: Q, approx: Q, doc: String): Q = Q(
    name,
    (spark, dir) => {
      val ex = exact.build(spark, dir).select(col("q_id"), col("neighbor_id"))
        .withColumn("__e", lit(1))
      val ap = approx.build(spark, dir).select(col("q_id"), col("neighbor_id"))
        .withColumn("__a", lit(1))
      // (q_id, neighbor_id) is unique per side (top-k rank rows), so a
      // single full-outer join scans each expensive top-k subtree
      // exactly once and one aggregate yields all three counts — no
      // persist (round-11 ADVICE: the previous count+count+semi-join
      // form cached both sides and never unpersisted them, leaking two
      // top-k result frames for the session's lifetime).
      ex.join(ap, Seq("q_id", "neighbor_id"), "full_outer")
        .agg(count(col("__e")).as("n_exact"),
          count(col("__a")).as("n_approx"),
          count(when(col("__e").isNotNull && col("__a").isNotNull, 1))
            .as("n_hit"))
        .select(col("n_exact"), col("n_approx"), col("n_hit"),
          expr("CASE WHEN n_exact > 0 THEN (n_hit * 1000000) div n_exact END")
            .as("recall_ppm"))
    },
    Some(s"""WITH ex AS (
      SELECT q_id, neighbor_id FROM (${exact.oracle.get})),
    ap AS (SELECT q_id, neighbor_id FROM (${approx.oracle.get})),
    h AS (SELECT COUNT(*) AS n_hit FROM ex JOIN ap USING (q_id, neighbor_id))
    SELECT (SELECT COUNT(*) FROM ex) AS n_exact,
      (SELECT COUNT(*) FROM ap) AS n_approx, h.n_hit,
      CASE WHEN (SELECT COUNT(*) FROM ex) > 0
           THEN (h.n_hit * 1000000) // (SELECT COUNT(*) FROM ex) END
        AS recall_ppm
    FROM h"""),
    doc)

  val qAnnIvfRecall = annRecallQ("q_ann_ivf_recall", qAnnCosineTopk, qAnnIvfTopk,
    "IVF recall governance: recall@10 of the bucketed top-k vs the exact baseline")

  /** Trained-IVF geometry: IvfK Lloyd-trained cells (2 training
    * rounds — the q_kmeans_lloyd machinery), IvfProbe nearest cells
    * probed per query. Chosen from the round-12 P32 sweep at sf0.01
    * against the fixed-hyperplane variant's 15% recall@10: at every
    * iso-candidate budget FINER cells + MORE probes dominate (e.g.
    * ~1300 candidates buys 57% at k=16/np=4 but 74% at k=32/np=8 and
    * 78% at k=64/np=16). 64/8 lands at 64% recall for ~np/k ≈ 13% of
    * the corpus scanned per query — 4.3× the recall of the untrained
    * bucketer at half the scan of the first trained draft. At corpus
    * scale k grows (√N is customary) at fixed nprobe, so the scanned
    * fraction shrinks with N. */
  private val IvfK = 64
  private val IvfProbe = 8

  /** Shared chain for the trained-IVF queries: train IvfK cells over
    * the quantized corpus, assign every vector to its cell (row-local
    * argmax against centroid literals), rank each query's cells by the
    * SAME metric (graft_lloyd_scores — argmax equals the assignment by
    * construction) and keep the IvfProbe best, then score only the
    * probed cells' members. Returns (q_id, vec_id, cos).
    *
    * Scale: training is the Lloyd shape (one combinable integer
    * shuffle per round, k rows to the driver); the probe set is
    * fixed-size and broadcast; per-query candidates are the mass of
    * IvfProbe cells ≈ IvfProbe/IvfK of the corpus here — and in a real
    * deployment k grows with the corpus (k ≈ √N is customary) at fixed
    * nprobe, so per-query work SHRINKS relative to N; nothing
    * corpus-sized ever reaches the driver or a single partition. */
  private def ivfTrainedChain(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val base = withNormalizedNative(load(spark, dir, "embeddings"), "embedding", "vn")
      .select(col("vec_id"), col("vn"),
        graft.ops.KMeans.quantize1000(col("vn")).as("vq"))
      // persisted for the TRAINING actions and the two downstream
      // consumers (corpus assign, query probes), which would otherwise
      // re-derive the row-local normalize+quantize from the scan
      // (round 13).
      .transform(CacheReleases.persisted)
    val cents = graft.ops.KMeans.lloydTrain(base, "vq", "vec_id", IvfK, Dims, 2)
    val corpus = graft.ops.KMeans.assign(base, "vq", cents, "cell")
      .select(col("vec_id"), col("vn"), col("cell"))
    val centsLit = typedLit(cents.sortBy(_.j).map(_.c.toSeq))
    val pw = Window.partitionBy(col("q_id"))
      .orderBy(col("m").desc, col("cell").asc)
    val probes = base.filter(col("vec_id") % 50 === 0 && col("vec_id") < 25000)
      .select(col("vec_id").as("q_id"), col("vn").as("qn"),
        posexplode(call_function("graft_lloyd_scores", col("vq"), centsLit))
          .as(Seq("cell", "m")))
      .withColumn("pr", row_number().over(pw))
      .filter(col("pr") <= IvfProbe)
      .select(col("q_id"), col("qn"), col("cell"))
    val cand = corpus.join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), dotNative(col("qn"), col("vn")).as("cos"))
    (cand, base)
  }

  /** The trained chain as DuckDB CTEs: generalizes sqlKmeansChain to
    * IvfK cells and adds the per-query multi-probe CTEs. `asg` is the
    * corpus cell assignment (the a2 analogue), `cand` the scored
    * probe-cell members. Metric doubles are derived from exact integer
    * sums with a fixed left-assoc formula, so cell ranks (and thus the
    * candidate SET) are bit-identical cross-engine. */
  private def sqlIvfTrainedCand: String =
    s"""${sqlIvfCellCtes(IvfProbe)},
    cand AS (SELECT ps.q_id, asg.vec_id, ${sqlDot("qv.vn", "nv.vn")} AS cos
      FROM ps JOIN asg USING (cell)
      JOIN n nv ON nv.vec_id = asg.vec_id
      JOIN n qv ON qv.vec_id = ps.q_id
      WHERE asg.vec_id != ps.q_id)"""

  /** The cell-training + probe CTE prefix shared by the trained-IVF
    * and IVF-PQ oracles: `q` (quantized corpus), two Lloyd rounds at
    * IvfK (`seeds`→`c1h`), corpus assignment `asg(vec_id, cell)`,
    * query set `qs(q_id, vn, vq)`, and the per-query `nprobe` best
    * cells `ps(q_id, cell)`. */
  private def sqlIvfCellCtes(nprobe: Int): String = {
    val k = IvfK
    val dotVqC = (1 to Dims).map(i => s"vq[$i]*c[$i]").mkString(" + ")
    val sums = (1 to Dims).map(i => s"sum(vq[$i])").mkString(", ")
    s"""$sqlNormalizedCte,
    q AS (SELECT vec_id,
      [CAST(round(vn[i]*1000) AS BIGINT) FOR i IN generate_series(1, $Dims)] AS vq
      FROM n),
    seeds AS (SELECT vec_id, vq, row_number() OVER (ORDER BY vec_id) - 1 AS j
      FROM q QUALIFY j < $k),
    c0 AS (SELECT j, [CAST(x AS DOUBLE) FOR x IN vq] AS c FROM seeds),
    c0h AS (SELECT j, c, list_sum([x*x FOR x IN c]) / 2 AS hn FROM c0),
    a1 AS (SELECT vec_id, vq, j AS cluster FROM (
        SELECT q.vec_id, q.vq, t.j, ($dotVqC) - t.hn AS m
        FROM q CROSS JOIN c0h t)
      QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY m DESC, j ASC) = 1),
    u AS (SELECT cluster AS j, COUNT(*) AS n, [$sums] AS s FROM a1 GROUP BY cluster),
    c1 AS (SELECT cl.j,
        CASE WHEN u.j IS NULL THEN c0x.c
             ELSE [CAST(s[i] AS DOUBLE) / n FOR i IN generate_series(1, $Dims)]
        END AS c
      FROM (SELECT unnest(generate_series(0, ${k - 1})) AS j) cl
      LEFT JOIN u ON u.j = cl.j
      JOIN c0 c0x ON c0x.j = cl.j),
    c1h AS (SELECT j, c, list_sum([x*x FOR x IN c]) / 2 AS hn FROM c1),
    asg AS (SELECT vec_id, j AS cell FROM (
        SELECT q.vec_id, t.j, ($dotVqC) - t.hn AS m
        FROM q CROSS JOIN c1h t)
      QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY m DESC, j ASC) = 1),
    qs AS (SELECT n.vec_id AS q_id, n.vn, q.vq FROM n JOIN q USING (vec_id)
      WHERE n.vec_id % 50 = 0 AND n.vec_id < 25000),
    ps AS (SELECT q_id, j AS cell FROM (
        SELECT qs.q_id, t.j, ($dotVqC) - t.hn AS m
        FROM qs CROSS JOIN c1h t)
      QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY m DESC, j ASC) <= $nprobe)"""
  }

  /** The IVF-PQ chain as DuckDB CTEs, ending in `rkd(q_id, vec_id,
    * adc_rk)` (every probed-cell candidate, ADC-ranked) and
    * `rr(q_id, vec_id, cos)` (the exact-re-ranked shortlist). Composes
    * the proven cell chain (above) with the proven PQ subspace chains
    * (sqlPqSub) and the left-deep MATERIALIZED ADC-sum chain from the
    * q_ann_pq_adc oracle, seeded from the IVF candidates instead of
    * the full corpus. */
  private def sqlIvfPqRanked: String = {
    def qdot(m: Int): String =
      (1 to PqSub).map(i => s"vn[${m * PqSub + i}]*c[$i]").mkString(" + ")
    val codeSel = (0 until PqM).map(m => s"a2_$m.code AS code_$m").mkString(", ")
    val codeJoins = (1 until PqM).map(m => s"JOIN a2_$m USING (vec_id)").mkString(" ")
    val tCtes = (0 until PqM).map(m =>
      s"t_$m AS (SELECT q_id, j, (${qdot(m)}) AS d FROM qs CROSS JOIN c1_$m)")
      .mkString(",\n    ")
    val sCtes = (0 until PqM).map { m =>
      if (m == 0) {
        val carry = (1 until PqM).map(x => s"cc.code_$x").mkString(", ")
        s"""s_0 AS MATERIALIZED (SELECT cc.q_id, cc.vec_id, $carry, t_0.d AS sim
      FROM cc JOIN t_0 ON t_0.q_id = cc.q_id AND t_0.j = cc.code_0)"""
      } else {
        val p = s"s_${m - 1}"
        val carry = ((m + 1) until PqM).map(x => s"$p.code_$x, ").mkString
        s"""s_$m AS MATERIALIZED (SELECT $p.q_id, $p.vec_id, $carry$p.sim + t_$m.d AS sim
      FROM $p JOIN t_$m ON t_$m.j = $p.code_$m AND t_$m.q_id = $p.q_id)"""
      }
    }.mkString(",\n    ")
    s"""${sqlIvfCellCtes(IvfPqProbe)},
    ${(0 until PqM).map(sqlPqSub).mkString(",\n    ")},
    $tCtes,
    codes AS MATERIALIZED (SELECT a2_0.vec_id, $codeSel FROM a2_0 $codeJoins),
    cnd AS (SELECT ps.q_id, asg.vec_id FROM ps JOIN asg USING (cell)
      WHERE asg.vec_id != ps.q_id),
    cc AS MATERIALIZED (SELECT cnd.q_id, cnd.vec_id,
        ${(0 until PqM).map(m => s"codes.code_$m").mkString(", ")}
      FROM cnd JOIN codes USING (vec_id)),
    $sCtes,
    rkd AS (SELECT q_id, vec_id,
        row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id ASC) AS adc_rk
      FROM s_${PqM - 1}),
    rr AS (SELECT rkd.q_id, rkd.vec_id, ${sqlDot("qv.vn", "nv.vn")} AS cos
      FROM rkd
      JOIN n nv ON nv.vec_id = rkd.vec_id
      JOIN n qv ON qv.vec_id = rkd.q_id
      WHERE rkd.adc_rk <= GREATEST(32, (SELECT COUNT(*) FROM n) // 8))"""
  }

  /** Trained-IVF ANN (round-11 VERDICT item 2): same output shape as
    * q_ann_cosine_topk / q_ann_ivf_topk; candidates come from the
    * trained multi-probe chain above. Recall is graded by
    * q_ann_ivf_trained_recall alongside the candidate-count cost. */
  val qAnnIvfTrained = Q(
    "q_ann_ivf_trained",
    (spark, dir) => {
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("cos").desc, col("vec_id").asc)
      ivfTrainedChain(spark, dir)._1
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 10)
        .select(col("q_id"), col("rank"), col("vec_id").as("neighbor_id"))
    },
    Some(s"""WITH $sqlIvfTrainedCand
    SELECT q_id, CAST(rank AS INTEGER) AS rank, vec_id AS neighbor_id FROM (
      SELECT q_id, vec_id,
        row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id ASC) AS rank
      FROM cand) WHERE rank <= 10"""),
    "Trained IVF ANN: Lloyd-trained cells, nprobe-cell multi-probe top-10")

  /** Recall + cost governance for the trained IVF path: recall@10 vs
    * the exact baseline PLUS the scanned-candidate count (the price of
    * the recall — nprobe cells' mass, here ≈ IvfProbe/IvfK of the
    * corpus per query). One integer row; both sides compose the graded
    * builders' own chains, so drift in either surfaces here. */
  val qAnnIvfTrainedRecall = Q(
    "q_ann_ivf_trained_recall",
    (spark, dir) => {
      val (cand, prep) = ivfTrainedChain(spark, dir)
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("cos").desc, col("vec_id").asc)
      // ONE evaluation of the expensive candidate chain (round-12
      // review: the previous counts ⋈ crossJoin(count) form ran the
      // assign + probe join + scoring twice): the full_outer join
      // carries ALL ranked candidate rows, so one aggregate reads off
      // n_candidates (every __a row), n_approx (rank ≤ 10), n_hit
      // (rank ≤ 10 with an exact partner) and n_exact together. Both
      // sides are unique on (q_id, neighbor_id), so counts are exact.
      val ranked = cand.withColumn("rank", row_number().over(w))
        .select(col("q_id"), col("vec_id").as("neighbor_id"), col("rank"))
        .withColumn("__a", lit(1))
      val ex = exactTopkFrom(prep)
        .select(col("q_id"), col("neighbor_id")).withColumn("__e", lit(1))
      ex.join(ranked, Seq("q_id", "neighbor_id"), "full_outer")
        .agg(count(col("__e")).as("n_exact"),
          count(when(col("rank") <= 10, 1)).as("n_approx"),
          count(when(col("rank") <= 10 && col("__e").isNotNull, 1))
            .as("n_hit"),
          count(col("__a")).as("n_candidates"))
        .select(col("n_exact"), col("n_approx"), col("n_hit"),
          col("n_candidates"),
          expr("CASE WHEN n_exact > 0 THEN (n_hit * 1000000) div n_exact END")
            .as("recall_ppm"))
    },
    Some(s"""WITH $sqlIvfTrainedCand,
    ex AS (SELECT q_id, neighbor_id FROM (${qAnnCosineTopk.oracle.get})),
    ap AS (SELECT q_id, vec_id AS neighbor_id FROM (
      SELECT q_id, vec_id,
        row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id ASC) AS rank
      FROM cand) WHERE rank <= 10),
    h AS (SELECT COUNT(*) AS n_hit FROM ex JOIN ap USING (q_id, neighbor_id))
    SELECT (SELECT COUNT(*) FROM ex) AS n_exact,
      (SELECT COUNT(*) FROM ap) AS n_approx, h.n_hit,
      (SELECT COUNT(*) FROM cand) AS n_candidates,
      CASE WHEN (SELECT COUNT(*) FROM ex) > 0
           THEN (h.n_hit * 1000000) // (SELECT COUNT(*) FROM ex) END
        AS recall_ppm
    FROM h"""),
    "Trained-IVF governance: recall@10 vs exact + scanned-candidate cost")

  val qAnnPqRecall = annRecallQ("q_ann_pq_recall", qAnnCosineTopk, qAnnPqAdc,
    "PQ recall governance: recall@10 of ADC-scored top-k vs the exact baseline")

  /** IVF-PQ with exact re-rank — the production ANN configuration
    * (VERDICT r12 item 1), composing three already-governed pieces:
    *   1. Lloyd-trained IVF cells (the q_ann_ivf_trained machinery)
    *      generate candidates: each query probes its IvfPqProbe best
    *      cells — ranked by the SAME native metric the corpus
    *      assignment argmaxes, so the candidate set is deterministic;
    *   2. PQ codes (the q_ann_pq_encode machinery at the shipping
    *      (8,256) geometry) rank those candidates CHEAPLY: the scan
    *      touches 8-byte codes + one broadcast ADC table per query,
    *      never the 256-byte vectors;
    *   3. exact re-rank: only the ADC top-(N div 8) shortlist per
    *      query is scored with true dot products against the full
    *      vectors, and the top-10 comes from that exact ranking.
    *
    * Why the probe budget differs from trained-IVF's (np=32 vs 8):
    * with PQ codes the probed cells cost 8 bytes/vector instead of
    * 256 — np=32/k=64 of the CODES is byte-equivalent to ~1.6% of the
    * full vectors, while the expensive exact work stays capped at the
    * shortlist (12.5%, ≤ the 13% budget the round-12 verdict set; a
    * production deployment grows k with N at fixed nprobe and a
    * constant shortlist, so both fractions shrink). P36 sweep,
    * recall@10 at (np, sf0.01 / sf0.1): 8→64%/43%, 16→78%/63%,
    * 24→87%/77%, 32→92%/85%, 48→98%/95%. Shipped np=32: ≥85% at BOTH
    * graded SFs — clearing the verdict's ≥85%-at-sf0.01 gate with
    * margin — vs the composed parts' own ceilings (trained-IVF 64%,
    * raw PQ-ADC 67%). Every stage is deterministic (integer-exact
    * training, fixed-order double dots, id tiebreaks), so the DuckDB
    * mirror reproduces the exact rows.
    *
    * Scale: training is the Lloyd shape; the code scan is
    * corpus-partition-parallel with broadcast probe/table sides; the
    * re-rank joins a shortlist-sized frame back to the vector table on
    * its key. Nothing corpus-sized reaches the driver or one
    * partition. */
  private val IvfPqProbe = 32

  /** ADC-ranked candidates for the IVF-PQ chain: (q_id, vec_id,
    * adc_rk) for every vector in the query's probed cells, ranked per
    * query by (ADC sim desc, vec_id asc); the caller applies the
    * shortlist cut + exact re-rank. Returned with the persisted prep
    * frame (vec_id, vn, vq, vq_m…) it trained on, so downstream
    * consumers (exact re-rank) can reuse the cached normalize+quantize
    * instead of re-deriving it from the parquet scan (round 13 — same
    * values, one less pass). */
  private def ivfPqChain(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val vqCols = (0 until PqM).map(m => s"vq_$m")
    val base = withNormalizedNative(load(spark, dir, "embeddings"), "embedding", "vn")
      .select(col("vec_id"), col("vn"),
        graft.ops.KMeans.quantize1000(col("vn")).as("vq"))
      .select(col("vec_id") +: col("vn") +: col("vq") +: (0 until PqM).map(m =>
        slice(col("vq"), m * PqSub + 1, PqSub).as(s"vq_$m")): _*)
      // persisted for the TRAINING actions and the downstream
      // consumers (corpus encode, probe side, re-rank vectors;
      // round 13)
      .transform(CacheReleases.persisted)
    // cells + codebooks trained JOINTLY: one seed collect serves both
    // and the two update aggregates overlap (2 driver actions instead
    // of 4; values identical — see lloydTrainJoint)
    // cellIters pinned at 2 (the pre-joint hardcoded value) so a
    // future PqIters bump cannot silently move the IVF cell centroids
    val (cells, books) = graft.ops.KMeans.lloydTrainJoint(base, "vq",
      "vec_id", Dims, IvfK, vqCols, PqSub, PqK, 2, PqIters)
    // corpus index: cell + M codes, materialized once (the same
    // codegen barrier as pqAdcTopk — assignment projections must not
    // fuse into the rank sort)
    val coded = graft.ops.KMeans.assignMulti(
      graft.ops.KMeans.assign(base, "vq", cells, "cell"),
      "vq", books, (0 until PqM).map(m => s"code_$m"))
    val corpus = coded.select(col("vec_id") +: col("cell") +:
      (0 until PqM).map(m => col(s"code_$m")): _*)
      .transform(CacheReleases.persisted)
    // query side: rank ALL cells with the assignment metric, probe the
    // IvfPqProbe best; the per-query ADC table rides along (one array
    // per query row, broadcast)
    val centsLit = typedLit(cells.sortBy(_.j).map(_.c.toSeq))
    val pw = Window.partitionBy(col("q_id"))
      .orderBy(col("m").desc, col("cell").asc)
    val probes = base.filter(col("vec_id") % 50 === 0 && col("vec_id") < 25000)
      .select(col("vec_id").as("q_id"), col("vn"), col("vq"))
      .select(col("q_id"),
        call_function("graft_pq_adc_table", col("vn"),
          typedLit(books.map(_.map(_.c.toSeq)))).as("adc"),
        posexplode(call_function("graft_lloyd_scores", col("vq"), centsLit))
          .as(Seq("cell", "m")))
      .withColumn("pr", row_number().over(pw))
      .filter(col("pr") <= IvfPqProbe)
      .select(col("q_id"), col("cell"), col("adc"))
    val sim = (0 until PqM).map(m =>
      element_at(col("adc"), col(s"code_$m") + lit(m * PqK + 1)))
      .reduceLeft(_ + _)
    val wA = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("vec_id").asc)
    val ranked = corpus.join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), sim.as("sim"))
      .withColumn("adc_rk", row_number().over(wA))
      .select(col("q_id"), col("vec_id"), col("adc_rk"))
    (ranked, base)
  }

  /** Exact re-rank of the ADC shortlist: join the top-(N div 8) rows
    * per query back to the full normalized vectors and score true
    * dots. Returns (q_id, vec_id, cos). `prep` is the chain's cached
    * frame carrying (vec_id, vn), so the vectors aren't re-derived
    * from the scan. */
  private def ivfPqReranked(spark: SparkSession, dir: String,
      ranked: DataFrame, prep: DataFrame): DataFrame = {
    val c = rerankBudget(corpusSize(spark, dir))
    val vecs = prep.select(col("vec_id"), col("vn"))
    val qvecs = vecs.filter(col("vec_id") % 50 === 0 && col("vec_id") < 25000)
      .select(col("vec_id").as("q_id"), col("vn").as("qn"))
    ranked.filter(col("adc_rk") <= c)
      .join(vecs, Seq("vec_id"))
      .join(broadcast(qvecs), Seq("q_id"))
      .select(col("q_id"), col("vec_id"),
        dotNative(col("qn"), col("vn")).as("cos"))
  }

  /** Per-query exact-re-rank budget: an eighth of the corpus, floored
    * at 32 — 12.5%, inside the 13%-of-corpus bar the round-12 verdict
    * set (= trained-IVF's scan). A production deployment would pin an
    * absolute shortlist (top ~3k) instead; the fraction keeps the
    * graded SFs meaningful (N=500 → 62, N=2000 → 250). Integer
    * arithmetic, mirrored as `(SELECT COUNT(*) FROM n) // 8`. */
  private def rerankBudget(n: Long): Long = math.max(32L, n / 8L)

  val qAnnIvfPqTopk = Q(
    "q_ann_ivfpq_topk",
    (spark, dir) => {
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("cos").desc, col("vec_id").asc)
      val (ranked, prep) = ivfPqChain(spark, dir)
      ivfPqReranked(spark, dir, ranked, prep)
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 10)
        .select(col("q_id"), col("rank"), col("vec_id").as("neighbor_id"))
    },
    Some(s"""WITH $sqlIvfPqRanked
    SELECT q_id, CAST(rank AS INTEGER) AS rank, vec_id AS neighbor_id FROM (
      SELECT q_id, vec_id,
        row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id ASC) AS rank
      FROM rr) WHERE rank <= 10"""),
    "IVF-PQ + exact re-rank: trained cells -> PQ-ADC shortlist -> exact top-10")

  /** Governance for the IVF-PQ path: recall@10 vs the exact baseline
    * PLUS both budget counters — n_code_scanned (candidate rows the
    * 8-byte-code ADC scan touched) and n_reranked (rows the exact
    * re-rank scored, the expensive budget the 13% bar caps). One
    * integer row; both sides compose the graded builders' own
    * chains. The scalar code-scan count rides in on a broadcast 1-row
    * cross join (the blessed scalar-totals shape). */
  val qAnnIvfPqRecall = Q(
    "q_ann_ivfpq_recall",
    (spark, dir) => {
      val (ranked, prep) = ivfPqChain(spark, dir)
      val rr = ivfPqReranked(spark, dir, ranked, prep)
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("cos").desc, col("vec_id").asc)
      val ap = rr.withColumn("rank", row_number().over(w))
        .select(col("q_id"), col("vec_id").as("neighbor_id"), col("rank"))
        .withColumn("__a", lit(1))
      val ex = exactTopkFrom(prep)
        .select(col("q_id"), col("neighbor_id")).withColumn("__e", lit(1))
      val scan = ranked.agg(count(lit(1)).as("n_code_scanned"))
      ex.join(ap, Seq("q_id", "neighbor_id"), "full_outer")
        .agg(count(col("__e")).as("n_exact"),
          count(when(col("rank") <= 10, 1)).as("n_approx"),
          count(when(col("rank") <= 10 && col("__e").isNotNull, 1))
            .as("n_hit"),
          count(col("__a")).as("n_reranked"))
        .crossJoin(broadcast(scan))
        .select(col("n_exact"), col("n_approx"), col("n_hit"),
          col("n_reranked"), col("n_code_scanned"),
          expr("CASE WHEN n_exact > 0 THEN (n_hit * 1000000) div n_exact END")
            .as("recall_ppm"))
    },
    Some(s"""WITH $sqlIvfPqRanked,
    ex AS (SELECT q_id, neighbor_id FROM (${qAnnCosineTopk.oracle.get})),
    ap AS (SELECT q_id, vec_id AS neighbor_id FROM (
      SELECT q_id, vec_id,
        row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id ASC) AS rank
      FROM rr) WHERE rank <= 10),
    h AS (SELECT COUNT(*) AS n_hit FROM ex JOIN ap USING (q_id, neighbor_id))
    SELECT (SELECT COUNT(*) FROM ex) AS n_exact,
      (SELECT COUNT(*) FROM ap) AS n_approx, h.n_hit,
      (SELECT COUNT(*) FROM rr) AS n_reranked,
      (SELECT COUNT(*) FROM rkd) AS n_code_scanned,
      CASE WHEN (SELECT COUNT(*) FROM ex) > 0
           THEN (h.n_hit * 1000000) // (SELECT COUNT(*) FROM ex) END
        AS recall_ppm
    FROM h"""),
    "IVF-PQ governance: recall@10 vs exact + code-scan and re-rank budgets")

  val all: Seq[Q] = Seq(qAnnCosineTopk, qAnnLshBuckets, qDedupEmbCosine,
    qAnnIvfTopk, qKmeansLloyd, qVecQuantize, qAnnPqEncode, qAnnPqAdc,
    qSemanticDedup, qRrfHybrid, qKnnGraph, qSemanticClusters,
    qCovarianceMatrix, qRandomProjection, qLabelPropagation,
    qAnnIvfRecall, qAnnPqRecall, qAnnIvfTrained, qAnnIvfTrainedRecall,
    qAnnIvfPqTopk, qAnnIvfPqRecall)
}
