package graft.queries

import graft.{CacheReleases, Q, Tables}
import graft.ops.TextOps._
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data text pipeline over `documents`: tokenization, quality
  * scoring, language ID, fingerprinting, and the dedup family (exact,
  * n-gram Jaccard, MinHash+LSH, SimHash). All derivations are
  * row-local expressions; only candidate-pair joins shuffle, and those
  * are blocked (inverted index / LSH bands) so they stay bounded at
  * corpus scale. Ratio outputs are integer basis points — no raw
  * doubles, so exact cross-engine compares hold. */
object TextQueries {
  import Tables.load

  private val Stop = Seq("the", "a", "and", "of", "is", "to")

  private def punctCount(text: Column): Column =
    length(regexp_replace(lower(text), "[a-z0-9\\s]", ""))

  /** Quality score over `text` and its words `w`: length, punctuation
    * and stopword components, weighted 0.4/0.3/0.3, in basis points. */
  private def qualityBp(text: Column, w: Column): Column = {
    val nW = size(w)
    val nC = length(text)
    val lenScore = least(nW.cast("double") / 200.0, lit(1.0))
    val punctScore =
      lit(1.0) - least(punctCount(text).cast("double") / greatest(nC, lit(1)), lit(1.0))
    val stopScore =
      least(vocabHits(w, Stop).cast("double") * 10.0 / greatest(nW, lit(1)), lit(1.0))
    round((lenScore * 0.4 + punctScore * 0.3 + stopScore * 0.3) * 10000).cast("long")
  }

  /** Language profiles, alphabetical: stopword hits per language, and
    * the non-ASCII char count for zh. */
  private def langScores(text: Column, w: Column): Seq[(String, Column)] = Seq(
    "de" -> vocabHits(w, Seq("der", "die", "das", "und", "ist", "nicht")),
    "en" -> vocabHits(w, Stop),
    "es" -> vocabHits(w, Seq("el", "la", "los", "y", "es", "de")),
    "fr" -> vocabHits(w, Seq("le", "la", "les", "et", "est", "de")),
    "zh" -> nonAsciiCount(text))

  /** Argmax language of `langScores`; a tie goes to the first. */
  private def predLang(scores: Seq[(String, Column)]): Column = {
    val m = greatest(scores.map(_._2): _*)
    val (first, s0) = scores.head
    scores.tail.init
      .foldLeft(when(s0 === m, first)) { case (c, (l, s)) => c.when(s === m, l) }
      .otherwise(scores.last._1)
  }

  /** Token statistics: chars, whitespace tokens, BPE-ish tokens,
    * distinct words. */
  val qTextTokens = Q(
    "q_text_tokens",
    (spark, dir) => {
      // repartition: same single-scan-split spread as q_dedup_ngram_jaccard
      val d = load(spark, dir, "documents").repartition(col("doc_id"))
      val w = words(col("text"))
      d.select(col("doc_id"),
        length(col("text")).as("n_chars_meas"),
        size(w).as("n_tokens_ws"),
        bpeishTokenCount(col("text")).as("n_tokens_bpe"),
        size(array_distinct(w)).as("n_distinct_words"))
    },
    Some("""SELECT doc_id,
      length(text) AS n_chars_meas,
      len(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS n_tokens_ws,
      len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS n_tokens_bpe,
      len(list_distinct(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '))) AS n_distinct_words
      FROM documents"""),
    "Token counting: whitespace + BPE-ish regex + distinct words")

  /** Quality scoring: length/punctuation/stopword components combined
    * to a 0–10000 basis-point score. */
  val qTextQuality = Q(
    "q_text_quality",
    (spark, dir) => {
      // repartition: same single-scan-split spread as q_dedup_ngram_jaccard
      val d = load(spark, dir, "documents").repartition(col("doc_id"))
      val w = words(col("text"))
      d.select(col("doc_id"),
        length(col("text")).as("n_chars"), size(w).as("n_words"),
        punctCount(col("text")).as("n_punct"), vocabHits(w, Stop).as("n_stopwords"),
        qualityBp(col("text"), w).as("quality_bp"))
    },
    Some("""WITH s AS (
      SELECT doc_id, length(text) AS n_chars,
        len(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS n_words,
        length(regexp_replace(lower(text), '[a-z0-9\s]', '', 'g')) AS n_punct,
        len(list_filter(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '),
          t -> t IN ('the','a','and','of','is','to'))) AS n_stopwords
      FROM documents)
    SELECT doc_id, n_chars, n_words, n_punct, n_stopwords,
      CAST(round((least(n_words/200.0, 1.0) * 0.4
        + (1.0 - least(CAST(n_punct AS DOUBLE)/greatest(n_chars,1), 1.0)) * 0.3
        + least(n_stopwords*10.0/greatest(n_words,1), 1.0) * 0.3) * 10000) AS BIGINT) AS quality_bp
    FROM s"""),
    "Quality scoring: length/punct/stopword components → basis points")

  /** Language ID: stopword-profile hits per language + non-ASCII count
    * for CJK; argmax with alphabetical tiebreak. */
  val qTextLangid = Q(
    "q_text_langid",
    (spark, dir) => {
      // repartition: same single-scan-split spread as q_dedup_ngram_jaccard
      val d = load(spark, dir, "documents").repartition(col("doc_id"))
      val scores = langScores(col("text"), words(col("text")))
      d.select(Seq(col("doc_id"), col("lang")) ++
        scores.map { case (l, s) => s.as(s"s_$l") } :+
        predLang(scores).as("pred_lang"): _*)
    },
    Some("""WITH s AS (
      SELECT doc_id, lang,
        len(list_filter(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '),
          t -> t IN ('der','die','das','und','ist','nicht'))) AS s_de,
        len(list_filter(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '),
          t -> t IN ('the','a','and','of','is','to'))) AS s_en,
        len(list_filter(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '),
          t -> t IN ('el','la','los','y','es','de'))) AS s_es,
        len(list_filter(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '),
          t -> t IN ('le','la','les','et','est','de'))) AS s_fr,
        length(regexp_replace(text, '[ -~]', '', 'g')) AS s_zh
      FROM documents)
    SELECT doc_id, lang, s_de, s_en, s_es, s_fr, s_zh,
      CASE WHEN s_de = greatest(s_de,s_en,s_es,s_fr,s_zh) THEN 'de'
           WHEN s_en = greatest(s_de,s_en,s_es,s_fr,s_zh) THEN 'en'
           WHEN s_es = greatest(s_de,s_en,s_es,s_fr,s_zh) THEN 'es'
           WHEN s_fr = greatest(s_de,s_en,s_es,s_fr,s_zh) THEN 'fr'
           ELSE 'zh' END AS pred_lang
    FROM s"""),
    "Language ID: n-gram/stopword profile heuristic with argmax")

  /** Document fingerprinting: exact md5 of canonical text + shingle
    * min-hash (the rolling-hash family). */
  val qTextFingerprint = Q(
    "q_text_fingerprint",
    (spark, dir) => {
      // repartition: same single-scan-split spread as q_dedup_ngram_jaccard
      val d = load(spark, dir, "documents").repartition(col("doc_id"))
      // the native kernel's distinct-hash array gives both outputs:
      // its length = |distinct shingles| (dedup happens on the shingle
      // strings), and its min = min over ALL shingle hashes (min is
      // duplicate-blind). Stacked projection so the kernel runs once,
      // not once per consumer. (count()-pruned benching hid this
      // query's interpreted transform at 16 s — see DEVLOG r2.)
      d.select(col("doc_id"), col("text"),
          shingleHashes(words(col("text"))).as("hs"))
        .select(col("doc_id"),
          fingerprintMd5(col("text")).as("fp_md5"),
          size(col("hs")).as("n_shingles"),
          array_min(col("hs")).as("min_shingle_hash"))
    },
    Some("""WITH s AS (
      SELECT doc_id, text,
        string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS w
      FROM documents),
    g AS (
      SELECT doc_id, text,
        CASE WHEN len(w) >= 3
          THEN [array_to_string(w[i:i+2], ' ') FOR i IN generate_series(1, len(w)-2)]
          ELSE [array_to_string(w, ' ')] END AS sh
      FROM s)
    SELECT doc_id,
      md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp_md5,
      len(list_distinct(sh)) AS n_shingles,
      list_min([CAST(('0x'||substr(md5(x),1,15)) AS BIGINT) % 2147483647 FOR x IN sh]) AS min_shingle_hash
    FROM g"""),
    "Fingerprinting: md5 canonical + min shingle hash")

  /** Exact dedup: hash-groupBy on a 5-word-prefix fingerprint; groups
    * with >1 doc are duplicate clusters, min doc id is canonical.
    * Scale: one map-side-combinable shuffle on the fingerprint. */
  val qDedupExact = Q(
    "q_dedup_exact",
    (spark, dir) => {
      val d = load(spark, dir, "documents")
      val w = words(col("text"))
      d.select(col("doc_id"), md5(concat_ws(" ", slice(w, 1, 5))).as("prefix_fp"))
        .groupBy("prefix_fp")
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("canonical_doc_id"))
        .filter(col("n_docs") > 1)
    },
    Some("""SELECT
      md5(array_to_string((string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '))[1:5], ' ')) AS prefix_fp,
      COUNT(*) AS n_docs, min(doc_id) AS canonical_doc_id
      FROM documents GROUP BY 1 HAVING COUNT(*) > 1"""),
    "Exact dedup: hash-groupBy on content fingerprint")

  /** The near-dup pair set (doc_a < doc_b, Jaccard ≥ 2000 bp):
    * inverted-index candidate join on shared 3-gram shingles, then
    * Jaccard over the shingle sets. Shared by q_dedup_ngram_jaccard
    * and the connected-components clustering built on top of it.
    * Scale: the join key is the shingle, and the index is
    * **doc-frequency capped** — shingles appearing in more than DfCap
    * documents are dropped before candidate generation. Pair volume
    * is Σ df² over index entries, so the cap bounds the quadratic
    * term no matter how the corpus grows; ultra-common shingles carry
    * no dedup signal. Jaccard is computed over the capped sets on
    * both sides (numerator and denominator), mirrored exactly by the
    * oracle. */
  private[queries] def ngramJaccardPairs(
      spark: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
      val DfCap = 1000
      // The fixture is one parquet row-group → one scan split, which
      // serializes the (expensive, row-local) shingle+md5 derivation on
      // a single core no matter the executor count. Spreading raw docs
      // by id first costs one tiny shuffle of the raw text and lets the
      // derivation use the whole cluster; on a many-file corpus it also
      // guards against skewed file sizes. (Measured: 20 s → ~3 s at
      // sf0.1/local[32].)
      val d = load(spark, dir, "documents").repartition(col("doc_id"))
      // base is persisted for plan-shape, not reuse: the explode below
      // makes InferFiltersFromGenerate add `size(sh) > 0`, and predicate
      // pushdown drags that filter — carrying the whole interpreted
      // shingle subtree — below the exchange onto the single scan
      // split, serializing the derivation (measured 17-20 s of the
      // query's 20 s). The cache boundary stops the pushdown, so the
      // derivation runs once, post-exchange, on all cores, and the
      // inferred filter evaluates against the cached array.
      // join key = stringHash(shingle): an 8-byte long instead of a
      // ~25-byte string — smaller exchange, cheaper hash probes; the
      // oracle hashes identically so collisions (if any) agree. The
      // shingle+hash derivation is the native graft_shingle_hashes
      // kernel (one call per row, no interpreted transform).
      val base = d.select(col("doc_id"),
        shingleHashes(words(col("text"))).as("hs"))
        .transform(CacheReleases.persisted)
      // CLASS COLLAPSE (round 6, the simhash lesson generalized):
      // docs with the same shingle SET are interchangeable for every
      // quantity downstream (df contributions, per-doc set size,
      // pairwise shared counts, jaccard). Group them once by a
      // canonical set key; the whole index/join pipeline then runs at
      // class cardinality (sf10: 500k docs → 249.6k classes, and pair
      // volume is Σ df² — a ~4× cut), and class pairs expand back to
      // doc pairs at the very end, each exactly once. xxhash64 of the
      // sorted set is the key (an internal grouping key only — a
      // ~2⁻⁶⁴ collision risk, never compared against the oracle).
      val keyed = base.select(col("doc_id"), col("hs"),
        xxhash64(array_sort(col("hs"))).as("k"))
      // Mega-class escape hatch (round 7): a boilerplate/empty-doc
      // class above spark.graft.maxClassSize members would make the
      // roster below an unbounded single-row array and the intra
      // expansion a quadratic output; ClassGuard routes such classes
      // through their representative (roster = [min id], intra = a
      // linear star). Below the cap: byte-identical, oracle-green.
      // classes is a projection of the frame collapse persists
      // internally — a second persist would materialize twice.
      val (classes, megaStars) = graft.ops.ClassGuard.collapse(
        keyed, "k", "doc_id", Seq("hs"), graft.ops.ClassGuard.cap(spark))
      val ex = classes.select(col("k"), col("cls"), explode(col("hs")).as("s"))
        .transform(CacheReleases.persisted)
      // df is DOCUMENT frequency: weight each class entry by class size
      val hot = ex.groupBy("s").agg(sum(col("cls")).as("df"))
        .filter(col("df") > DfCap).select("s")
      val idx = ex.join(broadcast(hot), Seq("s"), "left_anti")
        .select("k", "s")
        .transform(CacheReleases.persisted)
      val nn = idx.groupBy("k").agg(count(lit(1)).as("n"))
      val shared = idx.select(col("k").as("ka"), col("s"))
        .join(idx.select(col("k").as("kb"), col("s")), Seq("s"))
        .filter(col("ka") < col("kb"))
        .groupBy("ka", "kb").agg(count(lit(1)).as("shared"))
      // no broadcast() hint on nn (class cardinality — unbounded); the
      // adaptive threshold broadcasts it from true sizes when small
      val cp = shared
        .join(nn.select(col("k").as("ka"), col("n").as("na")), Seq("ka"))
        .join(nn.select(col("k").as("kb"), col("n").as("nb")), Seq("kb"))
        .withColumn("jacc_bp",
          round(lit(10000.0) * col("shared") / (col("na") + col("nb") - col("shared")))
            .cast("long"))
        .filter(col("jacc_bp") >= 2000)
      // cross-class doc pairs: two explodes through the cached class
      // lists; ordered by doc id (jaccard is symmetric — no payload to
      // swap)
      val cross = cp
        .join(classes.select(col("k").as("ka"), col("ids").as("ids_a")), Seq("ka"))
        .join(classes.select(col("k").as("kb"), col("ids").as("ids_b")), Seq("kb"))
        .select(col("shared"), col("jacc_bp"), explode(col("ids_a")).as("da"), col("ids_b"))
        .select(col("shared"), col("jacc_bp"), col("da"), explode(col("ids_b")).as("db"))
        .select(least(col("da"), col("db")).as("doc_a"),
          greatest(col("da"), col("db")).as("doc_b"),
          col("shared"), col("jacc_bp"))
      // intra-class doc pairs: identical capped sets → shared = n,
      // jacc = 10000. The inner join with nn drops classes whose
      // shingles were all df-capped away (n = 0) — exactly the pairs
      // the doc-level index join could never produce.
      val intra = classes.filter(col("cls") > 1)
        .join(nn, Seq("k"))
        .select(col("n"), explode(col("ids")).as("da"), col("ids"))
        .select(col("n"), col("da"), explode(col("ids")).as("db"))
        .filter(col("da") < col("db"))
        .select(col("da").as("doc_a"), col("db").as("doc_b"),
          col("n").as("shared"), lit(10000L).as("jacc_bp"))
      // mega-class intra pairs: a linear star through the class
      // representative (rep = min id, so doc_a < doc_b holds); same nn
      // semantics as intra (classes df-capped to emptiness drop)
      val starIntra = megaStars.join(nn, Seq("k"))
        .select(col("rep").as("doc_a"), col("member").as("doc_b"),
          col("n").as("shared"), lit(10000L).as("jacc_bp"))
      cross.unionByName(intra).unionByName(starIntra)
        .select("doc_a", "doc_b", "shared", "jacc_bp")
  }

  /** DuckDB CTE chain producing the same pair set as
    * [[ngramJaccardPairs]] (final CTE `jb`). Shared by the jaccard and
    * connected-components oracles. */
  private val sqlJaccardPairCtes: String = """d AS (
      SELECT doc_id,
        list_distinct(CASE WHEN len(w) >= 3
          THEN [array_to_string(w[i:i+2], ' ') FOR i IN generate_series(1, len(w)-2)]
          ELSE [array_to_string(w, ' ')] END) AS sh
      FROM (SELECT doc_id,
        string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS w
        FROM documents)),
    e0 AS (SELECT doc_id, unnest(sh) AS s0 FROM d),
    e AS (SELECT doc_id,
      CAST(('0x'||substr(md5(s0),1,15)) AS BIGINT) % 2147483647 AS s FROM e0),
    idx AS (SELECT doc_id, s FROM e
      WHERE s NOT IN (SELECT s FROM e GROUP BY s HAVING COUNT(*) > 1000)),
    nn AS (SELECT doc_id, COUNT(*) AS n FROM idx GROUP BY doc_id),
    p AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
      FROM idx a JOIN idx b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    j AS (
      SELECT doc_a, doc_b, shared, na.n AS na, nb.n AS nb
      FROM p
      JOIN nn na ON p.doc_a = na.doc_id
      JOIN nn nb ON p.doc_b = nb.doc_id),
    jb AS (
      SELECT doc_a, doc_b, shared,
        CAST(round(10000.0 * shared / (na + nb - shared)) AS BIGINT) AS jacc_bp
      FROM j
      WHERE CAST(round(10000.0 * shared / (na + nb - shared)) AS BIGINT) >= 2000)"""

  val qDedupNgramJaccard = Q(
    "q_dedup_ngram_jaccard",
    (spark, dir) => {
      ngramJaccardPairs(spark, dir)
    },
    Some(s"""WITH $sqlJaccardPairCtes
    SELECT doc_a, doc_b, shared, jacc_bp FROM jb"""),
    "Near-dedup: n-gram Jaccard, df-capped shingle inverted index")

  /** MinHash+LSH near-dedup: k=8 signature, 4 bands × 2 rows,
    * candidates share a band, verified with true Jaccard over hashed
    * shingle sets. Scale: band buckets bound the pair space —
    * no all-pairs work anywhere. */
  /** MinHash+LSH near-dedup, parameterized by (bands, rows) — derived
    * from a target Jaccard threshold via `LshPlanner.plan` (S-curve,
    * public formula) instead of the round-1..3 fixed constants. The
    * native `graft_minhash` kernel always emits the 8-wide signature;
    * a configuration uses its first bands·rows elements, so every
    * configuration shares one row-local derivation and the hash
    * budget is the planner's search space. */
  private def minhashLshDf(bands: Int, rows: Int)(
      spark: org.apache.spark.sql.SparkSession, dir: String) = {
    require(bands * rows <= 8, s"signature width is 8, need bands*rows <= 8")
    // repartition: same single-scan-split spread as q_dedup_ngram_jaccard
    val d = load(spark, dir, "documents").repartition(col("doc_id"))
    // persisted ONCE with the shingle sets; self-joined below, and
    // the signature derivation (8 interpreted MinHash folds per doc)
    // must run once, not per consumer
    val base = d.select(col("doc_id"),
      shingleHashes(words(col("text"))).as("hs"))
      .withColumn("sig", minhashSignature(col("hs")))
      .transform(CacheReleases.persisted)
    // candidate generation is PAYLOAD-FREE: only (doc_id, band, key)
    // enters the band self-join, so the shuffle is id-sized and the
    // pair distinct() hashes longs, not shingle arrays. The sets
    // re-attach per side afterwards — two id-keyed joins against the
    // cached base instead of shipping every array bands× through the
    // band exchange (the same bytes-never-shuffle rule as the
    // multimodal payloads).
    val bandCols = base.select(col("doc_id"),
      explode(array((0 until bands).map(j =>
        struct(lit(j).as("band"),
          concat_ws("_", (1 to rows).map(i =>
            element_at(col("sig"), j * rows + i)): _*).as("key"))): _*)).as("b"))
      .select(col("doc_id"), col("b.band"), col("b.key"))
    val cand = bandCols.select(col("doc_id").as("doc_a"), col("band"), col("key"))
      .join(bandCols.select(col("doc_id").as("doc_b"), col("band"), col("key")),
        Seq("band", "key"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    cand
      .join(base.select(col("doc_id").as("doc_a"), col("hs").as("ha")), Seq("doc_a"))
      .join(base.select(col("doc_id").as("doc_b"), col("hs").as("hb")), Seq("doc_b"))
      .withColumn("shared", size(array_intersect(col("ha"), col("hb"))))
      .withColumn("jacc_bp",
        round(lit(10000.0) * col("shared") /
          (size(col("ha")) + size(col("hb")) - col("shared"))).cast("long"))
      .select("doc_a", "doc_b", "shared", "jacc_bp")
  }

  /** DuckDB mirror of [[minhashLshDf]] for the same (bands, rows):
    * the band structs are generated from the parameters, everything
    * else is the fixed signature pipeline. */
  private def minhashLshSql(bands: Int, rows: Int): String = {
    val bandStructs = (0 until bands).map { j =>
      val elems = (1 to rows).map(i => s"sig[${j * rows + i}]").mkString(", ")
      s"{'band': $j, 'key': concat_ws('_', $elems)}"
    }.mkString(",\n        ")
    s"""WITH d AS (
      SELECT doc_id,
        list_distinct([CAST(('0x'||substr(md5(x),1,15)) AS BIGINT) % 2147483647
          FOR x IN (CASE WHEN len(w) >= 3
            THEN [array_to_string(w[i:i+2], ' ') FOR i IN generate_series(1, len(w)-2)]
            ELSE [array_to_string(w, ' ')] END)]) AS hs
      FROM (SELECT doc_id,
        string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS w
        FROM documents)),
    sg AS (
      SELECT doc_id, hs,
        [list_min([(h*7+3)%2147483647 FOR h IN hs]),
         list_min([(h*13+11)%2147483647 FOR h IN hs]),
         list_min([(h*29+19)%2147483647 FOR h IN hs]),
         list_min([(h*41+31)%2147483647 FOR h IN hs]),
         list_min([(h*53+43)%2147483647 FOR h IN hs]),
         list_min([(h*67+59)%2147483647 FOR h IN hs]),
         list_min([(h*83+71)%2147483647 FOR h IN hs]),
         list_min([(h*97+89)%2147483647 FOR h IN hs])] AS sig
      FROM d),
    bands AS (
      SELECT doc_id, hs, unnest([
        $bandStructs], recursive := true)
      FROM sg),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        a.hs AS ha, b.hs AS hb
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)
    SELECT doc_a, doc_b,
      len(list_filter(ha, h -> list_contains(hb, h))) AS shared,
      CAST(round(10000.0 * len(list_filter(ha, h -> list_contains(hb, h)))
        / (len(ha) + len(hb) - len(list_filter(ha, h -> list_contains(hb, h)))))
        AS BIGINT) AS jacc_bp
    FROM cand"""
  }

  /** The round-1..3 configuration, now DERIVED: plan(0.5, 8) = 4 bands
    * × 2 rows — S-curve threshold exactly (1/4)^(1/2) = 0.5. Results
    * are byte-identical to the previous fixed-constant form
    * (PropertySpec pins the derivation). */
  val MinhashDefault: (Int, Int) = graft.ops.LshPlanner.plan(0.5, 8)

  val qDedupMinhashLsh = Q(
    "q_dedup_minhash_lsh",
    (spark, dir) =>
      minhashLshDf(MinhashDefault._1, MinhashDefault._2)(spark, dir),
    Some(minhashLshSql(MinhashDefault._1, MinhashDefault._2)),
    "Near-dedup: MinHash signatures + LSH bands + Jaccard verify")

  /** Second derived configuration (VERDICT r3 item 5): target Jaccard
    * 0.8 under the same 8-hash budget → plan picks 2 bands × 3 rows
    * (threshold (1/2)^(1/3) ≈ 0.794) — fewer, steeper bands, so only
    * strongly-similar pairs surface and candidate volume drops. Same
    * signature derivation, different banding: precision/recall is now
    * a stated target, not a constant. */
  val MinhashT8: (Int, Int) = graft.ops.LshPlanner.plan(0.8, 8)

  val qDedupMinhashLshT8 = Q(
    "q_dedup_minhash_lsh_t8",
    (spark, dir) => minhashLshDf(MinhashT8._1, MinhashT8._2)(spark, dir),
    Some(minhashLshSql(MinhashT8._1, MinhashT8._2)),
    "Near-dedup: MinHash LSH at a planned 0.8 Jaccard threshold")

  /** SimHash: 60-bit signature per doc (every bit from an independent
    * md5 bit via [[TextOps.stringHash60]]), then near-dup pairs via
    * 4×15-bit band blocking (pigeonhole: hamming ≤ 3 ⇒ some band
    * equal) + exact Hamming filter. 15-bit bands put the random-pair
    * band-collision probability at ~4/32768, so the candidate join
    * stays near-linear in corpus size — the round-1 8-bit bands
    * (~4/256) were quadratic and benched 94 s at sf0.1. */
  val qDedupSimhash = Q(
    "q_dedup_simhash",
    (spark, dir) => {
      // repartition: same single-scan-split spread as q_dedup_ngram_jaccard
      val d = load(spark, dir, "documents").repartition(col("doc_id"))
      // Signature via the native row-local kernel (one codegen'd loop
      // per doc; the earlier explode + 60-summed-column grouped vote
      // shuffled ~100 vote rows per doc).
      //
      // The pair search then runs at the DISTINCT-SIGNATURE level, not
      // the document level. Template-heavy corpora concentrate simhash
      // values hard — measured at sf10: 500k docs collapse to 188k
      // signatures, and the doc-level band self-join produced 631M
      // candidate rows whose 4-column distinct took ~280 s, while the
      // sig-level join is 40M candidates whose distinct takes ~3 s.
      // Since a document has exactly ONE signature, expanding verified
      // signature pairs back through the class lists yields every
      // qualifying doc pair exactly once — the huge doc-pair distinct
      // disappears entirely, and band-vs-band duplicate candidates are
      // deduped on an id-sized (sig_a, sig_b) set instead. Intra-class
      // pairs (identical signatures, hamming 0) never enter the join
      // at all. Class arrays are bounded by the largest duplicate
      // class (778 docs at sf10); the Σ|class|² OUTPUT is the pair-
      // list semantics itself — see SCALE.md for the boundary and the
      // components/representative escape hatch.
      val base = d.select(col("doc_id"),
        simhash60Native(wordHashes60(words(col("text")))).as("sim"))
      // NULL text ⇒ NULL signature (the native kernel is
      // null-intolerant). Unguarded, groupBy("sim") would collect every
      // such doc into ONE NULL-sig class and the intra expansion below
      // would emit hamming-0 pairs for them — pairs the oracle's band
      // equi-join can never produce (SQL joins don't match NULLs). The
      // jaccard/containment collapses are guarded by their inner nn
      // joins (a NULL shingle set explodes to zero index rows); simhash
      // needs this explicit filter because the signature IS the class
      // key. (ADVICE r6, medium.)
      // mega-class escape hatch (round 7) — see ClassGuard: an
      // identical-signature class above spark.graft.maxClassSize
      // members keeps only its representative in the roster (so the
      // band join and cross expansion stay bounded) and emits its
      // hamming-0 intra pairs as a linear star below.
      // sigs is a projection of the frame collapse persists internally
      val (sigs, megaStars) = graft.ops.ClassGuard.collapse(
        base.filter(col("sim").isNotNull), "sim", "doc_id",
        Seq(), graft.ops.ClassGuard.cap(spark))
      val bands = sigs.select(col("sim"),
        explode(array((0 until 4).map(j =>
          struct(lit(j).as("band"),
            shiftright(col("sim"), 15 * j).bitwiseAND(lit(32767L))
              .as("bkey"))): _*)).as("b"))
        .select(col("sim"), col("b.band"), col("b.bkey"))
      val sigPairs = bands.select(col("sim").as("sim_a"), col("band"), col("bkey"))
        .join(bands.select(col("sim").as("sim_b"), col("band"), col("bkey")),
          Seq("band", "bkey"))
        .filter(col("sim_a") < col("sim_b"))
        .select("sim_a", "sim_b").distinct()
        .withColumn("hamming", bit_count(col("sim_a").bitwiseXOR(col("sim_b"))))
        .filter(col("hamming") <= 3)
      // cross-class expansion: each side's class list attaches by sig
      // (id-keyed joins against the cached classes), then two explodes
      // generate the doc pairs — ordered by doc id, signatures riding
      // along with their documents
      val cross = sigPairs
        .join(sigs.select(col("sim").as("sim_a"), col("ids").as("ids_a")), Seq("sim_a"))
        .join(sigs.select(col("sim").as("sim_b"), col("ids").as("ids_b")), Seq("sim_b"))
        .select(col("sim_a"), col("sim_b"), col("hamming"),
          explode(col("ids_a")).as("da"), col("ids_b"))
        .select(col("sim_a"), col("sim_b"), col("hamming"), col("da"),
          explode(col("ids_b")).as("db"))
        .select(
          least(col("da"), col("db")).as("doc_a"),
          greatest(col("da"), col("db")).as("doc_b"),
          when(col("da") < col("db"), col("sim_a")).otherwise(col("sim_b")).as("sim_a"),
          when(col("da") < col("db"), col("sim_b")).otherwise(col("sim_a")).as("sim_b"),
          col("hamming"))
      // intra-class expansion: identical signatures, hamming 0
      val intra = sigs.filter(size(col("ids")) > 1)
        .select(col("sim"), explode(col("ids")).as("da"), col("ids"))
        .select(col("sim"), col("da"), explode(col("ids")).as("db"))
        .filter(col("da") < col("db"))
        .select(col("da").as("doc_a"), col("db").as("doc_b"),
          col("sim").as("sim_a"), col("sim").as("sim_b"),
          lit(0).as("hamming"))
      // mega-class star: rep = min id, so doc_a < doc_b holds
      val starIntra = megaStars
        .select(col("rep").as("doc_a"), col("member").as("doc_b"),
          col("sim").as("sim_a"), col("sim").as("sim_b"),
          lit(0).as("hamming"))
      cross.unionByName(intra).unionByName(starIntra)
        .select(col("doc_a"), col("doc_b"), col("sim_a"), col("sim_b"),
          col("hamming").cast("int").as("hamming"))
    },
    Some("""WITH d AS (
      SELECT doc_id,
        list_distinct([CAST(('0x'||substr(md5(x),1,15)) AS BIGINT)
          FOR x IN string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')]) AS wh
      FROM documents),
    sg AS (
      SELECT doc_id,
        CAST(list_sum([CASE WHEN list_sum([CASE WHEN (h >> b) % 2 = 1
            THEN 1 ELSE -1 END FOR h IN wh]) > 0
          THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END
          FOR b IN generate_series(0, 59)]) AS BIGINT) AS sim
      FROM d),
    bands AS (
      SELECT doc_id, sim, unnest([
        {'band': 0, 'bkey': (sim >> 0) % 32768},
        {'band': 1, 'bkey': (sim >> 15) % 32768},
        {'band': 2, 'bkey': (sim >> 30) % 32768},
        {'band': 3, 'bkey': (sim >> 45) % 32768}], recursive := true)
      FROM sg),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        a.sim AS sim_a, b.sim AS sim_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id)
    SELECT doc_a, doc_b, sim_a, sim_b,
      CAST(bit_count(xor(sim_a, sim_b)) AS INTEGER) AS hamming
    FROM cand WHERE bit_count(xor(sim_a, sim_b)) <= 3"""),
    "Near-dedup: 60-bit SimHash + 4×15-bit band blocking + Hamming ≤ 3",
    conf = Q.Unfused)

  /** MinHash signatures via the typed Aggregator (mergeable-sketch
    * path): token hashes explode, the UDAF folds them with map-side
    * partial aggregation — one shuffle on doc_id carrying k-long
    * sketch states, not token lists. Same arithmetic as the row-local
    * fold (PropertySpec-checked); the oracle computes each mh_i as a
    * grouped min. */
  val qMinhashSketch = Q(
    "q_minhash_sketch",
    (spark, dir) => {
      val mh = udaf(graft.functions.MinHashAgg)
      val d = load(spark, dir, "documents")
      d.select(col("doc_id"),
          explode(array_distinct(words(col("text")))).as("w"))
        .select(col("doc_id"), stringHash(col("w")).as("h"))
        .groupBy("doc_id")
        .agg(mh(col("h")).as("sig"))
        // scalar columns, not the array: hash-compare tooling treats
        // flat columns uniformly across engines
        .select(col("doc_id") +:
          (1 to 8).map(i => element_at(col("sig"), i).as(s"mh$i")): _*)
    },
    Some("""WITH e AS (
      SELECT doc_id,
        CAST(('0x'||substr(md5(w),1,15)) AS BIGINT) % 2147483647 AS h
      FROM (SELECT doc_id, unnest(list_distinct(string_split(
        regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '))) AS w
        FROM documents))
    SELECT doc_id,
      min((h*7+3)%2147483647) AS mh1, min((h*13+11)%2147483647) AS mh2,
      min((h*29+19)%2147483647) AS mh3, min((h*41+31)%2147483647) AS mh4,
      min((h*53+43)%2147483647) AS mh5, min((h*67+59)%2147483647) AS mh6,
      min((h*83+71)%2147483647) AS mh7, min((h*97+89)%2147483647) AS mh8
    FROM e GROUP BY doc_id"""),
    "MinHash via typed Aggregator UDAF (mergeable sketch, partial agg)")

  /** Composite training-data pipeline — the flagship LLM-corpus
    * chain: quality-score → filter (≥ 5000 bp) → language-ID →
    * exact-dedup (min doc per md5 fingerprint) → per-language corpus
    * stats. Everything row-local until the final fingerprint window +
    * language aggregate (two shuffles total). */
  val qCorpusPipeline = Q(
    "q_corpus_pipeline",
    (spark, dir) => {
      // repartition: same single-scan-split spread as q_dedup_ngram_jaccard
      val d = load(spark, dir, "documents").repartition(col("doc_id"))
      val w = words(col("text"))
      val scored = d.select(col("doc_id"), size(w).as("n_tokens"),
        qualityBp(col("text"), w).as("quality_bp"),
        predLang(langScores(col("text"), w)).as("pred_lang"),
        fingerprintMd5(col("text")).as("fp"))
      val kept = scored.filter(col("quality_bp") >= 5000)
      val rn = row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy("fp").orderBy(col("doc_id").asc))
      kept.withColumn("rn", rn).filter(col("rn") === 1)
        .groupBy("pred_lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("total_tokens"),
          sum(col("quality_bp")).as("sum_quality_bp"))
    },
    Some("""WITH s AS (
      SELECT doc_id, text,
        string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS w,
        length(text) AS n_chars,
        length(regexp_replace(lower(text), '[a-z0-9\s]', '', 'g')) AS n_punct,
        length(regexp_replace(text, '[ -~]', '', 'g')) AS s_zh
      FROM documents),
    f AS (
      SELECT doc_id, len(w) AS n_tokens,
        CAST(round((least(len(w)/200.0, 1.0) * 0.4
          + (1.0 - least(CAST(n_punct AS DOUBLE)/greatest(n_chars,1), 1.0)) * 0.3
          + least(len(list_filter(w, t -> t IN ('the','a','and','of','is','to')))*10.0
              / greatest(len(w),1), 1.0) * 0.3) * 10000) AS BIGINT) AS quality_bp,
        len(list_filter(w, t -> t IN ('der','die','das','und','ist','nicht'))) AS s_de,
        len(list_filter(w, t -> t IN ('the','a','and','of','is','to'))) AS s_en,
        len(list_filter(w, t -> t IN ('el','la','los','y','es','de'))) AS s_es,
        len(list_filter(w, t -> t IN ('le','la','les','et','est','de'))) AS s_fr,
        s_zh,
        md5(array_to_string(w, ' ')) AS fp
      FROM s),
    kept AS (
      SELECT *,
        CASE WHEN s_de = greatest(s_de,s_en,s_es,s_fr,s_zh) THEN 'de'
             WHEN s_en = greatest(s_de,s_en,s_es,s_fr,s_zh) THEN 'en'
             WHEN s_es = greatest(s_de,s_en,s_es,s_fr,s_zh) THEN 'es'
             WHEN s_fr = greatest(s_de,s_en,s_es,s_fr,s_zh) THEN 'fr'
             ELSE 'zh' END AS pred_lang
      FROM f WHERE quality_bp >= 5000),
    dedup AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
        FROM kept) WHERE rn = 1)
    SELECT pred_lang, COUNT(*) AS n_docs,
      CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
      CAST(SUM(quality_bp) AS BIGINT) AS sum_quality_bp
    FROM dedup GROUP BY pred_lang"""),
    "Flagship corpus pipeline: quality filter → lang-ID → dedup → stats")

  /** Deterministic stratified sampling — the corpus-rebalancing
    * primitive (downsample the dominant language, keep the tails).
    * Membership is content-addressed (md5 of a salted doc id →
    * bucket in [0, 10000)), so the sample is reproducible across
    * runs, engines, and cluster layouts — no RNG state, no
    * `sample()` nondeterminism. Row-local filter: zero shuffles,
    * scales embarrassingly. Salt "smpl:" decorrelates the sampling
    * hash from every other md5-derived key in the engine. */
  val qSampleStratified = Q(
    "q_sample_stratified",
    (spark, dir) => {
      val d = load(spark, dir, "documents")
      val bucket = sampleBucket(col("doc_id"), "smpl:", 10000L)
      val rate = when(col("lang") === "en", lit(2000L)).otherwise(lit(6000L))
      d.select(col("doc_id"), col("lang"), col("source"),
          bucket.as("bucket"), rate.as("rate"))
        .filter(col("bucket") < col("rate"))
        .select("doc_id", "lang", "source", "bucket")
    },
    Some("""WITH h AS (
      SELECT doc_id, lang, source,
        (CAST(('0x'||substr(md5('smpl:'||CAST(doc_id AS VARCHAR)),1,15)) AS BIGINT)
          % 2147483647) % 10000 AS bucket
      FROM documents)
    SELECT doc_id, lang, source, bucket FROM h
    WHERE bucket < CASE WHEN lang = 'en' THEN 2000 ELSE 6000 END"""),
    "Stratified sampling: deterministic hash buckets, per-stratum rates")

  /** WEIGHTED sampling without replacement — Efraimidis–Spirakis
    * (2006): each item draws u ~ U(0,1) and gets key = -ln(u)/w; the
    * k smallest keys per stratum are a weight-proportional sample
    * without replacement. The Bernoulli samplers above can't express
    * "prefer higher-quality docs but keep exactly k per source"; this
    * is that op (weights here = n_chars — longer docs preferred).
    *
    * Determinism: u is content-addressed (md5 of a salted doc id →
    * (h%1e6 + 0.5)/1e6, never 0 or 1); the key is rounded to an
    * INTEGER e12 scale BEFORE ranking with a doc_id tiebreak (the
    * tfidf round-then-rank convention — a libm last-ulp difference
    * between engines can shift a key by 1e-16 relative, which the
    * rounding absorbs and the tiebreak disambiguates).
    *
    * Scale: key derivation is row-local; the only shuffle is the
    * per-source top-k window, which WindowGroupLimit bounds to k rows
    * per partition map-side. At extreme stratum skew, swap the window
    * for the mergeable TopKAgg (same result, no sort). */
  val qSampleWeighted = Q(
    "q_sample_weighted",
    (spark, dir) => {
      val d = load(spark, dir, "documents")
      val h = pmod(conv(substring(md5(concat(lit("wsmpl:"),
        col("doc_id").cast("string"))), 1, 15), 16, 10).cast("long"),
        lit(2147483647L))
      val u = ((h % 1000000L).cast("double") + lit(0.5)) / lit(1000000.0)
      val keyed = d.select(col("doc_id"), col("source"),
        col("n_chars").as("w"),
        round(lit(1.0e12) * -log(u) / col("n_chars")).cast("long").as("key_e12"))
      val win = Window.partitionBy(col("source"))
        .orderBy(col("key_e12").asc, col("doc_id").asc)
      keyed.withColumn("pick", row_number().over(win))
        .filter(col("pick") <= 10)
        .select(col("source"), col("pick").cast("int").as("pick"),
          col("doc_id"), col("w"), col("key_e12"))
    },
    Some("""WITH h AS (
      SELECT doc_id, source, n_chars AS w,
        ((CAST(('0x'||substr(md5('wsmpl:'||CAST(doc_id AS VARCHAR)),1,15)) AS BIGINT)
          % 2147483647) % 1000000 + 0.5) / 1000000.0 AS u
      FROM documents),
    k AS (SELECT doc_id, source, w,
      CAST(round(1.0e12 * -ln(u) / w) AS BIGINT) AS key_e12 FROM h)
    SELECT source, CAST(pick AS INTEGER) AS pick, doc_id, w, key_e12 FROM (
      SELECT source, doc_id, w, key_e12,
        row_number() OVER (PARTITION BY source ORDER BY key_e12 ASC, doc_id ASC) AS pick
      FROM k) WHERE pick <= 10"""),
    "Weighted sampling w/o replacement: Efraimidis-Spirakis keys, round-then-rank")

  /** PII scrubbing — redact structured identifiers before training.
    * The synthetic corpus carries no PII, so a deterministic slice is
    * SEEDED first (doc_id%5 gains an email, doc_id%7 a phone number —
    * reserved `.invalid` TLD, 555 exchange), then scrubbed; both
    * engines rebuild the seeded text identically, so the oracle pins
    * that every seeded identifier was found and replaced (counts +
    * md5 of the scrubbed text — a scrubber that missed one, or
    * mangled surrounding text, hash-fails). Row-local regexes both
    * dialects parse identically; zero shuffles. */
  val qPiiScrub = Q(
    "q_pii_scrub",
    (spark, dir) => {
      val d = load(spark, dir, "documents").repartition(col("doc_id"))
      val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val phoneRe = "\\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}"
      val seeded = d.select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 5 === 0,
            concat(lit(" contact user"), col("doc_id").cast("string"),
              lit("@example.invalid now"))).otherwise(lit("")),
          when(col("doc_id") % 7 === 0,
            concat(lit(" call +1-555-"),
              lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
              lit(" ok"))).otherwise(lit(""))).as("t"))
      seeded.select(col("doc_id"),
          regexp_count(col("t"), lit(emailRe)).cast("long").as("n_emails"),
          regexp_count(col("t"), lit(phoneRe)).cast("long").as("n_phones"),
          md5(regexp_replace(regexp_replace(col("t"), emailRe, "<EMAIL>"),
            phoneRe, "<PHONE>")).as("scrub_md5"))
    },
    Some("""WITH s AS (
      SELECT doc_id,
        text ||
        CASE WHEN doc_id % 5 = 0
          THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.invalid now'
          ELSE '' END ||
        CASE WHEN doc_id % 7 = 0
          THEN ' call +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' ok'
          ELSE '' END AS t
      FROM documents)
    SELECT doc_id,
      CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
      CAST(len(regexp_extract_all(t, '\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}')) AS BIGINT) AS n_phones,
      md5(regexp_replace(regexp_replace(t,
        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        '\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g')) AS scrub_md5
    FROM s"""),
    "PII scrub: seeded email/phone redaction with count + hash evidence")

  /** Overlapping chunking — the RAG/context-window splitter: fixed
    * K-token chunks advancing by stride = K − overlap, so consecutive
    * chunks share `overlap` tokens. Chunk c covers tokens
    * [c·stride, c·stride + K); emitted iff its start is in range, so
    * every token lands in ≥ 1 chunk and boundaries are deterministic.
    * Row-local explode of a per-doc index sequence — chunk COUNT
    * multiplies rows, payload text does not travel (only first/last
    * token evidence + sizes). */
  val qChunkOverlap = Q(
    "q_chunk_overlap",
    (spark, dir) => {
      val K = 50
      val stride = 40 // overlap 10
      val d = load(spark, dir, "documents").repartition(col("doc_id"))
      d.select(col("doc_id"), words(col("text")).as("w"))
        .select(col("doc_id"), col("w"), size(col("w")).as("n"))
        // DIV, not `/`: Column./ is floating division and sequence()
        // needs an integral bound
        .withColumn("c", explode(sequence(lit(0),
          expr(s"CAST((n - 1) DIV $stride AS INT)"))))
        .select(col("doc_id"), col("c").cast("long").as("chunk_idx"),
          (col("c") * stride).cast("long").as("start_tok"),
          least(lit(K), col("n") - col("c") * stride).cast("long").as("n_tok"),
          element_at(col("w"), col("c") * stride + 1).as("first_tok"),
          element_at(col("w"),
            least(col("c") * stride + K, col("n"))).as("last_tok"))
    },
    Some("""WITH d AS (
      SELECT doc_id,
        string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS w
      FROM documents),
    c AS (
      SELECT doc_id, w, len(w) AS n,
        unnest(generate_series(0, (len(w)-1)//40)) AS c
      FROM d)
    SELECT doc_id, CAST(c AS BIGINT) AS chunk_idx,
      CAST(c*40 AS BIGINT) AS start_tok,
      CAST(least(50, n - c*40) AS BIGINT) AS n_tok,
      w[c*40 + 1] AS first_tok,
      w[least(c*40 + 50, n)] AS last_tok
    FROM c"""),
    "Overlapping K-token chunking (stride = K - overlap), row-local")

  /** Benchmark decontamination — drop training documents that leak
    * eval-set content. The benchmark set (here: every 50th doc) is
    * shingled and BROADCAST — eval suites are tiny by nature, so the
    * corpus side never shuffles for the probe; the per-doc hit count
    * is a map-side-combinable aggregate on the doc id. Output: every
    * contaminated doc with its overlap evidence (shared 3-gram
    * count + basis-point overlap). */
  val qDecontaminate = Q(
    "q_decontaminate",
    (spark, dir) => {
      // repartition: same single-scan-split spread as q_dedup_ngram_jaccard
      val d = load(spark, dir, "documents").repartition(col("doc_id"))
      // persist: pushdown barrier for the shingle derivation (see
      // q_dedup_ngram_jaccard) + reused by bench side, corpus side,
      // and the per-doc shingle counts.
      val base = d.select(col("doc_id"),
        shingleHashes(words(col("text"))).as("hs"))
        .transform(CacheReleases.persisted)
      val ex = base.select(col("doc_id"), explode(col("hs")).as("s"))
      val bench = ex.filter(col("doc_id") % 50 === 0).select("s").distinct()
      val corpus = ex.filter(col("doc_id") % 50 =!= 0)
      val nn = base.filter(col("doc_id") % 50 =!= 0)
        .select(col("doc_id"), size(col("hs")).cast("long").as("n_sh"))
      corpus.join(broadcast(bench), Seq("s"))
        .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
        .join(nn, Seq("doc_id"))
        .select(col("doc_id"), col("n_hits"), col("n_sh"),
          round(lit(10000.0) * col("n_hits") / col("n_sh"))
            .cast("long").as("contam_bp"))
    },
    Some("""WITH d AS (
      SELECT doc_id,
        list_distinct(CASE WHEN len(w) >= 3
          THEN [array_to_string(w[i:i+2], ' ') FOR i IN generate_series(1, len(w)-2)]
          ELSE [array_to_string(w, ' ')] END) AS sh
      FROM (SELECT doc_id,
        string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS w
        FROM documents)),
    e0 AS (SELECT doc_id, unnest(sh) AS s0 FROM d),
    e AS (SELECT doc_id,
      CAST(('0x'||substr(md5(s0),1,15)) AS BIGINT) % 2147483647 AS s
      FROM e0),
    bench AS (SELECT DISTINCT s FROM e WHERE doc_id % 50 = 0),
    corpus AS (SELECT doc_id, s FROM e WHERE doc_id % 50 != 0),
    hits AS (SELECT doc_id, COUNT(*) AS n_hits
      FROM corpus JOIN bench USING (s) GROUP BY 1),
    nn AS (SELECT doc_id, len(sh) AS n_sh FROM d WHERE doc_id % 50 != 0)
    SELECT doc_id, n_hits, n_sh,
      CAST(round(10000.0 * n_hits / n_sh) AS BIGINT) AS contam_bp
    FROM hits JOIN nn USING (doc_id)"""),
    "Decontamination: broadcast benchmark shingles, per-doc overlap evidence",
    conf = Q.Unfused)

  /** Within-document repetition signals (the Gopher-style quality
    * gate): duplicate-word fraction and top-word share, both in basis
    * points. Computed distributed — explode words, grouped counts —
    * not as a per-row quadratic list fold: two combinable shuffles
    * ((doc, word) then doc), so a pathological 1 GB document costs
    * its token count, not its token count squared. */
  val qTextRepetition = Q(
    "q_text_repetition",
    (spark, dir) => {
      // repartition: same single-scan-split spread as q_dedup_ngram_jaccard
      val d = load(spark, dir, "documents").repartition(col("doc_id"))
      val w = d.select(col("doc_id"), explode(words(col("text"))).as("w"))
      val cnt = w.groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
      cnt.groupBy("doc_id")
        .agg(sum(col("c")).as("n_words"),
          count(lit(1)).as("n_distinct"),
          max(col("c")).as("top_c"))
        .select(col("doc_id"), col("n_words"), col("n_distinct"), col("top_c"),
          round(lit(10000.0) * (col("n_words") - col("n_distinct")) / col("n_words"))
            .cast("long").as("dup_word_bp"),
          round(lit(10000.0) * col("top_c") / col("n_words"))
            .cast("long").as("top_word_bp"))
    },
    Some("""WITH w AS (
      SELECT doc_id,
        unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS w
      FROM documents),
    c AS (SELECT doc_id, w, COUNT(*) AS c FROM w GROUP BY 1, 2),
    a AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_words,
        COUNT(*) AS n_distinct, MAX(c) AS top_c
      FROM c GROUP BY 1)
    SELECT doc_id, n_words, n_distinct, top_c,
      CAST(round(10000.0 * (n_words - n_distinct) / n_words) AS BIGINT) AS dup_word_bp,
      CAST(round(10000.0 * top_c / n_words) AS BIGINT) AS top_word_bp
    FROM a"""),
    "Repetition signals: dup-word + top-word share via grouped counts")

  /** Token-budget chunk packing — the sequence-packing step of a
    * pretraining pipeline: assign documents to fixed-budget bins
    * (256 BPE-ish tokens) in deterministic order within each source
    * shard. Distributed form: running token total per source
    * (one window shuffle, parallel across sources) and
    * `bin = floor(cum_before / budget)` — the streaming-friendly
    * approximation of greedy packing (greedy's close-on-overflow rule
    * is inherently sequential; this form is one window and at 100 TB
    * packs per (source, day/shard) partition so no single window
    * partition is unbounded). */
  val qChunkPack = Q(
    "q_chunk_pack",
    (spark, dir) => {
      val d = load(spark, dir, "documents")
      val t = d.select(col("doc_id"), col("source"),
        bpeishTokenCount(col("text")).cast("long").as("n_tok"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy("doc_id")
      t.withColumn("cum", sum(col("n_tok")).over(w))
        .select(col("doc_id"), col("source"), col("n_tok"),
          expr("(cum - n_tok) div 256").as("bin_id"))
    },
    Some("""SELECT doc_id, source, n_tok, (cum - n_tok) // 256 AS bin_id FROM (
      SELECT doc_id, source,
        CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT) AS n_tok,
        CAST(SUM(CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT))
          OVER (PARTITION BY source ORDER BY doc_id) AS BIGINT) AS cum
      FROM documents)"""),
    "Sequence packing: running-total token bins per source shard")

  /** First iteration of BPE tokenizer training: count adjacent
    * character pairs across the corpus, weighted by word frequency —
    * the argmax pair is the first merge rule. Distributed shape: the
    * word histogram first (one combinable shuffle collapses the corpus
    * to its vocabulary), THEN pair expansion over the vocabulary only
    * (corpus-size-independent), then the weighted pair aggregate.
    * Expanding pairs per word-instance instead of per vocab entry
    * would blow the explode up by the corpus/vocab ratio. */
  val qBpePairs = Q(
    "q_bpe_pairs",
    (spark, dir) => {
      val d = load(spark, dir, "documents")
      val vocab = d.select(explode(words(col("text"))).as("word"))
        .filter(length(col("word")) >= 2)
        .groupBy("word").agg(count(lit(1)).as("c"))
      val pairs = vocab.select(col("c"),
        explode(transform(sequence(lit(1), length(col("word")) - 1),
          i => col("word").substr(i, lit(2)))).as("pair"))
      pairs.groupBy("pair").agg(sum(col("c")).as("n"))
        .orderBy(col("n").desc, col("pair").asc)
        .limit(20)
    },
    Some("""WITH w AS (
      SELECT unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS word
      FROM documents),
    vocab AS (SELECT word, COUNT(*) AS c FROM w
      WHERE length(word) >= 2 GROUP BY 1),
    pl AS (SELECT c,
        [substr(word, i, 2) FOR i IN generate_series(1, length(word)-1)] AS ps
      FROM vocab),
    p AS (SELECT c, unnest(ps) AS pair FROM pl)
    SELECT pair, CAST(SUM(c) AS BIGINT) AS n FROM p
    GROUP BY 1 ORDER BY n DESC, pair ASC LIMIT 20"""),
    "BPE training step: corpus-weighted adjacent-pair counts over the vocabulary")

  /** Duplicate-cluster assembly: connected components over the
    * near-dup pair graph (pairwise detection alone can't answer "which
    * canonical doc replaces this one" — A~B and B~C must collapse to
    * one cluster even when A~C was never scored). The kernel
    * (ops.Components) runs bounded min-label propagation — one join +
    * one aggregate per round, rounds = diameter, the cheap path for
    * near-dup graphs — and escalates to large-star/small-star
    * (O(log n) rounds) if the diameter budget runs out, so a
    * pathological chain corpus completes instead of hard-failing.
    * Output: every clustered doc with its component id (= min doc id
    * in the component), exactly what a canonical-replacement join
    * consumes. The oracle computes the same components with a
    * recursive transitive-closure CTE. */
  val qDedupComponents = Q(
    "q_dedup_components",
    (spark, dir) => {
      val pairs = ngramJaccardPairs(spark, dir)
        .select(col("doc_a").as("u"), col("doc_b").as("v"))
        .transform(CacheReleases.persisted)
      graft.ops.Components.connectedComponents(pairs)
        .select(col("vtx").as("doc_id"), col("comp").as("component"))
    },
    Some(s"""WITH RECURSIVE $sqlJaccardPairCtes,
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM jb
      UNION
      SELECT doc_b AS u, doc_a AS v FROM jb),
    reach(v, r) AS (
      SELECT u AS v, u AS r FROM edges
      UNION
      SELECT e.u AS v, reach.r
      FROM edges e JOIN reach ON reach.v = e.v)
    SELECT v AS doc_id, min(r) AS component FROM reach GROUP BY v"""),
    "Dup-cluster assembly: connected components via min-label propagation")

  /** The APPLY step of near-dedup — the full composition a training
    * pipeline actually runs: pair detection (df-capped inverted index)
    * → cluster assembly (ops.Components) → drop every non-canonical
    * cluster member via LEFT ANTI join, emitting the surviving corpus.
    * The anti-join ships only doc ids (the non-canonical set is
    * cluster-members-sized, not corpus-sized); document payloads never
    * join anything. Canonical = min doc id per cluster, so the kept
    * set is deterministic and the oracle recomputes it from the same
    * recursive-CTE components. */
  val qDedupApply = Q(
    "q_dedup_apply",
    (spark, dir) => {
      val pairs = ngramJaccardPairs(spark, dir)
        .select(col("doc_a").as("u"), col("doc_b").as("v"))
        .transform(CacheReleases.persisted)
      val nonCanonical = graft.ops.Components.connectedComponents(pairs)
        .filter(col("vtx") =!= col("comp"))
        .select(col("vtx").as("doc_id"))
      load(spark, dir, "documents")
        .select(col("doc_id"), col("source"), length(col("text")).as("n_chars_kept"))
        .join(nonCanonical, Seq("doc_id"), "left_anti")
    },
    Some(s"""WITH RECURSIVE $sqlJaccardPairCtes,
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM jb
      UNION
      SELECT doc_b AS u, doc_a AS v FROM jb),
    reach(v, r) AS (
      SELECT u AS v, u AS r FROM edges
      UNION
      SELECT e.u AS v, reach.r
      FROM edges e JOIN reach ON reach.v = e.v),
    cc AS (SELECT v AS doc_id, min(r) AS component FROM reach GROUP BY v)
    SELECT doc_id, source, length(text) AS n_chars_kept
    FROM documents
    WHERE doc_id NOT IN (SELECT doc_id FROM cc WHERE doc_id != component)"""),
    "Near-dedup applied: canonical survivors after cluster-member removal")

  /** Incremental dedup against a historical corpus via a Bloom
    * pre-filter — the shuffle-avoidance pattern for daily batches:
    * the history collapses to a KB-sized mergeable Bloom sketch
    * (Spark's own runtime-filter aggregate, surfaced as
    * graft_bloom_agg), every new doc is tested ROW-LOCALLY against the
    * sketch, and only the survivors (true dups + bounded false
    * positives) reach the exact verification join. Shuffle volume is
    * survivor-sized, not batch-sized; false negatives are impossible,
    * so the exact join makes the result bloom-independent — which is
    * why a plain-join DuckDB oracle can verify it. The sketch literal
    * is driver-collected, but it is sketch-sized (numBits/8 bytes)
    * like any broadcast build — never data-sized.
    *
    * Sizing is DERIVED from the history cardinality (numBits for a 1%
    * FPP at the observed count — `BloomOps.sizedBits`), not hardcoded:
    * a fixed numBits degrades toward FPP≈1 at 100× history and the
    * prefilter silently stops paying. The count() that feeds the
    * formula materializes the persisted history the sketch aggregate
    * and the verify join both reuse, so it costs no extra scan. An
    * empty history short-circuits past the sketch (BloomFilterAggregate
    * yields a null sketch on zero rows, which would fail
    * BloomFilterMightContain's type check at analysis time). */
  val qBloomPrefilter = Q(
    "q_bloom_prefilter",
    (spark, dir) => {
      val d = load(spark, dir, "documents")
      val f = d.select(col("doc_id"),
        md5(concat_ws(" ", slice(words(col("text")), 1, 5))).as("fp"))
      val hist = f.filter(col("doc_id") % 3 === 0)
        .groupBy("fp").agg(min(col("doc_id")).as("canonical"))
        .transform(CacheReleases.persisted)
      val newDocs = f.filter(col("doc_id") % 3 =!= 0)
      graft.ops.BloomOps.prefilteredJoin(hist, newDocs, "fp")
        .select(col("doc_id"), col("fp"), col("canonical"))
    },
    Some("""WITH f AS (
      SELECT doc_id,
        md5(array_to_string((string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '))[1:5], ' ')) AS fp
      FROM documents),
    hist AS (SELECT fp, min(doc_id) AS canonical FROM f
      WHERE doc_id % 3 = 0 GROUP BY fp)
    SELECT n.doc_id, n.fp, h.canonical
    FROM (SELECT doc_id, fp FROM f WHERE doc_id % 3 != 0) n
    JOIN hist h USING (fp)"""),
    "Incremental dedup: Bloom sketch prefilter + exact verify join")

  /** The SHARDED Bloom path as an oracle row (until now it was only
    * OpsSpec-driven): the per-sketch bit cap is lowered to ~1/8 of the
    * history's optimal size, so [[graft.ops.BloomOps.prefilter]] must
    * take the fingerprint-prefix sharding branch (~8-9 shards at EVERY
    * SF — the cap adapts to the measured history count, so the branch
    * engages identically at sf0.001 and sf10) and route probes through
    * the O(1) `graft_bloom_sharded` expression. The exact verify join
    * makes the output bloom-independent, so the oracle is the same
    * dedup SQL as q_bloom_prefilter — hash equality proves sharding
    * changes NOTHING but the sketch layout. The require() turns a
    * silently-not-sharded run into a loud failure rather than a
    * vacuous green. */
  val qBloomSharded = Q(
    "q_bloom_sharded",
    (spark, dir) => {
      val d = load(spark, dir, "documents")
      val f = d.select(col("doc_id"),
        md5(concat_ws(" ", slice(words(col("text")), 1, 5))).as("fp"))
      val hist = f.filter(col("doc_id") % 3 === 0)
        .groupBy("fp").agg(min(col("doc_id")).as("canonical"))
        .transform(CacheReleases.persisted)
      val newDocs = f.filter(col("doc_id") % 3 =!= 0)
      val nHist = hist.count() // materializes the persist; reused below
      val cap = math.max(64L, graft.ops.BloomOps.optimalBits(nHist) / 8)
      Tables.withConf(spark,
          "spark.sql.optimizer.runtime.bloomFilter.maxNumBits" -> cap.toString) {
        require(graft.ops.BloomOps.numShards(nHist,
          graft.ops.BloomOps.TargetFpp, cap) >= 2,
          "sharded path did not engage — cap derivation broken")
        // sketches are built EAGERLY here (collect inside), so the
        // lowered cap is observed now and restored safely after
        graft.ops.BloomOps.prefilteredJoin(hist, newDocs, "fp")
          .select(col("doc_id"), col("fp"), col("canonical"))
      }
    },
    Some("""WITH f AS (
      SELECT doc_id,
        md5(array_to_string((string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '))[1:5], ' ')) AS fp
      FROM documents),
    hist AS (SELECT fp, min(doc_id) AS canonical FROM f
      WHERE doc_id % 3 = 0 GROUP BY fp)
    SELECT n.doc_id, n.fp, h.canonical
    FROM (SELECT doc_id, fp FROM f WHERE doc_id % 3 != 0) n
    JOIN hist h USING (fp)"""),
    "Sharded Bloom prefilter (cap forces ~8 fingerprint-prefix shards) + exact verify")

  /** Composite curation gate (the Gopher/MassiveText-style rule
    * stack): five quality rules evaluated per document, reported as a
    * FAILURE BITMASK (0 = admit) so downstream can both filter and
    * audit WHY documents fell out — at corpus scale the reason
    * histogram is the knob-tuning signal, not the boolean. All rules
    * are integral (counts, ×100 / basis-point ratios with integer
    * division), so the verdict is bit-reproducible. Entirely
    * row-local — zero shuffles; the distributed-count form of the
    * repetition signal lives in q_text_repetition (this row-local
    * variant is the right shape while documents fit a row, which a
    * curation gate can assume AFTER chunking). */
  val qGopherFilter = Q(
    "q_gopher_filter",
    (spark, dir) => {
      val d = load(spark, dir, "documents").repartition(col("doc_id"))
      val w = words(col("text"))
      val nW = size(w).cast("long")
      val nC = length(col("text")).cast("long")
      // total word chars = normalized length minus the n-1 separators
      val wordChars = length(normText(col("text"))) - (nW - 1)
      // `/` on Column is double division; the truncating cast equals
      // DuckDB's `//` here because every operand is non-negative and
      // far below the double-exactness boundary
      val mwlE2 = ((wordChars * 100L) / greatest(nW, lit(1L))).cast("long")
      val punct = length(regexp_replace(lower(col("text")), "[a-z0-9\\s]", ""))
        .cast("long")
      val symBp = ((punct * 10000L) / greatest(nC, lit(1L))).cast("long")
      val nStop = vocabHits(w, Stop).cast("long")
      val dupBp = (((nW - size(array_distinct(w))) * 10000L)
        / greatest(nW, lit(1L))).cast("long")
      val failMask =
        when(nW < 10 || nW > 100000, 1L).otherwise(0L) +
          when(mwlE2 < 250 || mwlE2 > 1200, 2L).otherwise(0L) +
          when(symBp > 1500, 4L).otherwise(0L) +
          when(nStop < 1, 8L).otherwise(0L) +
          when(dupBp > 6000, 16L).otherwise(0L)
      d.select(col("doc_id"), nW.as("n_words"), mwlE2.as("mwl_e2"),
        symBp.as("sym_bp"), nStop.as("n_stop"), dupBp.as("dup_bp"),
        failMask.as("fail_mask"), (failMask === 0L).as("admitted"))
    },
    Some("""WITH s AS (
      SELECT doc_id, length(text) AS n_chars,
        regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm,
        string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS w,
        length(regexp_replace(lower(text), '[a-z0-9\s]', '', 'g')) AS n_punct
      FROM documents),
    m AS (
      SELECT doc_id,
        CAST(len(w) AS BIGINT) AS n_words,
        ((length(norm) - (len(w) - 1)) * 100) // greatest(len(w), 1) AS mwl_e2,
        (n_punct * 10000) // greatest(n_chars, 1) AS sym_bp,
        CAST(len(list_filter(w, t -> t IN ('the','a','and','of','is','to'))) AS BIGINT) AS n_stop,
        ((len(w) - len(list_distinct(w))) * 10000) // greatest(len(w), 1) AS dup_bp
      FROM s),
    f AS (
      SELECT *,
        (CASE WHEN n_words < 10 OR n_words > 100000 THEN 1 ELSE 0 END
         + CASE WHEN mwl_e2 < 250 OR mwl_e2 > 1200 THEN 2 ELSE 0 END
         + CASE WHEN sym_bp > 1500 THEN 4 ELSE 0 END
         + CASE WHEN n_stop < 1 THEN 8 ELSE 0 END
         + CASE WHEN dup_bp > 6000 THEN 16 ELSE 0 END) AS fail_mask
      FROM m)
    SELECT doc_id, n_words, CAST(mwl_e2 AS BIGINT) AS mwl_e2,
      CAST(sym_bp AS BIGINT) AS sym_bp, n_stop,
      CAST(dup_bp AS BIGINT) AS dup_bp,
      CAST(fail_mask AS BIGINT) AS fail_mask,
      (fail_mask = 0) AS admitted
    FROM f"""),
    "Gopher-style composite quality gate: five integral rules, failure bitmask")

  /** Source-mixture rebalancing — the training-mix step that follows
    * curation: give every source the SAME token budget (tot div n_src)
    * and downsample each source to its budget with a deterministic
    * per-document hash draw (rate_bp = share of 10000 hash buckets
    * admitted). Over-budget sources thin out; under-budget sources
    * keep everything (rate capped at 10000). All arithmetic is
    * integral — no double weights — so the admitted set is exactly
    * reproducible across engines and re-runs (the property a training
    * pipeline needs for resumable data loading).
    *
    * Scale: per-source token totals are one combinable aggregate to
    * n_src rows; rates broadcast back; admission is a row-local hash
    * filter. The corpus itself never shuffles. */
  val qMixtureSample = Q(
    "q_mixture_sample",
    (spark, dir) => {
      val d = load(spark, dir, "documents").repartition(col("doc_id"))
      val tok = d.select(col("doc_id"), col("source"),
        size(words(col("text"))).cast("long").as("n_tok"))
      val src = tok.groupBy("source").agg(sum(col("n_tok")).as("src_tok"))
      val tot = src.agg(sum(col("src_tok")).as("tot_tok"),
        count(lit(1)).as("n_src"))
      val rates = src.crossJoin(broadcast(tot))
        .select(col("source"), col("src_tok"),
          least(lit(10000L),
            expr("(10000 * (tot_tok DIV n_src)) DIV src_tok")).as("rate_bp"))
      tok.join(broadcast(rates), Seq("source"))
        .withColumn("bucket", sampleBucket(col("doc_id"), "mix:", 10000L))
        .filter(col("bucket") < col("rate_bp"))
        .select("doc_id", "source", "n_tok", "bucket", "rate_bp")
    },
    Some("""WITH t AS (
      SELECT doc_id, source,
        CAST(len(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS BIGINT) AS n_tok
      FROM documents),
    s AS (SELECT source, CAST(SUM(n_tok) AS BIGINT) AS src_tok FROM t GROUP BY 1),
    tot AS (SELECT CAST(SUM(src_tok) AS BIGINT) AS tot_tok, COUNT(*) AS n_src FROM s),
    r AS (SELECT source, src_tok,
      least(10000, (10000 * (tot_tok // n_src)) // src_tok) AS rate_bp
      FROM s, tot),
    h AS (SELECT t.doc_id, t.source, t.n_tok, r.rate_bp,
      (CAST(('0x'||substr(md5('mix:'||CAST(doc_id AS VARCHAR)),1,15)) AS BIGINT)
        % 2147483647) % 10000 AS bucket
      FROM t JOIN r USING (source))
    SELECT doc_id, source, n_tok, bucket, rate_bp FROM h
    WHERE bucket < rate_bp"""),
    "Mixture sampling: equal per-source token budgets, integral hash admission")

  /** Per-document TF-IDF top terms — the classic relevance weighting
    * over the corpus: tf from a (doc, term) count, df from a term
    * count over that, idf = ln(N/df). Scores are rounded to basis
    * points BEFORE ranking: exact-tie score pairs (e.g. tf=2 against
    * df² cases where tf·ln(N/df) coincides in real arithmetic) would
    * otherwise rank on the last-ulp taste of each engine's libm; after
    * rounding, ties break on the integer columns (tf, df, term) —
    * fully deterministic.
    *
    * Scale: two combinable aggregates (doc,term) → (term) plus one
    * term-keyed join — standard inverted-index shape; the corpus-size
    * scalar broadcasts. Top-5 per doc is a row_number over the
    * doc-keyed partition (high cardinality, no funnel). */
  val qTfidfTerms = Q(
    "q_tfidf_terms",
    (spark, dir) => {
      val d = load(spark, dir, "documents").repartition(col("doc_id"))
      val tf = d.select(col("doc_id"), explode(words(col("text"))).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val n = d.agg(count(lit(1)).as("n_docs"))
      val scored = tf.join(df, Seq("term")).crossJoin(broadcast(n))
        .select(col("doc_id"), col("term"), col("tf"), col("df"),
          round(lit(10000.0) * col("tf")
            * log(col("n_docs").cast("double") / col("df")))
            .cast("long").as("score_bp"))
      val wr = Window.partitionBy("doc_id").orderBy(
        col("score_bp").desc, col("tf").desc, col("df").asc, col("term").asc)
      scored.withColumn("rk", row_number().over(wr).cast("long"))
        .filter(col("rk") <= 5)
        .select("doc_id", "term", "tf", "df", "score_bp", "rk")
    },
    Some("""WITH w AS (
      SELECT doc_id,
        unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS term
      FROM documents),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM w GROUP BY 1, 2),
    df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    sc AS (SELECT doc_id, tf.term, tf.tf, df.df,
      CAST(round(10000.0 * tf.tf * ln(CAST(n_docs AS DOUBLE) / df.df)) AS BIGINT) AS score_bp
      FROM tf JOIN df USING (term), n),
    r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
      ORDER BY score_bp DESC, tf DESC, df ASC, term ASC) AS rk FROM sc)
    SELECT doc_id, term, tf, df, score_bp, CAST(rk AS BIGINT) AS rk
    FROM r WHERE rk <= 5"""),
    "TF-IDF top terms per document: round-then-rank, inverted-index shape")

  /** Cross-document LINE-level dedup (the C4/RefinedWeb preprocessing
    * step): every document keeps only the lines whose first global
    * occurrence it owns — repeated boilerplate (footers, license
    * notices, navigation chrome) is removed corpus-wide while unique
    * prose survives. The synthetic corpus has no newlines, so shared
    * boilerplate lines are SEEDED deterministically first (doc_id%4
    * gains a footer line, doc_id%6 a notice line — docs%12 get both),
    * then the dedup runs on the line-split text; the oracle rebuilds
    * the seeding identically, so survivorship is fully pinned (count
    * + md5 of each doc's kept text).
    *
    * Scale: first-occurrence is min(doc_id·1e6 + line_idx) per line —
    * a map-side-combinable aggregate, NOT a per-line window. The
    * heavy hitters in real corpora are exactly the boilerplate lines
    * (one line, millions of owners); a window's row_number funnels
    * each into a single partition, while the min partial-aggregates
    * wherever the data sits (the Etl2 min(struct) lesson, DEVLOG r3).
    * The packed-long encoding keeps the aggregate a primitive
    * comparison; line_idx < 1e6 is asserted by construction (docs are
    * orders of magnitude shorter). Reassembly groups by doc_id and
    * ships only kept lines. */
  val qLineDedup = Q(
    "q_line_dedup",
    (spark, dir) => {
      val d = load(spark, dir, "documents").repartition(col("doc_id"))
      val seeded = d.select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 4 === 0,
            lit("\nshared footer boilerplate all rights reserved"))
            .otherwise(lit("")),
          when(col("doc_id") % 6 === 0,
            lit("\nstandard legal notice applies to this document"))
            .otherwise(lit(""))).as("t"))
      val lines = seeded
        .select(col("doc_id"), posexplode(split(col("t"), "\n")))
        .select(col("doc_id"), col("pos").cast("long").as("line_idx"),
          col("col").as("line"))
      val enc = col("doc_id") * 1000000L + col("line_idx")
      val first = lines.groupBy("line").agg(min(enc).as("first_enc"))
      lines.join(first, Seq("line"))
        .withColumn("kept", enc === col("first_enc"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_lines"),
          count(when(col("kept"), lit(1))).as("n_kept"),
          md5(array_join(transform(
            array_sort(collect_list(
              when(col("kept"), struct(col("line_idx"), col("line"))))),
            x => x.getField("line")), "\n")).as("kept_md5"))
    },
    Some("""WITH s AS (
      SELECT doc_id,
        text ||
        CASE WHEN doc_id % 4 = 0
          THEN chr(10) || 'shared footer boilerplate all rights reserved'
          ELSE '' END ||
        CASE WHEN doc_id % 6 = 0
          THEN chr(10) || 'standard legal notice applies to this document'
          ELSE '' END AS t
      FROM documents),
    ls AS (SELECT doc_id, string_split(t, chr(10)) AS l FROM s),
    ix AS (SELECT doc_id, l, unnest(generate_series(1, len(l))) AS li FROM ls),
    lines AS (SELECT doc_id, CAST(li - 1 AS BIGINT) AS line_idx,
      l[li] AS line FROM ix),
    f AS (SELECT line, min(doc_id * 1000000 + line_idx) AS first_enc
      FROM lines GROUP BY line),
    m AS (SELECT doc_id, line_idx, lines.line,
      (doc_id * 1000000 + line_idx = first_enc) AS kept
      FROM lines JOIN f ON lines.line = f.line)
    SELECT doc_id, COUNT(*) AS n_lines,
      COUNT(CASE WHEN kept THEN 1 END) AS n_kept,
      md5(coalesce(string_agg(CASE WHEN kept THEN line END, chr(10)
        ORDER BY line_idx), '')) AS kept_md5
    FROM m GROUP BY doc_id"""),
    "C4-style cross-corpus line dedup: keep first global occurrence, reassemble")

  /** BM25 document ranking (Robertson/Sparck Jones; k1=1.2, b=0.75) —
    * the doc-length-normalized relevance score TF-IDF lacks, and the
    * lexical half of every retrieval/RAG stack. The "query" is the
    * corpus's own 3 highest-df terms (deterministic at any scale — no
    * fixture-vocabulary dependence); each (doc, term) contribution is
    * rounded to basis points BEFORE the per-doc sum, so the doc score
    * is an order-independent INTEGER sum (the q_tfidf_terms round-
    * then-rank rule, extended to round-then-SUM: double addition does
    * not commute, integer addition does).
    *
    * Scale: inverted-index shape — two combinable aggregates (tf, dl),
    * a term-keyed df aggregate; query terms and the corpus stats
    * scalar broadcast; the dl join is doc-keyed on the tf lineage
    * already partitioned by doc; top-20 fuses into
    * TakeOrderedAndProject (no global sort). */
  val qBm25Rank = Q(
    "q_bm25_rank",
    (spark, dir) => {
      val d = load(spark, dir, "documents").repartition(col("doc_id"))
      val toks = d.select(col("doc_id"), explode(words(col("text"))).as("term"))
      val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
      val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val qterms = df.orderBy(col("df").desc, col("term").asc).limit(3)
      val stats = d.agg(count(lit(1)).as("n_docs"))
        .crossJoin(dl.agg(sum(col("dl")).as("tot_dl")))
      val avgdl = col("tot_dl").cast("double") / col("n_docs")
      val idf = log((col("n_docs") - col("df") + lit(0.5))
        / (col("df") + lit(0.5)) + lit(1.0))
      val frac = (col("tf") * lit(2.2)) /
        (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * (col("dl").cast("double") / avgdl)))
      val sc = tf.join(broadcast(qterms), Seq("term"))
        .join(dl, Seq("doc_id"))
        .crossJoin(broadcast(stats))
        .select(col("doc_id"),
          round(lit(10000.0) * idf * frac).cast("long").as("term_bp"))
      sc.groupBy("doc_id")
        .agg(count(lit(1)).as("n_hit"), sum(col("term_bp")).as("score_bp"))
        .orderBy(col("score_bp").desc, col("doc_id").asc)
        .limit(20)
    },
    Some("""WITH w AS (
      SELECT doc_id,
        unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS term
      FROM documents),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM w GROUP BY 1, 2),
    dl AS (SELECT doc_id, COUNT(*) AS dl FROM w GROUP BY 1),
    df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
    st AS (SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
                  (SELECT SUM(dl) FROM dl) AS tot_dl),
    qt AS (SELECT term, df FROM df ORDER BY df DESC, term ASC LIMIT 3),
    sc AS (SELECT tf.doc_id,
      CAST(round(10000.0 * ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
        * ((tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 *
            (CAST(dl AS DOUBLE) / (CAST(tot_dl AS DOUBLE) / n_docs)))))) AS BIGINT) AS term_bp
      FROM tf JOIN qt USING (term) JOIN dl USING (doc_id), st),
    agg AS (SELECT doc_id, COUNT(*) AS n_hit,
      CAST(SUM(term_bp) AS BIGINT) AS score_bp FROM sc GROUP BY 1)
    SELECT doc_id, n_hit, score_bp FROM agg
    ORDER BY score_bp DESC, doc_id ASC LIMIT 20"""),
    "BM25 ranking against the corpus's top-df terms: round-then-sum integer scores")

  /** Substring-level duplicate detection (the Lee et al. 2022
    * "Deduplicating Training Data" shape, reduced to Spark-friendly
    * form): find CROSS-document duplicated character spans that
    * doc-level and line-level dedup both miss (boilerplate pasted
    * mid-paragraph). Exact suffix arrays don't distribute; the
    * standard scalable reduction is content-defined sampling
    * (winnowing / MOSS, Schleimer et al. 2003): index only the
    * K=32-char shingles whose own hash selects them (md5 first hex
    * nibble = '0', i.e. 1/16 of positions). Selection depends on the
    * CONTENT, not the offset, so two copies of a duplicated region
    * sample the SAME shingles regardless of alignment — a stride
    * would miss copies at different offsets. A seeded banner
    * (doc_id % 7) plants a known cross-doc duplicated span.
    *
    * Scale: the sampling is row-local inside ONE native codegen'd
    * kernel (`graft_sampled_substrings` — the md5 scan never leaves
    * the map task, and only the kept 1/16 become rows at all); the
    * sample alone enters the one shuffle (groupBy shingle); the
    * per-doc rollup joins sample-sized sides keyed by the same
    * shingle column. No all-pairs anything; cost is O(total chars)
    * map-side + O(chars/16) shuffle. */
  val qDedupSubstring = Q(
    "q_dedup_substring",
    (spark, dir) => {
      val K = 32
      val banner = "== standard disclaimer: provided as-is without " +
        "warranty of any kind; redistribution permitted =="
      val seeded = load(spark, dir, "documents")
        .select(col("doc_id"),
          when(col("doc_id") % 7 === 0, concat(lit(banner), col("text")))
            .otherwise(col("text")).as("t"))
        .filter(length(col("t")) >= K)
      // Round-9 P21 A/B: the explode(sequence)→substring→md5 form
      // materialized EVERY position through Generate before the 1/16
      // sample kept any (5.27 s at sf0.1); the native kernel emits
      // only the sampled shingles row-locally (1.33 s) with the SAME
      // md5-prefix sample set, so the DuckDB oracle is unchanged.
      val sampled = seeded
        .select(col("doc_id"),
          explode(call_function("graft_sampled_substrings", col("t"))).as("sh"))
      val dup = sampled.groupBy("sh")
        .agg(countDistinct(col("doc_id")).as("nd"))
        .filter(col("nd") > 1)
        .select(col("sh"), lit(1).as("is_dup"))
      val perDoc = sampled.join(dup, Seq("sh"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_sampled"),
          count(col("is_dup")).as("n_dup_sampled"))
      seeded.select(col("doc_id"),
          (length(col("t")) - (K - 1)).cast("long").as("n_pos"))
        .join(perDoc, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_pos"),
          coalesce(col("n_sampled"), lit(0L)).as("n_sampled"),
          coalesce(col("n_dup_sampled"), lit(0L)).as("n_dup_sampled"),
          (coalesce(col("n_dup_sampled"), lit(0L)) > 0).cast("int").as("has_dup"))
    },
    Some("""WITH s AS (
      SELECT doc_id,
        CASE WHEN doc_id % 7 = 0
          THEN '== standard disclaimer: provided as-is without warranty of any kind; redistribution permitted ==' || text
          ELSE text END AS t
      FROM documents),
    long AS (SELECT * FROM s WHERE length(t) >= 32),
    pos AS (SELECT doc_id, t,
        unnest(generate_series(1, length(t) - 31)) AS p FROM long),
    samp AS (SELECT doc_id, substr(t, p, 32) AS sh
      FROM pos WHERE substr(md5(substr(t, p, 32)), 1, 1) = '0'),
    dup AS (SELECT sh FROM samp GROUP BY sh
      HAVING COUNT(DISTINCT doc_id) > 1),
    agg AS (SELECT samp.doc_id, COUNT(*) AS n_sampled,
        COUNT(dup.sh) AS n_dup_sampled
      FROM samp LEFT JOIN dup ON samp.sh = dup.sh
      GROUP BY samp.doc_id)
    SELECT long.doc_id, CAST(length(t) - 31 AS BIGINT) AS n_pos,
      COALESCE(n_sampled, 0) AS n_sampled,
      COALESCE(n_dup_sampled, 0) AS n_dup_sampled,
      CAST(COALESCE(n_dup_sampled, 0) > 0 AS INTEGER) AS has_dup
    FROM long LEFT JOIN agg ON long.doc_id = agg.doc_id"""),
    "Substring-level cross-doc dedup: winnowing-sampled 32-char shingles, one sample-sized shuffle")

  /** BPE merge LEARNING (Sennrich et al. 2016) — the iterative half
    * q_bpe_pairs stops short of: 3 rounds of (count adjacent symbol
    * pairs over the weighted vocab) → (pick the max pair, ties to the
    * lexicographically smallest (a,b)) → (greedily merge its
    * non-overlapping occurrences left-to-right in every word). The
    * merge is a single left fold with a top-of-accumulator check —
    * provably equal to leftmost-first merging because a merged token
    * a||b can never equal a (b is non-empty) and leftmost-ness rules
    * out a pending (a,b) ending at the merge site. Output is the
    * learned merge table itself: 3 rows, each a global aggregate over
    * the whole corpus AFTER the previous merges were applied.
    *
    * Scale: exactly the Lloyd shape — the corpus is read once (word
    * count); every later stage runs at VOCAB cardinality (distinct
    * words), each round is one combinable pair-count shuffle plus a
    * TakeOrdered(1), and only the k=1 winner row ever reaches the
    * driver, re-entering the plan as literals. The fold lambda runs
    * interpreted but row-local over vocab-sized data (the documented
    * exception to the no-higher-order-fn rule). */
  val qBpeLearn = Q(
    "q_bpe_learn",
    (spark, dir) => {
      import spark.implicits._
      val vocab0 = load(spark, dir, "documents")
        .select(explode(words(col("text"))).as("word"))
        .filter(length(col("word")) > 0)
        .groupBy("word").agg(count(lit(1)).as("freq"))
        .select(col("freq"), expr("filter(split(word, ''), x -> x <> '')").as("syms"))
        .transform(CacheReleases.persisted)
      var cur = vocab0
      val merges = Seq.newBuilder[(Int, String, String, Long)]
      (1 to 3).foreach { r =>
        val win = cur.filter(size(col("syms")) >= 2)
          .select(col("freq"), col("syms"),
            explode(expr("sequence(1, size(syms) - 1)")).as("i"))
          .select(element_at(col("syms"), col("i")).as("a"),
            element_at(col("syms"), col("i") + 1).as("b"), col("freq"))
          .groupBy("a", "b").agg(sum(col("freq")).cast("long").as("n"))
          .orderBy(col("n").desc, col("a").asc, col("b").asc)
          .limit(1).collect()(0)
        val (a, b) = (win.getString(0), win.getString(1))
        merges += ((r, a, b, win.getLong(2)))
        cur = cur.select(col("freq"),
          aggregate(col("syms"), array().cast("array<string>"),
            (acc, x) => when(
              size(acc) > 0 && element_at(acc, -1) === lit(a) && x === lit(b),
              concat(slice(acc, lit(1), size(acc) - 1),
                array(concat(element_at(acc, -1), x))))
              .otherwise(concat(acc, array(x)))).as("syms"))
      }
      vocab0.unpersist()
      merges.result()
        .toDF("round_id", "merge_left", "merge_right", "pair_n")
    },
    Some(raw"""WITH RECURSIVE
      words0 AS (
        SELECT w AS word, COUNT(*) AS freq FROM (
          SELECT unnest(string_split(regexp_replace(lower(trim(text)),
            '\s+', ' ', 'g'), ' ')) AS w
          FROM documents) WHERE length(w) > 0 GROUP BY w),
      vocab1 AS (
        SELECT freq,
          [substr(word, i, 1) FOR i IN range(1, length(word) + 1)] AS syms
        FROM words0),
      pairs1 AS (
        SELECT syms[i] AS a, syms[i+1] AS b, CAST(SUM(freq) AS BIGINT) AS n
        FROM (SELECT freq, syms,
          unnest(generate_series(1, len(syms) - 1)) AS i FROM vocab1)
        GROUP BY 1, 2),
      win1 AS (SELECT a, b, n FROM pairs1 ORDER BY n DESC, a, b LIMIT 1),
      f1 AS (
        SELECT freq, syms, 1 AS i, CAST([] AS VARCHAR[]) AS acc FROM vocab1
        UNION ALL
        SELECT freq, syms, i + 1,
          CASE WHEN len(acc) > 0 AND acc[-1] = (SELECT a FROM win1)
                AND syms[i] = (SELECT b FROM win1)
            THEN acc[1:len(acc)-1] || [acc[-1] || syms[i]]
            ELSE acc || [syms[i]] END
        FROM f1 WHERE i <= len(syms)),
      vocab2 AS (SELECT freq, acc AS syms FROM f1 WHERE i = len(syms) + 1),
      pairs2 AS (
        SELECT syms[i] AS a, syms[i+1] AS b, CAST(SUM(freq) AS BIGINT) AS n
        FROM (SELECT freq, syms,
          unnest(generate_series(1, len(syms) - 1)) AS i FROM vocab2)
        GROUP BY 1, 2),
      win2 AS (SELECT a, b, n FROM pairs2 ORDER BY n DESC, a, b LIMIT 1),
      f2 AS (
        SELECT freq, syms, 1 AS i, CAST([] AS VARCHAR[]) AS acc FROM vocab2
        UNION ALL
        SELECT freq, syms, i + 1,
          CASE WHEN len(acc) > 0 AND acc[-1] = (SELECT a FROM win2)
                AND syms[i] = (SELECT b FROM win2)
            THEN acc[1:len(acc)-1] || [acc[-1] || syms[i]]
            ELSE acc || [syms[i]] END
        FROM f2 WHERE i <= len(syms)),
      vocab3 AS (SELECT freq, acc AS syms FROM f2 WHERE i = len(syms) + 1),
      pairs3 AS (
        SELECT syms[i] AS a, syms[i+1] AS b, CAST(SUM(freq) AS BIGINT) AS n
        FROM (SELECT freq, syms,
          unnest(generate_series(1, len(syms) - 1)) AS i FROM vocab3)
        GROUP BY 1, 2),
      win3 AS (SELECT a, b, n FROM pairs3 ORDER BY n DESC, a, b LIMIT 1)
      SELECT CAST(round_id AS INTEGER) AS round_id, merge_left, merge_right,
        pair_n FROM (
        SELECT 1 AS round_id, a AS merge_left, b AS merge_right, n AS pair_n
          FROM win1
        UNION ALL SELECT 2, a, b, n FROM win2
        UNION ALL SELECT 3, a, b, n FROM win3)"""),
    "BPE merge learning: 3 Lloyd-shaped rounds, vocab-sized shuffles, k=1 driver rows")

  /** BPE ENCODE — the apply half of the tokenizer (q_bpe_learn is the
    * learn half): re-derive the 3 greedy merges, apply them to the
    * DISTINCT word vocabulary only (the fold is interpreted
    * per-symbol; running it per word OCCURRENCE would be corpus-sized
    * — encoding the vocab once and joining is the scale design: the
    * corpus-token-sized work is a plain hash join on `word`), then
    * per-doc token counts = sum of per-word symbol counts. This is
    * what a training pipeline runs to budget sequence lengths before
    * packing (q_chunk_pack consumes exactly these counts).
    * The merge fold is the same leftmost-greedy single-pass
    * `aggregate` as q_bpe_learn; the oracle replays learn's recursive
    * CTE carrying `word` through the folds and joins it back to the
    * exploded corpus. */
  val qBpeEncode = Q(
    "q_bpe_encode",
    (spark, dir) => {
      var cur = load(spark, dir, "documents")
        .select(explode(words(col("text"))).as("word"))
        .filter(length(col("word")) > 0)
        .groupBy("word").agg(count(lit(1)).as("freq"))
        .select(col("word"), col("freq"),
          expr("filter(split(word, ''), x -> x <> '')").as("syms"))
        .transform(CacheReleases.persisted)
      (1 to 3).foreach { _ =>
        val win = cur.filter(size(col("syms")) >= 2)
          .select(col("freq"), col("syms"),
            explode(expr("sequence(1, size(syms) - 1)")).as("i"))
          .select(element_at(col("syms"), col("i")).as("a"),
            element_at(col("syms"), col("i") + 1).as("b"), col("freq"))
          .groupBy("a", "b").agg(sum(col("freq")).cast("long").as("n"))
          .orderBy(col("n").desc, col("a").asc, col("b").asc)
          .limit(1).collect()(0)
        val (a, b) = (win.getString(0), win.getString(1))
        cur = cur.select(col("word"), col("freq"),
          aggregate(col("syms"), array().cast("array<string>"),
            (acc, x) => when(
              size(acc) > 0 && element_at(acc, -1) === lit(a) && x === lit(b),
              concat(slice(acc, lit(1), size(acc) - 1),
                array(concat(element_at(acc, -1), x))))
              .otherwise(concat(acc, array(x)))).as("syms"))
      }
      val encoded = cur.select(col("word"), size(col("syms")).cast("long").as("nt"))
      load(spark, dir, "documents")
        .select(col("doc_id"), explode(words(col("text"))).as("word"))
        .filter(length(col("word")) > 0)
        .join(encoded, Seq("word"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_words"), sum(col("nt")).as("n_tokens_bpe"))
    },
    Some(raw"""WITH RECURSIVE
      words0 AS (
        SELECT w AS word, COUNT(*) AS freq FROM (
          SELECT unnest(string_split(regexp_replace(lower(trim(text)),
            '\s+', ' ', 'g'), ' ')) AS w
          FROM documents) WHERE length(w) > 0 GROUP BY w),
      vocab1 AS (
        SELECT word, freq,
          [substr(word, i, 1) FOR i IN range(1, length(word) + 1)] AS syms
        FROM words0),
      pairs1 AS (
        SELECT syms[i] AS a, syms[i+1] AS b, CAST(SUM(freq) AS BIGINT) AS n
        FROM (SELECT freq, syms,
          unnest(generate_series(1, len(syms) - 1)) AS i FROM vocab1)
        GROUP BY 1, 2),
      win1 AS (SELECT a, b, n FROM pairs1 ORDER BY n DESC, a, b LIMIT 1),
      f1 AS (
        SELECT word, freq, syms, 1 AS i, CAST([] AS VARCHAR[]) AS acc FROM vocab1
        UNION ALL
        SELECT word, freq, syms, i + 1,
          CASE WHEN len(acc) > 0 AND acc[-1] = (SELECT a FROM win1)
                AND syms[i] = (SELECT b FROM win1)
            THEN acc[1:len(acc)-1] || [acc[-1] || syms[i]]
            ELSE acc || [syms[i]] END
        FROM f1 WHERE i <= len(syms)),
      vocab2 AS (SELECT word, freq, acc AS syms FROM f1 WHERE i = len(syms) + 1),
      pairs2 AS (
        SELECT syms[i] AS a, syms[i+1] AS b, CAST(SUM(freq) AS BIGINT) AS n
        FROM (SELECT freq, syms,
          unnest(generate_series(1, len(syms) - 1)) AS i FROM vocab2)
        GROUP BY 1, 2),
      win2 AS (SELECT a, b, n FROM pairs2 ORDER BY n DESC, a, b LIMIT 1),
      f2 AS (
        SELECT word, freq, syms, 1 AS i, CAST([] AS VARCHAR[]) AS acc FROM vocab2
        UNION ALL
        SELECT word, freq, syms, i + 1,
          CASE WHEN len(acc) > 0 AND acc[-1] = (SELECT a FROM win2)
                AND syms[i] = (SELECT b FROM win2)
            THEN acc[1:len(acc)-1] || [acc[-1] || syms[i]]
            ELSE acc || [syms[i]] END
        FROM f2 WHERE i <= len(syms)),
      vocab3 AS (SELECT word, freq, acc AS syms FROM f2 WHERE i = len(syms) + 1),
      pairs3 AS (
        SELECT syms[i] AS a, syms[i+1] AS b, CAST(SUM(freq) AS BIGINT) AS n
        FROM (SELECT freq, syms,
          unnest(generate_series(1, len(syms) - 1)) AS i FROM vocab3)
        GROUP BY 1, 2),
      win3 AS (SELECT a, b, n FROM pairs3 ORDER BY n DESC, a, b LIMIT 1),
      f3 AS (
        SELECT word, freq, syms, 1 AS i, CAST([] AS VARCHAR[]) AS acc FROM vocab3
        UNION ALL
        SELECT word, freq, syms, i + 1,
          CASE WHEN len(acc) > 0 AND acc[-1] = (SELECT a FROM win3)
                AND syms[i] = (SELECT b FROM win3)
            THEN acc[1:len(acc)-1] || [acc[-1] || syms[i]]
            ELSE acc || [syms[i]] END
        FROM f3 WHERE i <= len(syms)),
      vocab4 AS (SELECT word, acc AS syms FROM f3 WHERE i = len(syms) + 1),
      encoded AS (SELECT word, CAST(len(syms) AS BIGINT) AS nt FROM vocab4),
      docw AS (
        SELECT doc_id, unnest(string_split(regexp_replace(lower(trim(text)),
          '\s+', ' ', 'g'), ' ')) AS word
        FROM documents)
      SELECT doc_id, COUNT(*) AS n_words,
        CAST(SUM(nt) AS BIGINT) AS n_tokens_bpe
      FROM (SELECT doc_id, word FROM docw WHERE length(word) > 0) d
      JOIN encoded USING (word)
      GROUP BY doc_id"""),
    "BPE encode: vocab-only merge replay + corpus join, per-doc token budgets")

  /** Bigram-LM perplexity scoring — the classic model-based quality
    * filter (a corpus-trained n-gram LM scores each document; docs the
    * model finds "surprising" are boilerplate/garbage candidates).
    * Here the LM is trained on the corpus itself in one pass: bigram
    * counts c2(w1,w2), history counts c1(w1) (= bigram occurrences of
    * w1 as history, so the add-one denominator is consistent), vocab
    * size V over all tokens. p(w2|w1) = (c2+1)/(c1+V) — add-one
    * smoothed; every observed bigram's negative log-likelihood is
    * rounded to integer basis points BEFORE the per-doc sum, so the
    * total is an order-independent integer and the oracle compare is
    * exact (the BM25/tfidf convention).
    *
    * Scale: token explode is row-local; counts are two combinable
    * groupBys (vocab-sized results); the scoring join keys on bigram —
    * shuffle is corpus-token-sized once, never quadratic. V and the
    * count tables are NOT broadcast (vocab grows with the corpus);
    * only the single-row V count crosses to the driver. */
  val qLmPerplexity = Q(
    "q_lm_perplexity",
    (spark, dir) => {
      val d = load(spark, dir, "documents").repartition(col("doc_id"))
        .select(col("doc_id"), words(col("text")).as("w"))
        .filter(size(col("w")) >= 2)
        // two consumers (the bigram explode below and the vocab count
        // v) otherwise re-run the regex tokenize over the corpus; the
        // persist makes it one pass (round 13 — values unchanged).
        // Both persists feed the RETURNED lazy plan, so the builder
        // cannot unpersist them itself; the caller releases them.
        .transform(CacheReleases.persisted)
      val bg = d
        .select(col("doc_id"),
          explode(expr("sequence(1, size(w) - 1)")).as("i"), col("w"))
        .select(col("doc_id"),
          expr("element_at(w, i)").as("w1"),
          expr("element_at(w, i + 1)").as("w2"))
        .transform(CacheReleases.persisted)
      val c2 = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
      val c1 = bg.groupBy("w1").agg(count(lit(1)).as("c1"))
      val v = d.select(explode(col("w")).as("t")).distinct()
        .agg(count(lit(1)).as("v"))
      val scored = bg
        // shuffle_hash: the probe side is every corpus bigram — an SMJ
        // would sort it (measured at sf10: a spilling external sort);
        // hashing the vocab-sized count tables leaves the big side
        // unsorted, one pass
        .join(c2.hint("shuffle_hash"), Seq("w1", "w2"))
        .join(c1.hint("shuffle_hash"), Seq("w1"))
        .crossJoin(broadcast(v))
        .select(col("doc_id"),
          round(lit(-10000.0) *
            log((col("c2") + lit(1.0)) / (col("c1") + col("v"))))
            .cast("long").as("nll_bp"))
      scored.groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"), sum(col("nll_bp")).as("nll_sum"))
        .select(col("doc_id"), col("n_bigrams"), col("nll_sum"),
          expr("nll_sum div n_bigrams").as("avg_nll_bp"))
    },
    Some("""WITH t AS (
      SELECT doc_id,
        string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS w
      FROM documents),
    f AS (SELECT doc_id, w FROM t WHERE len(w) >= 2),
    ix AS (SELECT doc_id, w,
      unnest(generate_series(1, len(w) - 1)) AS i FROM f),
    bg AS (SELECT doc_id, w[i] AS w1, w[i + 1] AS w2 FROM ix),
    c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM bg GROUP BY 1, 2),
    c1 AS (SELECT w1, COUNT(*) AS c1 FROM bg GROUP BY 1),
    v AS (SELECT COUNT(DISTINCT unnest.t) AS v FROM (
      SELECT unnest(w) AS t FROM f) unnest),
    sc AS (SELECT bg.doc_id,
      CAST(round(-10000.0 * ln((c2.c2 + 1.0) / (c1.c1 + v.v))) AS BIGINT) AS nll_bp
      FROM bg JOIN c2 USING (w1, w2) JOIN c1 USING (w1), v)
    SELECT doc_id, COUNT(*) AS n_bigrams,
      CAST(SUM(nll_bp) AS BIGINT) AS nll_sum,
      CAST(SUM(nll_bp) AS BIGINT) // COUNT(*) AS avg_nll_bp
    FROM sc GROUP BY doc_id"""),
    "Bigram-LM perplexity quality filter: add-one smoothing, integer-bp NLL sums")

  /** Unicode NFC normalization — the canonical first text-cleaning
    * step: scrapers emit the same glyph as composed (U+00E9) or
    * decomposed (e + U+0301) sequences, and every byte-exact stage
    * downstream (md5 fingerprints, exact dedup, line dedup) treats
    * them as different documents unless normalized first. The kernel
    * is the native codegen'd [[graft.functions.TextExpressions.NfcNormalize]]
    * (JDK `java.text.Normalizer`, O(n) already-normalized fast path);
    * DuckDB's `nfc_normalize` is the cross-engine oracle — two
    * independent Unicode implementations agreeing on the result.
    *
    * Fixture text is ASCII (already NFC), so docs with doc_id%5==0 get
    * a decomposed suffix appended; those must compose (2 code points
    * shorter) and everything else must pass through byte-identical.
    * Row-local, shuffle-free — the scale story is trivially linear. */
  val qTextNormalize = Q(
    "q_text_normalize",
    (spark, dir) => {
      val seeded = load(spark, dir, "documents").repartition(col("doc_id"))
        .select(col("doc_id"),
          when(col("doc_id") % 5 === 0,
            concat(col("text"), // DECOMPOSED on purpose (explicit combining marks, so no
            // editor/tool can silently re-compose the source literal):
            // NFC must compose these; the oracle seeds the same points
            lit(" cafe\u0301 nai\u0308ve")))
            .otherwise(col("text")).as("t"))
      // stacked projection: nfc computed ONCE, not inlined per consumer
      val n = seeded.select(col("doc_id"), col("t"),
        call_function("graft_nfc", col("t")).as("nt"))
      n.select(col("doc_id"),
        length(col("t")).as("n_cp_raw"),
        length(col("nt")).as("n_cp_nfc"),
        (length(col("t")) - length(col("nt"))).as("n_composed"),
        md5(col("nt")).as("fp_nfc"))
    },
    Some("""WITH s AS (SELECT doc_id,
      CASE WHEN doc_id % 5 = 0
        THEN text || ' cafe' || chr(769) || ' nai' || chr(776) || 've'
        ELSE text END AS t FROM documents),
    n AS (SELECT doc_id, t, nfc_normalize(t) AS nt FROM s)
    SELECT doc_id, length(t) AS n_cp_raw, length(nt) AS n_cp_nfc,
      length(t) - length(nt) AS n_composed, md5(nt) AS fp_nfc FROM n"""),
    "Unicode NFC normalization: native JDK kernel vs DuckDB's independent impl")

  /** Asymmetric containment dedup — catches a document EMBEDDED in a
    * larger one (quote farms, scraped excerpts), which symmetric
    * Jaccard misses: a 100-word excerpt inside a 10k-word page has
    * Jaccard ≈ 0.01 but containment = 1.0. C(A,B) = |sh(A) ∩ sh(B)|
    * / |sh(A)| over the same df-capped hashed-shingle inverted index
    * as [[ngramJaccardPairs]] (one index pass; pairs keyed by shared
    * shingle; both directions of each unordered pair emitted, then
    * thresholded on the CONTAINED side's set size).
    *
    * Self-contained fixture: every doc_id % 17 == 0 document also
    * yields a synthetic "excerpt doc" (its first ⌈40%⌉ words, minimum
    * 5) under the negative id -(doc_id+1) — a prefix excerpt's
    * 3-shingles all occur in the source, so seeded containment is
    * exactly 10000 bp unless df-capping removes a shared shingle
    * globally (mirrored in the oracle either way; negative ids cannot
    * collide with any scale factor's id space).
    *
    * Scale: identical to the Jaccard index — the explode is row-local,
    * the df cap bounds every posting list, pair work is index-sized,
    * and the per-doc set sizes join back broadcast. */
  val qDedupContainment = Q(
    "q_dedup_containment",
    (spark, dir) => {
      val DfCap = 1000
      val d0 = load(spark, dir, "documents").repartition(col("doc_id"))
        .select(col("doc_id"), col("text"))
      val excerpts = d0.filter(col("doc_id") % 17 === 0)
        .select((-col("doc_id") - 1).as("doc_id"),
          array_join(slice(words(col("text")), lit(1),
            greatest(ceil(size(words(col("text"))) * 0.4), lit(5))
              .cast("int")), " ").as("text"))
      val d = d0.unionByName(excerpts)
      val base = d.select(col("doc_id"),
        shingleHashes(words(col("text"))).as("hs"))
        .transform(CacheReleases.persisted)
      // class collapse, as in ngramJaccardPairs: identical shingle
      // sets are interchangeable for df, set size, shared counts, and
      // containment; the index/join pipeline runs at class cardinality
      // and class pairs expand back to doc pairs at the end
      val keyed = base.select(col("doc_id"), col("hs"),
        xxhash64(array_sort(col("hs"))).as("k"))
      // mega-class escape hatch (round 7) — see ngramJaccardPairs /
      // ClassGuard: rosters above the cap collapse to [min id], intra
      // pairs become a linear star
      // classes is a projection of the frame collapse persists
      // internally — a second persist would materialize twice.
      val (classes, megaStars) = graft.ops.ClassGuard.collapse(
        keyed, "k", "doc_id", Seq("hs"), graft.ops.ClassGuard.cap(spark))
      val ex = classes.select(col("k"), col("cls"), explode(col("hs")).as("s"))
        .transform(CacheReleases.persisted)
      val hot = ex.groupBy("s").agg(sum(col("cls")).as("df"))
        .filter(col("df") > DfCap).select("s")
      val idx = ex.join(broadcast(hot), Seq("s"), "left_anti")
        .select("k", "s")
        .transform(CacheReleases.persisted)
      val nn = idx.groupBy("k").agg(count(lit(1)).as("n"))
      val shared = idx.select(col("k").as("ka"), col("s"))
        .join(idx.select(col("k").as("kb"), col("s")), Seq("s"))
        .filter(col("ka") < col("kb"))
        .groupBy("ka", "kb").agg(count(lit(1)).as("shared"))
      // both directions at the CLASS level: contained side is
      // whichever class we divide by (containment is directional).
      // ONE generate, not a self-union — the union form would run the
      // candidate join + aggregate once per side (the Components /
      // knnEdges lesson)
      val both = shared.select(explode(array(
          struct(col("ka").as("kin"), col("kb").as("kof"),
            col("shared").as("shared")),
          struct(col("kb").as("kin"), col("ka").as("kof"),
            col("shared").as("shared")))).as("e"))
        .select(col("e.kin").as("kin"), col("e.kof").as("kof"),
          col("e.shared").as("shared"))
      val cp = both
        // class cardinality: no forced broadcast (AQE decides)
        .join(nn.select(col("k").as("kin"), col("n").as("n_in")), Seq("kin"))
        .withColumn("cont_bp",
          round(lit(10000.0) * col("shared") / col("n_in")).cast("long"))
        .filter(col("cont_bp") >= 8000)
      // expansion keeps direction: doc_in from the contained class,
      // doc_of from the containing one (no id reordering)
      val cross = cp
        .join(classes.select(col("k").as("kin"), col("ids").as("ids_in")), Seq("kin"))
        .join(classes.select(col("k").as("kof"), col("ids").as("ids_of")), Seq("kof"))
        .select(col("shared"), col("n_in"), col("cont_bp"),
          explode(col("ids_in")).as("doc_in"), col("ids_of"))
        .select(col("shared"), col("n_in"), col("cont_bp"), col("doc_in"),
          explode(col("ids_of")).as("doc_of"))
      // intra-class: identical capped sets → shared = n_in, cont =
      // 10000, BOTH ordered directions (da ≠ db); classes with every
      // shingle df-capped away (n = 0) drop via the inner nn join
      val intra = classes.filter(col("cls") > 1)
        .join(nn, Seq("k"))
        .select(col("n"), explode(col("ids")).as("doc_in"), col("ids"))
        .select(col("n"), col("doc_in"), explode(col("ids")).as("doc_of"))
        .filter(col("doc_in") =!= col("doc_of"))
        .select(col("doc_in"), col("doc_of"), col("n").as("shared"),
          col("n").as("n_in"), lit(10000L).as("cont_bp"))
      // mega-class star, BOTH ordered directions (containment is
      // directional and intra emits doc_in ≠ doc_of both ways)
      val starIntra = megaStars.join(nn, Seq("k"))
        .select(col("n"), explode(array(
          struct(col("rep").as("doc_in"), col("member").as("doc_of")),
          struct(col("member").as("doc_in"), col("rep").as("doc_of")))).as("e"))
        .select(col("e.doc_in").as("doc_in"), col("e.doc_of").as("doc_of"),
          col("n").as("shared"), col("n").as("n_in"), lit(10000L).as("cont_bp"))
      cross.select("doc_in", "doc_of", "shared", "n_in", "cont_bp")
        .unionByName(intra).unionByName(starIntra)
    },
    Some("""WITH raw AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT -doc_id - 1 AS doc_id,
        array_to_string(w[1:GREATEST(CAST(ceil(len(w) * 0.4) AS BIGINT), 5)], ' ') AS text
      FROM (SELECT doc_id,
        string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS w
        FROM documents WHERE doc_id % 17 = 0)),
    d AS (
      SELECT doc_id,
        list_distinct(CASE WHEN len(w) >= 3
          THEN [array_to_string(w[i:i+2], ' ') FOR i IN generate_series(1, len(w)-2)]
          ELSE [array_to_string(w, ' ')] END) AS sh
      FROM (SELECT doc_id,
        string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS w
        FROM raw)),
    e0 AS (SELECT doc_id, unnest(sh) AS s0 FROM d),
    e AS (SELECT doc_id,
      CAST(('0x'||substr(md5(s0),1,15)) AS BIGINT) % 2147483647 AS s FROM e0),
    idx AS (SELECT doc_id, s FROM e
      WHERE s NOT IN (SELECT s FROM e GROUP BY s HAVING COUNT(*) > 1000)),
    nn AS (SELECT doc_id, COUNT(*) AS n FROM idx GROUP BY doc_id),
    p AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
      FROM idx a JOIN idx b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    dirs AS (
      SELECT doc_a AS doc_in, doc_b AS doc_of, shared FROM p
      UNION ALL
      SELECT doc_b AS doc_in, doc_a AS doc_of, shared FROM p)
    SELECT doc_in, doc_of, shared, nn.n AS n_in,
      CAST(round(10000.0 * shared / nn.n) AS BIGINT) AS cont_bp
    FROM dirs JOIN nn ON dirs.doc_in = nn.doc_id
    WHERE CAST(round(10000.0 * shared / nn.n) AS BIGINT) >= 8000"""),
    "Containment dedup: directional |A∩B|/|A| over the df-capped shingle index")

  /** PMI collocations — statistically-bound word pairs ("new york",
    * "machine learning") ranked by pointwise mutual information over
    * the bigram event space. ALL-INTEGER: PMI = ln(c12·N / (c1·c2)) is
    * monotone in the rational c12·N/(c1·c2), so we rank by that ratio
    * in exact integer ppm (DECIMAL(38,0) cross-multiplication; Spark
    * and DuckDB floor identically on positives) and never evaluate a
    * logarithm — no libm last-ulp taste can flip a rank. Bigrams are
    * built row-local (arrays_zip shape via element_at, no join);
    * unigram-position counts c1/c2 DERIVE from the c12 table (sum by
    * first/second word), so the corpus shuffles ONCE into c12 and the
    * rest is vocabulary-sized. The c12 ≥ 5 floor is standard
    * collocation practice AND the overflow guard: with it,
    * ratio·1e6 ≤ N/5·1e6 stays in BIGINT up to N ≈ 4.6e13 bigrams
    * (~100 TB of text); the DECIMAL(38,0) numerator has headroom to
    * N ≈ 1e15. Top-20 fuses into TakeOrderedAndProject. */
  val qCollocations = Q(
    "q_collocations",
    (spark, dir) => {
      // project the words array BEFORE the index explode: inside a
      // transform lambda every element_at(words(text), i) re-inlines
      // the full split per element (the round-1 nested-expression
      // trap — measured 7.8 s → ~1 s at sf0.1); after the Generate
      // the array is a materialized column evaluated once per row
      val d0 = Tables.load(spark, dir, "documents")
        .select(words(col("text")).as("w"))
        .filter(size(col("w")) >= 2)
      val bi = d0
        .select(explode(expr("sequence(1, size(w) - 1)")).as("i"), col("w"))
        .select(expr("element_at(w, i)").as("w1"),
          expr("element_at(w, i + 1)").as("w2"))
      val c12 = bi.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
        .transform(CacheReleases.persisted)
      val c1 = c12.groupBy("w1").agg(sum(col("c12")).as("c1"))
      val c2 = c12.groupBy("w2").agg(sum(col("c12")).as("c2"))
      val nb = c12.agg(sum(col("c12")).as("nb"))
      c12.filter(col("c12") >= 5)
        .join(c1, "w1").join(c2, "w2")
        .crossJoin(broadcast(nb))
        .select(col("w1"), col("w2"), col("c12"),
          expr("CAST((CAST(c12 AS DECIMAL(38,0)) * nb * 1000000)" +
            " DIV (c1 * c2) AS BIGINT)").as("pmi_ratio_ppm"))
        .orderBy(col("pmi_ratio_ppm").desc, col("w1"), col("w2"))
        .limit(20)
    },
    Some("""WITH d AS (
      SELECT string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS w
      FROM documents),
    ix AS (SELECT w, unnest(generate_series(1, len(w)-1)) AS i
      FROM d WHERE len(w) >= 2),
    bi AS (SELECT w[i] AS w1, w[i+1] AS w2 FROM ix),
    c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM bi GROUP BY 1, 2),
    c1 AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM c12 GROUP BY 1),
    c2t AS (SELECT w2, CAST(SUM(c12) AS BIGINT) AS c2 FROM c12 GROUP BY 1),
    nb AS (SELECT CAST(SUM(c12) AS BIGINT) AS nb FROM c12)
    SELECT w1, w2, c12,
      CAST((CAST(c12 AS HUGEINT) * nb * 1000000)
        // (CAST(c1 AS HUGEINT) * c2) AS BIGINT) AS pmi_ratio_ppm
    FROM c12 JOIN c1 USING (w1) JOIN c2t USING (w2), nb
    WHERE c12 >= 5
    ORDER BY pmi_ratio_ppm DESC, w1, w2 LIMIT 20"""),
    "PMI collocations: integer cross-multiplied ratio rank, one corpus shuffle")

  /** Feature hashing (the "hashing trick", Weinberger et al. 2009) —
    * fixed-width ML feature vectors with NO vocabulary pass: each
    * token hashes to one of D=1024 dimensions, with a sign bit from
    * an independent hash bit so collisions cancel in expectation
    * (unbiased inner products, the property that makes the trick
    * usable). Output is the sparse (doc_id, dim, feature_val) triple
    * — dims whose signed counts cancel to 0 are kept, mirroring the
    * plain GROUP BY. Hash = first 60 md5 bits (the engine-portable
    * stringHash convention): dim = h mod D, sign = bit 10.
    * Scale: row-local hashing + ONE combinable shuffle on
    * (doc_id, dim); no vocabulary table, no second pass — exactly why
    * the trick exists at corpus scale. */
  val qFeatureHash = Q(
    "q_feature_hash",
    (spark, dir) => {
      val d = load(spark, dir, "documents").repartition(col("doc_id"))
        .select(col("doc_id"), explode(words(col("text"))).as("word"))
        .withColumn("h", conv(substring(md5(col("word")), 1, 15), 16, 10).cast("long"))
      d.select(col("doc_id"),
          pmod(col("h"), lit(1024L)).as("dim"),
          when(pmod(shiftright(col("h"), 10), lit(2L)) === 0, 1L)
            .otherwise(-1L).as("sgn"))
        .groupBy("doc_id", "dim")
        .agg(sum(col("sgn")).as("feature_val"))
    },
    Some("""WITH t AS (
        SELECT doc_id,
          string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS w
        FROM documents),
      u AS (SELECT doc_id, unnest(w) AS word FROM t),
      h AS (SELECT doc_id,
          CAST(('0x' || substr(md5(word), 1, 15)) AS BIGINT) AS h FROM u)
      SELECT doc_id, h % 1024 AS dim,
        CAST(SUM(CASE WHEN (h // 1024) % 2 = 0 THEN 1 ELSE -1 END) AS BIGINT)
          AS feature_val
      FROM h GROUP BY 1, 2"""),
    "Feature hashing: signed 1024-dim sparse vectors, no vocabulary pass")

  /** Word-level Shannon entropy per document — the information-density
    * quality signal (low entropy = repetitive/templated text, the same
    * family as q_text_repetition but distribution-based): for each doc,
    * H = -Σ p(w)·ln p(w) over its word distribution. Each word type's
    * contribution is rounded to integer nat-basis-points BEFORE the
    * per-doc sum (the q_lm_perplexity convention), so the doc total is
    * an order-independent integer the DuckDB oracle reproduces exactly.
    * Scale: explode → two combinable aggregations on (doc_id, word) /
    * (doc_id) + one co-partitioned join on doc_id — all shuffles are
    * key-partitioned and token-bounded; nothing is corpus-global. */
  val qTextEntropy = Q(
    "q_text_entropy",
    (spark, dir) => {
      val d = load(spark, dir, "documents").repartition(col("doc_id"))
        .select(col("doc_id"), explode(words(col("text"))).as("word"))
      val c = d.groupBy("doc_id", "word").agg(count(lit(1)).as("c"))
      val n = c.groupBy("doc_id").agg(sum(col("c")).as("n"))
      c.join(n, Seq("doc_id"))
        .withColumn("term_bp",
          round(lit(-10000.0) * (col("c") / col("n")) *
            log(col("c") / col("n"))).cast("long"))
        .groupBy("doc_id")
        .agg(max(col("n")).as("n_tokens"), count(lit(1)).as("n_types"),
          sum(col("term_bp")).as("entropy_nat_bp"))
    },
    Some("""WITH t AS (
        SELECT doc_id,
          string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS w
        FROM documents),
      u AS (SELECT doc_id, unnest(w) AS word FROM t),
      c AS (SELECT doc_id, word, COUNT(*) AS c FROM u GROUP BY 1, 2),
      n AS (SELECT doc_id, SUM(c) AS n FROM c GROUP BY 1)
      SELECT c.doc_id,
        CAST(MAX(n.n) AS BIGINT) AS n_tokens,
        COUNT(*) AS n_types,
        CAST(SUM(CAST(round(-10000.0 * (c.c / n.n) * ln(c.c / n.n)) AS BIGINT))
          AS BIGINT) AS entropy_nat_bp
      FROM c JOIN n ON c.doc_id = n.doc_id GROUP BY 1"""),
    "Per-doc word-distribution Shannon entropy in nat-bp (quality signal)")

  /** Ordered sentence segmentation — the RAG/preprocessing step
    * between documents and chunking: split on terminal punctuation
    * runs ([.!?]+ plus trailing whitespace), keep the ORDER as an
    * explicit index, drop empty segments (leading/trailing
    * delimiters). The index is the position in the raw split, so it
    * is stable under the empty-segment filter and identical in both
    * engines without any window pass.
    *
    * The fixture corpus carries NO punctuation (verified: zero docs
    * match [.!?]), so sentence boundaries are synthesized first — a
    * period after every 8th word, mirrored in the oracle — making
    * the split non-vacuous (4-15 sentences/doc) while the segmenting
    * path under test stays the real regex split + posexplode + empty
    * filter a punctuated corpus would take (the trailing '.' also
    * exercises the empty-tail filter on every row).
    *
    * Scale: entirely row-local — no shuffle anywhere; sentence rows
    * multiply only after the full-document text column is dropped
    * from the projection. */
  val qSentenceSplit = Q(
    "q_sentence_split",
    (spark, dir) => {
      val d = load(spark, dir, "documents").repartition(col("doc_id"))
      val punct = d
        .select(col("doc_id"), words(col("text")).as("w"))
        // greatest(..., 0) guard: for an empty word array Spark's
        // sequence(0, -1) yields a DESCENDING [0, -1] while DuckDB
        // generate_series(0, -1) is empty. Unreachable today (normText
        // of empty text yields [""], size ≥ 1) but the guard makes the
        // chunk count non-negative by construction, not by fixture luck.
        .select(col("doc_id"), expr(
          """concat(concat_ws('. ',
               transform(sequence(0, greatest((size(w)+7) div 8 - 1, 0)),
                 c -> concat_ws(' ', slice(w, c*8+1, 8)))), '.')""").as("pt"))
      punct
        .select(col("doc_id"),
          posexplode(split(col("pt"), "[.!?]+\\s*")).as(Seq("pos", "sent")))
        .filter(trim(col("sent")) =!= "")
        .select(col("doc_id"), col("pos").cast("long").as("sent_idx"),
          trim(col("sent")).as("sentence"),
          size(split(trim(col("sent")), "\\s+")).cast("long").as("n_words"))
    },
    Some("""WITH d AS (
      SELECT doc_id,
        string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS w
      FROM documents),
    p AS (
      SELECT doc_id,
        array_to_string([array_to_string(w[c*8+1:c*8+8], ' ')
          FOR c IN generate_series(0, greatest((len(w)+7)//8 - 1, 0))], '. ') || '.' AS pt
      FROM d),
    s AS (SELECT doc_id, regexp_split_to_array(pt, '[.!?]+\s*') AS ss FROM p),
    e AS (SELECT doc_id, unnest(generate_series(1, len(ss))) AS pp, ss FROM s)
    SELECT doc_id, CAST(pp - 1 AS BIGINT) AS sent_idx,
      trim(ss[pp]) AS sentence,
      CAST(len(string_split_regex(trim(ss[pp]), '\s+')) AS BIGINT) AS n_words
    FROM e WHERE trim(ss[pp]) <> ''"""),
    "Ordered sentence segmentation (row-local posexplode, stable indices)")

  /** Temperature-scaled source sampling weights (α = 0.5): the
    * standard multilingual/multi-source rebalance — w_i ∝ p_i^α lifts
    * rare sources without flattening the mix (α=1 is proportional,
    * α→0 uniform). α is fixed at 1/2 so the power is `sqrt`, which
    * IEEE-754 requires to be correctly rounded — both engines compute
    * bit-identical doubles, unlike a libm `pow` whose last ulp could
    * flip a rounding boundary. Per-source sqrt rounds to e6 BEFORE
    * the integer normalization (round-then-sum convention), so the
    * ppm weights are merge-order independent and hash-exact.
    *
    * Scale: one combinable aggregate to source counts (source-count-
    * sized), then arithmetic on that tiny frame; the 1-row total is
    * the single allowed broadcast nested loop. */
  val qSamplingTemperature = Q(
    "q_sampling_temperature",
    (spark, dir) => {
      val src = load(spark, dir, "documents")
        .groupBy("source").agg(count(lit(1)).as("n_docs"))
        .withColumn("s_e6", round(lit(1e6) * sqrt(col("n_docs"))).cast("long"))
      val tot = src.agg(sum("s_e6").as("w_tot"))
      src.crossJoin(broadcast(tot))
        .select(col("source"), col("n_docs"), col("s_e6"),
          expr("(s_e6 * 1000000) div w_tot").as("w_ppm"))
    },
    Some("""WITH src AS (
      SELECT source, COUNT(*) AS n_docs,
        CAST(round(1e6 * sqrt(COUNT(*))) AS BIGINT) AS s_e6
      FROM documents GROUP BY 1),
    tot AS (SELECT CAST(SUM(s_e6) AS BIGINT) AS w_tot FROM src)
    SELECT source, n_docs, s_e6, (s_e6 * 1000000) // w_tot AS w_ppm
    FROM src CROSS JOIN tot"""),
    "Temperature-scaled (alpha=1/2) source sampling weights in exact ppm")

  /** Per-document n-gram novelty — the fraction of a doc's distinct
    * 3-gram shingles whose FIRST occurrence (min doc_id over the
    * corpus) is this doc. The curation signal that separates original
    * content from recombined/boilerplate text, and the streaming-order
    * analog of dedup: a near-copy of an earlier doc scores ~0.
    *
    * Scale: explode + one combinable min-aggregate keyed by shingle +
    * one join back on the same key — two shuffles, the inverted-index
    * shape of the jaccard family. Both shuffles carry stringHash-ed
    * 8-byte longs, not ~25-byte shingle strings, exactly like
    * q_dedup_ngram_jaccard (round 9; the string variant shipped ~3×
    * the exchange bytes). The hash is applied AFTER the non-empty
    * filter and BEFORE the persist/shuffle; the oracle hashes
    * identically, so a mod-P collision (which merges two shingles'
    * first-occurrence classes) agrees between engines. */
  val qNgramNovelty = Q(
    "q_ngram_novelty",
    (spark, dir) => {
      val d = load(spark, dir, "documents").repartition(col("doc_id"))
      // native kernel = distinct shingles, '' dropped pre-hash, then
      // stringHash — exactly the composed explode(array_distinct(
      // shingles3)) + filter + stringHash chain this replaces, whose
      // interpreted transform lambda + per-shingle md5 expression tree
      // was the query's dominant stage (round 13; PropertySpec pins
      // kernel == composed)
      val tok = d.select(col("doc_id"),
        explode(call_function("graft_shingle_hashes_ne",
          words(col("text")))).as("s"))
        .transform(CacheReleases.persisted)
      val first = tok.groupBy("s").agg(min("doc_id").as("first_doc"))
      tok.join(first, Seq("s"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_shingles"),
          sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
            .as("n_novel"))
        .select(col("doc_id"), col("n_shingles"), col("n_novel"),
          expr("(n_novel * 10000) div n_shingles").as("novelty_bp"))
    },
    Some("""WITH d AS (
      SELECT doc_id, list_distinct(CASE WHEN len(w) >= 3
        THEN [array_to_string(w[i:i+2], ' ') FOR i IN generate_series(1, len(w)-2)]
        ELSE [array_to_string(w, ' ')] END) AS sh
      FROM (SELECT doc_id,
        string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS w
        FROM documents)),
    tok AS (SELECT doc_id, unnest(sh) AS s0 FROM d),
    tokf AS (SELECT doc_id,
      CAST(('0x'||substr(md5(s0),1,15)) AS BIGINT) % 2147483647 AS s
      FROM tok WHERE s0 <> ''),
    f AS (SELECT s, MIN(doc_id) AS first_doc FROM tokf GROUP BY 1)
    SELECT t.doc_id, COUNT(*) AS n_shingles,
      CAST(SUM(CASE WHEN f.first_doc = t.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
      (CAST(SUM(CASE WHEN f.first_doc = t.doc_id THEN 1 ELSE 0 END) AS BIGINT) * 10000)
        // COUNT(*) AS novelty_bp
    FROM tokf t JOIN f ON t.s = f.s GROUP BY t.doc_id"""),
    "Per-doc shingle novelty vs the corpus (first-occurrence fraction, bp)")

  /** Tokenizer fertility per language: BPE-ish tokens per byte —
    * the statistic that tells a multilingual pipeline how much more
    * compute a language costs per byte of corpus, and the standard
    * input to sampling-ratio corrections. Integer end-to-end:
    * fert_bp = (Σtokens · 10000) div Σbytes.
    *
    * Scale: row-local token counts (native-regex projection), one
    * combinable aggregate keyed by lang. */
  val qTokenizerFertility = Q(
    "q_tokenizer_fertility",
    (spark, dir) => {
      val d = load(spark, dir, "documents").repartition(col("doc_id"))
      d.select(col("lang"),
        bpeishTokenCount(col("text")).cast("long").as("tok"),
        octet_length(col("text")).cast("long").as("bytes"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("tok").as("n_tokens"),
          sum("bytes").as("n_bytes"))
        .select(col("lang"), col("n_docs"), col("n_tokens"), col("n_bytes"),
          expr("(n_tokens * 10000) div n_bytes").as("fert_bp"))
    },
    Some("""WITH t AS (
      SELECT lang,
        CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT) AS tok,
        CAST(strlen(text) AS BIGINT) AS bytes
      FROM documents)
    SELECT lang, COUNT(*) AS n_docs,
      CAST(SUM(tok) AS BIGINT) AS n_tokens,
      CAST(SUM(bytes) AS BIGINT) AS n_bytes,
      (CAST(SUM(tok) AS BIGINT) * 10000) // CAST(SUM(bytes) AS BIGINT) AS fert_bp
    FROM t GROUP BY 1"""),
    "Tokenizer fertility per language (BPE-ish tokens per byte, exact bp)")

  /** Dedup-quality evaluation — the meta-operator every production
    * near-dedup pipeline needs: measure a MinHash-LSH candidate
    * generator against EXACT ground truth at the same Jaccard
    * threshold, computed with the prefix-filter machinery
    * (q_simjoin_prefix — complete by construction, no sampling).
    * Output is one row: truth/candidate/hit counts and
    * recall/precision in exact ppm — the numbers that justify a
    * band/row configuration before a 100 TB run commits to it.
    *
    * Parameterized over (bands, rows) and the exact threshold tn/td,
    * and graded at BOTH registered planner configs — plan(0.5, 8) =
    * 4×2 at t = 1/2 and plan(0.8, 8) = 2×3 at t = 4/5 — so the
    * LshPlanner S-curve claim is empirically checked at both ends of
    * its range, not just the default. All threshold arithmetic is
    * integer (tn/td cross-multiplication): prefix length
    * n − ceil(t·n) + 1, symmetric length filter td·nb ≥ tn·na,
    * PPJoin positional bound overlap ≥ ceil(t/(1+t)·(na+nb)), truth
    * td·shared ≥ tn·(na+nb−shared) — no float ever touches a
    * threshold comparison in either engine.
    *
    * Truth jaccard uses the candidate-bounded multiset count (the
    * simjoin formula, integer cross-multiplication — no rounding at
    * the threshold); LSH candidates are the band-collision pairs
    * BEFORE verification, which is exactly what recall/precision of
    * the GENERATOR means. The oracle dedups shingle STRINGS before
    * hashing — the exact shingleHashKernel order (and q_simjoin_prefix
    * form), so an intra-doc 31-bit hash collision yields the same
    * per-doc multiset in both engines. Scale: both sides are the
    * proven shapes — id-sized band shuffle, rarest-prefix inverted
    * index; the final metric join is pair-id-sized. */
  private def lshEvalQ(name: String, cfg: (Int, Int), tn: Int, td: Int,
      tLabel: String): Q = {
    val (bands, rows) = cfg
    require(bands * rows <= 8, s"signature width is 8, got ${bands}x$rows")
    Q(
    name,
    (spark, dir) => {
      val d = load(spark, dir, "documents").repartition(col("doc_id"))
      val base = d.select(col("doc_id"),
        shingleHashes(words(col("text"))).as("hs"))
        .withColumn("sig", minhashSignature(col("hs")))
        .transform(CacheReleases.persisted)
      // --- LSH candidates (bands x rows from the planner config) ---
      val bandCols = base.select(col("doc_id"),
        explode(array((0 until bands).map(j =>
          struct(lit(j).as("band"),
            concat_ws("_", (1 to rows).map(i =>
              element_at(col("sig"), j * rows + i)): _*).as("key"))): _*)).as("b"))
        .select(col("doc_id"), col("b.band"), col("b.key"))
      val cand = bandCols.select(col("doc_id").as("doc_a"), col("band"), col("key"))
        .join(bandCols.select(col("doc_id").as("doc_b"), col("band"), col("key")),
          Seq("band", "key"))
        .filter(col("doc_a") < col("doc_b"))
        .select("doc_a", "doc_b").distinct()
        .transform(CacheReleases.persisted)
      // --- exact truth at t = tn/td via prefix filtering ---
      // n = |token set| rides the explode as size(hs) (the simjoin
      // round-10 carry): the unordered per-doc window COUNT was a
      // second WindowExec pass over the sorted postings
      val tok = base.select(col("doc_id"), size(col("hs")).as("n"),
          explode(col("hs")).as("s"))
        .transform(CacheReleases.persisted)
      val dfc = tok.groupBy("s").agg(count(lit(1)).as("df"))
      val wrk = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy(col("df").asc, col("s").asc)
      val ranked = tok.join(dfc, Seq("s"))
        .select(col("doc_id"), col("s"), col("df"), col("n"),
          row_number().over(wrk).as("rk"))
      val pref = ranked
        // prefix length n - ceil(t*n) + 1
        .filter(col("rk") <= col("n") - expr(s"($tn*n + ${td - 1}) div $td") + 1)
        .filter(col("df") >= 2)
      val candT = pref.select(col("doc_id").as("doc_a"), col("s"),
          col("n").as("na"), col("rk").as("pa"))
        .join(pref.select(col("doc_id").as("doc_b"), col("s"),
          col("n").as("nb"), col("rk").as("pb")), Seq("s"))
        .filter(col("doc_a") < col("doc_b"))
        .filter(col("nb") * td >= col("na") * tn &&
          col("na") * td >= col("nb") * tn)
        // PPJoin positional filter: overlap >= ceil(t/(1+t) * (na+nb))
        .filter(lit(1) + least(col("na") - col("pa"), col("nb") - col("pb"))
          >= expr(s"($tn*(na + nb) + ${tn + td - 1}) div ${tn + td}"))
        .select("doc_a", "doc_b").distinct()
      // Exact-overlap verification via the native graft_pair_overlap
      // kernel (round 9; it sat registered-unused for two rounds):
      // attach each side's cached hash array by id and compute the
      // multiset join count row-locally, instead of re-exploding both
      // docs' tokens through a (pair × |tokens|)-row join + groupBy.
      // Two pair-id-keyed joins carrying one array each replace one
      // token-keyed join whose row count was Σ_pairs |tokens| — and
      // the per-doc set size is just size(hs) (tok has no filter, so
      // the old window count(n) == size). Multiset semantics match the
      // explode-join exactly (PropertySpec pins the kernel against the
      // composed form incl. NULL/empty/dup arrays); hs is non-null for
      // every doc (shingleHashes of non-null text), so the kernel's
      // null-propagation never fires here.
      val truth = candT
        .join(base.select(col("doc_id").as("doc_a"), col("hs").as("hs_a")),
          Seq("doc_a"))
        .join(base.select(col("doc_id").as("doc_b"), col("hs").as("hs_b")),
          Seq("doc_b"))
        .select(col("doc_a"), col("doc_b"),
          pairOverlap(col("hs_a"), col("hs_b")).as("shared"),
          size(col("hs_a")).cast("long").as("na"),
          size(col("hs_b")).cast("long").as("nb"))
        .filter(col("shared") * td >=
          (col("na") + col("nb") - col("shared")) * tn)
        .select("doc_a", "doc_b")
        .transform(CacheReleases.persisted)
      // --- metrics (pair-id-sized joins) ---
      val hit = truth.join(cand, Seq("doc_a", "doc_b"), "left_semi")
      val nT = truth.agg(count(lit(1)).as("n_truth"))
      val nC = cand.agg(count(lit(1)).as("n_cand"))
      val nH = hit.agg(count(lit(1)).as("n_hit"))
      nT.crossJoin(broadcast(nC)).crossJoin(broadcast(nH))
        .select(col("n_truth"), col("n_cand"), col("n_hit"),
          expr("CASE WHEN n_truth > 0 THEN (n_hit * 1000000) div n_truth END")
            .as("recall_ppm"),
          expr("CASE WHEN n_cand > 0 THEN (n_hit * 1000000) div n_cand END")
            .as("precision_ppm"))
    },
    Some {
      val bndEntries = (0 until bands).map { j =>
        val keys = (1 to rows).map(i => s"sig[${j * rows + i}]").mkString(", ")
        s"{'band': $j, 'key': concat_ws('_', $keys)}"
      }.mkString(",\n        ")
      raw"""WITH d AS (
      SELECT doc_id,
        [CAST(('0x'||substr(md5(x),1,15)) AS BIGINT) % 2147483647
          FOR x IN list_distinct(CASE WHEN len(w) >= 3
            THEN [array_to_string(w[i:i+2], ' ') FOR i IN generate_series(1, len(w)-2)]
            ELSE [array_to_string(w, ' ')] END)] AS hs
      FROM (SELECT doc_id,
        string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS w
        FROM documents)),
    sg AS (
      SELECT doc_id, hs,
        [list_min([(h*7+3)%2147483647 FOR h IN hs]),
         list_min([(h*13+11)%2147483647 FOR h IN hs]),
         list_min([(h*29+19)%2147483647 FOR h IN hs]),
         list_min([(h*41+31)%2147483647 FOR h IN hs]),
         list_min([(h*53+43)%2147483647 FOR h IN hs]),
         list_min([(h*67+59)%2147483647 FOR h IN hs]),
         list_min([(h*83+71)%2147483647 FOR h IN hs]),
         list_min([(h*97+89)%2147483647 FOR h IN hs])] AS sig
      FROM d),
    bnd AS (
      SELECT doc_id, unnest([
        $bndEntries], recursive := true)
      FROM sg),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bnd a JOIN bnd b
        ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
    tok AS (SELECT doc_id, unnest(hs) AS s FROM d),
    dfc AS (SELECT s, COUNT(*) AS df FROM tok GROUP BY s),
    rk AS (
      SELECT t.doc_id, t.s, c.df,
        row_number() OVER (PARTITION BY t.doc_id ORDER BY c.df ASC, t.s ASC) AS rk,
        COUNT(*) OVER (PARTITION BY t.doc_id) AS n
      FROM tok t JOIN dfc c USING (s)),
    pref AS (SELECT doc_id, s, n FROM rk
      WHERE rk <= n - (($tn*n + ${td - 1}) // $td) + 1 AND df >= 2),
    candt AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM pref a JOIN pref b ON a.s = b.s AND a.doc_id < b.doc_id
        AND $td*b.n >= $tn*a.n AND $td*a.n >= $tn*b.n),
    nn AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id),
    sh AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS shared
      FROM candt c
      JOIN tok ta ON ta.doc_id = c.doc_a
      JOIN tok tb ON tb.doc_id = c.doc_b AND tb.s = ta.s
      GROUP BY 1, 2),
    truth AS (
      SELECT s.doc_a, s.doc_b
      FROM sh s
      JOIN nn na ON s.doc_a = na.doc_id
      JOIN nn nb ON s.doc_b = nb.doc_id
      WHERE $td*s.shared >= $tn*(na.n + nb.n - s.shared)),
    m AS (
      SELECT
        (SELECT COUNT(*) FROM truth) AS n_truth,
        (SELECT COUNT(*) FROM cand) AS n_cand,
        (SELECT COUNT(*) FROM truth t
          WHERE EXISTS (SELECT 1 FROM cand c
            WHERE c.doc_a = t.doc_a AND c.doc_b = t.doc_b)) AS n_hit)
    SELECT n_truth, n_cand, n_hit,
      CASE WHEN n_truth > 0 THEN (n_hit * 1000000) // n_truth END AS recall_ppm,
      CASE WHEN n_cand > 0 THEN (n_hit * 1000000) // n_cand END AS precision_ppm
    FROM m"""
    },
    s"LSH dedup quality eval ($tLabel): recall/precision of ${bands}x$rows band candidates vs exact truth")
  }

  val qDedupLshEval =
    lshEvalQ("q_dedup_lsh_eval", MinhashDefault, 1, 2, "t=1/2")

  /** The second registered planner config, plan(0.8, 8) = 2 bands ×
    * 3 rows at t = 4/5 — grading it makes the LshPlanner S-curve
    * claim empirically checked at both ends: fewer bands near the
    * inflection trade recall down for precision up vs the 4×2/t=0.5
    * eval, and the two rows quantify that trade exactly. */
  val qDedupLshEvalT8 =
    lshEvalQ("q_dedup_lsh_eval_t8", MinhashT8, 4, 5, "t=4/5")

  val all: Seq[Q] = Seq(qTextTokens, qTextQuality, qTextLangid,
    qTextFingerprint, qDedupExact, qDedupNgramJaccard, qDedupMinhashLsh,
    qDedupMinhashLshT8,
    qDedupSimhash, qCorpusPipeline, qMinhashSketch, qSampleStratified,
    qDecontaminate, qTextRepetition, qChunkPack, qChunkOverlap, qBpePairs,
    qPiiScrub, qLineDedup, qMixtureSample, qTfidfTerms, qGopherFilter,
    qBm25Rank, qDedupComponents, qDedupApply, qBloomPrefilter,
    qDedupSubstring, qBpeLearn, qBpeEncode, qLmPerplexity, qDedupContainment,
    qTextNormalize, qSampleWeighted, qCollocations, qTextEntropy,
    qBloomSharded, qFeatureHash, qSentenceSplit, qSamplingTemperature,
    qNgramNovelty, qTokenizerFertility, qDedupLshEval, qDedupLshEvalT8)
}
