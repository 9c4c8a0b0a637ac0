package graft.queries

import graft.{Q, Tables}
import graft.ops._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Core operator inventory (SURVEY.md §2) wired to the fixture tables.
  * Every query is deterministic (set-equality safe) and has a DuckDB
  * oracle. Aggregates over fractional doubles go through round-to-cents
  * BIGINT so both engines sum exactly (order-independent). */
object CoreQueries {
  import Tables.load

  /** §2.4-style flagship aggregation (the star schema's purpose —
    * reference README.md:12): pricing summary over lineitem.
    * Scale: map-side partial agg + single shuffle on the 2 group keys;
    * cents-as-long keeps the sum associative and exact. */
  val q1PricingSummary = Q(
    "q1_pricing_summary",
    (spark, dir) => {
      val li = load(spark, dir, "lineitem")
      li.groupBy("l_returnflag", "l_linestatus").agg(
        sum(col("l_quantity")).cast("long").as("sum_qty"),
        sum(round(col("l_extendedprice") * 100).cast("long")).as("price_cents"),
        sum(round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
          .cast("long")).as("disc_price_cents"),
        count(lit(1)).as("count_order"))
    },
    Some("""SELECT l_returnflag, l_linestatus,
      CAST(SUM(l_quantity) AS BIGINT) AS sum_qty,
      CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS price_cents,
      CAST(SUM(CAST(round(l_extendedprice*(1-l_discount)*100) AS BIGINT)) AS BIGINT) AS disc_price_cents,
      COUNT(*) AS count_order
      FROM lineitem GROUP BY l_returnflag, l_linestatus"""),
    "GroupBy aggregate (flagship; SURVEY §2.4 note)")

  /** W1/A3: deterministic newest-wins dedup — latest order per customer
    * (reference etl1:68-70, with the etl2:236 deterministic tiebreak).
    * Scale: single shuffle on o_custkey; row_number streams per group. */
  val qDedupLatest = Q(
    "q_dedup_latest",
    (spark, dir) => {
      val o = load(spark, dir, "orders")
      Dedup.latestPerKey(o, Seq("o_custkey"),
        Seq(col("o_orderdate").desc, col("o_orderkey").desc))
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          round(col("o_totalprice") * 100).cast("long").as("price_cents"),
          col("o_orderdate").cast("date").as("o_orderdate"))
    },
    Some("""SELECT o_orderkey, o_custkey, o_orderstatus,
      CAST(round(o_totalprice*100) AS BIGINT) AS price_cents,
      CAST(o_orderdate AS DATE) AS o_orderdate
      FROM orders
      QUALIFY row_number() OVER (PARTITION BY o_custkey
        ORDER BY o_orderdate DESC, o_orderkey DESC) = 1"""),
    "W1/A3 deterministic keyed dedup (newest-wins window)")

  /** §2.8 date family: multi-format defensive parse
    * (reference etl1:32-53). Dirty strings are synthesized
    * deterministically from o_orderdate so DuckDB reproduces them. */
  val qDateParseMulti = Q(
    "q_date_parse_multi",
    (spark, dir) => {
      val o = load(spark, dir, "orders")
      val k = col("o_orderkey")
      val raw = when(k % 11 === 0, lit("not a date"))
        .when(k % 3 === 0, date_format(col("o_orderdate"), "dd/MM/yyyy"))
        .when(k % 3 === 1, date_format(col("o_orderdate"), "yyyy/MM/dd"))
        .otherwise(date_format(col("o_orderdate"), "dd.MM.yyyy"))
      o.select(k.as("o_orderkey"), raw.as("raw"),
        DateParse.parseMulti(raw).as("parsed"))
    },
    Some("""WITH s AS (
      SELECT o_orderkey,
        CASE WHEN o_orderkey % 11 = 0 THEN 'not a date'
             WHEN o_orderkey % 3 = 0 THEN strftime(o_orderdate, '%d/%m/%Y')
             WHEN o_orderkey % 3 = 1 THEN strftime(o_orderdate, '%Y/%m/%d')
             ELSE strftime(o_orderdate, '%d.%m.%Y') END AS raw
      FROM orders),
    c AS (
      SELECT o_orderkey, raw,
        regexp_replace(regexp_replace(raw, '[^\d/.\-]', '', 'g'),
                       '[\.\-]', '/', 'g') AS u
      FROM s)
    SELECT o_orderkey, raw,
      CASE WHEN regexp_matches(u, '^\d{2}/\d{2}/\d{4}$')
             THEN CAST(try_strptime(u, '%d/%m/%Y') AS DATE)
           WHEN regexp_matches(u, '^\d{4}/\d{2}/\d{2}$')
             THEN CAST(try_strptime(u, '%Y/%m/%d') AS DATE)
           ELSE NULL END AS parsed
    FROM c"""),
    "§2.8 multi-format to_date with cleaning regexes",
    conf = Q.Unfused)

  /** §2.8 date family: 2-digit-year parse under the reference's LEGACY
    * time-parser policy (reference etl1:23,42-47 — `to_date(u,
    * "dd/MM/yy")` with SimpleDateFormat semantics). LEGACY's 2-digit
    * pivot slides with the wall clock (now−80 … now+20), so the
    * synthesized years stay far from the boundary: yy ∈ [00,30] →
    * 2000s and yy ∈ [60,99] → 1900s, both unambiguous for decades.
    * The oracle pins exactly that pivot with an explicit CASE. */
  val qDateParseYy = Q(
    "q_date_parse_yy",
    (spark, dir) => {
      val o = load(spark, dir, "orders")
      val k = col("o_orderkey")
      val yy = when(k % 2 === 0, k % 31).otherwise(lit(60) + k % 40)
      // day capped at 28: the substituted year may not be a leap year,
      // so a Feb-29 source date must not produce an invalid string
      val dd = least(dayofmonth(col("o_orderdate")), lit(28))
      val raw = concat(lpad(dd.cast("string"), 2, "0"), lit("/"),
        date_format(col("o_orderdate"), "MM"), lit("/"),
        lpad(yy.cast("string"), 2, "0"))
      o.select(k.as("o_orderkey"), raw.as("raw"),
        DateParse.parseMulti(raw).as("parsed"))
    },
    Some("""WITH s AS (
      SELECT o_orderkey, o_orderdate,
        CASE WHEN o_orderkey % 2 = 0 THEN o_orderkey % 31
             ELSE 60 + o_orderkey % 40 END AS yy,
        least(day(o_orderdate), 28) AS dd
      FROM orders)
    SELECT o_orderkey,
      lpad(CAST(dd AS VARCHAR), 2, '0') || strftime(o_orderdate, '/%m/')
        || lpad(CAST(yy AS VARCHAR), 2, '0') AS raw,
      make_date(CAST(CASE WHEN yy <= 30 THEN 2000 + yy ELSE 1900 + yy END AS INTEGER),
        month(o_orderdate), CAST(dd AS INTEGER)) AS parsed
    FROM s"""),
    "§2.8 dd/MM/yy parse: LEGACY 2-digit-year pivot, oracle-pinned",
    conf = Q.Unfused ++ Q.LegacyTime)

  /** SHA-256 content-addressed surrogate keys over normalized natural
    * key (reference etl2:156-162). */
  val qSurrogateKeys = Q(
    "q_surrogate_keys",
    (spark, dir) => {
      val p = load(spark, dir, "part")
      p.select(
        Keys.sha(Norm.lowerTrim(col("p_name")), Norm.lowerTrim(col("p_brand")),
          col("p_size").cast("string")).as("part_sk"),
        Norm.lowerTrim(col("p_name")).as("name_norm"),
        Norm.lowerTrim(col("p_brand")).as("brand_norm"),
        col("p_size")).distinct()
    },
    Some("""SELECT DISTINCT
      sha256(concat_ws('|',
        coalesce(nullif(trim(lower(trim(p_name))), ''), 'UNKNOWN'),
        coalesce(nullif(trim(lower(trim(p_brand))), ''), 'UNKNOWN'),
        coalesce(nullif(trim(CAST(p_size AS VARCHAR)), ''), 'UNKNOWN'))) AS part_sk,
      lower(trim(p_name)) AS name_norm,
      lower(trim(p_brand)) AS brand_norm,
      p_size
      FROM part"""),
    "SHA-256 surrogate keys (etl2:156-162)",
    conf = Q.Unfused)

  /** P6: column-misalignment repair (reference etl1:76-94), on rows
    * synthesized deterministically from customer. */
  val qMisalignRepair = Q(
    "q_misalign_repair",
    (spark, dir) => {
      val c = load(spark, dir, "customer")
      val k = col("c_custkey")
      val officeRaw = when(k % 7 === 0, lit(null).cast("string"))
        .when(k % 11 === 0, lit("TS"))
        .otherwise(col("c_mktsegment"))
      val fromRaw = when(k % 7 === 0, concat(lit("RTA "), upper(col("c_name"))))
        .when(k % 5 === 0, lit(null).cast("string"))
        .otherwise(lit("01/02/2015"))
      val (office, fd) = Repair.officeCdRepair(officeRaw, fromRaw)
      c.select(k.as("c_custkey"), office.as("office_cd"), fd.as("fromdate"))
    },
    Some("""WITH s AS (
      SELECT c_custkey,
        CASE WHEN c_custkey % 7 = 0 THEN NULL
             WHEN c_custkey % 11 = 0 THEN 'TS'
             ELSE c_mktsegment END AS office_raw,
        CASE WHEN c_custkey % 7 = 0 THEN concat('RTA ', upper(c_name))
             WHEN c_custkey % 5 = 0 THEN NULL
             ELSE '01/02/2015' END AS from_raw
      FROM customer)
    SELECT c_custkey,
      CASE WHEN regexp_matches(from_raw, '(?i)^(RTA|UNIT OFFICE|MVI|DTO|ZONAL|TRANSPORT).*')
                AND office_raw IS NULL THEN from_raw
           WHEN regexp_matches(office_raw, '(?i)^(TS|TG)$') THEN NULL
           ELSE office_raw END AS office_cd,
      CASE WHEN regexp_matches(from_raw, '(?i)^(RTA|UNIT OFFICE|MVI|DTO|ZONAL|TRANSPORT).*')
           THEN NULL ELSE from_raw END AS fromdate
    FROM s"""),
    "P6 conditional column swap / misalignment repair (etl1:76-94)")

  /** §2.8 array family: split → first word → variant from remaining
    * words (reference etl1:104-108). */
  val qArrayModelWords = Q(
    "q_array_model_words",
    (spark, dir) => {
      val p = load(spark, dir, "part")
      val words = split(Norm.cleanModelDesc(col("p_name")), "\\s+")
      p.select(col("p_partkey"),
        words.getItem(0).as("model_word"),
        concat_ws(" ", slice(words, lit(2), greatest(size(words) - 1, lit(0))))
          .as("variant"),
        size(words).as("n_words"))
    },
    Some("""WITH s AS (
      SELECT p_partkey,
        regexp_split_to_array(
          regexp_replace(p_name, '[^A-Za-z0-9\s\+\-\(\)\./]', '', 'g'),
          '\s+') AS words
      FROM part)
    SELECT p_partkey,
      words[1] AS model_word,
      array_to_string(words[2:len(words)], ' ') AS variant,
      len(words) AS n_words
    FROM s"""),
    "§2.8 split/getItem/slice/size/concat_ws (etl1:104-108)")

  /** A2: distinct key-set projection (reference etl2:216-217). */
  val qDistinctKeys = Q(
    "q_distinct_keys",
    (spark, dir) => {
      load(spark, dir, "customer").select("c_mktsegment", "c_nationkey").distinct()
    },
    Some("SELECT DISTINCT c_mktsegment, c_nationkey FROM customer"),
    "A2 distinct() key projection (etl2:216-217)")

  /** §2.6: global top-k with deterministic tiebreak.
    * Scale: Spark's TakeOrderedAndProject — per-partition top-k then
    * driver merge of k·P rows, no full sort. */
  val qTopkGlobal = Q(
    "q_topk_global",
    (spark, dir) => {
      load(spark, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(20)
        .select(col("o_orderkey"), col("o_custkey"),
          round(col("o_totalprice") * 100).cast("long").as("price_cents"))
    },
    Some("""SELECT o_orderkey, o_custkey,
      CAST(round(o_totalprice*100) AS BIGINT) AS price_cents
      FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 20"""),
    "§2.6 global top-k (orderBy+limit)")

  /** S10: row-count actions as one relation (reference etl1:60,139). */
  val qCounts = Q(
    "q_counts",
    (spark, dir) => {
      Seq("customer", "orders", "lineitem", "part")
        .map(t => load(spark, dir, t)
          .agg(count(lit(1)).as("n")).select(lit(t).as("tbl"), col("n")))
        .reduce(_.unionByName(_))
    },
    Some("""SELECT 'customer' AS tbl, COUNT(*) AS n FROM customer
      UNION ALL SELECT 'orders', COUNT(*) FROM orders
      UNION ALL SELECT 'lineitem', COUNT(*) FROM lineitem
      UNION ALL SELECT 'part', COUNT(*) FROM part"""),
    "S10 row-count action (etl1:60,139; etl2:95)")

  /** S2: header + schema-inference CSV scan (reference etl1:30-38
    * reads the raw registrations CSV exactly this way), previously
    * verified only by scalatest. The fixture is a deterministic messy
    * CSV — quoted commas, escaped quotes, empty→null cells in both a
    * string and an integer column, negative and large numerics, ISO
    * dates — written fresh on every build so the DuckDB oracle can
    * read_csv the same bytes. Projections CAST every column on both
    * sides: the query verifies the scan/parse, not each engine's
    * inference taste. Amounts use only fractions whose x100 is
    * integral (.0/.25/.5/.75) so round(amount*100) never lands on a
    * round-half tie (see q_jsonl_scan's round-4 hash-fail).
    *
    * LOCAL-MODE-ONLY side effect: the builder writes the fixture to a
    * driver-local path, which executors can only read because this
    * engine's test/driver environment is single-JVM local[*]. On a
    * multi-executor cluster the fixture would have to live on shared
    * storage (HDFS/object store) — the scan itself is
    * deployment-agnostic. Re-invocation is idempotent (same bytes). */
  val csvFixturePath = Tables.staging("graft_csv_scan/data.csv")
  private val csvFixture =
    """id,amount,label,d,qty
      |1,10.5,plain,2020-01-15,3
      |2,-2.25,"comma, inside",2020-02-29,0
      |3,0.0,"quote ""q"" inside",2019-12-31,
      |4,12345.67,unicode æøå,2021-06-01,42
      |5,0.75,,2022-03-10,7
      |6,999999.99,big numbers,2018-07-04,1000000
      |7,-0.01,negative amount,2015-11-20,-5
      |8,3.5,last row,2023-01-01,2
      |""".stripMargin

  val qCsvScan = Q(
    "q_csv_scan",
    (spark, dir) => {
      val p = java.nio.file.Paths.get(csvFixturePath)
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p,
        csvFixture.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      spark.read
        .option("header", "true")
        .option("inferSchema", "true")
        // RFC4180 doubled-quote escaping ("" inside a quoted field);
        // Spark's default escape is backslash, which would pass the
        // raw quotes through
        .option("escape", "\"")
        .csv(csvFixturePath)
        .select(
          col("id").cast("long").as("id"),
          round(col("amount") * 100).cast("long").as("amount_cents"),
          col("label").cast("string").as("label"),
          col("d").cast("date").as("d"),
          col("qty").cast("long").as("qty"))
    },
    Some(s"""SELECT CAST(id AS BIGINT) AS id,
      CAST(round(amount*100) AS BIGINT) AS amount_cents,
      CAST(label AS VARCHAR) AS label,
      CAST(d AS DATE) AS d,
      CAST(qty AS BIGINT) AS qty
      FROM read_csv('$csvFixturePath', header=true)"""),
    "S2 CSV scan with header + schema inference (etl1:30-38)")

  /** S5 oracle coverage (VERDICT r3 item 6): the partitioned-parquet
    * sink is exercised end-to-end — write `orders` partitioned by
    * derived year, read it back WITH a partition predicate, aggregate.
    * DuckDB mirrors the read side via read_parquet(hive_partitioning),
    * proving the hive layout Spark wrote is the layout other engines
    * read, and PlanSpec pins that the predicate lands in
    * partitionFilters (pruned directories), not data filters.
    * Same LOCAL-MODE-ONLY path note as q_csv_scan: the fixed /tmp dir
    * is shared driver/executor state only because this environment is
    * single-JVM; a cluster deployment points it at shared storage.
    * Re-invocation overwrites idempotently — but unlike the csv/jsonl
    * fixtures (constant bytes at any scale) this one is SCALE-
    * DEPENDENT: two Verify runs at different sf dirs must not
    * overlap, or the oracle reads the other run's data (observed
    * once: an sf0.001 run overwrote the dir mid-sf1-check). The
    * driver runs one scale at a time, so only concurrent dev runs
    * can race. */
  val partRoundtripPath = Tables.staging("graft_part_roundtrip")
  val qPartitionedRoundtrip = Q(
    "q_partitioned_roundtrip",
    (spark, dir) => {
      load(spark, dir, "orders")
        .withColumn("o_year", year(col("o_orderdate")))
        .write.mode("overwrite").partitionBy("o_year")
        .parquet(partRoundtripPath)
      spark.read.parquet(partRoundtripPath)
        .filter(col("o_year").between(1994, 1996))
        .groupBy(col("o_year").cast("int").as("o_year"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("o_totalprice") * 100)).cast("long").as("total_cents"))
    },
    Some(s"""SELECT CAST(o_year AS INTEGER) AS o_year, o_orderstatus,
      COUNT(*) AS n,
      CAST(SUM(round(o_totalprice*100)) AS BIGINT) AS total_cents
      FROM read_parquet('$partRoundtripPath/*/*.parquet', hive_partitioning=true)
      WHERE o_year BETWEEN 1994 AND 1996
      GROUP BY 1, 2"""),
    "S5 partitioned parquet sink + pruned hive read-back roundtrip")

  /** S-family: newline-delimited JSON scan with schema inference —
    * the interchange format LLM training corpora actually ship in
    * (one document object per line). The fixture exercises the parse
    * surface: nested object, array field, missing keys → null,
    * escaped quotes, unicode, negative/zero numerics, booleans.
    * Projections CAST both sides so the query verifies scan + nested
    * access, not either engine's inference taste. Scores use only
    * fractions whose x100 is INTEGRAL (.0/.25/.5/.75): a .125 score
    * lands round(x*100) exactly on a half (12312.5), where HALF_UP
    * and round-half-to-even engines disagree — the round-4 driver
    * hash-fail signature. No rounding tie can exist in this fixture.
    * Same LOCAL-MODE-ONLY fixture-path note as q_csv_scan; the write
    * is idempotent (same bytes every invocation). */
  val jsonlFixturePath = Tables.staging("graft_jsonl_scan/data.jsonl")
  private val jsonlFixture = Seq(
    """{"id":1,"name":"alpha","score":10.5,"tags":["x","y"],"meta":{"src":"web","rank":3},"ok":true}""",
    """{"id":2,"name":"comma, \"quoted\"","score":-2.25,"tags":[],"meta":{"src":"pdf","rank":1},"ok":false}""",
    """{"id":3,"name":"unicode æøå","score":0.0,"tags":["z"],"meta":{"src":"web","rank":2},"ok":true}""",
    """{"id":4,"name":null,"score":123.25,"tags":["a","b","c"],"meta":{"src":"scan","rank":7},"ok":false}""",
    """{"id":5,"score":1.5,"meta":{"src":"web","rank":5}}""",
    """{"id":6,"name":"last","score":-0.5,"tags":["q"],"meta":{"src":"api","rank":4},"ok":true}"""
  ).mkString("", "\n", "\n")

  val qJsonlScan = Q(
    "q_jsonl_scan",
    (spark, dir) => {
      val p = java.nio.file.Paths.get(jsonlFixturePath)
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p,
        jsonlFixture.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      spark.read.json(jsonlFixturePath)
        .select(
          col("id").cast("long").as("id"),
          col("name").cast("string").as("name"),
          round(col("score") * 100).cast("long").as("score_cents"),
          size(col("tags")).cast("long").as("n_tags"),
          element_at(col("tags"), 1).as("first_tag"),
          col("meta.src").as("meta_src"),
          col("meta.rank").cast("long").as("meta_rank"),
          col("ok").cast("boolean").as("ok"))
    },
    Some(s"""SELECT CAST(id AS BIGINT) AS id,
      CAST(name AS VARCHAR) AS name,
      CAST(round(score*100) AS BIGINT) AS score_cents,
      CAST(len(tags) AS BIGINT) AS n_tags,
      tags[1] AS first_tag,
      meta.src AS meta_src,
      CAST(meta.rank AS BIGINT) AS meta_rank,
      CAST(ok AS BOOLEAN) AS ok
      FROM read_json('$jsonlFixturePath', format='newline_delimited')"""),
    "S-family JSONL scan: nested objects, arrays, missing keys, inference")

  /** S-family: ORC roundtrip — the second columnar format big Spark
    * deployments actually hold (Hive-era warehouses are ORC; a
    * migration engine must read/write both). Write lineitem as ORC,
    * read it back with a selective predicate, and aggregate; PlanSpec
    * asserts the predicate reaches the ORC scan as a pushed filter
    * (row-group skipping — at 100 TB the difference between reading
    * 2% and 100% of the table). DuckDB has no ORC reader, so the
    * oracle computes the same aggregate from the parquet source —
    * which is exactly the roundtrip claim: ORC-out → ORC-in must be
    * value-identical to the parquet original. Same LOCAL-MODE
    * idempotent fixture-write convention as q_partitioned_roundtrip. */
  val orcRoundtripPath = Tables.staging("graft_orc_roundtrip/lineitem")
  val qOrcRoundtrip = Q(
    "q_orc_roundtrip",
    (spark, dir) => {
      load(spark, dir, "lineitem")
        .write.mode("overwrite").orc(orcRoundtripPath)
      spark.read.orc(orcRoundtripPath)
        .filter(col("l_quantity") <= 5 && col("l_discount") >= 0.05)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity")).cast("long").as("sum_qty"),
          sum(round(col("l_extendedprice") * 100).cast("long")).as("price_cents"))
    },
    Some("""SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
      CAST(SUM(l_quantity) AS BIGINT) AS sum_qty,
      CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS price_cents
      FROM lineitem
      WHERE l_quantity <= 5 AND l_discount >= 0.05
      GROUP BY 1, 2"""),
    "S-family ORC sink + pushed-filter read-back roundtrip")

  /** URL parsing (§2.8 string-function family): web corpora key on
    * URLs — host for per-site quality priors, registrable domain for
    * dedup scoping, query params for tracking-stripping. The fixture
    * has no URL column, so deterministic URLs are synthesized from
    * (source, lang, doc_id) and then parsed back with Spark's
    * parse_url; the DuckDB oracle computes each component from the
    * same fields DIRECTLY — so the check proves parse_url inverts the
    * construction exactly (HOST/PATH/QUERY grammar, per-key query
    * param lookup). example.com is the IANA-reserved documentation
    * domain. Row-local, shuffle-free; at corpus scale this is a
    * projection fused into the scan. */
  val qUrlExtract = Q(
    "q_url_extract",
    (spark, dir) => {
      load(spark, dir, "documents")
        .select(col("doc_id"), col("source"), col("lang"))
        .withColumn("url", concat(
          lit("https://"), col("source"), lit(".example.com/"), col("lang"),
          lit("/doc/"), col("doc_id"),
          lit("?ref=r"), pmod(col("doc_id"), lit(7)),
          lit("&p="), pmod(col("doc_id"), lit(13))))
        .select(col("doc_id"), col("url"),
          expr("parse_url(url, 'HOST')").as("host"),
          expr("parse_url(url, 'PATH')").as("path"),
          expr("parse_url(url, 'QUERY', 'ref')").as("ref_param"),
          substring_index(expr("parse_url(url, 'HOST')"), ".", -2).as("domain"))
    },
    Some("""SELECT doc_id,
      'https://' || source || '.example.com/' || lang || '/doc/' || doc_id
        || '?ref=r' || (doc_id % 7) || '&p=' || (doc_id % 13) AS url,
      source || '.example.com' AS host,
      '/' || lang || '/doc/' || doc_id AS path,
      'r' || (doc_id % 7) AS ref_param,
      'example.com' AS domain
      FROM documents"""),
    "parse_url HOST/PATH/QUERY-param extraction + registrable domain")

  /** URL canonicalization + dedup — the first dedup any web corpus
    * runs (before any content hashing): case-fold the scheme/host,
    * strip tracking parameters, then group by the canonical form and
    * keep the first (min doc_id) member. Seeded variants prove each
    * rule fires: doc_id%7 gets an UPPERCASED host (case-folded away),
    * doc_id%5 gets `&utm_*` junk (regex-stripped away), and the path
    * keys on doc_id%250 so ~N/250 docs genuinely collide
    * post-canonicalization at every SF. Survivorship is a window min
    * over the canonical key — one key-partitioned shuffle, no skew
    * (canonical cardinality tracks the corpus).
    * A production canonicalizer adds host IDN folding and path
    * normalization; the regex-strip + case-fold here is the
    * engine-visible shape. */
  val qUrlCanonical = Q(
    "q_url_canonical",
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val raw = load(spark, dir, "documents")
        .select(col("doc_id"), col("source"), col("lang"))
        .withColumn("url", concat(
          lit("https://"),
          when(pmod(col("doc_id"), lit(7)) === 0, upper(col("source")))
            .otherwise(col("source")),
          lit(".example.com/"), col("lang"),
          lit("/page/"), pmod(col("doc_id"), lit(250)),
          lit("?ref=r"), pmod(col("doc_id"), lit(3)),
          when(pmod(col("doc_id"), lit(5)) === 0,
            lit("&utm_source=feed&utm_campaign=x")).otherwise(lit(""))))
        .withColumn("canonical_url",
          regexp_replace(lower(col("url")), "&utm_[a-z]+=[^&]*", ""))
      val w = Window.partitionBy("canonical_url")
      raw.withColumn("owner", min(col("doc_id")).over(w))
        .select(col("doc_id"), col("canonical_url"), col("owner"),
          (col("doc_id") =!= col("owner")).cast("int").as("is_dup"))
    },
    Some("""WITH r AS (
        SELECT doc_id,
          'https://' ||
          CASE WHEN doc_id % 7 = 0 THEN upper(source) ELSE source END ||
          '.example.com/' || lang || '/page/' || (doc_id % 250) ||
          '?ref=r' || (doc_id % 3) ||
          CASE WHEN doc_id % 5 = 0 THEN '&utm_source=feed&utm_campaign=x'
            ELSE '' END AS url
        FROM documents),
      c AS (SELECT doc_id,
          regexp_replace(lower(url), '&utm_[a-z]+=[^&]*', '', 'g') AS canonical_url
        FROM r)
      SELECT doc_id, canonical_url,
        MIN(doc_id) OVER (PARTITION BY canonical_url) AS owner,
        CAST(doc_id != MIN(doc_id) OVER (PARTITION BY canonical_url) AS INTEGER)
          AS is_dup
      FROM c"""),
    "URL canonicalization (case-fold + tracking-param strip) + keep-first dedup")

  /** Deterministic content-hash holdout split (train/val/test at
    * 90/5/5): bucket = md5(doc_id) mod 100 — the split every training
    * pipeline needs to be REPRODUCIBLE across runs, engines, and
    * re-shards (a random() split is none of those). Hash-of-id rather
    * than id-range keeps the split uncorrelated with crawl order or
    * any id-embedded attribute. Output is the per-split contract
    * (counts + id checksum); the per-doc assignment is the same
    * projection without the final aggregate.
    *
    * Scale: row-local hash + one 3-group combinable aggregate — no
    * shuffle of data rows, no driver participation. Disjointness and
    * exhaustiveness are structural (CASE on one bucket value);
    * OpsSpec pins both anyway. */
  val qSplitHoldout = Q(
    "q_split_holdout",
    (spark, dir) => {
      val d = load(spark, dir, "documents")
      val bucket = pmod(graft.ops.TextOps.stringHash(col("doc_id").cast("string")), lit(100))
      d.select(col("doc_id"),
        when(bucket < 90, "train").when(bucket < 95, "val")
          .otherwise("test").as("split"))
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("id_checksum"))
    },
    Some("""WITH b AS (
      SELECT doc_id,
        CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
          % 2147483647 % 100 AS bucket
      FROM documents)
    SELECT CASE WHEN bucket < 90 THEN 'train'
                WHEN bucket < 95 THEN 'val' ELSE 'test' END AS split,
      COUNT(*) AS n_docs, CAST(SUM(doc_id) AS BIGINT) AS id_checksum
    FROM b GROUP BY 1"""),
    "Deterministic md5-bucket train/val/test holdout split (90/5/5)")

  val all: Seq[Q] = Seq(q1PricingSummary, qDedupLatest, qDateParseMulti,
    qDateParseYy, qSurrogateKeys, qMisalignRepair, qArrayModelWords,
    qDistinctKeys, qTopkGlobal, qCounts, qCsvScan, qPartitionedRoundtrip,
    qJsonlScan, qOrcRoundtrip, qUrlExtract, qUrlCanonical, qSplitHoldout)
}
