package graft.queries

import graft.{CacheReleases, Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Graph-derived signals over the event stream. A large-scale training
  * corpus routinely carries a link structure (web graph, citation
  * graph, user-interaction graph), and a PageRank-style centrality
  * score is a standard quality prior for sampling weights (the
  * reference has no graph ops; this family is part of the engine's
  * training-data surface, like the dedup/ANN families).
  *
  * All iteration arithmetic is INTEGER (micro-rank units, `div`), so
  * the result is exactly order-independent and the DuckDB oracle can
  * replay it verbatim — no float accumulation anywhere. */
object GraphQueries {
  import Tables.load

  /** Directed "handoff" edges: within each (event_type, day), order
    * events by (ts, event_id) and link each user to the next distinct
    * user. Scoping the chain to type×day keeps every window partition
    * bounded (types × days of them), so the sort parallelizes on a
    * cluster — an unbounded per-type chain would funnel the corpus
    * into a handful of sort partitions. Real deployments would supply
    * an edge table directly; the derivation here exists so the query
    * is self-contained on the fixture. */
  private[graft] def handoffEdges(spark: SparkSession, dir: String): DataFrame = {
    val ev = load(spark, dir, "events")
    val w = Window
      .partitionBy(col("event_type"), to_date(col("ts")))
      .orderBy(col("ts").asc, col("event_id").asc)
    ev.select(col("event_type"), col("ts"), col("event_id"), col("user_id"))
      .withColumn("dst", lead(col("user_id"), 1).over(w))
      .filter(col("dst").isNotNull && col("dst") =!= col("user_id"))
      .select(col("user_id").as("src"), col("dst"))
      .distinct()
  }

  private val Iters = 3

  /** PageRank, 3 synchronous iterations, damping 0.85, in integer
    * micro-rank units: R0 = 1e6 per node; each round every node sends
    * `rank div outdeg` along its out-edges and collects
    * `150000 + (85 * inbound) div 100`. Dangling-node mass is dropped
    * (the standard simple variant) — mirrored identically in the
    * oracle, so the compare is exact.
    *
    * Scale: per round = one shuffle (groupBy dst) plus id-sized joins
    * against the persisted edge list; ranks/outdeg are node-sized,
    * edges edge-sized — nothing corpus-sized is ever collected or
    * broadcast. The round count is a fixed constant, so the logical
    * plan stays bounded (the Components lesson — unbounded iteration
    * needs localCheckpoint per round — doesn't bite at 3). Integer
    * overflow headroom: total mass = 1e6·|V|; ×85 stays under 2^63
    * up to ~10^11 nodes. */
  val qPagerank = Q(
    "q_pagerank",
    (spark, dir) => {
      val edges = handoffEdges(spark, dir)
        .transform(CacheReleases.persisted)
      val nodes = edges.select(col("src").as("node"))
        .union(edges.select(col("dst").as("node")))
        .distinct()
        .transform(CacheReleases.persisted)
      val outdeg = edges.groupBy("src").agg(count(lit(1)).as("outdeg"))
      // edges⋈outdeg is round-invariant: materialize it once,
      // pre-partitioned by src, so each round's join exchanges only the
      // node-sized ranks frame instead of re-aggregating and re-joining
      // the edge list (round-10 P24: ~12% off the whole query, exact
      // parity). Edge-sized like `edges` itself — nothing new to spill.
      val contrib = edges.join(outdeg, Seq("src"))
        .repartition(col("src"))
        .transform(CacheReleases.persisted)
      // Materialize contrib (which fills the edges cache once,
      // transitively) and nodes, then release edges: every rank round
      // reads only contrib + nodes, so holding both edge-sized caches
      // for the query's lifetime doubles its memory footprint for
      // nothing (round-11 ADVICE). ONE union-count action instead of
      // two sequential counts (round 14, guide §2.6): both cached
      // subtrees materialize inside a single job, so the second
      // driver round-trip disappears and the two cache builds overlap.
      contrib.select(lit(1).as("one"))
        .unionAll(nodes.select(lit(1).as("one"))).count()
      edges.unpersist(false)
      var ranks = nodes.select(col("node"), lit(1000000L).as("rank"))
      for (_ <- 1 to Iters) {
        val inbound = contrib
          .join(ranks.withColumnRenamed("node", "src"), Seq("src"))
          .select(col("dst").as("node"), expr("rank div outdeg").as("c"))
          .groupBy("node")
          .agg(sum(col("c")).as("s"))
        ranks = nodes.join(inbound, Seq("node"), "left")
          .select(col("node"),
            (lit(150000L) + expr("(85 * coalesce(s, 0L)) div 100")).as("rank"))
      }
      ranks.orderBy(col("rank").desc, col("node").asc).limit(20)
        .select(col("node"), col("rank").as("rank_micros"))
    },
    Some {
      val seed = """seq AS (
        SELECT event_type, CAST(ts AS DATE) AS day, ts, event_id, user_id,
          lead(user_id) OVER (PARTITION BY event_type, CAST(ts AS DATE)
            ORDER BY ts, event_id) AS dst
        FROM events),
      edges AS (SELECT DISTINCT user_id AS src, dst FROM seq
        WHERE dst IS NOT NULL AND dst != user_id),
      nodes AS (SELECT src AS node FROM edges
        UNION SELECT dst FROM edges),
      outdeg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY 1),
      r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank FROM nodes)"""
      // three unrolled synchronous rounds, identical integer arithmetic
      val round = (i: Int, prev: String) => s"""i$i AS (
        SELECT n.node,
          CAST(150000 + (85 * COALESCE(s.s, 0)) // 100 AS BIGINT) AS rank
        FROM nodes n LEFT JOIN (
          SELECT e.dst AS node, CAST(SUM(r.rank // o.outdeg) AS BIGINT) AS s
          FROM edges e
          JOIN outdeg o ON e.src = o.src
          JOIN $prev r ON e.src = r.node
          GROUP BY 1) s ON n.node = s.node)"""
      s"""WITH $seed,
      ${round(1, "r0")},
      ${round(2, "i1")},
      ${round(3, "i2")}
      SELECT node, rank AS rank_micros FROM i3
      ORDER BY rank DESC, node ASC LIMIT 20"""
    },
    "PageRank quality prior: 3 integer-arithmetic rounds, one shuffle per round")

  /** Triangle participation counts — the standard local-clustering /
    * community-density signal over the same handoff graph as
    * q_pagerank. Algorithm is the degree-oriented "compact-forward"
    * scheme (Latapy 2008; the MapReduce form in Suri & Vassilvitskii
    * 2011): orient every undirected edge from the endpoint that is
    * SMALLER in the total order (degree, id) to the larger, so every
    * node's out-degree is O(√m) regardless of hub skew; enumerate
    * wedges at each center (pairs of out-neighbors, again ordered) and
    * close them against the oriented edge list. Each triangle
    * {a<b<c in the order} is found exactly once: wedge at a = (b, c),
    * closed by b→c.
    *
    * Scale: the wedge join is the dominant cost and the orientation is
    * what bounds it — without it a single celebrity hub of degree d
    * contributes d² wedges; with it, Σ outdeg² = O(m^1.5). Joins are
    * id+degree-sized; nothing corpus-sized collects. Output is the
    * top-20 nodes by triangle count (tie-broken by node id). */
  val qTriangleCount = Q(
    "q_triangle_count",
    (spark, dir) => {
      val directed = handoffEdges(spark, dir)
      // seeded cliques: users u ≡ 0 (mod 97) contribute the triangle
      // {u, u+1, u+2}. The organic handoff chains stop closing wedges
      // at larger SFs (key-offset copies interleave in the same time
      // window), which left the sf1 result an empty — green but
      // vacuous — row; the seeds guarantee triangles at EVERY SF, the
      // dq_audit convention of proving the operator fires. Mirrored
      // verbatim in the oracle.
      val seeds = load(spark, dir, "events")
        .select(col("user_id")).distinct()
        .filter(pmod(col("user_id"), lit(97)) === 0)
      val clique = seeds.select(col("user_id").as("src"), (col("user_id") + 1).as("dst"))
        .unionAll(seeds.select((col("user_id") + 1).as("src"), (col("user_id") + 2).as("dst")))
        .unionAll(seeds.select(col("user_id").as("src"), (col("user_id") + 2).as("dst")))
      val und = directed.unionByName(clique)
        .select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b"))
        .distinct()
        .transform(CacheReleases.persisted)
      val deg = und.select(col("a").as("node"))
        .unionAll(und.select(col("b").as("node")))
        .groupBy("node").agg(count(lit(1)).as("d"))
      val withDeg = und
        .join(deg.withColumnRenamed("node", "a").withColumnRenamed("d", "da"), Seq("a"))
        .join(deg.withColumnRenamed("node", "b").withColumnRenamed("d", "db"), Seq("b"))
      // orient small-(deg,id) → large-(deg,id); carry the dst order key
      val aOrd = struct(col("da").as("d"), col("a").as("n"))
      val bOrd = struct(col("db").as("d"), col("b").as("n"))
      val oriented = withDeg.select(
        when(aOrd < bOrd, col("a")).otherwise(col("b")).as("src"),
        when(aOrd < bOrd, bOrd).otherwise(aOrd).as("dstOrd"))
        .select(col("src"), col("dstOrd.n").as("dst"), col("dstOrd"))
        .transform(CacheReleases.persisted)
      val o1 = oriented.select(col("src"), col("dst").as("v"), col("dstOrd").as("vOrd"))
      val o2 = oriented.select(col("src"), col("dst").as("w"), col("dstOrd").as("wOrd"))
      val wedges = o1.join(o2, Seq("src")).filter(col("vOrd") < col("wOrd"))
        .select(col("src").as("center"), col("v"), col("w"))
      val tris = wedges.join(oriented,
        wedges("v") === oriented("src") && wedges("w") === oriented("dst"))
        .select(col("center"), col("v"), col("w"))
      tris.select(explode(array(col("center"), col("v"), col("w"))).as("node"))
        .groupBy("node").agg(count(lit(1)).as("n_triangles"))
        .orderBy(col("n_triangles").desc, col("node").asc).limit(20)
    },
    Some("""WITH seq AS (
        SELECT event_type, CAST(ts AS DATE) AS day, ts, event_id, user_id,
          lead(user_id) OVER (PARTITION BY event_type, CAST(ts AS DATE)
            ORDER BY ts, event_id) AS dst
        FROM events),
      dedges0 AS (SELECT DISTINCT user_id AS src, dst FROM seq
        WHERE dst IS NOT NULL AND dst != user_id),
      seeds AS (SELECT DISTINCT user_id AS u FROM events WHERE user_id % 97 = 0),
      dedges AS (
        SELECT src, dst FROM dedges0
        UNION ALL SELECT u, u + 1 FROM seeds
        UNION ALL SELECT u + 1, u + 2 FROM seeds
        UNION ALL SELECT u, u + 2 FROM seeds),
      und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        FROM dedges),
      deg AS (SELECT node, COUNT(*) AS d FROM (
        SELECT a AS node FROM und UNION ALL SELECT b FROM und) GROUP BY 1),
      oriented AS (
        SELECT CASE WHEN (x.d, u.a) < (y.d, u.b) THEN u.a ELSE u.b END AS src,
               CASE WHEN (x.d, u.a) < (y.d, u.b) THEN u.b ELSE u.a END AS dst,
               CASE WHEN (x.d, u.a) < (y.d, u.b) THEN y.d ELSE x.d END AS dd
        FROM und u
        JOIN deg x ON u.a = x.node
        JOIN deg y ON u.b = y.node),
      wedges AS (
        SELECT o1.src AS center, o1.dst AS v, o2.dst AS w
        FROM oriented o1 JOIN oriented o2 ON o1.src = o2.src
        WHERE (o1.dd, o1.dst) < (o2.dd, o2.dst)),
      tris AS (
        SELECT center, v, w FROM wedges
        JOIN oriented o ON wedges.v = o.src AND wedges.w = o.dst)
      SELECT node, COUNT(*) AS n_triangles FROM (
        SELECT unnest([center, v, w]) AS node FROM tris)
      GROUP BY 1 ORDER BY n_triangles DESC, node ASC LIMIT 20"""),
    "Triangle counts via degree-oriented wedge closing (out-degree O(sqrt m))")

  val all: Seq[Q] = Seq(qPagerank, qTriangleCount)
}
