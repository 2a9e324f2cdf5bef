package graft.ops.ext

import graft.engine.{Caching, QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Link-graph importance scoring — the crawl-side quality signal of a
  * pretraining pipeline (RefinedWeb/Common-Crawl-style pipelines rank
  * hosts by link centrality before any text is fetched; the reference
  * has no graph operator at all, so this is a beyond-reference
  * capability row alongside dd6's connected components).
  *
  * PageRank is the canonical such score. The engine shape is the
  * textbook iterative one: an EDGE-LIST table (never an adjacency
  * matrix), per-round `join(ranks) → groupBy(dst).sum` — one shuffle
  * join + one aggregation per round, every aggregate map-side
  * combinable, no driver-side graph state beyond the node count. The
  * fixture graph is the customer↔supplier co-purchase bipartite graph
  * (both directions materialized, so there are no dangling nodes and no
  * leaked mass term to carry).
  *
  * Arithmetic is EXACT fixed-point (the [[Similarity.KmQ]] discipline):
  * total mass `M = 10¹²` is distributed in integer quanta and every
  * step — contribution `r div deg`, damping `(17·s) div 20` (= 0.85),
  * teleport `(3·(M div N)) div 20` (= 0.15/N) — is a BIGINT truncating
  * division both engines implement identically. Float PageRank would
  * hash-mismatch across engines (addition order); integer PageRank is
  * bit-deterministic under any partitioning.
  */
object GraphRank {

  /** Supplier-node id offset (keys share one BIGINT id space). */
  val NodeOff = 1000000000L
  /** Total rank mass in integer quanta (10¹² ⇒ per-node error from
    * truncation is ≤ 20 quanta/round — 11 orders below the signal). */
  val Mass = 1000000000000L
  /** Unrolled power-iteration rounds (fixed, so the plan is static and
    * the oracle restates the same three rounds as chained CTEs). */
  val Rounds = 3

  /** One PageRank power-iteration chain over arbitrary `nodes(id)` /
    * `edges(src, dst)` frames (spec entry). `nodeCount` is the only
    * driver-side scalar (an O(1) metadata count). */
  private[graft] def pageRankOf(
      nodes: DataFrame, edges: DataFrame, nodeCount: Long, rounds: Int): DataFrame = {
    // pre-partition the static sides WHILE CACHING (pr2's oriented-edge
    // trick): e and deg are joined on src every round, so hash-partition
    // them by src once — each iteration then exchanges only the ranks
    // side (which changes per round); the edge table, the largest frame
    // in the loop, never re-shuffles after round 1
    val e = Caching.persist(edges.repartition(col("src")))
    val deg = Caching.persist(e.groupBy("src").agg(count(lit(1)).as("d")))
    val r0 = Mass / nodeCount
    val base = (3L * r0) / 20L
    var ranks = nodes.withColumn("r", lit(r0))
    for (_ <- 1 to rounds) {
      val acc = e.join(ranks.withColumnRenamed("id", "src"), "src")
        .join(deg, "src")
        .select(col("dst").as("id"), expr("r div d").as("contrib"))
        .groupBy("id").agg(sum("contrib").as("acc"))
      ranks = nodes.join(acc, Seq("id"), "left_outer")
        .select(col("id"),
          (lit(base) + expr("(17 * coalesce(acc, 0L)) div 20")).as("r"))
    }
    ranks
  }

  /** pr1: 3-round fixed-point PageRank over the customer↔supplier
    * co-purchase graph. A customer with no orders receives exactly the
    * teleport base; hub suppliers accumulate rank proportional to their
    * buyer fan-in. */
  def pageRank(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val pairs = t.orders.select("o_orderkey", "o_custkey")
      .join(t.lineitem.select("l_orderkey", "l_suppkey"),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("c"), (col("l_suppkey") + NodeOff).as("s"))
      .distinct()
    val edges = pairs.select(col("c").as("src"), col("s").as("dst"))
      .unionByName(pairs.select(col("s").as("src"), col("c").as("dst")))
    val nodes = t.customer.select(col("c_custkey").as("id"))
      .unionByName(t.supplier.select((col("s_suppkey") + NodeOff).as("id")))
    // node count is dim-table metadata (|customer| + |supplier|), not a
    // graph traversal — the one scalar the integer arithmetic needs
    val n = nodes.count()
    pageRankOf(nodes, edges, n, Rounds)
      .select(col("id").as("node_id"), col("r").as("rank_q"))
      .orderBy("node_id")
  }

  lazy val pageRankOracle: String = {
    val m = Mass
    def round(prev: String, out: String): String =
      s"""$out AS (
        |  SELECT n.id,
        |         CAST(cst.base + (17 * coalesce(s.acc, 0)) // 20 AS BIGINT) AS r
        |  FROM nodes n
        |  LEFT JOIN (
        |    SELECT e.dst AS id, CAST(sum(p.r // deg.d) AS BIGINT) AS acc
        |    FROM edges e JOIN $prev p ON p.id = e.src JOIN deg ON deg.src = e.src
        |    GROUP BY e.dst) s ON n.id = s.id
        |  CROSS JOIN cst)""".stripMargin
    s"""WITH pairs AS (
      |  SELECT DISTINCT o.o_custkey AS c, $NodeOff + l.l_suppkey AS s
      |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
      |edges AS (
      |  SELECT c AS src, s AS dst FROM pairs
      |  UNION ALL SELECT s, c FROM pairs),
      |nodes AS (
      |  SELECT c_custkey AS id FROM customer
      |  UNION ALL SELECT $NodeOff + s_suppkey FROM supplier),
      |deg AS (SELECT src, count(*) AS d FROM edges GROUP BY 1),
      |cst AS (
      |  SELECT $m // count(*) AS r0, (3 * ($m // count(*))) // 20 AS base
      |  FROM nodes),
      |r0 AS (SELECT id, cst.r0 AS r FROM nodes CROSS JOIN cst),
      |${round("r0", "r1")},
      |${round("r1", "r2")},
      |${round("r2", "r3")}
      |SELECT id AS node_id, r AS rank_q FROM r3 ORDER BY node_id""".stripMargin
  }

  /** Triangle counting (pr2) — the second canonical graph kernel
    * (clustering coefficient / community density; in a data pipeline it
    * scores link-farm-like neighborhoods the same way PageRank scores
    * centrality). The Spark-first shape is the degree-ordered wedge
    * join (Cohen 2009 / Suri-Vassilvitskii WWW'11): orient every
    * undirected edge from its lexicographically smaller `(degree, id)`
    * endpoint to the larger, so each triangle is enumerated EXACTLY once
    * and — the scale property — every node's out-degree is bounded by
    * O(√m): a celebrity node with 10⁷ neighbors produces wedges only
    * from the few higher-degree nodes above it, never 10¹⁴ pairs. Three
    * edge-list shuffles total (degrees, wedge join, closing-edge join);
    * degrees travel WITH the oriented edges so the wedge comparison
    * needs no extra join.
    */
  /** Bloom-prefilter cap (guide §3.2): above this many oriented edges
    * the closing-edge Bloom filter is skipped — ~9.6 bits/item at 1%
    * fpp puts 2×10⁸ items at ~240 MB of driver+executor memory, the
    * sane ceiling for a broadcast side-structure. Skipping changes the
    * plan, never the result. */
  val BloomMaxItems = 200000000L

  private[graft] def trianglesOf(edges: DataFrame): DataFrame = {
    // edges: undirected (u, v), u < v, distinct
    val e = Caching.persist(edges)
    val deg = e.select(col("u").as("n"))
      .unionByName(e.select(col("v").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))
    val uFirst = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    // The oriented edge list feeds THREE consumers (both wedge sides +
    // the closing-edge probe), so it is persisted — unpersisted, the
    // deg aggregation and both degree joins re-execute per consumer
    // (3 aggs + 6 joins, measured in the r5 AQE plan). It is also
    // pre-partitioned by x WHILE CACHING: the cached outputPartitioning
    // satisfies both sides of the wedge self-join, so the largest join
    // in the kernel runs with ZERO exchanges — the only full-width
    // shuffle left is the wedge→closing-edge probe, and AQE turns even
    // that into a broadcast when the (x,y) edge projection fits (it is
    // edge-sized, never wedge-sized).
    val oriented = Caching.persist(e
      .join(deg.select(col("n").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("n").as("v"), col("d").as("dv")), "v")
      .select(
        when(uFirst, col("u")).otherwise(col("v")).as("x"),
        when(uFirst, col("v")).otherwise(col("u")).as("y"),
        when(uFirst, col("dv")).otherwise(col("du")).as("dy"))
      .repartition(col("x")))
    val o1 = oriented.select(col("x"), col("y").as("y1"), col("dy").as("dy1"))
    val o2 = oriented.select(col("x"), col("y").as("y2"), col("dy").as("dy2"))
    // wedge rows are pruned to (x, y1, y2) BEFORE the closing probe —
    // the degree columns exist only to order the wedge, and carrying
    // them through the largest intermediate would widen every spill
    val rawWedges = o1.join(o2,
      Seq("x")).filter(
      col("dy1") < col("dy2") || (col("dy1") === col("dy2") && col("y1") < col("y2")))
      .select("x", "y1", "y2")
    // Bloom-prefilter the wedge stream BEFORE its exchange (r18, guide
    // §3.2): the wedge stream is the kernel's largest intermediate
    // (O(Σ out-deg²): 41M rows at sf0.1, 410M at sf1 — vs 1.2M edges)
    // and almost none of it closes (4.6% at sf0.1; BENCH_NOTES "r18
    // session 2", Pr2BloomProbe). A Bloom filter over the oriented
    // edge keys, built in one cheap pass over the already-cached edge
    // frame, drops the non-closing majority AT GENERATION TIME — inside
    // the wedge join's codegen stage, before the shuffle_hash exchange
    // writes them — so the closing join shuffles survivors only
    // (5.5% at 1% fpp; closing join 6.4 s → 1.8 s warm, full query
    // ~1.4× on the probe's interleaved medians). No false negatives and
    // a deterministic build (partial filters merge by bitwise OR), so
    // the join output is bit-identical with or without the filter; a
    // false positive only rides the shuffle and falls out of the join.
    // The count and the build are two bounded jobs over the cached
    // oriented frame at plan-construction time — the same bounded-
    // metadata discipline as q9's screen scans.
    val ne = oriented.count()
    val wedges = if (ne > 0 && ne <= BloomMaxItems) {
      val bf = oriented.select(xxhash64(col("x"), col("y")).as("h"))
        .stat.bloomFilter("h", ne, 0.01)
      val bfB = edges.sparkSession.sparkContext.broadcast(bf)
      val mightClose = udf((h: Long) => bfB.value.mightContainLong(h))
      rawWedges.filter(mightClose(xxhash64(col("y1"), col("y2"))))
    } else rawWedges
    // closing probe: SHUFFLE-HASH, never sort-merge — the build side is
    // the edge list (graph-sized, bounded per partition), the probe side
    // is the wedge stream (quadratic in out-degree). SMJ would SORT the
    // wedge stream: measured 16× wall-clock for 10× data on the sf1
    // sweep the moment `oriented` outgrew the AQE broadcast threshold,
    // because the n·log n sort + spill of 410M wedges swamps the probe.
    // The hint pins the categorical choice; at small SF the cost vs the
    // AQE broadcast plan is one wedge exchange (measured ≈ +1 s at
    // sf0.1 against −120 s at sf1).
    val tri = wedges.join(
      oriented.select(col("x").as("y1"), col("y").as("y2")).hint("shuffle_hash"),
      Seq("y1", "y2"))
      .select(col("x").as("a"), col("y1").as("b"), col("y2").as("c"))
    tri.select(explode(array(col("a"), col("b"), col("c"))).as("node_id"))
      .groupBy("node_id").agg(count(lit(1)).as("n_triangles"))
  }

  /** pr2: per-node triangle counts over the PART co-purchase graph —
    * parts are adjacent when they appear in the same order (≤ 7 lines
    * per order bounds pair generation per key at any corpus size).
    * Parts, not suppliers: the part catalog SCALES with the corpus
    * (2000·SF nodes), so the projection stays sparse (0.6% density,
    * max degree ~200 at sf0.1) the way a real co-purchase/link graph
    * is — the supplier universe is O(10³) against 10⁵·SF co-occurrence
    * events, which saturates into a near-complete graph whose Θ(n³)
    * triangle population (124M at sf0.1, 91% density — measured)
    * benchmarks the pathology of the fixture, not the kernel. */
  /** Co-occurrence edges of the PART graph via per-order SETS, not a
    * self-join (r17): collect_set is map-side combined — ONE orderkey
    * shuffle replaces the join's exchanges plus the pre-join distinct —
    * and pair generation is in-row arithmetic bounded by the
    * ≤7-lines-per-order cap (k² ≤ 49 per row). Measured ~2× on the
    * warm edge build at sf0.1 (1.3 s vs 2.7 s — the controlled
    * same-JVM pair of the retired Pr2Probe, BENCH_NOTES "Retired
    * probes"; cold numbers carry first-touch parquet/JIT bias); at
    * cluster scale the win is the removed join shuffle of the full
    * (ok, p) stream.
    *
    * NULL orderkeys are dropped explicitly: the old self-join (and the
    * DuckDB oracle's `a.ok = b.ok`) null-rejects, while groupBy would
    * pool all NULL-key rows into ONE group and mint phantom edges
    * among their parts — latent on TPC-H fixtures, divergent on any
    * source with NULL keys (r17 review find). */
  private def coPurchaseEdges(t: Tables): DataFrame =
    t.lineitem
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("p"))
      .filter(col("ok").isNotNull && col("p").isNotNull)
      .groupBy("ok").agg(collect_set(col("p")).as("ps"))
      .select(explode(col("ps")).as("u"), col("ps"))
      .select(col("u"), explode(col("ps")).as("v"))
      .filter(col("u") < col("v"))
      .select("u", "v").distinct()

  def triangles(spark: SparkSession, dir: String): DataFrame =
    trianglesOf(coPurchaseEdges(Tables(spark, dir))).orderBy("node_id")

  val trianglesOracle: String =
    """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS s FROM lineitem),
      |e AS (SELECT DISTINCT a.s AS u, b.s AS v
      |      FROM li a JOIN li b ON a.ok = b.ok AND a.s < b.s),
      |deg AS (SELECT n, count(*) AS d
      |        FROM (SELECT u AS n FROM e UNION ALL SELECT v FROM e) GROUP BY 1),
      |o AS (
      |  SELECT CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.u < e.v) THEN e.u ELSE e.v END AS x,
      |         CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.u < e.v) THEN e.v ELSE e.u END AS y,
      |         CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.u < e.v) THEN dv.d ELSE du.d END AS dy
      |  FROM e JOIN deg du ON du.n = e.u JOIN deg dv ON dv.n = e.v),
      |tri AS (
      |  SELECT o1.x AS a, o1.y AS b, o2.y AS c
      |  FROM o o1
      |  JOIN o o2 ON o1.x = o2.x
      |            AND (o1.dy < o2.dy OR (o1.dy = o2.dy AND o1.y < o2.y))
      |  JOIN o o3 ON o3.x = o1.y AND o3.y = o2.y)
      |SELECT node_id, count(*) AS n_triangles FROM (
      |  SELECT a AS node_id FROM tri
      |  UNION ALL SELECT b FROM tri
      |  UNION ALL SELECT c FROM tri)
      |GROUP BY 1 ORDER BY node_id""".stripMargin

  def queries: Seq[QueryDef] = Seq(
    QueryDef.sql("pr1_pagerank", pageRankOracle)(pageRank),
    QueryDef.sql("pr2_triangles", trianglesOracle)(triangles))
}
