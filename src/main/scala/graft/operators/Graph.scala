package graft.operators

import scala.util.Try
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.sources.Tables

/** Graph analytics over the part co-order graph (keys
  * `graph_triangles`, `graph_pagerank`) — the relationship tier a
  * curation pipeline needs once documents/users/parts stop being
  * independent rows: "which items co-occur", "which nodes anchor the
  * co-occurrence structure".
  *
  * The graph: parts are nodes; an undirected edge joins two parts
  * that appear in the SAME order (lineitem self-join on l_orderkey,
  * distinct pairs). This is the classic market-basket projection of a
  * bipartite order×part table (reference analogue: the SQL-curated
  * reporting zone of scripts/sql/ — aggregate views over the L2
  * star schema; the graph ops are the same star schema viewed as a
  * co-occurrence structure).
  *
  * Scale design (100 TB):
  *
  *  - Edge build: one self-join shuffled on l_orderkey (the natural
  *    key both sides already arrive clustered by) + one distinct.
  *    Per-order fanout is C(items,2) with items ≤ 13 at any scale
  *    (order size is domain-bounded, not corpus-bounded), so the
  *    explosion factor is a small constant, never quadratic in the
  *    table.
  *  - Triangle counting uses DEGREE ORIENTATION (the MapReduce
  *    triangle recipe of Suri & Vassilvitskii's "Counting triangles
  *    and the curse of the last reducer", WWW'11): orient every edge
  *    from its (degree, id)-smaller endpoint to the larger one. Every
  *    node's OUT-degree is then O(√m) regardless of its raw degree —
  *    the wedge join (oriented ⋈ oriented on the common source)
  *    generates Σ outdeg² = O(m^1.5) candidates worst-case instead of
  *    the Σ deg² blow-up a hub node causes unoriented, which is the
  *    difference between a finishing job and a stuck last reducer on
  *    a power-law graph.
  *  - PageRank runs in FIXED-POINT integer arithmetic (rank mass in
  *    units of 1e-12): Long sums are exact and order-independent, so
  *    the result is bit-identical on any partitioning, any engine,
  *    any reduction order — a float PageRank drifts in the last ulp
  *    under Spark's nondeterministic reduce order and can't be
  *    hash-checked. Each of the `Iters` iterations is ONE shuffle
  *    (contributions grouped by dst); the rank vector is one Long per
  *    node — 8 bytes × nodes of state, never corpus-sized.
  *
  * Determinism: all counts/ranks are exact integers; the only
  * doubles are final presentation divisions of exact integers
  * (correctly rounded, engine-identical).
  */
object Graph {

  /** Report rows: top-K nodes per report. */
  val TopK = 10

  /** PageRank iterations (fixed — the oracle unrolls them). */
  val Iters = 5

  /** Rank mass scale: 1.0 == 1e12 units. Σ over ≤ 2^31 nodes stays
    * far inside Long. */
  val One: Long = 1000000000000L

  /** Co-order part pairs (u < v), one row per qualifying lineitem
    * PAIR — the exact multiset the classic self-join
    * (a ⋈ b ON a.ok = b.ok AND a.pk < b.pk) produces, generated in
    * ONE pass (r20 optimization, guide §2.3/§2.4): group the order's
    * parts into a sorted array and emit every in-order pair with
    * strictly increasing values. The self-join form scanned lineitem
    * twice and shuffled BOTH sides on l_orderkey; this scans once and
    * shuffles once, with the same bounded per-order fanout (order
    * size is domain-bounded, so the pair array is a small constant
    * per group — never corpus-sized). Multiplicity is preserved: for
    * part values x < y appearing cx and cy times in one order, the
    * sorted-array index pairs with distinct values number exactly
    * cx·cy, the join's count. */
  private def coOrderPairs(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
    li.groupBy(col("ok")).agg(sort_array(collect_list(col("pk"))).as("ps"))
      .select(explode(flatten(transform(col("ps"), (x, i) =>
        transform(slice(col("ps"), i + lit(2), size(col("ps"))), y =>
          struct(x.as("u"), y.as("v")))))).as("e"))
      .filter(col("e.u") < col("e.v"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
  }

  /** Distinct undirected co-order edges (u < v), one row per pair. */
  def coOrderEdges(spark: SparkSession, dir: String): DataFrame =
    coOrderPairs(spark, dir).distinct()

  /** Stage `df` to scratch parquet and return a scan over it — the
    * pairClusters precedent: multi-branch consumers re-read a small
    * materialization instead of re-dragging the build subtree through
    * every branch, and nothing pins the session CacheManager. */
  // reused staging (Scratch.stageReuse): every graph key stages 2–4
  // multi-GB frames and the harnesses re-invoke keys in one JVM —
  // per-call fresh dirs accumulate dead materializations until exit
  private def staged(df: DataFrame, prefix: String): DataFrame =
    Scratch.stageReuse(df, prefix)

  /** [[staged]] plus the EXACT row count of the materialization, read
    * from a CollectMetrics observation on the write the staging
    * already pays for (r21 — the pairClusters pattern): the walk keys'
    * fast-path gates then decide with ZERO extra jobs, where even the
    * bounded probe costs an incremental take per key. */
  private def stagedCounted(df: DataFrame, prefix: String): (DataFrame, Long) = {
    val obs = org.apache.spark.sql.Observation()
    val path = Scratch.reuseDir(prefix)
    df.observe(obs, count(lit(1)).as("n")).write.mode("overwrite").parquet(path)
    val scan = df.sparkSession.read.schema(df.schema).parquet(path)
    (scan, obs.get("n").asInstanceOf[Long])
  }

  private def degrees(edges: DataFrame): DataFrame =
    edges.select(col("u").as("node"))
      .unionAll(edges.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))

  /** Key `graph_triangles`: per-node triangle counts (top-K) beside
    * the global triangle count, wedge count and clustering
    * coefficient. See object doc for the orientation argument. */
  def graphTriangles(spark: SparkSession, dir: String): DataFrame =
    trianglesOn(staged(coOrderEdges(spark, dir), "graft_graph_edges"))

  /** The (x, y, z) corner list, one row per triangle — orientation +
    * per-edge sorted-adjacency intersection, exposed unstaged so plan
    * specs can audit the join strategy.
    *
    * Why intersection instead of the literal wedge self-join: both
    * are the degree-oriented O(m^1.5) algorithm (total work = wedge
    * count either way), but the self-join SHUFFLES one row per wedge
    * (41M rows at sf0.1) where this form shuffles one adjacency
    * array per node plus two m-row joins and intersects in-memory —
    * the same bytes asymptotically (Σ per-edge array payload is the
    * wedge count), paid as array columns riding an m-row join
    * instead of 30× more skinny rows through the exchange + a second
    * 41M-row semi-join probe. The triangle (s→d, s→w, d→w) is found
    * exactly once, at its pivot edge (s, d): w is a common
    * out-neighbor of s and d; at (s, w) the third corner d is not an
    * out-neighbor of w, and at (d, w) s is not an out-neighbor of
    * either — no dedup pass needed. */
  def triangleCorners(edges: DataFrame, degOpt: Option[DataFrame] = None,
                      stagePrefix: String = "graft_graph"): DataFrame = {
    // callers that already computed degrees(edges) pass it in (r20
    // optimization): the orientation join re-reads the SAME aggregate
    // the report side needs, so deriving it twice paid one extra
    // edge scan + aggregation per key
    val deg = degOpt.getOrElse(degrees(edges))
    // orient u→v when (deg(u), u) < (deg(v), v): out-degree O(√m) —
    // adjacency arrays are √m-bounded no matter how hot the hub
    val du = deg.select(col("node").as("u"), col("deg").as("du"))
    val dv = deg.select(col("node").as("v"), col("deg").as("dv"))
    val oriented = edges.join(du, "u").join(dv, "v")
      .select(
        when(col("du") < col("dv") ||
             (col("du") === col("dv") && col("u") < col("v")),
          struct(col("u").as("s"), col("v").as("d")))
          .otherwise(struct(col("v").as("s"), col("u").as("d")))
          .as("e"))
      .select(col("e.s").as("s"), col("e.d").as("d"))
    // staged: the adjacency build and both join probes below re-read
    // one materialization instead of recomputing the orientation.
    // Repartitioned to the session's shuffle width BEFORE the write
    // (r20 optimization, guide §2.2/§6.1): AQE coalesces the tiny
    // orientation shuffle to a handful of output files, and the
    // downstream scan — which carries the CORNER ENUMERATION, the
    // heaviest compute of the triangle keys — then runs at file-count
    // parallelism (3 tasks on a 32-core session in the r20 profile,
    // 2.3 s of a 6.4 s key). The explicit partition count pins the
    // exchange against AQE coalescing; it is the session's own
    // shuffle-partition knob, so it scales with the deployment rather
    // than hard-coding the local core count.
    val shufP = edges.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val or2 = staged(oriented.repartition(shufP, col("s")), s"${stagePrefix}_oriented")
    // adjacency STAGED (r21, VERDICT item 2): both probe joins below
    // consume it, and without a materialization each broadcast side
    // re-ran the whole collect_list aggregate over the oriented scan
    // (two ObjectHashAggregate+Exchange subtrees in the r20
    // graph_edge_jaccard plan). One node-sized write, two cheap scans.
    val adj = staged(or2.groupBy(col("s").as("node"))
      .agg(sort_array(collect_list(col("d"))).as("nbrs")),
      s"${stagePrefix}_adj")
    // left joins: a sink node (no out-edges) has no adjacency row —
    // its edges close no triangle, so an empty array is correct
    val empty = array().cast("array<bigint>")
    or2
      .join(adj.select(col("node").as("s"), col("nbrs").as("sn")), Seq("s"), "left")
      .join(adj.select(col("node").as("d"), col("nbrs").as("dn")), Seq("d"), "left")
      .select(col("s").as("x"), col("d").as("y"),
        explode(array_intersect(coalesce(col("sn"), empty),
                                coalesce(col("dn"), empty))).as("z"))
  }

  /** Generic form over any distinct undirected (u, v) edge list with
    * u ≠ v, each pair present once in either orientation. */
  def trianglesOn(edges: DataFrame): DataFrame = {
    // deg STAGED (r21): three consumers (both orientation joins inside
    // triangleCorners and the totals agg) each re-ran the two-scan
    // union + aggregate; one node-sized write serves all three
    val deg = staged(degrees(edges), "graft_tri_deg")
    // corners UNSTAGED (r21): the corner list was materialized only
    // because TWO branches read it (per-node counts + the global
    // count) — but the global count derives exactly from the per-node
    // counts (every triangle contributes its 3 corners, so
    // Σ triangles div 3 == corner rows div 3 == the triangle count).
    // The corner pass now streams ONCE into the explode+groupBy (the
    // edgeJaccardOn treatment) and only the NODE-sized per-node frame
    // is staged for its two report consumers — the triangle-list
    // parquet write, this key's heaviest job, is gone.
    val perNode = staged(
      triangleCorners(edges, Some(deg))
        .select(explode(array(col("x"), col("y"), col("z"))).as("node"))
        .groupBy("node").agg(count(lit(1)).as("triangles")),
      "graft_tri_pernode")
    // 1-row global summary (bounded): total triangles, wedge count
    // Σ deg·(deg−1)/2 (exact ints), edges, nodes
    val totals = perNode
      .agg(expr("coalesce(sum(triangles), CAST(0 AS BIGINT)) div 3")
        .as("total_triangles"))
      .crossJoin(deg.agg(
        count(lit(1)).as("n_nodes"),
        // integer `div`: the sums are even by handshake, and staying
        // in Long avoids the >2^53 double round-trip a / would take
        expr("sum(deg * (deg - 1)) div 2").as("n_wedges"),
        expr("sum(deg) div 2").as("n_edges")))
    val top = perNode.orderBy(col("triangles").desc, col("node")).limit(TopK)
    // bounded single-partition window: TopK rows by construction
    // (lit(0) declares the intentional one-partition layout)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(0)).orderBy(col("triangles").desc, col("node"))
    top.crossJoin(broadcast(totals))
      .withColumn("rank", row_number().over(w).cast("int"))
      .select(col("rank"), col("node").as("p_partkey"), col("triangles"),
        col("total_triangles"), col("n_wedges"), col("n_edges"), col("n_nodes"),
        // global clustering coefficient: one exact-int/exact-int
        // division, correctly rounded → engine-identical
        (col("total_triangles").cast("double") * 3.0 /
          col("n_wedges").cast("double")).as("clustering"))
  }

  val graphTrianglesOracleSql: String =
    s"""WITH edges AS (
       |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
       |  FROM lineitem a JOIN lineitem b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |), deg AS (
       |  SELECT node, COUNT(*) AS deg FROM (
       |    SELECT u AS node FROM edges UNION ALL SELECT v FROM edges
       |  ) GROUP BY 1
       |), oriented AS (
       |  SELECT CASE WHEN (du.deg, e.u) < (dv.deg, e.v) THEN e.u ELSE e.v END AS s,
       |         CASE WHEN (du.deg, e.u) < (dv.deg, e.v) THEN e.v ELSE e.u END AS d
       |  FROM edges e
       |  JOIN deg du ON du.node = e.u
       |  JOIN deg dv ON dv.node = e.v
       |), tris AS (
       |  SELECT e1.s AS x, e1.d AS y, e2.d AS z
       |  FROM oriented e1 JOIN oriented e2
       |    ON e1.s = e2.s AND e1.d < e2.d
       |  WHERE EXISTS (SELECT 1 FROM oriented c
       |    WHERE LEAST(c.s, c.d) = e1.d AND GREATEST(c.s, c.d) = e2.d)
       |), per_node AS (
       |  SELECT node, COUNT(*) AS triangles FROM (
       |    SELECT x AS node FROM tris
       |    UNION ALL SELECT y FROM tris
       |    UNION ALL SELECT z FROM tris
       |  ) GROUP BY 1
       |), totals AS (
       |  SELECT (SELECT COUNT(*) FROM tris) AS total_triangles,
       |    (SELECT COUNT(*) FROM deg) AS n_nodes,
       |    (SELECT CAST(SUM(deg * (deg - 1)) // 2 AS BIGINT) FROM deg) AS n_wedges,
       |    (SELECT CAST(SUM(deg) // 2 AS BIGINT) FROM deg) AS n_edges
       |), top AS (
       |  SELECT node, triangles,
       |    ROW_NUMBER() OVER (ORDER BY triangles DESC, node) AS rank
       |  FROM per_node ORDER BY triangles DESC, node LIMIT $TopK
       |)
       |SELECT CAST(t.rank AS INTEGER) AS rank, t.node AS p_partkey, t.triangles,
       |  s.total_triangles, s.n_wedges, s.n_edges, s.n_nodes,
       |  CAST(s.total_triangles AS DOUBLE) * 3.0 / CAST(s.n_wedges AS DOUBLE)
       |    AS clustering
       |FROM top t CROSS JOIN totals s""".stripMargin

  /** Key `graph_edge_jaccard`: neighborhood similarity per EDGE — the
    * link-prediction / "bought-together" score. For an edge (u, v),
    * Jaccard = |N(u)∩N(v)| / |N(u)∪N(v)| over the OTHER neighbors
    * (N(u)\{v}, N(v)\{u}): the intersection count is exactly the
    * number of triangles the edge closes, so the degree-oriented
    * corner pass computes it without ever materializing hub
    * neighborhoods — |N(u)∩N(v)| per edge = corner rows exploded 3×
    * and counted, |union| = deg(u)+deg(v)−2−common. Report = top-K
    * edges by (jaccard, u, v), exact-int/exact-int division. */
  def graphEdgeJaccard(spark: SparkSession, dir: String): DataFrame =
    edgeJaccardOn(staged(coOrderEdges(spark, dir), "graft_ej_edges"))

  def edgeJaccardOn(edges: DataFrame, topK: Int = TopK): DataFrame = {
    // deg STAGED (r21, VERDICT item 2): FOUR consumers (both
    // orientation joins inside triangleCorners, du and dv below) each
    // re-ran the two-scan union + aggregate — the r20 plan carried two
    // whole broadcast deg subtrees in the report alone. One node-sized
    // write serves all four as cheap parquet scans.
    val deg = staged(degrees(edges), "graft_ej_deg")
    // NOT staged (r20 optimization): unlike [[trianglesOn]] — where the
    // corner frame feeds two report branches — the corners here have
    // exactly ONE consumer (the triEdges aggregate), so materializing
    // them bought nothing and paid a full corner-list parquet write
    // (the single biggest job of this key's profile). The corner pass
    // streams straight into the explode+groupBy.
    val corners = triangleCorners(edges, Some(deg), "graft_ej")
    // the 3 edges of each triangle, normalized u < v
    val triEdges = corners.select(
        explode(array(
          struct(least(col("x"), col("y")).as("u"), greatest(col("x"), col("y")).as("v")),
          struct(least(col("x"), col("z")).as("u"), greatest(col("x"), col("z")).as("v")),
          struct(least(col("y"), col("z")).as("u"), greatest(col("y"), col("z")).as("v"))))
          .as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
      .groupBy("u", "v").agg(count(lit(1)).as("common"))
    val du = deg.select(col("node").as("u"), col("deg").as("deg_u"))
    val dv = deg.select(col("node").as("v"), col("deg").as("deg_v"))
    val scored = edges
      .join(triEdges, Seq("u", "v"), "left")
      .na.fill(0L, Seq("common"))
      .join(du, "u").join(dv, "v")
      .withColumn("union_size", col("deg_u") + col("deg_v") - 2 - col("common"))
      .withColumn("jaccard",
        when(col("union_size") === 0, lit(0.0))
          .otherwise(col("common").cast("double") / col("union_size").cast("double")))
    val top = scored
      .orderBy(col("jaccard").desc, col("u"), col("v")).limit(topK)
    // bounded single-partition window: topK rows by construction
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(0)).orderBy(col("jaccard").desc, col("u"), col("v"))
    top.withColumn("rank", row_number().over(w).cast("int"))
      .select(col("rank"), col("u"), col("v"), col("common"),
        col("deg_u"), col("deg_v"), col("jaccard"))
  }

  val graphEdgeJaccardOracleSql: String =
    s"""WITH edges AS (
       |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
       |  FROM lineitem a JOIN lineitem b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |), deg AS (
       |  SELECT node, COUNT(*) AS deg FROM (
       |    SELECT u AS node FROM edges UNION ALL SELECT v FROM edges
       |  ) GROUP BY 1
       |), oriented AS (
       |  SELECT CASE WHEN (du.deg, e.u) < (dv.deg, e.v) THEN e.u ELSE e.v END AS s,
       |         CASE WHEN (du.deg, e.u) < (dv.deg, e.v) THEN e.v ELSE e.u END AS d
       |  FROM edges e
       |  JOIN deg du ON du.node = e.u
       |  JOIN deg dv ON dv.node = e.v
       |), tris AS (
       |  SELECT e1.s AS x, e1.d AS y, e2.d AS z
       |  FROM oriented e1 JOIN oriented e2
       |    ON e1.s = e2.s AND e1.d < e2.d
       |  WHERE EXISTS (SELECT 1 FROM oriented c
       |    WHERE LEAST(c.s, c.d) = e1.d AND GREATEST(c.s, c.d) = e2.d)
       |), tri_edges AS (
       |  SELECT u, v, COUNT(*) AS common FROM (
       |    SELECT LEAST(x, y) AS u, GREATEST(x, y) AS v FROM tris
       |    UNION ALL SELECT LEAST(x, z), GREATEST(x, z) FROM tris
       |    UNION ALL SELECT LEAST(y, z), GREATEST(y, z) FROM tris
       |  ) GROUP BY 1, 2
       |), scored AS (
       |  SELECT e.u, e.v, COALESCE(t.common, 0) AS common,
       |    du.deg AS deg_u, dv.deg AS deg_v,
       |    du.deg + dv.deg - 2 - COALESCE(t.common, 0) AS union_size
       |  FROM edges e
       |  LEFT JOIN tri_edges t ON t.u = e.u AND t.v = e.v
       |  JOIN deg du ON du.node = e.u
       |  JOIN deg dv ON dv.node = e.v
       |), ranked AS (
       |  SELECT u, v, common, deg_u, deg_v,
       |    CASE WHEN union_size = 0 THEN 0.0
       |         ELSE CAST(common AS DOUBLE) / CAST(union_size AS DOUBLE) END AS jaccard
       |  FROM scored
       |)
       |SELECT CAST(ROW_NUMBER() OVER (ORDER BY jaccard DESC, u, v) AS INTEGER) AS rank,
       |  u, v, common, deg_u, deg_v, jaccard
       |FROM ranked ORDER BY jaccard DESC, u, v LIMIT $TopK""".stripMargin

  /** Key `graph_pagerank`: `Iters` fixed-point PageRank iterations
    * over the co-order graph, top-K nodes by final rank. Exact
    * integer arithmetic throughout (see object doc); damping 0.85 as
    * the rational 85/100, teleport mass (15/100)·One div N. */
  def graphPagerank(spark: SparkSession, dir: String): DataFrame = {
    val (e, n) = stagedCounted(coOrderEdges(spark, dir), "graft_pr_edges")
    pagerankOn(e, knownEdges = Some(n))
  }

  /** Generic form over any distinct undirected (u, v) edge list (see
    * [[trianglesOn]] for the contract). The rank walk is EXACT-INTEGER
    * arithmetic (teleport + 85·Σ(rank div deg) div 100 in fixed-point
    * units), so every tier is bit-identical: integer sums are
    * order-independent and every op (Long division, multiply, add) is
    * the one the SQL `div` plan runs. GraphSpec pins the three tiers
    * row-identical. */
  def pagerankOn(edges: DataFrame, iters: Int = Iters, topK: Int = TopK,
                 knownEdges: Option[Long] = None): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    // deg is re-read by every loop iteration — staged once so each
    // reference is a node-count parquet scan, not the edge agg. Its
    // count is the node tier's decision AND the loop's N (the BPE-winner
    // bounded-collect precedent), so above the edge cap it costs no job
    // the loop did not already pay
    lazy val deg = staged(degrees(edges), "graft_pr_deg")
    lazy val n = deg.count()
    val src = GraphExec.source(edges, knownEdges, cap =>
      if (n <= cap) Some(deg.select(col("node").cast("long"), col("deg").cast("long"))
        .as[(Long, Long)].collect())
      else None)
    if (src.isDefined) return src.get.run(pagerankWalk(_, iters, topK))
    // symmetric directed view: every undirected edge both ways
    val arcs = edges.select(col("u").as("src"), col("v").as("dst"))
      .unionAll(edges.select(col("v").as("src"), col("u").as("dst")))
    // (r20 note: an attempted rewrite that pre-joined dst-degree onto
    // a STAGED arc frame measured strictly slower — the staging write
    // of the m-row arc list cost more than the five deg joins it
    // removed, because the per-iteration deg broadcast is an
    // identical exchange every round and ReuseExchange builds it
    // once. Left as-is deliberately.)
    val teleport = 15L * One / (100L * n)
    // state: (node, rank, deg) — 3 longs per node, 24 B × nodes.
    // Keeping deg on the rank row makes each iteration a single
    // arcs⋈ranks join. The Iters-deep plan is linear (each frame
    // referenced exactly once downstream), evaluated by ONE action at
    // the end — no checkpointing needed at this depth (contrast
    // pairClusters, whose 3-way self-reference grows 3^iters).
    var ranks = deg.select(col("node"), lit(One / n).as("rank"), col("deg"))
    for (_ <- 1 to iters) {
      // broadcast on purpose (r20 note): a merge/shuffle-hash hint
      // here measured ~1.3× SLOWER — AQE coalesces the node-sized
      // rank shuffle to ~1 partition and the m-row side with it,
      // serializing every iteration; the broadcast plan keeps the
      // m-row scan at file parallelism and the rank broadcast is the
      // node-sized state a PageRank round genuinely ships.
      val contribs = arcs.join(ranks, col("src") === col("node"))
        .select(col("dst"), expr("rank div deg").as("contrib"))
      ranks = contribs.groupBy(col("dst").as("node"))
        .agg(sum(col("contrib")).as("s"))
        .join(deg, "node")
        .select(col("node"),
          (lit(teleport) + expr("85 * s div 100")).as("rank"), col("deg"))
    }
    // TakeOrdered: per-partition heaps + a K-row driver merge
    val top = ranks.orderBy(col("rank").desc, col("node")).limit(topK)
    // bounded single-partition window: topK rows by construction
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(0)).orderBy(col("rank").desc, col("node"))
    top.crossJoin(broadcast(
        deg.agg(count(lit(1)).as("n_nodes"), sum(col("deg")).as("n_arcs"))))
      .withColumn("rnk", row_number().over(w).cast("int"))
      .select(col("rnk").as("rank"), col("node").as("p_partkey"),
        col("rank").as("rank_units"),
        // exact Long < 2^53 → double conversion is exact
        (col("rank").cast("double") / lit(One.toDouble)).as("pagerank"),
        col("deg"), col("n_nodes"), col("n_arcs"))
  }

  /** The rank walk on a kernel edge source: each round spreads every
    * node's `rank div deg` share to its neighbors as exact Long sums. */
  private def pagerankWalk(src: GraphExec.EdgeSource, iters: Int, topK: Int): DataFrame = {
    val (ids, deg) = (src.nodes, src.degree)
    val n = ids.length
    val teleport = 15L * One / (100L * n)
    var rank = Array.fill(n)(One / n)
    (1 to iters).foreach { _ =>
      val shares = Array.tabulate(n)(i => rank(i) / deg(i))
      rank = src.round(GraphExec.Spread, shares).map(s => teleport + 85L * s / 100L)
    }
    val top = ids.indices.sortBy(i => (-rank(i), ids(i))).take(topK)
    val spark = src.spark
    import spark.implicits._
    top.zipWithIndex.map { case (i, r) =>
      (r + 1, ids(i), rank(i), rank(i).toDouble / One.toDouble, deg(i), n.toLong, deg.sum)
    }.toDF("rank", "p_partkey", "rank_units", "pagerank", "deg", "n_nodes", "n_arcs")
  }

  /** Minimum co-occurrence count for a SUPPORTED edge — the
    * market-basket support threshold that turns the (connected,
    * noise-dense) raw co-order graph into meaningful product
    * families. */
  val MinSupport = 2

  /** Key `graph_components`: connected components over the SUPPORTED
    * co-order graph (pairs co-ordered ≥ [[MinSupport]] times) — the
    * product-family resolution. Components come from the shared
    * pointer-jumping min-label propagation (`Dedup.pairClusters`,
    * O(log diameter) rounds, checkpoint-truncated lineage); the
    * report is the top-K component roster (size, member span) beside
    * the 1-row corpus summary (components, clustered nodes, supported
    * edges). Support counting is one (u,v)-keyed aggregate over the
    * same bounded per-order fanout as [[coOrderEdges]]. */
  def graphComponents(spark: SparkSession, dir: String): DataFrame = {
    // staged ONCE (r20 optimization): the clustering input and the
    // n_edges total below both read this materialization — the
    // previous form re-ran the whole pair-generation aggregate a
    // second time just to count supported edges
    val supported = staged(supportedEdges(spark, dir), "graft_comp_edges")
    val labels = Dedup.pairClusters(
      supported.select(col("u").as("doc_a"), col("v").as("doc_b")))
    val comps = labels.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("size"),
        min(col("doc_id")).as("min_node"), max(col("doc_id")).as("max_node"))
    val totals = comps.agg(
      count(lit(1)).as("n_components"),
      sum(col("size")).as("n_nodes"))
      .crossJoin(supported.agg(count(lit(1)).as("n_edges")))
    val top = comps.orderBy(col("size").desc, col("cluster_id")).limit(TopK)
    // bounded single-partition window: TopK rows by construction
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(0)).orderBy(col("size").desc, col("cluster_id"))
    top.crossJoin(broadcast(totals))
      .withColumn("rank", row_number().over(w).cast("int"))
      .select(col("rank"), col("cluster_id"), col("size"),
        col("min_node"), col("max_node"),
        col("n_components"), col("n_nodes"), col("n_edges"))
  }

  val graphComponentsOracleSql: String =
    s"""WITH RECURSIVE supported AS (
       |  SELECT a.l_partkey AS u, b.l_partkey AS v
       |  FROM lineitem a JOIN lineitem b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |  GROUP BY 1, 2
       |  HAVING COUNT(*) >= $MinSupport
       |), arcs AS (
       |  SELECT u AS a, v AS b FROM supported
       |  UNION SELECT v, u FROM supported
       |), reach AS (
       |  SELECT a, b FROM arcs
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN arcs e ON r.b = e.a
       |), labels AS (
       |  SELECT a AS node, LEAST(a, MIN(b)) AS cluster_id
       |  FROM reach GROUP BY a
       |), comps AS (
       |  SELECT cluster_id, COUNT(*) AS size,
       |    MIN(node) AS min_node, MAX(node) AS max_node
       |  FROM labels GROUP BY 1
       |), totals AS (
       |  SELECT (SELECT COUNT(*) FROM comps) AS n_components,
       |    (SELECT CAST(SUM(size) AS BIGINT) FROM comps) AS n_nodes,
       |    (SELECT COUNT(*) FROM supported) AS n_edges
       |), top AS (
       |  SELECT cluster_id, size, min_node, max_node,
       |    ROW_NUMBER() OVER (ORDER BY size DESC, cluster_id) AS rank
       |  FROM comps ORDER BY size DESC, cluster_id LIMIT $TopK
       |)
       |SELECT CAST(t.rank AS INTEGER) AS rank, t.cluster_id, t.size,
       |  t.min_node, t.max_node, s.n_components, s.n_nodes, s.n_edges
       |FROM top t CROSS JOIN totals s""".stripMargin

  /** The SUPPORTED co-order edge list (pairs co-ordered ≥
    * [[MinSupport]] times, u < v, one row per pair) —
    * [[graphComponents]]' substrate, shared by the k-core and
    * link-prediction keys. One (u,v)-keyed aggregate over the bounded
    * per-order fanout of [[coOrderEdges]]. */
  def supportedEdges(spark: SparkSession, dir: String): DataFrame =
    coOrderPairs(spark, dir)
      .groupBy(col("u"), col("v"))
      .agg(count(lit(1)).as("support"))
      .where(col("support") >= MinSupport)
      .select(col("u"), col("v"))

  private val supportedEdgesSql: String =
    s"""SELECT a.l_partkey AS u, b.l_partkey AS v
       |  FROM lineitem a JOIN lineitem b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |  GROUP BY 1, 2
       |  HAVING COUNT(*) >= $MinSupport""".stripMargin

  /** Core order for [[graphKcore]]. */
  val KcoreK = 3

  /** Peeling rounds the k-core ORACLE unrolls. The engine iterates to
    * the fixpoint; peeling is monotone, so once converged every
    * further unrolled round is the identity — the oracle matches iff
    * the driver graph converges within this many rounds (measured
    * depth at sf0.01: 8; fixed seed, so the margin is stable). */
  val KcorePeelRounds = 12

  /** Key `graph_kcore`: the k-core of the supported co-order graph —
    * the maximal subgraph where every node keeps ≥ k supported
    * co-purchase partners (Seidman's cohesion measure; the standard
    * "dense engagement region" cut for spam/bot filtering and
    * community seeding, and the graph analogue of the support cut
    * itself: [[graphComponents]] asks "what is connected", this asks
    * "what is ROBUSTLY connected"). Report = top-K core members by
    * within-core degree beside the 1-row core summary. */
  def graphKcore(spark: SparkSession, dir: String): DataFrame = {
    val (e, n) = stagedCounted(supportedEdges(spark, dir), "graft_kcore_edges")
    kcoreOn(e, oracleRoundBudget = Some(KcorePeelRounds), knownEdges = Some(n))
  }

  /** Generic k-core over a distinct undirected (u, v) edge list: the
    * [[GraphExec]] driver tier when the edges fit, else the loop.
    *
    * Distributed peeling (the loop): each round computes degrees (one keyed
    * aggregate over the live edges) and semi-joins the edge list
    * against the surviving nodes — removing EVERY sub-k node at once,
    * so rounds = peeling DEPTH (how many cascades the removals
    * trigger), not node count; real graphs converge in a handful of
    * rounds. State per round is the live edge list itself, lineage
    * truncated exactly as [[Dedup.pairClusters]] (each round's frame
    * feeds three consumers: the degree agg, both semi-join probes, and
    * the convergence count — unbroken lineage would re-expand 3^rounds).
    * Convergence = edge count unchanged (no edge removed ⇒ no degree
    * changed ⇒ fixpoint); the count runs on the just-materialized
    * blocks, not a recompute.
    *
    * `oracleRoundBudget`: the unrolled-round budget of a fixed-depth
    * SQL oracle (e.g. [[KcorePeelRounds]]). The engine always runs to
    * the true fixpoint; if set and convergence takes MORE rounds than
    * the oracle unrolls, the oracle is under-unrolled and a correctness
    * mismatch would otherwise surface with an inscrutable cause — so
    * we fail fast here with the real diagnosis instead. */
  def kcoreOn(edges: DataFrame, k: Int = KcoreK, topK: Int = TopK,
              oracleRoundBudget: Option[Int] = None,
              knownEdges: Option[Long] = None): DataFrame = {
    val src = GraphExec.collected(edges, knownEdges)
    if (src.isDefined) return src.get.run(kcoreWalk(_, k, topK, oracleRoundBudget))
    var alive = GraphExec.truncated(edges.select(col("u"), col("v")))
    // the probe overflowed, so the edge list is non-empty — no upfront
    // count needed. A known count seeds the loop, so a first round that
    // peels nothing converges at once (the kernel tiers' round count);
    // without one, n = -1 never equals a real count
    var n = knownEdges.getOrElse(-1L)
    var converged = false
    var rounds = 0
    while (!converged) {
      val survivors = degrees(alive).where(col("deg") >= k).select(col("node"))
      val next = GraphExec.truncated(alive
        .join(survivors.withColumnRenamed("node", "u"), Seq("u"), "left_semi")
        .join(survivors.withColumnRenamed("node", "v"), Seq("v"), "left_semi"))
      val n2 = next.count()
      converged = n2 == n
      alive = next; n = n2
      rounds += 1
    }
    requirePeelBudget(rounds, oracleRoundBudget)
    val coreDeg = degrees(alive)
    val totals = coreDeg.agg(count(lit(1)).as("n_core_nodes"))
      .crossJoin(alive.agg(count(lit(1)).as("n_core_edges")))
    val top = coreDeg.orderBy(col("deg").desc, col("node")).limit(topK)
    // bounded single-partition window: topK rows by construction
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(0)).orderBy(col("deg").desc, col("node"))
    top.crossJoin(broadcast(totals))
      .withColumn("rank", row_number().over(w).cast("int"))
      .select(col("rank"), col("node").as("p_partkey"), col("deg").as("core_deg"),
        col("n_core_nodes"), col("n_core_edges"))
  }

  /** `rounds` counts the final no-change confirming iteration too:
    * changing peels = rounds - 1, and the oracle only needs to unroll
    * the CHANGING rounds (further levels are the identity) — comparing
    * `rounds` itself aborted a graph converging in exactly `budget`
    * peels (r14 advice off-by-one). */
  private def requirePeelBudget(rounds: Int, budget: Option[Int]): Unit =
    budget.foreach { b =>
      require(rounds - 1 <= b,
        s"k-core peeling converged in $rounds rounds but the fixed-depth " +
          s"oracle only unrolls $b — raise KcorePeelRounds (the engine " +
          "result is correct; the ORACLE is under-unrolled and would " +
          "report a false mismatch)")
    }

  /** The synchronized peel on a kernel edge source, with the loop's
    * round semantics (every sub-k node leaves at once; a round that
    * peels nothing confirms the fixpoint), so its round count is the
    * loop's: each round counts every node's degree over the edges whose
    * endpoints are both still alive. */
  private def kcoreWalk(src: GraphExec.EdgeSource, k: Int, topK: Int,
                        budget: Option[Int]): DataFrame = {
    val ids = src.nodes
    val alive = Array.fill(ids.length)(1L)
    var deg = new Array[Long](ids.length)
    var rounds = 0
    var peeled = ids.nonEmpty
    while (peeled) {
      deg = src.round(GraphExec.Live, alive)
      rounds += 1
      peeled = false
      deg.indices.foreach { i =>
        if (alive(i) == 1L && deg(i) > 0L && deg(i) < k) { alive(i) = 0L; peeled = true }
      }
    }
    requirePeelBudget(rounds, budget)
    // the fixpoint round's degrees ARE the core degrees
    val core = deg.indices.filter(deg(_) > 0L)
    val top = core.sortBy(i => (-deg(i), ids(i))).take(topK)
    val spark = src.spark
    import spark.implicits._
    top.zipWithIndex.map { case (i, r) =>
      (r + 1, ids(i), deg(i), core.length.toLong, deg.sum / 2)
    }.toDF("rank", "p_partkey", "core_deg", "n_core_nodes", "n_core_edges")
  }

  val graphKcoreOracleSql: String = {
    // MATERIALIZED: each round references the previous level 3× (the
    // degree agg once, both semi-join probes once each) — plain CTEs
    // would inline 3^rounds copies of the edge build (the
    // sample_kcenter precedent)
    val rounds = (1 to KcorePeelRounds).map { i =>
      s"""d$i AS MATERIALIZED (
         |  SELECT node FROM (
         |    SELECT node, COUNT(*) AS c FROM (
         |      SELECT u AS node FROM a${i - 1} UNION ALL SELECT v FROM a${i - 1}
         |    ) GROUP BY 1
         |  ) WHERE c >= $KcoreK
         |), a$i AS MATERIALIZED (
         |  SELECT e.u, e.v FROM a${i - 1} e
         |  JOIN d$i s1 ON e.u = s1.node
         |  JOIN d$i s2 ON e.v = s2.node
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH a0 AS MATERIALIZED (
       |  $supportedEdgesSql
       |), $rounds, core_deg AS (
       |  SELECT node, COUNT(*) AS core_deg FROM (
       |    SELECT u AS node FROM a$KcorePeelRounds
       |    UNION ALL SELECT v FROM a$KcorePeelRounds
       |  ) GROUP BY 1
       |), totals AS (
       |  SELECT (SELECT COUNT(*) FROM core_deg) AS n_core_nodes,
       |    (SELECT COUNT(*) FROM a$KcorePeelRounds) AS n_core_edges
       |), top AS (
       |  SELECT node, core_deg,
       |    ROW_NUMBER() OVER (ORDER BY core_deg DESC, node) AS rank
       |  FROM core_deg ORDER BY core_deg DESC, node LIMIT $TopK
       |)
       |SELECT CAST(t.rank AS INTEGER) AS rank, t.node AS p_partkey,
       |  t.core_deg, s.n_core_nodes, s.n_core_edges
       |FROM top t CROSS JOIN totals s""".stripMargin
  }

  /** Synchronous label-propagation rounds (fixed — the oracle unrolls
    * them, the [[Iters]] precedent). The CONTRACT is "R synchronous
    * rounds", not convergence: sync LPA can 2-cycle on bipartite-ish
    * regions, so a fixpoint contract would be ill-defined — a fixed
    * round count is deterministic on any graph and both engines run
    * exactly the same R updates. */
  val LpaRounds = 4

  /** Key `graph_lpa`: label-propagation community detection over the
    * supported co-order graph — the COMMUNITY complement of the
    * structure tier ([[graphComponents]] asks "what is connected",
    * [[graphKcore]] "what is robustly connected", this asks "what
    * clusters together"): the domain/topic blocks a curation pipeline
    * feeds into mixture weighting and leakage-aware splits
    * (the near-dup analogue is [[Dedup.pairClusters]] one tier over).
    * Report = top-K communities by size beside the 1-row totals.
    *
    * Semantics (deterministic, engine-portable): labels start as node
    * ids; each of the [[LpaRounds]] SYNCHRONOUS rounds relabels every
    * node with the mode of its neighbors' previous-round labels, ties
    * broken by smallest label — counts are exact integers and the
    * (count DESC, label ASC) argmax is total, so the whole walk is
    * bit-reproducible (the Raghavan et al. 2007 algorithm with the
    * async/random parts replaced by the deterministic sync variant).
    *
    * Scale shape: under the edge cap the rounds run on the driver
    * ([[GraphExec]]); above it the directed edge frame is staged once
    * and each round is ONE m-row join against the node-sized label frame plus a
    * (node, label)-keyed count whose map-side partials collapse
    * duplicate neighbor labels, then a node-keyed argmax — per-round
    * shuffle is O(m) rows max, state is one label per node, and
    * lineage is checkpoint-truncated per round (the [[kcoreOn]]
    * discipline — each round's frame feeds the next round's join and
    * the final report; unbroken lineage re-expands per round). */
  def graphLpa(spark: SparkSession, dir: String): DataFrame = {
    val (e, n) = stagedCounted(supportedEdges(spark, dir), "graft_lpa_edges")
    lpaOn(e, knownEdges = Some(n))
  }

  /** Deterministic synchronous-LPA rounds on the collected edge source —
    * the semantics of the [[lpaLabels]] loop: labels start as node ids,
    * each round relabels every node with the (count DESC, label ASC)
    * argmax of its neighbors' previous-round labels (each neighbor
    * contributes once — the edge list is distinct pairs). The mode is
    * a per-node count, not a node-sized merge, so LPA has no node tier:
    * the neighbor labels of a node are sorted and the first longest run
    * wins. */
  private def lpaWalk(src: GraphExec.Collected, rounds: Int): DataFrame = {
    val (ids, n) = (src.nodes, src.nodes.length)
    // CSR adjacency: node i's neighbors are adj(off(i) until off(i + 1))
    val off = new Array[Int](n + 1)
    src.degree.indices.foreach(i => off(i + 1) = off(i) + src.degree(i).toInt)
    val adj = new Array[Int](off(n))
    val fill = off.clone()
    src.from.indices.foreach { e =>
      val (u, v) = (src.from(e), src.to(e))
      adj(fill(u)) = v; fill(u) += 1
      adj(fill(v)) = u; fill(v) += 1
    }
    val buf = new Array[Long](if (n == 0) 0 else src.degree.max.toInt)
    var labels = ids
    (1 to rounds).foreach { _ =>
      val prev = labels
      labels = Array.tabulate(n) { i =>
        val d = off(i + 1) - off(i)
        (0 until d).foreach(j => buf(j) = prev(adj(off(i) + j)))
        java.util.Arrays.sort(buf, 0, d)
        var (best, bestC, j) = (buf(0), 0, 0)
        while (j < d) {
          var e = j
          while (e < d && buf(e) == buf(j)) e += 1
          if (e - j > bestC) { best = buf(j); bestC = e - j }
          j = e
        }
        best
      }
    }
    val spark = src.spark
    import spark.implicits._
    ids.zip(labels).toSeq.toDF("node", "label")
  }

  /** The label-propagation core shared by the report key and the
    * modularity grader: [[LpaRounds]]-style synchronous rounds over a
    * distinct undirected edge list, returning the final (node, label)
    * frame (checkpoint-truncated — consumers branch off it freely).
    * `stagePrefix` scopes the directed-edge staging dir per OPERATOR
    * (the ivfIndex precedent): a shared prefix would let one
    * operator's restage invalidate the other's not-yet-consumed plan. */
  private[operators] def lpaLabels(edges: DataFrame, rounds: Int,
                                   stagePrefix: String,
                                   knownEdges: Option[Long] = None): DataFrame = {
    // under the edge cap the R synchronous rounds run on the driver over
    // the collected edges, skipping the directed-frame staging write and
    // the per-round join + two aggregates + checkpoint jobs
    val src = GraphExec.collected(edges, knownEdges)
    if (src.isDefined) return src.get.run(lpaWalk(_, rounds))
    val ed = Scratch.stageReuse(
      edges.select(col("u").as("s"), col("v").as("d"))
        .unionAll(edges.select(col("v").as("s"), col("u").as("d"))),
      stagePrefix)
    var labels = GraphExec.truncated(
      ed.select(col("s").as("node")).distinct()
        .select(col("node"), col("node").as("label")))
    (1 to rounds).foreach { _ =>
      val counts = ed
        .join(labels.withColumnRenamed("node", "d"), "d")
        .groupBy(col("s").as("node"), col("label"))
        .agg(count(lit(1)).as("c"))
      // argmax by (c DESC, label ASC) as ONE struct-min aggregate:
      // min(-c) = max c, then min label — no per-node window
      labels = GraphExec.truncated(counts
        .groupBy(col("node"))
        .agg(min(struct((-col("c")).as("nc"), col("label").as("lb"))).as("m"))
        .select(col("node"), col("m.lb").as("label")))
    }
    labels
  }

  def lpaOn(edges: DataFrame, rounds: Int = LpaRounds,
            topK: Int = TopK, knownEdges: Option[Long] = None): DataFrame = {
    val labels = lpaLabels(edges, rounds, "graft_lpa_directed", knownEdges)
    val comm = labels.groupBy(col("label")).agg(count(lit(1)).as("members"))
    val totals = comm.agg(count(lit(1)).as("n_communities"))
      .crossJoin(labels.agg(count(lit(1)).as("n_nodes")))
    val top = comm.orderBy(col("members").desc, col("label")).limit(topK)
    // bounded single-partition window: topK rows by construction
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(0)).orderBy(col("members").desc, col("label"))
    top.crossJoin(broadcast(totals))
      .withColumn("rank", row_number().over(w).cast("int"))
      .select(col("rank"), col("label").as("community"), col("members"),
        col("n_communities"), col("n_nodes"))
  }

  /** The LPA walk as a CTE prefix ending at `l<rounds>` — shared by
    * the community report and the modularity grader. MATERIALIZED per
    * round: each level is referenced by the next round's join (and
    * the last by multiple report branches) — the kcore-oracle
    * discipline against 2^rounds CTE inlining. */
  private def lpaOracleCtePrefix: String = {
    val rounds = (1 to LpaRounds).map { i =>
      s"""c$i AS MATERIALIZED (
         |  SELECT ed.s AS node, l.label, COUNT(*) AS c
         |  FROM ed JOIN l${i - 1} l ON ed.d = l.node
         |  GROUP BY 1, 2
         |), l$i AS MATERIALIZED (
         |  SELECT node, label FROM (
         |    SELECT node, label,
         |      ROW_NUMBER() OVER (PARTITION BY node ORDER BY c DESC, label) AS rk
         |    FROM c$i
         |  ) WHERE rk = 1
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH e0 AS MATERIALIZED (
       |  $supportedEdgesSql
       |), ed AS MATERIALIZED (
       |  SELECT u AS s, v AS d FROM e0 UNION ALL SELECT v, u FROM e0
       |), l0 AS MATERIALIZED (
       |  SELECT DISTINCT s AS node, s AS label FROM ed
       |), $rounds""".stripMargin
  }

  val graphLpaOracleSql: String =
    s"""$lpaOracleCtePrefix, comm AS (
       |  SELECT label, COUNT(*) AS members FROM l$LpaRounds GROUP BY label
       |), totals AS (
       |  SELECT (SELECT COUNT(*) FROM comm) AS n_communities,
       |    (SELECT COUNT(*) FROM l$LpaRounds) AS n_nodes
       |), top AS (
       |  SELECT label, members,
       |    ROW_NUMBER() OVER (ORDER BY members DESC, label) AS rank
       |  FROM comm ORDER BY members DESC, label LIMIT $TopK
       |)
       |SELECT CAST(t.rank AS INTEGER) AS rank, t.label AS community,
       |  t.members, s.n_communities, s.n_nodes
       |FROM top t CROSS JOIN totals s""".stripMargin

  /** Key `graph_modularity`: Newman modularity of the [[graphLpa]]
    * partition — the score that tells a curation pipeline whether the
    * LPA communities are real structure or noise (Q ≈ 0: no better
    * than random; Q ≳ 0.3: strong community structure), closing the
    * loop the LPA key opened: it emits communities, this grades them
    * (r14 verdict item 5).
    *
    * EXACT-INTEGER arithmetic (the graph_pagerank fixed-point
    * discipline): Q = Σ_c [ m_c/m − (D_c/2m)² ] has the common
    * denominator 4m², so `q_units` = Σ_c (4·m·m_c − D_c²) is an exact
    * BIGINT both engines agree on bit-for-bit (m = edge count, m_c =
    * intra-community edges, D_c = degree sum of community c), and
    * `modularity` = q_units/(4m²) is ONE correctly-rounded division
    * of exact integers. Headroom: 4m² fits a long to m ≈ 1.5e9 edges;
    * beyond that the units (not the method) need a wider scale.
    *
    * Shape: the LPA walk runs once ([[lpaLabels]], its own staging
    * prefix); grading is two m-row joins against the node-sized label
    * frame (intra-edge count: both endpoints' labels; degree mass:
    * degrees ⋈ labels), two label-keyed aggregates, and the house
    * top-K + 1-row-totals report. Report = top-K communities by
    * (members DESC, label ASC) with their members/intra_edges/
    * deg_sum, totals attached. */
  def graphModularity(spark: SparkSession, dir: String): DataFrame = {
    val (e, n) = stagedCounted(supportedEdges(spark, dir), "graft_mod_edges")
    modularityOn(e, knownEdges = Some(n))
  }

  def modularityOn(edges: DataFrame, rounds: Int = LpaRounds,
                   topK: Int = TopK, knownEdges: Option[Long] = None): DataFrame = {
    val labels = lpaLabels(edges, rounds, "graft_mod_directed", knownEdges)
    val intra = edges
      .join(labels.select(col("node").as("u"), col("label").as("lu")), "u")
      .join(labels.select(col("node").as("v"), col("label").as("lv")), "v")
      .where(col("lu") === col("lv"))
      .groupBy(col("lu").as("label")).agg(count(lit(1)).as("intra_edges"))
    val degMass = degrees(edges).join(labels, "node")
      .groupBy(col("label"))
      .agg(sum(col("deg")).as("deg_sum"), count(lit(1)).as("members"))
    // a community every neighbor out-voted can have ZERO intra edges
    // (each member's mode label lives elsewhere) — left join + 0
    val m = edges.agg(count(lit(1)).as("n_edges"))
    val comm = degMass.join(intra, Seq("label"), "left")
      .select(col("label"), col("members"),
        coalesce(col("intra_edges"), lit(0L)).as("intra_edges"), col("deg_sum"))
      .crossJoin(broadcast(m))
      .withColumn("contrib",
        lit(4L) * col("n_edges") * col("intra_edges")
          - col("deg_sum") * col("deg_sum"))
    val totals = comm.agg(count(lit(1)).as("n_communities"),
      sum(col("contrib")).as("q_units"))
    val top = comm.orderBy(col("members").desc, col("label")).limit(topK)
    // bounded single-partition window: topK rows by construction
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(0)).orderBy(col("members").desc, col("label"))
    top.crossJoin(broadcast(totals))
      .withColumn("rank", row_number().over(w).cast("int"))
      .select(col("rank"), col("label").as("community"), col("members"),
        col("intra_edges"), col("deg_sum"), col("n_communities"),
        col("n_edges"), col("q_units"),
        (col("q_units").cast("double") /
          (lit(4.0) * col("n_edges").cast("double") * col("n_edges").cast("double")))
          .as("modularity"))
  }

  /** Oracle: the shared LPA CTE prefix, then one aggregate pass over
    * the unrolled final labels — exact BIGINT units, one double
    * division at presentation. */
  val graphModularityOracleSql: String =
    s"""$lpaOracleCtePrefix, deg AS (
       |  SELECT node, COUNT(*) AS deg FROM (
       |    SELECT u AS node FROM e0 UNION ALL SELECT v FROM e0
       |  ) GROUP BY 1
       |), m AS (
       |  SELECT COUNT(*) AS n_edges FROM e0
       |), ds AS (
       |  SELECT l.label, CAST(SUM(d.deg) AS BIGINT) AS deg_sum,
       |    COUNT(*) AS members
       |  FROM deg d JOIN l$LpaRounds l ON d.node = l.node GROUP BY 1
       |), ie AS (
       |  SELECT lu.label, COUNT(*) AS intra_edges
       |  FROM e0 e
       |  JOIN l$LpaRounds lu ON e.u = lu.node
       |  JOIN l$LpaRounds lv ON e.v = lv.node
       |  WHERE lu.label = lv.label GROUP BY 1
       |), cc AS (
       |  SELECT ds.label, ds.members, COALESCE(ie.intra_edges, 0) AS intra_edges,
       |    ds.deg_sum, (SELECT n_edges FROM m) AS n_edges,
       |    4 * (SELECT n_edges FROM m) * COALESCE(ie.intra_edges, 0)
       |      - ds.deg_sum * ds.deg_sum AS contrib
       |  FROM ds LEFT JOIN ie ON ds.label = ie.label
       |), totals AS (
       |  SELECT COUNT(*) AS n_communities, CAST(SUM(contrib) AS BIGINT) AS q_units
       |  FROM cc
       |), top AS (
       |  SELECT label, members, intra_edges, deg_sum, n_edges,
       |    ROW_NUMBER() OVER (ORDER BY members DESC, label) AS rank
       |  FROM cc ORDER BY members DESC, label LIMIT $TopK
       |)
       |SELECT CAST(t.rank AS INTEGER) AS rank, t.label AS community, t.members,
       |  t.intra_edges, t.deg_sum, s.n_communities, t.n_edges, s.q_units,
       |  CAST(s.q_units AS DOUBLE)
       |    / ((4.0 * CAST(t.n_edges AS DOUBLE)) * CAST(t.n_edges AS DOUBLE))
       |    AS modularity
       |FROM top t CROSS JOIN totals s""".stripMargin

  /** Hub cap for [[graphLinkPredict]]: only CENTERS of degree ≤ cap
    * generate wedges. Part of the operator's contract, not an
    * approximation knob bolted on: common-neighbor evidence through a
    * hub is weak evidence (a part half the catalog co-orders with
    * predicts nothing — the same inverse-frequency insight Adamic/Adar
    * formalizes by down-weighting high-degree commons to ~0), and it
    * is exactly what bounds the wedge space: Σ_{deg≤D} deg² ≤ D·Σdeg =
    * O(D·m), where the uncapped form is Σ deg² — the last-reducer
    * blow-up degree orientation CANNOT fix here, because a pair's
    * common-neighbor count needs every wedge at every center, not one
    * canonical corner per triangle. The frequent-frame posting cap
    * (mm_frame_dedup) is the same cut one tier over. */
  val LinkHubCap = 10

  /** Key `graph_link_predict`: common-neighbor link prediction over
    * the supported co-order graph — for every NON-adjacent pair, the
    * number of shared (sub-hub) neighbors, top-K by evidence. The
    * "customers who bought these also bought…" candidate generator:
    * an edge that doesn't exist yet but whose endpoints share many
    * co-purchase partners. */
  def graphLinkPredict(spark: SparkSession, dir: String): DataFrame =
    linkPredictOn(staged(supportedEdges(spark, dir), "graft_lp_edges"))

  /** Generic form over a distinct undirected (u, v) edge list: wedge
    * enumeration at capped centers (one self-join of the capped arc
    * list on the center — O(cap·m) candidates), a (u,v)-keyed count,
    * one anti-join dropping already-adjacent pairs, TakeOrdered top-K. */
  def linkPredictOn(edges: DataFrame, cap: Int = LinkHubCap,
                    topK: Int = TopK): DataFrame = {
    // deg STAGED (r21): three consumers (the hub-cap filter join, du,
    // dv) each re-ran the two-scan union + aggregate
    val deg = staged(degrees(edges), "graft_lp_deg")
    val arcs = edges.select(col("u").as("center"), col("v").as("nbr"))
      .unionAll(edges.select(col("v").as("center"), col("u").as("nbr")))
    val capped = arcs.join(
      deg.where(col("deg") <= cap).select(col("node").as("center")), "center")
    val a = capped.select(col("center"), col("nbr").as("u"))
    val b = capped.select(col("center"), col("nbr").as("v"))
    val pairs = a.join(b, Seq("center")).where(col("u") < col("v"))
      .groupBy(col("u"), col("v")).agg(count(lit(1)).as("common_centers"))
      .join(edges, Seq("u", "v"), "left_anti")
    val du = deg.select(col("node").as("u"), col("deg").as("deg_u"))
    val dv = deg.select(col("node").as("v"), col("deg").as("deg_v"))
    val top = pairs.join(du, "u").join(dv, "v")
      .orderBy(col("common_centers").desc, col("u"), col("v")).limit(topK)
    // bounded single-partition window: topK rows by construction
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(0)).orderBy(col("common_centers").desc, col("u"), col("v"))
    top.withColumn("rank", row_number().over(w).cast("int"))
      .select(col("rank"), col("u"), col("v"), col("common_centers"),
        col("deg_u"), col("deg_v"))
  }

  val graphLinkPredictOracleSql: String =
    s"""WITH edges AS (
       |  $supportedEdgesSql
       |), deg AS (
       |  SELECT node, COUNT(*) AS deg FROM (
       |    SELECT u AS node FROM edges UNION ALL SELECT v FROM edges
       |  ) GROUP BY 1
       |), arcs AS (
       |  SELECT u AS center, v AS nbr FROM edges
       |  UNION ALL SELECT v, u FROM edges
       |), capped AS (
       |  SELECT a.center, a.nbr FROM arcs a
       |  JOIN deg d ON d.node = a.center AND d.deg <= $LinkHubCap
       |), pairs AS (
       |  SELECT a.nbr AS u, b.nbr AS v, COUNT(*) AS common_centers
       |  FROM capped a JOIN capped b
       |    ON a.center = b.center AND a.nbr < b.nbr
       |  GROUP BY 1, 2
       |), nonadj AS (
       |  SELECT p.* FROM pairs p
       |  WHERE NOT EXISTS (
       |    SELECT 1 FROM edges e WHERE e.u = p.u AND e.v = p.v)
       |), top AS (
       |  SELECT u, v, common_centers,
       |    ROW_NUMBER() OVER (ORDER BY common_centers DESC, u, v) AS rank
       |  FROM nonadj ORDER BY common_centers DESC, u, v LIMIT $TopK
       |)
       |SELECT CAST(t.rank AS INTEGER) AS rank, t.u, t.v, t.common_centers,
       |  du.deg AS deg_u, dv.deg AS deg_v
       |FROM top t
       |JOIN deg du ON du.node = t.u
       |JOIN deg dv ON dv.node = t.v""".stripMargin

  val graphPagerankOracleSql: String = {
    val iterCtes = (1 to Iters).map { i =>
      s"""r$i AS (
         |  SELECT c.dst AS node,
         |    (SELECT 15 * $One // (100 * COUNT(*)) FROM deg)
         |      + 85 * SUM(r.rank // r.deg) // 100 AS rank,
         |    ANY_VALUE(d.deg) AS deg
         |  FROM arcs c
         |  JOIN r${i - 1} r ON r.node = c.src
         |  JOIN deg d ON d.node = c.dst
         |  GROUP BY c.dst
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH edges AS (
       |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
       |  FROM lineitem a JOIN lineitem b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |), arcs AS (
       |  SELECT u AS src, v AS dst FROM edges
       |  UNION ALL SELECT v, u FROM edges
       |), deg AS (
       |  SELECT node, COUNT(*) AS deg FROM (
       |    SELECT u AS node FROM edges UNION ALL SELECT v FROM edges
       |  ) GROUP BY 1
       |), r0 AS (
       |  SELECT node, (SELECT $One // COUNT(*) FROM deg) AS rank, deg FROM deg
       |), $iterCtes, totals AS (
       |  SELECT COUNT(*) AS n_nodes, CAST(SUM(deg) AS BIGINT) AS n_arcs FROM deg
       |), top AS (
       |  SELECT node, rank, deg,
       |    ROW_NUMBER() OVER (ORDER BY rank DESC, node) AS rnk
       |  FROM r$Iters ORDER BY rank DESC, node LIMIT $TopK
       |)
       |SELECT CAST(t.rnk AS INTEGER) AS rank, t.node AS p_partkey,
       |  CAST(t.rank AS BIGINT) AS rank_units,
       |  CAST(t.rank AS DOUBLE) / ${One.toDouble} AS pagerank,
       |  t.deg, s.n_nodes, s.n_arcs
       |FROM top t CROSS JOIN totals s""".stripMargin
  }

  /** BFS sources: the [[BfsSeeds]] highest-degree nodes (deg DESC,
    * node ASC — total order, deterministic), the hubs distance-to-
    * structure questions start from. */
  val BfsSeeds = 5

  /** Synchronous BFS rounds the oracle unrolls. The driver graph's
    * reachable set converges at depth 8 from the hub seeds (measured
    * dist histogram tail: 3 nodes at 7, 1 at 8); nodes still
    * unreached after [[BfsRounds]] are the disconnected remainder the
    * report counts in `n_unreached`. */
  val BfsRounds = 8

  /** Key `graph_bfs`: multi-source breadth-first hop distance over
    * the supported co-order graph — the TRAVERSAL primitive the graph
    * tier was missing ([[graphComponents]] asks "what is connected",
    * this asks "HOW FAR is everything from the structural core"):
    * distance-to-hub distributions locate periphery items, bound
    * influence radii, and grade whether the graph is shallow
    * (hub-and-spoke) or deep (chained).
    *
    * Semantics (exact, engine-portable): seeds are the [[BfsSeeds]]
    * top-degree nodes at distance 0; each of [[BfsRounds]]
    * SYNCHRONOUS rounds relaxes one hop; `dist(v)` = hops to the
    * NEAREST seed (the min over sources — multi-source BFS). All
    * arithmetic is exact integers; the report is the per-distance
    * histogram (count, min/max node per level) with the reach totals
    * attached.
    *
    * Scale shape: under the [[GraphExec]] edge cap the walk runs the
    * min-fold on the driver tier; the DataFrame loop iterates
    * FRONTIER-ONLY — round i joins
    * the m-row edge frame against only the nodes discovered at round
    * i−1 and anti-joins the already-reached set, so per-round cost is
    * O(edges touched by the frontier), never O(reached) re-aggregated
    * (the textbook Pregel BFS); state is one (node, dist) row per
    * reached node, lineage checkpoint-truncated per round ([[lpaLabels]]
    * discipline). The oracle replays the equivalent min-fold form
    * (each level = min(dist) over the previous level ∪ its one-hop
    * expansion) — same layers, simpler SQL: a node's min dist IS its
    * first-discovery round. */
  def graphBfs(spark: SparkSession, dir: String): DataFrame = {
    val (e, n) = stagedCounted(supportedEdges(spark, dir), "graft_bfs_edges")
    bfsOn(e, knownEdges = Some(n))
  }

  def bfsOn(edges: DataFrame, rounds: Int = BfsRounds,
            nSeeds: Int = BfsSeeds,
            knownEdges: Option[Long] = None): DataFrame = {
    val src = GraphExec.collected(edges, knownEdges)
    if (src.isDefined) return src.get.run(bfsWalk(_, rounds, nSeeds))
    val ed = Scratch.stageReuse(
      edges.select(col("u").as("s"), col("v").as("d"))
        .unionAll(edges.select(col("v").as("s"), col("u").as("d"))),
      "graft_bfs_directed")
    // degree off the directed frame (COUNT per source == undirected
    // degree), byte-matching the oracle's deg CTE. STAGED (r21): the
    // seed TakeOrdered and the totals count both consume it; unstaged,
    // each re-ran the full directed-frame aggregate.
    val deg = Scratch.stageReuse(
      ed.groupBy(col("s").as("node")).agg(count(lit(1)).as("deg")),
      "graft_bfs_deg")
    // seed pick is a TakeOrdered (distributed heap), not a window
    val seeds = deg.orderBy(col("deg").desc, col("node")).limit(nSeeds)
      .select(col("node"))
    var reached = GraphExec.truncated(seeds.select(col("node"), lit(0L).as("dist")))
    var frontier = reached.select(col("node"))
    (1 to rounds).foreach { i =>
      val expand = ed.join(frontier.withColumnRenamed("node", "d"), "d")
        .select(col("s").as("node")).distinct()
      val fresh = GraphExec.truncated(
        expand.join(reached.select(col("node")), Seq("node"), "left_anti")
          .select(col("node"), lit(i.toLong).as("dist")))
      reached = GraphExec.truncated(reached.unionAll(fresh))
      frontier = fresh.select(col("node"))
    }
    val hist = reached.groupBy(col("dist"))
      .agg(count(lit(1)).as("nodes"),
        min(col("node")).as("min_node"), max(col("node")).as("max_node"))
    val totals = deg.agg(count(lit(1)).as("n_nodes"))
      .crossJoin(reached.agg(count(lit(1)).as("n_reached")))
      .select(col("n_nodes"), col("n_reached"),
        (col("n_nodes") - col("n_reached")).as("n_unreached"))
    hist.crossJoin(broadcast(totals))
      .select(col("dist"), col("nodes"), col("min_node"), col("max_node"),
        col("n_nodes"), col("n_reached"), col("n_unreached"))
  }

  /** The BFS walk on a kernel edge source, in the oracle's min-fold
    * form: each round every node takes min(own dist, min over neighbors
    * of their dist + 1) — a node's min dist IS its first-discovery
    * round, so the layers are the frontier loop's. */
  private def bfsWalk(src: GraphExec.EdgeSource, rounds: Int, nSeeds: Int): DataFrame = {
    val (ids, deg) = (src.nodes, src.degree)
    var dist = Array.fill(ids.length)(GraphExec.Unreached)
    ids.indices.sortBy(i => (-deg(i), ids(i))).take(nSeeds).foreach(dist(_) = 0L)
    (1 to rounds).foreach { _ =>
      val hop = src.round(GraphExec.Hop, dist)
      dist = Array.tabulate(ids.length)(i => math.min(dist(i), hop(i)))
    }
    // per-distance histogram + totals, all exact integers
    val reached = ids.indices.filter(dist(_) != GraphExec.Unreached)
    val (nNodes, nReached) = (ids.length.toLong, reached.length.toLong)
    val hist = reached.groupBy(dist(_)).toSeq.sortBy(_._1).map { case (d, is) =>
      (d, is.length.toLong, is.map(ids(_)).min, is.map(ids(_)).max,
        nNodes, nReached, nNodes - nReached)
    }
    val spark = src.spark
    import spark.implicits._
    hist.toDF("dist", "nodes", "min_node", "max_node", "n_nodes", "n_reached", "n_unreached")
  }

  /** Oracle: the min-fold BFS unrolled as [[BfsRounds]] MATERIALIZED
    * levels (each referenced by the next round's expansion — the
    * lpa/kcore discipline against 2^rounds inlining). */
  val graphBfsOracleSql: String = {
    val levels = (1 to BfsRounds).map { i =>
      s"""r$i AS MATERIALIZED (
         |  SELECT node, MIN(dist) AS dist FROM (
         |    SELECT node, dist FROM r${i - 1}
         |    UNION ALL
         |    SELECT ed.s AS node, r.dist + 1 AS dist
         |    FROM ed JOIN r${i - 1} r ON ed.d = r.node
         |  ) GROUP BY node
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH e0 AS MATERIALIZED (
       |  $supportedEdgesSql
       |), ed AS MATERIALIZED (
       |  SELECT u AS s, v AS d FROM e0 UNION ALL SELECT v, u FROM e0
       |), deg AS (
       |  SELECT s AS node, COUNT(*) AS deg FROM ed GROUP BY s
       |), seeds AS (
       |  SELECT node FROM (
       |    SELECT node, ROW_NUMBER() OVER (ORDER BY deg DESC, node) AS rk
       |    FROM deg) t
       |  WHERE rk <= $BfsSeeds
       |), r0 AS (
       |  SELECT node, CAST(0 AS BIGINT) AS dist FROM seeds
       |), $levels, totals AS (
       |  SELECT (SELECT COUNT(*) FROM deg) AS n_nodes,
       |    (SELECT COUNT(*) FROM r$BfsRounds) AS n_reached
       |)
       |SELECT h.dist, h.nodes, h.min_node, h.max_node,
       |  s.n_nodes, s.n_reached, s.n_nodes - s.n_reached AS n_unreached
       |FROM (
       |  SELECT dist, COUNT(*) AS nodes, MIN(node) AS min_node,
       |    MAX(node) AS max_node
       |  FROM r$BfsRounds GROUP BY dist) h
       |CROSS JOIN totals s""".stripMargin
  }
}

/** Where the iterative graph walks run. A walk (PageRank, k-core, LPA,
  * BFS) writes its round once, as a [[GraphExec.Kernel]]: a per-edge
  * send into a node-indexed `Long` accumulator, merged exactly (sum or
  * min — associative and commutative, so any partitioning and any
  * reduction order give the same array), then a per-node apply on the
  * driver. A walk runs on the first tier the graph fits, in order:
  *
  *  1. driver ([[collected]]): at most `edgeCap` edges are collected
  *     once and index-compacted ([[Collected]]); every round runs in
  *     the driver JVM — zero jobs per round;
  *  2. node tier ([[source]], PageRank only): at most `nodeCap` nodes —
  *     the node-indexed state fits the driver and a broadcast, so a
  *     round is ONE mapPartitions pass over the persisted index pairs,
  *     tree-merged ([[Staged]]) — one job per round, where the loop
  *     pays a shuffle, a broadcast build and a join. PageRank's loop
  *     already counts the nodes, so its decision is free. k-core's and
  *     BFS's loops do not: a node-count job in front of them would be
  *     pure cost on every graph above the node cap, so they have no
  *     node tier;
  *  3. otherwise the walk's DataFrame loop.
  *
  * The caps are `spark.graft.graph.localEdgeThreshold` (default 1M;
  * also `Dedup.pairClusters`' union-find gate) and
  * `spark.graft.graph.localNodeThreshold` (default 500k, which keeps
  * a round's per-partition accumulator at ≤ 4 MB). Each must be a
  * non-negative integer. Both are clamped at 100M: the driver holds
  * the collected edges and the node state in Int-indexed JVM arrays,
  * and past that a collect could not fit a driver anyway.
  *
  * Defs and classes only: no val here may read another object's (the
  * object-init-cycle class). */
private[operators] object GraphExec {

  /** The edge cap (also `Dedup.pairClusters`' union-find gate). Each
    * cap is validated only where it is read. */
  def edgeCap(spark: SparkSession): Long =
    cap(spark, "spark.graft.graph.localEdgeThreshold", 1000000L)

  def nodeCap(spark: SparkSession): Long =
    cap(spark, "spark.graft.graph.localNodeThreshold", 500000L)

  private def cap(spark: SparkSession, key: String, default: Long): Long = {
    val raw = spark.conf.getOption(key)
    val n = raw.fold(default)(v => Try(v.trim.toLong).getOrElse(-1L))
    require(n >= 0L, s"$key must be a non-negative integer, got '${raw.getOrElse("")}'")
    math.min(n, 100000000L)
  }

  private def pairsOf(edges: DataFrame): Dataset[(Long, Long)] = {
    val spark = edges.sparkSession
    import spark.implicits._
    edges.select(col("u").cast("long"), col("v").cast("long")).as[(Long, Long)]
  }

  /** The driver tier (k-core's, LPA's and BFS's only kernel tier).
    * ONE bounded probe both decides and, under the cap, already IS the
    * edge list: `head(cap + 1)` is Spark's incremental executeTake (1
    * partition, then a geometric ramp), so a graph over the cap pays
    * one bounded scan, never a full pass. A count already observed on
    * the staging write (`knownEdges`) makes the gate free, and under the
    * cap the collect is one parallel job instead of the serial ramp. */
  def collected(edges: DataFrame, known: Option[Long]): Option[Collected] = {
    val (limit, typed) = (edgeCap(edges.sparkSession), pairsOf(edges))
    val rows = known match {
      case Some(n) => if (n <= limit) Some(typed.collect()) else None
      case None => Some(typed.head(limit.toInt + 1)).filter(_.length <= limit)
    }
    rows.map(new Collected(edges.sparkSession, _))
  }

  /** PageRank's tier: the collected edges, else — when
    * `nodes(nodeCap)` returns the (node, degree) table, which it does
    * only for graphs with at most that many nodes — the staged index
    * pairs, else None: the DataFrame loop. */
  def source(edges: DataFrame, known: Option[Long],
             nodes: Long => Option[Array[(Long, Long)]]): Option[EdgeSource] = {
    val limit = nodeCap(edges.sparkSession)
    collected(edges, known).orElse(nodes(limit).map(new Staged(pairsOf(edges), _)))
  }

  /** Checkpoint-truncate an iteration's state frame (every DataFrame
    * loop here and `Dedup.pairClusters`): a round's frame feeds the
    * next round's joins AND the final report, so unbroken lineage
    * re-expands the whole walk per consumer. RELIABLE vs LOCAL:
    * localCheckpoint stores blocks on executors with lineage gone —
    * an executor loss (or dynamic-allocation decommission) mid-loop
    * fails the job unrecoverably. When the session has a checkpoint
    * dir (a cluster run's shared FS), use reliable checkpoint(); fall
    * back to localCheckpoint only where executors and driver share the
    * one JVM (local mode, this repo's test/bench harness) and executor
    * loss IS process death. */
  def truncated(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
      df.checkpoint(eager = true)
    else df.localCheckpoint(eager = true)

  /** One synchronous round, written once for both edge sources:
    * `send` folds edge (u, v) of the node-indexed `state` into `acc`
    * with `merge`, whose identity is `zero`. */
  abstract class Kernel(val zero: Long) extends Serializable {
    def merge(a: Long, b: Long): Long
    def send(state: Array[Long], acc: Array[Long], u: Int, v: Int): Unit
  }

  /** Each endpoint receives the other's state, summed: degrees (state
    * all 1) and PageRank's rank shares. */
  case object Spread extends Kernel(0L) {
    def merge(a: Long, b: Long): Long = a + b
    def send(s: Array[Long], acc: Array[Long], u: Int, v: Int): Unit = {
      acc(v) += s(u); acc(u) += s(v)
    }
  }

  /** k-core: each node's degree over the edges whose endpoints are both
    * alive (state 1). */
  case object Live extends Kernel(0L) {
    def merge(a: Long, b: Long): Long = a + b
    def send(s: Array[Long], acc: Array[Long], u: Int, v: Int): Unit =
      if ((s(u) & s(v)) == 1L) { acc(u) += 1L; acc(v) += 1L }
  }

  final val Unreached = Long.MaxValue

  /** BFS: the least neighbor distance plus one (state = distance,
    * [[Unreached]] for none). */
  case object Hop extends Kernel(Long.MaxValue) {
    def merge(a: Long, b: Long): Long = math.min(a, b)
    def send(s: Array[Long], acc: Array[Long], u: Int, v: Int): Unit = {
      if (s(u) != Unreached) acc(v) = math.min(acc(v), s(u) + 1L)
      if (s(v) != Unreached) acc(u) = math.min(acc(u), s(v) + 1L)
    }
  }

  /** Either tier's edges: node ids by index, their degrees, and one
    * kernel round over every edge. */
  abstract class EdgeSource(val spark: SparkSession) {
    def nodes: Array[Long]
    def degree: Array[Long]
    def round(k: Kernel, state: Array[Long]): Array[Long]
    def close(): Unit = ()
    def run[T](walk: this.type => T): T = try walk(this) finally close()
  }

  /** The driver tier: the collected edges as index pairs `from(e)`,
    * `to(e)`. */
  final class Collected(spark: SparkSession, rows: Array[(Long, Long)])
      extends EdgeSource(spark) {
    private val index = new java.util.HashMap[Long, Int]()
    private val ids = new scala.collection.mutable.ArrayBuffer[Long]()
    private def at(node: Long): Int =
      index.computeIfAbsent(node, _ => { ids += node; ids.length - 1 })
    val from: Array[Int] = rows.map(r => at(r._1))
    val to: Array[Int] = rows.map(r => at(r._2))
    val nodes: Array[Long] = ids.toArray
    val degree: Array[Long] = round(Spread, Array.fill(nodes.length)(1L))
    def round(k: Kernel, state: Array[Long]): Array[Long] = {
      val acc = Array.fill(state.length)(k.zero)
      var e = 0
      while (e < from.length) { k.send(state, acc, from(e), to(e)); e += 1 }
      acc
    }
  }

  /** The node tier: the edges as index pairs, persisted once (a round
    * re-reads cached (int, int) pairs instead of re-scanning and
    * re-hashing ids); a round broadcasts the state, folds each
    * partition into one accumulator and tree-merges them. */
  final class Staged(typed: Dataset[(Long, Long)], table: Array[(Long, Long)])
      extends EdgeSource(typed.sparkSession) {
    val nodes: Array[Long] = table.map(_._1)
    val degree: Array[Long] = table.map(_._2)
    private val sc = spark.sparkContext
    private val indexBc = sc.broadcast {
      val m = new java.util.HashMap[Long, Int](nodes.length * 2)
      nodes.indices.foreach(i => m.put(nodes(i), i))
      m
    }
    private val pairs = {
      val ix = indexBc
      typed.rdd.mapPartitions { it =>
        val m = ix.value
        // the table and the pairs are two evaluations of the edges: an
        // endpoint missing from the table fails (a plain get would
        // unbox null to node 0)
        def at(node: Long): Int = {
          val i = m.getOrDefault(node, -1)
          require(i >= 0, s"edge endpoint $node is not in the node table")
          i
        }
        it.map { case (u, v) => (at(u), at(v)) }
      }.persist(StorageLevel.MEMORY_AND_DISK)
    }
    def round(k: Kernel, state: Array[Long]): Array[Long] = {
      val bc = sc.broadcast(state)
      val n = state.length
      try pairs.mapPartitions { it =>
        val (s, acc) = (bc.value, Array.fill(n)(k.zero))
        it.foreach { case (u, v) => k.send(s, acc, u, v) }
        Iterator.single(acc)
      }.treeReduce({ (a, b) =>
        var i = 0
        while (i < a.length) { a(i) = k.merge(a(i), b(i)); i += 1 }
        a
      }, depth = 2)
      finally bc.destroy()
    }
    override def close(): Unit = { pairs.unpersist(blocking = false); indexBc.destroy() }
  }
}
