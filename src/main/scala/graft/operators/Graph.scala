package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
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
    * [[trianglesOn]] for the contract). */
  def pagerankOn(edges: DataFrame, iters: Int = Iters, topK: Int = TopK,
                 knownEdges: Option[Long] = None): DataFrame = {
    // SMALL-GRAPH FAST PATH (r20 optimization — see
    // [[localGraphEdgeMax]]): the rank walk is EXACT-INTEGER
    // arithmetic (teleport + 85·Σ(rank div deg) div 100 in fixed-point
    // units), so the driver loop below is bit-identical to the
    // distributed iterations — integer sums are order-independent and
    // every op (Long division, multiply, add) is the same op the SQL
    // `div` plan runs. Each distributed iteration paid a broadcast
    // build + m-row join + aggregate; under the threshold that is
    // pure scheduling overhead. GraphSpec pins fast path == loop.
    // gate = ONE bounded probe that doubles as the collect (r21,
    // VERDICT item 5 — see [[probeLocalEdges]]): no count() pre-pass
    val probedPr = probeLocalEdges(edges, knownEdges)
    if (probedPr.isDefined) {
      val rows = probedPr.get
      val deg = new java.util.HashMap[Long, Long]()
      rows.foreach { case (u, v) =>
        deg.merge(u, 1L, _ + _); deg.merge(v, 1L, _ + _); ()
      }
      val n = deg.size.toLong
      val teleport = 15L * One / (100L * n)
      var ranks = new java.util.HashMap[Long, Long](deg.size)
      deg.forEach((node, _) => { ranks.put(node, One / n); () })
      (1 to iters).foreach { _ =>
        val sums = new java.util.HashMap[Long, Long](deg.size)
        val prev = ranks
        rows.foreach { case (u, v) =>
          sums.merge(v, prev.get(u) / deg.get(u), _ + _)
          sums.merge(u, prev.get(v) / deg.get(v), _ + _)
          ()
        }
        val next = new java.util.HashMap[Long, Long](deg.size)
        sums.forEach { (node, s) => next.put(node, teleport + 85L * s / 100L); () }
        ranks = next
      }
      val nArcs = 2L * rows.length
      val buf = new scala.collection.mutable.ArrayBuffer[(Long, Long, Long)](deg.size)
      ranks.forEach((node, r) => { buf += ((node, r, deg.get(node))); () })
      val top = buf.sortBy { case (node, r, _) => (-r, node) }.take(topK)
      val spark = edges.sparkSession
      import spark.implicits._
      return top.zipWithIndex.map { case ((node, r, d), i) =>
        (i + 1, node, r, r.toDouble / One.toDouble, d, n, nArcs)
      }.toSeq.toDF("rank", "p_partkey", "rank_units", "pagerank",
        "deg", "n_nodes", "n_arcs")
    }
    // symmetric directed view: every undirected edge both ways
    val arcs = edges.select(col("u").as("src"), col("v").as("dst"))
      .unionAll(edges.select(col("v").as("src"), col("u").as("dst")))
    // deg is re-read by every iteration — stage it once so each
    // reference is a node-count parquet scan, not the edge agg.
    // (r20 note: an attempted rewrite that pre-joined dst-degree onto
    // a STAGED arc frame measured strictly slower — the staging write
    // of the m-row arc list cost more than the five deg joins it
    // removed, because the per-iteration deg broadcast is an
    // identical exchange every round and ReuseExchange builds it
    // once. Left as-is deliberately.)
    val deg = staged(degrees(edges), "graft_pr_deg")
    // N is a 1-row bounded collect (the BPE-winner precedent): it
    // sizes the teleport constant folded into every iteration's plan
    val n = deg.count()
    val teleport = 15L * One / (100L * n)
    // NODE-BOUNDED HYBRID TIER (r21, guide §8 "decide with small
    // rows, move big rows once"): the rank vector is node-sized and
    // the distributed loop below ALREADY ships it whole into every
    // iteration (the ranks side broadcasts under AQE) — so whenever
    // it fits a broadcast it also fits the driver, and an iteration
    // can be ONE mapPartitions pass over the staged edges producing
    // per-partition partial contribution arrays, tree-merged. Exact
    // Long sums are order-independent, so this is bit-identical to
    // the join+aggregate iteration — GraphSpec pins all three tiers
    // row-identical. What it removes per iteration: the contribution
    // shuffle, the rank-broadcast build and the deg join (4+ serial
    // AQE stages → 1 job). Driver/executor state: 8·n-byte rank and
    // degree arrays — the same order as the broadcast the loop plan
    // pays anyway; above the threshold (vector no longer
    // broadcastable) the unchanged loop runs. Threshold tunable per
    // deployment (spark.graft.graph.localNodeThreshold; 500k default
    // keeps the per-partition partial arrays at ≤4 MB).
    val localNodeMax = edges.sparkSession.conf
      .getOption("spark.graft.graph.localNodeThreshold")
      .map(_.toLong).getOrElse(500000L)
    if (n > 0 && n <= localNodeMax) {
      val spark = edges.sparkSession
      import spark.implicits._
      val degArr = deg.select(col("node").cast("long"), col("deg").cast("long"))
        .as[(Long, Long)].collect()
      val nInt = degArr.length
      val nodeIdx = new java.util.HashMap[Long, Integer](nInt * 2)
      val degByIdx = new Array[Long](nInt)
      var i = 0
      while (i < nInt) {
        nodeIdx.put(degArr(i)._1, Integer.valueOf(i)); degByIdx(i) = degArr(i)._2
        i += 1
      }
      val sc = spark.sparkContext
      val idxBc = sc.broadcast(nodeIdx)
      val degBc = sc.broadcast(degByIdx)
      // the index-mapped edge list is read by every iteration:
      // persisted once, so a round re-reads cached (int, int) pairs
      // instead of re-scanning the staged edges and re-hashing ids
      val edgeIdx = edges
        .select(col("u").cast("long"), col("v").cast("long")).as[(Long, Long)]
        .rdd.mapPartitions { it =>
          val ix = idxBc.value
          it.map { case (u, v) => (ix.get(u).intValue, ix.get(v).intValue) }
        }
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      var rankByIdx = Array.fill(nInt)(One / n)
      val arrayAdd: (Array[Long], Array[Long]) => Array[Long] = (a, b) => {
        var j = 0
        while (j < a.length) { a(j) += b(j); j += 1 }
        a
      }
      try {
        (1 to iters).foreach { _ =>
          val rankBc = sc.broadcast(rankByIdx)
          val summed = edgeIdx.mapPartitions { it =>
            val prev = rankBc.value
            val dg = degBc.value
            val sums = new Array[Long](prev.length)
            it.foreach { case (ui, vi) =>
              sums(vi) += prev(ui) / dg(ui)
              sums(ui) += prev(vi) / dg(vi)
            }
            Iterator.single(sums)
          }.treeReduce(arrayAdd, depth = 2)
          rankBc.destroy()
          rankByIdx = summed.map(s => teleport + 85L * s / 100L)
        }
      } finally {
        edgeIdx.unpersist(blocking = false)
        idxBc.destroy(); degBc.destroy()
      }
      val buf = new scala.collection.mutable.ArrayBuffer[(Long, Long, Long)](nInt)
      var j = 0
      while (j < nInt) { buf += ((degArr(j)._1, rankByIdx(j), degByIdx(j))); j += 1 }
      val top = buf.sortBy { case (node, r, _) => (-r, node) }.take(topK)
      val nArcs = degByIdx.sum
      return top.zipWithIndex.map { case ((node, r, d), k) =>
        (k + 1, node, r, r.toDouble / One.toDouble, d, n, nArcs)
      }.toSeq.toDF("rank", "p_partkey", "rank_units", "pagerank",
        "deg", "n_nodes", "n_arcs")
    }
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

  /** Generic k-core over a distinct undirected (u, v) edge list.
    *
    * Distributed peeling: each round computes degrees (one keyed
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
    def truncated(df: DataFrame): DataFrame =
      if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
        df.checkpoint(eager = true)
      else df.localCheckpoint(eager = true)
    // SMALL-GRAPH FAST PATH (r20 optimization — the
    // [[Dedup.pairClusters]] pattern): below the bounded-collect
    // threshold every peeling round is pure scheduling overhead
    // (degree aggregate + two semi-joins + checkpoint + convergence
    // count per round). The synchronized peel runs on the driver with
    // IDENTICAL round semantics — every sub-k node removed at once —
    // so the round count feeding the oracle-budget guard is the same
    // number the distributed loop reports, and the fixpoint is the
    // same subgraph. Gate = ONE bounded probe that doubles as the
    // collect (r21, VERDICT item 5 — see [[probeLocalEdges]]).
    val probedKc = probeLocalEdges(edges, knownEdges)
    if (probedKc.isDefined) {
      val rows = probedKc.get
      var alive = rows
      var rounds = 0
      var converged = alive.isEmpty
      while (!converged) {
        val deg = new java.util.HashMap[Long, Long]()
        alive.foreach { case (u, v) =>
          deg.merge(u, 1L, _ + _); deg.merge(v, 1L, _ + _); ()
        }
        val next = alive.filter { case (u, v) => deg.get(u) >= k && deg.get(v) >= k }
        converged = next.length == alive.length
        alive = next
        rounds += 1
      }
      oracleRoundBudget.foreach { budget =>
        require(rounds - 1 <= budget,
          s"k-core peeling converged in $rounds rounds but the fixed-depth " +
            s"oracle only unrolls $budget — raise KcorePeelRounds (the engine " +
            "result is correct; the ORACLE is under-unrolled and would " +
            "report a false mismatch)")
      }
      val coreDeg = new java.util.HashMap[Long, Long]()
      alive.foreach { case (u, v) =>
        coreDeg.merge(u, 1L, _ + _); coreDeg.merge(v, 1L, _ + _); ()
      }
      val nCoreNodes = coreDeg.size.toLong
      val nCoreEdges = alive.length.toLong
      val top = {
        val buf = new scala.collection.mutable.ArrayBuffer[(Long, Long)](coreDeg.size)
        coreDeg.forEach((node, d) => buf += ((node, d)))
        buf.sortBy { case (node, d) => (-d, node) }.take(topK)
      }
      val spark = edges.sparkSession
      import spark.implicits._
      return top.zipWithIndex.map { case ((node, d), i) =>
        (i + 1, node, d, nCoreNodes, nCoreEdges)
      }.toSeq.toDF("rank", "p_partkey", "core_deg", "n_core_nodes", "n_core_edges")
    }
    var alive = truncated(edges.select(col("u"), col("v")))
    // the probe overflowed, so the edge list is non-empty — no upfront
    // count needed. A known count seeds the loop, so a first round that
    // peels nothing converges at once (the driver path's round count);
    // without one, n = -1 never equals a real count
    var n = knownEdges.getOrElse(-1L)
    var converged = false
    var rounds = 0
    while (!converged) {
      val survivors = degrees(alive).where(col("deg") >= k).select(col("node"))
      val next = truncated(alive
        .join(survivors.withColumnRenamed("node", "u"), Seq("u"), "left_semi")
        .join(survivors.withColumnRenamed("node", "v"), Seq("v"), "left_semi"))
      val n2 = next.count()
      converged = n2 == n
      alive = next; n = n2
      rounds += 1
    }
    oracleRoundBudget.foreach { budget =>
      // `rounds` counts the final no-change confirming iteration too:
      // changing peels = rounds - 1, and the oracle only needs to
      // unroll the CHANGING rounds (further levels are the identity) —
      // comparing `rounds` itself aborted a graph converging in
      // exactly `budget` peels (r14 advice off-by-one)
      require(rounds - 1 <= budget,
        s"k-core peeling converged in $rounds rounds but the fixed-depth " +
          s"oracle only unrolls $budget — raise KcorePeelRounds (the engine " +
          "result is correct; the ORACLE is under-unrolled and would " +
          "report a false mismatch)")
    }
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
    * Scale shape: the directed edge frame is staged once; each round
    * is ONE m-row join against the node-sized label frame plus a
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

  /** The label-propagation core shared by the report key and the
    * modularity grader: [[LpaRounds]]-style synchronous rounds over a
    * distinct undirected edge list, returning the final (node, label)
    * frame (checkpoint-truncated — consumers branch off it freely).
    * `stagePrefix` scopes the directed-edge staging dir per OPERATOR
    * (the ivfIndex precedent): a shared prefix would let one
    * operator's restage invalidate the other's not-yet-consumed plan. */
  /** Checkpoint-truncate an iteration's state frame: every round of
    * the iterative graph ops feeds the next round's join AND the
    * final report — unbroken lineage re-expands the whole walk per
    * consumer. Shared by [[lpaLabels]] and [[bfsDistances]]. */
  private def truncated(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
      df.checkpoint(eager = true)
    else df.localCheckpoint(eager = true)

  /** Edge-count threshold under which the iterative graph loops
    * (k-core peel, LPA rounds, BFS frontier walk) run on the driver —
    * the [[Dedup.pairClusters]] fast-path contract: below it the
    * collect is broadcast-sized (two longs per edge) and each
    * distributed round's 3–6 scheduled jobs are pure fixed overhead;
    * above it the unchanged distributed loops carry the corpus-scale
    * graphs. Tunable per deployment. */
  private def localGraphEdgeMax(df: DataFrame): Long =
    df.sparkSession.conf.getOption("spark.graft.graph.localEdgeThreshold")
      .map(_.toLong).getOrElse(1000000L)

  /** Bounded fast-path probe (r21, VERDICT item 5): ONE incremental
    * collect-limit job both DECIDES the path and, under the threshold,
    * already IS the edge list. The r20 gates ran a full `count()` job
    * over the edge frame and then `collect()`ed it again — an extra
    * full pass per key (and for unstaged callers the whole edge
    * lineage evaluated twice). `head(threshold+1)` is Spark's
    * incremental executeTake (1 partition, then geometric ramp), so an
    * over-threshold graph pays one bounded scan, never a full pass,
    * and an under-threshold graph pays exactly the collect it needs.
    * Returns Some(edges) when the list fits, None when the probe
    * overflows (callers run the unchanged distributed loops). The
    * collect budget is additionally clamped at 100M rows — a threshold
    * above that could not be driver-collected anyway. */
  private def probeLocalEdges(edges: DataFrame,
                              known: Option[Long] = None): Option[Array[(Long, Long)]] = {
    val localMax = localGraphEdgeMax(edges)
    val spark = edges.sparkSession
    import spark.implicits._
    val typed = edges.select(col("u").cast("long"), col("v").cast("long"))
      .as[(Long, Long)]
    known match {
      // count already observed on the staging write ([[stagedCounted]]):
      // over the threshold the gate is FREE; under it, one parallel
      // collect (the incremental take below is a SERIAL partition ramp)
      case Some(n) =>
        if (n <= localMax && n <= 100000000L) Some(typed.collect()) else None
      case None =>
        val lim = (math.min(math.max(localMax, 0L), 100000000L) + 1L).toInt
        val probe = typed.head(lim)
        if (probe.length < lim) Some(probe) else None
    }
  }

  /** Deterministic synchronous-LPA rounds on a collected edge list —
    * bit-identical semantics to the distributed [[lpaLabels]] loop:
    * labels start as node ids, each round relabels every node with
    * the (count DESC, label ASC) argmax of its neighbors'
    * previous-round labels (each neighbor contributes once — the edge
    * list is distinct pairs). */
  private def lpaRoundsLocal(rows: Array[(Long, Long)], rounds: Int)
      : java.util.HashMap[Long, Long] = {
    val adj = new java.util.HashMap[Long, scala.collection.mutable.ArrayBuffer[Long]]()
    def add(a: Long, b: Long): Unit = {
      adj.computeIfAbsent(a, _ => new scala.collection.mutable.ArrayBuffer[Long]) += b
      ()
    }
    rows.foreach { case (u, v) => add(u, v); add(v, u) }
    var labels = new java.util.HashMap[Long, Long]()
    adj.forEach((node, _) => { labels.put(node, node); () })
    (1 to rounds).foreach { _ =>
      val next = new java.util.HashMap[Long, Long](labels.size)
      val prev = labels
      adj.forEach { (node, nbrs) =>
        val counts = new java.util.HashMap[Long, Long]()
        nbrs.foreach(d => counts.merge(prev.get(d), 1L, _ + _))
        var bestLabel = Long.MaxValue
        var bestC = 0L
        counts.forEach { (lb, c) =>
          if (c > bestC || (c == bestC && lb < bestLabel)) { bestC = c; bestLabel = lb }
        }
        next.put(node, bestLabel)
        ()
      }
      labels = next
    }
    labels
  }

  private[operators] def lpaLabels(edges: DataFrame, rounds: Int,
                                   stagePrefix: String,
                                   knownEdges: Option[Long] = None): DataFrame = {
    // SMALL-GRAPH FAST PATH (r20 optimization — see
    // [[localGraphEdgeMax]]): under the threshold the R synchronous
    // rounds run on the driver over the collected distinct edge list,
    // skipping the directed-frame staging write and the per-round
    // join + two aggregates + checkpoint jobs. Same argmax, same
    // ties, same labels — DedupSpec-style equivalence pinned in
    // GraphSpec, and the LPA-consuming driver keys stay oracle-gated.
    val probedLpa = probeLocalEdges(edges, knownEdges)
    if (probedLpa.isDefined) {
      val labels = lpaRoundsLocal(probedLpa.get, rounds)
      val out = new scala.collection.mutable.ArrayBuffer[(Long, Long)](labels.size)
      labels.forEach((node, lb) => { out += ((node, lb)); () })
      val spark = edges.sparkSession
      import spark.implicits._
      return out.toSeq.toDF("node", "label")
    }
    val ed = Scratch.stageReuse(
      edges.select(col("u").as("s"), col("v").as("d"))
        .unionAll(edges.select(col("v").as("s"), col("u").as("d"))),
      stagePrefix)
    var labels = truncated(
      ed.select(col("s").as("node")).distinct()
        .select(col("node"), col("node").as("label")))
    (1 to rounds).foreach { _ =>
      val counts = ed
        .join(labels.withColumnRenamed("node", "d"), "d")
        .groupBy(col("s").as("node"), col("label"))
        .agg(count(lit(1)).as("c"))
      // argmax by (c DESC, label ASC) as ONE struct-min aggregate:
      // min(-c) = max c, then min label — no per-node window
      labels = truncated(counts
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
    * Scale shape: the engine iterates FRONTIER-ONLY — round i joins
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
    // SMALL-GRAPH FAST PATH (r20 optimization — see
    // [[localGraphEdgeMax]]): under the threshold the whole walk —
    // seed pick, `rounds` synchronous frontier expansions, histogram,
    // totals — runs on the driver over the collected edge list. The
    // distributed path paid the directed-frame staging write plus,
    // per round, an expand join + distinct + anti-join + two eager
    // checkpoints; all of it fixed scheduling overhead at this size.
    // Same layers (a node's dist = its first-discovery round), same
    // exact-integer report.
    val probedBfs = probeLocalEdges(edges, knownEdges)
    if (probedBfs.isDefined) {
      val rows = probedBfs.get
      val adj = new java.util.HashMap[Long, scala.collection.mutable.ArrayBuffer[Long]]()
      def add(a: Long, b: Long): Unit = {
        adj.computeIfAbsent(a, _ => new scala.collection.mutable.ArrayBuffer[Long]) += b
        ()
      }
      rows.foreach { case (u, v) => add(u, v); add(v, u) }
      val degBuf = new scala.collection.mutable.ArrayBuffer[(Long, Int)](adj.size)
      adj.forEach((node, nbrs) => { degBuf += ((node, nbrs.length)); () })
      val seeds = degBuf.sortBy { case (node, d) => (-d, node) }
        .take(nSeeds).map(_._1)
      val dist = new java.util.HashMap[Long, Long]()
      seeds.foreach(s => dist.put(s, 0L))
      var frontier: Seq[Long] = seeds.toSeq
      (1 to rounds).foreach { i =>
        val fresh = new scala.collection.mutable.ArrayBuffer[Long]()
        frontier.foreach { f =>
          val nbrs = adj.get(f)
          if (nbrs != null) nbrs.foreach { s =>
            if (!dist.containsKey(s)) { dist.put(s, i.toLong); fresh += s }
          }
        }
        frontier = fresh.toSeq
      }
      // per-distance histogram + totals, all exact integers
      val hist = new java.util.HashMap[Long, (Long, Long, Long)]()
      dist.forEach { (node, d) =>
        val cur = hist.get(d)
        hist.put(d, if (cur == null) (1L, node, node)
          else (cur._1 + 1, math.min(cur._2, node), math.max(cur._3, node)))
        ()
      }
      val nNodes = adj.size.toLong
      val nReached = dist.size.toLong
      val out = new scala.collection.mutable
        .ArrayBuffer[(Long, Long, Long, Long, Long, Long, Long)](hist.size)
      hist.forEach { (d, t) =>
        out += ((d, t._1, t._2, t._3, nNodes, nReached, nNodes - nReached))
        ()
      }
      val spark = edges.sparkSession
      import spark.implicits._
      return out.sortBy(_._1).toSeq.toDF("dist", "nodes", "min_node",
        "max_node", "n_nodes", "n_reached", "n_unreached")
    }
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
    var reached = truncated(seeds.select(col("node"), lit(0L).as("dist")))
    var frontier = reached.select(col("node"))
    (1 to rounds).foreach { i =>
      val expand = ed.join(frontier.withColumnRenamed("node", "d"), "d")
        .select(col("s").as("node")).distinct()
      val fresh = truncated(
        expand.join(reached.select(col("node")), Seq("node"), "left_anti")
          .select(col("node"), lit(i.toLong).as("dist")))
      reached = truncated(reached.unionAll(fresh))
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
