package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Graph

class GraphSpec extends SparkSpecBase {

  private val EdgeCap = "spark.graft.graph.localEdgeThreshold"
  private val NodeCap = "spark.graft.graph.localNodeThreshold"

  /** `f` under the session confs `kv`, unset afterwards. */
  private def withConfs[T](kv: (String, String)*)(f: => T): T = {
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally kv.foreach(t => spark.conf.unset(t._1))
  }

  /** Spark jobs `f` starts (the BpeSpec listener pattern: the listener
    * bus is asynchronous, so wait until every started job has ended). */
  private def jobsOf(f: => Unit): Int = {
    val (started, ended) = (new AtomicInteger, new AtomicInteger)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = started.incrementAndGet()
      override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      f
      val deadline = System.currentTimeMillis() + 10000L
      do Thread.sleep(200) while (ended.get != started.get && System.currentTimeMillis() < deadline)
      started.get
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  private def edgesDf(pairs: (Long, Long)*): DataFrame = {
    import spark.implicits._
    pairs.toDF("u", "v")
  }

  test("triangles: K4 has 4 triangles, each node in 3; clustering = 1") {
    // complete graph on {1,2,3,4}: C(4,3)=4 triangles, wedges=12
    val k4 = edgesDf((1L,2L),(1L,3L),(1L,4L),(2L,3L),(2L,4L),(3L,4L))
    val rows = Graph.trianglesOn(k4).collect()
    assert(rows.length == 4)
    rows.foreach { r =>
      assert(r.getAs[Long]("triangles") == 3L)
      assert(r.getAs[Long]("total_triangles") == 4L)
      assert(r.getAs[Long]("n_wedges") == 12L)
      assert(r.getAs[Long]("n_edges") == 6L)
      assert(r.getAs[Long]("n_nodes") == 4L)
      assert(r.getAs[Double]("clustering") == 1.0)
    }
  }

  test("triangles: a path graph has none; report is empty but summary-safe") {
    val path = edgesDf((1L,2L),(2L,3L),(3L,4L))
    // no per-node rows (nobody participates in a triangle) — the
    // driver key's contract is the top-K participation table
    assert(Graph.trianglesOn(path).collect().isEmpty)
  }

  test("triangles: two triangles sharing an edge — shared nodes count both") {
    // {1,2,3} and {2,3,4}: nodes 2,3 in two triangles, 1,4 in one
    val g = edgesDf((1L,2L),(1L,3L),(2L,3L),(2L,4L),(3L,4L))
    val byNode = Graph.trianglesOn(g).collect()
      .map(r => r.getAs[Long]("p_partkey") -> r.getAs[Long]("triangles")).toMap
    assert(byNode == Map(1L -> 1L, 4L -> 1L, 2L -> 2L, 3L -> 2L))
  }

  test("pagerank: symmetric regular graph converges to uniform rank") {
    // 4-cycle: every node degree 2 — rank stays at One/4 every
    // iteration (up to the deterministic integer truncation)
    val c4 = edgesDf((1L,2L),(2L,3L),(3L,4L),(4L,1L))
    val rows = Graph.pagerankOn(c4).collect()
    assert(rows.length == 4)
    val units = rows.map(_.getAs[Long]("rank_units")).distinct
    assert(units.length == 1, s"regular graph must rank uniformly, got ${units.toList}")
    // mass ≈ 1: integer truncation only ever loses units
    assert(units.head * 4 <= Graph.One && units.head * 4 > Graph.One - 4 * 100)
  }

  test("pagerank: star center outranks leaves; mass conserved within truncation") {
    val star = edgesDf((1L,2L),(1L,3L),(1L,4L),(1L,5L))
    val rows = Graph.pagerankOn(star).collect()
    val byNode = rows.map(r => r.getAs[Long]("p_partkey") -> r.getAs[Long]("rank_units")).toMap
    assert(byNode(1L) > byNode(2L))
    assert(byNode(2L) == byNode(3L) && byNode(3L) == byNode(4L) && byNode(4L) == byNode(5L))
    val total = rows.map(_.getAs[Long]("rank_units")).sum
    // each of the 5 iterations truncates < 1 unit per node on the
    // div-by-degree and div-by-100 steps, plus the teleport div
    assert(total <= Graph.One && total > Graph.One - 5L * 5 * 3 * 100)
    // presentation double is the exact integer conversion
    rows.foreach(r => assert(
      r.getAs[Double]("pagerank") == r.getAs[Long]("rank_units").toDouble / 1e12))
  }

  test("pagerank: rank ordering follows degree on the co-order graph") {
    val rows = Graph.graphPagerank(spark, sfDir).collect()
    assert(rows.length == Graph.TopK)
    val ranks = rows.sortBy(_.getAs[Int]("rank")).map(_.getAs[Long]("rank_units"))
    assert(ranks.zip(ranks.tail).forall { case (a, b) => a >= b })
  }

  test("triangle driver key: wedge/edge/triangle invariants hold") {
    val rows = Graph.graphTriangles(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val r = rows.head
    val (tris, wedges) = (r.getAs[Long]("total_triangles"), r.getAs[Long]("n_wedges"))
    assert(tris >= 0 && 3 * tris <= wedges, "each triangle closes 3 wedges")
    val c = r.getAs[Double]("clustering")
    assert(c >= 0.0 && c <= 1.0)
    // per-node participation never exceeds the global count
    rows.foreach(x => assert(x.getAs[Long]("triangles") <= tris))
  }

  test("edge jaccard: K4 edges all share the 2 other corners; path edges share none") {
    val k4 = edgesDf((1L,2L),(1L,3L),(1L,4L),(2L,3L),(2L,4L),(3L,4L))
    val rows = Graph.edgeJaccardOn(k4).collect()
    assert(rows.length == 6)
    rows.foreach { r =>
      // N(u)\{v} and N(v)\{u} are the same 2-node set -> jaccard 1
      assert(r.getAs[Long]("common") == 2L)
      assert(r.getAs[Double]("jaccard") == 1.0)
    }
    val path = edgesDf((1L,2L),(2L,3L))
    Graph.edgeJaccardOn(path).collect().foreach { r =>
      assert(r.getAs[Long]("common") == 0L && r.getAs[Double]("jaccard") == 0.0)
    }
  }

  test("edge jaccard: shared-triangle edge outranks the periphery") {
    // two triangles sharing edge (2,3): common(2,3)=2, others 1
    val g = edgesDf((1L,2L),(1L,3L),(2L,3L),(2L,4L),(3L,4L))
    val rows = Graph.edgeJaccardOn(g).collect()
    val byEdge = rows.map(r => (r.getAs[Long]("u"), r.getAs[Long]("v")) ->
      (r.getAs[Long]("common"), r.getAs[Double]("jaccard"))).toMap
    assert(byEdge((2L, 3L)) == ((2L, 1.0)))  // N(2)\{3} = {1,4} = N(3)\{2}
    assert(byEdge((1L, 2L))._1 == 1L)
    assert(rows.find(_.getAs[Int]("rank") == 1).get.getAs[Long]("u") == 2L)
  }

  test("components driver key: sizes partition the clustered nodes; summary consistent") {
    val rows = Graph.graphComponents(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val r = rows.head
    val (nc, nn, ne) = (r.getAs[Long]("n_components"),
      r.getAs[Long]("n_nodes"), r.getAs[Long]("n_edges"))
    assert(nc >= 1 && nn >= 2 * 1 && ne >= 1)
    rows.foreach { x =>
      val (size, lo, hi) = (x.getAs[Long]("size"),
        x.getAs[Long]("min_node"), x.getAs[Long]("max_node"))
      assert(size >= 2, "a supported edge implies components of >= 2 nodes")
      assert(x.getAs[Long]("cluster_id") == lo,
        "min-label convergence: the component id IS its minimum node")
      assert(lo <= hi && size <= nn)
    }
    // ranked strictly by (size desc, cluster_id)
    val sizes = rows.sortBy(_.getAs[Int]("rank")).map(_.getAs[Long]("size"))
    assert(sizes.zip(sizes.tail).forall { case (a, b) => a >= b })
  }

  test("kcore: cascading peel — tail falls off round by round, the triangle survives") {
    // triangle {1,2,3} with tail 3-4-5: k=2 peeling removes 5 (deg 1),
    // which drops 4 to deg 1 — a genuine multi-round cascade
    val g = edgesDf((1L,2L),(1L,3L),(2L,3L),(3L,4L),(4L,5L))
    val rows = Graph.kcoreOn(g, k = 2).collect()
    val nodes = rows.map(_.getAs[Long]("p_partkey")).toSet
    assert(nodes == Set(1L, 2L, 3L))
    rows.foreach { r =>
      assert(r.getAs[Long]("core_deg") == 2L)
      assert(r.getAs[Long]("n_core_nodes") == 3L)
      assert(r.getAs[Long]("n_core_edges") == 3L)
    }
  }

  test("kcore: a path fully peels (empty core is schema-safe); k=1 keeps everything") {
    val path = edgesDf((1L,2L),(2L,3L),(3L,4L))
    assert(Graph.kcoreOn(path, k = 2).collect().isEmpty)
    val all = Graph.kcoreOn(path, k = 1).collect()
    assert(all.map(_.getAs[Long]("p_partkey")).toSet == Set(1L, 2L, 3L, 4L))
  }

  test("kcore: a known edge count seeds the distributed peel — a graph " +
      "where nothing peels converges in one round on both paths") {
    // K4 at k=2: every node has degree 3, so round 1 peels nothing.
    // The driver path stops after that round (0 changing peels), and a
    // zero oracle budget must hold on the distributed loop too once it
    // is told the exact edge count up front
    val g = edgesDf((1L,2L),(1L,3L),(1L,4L),(2L,3L),(2L,4L),(3L,4L))
    def core(): Set[Long] = Graph.kcoreOn(g, k = 2, oracleRoundBudget = Some(0),
      knownEdges = Some(6L)).collect().map(_.getAs[Long]("p_partkey")).toSet
    assert(core() == Set(1L, 2L, 3L, 4L))
    withConfs(EdgeCap -> "0")(assert(core() == Set(1L, 2L, 3L, 4L)))
  }

  test("kcore driver key: every core member keeps >= k core neighbors; core is a subgraph of the supported graph") {
    val rows = Graph.graphKcore(spark, sfDir).collect()
    if (rows.nonEmpty) {
      rows.foreach { r =>
        assert(r.getAs[Long]("core_deg") >= Graph.KcoreK)
        // handshake bound within the core
        assert(r.getAs[Long]("n_core_edges") * 2 >=
          r.getAs[Long]("n_core_nodes") * Graph.KcoreK)
      }
    }
  }

  test("link predict: common-neighbor counts for non-adjacent pairs only") {
    // star 0-{1,2,3} plus edge 1-2: the only non-adjacent pairs with a
    // common neighbor are (1,3) and (2,3), each through center 0
    val g = edgesDf((0L,1L),(0L,2L),(0L,3L),(1L,2L))
    val got = Graph.linkPredictOn(g).collect()
      .map(r => (r.getAs[Long]("u"), r.getAs[Long]("v")) -> r.getAs[Long]("common_centers"))
      .toMap
    assert(got == Map((1L,3L) -> 1L, (2L,3L) -> 1L))
  }

  test("link predict: the hub cap suppresses wedges at high-degree centers") {
    val g = edgesDf((0L,1L),(0L,2L),(0L,3L),(1L,2L))
    // cap 2 excludes center 0 (deg 3); remaining centers only generate
    // already-adjacent pairs — no predictions survive
    assert(Graph.linkPredictOn(g, cap = 2).collect().isEmpty)
  }

  test("link predict matches brute force on a seeded random graph (sub-cap degrees)") {
    val rnd = new scala.util.Random(7)
    val edges = (1 to 60).map(_ => (rnd.nextInt(20).toLong, rnd.nextInt(20).toLong))
      .filter { case (u, v) => u != v }
      .map { case (u, v) => (math.min(u, v), math.max(u, v)) }
      .distinct
    val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    def nbrs(n: Long): Set[Long] =
      edges.collect { case (u, v) if u == n => v
                      case (u, v) if v == n => u }.toSet
    val cap = 100 // no hub suppression: brute force is the full count
    val expected = (for {
      u <- 0L until 20L; v <- (u + 1) until 20L
      if !adj.getOrElse(u, Set.empty).contains(v)
      common = (nbrs(u) intersect nbrs(v)).size
      if common > 0
    } yield (u, v) -> common.toLong).toMap
    val topAll = Graph.linkPredictOn(edgesDf(edges: _*), cap = cap,
        topK = expected.size + 10)
      .collect()
      .map(r => (r.getAs[Long]("u"), r.getAs[Long]("v")) -> r.getAs[Long]("common_centers"))
      .toMap
    assert(topAll == expected)
  }

  test("lpa: two cliques joined by a bridge resolve to two min-label " +
      "communities; report ranked by size then label") {
    // clique A = {1,2,3,4} (K4), clique B = {10,11,12} (K3), bridge 4-10.
    // Round 1 relabels every clique-A node to its neighbors' min id and
    // the mode/min cascade settles each clique onto its smallest label
    // within LpaRounds synchronous rounds.
    val edges = edgesDf(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (10L, 11L), (10L, 12L), (11L, 12L),
      (4L, 10L))
    val rep = Graph.lpaOn(edges).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rep.forall(t => t._4 == rep.head._4 && t._5 == 7L),
      "totals must be constant across report rows; 7 nodes")
    val bySize = rep.sortBy(_._1).map(t => (t._2, t._3))
    assert(bySize.length == rep.head._4.toInt)
    // every node lands in one of the two clique communities
    assert(rep.map(_._3).sum == 7L, "community sizes partition the nodes")
    assert(bySize.head._2 >= bySize.last._2, "ranked by size desc")
    // determinism: the synchronous walk is bit-reproducible
    val again = Graph.lpaOn(edges).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rep.sameElements(again))
  }

  test("lpa: a clique with no outside pull labels itself with its min id") {
    val edges = edgesDf((5L, 6L), (5L, 7L), (6L, 7L))
    val rep = Graph.lpaOn(edges).collect()
    assert(rep.length == 1)
    assert(rep(0).getLong(1) == 5L, "community label is the min node id")
    assert(rep(0).getLong(2) == 3L && rep(0).getLong(3) == 1L)
  }

  test("lpa matches a driver-side reference walk on seeded random graphs") {
    val rnd = new scala.util.Random(2207)
    (1 to 4).foreach { trial =>
      val n = 12 + rnd.nextInt(20)
      val pairs = (for {
        u <- 0L until n.toLong; v <- (u + 1) until n.toLong
        if rnd.nextDouble() < 0.15
      } yield (u, v)).distinct
      if (pairs.nonEmpty) {
        // reference: the same synchronous walk in plain Scala
        val nbrs = (pairs ++ pairs.map(_.swap)).groupBy(_._1)
          .map { case (k, vs) => k -> vs.map(_._2) }
        var label: Map[Long, Long] = nbrs.keys.map(k => k -> k).toMap
        (1 to Graph.LpaRounds).foreach { _ =>
          label = nbrs.map { case (node, ns) =>
            val counts = ns.groupBy(label).map { case (l, xs) => l -> xs.size }
            node -> counts.toSeq.minBy { case (l, c) => (-c, l) }._1
          }
        }
        val refComms = label.values.groupBy(identity)
          .map { case (l, xs) => l -> xs.size.toLong }
        val expTop = refComms.toSeq.sortBy { case (l, m) => (-m, l) }
          .take(Graph.TopK)
        val got = Graph.lpaOn(edgesDf(pairs: _*)).collect()
          .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        assert(got.map(t => (t._1, t._2)).toSeq == expTop,
          s"trial $trial: engine communities diverged from the reference walk")
        assert(got.forall(_._3 == refComms.size.toLong), s"trial $trial totals")
        assert(got.forall(_._4 == label.size.toLong), s"trial $trial n_nodes")
      }
    }
  }

  test("lpa driver key: bounded report, totals partition the supported nodes") {
    val rep = Graph.graphLpa(spark, sfDir).collect()
    assert(rep.length <= Graph.TopK)
    if (rep.nonEmpty) {
      val nNodes = rep(0).getAs[Long]("n_nodes")
      val supported = Graph.supportedEdges(spark, sfDir)
      val distinctNodes = supported.select(col("u").as("n"))
        .unionAll(supported.select(col("v").as("n"))).distinct().count()
      assert(nNodes == distinctNodes,
        "every supported-graph node must carry a label")
      assert(rep.map(_.getAs[Long]("members")).sum <= nNodes)
    }
  }

  test("modularity: exact units match a hand-computed grade of the LPA " +
      "partition; two separated cliques score the textbook Q") {
    // two disjoint triangles: LPA settles each onto its min id; every
    // edge is intra. m=6, per community m_c=3, D_c=6:
    // q_units = 2*(4*6*3 - 36) = 72, Q = 72/144 = 0.5
    val edges = edgesDf(
      (1L, 2L), (1L, 3L), (2L, 3L),
      (10L, 11L), (10L, 12L), (11L, 12L))
    val rep = Graph.modularityOn(edges).collect()
    assert(rep.length == 2)
    rep.foreach { r =>
      assert(r.getAs[Long]("n_communities") == 2L)
      assert(r.getAs[Long]("n_edges") == 6L)
      assert(r.getAs[Long]("intra_edges") == 3L)
      assert(r.getAs[Long]("deg_sum") == 6L)
      assert(r.getAs[Long]("q_units") == 72L)
      assert(r.getAs[Double]("modularity") == 0.5)
    }
  }

  test("modularity matches a driver-side reference grade on seeded " +
      "random graphs, and the driver key is well-formed") {
    val rnd = new scala.util.Random(1519)
    (1 to 3).foreach { trial =>
      val n = 12 + rnd.nextInt(16)
      val pairs = (for {
        u <- 0L until n.toLong; v <- (u + 1) until n.toLong
        if rnd.nextDouble() < 0.2
      } yield (u, v)).distinct
      if (pairs.nonEmpty) {
        // reference labels: the same synchronous walk in plain Scala
        val nbrs = (pairs ++ pairs.map(_.swap)).groupBy(_._1)
          .map { case (k, vs) => k -> vs.map(_._2) }
        var label: Map[Long, Long] = nbrs.keys.map(k => k -> k).toMap
        (1 to Graph.LpaRounds).foreach { _ =>
          label = nbrs.map { case (node, ns) =>
            val counts = ns.groupBy(label).map { case (l, xs) => l -> xs.size }
            node -> counts.toSeq.minBy { case (l, c) => (-c, l) }._1
          }
        }
        val m = pairs.size.toLong
        val mc = pairs.groupBy(p => label(p._1))
          .map { case (l, es) => l -> es.count(p => label(p._2) == l).toLong }
        val dc = nbrs.toSeq.groupBy { case (node, _) => label(node) }
          .map { case (l, ns) => l -> ns.map(_._2.size.toLong).sum }
        val refUnits = dc.map { case (l, d) =>
          4L * m * mc.getOrElse(l, 0L) - d * d }.sum
        val rep = Graph.modularityOn(edgesDf(pairs: _*)).collect()
        assert(rep.nonEmpty)
        assert(rep.forall(_.getAs[Long]("q_units") == refUnits),
          s"trial $trial: q_units diverged from the reference grade")
        assert(rep.forall(_.getAs[Double]("modularity") ==
          refUnits.toDouble / ((4.0 * m) * m)), s"trial $trial: Q division")
      }
    }
    val key = Graph.graphModularity(spark, sfDir).collect()
    assert(key.length <= Graph.TopK && key.nonEmpty)
    val q = key(0).getAs[Double]("modularity")
    assert(q >= -0.5 && q <= 1.0, s"modularity $q outside its range")
    assert(key.forall(_.getAs[Double]("modularity") == q), "constant totals")
  }

  test("bfs: hand-computed layers on a path, disconnected remainder " +
      "counted unreached, multi-source takes the min") {
    // path 1-2-3-4-5 (node 2 wins the 1-seed pick: deg 2, lowest id)
    // plus the disconnected pair 10-11
    val edges = edgesDf((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L))
    val one = Graph.bfsOn(edges, rounds = 8, nSeeds = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).sortBy(_._1)
    // dist: 2→0; {1,3}→1; 4→2; 5→3; {10,11} unreached
    assert(one.map(t => (t._1, t._2, t._3, t._4)).sameElements(Seq(
      (0L, 1L, 2L, 2L), (1L, 2L, 1L, 3L), (2L, 1L, 4L, 4L), (3L, 1L, 5L, 5L))))
    assert(one.forall(t => t._5 == 7L && t._6 == 5L && t._7 == 2L),
      "totals must count 7 nodes, 5 reached, 2 unreached")
    // multi-source: seeds {2, 3} (deg 2 each, lowest ids) — distances
    // drop to the NEAREST seed
    val two = Graph.bfsOn(edges, rounds = 8, nSeeds = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(two.sameElements(Seq((0L, 2L), (1L, 2L), (2L, 1L))),
      s"expected layers {2,3}=0, {1,4}=1, {5}=2, got ${two.toSeq}")
  }

  test("bfs driver key: contiguous layers, seeds at zero, totals " +
      "partition the supported nodes, deterministic") {
    val rep = Graph.graphBfs(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).sortBy(_._1)
    assert(rep.nonEmpty)
    // BFS layers are contiguous 0..max (an empty frontier never revives)
    assert(rep.map(_._1).sameElements(0L to rep.map(_._1).max),
      "distance layers must be contiguous from 0")
    assert(rep.head._2 == Graph.BfsSeeds.toLong, "layer 0 is the seed set")
    assert(rep.forall(t => t._4 >= t._3), "min_node <= max_node per layer")
    val (nNodes, nReached, nUnreached) = (rep.head._5, rep.head._6, rep.head._7)
    assert(rep.map(_._2).sum == nReached, "histogram must partition the reached set")
    assert(nReached + nUnreached == nNodes, "reach totals must partition the graph")
    assert(rep.forall(t => t._5 == nNodes && t._6 == nReached && t._7 == nUnreached))
    val again = Graph.graphBfs(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).sortBy(_._1)
    assert(rep.sameElements(again), "bfs report must be deterministic")
  }

  test("graph small-graph fast paths match the distributed loops " +
      "(kcore, lpa, modularity, bfs) on seeded random graphs") {
    // every walk on all three tiers: the driver (default caps), the node
    // tier (edge cap 0; only PageRank has one, the others run their
    // loop) and the DataFrame loops (both caps 0) stay row-identical,
    // and k-core's round count — the oracle budget guard's input — is
    // the same on each: a tight budget passes, one round less fails
    val rnd = new scala.util.Random(4412)
    def snap(df: DataFrame): Seq[Seq[Any]] =
      df.collect().map(_.toSeq.map {
        case l: java.lang.Long => l.longValue(): Any
        case i: java.lang.Integer => i.longValue(): Any
        case x => x
      }.toSeq).toSeq.sortBy(_.mkString("|"))
    // changing peels of the synchronized 2-core peel, in plain Scala
    def peels(pairs: Seq[(Long, Long)]): Int = {
      var (alive, rounds, changed) = (pairs, 0, true)
      while (changed) {
        val deg = alive.flatMap(p => Seq(p._1, p._2)).groupBy(identity).map(t => t._1 -> t._2.size)
        val next = alive.filter(p => deg(p._1) >= 2 && deg(p._2) >= 2)
        changed = next.size != alive.size
        alive = next; rounds += 1
      }
      rounds - 1
    }
    (1 to 3).foreach { trial =>
      val n = 14 + rnd.nextInt(18)
      val pairs = (for {
        u <- 0L until n.toLong; v <- (u + 1) until n.toLong
        if rnd.nextDouble() < 0.18
      } yield (u, v)).distinct
      if (pairs.nonEmpty) {
        val g = edgesDf(pairs: _*)
        val p = peels(pairs)
        def kcore(budget: Int) = Graph.kcoreOn(g, k = 2, oracleRoundBudget = Some(budget),
          knownEdges = Some(pairs.size.toLong))
        def all() = {
          intercept[IllegalArgumentException](kcore(p - 1))
          Seq(kcore(p), Graph.lpaOn(g), Graph.modularityOn(g),
            Graph.bfsOn(g, rounds = 6, nSeeds = 2), Graph.pagerankOn(g)).map(snap)
        }
        val fast = all()
        val node = withConfs(EdgeCap -> "0")(all())
        val loop = withConfs(EdgeCap -> "0", NodeCap -> "0")(all())
        Seq("kcore", "lpa", "modularity", "bfs", "pagerank")
          .zip(fast.zip(node.zip(loop))).foreach {
            case (name, (f, (h, l))) =>
              assert(f == h, s"trial $trial: $name driver tier != node tier")
              assert(h == l, s"trial $trial: $name node tier != distributed loop")
          }
      }
    }
  }

  test("graph tiers: each cap is inclusive — edges == cap takes the " +
      "driver, cap + 1 the node tier; nodes == cap the node tier, cap + 1 " +
      "the loop") {
    // PageRank (the walk with all three tiers) on a 6-node, 7-edge
    // graph. The kernel tiers return a local relation, the loop a plan;
    // of the kernel tiers the driver's job count does not depend on the
    // rounds, the node tier adds exactly one job per round
    val g = edgesDf((1L,2L),(1L,3L),(2L,3L),(3L,4L),(4L,5L),(5L,6L),(4L,6L))
    def tier(known: Option[Long]): String = {
      def run(iters: Int): (DataFrame, Int) = {
        var df: DataFrame = null
        val jobs = jobsOf {
          df = Graph.pagerankOn(g, iters = iters, knownEdges = known); df.collect()
        }
        (df, jobs)
      }
      val ((df, one), (_, three)) = (run(1), run(3))
      val kernel = df.queryExecution.analyzed.collectLeaves()
        .forall(_.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
      (kernel, three - one) match {
        case (false, _) => "loop"
        case (true, 0) => "driver"
        case (true, 2) => "node"
        case t => s"unknown $t"
      }
    }
    Seq(None, Some(7L)).foreach { known =>
      assert(withConfs(EdgeCap -> "7", NodeCap -> "0")(tier(known)) == "driver", s"known $known")
      assert(withConfs(EdgeCap -> "6", NodeCap -> "6")(tier(known)) == "node", s"known $known")
      assert(withConfs(EdgeCap -> "6", NodeCap -> "5")(tier(known)) == "loop", s"known $known")
    }
  }

  test("graph tier caps: a non-numeric or negative cap fails before any " +
      "job, naming its key") {
    val g = edgesDf((1L,2L),(2L,3L))
    val pairs = g.toDF("doc_a", "doc_b")
    // PageRank reads both caps; BFS (no node tier) and pairClusters
    // read the edge cap only
    def fails(key: String, bad: String)(f: => Any): Unit = {
      var e: IllegalArgumentException = null
      val jobs = withConfs(key -> bad)(jobsOf {
        e = intercept[IllegalArgumentException](f)
      })
      assert(e.getMessage.contains(s"$key must be a non-negative integer, got '$bad'"),
        e.getMessage)
      assert(jobs == 0, s"$key=$bad started $jobs jobs before failing")
    }
    for (key <- Seq(EdgeCap, NodeCap); bad <- Seq("lots", "-1"))
      fails(key, bad)(Graph.pagerankOn(g))
    for (bad <- Seq("lots", "-1")) {
      fails(EdgeCap, bad)(Graph.bfsOn(g))
      fails(EdgeCap, bad)(graft.operators.Dedup.pairClusters(pairs))
      withConfs(NodeCap -> bad) {
        assert(Graph.bfsOn(g).collect().nonEmpty)
        assert(graft.operators.Dedup.pairClusters(pairs).collect().length == 3)
      }
    }
  }

  test("graph node tier: an edge endpoint missing from the node table " +
      "fails instead of landing on node 0") {
    // the node table and the index pairs are two evaluations of the
    // edges; an unseeded random edge frame makes them disagree
    val far = udf(() => java.util.concurrent.ThreadLocalRandom.current()
      .nextLong(1000L, 1L << 40)).asNondeterministic()
    val g = spark.range(40).select(col("id").as("u"), far().as("v"))
    val e = withConfs(EdgeCap -> "0")(intercept[Exception](Graph.pagerankOn(g).collect()))
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: chain(t.getCause)
    assert(chain(e).exists(t => String.valueOf(t.getMessage).contains("is not in the node table")),
      e.toString)
  }
}
