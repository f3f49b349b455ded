package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Graph}

/** Graph walks, the second half of `corpus_graph`: `Graph.pagerankOn`,
  * `Graph.kcoreOn`, `Graph.bfsOn` and `Dedup.pairClusters` (connected
  * components) on two skewed graphs. The session's local-edge thresholds
  * are lowered (generator constants) so that the small graph takes the
  * driver paths (`graph.*.local`) and the large one the distributed loops
  * (`graph.*.dist`). */
object GraphWalks extends Workload {
  val Algorithms = Seq("pagerank", "kcore", "bfs", "components")
  private val EdgeConfs = Seq("spark.graft.graph.localEdgeThreshold",
    "spark.graft.clusters.localEdgeThreshold")
  private val NodeConf = "spark.graft.graph.localNodeThreshold"

  private def edges(spark: SparkSession, input: String, graph: String): DataFrame =
    spark.read.parquet(s"$input/graph_$graph.parquet")

  /** One algorithm's whole answer, as sorted row strings. */
  def run(algo: String, e: DataFrame): Seq[String] = {
    val out = algo match {
      case "pagerank" => Graph.pagerankOn(e)
      case "kcore" => Graph.kcoreOn(e)
      case "bfs" => Graph.bfsOn(e)
      case "components" =>
        Dedup.pairClusters(e.select(col("u").as("doc_a"), col("v").as("doc_b")))
    }
    out.collect().map(_.mkString("|")).toSeq.sorted
  }

  /** Lower the thresholds that pick driver path or loop to the generator's
    * values, or (`on = false`) restore graft's defaults. */
  def thresholds(spark: SparkSession, input: String, on: Boolean): Unit = {
    val m = Meta.read(s"$input/graph.json")
    if (on) {
      EdgeConfs.foreach(spark.conf.set(_, m.long("local_edge_threshold")))
      spark.conf.set(NodeConf, m.long("local_node_threshold"))
    } else (NodeConf +: EdgeConfs).foreach(spark.conf.unset)
  }

  /** No warm-up of its own: the graph calls run after the corpus half of
    * the cycle, whose jobs leave the session warm, and a run cannot afford
    * another round of distributed loops. */
  def warmUp(spark: SparkSession, input: String, work: String): Unit = ()

  /** The last cycle's answers, per (graph, algorithm). */
  private val answers = mutable.Map.empty[(String, String), Seq[String]]

  def cycle(c: Ctx, index: Int): Unit = {
    thresholds(c.spark, c.input, on = true)
    try Seq("small" -> "local", "large" -> "dist").foreach { case (graph, tier) =>
      val e = edges(c.spark, c.input, graph)
      Algorithms.foreach { a =>
        c.out.op(s"graph.$a.$tier") {
          answers((graph, a)) = c.tracer.span(s"graph.$a.$tier")(run(a, e))
        }
      }
    } finally thresholds(c.spark, c.input, on = false)
  }

  /** The tracing-overhead probe: PageRank's driver path on the small graph. */
  override def traceExtras(c: Ctx): Unit = {
    val e = edges(c.spark, c.input, "small")
    c.tracer.overhead("graph.pagerank.local") { run("pagerank", e); () }
  }

  /** Connected components by union-find on the driver, as `pairClusters`
    * reports them: every node labelled with its component's minimum id. */
  def unionFind(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.toSeq.map(x => x -> find(x)).toMap
  }

  def verify(c: Ctx): Unit = {
    val spark = c.spark
    Seq("small", "large").foreach { graph =>
      val e = edges(spark, c.input, graph)
      val pairs = e.collect().map((r: Row) => (r.getLong(0), r.getLong(1))).toSeq
      c.out.count(s"graph.$graph.edges", pairs.size.toDouble)
      val want = unionFind(pairs).toSeq.map { case (n, l) => s"$n|$l" }.sorted
      val got = answers.getOrElse((graph, "components"), Nil)
      c.out.check(s"graph.$graph.components_union_find", got == want,
        s"${got.size} labelled nodes, union-find ${want.size}; " +
          s"${got.diff(want).size} rows differ")
    }
    // the loops' answers on the large graph equal the driver paths'
    val large = edges(spark, c.input, "large")
    Algorithms.foreach { a =>
      val driver = run(a, large)
      val loop = answers.getOrElse(("large", a), Nil)
      c.out.check(s"graph.$a.dist_equals_local", loop.nonEmpty && loop == driver,
        s"${loop.diff(driver).size} of ${loop.size} loop rows not in the driver answer")
    }
  }
}
