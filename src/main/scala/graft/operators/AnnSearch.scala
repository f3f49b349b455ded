package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{VectorOps => V}

/** The query half every ANN tier shares. A tier generates candidates
  * its own way (float postings, ADC over PQ codes, decoded SQ8 codes);
  * what every search keeps is a [[Cut]] — the k best per query
  * ([[TopK]]) or everything at least τ similar ([[Radius]]) —
  * optionally restricted to corpus rows whose `label` equals the
  * query's (`sameLabel`, SQL equality: a null label on either side
  * matches nothing). The compressed tiers all end in the same exact
  * float rerank ([[rerank]]); every tier's output has one shape,
  * `(query_id, neighbor_id, [label], [rank], cosine)` — `label` only
  * under `sameLabel`, `rank` only under [[TopK]].
  *
  * Only `def`s and case classes live here: a `val` that reads another
  * operator object would reopen the object-init-cycle class
  * OracleInitSpec guards. */
object AnnSearch {

  sealed trait Cut
  /** The `k` nearest neighbors per query, ranked (cosine desc, vec_id). */
  final case class TopK(k: Int) extends Cut
  /** Every neighbor with cosine ≥ `tau`, unranked. */
  final case class Radius(tau: Double) extends Cut

  /** The metadata column a same-label search compares. */
  final val Label = "label"

  /** Probe width: an explicit positive `nprobe` wins; otherwise a
    * same-label search widens to [[Similarity.FilteredNProbe]] (the
    * filter must reach deeper to fill its slots) and an unfiltered one
    * uses [[Similarity.IvfNProbe]]. */
  def probeWidth(nprobe: Int, sameLabel: Boolean): Int =
    if (nprobe > 0) nprobe
    else if (sameLabel) Similarity.FilteredNProbe
    else Similarity.IvfNProbe

  def labelCols(sameLabel: Boolean): Seq[Column] =
    if (sameLabel) Seq(col(Label)) else Nil

  /** Cosine of the `(vecCol, nrmCol)` side against the query side
    * `(qe, qnrm)` — the shared sequential-fold dot over the stored
    * norms, bit-identical to every oracle's `vec_dot / (n·qn)`. */
  def cosineTo(vecCol: String, nrmCol: String): Column =
    V.cosineWithNorms(V.dot(col(vecCol), col("qe")), col(nrmCol), col("qnrm"))
      .as("cosine")

  /** Apply the cut to exactly-scored rows `(query_id, vec_id, [label],
    * cosine)`. TopK ranks each query's rows by (cosine desc, vec_id)
    * and keeps rank ≤ k; Radius is a stateless cosine ≥ τ filter — no
    * window, no ranking. */
  def finish(scored: DataFrame, cut: Cut, sameLabel: Boolean): DataFrame = {
    val head = Seq(col("query_id"), col("vec_id").as("neighbor_id")) ++ labelCols(sameLabel)
    cut match {
      case TopK(k) =>
        val w = Window.partitionBy(col("query_id"))
          .orderBy(col("cosine").desc, col("vec_id"))
        scored.withColumn("rank", row_number().over(w).cast("int"))
          .filter(col("rank") <= k)
          .select((head ++ Seq(col("rank"), col("cosine"))): _*)
      case Radius(tau) =>
        scored.filter(col("cosine") >= tau).select((head :+ col("cosine")): _*)
    }
  }

  /** The exact float tail of the compressed tiers: candidates
    * `(query_id, vec_id)` join the float corpus `vn` (vec_id, e, nrm,
    * [label]) and the `queries` frame (query_id, qe, qnrm), score exact
    * cosines, and [[finish]]. The output label is the corpus's, so its
    * type is the source column's. */
  def rerank(cand: DataFrame, vn: DataFrame, queries: DataFrame,
             cut: Cut, sameLabel: Boolean): DataFrame =
    finish(cand.join(vn, "vec_id").join(queries, "query_id")
      .select((Seq(col("query_id"), col("vec_id")) ++ labelCols(sameLabel) :+
        cosineTo("e", "nrm")): _*), cut, sameLabel)

  /** The top-k candidate sliver handed to [[rerank]]: per query the
    * `Pq.Rerank` best rows by (`order`, vec_id), broadcast (Rerank·Q
    * rows). */
  def sliver(scored: DataFrame, order: Column): DataFrame = {
    val cw = Window.partitionBy(col("query_id")).orderBy(order, col("vec_id"))
    broadcast(scored.withColumn("crk", row_number().over(cw))
      .filter(col("crk") <= Pq.Rerank)
      .select(col("query_id"), col("vec_id")))
  }

  /** The schema-stable empty result of a search over `vectors`. */
  def empty(vectors: DataFrame, cut: Cut, sameLabel: Boolean): DataFrame = {
    val rank = cut match {
      case TopK(_) => Seq(lit(0).as("rank"))
      case Radius(_) => Nil
    }
    vectors.limit(0).select((Seq(col("vec_id").as("query_id"),
      col("vec_id").as("neighbor_id")) ++ labelCols(sameLabel) ++ rank :+
      lit(0.0).as("cosine")): _*)
  }

  /** Per-query bounded heaps over a partition's `(query_id, vec_id,
    * score)` rows: keeps each query's `cap` rows smallest under
    * (score, vec_id). Lossless as a per-partition cut — the global
    * `cap` best are a subset of the union of per-partition bests. */
  def lowestPerQuery(rows: Iterator[(Long, Long, Double)],
                     cap: Int): Iterator[(Long, Long, Double)] = {
    // worst-first: the heap head is the row a better one evicts
    val worstFirst: Ordering[(Long, Long, Double)] = Ordering.by(t => (t._3, t._2))
    val heaps = scala.collection.mutable.Map
      .empty[Long, scala.collection.mutable.PriorityQueue[(Long, Long, Double)]]
    rows.foreach { c =>
      val h = heaps.getOrElseUpdate(c._1,
        new scala.collection.mutable.PriorityQueue[(Long, Long, Double)]()(worstFirst))
      if (h.size < cap) h.enqueue(c)
      else if (worstFirst.compare(c, h.head) < 0) { h.dequeue(); h.enqueue(c) }
    }
    heaps.valuesIterator.flatMap(_.iterator)
  }
}
