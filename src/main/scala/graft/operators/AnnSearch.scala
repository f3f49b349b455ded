package graft.operators

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, Row}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StructField, StructType}
import graft.functions.{VectorOps => V}

/** The query half every ANN tier shares. A tier generates candidates
  * its own way (float postings, ADC over PQ codes, decoded SQ8 codes);
  * what every search keeps is a [[Cut]] — the k best per query
  * ([[TopK]]) or everything at least τ similar ([[Radius]]) —
  * optionally restricted to corpus rows whose `label` equals the
  * query's (`sameLabel`, SQL equality: a null label on either side
  * matches nothing). Every tier's output has one shape,
  * `(query_id, neighbor_id, [label], [rank], cosine)` — `label` only
  * under `sameLabel`, `rank` only under [[TopK]].
  *
  * The compressed tiers (PQ, OPQ, SQ8) collect their query rows once
  * ([[queryRows]], validated before any scan) and end in an exact
  * float rescoring:
  *  - top-k ([[topK]]) is eager, with no window, no join and no
  *    candidate shuffle: the scan's per-partition heaps merge into
  *    each query's `Pq.Rerank` best by a tree reduction, one pass over
  *    the corpus restricted to those ids scores exact cosines against
  *    the collected query rows, and the k-cut and rank run on the
  *    driver. The driver holds a small multiple of Q·`Rerank`
  *    candidate rows and receives ids and scalars, never vectors; the
  *    answer is a local frame;
  *  - radius keeps the lazy join tail ([[rerank]]): its admitted set
  *    is data-dependent, not bounded.
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

  /** The float side a compressed tier scores exactly: `(vec_id, e,
    * [label], nrm)` off `vectors`, norms by the shared fold. */
  def floatCorpus(vectors: DataFrame, sameLabel: Boolean): DataFrame =
    vectors.select((Seq(col("vec_id"), V.toDouble(col("embedding")).as("e")) ++
      labelCols(sameLabel)): _*)
      .withColumn("nrm", V.l2Norm(col("e")))

  /** The query rows `pick` selects from `vn` ([[floatCorpus]]),
    * collected once: `Row(vec_id, e, nrm, [label])` in `vn`'s types. A
    * same-label search drops null-labelled queries (they match
    * nothing). Each row is checked here, before any scan: a null
    * embedding, or a norm that is zero or not finite, leaves every
    * cosine to the query undefined, so the search fails naming the id. */
  def queryRows(vn: DataFrame, pick: Column, sameLabel: Boolean): Array[Row] = {
    val rows = vn.filter(if (sameLabel) pick && col(Label).isNotNull else pick)
      .select((Seq(col("vec_id"), col("e"), col("nrm")) ++ labelCols(sameLabel)): _*)
      .collect()
    rows.foreach { r =>
      val why =
        if (r.isNullAt(1)) Some("a null embedding")
        else if (r.getDouble(2) > 0.0 && !r.getDouble(2).isInfinite) None
        else Some(s"an embedding of norm ${r.getDouble(2)}")
      why.foreach(w => throw new IllegalArgumentException(
        s"AnnSearch: query ${r.getLong(0)} has $w — its cosine to any vector is undefined"))
    }
    rows
  }

  /** Collected [[queryRows]] as the query side of a join, `(query_id,
    * qe, qnrm, [qlabel])`: a local frame, so joining it re-reads no
    * corpus. */
  private[operators] def queryFrame(vn: DataFrame, rows: Array[Row],
                                    sameLabel: Boolean): DataFrame =
    vn.sparkSession.createDataFrame(rows.toSeq.asJava, StructType(
      Seq(vn.schema("vec_id").copy(name = "query_id"), vn.schema("e").copy(name = "qe"),
        vn.schema("nrm").copy(name = "qnrm")) ++
        (if (sameLabel) Seq(vn.schema(Label).copy(name = "qlabel")) else Nil)))

  /** The exact float tail of radius searches (and of LSH): candidates
    * `(query_id, vec_id)` join the float corpus `vn` (vec_id, e, nrm,
    * [label]) and the `queries` frame (query_id, qe, qnrm), score exact
    * cosines, and [[finish]]. The output label is the corpus's, so its
    * type is the source column's. A radius candidate set is
    * data-dependent, so it stays a lazy join; bounded top-k candidates
    * take [[topK]]. */
  def rerank(cand: DataFrame, vn: DataFrame, queries: DataFrame,
             cut: Cut, sameLabel: Boolean): DataFrame =
    finish(cand.join(vn, "vec_id").join(queries, "query_id")
      .select((Seq(col("query_id"), col("vec_id")) ++ labelCols(sameLabel) :+
        cosineTo("e", "nrm")): _*), cut, sameLabel)

  /** The top-k tail of the compressed tiers, eager.
    * `heaps` holds the scan's per-partition `(query_id, vec_id, key)`
    * heaps ([[lowestPerQuery]], lower key better): they merge into each
    * query's `Pq.Rerank` best ([[mergeHeaps]]), one pass over `vn`
    * restricted to those ids scores exact cosines against the collected
    * `queries` ([[scoreExact]]), and the k-cut and rank run on the
    * driver ([[cutOnDriver]]). The answer is a local frame of at most
    * Q·k rows, `(query_id, neighbor_id, [label], rank, cosine)`, its
    * label typed as the corpus's. */
  def topK(heaps: Dataset[(Long, Long, Double)], vn: DataFrame, queries: Array[Row],
           k: Int, sameLabel: Boolean): DataFrame = {
    val sliver = mergeHeaps(heaps, Pq.Rerank).map { case (q, best) => q -> best.map(_._1) }
    val ids = Seq(StructField("query_id", LongType, false),
      StructField("neighbor_id", LongType, false)) ++
      (if (sameLabel) Seq(vn.schema(Label)) else Nil)
    vn.sparkSession.createDataFrame(
      cutOnDriver(scoreExact(vn, queries, sliver, sameLabel), k).toSeq.asJava,
      StructType(ids ++ Seq(StructField("rank", IntegerType, false),
        StructField("cosine", DoubleType, false))))
  }

  /** Each query's `cap` lowest `(vec_id, key)` under (key, vec_id),
    * ascending, out of the per-partition heaps `heaps` holds. A tree
    * reduction (`treeAggregate`): each partition folds to one map of at
    * most Q·`cap` entries. Past a handful of partitions Spark merges
    * those maps in a tree level on the executors (a shuffle of maps,
    * never of candidate rows); below that nothing shuffles. Either way
    * the driver receives O(√partitions) maps, never one row per heap
    * entry. Runs as an SQL execution of `heaps`' plan, so listeners see
    * the scan it executes. */
  def mergeHeaps(heaps: Dataset[(Long, Long, Double)],
                 cap: Int): Map[Long, Array[(Long, Double)]] = {
    type Best = Map[Long, Array[(Long, Double)]]
    val merge: (Best, Best) => Best = (a, b) =>
      (a.keySet ++ b.keySet).iterator.map { q =>
        q -> AnnSearch.lowest(a.getOrElse(q, Array.empty) ++ b.getOrElse(q, Array.empty), cap)
      }.toMap
    val qe = heaps.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("mergeHeaps")) {
      qe.toRdd.mapPartitions { rows =>
        val byQ = rows.map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2))))
          .toArray.groupBy(_._1)
        Iterator(byQ.map { case (q, rs) => q -> AnnSearch.lowest(rs.map(_._2), cap) })
      }.treeAggregate(Map.empty: Best)(merge, merge)
    }
  }

  /** The `cap` lowest `(vec_id, key)` under (key, vec_id) — the
    * [[lowestPerQuery]] order — ascending. */
  private[operators] def lowest(rows: Array[(Long, Double)], cap: Int): Array[(Long, Double)] =
    rows.sortWith { (a, b) =>
      val c = java.lang.Double.compare(a._2, b._2)
      if (c != 0) c < 0 else a._1 < b._1
    }.take(cap)

  /** One pass over `vn` restricted to the `sliver`'s ids (query →
    * vec_ids): each row's exact cosine against every collected query
    * whose sliver holds it, by the JVM twin of [[cosineTo]] ([[cosine]]).
    * Ships `(query_id, vec_id, [label], cosine)` — ids and scalars,
    * never vectors. */
  private[operators] def scoreExact(vn: DataFrame, queries: Array[Row],
                                    sliver: Map[Long, Array[Long]],
                                    sameLabel: Boolean): Array[Row] = {
    val byVec: Map[Long, Array[Long]] = sliver.toArray
      .flatMap { case (q, vids) => vids.map(_ -> q) }
      .groupBy(_._1).map { case (v, qs) => v -> qs.map(_._2) }
    if (byVec.isEmpty) return Array.empty
    val qv: Map[Long, (Array[Double], Double)] = queries
      .map(r => r.getLong(0) -> (r.getSeq[Double](1).toArray, r.getDouble(2))).toMap
    val out = StructType(Seq(StructField("query_id", LongType, false),
      StructField("vec_id", LongType, false)) ++
      (if (sameLabel) Seq(vn.schema(Label)) else Nil) :+
      StructField("cosine", DoubleType, false))
    vn.filter(col("vec_id").isInCollection(byVec.keys) && col("e").isNotNull)
      .select((Seq(col("vec_id"), col("e"), col("nrm")) ++ labelCols(sameLabel)): _*)
      .mapPartitions { rows =>
        rows.flatMap { r =>
          val vid = r.getLong(0)
          val e = r.getSeq[Double](1).toArray
          val nrm = r.getDouble(2)
          val label = if (sameLabel) Seq(r.get(3)) else Nil
          byVec(vid).iterator.map { q =>
            val (qe, qnrm) = qv(q)
            Row.fromSeq(Seq(q, vid) ++ label :+ AnnSearch.cosine(vid, e, nrm, qe, qnrm))
          }
        }
      }(Encoders.row(out))
      .collect()
  }

  /** JVM twin of [[cosineTo]] for vector `vid`: the ascending
    * sequential-fold dot (the `vec_dot` loop, which the `probesAgainst`
    * and `assignNearest` closures also run), then dot / (nrm·qnrm) —
    * bit-identical to the Spark column. Fails where the column does: on
    * a width mismatch, and on a zero denominator (the session's ANSI
    * divide). */
  private[operators] def cosine(vid: Long, e: Array[Double], nrm: Double,
                                qe: Array[Double], qnrm: Double): Double = {
    if (e.length != qe.length) throw new IllegalArgumentException(
      s"vec_dot: dimension mismatch (${e.length} vs ${qe.length}) at vector $vid")
    var dot = 0.0
    var i = 0
    while (i < e.length) { dot += e(i) * qe(i); i += 1 }
    val den = nrm * qnrm
    if (den == 0.0) throw new ArithmeticException(
      s"AnnSearch: vector $vid has norm 0 — its cosine is undefined")
    dot / den
  }

  /** [[finish]]'s [[TopK]] on the driver, over exactly scored rows
    * `(query_id, vec_id, [label], cosine)`: per query, order by
    * (cosine desc, vec_id) under Spark's double order (NaN above every
    * number, −0.0 equal to 0.0), keep the first `k` and rank them from
    * 1. Rows come out `(query_id, neighbor_id, [label], rank, cosine)`,
    * by query, then rank. */
  def cutOnDriver(scored: Array[Row], k: Int): Array[Row] = {
    def cmp(a: Double, b: Double): Int = if (a == b) 0 else java.lang.Double.compare(a, b)
    scored.groupBy(_.getLong(0)).toArray.sortBy(_._1).flatMap { case (_, rows) =>
      val c = rows.head.length - 1
      rows.sortWith { (a, b) =>
        val byCos = cmp(b.getDouble(c), a.getDouble(c))
        if (byCos != 0) byCos < 0 else a.getLong(1) < b.getLong(1)
      }.take(k).zipWithIndex.map { case (r, i) =>
        Row.fromSeq(r.toSeq.init ++ Seq[Any](i + 1, r.getDouble(c)))
      }
    }
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
