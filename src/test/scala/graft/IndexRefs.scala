package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.operators.IndexManifest

/** Manifest-free references for the index delta specs: what an append
  * or an erasure must leave in a version, derived from the version it
  * started from without going through the delta path. */
object IndexRefs {

  /** vec_id -> partition value of a version's tree. */
  def partOf(spark: SparkSession, version: String, tree: String,
             partCol: String = "cell"): Map[Long, Long] =
    IndexManifest.readFrame(spark, version, tree)
      .select(col("vec_id"), col(partCol).cast("long")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** Every float posting row of a version as (vec_id, e, nrm, cell). */
  def postingRows(spark: SparkSession,
                  version: String): Set[(Long, Seq[Double], Double, Long)] =
    IndexManifest.readFrame(spark, version, "postings")
      .select(col("vec_id"), col("e"), col("nrm"), col("cell").cast("long"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1), r.getDouble(2), r.getLong(3)))
      .toSet

  /** `vectors` assigned to the nearest of `version`'s float centroids
    * in plain Scala: cosine argmax with sequential-fold dots, centroids
    * in id order, first maximum wins — the engine's assignment rule
    * (SimilaritySpec pins the two equal). */
  def freshCells(spark: SparkSession, version: String,
                 vectors: DataFrame): Map[Long, Long] = {
    val cents = IndexManifest.readFrame(spark, version, "centroids").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2)))
      .sortBy(_._1)
    vectors.select("vec_id", "embedding").collect().map { r =>
      val e = r.getSeq[Float](1).toArray.map(_.toDouble)
      val nrm = math.sqrt(e.map(x => x * x).sum)
      var best = -1L; var bestSim = 0.0; var first = true
      cents.foreach { case (c, ce, cn) =>
        var dot = 0.0; var j = 0
        while (j < e.length) { dot += e(j) * ce(j); j += 1 }
        val sim = dot / (nrm * cn)
        if (first || sim > bestSim) { best = c; bestSim = sim; first = false }
      }
      r.getLong(0) -> best
    }.toMap
  }
}
