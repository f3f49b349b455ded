package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{VectorOps => V}

/** The write half every staged ANN tier shares — the lifecycle
  * counterpart of [[AnnSearch]]. A staged index is a few bounded
  * trained artifacts (centroids, codebooks, a rotation basis, a
  * quantizer grid) plus one payload tree partitioned by cell (by
  * erasure bucket on the flat SQ8 tier). Each operation on it is
  * written once here: [[write]] or [[stage]] a built index, [[read]]
  * a staged one, [[append]] a batch encoded against the live
  * version's artifacts, [[erase]] ids, report per-cell [[stats]] and
  * [[retrain]]. A [[Tier]] carries only what differs between tiers:
  * the tree and its partition column, the artifact names, how a batch
  * is encoded against the artifacts, its riding rule and whether its
  * payload is lossless.
  *
  * Metadata columns ride the tree next to the payload (the
  * metadata-in-index layout a same-label search filters on). The
  * float tier rides every non-key column of the vectors it was built
  * from and takes only batches carrying exactly that set; the
  * compressed tiers ride the `metaCols` named at build and take any
  * batch that carries them ([[Tier.ridesAll]]).
  *
  * Only `def`s, case classes and case objects live here: a `val` that
  * reads another operator object would reopen the object-init-cycle
  * class OracleInitSpec guards. */
object AnnIndex {

  sealed trait Tier {
    /** The payload tree: `postings` (float) or `codes`. */
    def tree: String
    /** The tree's partition column: `cell`, or `grp` on flat SQ8. */
    def partCol: String
    /** The tree's non-metadata columns, in the order consumers bind
      * them (partition column included). */
    def fixed: Seq[String]
    /** The trained artifact frames, in write order. */
    def artifacts: Seq[String]
    /** `batch` `(vec_id, embedding, …)` encoded against the artifacts
      * into the [[fixed]] columns. `dim > 0` is the input width;
      * otherwise it is read off the artifacts. */
    def encode(art: String => DataFrame, batch: DataFrame, dim: Int): DataFrame
    /** The riding rule: true rides every non-key column of the build's
      * vectors and takes only batches carrying exactly that set; false
      * rides the `metaCols` named at build and takes any batch that
      * carries them. */
    def ridesAll: Boolean = false
    /** Whether the tree holds the float vectors themselves (as `e`), so
      * the index can retrain from its own payload; compressed codes are
      * lossy. */
    def lossless: Boolean = false
  }

  /** Float IVF: centroids + float postings `(vec_id, e, nrm, cell)`. */
  case object FloatIvf extends Tier {
    def tree = "postings"
    def partCol = "cell"
    def fixed = Seq("vec_id", "e", "nrm", "cell")
    def artifacts = Seq("centroids")
    def encode(art: String => DataFrame, batch: DataFrame, dim: Int): DataFrame =
      assign(batch, art("centroids"), dim)._1.select(fixed.map(col): _*)
    override def ridesAll = true
    override def lossless = true
  }

  /** IVF-PQ: centroids + codebooks + M code ids per vector. */
  case object IvfPq extends Tier {
    def tree = "codes"
    def partCol = "cell"
    def fixed = Seq("vec_id", "cell", "codes")
    def artifacts = Seq("centroids", "codebooks")
    def encode(art: String => DataFrame, batch: DataFrame, dim: Int): DataFrame = {
      val (assigned, d) = assign(batch, art("centroids"), dim)
      pqCodes(art, unit(assigned), d)
    }
  }

  /** IVF-OPQ: the PQ frames plus the r-row rotation `basis`; cells
    * route in the original space, codes encode the rotated one. */
  case object IvfOpq extends Tier {
    def tree = "codes"
    def partCol = "cell"
    def fixed = Seq("vec_id", "cell", "codes")
    def artifacts = Seq("basis", "centroids", "codebooks")
    def encode(art: String => DataFrame, batch: DataFrame, dim: Int): DataFrame = {
      val ba = Pq.basisArrOf(art("basis"))
      val un = unit(assign(batch, art("centroids"), if (dim > 0) dim else ba(0).length)._1)
      // the build's column-form basis dots, so appended codes are
      // bit-identical to a rebuild's
      pqCodes(art, un.select(col("vec_id"),
        array(ba.map(b => V.dot(col("u"), array(b.map(lit): _*))): _*).as("u"),
        col("cell")), ba.length)
    }
  }

  /** Flat SQ8: the d-row `ranges` grid + int8 codes in
    * `grp = vec_id mod Sq8Buckets` erasure buckets. */
  case object Sq8 extends Tier {
    def tree = "codes"
    def partCol = "grp"
    def fixed = Seq("vec_id", "codes", "grp")
    def artifacts = Seq("ranges")
    def encode(art: String => DataFrame, batch: DataFrame, dim: Int): DataFrame = {
      val ranges = art("ranges")
      Quantize.quantizeCodesAgainst(batch, ranges,
        Some(if (dim > 0) dim.toLong else ranges.count()))
        .withColumn("grp", pmod(col("vec_id"), lit(Quantize.Sq8Buckets)))
    }
  }

  /** IVF-SQ8: centroids + the `ranges` grid + cell-partitioned int8
    * codes. */
  case object IvfSq8 extends Tier {
    def tree = "codes"
    def partCol = "cell"
    def fixed = Seq("vec_id", "cell", "codes")
    def artifacts = Seq("centroids", "ranges")
    def encode(art: String => DataFrame, batch: DataFrame, dim: Int): DataFrame = {
      val (assigned, d) = assign(batch, art("centroids"), dim)
      Quantize.quantizeCodesAgainst(batch, art("ranges"), Some(d.toLong))
        .join(assigned.select(col("vec_id"), col("cell")), "vec_id")
    }
  }

  /** A built or staged index: its tier, the artifact frames in
    * `tier.artifacts` order, and the payload tree. */
  trait Frames {
    def tier: Tier
    def artifacts: Seq[DataFrame]
    def tree: DataFrame
    def artifact(name: String): DataFrame = artifacts(tier.artifacts.indexOf(name))
  }

  /** A tier's frames as a plain value: what [[read]] returns and the
    * float and SQ8 builds produce. */
  final case class Index(tier: Tier, artifacts: Seq[DataFrame], tree: DataFrame)
    extends Frames

  /** Coarse assignment: `vectors` as `(vec_id, e, nrm, cell, sim)`
    * against the nearest of `centroids` (the build's argmax), plus the
    * width every vector must have — `dim` when positive, else the
    * centroids' own, read off the C rows the assignment collects
    * anyway. An empty artifact (a path that holds no staged index)
    * fails with a diagnosis. A vector that is not that wide fails
    * in-plan with a diagnosis — a short one would otherwise prefix-dot
    * its way into some cell and a long one fail deep in the assignment
    * loop. */
  private def assign(vectors: DataFrame, centroids: DataFrame, dim: Int): (DataFrame, Int) = {
    val cents = Similarity.centroidArray(centroids, "cell", "ce", "cn")
    if (cents.isEmpty) throw new IllegalStateException(
      "AnnIndex: the staged centroids artifact is empty — stage an index " +
        "before appending to it")
    val d = if (dim > 0) dim else cents.head._2.length
    val v = vectors.select(col("vec_id"),
      when(size(col("embedding")) === lit(d), V.toDouble(col("embedding")))
        .otherwise(raise_error(concat(
          lit("AnnIndex: vector "), col("vec_id"), lit(" has "),
          size(col("embedding")),
          lit(s" dims, but the staged index has $d dims " +
            s"(the index encodes $d-dim vectors)")))
          .cast("array<double>"))
        .as("e"))
      .withColumn("nrm", V.l2Norm(col("e")))
    (Similarity.assignNearestTo(v, cents, "cell"), d)
  }

  private def unit(assigned: DataFrame): DataFrame =
    assigned.select(col("vec_id"),
      transform(col("e"), x => x / col("nrm")).as("u"), col("cell"))

  /** [[Pq.encodeCodes]] of `(vec_id, u, cell)` rows `encDim` wide
    * against the staged codebooks. */
  private def pqCodes(art: String => DataFrame, un: DataFrame, encDim: Int): DataFrame = {
    require(encDim % Pq.M == 0, s"encoded dim $encDim must be divisible by M=${Pq.M}")
    Pq.encodeCodes(un, Pq.centsByMFrom(art("codebooks")), encDim / Pq.M)
  }

  /** The metadata columns riding `tree`: all but the tier's fixed ones. */
  private def riding(tier: Tier, tree: DataFrame): Seq[String] =
    tree.columns.toSeq.filterNot(tier.fixed.contains)

  /** `rows` with the `cols` of `source` joined on by vec_id — the
    * metadata riding a tree. */
  private[operators] def ride(rows: DataFrame, source: DataFrame, cols: Seq[String]): DataFrame =
    if (cols.isEmpty) rows
    else rows.join(source.select((Seq("vec_id") ++ cols).map(col): _*), "vec_id")

  /** `batch` encoded against `ix`'s artifacts, with `ix`'s riding
    * metadata: the rows an append lands. A batch whose metadata breaks
    * the tier's riding rule fails here, before anything is written; a
    * vector of the wrong width fails when the rows are computed. */
  def encode(ix: Frames, batch: DataFrame): DataFrame = {
    val meta = riding(ix.tier, ix.tree)
    if (ix.tier.ridesAll) {
      val batchMeta = batch.columns.toSet -- Set("vec_id", "embedding")
      require(batchMeta == meta.toSet,
        s"AnnIndex.append: batch metadata columns $batchMeta do not match the " +
          s"staged ${ix.tier.tree}' ${meta.toSet} — stage and append the same shape")
    } else {
      val missing = meta.filterNot(batch.columns.contains)
      require(missing.isEmpty,
        s"AnnIndex.append: the staged ${ix.tier.tree} ride metadata columns " +
          s"$meta but the batch lacks $missing — appends must carry the " +
          "index's riding set")
    }
    ride(ix.tier.encode(ix.artifact, batch, 0), batch, meta)
  }

  /** Write `ix` under `path`: each artifact frame, then the tree
    * partitioned by the tier's partition column. The tree lands in a
    * sibling `_tmp` directory and swaps in by delete + rename: a
    * partitioned overwrite in place would replace only the partitions
    * the new tree fills (the session's dynamic partitionOverwriteMode)
    * and leave an older tree's other partitions to rejoin every scan,
    * and a crash mid-write leaves the complete new tree at `_tmp`.
    * Artifacts and tree are separate commits; restaging a LIVE index
    * goes through [[stage]], whose pointer flip makes them one. */
  def write(ix: Frames, path: String): Unit = {
    val t = ix.tier
    t.artifacts.zip(ix.artifacts).foreach { case (name, df) =>
      df.write.mode("overwrite").parquet(s"$path/$name")
    }
    val dst = new Path(s"$path/${t.tree}")
    val tmp = new Path(s"$path/${t.tree}_tmp")
    val fs = dst.getFileSystem(ix.tree.sparkSession.sparkContext.hadoopConfiguration)
    fs.delete(tmp, true)
    ix.tree.repartition(col(t.partCol))
      .write.mode("overwrite").partitionBy(t.partCol).parquet(tmp.toString)
    fs.delete(dst, true)
    if (!fs.rename(tmp, dst))
      throw new IllegalStateException(
        s"AnnIndex.write: rename $tmp -> $dst failed; the new ${t.tree} tree " +
          s"is intact at $tmp")
  }

  /** The tree of a staged index with the fixed columns first and the
    * partition column pinned to long (partition discovery appends it
    * last and may infer it narrow), metadata after. */
  private def readTree(spark: SparkSession, path: String, tier: Tier): DataFrame = {
    val raw = IndexManifest.readFrame(spark, path, tier.tree)
    raw.select((tier.fixed.map(c =>
      if (c == tier.partCol) col(c).cast("long").as(c) else col(c)) ++
      riding(tier, raw).map(col)): _*)
  }

  /** The frames of the index staged at `path` (a plain directory or a
    * resolved manifest version). */
  def read(spark: SparkSession, path: String, tier: Tier): Index =
    Index(tier, tier.artifacts.map(IndexManifest.readFrame(spark, path, _)),
      readTree(spark, path, tier))

  /** Stage `ix` as the next version of the manifest-rooted index at
    * `root` — the entry point of the atomic lifecycle and the only
    * way to restage a live index. Returns the published version
    * directory. */
  def stage(ix: Frames, root: String): String =
    IndexManifest.publish(ix.tree.sparkSession, root)(write(ix, _))

  /** ATOMIC append: `batch` encoded against the live version's frozen
    * artifacts ([[encode]]) lands through
    * [[IndexManifest.appendRowsAtomic]] — artifacts and untouched
    * partitions are inherited by reference, the batch's partitions
    * rewrite as old ∪ new, one pointer flip. The publish is pinned to
    * the retrain epoch of the version the batch was encoded against, so
    * a retrain landing mid-flight fails the append instead of placing
    * its rows at stale cells. Returns appended rows. */
  def append(spark: SparkSession, root: String, tier: Tier, batch: DataFrame,
             keep: Int = 2): Long = {
    val live = IndexManifest.currentOrFail(spark, root)
    land(spark, root, tier, encode(read(spark, live, tier), batch),
      IndexManifest.epochOf(spark, live), keep)
  }

  /** Publish already-encoded tree rows (encoded under retrain `epoch`)
    * as the next version — [[append]]'s landing step, shared with the
    * streaming ingest sink. */
  private[graft] def land(spark: SparkSession, root: String, tier: Tier,
                          rows: DataFrame, epoch: Long, keep: Int): Long =
    IndexManifest.appendRowsAtomic(spark, root, tier.tree, tier.partCol, rows,
      keep, requireEpoch = Some(epoch))

  /** ATOMIC right-to-erasure: drop the tree rows of `vecIds` through
    * [[IndexManifest.deleteVecIdsAtomic]] — only partitions holding an
    * erased id are rewritten, emptied ones vanish. The artifacts are
    * trained aggregates, not personal records, and stand until the
    * next retrain. Returns deleted rows. */
  def erase(spark: SparkSession, root: String, tier: Tier, vecIds: Seq[Long],
            keep: Int = 2): Long =
    IndexManifest.deleteVecIdsAtomic(spark, root, tier.tree, tier.partCol,
      vecIds, keep)

  /** Per-cell health of the index staged at `path`: appends assign
    * against FROZEN centroids, so cells skew as the corpus drifts —
    * this report is the retrain pre-flight. One row per non-empty
    * cell: rows `n`, appended rows `n_appended` (vec_id ≥
    * `appendedFrom`, the caller's ingest watermark), `frac_appended`,
    * and `skew` = n·C/total (1.0 = balanced). Every division is an
    * IEEE double of exact integers, and every tier assigns with the
    * same coarse quantizer, so one oracle covers all tiers. */
  def stats(spark: SparkSession, path: String, tier: Tier,
            appendedFrom: Long): DataFrame = {
    require(tier.partCol == "cell", s"AnnIndex.stats: $tier has no cells")
    val ix = read(spark, path, tier)
    val perCell = ix.tree.groupBy(col("cell"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("vec_id") >= appendedFrom, lit(1L)).otherwise(lit(0L)))
          .as("n_appended"))
    val tot = perCell.agg(sum(col("n")).as("tot"))
    val nc = ix.artifact("centroids").agg(count(lit(1)).as("c"))
    perCell.crossJoin(broadcast(tot)).crossJoin(broadcast(nc))
      .select(col("cell"), col("n"), col("n_appended"),
        (col("n_appended").cast("double") / col("n").cast("double"))
          .as("frac_appended"),
        ((col("n") * col("c")).cast("double") / col("tot").cast("double"))
          .as("skew"))
  }

  /** Retrain a drifted manifest-rooted index: `build(corpus, riding)`
    * — fresh artifacts, with the live tree's riding metadata — is
    * published through [[IndexManifest.publishRetrain]], the enforced
    * fence (it refuses while a streaming sink holds unpublished rows
    * and advances the retrain epoch appends are pinned to). Readers
    * overlapping the retrain keep serving the old version; superseded
    * versions retire behind `keep`. `corpus` null retrains from the
    * index's own payload, which only a [[Tier.lossless]] tier can;
    * the others name the corpus they serve. `build` must produce
    * `tier`'s frames. Returns the published version directory. */
  def retrain(spark: SparkSession, root: String, tier: Tier,
              corpus: DataFrame = null, keep: Int = 2)
             (build: (DataFrame, Seq[String]) => Frames): String = {
    val live = IndexManifest.currentOrFail(spark, root)
    val tree = readTree(spark, live, tier)
    val meta = riding(tier, tree)
    // built before the publish claims a version, so a build for the
    // wrong tier fails without leaving a claim behind
    def publish(source: DataFrame): String = {
      val built = build(source, meta)
      require(built.tier == tier,
        s"AnnIndex.retrain: the build produced a ${built.tier} index for a $tier root")
      IndexManifest.publishRetrain(spark, root, keep)(write(built, _))
    }
    if (corpus != null) publish(corpus)
    else {
      require(tier.lossless,
        s"AnnIndex.retrain: $tier codes are lossy — name the corpus to retrain from")
      Scratch.staged(tree.select((Seq(col("vec_id"), col("e").as("embedding")) ++
        meta.map(col)): _*), "ann_retrain_corpus")(publish)
    }
  }

  /** The append keys' sequence: stage `build` over the lower half of
    * `vectors` (vec_id ≤ max/2) at the scratch root for `prefix`,
    * append the upper half against its frozen artifacts, and return
    * (live version, the cut). */
  def halfAppended(vectors: DataFrame, prefix: String)
                  (build: DataFrame => Frames): (String, Long) = {
    val spark = vectors.sparkSession
    val cut = vectors.agg(max(col("vec_id"))).collect()(0).getLong(0) / 2
    val root = Scratch.reuseDir(prefix)
    val base = build(vectors.filter(col("vec_id") <= cut))
    stage(base, root)
    append(spark, root, base.tier, vectors.filter(col("vec_id") > cut))
    (IndexManifest.currentOrFail(spark, root), cut)
  }

  /** The erasure keys' sequence: stage `build` over `vectors` at the
    * scratch root for `prefix`, erase ids
    * [[Similarity.DeleteLo]]..[[Similarity.DeleteHi]], and return the
    * live version. */
  def erased(vectors: DataFrame, prefix: String)(build: DataFrame => Frames): String = {
    val spark = vectors.sparkSession
    val root = Scratch.reuseDir(prefix)
    val ix = build(vectors)
    stage(ix, root)
    erase(spark, root, ix.tier, Similarity.DeleteLo to Similarity.DeleteHi)
    IndexManifest.currentOrFail(spark, root)
  }
}
