package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.functions.{VectorOps => V}
import graft.operators.AnnSearch.{Cut, Radius, TopK}

/** Product-quantization ANN (key `knn_pq`) — the compressed-codes
  * scale path of the similarity tier (SURVEY §2.4), completing the
  * brute-force → LSH-bucketed → IVF-probed → PQ-compressed ladder.
  *
  * Shape: each unit-normalized vector is split into `M` subvectors;
  * per subspace a tiny `Kc`-entry codebook is trained (deterministic
  * seeds + one Lloyd refinement, exactly the IVF build recipe per
  * subspace); every vector is then stored as `M` small code ids. A
  * query scans CODES, not floats: it precomputes a `M×Kc`
  * distance table against the codebooks (squared L2 in the normalized
  * space, so the ordering tracks cosine: |q-x|² = 2-2·cos on unit
  * vectors), sums table lookups per candidate (asymmetric distance
  * computation), and exact-reranks only the top `Rerank` candidates.
  *
  * 100 TB: the corpus-resident structure the ADC scan touches is
  * M small ints per vector — a ~32× compression of a float64-widened
  * 64-dim embedding column, which is the reason PQ is the standard
  * billion-vector memory path. The codebooks (≤ M·Kc rows) and the
  * per-query-batch distance table (≤ Q·M·Kc rows) are bounded-size
  * driver collects shipped to every task in the scan closure; the
  * scan itself is ONE narrow pass over the corpus — encode, ADC
  * lookup-sum, and per-partition Rerank-heaps per query (the
  * knn_bruteforce pruning argument: the global top-Rerank by
  * (adist, vec_id) is a subset of the union of per-partition
  * top-Reranks). The heaps merge into the Rerank·Q sliver by a tree
  * reduction and the exact scoring and k-cut finish on the driver
  * ([[AnnSearch.topK]]): no candidate row is shuffled.
  * Queries batch — Q is the throughput knob, and candidate
  * generation work is codes·Q, independent of float width.
  *
  * Determinism (the oracle replays every step bit-for-bit): unit
  * normalization divides by the sequential-fold norm; seeds are the
  * `Kc` lowest vec_ids' subvectors (code id = seed vec_id, the IVF
  * convention); squared distance is the fixed expression
  * ((a·a - 2·(a·b)) + b·b) — 2·x is exact in IEEE — over bit-identical
  * sequential-fold dots; Lloyd means are DECIMAL(30,10)-accumulated;
  * every argmin/rank tie breaks on the code/vec id; the ADC sum folds
  * its M terms in subspace order. */
object Pq {

  /** Subspaces (embedding dim must divide evenly). */
  val M = 8
  /** Codebook entries per subspace. */
  val Kc = 16
  /** ADC candidates per query that get the exact cosine rerank. */
  val Rerank = 40

  import Similarity.{K, NQueries}

  /** Squared L2 distance with a fixed, cross-engine-portable
    * parenthesization: ((a·a − 2·(a·b)) + b·b). */
  private def l2sq(a: Column, b: Column): Column =
    (V.dot(a, a) - lit(2.0) * V.dot(a, b)) + V.dot(b, b)

  /** JVM twin of the [[l2sq]]-argmin: index of the codebook entry
    * nearest to `u[off, off+subW)`. Three independent accumulators in
    * one loop produce the exact bits of three separate sequential
    * folds, so the d2 values equal the column form's; iterating in
    * ascending-code order with strict-< replacement ties to the
    * lowest code — the oracle's (d2, code) row_number convention.
    * `cm` must be sorted by code id. */
  /** JVM twin of the [[l2sq]] column over `u[off, off+subW)` vs `cs`:
    * three independent accumulators in one loop produce the exact
    * bits of three separate sequential folds. */
  private[operators] def d2At(u: Array[Double], off: Int, subW: Int,
      cs: Array[Double]): Double = {
    var aa = 0.0; var ab = 0.0; var bb = 0.0
    var i = 0
    while (i < subW) {
      val av = u(off + i); val bv = cs(i)
      aa += av * av; ab += av * bv; bb += bv * bv
      i += 1
    }
    (aa - 2.0 * ab) + bb
  }

  private[operators] def argminCode(u: Array[Double], off: Int, subW: Int,
      cm: Array[(Long, Array[Double])]): Int = {
    var best = -1
    var bestD = 0.0
    var kk = 0
    while (kk < cm.length) {
      val d2 = d2At(u, off, subW, cm(kk)._2)
      if (best < 0 || d2 < bestD) { best = kk; bestD = d2 }
      kk += 1
    }
    best
  }

  def knnPq(spark: SparkSession, dir: String, k: Int = K): DataFrame =
    knnPqOn(Tables.embeddings(spark, dir), k)

  def knnPqOn(vectors: DataFrame, k: Int = K, dim: Int = 0): DataFrame = {
    val d =
      if (dim > 0) dim
      else vectors.select(size(col("embedding")).as("__d"))
        .filter(col("__d").isNotNull).limit(1).collect().headOption match {
        case Some(r) => r.getInt(0)
        case None =>
          // empty corpus: empty result, schema-stable (knnLsh precedent)
          return AnnSearch.empty(vectors, TopK(k), sameLabel = false)
      }
    // float → double → unit-normalize (|q-x|² = 2-2cos thereafter)
    val vn = vectors
      .select(col("vec_id"), V.toDouble(col("embedding")).as("e"))
      .withColumn("nrm", V.l2Norm(col("e")))
    val un = vn.select(col("vec_id"),
      transform(col("e"), x => x / col("nrm")).as("u"))
    pqAdcSearchOn(un, vn, d, k)
  }

  /** The PQ build + ADC search pipeline over a prepared UNIT frame
    * `un` (vec_id, u: array<double>, any width `d` divisible by M) —
    * the shared eager top-k tail ([[AnnSearch.topK]]) scores exactly
    * against the float corpus `vn` (vec_id, e, nrm), whose query rows
    * (vec_id < NQueries) are collected and checked first.
    * Shared verbatim by [[knnPqOn]] (u = the unit-normalized corpus),
    * [[knnIvfPqOn]] (the same, cell-tagged), and [[Opq.knnOpqOn]] /
    * [[Opq.knnIvfOpqOn]] (u = the PCA-rotated unit corpus): the
    * rotation changes the GEOMETRY the codebooks train in, nothing
    * about the build/scan/rerank machinery.
    *
    * `probes`, when given, makes the corpus pass CELL-PRUNED (the
    * IVFADC cut): `un` must then carry a third `cell` column, vectors
    * in unprobed cells skip encode AND ADC entirely, and each query
    * scores only its own probed cells. The codebook build and every
    * other step are byte-identical to the unpruned scan — pruning
    * only restricts the candidate set (the knn_ivf_pq discipline). */
  private[operators] def pqAdcSearchOn(un: DataFrame, vn: DataFrame,
                                       d: Int, k: Int,
                                       probes: Option[(Map[Long, Set[Long]], Set[Long])] = None)
      : DataFrame = {
    require(d % M == 0, s"PQ input dim $d must be divisible by M=$M")
    val queries = AnnSearch.queryRows(vn, col("vec_id") < NQueries, sameLabel = false)
    if (queries.isEmpty) return AnnSearch.empty(vn, TopK(k), sameLabel = false)
    val sub = d / M
    val unFlat = if (probes.isEmpty) un else un.select(col("vec_id"), col("u"))

    // query-side subvectors (≤ NQueries rows after pushdown) — the
    // corpus-sized explode this once was is gone: the corpus-side
    // assignment below runs as a JVM argmin inside one narrow pass
    def subvecs(frame: DataFrame): DataFrame = frame
      .select(col("vec_id"), explode(sequence(lit(0), lit(M - 1))).as("m"), col("u"))
      .select(col("vec_id"), col("m"),
        slice(col("u"), col("m") * sub + 1, lit(sub)).as("s"))
    val sv = subvecs(unFlat)

    val spark = un.sparkSession
    import spark.implicits._
    val subW = sub

    // --- codebooks: seeds = the Kc lowest vec_ids' subvectors (code id
    //     = seed vec_id), one Lloyd refinement with decimal-exact means.
    //     The seed table is a bounded collect (≤ Kc rows); the first
    //     assignment is the same JVM argmin loop the search scan uses
    //     (bit-identical to the l2sq column — three independent
    //     sequential-fold accumulators in one loop produce the exact
    //     bits of three separate folds), so the corpus pass emits ONE
    //     slim (m, code, subvec) row per (vector, subspace) straight
    //     into the mean aggregate — the n·M·Kc join blowup an
    //     equivalent min_by-over-join formulation pays (measured 131 s
    //     of a 300 s 100× run) never materializes. The mean itself
    //     stays a Spark decimal(30,10) sum: decimal addition is exact,
    //     hence order-independent, hence any partial-aggregation shape
    //     reproduces the oracle's bits.
    val seedsByM: Array[Array[(Long, Array[Double])]] = {
      val rows = unFlat.orderBy(col("vec_id")).limit(Kc).collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
        .sortBy(_._1) // argminCode requires ascending-code order
      Array.tabulate(M)(m => rows.map { case (vid, u) =>
        (vid, java.util.Arrays.copyOfRange(u, m * subW, (m + 1) * subW)) })
    }
    val fa = unFlat.as[(Long, Array[Double])].mapPartitions { it =>
      it.flatMap { case (_, u) =>
        (0 until M).iterator.map { m =>
          val cm = seedsByM(m)
          val best = Pq.argminCode(u, m * subW, subW, cm)
          (m, cm(best)._1,
            java.util.Arrays.copyOfRange(u, m * subW, (m + 1) * subW))
        }
      }
    }.toDF("m", "code", "s")
    val cents = fa
      .select(col("m"), col("code"), posexplode(col("s")).as(Seq("pos", "v")))
      .groupBy(col("m"), col("code"), col("pos"))
      .agg((sum(col("v").cast("decimal(30,10)")).cast("double") / count(col("v")))
        .as("mean"))
      .groupBy(col("m"), col("code"))
      .agg(sort_array(collect_list(struct(col("pos"), col("mean")))).as("pm"))
      .select(col("m"), col("code"),
        transform(col("pm"), p => p.getField("mean")).as("cs"))

    // --- search structures: per-query distance table against the
    //     codebooks. Both collects are bounded — cents ≤ M·Kc rows,
    //     dt ≤ NQueries·M·Kc rows — the PQ contract's whole point is
    //     that these are the only non-corpus-resident structures.
    val dt = sv.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("m"), col("s").as("qs"))
      .join(broadcast(cents), "m")
      .select(col("query_id"), col("m"), col("code"),
        l2sq(col("qs"), col("cs")).as("d2"))
    // codebook entries per subspace, sorted by code id: iteration in
    // ascending-code order with strict-< replacement makes the encode
    // argmin tie-break to the lowest code (the min_by/row_number
    // convention in the oracle)
    val centsByM: Array[Array[(Long, Array[Double])]] = {
      val rows = cents.collect().map(r =>
        (r.getInt(0), r.getLong(1), r.getSeq[Double](2).toArray))
      Array.tabulate(M)(m =>
        rows.filter(_._1 == m).sortBy(_._2).map(t => (t._2, t._3)))
    }
    // dt indexed [query][m][code-rank] with the same ascending-code
    // index the encode step produces
    val dtRows = dt.collect().map(r =>
      (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    val qIds: Array[Long] = dtRows.map(_._1).distinct.sorted
    val dtByQ: Map[Long, Array[Array[Double]]] = qIds.map { q =>
      q -> Array.tabulate(M) { m =>
        val codeIdx = centsByM(m).iterator.map(_._1).zipWithIndex.toMap
        val row = new Array[Double](centsByM(m).length)
        dtRows.iterator.filter(t => t._1 == q && t._2 == m)
          .foreach(t => row(codeIdx(t._3)) = t._4)
        row
      }
    }.toMap

    // --- the ONE corpus pass: encode (argmin per subspace over the
    //     codebook, the same ((a·a − 2·a·b) + b·b) sequential-fold
    //     arithmetic as the l2sq column — three independent
    //     accumulators in one loop produce the exact bits of three
    //     separate folds), ADC sum in subspace order, and a bounded
    //     Rerank-heap per query per partition
    //     ([[AnnSearch.lowestPerQuery]] under (adist asc, vec_id asc))
    // a FUNCTION VALUE, not a nested def: a def here compiles to a
    // method on the Pq module, and the mapPartitions lambda would
    // capture the (non-serializable) module instance to call it
    val scanPartition: (Iterator[(Long, Array[Double], Long)],
                        (Long, Long) => Boolean) => Iterator[(Long, Long, Double)] =
        (it, admit) => {
      // one buffer per partition: a vector's hits are all consumed
      // (the heaps take each row as it comes) before the next vector
      // is encoded into it
      val codesBuf = new Array[Int](M)
      AnnSearch.lowestPerQuery(it.flatMap { case (vid, u, cell) =>
        val hits = qIds.iterator.filter(q => q != vid && admit(q, cell))
        if (hits.hasNext) {
          // encoded once per vector, and only when some query scores it
          var m = 0
          while (m < M) {
            codesBuf(m) = Pq.argminCode(u, m * subW, subW, centsByM(m))
            m += 1
          }
        }
        hits.map { q =>
          val dtm = dtByQ(q)
          var acc = 0.0
          var mm = 0
          while (mm < M) { acc += dtm(mm)(codesBuf(mm)); mm += 1 }
          (q, vid, acc)
        }
      }, Rerank)
    }
    val heaps = probes match {
      case None =>
        unFlat.as[(Long, Array[Double])]
          .mapPartitions(it =>
            scanPartition(it.map { case (vid, u) => (vid, u, 0L) },
              (_, _) => true))
      case Some((byQ, probedCells)) =>
        un.as[(Long, Array[Double], Long)]
          .mapPartitions(it =>
            scanPartition(it.filter(t => probedCells.contains(t._3)),
              (q, cell) => byQ(q).contains(cell)))
    }

    // --- the shared top-k tail: heaps merged into the Rerank·Q
    //     sliver, exact cosines, the k-cut on the driver
    AnnSearch.topK(heaps, vn, queries, k, sameLabel = false)
  }

  /** Collect each query's probed cells off a built IVF index — the
    * nprobe nearest cells by centroid cosine, as a driver map shipped
    * in scan closures. Bounded: Q·C candidate rows, Q·nprobe
    * survivors. Shared by [[knnIvfPqOn]] and [[Opq.knnIvfOpqOn]].
    * Returns (probed cells per query, the union of probed cells). */
  private[operators] def collectProbes(indexed: DataFrame, centroids: DataFrame,
                                       nprobe: Int = Similarity.IvfNProbe)
      : (Map[Long, Set[Long]], Set[Long]) = {
    val probeW = Window.partitionBy(col("query_id"))
      .orderBy(col("cdist").desc, col("cell"))
    val rows = indexed.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("e").as("qe"), col("nrm").as("qnrm"))
      .join(broadcast(centroids))
      .withColumn("cdist", V.cosineWithNorms(
        V.dot(col("qe"), col("ce")), col("qnrm"), col("cn")))
      .withColumn("rk", row_number().over(probeW))
      .filter(col("rk") <= nprobe)
      .select(col("query_id"), col("cell"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    (rows.groupBy(_._1).map { case (q, cs) => q -> cs.map(_._2).toSet },
      rows.map(_._2).toSet)
  }

  /** IVF-pruned PQ search (key `knn_ivf_pq`) — the composed IVFADC
    * layout (Jégou et al. 2011, the FAISS `IndexIVFPQ` shape): a
    * coarse quantizer routes each query to its `nprobe` nearest cells,
    * and the PQ code scan pays ADC work ONLY for vectors in probed
    * cells. This is the standard billion-vector serving layout: the
    * inverted file bounds which codes a query touches (~nprobe/C of
    * the corpus), PQ bounds the bytes per touched code (M small ints).
    *
    * 100 TB: on a cluster the lake would be CLUSTERED BY cell (the
    * `layout_zorder`/bucketing tie-in), so the probe prunes FILES, not
    * just work — here the single pass skips the encode+ADC for any
    * vector whose cell no query probes, which is the same asymptotic
    * cut without the physical layout. Everything non-corpus-resident
    * stays bounded: centroids (C rows), codebooks (M·Kc), per-query
    * probe sets (Q·nprobe), distance tables (Q·M·Kc).
    *
    * Determinism: the IVF build and the PQ build are the two existing
    * bit-exact replays composed unchanged; pruning only restricts the
    * candidate set (cell membership is the ranked-assignment contract
    * from the IVF oracle), so the composition introduces no new
    * arithmetic beyond the ADC sums already proven portable. */
  def knnIvfPq(spark: SparkSession, dir: String, k: Int = K): DataFrame =
    knnIvfPqOn(Tables.embeddings(spark, dir), k)

  /** Driver query (key `knn_ivf_pq_append`): the incremental-
    * maintenance lifecycle run END TO END through the cross-engine
    * gate — day-0 build on the base half of the corpus
    * (`vec_id <= max/2`), staged as a manifest version, then the
    * ATOMIC append of the rest ([[AnnIndex.halfAppended]] — the batch
    * encoded against the frozen staged artifacts lands as a
    * reference-inherited new version with one pointer flip) and the
    * staged-index query path over the full corpus off the live
    * version. The oracle replays [[buildIvfPq]]`(all, trainOn = base)`
    * — bit-identical to the append by the SimilaritySpec equation (and
    * to the atomic form by ManifestAtomicSpec) — so a hash match checks
    * the append arithmetic itself, not just its agreement with a
    * rebuild inside one engine. */
  def knnIvfPqAppend(spark: SparkSession, dir: String): DataFrame = {
    val vectors = Tables.embeddings(spark, dir)
    val (live, _) = AnnIndex.halfAppended(vectors, "ivf_pq_append_key_root")(buildIvfPq(_))
    queryIvfPq(readIvfPqIndex(spark, live), vectors, 0L until Similarity.NQueries.toLong)
  }

  /** Erased id slice of the erasure-lifecycle driver keys: bounded
    * (50 ids — erasure requests are request-sized, the GDPR regime),
    * disjoint from the query ids, and trivially SQL-expressible so the
    * oracle can exclude exactly these candidates. At a corpus too
    * small to contain the slice the delete is a no-op on BOTH sides —
    * the key stays consistent at every sf. Defined on [[Similarity]]
    * (aliased here for the existing call sites) so the float tier's
    * oracle val never triggers THIS object's init mid-way through
    * Similarity's own — the circular-init hazard documented at
    * [[Similarity.DeleteLo]]. */
  val DeleteLo = Similarity.DeleteLo
  val DeleteHi = Similarity.DeleteHi

  /** Driver query (key `knn_ivf_pq_delete`): the erasure half of the
    * index CRUD lifecycle run END TO END through the cross-engine gate
    * — build over the full corpus, stage as a manifest version, erase
    * ids [[DeleteLo]]..[[DeleteHi]] atomically ([[AnnIndex.erased]] —
    * only their cell directories are rewritten), then the staged-index
    * query path off the live version. The oracle replays the classic
    * composed IVFADC search with exactly those ids removed from
    * candidate enumeration — centroids, codebooks, probes, and every
    * surviving code are unchanged by an erasure (they are trained
    * aggregates, not per-record state), which is precisely the
    * arithmetic claim the hash match checks. The heavyweight engine-
    * internal equations (survivor-rebuild equality, untouched-cell
    * byte-identity, idempotence) live in SimilaritySpec. */
  def knnIvfPqDelete(spark: SparkSession, dir: String): DataFrame = {
    val vectors = Tables.embeddings(spark, dir)
    queryIvfPq(readIvfPqIndex(spark,
      AnnIndex.erased(vectors, "ivf_pq_delete_key_root")(buildIvfPq(_))),
      vectors, 0L until NQueries.toLong)
  }

  /** `cells <= 0` (the default) auto-sizes the coarse quantizer
    * ([[Similarity.autoCells]], C=⌈√(n/2)⌉); an explicit positive C
    * pins it. The fixed 16-cell knob this replaces left ~corpus/16 of
    * the codes in every probed cell at 2M vectors — the ScaleCheck-
    * measured build-dominated 180 s — where √(n/2) keeps the probed
    * fraction shrinking as the corpus grows. */
  def knnIvfPqOn(vectors: DataFrame, k: Int = K, dim: Int = 0,
                 cells: Int = 0): DataFrame = {
    val d =
      if (dim > 0) dim
      else vectors.select(size(col("embedding")).as("__d"))
        .filter(col("__d").isNotNull).limit(1).collect().headOption match {
        case Some(r) => r.getInt(0)
        case None => return AnnSearch.empty(vectors, TopK(k), sameLabel = false)
      }
    require(d % M == 0, s"embedding dim $d must be divisible by M=$M")
    // coarse index: the shared IVF build (auto-C by default — the same
    // knob knn_ivf and the dedup tier run on); the PQ build, the
    // cell-pruned ADC scan and the rerank are [[pqAdcSearchOn]]'s
    val (indexed, centroids) =
      Similarity.ivfIndex(vectors, cells, "ivf_centroids_knn_ivf_pq")
    val un = indexed.select(col("vec_id"),
      transform(col("e"), x => x / col("nrm")).as("u"), col("cell"))
    pqAdcSearchOn(un, indexed.select(col("vec_id"), col("e"), col("nrm")), d, k,
      Some(collectProbes(indexed, centroids)))
  }

  // --- serving-shape split: build once, stage, query many ---------------

  /** A staged IVFADC index: the three bounded-or-corpus-resident
    * frames a serving deployment materializes ONCE and then queries
    * from — `centroids` (C rows: cell, ce, cn), `codebooks` (M·Kc
    * rows: m, code, cs), and `codes` (one row per corpus vector:
    * vec_id, cell, codes array in subspace order — the M-small-ints
    * compressed form that IS the PQ memory story). The original
    * vector column is deliberately NOT part of the index: the exact
    * scoring pass reads it from the corpus for the bounded candidate
    * sliver's ids only (Rerank·Q rows).
    * Staged and maintained as [[AnnIndex.IvfPq]]. */
  case class IvfPqIndex(centroids: DataFrame, codebooks: DataFrame, codes: DataFrame)
      extends AnnIndex.Frames {
    def tier: AnnIndex.Tier = AnnIndex.IvfPq
    def artifacts: Seq[DataFrame] = Seq(centroids, codebooks)
    def tree: DataFrame = codes
  }

  object IvfPqIndex {
    /** The PQ view of any IVFADC tier's frames (the OPQ tier's too). */
    def apply(f: AnnIndex.Frames): IvfPqIndex =
      IvfPqIndex(f.artifact("centroids"), f.artifact("codebooks"), f.tree)
  }

  /** The M·Kc codebook table collected into per-subspace
    * (code, centroid) arrays sorted by code id — the closure form both
    * the encode pass and the ADC tables consume. Bounded: M·Kc rows of
    * subW doubles. */
  private[operators] def centsByMFrom(codebooks: DataFrame)
      : Array[Array[(Long, Array[Double])]] = {
    val rows = codebooks.collect().map(r =>
      (r.getInt(0), r.getLong(1), r.getSeq[Double](2).toArray))
    Array.tabulate(M)(m =>
      rows.filter(_._1 == m).sortBy(_._2).map(t => (t._2, t._3)))
  }

  /** The collected codebook closure re-framed as the bounded (m, code,
    * cs) local relation the index carries (r20, guide §1.2): the build
    * paths collect the trained codebooks ONCE ([[centsByMFrom]]) and
    * hand every downstream consumer — the encode closure, the staged
    * write, the ADC tables — this value-identical M·Kc-row frame, so
    * staging an index no longer re-executes the training aggregate's
    * full-corpus lineage a second time. */
  private[operators] def codebooksFrame(spark: SparkSession,
      centsByM: Array[Array[(Long, Array[Double])]]): DataFrame = {
    import spark.implicits._
    (for {
      m <- 0 until M
      (code, cs) <- centsByM(m)
    } yield (m, code, cs.toSeq)).toDF("m", "code", "cs")
  }

  /** THE encode pass: one narrow map over (vec_id, u, cell) producing
    * the M code ids per vector against a FIXED codebook closure.
    * Shared by [[buildIvfPq]] and [[appendToIvfPq]] so the append path
    * is bit-identical to the build's encode by construction. */
  private[operators] def encodeCodes(un: DataFrame,
                          centsByM: Array[Array[(Long, Array[Double])]],
                          subW: Int): DataFrame = {
    val spark = un.sparkSession
    import spark.implicits._
    un.as[(Long, Array[Double], Long)]
      .mapPartitions { it =>
        it.map { case (vid, u, cell) =>
          val cs = new Array[Long](M)
          var m = 0
          while (m < M) {
            cs(m) = centsByM(m)(Pq.argminCode(u, m * subW, subW, centsByM(m)))._1
            m += 1
          }
          (vid, cell, cs)
        }
      }.toDF("vec_id", "cell", "codes")
  }

  /** Per-subspace codebook training over a prepared UNIT frame `un`
    * (vec_id, u, …) — the Kc-lowest-vec_id seed pick, one assignment
    * pass (JVM argmin, the d2At twin), and DECIMAL-accumulated Lloyd
    * means: exactly the recipe the oracle replays (sd/fa/means/cents)
    * and [[pqAdcSearchOn]] runs inline. Extracted so [[buildIvfPq]]
    * (u = the unit corpus) and [[Opq.buildIvfOpq]] (u = the rotated
    * unit corpus) train byte-identical codebooks from one definition.
    * Returns (m, code, cs) — M·Kc bounded rows. */
  private[operators] def trainCodebooks(un: DataFrame, subW: Int): DataFrame = {
    val spark = un.sparkSession
    import spark.implicits._
    val seedsByM: Array[Array[(Long, Array[Double])]] = {
      val rows = un.orderBy(col("vec_id")).limit(Kc)
        .select(col("vec_id"), col("u")).collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
        .sortBy(_._1)
      Array.tabulate(M)(m => rows.map { case (vid, u) =>
        (vid, java.util.Arrays.copyOfRange(u, m * subW, (m + 1) * subW)) })
    }
    val fa = un.select(col("vec_id"), col("u")).as[(Long, Array[Double])]
      .mapPartitions { it =>
        it.flatMap { case (_, u) =>
          (0 until M).iterator.map { m =>
            val cm = seedsByM(m)
            val best = Pq.argminCode(u, m * subW, subW, cm)
            (m, cm(best)._1,
              java.util.Arrays.copyOfRange(u, m * subW, (m + 1) * subW))
          }
        }
      }.toDF("m", "code", "s")
    fa
      .select(col("m"), col("code"), posexplode(col("s")).as(Seq("pos", "v")))
      .groupBy(col("m"), col("code"), col("pos"))
      .agg((sum(col("v").cast("decimal(30,10)")).cast("double") / count(col("v")))
        .as("mean"))
      .groupBy(col("m"), col("code"))
      .agg(sort_array(collect_list(struct(col("pos"), col("mean")))).as("pm"))
      .select(col("m"), col("code"),
        transform(col("pm"), p => p.getField("mean")).as("cs"))
  }

  /** Build the staged index: the SAME deterministic build the one-shot
    * [[knnIvfPqOn]] runs (shared `ivfIndex` + per-subspace codebooks),
    * with every corpus vector encoded once. Encode pays n·M·Kc
    * multiply-adds in one narrow pass — the build cost the one-shot
    * key folds into every call and a serving deployment pays once.
    *
    * `trainOn` (null = `vectors`): the TRAINING corpus for centroids
    * and codebooks, independent of the INDEXED corpus — the
    * incremental-lifecycle contract. The indexed corpus is then
    * encoded exactly as an append batch is ([[AnnIndex.IvfPq]]), so
    * `buildIvfPq(a ∪ b, trainOn = a)` is bit-identical to
    * `appendToIvfPq(buildIvfPq(a), b)` (spec-asserted) — which is what
    * makes the append path oracle-able against a full rebuild.
    *
    * `metaCols` (opt-in): metadata columns of `vectors` to ride the
    * code postings — the metadata-in-index layout that lets a
    * same-label [[queryIvfPqIndex]] evaluate a predicate INSIDE the
    * compressed scan. The join is vec_id-keyed build cost, never query
    * cost; appends must carry the same columns ([[AnnIndex.encode]]). */
  def buildIvfPq(vectors: DataFrame, dim: Int = 0, cells: Int = 0,
                 trainOn: DataFrame = null,
                 metaCols: Seq[String] = Nil): IvfPqIndex = {
    val train = Option(trainOn).getOrElse(vectors)
    val d =
      if (dim > 0) dim
      else vectors.select(size(col("embedding")).as("__d"))
        .filter(col("__d").isNotNull).limit(1).collect().headOption match {
        case Some(r) => r.getInt(0)
        case None => throw new IllegalArgumentException(
          "cannot build an IVFADC index over an empty corpus")
      }
    require(d % M == 0, s"embedding dim $d must be divisible by M=$M")
    val subW = d / M
    val (indexed, centroids) =
      Similarity.ivfIndex(train, cells, "ivf_centroids_build_ivf_pq")
    val un = indexed.select(col("vec_id"),
      transform(col("e"), x => x / col("nrm")).as("u"), col("cell"))
    // the index carries the COLLECTED codebooks re-framed locally —
    // value-identical, and staging the index no longer re-runs the
    // training aggregate (see [[codebooksFrame]])
    val centsByM = centsByMFrom(trainCodebooks(un, subW))
    val codebooks = codebooksFrame(vectors.sparkSession, centsByM)
    // one narrow encode pass: vec_id -> (cell, M code ids in m order)
    val codes =
      if (trainOn == null) encodeCodes(un, centsByM, subW)
      else AnnIndex.IvfPq.encode(
        Map("centroids" -> centroids, "codebooks" -> codebooks), vectors, d)
    IvfPqIndex(centroids, codebooks, AnnIndex.ride(codes, vectors, metaCols))
  }

  /** Incremental index maintenance: assign + encode `newVectors`
    * against the EXISTING centroids and codebooks — no Lloyd, no
    * codebook training, no touch of the already-encoded corpus — and
    * return the index with the new codes appended. The daily-corpus
    * lifecycle ([[graft.operators.Dedup.dedupIncremental]] precedent):
    * a per-ds ingest cannot re-run training over 100 TB, and does not
    * need to — nearest-cell assignment against fixed centroids is
    * deterministic, so `appendToIvfPq(buildIvfPq(a), b)` answers
    * queries bit-identically to `buildIvfPq(a ∪ b, trainOn = a)`
    * (spec-asserted), and appends compose:
    * `append(append(i, b1), b2) == append(i, b1 ∪ b2)`.
    *
    * Cost: one narrow pass over the NEW vectors (|new|·C·d assignment
    * multiply-adds + |new|·M·Kc encode) — independent of the indexed
    * corpus size. Caller contract: new vec_ids are disjoint from the
    * indexed ones (same contract as the underlying corpus), and
    * centroid quality is the build corpus's — re-train when drift
    * accumulates, the standard IVF reindex cadence. */
  def appendToIvfPq(index: IvfPqIndex, newVectors: DataFrame): IvfPqIndex =
    index.copy(codes = index.codes.unionByName(encodeAgainst(index, newVectors)))

  /** The append arithmetic alone, manifest-free: `newVectors` assigned
    * + encoded against `index`'s artifacts (rotated through `basis`
    * when given — the OPQ tier) with its riding metadata, as a codes
    * frame ([[AnnIndex.encode]]). */
  private[graft] def encodeAgainst(index: IvfPqIndex, newVectors: DataFrame,
                                   basis: DataFrame = null): DataFrame =
    AnnIndex.encode(if (basis == null) index else Opq.IvfOpqIndex(basis, index),
      newVectors)

  /** Durable ATOMIC append of `newVectors` to the manifest-rooted
    * IVFADC index at `root` ([[AnnIndex.append]]): answers are
    * bit-identical to [[appendToIvfPq]]'s (spec). `dim` is ignored: the
    * width is read off the staged centroids. Returns the number of
    * appended code rows. */
  def appendIvfPqIndexAtomic(spark: SparkSession, root: String,
                             newVectors: DataFrame, dim: Int = 0,
                             keep: Int = 2): Long =
    AnnIndex.append(spark, root, AnnIndex.IvfPq, newVectors, keep)

  /** ATOMIC right-to-erasure on the manifest-rooted IVFADC index at
    * `root` ([[AnnIndex.erase]]). Returns the number of deleted code
    * rows. */
  def deleteFromIvfPqIndexAtomic(spark: SparkSession, root: String,
                                 vecIds: Seq[Long], keep: Int = 2): Long =
    AnnIndex.erase(spark, root, AnnIndex.IvfPq, vecIds, keep)

  /** Stage a built PQ index as the next version of a manifest-rooted
    * index ([[AnnIndex.stage]]). Returns the published version
    * directory. */
  def stageIvfPqIndexVersion(index: IvfPqIndex, root: String): String =
    AnnIndex.stage(index, root)

  /** Driver query (key `knn_pq_index_stats`): the PQ append
    * lifecycle's health read — stage the IVFADC index on the day-0
    * half, append the rest against the frozen artifacts, report
    * per-cell stats ([[AnnIndex.stats]]) with the watermark at the
    * split. The coarse assignment is the SAME deterministic quantizer
    * as the float tier's (the trainOn-decoupling equation), so the
    * report shares `knn_index_stats`' oracle verbatim — the compressed
    * tier's health row is hash-checked against the identical IVF
    * replay. */
  def knnPqIndexStats(spark: SparkSession, dir: String): DataFrame = {
    val (live, cut) = AnnIndex.halfAppended(Tables.embeddings(spark, dir),
      "ivf_pq_stats_key_root")(buildIvfPq(_))
    AnnIndex.stats(spark, live, AnnIndex.IvfPq, appendedFrom = cut + 1)
  }

  /** The staged IVFADC index at `path` ([[AnnIndex.read]]). */
  def readIvfPqIndex(spark: SparkSession, path: String): IvfPqIndex =
    IvfPqIndex(AnnIndex.read(spark, path, AnnIndex.IvfPq))

  /** Query a STAGED index — the PQ tier's one search body: top-k or
    * radius, unfiltered or same-label, and (through `basis`) the
    * rotated [[Opq]] tier. Probe cells come from the C-row centroid
    * table, per-query ADC distance tables from the M·Kc codebooks,
    * then ONE scan over the cell-pruned codes and an exact float
    * tail against `vectors` restricted to the candidates. NOTHING is
    * rebuilt: the corpus is touched only by the codes scan (compressed
    * form), the Q query rows (collected once and checked,
    * [[AnnSearch.queryRows]]) and the candidates' exact scoring — the
    * build-once/query-many contract. Same arithmetic and tie-breaks as
    * [[knnIvfPqOn]], so a staged round-trip answers top-k identically
    * (spec-asserted).
    *
    * The cut picks the candidate stage once per call:
    *  - TopK: per-partition Rerank-heaps by (adist, vec_id), merged
    *    into the Rerank·Q sliver, scored and cut on the driver
    *    ([[AnnSearch.topK]]): eager, no window or join, a local-frame
    *    answer;
    *  - Radius: the codes encode the UNIT-normalized corpus, so on the
    *    sphere |q−x|² = 2−2cos and the admission cos ≥ τ is the ADC
    *    cut adist ≤ 2(1−τ) — a stateless filter inside the scan. The
    *    admitted set is data-dependent, not bounded, so it stays the
    *    lazy join tail ([[AnnSearch.rerank]]). The exact verify keeps
    *    precision at 1.0; recall is bounded by the probe cut and the
    *    ADC error. A rotation shrinks
    *    norms, so rotated ADC distances sit below their original-space
    *    images and admission errs on the recall side only.
    *
    * `sameLabel` compares the `label` column riding the codes
    * ([[buildIvfPq]]'s `metaCols`) AS LONG inside the scan (integral
    * metadata; a string-labeled deployment dictionary-encodes first):
    * a rejected candidate costs one compare, no ADC sum. Null labels
    * match nothing (SQL equality): null-labelled code rows are
    * filtered out before the typed scan and null-labelled queries
    * before probing. `nprobe <= 0` picks the width from `sameLabel`
    * ([[AnnSearch.probeWidth]]). */
  def queryIvfPqIndex(index: IvfPqIndex, vectors: DataFrame, queryIds: Seq[Long],
                      cut: Cut = TopK(K), sameLabel: Boolean = false,
                      nprobe: Int = 0, basis: DataFrame = null): DataFrame = {
    import AnnSearch.Label
    val spark = vectors.sparkSession
    import spark.implicits._
    require(!sameLabel || index.codes.columns.contains(Label),
      s"index codes carry no '$Label' column — " +
        s"build the index with metaCols = Seq(\"$Label\")")
    val vn = AnnSearch.floatCorpus(vectors, sameLabel)
    // the query rows, collected once with their labels (Q point lookups)
    val qAll = AnnSearch.queryRows(vn, col("vec_id").isInCollection(queryIds), sameLabel)
    if (qAll.isEmpty) return AnnSearch.empty(vectors, cut, sameLabel)
    val qRows = qAll.map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2)))
    val qLab: Map[Long, Long] =
      if (sameLabel) qAll.map(r => r.getLong(0) -> r.getAs[Number](3).longValue).toMap
      else Map.empty
    // probes rank in ORIGINAL space; the ADC tables live in the
    // index's code space (rotated when an OPQ basis is staged)
    val (adcRows, subW) = adcQueryRows(qRows, basis)
    val probesByQ = probesAgainst(index.centroids, qRows,
      AnnSearch.probeWidth(nprobe, sameLabel))
    val probedCells = probesByQ.values.flatten.toSet
    val qIds = probesByQ.keys.toArray.sorted
    val (dtByQ, codeRank) = adcTablesFor(index.codebooks, adcRows, subW)
    // the per-call choices, as function values (see pqAdcSearchOn):
    // which (query, cell, label) triples get an ADC sum, and which
    // scored rows the candidate stage keeps
    val admit: (Long, Long, Long) => Boolean =
      if (sameLabel) (q, cell, l) => qLab(q) == l && probesByQ(q).contains(cell)
      else (q, cell, _) => probesByQ(q).contains(cell)
    val keep: Iterator[(Long, Long, Double)] => Iterator[(Long, Long, Double)] =
      cut match {
        case TopK(_) => scored => AnnSearch.lowestPerQuery(scored, Rerank)
        case Radius(tau) =>
          // 2(1−τ) in IEEE — exactly representable for the driver's
          // τ=0.25; the oracle embeds the same computed double via strtod
          val admitD2 = 2.0 * (1.0 - tau)
          scored => scored.filter(_._3 <= admitD2)
      }
    // column-form cell filter BEFORE the typed scan: it reaches the
    // staged codes parquet as a static partition filter (whole cell=
    // directories skipped), where a lambda filter would scan
    // everything. The projection keeps only what the scan compares —
    // an unfiltered scan binds a constant label and never reads one.
    val probed = index.codes.filter(col("cell").isInCollection(probedCells.toSeq))
    val scanned = (if (sameLabel) probed.filter(col(Label).isNotNull) else probed)
      .select(col("vec_id"), col("cell"), col("codes"),
        if (sameLabel) col(Label).cast("long") else lit(0L))
      .as[(Long, Long, Array[Long], Long)]
      .mapPartitions(it => keep(it.flatMap { case (vid, cell, cs, l) =>
        qIds.iterator.filter(q => q != vid && admit(q, cell, l)).map { q =>
          val dtm = dtByQ(q)
          var acc = 0.0
          var m = 0
          while (m < M) { acc += dtm(m)(codeRank(m)(cs(m))); m += 1 }
          (q, vid, acc)
        }
      }))
    cut match {
      case TopK(k) => AnnSearch.topK(scanned, vn, qAll, k, sameLabel)
      case Radius(_) =>
        AnnSearch.rerank(scanned.toDF("query_id", "vec_id", "adist")
          .select(col("query_id"), col("vec_id")), vn,
          broadcast(AnnSearch.queryFrame(vn, qAll, sameLabel)), cut, sameLabel)
    }
  }

  /** Top-k off a staged index: [[queryIvfPqIndex]] with `TopK(k)`. */
  def queryIvfPq(index: IvfPqIndex, vectors: DataFrame, queryIds: Seq[Long],
                 k: Int = K): DataFrame =
    queryIvfPqIndex(index, vectors, queryIds, TopK(k))

  /** Per-query probed cells off the C-row staged centroid table —
    * driver-side, the same (cdist desc, cell asc) convention as
    * [[Similarity.probeFrame]], used by [[queryIvfPqIndex]] (r16-advice
    * class: one definition, not copies, because the staged paths are
    * spec-equated to the one-shot keys). */
  private[operators] def probesAgainst(centroids: DataFrame,
                            qRows: Array[(Long, Array[Double], Double)],
                            nprobe: Int): Map[Long, Set[Long]] = {
    val cents = Similarity.centroidArray(centroids, "cell", "ce", "cn")
    qRows.map { case (q, qe, qnrm) =>
      val ranked = cents.map { case (cell, ce, cn) =>
        var dot = 0.0; var j = 0
        while (j < qe.length) { dot += qe(j) * ce(j); j += 1 }
        (cell, dot / (qnrm * cn))
      }.sortBy { case (cell, cd) => (-cd, cell) }
      q -> ranked.take(nprobe).map(_._1).toSet
    }.toMap
  }

  /** Per-query ADC distance tables (unit-normalized query subvectors
    * against each codebook entry, the d2At arithmetic) plus the
    * ascending-code rank maps — bounded: M·Kc codebook rows,
    * Q·M·Kc table doubles. */
  private[operators] def adcTablesFor(codebooks: DataFrame,
                           qRows: Array[(Long, Array[Double], Double)],
                           subW: Int)
      : (Map[Long, Array[Array[Double]]], Array[Map[Long, Int]]) = {
    val rows = codebooks.collect().map(r =>
      (r.getInt(0), r.getLong(1), r.getSeq[Double](2).toArray))
    val centsByM: Array[Array[(Long, Array[Double])]] =
      Array.tabulate(M)(m =>
        rows.filter(_._1 == m).sortBy(_._2).map(t => (t._2, t._3)))
    val codeRank: Array[Map[Long, Int]] =
      Array.tabulate(M)(m => centsByM(m).iterator.map(_._1).zipWithIndex.toMap)
    val dtByQ: Map[Long, Array[Array[Double]]] = qRows.map { case (q, qe, qnrm) =>
      val u = qe.map(_ / qnrm)
      q -> Array.tabulate(M) { m =>
        centsByM(m).map { case (_, cs) => Pq.d2At(u, m * subW, subW, cs) }
      }
    }.toMap
    (dtByQ, codeRank)
  }

  /** The staged rotation artifact ([[Opq]]'s `basis` frame: pos,
    * b: d doubles per ROTATED position, perm already applied)
    * collected pos-ascending into the bounded r×d closure every
    * rotated query path ships. */
  private[operators] def basisArrOf(basis: DataFrame): Array[Array[Double]] = {
    val rows = basis.select(col("pos"), col("b")).orderBy(col("pos")).collect()
      .map(_.getSeq[Double](1).toArray)
    // loud-failure discipline: an empty basis artifact would otherwise
    // surface as an ArrayIndexOutOfBounds deep in the encode/ADC
    // derivation
    if (rows.isEmpty) throw new IllegalStateException(
      "the staged rotation basis is empty — stage the index with " +
        "AnnIndex.stage before querying or appending")
    rows
  }

  /** JVM twin of the build's column rotation (`V.dot(u, lit-basis
    * row)` over u = e/nrm): elementwise divide, then one ascending
    * sequential multiply-add fold per rotated position — the exact
    * bits of the native `vec_dot` fold (the d2At precedent), so a
    * staged rotated query scores candidates identically to the
    * in-memory build. */
  private[operators] def rotateRow(qe: Array[Double], qnrm: Double,
                                   basis: Array[Array[Double]]): Array[Double] = {
    val u = new Array[Double](qe.length)
    var j = 0
    while (j < qe.length) { u(j) = qe(j) / qnrm; j += 1 }
    basis.map { b =>
      var acc = 0.0
      var i = 0
      while (i < u.length) { acc += u(i) * b(i); i += 1 }
      acc
    }
  }

  /** The per-tier ADC query derivation, rotation-aware: with no
    * `basis` the query subvectors are the original-space qRows (dim
    * must divide M); with a staged rotation the qRows rotate
    * driver-side ([[rotateRow]]) and the subspace width comes from
    * the BASIS row count (the rotated dim r), never the query dim —
    * the codebooks live in rotated space. qnrm of a rotated row is
    * 1.0: the rotation already consumed the normalization, and
    * x/1.0 == x in IEEE so [[adcTablesFor]]'s divide is a no-op. */
  private def adcQueryRows(qRows: Array[(Long, Array[Double], Double)],
                           basis: DataFrame)
      : (Array[(Long, Array[Double], Double)], Int) =
    if (basis == null) {
      val dim = qRows(0)._2.length
      require(dim % M == 0, s"embedding dim $dim must be divisible by M=$M")
      (qRows, dim / M)
    } else {
      val ba = basisArrOf(basis)
      require(ba.length % M == 0,
        s"rotated dim ${ba.length} must be divisible by M=$M")
      (qRows.map { case (q, qe, qnrm) => (q, rotateRow(qe, qnrm, ba), 1.0) },
        ba.length / M)
    }

  /** Driver query (key `knn_ivf_pq_filtered`): the filtered serving
    * path run END TO END through the cross-engine gate — build with
    * the label riding the code postings, stage durably, read back,
    * and answer same-label top-k with the predicate inside the
    * compressed scan. The oracle replays the composed IVFADC search
    * with the `lab` CTE joined on both sides and the widened
    * [[Similarity.FilteredNProbe]] probe cut. */
  def knnIvfPqFiltered(spark: SparkSession, dir: String): DataFrame = {
    val vectors = Tables.embeddings(spark, dir)
    val path = graft.operators.Scratch.reuseDir("ivf_pq_filtered_idx")
    AnnIndex.write(buildIvfPq(vectors, metaCols = Seq("label")), path)
    queryIvfPqIndex(readIvfPqIndex(spark, path), vectors,
      0L until NQueries.toLong, sameLabel = true)
  }

  /** Driver query (key `knn_ivf_pq_radius_filtered`): build with the
    * label riding the codes, stage, read back, answer the same-label
    * radius query inside the compressed scan. */
  def knnIvfPqRadiusFiltered(spark: SparkSession, dir: String): DataFrame = {
    val vectors = Tables.embeddings(spark, dir)
    val path = graft.operators.Scratch.reuseDir("ivf_pq_radius_filt_idx")
    AnnIndex.write(buildIvfPq(vectors, metaCols = Seq("label")), path)
    queryIvfPqIndex(readIvfPqIndex(spark, path), vectors,
      0L until NQueries.toLong, Radius(Similarity.RadiusTau), sameLabel = true)
  }

  /** Driver query (key `knn_ivf_pq_radius`): build, stage durably,
    * read back, answer the radius query off the compressed codes. */
  def knnIvfPqRadius(spark: SparkSession, dir: String): DataFrame = {
    val vectors = Tables.embeddings(spark, dir)
    val path = graft.operators.Scratch.reuseDir("ivf_pq_radius_idx")
    AnnIndex.write(buildIvfPq(vectors), path)
    queryIvfPqIndex(readIvfPqIndex(spark, path), vectors,
      0L until NQueries.toLong, Radius(Similarity.RadiusTau))
  }

  /** Full DuckDB replay of the composed IVFADC search: the shared IVF
    * index prefix (auto-sized C, the executor's knob) + the PQ build
    * CTEs (suffixed `p` to avoid colliding with the prefix's
    * seed/centroid names) + cell-pruned ADC + exact rerank. */
  val knnIvfPqOracleSql: String = ivfPqOracleSqlFor(trained = false)

  /** The replay with training decoupled from indexing (key
    * `knn_ivf_pq_append`): Lloyd AND the PQ codebooks see only the
    * day-0 base half, every vector is assigned + encoded against
    * those frozen artifacts — the SQL twin of the append lifecycle
    * `appendToIvfPq(buildIvfPq(base), rest)` via the spec-proven
    * `buildIvfPq(all, trainOn = base)` equation. */
  val knnIvfPqAppendOracleSql: String = ivfPqOracleSqlFor(trained = true)

  /** The replay of the erasure lifecycle (key `knn_ivf_pq_delete`):
    * the classic full-corpus build with ids [[DeleteLo]]..[[DeleteHi]]
    * excluded from candidate enumeration — the SQL twin of deleting
    * their code rows from the staged index while centroids and
    * codebooks (trained aggregates) stand. */
  val knnIvfPqDeleteOracleSql: String = ivfPqOracleSqlFor(trained = false,
    erasedPred = s"c.vec_id BETWEEN $DeleteLo AND $DeleteHi")

  /** The filtered replay (key `knn_ivf_pq_filtered`): the classic
    * composed search with the `lab` CTE joined on both sides — the
    * query side picks up `qlabel`, candidate enumeration keeps only
    * same-label codes (the predicate the executor evaluates inside
    * the compressed scan), and the probe cut widens to
    * [[Similarity.FilteredNProbe]] (the knn_filtered discipline). */
  val knnIvfPqFilteredOracleSql: String =
    ivfPqOracleSqlFor(trained = false, filtered = true)

  /** The radius replay (key `knn_ivf_pq_radius`): the classic
    * composed build + probes + ADC, candidate admission swapped from
    * the ranked Rerank cut to the distance threshold adist ≤ 2(1−τ)
    * (the unit-sphere image of the cosine admission), exact verify on
    * the true cosine — both thresholds strtod-embedded. */
  val knnIvfPqRadiusOracleSql: String =
    ivfPqOracleSqlFor(trained = false, radius = true)

  /** The filtered-radius replay (key `knn_ivf_pq_radius_filtered`):
    * the composed build + qlabel-carrying probes at the widened cut +
    * same-label candidate enumeration + the distance-threshold
    * admission + the exact radius verify carrying the label. */
  val knnIvfPqRadiusFilteredOracleSql: String =
    ivfPqOracleSqlFor(trained = false, filtered = true, radius = true)

  /** One template, two training policies: `trained = true` swaps in
    * the trained-half IVF prefix and restricts the PQ seed pick
    * (`sdp`) and codebook-training assignment (`fap`) to the base
    * slice (`unpt`/`svpt`); encoding (`codesp`), probes, ADC, and
    * rerank always run over the FULL corpus. `erasedPred` (a predicate
    * over the candidate alias `c`) drops erased ids at candidate
    * enumeration — everything trained or probed stays as built.
    * `filtered = true` rides the label through probes and candidate
    * enumeration and widens the probe cut. `radius = true` swaps the
    * ranked candidate cut for the distance-threshold admission and
    * the final top-k window for the radius verify. With `trained =
    * false` and no predicate and no flag this emits the classic
    * composed replay byte-for-byte. */
  private def ivfPqOracleSqlFor(trained: Boolean,
                                erasedPred: String = null,
                                filtered: Boolean = false,
                                radius: Boolean = false): String = {
    val dim = 64
    val sub = dim / M
    import Similarity.{sqlDot, IvfNProbe}
    def d2(a: String, b: String): String =
      s"((${sqlDot(a, a)} - (2.0 * ${sqlDot(a, b)})) + ${sqlDot(b, b)})"
    val prefix =
      if (trained) Similarity.ivfIdxOraclePrefixTrainedHalf
      else Similarity.ivfIdxOraclePrefix
    val trainCtes =
      if (trained)
        s"""unpt AS (
           |  SELECT * FROM unp WHERE vec_id <= (SELECT cut FROM cutv)
           |), svpt AS (
           |  SELECT * FROM svp WHERE vec_id <= (SELECT cut FROM cutv)
           |), """.stripMargin
      else ""
    val tun = if (trained) "unpt" else "unp"
    val tsv = if (trained) "svpt" else "svp"
    val nprobe = if (filtered) Similarity.FilteredNProbe else IvfNProbe
    val labCte =
      if (filtered) "lab AS (\n  SELECT vec_id, label FROM embeddings\n), "
      else ""
    val probesCte =
      if (filtered)
        s"""probes AS (
           |  SELECT query_id, qlabel, cell FROM (
           |    SELECT q.vec_id AS query_id, ql.label AS qlabel, c.cell,
           |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
           |        ${sqlDot("q.e", "c.ce")} / (q.nrm * c.cnr) DESC, c.cell) AS rk
           |    FROM vn q JOIN lab ql ON q.vec_id = ql.vec_id
           |    CROSS JOIN cc c WHERE q.vec_id < $NQueries) t
           |  WHERE rk <= $nprobe
           |)""".stripMargin
      else
        s"""probes AS (
           |  SELECT query_id, cell FROM (
           |    SELECT q.vec_id AS query_id, c.cell,
           |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
           |        ${sqlDot("q.e", "c.ce")} / (q.nrm * c.cnr) DESC, c.cell) AS rk
           |    FROM vn q CROSS JOIN cc c WHERE q.vec_id < $NQueries) t
           |  WHERE rk <= $nprobe
           |)""".stripMargin
    s"""$prefix, $labCte$probesCte, unp AS (
       |  SELECT vec_id, list_transform(e, x -> x / nrm) AS u, cell FROM idx
       |), msp AS (
       |  SELECT unnest(generate_series(0, ${M - 1})) AS m
       |), svp AS (
       |  SELECT vec_id, m, list_slice(u, m*$sub + 1, (m+1)*$sub) AS s, cell
       |  FROM unp CROSS JOIN msp
       |), ${trainCtes}sdp AS (
       |  SELECT vec_id FROM (
       |    SELECT vec_id, ROW_NUMBER() OVER (ORDER BY vec_id) AS rk FROM $tun) t
       |  WHERE rk <= $Kc
       |), seedsp AS (
       |  SELECT s.vec_id AS code0, s.m, s.s AS cs FROM svp s JOIN sdp ON s.vec_id = sdp.vec_id
       |), fap AS (
       |  SELECT vec_id, m, code0 AS code, s FROM (
       |    SELECT x.vec_id, x.m, c.code0, x.s,
       |      ROW_NUMBER() OVER (PARTITION BY x.vec_id, x.m ORDER BY
       |        ${d2("x.s", "c.cs")}, c.code0) AS rk
       |    FROM $tsv x JOIN seedsp c ON x.m = c.m) t
       |  WHERE rk = 1
       |), elemsp AS (
       |  SELECT m, code, unnest(generate_series(1, len(s))) AS pos, s FROM fap
       |), meansp AS (
       |  SELECT m, code, pos,
       |    CAST(SUM(CAST(s[pos] AS DECIMAL(30,10))) AS DOUBLE) / COUNT(s[pos]) AS mean
       |  FROM elemsp GROUP BY m, code, pos
       |), centsp AS (
       |  SELECT m, code, list(mean ORDER BY pos) AS cs FROM meansp GROUP BY m, code
       |), codesp AS (
       |  SELECT vec_id, m, code, cell FROM (
       |    SELECT x.vec_id, x.m, c.code, x.cell,
       |      ROW_NUMBER() OVER (PARTITION BY x.vec_id, x.m ORDER BY
       |        ${d2("x.s", "c.cs")}, c.code) AS rk
       |    FROM svp x JOIN centsp c ON x.m = c.m) t
       |  WHERE rk = 1
       |), dtp AS (
       |  SELECT q.vec_id AS query_id, c.m, c.code, ${d2("q.s", "c.cs")} AS d2
       |  FROM svp q JOIN centsp c ON q.m = c.m
       |  WHERE q.vec_id < $NQueries
       |), adist AS (
       |  SELECT t.query_id, t.vec_id,
       |    list_reduce(list(t.d2 ORDER BY t.m), (x, y) -> x + y) AS adist
       |  FROM (
       |    SELECT d.query_id, c.vec_id, c.m, d.d2
       |    FROM codesp c
       |    JOIN probes p ON p.cell = c.cell${
             if (!filtered) ""
             else "\n    JOIN lab l ON c.vec_id = l.vec_id"}
       |    JOIN dtp d ON c.m = d.m AND c.code = d.code AND d.query_id = p.query_id
       |    WHERE c.vec_id != d.query_id${
             if (!filtered) "" else " AND l.label = p.qlabel"}${
             if (erasedPred == null) "" else s" AND NOT ($erasedPred)"}) t
       |  GROUP BY t.query_id, t.vec_id
       |), cand AS (${
           if (radius)
             s"""
       |  SELECT query_id, vec_id FROM adist
       |  WHERE adist <= CAST('${2.0 * (1.0 - Similarity.RadiusTau)}' AS DOUBLE)""".stripMargin
           else
             s"""
       |  SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id,
       |      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adist, vec_id) AS crk
       |    FROM adist) t
       |  WHERE crk <= $Rerank""".stripMargin}
       |)${
           if (radius)
             s"""
       |SELECT query_id, neighbor_id,${
           if (filtered) " label," else ""} cosine FROM (
       |  SELECT cd.query_id, cd.vec_id AS neighbor_id,${
           if (filtered) " lo.label," else ""}
       |    ${sqlDot("b.e", "a.e")} / (b.nrm * a.nrm) AS cosine
       |  FROM cand cd
       |  JOIN vn b ON cd.vec_id = b.vec_id
       |  JOIN vn a ON cd.query_id = a.vec_id${
           if (!filtered) ""
           else "\n  JOIN lab lo ON cd.vec_id = lo.vec_id"}) t
       |WHERE cosine >= CAST('${Similarity.RadiusTau}' AS DOUBLE)""".stripMargin
           else
             s"""
       |SELECT query_id, vec_id AS neighbor_id,${
           if (filtered) " label," else ""} CAST(rk AS INTEGER) AS rank, cosine FROM (
       |  SELECT cd.query_id, cd.vec_id,${
           if (filtered) " lo.label," else ""}
       |    ${sqlDot("b.e", "a.e")} / (b.nrm * a.nrm) AS cosine,
       |    ROW_NUMBER() OVER (PARTITION BY cd.query_id ORDER BY
       |      ${sqlDot("b.e", "a.e")} / (b.nrm * a.nrm) DESC, cd.vec_id) AS rk
       |  FROM cand cd
       |  JOIN vn b ON cd.vec_id = b.vec_id
       |  JOIN vn a ON cd.query_id = a.vec_id${
           if (!filtered) ""
           else "\n  JOIN lab lo ON cd.vec_id = lo.vec_id"}) t
       |WHERE rk <= $K""".stripMargin}""".stripMargin
  }

  /** The PQ build/encode/ADC/cut replay as a CTE tail over an
    * arbitrary unit frame `unFrame` (vec_id, u: DOUBLE[dim]) plus the
    * final exact-rerank SELECT against `vn` — shared by the knn_pq
    * oracle (unFrame = the unit-normalized corpus at dim 64), the
    * knn_opq oracle (unFrame = the replayed PCA-rotated corpus at
    * dim = [[Opq.OpqComponents]]), and — suffixed and cell-pruned —
    * the knn_ivf_opq oracle.
    *
    * `sfx` suffixes every CTE name (composing under a prefix that
    * already defines `seeds`/`fa`/`elems`/`means`/`cents` — the IVF
    * build does). `cellPruned` expects `unFrame` to carry a third
    * `cell` column and a `probes(query_id, cell)` CTE upstream, and
    * restricts candidate enumeration to each query's probed cells —
    * the ONLY change pruning makes (the knn_ivf_pq discipline).
    * `filtered` (requires `cellPruned`) mirrors
    * [[ivfPqOracleSqlFor]]'s filtered deltas onto this tail: a `lab`
    * CTE and a probes CTE carrying `qlabel` must exist upstream,
    * candidate enumeration keeps same-label codes only, and the
    * final select emits the label. `radius` swaps the ranked Rerank
    * cut for the adist ≤ 2(1−τ) admission and the top-k window for
    * the exact radius verify; `filtered ∧ radius` composes — the
    * radius verify then carries the label and its lab join, mirroring
    * [[ivfPqOracleSqlFor]]'s filtered-radius tail (the
    * knn_ivf_opq_radius_filtered key — r17 advice closed). Defaults
    * emit the prior text byte-for-byte (hash-gate stability for every
    * existing key). */
  private[operators] def pqAdcOracleTail(unFrame: String, dim: Int,
                                         sfx: String = "",
                                         cellPruned: Boolean = false,
                                         filtered: Boolean = false,
                                         radius: Boolean = false,
                                         trained: Boolean = false,
                                         erasedPred: String = null): String = {
    require(!filtered || cellPruned,
      "a filtered ADC tail rides qlabel on the probes CTE — cell pruning required")
    val sub = dim / M
    import Similarity.sqlDot
    def d2(a: String, b: String): String =
      s"((${sqlDot(a, a)} - (2.0 * ${sqlDot(a, b)})) + ${sqlDot(b, b)})"
    val cellSel = if (cellPruned) ", cell" else ""
    val pruneJoin =
      if (cellPruned)
        s"""
           |    JOIN probes p ON p.cell = c.cell AND p.query_id = d.query_id""".stripMargin
      else ""
    // trained = true: seeds and Lloyd means see only the base slice
    // (an upstream `cutv` CTE supplies the cut — the trained rotated
    // prefix defines it); encoding, probes, ADC, rerank stay full
    val trainCtes =
      if (!trained) ""
      else s"""unt$sfx AS (
           |  SELECT * FROM $unFrame WHERE vec_id <= (SELECT cut FROM cutv)
           |), svt$sfx AS (
           |  SELECT * FROM sv$sfx WHERE vec_id <= (SELECT cut FROM cutv)
           |), """.stripMargin
    val tun = if (trained) s"unt$sfx" else unFrame
    val tsv = if (trained) s"svt$sfx" else s"sv$sfx"
    s"""ms$sfx AS (
       |  SELECT unnest(generate_series(0, ${M - 1})) AS m
       |), sv$sfx AS (
       |  SELECT vec_id, m, list_slice(u, m*$sub + 1, (m+1)*$sub) AS s$cellSel
       |  FROM $unFrame CROSS JOIN ms$sfx
       |), ${trainCtes}sd$sfx AS (
       |  SELECT vec_id FROM (
       |    SELECT vec_id, ROW_NUMBER() OVER (ORDER BY vec_id) AS rk FROM $tun) t
       |  WHERE rk <= $Kc
       |), seeds$sfx AS (
       |  SELECT s.vec_id AS code0, s.m, s.s AS cs FROM sv$sfx s JOIN sd$sfx ON s.vec_id = sd$sfx.vec_id
       |), fa$sfx AS (
       |  SELECT vec_id, m, code0 AS code, s FROM (
       |    SELECT x.vec_id, x.m, c.code0, x.s,
       |      ROW_NUMBER() OVER (PARTITION BY x.vec_id, x.m ORDER BY
       |        ${d2("x.s", "c.cs")}, c.code0) AS rk
       |    FROM $tsv x JOIN seeds$sfx c ON x.m = c.m) t
       |  WHERE rk = 1
       |), elems$sfx AS (
       |  SELECT m, code, unnest(generate_series(1, len(s))) AS pos, s FROM fa$sfx
       |), means$sfx AS (
       |  SELECT m, code, pos,
       |    CAST(SUM(CAST(s[pos] AS DECIMAL(30,10))) AS DOUBLE) / COUNT(s[pos]) AS mean
       |  FROM elems$sfx GROUP BY m, code, pos
       |), cents$sfx AS (
       |  SELECT m, code, list(mean ORDER BY pos) AS cs FROM means$sfx GROUP BY m, code
       |), codes$sfx AS (
       |  SELECT vec_id, m, code$cellSel FROM (
       |    SELECT x.vec_id, x.m, c.code$cellSel,
       |      ROW_NUMBER() OVER (PARTITION BY x.vec_id, x.m ORDER BY
       |        ${d2("x.s", "c.cs")}, c.code) AS rk
       |    FROM sv$sfx x JOIN cents$sfx c ON x.m = c.m) t
       |  WHERE rk = 1
       |), dt$sfx AS (
       |  SELECT q.vec_id AS query_id, c.m, c.code, ${d2("q.s", "c.cs")} AS d2
       |  FROM sv$sfx q JOIN cents$sfx c ON q.m = c.m
       |  WHERE q.vec_id < $NQueries
       |), adist$sfx AS (
       |  SELECT t.query_id, t.vec_id,
       |    list_reduce(list(t.d2 ORDER BY t.m), (x, y) -> x + y) AS adist
       |  FROM (
       |    SELECT d.query_id, c.vec_id, c.m, d.d2
       |    FROM codes$sfx c JOIN dt$sfx d ON c.m = d.m AND c.code = d.code$pruneJoin${
             if (!filtered) ""
             else "\n    JOIN lab l ON c.vec_id = l.vec_id"}
       |    WHERE c.vec_id != d.query_id${
             if (!filtered) "" else " AND l.label = p.qlabel"}${
             if (erasedPred == null) "" else s" AND NOT ($erasedPred)"}) t
       |  GROUP BY t.query_id, t.vec_id
       |), cand$sfx AS (${
           if (radius)
             s"""
       |  SELECT query_id, vec_id FROM adist$sfx
       |  WHERE adist <= CAST('${2.0 * (1.0 - Similarity.RadiusTau)}' AS DOUBLE)""".stripMargin
           else
             s"""
       |  SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id,
       |      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adist, vec_id) AS crk
       |    FROM adist$sfx) t
       |  WHERE crk <= $Rerank""".stripMargin}
       |)${
           if (radius)
             s"""
       |SELECT query_id, neighbor_id,${
           if (filtered) " label," else ""} cosine FROM (
       |  SELECT cd.query_id, cd.vec_id AS neighbor_id,${
           if (filtered) " lo.label," else ""}
       |    ${sqlDot("b.e", "a.e")} / (b.nrm * a.nrm) AS cosine
       |  FROM cand$sfx cd
       |  JOIN vn b ON cd.vec_id = b.vec_id
       |  JOIN vn a ON cd.query_id = a.vec_id${
           if (!filtered) ""
           else "\n  JOIN lab lo ON cd.vec_id = lo.vec_id"}) t
       |WHERE cosine >= CAST('${Similarity.RadiusTau}' AS DOUBLE)""".stripMargin
           else
             s"""
       |SELECT query_id, vec_id AS neighbor_id,${
           if (filtered) " label," else ""} CAST(rk AS INTEGER) AS rank, cosine FROM (
       |  SELECT cd.query_id, cd.vec_id,${
           if (filtered) " lo.label," else ""}
       |    ${sqlDot("b.e", "a.e")} / (b.nrm * a.nrm) AS cosine,
       |    ROW_NUMBER() OVER (PARTITION BY cd.query_id ORDER BY
       |      ${sqlDot("b.e", "a.e")} / (b.nrm * a.nrm) DESC, cd.vec_id) AS rk
       |  FROM cand$sfx cd
       |  JOIN vn b ON cd.vec_id = b.vec_id
       |  JOIN vn a ON cd.query_id = a.vec_id${
           if (!filtered) ""
           else "\n  JOIN lab lo ON cd.vec_id = lo.vec_id"}) t
       |WHERE rk <= $K""".stripMargin}""".stripMargin
  }

  /** Full DuckDB replay of the PQ search — build, encode, ADC, and
    * rerank, step for step: the shared tail over the unit-normalized
    * corpus. Dim is pinned to the driver corpus's 64 (an oracle
    * string cannot probe data; the LSH oracle precedent). */
  val knnPqOracleSql: String = {
    import Similarity.sqlNorm
    s"""WITH v AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
       |), vn AS (
       |  SELECT vec_id, e, ${sqlNorm("e")} AS nrm FROM v
       |), un AS (
       |  SELECT vec_id, list_transform(e, x -> x / nrm) AS u FROM vn
       |), ${pqAdcOracleTail("un", 64)}""".stripMargin
  }
}
