package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.functions.{VectorOps => V}
import graft.operators.AnnSearch.{Cut, Radius, TopK}

/** PCA-rotated product quantization (key `knn_opq`) — the OPQ insight
  * (Ge et al. 2013, "Optimized Product Quantization"; FAISS's
  * `OPQ`/`PCAR` pre-transforms) composed into the [[Pq]] tier, and
  * the consumer [[Similarity.principalComponents]] was missing (r14
  * verdict item 4): plain PQ splits the embedding into M ARBITRARY
  * coordinate blocks, so correlated dimensions land in different
  * subspaces and each codebook wastes its Kc entries re-encoding
  * variance that another subspace already carries. Rotating into the
  * PCA basis first decorrelates the coordinates, concentrating the
  * corpus's variance into the leading directions; the subspace split
  * then cuts along independent axes and the same M×Kc code budget
  * buys strictly more geometry (spec-asserted: candidate-stage recall
  * ≥ plain PQ's on the corpus fixture).
  *
  * Shape: project each unit-normalized vector onto the top
  * [[OpqComponents]] principal components of the corpus covariance —
  * r per-vector dots against DRIVER-LITERAL basis rows (the LSH
  * planeLit precedent: the r×d basis rides the plan as constant
  * arrays, pure codegen, no join) — then run the untouched PQ
  * build/ADC/rerank pipeline ([[Pq.pqAdcSearchOn]]) in the rotated
  * r-dim space. The exact rerank still scores ORIGINAL float vectors,
  * so the rotation (like PQ itself) only shapes candidate generation.
  *
  * 100 TB: the basis is trained from the covariance REPORT (d²/2
  * cells — corpus-size-independent, the two-scan vec_covariance
  * plan) and the eigen step is a driver-side d²·iters flop on 2080
  * doubles; the projection adds r·d multiply-adds to the one corpus
  * pass PQ already makes. Nothing new is corpus-resident: codes
  * shrink to M ids over r dims (r < d also cuts the build's
  * subvector traffic ~d/r×).
  *
  * Determinism end-to-end, hence the full-replay hash oracle: the
  * covariance is the proven integer-unit replay, the eigen procedure
  * is the replayable raw power iteration
  * ([[Similarity.principalComponents]] — unrolled per component in
  * SQL, matvecs as recursive CTEs with ordered sequential folds),
  * the projection is the shared sequential dot, and the PQ tail is
  * the knn_pq replay at dim = r. */
object Opq {

  /** Rotated dimensionality: the top-r principal subspace PQ encodes.
    * Divisible by [[Pq.M]] (subW = r/M); r = d/2 keeps the leading
    * variance of a 64-dim embedding while halving subvector width —
    * the measured operating point (recall 0.64 vs 0.50 at r=16 on the
    * axis-aligned driver corpus; 0.98 vs plain PQ's 0.96 on a
    * correlated one). */
  val OpqComponents = 32

  /** Power-iteration depth per component — enough for a stable basis
    * on separated spectra; the contract is the PROCEDURE (both engines
    * replay these exact iterations), not convergence. */
  val OpqIters = 12

  import Similarity.K

  def knnOpq(spark: SparkSession, dir: String, k: Int = K): DataFrame =
    knnOpqOn(Tables.embeddings(spark, dir), k)

  def knnOpqOn(vectors: DataFrame, k: Int = K,
               r: Int = OpqComponents, iters: Int = OpqIters): DataFrame = {
    val empty = vectors.select(size(col("embedding")).as("__d"))
      .filter(col("__d").isNotNull).limit(1).collect().isEmpty
    if (empty)
      // empty corpus: empty result, schema-stable (knnLsh precedent)
      return AnnSearch.empty(vectors, TopK(k), sameLabel = false)
    val vn = vectors
      .select(col("vec_id"), V.toDouble(col("embedding")).as("e"))
      .withColumn("nrm", V.l2Norm(col("e")))
    val un = vn.select(col("vec_id"),
      transform(col("e"), x => x / col("nrm")).as("u"))
    val basis = Similarity.principalComponents(
      Similarity.vecCovarianceOn(vectors), r, iters)
    // BALANCED eigenvalue allocation (the OPQ paper's fix for the
    // PCA+PQ pathology, in its order-free form): a plain PCA order
    // concentrates the corpus variance into the FIRST subspace — one
    // codebook drowns while the rest encode noise (measured: recall
    // 0.58 vs plain PQ's 0.68 at full rank). Interleaving the
    // eigenvalue-DESCENDING components round-robin gives each
    // subspace one component from every variance tier: subspace m
    // encodes components m, m+M, m+2M, … — a fixed permutation, so
    // the oracle replays it as an index map, no data-dependent
    // control flow
    require(r % Pq.M == 0,
      s"rotated dim $r must be divisible by M=${Pq.M} (subspace width)")
    val subW = r / Pq.M
    val perm = Array.tabulate(r) { i =>
      val m = i / subW; val t = i % subW; t * Pq.M + m
    }
    val rot = un.select(col("vec_id"),
      array(perm.map { pi =>
        V.dot(col("u"), array(basis(pi)._2.map(lit): _*))
      }: _*).as("u"))
    Pq.pqAdcSearchOn(rot, vn, r, k)
  }

  /** Full DuckDB replay of the OPQ search, end to end:
    *
    *  1. covariance — the proven vec_covariance integer-unit CTEs;
    *  2. the basis — [[Similarity.principalComponents]] unrolled per
    *     component: the `iters` unnormalized matvecs as ONE recursive
    *     CTE (ordered `list_reduce` folds — each new coordinate is
    *     the ascending-j sequential fold, bit-identical to the driver
    *     loop), final normalize, ±1.0 sign fix (first-largest-|u|
    *     coordinate, ORDER BY ABS(u) DESC, i), Rayleigh eigenvalue,
    *     rank-one deflation into the next component's matrix
    *     (prototype-verified bit-exact against the driver procedure);
    *  3. the rotation — per-component sequential dots, components
    *     placed at their round-robin positions (a LITERAL index map,
    *     the executor's `perm` inverted);
    *  4. the PQ tail at dim = r ([[Pq.pqAdcOracleTail]]) and the
    *     exact rerank against the float corpus.
    *
    * Every embedded non-representable double literal is a quoted
    * string cast to DOUBLE (the r14 strtod discipline — here only
    * '0.001', the start-vector tail). Dim pinned to the driver
    * corpus's 64. */
  /** The shared replay PREFIX: covariance units → per-component
    * recursive-CTE power iterations → literal round-robin placement,
    * ending at `rotu` (the rotated unit corpus). Both OPQ oracles
    * (flat `knn_opq`, cell-pruned `knn_ivf_opq`) build on it. */
  private val opqRotatedPrefix: String = opqRotatedPrefixFor(trained = false)

  /** `trained = true` restricts the covariance (and so the basis) to
    * the day-0 base slice `vec_id <= max/2` — a `cutv` CTE is added
    * right after `vn` for every downstream trained variant to share
    * (the IVF body's `vt`, the ADC tail's `svt`) — while `un`/`rotu`
    * still rotate EVERY vector: the SQL twin of
    * `buildIvfOpq(all, trainOn = base)`'s basis training. With
    * `trained = false` this emits the classic prefix byte-for-byte. */
  private def opqRotatedPrefixFor(trained: Boolean): String = {
    val d = 64
    val r = OpqComponents
    val iters = OpqIters
    val subW = r / Pq.M
    import Similarity.{sqlDot, sqlNorm}
    def compCtes(c: Int): String = {
      val mp = s"pm${c - 1}"
      val base =
        s"""pit$c AS (
           |  SELECT 0 AS t, i, CASE WHEN i = 1 THEN 1.0 ELSE CAST('0.001' AS DOUBLE) END AS x
           |  FROM (SELECT unnest(generate_series(1, $d)) AS i)
           |  UNION ALL
           |  SELECT t+1, mc.i, list_reduce(list(mc.mv * pit$c.x ORDER BY mc.j), (a,b) -> a+b)
           |  FROM pit$c JOIN $mp mc ON mc.j = pit$c.i
           |  WHERE t < $iters
           |  GROUP BY t+1, mc.i
           |), pn$c AS MATERIALIZED (
           |  SELECT i, x / (SELECT sqrt(list_reduce(list(x*x ORDER BY i), (a,b)->a+b))
           |                 FROM pit$c WHERE t = $iters) AS u
           |  FROM pit$c WHERE t = $iters
           |), psgn$c AS (
           |  SELECT CASE WHEN u < 0 THEN -1.0 ELSE 1.0 END AS s
           |  FROM pn$c ORDER BY ABS(u) DESC, i LIMIT 1
           |), pu$c AS MATERIALIZED (
           |  SELECT i, u * (SELECT s FROM psgn$c) AS u FROM pn$c
           |), pul$c AS MATERIALIZED (
           |  SELECT list(u ORDER BY i) AS ul FROM pu$c
           |)""".stripMargin
      if (c == r) base
      else base + s""", pw2$c AS (
           |  SELECT mc.i, list_reduce(list(mc.mv * uu.u ORDER BY mc.j), (a,b)->a+b) AS w
           |  FROM $mp mc JOIN pu$c uu ON mc.j = uu.i GROUP BY mc.i
           |), plam$c AS MATERIALIZED (
           |  SELECT list_reduce(list(uu.u * w.w ORDER BY uu.i), (a,b)->a+b) AS lam
           |  FROM pu$c uu JOIN pw2$c w ON uu.i = w.i
           |), pm$c AS MATERIALIZED (
           |  SELECT mm.i, mm.j, mm.mv - (((SELECT lam FROM plam$c) * ui.u) * uj.u) AS mv
           |  FROM $mp mm JOIN pu$c ui ON mm.i = ui.i JOIN pu$c uj ON mm.j = uj.i
           |)""".stripMargin
    }
    // component c0 (0-based, eigenvalue-descending) lands at rotated
    // position (c0 % M)·subW + c0/M — the executor's perm inverted
    val rotSelects = (1 to r).map { c =>
      val pos = ((c - 1) % Pq.M) * subW + (c - 1) / Pq.M + 1
      s"SELECT un.vec_id, $pos AS k, ${sqlDot("un.u", "rl.ul")} AS y FROM un CROSS JOIN pul$c rl"
    }.mkString("\n  UNION ALL\n  ")
    val cutCte =
      if (!trained) ""
      else "cutv AS (\n  SELECT MAX(vec_id) // 2 AS cut FROM vn\n), "
    val elcFrom =
      if (!trained) "v"
      else "v WHERE vec_id <= (SELECT cut FROM cutv)"
    s"""WITH RECURSIVE v AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
       |), vn AS (
       |  SELECT vec_id, e, ${sqlNorm("e")} AS nrm FROM v
       |), ${cutCte}un AS (
       |  SELECT vec_id, list_transform(e, x -> x / nrm) AS u FROM vn
       |), elc AS (
       |  SELECT vec_id, generate_subscripts(e, 1) AS dim, unnest(e) AS x FROM $elcFrom
       |), mnc AS (
       |  SELECT dim,
       |    CAST(SUM(CAST(x AS DECIMAL(30,10))) AS DOUBLE) / COUNT(*) AS mx,
       |    COUNT(*) AS n
       |  FROM elc GROUP BY dim
       |), prc AS (
       |  SELECT a.dim AS dim_i, b.dim AS dim_j,
       |    CAST(SUM(CAST(FLOOR(((a.x - mi.mx) * (b.x - mj.mx)) * 1000000.0 + 0.5)
       |      AS BIGINT)) AS BIGINT) AS spu
       |  FROM elc a
       |  JOIN elc b ON a.vec_id = b.vec_id AND a.dim <= b.dim
       |  JOIN mnc mi ON a.dim = mi.dim
       |  JOIN mnc mj ON b.dim = mj.dim
       |  GROUP BY 1, 2
       |), cvc AS (
       |  SELECT p.dim_i, p.dim_j,
       |    CAST(p.spu AS DOUBLE) / (CAST(n.n AS DOUBLE) * 1000000.0) AS cov
       |  FROM prc p JOIN mnc n ON p.dim_i = n.dim
       |), pm0 AS MATERIALIZED (
       |  SELECT dim_i AS i, dim_j AS j, cov AS mv FROM cvc
       |  UNION ALL
       |  SELECT dim_j, dim_i, cov FROM cvc WHERE dim_i != dim_j
       |), ${(1 to r).map(compCtes).mkString(", ")}, rotk AS (
       |  $rotSelects
       |), rotu AS MATERIALIZED (
       |  SELECT vec_id, list(y ORDER BY k) AS u FROM rotk GROUP BY vec_id
       |)""".stripMargin
  }

  val knnOpqOracleSql: String =
    s"""$opqRotatedPrefix, ${Pq.pqAdcOracleTail("rotu", OpqComponents)}"""

  /** Key `knn_ivf_opq`: the rotation composed with the INVERTED FILE
    * — the IVF rung of the rotated tier, as every other tier has one.
    * The coarse
    * quantizer routes in ORIGINAL space (the shared [[Similarity
    * .ivfIndex]] — routing sees full-dimensional geometry, so the
    * probe cut is exactly `knn_ivf_pq`'s and loses nothing to the
    * projection), while candidate generation runs the rotated ADC
    * scan ONLY over probed cells: the [[Pq.pqAdcSearchOn]] pass with
    * the cell-pruned option, paying rotate+encode+ADC for ~nprobe/C
    * of the corpus. Exact rerank on original floats, as every tier.
    *
    * 100 TB: the additions over knn_ivf_pq are the d-row-bounded
    * basis (driver literal) and r·d multiply-adds per PROBED vector —
    * the rotation's decorrelation buys better codes at the same M·Kc
    * budget precisely where the compressed scan is the bottleneck.
    * Oracle: the OPQ rotated prefix + the IVF body (v/vn shared,
    * byte-identical CTE text) + the suffixed cell-pruned ADC tail. */
  def knnIvfOpq(spark: SparkSession, dir: String, k: Int = Similarity.K): DataFrame =
    knnIvfOpqOn(Tables.embeddings(spark, dir), k)

  def knnIvfOpqOn(vectors: DataFrame, k: Int = Similarity.K,
                  r: Int = OpqComponents, iters: Int = OpqIters): DataFrame = {
    val empty = vectors.select(size(col("embedding")).as("__d"))
      .filter(col("__d").isNotNull).limit(1).collect().isEmpty
    if (empty)
      return AnnSearch.empty(vectors, TopK(k), sameLabel = false)
    val (indexed, centroids) =
      Similarity.ivfIndex(vectors, 0, "ivf_centroids_knn_ivf_opq")
    val probes = Pq.collectProbes(indexed, centroids)
    val vn = indexed.select(col("vec_id"), col("e"), col("nrm"))
    val un = indexed.select(col("vec_id"),
      transform(col("e"), x => x / col("nrm")).as("u"), col("cell"))
    val basis = Similarity.principalComponents(
      Similarity.vecCovarianceOn(vectors), r, iters)
    require(r % Pq.M == 0,
      s"rotated dim $r must be divisible by M=${Pq.M} (subspace width)")
    val subW = r / Pq.M
    // the same balanced round-robin placement as [[knnOpqOn]]
    val perm = Array.tabulate(r) { i =>
      val m = i / subW; val t = i % subW; t * Pq.M + m
    }
    val rot = un.select(col("vec_id"),
      array(perm.map { pi =>
        V.dot(col("u"), array(basis(pi)._2.map(lit): _*))
      }: _*).as("u"), col("cell"))
    Pq.pqAdcSearchOn(rot, vn, r, k, Some(probes))
  }

  val knnIvfOpqOracleSql: String = {
    import Similarity.{sqlDot, IvfNProbe}
    s"""$opqRotatedPrefix, ${Similarity.ivfIdxBodyAuto}, probes AS (
       |  SELECT query_id, cell FROM (
       |    SELECT q.vec_id AS query_id, c.cell,
       |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
       |        ${sqlDot("q.e", "c.ce")} / (q.nrm * c.cnr) DESC, c.cell) AS rk
       |    FROM vn q CROSS JOIN cc c WHERE q.vec_id < ${Similarity.NQueries}) t
       |  WHERE rk <= $IvfNProbe
       |), rotc AS MATERIALIZED (
       |  SELECT r.vec_id, r.u, i.cell FROM rotu r JOIN idx i ON r.vec_id = i.vec_id
       |), ${Pq.pqAdcOracleTail("rotc", OpqComponents, sfx = "o", cellPruned = true)}""".stripMargin
  }

  // --------------------------------------------------------------------
  // The DURABLE OPQ tier. The index is the PQ tier's three frames PLUS
  // the rotation: an r-row `basis` artifact (pos, b: d doubles —
  // perm-placed, so row `pos` IS rotated coordinate `pos`). The query
  // and append kernels are the PQ tier's, reached through the
  // rotation-aware seams ([[Pq.queryIvfPqIndex]]'s `basis`,
  // [[AnnIndex.IvfOpq]]'s encode): one definition per kernel, no copies.
  // --------------------------------------------------------------------

  /** A staged rotated-IVFADC index: the [[Pq.IvfPqIndex]] frames (the
    * codebooks and codes live in ROTATED r-dim space; the centroids
    * route in original space) plus the bounded r×d rotation basis that
    * maps a query into code space. Staged and maintained as
    * [[AnnIndex.IvfOpq]]. */
  case class IvfOpqIndex(basis: DataFrame, pq: Pq.IvfPqIndex) extends AnnIndex.Frames {
    def tier: AnnIndex.Tier = AnnIndex.IvfOpq
    def artifacts: Seq[DataFrame] = Seq(basis, pq.centroids, pq.codebooks)
    def tree: DataFrame = pq.codes
  }

  object IvfOpqIndex {
    /** The rotated view of staged OPQ frames ([[AnnIndex.read]]). */
    def apply(f: AnnIndex.Frames): IvfOpqIndex =
      IvfOpqIndex(f.artifact("basis"), Pq.IvfPqIndex(f))
  }

  /** Build the staged rotated index: the SAME deterministic pipeline
    * the one-shot [[knnIvfOpqOn]] runs — shared `ivfIndex` coarse
    * quantizer (original space), PCA basis off the covariance report,
    * balanced round-robin placement, per-subspace codebooks trained in
    * rotated space ([[Pq.trainCodebooks]] — byte-identical recipe),
    * one rotate+encode pass over the corpus.
    *
    * `trainOn` (null = `vectors`): the TRAINING corpus for centroids,
    * basis, and codebooks, independent of the INDEXED corpus —
    * `buildIvfOpq(a ∪ b, trainOn = a)` is bit-identical to
    * [[AnnIndex.append]] of `b` after `buildIvfOpq(a)` (spec-asserted):
    * the indexed corpus is encoded exactly as an append batch is.
    * `metaCols`: metadata columns riding the code postings (the
    * metadata-in-index recipe), enabling a same-label [[queryIvfOpq]]. */
  def buildIvfOpq(vectors: DataFrame, cells: Int = 0,
                  r: Int = OpqComponents, iters: Int = OpqIters,
                  trainOn: DataFrame = null,
                  metaCols: Seq[String] = Nil): IvfOpqIndex = {
    val train = Option(trainOn).getOrElse(vectors)
    require(r % Pq.M == 0,
      s"rotated dim $r must be divisible by M=${Pq.M} (subspace width)")
    val subW = r / Pq.M
    // empty-corpus contract (the buildIvfPq discipline): fail with a
    // diagnosis here, not an empty-max deep in the eigen procedure
    val d = train.select(size(col("embedding")).as("__d"))
      .filter(col("__d").isNotNull).limit(1).collect().headOption
      .map(_.getInt(0)).getOrElse(throw new IllegalArgumentException(
        "cannot build a rotated (OPQ) index over an empty corpus"))
    val (indexed, centroids) =
      Similarity.ivfIndex(train, cells, "ivf_centroids_build_ivf_opq")
    val comps = Similarity.principalComponents(
      Similarity.vecCovarianceOn(train), r, iters)
    // the balanced round-robin placement ([[knnOpqOn]]): basisArr(i)
    // is the component at rotated position i+1 — the artifact stores
    // rows ALREADY permuted, so readers never re-derive the placement
    val perm = Array.tabulate(r) { i =>
      val m = i / subW; val t = i % subW; t * Pq.M + m
    }
    val basisArr: Array[Array[Double]] = perm.map(pi => comps(pi)._2)
    def rotFrame(un: DataFrame): DataFrame = un.select(col("vec_id"),
      array(basisArr.map(b =>
        V.dot(col("u"), array(b.toSeq.map(lit): _*))): _*).as("u"),
      col("cell"))
    val unTrain = indexed.select(col("vec_id"),
      transform(col("e"), x => x / col("nrm")).as("u"), col("cell"))
    // collect the trained codebooks ONCE and hand both the encode
    // closure and the index frame the same bounded value
    // ([[Pq.codebooksFrame]] — staging no longer re-runs training)
    val centsByM = Pq.centsByMFrom(Pq.trainCodebooks(rotFrame(unTrain), subW))
    val spark = vectors.sparkSession
    import spark.implicits._
    val basisDf = basisArr.toSeq.zipWithIndex
      .map { case (b, i) => (i + 1, b.toSeq) }.toDF("pos", "b")
    val codebooks = Pq.codebooksFrame(spark, centsByM)
    val codes =
      if (trainOn == null) Pq.encodeCodes(rotFrame(unTrain), centsByM, subW)
      else AnnIndex.IvfOpq.encode(Map("basis" -> basisDf, "centroids" -> centroids,
        "codebooks" -> codebooks), vectors, d)
    IvfOpqIndex(basisDf,
      Pq.IvfPqIndex(centroids, codebooks, AnnIndex.ride(codes, vectors, metaCols)))
  }

  /** Query the staged rotated index — [[Pq.queryIvfPqIndex]] with the
    * basis threaded: probes rank in original space, ADC tables build
    * from the rotated query, and the code scan, the cut and the exact
    * rerank on original floats are the PQ kernel's, for every
    * (cut, sameLabel) pair. */
  def queryIvfOpq(index: IvfOpqIndex, vectors: DataFrame, queryIds: Seq[Long],
                  cut: Cut = TopK(Similarity.K), sameLabel: Boolean = false,
                  nprobe: Int = 0): DataFrame =
    Pq.queryIvfPqIndex(index.pq, vectors, queryIds, cut, sameLabel, nprobe,
      basis = index.basis)

  /** Driver query (key `knn_ivf_opq_filtered`): the rotated filtered
    * serving path END TO END through the cross-engine gate — build
    * with the label riding the code postings, stage durably (basis
    * included), read back, answer same-label top-k with the predicate
    * inside the rotated compressed scan. Oracle = the OPQ rotated
    * prefix + the IVF body + the filtered ADC tail (lab joined on
    * both sides, FilteredNProbe widening). */
  def knnIvfOpqFiltered(spark: SparkSession, dir: String): DataFrame = {
    val vectors = Tables.embeddings(spark, dir)
    val path = Scratch.reuseDir("ivf_opq_filtered_idx")
    AnnIndex.write(buildIvfOpq(vectors, metaCols = Seq("label")), path)
    queryIvfOpq(IvfOpqIndex(AnnIndex.read(spark, path, AnnIndex.IvfOpq)), vectors,
      0L until Similarity.NQueries.toLong, sameLabel = true)
  }

  /** Driver query (key `knn_ivf_opq_radius_filtered`): the rotated
    * tier's same-label radius search at the cross-engine gate —
    * build with the label riding the rotated codes, stage durably,
    * answer the same-label radius query inside the rotated compressed
    * scan at the widened probe cut, exact-verify on original floats. */
  def knnIvfOpqRadiusFiltered(spark: SparkSession, dir: String): DataFrame = {
    val vectors = Tables.embeddings(spark, dir)
    val path = Scratch.reuseDir("ivf_opq_radius_filt_idx")
    AnnIndex.write(buildIvfOpq(vectors, metaCols = Seq("label")), path)
    queryIvfOpq(IvfOpqIndex(AnnIndex.read(spark, path, AnnIndex.IvfOpq)), vectors,
      0L until Similarity.NQueries.toLong, Radius(Similarity.RadiusTau), sameLabel = true)
  }

  /** Driver query (key `knn_ivf_opq_radius`): build, stage durably,
    * read back, answer the radius query off the rotated codes. */
  def knnIvfOpqRadius(spark: SparkSession, dir: String): DataFrame = {
    val vectors = Tables.embeddings(spark, dir)
    val path = Scratch.reuseDir("ivf_opq_radius_idx")
    AnnIndex.write(buildIvfOpq(vectors), path)
    queryIvfOpq(IvfOpqIndex(AnnIndex.read(spark, path, AnnIndex.IvfOpq)), vectors,
      0L until Similarity.NQueries.toLong, Radius(Similarity.RadiusTau))
  }

  /** Driver query (key `knn_ivf_opq_append`): the rotated tier's
    * incremental-maintenance lifecycle END TO END through the
    * cross-engine gate — day-0 build on the base half (centroids,
    * basis, AND codebooks all trained on `vec_id <= max/2`), staged as
    * a manifest version, the ATOMIC append of the rest
    * ([[AnnIndex.halfAppended]] — assign in the original space, rotate
    * through the staged basis, encode against the frozen codebooks),
    * then the staged query path over the full corpus off the live
    * version. The oracle replays `buildIvfOpq(all, trainOn = base)` —
    * bit-identical to the append by the OpqSpec CRUD equation — so a
    * hash match checks the rotated append arithmetic itself
    * cross-engine. */
  def knnIvfOpqAppend(spark: SparkSession, dir: String): DataFrame = {
    val vectors = Tables.embeddings(spark, dir)
    val (live, _) = AnnIndex.halfAppended(vectors, "ivf_opq_append_key_root")(buildIvfOpq(_))
    queryIvfOpq(IvfOpqIndex(AnnIndex.read(spark, live, AnnIndex.IvfOpq)),
      vectors, 0L until Similarity.NQueries.toLong)
  }

  /** Driver query (key `knn_ivf_opq_delete`): the rotated erasure
    * lifecycle at the gate — full-corpus build staged as a manifest
    * version, the [[Pq.DeleteLo]]..[[Pq.DeleteHi]] slice erased
    * atomically ([[AnnIndex.erased]] — only touched cell directories
    * rewritten), staged query off the live version. Oracle = the
    * classic rotated composition with exactly those ids excluded from
    * candidate enumeration: basis, centroids, and codebooks are trained
    * AGGREGATES an erasure never edits. */
  def knnIvfOpqDelete(spark: SparkSession, dir: String): DataFrame = {
    val vectors = Tables.embeddings(spark, dir)
    val live = AnnIndex.erased(vectors, "ivf_opq_delete_key_root")(buildIvfOpq(_))
    queryIvfOpq(IvfOpqIndex(AnnIndex.read(spark, live, AnnIndex.IvfOpq)),
      vectors, 0L until Similarity.NQueries.toLong)
  }

  /** The append replay: the TRAINED rotated prefix (covariance/basis
    * over the base slice, `cutv` shared downstream), the trained-half
    * IVF body (Lloyd + C-sizing on `vt`, full assignment), probes over
    * the base-trained centroids, and the ADC tail with trained seeds +
    * Lloyd means — encoding, probes, ADC, and rerank all full-corpus. */
  val knnIvfOpqAppendOracleSql: String = {
    import Similarity.{sqlDot, IvfNProbe}
    s"""${opqRotatedPrefixFor(trained = true)}, ${Similarity.ivfIdxBodyAutoTrainedHalf}, probes AS (
       |  SELECT query_id, cell FROM (
       |    SELECT q.vec_id AS query_id, c.cell,
       |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
       |        ${sqlDot("q.e", "c.ce")} / (q.nrm * c.cnr) DESC, c.cell) AS rk
       |    FROM vn q CROSS JOIN cc c WHERE q.vec_id < ${Similarity.NQueries}) t
       |  WHERE rk <= $IvfNProbe
       |), rotc AS MATERIALIZED (
       |  SELECT r.vec_id, r.u, i.cell FROM rotu r JOIN idx i ON r.vec_id = i.vec_id
       |), ${Pq.pqAdcOracleTail("rotc", OpqComponents, sfx = "o",
             cellPruned = true, trained = true)}""".stripMargin
  }

  /** The erasure replay: the classic rotated composition with the
    * erased slice dropped at candidate enumeration only. */
  val knnIvfOpqDeleteOracleSql: String = {
    import Similarity.{sqlDot, IvfNProbe}
    s"""$opqRotatedPrefix, ${Similarity.ivfIdxBodyAuto}, probes AS (
       |  SELECT query_id, cell FROM (
       |    SELECT q.vec_id AS query_id, c.cell,
       |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
       |        ${sqlDot("q.e", "c.ce")} / (q.nrm * c.cnr) DESC, c.cell) AS rk
       |    FROM vn q CROSS JOIN cc c WHERE q.vec_id < ${Similarity.NQueries}) t
       |  WHERE rk <= $IvfNProbe
       |), rotc AS MATERIALIZED (
       |  SELECT r.vec_id, r.u, i.cell FROM rotu r JOIN idx i ON r.vec_id = i.vec_id
       |), ${Pq.pqAdcOracleTail("rotc", OpqComponents, sfx = "o",
             cellPruned = true,
             erasedPred = s"c.vec_id BETWEEN ${Pq.DeleteLo} AND ${Pq.DeleteHi}")}""".stripMargin
  }

  /** The filtered replay: the shared rotated prefix + the IVF body +
    * a probes CTE carrying `qlabel` at the widened cut + the filtered
    * cell-pruned ADC tail — the knn_ivf_pq_filtered deltas on the
    * rotated composition. */
  val knnIvfOpqFilteredOracleSql: String = {
    import Similarity.{sqlDot, FilteredNProbe}
    s"""$opqRotatedPrefix, ${Similarity.ivfIdxBodyAuto}, lab AS (
       |  SELECT vec_id, label FROM embeddings
       |), probes AS (
       |  SELECT query_id, qlabel, cell FROM (
       |    SELECT q.vec_id AS query_id, ql.label AS qlabel, c.cell,
       |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
       |        ${sqlDot("q.e", "c.ce")} / (q.nrm * c.cnr) DESC, c.cell) AS rk
       |    FROM vn q JOIN lab ql ON q.vec_id = ql.vec_id
       |    CROSS JOIN cc c WHERE q.vec_id < ${Similarity.NQueries}) t
       |  WHERE rk <= $FilteredNProbe
       |), rotc AS MATERIALIZED (
       |  SELECT r.vec_id, r.u, i.cell FROM rotu r JOIN idx i ON r.vec_id = i.vec_id
       |), ${Pq.pqAdcOracleTail("rotc", OpqComponents, sfx = "o",
             cellPruned = true, filtered = true)}""".stripMargin
  }

  /** The filtered-radius replay (key `knn_ivf_opq_radius_filtered`):
    * the rotated composition with BOTH deltas — qlabel-carrying
    * probes at the widened cut + same-label candidate enumeration
    * (filtered), the adist-threshold admission + the label-carrying
    * exact radius verify (radius) — the knn_ivf_pq_radius_filtered
    * tail through the rotation seam. */
  val knnIvfOpqRadiusFilteredOracleSql: String = {
    import Similarity.{sqlDot, FilteredNProbe}
    s"""$opqRotatedPrefix, ${Similarity.ivfIdxBodyAuto}, lab AS (
       |  SELECT vec_id, label FROM embeddings
       |), probes AS (
       |  SELECT query_id, qlabel, cell FROM (
       |    SELECT q.vec_id AS query_id, ql.label AS qlabel, c.cell,
       |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
       |        ${sqlDot("q.e", "c.ce")} / (q.nrm * c.cnr) DESC, c.cell) AS rk
       |    FROM vn q JOIN lab ql ON q.vec_id = ql.vec_id
       |    CROSS JOIN cc c WHERE q.vec_id < ${Similarity.NQueries}) t
       |  WHERE rk <= $FilteredNProbe
       |), rotc AS MATERIALIZED (
       |  SELECT r.vec_id, r.u, i.cell FROM rotu r JOIN idx i ON r.vec_id = i.vec_id
       |), ${Pq.pqAdcOracleTail("rotc", OpqComponents, sfx = "o",
             cellPruned = true, filtered = true, radius = true)}""".stripMargin
  }

  /** The radius replay: the rotated composition with the ranked cut
    * swapped for the adist threshold and the exact radius verify —
    * the knn_ivf_pq_radius deltas, rotated. */
  val knnIvfOpqRadiusOracleSql: String = {
    import Similarity.{sqlDot, IvfNProbe}
    s"""$opqRotatedPrefix, ${Similarity.ivfIdxBodyAuto}, probes AS (
       |  SELECT query_id, cell FROM (
       |    SELECT q.vec_id AS query_id, c.cell,
       |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
       |        ${sqlDot("q.e", "c.ce")} / (q.nrm * c.cnr) DESC, c.cell) AS rk
       |    FROM vn q CROSS JOIN cc c WHERE q.vec_id < ${Similarity.NQueries}) t
       |  WHERE rk <= $IvfNProbe
       |), rotc AS MATERIALIZED (
       |  SELECT r.vec_id, r.u, i.cell FROM rotu r JOIN idx i ON r.vec_id = i.vec_id
       |), ${Pq.pqAdcOracleTail("rotc", OpqComponents, sfx = "o",
             cellPruned = true, radius = true)}""".stripMargin
  }
}
