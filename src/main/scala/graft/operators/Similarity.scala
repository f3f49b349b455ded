package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.functions.{VectorOps => V}
import graft.operators.AnnSearch.{Cut, Radius, TopK}

/** Similarity search over the `embeddings` table (ANN tier of the
  * training-data pipeline).
  *
  * Scale design (SURVEY §4): brute-force top-k is ONE scan of the
  * corpus against a BROADCAST query set, followed by a bounded
  * per-partition top-k (heap) so the final exact ranking window sees
  * n_partitions × k rows per query instead of the whole corpus. The
  * LSH variant buckets the corpus by random-hyperplane signs so each
  * probe touches ~1/2^bits of the data per table — the path that holds
  * when the corpus no longer fits a single scan per query batch.
  */
object Similarity {

  /** Neighbors returned per query. */
  val K = 10
  /** Queries: the first `NQueries` vec_ids double as the query set. */
  val NQueries = 5

  private def scoredFrame(vectors: DataFrame): DataFrame = {
    val v = vectors
      .select(col("vec_id"), V.toDouble(col("embedding")).as("e"))
      .withColumn("nrm", V.l2Norm(col("e")))
    val q = broadcast(
      v.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("query_id"), col("e").as("qe"), col("nrm").as("qnrm")))
    v.join(q, col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        V.cosineWithNorms(V.dot(col("e"), col("qe")), col("nrm"), col("qnrm"))
          .as("cosine"))
  }

  /** Exact top-k cosine neighbors for each query vector.
    *
    * The mapPartitions stage keeps a bounded k-heap per query inside
    * each partition — the only pruning step, and it is lossless: the
    * global top-k is a subset of the union of per-partition top-ks.
    * The final window ranks that tiny union exactly. Cosines are
    * deterministic doubles (sequential fold), so the ranking (cosine
    * desc, vec_id asc) is reproducible across engines. */
  def knnBruteforce(spark: SparkSession, dir: String, k: Int = K): DataFrame =
    knnBruteforceOn(Tables.embeddings(spark, dir), k)

  def knnBruteforceOn(vectors: DataFrame, k: Int = K): DataFrame =
    AnnSearch.finish(partitionTopK(scoredFrame(vectors), k), TopK(k), sameLabel = false)

  val knnBruteforceOracleSql: String =
    s"""WITH v AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
       |    sqrt(list_reduce(list_transform(generate_series(1, len(embedding)),
       |      i -> CAST(embedding AS DOUBLE[])[i] * CAST(embedding AS DOUBLE[])[i]),
       |      (x,y) -> x+y)) AS nrm
       |  FROM embeddings)
       |SELECT query_id, neighbor_id, CAST(rnk AS INTEGER) AS rank, cosine FROM (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    list_reduce(list_transform(generate_series(1, len(q.e)), i -> c.e[i]*q.e[i]),
       |      (x,y) -> x+y) / (c.nrm * q.nrm) AS cosine,
       |    ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
       |      list_reduce(list_transform(generate_series(1, len(q.e)), i -> c.e[i]*q.e[i]),
       |        (x,y) -> x+y) / (c.nrm * q.nrm) DESC, c.vec_id) AS rnk
       |  FROM v q, v c
       |  WHERE q.vec_id < $NQueries AND c.vec_id != q.vec_id) t
       |WHERE rnk <= $K""".stripMargin

  /** Per-label vector statistics: count, dimensionality, norm range,
    * and the L2 norm of the label centroid. Element-wise centroid
    * means run as a (label, dim) aggregate over posexploded elements —
    * decimal-accumulated so the cross-engine doubles match bit-for-bit
    * regardless of partial-aggregation order. */
  def vecStats(spark: SparkSession, dir: String): DataFrame =
    vecStatsOn(Tables.embeddings(spark, dir))

  def vecStatsOn(vectors: DataFrame): DataFrame = {
    val v = vectors
      .select(col("label"), V.toDouble(col("embedding")).as("e"))
    val withNorm = v.withColumn("nrm", V.l2Norm(col("e")))
    val labelStats = withNorm.groupBy(col("label")).agg(
      count(lit(1)).as("n_vecs"),
      max(size(col("e"))).as("dim"),
      (sum(col("nrm").cast("decimal(30,10)")).cast("double") / count(col("nrm")))
        .as("avg_norm"),
      min(col("nrm")).as("min_norm"),
      max(col("nrm")).as("max_norm"))
    val elems = v.select(col("label"), posexplode(col("e")).as(Seq("pos", "val")))
    val means = elems.groupBy(col("label"), col("pos"))
      .agg((sum(col("val").cast("decimal(30,10)")).cast("double") / count(col("val")))
        .as("mean"))
    val centroid = means.groupBy(col("label"))
      .agg(sqrt(sum((col("mean") * col("mean")).cast("decimal(30,10)")).cast("double"))
        .as("centroid_norm"))
    labelStats.join(centroid, "label")
  }

  val vecStatsOracleSql: String =
    """WITH v AS (
      |  SELECT label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      |n AS (
      |  SELECT label, len(e) AS dim,
      |    sqrt(list_reduce(list_transform(generate_series(1, len(e)), i -> e[i]*e[i]),
      |      (x,y) -> x+y)) AS nrm
      |  FROM v),
      |stats AS (
      |  SELECT label, COUNT(*) AS n_vecs, CAST(MAX(dim) AS INTEGER) AS dim,
      |    CAST(SUM(CAST(nrm AS DECIMAL(30,10))) AS DOUBLE) / COUNT(nrm) AS avg_norm,
      |    MIN(nrm) AS min_norm, MAX(nrm) AS max_norm
      |  FROM n GROUP BY label),
      |elems AS (
      |  SELECT label, unnest(e) AS val, generate_subscripts(e, 1) AS pos FROM v),
      |means AS (
      |  SELECT label, pos,
      |    CAST(SUM(CAST(val AS DECIMAL(30,10))) AS DOUBLE) / COUNT(val) AS mean
      |  FROM elems GROUP BY label, pos),
      |cent AS (
      |  SELECT label,
      |    sqrt(CAST(SUM(CAST(mean*mean AS DECIMAL(30,10))) AS DOUBLE)) AS centroid_norm
      |  FROM means GROUP BY label)
      |SELECT stats.label, n_vecs, dim, avg_norm, min_norm, max_norm, centroid_norm
      |FROM stats JOIN cent ON stats.label = cent.label""".stripMargin

  /** Embedding covariance matrix (key `vec_covariance`): population
    * covariance of every dimension PAIR over the whole corpus — the
    * d×d summary that embedding whitening, PCA/OPQ rotation training,
    * and drift detection (compare this week's matrix to last week's)
    * all start from. Output is the upper triangle (dim_i ≤ dim_j,
    * 1-based), d(d+1)/2 rows — REPORT-sized (2080 rows at d=64) no
    * matter how large the corpus.
    *
    * Scale shape: the pair products are declared as a generator chain
    * (posexplode × suffix-slice posexplode, n·d²/2 terms) feeding ONE
    * hash aggregate keyed by the d²/2 cells — partial aggregation
    * collapses each partition to its d²/2 decimal cells map-side, so
    * the shuffle carries #partitions × cells rows, not n·d²/2: the
    * declarative twin of a Gram-matrix treeAggregate, staying inside
    * codegen. The arithmetic is n·d²/2 multiply-adds — FLOP-bound, one
    * corpus scan (plus the d-row per-dim sum scan).
    *
    * TWO-PASS CENTERED algorithm (means first, then
    * cov = Σ(x−mx)(y−my)/n): the one-pass E[xy]−E[x]E[y] form
    * catastrophically cancels (the two terms agree to ~4 digits on
    * near-centered embeddings, and the cancellation amplified a
    * sub-ulp engine difference to 3e-12 — measured before the
    * rewrite), while the centered form's every double op — mean
    * division, per-row subtraction, product — is replicated exactly
    * cross-engine and the decimal-accumulated sums (scale 10) are
    * double-exact per the |sum|·10^scale < 2^53 rule. The means ride
    * back onto the pair scan as a broadcast d-row join.
    *
    * The product sums accumulate as EXACT INTEGER 1e-6 units:
    * `floor(prod·10⁶ + 0.5)` per element (the [[Quantize]] rounding
    * convention — every step is the same IEEE double op in both
    * engines, and floor/cast are exact), summed as BIGINT. The earlier
    * double→decimal(30,6) per-element cast carried a ~1e-5/suite
    * cross-engine flake: a product landing exactly on a decimal grid
    * midpoint rounds apart (Spark BigDecimal correctly-rounded vs
    * DuckDB int128×10⁻ˢ double-rounded). The floor form has no
    * midpoint ambiguity — both engines floor the SAME double — so the
    * last member of that bug class is gone (r14 verdict item 2). The
    * cov quantum (1e-6/n) is unchanged and far below any consumer's
    * sensitivity. Unit headroom: |prod|·10⁶ sums must fit a long —
    * ~10⁹ rows of O(100)-magnitude products; beyond that, shard the
    * corpus and weighted-sum the per-shard unit sums (the same merge
    * rule the decimal form had). */
  def vecCovariance(spark: SparkSession, dir: String): DataFrame =
    vecCovarianceOn(Tables.embeddings(spark, dir))

  def vecCovarianceOn(vectors: DataFrame): DataFrame = {
    val v = vectors.select(V.toDouble(col("embedding")).as("e"))
    val el = v.select(posexplode(col("e")).as(Seq("p", "x")))
      .select((col("p") + 1).as("dim"), col("x"))
    val means = el.groupBy("dim").agg(
      (sum(col("x").cast("decimal(30,10)")).cast("double") / count(lit(1)))
        .as("mx"),
      count(lit(1)).as("n"))
    val pairs = v
      .select(col("e"), posexplode(col("e")).as(Seq("pi", "xi")))
      .select(col("pi"), col("xi"),
        posexplode(slice(col("e"), col("pi") + 1, size(col("e")) - col("pi")))
          .as(Seq("pj", "xj")))
      .select((col("pi") + 1).as("dim_i"),
        (col("pi") + 1 + col("pj")).as("dim_j"),
        col("xi"), col("xj"))
    pairs
      .join(broadcast(means.select(col("dim").as("dim_i"), col("mx").as("mx_i"))),
        "dim_i")
      .join(broadcast(means.select(col("dim").as("dim_j"), col("mx").as("mx_j"))),
        "dim_j")
      .select(col("dim_i"), col("dim_j"),
        ((col("xi") - col("mx_i")) * (col("xj") - col("mx_j"))).as("prod"))
      .groupBy("dim_i", "dim_j")
      .agg(sum(floor(col("prod") * lit(1e6) + lit(0.5))).as("spu"))
      .join(broadcast(means.select(col("dim").as("dim_i"), col("n"))), "dim_i")
      .select(col("dim_i"), col("dim_j"),
        (col("spu").cast("double") / (col("n").cast("double") * lit(1e6)))
          .as("cov"))
  }

  val vecCovarianceOracleSql: String =
    """WITH v AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      |el AS (
      |  SELECT vec_id, generate_subscripts(e, 1) AS dim, unnest(e) AS x FROM v),
      |means AS (
      |  SELECT dim,
      |    CAST(SUM(CAST(x AS DECIMAL(30,10))) AS DOUBLE) / COUNT(*) AS mx,
      |    COUNT(*) AS n
      |  FROM el GROUP BY dim),
      |pr AS (
      |  SELECT a.dim AS dim_i, b.dim AS dim_j,
      |    CAST(SUM(CAST(FLOOR(((a.x - mi.mx) * (b.x - mj.mx)) * 1000000.0 + 0.5)
      |      AS BIGINT)) AS BIGINT) AS spu
      |  FROM el a
      |  JOIN el b ON a.vec_id = b.vec_id AND a.dim <= b.dim
      |  JOIN means mi ON a.dim = mi.dim
      |  JOIN means mj ON b.dim = mj.dim
      |  GROUP BY 1, 2)
      |SELECT CAST(p.dim_i AS INTEGER) AS dim_i, CAST(p.dim_j AS INTEGER) AS dim_j,
      |  CAST(p.spu AS DOUBLE) / (CAST(n.n AS DOUBLE) * 1000000.0) AS cov
      |FROM pr p
      |JOIN means n ON p.dim_i = n.dim""".stripMargin

  /** Top-r principal components from a [[vecCovarianceOn]] result —
    * the driver-side finisher (power iteration with deflation on the
    * d×d matrix; the distributed work is the covariance scan, the
    * eigen step is d²·iters FLOPs on 2080 doubles at d=64). Collect is
    * bounded: d(d+1)/2 rows.
    *
    * REPLAYABLE procedure (the knn_opq oracle unrolls it in SQL, so
    * every double op is pinned): fixed e1-leaning start vector; `iters`
    * UNNORMALIZED matvecs (each row the ascending-j sequential fold —
    * normalizing per step would need an engine-unportable mid-recursion
    * norm; growth is λ1^iters, so the default 24 iterations stays
    * finite for any λ1 < 1e12 — covariances of bounded features are
    * orders below that, and the finiteness require fails loudly
    * otherwise); one final normalize; sign fixed by multiplying with
    * ±1.0 so the FIRST largest-|.| coordinate is positive; eigenvalue
    * = the Rayleigh quotient u·(Mu) (ascending folds); deflation
    * m -= (λ·u_i)·u_j. Returns r rows of (eigenvalue, eigenvector),
    * eigenvalue-descending — feed a matmul projection ([[V.dot]] per
    * component) to whiten, reduce, or rotate ([[Opq]]). */
  def principalComponents(cov: DataFrame, r: Int, iters: Int = 24)
      : Seq[(Double, Array[Double])] = {
    val cells = cov.select(col("dim_i"), col("dim_j"), col("cov")).collect()
      .map(x => (x.getInt(0) - 1, x.getInt(1) - 1, x.getDouble(2)))
    val d = cells.iterator.map(_._2).max + 1
    val m = Array.ofDim[Double](d, d)
    cells.foreach { case (i, j, c) => m(i)(j) = c; m(j)(i) = c }
    def matvec(x: Array[Double]): Array[Double] = {
      val w = new Array[Double](d)
      var i = 0
      while (i < d) {
        var acc = 0.0
        var j = 0
        while (j < d) { acc += m(i)(j) * x(j); j += 1 }
        w(i) = acc
        i += 1
      }
      w
    }
    val comps = Seq.newBuilder[(Double, Array[Double])]
    for (_ <- 0 until r) {
      var v = Array.tabulate(d)(i => if (i == 0) 1.0 else 0.001)
      for (_ <- 0 until iters) v = matvec(v)
      var nrm2 = 0.0
      locally { var i = 0; while (i < d) { nrm2 += v(i) * v(i); i += 1 } }
      val nrm = math.sqrt(nrm2)
      require(!nrm.isInfinite && !nrm.isNaN && nrm > 0,
        s"power iteration over/underflowed (norm $nrm) — reduce iters " +
          "(growth is lambda1^iters) or rescale the feature domain")
      val u0 = v.map(_ / nrm)
      // sign convention: FIRST largest-|.| coordinate positive
      var kk = 0
      locally { var i = 1; while (i < d) {
          if (math.abs(u0(i)) > math.abs(u0(kk))) kk = i; i += 1 } }
      val s = if (u0(kk) < 0) -1.0 else 1.0
      val u = u0.map(_ * s)
      val w2 = matvec(u)
      var lam = 0.0
      locally { var i = 0; while (i < d) { lam += u(i) * w2(i); i += 1 } }
      comps += ((lam, u))
      // deflate: m -= (lambda * u_i) * u_j
      for (i <- 0 until d; j <- 0 until d) m(i)(j) -= (lam * u(i)) * u(j)
    }
    comps.result()
  }

  /** IVF probe width: cells scanned per query. */
  val IvfNProbe = 4

  /** Auto-sized cell count: C = max(1, ceil(sqrt(n/2))). The IVF-style
    * operators cost n·C (assignment) plus Σ cell² ≈ n²/C (within-cell
    * pair work for the dedup/cluster consumers); the two terms balance
    * at C ≈ √(n/2), which the 1000× ScaleCheck table showed is where
    * the fixed knob stops being safe — a 2M-vector corpus at C=16 pays
    * n²/16 pair work. Every step is exactly portable to the oracle:
    * n is exact, n/2.0 is an exact double for any real corpus, and
    * sqrt/ceil are correctly-rounded IEEE ops in both engines. */
  def autoCells(n: Long): Int =
    math.max(1L, math.ceil(math.sqrt(n / 2.0)).toLong).toInt

  /** IVF-style ANN: build a coarse quantizer (seed vectors refined by
    * one Lloyd iteration, all as DataFrame aggregates), assign the
    * corpus to its nearest cell once, then answer each query by
    * scanning only the `nprobe` cells nearest to it — the classic
    * inverted-file layout where a probe touches ~nprobe/C of the
    * corpus. Exact cosine rerank inside the probed cells.
    *
    * Everything is deterministic: seeds are the lowest vec_ids, means
    * are decimal-accumulated, ties break on cell id. Contract
    * (SimilaritySpec): near-perfect recall on clustered data — IVF's
    * recall degrades gracefully toward nprobe/C on unclustered data,
    * which is the expected tradeoff, not a defect. */
  def knnIvf(spark: SparkSession, dir: String, k: Int = K): DataFrame =
    knnIvfOn(Tables.embeddings(spark, dir), TopK(k))

  /** Shared IVF build: norm prep, deterministic seeds, ONE Lloyd
    * refinement, and the nearest-cell assignment of every corpus
    * vector. Returns (indexed [vec_id, e, nrm, cell, sim], centroids
    * [cell, ce, cn]) — `sim` is each vector's cosine to its own
    * centroid, which the cluster-summary/semantic-dedup operators
    * consume.
    *
    * `stagePrefix` is retained for call-site attribution only (r20):
    * the centroid frame is no longer scratch-staged — it is collected
    * into a bounded local relation (see the build note below), which
    * removes the r13 shared-prefix invalidation hazard outright (no
    * files to invalidate). */
  private[operators] def ivfIndex(vectors: DataFrame,
                                  cells: Int = 0,
                                  stagePrefix: String = "ivf_centroids")
      : (DataFrame, DataFrame) = {
    // cells <= 0 = auto-size from the corpus count (one COUNT(*) job —
    // a scan returning a single scalar, the same count the oracle's
    // ncells CTE takes; Catalyst prunes every column out of it)
    val nCells = if (cells > 0) cells else autoCells(vectors.count())
    val v = vectors
      .select(col("vec_id"), V.toDouble(col("embedding")).as("e"))
      .withColumn("nrm", V.l2Norm(col("e")))

    // --- build: seeds = lowest vec_ids, one Lloyd refinement.
    // The seed's own vec_id is its cell id — stable by construction
    // (monotonically_increasing_id after a limit would depend on the
    // plan's partitioning, a planner detail, not a contract).
    // no broadcast() mark: the codebook frames are CONSUMED by
    // assignNearest's bounded closure collect, not by a join — an
    // orphaned join hint here survives to the collect plan and logs
    // a HintErrorLogger warning per pass (r12 verdict); the real
    // broadcast joins mark their build side at the join site
    val seeds = v.orderBy(col("vec_id")).limit(nCells)
      .select(col("vec_id").as("cell0"), col("e").as("ce"), col("nrm").as("cn"))
    val firstAssign = assignNearest(v, seeds, "cell0", "ce", "cn")
    val centroids = {
      val elems = firstAssign.select(col("cell0").as("cell"),
        posexplode(col("e")).as(Seq("pos", "val")))
      val means = elems.groupBy(col("cell"), col("pos"))
        .agg((sum(col("val").cast("decimal(30,10)")).cast("double") / count(col("val")))
          .as("mean"))
      means.groupBy(col("cell"))
        .agg(sort_array(collect_list(struct(col("pos"), col("mean")))).as("pm"))
        .select(col("cell"), transform(col("pm"), p => p.getField("mean")).as("ce"))
        .withColumn("cn", V.l2Norm(col("ce")))
    }

    // --- index: one nearest-cell assignment per corpus vector.
    // The centroid frame is MATERIALIZED first (review finding r13):
    // its lineage embeds the Lloyd refinement — itself a full-corpus
    // assignment pass — and every consumer that collects or joins it
    // (the index assignment here, knnIvfOn's probe window,
    // knnGraphOn's top-cells scan) would otherwise re-run that pass.
    // r20: materialize by COLLECT into a local relation instead of a
    // scratch-parquet round-trip (guide §1.2/§2.4 — the stage write,
    // its partition-discovery re-read, and one scheduled job per
    // consumer were pure fixed overhead on every IVF-backed key).
    // Bounded by the assignNearest contract already in force: C =
    // ⌈√(n/2)⌉ rows × d doubles (~22k rows even at a 10^9 corpus),
    // and the doubles are bit-exact either way (collect and parquet
    // both round-trip IEEE754). Sorted by cell for determinism.
    val spark = vectors.sparkSession
    import spark.implicits._
    val staged = centroids.select(col("cell").cast("long"), col("ce"), col("cn"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1), r.getDouble(2)))
      .sortBy(_._1).toSeq.toDF("cell", "ce", "cn")
    (assignNearest(v, staged, "cell", "ce", "cn"), staged)
  }

  /** The one-shot float IVF search behind `knn_ivf`, `knn_radius`,
    * `knn_filtered` and `knn_radius_filtered`: build the index, then
    * [[ivfSearch]] with the given cut. Under `sameLabel` the corpus
    * label joins onto the postings (index-build cost, once). `cells <=
    * 0` (the default) auto-sizes the coarse quantizer from the corpus
    * count ([[autoCells]], C=⌈√(n/2)⌉) — the fixed 16-cell knob left
    * ~n/16-vector cells at 2M vectors, so a probe pruned almost
    * nothing (the measured 1000× build-dominated wall). Pass an
    * explicit positive C to pin it. `nprobe <= 0` picks the width from
    * `sameLabel` ([[AnnSearch.probeWidth]]). */
  def knnIvfOn(vectors: DataFrame, cut: Cut = TopK(K), sameLabel: Boolean = false,
               cells: Int = 0, nprobe: Int = 0): DataFrame = {
    val (indexed, centroids) = ivfIndex(vectors, cells, "ivf_centroids_knn_ivf")
    val postings =
      if (sameLabel) indexed.join(vectors.select(col("vec_id"), col(AnnSearch.Label)), "vec_id")
      else indexed
    ivfSearch(postings, centroids, cut, sameLabel, nprobe)
  }

  /** The float tier's one search body, shared by the one-shot keys
    * and the staged index: per query the probed cells' postings, the
    * same-label predicate (when asked) evaluated in the scan before
    * the dot product, exact cosines, then the cut. Query vectors come
    * off the postings frame (it already carries e and nrm) — no second
    * toDouble+norm pass over the corpus. */
  private def ivfSearch(postings: DataFrame, centroids: DataFrame, cut: Cut,
                        sameLabel: Boolean, nprobe: Int): DataFrame = {
    val lab = AnnSearch.labelCols(sameLabel)
    val probes = probeFrame(postings, centroids, AnnSearch.probeWidth(nprobe, sameLabel),
      if (sameLabel) Seq(AnnSearch.Label) else Nil)
    val notSelf = col("vec_id") =!= col("query_id")
    AnnSearch.finish(postings.join(probes, "cell")
      .filter(if (sameLabel) notSelf && col(AnnSearch.Label) === col("qlabel") else notSelf)
      .select((Seq(col("query_id"), col("vec_id")) ++ lab :+
        AnnSearch.cosineTo("e", "nrm")): _*), cut, sameLabel)
  }

  /** The probe frame every IVF query path shares: per query
    * (vec_id < [[NQueries]] off `indexed`, which already carries
    * e/nrm), the `nprobe` nearest cells by centroid cosine, broadcast
    * (Q·nprobe rows). `extraCols` ride from the indexed frame aliased
    * `q<name>` — the filtered path's label. ONE definition serves the
    * one-shot keys AND the staged-index query paths, which are
    * spec-equated bit-identical to the one-shot keys (r16 advice: six
    * hand-copies of this block were one edit away from silently
    * breaking that equivalence). */
  private[operators] def probeFrame(indexed: DataFrame, centroids: DataFrame,
                                    nprobe: Int = IvfNProbe,
                                    extraCols: Seq[String] = Nil): DataFrame = {
    val probeW = Window.partitionBy(col("query_id"))
      .orderBy(col("cdist").desc, col("cell"))
    broadcast(indexed.filter(col("vec_id") < NQueries)
      .select((Seq(col("vec_id").as("query_id"), col("e").as("qe"),
        col("nrm").as("qnrm")) ++ extraCols.map(c => col(c).as(s"q$c"))): _*)
      .join(broadcast(centroids))
      .withColumn("cdist", V.cosineWithNorms(
        V.dot(col("qe"), col("ce")), col("qnrm"), col("cn")))
      .withColumn("rk", row_number().over(probeW))
      .filter(col("rk") <= nprobe)
      .drop("ce", "cn", "cdist", "rk"))
  }

  /** Assign each vector to its nearest (max-cosine) centroid: ONE
    * narrow corpus pass with the C-row codebook shipped in the task
    * closure (the [[Pq.argminCode]] precedent) — a tight JVM argmax
    * per vector, no join, no shuffle, nothing n·C-sized ever
    * materialized. The earlier join+max_by form pushed n·C candidate
    * rows through aggregation machinery; at 2M vectors × auto-C=1000
    * that was 2 BILLION rows per assignment pass and the measured wall
    * of the whole IVF tier at 1000× (knn_ivf 687 s of which the two
    * assignment passes were nearly all). The loop does the same n·C·d
    * multiply-adds as arithmetic — bounded by FLOPs, not by shuffle.
    *
    * Bit-parity with the oracle's ranked-window replay: the dot is the
    * SAME sequential left fold as `vec_dot` (ascending index, double
    * accumulator), `sim = dot / (nrm * cn)` is the exact
    * [[V.cosineWithNorms]] parenthesization, and iterating cells in
    * ascending id order with strict-> replacement ties to the LOWEST
    * cell — the (sim desc, cell asc) window convention. The codebook
    * collect is bounded: C rows (√(n/2) auto-sized — ~22k rows × d
    * doubles even at a 10^9-vector corpus). */
  private[operators] def assignNearest(v: DataFrame, centroids: DataFrame,
                            cellCol: String, ceCol: String, cnCol: String): DataFrame =
    assignNearestTo(v, centroidArray(centroids, cellCol, ceCol, cnCol), cellCol)

  /** A C-row centroid frame collected cell-ascending as
    * `(cell, ce, cn)` — the closure codebook of [[assignNearest]]. */
  private[operators] def centroidArray(centroids: DataFrame, cellCol: String,
                                       ceCol: String, cnCol: String)
      : Array[(Long, Array[Double], Double)] =
    centroids.select(col(cellCol).cast("long"), col(ceCol), col(cnCol))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2)))
      .sortBy(_._1)

  /** [[assignNearest]] against an already collected [[centroidArray]]. */
  private[operators] def assignNearestTo(v: DataFrame,
                                         cents: Array[(Long, Array[Double], Double)],
                                         cellCol: String): DataFrame = {
    val spark = v.sparkSession
    import spark.implicits._
    v.select(col("vec_id"), col("e"), col("nrm"))
      .as[(Long, Array[Double], Double)]
      .mapPartitions { it =>
        it.map { case (vid, e, nrm) =>
          var best = -1
          var bestSim = 0.0
          var i = 0
          while (i < cents.length) {
            val ce = cents(i)._2
            var dot = 0.0
            var j = 0
            while (j < e.length) { dot += e(j) * ce(j); j += 1 }
            val sim = dot / (nrm * cents(i)._3)
            if (best < 0 || sim > bestSim) { best = i; bestSim = sim }
            i += 1
          }
          (vid, e, nrm, cents(best)._1, bestSim)
        }
      }
      .toDF("vec_id", "e", "nrm", cellCol, "sim")
  }

  /** LSH tables: `Tables_` hyperplane groups of `BitsPerTable` planes. */
  val LshTables = 8
  val BitsPerTable = 4

  /** SQL fragments shared by the ANN oracles: the deterministic
    * sequential-fold dot/norm forms whose doubles match the native
    * vec_dot bitwise (proven by the brute-force/cosine oracles). */
  private[operators] def sqlDot(a: String, b: String): String =
    s"list_reduce(list_transform(generate_series(1, len($a)), i -> $a[i]*$b[i]), (x,y) -> x+y)"
  private[operators] def sqlNorm(e: String): String =
    s"sqrt(list_reduce(list_transform(generate_series(1, len($e)), i -> $e[i]*$e[i]), (x,y) -> x+y))"

  /** Full DuckDB replay of the hyperplane-LSH search — the previously
    * rows-only key is hash-checkable because every source of
    * "approximation" is deterministic: the hyperplanes are fixed-seed
    * literals (embedded below as the SAME doubles the executor uses —
    * quoted strings cast to DOUBLE — the correctly-rounded strtod
    * path; a BARE literal is decimal-routed and double-rounded 1 ulp
    * off on some inputs), the bucket bit is a sign test on the sequential
    * dot fold, and the rerank is the brute-force oracle restricted to
    * bucket-sharing candidates. Dim is pinned to the driver corpus's
    * 64 (the operator probes it from data; an oracle string cannot). */
  val knnLshOracleSql: String = {
    val dim = 64
    val ps = planes(dim)
    // QUOTED literals: DuckDB decimal-routes bare long literals and
    // double-rounds 1 ulp off; the VARCHAR→DOUBLE cast is a correct
    // strtod, so only the quoted form reproduces the engine's planes
    def planeLitSql(p: Array[Double]): String =
      p.map(x => s"'$x'").mkString("[", ",", "]::DOUBLE[]")
    def bucketExpr(t: Int): String =
      (0 until BitsPerTable).foldLeft("0") { (acc, b) =>
        val d = sqlDot("e", s"(${planeLitSql(ps(t * BitsPerTable + b))})")
        s"(($acc)*2 + CASE WHEN $d >= 0 THEN 1 ELSE 0 END)"
      }
    val bkUnion = (0 until LshTables)
      .map(t => s"SELECT vec_id, $t AS tbl, ${bucketExpr(t)} AS bucket FROM vn")
      .mkString("\nUNION ALL\n")
    s"""WITH v AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
       |), vn AS (
       |  SELECT vec_id, e, ${sqlNorm("e")} AS nrm FROM v
       |), bk AS (
       |$bkUnion
       |), cand AS (
       |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS vec_id
       |  FROM bk c JOIN bk q ON c.tbl = q.tbl AND c.bucket = q.bucket
       |  WHERE q.vec_id < $NQueries AND c.vec_id != q.vec_id
       |)
       |SELECT query_id, vec_id AS neighbor_id, CAST(rk AS INTEGER) AS rank, cosine FROM (
       |  SELECT cd.query_id, cd.vec_id,
       |    ${sqlDot("b.e", "a.e")} / (b.nrm * a.nrm) AS cosine,
       |    ROW_NUMBER() OVER (PARTITION BY cd.query_id ORDER BY
       |      ${sqlDot("b.e", "a.e")} / (b.nrm * a.nrm) DESC, cd.vec_id) AS rk
       |  FROM cand cd
       |  JOIN vn b ON cd.vec_id = b.vec_id
       |  JOIN vn a ON cd.query_id = a.vec_id) t
       |WHERE rk <= $K""".stripMargin
  }

  /** Full DuckDB replay of the IVF search: lowest-id seeds, one Lloyd
    * refinement with DECIMAL(30,10)-exact order-independent means
    * (the same decimal-accumulation rule every other oracle uses, so
    * the centroid doubles agree bitwise), max-sim/lowest-cell
    * assignment as a ranked window, nprobe cell cut, exact rerank.
    * Deterministic end-to-end, hence hash-checkable despite being an
    * "approximate" index. */
  /** The auto-C ncells CTE body — the SQL twin of [[autoCells]]:
    * COUNT(*)/2.0 is an exact double, sqrt and ceil are
    * correctly-rounded in both engines, so the derived C agrees
    * exactly with the executor's. */
  private def ncellsAutoSql: String = ncellsAutoSqlOn("vn")

  /** Auto-C over an arbitrary TRAIN frame — the trained-prefix
    * variant sizes C from the training slice, exactly as the executor
    * sizes `ivfIndex(train)` from the train count. */
  private def ncellsAutoSqlOn(frame: String): String =
    s"SELECT GREATEST(1, CAST(ceil(sqrt(COUNT(*)/2.0)) AS BIGINT)) AS c FROM $frame"

  /** Shared oracle CTE prefix — the IVF build replayed in SQL, ending
    * at `idx` (each vector's nearest cell WITH its centroid cosine).
    * `ncellsSelect` supplies the cell count (fixed literal or the
    * count-derived auto form). Consumers append further CTEs with a
    * leading comma, or go straight to their final SELECT. */
  private[operators] def ivfOracleIdxCtes(ncellsSelect: String): String =
    ivfIdxCtesBuilder(ncellsSelect, extraCtes = "", trainFrame = "vn")

  /** The trained-on-base variant of [[ivfIdxOraclePrefix]] (key
    * `knn_ivf_pq_append`): Lloyd trains ONLY on the day-0 base half
    * (`vec_id <= max/2`, the `cutv`/`vt` CTEs) and `ncells` sizes C
    * from the TRAIN count, while `idx` still assigns EVERY vector to
    * the trained centroids — the SQL twin of
    * `buildIvfPq(all, trainOn = base)`, which the spec equates
    * bit-identically to `appendToIvfPq(buildIvfPq(base), rest)`. */
  private[operators] def ivfIdxOraclePrefixTrainedHalf: String =
    ivfIdxCtesBuilder(
      ncellsAutoSqlOn("vt"),
      extraCtes =
        s"""cutv AS (
           |  SELECT MAX(vec_id) // 2 AS cut FROM vn
           |), vt AS (
           |  SELECT * FROM vn WHERE vec_id <= (SELECT cut FROM cutv)
           |), """.stripMargin,
      trainFrame = "vt")

  /** The one CTE-prefix template both variants share: `trainFrame` is
    * the corpus slice Lloyd sees (seed pick + the one assignment round
    * feeding the means); `idx` always assigns the FULL `vn`. With
    * `trainFrame = "vn"` and no extra CTEs this is the classic prefix
    * byte-for-byte. */
  private def ivfIdxCtesBuilder(ncellsSelect: String, extraCtes: String,
                                trainFrame: String): String =
    s"""WITH v AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
       |), vn AS (
       |  SELECT vec_id, e, ${sqlNorm("e")} AS nrm FROM v
       |), ${ivfIdxBody(ncellsSelect, extraCtes, trainFrame)}""".stripMargin

  /** The builder's CTE list WITHOUT the `WITH v/vn` prelude — for
    * composition under a prefix that already defines `v`/`vn` (the
    * knn_ivf_opq oracle's recursive OPQ prefix does). Seeds/Lloyd/
    * assignment text is byte-shared with the classic prefix. */
  private[operators] def ivfIdxBodyAuto: String =
    ivfIdxBody(ncellsAutoSql, extraCtes = "", trainFrame = "vn")

  /** The trained-on-base body WITHOUT the `WITH v/vn` prelude — for
    * composition under a prefix that already defines `v`/`vn` AND a
    * `cutv` cut CTE (the knn_ivf_opq_append oracle's trained rotated
    * prefix does): Lloyd and C-sizing see only `vt`, `idx` assigns
    * every vector — the [[ivfIdxOraclePrefixTrainedHalf]] semantics
    * in body form. */
  private[operators] def ivfIdxBodyAutoTrainedHalf: String =
    ivfIdxBody(
      ncellsAutoSqlOn("vt"),
      extraCtes =
        s"""vt AS (
           |  SELECT * FROM vn WHERE vec_id <= (SELECT cut FROM cutv)
           |), """.stripMargin,
      trainFrame = "vt")

  private def ivfIdxBody(ncellsSelect: String, extraCtes: String,
                         trainFrame: String): String =
    s"""${extraCtes}ncells AS (
       |  $ncellsSelect
       |), seeds AS (
       |  SELECT vec_id AS cell0, e AS ce, nrm AS cn FROM (
       |    SELECT vec_id, e, nrm, ROW_NUMBER() OVER (ORDER BY vec_id) AS rk FROM $trainFrame) s
       |  WHERE rk <= (SELECT c FROM ncells)
       |), fa AS (
       |  SELECT vec_id, e, cell0 FROM (
       |    SELECT x.vec_id, x.e, s.cell0,
       |      ROW_NUMBER() OVER (PARTITION BY x.vec_id ORDER BY
       |        ${sqlDot("x.e", "s.ce")} / (x.nrm * s.cn) DESC, s.cell0) AS rk
       |    FROM $trainFrame x CROSS JOIN seeds s) t
       |  WHERE rk = 1
       |), elems AS (
       |  SELECT cell0 AS cell, unnest(generate_series(1, len(e))) AS pos, e FROM fa
       |), means AS (
       |  SELECT cell, pos,
       |    CAST(SUM(CAST(e[pos] AS DECIMAL(30,10))) AS DOUBLE) / COUNT(e[pos]) AS mean
       |  FROM elems GROUP BY cell, pos
       |), cents AS (
       |  SELECT cell, list(mean ORDER BY pos) AS ce FROM means GROUP BY cell
       |), cc AS (
       |  SELECT cell, ce, ${sqlNorm("ce")} AS cnr FROM cents
       |), idx AS (
       |  SELECT vec_id, e, nrm, cell, sim FROM (
       |    SELECT x.vec_id, x.e, x.nrm, c.cell,
       |      ${sqlDot("x.e", "c.ce")} / (x.nrm * c.cnr) AS sim,
       |      ROW_NUMBER() OVER (PARTITION BY x.vec_id ORDER BY
       |        ${sqlDot("x.e", "c.ce")} / (x.nrm * c.cnr) DESC, c.cell) AS rk
       |    FROM vn x CROSS JOIN cc c) t
       |  WHERE rk = 1
       |)""".stripMargin

  val knnIvfOracleSql: String = knnIvfOracleSqlFor()

  /** `erasedPred` (over the posting alias `i`) drops erased ids at
    * candidate enumeration — the knn_ivf_delete twin. With no
    * predicate this emits the classic replay byte-for-byte. */
  private def knnIvfOracleSqlFor(erasedPred: String = null): String =
    s"""${ivfOracleIdxCtes(ncellsAutoSql)}, probes AS (
       |  SELECT query_id, qe, qnrm, cell FROM (
       |    SELECT q.vec_id AS query_id, q.e AS qe, q.nrm AS qnrm, c.cell,
       |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
       |        ${sqlDot("q.e", "c.ce")} / (q.nrm * c.cnr) DESC, c.cell) AS rk
       |    FROM vn q CROSS JOIN cc c WHERE q.vec_id < $NQueries) t
       |  WHERE rk <= $IvfNProbe
       |)
       |SELECT query_id, vec_id AS neighbor_id, CAST(rk AS INTEGER) AS rank, cosine FROM (
       |  SELECT p.query_id, i.vec_id,
       |    ${sqlDot("i.e", "p.qe")} / (i.nrm * p.qnrm) AS cosine,
       |    ROW_NUMBER() OVER (PARTITION BY p.query_id ORDER BY
       |      ${sqlDot("i.e", "p.qe")} / (i.nrm * p.qnrm) DESC, i.vec_id) AS rk
       |  FROM idx i JOIN probes p ON i.cell = p.cell
       |  WHERE i.vec_id != p.query_id${
           if (erasedPred == null) "" else s" AND NOT ($erasedPred)"}) t
       |WHERE rk <= $K""".stripMargin

  /** Erased id slice shared by every tier's erasure-lifecycle key
    * (bounded, query-disjoint, SQL-expressible — see the original
    * rationale at the PQ tier, which aliases these). Defined HERE so
    * Similarity's oracle vals never reference a downstream object:
    * a val in this object that touches `Pq`/`Quantize`/`Opq` starts
    * THEIR initialization while this object is still mid-init, and
    * their oracle vals then read this object's not-yet-assigned
    * constants as 0 (the JVM's circular-object-init semantics — a
    * measured failure: `rk <= 0` probes, τ = 0 radius cuts). */
  val DeleteLo = 100L
  val DeleteHi = 149L

  /** Driver query (key `knn_ivf_delete`): the FLOAT tier's erasure
    * lifecycle at the cross-engine gate — completing erasure-at-the-
    * gate across all four tiers (PQ `knn_ivf_pq_delete`, SQ8
    * `knn_sq8_delete`, OPQ `knn_ivf_opq_delete`, float here). Stage
    * the postings as a manifest version, erase the bounded slice
    * through the ATOMIC path ([[AnnIndex.erased]] — only cell
    * directories holding an erased id rewritten, one pointer flip), and
    * answer staged top-k off the live version. Oracle = the classic IVF
    * replay with exactly those ids excluded from candidate enumeration
    * — centroids and probes stand (trained aggregates; the erased ids
    * are query-disjoint). */
  def knnIvfDelete(spark: SparkSession, dir: String): DataFrame =
    queryIvfIndex(spark, AnnIndex.erased(Tables.embeddings(spark, dir),
      "ivf_float_delete_key_root")(buildIvf))

  val knnIvfDeleteOracleSql: String =
    knnIvfOracleSqlFor(s"i.vec_id BETWEEN $DeleteLo AND $DeleteHi")

  /** Neighbors per node in the kNN GRAPH (key `knn_graph`). Smaller
    * than the query-set K: the graph's purpose is downstream
    * clustering/connectivity, where 5 edges per node is the usual
    * operating point and output is k·n rows — corpus-sized, so k is a
    * storage multiplier, not a report size. */
  val GraphK = 5

  /** kNN GRAPH construction (key `knn_graph`): the IVF-accelerated
    * k-nearest-neighbor SELF-join — every corpus vector is a query,
    * and the output is the k best cosine neighbors of each. This is
    * the building block semantic-clustering pipelines start from
    * (connect each doc to its nearest embeddings, then cluster the
    * graph); [[knnIvfOn]] answers a bounded query SET instead.
    *
    * Scale shape — three deliberate differences from [[knnIvfOn]]:
    *   - The IVF index frame is STAGED once (Scratch parquet): both
    *     the probe derivation and the posting side of the candidate
    *     join consume it, and without staging each would re-run the
    *     full IVF build (count, seeds, Lloyd pass, two closure
    *     assignment scans) — the subplan is corpus-sized, so the
    *     double-derivation term would dominate at any scale.
    *   - Probes are corpus-sized (every vector probes its
    *     [[IvfNProbe]] nearest cells), so unlike the query-set path
    *     they CANNOT be broadcast: candidate generation is a shuffle
    *     equi-join on `cell`, co-locating each cell's postings with
    *     the probes aimed at it. Candidate volume is n·nprobe·(n/C) =
    *     O(n^1.5·nprobe) at the auto C=√(n/2) — the standard kNN-graph
    *     bound, same class as the SemDeDup within-cell pair work.
    *   - The exact ranking window would otherwise shuffle that whole
    *     candidate stream by query_id; the [[knnBruteforceOn]]
    *     bounded-heap cut runs first, inside the join's output
    *     partitions, cutting each query's per-partition candidates to
    *     k. A query's probes touch ≤ nprobe cells, so the window
    *     reads ≤ nprobe·k rows per query (cellsize/k ≈ 400× shuffle
    *     reduction at 2M vectors) and the cut is lossless — the true
    *     top-k within probed cells survives any partition split.
    *
    * Deterministic end-to-end (seeded build, sequential-fold doubles,
    * (cosine desc, vec_id asc) ties), hence hash-checkable against the
    * full DuckDB replay [[knnGraphOracleSql]] despite being an
    * "approximate" index — approximation lives only in the probe cut,
    * which both engines replay identically. */
  def knnGraph(spark: SparkSession, dir: String, k: Int = GraphK): DataFrame =
    knnGraphOn(Tables.embeddings(spark, dir), k)

  /** `nprobe` is the candidate-volume lever (r13 verdict item 3): the
    * O(n^1.5·nprobe) bound is linear in it, so a latency-bounded
    * build drops from the default [[IvfNProbe]] toward 1 and trades
    * recall on cell-boundary neighbors for a proportional cut in the
    * candidate join — the measured 1000× rows (BASELINE.md) quantify
    * the trade. The default is the exact driver-key contract; the
    * override changes which cells are probed, nothing about the exact
    * rerank inside them. */
  def knnGraphOn(vectors: DataFrame, k: Int = GraphK,
                 nprobe: Int = IvfNProbe): DataFrame = {
    val (indexed0, centroids) = ivfIndex(vectors,
      stagePrefix = "ivf_centroids_knn_graph")
    val indexed = Scratch.stageReuse(
      indexed0.select(col("vec_id"), col("e"), col("nrm"), col("cell")),
      "knn_graph_idx")
    val probes = assignTopCells(indexed, centroids, nprobe)
    val cand = indexed.join(probes, "cell")
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), AnnSearch.cosineTo("e", "nrm"))
    AnnSearch.finish(partitionTopK(cand, k), TopK(k), sameLabel = false)
  }

  /** Lossless per-partition top-k cut over (query_id, vec_id, cosine)
    * rows — the bounded-heap prune [[knnBruteforceOn]] introduced,
    * shared with the kNN-graph path: the global top-k under
    * (cosine desc, vec_id asc) is a subset of the union of
    * per-partition top-ks, so the exact ranking window downstream sees
    * k rows per (query, partition) instead of every candidate. */
  private[operators] def partitionTopK(scored: DataFrame, k: Int): DataFrame = {
    val spark = scored.sparkSession
    import spark.implicits._
    // negation is exact, so the cosines come back bit-identical
    partitionHeaps(scored, k).mapPartitions(_.map(s => (s._1, s._2, -s._3)))
      .toDF("query_id", "vec_id", "cosine")
  }

  /** [[partitionTopK]]'s heaps as [[AnnSearch.topK]] takes them:
    * `(query_id, vec_id, −cosine)`, each query's `k` LOWEST
    * (−cosine, vec_id) per partition. */
  private[operators] def partitionHeaps(scored: DataFrame, k: Int): Dataset[(Long, Long, Double)] = {
    val spark = scored.sparkSession
    import spark.implicits._
    scored.as[(Long, Long, Double)]
      .mapPartitions(it => AnnSearch.lowestPerQuery(it.map(s => (s._1, s._2, -s._3)), k))
  }

  /** Each vector's `nprobe` nearest cells, best-first by
    * (sim desc, cell asc) — [[assignNearest]] generalized from argmax
    * to a bounded top-selection, with the same closure-codebook shape:
    * ONE narrow pass over the staged index, the C-row codebook in the
    * task closure, an insertion-sorted nprobe-array per vector
    * (ascending cell scan with strict-> displacement ties to the
    * LOWEST cell, the window convention), n·nprobe rows out and
    * nothing n·C-sized ever materialized. Output columns are the
    * probe-side names the candidate join consumes. */
  private def assignTopCells(v: DataFrame, centroids: DataFrame,
                             nprobe: Int): DataFrame = {
    val spark = v.sparkSession
    import spark.implicits._
    val cents: Array[(Long, Array[Double], Double)] = centroids
      .select(col("cell").cast("long"), col("ce"), col("cn"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2)))
      .sortBy(_._1)
    v.select(col("vec_id"), col("e"), col("nrm"))
      .as[(Long, Array[Double], Double)]
      .mapPartitions { it =>
        it.flatMap { case (vid, e, nrm) =>
          val bestCell = new Array[Long](nprobe)
          val bestSim = new Array[Double](nprobe)
          var filled = 0
          var i = 0
          while (i < cents.length) {
            val ce = cents(i)._2
            var dot = 0.0
            var j = 0
            while (j < e.length) { dot += e(j) * ce(j); j += 1 }
            val sim = dot / (nrm * cents(i)._3)
            if (filled < nprobe || sim > bestSim(filled - 1)) {
              var pos = if (filled < nprobe) filled else nprobe - 1
              while (pos > 0 && sim > bestSim(pos - 1)) {
                bestSim(pos) = bestSim(pos - 1); bestCell(pos) = bestCell(pos - 1)
                pos -= 1
              }
              bestSim(pos) = sim; bestCell(pos) = cents(i)._1
              if (filled < nprobe) filled += 1
            }
            i += 1
          }
          (0 until filled).iterator.map(j => (vid, e, nrm, bestCell(j)))
        }
      }
      .toDF("query_id", "qe", "qnrm", "cell")
  }

  /** Full DuckDB replay of the kNN graph: [[knnIvfOracleSql]]'s build
    * and rerank with the query-set cut removed — every vector probes. */
  val knnGraphOracleSql: String =
    s"""${ivfOracleIdxCtes(ncellsAutoSql)}, probes AS (
       |  SELECT query_id, qe, qnrm, cell FROM (
       |    SELECT q.vec_id AS query_id, q.e AS qe, q.nrm AS qnrm, c.cell,
       |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
       |        ${sqlDot("q.e", "c.ce")} / (q.nrm * c.cnr) DESC, c.cell) AS rk
       |    FROM vn q CROSS JOIN cc c) t
       |  WHERE rk <= $IvfNProbe
       |)
       |SELECT query_id, vec_id AS neighbor_id, CAST(rk AS INTEGER) AS rank, cosine FROM (
       |  SELECT p.query_id, i.vec_id,
       |    ${sqlDot("i.e", "p.qe")} / (i.nrm * p.qnrm) AS cosine,
       |    ROW_NUMBER() OVER (PARTITION BY p.query_id ORDER BY
       |      ${sqlDot("i.e", "p.qe")} / (i.nrm * p.qnrm) DESC, i.vec_id) AS rk
       |  FROM idx i JOIN probes p ON i.cell = p.cell
       |  WHERE i.vec_id != p.query_id) t
       |WHERE rk <= $GraphK""".stripMargin

  /** nprobe settings the recall report sweeps — powers of two up to
    * 2×[[IvfNProbe]], bracketing the production default. */
  val RecallNProbes: Seq[Int] = Seq(1, 2, 4, 8)

  /** ANN recall report (key `knn_recall_report`): exact-vs-IVF top-k
    * overlap at each nprobe in [[RecallNProbes]] — the QUALITY side of
    * the nprobe lever whose COST side the 1000× knn_graph rows measure
    * (BASELINE.md: nprobe=1 is 117.9 s vs 459 exact). Together they
    * turn the 100 TB tuning decision — how many cells must a probe
    * touch for acceptable recall — into data instead of a guess (r14
    * verdict item 3).
    *
    * Shape: the IVF build runs ONCE (staged index + staged centroid
    * frame, the knn_graph discipline); probes are ranked once up to
    * max(nprobe) keeping the admitting cell's rank `prk`; the
    * candidate frame (cell-join, exact cosine) is STAGED once and
    * each nprobe variant is just a filter `prk <= np` + one bounded
    * top-k window over it — four report-sized aggregates over one
    * shared scan, not four index builds. The exact side is the staged
    * [[knnBruteforceOn]] answer. Output: one row per nprobe with the
    * hit count, the possible count (|queries|·k), and their ratio —
    * small-integer division, exact in both engines.
    *
    * A vector belongs to exactly one cell and a query probes each
    * cell at most once, so (query, vec) pairs are unique in the
    * candidate frame by construction and IVF@np is exactly "vectors
    * whose cell ranks ≤ np for that query" — bit-identical to
    * [[knnIvfOn]] at np = [[IvfNProbe]]. */
  def knnRecallReport(spark: SparkSession, dir: String): DataFrame =
    knnRecallReportOn(Tables.embeddings(spark, dir))

  def knnRecallReportOn(vectors: DataFrame, k: Int = K,
                        nprobes: Seq[Int] = RecallNProbes): DataFrame = {
    val exact = Scratch.stageReuse(
      knnBruteforceOn(vectors, k).select(col("query_id"), col("neighbor_id")),
      "recall_exact")
    val (indexed0, centroids) = ivfIndex(vectors,
      stagePrefix = "ivf_centroids_recall")
    val indexed = Scratch.stageReuse(
      indexed0.select(col("vec_id"), col("e"), col("nrm"), col("cell")),
      "recall_idx")
    val maxNp = nprobes.max
    val queries = indexed.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("e").as("qe"), col("nrm").as("qnrm"))
    val probeW = Window.partitionBy(col("query_id"))
      .orderBy(col("cdist").desc, col("cell"))
    val probes = broadcast(queries.join(broadcast(centroids))
      .withColumn("cdist", V.cosineWithNorms(
        V.dot(col("qe"), col("ce")), col("qnrm"), col("cn")))
      .withColumn("prk", row_number().over(probeW))
      .filter(col("prk") <= maxNp)
      .select(col("query_id"), col("qe"), col("qnrm"), col("cell"), col("prk")))
    val cand = Scratch.stageReuse(
      indexed.join(probes, "cell")
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id"), col("prk"),
          V.cosineWithNorms(V.dot(col("e"), col("qe")), col("nrm"), col("qnrm"))
            .as("cosine")),
      "recall_cand")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    val hitsAll = nprobes.map { np =>
      cand.filter(col("prk") <= np)
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .select(col("query_id"), col("vec_id").as("neighbor_id"))
        .join(exact, Seq("query_id", "neighbor_id"), "left_semi")
        .agg(count(lit(1)).as("hits"))
        .select(lit(np).as("nprobe"), col("hits"))
    }.reduce(_ unionAll _)
    hitsAll.crossJoin(broadcast(exact.agg(count(lit(1)).as("possible"))))
      .select(col("nprobe"), col("hits"), col("possible"),
        (col("hits").cast("double") / col("possible").cast("double"))
          .as("recall"))
  }

  /** Full DuckDB replay: the shared IVF-build prefix, probes ranked
    * to max(nprobe) with the admitting rank kept, ONE materialized
    * candidate frame, one ranked cut per nprobe, overlap counts
    * against the materialized brute-force answer. MATERIALIZED on the
    * shared frames — each is referenced once per nprobe variant, and
    * DuckDB would otherwise inline a full build replay per reference
    * (the kcore-oracle discipline). */
  val knnRecallReportOracleSql: String = {
    val maxNp = RecallNProbes.max
    val npUnion = RecallNProbes.map { np =>
      s"""  SELECT $np AS nprobe, COUNT(*) AS hits
         |  FROM (
         |    SELECT query_id, vec_id FROM (
         |      SELECT query_id, vec_id,
         |        ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY
         |          cosine DESC, vec_id) AS rk
         |      FROM cand WHERE prk <= $np) r
         |    WHERE rk <= $K) t
         |  JOIN exact e ON t.query_id = e.query_id AND t.vec_id = e.neighbor_id""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""${ivfOracleIdxCtes(ncellsAutoSql)}, exact AS MATERIALIZED (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
       |        ${sqlDot("c.e", "q.e")} / (c.nrm * q.nrm) DESC, c.vec_id) AS rnk
       |    FROM vn q, vn c
       |    WHERE q.vec_id < $NQueries AND c.vec_id != q.vec_id) t
       |  WHERE rnk <= $K
       |), probes AS MATERIALIZED (
       |  SELECT query_id, qe, qnrm, cell, prk FROM (
       |    SELECT q.vec_id AS query_id, q.e AS qe, q.nrm AS qnrm, c.cell,
       |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
       |        ${sqlDot("q.e", "c.ce")} / (q.nrm * c.cnr) DESC, c.cell) AS prk
       |    FROM vn q CROSS JOIN cc c WHERE q.vec_id < $NQueries) t
       |  WHERE prk <= $maxNp
       |), cand AS MATERIALIZED (
       |  SELECT p.query_id, i.vec_id, p.prk,
       |    ${sqlDot("i.e", "p.qe")} / (i.nrm * p.qnrm) AS cosine
       |  FROM idx i JOIN probes p ON i.cell = p.cell
       |  WHERE i.vec_id != p.query_id
       |), hits AS (
       |$npUnion
       |)
       |SELECT h.nprobe, h.hits, p.possible,
       |  CAST(h.hits AS DOUBLE) / CAST(p.possible AS DOUBLE) AS recall
       |FROM hits h CROSS JOIN (SELECT COUNT(*) AS possible FROM exact) p""".stripMargin
  }

  /** Embedding-space cluster summary (key `embed_clusters`) — the
    * corpus-curation view of the IVF index: one row per cluster with
    * its population, mean cosine-to-centroid (decimal-accumulated:
    * |sim| ≤ 1 and scale 10 keeps the sum exactly double-representable
    * to ~10^5 members per cluster... at 100 TB cluster populations are
    * ~corpus/C, so callers shard C up, not the scale) and the tightest
    * member. This is what a SemDeDup-style pipeline reads to decide
    * where semantic redundancy concentrates (high mean_cos = dense,
    * duplicate-prone cluster) before running the within-cluster cut
    * ([[Dedup.semanticDedupOn]]).
    *
    * Plan shape: the IVF build (tiny broadcast centroids, one
    * max_by-aggregate assignment pass) + ONE cluster-cardinality-sized
    * hash aggregate. */
  def embedClusters(spark: SparkSession, dir: String): DataFrame =
    embedClustersOn(Tables.embeddings(spark, dir))

  /** `cells <= 0` (the default) auto-sizes C from the corpus count
    * ([[autoCells]]) — at 2M vectors the fixed 16-cell knob makes the
    * per-cell populations (and the semantic-dedup consumer's within-
    * cell pair work) n²/16-quadratic; √(n/2) keeps assignment and
    * pair work balanced. Pass an explicit positive C to pin it. */
  def embedClustersOn(vectors: DataFrame, cells: Int = 0): DataFrame = {
    val (indexed, _) = ivfIndex(vectors, cells, "ivf_centroids_embed_clusters")
    // sim involves the CENTROID, whose decimal-mean→double cast is the
    // one conversion the two engines may round 1 ulp apart (Spark
    // correctly rounds; DuckDB multiplies int128 by a rounded 10^-s) —
    // so the exposed stats take the house 4dp rounding instead of raw
    // doubles. Cluster ids and populations stay exact.
    indexed.groupBy(col("cell"))
      .agg(count(lit(1)).as("n_members"),
        round(sum(col("sim").cast("decimal(30,10)")).cast("double") /
          count(lit(1)).cast("double"), 4).as("mean_cos"),
        round(min(col("sim")), 4).as("min_cos"))
      .select(col("cell").as("cluster_id"), col("n_members"),
        col("mean_cos"), col("min_cos"))
  }

  /** Oracle: the shared IVF-build replay (auto-sized C), folded per
    * cell with the same decimal accumulation and 4dp presentation. */
  val embedClustersOracleSql: String =
    s"""${ivfOracleIdxCtes(ncellsAutoSql)}
       |SELECT cell AS cluster_id, CAST(COUNT(*) AS BIGINT) AS n_members,
       |  round(CAST(SUM(CAST(sim AS DECIMAL(30,10))) AS DOUBLE)
       |    / CAST(COUNT(*) AS DOUBLE), 4) AS mean_cos,
       |  round(MIN(sim), 4) AS min_cos
       |FROM idx GROUP BY cell""".stripMargin

  /** The `idx` replay prefix (auto-sized C), shared with
    * [[Dedup.semanticDedupOracleSql]]. */
  private[operators] def ivfIdxOraclePrefix: String = ivfOracleIdxCtes(ncellsAutoSql)

  /** Centers the k-center driver key selects. */
  val KCenterRounds = 16

  /** Greedy k-center (Gonzalez) diversity sampling (key
    * `sample_kcenter`) — the coreset-selection pass a training-data
    * pipeline runs to pick a maximally-SPREAD subset of an embedding
    * corpus (facility-location/DataComp-style curation: each new
    * sample is the point FARTHEST from everything already chosen, the
    * 2-approximation to the optimal k-center cover).
    *
    * Shape: k driver rounds; each round broadcasts the newly chosen
    * center into a running `least(dmin, ‖u−c‖²)` column and takes the
    * argmax by ONE TakeOrdered (per-partition heaps + a 1-row driver
    * collect). Nothing corpus-sized ever reaches the driver; per-round
    * cost is one corpus scan. Unbroken, the k-deep `least` chain would
    * re-evaluate prior center distances per round (Σ = k²/2 dots per
    * row) and grow the plan by one node per round, so the dmin column
    * is restaged through Scratch every 4 rounds.
    *
    * Determinism (full oracle replay): unit-normalized sequential-fold
    * arithmetic, the fixed ((a·a − 2·a·b) + b·b) parenthesization,
    * argmax ties on lowest vec_id, seed = lowest vec_id. `radius` is
    * the chosen point's distance at selection time — the non-
    * increasing cover-radius sequence (asserted in the spec); the
    * seed row's is NULL (nothing chosen before it). */
  def sampleKCenter(spark: SparkSession, dir: String): DataFrame =
    sampleKCenterOn(Tables.embeddings(spark, dir))

  def sampleKCenterOn(vectors: DataFrame, k: Int = KCenterRounds): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    def l2sq(a: Column, b: Column): Column =
      (V.dot(a, a) - lit(2.0) * V.dot(a, b)) + V.dot(b, b)
    // stage the normalized corpus ONCE: every round scans it again
    // (plus the argmax job re-executes the frame), and without staging
    // each of those scans would re-read the source and re-normalize —
    // measured 84 s → the float→double→unit-norm pass dominated the
    // 16-round loop at 200k vectors
    val unStaged = Scratch.dir("graft_kcenter_un")
    vectors
      .select(col("vec_id"), V.toDouble(col("embedding")).as("e"))
      .withColumn("nrm", V.l2Norm(col("e")))
      .select(col("vec_id"), transform(col("e"), x => x / col("nrm")).as("u"))
      .write.mode("overwrite").parquet(unStaged)
    val un = spark.read.parquet(unStaged)
    val seedRow = un.orderBy(col("vec_id")).limit(1).collect()
    if (seedRow.isEmpty)
      return Seq.empty[(Int, Long, Option[Double])]
        .toDF("round", "vec_id", "radius")
    var center = seedRow(0).getSeq[Double](1).toArray
    val chosen = scala.collection.mutable.ArrayBuffer(
      (1, seedRow(0).getLong(0), Option.empty[Double]))
    var scored = un.withColumn("dmin",
      l2sq(col("u"), typedLit(center.toSeq)))
    var round = 2
    while (round <= k) {
      // 1-row collect: the farthest-from-chosen point
      val top = scored.orderBy(col("dmin").desc, col("vec_id")).limit(1).collect()(0)
      chosen += ((round, top.getLong(0), Some(top.getDouble(2))))
      center = top.getSeq[Double](1).toArray
      scored = scored.withColumn("dmin",
        least(col("dmin"), l2sq(col("u"), typedLit(center.toSeq))))
      // truncate the least-chain: without restaging, round t's argmax
      // re-evaluates all t prior center distances per row (Σ = k²/2
      // dots/row over the loop); a periodic dmin materialization makes
      // the steady-state cost R dots/row/round and bounds the plan depth
      if (round % 4 == 0 && round < k) {
        val staged = Scratch.dir(s"graft_kcenter_d$round")
        scored.write.mode("overwrite").parquet(staged)
        scored = spark.read.parquet(staged)
      }
      round += 1
    }
    chosen.toSeq.toDF("round", "vec_id", "radius")
  }

  /** Oracle: the greedy walk unrolled as k chained CTE levels (the
    * Hilbert-replay pattern) — each level takes the argmax row of the
    * previous level's dmin and folds its distance in with LEAST. */
  val sampleKCenterOracleSql: String = {
    def d2(a: String, b: String): String =
      s"((${sqlDot(a, a)} - (2.0 * ${sqlDot(a, b)})) + ${sqlDot(b, b)})"
    // MATERIALIZED: every level references its predecessor twice (the
    // scan side and the chosen-center lookup); DuckDB inlines plain
    // CTEs, which would expand the chain 2^k-fold
    val levels = (2 to KCenterRounds).map { t =>
      val prev = s"d${t - 1}"
      s"""c$t AS MATERIALIZED (
         |  SELECT vec_id, dmin FROM $prev ORDER BY dmin DESC, vec_id LIMIT 1
         |), d$t AS MATERIALIZED (
         |  SELECT x.vec_id, x.u,
         |    LEAST(x.dmin, ${d2("x.u", "c.u")}) AS dmin
         |  FROM $prev x CROSS JOIN
         |    (SELECT p.u FROM $prev p JOIN c$t ct ON p.vec_id = ct.vec_id) c
         |)""".stripMargin
    }.mkString(", ")
    val picks = (2 to KCenterRounds).map(t =>
      s"SELECT $t AS round, vec_id, dmin AS radius FROM c$t").mkString("\nUNION ALL\n")
    s"""WITH v AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
       |), un AS (
       |  SELECT vec_id, list_transform(e, x -> x / ${sqlNorm("e")}) AS u FROM v
       |), c1 AS MATERIALIZED (
       |  SELECT vec_id, u FROM un ORDER BY vec_id LIMIT 1
       |), d1 AS MATERIALIZED (
       |  SELECT x.vec_id, x.u, ${d2("x.u", "c.u")} AS dmin
       |  FROM un x CROSS JOIN c1 c
       |), $levels
       |SELECT CAST(round AS INTEGER) AS round, vec_id, radius FROM (
       |  SELECT 1 AS round, vec_id, CAST(NULL AS DOUBLE) AS radius FROM c1
       |  UNION ALL
       |$picks) t""".stripMargin
  }

  /** Deterministic pseudo-random hyperplanes (fixed seed — the bucket
    * assignment must be reproducible across runs and executors);
    * `count` = tables × bits of whichever LSH family asks. */
  private def planesFor(dim: Int, count: Int): Array[Array[Double]] = {
    val rnd = new scala.util.Random(42)
    Array.fill(count)(Array.fill(dim)(rnd.nextGaussian()))
  }

  private def planes(dim: Int): Array[Array[Double]] =
    planesFor(dim, LshTables * BitsPerTable)

  private def planeLit(p: Array[Double]): Column =
    array(p.map(x => lit(x)): _*)

  /** THE sign-bucket kernel every LSH family shares: sign bits of the
    * dot products against table `t`'s `bits` consecutive planes,
    * packed into one long. */
  private def packSigns(e: Column, ps: Array[Array[Double]],
                        t: Int, bits: Int): Column =
    (0 until bits).foldLeft(lit(0L)) { (acc, b) =>
      val d = V.dot(e, planeLit(ps(t * bits + b)))
      shiftleft(acc, 1) + when(d >= 0, lit(1L)).otherwise(lit(0L))
    }

  /** Bucket id for table `t` of the query-side family. */
  private def bucketCol(e: Column, dim: Int, t: Int): Column =
    packSigns(e, planes(dim), t, BitsPerTable)

  /** Sign-bucket ids for PAIR-space LSH ([[graft.operators.Dedup
    * .embeddingCosineBucketedOn]]): `tables` independent bucket ids,
    * each packing `bits` hyperplane sign bits, as one array column.
    * The query-side LSH ([[knnLshOn]]) gets away with
    * [[BitsPerTable]]=4 because its candidate volume is bounded by
    * the broadcast query set; an all-PAIRS consumer joins bucket
    * against bucket, so it needs enough bits that per-table occupancy
    * (and hence Σ bucket² candidate pairs) stays sub-quadratic —
    * hence the separate, wider-bit plane family (same fixed seed,
    * deterministic across runs and executors). */
  private[operators] def lshPairBuckets(e: Column, dim: Int,
                                        tables: Int, bits: Int): Column = {
    val ps = planesFor(dim, tables * bits)
    array((0 until tables).map(t => packSigns(e, ps, t, bits)): _*)
  }

  /** Approximate top-k via random-hyperplane LSH: the corpus is
    * bucketed once per table; each query only scores candidates that
    * share a bucket in at least one table. Candidate generation joins
    * on (table, bucket) — a bounded equi-join, never a cross join.
    * Recall vs the exact scan is asserted in SimilaritySpec.
    *
    * `dim` <= 0 (the default) derives the hyperplane dimensionality
    * from the data at plan time — the planes MUST match the actual
    * embedding width, or the sign bits would silently hash a prefix
    * of each vector (vec_dot now also throws on ragged input). */
  def knnLsh(spark: SparkSession, dir: String, k: Int = K, dim: Int = 0): DataFrame =
    knnLshOn(Tables.embeddings(spark, dir), k, dim)

  def knnLshOn(vectors: DataFrame, k: Int = K, dim: Int = 0): DataFrame = {
    val planeDim =
      if (dim > 0) dim
      else vectors.select(size(col("embedding")).as("__d"))
        .filter(col("__d").isNotNull).limit(1).collect().headOption match {
        case Some(r) => r.getInt(0)
        case None =>
          // no rows (or no non-null embedding): top-k of an empty
          // corpus is an EMPTY RESULT, not a NoSuchElementException
          // from the dim probe (r4 advice). Schema matches the main
          // path (vec_id's native type, int rank, double cosine).
          return AnnSearch.empty(vectors, TopK(k), sameLabel = false)
      }
    val v = vectors
      .select(col("vec_id"), V.toDouble(col("embedding")).as("e"))
      .withColumn("nrm", V.l2Norm(col("e")))
    val bucketed = v.select(col("vec_id"),
      posexplode(array((0 until LshTables).map(t => bucketCol(col("e"), planeDim, t)): _*))
        .as(Seq("tbl", "bucket")))
    val queryBuckets = broadcast(bucketed.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("tbl"), col("bucket")))
    val cand = bucketed.join(queryBuckets, Seq("tbl", "bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"))
      .distinct()
    val queries = broadcast(v.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("e").as("qe"), col("nrm").as("qnrm")))
    AnnSearch.rerank(cand, v, queries, TopK(k), sameLabel = false)
  }

  /** Cosine radius for the range-search key (`knn_radius`): chosen
    * from the driver corpus's similarity profile (p99 pair cosine
    * ≈ 0.29, max ≈ 0.4) so the ball holds ~1–2% of the corpus per
    * query — result size scales WITH the corpus, the semantics a
    * radius query is for ("everything at least this similar", dedup
    * candidate pulls, near-duplicate audits), unlike top-k's fixed k.
    * 0.25 is exactly representable, so the boundary comparison is
    * engine-identical bit for bit. */
  val RadiusTau = 0.25

  /** Key `knn_radius`: RANGE search over the embedding corpus — every
    * corpus vector within cosine ≥ [[RadiusTau]] of each query, the
    * FAISS `range_search` twin of [[knnIvfOn]]'s top-k. Same IVF
    * probe discipline (the [[IvfNProbe]] nearest cells bound the scan
    * to ~nprobe/C of the corpus); the tail differs where it should:
    * NO per-query window, no heap — membership is a stateless filter
    * on the candidate stream, so the operator is strictly cheaper
    * than top-k at the same probe width and never materializes a
    * ranking. Output is the neighbor SET (query_id, neighbor_id,
    * cosine); consumers that want an ordering sort their slice.
    *
    * 100 TB: probes broadcast (NQueries·nprobe rows), candidates are
    * an m-row partition-local filter off the cell-pruned posting join
    * — the one shuffle is the posting join on `cell`, identical to
    * the top-k path; everything after it is narrow. Approximate in
    * exactly the IVF sense: a true neighbor outside the probed cells
    * is missed — the recall lever is nprobe, measured by
    * `knn_recall_report`. */
  def knnRadius(spark: SparkSession, dir: String): DataFrame =
    knnIvfOn(Tables.embeddings(spark, dir), Radius(RadiusTau))

  /** Oracle: the shared IVF replay + the same probe CTE as
    * `knn_ivf`, tail swapped from a ranked window to the radius
    * filter. The threshold is embedded via the strtod discipline. */
  val knnRadiusOracleSql: String =
    s"""${ivfOracleIdxCtes(ncellsAutoSql)}, probes AS (
       |  SELECT query_id, qe, qnrm, cell FROM (
       |    SELECT q.vec_id AS query_id, q.e AS qe, q.nrm AS qnrm, c.cell,
       |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
       |        ${sqlDot("q.e", "c.ce")} / (q.nrm * c.cnr) DESC, c.cell) AS rk
       |    FROM vn q CROSS JOIN cc c WHERE q.vec_id < $NQueries) t
       |  WHERE rk <= $IvfNProbe
       |)
       |SELECT p.query_id, i.vec_id AS neighbor_id,
       |  ${sqlDot("i.e", "p.qe")} / (i.nrm * p.qnrm) AS cosine
       |FROM idx i JOIN probes p ON i.cell = p.cell
       |WHERE i.vec_id != p.query_id
       |  AND ${sqlDot("i.e", "p.qe")} / (i.nrm * p.qnrm)
       |      >= CAST('$RadiusTau' AS DOUBLE)""".stripMargin

  /** Key `knn_filtered`: METADATA-FILTERED top-k — each query's k
    * nearest neighbors AMONG corpus vectors sharing its `label` (the
    * tenant/category/language scope every production vector store
    * serves as "filtered search"). The predicate is evaluated DURING
    * the probed scan, not on a post-hoc top-k: post-filtering an
    * unfiltered top-k returns < k rows whenever the filter is
    * selective (here ~1/10 of candidates match, so an unfiltered
    * top-10 would typically keep ~1 survivor) — the classic filtered-
    * ANN correctness trap. The label rides the posting list (the
    * metadata-in-index layout), so the filter costs one comparison
    * per candidate, no extra join at query time.
    *
    * 100 TB: the label join onto the postings is index-BUILD cost
    * (vec_id-keyed co-shuffle of two projections of the same scan,
    * once per index), not query cost; the query path is the
    * [[knnIvfOn]] plan with one extra broadcast column (qlabel) and
    * one candidate-stream predicate. Recall caveat shared with every
    * IVF path: a matching neighbor outside the probed cells is
    * missed; a deployment whose filters are HIGHLY selective raises
    * nprobe for filtered queries (the candidate stream shrinks by
    * the filter's selectivity, so wider probes stay cheap) — which
    * is exactly what this key does: [[FilteredNProbe]] = 2×
    * [[IvfNProbe]], because the filter (~1/10 selectivity here) must
    * reach ~10× deeper into the global ranking to fill k same-label
    * slots, and the widened probe scans FEWER post-filter candidates
    * than the unfiltered key scans at its default width (measured:
    * recall 0.62 → 0.82 at sf0.01 for ~0.2× the unfiltered
    * candidate volume). */
  val FilteredNProbe = 2 * IvfNProbe

  def knnFiltered(spark: SparkSession, dir: String, k: Int = K): DataFrame =
    knnIvfOn(Tables.embeddings(spark, dir), TopK(k), sameLabel = true)

  /** Key `knn_radius_filtered`: RANGE search under a metadata
    * predicate — every corpus vector sharing the query's `label`
    * within cosine ≥ τ, composing the two query-type deltas that
    * already exist separately: [[knnRadius]]'s stateless admission
    * (no window, no heap — strictly cheaper than top-k) and
    * [[knnFiltered]]'s scan-time predicate at the
    * [[FilteredNProbe]] widening. This is the dedup-audit query shape
    * ("everything at least this similar FROM THE SAME SOURCE"): a
    * post-hoc label filter on an unfiltered radius result would be
    * CORRECT here (radius has no k slots to under-fill) but pays the
    * full unfiltered candidate stream; the scan-time predicate drops
    * a candidate for one comparison before the dot product.
    *
    * 100 TB: the [[knnFiltered]] cost shape exactly — the label
    * join onto the postings is build cost, the query path is the
    * radius plan plus one broadcast column and one predicate. */
  def knnRadiusFiltered(spark: SparkSession, dir: String): DataFrame =
    knnIvfOn(Tables.embeddings(spark, dir), Radius(RadiusTau), sameLabel = true)

  /** Oracle: the radius replay with the `lab` CTE joined on both
    * sides (the knn_filtered deltas) — qlabel rides the widened
    * probes, candidate admission adds the same-label predicate, the
    * output carries the label. */
  val knnRadiusFilteredOracleSql: String =
    s"""${ivfOracleIdxCtes(ncellsAutoSql)}, lab AS (
       |  SELECT vec_id, label FROM embeddings
       |), probes AS (
       |  SELECT query_id, qe, qnrm, qlabel, cell FROM (
       |    SELECT q.vec_id AS query_id, q.e AS qe, q.nrm AS qnrm,
       |      ql.label AS qlabel, c.cell,
       |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
       |        ${sqlDot("q.e", "c.ce")} / (q.nrm * c.cnr) DESC, c.cell) AS rk
       |    FROM vn q JOIN lab ql ON q.vec_id = ql.vec_id
       |    CROSS JOIN cc c WHERE q.vec_id < $NQueries) t
       |  WHERE rk <= $FilteredNProbe
       |)
       |SELECT p.query_id, i.vec_id AS neighbor_id, l.label,
       |  ${sqlDot("i.e", "p.qe")} / (i.nrm * p.qnrm) AS cosine
       |FROM idx i
       |JOIN probes p ON i.cell = p.cell
       |JOIN lab l ON i.vec_id = l.vec_id
       |WHERE i.vec_id != p.query_id
       |  AND l.label = p.qlabel
       |  AND ${sqlDot("i.e", "p.qe")} / (i.nrm * p.qnrm)
       |      >= CAST('$RadiusTau' AS DOUBLE)""".stripMargin

  // --- float-tier serving split: build once, stage, query many ----------

  /** Build the FLOAT IVF index for staging ([[AnnIndex.FloatIvf]]):
    * `centroids` (C rows) plus the float postings (vec_id, e, nrm,
    * cell) — the uncompressed tier's serving artifact. Every column of
    * `vectors` other than the key and the payload rides the postings
    * (the metadata-in-index layout a same-label [[queryIvfIndex]]
    * filters on). [[AnnIndex.write]] / [[AnnIndex.stage]] persist it
    * with the postings in cell=<id> partition directories, so a probe
    * prunes whole directories and an append or erasure touches only
    * its cells. */
  def buildIvf(vectors: DataFrame): AnnIndex.Index = {
    val (indexed, centroids) = ivfIndex(vectors, 0, "ivf_centroids_write_ivf")
    AnnIndex.Index(AnnIndex.FloatIvf, Seq(centroids),
      AnnIndex.ride(indexed.select(col("vec_id"), col("e"), col("nrm"), col("cell")),
        vectors, vectors.columns.toSeq.filterNot(Set("vec_id", "embedding"))))
  }

  /** Query a STAGED float index: [[ivfSearch]] over the persisted
    * frames, nothing rebuilt — answers bit-identically to the one-shot
    * [[knnIvfOn]] with the same cut (spec-asserted; the float payload
    * round-trips parquet exactly). A same-label search filters on the
    * `label` column the postings carry ([[buildIvf]] rides the
    * vectors' metadata). `nprobe <= 0` picks the width from
    * `sameLabel` ([[AnnSearch.probeWidth]]). */
  def queryIvfIndex(spark: SparkSession, path: String, cut: Cut = TopK(K),
                    sameLabel: Boolean = false, nprobe: Int = 0): DataFrame = {
    val ix = AnnIndex.read(spark, path, AnnIndex.FloatIvf)
    require(!sameLabel || ix.tree.columns.contains(AnnSearch.Label),
      s"staged postings carry no '${AnnSearch.Label}' column — " +
        "stage the index from a vectors frame that has it")
    ivfSearch(ix.tree, ix.artifact("centroids"), cut, sameLabel, nprobe)
  }

  /** Auto-nprobe: close the recall-report loop (r16 verdict item 4 —
    * the dq_key_skew → saltedJoinAuto precedent: a diagnostic nothing
    * consumes is a dashboard, not a control). Measure the recall
    * curve on THIS corpus ([[knnRecallReportOn]] — a ≤|RecallNProbes|-
    * row report), pick the SMALLEST nprobe whose measured recall
    * meets `targetRecall` (the widest swept width when none does —
    * serve the best the index offers and let the caller read the
    * returned width), and answer [[knnIvfOn]] at that width. Returns
    * (chosen nprobe, answers).
    *
    * 100 TB: the calibration is one recall-report pass per REINDEX
    * cadence (build-time, amortized over every query until retrain),
    * not per query — a deployment persists the chosen width next to
    * the index artifacts exactly like the centroids. */
  def knnIvfAutoOn(vectors: DataFrame, targetRecall: Double = 0.9,
                   k: Int = K): (Int, DataFrame) = {
    val curve = knnRecallReportOn(vectors, k).collect()
      .map(r => (r.getInt(0), r.getDouble(3))).sortBy(_._1)
    val nprobe = curve.find(_._2 >= targetRecall).map(_._1)
      .getOrElse(curve.last._1)
    (nprobe, knnIvfOn(vectors, TopK(k), nprobe = nprobe))
  }

  /** Driver query (key `knn_index_stats`): the append lifecycle's
    * health read — stage the index on the day-0 half, append the
    * rest against the frozen centroids, report per-cell stats
    * ([[AnnIndex.stats]]) with the append watermark at the split. The
    * oracle replays the trained-on-base assignment (the spec-proven
    * append equation) and aggregates the same report. */
  def knnIndexStats(spark: SparkSession, dir: String): DataFrame = {
    val (live, cut) = AnnIndex.halfAppended(Tables.embeddings(spark, dir),
      "ivf_stats_key_root")(buildIvf)
    AnnIndex.stats(spark, live, AnnIndex.FloatIvf, appendedFrom = cut + 1)
  }

  /** Oracle: the trained-on-base IVF prefix (Lloyd sees only
    * vec_id ≤ max/2, every vector assigned against those centroids —
    * bit-identical to build(base)+append(rest) by the spec equation),
    * then one GROUP BY over the assignment with the exact-integer
    * divisions. */
  val knnIndexStatsOracleSql: String =
    s"""$ivfIdxOraclePrefixTrainedHalf, percell AS (
       |  SELECT cell, COUNT(*) AS n,
       |    SUM(CASE WHEN vec_id > (SELECT cut FROM cutv) THEN 1 ELSE 0 END) AS n_appended
       |  FROM idx GROUP BY cell
       |), tot AS (
       |  SELECT SUM(n) AS tot FROM percell
       |), nc AS (
       |  SELECT COUNT(*) AS c FROM cc
       |)
       |SELECT p.cell, p.n, CAST(p.n_appended AS BIGINT) AS n_appended,
       |  CAST(p.n_appended AS DOUBLE) / CAST(p.n AS DOUBLE) AS frac_appended,
       |  CAST(p.n * nc.c AS DOUBLE) / CAST(t.tot AS DOUBLE) AS skew
       |FROM percell p CROSS JOIN tot t CROSS JOIN nc""".stripMargin

  /** Oracle: the IVF replay with the label projection joined onto
    * both the query set and the candidate stream — the ranked window
    * runs over the FILTERED candidates, exactly as the executor
    * filters during the scan. */
  val knnFilteredOracleSql: String =
    s"""${ivfOracleIdxCtes(ncellsAutoSql)}, lab AS (
       |  SELECT vec_id, label FROM embeddings
       |), probes AS (
       |  SELECT query_id, qe, qnrm, qlabel, cell FROM (
       |    SELECT q.vec_id AS query_id, q.e AS qe, q.nrm AS qnrm,
       |      ql.label AS qlabel, c.cell,
       |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
       |        ${sqlDot("q.e", "c.ce")} / (q.nrm * c.cnr) DESC, c.cell) AS rk
       |    FROM vn q JOIN lab ql ON q.vec_id = ql.vec_id CROSS JOIN cc c
       |    WHERE q.vec_id < $NQueries) t
       |  WHERE rk <= $FilteredNProbe
       |)
       |SELECT query_id, vec_id AS neighbor_id, label,
       |  CAST(rk AS INTEGER) AS rank, cosine FROM (
       |  SELECT p.query_id, i.vec_id, l.label,
       |    ${sqlDot("i.e", "p.qe")} / (i.nrm * p.qnrm) AS cosine,
       |    ROW_NUMBER() OVER (PARTITION BY p.query_id ORDER BY
       |      ${sqlDot("i.e", "p.qe")} / (i.nrm * p.qnrm) DESC, i.vec_id) AS rk
       |  FROM idx i JOIN lab l ON i.vec_id = l.vec_id
       |  JOIN probes p ON i.cell = p.cell
       |  WHERE i.vec_id != p.query_id AND l.label = p.qlabel) t
       |WHERE rk <= $K""".stripMargin
}
