package graft

import graft.operators.{AnnIndex, Opq, Pq, Similarity}
import graft.operators.AnnSearch.Radius

class OpqSpec extends SparkSpecBase {

  private def recallOf(pairs: Array[(Long, Long)], exact: Set[(Long, Long)]) =
    pairs.count(exact.contains).toDouble / exact.size

  test("opq beats plain pq on a correlated corpus — the rotation's whole point") {
    import spark.implicits._
    // clusters living in a low-dim latent space with decaying per-dim
    // variance, mixed across ALL raw coordinates by a seeded random
    // orthogonal rotation: the regime plain PQ's arbitrary coordinate
    // blocks handle worst (every block sees a slice of every latent
    // direction) and PCA recovery handles best
    val d = 64; val nClusters = 12; val n = 600
    val rnd = new scala.util.Random(99)
    val q = Array.fill(d)(Array.fill(d)(rnd.nextGaussian()))
    for (i <- 0 until d) {
      for (j <- 0 until i) {
        val dp = (0 until d).map(t => q(i)(t) * q(j)(t)).sum
        for (t <- 0 until d) q(i)(t) -= dp * q(j)(t)
      }
      val nr = math.sqrt(q(i).map(x => x * x).sum)
      for (t <- 0 until d) q(i)(t) /= nr
    }
    val centers = Array.fill(nClusters)(
      Array.tabulate(d)(j => rnd.nextGaussian() * math.exp(-j / 10.0) * 3))
    val rows = (0 until n).map { i =>
      val c = centers(i % nClusters)
      val latent = Array.tabulate(d)(j => c(j) + rnd.nextGaussian() * 0.3 * math.exp(-j / 16.0))
      val x = Array.tabulate(d)(t => (0 until d).map(j => q(j)(t) * latent(j)).sum.toFloat)
      (i.toLong, x.toSeq, 0)
    }
    val vecs = rows.toDF("vec_id", "embedding", "label")
    val exact = Similarity.knnBruteforceOn(vecs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val pqR = recallOf(Pq.knnPqOn(vecs).collect()
      .map(r => (r.getLong(0), r.getLong(1))), exact)
    val opqR = recallOf(Opq.knnOpqOn(vecs).collect()
      .map(r => (r.getLong(0), r.getLong(1))), exact)
    assert(opqR >= pqR,
      s"rotated recall $opqR must be >= plain PQ's $pqR on correlated data")
    assert(opqR >= 0.9, s"rotated recall $opqR below 0.9 on clustered data")
  }

  test("opq driver key: well-formed top-k, useful recall on the " +
      "axis-aligned corpus, deterministic") {
    val vecs = graft.sources.Tables.embeddings(spark, sfDir)
    val opq = Opq.knnOpqOn(vecs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
    val byQ = opq.groupBy(_._1)
    assert(byQ.size == Similarity.NQueries)
    byQ.foreach { case (qid, rs) =>
      assert(rs.map(_._3).sorted.sameElements(1 to Similarity.K))
      assert(rs.forall(_._2 != qid))
    }
    // the driver corpus is axis-ALIGNED (nothing to decorrelate), the
    // regime where rotation cannot help — the bar here is "the r=32
    // projection retains candidate quality", not "beats PQ": measured
    // 0.64 vs PQ's 0.68; the correlated-corpus test above is where
    // the operator earns its keep
    val exact = Similarity.knnBruteforceOn(vecs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val r = recallOf(opq.map(t => (t._1, t._2)), exact)
    assert(r >= 0.5, s"recall $r collapsed on the driver corpus")
    val again = Opq.knnOpqOn(vecs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
    assert(opq.sortBy(t => (t._1, t._3)).sameElements(again.sortBy(t => (t._1, t._3))),
      "OPQ answers must be bit-deterministic")
  }

  test("ivf opq: well-formed top-k, recall within the probe cut of flat " +
      "opq, candidates only from probed cells, deterministic") {
    val vecs = graft.sources.Tables.embeddings(spark, sfDir)
    val res = Opq.knnIvfOpqOn(vecs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
    val byQ = res.groupBy(_._1)
    assert(byQ.size == Similarity.NQueries)
    byQ.foreach { case (qid, rs) =>
      assert(rs.map(_._3).sorted.sameElements(1 to Similarity.K))
      assert(rs.forall(_._2 != qid))
    }
    // the probe cut can only remove candidates the flat OPQ scan had —
    // recall tracks the flat tier minus the IVF pruning loss, the same
    // relation knn_ivf_sq8 holds to knn_sq8
    val exact = Similarity.knnBruteforceOn(vecs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val flat = recallOf(Opq.knnOpqOn(vecs).collect()
      .map(r => (r.getLong(0), r.getLong(1))), exact)
    val pruned = recallOf(res.map(t => (t._1, t._2)), exact)
    assert(pruned >= flat - 0.2,
      s"IVF-OPQ recall $pruned fell too far below flat OPQ's $flat")
    assert(pruned >= 0.4, s"recall $pruned collapsed on the driver corpus")
    val again = Opq.knnIvfOpqOn(vecs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
    assert(res.sortBy(t => (t._1, t._3)).sameElements(again.sortBy(t => (t._1, t._3))),
      "IVF-OPQ answers must be bit-deterministic")
  }

  private def canonK(df: org.apache.spark.sql.DataFrame) = df.collect()
    .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
    .sortBy(t => (t._1, t._3))

  test("opq serving split: a staged rotated index answers the one-shot " +
      "key bit-for-bit; radius serves off the same artifact") {
    import org.apache.spark.sql.functions.col
    val vectors = graft.sources.Tables.embeddings(spark, sfDir)
    val qids = 0L until Similarity.NQueries.toLong
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfopq_idx").toString
    AnnIndex.write(Opq.buildIvfOpq(vectors), dir)
    val staged = Opq.IvfOpqIndex(AnnIndex.read(spark, dir, AnnIndex.IvfOpq))
    // the staged artifact really carries the rotation: r rows of d doubles
    assert(staged.basis.count() == Opq.OpqComponents)
    val served = canonK(Opq.queryIvfOpq(staged, vectors, qids))
    assert(served.sameElements(canonK(Opq.knnIvfOpqOn(vectors))),
      "staged rotated serving diverged from the one-shot key")
    // query-many: a second round against the same staged frames
    assert(canonK(Opq.queryIvfOpq(staged, vectors, qids)).sameElements(served))
    // radius off the SAME staged artifact: precision 1.0 by
    // construction (exact verify), admitted set ⊆ the exact radius set
    val rad = Opq.queryIvfOpq(staged, vectors, qids, cut = Radius(Similarity.RadiusTau)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rad.forall(_._3 >= Similarity.RadiusTau),
      "a radius answer below tau escaped the exact verify")
    val vecs = vectors.select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var ab = 0.0; var aa = 0.0; var bb = 0.0; var i = 0
      while (i < a.length) { ab += a(i)*b(i); aa += a(i)*a(i); bb += b(i)*b(i); i += 1 }
      ab / (math.sqrt(aa) * math.sqrt(bb))
    }
    val byId = vecs.toMap
    val exactRad = (for {
      q <- qids; (vid, e) <- vecs
      if vid != q && cos(byId(q), e) >= Similarity.RadiusTau
    } yield (q, vid)).toSet
    assert(rad.forall(t => exactRad.contains((t._1, t._2))),
      "an admitted pair is outside the exact radius set")
    assert(rad.nonEmpty, "the radius fixture admitted nothing — tau too tight")
  }

  test("opq filtered tier: label rides the staged rotated codes; " +
      "same-label top-k; riding metadata leaves unfiltered answers alone") {
    import org.apache.spark.sql.functions.col
    val vectors = graft.sources.Tables.embeddings(spark, sfDir)
    val qids = 0L until Similarity.NQueries.toLong
    def canonF(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3), r.getDouble(4)))
      .sortBy(t => (t._1, t._4))
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfopq_filt").toString
    AnnIndex.write(Opq.buildIvfOpq(vectors, metaCols = Seq("label")), dir)
    val staged = Opq.IvfOpqIndex(AnnIndex.read(spark, dir, AnnIndex.IvfOpq))
    assert(staged.pq.codes.columns.contains("label"),
      "the staged codes must carry the riding metadata column")
    val served = canonF(Opq.queryIvfOpq(staged, vectors, qids, sameLabel = true))
    assert(served.sameElements(canonF(Opq.queryIvfOpq(
      Opq.buildIvfOpq(vectors, metaCols = Seq("label")), vectors, qids, sameLabel = true))),
      "staged filtered serving diverged from the in-memory build")
    val qLab = vectors.filter(col("vec_id") < Similarity.NQueries)
      .select(col("vec_id"), col("label")).collect()
      .map(r => (r.getLong(0), r.getInt(1))).toMap
    served.groupBy(_._1).foreach { case (q, rs) =>
      assert(rs.forall(_._3 == qLab(q)), s"query $q got a cross-label neighbor")
      assert(rs.map(_._4).sorted.sameElements(1 to rs.length))
    }
    // the riding column is projected away on the unfiltered path
    assert(canonK(Opq.queryIvfOpq(staged, vectors, qids))
      .sameElements(canonK(Opq.queryIvfOpq(Opq.buildIvfOpq(vectors), vectors, qids))),
      "metadata riding the codes changed the unfiltered answers")
  }

  test("opq index CRUD: append == build(all, trainOn = base) bit-for-bit; " +
      "erasure drops exactly the erased ids") {
    import org.apache.spark.sql.functions.{col, max}
    val vectors = graft.sources.Tables.embeddings(spark, sfDir)
    val qids = 0L until Similarity.NQueries.toLong
    val cut = vectors.agg(max("vec_id")).collect()(0).getLong(0) / 2
    val base = vectors.filter(col("vec_id") <= cut)
    val rest = vectors.filter(col("vec_id") > cut)
    val root = java.nio.file.Files.createTempDirectory("graft_ivfopq_crud").toString
    AnnIndex.stage(Opq.buildIvfOpq(base), root)
    def dir = graft.operators.IndexManifest.currentOrFail(spark, root)
    val nApp = AnnIndex.append(spark, root, AnnIndex.IvfOpq, rest)
    assert(nApp == rest.count(), "append must encode every batch row")
    // the incremental-lifecycle equation, rotated: assignment, basis
    // projection, and encode against frozen artifacts equal a rebuild
    // that trained on the base slice
    val twin = Opq.buildIvfOpq(vectors, trainOn = base)
    val appended = canonK(Opq.queryIvfOpq(
      Opq.IvfOpqIndex(AnnIndex.read(spark, dir, AnnIndex.IvfOpq)), vectors, qids))
    assert(appended.sameElements(canonK(Opq.queryIvfOpq(twin, vectors, qids))),
      "append diverged from the trained-on-base rebuild")
    // erasure: ids vanish from answers, the rest of the lifecycle
    // mechanics (untouched-cell byte-identity, idempotence) are the
    // PQ erasure's own specs — the codes tree IS the PQ layout
    val erased = (cut - 3 to cut).filter(_ >= Similarity.NQueries)
    val nDel = AnnIndex.erase(spark, root, AnnIndex.IvfOpq, erased)
    assert(nDel == erased.length, s"expected ${erased.length} erasures, got $nDel")
    val after = canonK(Opq.queryIvfOpq(
      Opq.IvfOpqIndex(AnnIndex.read(spark, dir, AnnIndex.IvfOpq)), vectors, qids))
    assert(after.forall(t => !erased.contains(t._2)),
      "an erased id survived in the staged answers")
  }

  test("opq empty-input contracts: empty corpus and empty basis fail " +
      "with a diagnosis, not a deep arithmetic error") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val empty = Seq.empty[(Long, Seq[Float], Int)]
      .toDF("vec_id", "embedding", "label")
    val eb = intercept[IllegalArgumentException] { Opq.buildIvfOpq(empty) }
    assert(eb.getMessage.contains("empty corpus"))
    // a path staged WITHOUT the basis artifact (or with an empty one)
    // must say so, not AIOOBE inside the ADC derivation
    val vectors = graft.sources.Tables.embeddings(spark, sfDir)
    val dir = java.nio.file.Files.createTempDirectory("graft_opq_nobasis").toString
    val built = Opq.buildIvfOpq(vectors)
    AnnIndex.write(built, dir)
    built.basis.filter(col("pos") < 0).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/basis")
    val es = intercept[IllegalStateException] {
      Opq.queryIvfOpq(Opq.IvfOpqIndex(AnnIndex.read(spark, dir, AnnIndex.IvfOpq)), vectors,
        0L until Similarity.NQueries.toLong).collect()
    }
    assert(es.getMessage.contains("rotation basis is empty"))
  }

  test("principal components: unit norms and positive spectrum always; " +
      "strict descending orthonormality where the spectrum separates") {
    import spark.implicits._
    // driver corpus: a near-ISOTROPIC spectrum (measured lambda range
    // 0.015..0.028) — power iteration cannot strictly order
    // near-degenerate eigenvalues in finitely many steps and no
    // consumer needs it to (any basis of a degenerate eigenspace is
    // equally good for rotation); assert the always-true invariants
    val vecs = graft.sources.Tables.embeddings(spark, sfDir)
    val flat = Similarity.principalComponents(
      Similarity.vecCovarianceOn(vecs), Opq.OpqComponents, Opq.OpqIters)
    assert(flat.length == Opq.OpqComponents)
    assert(flat.forall(_._1 > 0), "covariance spectrum must be positive")
    flat.map(_._2).foreach { u =>
      val nrm = math.sqrt(u.map(x => x * x).sum)
      assert(math.abs(nrm - 1.0) < 1e-9, s"component norm $nrm")
    }
    // separated spectrum: variance 25 along one axis, 4 along a
    // second, noise elsewhere — here the procedure MUST converge to
    // a descending, orthonormal basis in OpqIters steps
    val rnd = new scala.util.Random(31)
    val d = 16
    val a1 = Array.fill(d)(rnd.nextGaussian())
    val n1 = math.sqrt(a1.map(x => x * x).sum); val ax1 = a1.map(_ / n1)
    val a2raw = Array.fill(d)(rnd.nextGaussian())
    val dp12 = a2raw.zip(ax1).map { case (x, y) => x * y }.sum
    val a2 = a2raw.zip(ax1).map { case (x, y) => x - dp12 * y }
    val n2 = math.sqrt(a2.map(x => x * x).sum); val ax2 = a2.map(_ / n2)
    val df = (0 until 400).map { i =>
      val t1 = rnd.nextGaussian() * 5; val t2 = rnd.nextGaussian() * 2
      (i.toLong, Array.tabulate(d)(j =>
        (ax1(j) * t1 + ax2(j) * t2 + rnd.nextGaussian() * 0.05).toFloat).toSeq, 0)
    }.toDF("vec_id", "embedding", "label")
    val sep = Similarity.principalComponents(
      Similarity.vecCovarianceOn(df), 3, Opq.OpqIters)
    val lams = sep.map(_._1)
    // strict order holds among the SEPARATED directions; the third
    // component is already in the isotropic noise floor (any noise
    // direction is as principal as any other)
    assert(lams(0) > lams(1) && lams(1) > 10 * lams(2),
      s"separated spectrum must come out descending into the noise floor: $lams")
    val top = sep.head._2
    val align = math.abs(top.indices.map(j => top(j) * ax1(j)).sum)
    assert(align > 0.999, s"top component must align with the major axis: $align")
    for (i <- sep.indices; j <- 0 until i) {
      val dp = sep(i)._2.zip(sep(j)._2).map { case (a, b) => a * b }.sum
      assert(math.abs(dp) < 0.01, s"components $i,$j not orthogonal: $dp")
    }
  }
}
