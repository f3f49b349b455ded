package graft

import graft.operators.{AnnIndex, Similarity}
import graft.operators.AnnSearch.Radius

class SimilaritySpec extends SparkSpecBase {

  test("knn bruteforce: k neighbors per query, ranked by cosine desc") {
    val rows = Similarity.knnBruteforce(spark, sfDir).collect()
    val perQuery = rows.groupBy(_.getLong(0))
    assert(perQuery.keySet == (0L until Similarity.NQueries.toLong).toSet)
    perQuery.values.foreach { rs =>
      assert(rs.length == Similarity.K)
      val byRank = rs.sortBy(_.getInt(2))
      assert(byRank.map(_.getInt(2)).sameElements(1 to Similarity.K))
      val cosines = byRank.map(_.getDouble(3))
      assert(cosines.zip(cosines.tail).forall { case (a, b) => a >= b })
      // no self-matches
      rs.foreach(r => assert(r.getLong(1) != r.getLong(0)))
    }
  }

  test("vec stats: one row per label, sane norms, centroid norm below avg norm") {
    val rows = Similarity.vecStats(spark, sfDir).collect()
    assert(rows.length == 10)
    rows.foreach { r =>
      val (n, dim) = (r.getLong(1), r.getInt(2))
      val (avg, mn, mx, cn) = (r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getDouble(6))
      assert(n > 0 && dim == 64)
      assert(mn <= avg && avg <= mx)
      // random-ish vectors: the centroid is much shorter than members
      assert(cn < avg)
    }
  }

  test("knn ivf: near-perfect recall on clustered data, prunes cells") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // 5 tight clusters of 40 vectors each; queries are vec_id < 5,
    // one per cluster (cluster = id % 5)
    val dim = 16
    val centers = Array.fill(5)(Array.fill(dim)(rnd.nextGaussian() * 5))
    val rows = (0 until 200).map { i =>
      val c = centers(i % 5)
      (i.toLong, c.map(x => (x + rnd.nextGaussian() * 0.05).toFloat).toSeq, i % 5)
    }
    val df = rows.toDF("vec_id", "embedding", "label")
    val exact = Similarity.knnBruteforceOn(df).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.knnIvfOn(df).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & ivf).size.toDouble / exact.size
    assert(recall >= 0.9, s"ivf recall on clustered data: $recall")
  }

  test("knn graph: high recall vs the exact all-node neighbor sets on clustered data") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val dim = 16
    val centers = Array.fill(5)(Array.fill(dim)(rnd.nextGaussian() * 5))
    val rows = (0 until 200).map { i =>
      val c = centers(i % 5)
      (i.toLong, c.map(x => (x + rnd.nextGaussian() * 0.05).toFloat).toSeq, i % 5)
    }
    val df = rows.toDF("vec_id", "embedding", "label")
    // exact kNN graph computed locally: every node, not just a query set
    val vecs = rows.map { case (id, e, _) => id -> e.map(_.toDouble).toArray }.toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      def d(x: Array[Double], y: Array[Double]) =
        x.indices.foldLeft(0.0)((acc, i) => acc + x(i) * y(i))
      d(a, b) / (math.sqrt(d(a, a)) * math.sqrt(d(b, b)))
    }
    val exact = vecs.keys.flatMap { q =>
      vecs.keys.filter(_ != q).toSeq
        .sortBy(v => (-cos(vecs(q), vecs(v)), v))
        .take(Similarity.GraphK).map(q -> _)
    }.toSet
    val graph = Similarity.knnGraphOn(df).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & graph).size.toDouble / exact.size
    assert(recall >= 0.9, s"knn graph recall on clustered data: $recall")
  }

  test("knn graph on corpus: k neighbors per node, valid ranks, no self-edges, deterministic") {
    val n = graft.sources.Tables.embeddings(spark, sfDir).count()
    def runOnce() = Similarity.knnGraph(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._3))
    val rows = runOnce()
    val perNode = rows.groupBy(_._1)
    assert(perNode.size == n, "every corpus vector is a node of the graph")
    perNode.foreach { case (q, rs) =>
      assert(rs.length == Similarity.GraphK)
      assert(rs.map(_._3).sorted.sameElements(1 to Similarity.GraphK))
      val cosines = rs.sortBy(_._3).map(_._4)
      assert(cosines.zip(cosines.tail).forall { case (a, b) => a >= b })
      rs.foreach(r => assert(r._2 != q, "no self-edges"))
    }
    assert(runOnce().sameElements(rows), "staged build + probe is deterministic")
  }

  test("vec covariance: upper triangle matches a local brute-force computation") {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    val dim = 8
    val data = Array.fill(100)(Array.fill(dim)(rnd.nextGaussian().toFloat))
    val df = data.zipWithIndex
      .map { case (e, i) => (i.toLong, e.toSeq, 0) }.toSeq
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.vecCovarianceOn(df).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(got.size == dim * (dim + 1) / 2, "exactly the upper triangle")
    val n = data.length
    val means = (0 until dim).map(j => data.map(_(j).toDouble).sum / n)
    for (i <- 0 until dim; j <- i until dim) {
      val expect = data.map(v =>
        (v(i) - means(i)) * (v(j) - means(j))).sum / n
      val g = got((i + 1, j + 1))
      assert(math.abs(g - expect) < 1e-6,
        s"cov($i,$j): got $g expected $expect")
      if (i == j) assert(g > 0, s"variance must be positive at dim $i")
    }
  }

  test("principal components: recover the stretched axis, eigenvalues descending") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val dim = 8
    // anisotropic cloud: variance 25 along axis,
    // 0.01 elsewhere
    val axis = {
      val a = Array.fill(dim)(rnd.nextGaussian())
      val n = math.sqrt(a.map(x => x * x).sum); a.map(_ / n)
    }
    val df = (0 until 300).map { i =>
      val t = rnd.nextGaussian() * 5
      val e = Array.tabulate(dim)(j =>
        (axis(j) * t + rnd.nextGaussian() * 0.1).toFloat)
      (i.toLong, e.toSeq, 0)
    }.toDF("vec_id", "embedding", "label")
    val comps = Similarity.principalComponents(
      Similarity.vecCovarianceOn(df), r = 3)
    assert(comps.map(_._1) == comps.map(_._1).sorted.reverse,
      "eigenvalues must come out descending")
    val top = comps.head._2
    val align = math.abs(top.indices.map(j => top(j) * axis(j)).sum)
    assert(align > 0.99, s"top component must align with the stretched axis: $align")
    assert(comps.head._1 > 10 * comps(1)._1,
      "spectrum must reflect the anisotropy")
  }

  test("autoCells: C = max(1, ceil(sqrt(n/2))) — the n*C / n^2/C balance point") {
    assert(Similarity.autoCells(0) == 1)
    assert(Similarity.autoCells(1) == 1)
    assert(Similarity.autoCells(2) == 1)
    assert(Similarity.autoCells(512) == 16)
    assert(Similarity.autoCells(500) == 16)   // the sf0.01 corpus
    assert(Similarity.autoCells(2000000) == 1000)
  }

  test("embed clusters: partition of the corpus, bounded cells, coherent stats") {
    val docs = graft.sources.Tables.embeddings(spark, sfDir)
    val n = docs.count()
    val cl = Similarity.embedClusters(spark, sfDir).collect()
    assert(cl.map(_.getLong(1)).sum == n, "clusters must partition the corpus")
    assert(cl.length <= Similarity.autoCells(n) && cl.forall(_.getLong(1) > 0))
    cl.foreach { r =>
      val (mean, mn) = (r.getDouble(2), r.getDouble(3))
      assert(mean <= 1.0 + 1e-12 && mn <= mean + 1e-12,
        s"cluster ${r.getLong(0)}: mean $mean min $mn")
    }
  }

  test("knn ivf on corpus: k results per query, valid ranks, deterministic") {
    def runOnce() = Similarity.knnIvf(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sortBy(t => (t._1, t._3))
    val rows = runOnce()
    val perQuery = rows.groupBy(_._1)
    perQuery.values.foreach { rs =>
      assert(rs.length <= Similarity.K)
      assert(rs.map(_._3).sorted.sameElements(1 to rs.length))
    }
    // build + assignment + probing are deterministic end to end
    assert(runOnce().sameElements(rows))
  }

  test("knn pq: high recall on clustered data after the exact rerank") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    // 5 tight clusters; dim 16 divides into M=8 two-wide subspaces
    val dim = 16
    val centers = Array.fill(5)(Array.fill(dim)(rnd.nextGaussian() * 5))
    val rows = (0 until 200).map { i =>
      val c = centers(i % 5)
      (i.toLong, c.map(x => (x + rnd.nextGaussian() * 0.05).toFloat).toSeq, i % 5)
    }
    val df = rows.toDF("vec_id", "embedding", "label")
    val exact = Similarity.knnBruteforceOn(df).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = graft.operators.Pq.knnPqOn(df).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & pq).size.toDouble / exact.size
    assert(recall >= 0.9, s"pq recall on clustered data: $recall")
  }

  test("knn pq on corpus: k ranked results per query, deterministic") {
    def runOnce() = graft.operators.Pq.knnPq(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sortBy(t => (t._1, t._3))
    val rows = runOnce()
    val perQuery = rows.groupBy(_._1)
    assert(perQuery.keySet == (0L until Similarity.NQueries.toLong).toSet)
    perQuery.values.foreach { rs =>
      assert(rs.length == Similarity.K)
      assert(rs.map(_._3).sorted.sameElements(1 to rs.length))
    }
    // codebook build + encode + ADC + rerank, deterministic end to end
    assert(runOnce().sameElements(rows))
  }

  test("knn ivf pq: high recall on clustered data; candidates stay inside probed cells") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val dim = 16
    val centers = Array.fill(5)(Array.fill(dim)(rnd.nextGaussian() * 5))
    val rows = (0 until 200).map { i =>
      val c = centers(i % 5)
      (i.toLong, c.map(x => (x + rnd.nextGaussian() * 0.05).toFloat).toSeq, i % 5)
    }
    val df = rows.toDF("vec_id", "embedding", "label")
    val exact = Similarity.knnBruteforceOn(df).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivfpq = graft.operators.Pq.knnIvfPqOn(df).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // tight clusters: queries and their true neighbors share cells, so
    // the cell cut costs no recall; PQ's 0.05-sigma clusters rerank
    // cleanly — the knn_pq recall contract survives the pruning
    val recall = (exact & ivfpq).size.toDouble / exact.size
    assert(recall >= 0.9, s"ivfpq recall on clustered data: $recall")
  }

  test("knn ivf pq on corpus: ranked per-query results, deterministic, ⊆ pq-rerank universe") {
    def runOnce() = graft.operators.Pq.knnIvfPq(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sortBy(t => (t._1, t._3))
    val rows = runOnce()
    val perQuery = rows.groupBy(_._1)
    assert(perQuery.keySet == (0L until Similarity.NQueries.toLong).toSet)
    perQuery.values.foreach { rs =>
      assert(rs.length <= Similarity.K && rs.nonEmpty)
      assert(rs.map(_._3).sorted.sameElements(1 to rs.length))
    }
    assert(runOnce().sameElements(rows))
  }

  test("k-center: one pick per cluster before densifying; radii non-increasing") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val dim = 16
    // 5 well-separated clusters — greedy k-center's defining property:
    // the first 5 picks land in 5 DIFFERENT clusters (each new pick is
    // the farthest point from everything chosen)
    val centers = Array.tabulate(5)(c => Array.tabulate(dim)(j =>
      if (j == c) 10.0 else 0.1 * rnd.nextGaussian()))
    val rows = (0 until 200).map { i =>
      val c = centers(i % 5)
      (i.toLong, c.map(x => (x + rnd.nextGaussian() * 0.05).toFloat).toSeq, i % 5)
    }
    val df = rows.toDF("vec_id", "embedding", "label")
    val picks = Similarity.sampleKCenterOn(df, k = 8).collect()
      .sortBy(_.getInt(0))
    assert(picks.length == 8)
    val firstFive = picks.take(5).map(r => (r.getLong(1) % 5))
    assert(firstFive.distinct.length == 5,
      s"first 5 picks hit clusters ${firstFive.mkString(",")} — not one per cluster")
    // cover radius never grows as centers accumulate
    val radii = picks.drop(1).map(_.getDouble(2))
    assert(radii.zip(radii.tail).forall { case (a, b) => a >= b - 1e-12 },
      s"radii not non-increasing: ${radii.mkString(",")}")
  }

  test("k-center on corpus: k rounds, distinct picks, deterministic") {
    def runOnce() = Similarity.sampleKCenter(spark, sfDir).collect()
      .map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    val rows = runOnce()
    assert(rows.length == Similarity.KCenterRounds)
    assert(rows.map(_._2).distinct.length == rows.length, "a vector was picked twice")
    assert(runOnce().sameElements(rows))
  }

  test("ivfpq serving split: a staged index answers queries without rebuilding") {
    import graft.operators.Pq
    val vectors = graft.sources.Tables.embeddings(spark, sfDir)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq_idx").toString
    // build ONCE, stage, reload — the serving lifecycle
    AnnIndex.write(Pq.buildIvfPq(vectors), dir)
    val staged = Pq.readIvfPqIndex(spark, dir)
    val qids = (0L until Similarity.NQueries.toLong)
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._3))
    val served = canon(Pq.queryIvfPq(staged, vectors, qids))
    // identical to the one-shot driver key — same probes, same ADC,
    // same rerank, bit-for-bit cosines
    val oneShot = canon(Pq.knnIvfPq(spark, sfDir))
    assert(served.sameElements(oneShot),
      s"staged-index serving diverged from the one-shot key")
    // query-many: a second query round against the same staged frames
    // is deterministic (nothing rebuilt, nothing mutated)
    assert(canon(Pq.queryIvfPq(staged, vectors, qids)).sameElements(served))
    // the staged artifact really is the compressed form: M codes/vector
    assert(staged.codes.count() == vectors.count())
    assert(staged.codes.select(org.apache.spark.sql.functions.size(
      org.apache.spark.sql.functions.col("codes"))).distinct().collect()
      .map(_.getInt(0)).toSeq == Seq(Pq.M))
  }

  test("knn graph nprobe lever: default-equivalent at IvfNProbe, well-formed at 1") {
    val corpus = graft.sources.Tables.embeddings(spark, sfDir)
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._3))
    // the explicit default is the driver-key contract, bit-for-bit
    val dflt = canon(Similarity.knnGraphOn(corpus))
    assert(canon(Similarity.knnGraphOn(corpus, nprobe = Similarity.IvfNProbe))
      .sameElements(dflt))
    // nprobe=1 (the latency-bounded build): a well-formed graph —
    // ranks contiguous from 1 per query, ≤ k rows per query, exact
    // cosines inside the probed cell — and deterministic
    val capped = canon(Similarity.knnGraphOn(corpus, nprobe = 1))
    assert(canon(Similarity.knnGraphOn(corpus, nprobe = 1)).sameElements(capped))
    capped.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.length <= Similarity.GraphK)
      assert(rows.map(_._3).sorted.toSeq == (1 to rows.length))
    }
    // fewer probed cells can only SHRINK each query's candidate set:
    // a capped edge to a neighbor in the query's OWN best cell must
    // also appear in the default graph with the same cosine bits
    val dfltSet = dflt.map(t => (t._1, t._2, t._4)).toSet
    val cappedTop = capped.filter(_._3 == 1)
    assert(cappedTop.count(t => dfltSet.contains((t._1, t._2, t._4))) >=
      cappedTop.length * 9 / 10,
      "capped rank-1 edges should overwhelmingly persist in the default graph")
  }

  test("ivfpq incremental append equals a full rebuild trained on the base corpus") {
    import graft.operators.Pq
    import org.apache.spark.sql.functions.{col, max}
    val vectors = graft.sources.Tables.embeddings(spark, sfDir)
    val maxId = vectors.agg(max("vec_id")).collect()(0).getLong(0)
    val cut = maxId / 2; val cut2 = (maxId * 3) / 4
    val a = vectors.filter(col("vec_id") <= cut)
    val b1 = vectors.filter(col("vec_id") > cut && col("vec_id") <= cut2)
    val b2 = vectors.filter(col("vec_id") > cut2)
    val root = java.nio.file.Files.createTempDirectory("graft_ivfpq_append").toString
    // day 0: build on the base corpus, stage durably as version 1
    val v1 = Pq.stageIvfPqIndexVersion(Pq.buildIvfPq(a), root)
    val base = Pq.readIvfPqIndex(spark, v1)
    val qids = (0L until Similarity.NQueries.toLong)
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._3))
    // appends COMPOSE: append(append(i, b1), b2) == append(i, b1 ∪ b2)
    val twoStep = Pq.appendToIvfPq(Pq.appendToIvfPq(base, b1), b2)
    val rTwo = canon(Pq.queryIvfPq(twoStep, vectors, qids))
    val oneStep = Pq.appendToIvfPq(base, vectors.filter(col("vec_id") > cut))
    assert(canon(Pq.queryIvfPq(oneStep, vectors, qids)).sameElements(rTwo))
    // an empty append is the identity
    assert(canon(Pq.queryIvfPq(
      Pq.appendToIvfPq(twoStep, vectors.limit(0)), vectors, qids))
      .sameElements(rTwo))
    // == a FULL REBUILD over a ∪ b trained on a, bit-identically (the
    // incremental contract: fixed centroids/codebooks make the append
    // path a pure re-expression of the build's assign+encode)
    val full = Pq.buildIvfPq(vectors, trainOn = a)
    assert(canon(Pq.queryIvfPq(full, vectors, qids)).sameElements(rTwo),
      "appended index diverged from the a-trained full rebuild")
    // durable lifecycle: appendIvfPqIndexAtomic rewrites ONLY the
    // batch's cells — centroids, codebooks and every code file of an
    // untouched cell are the SAME physical files, inherited by
    // reference from v1 (whose own tree stays as staged)
    def files(v: String, frame: String): Map[String, String] =
      graft.operators.IndexManifest.effectiveFiles(spark, v)
        .filter(_._1.startsWith(frame + "/")).toMap
    val before = Seq("centroids", "codebooks", "codes").map(s => s -> files(v1, s)).toMap
    val n1 = Pq.appendIvfPqIndexAtomic(spark, root, b1)
    val n2 = Pq.appendIvfPqIndexAtomic(spark, root, b2)
    assert(n1 == b1.count() && n2 == b2.count())
    val live = graft.operators.IndexManifest.currentOrFail(spark, root)
    Seq("centroids", "codebooks").foreach { s =>
      assert(files(live, s) == before(s), s"append must not rewrite $s") }
    val reloaded = Pq.readIvfPqIndex(spark, live)
    val touched = reloaded.codes.filter(col("vec_id") > cut)
      .select("cell").distinct().collect().map(_.getLong(0)).toSet
    val codesAfter = files(live, "codes")
    before("codes").foreach { case (rel, abs) =>
      val cell = rel.split("cell=")(1).split("/")(0).toLong
      if (!touched(cell))
        assert(codesAfter.get(rel).contains(abs),
          s"untouched codes file $rel was rewritten") }
    assert(Pq.readIvfPqIndex(spark, v1).codes.count() == a.count(),
      "the superseded version must be immutable under an append")
    assert(reloaded.codes.count() == vectors.count())
    assert(canon(Pq.queryIvfPq(reloaded, vectors, qids)).sameElements(rTwo),
      "durably appended index diverged from the in-memory append")
  }

  test("ivfpq erasure: only affected cell dirs rewritten, emptied cell retired, " +
      "queries equal a rebuild over the survivors") {
    import graft.operators.Pq
    import org.apache.spark.sql.functions.col
    val vectors = graft.sources.Tables.embeddings(spark, sfDir)
    import graft.operators.IndexManifest
    val root = java.nio.file.Files.createTempDirectory("graft_ivfpq_delete").toString
    val v1 = Pq.stageIvfPqIndexVersion(Pq.buildIvfPq(vectors), root)
    // the live version's codes files: version-relative path -> the
    // physical file it resolves to
    def listing(): Map[String, String] =
      IndexManifest.effectiveFiles(spark, IndexManifest.currentOrFail(spark, root))
        .filter(_._1.startsWith("codes/")).toMap
    val codes0 = Pq.readIvfPqIndex(spark, v1).codes
      .select(col("vec_id"), col("cell")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val byCell = codes0.groupBy(_._2)
    // erase ONE full cell (forces the emptied-directory path) plus a
    // couple of ids from another cell (partial rewrite path)
    val fullCell = byCell.minBy { case (c, rows) => (rows.length, c) }._1
    val otherCell = byCell.keys.filter(_ != fullCell).min
    val partialIds = byCell(otherCell).map(_._1).sorted.take(2)
    val erase = byCell(fullCell).map(_._1) ++ partialIds
    val before = listing()
    // erasing unknown ids first: a no-op that publishes nothing
    assert(Pq.deleteFromIvfPqIndexAtomic(spark, root, Seq(-1L, -2L)) == 0L)
    assert(IndexManifest.currentOrFail(spark, root) == v1,
      "a no-op erasure must not publish a version")
    assert(listing() == before, "a no-op erasure must not touch files")
    val n = Pq.deleteFromIvfPqIndexAtomic(spark, root, erase.toSeq)
    assert(n == erase.length, s"deleted $n of ${erase.length}")
    val v2 = IndexManifest.currentOrFail(spark, root)
    val after = listing()
    // the emptied cell is gone from the new version entirely
    assert(!after.keys.exists(_.startsWith(s"codes/cell=$fullCell/")),
      "emptied cell directory must be retired")
    // every cell OTHER than the two affected ones is the same physical
    // file, inherited by reference
    before.foreach { case (name, phys) =>
      val untouched = !name.startsWith(s"codes/cell=$fullCell/") &&
        !name.startsWith(s"codes/cell=$otherCell/")
      if (untouched)
        assert(after.get(name).contains(phys), s"unaffected file $name rewritten")
    }
    // erased ids are gone as candidates; queries match a fresh rebuild
    // over the survivors with the same training corpus
    val reloaded = Pq.readIvfPqIndex(spark, v2)
    assert(reloaded.codes.count() == codes0.length - erase.length)
    val eraseSet = erase.toSet
    val survivors = vectors.filter(!col("vec_id").isin(eraseSet.toSeq: _*))
    val rebuilt = Pq.buildIvfPq(survivors, trainOn = vectors)
    val qids = (0L until Similarity.NQueries.toLong).filterNot(eraseSet)
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._3))
    assert(canon(Pq.queryIvfPq(reloaded, vectors, qids))
      .sameElements(canon(Pq.queryIvfPq(rebuilt, vectors, qids))),
      "post-erasure index diverged from a rebuild over the survivors")
    // double delete: idempotent, zero rows, no version, files untouched
    assert(Pq.deleteFromIvfPqIndexAtomic(spark, root, erase.toSeq) == 0L)
    assert(IndexManifest.currentOrFail(spark, root) == v2)
    assert(listing() == after)
  }

  test("ivfpq delete driver key: erased slice absent from neighbors, " +
      "result equals querying an index built without re-encoding survivors") {
    import graft.operators.Pq
    import org.apache.spark.sql.functions.col
    val out = Pq.knnIvfPqDelete(spark, sfDir)
    val rows = out.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
    assert(rows.length == Similarity.NQueries * Similarity.K)
    assert(rows.forall(t => t._2 < Pq.DeleteLo || t._2 > Pq.DeleteHi),
      "an erased id surfaced as a neighbor")
    // the lifecycle == a full-corpus-trained build over the survivors
    // (the in-memory twin of what the staged erasure leaves on disk)
    val vectors = graft.sources.Tables.embeddings(spark, sfDir)
    val survivors = vectors.filter(
      col("vec_id") < Pq.DeleteLo || col("vec_id") > Pq.DeleteHi)
    val twin = Pq.queryIvfPq(Pq.buildIvfPq(survivors, trainOn = vectors),
      vectors, 0L until Similarity.NQueries.toLong)
    assert(rows.sortBy(t => (t._1, t._3)).sameElements(
      twin.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
        .sortBy(t => (t._1, t._3))),
      "driver delete key diverged from the survivor-rebuild twin")
  }

  test("knn ivf pq: empty corpus yields an empty, schema-stable result") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Seq[Float], Int)].toDF("vec_id", "embedding", "label")
    val out = graft.operators.Pq.knnIvfPqOn(empty)
    assert(out.columns.sameElements(Array("query_id", "neighbor_id", "rank", "cosine")))
    assert(out.count() == 0)
  }

  test("knn pq: empty corpus yields an empty, schema-stable result") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Seq[Float], Int)].toDF("vec_id", "embedding", "label")
    val out = graft.operators.Pq.knnPqOn(empty)
    assert(out.columns.sameElements(Array("query_id", "neighbor_id", "rank", "cosine")))
    assert(out.count() == 0)
  }

  test("knn lsh: auto-derived plane dim matches non-64-dim corpora") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    // 16-dim corpus: the old hardcoded dim=64 default would hash
    // hyperplanes against a 64-wide prefix of 16-wide vectors
    val rows = (0 until 100).map { i =>
      (i.toLong, Seq.fill(16)((rnd.nextGaussian()).toFloat), 0)
    }
    val df = rows.toDF("vec_id", "embedding", "label")
    val res = Similarity.knnLshOn(df).collect()
    assert(res.nonEmpty)
    val exact = Similarity.knnBruteforceOn(df).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = res.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((exact & approx).nonEmpty)
  }

  test("vec_dot: ragged input fails loudly instead of truncating") {
    import spark.implicits._
    val df = Seq((Seq(1.0, 2.0), Seq(1.0, 2.0, 3.0))).toDF("a", "b")
    val ex = intercept[Exception] {
      df.select(org.apache.spark.sql.functions
        .call_function("vec_dot", org.apache.spark.sql.functions.col("a"),
          org.apache.spark.sql.functions.col("b"))).collect()
    }
    def causes(t: Throwable): Iterator[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
    assert(causes(ex).exists(_.getMessage != null) &&
      causes(ex).exists(c => Option(c.getMessage).exists(_.contains("dimension mismatch"))))
  }

  test("knn lsh: bounded candidates, useful recall vs exact scan") {
    val exact = Similarity.knnBruteforce(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.knnLsh(spark, sfDir).collect()
    val approxSet = approx.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approxSet).size.toDouble / exact.size
    assert(recall >= 0.5, s"recall $recall")
    // it must actually prune: fewer scored pairs than the full corpus scan
    val corpus = sources.Tables.embeddings(spark, sfDir).count()
    assert(approx.length <= Similarity.NQueries * Similarity.K)
    val candCounts = approx.groupBy(_.getLong(0)).view.mapValues(_.length)
    candCounts.values.foreach(n => assert(n <= corpus.toInt))
  }

  test("knn lsh: empty corpus / all-null embeddings give an empty result, not a probe crash") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    val out = Similarity.knnLshOn(empty)
    assert(out.columns.toSeq == Seq("query_id", "neighbor_id", "rank", "cosine"))
    assert(out.count() == 0)
    val allNull = Seq((1L, Option.empty[Array[Float]]), (2L, Option.empty[Array[Float]]))
      .toDF("vec_id", "embedding")
    assert(Similarity.knnLshOn(allNull).count() == 0)
  }

  test("knn_recall_report: monotone nprobe curve, exact ratio arithmetic, " +
      "consistent with the standalone IVF key at the default probe width") {
    val vecs = graft.sources.Tables.embeddings(spark, sfDir)
    val rep = Similarity.knnRecallReportOn(vecs).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1)
    assert(rep.map(_._1).toSeq == Similarity.RecallNProbes,
      "one row per swept nprobe")
    val possible = Similarity.NQueries.toLong * Similarity.K
    assert(rep.forall(_._3 == possible), "possible = |queries| * k")
    assert(rep.forall(t => t._2 >= 0 && t._2 <= possible), "hits in range")
    // widening the probe set only ever ADDS candidates, and a true
    // top-k member in the candidate set can only be outranked by
    // other true top-k members — so the overlap is monotone in nprobe
    assert(rep.sliding(2).forall { case Array(a, b) => a._2 <= b._2
                                   case _ => true },
      "recall must be monotone nondecreasing in nprobe")
    assert(rep.forall(t => t._4 == t._2.toDouble / t._3.toDouble),
      "recall is exactly hits/possible")
    // the np = IvfNProbe row must agree with the standalone IVF key
    val exact = Similarity.knnBruteforceOn(vecs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivfHits = Similarity.knnIvfOn(vecs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).count(exact.contains)
    assert(rep.find(_._1 == Similarity.IvfNProbe).get._2 == ivfHits,
      "report row at the default nprobe must equal knn_ivf's overlap")
  }

  test("float ivf serving split: staged index answers the one-shot key " +
      "bit-identically; append is O(new); erasure rewrites only affected cells") {
    import org.apache.spark.sql.functions.col
    val vectors = graft.sources.Tables.embeddings(spark, sfDir)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_float").toString
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._3))
    // --- build once, stage, reload: identical to the one-shot key
    AnnIndex.write(Similarity.buildIvf(vectors), dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/postings_tmp")),
      "a successful stage must not leave the tmp tree behind")
    val served = canon(Similarity.queryIvfIndex(spark, dir))
    assert(served.sameElements(canon(Similarity.knnIvfOn(vectors))),
      "staged-index serving diverged from the one-shot key")
    // ALL THREE query types serve from the one staged artifact: the
    // radius set and the metadata-filtered top-k answer bit-identically
    // to their one-shot keys (label rides the persisted postings)
    val servedRadius = Similarity.queryIvfIndex(spark, dir, Radius(Similarity.RadiusTau))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted
    val oneShotRadius = Similarity.knnIvfOn(vectors, cut = Radius(Similarity.RadiusTau)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted
    assert(servedRadius.sameElements(oneShotRadius),
      "staged radius query diverged from the one-shot key")
    def canonF(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3), r.getDouble(4)))
      .sortBy(t => (t._1, t._4))
    assert(canonF(Similarity.queryIvfIndex(spark, dir, sameLabel = true))
      .sameElements(canonF(Similarity.knnIvfOn(vectors, sameLabel = true))),
      "staged filtered query diverged from the one-shot key")
    // ...and the FOURTH type, filtered radius, off the same artifact
    def canonFR(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._2))
    val servedFR = canonFR(Similarity.queryIvfIndex(spark, dir, Radius(Similarity.RadiusTau),
      sameLabel = true))
    assert(servedFR.sameElements(canonFR(Similarity.knnIvfOn(vectors,
      Radius(Similarity.RadiusTau), sameLabel = true))),
      "staged filtered-radius query diverged from the one-shot key")
    // well-formed: every admitted pair shares the query's label and
    // genuinely clears tau (exact driver-side recompute)
    val labById = vectors.select(col("vec_id"), col("label")).collect()
      .map(r => (r.getLong(0), r.getInt(1))).toMap
    val vecById = vectors.select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray)).toMap
    def cosOf(a: Long, b: Long): Double = {
      val (x, y) = (vecById(a), vecById(b))
      var ab = 0.0; var aa = 0.0; var bb = 0.0; var i = 0
      while (i < x.length) { ab += x(i)*y(i); aa += x(i)*x(i); bb += y(i)*y(i); i += 1 }
      ab / (math.sqrt(aa) * math.sqrt(bb))
    }
    servedFR.foreach { case (q, n, lab, _) =>
      assert(lab == labById(q) && labById(n) == labById(q),
        s"cross-label admission: query $q neighbor $n")
      assert(cosOf(q, n) >= Similarity.RadiusTau,
        s"below-tau admission: query $q neighbor $n")
    }
    // the widened filtered probe can only ADD candidates vs the
    // unfiltered radius width: the same-label slice of knn_radius is
    // a subset of the filtered-radius answer
    val sameLabelRadius = oneShotRadius
      .filter { case (q, n, _) => labById(n) == labById(q) }
      .map { case (q, n, _) => (q, n) }.toSet
    val frPairs = servedFR.map(t => (t._1, t._2)).toSet
    assert(sameLabelRadius.subsetOf(frPairs),
      "filtered radius lost a pair the narrower unfiltered probe admitted")
    // --- append lifecycle on a half split against FROZEN centroids
    val cut = vectors.agg(org.apache.spark.sql.functions.max("vec_id"))
      .collect()(0).getLong(0) / 2
    val base = vectors.filter(col("vec_id") <= cut)
    val rest = vectors.filter(col("vec_id") > cut)
    import graft.operators.IndexManifest
    val root2 = java.nio.file.Files.createTempDirectory("graft_ivf_float_app").toString
    val v1 = AnnIndex.stage(Similarity.buildIvf(base), root2)
    // a version's files of one frame: version-relative path -> the
    // physical file it resolves to
    def listing(v: String, frame: String): Map[String, String] =
      IndexManifest.effectiveFiles(spark, v)
        .filter(_._1.startsWith(frame + "/")).toMap
    val centsBefore = listing(v1, "centroids")
    val postsBefore = listing(v1, "postings")
    assert(AnnIndex.append(spark, root2, AnnIndex.FloatIvf, rest) == rest.count())
    val v2 = IndexManifest.currentOrFail(spark, root2)
    assert(listing(v2, "centroids") == centsBefore, "append must not retrain centroids")
    assert(listing(v1, "postings") == postsBefore,
      "the superseded version's postings must stay untouched")
    assert(listing(v2, "postings").values.exists(_.contains(s"/${IndexManifest.StoreDir}/")),
      "the append's rows must land as fresh store files")
    // appended postings == assigning EVERYTHING against the frozen
    // base centroids (the SQ8/PQ trainOn-decoupling equation) — the
    // reference is a plain-Scala argmax with the house fold order
    val cents2 = IndexManifest.readFrame(spark, v2, "centroids").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2)))
      .sortBy(_._1)
    val expected = vectors.collect().map { r =>
      val vid = r.getLong(0)
      val e = r.getSeq[Float](1).toArray.map(_.toDouble)
      val nrm = math.sqrt(e.map(x => x * x).sum)
      var best = -1L; var bestSim = 0.0; var first = true
      cents2.foreach { case (c, ce, cn) =>
        var dot = 0.0; var j = 0
        while (j < e.length) { dot += e(j) * ce(j); j += 1 }
        val sim = dot / (nrm * cn)
        if (first || sim > bestSim) { best = c; bestSim = sim; first = false }
      }
      (vid, best)
    }.toSet
    val stored = IndexManifest.readFrame(spark, v2, "postings")
      .select(col("vec_id"), col("cell").cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(stored == expected,
      "append(build(base), rest) must equal assign-all-against-frozen-centroids")
    // the grown index answers well-formed, deterministic top-k
    val q2 = canon(Similarity.queryIvfIndex(spark, v2))
    assert(q2.groupBy(_._1).forall(_._2.length == Similarity.K))
    assert(canon(Similarity.queryIvfIndex(spark, v2)).sameElements(q2))
    // --- erasure: one full cell + part of another, only their dirs touched
    val byCell = stored.groupBy(_._2)
    val fullCell = byCell.minBy { case (c, rows) => (rows.size, c) }._1
    val otherCell = byCell.keys.filter(_ != fullCell).min
    val partialIds = byCell(otherCell).map(_._1).toSeq.sorted.take(2)
    val erase = byCell(fullCell).map(_._1).toSeq ++ partialIds
    val before = listing(v2, "postings")
    assert(AnnIndex.erase(spark, root2, AnnIndex.FloatIvf, erase) == erase.length)
    val v3 = IndexManifest.currentOrFail(spark, root2)
    val after = listing(v3, "postings")
    assert(!after.keys.exists(_.startsWith(s"postings/cell=$fullCell/")),
      "emptied cell dir must be retired")
    before.foreach { case (f, phys) =>
      val cellOf = f.split("cell=")(1).split("/")(0).toLong
      if (cellOf != fullCell && cellOf != otherCell)
        assert(after.get(f).contains(phys), s"untouched cell file $f rewritten") }
    val remaining = IndexManifest.readFrame(spark, v3, "postings")
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    assert(remaining == stored.map(_._1) -- erase,
      "post-erasure postings must be exactly the survivors")
    val q3 = canon(Similarity.queryIvfIndex(spark, v3))
    assert(q3.forall(t => !erase.contains(t._2)),
      "erased ids must be gone from served neighbors")
  }

  test("index append dimension guards: mis-dimensioned or mis-shaped " +
      "batches fail loudly in the float and PQ tiers") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    def causes(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(e => Option(e.getMessage).getOrElse("")).toSeq
    // --- float tier: 3-dim staged index
    val base = (0L until 20L).map(i =>
      (i, Seq(i.toFloat, (i % 5).toFloat, (i % 3).toFloat))).toDF("vec_id", "embedding")
    val root = java.nio.file.Files.createTempDirectory("graft_ivf_dim").toString
    AnnIndex.stage(Similarity.buildIvf(base), root)
    val tooLong = Seq((100L, Seq(1f, 2f, 3f, 4f))).toDF("vec_id", "embedding")
    val eL = intercept[Throwable] { AnnIndex.append(spark, root, AnnIndex.FloatIvf, tooLong) }
    assert(causes(eL).exists(_.contains("staged index has 3")),
      s"wanted the width diagnosis, got: ${causes(eL).mkString(" | ")}")
    val tooShort = Seq((101L, Seq(1f, 2f))).toDF("vec_id", "embedding")
    val eS = intercept[Throwable] { AnnIndex.append(spark, root, AnnIndex.FloatIvf, tooShort) }
    assert(causes(eS).exists(_.contains("staged index has 3")))
    // metadata mismatch: the staged postings have NO metadata columns
    val withMeta = Seq((102L, Seq(1f, 2f, 3f), 7)).toDF("vec_id", "embedding", "label")
    val eM = intercept[Throwable] { AnnIndex.append(spark, root, AnnIndex.FloatIvf, withMeta) }
    assert(causes(eM).exists(_.contains("metadata columns")),
      s"wanted the metadata diagnosis, got: ${causes(eM).mkString(" | ")}")
    // positive control: a well-shaped batch still appends
    val ok = Seq((103L, Seq(9f, 9f, 9f))).toDF("vec_id", "embedding")
    assert(AnnIndex.append(spark, root, AnnIndex.FloatIvf, ok) == 1L)
    // --- PQ tier: 8-dim staged index (M=8, subW=1)
    val base8 = (0L until 20L).map(i =>
      (i, Seq.tabulate(8)(j => (i + j).toFloat))).toDF("vec_id", "embedding")
    val root8 = java.nio.file.Files.createTempDirectory("graft_ivfpq_dim").toString
    val v8 = graft.operators.Pq.stageIvfPqIndexVersion(
      graft.operators.Pq.buildIvfPq(base8), root8)
    val tooLong8 = Seq((100L, Seq.tabulate(9)(_.toFloat))).toDF("vec_id", "embedding")
    val eP = intercept[Throwable] {
      graft.operators.Pq.appendIvfPqIndexAtomic(spark, root8, tooLong8) }
    assert(causes(eP).exists(_.contains("the index encodes 8")),
      s"wanted the PQ width diagnosis, got: ${causes(eP).mkString(" | ")}")
    // index untouched by the failed appends: no version was published
    assert(graft.operators.IndexManifest.currentOrFail(spark, root8) == v8)
    assert(graft.operators.Pq.readIvfPqIndex(spark, v8).codes.count() == 20L)
  }

  test("knn_radius: perfect precision, candidate-cut recall, cosines exact, " +
      "deterministic") {
    import org.apache.spark.sql.functions.col
    val vectors = graft.sources.Tables.embeddings(spark, sfDir)
    val res = Similarity.knnIvfOn(vectors, cut = Radius(Similarity.RadiusTau)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // plain-Scala exact radius set (sequential-fold dot, the V.dot order)
    val e = vectors.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray.map(_.toDouble)).toMap
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    def nrm(a: Array[Double]) = math.sqrt(dot(a, a))
    val exact = (for {
      q <- 0L until Similarity.NQueries.toLong
      id <- e.keys if id != q
      c = dot(e(id), e(q)) / (nrm(e(id)) * nrm(e(q)))
      if c >= Similarity.RadiusTau
    } yield ((q, id), c)).toMap
    // PRECISION 1: every returned pair is a true radius member with
    // its exact cosine — the probe cut can only MISS, never invent
    res.foreach { case (q, id, c) =>
      assert(exact.get((q, id)).contains(c),
        s"($q,$id,$c) is not a true radius member") }
    assert(res.forall(_._3 >= Similarity.RadiusTau))
    // recall: the IVF cut loses only out-of-probe members (measured
    // 0.85 at sf0.01; the bar leaves margin for corpus regen)
    val recall = res.count(t => exact.contains((t._1, t._2))).toDouble / exact.size
    assert(recall >= 0.7, s"radius recall $recall below the probe-cut bar")
    val again = Similarity.knnIvfOn(vectors, cut = Radius(Similarity.RadiusTau)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(res.sorted.sameElements(again.sorted), "radius set must be deterministic")
  }

  test("knn_filtered: every neighbor shares the query's label, ranks " +
      "well-formed, recall tracks the widened probe, deterministic") {
    val vectors = graft.sources.Tables.embeddings(spark, sfDir)
    val res = Similarity.knnIvfOn(vectors, sameLabel = true).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3), r.getDouble(4)))
    val rows = vectors.collect()
      .map(r => r.getLong(0) -> (r.getSeq[Float](1).toArray.map(_.toDouble), r.getInt(2)))
      .toMap
    // label discipline: every neighbor matches its query's label
    res.foreach { case (q, id, lb, _, _) =>
      assert(lb == rows(q)._2 && lb == rows(id)._2,
        s"neighbor $id of query $q crossed the label filter") }
    // well-formed: contiguous ranks from 1, no self-matches, ≤ K rows
    res.groupBy(_._1).foreach { case (q, rs) =>
      assert(rs.map(_._4).sorted.sameElements(1 to rs.length))
      assert(rs.length <= Similarity.K)
      assert(rs.forall(_._2 != q))
    }
    // recall vs the exact same-label top-k (measured 0.82 at sf0.01
    // with the 2× probe width; 0.62 at the unfiltered default — the
    // widening is the point of FilteredNProbe)
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    def nrm(a: Array[Double]) = math.sqrt(dot(a, a))
    val exact = (0L until Similarity.NQueries.toLong).flatMap { q =>
      val (qe, ql) = rows(q)
      rows.toSeq.collect { case (id, (ee, lb)) if id != q && lb == ql =>
        (id, dot(ee, qe) / (nrm(ee) * nrm(qe))) }
        .sortBy { case (id, c) => (-c, id) }
        .take(Similarity.K).map { case (id, _) => (q, id) }
    }.toSet
    val recall = res.count(t => exact.contains((t._1, t._2))).toDouble / exact.size
    assert(recall >= 0.7, s"filtered recall $recall below the widened-probe bar")
    val again = Similarity.knnIvfOn(vectors, sameLabel = true).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3), r.getDouble(4)))
    assert(res.sortBy(t => (t._1, t._4)).sameElements(again.sortBy(t => (t._1, t._4))),
      "filtered top-k must be deterministic")
  }

  test("ivfpq restage: a full rewrite swaps the codes tree via tmp+rename — " +
      "no tmp residue, no stale cells from the previous index") {
    import graft.operators.Pq
    import org.apache.spark.sql.functions.col
    val vectors = graft.sources.Tables.embeddings(spark, sfDir)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq_restage").toString
    // day 0: index the FULL corpus (populates many cells)
    AnnIndex.write(Pq.buildIvfPq(vectors), dir)
    // day N: restage the same path from a small slice — its index
    // populates a strict subset of cells, so any stale directory from
    // day 0 would survive a dynamic-mode overwrite and rejoin reads
    val slice = vectors.filter(col("vec_id") < 40)
    AnnIndex.write(Pq.buildIvfPq(slice), dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/codes_tmp")),
      "a successful restage must not leave the tmp staging tree behind")
    val reloaded = Pq.readIvfPqIndex(spark, dir)
    assert(reloaded.codes.count() == slice.count(),
      "the restaged codes tree must hold exactly the new corpus")
    // every on-disk cell directory belongs to the NEW index
    val newCells = reloaded.codes.select(col("cell")).distinct()
      .collect().map(_.getLong(0)).toSet
    val cellDirs = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/codes"))
      .filter(_.isDirectory).map(_.getPath.getName)
      .filter(_.startsWith("cell="))
    assert(cellDirs.nonEmpty)
    cellDirs.foreach { d =>
      assert(newCells.contains(d.stripPrefix("cell=").toLong),
        s"stale cell directory $d survived the restage") }
    // and the restaged index answers exactly like its in-memory twin
    val qids = (0L until Similarity.NQueries.toLong)
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._3))
    assert(canon(Pq.queryIvfPq(reloaded, vectors, qids))
      .sameElements(canon(Pq.queryIvfPq(Pq.buildIvfPq(slice), vectors, qids))),
      "restaged index diverged from the in-memory build it staged")
  }

  test("ivfpq filtered tier: label rides the codes through stage/append/" +
      "delete; the filtered scan answers same-label top-k") {
    import graft.operators.Pq
    import org.apache.spark.sql.functions.col
    val vectors = graft.sources.Tables.embeddings(spark, sfDir)
    val qids = (0L until Similarity.NQueries.toLong)
    def canonF(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3), r.getDouble(4)))
      .sortBy(t => (t._1, t._4))
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq_filt").toString
    AnnIndex.write(Pq.buildIvfPq(vectors, metaCols = Seq("label")), dir)
    val staged = Pq.readIvfPqIndex(spark, dir)
    assert(staged.codes.columns.contains("label"),
      "the staged codes must carry the riding metadata column")
    val served = canonF(Pq.queryIvfPqIndex(staged, vectors, qids, sameLabel = true))
    // staged round-trip == in-memory build: the codes parquet
    // round-trips longs + ints exactly
    assert(served.sameElements(canonF(Pq.queryIvfPqIndex(
      Pq.buildIvfPq(vectors, metaCols = Seq("label")), vectors, qids, sameLabel = true))),
      "staged filtered serving diverged from the in-memory build")
    // every neighbor shares its query's label; ranks are 1..K dense
    val qLab = vectors.filter(col("vec_id") < Similarity.NQueries)
      .select(col("vec_id"), col("label")).collect()
      .map(r => (r.getLong(0), r.getInt(1))).toMap
    served.groupBy(_._1).foreach { case (q, rs) =>
      assert(rs.forall(_._3 == qLab(q)), s"query $q got a cross-label neighbor")
      assert(rs.map(_._4).sorted.sameElements(1 to rs.length))
    }
    // an UNFILTERED query of the same meta-carrying index is
    // unaffected by the riding column (projection drops it)
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._3))
    assert(canon(Pq.queryIvfPq(staged, vectors, qids))
      .sameElements(canon(Pq.queryIvfPq(Pq.buildIvfPq(vectors), vectors, qids))),
      "metadata riding the codes changed the unfiltered answers")
    // append: the batch's labels ride automatically (the set derives
    // from the index schema) — append(build(base)) == build(all,
    // trainOn = base) on the FILTERED query path too
    val cut = vectors.agg(org.apache.spark.sql.functions.max("vec_id"))
      .collect()(0).getLong(0) / 2
    val base = vectors.filter(col("vec_id") <= cut)
    val rest = vectors.filter(col("vec_id") > cut)
    val root2 = java.nio.file.Files.createTempDirectory("graft_ivfpq_filt_app").toString
    Pq.stageIvfPqIndexVersion(Pq.buildIvfPq(base, metaCols = Seq("label")), root2)
    def live2 = graft.operators.IndexManifest.currentOrFail(spark, root2)
    assert(Pq.appendIvfPqIndexAtomic(spark, root2, rest) == rest.count())
    assert(canonF(Pq.queryIvfPqIndex(Pq.readIvfPqIndex(spark, live2), vectors, qids,
      sameLabel = true))
      .sameElements(canonF(Pq.queryIvfPqIndex(
        Pq.buildIvfPq(vectors, trainOn = base, metaCols = Seq("label")),
        vectors, qids, sameLabel = true))),
      "append lost or diverged the riding metadata")
    // a batch MISSING the index's metadata columns fails loudly
    val bare = rest.select(col("vec_id"), col("embedding"))
    val e = intercept[IllegalArgumentException] {
      Pq.appendIvfPqIndexAtomic(spark, root2, bare)
    }
    assert(e.getMessage.contains("metadata columns"), e.getMessage)
    // erasure: the survivor rewrite carries the metadata column
    val erase = (cut - 5) to cut
    assert(Pq.deleteFromIvfPqIndexAtomic(spark, root2, erase) > 0L)
    val afterDelete = Pq.readIvfPqIndex(spark, live2)
    assert(afterDelete.codes.columns.contains("label"),
      "delete's survivor rewrite stripped the metadata column")
    val post = canonF(Pq.queryIvfPqIndex(afterDelete, vectors, qids, sameLabel = true))
    assert(post.forall(t => !erase.contains(t._2)),
      "an erased id survived in the filtered answers")
  }

  test("ivfpq radius off the staged compressed index: exact-verified, " +
      "deterministic, staged == in-memory, subset of the true radius set") {
    import graft.operators.Pq
    import org.apache.spark.sql.functions.col
    val vectors = graft.sources.Tables.embeddings(spark, sfDir)
    val qids = 0L until Similarity.NQueries.toLong
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq_rad").toString
    AnnIndex.write(Pq.buildIvfPq(vectors), dir)
    val staged = Pq.readIvfPqIndex(spark, dir)
    val res = canon(Pq.queryIvfPqIndex(staged, vectors, qids, cut = Radius(Similarity.RadiusTau)))
    val tau = Similarity.RadiusTau
    // precision 1.0 by construction: every emitted cosine clears τ on
    // the TRUE vectors (the exact verify), never the ADC approximation
    assert(res.nonEmpty)
    assert(res.forall(_._3 >= tau))
    assert(res.forall(t => t._1 != t._2), "self-pair leaked")
    // emitted pairs are a subset of the exact radius set
    val exact = Similarity.knnBruteforceOn(vectors, k = Int.MaxValue)
      .filter(col("cosine") >= tau).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = res.map(t => (t._1, t._2)).toSet
    assert(got.subsetOf(exact), "a sub-τ pair leaked through the exact verify")
    // recall is bounded by the probe cut AND the ADC error (coarser
    // than SQ8's per-dimension grid) — assert the useful floor
    assert(got.size.toDouble >= 0.5 * exact.size,
      s"ivfpq-radius recall ${got.size.toDouble / exact.size} below 0.5")
    // staged round-trip == in-memory build, and bit-deterministic
    assert(canon(Pq.queryIvfPqIndex(Pq.buildIvfPq(vectors), vectors, qids,
      Radius(Similarity.RadiusTau)))
      .sameElements(res), "staged radius serving diverged from in-memory")
    assert(canon(Pq.queryIvfPqIndex(staged, vectors, qids, cut = Radius(Similarity.RadiusTau)))
      .sameElements(res), "radius answers must be bit-deterministic")
  }

  test("auto-nprobe: picks the smallest swept width meeting the target, " +
      "answers knnIvf at that width; unreachable target serves the widest") {
    val vectors = graft.sources.Tables.embeddings(spark, sfDir)
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._3))
    val curve = Similarity.knnRecallReportOn(vectors).collect()
      .map(r => (r.getInt(0), r.getDouble(3))).sortBy(_._1)
    val target = 0.9
    val expected = curve.find(_._2 >= target).map(_._1)
      .getOrElse(curve.last._1)
    val (np, answers) = Similarity.knnIvfAutoOn(vectors, target)
    assert(np == expected, s"picked $np, curve says $expected")
    assert(canon(answers).sameElements(
      canon(Similarity.knnIvfOn(vectors, nprobe = np))),
      "auto answers must equal knnIvfOn at the chosen width")
    // recall at the chosen width really meets the target
    assert(curve.toMap.apply(np) >= target)
    // unreachable target: serve the widest swept width, tell the caller
    val (npMax, _) = Similarity.knnIvfAutoOn(vectors, targetRecall = 1.01)
    assert(npMax == curve.last._1)
  }

  test("index stats + rebalance: the skew report reads the staged " +
      "postings; a rebalanced index answers like a fresh build") {
    import org.apache.spark.sql.functions.col
    val vectors = graft.sources.Tables.embeddings(spark, sfDir)
    val cut = vectors.agg(org.apache.spark.sql.functions.max("vec_id"))
      .collect()(0).getLong(0) / 2
    val base = vectors.filter(col("vec_id") <= cut)
    val rest = vectors.filter(col("vec_id") > cut)
    import graft.operators.IndexManifest
    val root = java.nio.file.Files.createTempDirectory("graft_ivf_stats").toString
    AnnIndex.stage(Similarity.buildIvf(base), root)
    AnnIndex.append(spark, root, AnnIndex.FloatIvf, rest)
    val stats = AnnIndex.stats(spark,
      IndexManifest.currentOrFail(spark, root), AnnIndex.FloatIvf, appendedFrom = cut + 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))
    // totals reconcile with the corpus; fractions and skew well-formed
    assert(stats.map(_._2).sum == vectors.count())
    assert(stats.map(_._3).sum == rest.count())
    stats.foreach { case (_, n, nApp, frac, skew) =>
      assert(nApp <= n && frac >= 0.0 && frac <= 1.0 && skew > 0.0)
      assert(math.abs(frac - nApp.toDouble / n) == 0.0)
    }
    // the skew factors average ~1 weighted by n: sum(n·skew)/total = C·Σn²/total²
    val c = IndexManifest.readFrame(spark,
      IndexManifest.currentOrFail(spark, root), "centroids").count()
    val total = stats.map(_._2).sum
    stats.foreach { case (_, n, _, _, skew) =>
      assert(math.abs(skew - n.toDouble * c / total) < 1e-12) }
    // rebalance: retrain as a new version — answers equal a FRESH build
    // over the same vectors (toDouble is the identity on the widened
    // payload)
    val dir = AnnIndex.retrain(spark, root, AnnIndex.FloatIvf)((v, _) => Similarity.buildIvf(v))
    val freshDir = java.nio.file.Files.createTempDirectory("graft_ivf_fresh").toString
    AnnIndex.write(Similarity.buildIvf(vectors), freshDir)
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._3))
    assert(canon(Similarity.queryIvfIndex(spark, dir))
      .sameElements(canon(Similarity.queryIvfIndex(spark, freshDir))),
      "a rebalanced index must answer exactly like a fresh rebuild")
    // post-rebalance the appended fraction is gone from the skew story:
    // stats still reconcile (the report is watermark-relative, so the
    // same watermark still counts the day-1 half as appended)
    val post = AnnIndex.stats(spark, dir, AnnIndex.FloatIvf, appendedFrom = cut + 1)
      .collect()
    assert(post.map(_.getLong(1)).sum == vectors.count())
    // all three query types keep serving off the rebalanced artifact
    assert(Similarity.queryIvfIndex(spark, dir, cut = Radius(Similarity.RadiusTau)).count() ==
      Similarity.knnIvfOn(vectors, cut = Radius(Similarity.RadiusTau)).count())
    assert(Similarity.queryIvfIndex(spark, dir, sameLabel = true).count() ==
      Similarity.knnIvfOn(vectors, sameLabel = true).count())
  }

  test("index manifest: restage is atomic — readers see wholly old or " +
      "wholly new; a failed publish leaves the old version serving") {
    import graft.operators.IndexManifest
    import org.apache.spark.sql.functions.col
    val vectors = graft.sources.Tables.embeddings(spark, sfDir)
    val root = java.nio.file.Files.createTempDirectory("graft_manifest").toString
    assert(IndexManifest.current(spark, root).isEmpty)
    intercept[IllegalStateException] { IndexManifest.currentOrFail(spark, root) }
    // v1: the full float index via the manifest
    val v1 = IndexManifest.publish(spark, root)(
      dir => AnnIndex.write(Similarity.buildIvf(vectors), dir))
    assert(IndexManifest.current(spark, root).contains(v1))
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._3))
    val v1Answers = canon(Similarity.queryIvfIndex(spark, v1))
    assert(v1Answers.sameElements(canon(Similarity.knnIvfOn(vectors))))
    // a reader that resolved BEFORE a restage keeps serving the old
    // version unchanged: v2 is a different corpus, v1 is immutable
    val slice = vectors.filter(col("vec_id") < 200)
    val v2 = IndexManifest.publish(spark, root)(
      dir => AnnIndex.write(Similarity.buildIvf(slice), dir))
    assert(v2 != v1)
    assert(IndexManifest.current(spark, root).contains(v2))
    assert(canon(Similarity.queryIvfIndex(spark, v1)).sameElements(v1Answers),
      "a published version must be immutable under restage")
    assert(canon(Similarity.queryIvfIndex(spark, v2))
      .sameElements(canon(Similarity.knnIvfOn(slice))),
      "post-flip readers must see the wholly-new version")
    // crash mid-restage: the writer dies after a partial write —
    // the pointer still names v2, which keeps serving
    intercept[RuntimeException] {
      IndexManifest.publish(spark, root) { dir =>
        AnnIndex.write(Similarity.buildIvf(vectors), dir)
        throw new RuntimeException("simulated crash before commit")
      }
    }
    assert(IndexManifest.current(spark, root).contains(v2),
      "a failed publish must leave the pointer on the old version")
    assert(canon(Similarity.queryIvfIndex(spark,
      IndexManifest.currentOrFail(spark, root)))
      .sameElements(canon(Similarity.knnIvfOn(slice))))
    // the orphaned claim BLOCKS the version chain loudly (r18 verdict
    // item 3: a version id is never reused while its claim stands —
    // the multi-writer serialization rule); releasing it resumes the
    // lifecycle, and vacuum retires everything once-live below live
    intercept[IndexManifest.ConcurrentPublishException] {
      IndexManifest.publish(spark, root)(_ =>
        fail("a blocked chain must throw before materializing"))
    }
    assert(IndexManifest.releaseStaleClaims(spark, root).nonEmpty)
    val v3 = IndexManifest.publish(spark, root)(
      dir => AnnIndex.write(Similarity.buildIvf(vectors), dir))
    assert(IndexManifest.current(spark, root).contains(v3))
    // keep=1 explicitly: this lifecycle has no overlapping reader and
    // the assertion below wants FULL retirement (default is the
    // reader-safe keep=2, r19 verdict item 8)
    val gone = IndexManifest.vacuum(spark, root, keep = 1)
    assert(gone.nonEmpty, "vacuum should retire the superseded versions")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(v1)))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(v2)))
    assert(canon(Similarity.queryIvfIndex(spark, v3)).sameElements(v1Answers),
      "the live version must survive vacuum")
    // PQ tier through the same manifest: the multi-frame index the
    // two-commit residual was about
    val pqRoot = java.nio.file.Files.createTempDirectory("graft_manifest_pq").toString
    import graft.operators.Pq
    val pv1 = IndexManifest.publish(spark, pqRoot)(
      dir => AnnIndex.write(Pq.buildIvfPq(vectors), dir))
    val qids = (0L until Similarity.NQueries.toLong)
    assert(canon(Pq.queryIvfPq(Pq.readIvfPqIndex(spark,
      IndexManifest.currentOrFail(spark, pqRoot)), vectors, qids))
      .sameElements(canon(Pq.knnIvfPq(spark, sfDir))),
      s"manifest-served PQ index diverged from the one-shot key ($pv1)")
  }
}
