package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{AnnIndex, IndexManifest, Opq, Pq, Quantize, Similarity}

/** The atomic index lifecycle (r17 verdict item 1): append and erase
  * land as manifest-published versions — untouched cells inherited by
  * reference + touched-cell rewrite + one pointer flip — so a
  * concurrent reader sees wholly-old or wholly-new, a crash mid-op
  * leaves the old version serving, and superseded versions retire
  * behind keep-N. Every tier's delta must leave exactly the rows a
  * manifest-free reference computes: the batch freshly assigned (or
  * encoded) against the staged artifacts for an append, the pre-op
  * live rows minus the erased ids for an erasure.
  *
  * r18 verdict item 3 adds the multi-writer discipline: concurrent
  * publishers serialize on a create-exclusive version claim — both
  * deltas land (the loser retries against the winner's version) or
  * the loser fails loudly; rows are never silently dropped. The
  * pointer-history vacuum (r18 advice) retires only once-live
  * versions, so a crash-orphaned partial can never displace a
  * readable version from the keep window.
  *
  * Fixture sharing (r18 verdict item 8): the float tier stages ONE
  * versioned root, evolved across the cases in suite order (append →
  * erase → crash/recovery) instead of a fresh staging per case — the
  * QuantizeSpec staging pattern. The file-reference layout's own
  * properties (pure-manifest deltas, store reclamation, plain
  * versions from older releases) are [[ManifestRefsSpec]]'s. */
class ManifestAtomicSpec extends SparkSpecBase {

  private def vectors = graft.sources.Tables.embeddings(spark, sfDir)

  private def canon(df: DataFrame) = df.collect()
    .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
    .sortBy(t => (t._1, t._3))

  private def tmp(prefix: String) =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def versionDirs(root: String): Seq[String] = {
    val d = new java.io.File(root)
    d.listFiles().toSeq.filter(f => f.isDirectory && f.getName.startsWith("v="))
      .map(_.getName).sorted
  }

  /** A version's files of one frame: version-relative path -> the
    * physical file it resolves to. */
  private def files(version: String, frame: String): Map[String, String] =
    IndexManifest.effectiveFiles(spark, version)
      .filter(_._1.startsWith(frame + "/")).toMap

  // ---- shared float-tier lifecycle fixtures (staged once) ----
  private lazy val cut =
    vectors.agg(max(col("vec_id"))).collect()(0).getLong(0) / 2
  private lazy val base = vectors.filter(col("vec_id") <= cut)
  private lazy val rest = vectors.filter(col("vec_id") > cut)
  private lazy val rootDir = tmp("graft_atomic_root")
  private lazy val v1 = AnnIndex.stage(Similarity.buildIvf(base), rootDir)

  test("float tier: atomic append equals the in-place append; old version " +
      "immutable; untouched cells hardlink, not copy") {
    val v1Answers = canon(Similarity.queryIvfIndex(spark, v1))
    val v1Rows = IndexRefs.postingRows(spark, v1)
    val n = AnnIndex.append(spark, rootDir, AnnIndex.FloatIvf, rest)
    assert(n == rest.count())
    val v2 = IndexManifest.currentOrFail(spark, rootDir)
    assert(v2 != v1)
    // reference: v1's postings plus the batch freshly assigned against
    // v1's centroids, computed without the delta path
    assert(IndexRefs.partOf(spark, v2, "postings") ==
      IndexRefs.partOf(spark, v1, "postings") ++ IndexRefs.freshCells(spark, v1, rest),
      "atomic append must equal a fresh assignment against the staged centroids")
    assert(v1Rows.subsetOf(IndexRefs.postingRows(spark, v2)),
      "every pre-append posting row must ride into the new version unchanged")
    // a reader that resolved v1 before the append still serves the
    // day-0 index unchanged — that is what "atomic for readers" means
    assert(canon(Similarity.queryIvfIndex(spark, v1)).sameElements(v1Answers),
      "the superseded version must be immutable under an atomic append")
    // O(touched) proof: the centroids artifact (untouched by an
    // append) is inherited by REFERENCE — v2 resolves v1's very file,
    // zero bytes copied
    assert(files(v2, "centroids") == files(v1, "centroids"),
      "untouched artifacts must be inherited, not copied")
    // the batch's cells were REWRITTEN (old ∪ new): v2 resolves a
    // touched cell to fresh files, none of them v1's
    val batchCells = IndexManifest.readFrame(spark, v2, "postings")
      .filter(col("vec_id") > cut)
      .select(col("cell").cast("long")).distinct().collect().map(_.getLong(0))
    assert(batchCells.nonEmpty)
    val cellPrefix = s"postings/cell=${batchCells.min}/"
    val v1Cell = files(v1, "postings").filter(_._1.startsWith(cellPrefix)).values.toSet
    val v2Cell = files(v2, "postings").filter(_._1.startsWith(cellPrefix)).values.toSet
    assert(v2Cell.nonEmpty && v2Cell.intersect(v1Cell).isEmpty,
      "a touched cell must be rewritten, not inherited")
  }

  test("two interleaved atomic appenders serialize on the version claim: " +
      "both deltas land in the final chain — never silent row loss") {
    val root = tmp("graft_atomic_conc")
    AnnIndex.stage(Similarity.buildIvf(base), root)
    val restA = rest.filter(pmod(col("vec_id"), lit(2L)) === 0L)
    val restB = rest.filter(pmod(col("vec_id"), lit(2L)) === 1L)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    def submit(f: => Long) = pool.submit(
      new java.util.concurrent.Callable[Long] { def call(): Long = f })
    // keep=3: each writer's vacuum must not retire the version the
    // other writer may still be staging its encode against (the
    // documented rule: keep ≥ concurrent writers + 1)
    val fa = submit(AnnIndex.append(spark, root, AnnIndex.FloatIvf, restA, keep = 3))
    val fb = submit(AnnIndex.append(spark, root, AnnIndex.FloatIvf, restB, keep = 3))
    val (na, nb) =
      try (fa.get(), fb.get()) finally pool.shutdown()
    assert(na == restA.count() && nb == restB.count())
    val live = IndexManifest.currentOrFail(spark, root)
    assert(live.endsWith("v=3"),
      s"two appends must CHAIN to v=3 (claims serialized), got $live")
    // the final version holds base ∪ restA ∪ restB exactly: the loser
    // remerged against the winner's version, dropping nothing
    val ids = IndexManifest.readFrame(spark, live, "postings")
      .select("vec_id").collect().map(_.getLong(0)).sorted
    val want = vectors.select("vec_id").collect().map(_.getLong(0)).sorted
    assert(ids.sameElements(want),
      "both writers' deltas must be visible in the final version")
  }

  test("float tier: atomic erase equals the in-place erase; crash mid-op " +
      "leaves the old version serving AND blocks the chain loudly until " +
      "releaseStaleClaims; vacuum then retires the rest") {
    val erased = Similarity.DeleteLo to Similarity.DeleteHi
    // continue the shared fixture: it now holds base ∪ rest. Reference:
    // the pre-erase live rows minus the erased ids
    val preRows = IndexRefs.postingRows(spark,
      IndexManifest.currentOrFail(spark, rootDir))
    val want = preRows.filterNot(r => erased.contains(r._1))
    val n = AnnIndex.erase(spark, rootDir, AnnIndex.FloatIvf, erased, keep = 3)
    assert(n == (preRows.size - want.size).toLong,
      s"atomic erase removed $n rows, the reference ${preRows.size - want.size}")
    val v3 = IndexManifest.currentOrFail(spark, rootDir)
    assert(v3.endsWith("v=3"))
    assert(IndexRefs.postingRows(spark, v3) == want,
      "atomic erase must leave exactly the pre-erase rows minus the erased ids")
    val expect = canon(Similarity.queryIvfIndex(spark, v3))
    // every erased id survives in the (immutable) pre-erase version v2
    assert(IndexManifest.readFrame(spark, s"$rootDir/v=2", "postings")
      .filter(col("vec_id").between(Similarity.DeleteLo, Similarity.DeleteHi))
      .count() == n)
    // crash INSIDE a delta publish — after the claim + partial write,
    // before the flip: the pointer must still name v3, which keeps
    // serving, and the claim orphan must BLOCK later publishes loudly
    // (the multi-writer chain: a version id is never reused while its
    // claim stands, so rows can never land in a shadowed version)
    val preCrash = versionDirs(rootDir)
    intercept[RuntimeException] {
      IndexManifest.publishFrom(spark, rootDir) { (live, next) =>
        // partial materialization, then death before the pointer flip
        IndexManifest.readFrame(spark, live, "centroids")
          .write.parquet(s"$next/centroids")
        throw new RuntimeException("simulated crash before the flip")
      }
    }
    assert(IndexManifest.currentOrFail(spark, rootDir) == v3,
      "a crashed delta publish must leave the pointer on the old version")
    assert(canon(Similarity.queryIvfIndex(spark,
      IndexManifest.currentOrFail(spark, rootDir))).sameElements(expect))
    assert(versionDirs(rootDir).size == preCrash.size + 1,
      "the orphaned claim is on disk, not a serving path")
    intercept[IndexManifest.ConcurrentPublishException] {
      IndexManifest.publish(spark, rootDir)(_ =>
        fail("a blocked chain must throw BEFORE materializing anything"))
    }
    // recovery: release the stale claim (documented operator/restart
    // action — no publisher is alive here), then the lifecycle resumes
    val released = IndexManifest.releaseStaleClaims(spark, rootDir)
    assert(released.map(_.split('/').last) == Seq("v=4"),
      s"releaseStaleClaims must remove exactly the crashed claim, got $released")
    // keep-N retirement: below the live version only ONCE-LIVE
    // versions exist here; keep=1 retires the superseded delta v2
    // outright, while the full publish v1 stays — the live version
    // still resolves its untouched files (the centroids) there
    val gone = IndexManifest.vacuum(spark, rootDir, keep = 1)
    assert(gone.map(_.split('/').last).filter(_.startsWith("v=")) == Seq("v=2"),
      s"vacuum(keep=1) should retire the superseded v2, got $gone")
    assert(versionDirs(rootDir) == Seq("v=1", "v=3"))
    assert(canon(Similarity.queryIvfIndex(spark, v3)).sameElements(expect),
      "the live version must survive vacuum")
    // the chain continues where it was blocked: the released id is
    // reclaimed by the next publish
    val survivorId = IndexManifest.readFrame(spark, v3, "postings")
      .agg(min("vec_id")).collect()(0).getLong(0)
    val n2 = AnnIndex.erase(spark, rootDir, AnnIndex.FloatIvf,
      Seq(survivorId), keep = 1)
    assert(n2 == 1L)
    assert(IndexManifest.currentOrFail(spark, rootDir).endsWith("v=4"))
    assert(versionDirs(rootDir) == Seq("v=1", "v=4"))
  }

  test("vacuum counts only once-live versions: a crashed first publish's " +
      "never-referenced orphan is deleted outright, not retained in the " +
      "keep window in place of a readable version") {
    val root = tmp("graft_atomic_orphan")
    intercept[RuntimeException] {
      IndexManifest.publish(spark, root) { dir =>
        base.limit(10).write.parquet(s"$dir/centroids")
        throw new RuntimeException("simulated crash during the first publish")
      }
    }
    assert(IndexManifest.current(spark, root).isEmpty)
    assert(versionDirs(root) == Seq("v=1")) // a partial nothing references
    // the retried first publish claims PAST the orphan
    val v2 = AnnIndex.stage(Similarity.buildIvf(base), root)
    assert(v2.endsWith("v=2"))
    // keep=2 must NOT count the unreadable never-live v1 as the one
    // retained below-live version (the r18-advice failure: doing so
    // evicted the genuinely superseded readable version instead)
    val gone = IndexManifest.vacuum(spark, root, keep = 2)
    assert(gone.map(_.split('/').last) == Seq("v=1"),
      s"the never-live orphan must be vacuumed outright, got $gone")
    // whereas a once-live version IS retained under the same policy
    AnnIndex.append(spark, root, AnnIndex.FloatIvf, rest, keep = 2)
    assert(versionDirs(root) == Seq("v=2", "v=3"))
    assert(IndexManifest.currentOrFail(spark, root).endsWith("v=3"))
  }

  test("retention: the default keep=2 bounds the version chain through " +
      "append/erase/rebalance lifecycles") {
    val root = tmp("graft_atomic_keep_root")
    AnnIndex.stage(Similarity.buildIvf(base), root)
    AnnIndex.append(spark, root, AnnIndex.FloatIvf, rest) // v2, retires nothing
    assert(versionDirs(root) == Seq("v=1", "v=2"))
    // v3 drops v1 from the keep window, but v1 is the full publish the
    // live chain still reads its untouched files from: it stays
    AnnIndex.erase(spark, root, AnnIndex.FloatIvf, Seq(5L))
    assert(versionDirs(root) == Seq("v=1", "v=2", "v=3"))
    // the rebalance is a full publish: the delta v2 retires; v1 stays
    // while the retained v3 still references it
    val v4 = AnnIndex.retrain(spark, root, AnnIndex.FloatIvf)((v, _) => Similarity.buildIvf(v))
    assert(versionDirs(root) == Seq("v=1", "v=3", "v=4"))
    assert(IndexManifest.currentOrFail(spark, root) == v4)
    // a rebalanced versioned index answers exactly like a fresh build
    // over the surviving corpus (the in-place rebalance equation)
    val fresh = tmp("graft_atomic_keep_fresh")
    AnnIndex.write(Similarity.buildIvf(vectors.filter(col("vec_id") =!= 5L)), fresh)
    assert(canon(Similarity.queryIvfIndex(spark, v4))
      .sameElements(canon(Similarity.queryIvfIndex(spark, fresh))))
    // once v3 leaves the window nothing references v1 and the chain
    // collapses to the live full publish
    IndexManifest.vacuum(spark, root, keep = 1)
    assert(versionDirs(root) == Seq("v=4"))
  }

  test("PQ tier: atomic append and erase answer bit-identically to the " +
      "in-place forms") {
    val qids = 0L until Similarity.NQueries.toLong
    def live(root: String) =
      Pq.readIvfPqIndex(spark, IndexManifest.currentOrFail(spark, root))
    // append — reference: the in-memory append against the staged v1
    val root = tmp("graft_atomic_pq_root")
    val v1 = Pq.stageIvfPqIndexVersion(Pq.buildIvfPq(base), root)
    val appended = canon(Pq.queryIvfPq(
      Pq.appendToIvfPq(Pq.readIvfPqIndex(spark, v1), rest), vectors, qids))
    Pq.appendIvfPqIndexAtomic(spark, root, rest)
    assert(canon(Pq.queryIvfPq(live(root), vectors, qids)).sameElements(appended))
    // erase on top of the appended index — reference: the pre-erase
    // live codes minus the erased ids
    val erased = Pq.DeleteLo to Pq.DeleteHi
    val pre = live(root)
    val nPre = pre.codes.filter(col("vec_id").isInCollection(erased)).count()
    val erasedAnswers = canon(Pq.queryIvfPq(
      pre.copy(codes = pre.codes.filter(!col("vec_id").isInCollection(erased))),
      vectors, qids))
    val nAtomic = Pq.deleteFromIvfPqIndexAtomic(spark, root, erased)
    assert(nAtomic == nPre)
    assert(canon(Pq.queryIvfPq(live(root), vectors, qids)).sameElements(erasedAnswers))
  }

  test("compressed-tier health loop: per-tier stats off the codes trees " +
      "equal each other (shared coarse quantizer) and sum consistently; " +
      "versioned PQ retrain answers bit-identically to a fresh rebuild") {
    def statsCanon(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        java.lang.Double.doubleToLongBits(r.getDouble(3)),
        java.lang.Double.doubleToLongBits(r.getDouble(4))))
      .sortBy(_._1)
    // PQ on the manifest lifecycle: stats read the LIVE version's tree
    val pqRoot = tmp("graft_health_pq_root")
    Pq.stageIvfPqIndexVersion(Pq.buildIvfPq(base), pqRoot)
    Pq.appendIvfPqIndexAtomic(spark, pqRoot, rest)
    val pqStats = statsCanon(AnnIndex.stats(spark,
      IndexManifest.currentOrFail(spark, pqRoot), AnnIndex.IvfPq, appendedFrom = cut + 1))
    // internal consistency: Σn = corpus, Σn_appended = appended batch
    assert(pqStats.map(_._2).sum == vectors.count())
    assert(pqStats.map(_._3).sum == rest.count())
    // OPQ and IVF-SQ8 report the SAME rows: all three compressed tiers
    // assign against the identical deterministic coarse quantizer, so
    // one health report (and one driver oracle) covers them all
    val opqRoot = tmp("graft_health_opq")
    AnnIndex.stage(Opq.buildIvfOpq(base), opqRoot)
    AnnIndex.append(spark, opqRoot, AnnIndex.IvfOpq, rest)
    assert(statsCanon(AnnIndex.stats(spark,
        IndexManifest.currentOrFail(spark, opqRoot), AnnIndex.IvfOpq, cut + 1))
      .sameElements(pqStats),
      "OPQ stats must equal the PQ tier's (shared coarse assignment)")
    val sq8Root = tmp("graft_health_ivfsq8")
    AnnIndex.stage(Quantize.buildIvfSq8(base), sq8Root)
    AnnIndex.append(spark, sq8Root, AnnIndex.IvfSq8, rest)
    assert(statsCanon(AnnIndex.stats(spark,
        IndexManifest.currentOrFail(spark, sq8Root), AnnIndex.IvfSq8, cut + 1))
      .sameElements(pqStats),
      "IVF-SQ8 stats must equal the PQ tier's (shared coarse assignment)")
    // the retrain the stats gate: versioned rebalance over the declared
    // float corpus == a fresh buildIvfPq over it, bit for bit
    val qids = 0L until Similarity.NQueries.toLong
    // a build of another tier is refused before any version is claimed
    val liveBefore = IndexManifest.currentOrFail(spark, pqRoot)
    val wrongTier = intercept[IllegalArgumentException] {
      AnnIndex.retrain(spark, pqRoot, AnnIndex.IvfPq, vectors)(
        (v, m) => Quantize.buildSq8(v, metaCols = m))
    }
    assert(wrongTier.getMessage.contains("Sq8"), wrongTier.getMessage)
    assert(IndexManifest.currentOrFail(spark, pqRoot) == liveBefore)
    assert(versionDirs(pqRoot) == Seq("v=1", "v=2"),
      "a refused retrain must not claim a version")
    val published = AnnIndex.retrain(spark, pqRoot, AnnIndex.IvfPq, vectors)(
      (v, m) => Pq.buildIvfPq(v, metaCols = m))
    assert(published.endsWith("v=3"))
    // keep=2 retains the appended v2, which still reads v1's files
    assert(versionDirs(pqRoot) == Seq("v=1", "v=2", "v=3"),
      "retrain publishes a version and retires behind keep")
    assert(canon(Pq.queryIvfPq(Pq.readIvfPqIndex(spark, published), vectors, qids))
      .sameElements(canon(Pq.queryIvfPq(Pq.buildIvfPq(vectors), vectors, qids))),
      "post-retrain answers must equal a fresh rebuild bit-for-bit")
    // and the retrained index's stats read flat: no appended rows
    // above the new watermark, skew re-balanced by fresh Lloyd
    val after = AnnIndex.stats(spark, published, AnnIndex.IvfPq,
      appendedFrom = vectors.count() + 1)
    assert(after.collect().forall(_.getLong(2) == 0L))
  }

  test("SQ8 flat tier (grp buckets) and OPQ rotated tier: atomic forms " +
      "equal the in-place forms") {
    val qids = 0L until Similarity.NQueries.toLong
    val erased = Pq.DeleteLo to Pq.DeleteHi
    // SQ8: the erasure bucket tree (grp=vec_id mod N) through the
    // same generic delta publisher. Reference: every vector encoded
    // against the staged base grid, minus the erased ids
    val sq8Root = tmp("graft_atomic_sq8_root")
    val sq8V1 = AnnIndex.stage(Quantize.buildSq8(base), sq8Root)
    val sq8Want = Quantize.quantizeCodesAgainst(vectors,
        IndexManifest.readFrame(spark, sq8V1, "ranges")).collect()
      .map(r => (r.getLong(0), r.getSeq[Int](1).toList))
      .filterNot(t => erased.contains(t._1)).toSet
    assert(AnnIndex.append(spark, sq8Root, AnnIndex.Sq8, rest) == rest.count())
    AnnIndex.erase(spark, sq8Root, AnnIndex.Sq8, erased)
    val sq8Live = IndexManifest.currentOrFail(spark, sq8Root)
    assert(IndexManifest.readFrame(spark, sq8Live, "codes").collect()
      .map(r => (r.getLong(0), r.getSeq[Int](1).toList)).toSet == sq8Want)
    assert(Quantize.querySq8Index(spark, sq8Live, vectors, qids).collect()
      .forall(r => !erased.contains(r.getLong(1))))
    // OPQ: append must rotate through the STAGED basis — the seam a
    // wrong-space pairing would corrupt. Reference: the batch encoded
    // in memory against v1's artifacts, minus the erased ids
    val opqRoot = tmp("graft_atomic_opq_root")
    val opqV1 = AnnIndex.stage(Opq.buildIvfOpq(base), opqRoot)
    val staged = Opq.IvfOpqIndex(AnnIndex.read(spark, opqV1, AnnIndex.IvfOpq))
    val grown = staged.pq.codes.unionByName(
      Pq.encodeAgainst(staged.pq, rest, staged.basis))
    val opqWant = canon(Opq.queryIvfOpq(staged.copy(pq = staged.pq.copy(
      codes = grown.filter(!col("vec_id").isInCollection(erased)))), vectors, qids))
    AnnIndex.append(spark, opqRoot, AnnIndex.IvfOpq, rest)
    AnnIndex.erase(spark, opqRoot, AnnIndex.IvfOpq, erased)
    assert(canon(Opq.queryIvfOpq(Opq.IvfOpqIndex(AnnIndex.read(spark,
        IndexManifest.currentOrFail(spark, opqRoot), AnnIndex.IvfOpq)), vectors, qids))
      .sameElements(opqWant))
  }

  test("every tier's append guards fail before any claim: a batch missing " +
      "the riding label or one dimension too wide leaves the live version " +
      "and the version chain untouched") {
    def causes(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(e => Option(e.getMessage).getOrElse("")).toSeq
    val d = vectors.select(size(col("embedding"))).head().getInt(0)
    val bare = rest.select(col("vec_id"), col("embedding"))
    val wide = rest.withColumn("embedding",
      concat(col("embedding"), array(lit(0f))))
    // the float tier rides every non-key column, so its label rides too
    val built: Seq[(AnnIndex.Tier, AnnIndex.Frames)] = Seq(
      AnnIndex.FloatIvf -> Similarity.buildIvf(base),
      AnnIndex.IvfPq -> Pq.buildIvfPq(base, metaCols = Seq("label")),
      AnnIndex.IvfOpq -> Opq.buildIvfOpq(base, metaCols = Seq("label")),
      AnnIndex.Sq8 -> Quantize.buildSq8(base, metaCols = Seq("label")),
      AnnIndex.IvfSq8 -> Quantize.buildIvfSq8(base, metaCols = Seq("label")))
    built.foreach { case (tier, ix) =>
      val root = tmp(s"graft_atomic_guard_$tier")
      val live = AnnIndex.stage(ix, root)
      Seq(
        ("no label", bare, (m: String) => m.contains("metadata columns")),
        ("too wide", wide, (m: String) =>
          m.contains(s"staged index has $d dims") || m.contains("beyond the trained grid"))
      ).foreach { case (what, batch, diagnosed) =>
        val e = intercept[Throwable] { AnnIndex.append(spark, root, tier, batch) }
        assert(causes(e).exists(diagnosed),
          s"$tier $what: wanted a diagnosis, got: ${causes(e).mkString(" | ")}")
        assert(IndexManifest.current(spark, root).contains(live),
          s"$tier $what: a failed append moved the live version")
        assert(versionDirs(root) == Seq("v=1"),
          s"$tier $what: a failed append left a version claim behind")
      }
    }
  }

  test("an append against an empty centroids artifact fails with a " +
      "diagnosis on every centroid tier") {
    val ivfPq = Pq.buildIvfPq(base)
    Seq(
      AnnIndex.Index(AnnIndex.IvfPq, Seq(ivfPq.centroids.limit(0), ivfPq.codebooks),
        ivfPq.codes),
      AnnIndex.Index(AnnIndex.IvfSq8, Seq(ivfPq.centroids.limit(0),
        Quantize.buildSq8(base).artifacts.head), ivfPq.codes)
    ).foreach { ix =>
      val e = intercept[IllegalStateException](AnnIndex.encode(ix, rest))
      assert(e.getMessage.contains("centroids artifact is empty"),
        s"${ix.tier}: undiagnosed: ${e.getMessage}")
    }
  }

  test("staging is per call: two roots retrained and fed by ingest sinks " +
      "concurrently in one JVM each equal their serial run") {
    // two disjoint corpora, one per root, so a root built or fed from
    // the other root's staging is visible in its rows
    val halves = Seq(0L, 1L).map(p => vectors.filter(pmod(col("vec_id"), lit(2L)) === p))
    def both[A](f: Int => A): Seq[A] = {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      val gate = new java.util.concurrent.CyclicBarrier(2)
      try Seq(0, 1).map(i => pool.submit(new java.util.concurrent.Callable[A] {
        def call(): A = { gate.await(); f(i) } })).map(_.get())
      finally pool.shutdown()
    }
    def postings(root: String) = IndexRefs.postingRows(spark,
      IndexManifest.currentOrFail(spark, root))
    def codes(root: String) = IndexManifest.readFrame(spark,
        IndexManifest.currentOrFail(spark, root), "codes")
      .select(col("vec_id"), col("cell").cast("long"), col("codes")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2))).toSet
    // float retrains: each rebuilds from its own postings, staged first
    def retrained(tag: String, concurrent: Boolean) = {
      val roots = Seq(0, 1).map(i => tmp(s"graft_two_root_${tag}_$i"))
      roots.zip(halves).foreach { case (r, h) => AnnIndex.stage(Similarity.buildIvf(h), r) }
      def retrain(i: Int) = AnnIndex.retrain(spark, roots(i), AnnIndex.FloatIvf)(
        (v, _) => Similarity.buildIvf(v))
      if (concurrent) both(retrain) else Seq(0, 1).map(retrain)
      roots.map(postings)
    }
    assert(retrained("par", concurrent = true) == retrained("ser", concurrent = false),
      "a concurrent retrain rebuilt from the other root's corpus")
    // ingest sinks: each lands the upper half of its corpus through
    // the coalescing path (both its stagings) on its own PQ root
    def ingested(tag: String, concurrent: Boolean) = {
      val roots = Seq(0, 1).map(i => tmp(s"graft_two_sink_${tag}_$i"))
      roots.zip(halves).foreach { case (r, h) =>
        Pq.stageIvfPqIndexVersion(Pq.buildIvfPq(h.filter(col("vec_id") <= cut)), r) }
      def sink(i: Int) = graft.streaming.Streams.annIngestMicroBatchAtomic(
        halves(i).filter(col("vec_id") > cut).select(col("vec_id"), col("embedding")),
        roots(i), publishEveryRows = 1L)
      if (concurrent) both(sink) else Seq(0, 1).map(sink)
      roots.map(codes)
    }
    assert(ingested("par", concurrent = true) == ingested("ser", concurrent = false),
      "a concurrent sink landed the other root's codes")
  }
}
