package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{AnnIndex, IndexManifest, Similarity}

/** The REFS manifest layout (r19 verdict item 2 — object-store-shaped
  * delta publishes): a delta version is a `_REFS` file list; it lands
  * ONLY its touched partitions as fresh files in the shared `_store`
  * and inherits every other file by reference — per-publish data
  * motion is O(touched bytes) on EVERY filesystem. It is the only way
  * a published index changes; [[ManifestAtomicSpec]] covers the
  * lifecycle (claims, crashes, retention) on top of it.
  *
  * Covered here: deltas leave exactly the rows a manifest-free
  * reference computes, zero-materialization deltas (no parquet under
  * a delta version's directory), reachability vacuum (referenced
  * full-publish files survive any keep policy; dead store files
  * collect without a store walk), stale-claim release reclaiming the
  * claim's fresh store files, orphan deep-sweep, and plain delta
  * versions without `_REFS` — what older releases published — serving
  * and accepting deltas like a full publish. */
class ManifestRefsSpec extends SparkSpecBase {

  private def vectors = graft.sources.Tables.embeddings(spark, sfDir)

  private def canon(df: DataFrame) = df.collect()
    .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
    .sortBy(t => (t._1, t._3))

  private def tmp(prefix: String) =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def parquetsUnder(dir: String): Seq[String] = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) return Nil
    val stream = java.nio.file.Files.walk(root)
    try {
      val b = Seq.newBuilder[String]
      stream.filter(p => p.toString.endsWith(".parquet"))
        .forEach(p => b += p.toString)
      b.result()
    } finally stream.close()
  }

  private def versionDirs(root: String): Seq[String] = {
    val d = new java.io.File(root)
    d.listFiles().toSeq.filter(f => f.isDirectory && f.getName.startsWith("v="))
      .map(_.getName).sorted
  }

  // ---- shared float-tier lifecycle fixtures (staged once) ----
  private lazy val cut =
    vectors.agg(max(col("vec_id"))).collect()(0).getLong(0) / 2
  private lazy val base = vectors.filter(col("vec_id") <= cut)
  private lazy val rest = vectors.filter(col("vec_id") > cut)
  private lazy val rootDir = tmp("graft_refs_root")
  private lazy val v1 = AnnIndex.stage(Similarity.buildIvf(base), rootDir)

  test("refs delta publish: append answers bit-identically to in-place; " +
      "the delta version materializes ZERO inherited bytes (pure manifest); " +
      "fresh rows land in the shared store") {
    val v1Answers = canon(Similarity.queryIvfIndex(spark, v1))
    val v1Rows = IndexRefs.postingRows(spark, v1)
    val n = AnnIndex.append(spark, rootDir, AnnIndex.FloatIvf, rest)
    assert(n == rest.count())
    val v2 = IndexManifest.currentOrFail(spark, rootDir)
    assert(v2 != v1)
    assert(IndexRefs.partOf(spark, v2, "postings") ==
      IndexRefs.partOf(spark, v1, "postings") ++ IndexRefs.freshCells(spark, v1, rest),
      "a refs append must equal a fresh assignment against the staged centroids")
    assert(v1Rows.subsetOf(IndexRefs.postingRows(spark, v2)),
      "every pre-append posting row must be served unchanged")
    assert(canon(Similarity.queryIvfIndex(spark, v1)).sameElements(v1Answers),
      "the superseded version must be immutable under a refs append")
    // THE refs property: the delta version directory holds NO parquet
    // at all — untouched partitions were inherited by reference and
    // the touched ones landed in the store, so the publish moved
    // O(batch) bytes regardless of index size (no hardlinks needed —
    // the object-store shape)
    assert(parquetsUnder(v2).isEmpty,
      s"a refs delta version must be a pure manifest, found parquet under $v2")
    assert(new java.io.File(s"$v2/${IndexManifest.RefsFile}").exists(),
      "a refs delta version must carry a _REFS manifest")
    assert(parquetsUnder(s"$rootDir/${IndexManifest.StoreDir}").nonEmpty,
      "the append's fresh files must land in the shared store")
    // v1's physical files are untouched (still serving via v2's refs)
    assert(parquetsUnder(v1).nonEmpty)
  }

  test("refs erase: survivors rewrite to the store, answers match in-place; " +
      "reachability vacuum retires delta manifests and dead store files " +
      "but never a referenced full-publish file") {
    val erased = rest.select("vec_id").limit(7)
      .collect().map(_.getLong(0)).toSeq
    // force the fixture chain (v1 full, v2 append) before erasing
    val v2 = IndexManifest.currentOrFail(spark, rootDir)
    val want = IndexRefs.postingRows(spark, v2).filterNot(r => erased.contains(r._1))
    val storeBefore = parquetsUnder(s"$rootDir/${IndexManifest.StoreDir}").toSet
    val nDel = AnnIndex.erase(spark, rootDir, AnnIndex.FloatIvf, erased,
      keep = 2)
    assert(nDel == erased.size.toLong)
    val v3 = IndexManifest.currentOrFail(spark, rootDir)
    assert(IndexRefs.postingRows(spark, v3) == want,
      "a refs erase must leave exactly the pre-erase rows minus the erased ids")
    val expect = canon(Similarity.queryIvfIndex(spark, v3))
    // keep=2 retained v2; now vacuum to keep=1: v2's manifest dir
    // retires, and the store files ONLY v2 referenced (the erased
    // cells' pre-erase rewrites) are collected — while v1's
    // full-publish files stay, because v3 still references them
    val gone = IndexManifest.vacuum(spark, rootDir, keep = 1)
    assert(gone.exists(_.endsWith(v2.split('/').last)),
      s"keep=1 must retire the superseded delta manifest, got $gone")
    assert(!new java.io.File(v2).exists())
    val storeAfter = parquetsUnder(s"$rootDir/${IndexManifest.StoreDir}").toSet
    val deadStore = storeBefore.diff(storeAfter)
    assert(deadStore.nonEmpty,
      "the erased cells' superseded store files must be collected")
    assert(parquetsUnder(v1).nonEmpty,
      "v1's files are still referenced by the live version — vacuum must keep them")
    assert(new java.io.File(v1).exists())
    assert(canon(Similarity.queryIvfIndex(spark, v3)).sameElements(expect),
      "the live version must keep answering identically after vacuum")
  }

  test("stale-claim release reclaims the crashed publish's fresh store " +
      "files; sweepStore reclaims manifest-less orphans; both leave the " +
      "live chain serving") {
    val live = IndexManifest.currentOrFail(spark, rootDir)
    val answers = canon(Similarity.queryIvfIndex(spark, live))
    // simulate a publisher that died between its store landing and the
    // pointer flip: a claimed version dir whose _REFS lists a fresh
    // store file no one else references
    val liveV = live.split('/').last.stripPrefix("v=").toLong
    val claimDir = s"$rootDir/v=${liveV + 1}"
    java.nio.file.Files.createDirectory(java.nio.file.Paths.get(claimDir))
    val orphanRef = s"$rootDir/${IndexManifest.StoreDir}/postings/cell=0/crashed.parquet"
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(orphanRef).getParent)
    java.nio.file.Files.write(java.nio.file.Paths.get(orphanRef),
      Array[Byte](1, 2, 3))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(claimDir, IndexManifest.RefsFile),
      s"postings/cell=0/crashed.parquet\t$orphanRef".getBytes("UTF-8"))
    val released = IndexManifest.releaseStaleClaims(spark, rootDir)
    assert(released.contains(claimDir))
    assert(released.contains(orphanRef),
      s"the claim's fresh store file must be reclaimed, got $released")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(orphanRef)))
    // a MANIFEST-LESS orphan (crash before _REFS): invisible to
    // incremental vacuum by design, reclaimed by the deep sweep
    val bare = s"$rootDir/${IndexManifest.StoreDir}/postings/cell=0/orphan.parquet"
    java.nio.file.Files.write(java.nio.file.Paths.get(bare), Array[Byte](9))
    val swept = IndexManifest.sweepStore(spark, rootDir)
    assert(swept.contains(bare), s"sweepStore must reclaim the orphan, got $swept")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(bare)))
    // referenced store files all survived both operations
    assert(canon(Similarity.queryIvfIndex(spark,
      IndexManifest.currentOrFail(spark, rootDir))).sameElements(answers))
  }

  test("plain delta version without _REFS (what older releases published): " +
      "readFrame serves it, and refs appends, erasures and vacuum on top of " +
      "it give the same rows as on a full publish") {
    val maxId = vectors.agg(max(col("vec_id"))).collect()(0).getLong(0)
    val third = maxId / 3
    val b0 = vectors.filter(col("vec_id") <= third)
    val b1 = vectors.filter(col("vec_id") > third && col("vec_id") <= 2 * third)
    val b2 = vectors.filter(col("vec_id") > 2 * third)
    // control: an all-refs chain from a full publish
    val control = tmp("graft_refs_compat_control")
    AnnIndex.stage(Similarity.buildIvf(b0), control)
    AnnIndex.append(spark, control, AnnIndex.FloatIvf, b1)
    val controlV2 = IndexManifest.currentOrFail(spark, control)
    // the chain under test: its v2 is a self-contained delta directory
    // holding the same rows, hand-built the way the retired hardlink
    // layout left it — every artifact in-dir, no _REFS file
    val root = tmp("graft_refs_compat")
    AnnIndex.stage(Similarity.buildIvf(b0), root)
    val plainV2 = IndexManifest.publishFrom(spark, root) { (_, next) =>
      IndexManifest.readFrame(spark, controlV2, "centroids")
        .write.parquet(s"$next/centroids")
      IndexManifest.readFrame(spark, controlV2, "postings")
        .repartition(col("cell")).write.partitionBy("cell")
        .parquet(s"$next/postings")
    }
    assert(!new java.io.File(s"$plainV2/${IndexManifest.RefsFile}").exists())
    assert(parquetsUnder(plainV2).nonEmpty)
    def same(what: String): Unit = {
      val live = IndexManifest.currentOrFail(spark, root)
      val ctl = IndexManifest.currentOrFail(spark, control)
      assert(IndexRefs.postingRows(spark, live) == IndexRefs.postingRows(spark, ctl),
        s"$what: the chain on a plain version diverged from the all-refs chain")
      assert(canon(Similarity.queryIvfIndex(spark, live))
        .sameElements(canon(Similarity.queryIvfIndex(spark, ctl))), what)
    }
    same("readFrame of the plain version")
    // erase rows that live only in the plain version's files: the refs
    // delta on top inherits every untouched cell from it
    val erased = b1.select("vec_id").limit(5).collect().map(_.getLong(0)).toSeq
    assert(AnnIndex.erase(spark, root, AnnIndex.FloatIvf, erased) == erased.size.toLong)
    AnnIndex.erase(spark, control, AnnIndex.FloatIvf, erased)
    val v3 = IndexManifest.currentOrFail(spark, root)
    assert(parquetsUnder(v3).isEmpty,
      "the refs delta on a plain base must still be a pure manifest")
    assert(IndexManifest.effectiveFiles(spark, v3).exists(_._2.startsWith(plainV2 + "/")),
      "the refs delta must inherit the plain version's files by reference")
    same("refs erase on a plain version")
    AnnIndex.append(spark, root, AnnIndex.FloatIvf, b2)
    AnnIndex.append(spark, control, AnnIndex.FloatIvf, b2)
    same("refs append over a plain version")
    // vacuum: the plain v2 leaves the keep window but the live version
    // still reads its files, so it stays and the chain keeps serving
    IndexManifest.vacuum(spark, root, keep = 1)
    IndexManifest.vacuum(spark, control, keep = 1)
    assert(new java.io.File(plainV2).exists(),
      "vacuum must keep a plain version the live chain still references")
    same("vacuum over a plain version")
  }

  test("epoch-pinned delta publish: a retrain landing between a delta's " +
      "encode and its publish trips the fence loudly (before any claim) " +
      "and the chain stays publishable") {
    val root = tmp("graft_refs_epochpin")
    val maxId = vectors.agg(max(col("vec_id"))).collect()(0).getLong(0)
    val b0 = vectors.filter(col("vec_id") <= maxId / 2)
    val b1 = vectors.filter(col("vec_id") > maxId / 2)
    AnnIndex.stage(Similarity.buildIvf(b0), root)
    val epochAtEncode =
      IndexManifest.epochOf(spark, IndexManifest.currentOrFail(spark, root))
    // a retrain publishes mid-flight: full publishes bump the epoch
    IndexManifest.publish(spark, root)(
      dir => AnnIndex.write(Similarity.buildIvf(b0), dir))
    val e = intercept[IllegalStateException] {
      IndexManifest.publishFrom(spark, root,
        requiredBaseEpoch = Some(epochAtEncode)) { (_, _) =>
        fail("the edit must never run once the epoch fence trips")
      }
    }
    assert(e.getMessage.contains("retrain epoch"),
      s"the fence must name the epoch mismatch, got: ${e.getMessage}")
    // the fence fired BEFORE claiming: no stale claim poisons the
    // chain — a delta re-derived at the fresh epoch lands normally
    // (the tier wrapper reads the live epoch itself)
    assert(AnnIndex.append(spark, root, AnnIndex.FloatIvf, b1) == b1.count())
  }
}
