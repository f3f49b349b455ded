package graft

import org.apache.spark.sql.functions._
import graft.operators.{AnnIndex, IndexManifest, Quantize, Similarity}
import graft.operators.AnnSearch.Radius

class QuantizeSpec extends SparkSpecBase {

  test("scalar quantization: exact codes on a hand-computed grid, " +
      "degenerate dimension codes to zero, error bounded by half a step") {
    import spark.implicits._
    // dim 1 spans [0,1]: 0.0 -> -128, 1.0 -> 127, 0.5 -> code 0 with
    // the known 0.5/255 reconstruction error. dim 2 is constant.
    val vectors = Seq(
      (1L, Seq(0.0f, 7.0f), 0),
      (2L, Seq(1.0f, 7.0f), 0),
      (3L, Seq(0.5f, 7.0f), 0)
    ).toDF("vec_id", "embedding", "label")
    val rep = Quantize.vecQuantizeOn(vectors).orderBy("pos").collect()
    assert(rep.length == 2)
    val d1 = rep(0)
    assert(d1.getLong(0) == 1L && d1.getLong(1) == 3L)
    assert(d1.getDouble(2) == 0.0 && d1.getDouble(3) == 1.0)
    // codes: -128 + 127 + 0
    assert(d1.getLong(4) == -1L, "sum of codes on the [0,1] span")
    // endpoints reconstruct exactly; the midpoint misses by 0.5/255
    val expMean = (0.5 / 255.0) / 3.0
    assert(math.abs(d1.getDouble(5) - expMean) < 1e-12, "mean abs err")
    assert(math.abs(d1.getDouble(6) - 0.5 / 255.0) < 1e-15, "max err")
    val d2 = rep(1)
    assert(d2.getLong(4) == 0L, "constant dimension codes to 0")
    assert(d2.getDouble(5) == 0.0 && d2.getDouble(6) == 0.0,
      "constant dimension reconstructs exactly")
  }

  test("scalar quantization on the corpus: one report row per dimension, " +
      "every error inside the affine half-step bound, deterministic") {
    val vectors = graft.sources.Tables.embeddings(spark, sfDir)
    val n = vectors.count()
    val rep = Quantize.vecQuantizeOn(vectors).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getLong(4), r.getDouble(5), r.getDouble(6)))
      .sortBy(_._1)
    assert(rep.length == 64, "one row per embedding dimension")
    assert(rep.forall(_._2 == n), "every dimension sees the whole corpus")
    rep.foreach { case (pos, _, mn, mx, _, meanErr, maxErr) =>
      val half = (mx - mn) / 510.0
      assert(maxErr <= half + 1e-15, s"dim $pos max err $maxErr > $half")
      assert(meanErr <= maxErr + 1e-15, s"dim $pos mean above max")
      assert(mn < mx, s"dim $pos degenerate in the corpus fixture")
    }
    val again = Quantize.vecQuantizeOn(vectors).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getLong(4), r.getDouble(5), r.getDouble(6)))
      .sortBy(_._1)
    assert(rep.sameElements(again), "report must be bit-deterministic")
  }

  test("quantized codes: full-width int8 arrays whose per-dimension sums " +
      "equal the report's checksums, decode inside the half-step bound") {
    val vectors = graft.sources.Tables.embeddings(spark, sfDir)
    val codes = Quantize.quantizeCodesOn(vectors).collect()
      .map(r => (r.getLong(0), r.getSeq[Int](1).toArray))
    assert(codes.length == vectors.count())
    assert(codes.forall(_._2.length == 64), "one code per dimension")
    assert(codes.forall(_._2.forall(q => q >= -128 && q <= 127)), "int8 domain")
    // per-dimension code sums == the report's exact sum_q checksums
    val sums = new Array[Long](64)
    codes.foreach { case (_, qs) =>
      var i = 0; while (i < 64) { sums(i) += qs(i); i += 1 } }
    val rep = Quantize.vecQuantizeOn(vectors).collect()
      .map(r => (r.getLong(0).toInt, r.getLong(4), r.getDouble(2), r.getDouble(3)))
      .sortBy(_._1)
    rep.foreach { case (pos, sumQ, _, _) =>
      assert(sums(pos - 1) == sumQ, s"dim $pos code sum vs report checksum") }
    // decode round-trip: every coordinate within half a grid step
    val byPos = rep.map { case (pos, _, mn, mx) => pos -> (mn, mx) }.toMap
    val originals = vectors.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    codes.take(50).foreach { case (vid, qs) =>
      val e = originals(vid)
      qs.zipWithIndex.foreach { case (q, i) =>
        val (mn, mx) = byPos(i + 1)
        val deq = mn + ((q + 128L).toDouble * (mx - mn)) / 255.0
        assert(math.abs(e(i).toDouble - deq) <= (mx - mn) / 510.0 + 1e-12,
          s"vec $vid dim ${i + 1} decode outside the half-step bound")
      }
    }
  }

  test("knn_sq8 serving scan: well-formed per-query top-k, high recall " +
      "vs exact brute-force, deterministic") {
    val vectors = graft.sources.Tables.embeddings(spark, sfDir)
    val sq8 = Quantize.knnSq8On(vectors).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
    val byQ = sq8.groupBy(_._1)
    assert(byQ.size == operators.Similarity.NQueries, "one group per query")
    byQ.foreach { case (q, rows) =>
      assert(rows.map(_._3).sorted.sameElements(1 to operators.Similarity.K),
        s"query $q ranks must be 1..K")
      assert(rows.sortBy(_._3).sliding(2).forall { case Array(a, b) =>
        a._4 > b._4 || (a._4 == b._4 && a._2 < b._2) },
        s"query $q rank order must follow (cosine desc, id asc)")
      assert(rows.forall(_._2 != q), "a query is not its own neighbor")
    }
    // recall against the exact scan — SQ8 decode error is <= half a
    // grid step per coordinate, so the approximate ranking feeding
    // the Rerank cut is near-exact and recall should be ~1.0
    val exact = operators.Similarity.knnBruteforceOn(vectors).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val hits = sq8.count(r => exact.contains((r._1, r._2)))
    val recall = hits.toDouble / exact.size
    assert(recall >= 0.9, s"SQ8 recall $recall below 0.9")
    val again = Quantize.knnSq8On(vectors).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
    assert(sq8.sortBy(t => (t._1, t._3)).sameElements(again.sortBy(t => (t._1, t._3))),
      "SQ8 answers must be bit-deterministic")
  }

  test("sq8 serving split: staged index answers bit-identically to the " +
      "in-memory form; append touches only new code files") {
    val vectors = graft.sources.Tables.embeddings(spark, sfDir)
    val path = java.nio.file.Files.createTempDirectory("graft_sq8_idx").toString
    AnnIndex.write(Quantize.buildSq8(vectors), path)
    val inMem = Quantize.knnSq8On(vectors).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._3))
    val staged = Quantize.querySq8Index(spark, path, vectors,
      0L until operators.Similarity.NQueries.toLong).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._3))
    assert(inMem.sameElements(staged),
      "staged round-trip must answer bit-identically")
    // append lifecycle on a half split: base index + appended rest
    val cut = vectors.agg(org.apache.spark.sql.functions.max("vec_id"))
      .collect()(0).getLong(0) / 2
    val base = vectors.filter(col("vec_id") <= cut)
    val rest = vectors.filter(col("vec_id") > cut)
    val root2 = java.nio.file.Files.createTempDirectory("graft_sq8_app").toString
    val v1 = AnnIndex.stage(Quantize.buildSq8(base), root2)
    // a version's files of one frame: version-relative path -> the
    // physical file it resolves to
    def listing(v: String, frame: String): Map[String, String] =
      IndexManifest.effectiveFiles(spark, v)
        .filter(_._1.startsWith(frame + "/")).toMap
    val before = listing(v1, "codes")
    val appended = AnnIndex.append(spark, root2, AnnIndex.Sq8, rest)
    assert(appended == rest.count(), "every new vector appends one code row")
    val path2 = IndexManifest.currentOrFail(spark, root2)
    assert(listing(path2, "ranges") == listing(v1, "ranges"),
      "append must not re-derive the ranges artifact")
    assert(listing(v1, "codes") == before,
      "the superseded version's code files must stay untouched")
    assert(listing(path2, "codes").values.exists(_.contains(s"/${IndexManifest.StoreDir}/")),
      "the append's rows must land as fresh store files")
    // appended codes == encoding the full corpus against the FROZEN
    // base ranges (the trainOn-decoupling equation, SQ8 form)
    val allAgainstBase = Quantize.quantizeCodesAgainst(vectors,
        IndexManifest.readFrame(spark, path2, "ranges")).collect()
      .map(r => (r.getLong(0), r.getSeq[Int](1).toList)).toMap
    val stored = IndexManifest.readFrame(spark, path2, "codes").collect()
      .map(r => (r.getLong(0), r.getSeq[Int](1).toList)).toMap
    assert(stored == allAgainstBase,
      "append(build(base), rest) must equal encodeAgainst(all, ranges(base))")
    // the grown index still answers well-formed top-k
    val q2 = Quantize.querySq8Index(spark, path2, vectors,
      0L until operators.Similarity.NQueries.toLong).collect()
    assert(q2.groupBy(_.getLong(0)).forall(_._2.length == operators.Similarity.K))
  }

  test("sq8 restage at a used path: the codes tree holds exactly the new " +
      "corpus and answers like a fresh path") {
    import spark.implicits._
    val rnd = new scala.util.Random(8)
    def corpus(n: Int) = (0L until n.toLong)
      .map(i => (i, Array.fill(8)(rnd.nextFloat()), (i % 3).toInt))
      .toDF("vec_id", "embedding", "label")
    val path = java.nio.file.Files.createTempDirectory("graft_sq8_restage").toString
    AnnIndex.write(Quantize.buildSq8(corpus(100)), path)
    val small = corpus(10)
    AnnIndex.write(Quantize.buildSq8(small), path)
    val ids = IndexManifest.readFrame(spark, path, "codes")
      .select(col("vec_id")).collect().map(_.getLong(0)).sorted
    assert(ids.toSeq == (0L until 10L),
      s"restage left ${ids.length - 10} stale code rows behind")
    val fresh = java.nio.file.Files.createTempDirectory("graft_sq8_fresh").toString
    AnnIndex.write(Quantize.buildSq8(small), fresh)
    def canon(dir: String) = Quantize.querySq8Index(spark, dir, small, 0L until 10L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      .sorted.toSeq
    assert(canon(path) == canon(fresh), "a restaged path answers unlike a fresh one")
  }

  test("ivf-sq8 serving split: staged composed index answers the one-shot " +
      "key bit-identically; append == trained-on-base restage; erasure") {
    import org.apache.spark.sql.functions.{col, max}
    import graft.operators.{Quantize, Similarity}
    val vectors = graft.sources.Tables.embeddings(spark, sfDir)
    val qids = 0L until Similarity.NQueries.toLong
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._3))
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfsq8_idx").toString
    AnnIndex.write(Quantize.buildIvfSq8(vectors), dir)
    val served = canon(Quantize.queryIvfSq8Index(spark, dir, vectors, qids))
    assert(served.sameElements(canon(Quantize.knnIvfSq8On(vectors))),
      "staged composed serving diverged from the one-shot key")
    // query-many against the same staged frames
    assert(canon(Quantize.queryIvfSq8Index(spark, dir, vectors, qids))
      .sameElements(served))
    // the incremental-lifecycle equation: stage(base) + append(rest)
    // answers exactly like a restage of everything trained on base
    val cut = vectors.agg(max("vec_id")).collect()(0).getLong(0) / 2
    val base = vectors.filter(col("vec_id") <= cut)
    val rest = vectors.filter(col("vec_id") > cut)
    val root2 = java.nio.file.Files.createTempDirectory("graft_ivfsq8_app").toString
    AnnIndex.stage(Quantize.buildIvfSq8(base), root2)
    def dir2 = graft.operators.IndexManifest.currentOrFail(spark, root2)
    val nApp = AnnIndex.append(spark, root2, AnnIndex.IvfSq8, rest)
    assert(nApp == rest.count(), "append must encode every batch row")
    val dir3 = java.nio.file.Files.createTempDirectory("graft_ivfsq8_tw").toString
    AnnIndex.write(Quantize.buildIvfSq8(vectors, trainOn = base), dir3)
    assert(canon(Quantize.queryIvfSq8Index(spark, dir2, vectors, qids))
      .sameElements(canon(Quantize.queryIvfSq8Index(spark, dir3, vectors, qids))),
      "append diverged from the trained-on-base restage")
    // erasure is the PQ cell-directory rewrite verbatim: erased ids
    // vanish, a second identical delete finds nothing
    val erased = (cut - 3 to cut).filter(_ >= Similarity.NQueries)
    val nDel = AnnIndex.erase(spark, root2, AnnIndex.IvfSq8, erased)
    assert(nDel == erased.length)
    assert(AnnIndex.erase(spark, root2, AnnIndex.IvfSq8, erased) == 0L,
      "erasure must be idempotent")
    val after = canon(Quantize.queryIvfSq8Index(spark, dir2, vectors, qids))
    assert(after.forall(t => !erased.contains(t._2)),
      "an erased id survived in the staged answers")
  }

  test("knn_ivf_sq8: well-formed top-k, recall tracks the IVF tier on " +
      "clustered data, deterministic") {
    val vectors = graft.sources.Tables.embeddings(spark, sfDir)
    val res = Quantize.knnIvfSq8On(vectors).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
    val byQ = res.groupBy(_._1)
    assert(byQ.size == operators.Similarity.NQueries)
    byQ.foreach { case (q, rows) =>
      assert(rows.map(_._3).sorted.sameElements(1 to operators.Similarity.K))
      assert(rows.forall(_._2 != q))
    }
    // the composition can only lose candidates the IVF cut already
    // loses (pruning identical) plus rank-boundary noise the Rerank
    // margin absorbs — recall must track the float IVF tier
    val exact = operators.Similarity.knnBruteforceOn(vectors).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivfRecall = operators.Similarity.knnIvfOn(vectors).collect()
      .map(r => (r.getLong(0), r.getLong(1))).count(exact.contains).toDouble / exact.size
    val sq8Recall = res.map(t => (t._1, t._2)).count(exact.contains).toDouble / exact.size
    assert(sq8Recall >= ivfRecall - 0.05,
      s"compressed-scan recall $sq8Recall fell below the float IVF tier's $ivfRecall")
    assert(sq8Recall >= 0.9, s"recall $sq8Recall below the clustered-data bar")
    val again = Quantize.knnIvfSq8On(vectors).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
    assert(res.sortBy(t => (t._1, t._3)).sameElements(again.sortBy(t => (t._1, t._3))),
      "IVF-SQ8 answers must be bit-deterministic")
  }

  test("sq8/ivf-sq8 empty contracts: empty corpus and empty query set " +
      "yield empty, schema-stable results, not probe crashes") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Option[Array[Float]], Int)]
      .toDF("vec_id", "embedding", "label")
    assert(Quantize.knnSq8On(empty).count() == 0)
    assert(Quantize.knnIvfSq8On(empty).count() == 0)
    val allNull = Seq((1L, Option.empty[Array[Float]], 0))
      .toDF("vec_id", "embedding", "label")
    assert(Quantize.knnSq8On(allNull).count() == 0)
    assert(Quantize.knnIvfSq8On(allNull).count() == 0)
    // a staged index queried with NO query ids answers nothing
    val vectors = graft.sources.Tables.embeddings(spark, sfDir)
    val path = java.nio.file.Files.createTempDirectory("graft_sq8_empty").toString
    AnnIndex.write(Quantize.buildSq8(vectors), path)
    assert(Quantize.querySq8Index(spark, path, vectors, Seq.empty).count() == 0)
  }

  test("knn_sq8 matches a plain-Scala reference scan bit-for-bit on " +
      "seeded random corpora") {
    import spark.implicits._
    val K = operators.Similarity.K
    val NQ = operators.Similarity.NQueries
    val rnd = new scala.util.Random(1521)
    (1 to 3).foreach { trial =>
      val n = 40 + rnd.nextInt(40)
      val d = 4 + rnd.nextInt(6)
      val rows = (0 until n).map(i =>
        (i.toLong, Array.fill(d)((rnd.nextGaussian() * 3).toFloat).toSeq, 0))
      val vecs = rows.toDF("vec_id", "embedding", "label")

      // reference: the exact published contract in plain Scala —
      // per-dim min/max, floor(t+0.5)-128 codes, affine decode,
      // approx-cosine top-Rerank by (acos desc, id asc), exact rerank
      val e = rows.map { case (id, emb, _) => id -> emb.map(_.toDouble).toArray }.toMap
      val mn = Array.tabulate(d)(j => rows.map(_._2(j).toDouble).min)
      val mx = Array.tabulate(d)(j => rows.map(_._2(j).toDouble).max)
      def codesOf(x: Array[Double]): Array[Long] = Array.tabulate(d) { j =>
        if (mx(j) == mn(j)) 0L
        else math.floor(((x(j) - mn(j)) * 255.0) / (mx(j) - mn(j)) + 0.5).toLong - 128L
      }
      def decode(q: Array[Long]): Array[Double] = Array.tabulate(d) { j =>
        if (mx(j) == mn(j)) mn(j)
        else mn(j) + ((q(j) + 128L).toDouble * (mx(j) - mn(j))) / 255.0
      }
      def dot(a: Array[Double], b: Array[Double]): Double = {
        var acc = 0.0; var j = 0
        while (j < a.length) { acc += a(j) * b(j); j += 1 }; acc
      }
      def nrm(a: Array[Double]): Double = math.sqrt(dot(a, a))
      val expected = (0L until NQ.toLong).flatMap { q =>
        val qe = e(q); val qn = nrm(qe)
        val cand = e.keys.filter(_ != q).toSeq
          .map { id =>
            val de = decode(codesOf(e(id)))
            id -> dot(de, qe) / (nrm(de) * qn)
          }
          .sortBy { case (id, a) => (-a, id) }
          .take(operators.Pq.Rerank).map(_._1)
        cand.map { id => (q, id, dot(e(id), qe) / (nrm(e(id)) * qn)) }
          .sortBy { case (_, id, c) => (-c, id) }
          .take(K).zipWithIndex
          .map { case ((qq, id, c), r) => (qq, id, r + 1, c) }
      }.toSet
      val got = Quantize.knnSq8On(vecs).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
      assert(got == expected,
        s"trial $trial (n=$n d=$d): engine diverged from the reference scan")
    }
  }

  test("sq8 dimension guard: a mis-dimensioned append batch fails loudly " +
      "and leaves the index untouched") {
    import spark.implicits._
    def causes(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(e => Option(e.getMessage).getOrElse("")).toSeq
    val base = Seq(
      (1L, Seq(0.0f, 1.0f, 2.0f)),
      (2L, Seq(1.0f, 2.0f, 3.0f)),
      (3L, Seq(0.5f, 1.5f, 2.5f))).toDF("vec_id", "embedding")
    val root = java.nio.file.Files.createTempDirectory("graft_sq8_dim").toString
    val v1 = AnnIndex.stage(Quantize.buildSq8(base), root)
    def live = IndexManifest.currentOrFail(spark, root)
    def codesNow() = IndexManifest.readFrame(spark, live, "codes").collect()
      .map(r => (r.getLong(0), r.getSeq[Int](1).toList)).toSet
    val before = codesNow()
    // too LONG: position 4 has no grid row — formerly silently dropped
    // by the inner join, appending a truncated code row
    val tooLong = Seq((10L, Seq(0.1f, 0.2f, 0.3f, 0.4f))).toDF("vec_id", "embedding")
    val eLong = intercept[Throwable] {
      AnnIndex.append(spark, root, AnnIndex.Sq8, tooLong) }
    assert(causes(eLong).exists(_.contains("beyond the trained grid")),
      s"wanted the out-of-grid diagnosis, got: ${causes(eLong).mkString(" | ")}")
    // too SHORT: every position matches a grid row, so only the width
    // check can catch it — a 2-wide code row would decode against a
    // mismatched 3-wide literal grid downstream
    val tooShort = Seq((11L, Seq(0.1f, 0.2f))).toDF("vec_id", "embedding")
    val eShort = intercept[Throwable] {
      AnnIndex.append(spark, root, AnnIndex.Sq8, tooShort) }
    assert(causes(eShort).exists(_.contains("the trained grid has 3")),
      s"wanted the width diagnosis, got: ${causes(eShort).mkString(" | ")}")
    assert(live == v1 && codesNow() == before,
      "a failed append must not publish any code rows")
    // positive control: a well-dimensioned batch still appends (and
    // saturates out-of-range values instead of failing)
    val ok = Seq((12L, Seq(9.0f, -9.0f, 2.5f))).toDF("vec_id", "embedding")
    assert(AnnIndex.append(spark, root, AnnIndex.Sq8, ok) == 1L)
    val row = IndexManifest.readFrame(spark, live, "codes")
      .filter(col("vec_id") === 12L).collect()(0).getSeq[Int](1).toList
    // dim1 spans [0,1]: 9.0 saturates high; dim2 spans [1,2]: -9.0
    // saturates low; dim3 spans [2,3]: 2.5 is the in-range midpoint
    // (code floor(127.5 + 0.5) - 128 = 0)
    assert(row == List(127, -128, 0),
      "out-of-range coordinates must saturate to the grid ends")
  }

  test("sq8 erasure: rewrites only affected buckets, retires emptied ones, " +
      "idempotent; erased ids vanish from staged answers") {
    val vectors = graft.sources.Tables.embeddings(spark, sfDir)
    val root = java.nio.file.Files.createTempDirectory("graft_sq8_del").toString
    AnnIndex.stage(Quantize.buildSq8(vectors), root)
    def path = IndexManifest.currentOrFail(spark, root)
    // the live version's code files: version-relative path -> the
    // physical file it resolves to
    def listing(): Map[String, String] =
      IndexManifest.effectiveFiles(spark, path)
        .filter(_._1.startsWith("codes/")).toMap
    val before = listing()
    // erase one full bucket (every id ≡ 5 mod 64) plus a slice of
    // another — the first bucket dir must be retired, the second
    // rewritten, every OTHER bucket byte-untouched
    val ids = vectors.select("vec_id").collect().map(_.getLong(0))
    val fullBucket = ids.filter(_ % Quantize.Sq8Buckets == 5L)
    val partial = ids.filter(_ % Quantize.Sq8Buckets == 9L).take(3)
    assert(fullBucket.nonEmpty && partial.nonEmpty)
    val erase = (fullBucket ++ partial).toSeq
    val n = AnnIndex.erase(spark, root, AnnIndex.Sq8, erase)
    assert(n == erase.length, s"deleted $n of ${erase.length}")
    val after = listing()
    assert(!after.keys.exists(_.startsWith("codes/grp=5/")),
      "an emptied bucket directory must be retired")
    val touched = Set("grp=5/", "grp=9/")
    before.foreach { case (f, phys) =>
      if (!touched.exists(f.contains))
        assert(after.get(f).contains(phys), s"untouched bucket file changed: $f")
    }
    // erased ids are gone from the staged answers; survivors intact
    val remaining = IndexManifest.readFrame(spark, path, "codes")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(erase.forall(!remaining.contains(_)))
    assert(remaining.size == ids.length - erase.length)
    val res = Quantize.querySq8Index(spark, path, vectors,
      0L until operators.Similarity.NQueries.toLong).collect()
    assert(res.forall(r => !erase.contains(r.getLong(1))),
      "an erased id survived in the staged answers")
    // idempotence: nothing left to delete, nothing published
    val repeat = path
    assert(AnnIndex.erase(spark, root, AnnIndex.Sq8, erase) == 0L)
    assert(path == repeat, "a no-op delete must publish nothing")
    assert(listing() == after, "a no-op delete must touch nothing")
  }

  test("sq8 radius off the staged index: exact-verified, deterministic, " +
      "near-exact recall vs the float radius set") {
    import org.apache.spark.sql.functions.col
    val vectors = graft.sources.Tables.embeddings(spark, sfDir)
    val path = java.nio.file.Files.createTempDirectory("graft_sq8_rad").toString
    AnnIndex.write(Quantize.buildSq8(vectors), path)
    val qids = 0L until operators.Similarity.NQueries.toLong
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted
    val res = canon(Quantize.querySq8Index(spark, path, vectors, qids,
      Radius(Similarity.RadiusTau)))
    val tau = operators.Similarity.RadiusTau
    // precision 1.0 by construction: every emitted cosine clears τ
    assert(res.forall(_._3 >= tau))
    // the exact radius SET via the brute-force scorer: emitted pairs
    // must be a subset, and recall near-exact (decode error is half a
    // grid step per coordinate)
    val exact = operators.Similarity.knnBruteforceOn(vectors, k = Int.MaxValue)
      .filter(col("cosine") >= tau).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = res.map(t => (t._1, t._2)).toSet
    assert(got.subsetOf(exact), "a sub-τ pair leaked through the exact verify")
    assert(got.size.toDouble >= 0.9 * exact.size,
      s"sq8-radius recall ${got.size.toDouble / exact.size} below 0.9")
    assert(canon(Quantize.querySq8Index(spark, path, vectors, qids,
      Radius(Similarity.RadiusTau)))
      .sameElements(res), "radius answers must be bit-deterministic")
  }

  test("sq8 filtered tier: label rides the codes through stage/append/" +
      "delete; the filtered scan answers same-label top-k") {
    val vectors = graft.sources.Tables.embeddings(spark, sfDir)
    val qids = 0L until operators.Similarity.NQueries.toLong
    def canonF(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3), r.getDouble(4)))
      .sortBy(t => (t._1, t._4))
    val dir = java.nio.file.Files.createTempDirectory("graft_sq8_filt").toString
    AnnIndex.write(Quantize.buildSq8(vectors, metaCols = Seq("label")), dir)
    assert(spark.read.parquet(s"$dir/codes").columns.contains("label"),
      "the staged codes must carry the riding metadata column")
    val served = canonF(Quantize.querySq8Index(spark, dir, vectors, qids, sameLabel = true))
    // every neighbor shares its query's label; ranks are 1..K dense
    val qLab = vectors.filter(col("vec_id") < operators.Similarity.NQueries)
      .select(col("vec_id"), col("label")).collect()
      .map(r => (r.getLong(0), r.getInt(1))).toMap
    assert(served.nonEmpty)
    served.groupBy(_._1).foreach { case (q, rs) =>
      assert(rs.forall(_._3 == qLab(q)), s"query $q got a cross-label neighbor")
      assert(rs.map(_._4).sorted.sameElements(1 to rs.length))
    }
    // determinism: a second staged query answers bit-identically
    assert(canonF(Quantize.querySq8Index(spark, dir, vectors, qids, sameLabel = true))
      .sameElements(served), "filtered answers must be bit-deterministic")
    // the riding column leaves the UNFILTERED query of the same index
    // unchanged (its scan projects it out)
    val bare = java.nio.file.Files.createTempDirectory("graft_sq8_bare").toString
    AnnIndex.write(Quantize.buildSq8(vectors), bare)
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._3))
    assert(canon(Quantize.querySq8Index(spark, dir, vectors, qids))
      .sameElements(canon(Quantize.querySq8Index(spark, bare, vectors, qids))),
      "metadata riding the codes changed the unfiltered answers")
    // append: the riding set derives from the index schema — a batch
    // carrying it appends cleanly, a batch missing it fails loudly
    val cut = vectors.agg(max("vec_id")).collect()(0).getLong(0) / 2
    val base = vectors.filter(col("vec_id") <= cut)
    val rest = vectors.filter(col("vec_id") > cut)
    val root2 = java.nio.file.Files.createTempDirectory("graft_sq8_filt_app").toString
    AnnIndex.stage(Quantize.buildSq8(base, metaCols = Seq("label")), root2)
    def dir2 = IndexManifest.currentOrFail(spark, root2)
    val e = intercept[IllegalArgumentException] {
      AnnIndex.append(spark, root2, AnnIndex.Sq8, rest.select("vec_id", "embedding"))
    }
    assert(e.getMessage.contains("riding set"), e.getMessage)
    assert(AnnIndex.append(spark, root2, AnnIndex.Sq8, rest) == rest.count())
    val appended = IndexManifest.readFrame(spark, dir2, "codes")
    assert(appended.columns.contains("label") &&
      appended.filter(col("label").isNull).count() == 0,
      "append lost the riding metadata")
    // erasure: the survivor rewrite carries the metadata column and
    // the filtered answers exclude every erased id
    val erase = (cut - 5) to cut
    assert(AnnIndex.erase(spark, root2, AnnIndex.Sq8, erase) > 0L)
    assert(IndexManifest.readFrame(spark, dir2, "codes").columns.contains("label"),
      "delete's survivor rewrite stripped the metadata column")
    val post = canonF(Quantize.querySq8Index(spark, dir2, vectors, qids, sameLabel = true))
    assert(post.forall(t => !erase.contains(t._2)),
      "an erased id survived in the filtered answers")
  }
}
