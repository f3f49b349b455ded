package graft

import org.apache.spark.sql.functions._
import graft.operators.Dedup
import graft.functions.{TextHashing => TH}

class DedupSpec extends SparkSpecBase {

  test("exact dedup: hash groups partition the corpus, keep_doc_id is a member") {
    val docs = sources.Tables.documents(spark, sfDir).cache()
    val total = docs.count()
    val groups = Dedup.exact(spark, sfDir).cache()
    assert(groups.agg(sum("n_copies")).collect()(0).getLong(0) == total)
    // kept ids are real doc ids
    val keptNotInCorpus = groups.join(docs,
      groups("keep_doc_id") === docs("doc_id"), "left_anti").count()
    assert(keptNotInCorpus == 0)
  }

  test("normalized dedup: canonicalization merges case/whitespace variants") {
    import spark.implicits._
    val df = Seq(
      (1L, "Hello  World"),
      (2L, "hello world"),
      (3L, " HELLO\tWORLD "),
      (4L, "something else")).toDF("doc_id", "text")
    val groups = df
      .groupBy(md5(TH.canonicalize(col("text")).cast("binary")).as("h"))
      .agg(min("doc_id").as("keep"), count(lit(1)).as("n"))
      .collect()
    assert(groups.length == 2)
    assert(groups.map(_.getLong(2)).sorted.toSeq == Seq(1L, 3L))
  }

  test("ngram jaccard: prefix-filter candidates reproduce brute force exactly") {
    val viaPrefix = Dedup.ngramJaccard(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // brute force: all pairs, no prefix filter
    val tri = sources.Tables.documents(spark, sfDir)
      .filter(size(TH.words(col("text"))) >= 3)
      .select(col("doc_id"), TH.shingles(TH.words(col("text")), 3).as("tg"))
    val brute = tri.as("a").join(tri.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id"),
        (size(array_intersect(col("a.tg"), col("b.tg"))).cast("double") /
          (size(col("a.tg")) + size(col("b.tg")) -
            size(array_intersect(col("a.tg"), col("b.tg")))).cast("double")).as("j"))
      .filter(col("j") >= Dedup.JaccardTau)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(viaPrefix == brute, "prefix filter must be lossless")
    assert(brute.nonEmpty, "corpus should contain planted near-dups")
  }

  test("minhash lsh: verified pairs subset of brute force; full recall at high J") {
    val lsh = Dedup.minhashLsh(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exactPairs = Dedup.ngramJaccard(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val exactSet = exactPairs.map(t => (t._1, t._2)).toSet
    // LSH verifies candidates with exact jaccard -> no false positives
    assert(lsh.subsetOf(exactSet))
    // banding (32x4) makes missing a J>=0.7 pair astronomically unlikely
    val highJ = exactPairs.filter(_._3 >= 0.7).map(t => (t._1, t._2)).toSet
    assert(highJ.subsetOf(lsh), s"missed high-J pairs: ${highJ -- lsh}")
  }

  test("simhash: near-identical docs collide within hamming radius") {
    import spark.implicits._
    // doc B = doc A with one word changed; doc C unrelated
    val base = Seq.tabulate(60)(i => s"tok${i % 13}").mkString(" ")
    val mutated = base.replace("tok7", "tokX")
    val other = Seq.tabulate(60)(i => s"zz${i % 29}").mkString(" ")
    val df = Seq((1L, base), (2L, mutated), (3L, other), (4L, base))
      .toDF("doc_id", "text")
    val sh = Dedup.simhashSignatures(df)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    // identical text -> identical signature
    assert(ham(sh(1L), sh(4L)) == 0)
    // one-word mutation stays far closer than an unrelated doc
    assert(ham(sh(1L), sh(2L)) < ham(sh(1L), sh(3L)),
      s"near=${ham(sh(1L), sh(2L))} far=${ham(sh(1L), sh(3L))}")
    assert(ham(sh(1L), sh(3L)) > Dedup.MaxHamming)
    // corpus run emits verified pairs only (hamming <= radius)
    val pairs = Dedup.simhash(spark, sfDir).collect()
    pairs.foreach(r => assert(r.getInt(2) <= Dedup.MaxHamming))
  }

  test("cluster keep-best: per-cluster argmax by (score desc, id asc); unclustered docs absent") {
    import spark.implicits._
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L))
      .toDF("doc_id", "cluster_id")
    // cluster 1: doc 2 wins on score; cluster 10: score tie -> doc 10
    val scored = Seq((1L, 0.3), (2L, 0.9), (3L, 0.5),
      (10L, 0.7), (11L, 0.7), (99L, 1.0)).toDF("doc_id", "score")
    val got = graft.operators.Dedup.clusterKeepBestOn(labels, scored).collect()
      .map(r => r.getAs[Long]("cluster_id") ->
        (r.getAs[Long]("best_doc_id"), r.getAs[Double]("quality_score"),
         r.getAs[Long]("cluster_size"))).toMap
    assert(got == Map(1L -> (2L, 0.9, 3L), 10L -> (10L, 0.7, 2L)))
  }

  test("cluster keep-best driver key: representative maximizes quality within its own cluster") {
    val docs = graft.sources.Tables.documents(spark, sfDir)
    val scored = docs.select(col("doc_id"),
      graft.operators.TextAnalysis.qualityScore(col("text")).as("score"))
    val reps = graft.operators.Dedup.clusterKeepBest(spark, sfDir).collect()
    assert(reps.nonEmpty)
    val labels = {
      val (pairs, h) = graft.operators.Dedup.ngramJaccardWithHandle(docs)
      try graft.operators.Dedup.pairClusters(pairs).collect()
        .map(r => r.getLong(0) -> r.getLong(1))
      finally h.unpersist()
    }
    val scores = scored.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val byCluster = labels.groupBy(_._2)
    reps.foreach { r =>
      val cid = r.getAs[Long]("cluster_id")
      val members = byCluster(cid).map(_._1)
      assert(members.size.toLong == r.getAs[Long]("cluster_size"))
      val best = r.getAs[Long]("best_doc_id")
      assert(members.contains(best))
      assert(members.forall(m => scores(m) < scores(best) ||
        (scores(m) == scores(best) && m >= best)),
        s"cluster $cid representative $best is not the quality argmax")
    }
  }

  test("cluster holdout: members inherit the family root's draw; singletons equal the per-doc split") {
    import spark.implicits._
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L))
      .toDF("doc_id", "cluster_id")
    val docs = Seq(1L, 2L, 3L, 10L, 11L, 50L, 51L)
      .map(i => (i, s"src${i % 3}")).toDF("doc_id", "source")
    val got = graft.operators.Dedup.clusterHoldoutOn(docs, labels).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("split_key"), r.getAs[String]("split"))).toMap
    assert(got.size == 7)
    // family members share the root key (and therefore the split)
    assert(Seq(1L, 2L, 3L).map(got(_)._1).distinct == Seq(1L))
    assert(Seq(10L, 11L).map(got(_)._1).distinct == Seq(10L))
    assert(Seq(1L, 2L, 3L).map(got(_)._2).distinct.size == 1)
    assert(Seq(10L, 11L).map(got(_)._2).distinct.size == 1)
    // singletons key on their own id — exactly the per-doc assignment
    val plain = graft.operators.Etl
      .sampleHoldoutSplitOn(docs, col("doc_id")).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("split")).toMap
    assert(got(50L)._1 == 50L && got(50L)._2 == plain(50L))
    assert(got(51L)._1 == 51L && got(51L)._2 == plain(51L))
  }

  test("cluster holdout driver key: no verified near-dup pair straddles a split fence") {
    val docs = graft.sources.Tables.documents(spark, sfDir)
    val split = graft.operators.Dedup.sampleClusterHoldout(spark, sfDir)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("split_key"), r.getAs[String]("split"))).toMap
    assert(split.size.toLong == docs.count())
    val (pairs, h) = graft.operators.Dedup.ngramJaccardWithHandle(docs)
    val pairRows = try pairs.collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
      finally h.unpersist()
    assert(pairRows.nonEmpty, "fixture must exercise the leakage guard")
    pairRows.foreach { case (a, b) =>
      assert(split(a)._2 == split(b)._2,
        s"near-dup pair ($a, $b) straddles the ${split(a)._2}/${split(b)._2} fence")
    }
  }

  test("pair clusters: connected components resolve to min-id survivors") {
    import spark.implicits._
    // components: {1,2,3,4} (chain), {10,11}, singleton pairs absent
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("doc_a", "doc_b")
    val clusters = Dedup.pairClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L))
    // corpus filtering keeps exactly one survivor per cluster + untouched docs
    val docs = (1L to 12L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val kept = Dedup.dropNearDuplicates(docs, pairs).collect()
      .map(_.getLong(0)).toSet
    assert(kept == Set(1L, 5L, 6L, 7L, 8L, 9L, 10L, 12L))
  }

  test("pair clusters: a 50-node chain converges inside the default cap (pointer jumping)") {
    import spark.implicits._
    // the pathological shape for pure neighbor-min propagation: a path
    // graph's labels creep down ~one hop per round, so a 50-node chain
    // blows the default 10-iteration cap; the pointer-jumping term
    // doubles distance-to-root per round and converges in O(log n)
    // force the DISTRIBUTED loop (this test pins the pointer-jumping
    // convergence bound): the r20 small-graph fast path would
    // otherwise resolve a 50-edge graph on the driver
    spark.conf.set("spark.graft.graph.localEdgeThreshold", "0")
    try {
      val chain = (1L until 50L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
      val clusters = Dedup.pairClusters(chain).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(clusters.size == 50)
      assert(clusters.values.forall(_ == 1L),
        "every chain node must resolve to the component-min survivor")
      // the abort contract is still live: a cap too small to cover the
      // O(log diameter) rounds throws rather than returning partial labels
      val longChain = (1L until 400L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
      intercept[IllegalStateException] {
        Dedup.pairClusters(longChain, maxIters = 3)
      }
    } finally spark.conf.unset("spark.graft.graph.localEdgeThreshold")
  }

  test("pair clusters: the small-graph fast path matches the distributed loop") {
    import spark.implicits._
    // r20 optimization gate: under the edge threshold the clusters are
    // resolved by driver union-find; the result must be IDENTICAL to
    // the pointer-jumping loop on every shape that stresses the
    // min-label contract — a chain (deep diameter), a star, duplicate
    // pairs, and disjoint components
    val pairs = ((1L until 60L).map(i => (i, i + 1)) ++        // chain 1..60
      Seq((100L, 101L), (100L, 102L), (100L, 103L)) ++         // star at 100
      Seq((200L, 201L), (200L, 201L)) ++                       // duplicate pair
      Seq((300L, 310L))).toDF("doc_a", "doc_b")
    val fast = Dedup.pairClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).sorted
    spark.conf.set("spark.graft.graph.localEdgeThreshold", "0")
    val loop =
      try Dedup.pairClusters(pairs).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).sorted
      finally spark.conf.unset("spark.graft.graph.localEdgeThreshold")
    assert(fast.sameElements(loop),
      "fast-path labels must equal the distributed loop's labels")
    val m = fast.toMap
    assert((1L to 60L).forall(m(_) == 1L), "chain resolves to min id")
    assert(Seq(100L, 101L, 102L, 103L).forall(m(_) == 100L), "star resolves")
    assert(m(300L) == 300L && m(310L) == 300L, "disjoint component intact")
  }

  test("pair clusters: reliable checkpoints engage when a checkpoint dir is set") {
    import spark.implicits._
    // a session WITH a checkpoint dir (the cluster-run configuration)
    // must route the loop through reliable checkpoint() — blocks on
    // the shared FS survive executor loss, unlike localCheckpoint's
    // executor-stored blocks. The dir stays set for the rest of the
    // JVM (Spark has no unset API); later pairClusters tests then also
    // run the reliable path, which only makes them stricter.
    val ckpt = java.nio.file.Files.createTempDirectory("graft_reliable_ckpt")
    spark.sparkContext.setCheckpointDir(ckpt.toString)
    // force the loop path: this test pins the LOOP's checkpoint
    // routing, which the r20 small-graph fast path never reaches
    spark.conf.set("spark.graft.graph.localEdgeThreshold", "0")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val clusters =
      try Dedup.pairClusters(pairs).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      finally spark.conf.unset("spark.graft.graph.localEdgeThreshold")
    assert(clusters == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
    // the loop actually wrote checkpoint data under the reliable dir
    def anyFiles(p: java.io.File): Boolean =
      p.isFile || Option(p.listFiles).exists(_.exists(anyFiles))
    assert(anyFiles(ckpt.toFile), "no reliable checkpoint data written")
  }

  test("pair clusters on corpus: planted near-dups collapse, survivors unique") {
    val pairs = Dedup.ngramJaccard(spark, sfDir)
    val clusters = Dedup.pairClusters(pairs).collect()
    // every cluster id is a member of its own cluster (canonical min)
    val byCluster = clusters.groupBy(_.getLong(1))
    byCluster.foreach { case (cid, members) =>
      assert(members.map(_.getLong(0)).min == cid)
    }
    val docs = sources.Tables.documents(spark, sfDir)
    val kept = Dedup.dropNearDuplicates(docs, pairs)
    assert(kept.count() == docs.count() - clusters.count(r => r.getLong(0) != r.getLong(1)))
  }

  test("embedding cosine: pairs above tau, symmetric and deduplicated") {
    val pairs = Dedup.embeddingCosine(spark, sfDir).collect()
    pairs.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      assert(r.getDouble(2) >= Dedup.CosineTau && r.getDouble(2) <= 1.0 + 1e-12)
    }
    val keys = pairs.map(r => (r.getLong(0), r.getLong(1)))
    assert(keys.distinct.length == keys.length)
  }

  test("embedding cosine bucketed: subset of exact with bit-identical cosines; " +
      "equals exact on a planted-duplicate fixture") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(t => (t._1, t._2))
    // 1) driver fixture at the default tau: precision 1 — every
    //    bucketed pair appears in the exact set with the SAME cosine
    //    bits (identical sequential-fold arithmetic, the rerank just
    //    scores fewer pairs)
    val corpus = graft.sources.Tables.embeddings(spark, sfDir)
    val exact = canon(Dedup.embeddingCosineOn(corpus))
    val bucketed = canon(Dedup.embeddingCosineBucketedOn(corpus))
    val exactSet = exact.toSet
    assert(bucketed.forall(exactSet.contains),
      "bucketed emitted a pair (or cosine bits) outside the exact set")
    // 2) planted-duplicate fixture at high tau: the qualifying pairs
    //    are near-identical clones (theta -> 0, so every sign bit
    //    agrees and recall is 1) on an isotropic background whose
    //    random cosines sit far below tau — bucketed == exact EXACTLY
    val nVec = 2000L
    val src = when(pmod(col("id"), lit(100L)) === 1L, col("id") - 1L)
      .otherwise(col("id"))
    val planted = spark.range(nVec).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(63)), i =>
        (((pmod(xxhash64(src, i, lit(77L)), lit(2001L)).cast("double") - 1000.0) / 1000.0)
          + (pmod(xxhash64(col("id"), i, lit(78L)), lit(201L)).cast("double") - 100.0) / 1000000.0)
          .cast("float")).as("embedding"))
    val tau = 0.95
    val pExact = canon(Dedup.embeddingCosineOn(planted, tau))
    val pBucketed = canon(Dedup.embeddingCosineBucketedOn(planted, tau))
    assert(pExact.length == 20, s"fixture must plant 20 dup pairs, got ${pExact.length}")
    assert(pBucketed.sameElements(pExact),
      "bucketed diverged from exact on the planted-duplicate fixture")
    // 3) the size switch routes small corpora to the exact form and
    //    big ones to the bucketed form
    assert(canon(Dedup.embeddingCosineAuto(planted, tau)).sameElements(pExact))
    assert(canon(Dedup.embeddingCosineAuto(planted, tau, exactMax = 100L))
      .sameElements(pBucketed))
    // 4) empty corpus: schema-stable empty result
    assert(Dedup.embeddingCosineBucketedOn(planted.limit(0)).count() == 0L)
  }

  test("semantic dedup: planted duplicate vector dropped, survivors pairwise-clean in-cell") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val corpus = graft.sources.Tables.embeddings(spark, sfDir)
    // plant an exact duplicate of an existing vector under a HIGHER id:
    // identical vectors always land in the same cell (same argmax,
    // deterministic tiebreak), so the cut must drop the clone
    val srcRow = corpus.orderBy(col("vec_id")).limit(1)
    val cloneId = corpus.agg(max(col("vec_id"))).collect()(0).getLong(0) + 1L
    val clone = srcRow.withColumn("vec_id", lit(cloneId))
    val planted = corpus.unionByName(clone)
    val survivors = graft.operators.Dedup.semanticDedupOn(planted)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(!survivors.map(_._1).contains(cloneId), "planted clone must be cut")
    // within-cell survivor pairs must all sit below tau: recompute the
    // exact pair list over the survivor subset, restricted to same cell
    val survDf = survivors.toSeq.toDF("vec_id", "cell")
    val above = graft.operators.Dedup.embeddingCosineOn(
        planted.join(survDf, "vec_id"))
      .join(survDf.select(col("vec_id").as("vec_a"), col("cell").as("cell_a")), "vec_a")
      .join(survDf.select(col("vec_id").as("vec_b"), col("cell").as("cell_b")), "vec_b")
      .filter(col("cell_a") === col("cell_b"))
    assert(above.count() == 0, "two same-cell survivors above tau")
    // survivors + dropped partition the corpus ids
    assert(survivors.map(_._1).distinct.length == survivors.length)
    assert(survivors.length <= planted.count())
  }

  test("incremental dedup vs index: new-only survivors, index grows, ds replay idempotent") {
    import spark.implicits._
    def docs(rows: (Long, String)*): org.apache.spark.sql.DataFrame =
      rows.toDF("doc_id", "text")
    val index = java.nio.file.Files.createTempDirectory("graft_dedup_idx").toString + "/idx"

    // day 1: one internal dup -> 2 survivors, index seeded with 2 hashes
    val d1 = Dedup.incrementalExactVsIndex(
      docs((1L, "alpha"), (2L, "beta"), (3L, "alpha")), "2024-01-01", index)
    assert(d1.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
    assert(spark.read.parquet(index).count() == 2)

    // day 2: one doc already in the index, one new, one internal dup pair
    val d2 = Dedup.incrementalExactVsIndex(
      docs((10L, "alpha"), (11L, "gamma"), (12L, "gamma")), "2024-01-02", index)
    assert(d2.select("doc_id").collect().map(_.getLong(0)).toSeq == Seq(11L))
    assert(spark.read.parquet(index).count() == 3)

    // replay day 2: identical survivors, index unchanged (NOT emptied --
    // the seen-set excludes today's own partition)
    val d2b = Dedup.incrementalExactVsIndex(
      docs((10L, "alpha"), (11L, "gamma"), (12L, "gamma")), "2024-01-02", index)
    assert(d2b.select("doc_id").collect().map(_.getLong(0)).toSeq == Seq(11L))
    assert(spark.read.parquet(index).count() == 3)

    // the incremental path composes to the same answer as a global dedup:
    // all survivors across days == exactOn over the union
    val allDocs = docs((1L, "alpha"), (2L, "beta"), (3L, "alpha"),
      (10L, "alpha"), (11L, "gamma"), (12L, "gamma"))
    assert(spark.read.parquet(index).select("content_hash").distinct().count() ==
      Dedup.exactOn(allDocs).count())
  }

  test("incremental dedup query: survivors disjoint from other sources, internally unique") {
    val out = Dedup.incrementalExact(spark, sfDir).cache()
    val docs = sources.Tables.documents(spark, sfDir)
    import org.apache.spark.sql.functions._
    // every survivor is from the new source and its hash never appears elsewhere
    assert(out.filter(col("source") =!= "src0").count() == 0)
    val otherHashes = docs.filter(col("source") =!= "src0")
      .select(md5(col("text").cast("binary")).as("content_hash"))
    assert(out.join(otherHashes, Seq("content_hash"), "left_semi").count() == 0)
    // internally unique on content
    assert(out.select("content_hash").distinct().count() == out.count())
    out.unpersist()
    ()
  }

  test("decontaminate: drops exactly the flagged train docs, keeps eval side out") {
    import org.apache.spark.sql.functions._
    val docs = sources.Tables.documents(spark, sfDir)
    val train = docs.filter(col("source") =!= "src0")
    val flagged = Dedup.contaminationOn(docs, "src0")
      .filter(col("eval_containment") >= Dedup.ContamTau)
      .select(col("train_doc_id").as("doc_id")).distinct()
    val cleaned = Dedup.decontaminate(spark, sfDir)
    assert(cleaned.count() == train.count() - flagged.count())
    // no flagged doc survives; no eval doc sneaks in
    assert(cleaned.join(flagged, Seq("doc_id"), "left_semi").count() == 0)
    assert(cleaned.filter(col("source") === "src0").count() == 0)
    // tau = 1.1 flags nothing -> identity on the train side
    val loose = Dedup.decontaminate(spark, sfDir, tau = 1.1)
    assert(loose.count() == train.count())
  }

  test("incremental index: empty first day does not wedge; shrunk replay retires its partition") {
    import spark.implicits._
    def docs(rows: (Long, String)*): org.apache.spark.sql.DataFrame =
      rows.toDF("doc_id", "text")
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val index = java.nio.file.Files.createTempDirectory("graft_dedup_idx2").toString + "/idx"

    // day 1 has NO rows: the index dir exists afterwards but holds no
    // partitions — day 2 must treat it as an empty index, not corrupt
    assert(Dedup.incrementalExactVsIndex(empty, "2024-01-01", index).count() == 0)
    val d2 = Dedup.incrementalExactVsIndex(docs((1L, "alpha")), "2024-01-02", index)
    assert(d2.count() == 1)
    assert(spark.read.parquet(index).count() == 1)

    // replay day 2 with a slice whose content is now ALREADY indexed
    // elsewhere-equivalent: shrink it to zero survivors — the stale
    // ds=2024-01-02 partition must be retired, not left suppressing
    // future docs
    assert(Dedup.incrementalExactVsIndex(empty, "2024-01-02", index).count() == 0)
    // the partition dir is gone (the index is now legitimately empty —
    // reading a partition-less parquet dir throws, so assert on the FS)
    assert(!new java.io.File(s"$index/ds=2024-01-02").exists())
    // a later day can re-admit the content day 2 no longer claims...
    // (its hash only lives in partitions that still claim it)
    val d3 = Dedup.incrementalExactVsIndex(docs((9L, "alpha")), "2024-01-03", index)
    assert(d3.count() == 1)
  }

  test("source sim: union signature is the elementwise min of per-doc signatures") {
    import org.apache.spark.sql.functions._
    val docs = sources.Tables.documents(spark, sfDir)
    val perDoc = docs
      .select(col("source"), col("doc_id"),
        explode(call_function("hashed_word_ngrams", col("text"), lit(3))).as("g"))
      .groupBy("source", "doc_id")
      .agg(call_function("minhash_sketch", col("g")).as("sig"))
      .collect().map(r => r.getAs[String]("source") -> r.getSeq[Long](r.fieldIndex("sig")).toList)
    val merged = perDoc.groupBy(_._1).map { case (src, sigs) =>
      src -> sigs.map(_._2).reduce((a, b) =>
        a.zip(b).map { case (x, y) =>
          if (java.lang.Long.compareUnsigned(x, y) <= 0) x else y })
    }
    val direct = docs
      .select(col("source"),
        explode(call_function("hashed_word_ngrams", col("text"), lit(3))).as("g"))
      .groupBy("source")
      .agg(call_function("minhash_sketch", col("g")).as("sig"))
      .collect().map(r => r.getAs[String]("source") -> r.getSeq[Long](r.fieldIndex("sig")).toList).toMap
    merged.foreach { case (src, sig) =>
      assert(direct(src) == sig,
        s"min-merge of per-doc signatures must equal the direct source signature ($src)")
    }
  }

  test("boilerplate cut: shared chunks dropped everywhere, unique bodies kept verbatim, " +
      "reassembly order-stable, all-boilerplate doc empties") {
    import spark.implicits._
    // 8-word header shared by 4 docs (>= threshold 3), 8-word footer
    // shared by only 2 (below threshold, must survive), unique bodies
    val header = "this page is part of the site archive"
    val footer = "contact the site team for takedown requests now"
    def body(i: Long) = (1 to 8).map(j => s"w${i}_$j").mkString(" ")
    val docs = (
      (1L to 4L).map(i => (i, s"$header ${body(i)}")) ++
      Seq((5L, s"${body(5)} $footer"), (6L, s"${body(6)} $footer"),
          (7L, header)) // doc 7 is ONLY the boilerplate header
    ).toDF("doc_id", "text")
    val out = Dedup.boilerplateCutOn(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out.size == 7)
    (1L to 4L).foreach { i =>
      assert(out(i) == ((2L, 1L, body(i))), s"doc $i must lose only the header")
    }
    // footer df=2 < 3: both docs keep everything, order preserved
    assert(out(5L) == ((2L, 0L, s"${body(5)} $footer")))
    assert(out(6L) == ((2L, 0L, s"${body(6)} $footer")))
    // a doc that is pure boilerplate survives as a row with empty text
    assert(out(7L) == ((1L, 1L, "")))
    // determinism
    val again = Dedup.boilerplateCutOn(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(again == out)
    // driver corpus: every doc accounted for, chunk arithmetic consistent
    val drv = Dedup.boilerplateCut(spark, sfDir).cache()
    val docsN = sources.Tables.documents(spark, sfDir).count()
    assert(drv.count() == docsN)
    drv.collect().foreach { r =>
      val (n, d) = (r.getLong(1), r.getLong(2))
      assert(n >= 1 && d >= 0 && d <= n)
      val kept = r.getString(3)
      if (d == n) assert(kept.isEmpty)
    }
    drv.unpersist()
  }

  test("source sim driver key: estimates bounded, exact jaccard consistent with counts") {
    val rows = Dedup.dedupSourceSim(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (common, na, nb) = (r.getAs[Long]("n_common"),
        r.getAs[Long]("n_a"), r.getAs[Long]("n_b"))
      assert(common >= 1 && common <= math.min(na, nb))
      val ex = r.getAs[Double]("exact_jaccard")
      assert(ex == common.toDouble / (na + nb - common))
      val lanes = r.getAs[Int]("matching_lanes")
      assert(lanes >= 0 && lanes <= graft.functions.MinHashFamily.K)
      assert(r.getAs[Double]("est_jaccard") == lanes.toDouble / graft.functions.MinHashFamily.K)
    }
  }
}
