package graft

/** r7 advice: the plain driver-key forms of the cache-carrying
  * operators used to pin one corpus-sized cache per call for the rest
  * of the session (persistedTrigramSets / semanticDedup /
  * aggHeavyHitters). The driver keys now route through the WithHandle
  * variants and release the pin after staging their (small) result
  * durably — these specs assert the observable: no NEW persistent RDD
  * survives a full driver-key run. The snapshot-diff form (instead of
  * asserting global emptiness) keeps the spec independent of caches
  * other suites legitimately hold on the shared session.
  */
class CacheHygieneSpec extends SparkSpecBase {

  private def assertNoNewPins(name: String): Unit = {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    // run the key exactly as the driver does: build, then materialize
    SparkEntry.queries(name)(spark, sfDir).collect()
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty,
      s"driver key $name left pinned RDDs ${leaked.toSeq.sorted} in the session")
  }

  test("dedup_ngram_jaccard releases its trigram-set cache") {
    assertNoNewPins("dedup_ngram_jaccard")
  }

  test("dedup_semantic releases its IVF index cache") {
    assertNoNewPins("dedup_semantic")
  }

  test("agg_heavy_hitters releases its CMS term-count cache") {
    assertNoNewPins("agg_heavy_hitters")
  }

  test("graph_pagerank's hybrid tier releases its persisted edge index") {
    // edge threshold 0 skips the driver tier; the default node
    // threshold keeps the fixture on the node-bounded hybrid tier
    spark.conf.set("spark.graft.graph.localEdgeThreshold", "0")
    try assertNoNewPins("graph_pagerank")
    finally spark.conf.unset("spark.graft.graph.localEdgeThreshold")
  }
}
