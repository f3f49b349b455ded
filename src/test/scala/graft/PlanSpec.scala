package graft

import org.apache.spark.sql.DataFrame
import graft.operators.{AnnIndex, Dedup, Etl, Similarity}
import graft.operators.AnnSearch.Radius
import graft.queries.Analytics

/** Physical-plan assertions: the properties that keep these operators
  * proportional to the query at 100 TB — pushdown, pruning, broadcast
  * dims, no accidental cartesian products, codegen coverage. */
class PlanSpec extends SparkSpecBase {

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def optimized(df: DataFrame): String =
    df.queryExecution.optimizedPlan.toString

  /** The plans a compressed tier's eager top-k executes
    * ([[ExecutedPlans]]; the answer's own plan is a local scan), its
    * tail checked: the last two executions are the heap merge (the
    * candidate scan with its per-partition heaps) and the exact scoring
    * pass, and neither shuffles nor ranks — no Exchange, no Window. */
  private def topKPlans(what: String)(body: => Any): Seq[String] = {
    val plans = ExecutedPlans.of(spark)(body)
    val tail = plans.takeRight(2)
    assert(tail.size == 2,
      s"$what: wanted the heap merge and the scoring pass, ran:\n${plans.mkString("\n---\n")}")
    assert(tail.head.contains("MapPartitions"), s"$what: heap cut missing:\n${tail.head}")
    tail.foreach { p =>
      assert("\\bExchange\\b".r.findFirstIn(p).isEmpty && !p.contains("ShuffleQueryStage"),
        s"$what: the top-k tail shuffles:\n$p")
      assert(!p.contains("Window"), s"$what: the top-k tail ranks in a window:\n$p")
    }
    plans
  }

  /** AQE hides codegen stages until the plan finalizes — execute
    * first, then read the final adaptive plan. */
  private def finalPlan(df: DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  test("q1: shipdate filter reaches the parquet scan; schema pruned") {
    val p = plan(Analytics.q1PricingSummary(spark, sfDir))
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"filter not pushed:\n$p")
    // pruned scan: untouched columns are absent from ReadSchema
    assert(!p.contains("l_comment") && !p.contains("l_orderkey"),
      "scan reads columns q1 never touches")
    val fp = finalPlan(Analytics.q1PricingSummary(spark, sfDir))
    assert(fp.contains("WholeStageCodegen") || fp.contains("*("),
      "aggregation fell out of codegen")
  }

  test("q3: all three pre-join filters are pushed to their scans") {
    val p = plan(Analytics.q3ShippingPriority(spark, sfDir))
    assert(p.contains("PushedFilters: [IsNotNull(c_mktsegment), EqualTo(c_mktsegment,BUILDING)"))
    assert(p.contains("LessThan(o_orderdate"))
    assert(p.contains("GreaterThan(l_shipdate"))
  }

  test("q5: bounded dims join via broadcast; no cartesian anywhere") {
    val p = plan(Analytics.q5LocalSupplier(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"), s"no broadcast join:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("etl operators: single-shuffle shapes, no cartesian") {
    Seq(
      Etl.normalize(spark, sfDir),
      Etl.hourlyRollup(spark, sfDir),
      Etl.keepLatest(spark, sfDir),
      Etl.dqReport(spark, sfDir)
    ).foreach { df =>
      val p = plan(df)
      assert(!p.contains("CartesianProduct"), s"cartesian in:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"BNLJ in:\n$p")
    }
  }

  test("ngram jaccard: candidate generation is an equi-join, not a cross join") {
    // the driver key stages its result to scratch (r8 cache hygiene),
    // so ITS plan is just a FileScan — assert on the pre-staging form,
    // which is the plan that actually computes the pairs
    val (pairs, handle) = Dedup.ngramJaccardWithHandle(
      graft.sources.Tables.documents(spark, sfDir))
    try {
      val p = plan(pairs)
      assert(!p.contains("CartesianProduct"),
        "prefix-filter self-join degenerated into a cartesian product")
      // the prefix join must be a hash-partitioned equi join on the shingle
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
        p.contains("BroadcastHashJoin"), s"unexpected join strategy:\n$p")
    } finally handle.unpersist()
  }

  test("minhash lsh: bucket join is an equi-join on (band, bucket)") {
    val p = optimized(Dedup.minhashLsh(spark, sfDir))
    assert(!p.contains("CartesianProduct"))
    // optimized plan keeps the equality condition on band and bucket
    assert(p.contains("band") && p.contains("bucket"))
  }

  test("knn bruteforce: query side is broadcast, corpus scanned once") {
    val p = plan(graft.operators.Similarity.knnBruteforce(spark, sfDir))
    assert(p.contains("BroadcastNestedLoopJoin"),
      "expected broadcast nested loop against the tiny query set")
    assert(p.contains("Exchange") || p.contains("Window"))
  }

  test("knn ivf: cell assignment is a closure-codebook scan, not a window or join") {
    val p = plan(graft.operators.Similarity.knnIvf(spark, sfDir))
    // two windows remain by design (query->probe-cells ranking and the
    // final top-k); the two corpus-sized nearest-cell assignments must
    // plan as mapPartitions scans over the broadcast-in-closure
    // codebook — no per-vector row_number window, no n*C join/agg
    // (count Window operator nodes, not WindowGroupLimit helper nodes)
    assert("Window \\[".r.findAllIn(p).size <= 2,
      s"corpus-sized assignment regressed to a window sort:\n$p")
    assert(p.contains("MapPartitions"),
      s"expected closure-codebook mapPartitions assignment:\n$p")
    assert(!p.contains("max_by"),
      s"assignment regressed to the n*C join+max_by aggregate:\n$p")
  }

  test("knn graph: staged index feeds both sides, probes via closure scan, no product") {
    val p = plan(graft.operators.Similarity.knnGraph(spark, sfDir))
    // the self-join's candidate generation must be an equi-join on the
    // cell key — never a cartesian/BNLJ (probes are corpus-sized, so a
    // broadcast-nested-loop here would be the n^2 trap the IVF cut
    // exists to avoid at scale; on this tiny fixture AQE may still
    // pick a broadcast HASH join, which keeps the equi-key)
    assert(!p.contains("CartesianProduct"), s"knn graph went cartesian:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"knn graph candidate join lost its equi-key:\n$p")
    // probe derivation is the closure-codebook scan, not a n*C window
    assert(p.contains("MapPartitions"),
      s"expected closure-codebook probe assignment:\n$p")
    // both join sides read the ONE staged index parquet — the IVF
    // build must not run twice
    assert("knn_graph_idx".r.findAllIn(p).size >= 2,
      s"staged index not consumed by both sides:\n$p")
  }

  test("scd2 enrich: temporal join is an equi-join on the key, containment as filter") {
    val p = plan(graft.operators.Etl.scd2Enrich(spark, sfDir))
    // the as-of join must keep its user_id equi-key (per-key intervals
    // are change-count-bounded) — a lost key here degrades to a
    // nested-loop over fact x all-intervals
    assert(!p.contains("CartesianProduct"), s"scd2 enrich went cartesian:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"scd2 enrich lost its equi-key:\n$p")
  }

  test("vec covariance: map-side partial aggregation, means broadcast, no product") {
    val p = plan(graft.operators.Similarity.vecCovariance(spark, sfDir))
    // the n*d^2/2 generated pair terms must collapse to the d^2/2
    // cells BEFORE any exchange (partial decimal sums), and the d-row
    // means frames must ride in as broadcast joins
    assert(p.contains("partial_sum"),
      s"pair products shuffled raw instead of partial-aggregating:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"means not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("vec quantize: pruned single-column scan, ranges broadcast, " +
      "map-side partials, no product") {
    val p = plan(graft.operators.Quantize.vecQuantize(spark, sfDir))
    assert(p.contains("ReadSchema: struct<embedding:array<float>>"),
      s"scan reads more than the embedding column:\n$p")
    assert(p.contains("partial_sum") || p.contains("partial_count"),
      s"per-element error terms shuffled raw instead of partial-aggregating:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"d-row ranges not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("lpa report: one bounded window, one bounded totals attach, no " +
      "per-node rank window anywhere") {
    // per-round lineage is checkpoint-truncated by design (the kcore
    // discipline), so the report plan audits the REPORT: the only
    // Window must be the 10-row rank, the only nested-loop join the
    // 10-row × 1-row totals attach — a corpus-sized window or product
    // here would mean the mode argmax regressed from the struct-min
    // aggregate to a rank window
    // pin the DISTRIBUTED path: the r20 driver fast path serves
    // sub-threshold graphs from a collected walk, which collapses this
    // plan to a LocalTableScan — the distributed shape this test
    // audits is the 100 TB path, reachable only with the gate off
    // (the DedupSpec loop-contract discipline)
    spark.conf.set("spark.graft.graph.localEdgeThreshold", "0")
    val p =
      try plan(graft.operators.Graph.lpaOn(
        { import spark.implicits._
          Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("u", "v") }, rounds = 1))
      finally spark.conf.unset("spark.graft.graph.localEdgeThreshold")
    assert(!p.contains("CartesianProduct"))
    assert("Window \\[".r.findAllIn(p).length == 1,
      s"expected exactly the bounded report window:\n$p")
    // two bounded products by construction: the 1-row × 1-row totals
    // build and the 10-row × 1-row report attach (the kcore shape)
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length <= 2,
      s"expected only the bounded totals build + attach:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-K must be a TakeOrdered, not a global sort:\n$p")
  }

  test("lpa report: driver fast path serves the sub-threshold graph as " +
      "a bounded local relation — no exchange below the report") {
    // the twin of the distributed pin above: under the (default) gate
    // the walk runs on the driver and the report input is a
    // LocalTableScan — the full LPA walk must NOT appear in the plan
    val p = plan(graft.operators.Graph.lpaOn(
      { import spark.implicits._
        Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("u", "v") }, rounds = 1))
    assert(p.contains("LocalTableScan"),
      s"sub-threshold graph did not take the driver fast path:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"driver-path report should join nothing corpus-sized:\n$p")
  }

  test("native expressions stay inside whole-stage codegen") {
    val p = finalPlan(graft.operators.TextAnalysis.textFingerprint(spark, sfDir))
    assert(p.contains("WholeStageCodegen") || p.contains("*("),
      s"fingerprint fell out of codegen:\n$p")
    assert(p.contains("poly_hash64") && p.contains("rolling_min_hash"))
  }

  test("bucketed tables join without a shuffle exchange") {
    import org.apache.spark.sql.functions._
    import graft.operators.Sinks
    // warehouse is per-JVM (GraftSession), so dropping the catalog
    // entry is sufficient cleanup for re-runs within this JVM
    Seq("orders_b", "lineitem_b").foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    val ord = sources.Tables.orders(spark, sfDir).select("o_orderkey", "o_custkey", "o_totalprice")
    val li = sources.Tables.lineitem(spark, sfDir).select("l_orderkey", "l_quantity")
    Sinks.writeBucketed(ord, "orders_b", "o_orderkey", 4)
    Sinks.writeBucketed(li.withColumnRenamed("l_orderkey", "o_orderkey"), "lineitem_b", "o_orderkey", 4)
    // disable auto-broadcast so the test exercises the co-located
    // shuffle-join path that bucketing exists for (at test scale AQE
    // would otherwise just broadcast the small side)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("orders_b").join(spark.table("lineitem_b"), "o_orderkey")
        .groupBy("o_custkey").agg(sum("l_quantity"))
      joined.collect()
      val full = joined.queryExecution.executedPlan.toString
      // AQE's string repeats the pre-adaptive plan after an
      // "== Initial Plan ==" marker — assert only on the final plan
      val p = full.split("== Initial Plan ==")(0)
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"))
      // co-located layout: no Exchange may feed the join — the only
      // exchange allowed is the post-join aggregation's, which sits
      // ABOVE the join in the plan text
      val joinPart = p.substring(p.indexOf("Join"))
      assert(!joinPart.contains("Exchange"),
        s"bucketed join still shuffles:\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("vec_dot native kernel is bit-identical to the higher-order fold") {
    import org.apache.spark.sql.functions._
    import graft.functions.{VectorOps => V}
    val v = sources.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), V.toDouble(col("embedding")).as("e"))
    val both = v.select(col("vec_id"),
        V.dot(col("e"), col("e")).as("native"),
        V.dotHof(col("e"), col("e")).as("hof"))
      .collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(1)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(2)),
        s"vec_dot diverges from reference fold for vec ${r.getLong(0)}")
    }
  }

  test("normalizeArrays: one shuffle (the payload groupBy), gates stay in the projection") {
    val df = Etl.normalizeArrays(Etl.arrayPayloads(spark, sfDir))
    val p = plan(df)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    // exactly one exchange: the per-ds payload aggregate; parse+gate+
    // explode are narrow
    assert(p.split("Exchange hashpartitioning").length - 1 == 1,
      s"expected exactly one hash exchange:\n$p")
    // the DQ gate (raise_error) must survive optimization — it is the
    // explode input, not a dead projection the optimizer can drop
    assert(optimized(df).contains("raise_error"), "DQ gate optimized away")
  }

  test("contamination: per-branch source filters push to the scan; eval side broadcast") {
    // other suites may have cached frames over the same parquet in the
    // shared session; CacheManager would substitute them into THIS plan
    // and turn the scan assertions order-dependent
    spark.catalog.clearCache()
    val df = Dedup.contamination(spark, sfDir)
    val p = plan(df)
    // the gram subtree feeds three branches UNPERSISTED by design (see
    // contaminationOn scaladoc): each branch must push its source
    // filter below the explode into the parquet scan, so a branch
    // derives only its own slice
    // loose on filter ORDER (the optimizer may reorder the pushed
    // list); the point is that the eval-slice predicate reaches a scan
    assert(p.contains("EqualTo(source,src0)"),
      s"eval-slice filter not pushed to scan:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"eval side not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("InMemoryTableScan"),
      "corpus-sized posting cache reappeared — see contaminationOn scaladoc")
  }

  test("per-source cap: streaming group top-K, wide columns never shuffle") {
    val p = plan(Etl.sampleCapPerSource(spark, sfDir))
    // rank<=cap must plan as WindowGroupLimit (bounded per-group state,
    // no full per-group sort spill) — and on BOTH sides of the
    // Exchange (map-side partial limit caps what shuffles)
    assert("WindowGroupLimit".r.findAllIn(p).size >= 2,
      s"cap window did not lower to map+final WindowGroupLimit:\n$p")
    // the window shuffle carries the narrow projection only: text
    // appears in the probe-side scan, never below the window Exchange
    val exchangeSub = p.substring(p.indexOf("Exchange"))
    assert(!exchangeSub.substring(exchangeSub.indexOf("WindowGroupLimit"))
      .contains("text#"),
      "document text rides the cap shuffle — narrow projection lost")
    assert(!p.contains("CartesianProduct"))
  }

  test("chunking: shuffle-free generator, fully codegen") {
    val df = graft.operators.TrainPrep.chunkDocuments(spark, sfDir)
    val p = finalPlan(df)
    assert(!p.contains("Exchange"),
      s"chunking must not shuffle — it is a per-row generator:\n$p")
    assert(p.contains("Generate"), s"no generator in plan:\n$p")
    assert(!p.contains("transform"),
      "lambda higher-order function in the chunk path (interpreted)")
  }

  test("stateful sessionizer batch: shuffles on user_id only, no cartesian") {
    val p = plan(graft.streaming.Streams.sessionizeBatch(spark, sfDir))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    // in batch mode flatMapGroupsWithState lowers to MapGroups (the
    // streaming form lowers to FlatMapGroupsWithStateExec)
    assert(p.contains("MapGroups"), s"stateful fold missing from plan:\n$p")
  }

  test("bloom join: probe-side might_contain filters BELOW the join; price filter pushed") {
    val df = graft.operators.BloomJoin.qBloomJoin(spark, sfDir)
    val p = plan(df)
    assert(p.contains("might_contain"), s"bloom probe missing from plan:\n$p")
    assert(p.contains("GreaterThan(o_totalprice"), "build-side filter not pushed to scan")
    // the bloom test must sit under the join, not above it: in the
    // string rendering the Filter(might_contain) line appears after
    // (deeper than) the join node it feeds
    val joinAt = p.indexOf("Join")
    val bloomAt = p.indexOf("might_contain")
    assert(joinAt >= 0 && bloomAt > joinAt,
      "might_contain did not stay on the probe branch below the join")
    assert(!p.contains("CartesianProduct"))
  }

  test("zorder layout: pure projection + one aggregation exchange, fully codegen") {
    val df = graft.operators.Layout.qZorderLayout(spark, sfDir)
    val p = plan(df)
    assert(!p.contains("CartesianProduct") && !p.contains("Window"),
      s"layout key must be a stateless projection:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"expected exactly the aggregation exchange:\n$p")
    val fp = finalPlan(df)
    assert(fp.contains("WholeStageCodegen") || fp.contains("*("),
      "bit-interleave fell out of codegen")
  }

  test("surrogate keys: no unpartitioned window — every task numbers its own slice") {
    val df = graft.operators.Keys.etlSurrogateKeys(spark, sfDir)
    val p = plan(df)
    // the whole point: EVERY window is __pid-partitioned, never global
    // — check each windowspecdefinition occurrence directly (a paired
    // "contains A / contains B" form is tautological once A holds)
    val specs = "windowspecdefinition\\(([^,)]*)".r
      .findAllMatchIn(p).map(_.group(1)).toList
    assert(specs.nonEmpty, s"no window found in the plan:\n$p")
    specs.foreach(first => assert(first.startsWith("__pid"),
      s"window partitioned on '$first', not __pid — global window detected:\n$p"))
    assert(!p.contains("CartesianProduct"))
  }

  test("cluster holdout: split stage is join+projection only — no shuffle, labels broadcast") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val labels = Seq((1L, 1L), (2L, 1L), (7L, 7L)).toDF("doc_id", "cluster_id")
    val docs = spark.range(1000).select(col("id").as("doc_id"),
      concat(lit("src"), pmod(col("id"), lit(5L))).as("source"))
    val fp = finalPlan(Dedup.clusterHoldoutOn(docs, labels))
    // the leakage-free split must stay scan-bound on top of the
    // (separately audited) cluster closure: one broadcast join, zero
    // shuffle exchanges, no product
    assert(!fp.contains("Exchange hashpartitioning"),
      s"cluster holdout introduced a shuffle — must be scan-bound:\n$fp")
    assert(fp.contains("BroadcastHashJoin"), s"labels side not broadcast:\n$fp")
    assert(!fp.contains("CartesianProduct"))
  }

  test("interval join: binned equi-join on bin, overlap as filter, no cartesian") {
    val df = graft.operators.RangeJoin.qIntervalJoin(spark, sfDir)
    val p = plan(df)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"interval join fell into a product:\n$p")
    // the overlap predicate must ride an equi-join keyed on the bin
    assert(p.contains("bin"), s"bin key missing from the join:\n$p")
  }

  test("hilbert layout: pure projection + one aggregation exchange, fully codegen") {
    val df = graft.operators.Layout.qHilbertLayout(spark, sfDir)
    val p = plan(df)
    assert(!p.contains("CartesianProduct") && !p.contains("Window"),
      s"layout key must be a stateless projection:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"expected exactly the aggregation exchange:\n$p")
    val fp = finalPlan(df)
    assert(fp.contains("WholeStageCodegen") || fp.contains("*("),
      "hilbert walk fell out of codegen")
  }

  test("compaction plan: one inventory shuffle, day-partitioned windows only") {
    val df = graft.operators.Layout.qCompaction(spark, sfDir)
    val p = plan(df)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    // every window is day-prefixed — a global window over the
    // inventory would serialize the metadata pass
    assert(!p.contains("windowspecdefinition(hr"),
      s"window lost its day partitioning:\n$p")
    // exactly one corpus-sized exchange (the (day,hr) inventory agg);
    // the day-window re-exchange moves only inventory rows
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 2,
      s"unexpected extra exchanges:\n$p")
  }

  test("key skew: two-stage agg, bounded summary broadcast, no corpus re-scan join") {
    val df = graft.operators.Skew.dqKeySkew(spark, sfDir)
    val p = plan(df)
    // the only join is the documented 1-row-summary cross join
    assert(!p.contains("CartesianProduct"), s"cartesian in:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"summary must broadcast, not shuffle:\n$p")
    // top-K is a TakeOrdered, never a global sort of the counts
    assert(p.contains("TakeOrderedAndProject"), s"top-K fell into a global sort:\n$p")
  }

  test("cdc->scd2: one key exchange shared by both windows, user-partitioned only") {
    val df = Etl.cdcScd2(spark, sfDir)
    val p = plan(df)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    // the lag (change points) and lead (interval close) windows must
    // share ONE user_id exchange — a second shuffle would double the
    // corpus movement scd2's plan-shape contract forbids
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"scd2Changelog should reuse one key exchange:\n$p")
    // no window may lose its user partitioning to the struct fold
    assert(!p.contains("windowspecdefinition(ts#") &&
      !p.contains("windowspecdefinition(__scd_state"),
      s"window lost its user_id partitioning:\n$p")
  }

  test("minhash guard: sketch pipeline staged once, claim-keyed agg, anti-join broadcast") {
    val df = graft.streaming.Streams.minhashGuardBatch(spark, sfDir)
    val p = plan(df)
    assert(!p.contains("CartesianProduct"))
    // the shingle-explode + sketch pipeline runs ONCE at staging time;
    // both claim branches must read the materialization, never
    // re-derive signatures (the staged-plan contract from PLANS.md)
    assert(!p.contains("minhash_sketch"),
      s"guard result plan re-derives signatures instead of reading the staging:\n$p")
    assert("graft_mh_guard_bb".r.findAllIn(p).nonEmpty,
      s"guard must read its staged bucket frame:\n$p")
    // dropped doc_ids are request-bounded: the anti-join broadcasts
    assert(p.contains("BroadcastHashJoin LeftAnti") || p.contains("LeftAnti"),
      s"survivor cut must be an anti-join:\n$p")
  }

  test("cube: grouping-set expand stays below the partial aggregate") {
    val df = Analytics.qCube(spark, sfDir)
    val p = plan(df)
    assert(p.contains("Expand"), s"cube lost its expand:\n$p")
    // one shuffle: partial agg above the expand, final after exchange
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"cube should aggregate on one exchange:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("stream hist quantiles batch twin: histogram shuffle, window-partitioned only") {
    val df = graft.streaming.Streams.histQuantilesBatch(spark, sfDir)
    val p = plan(df)
    assert(!p.contains("CartesianProduct"), s"cartesian in:\n$p")
    // running counts must stay per-window — a global cum would
    // serialize every window's ≤Bins rows through one task
    assert(!"windowspecdefinition\\(b#".r.findFirstIn(p).isDefined,
      s"window lost its window_start partitioning:\n$p")
    // the 3-row target table joins broadcast, never shuffles the grid
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"),
      s"target join must broadcast:\n$p")
  }

  test("substring spans: posting shuffle + doc-keyed windows, no cartesian") {
    val p = plan(graft.operators.SubstringSpans.substringSpans(spark, sfDir))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    // islands windows must be doc-partitioned (never a global window)
    assert(!p.contains("windowspecdefinition(pos"),
      "window lost its doc_id partitioning")
    assert(p.contains("hashed_word_ngram_seq"), "native window hashing missing")
  }

  test("hll sketch aggregates partially before its exchange") {
    val df = graft.operators.Sketches.aggApproxNdv(spark, sfDir)
    val p = plan(df)
    // TypedImperativeAggregate lowers to ObjectHashAggregate with a
    // partial pass before the exchange — the map-side-combine shape
    // that keeps the shuffle at one register array per group
    assert(p.contains("ObjectHashAggregate"), s"sketch not aggregate-shaped:\n$p")
    assert(p.contains("partial_hll_ndv") || p.contains("partial_hllndv") ||
      "ObjectHashAggregate".r.findAllIn(p).size >= 2,
      s"no partial sketch pass before the exchange:\n$p")
  }

  test("cms heavy hitters: grid is broadcast to the probe; no cartesian") {
    // driver key stages to scratch (r8 cache hygiene) — assert on the
    // computing pre-staging form, then release its cache handle
    val (df, handle) = graft.operators.Sketches.aggHeavyHittersWithHandle(
      graft.sources.Tables.documents(spark, sfDir))
    try {
      val p = plan(df)
      assert(p.contains("BroadcastHashJoin"),
        s"the d×w counter grid must ride a broadcast, not an exchange:\n$p")
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    } finally handle.unpersist()
  }

  test("holdout split is a scan-bound projection — zero exchanges") {
    val df = Etl.sampleHoldoutSplit(spark, sfDir)
    val p = plan(df)
    assert(!p.contains("Exchange"), s"split assignment must not shuffle:\n$p")
    val fp = finalPlan(Etl.sampleHoldoutSplit(spark, sfDir))
    assert(fp.contains("WholeStageCodegen") || fp.contains("*("),
      "split projection fell out of codegen")
  }

  test("cdc apply: one shuffle on the key, no cartesian, tombstone filter above the window") {
    val p = plan(Etl.cdcApply(spark, sfDir))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    assert(p.sliding("Exchange".length).count(_ == "Exchange") <= 2, // shuffle + AQE read
      s"more than the one keyed shuffle:\n$p")
  }

  test("stream-stream join batch twin: shuffled EQUI-join on user_id, range as filter") {
    val p = plan(graft.streaming.Streams.attributeClicksBatch(spark, sfDir))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"interval condition degraded to a non-equi join:\n$p")
    // the type filters prune each side at its scan
    assert(p.contains("EqualTo(event_type,click)") &&
      p.contains("EqualTo(event_type,purchase)"), s"side filters not pushed:\n$p")
  }

  test("lm score: term join is hash-keyed, only the 1-row total broadcasts") {
    val p = plan(graft.operators.TextAnalysis.textLmScore(spark, sfDir))
    assert(!p.contains("CartesianProduct"))
    // the corpus-total crossJoin must stay a 1-row broadcast, never a
    // shuffled product of the term table
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"scalar total not broadcast:\n$p")
  }

  test("hist quantiles: the bucket table aggregates before its bounded window") {
    val df = graft.operators.Quantiles.aggHistQuantiles(spark, sfDir)
    val p = plan(df)
    assert(!p.contains("CartesianProduct"), s"cartesian in:\n$p")
    // partial aggregation runs before the exchange: the shuffle carries
    // <= Bins partial counts per partition, not data rows
    assert(p.contains("HashAggregate"), s"no hash aggregate:\n$p")
  }

  test("mixture epochs: per-source factors broadcast onto the scan, no corpus shuffle join") {
    val p = plan(Etl.sampleMixtureEpochs(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"), s"no broadcast join:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus-sized shuffle join:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in:\n$p")
  }

  test("stream topk batch twin: rank window partitioned by window_start, never global") {
    val p = plan(graft.streaming.Streams.topkBatch(spark, sfDir))
    assert(p.contains("HashAggregate"), s"no partial count agg:\n$p")
    assert(!p.contains("Exchange SinglePartition"), s"global sort window:\n$p")
  }


  test("graph triangles: adjacency joins hash-keyed, intersection in the projection") {
    // the corner core (pre-staging): adjacency build + probe joins
    val edges = graft.operators.Graph.coOrderEdges(spark, sfDir)
    val core = plan(graft.operators.Graph.triangleCorners(edges))
    assert(!core.contains("CartesianProduct"), s"cartesian in:\n$core")
    // the intersection rides the edge rows as a generator, never a
    // per-wedge shuffle: no join keyed on two corner columns
    assert(core.contains("array_intersect"), s"intersection core missing:\n$core")
    assert(core.contains("Generate explode"), s"corner explode missing:\n$core")
    // the report over the staged corners: bounded, TakeOrdered top-K
    val p = plan(graft.operators.Graph.graphTriangles(spark, sfDir))
    assert(!p.contains("CartesianProduct"), s"cartesian in:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-K fell into a global sort:\n$p")
  }

  test("graph pagerank: every iteration joins hash-keyed; no cartesian, no global window") {
    // thresholds 0 force the DISTRIBUTED iteration loop this test
    // audits (the r20 edge fast path and the r21 node-bounded hybrid
    // otherwise serve the test-scale graph as a LocalTableScan — see
    // the twin below)
    spark.conf.set("spark.graft.graph.localEdgeThreshold", "0")
    spark.conf.set("spark.graft.graph.localNodeThreshold", "0")
    val p =
      try plan(graft.operators.Graph.graphPagerank(spark, sfDir))
      finally {
        spark.conf.unset("spark.graft.graph.localEdgeThreshold")
        spark.conf.unset("spark.graft.graph.localNodeThreshold")
      }
    assert(!p.contains("CartesianProduct"), s"cartesian in:\n$p")
    // only the TopK-row report window may single-partition (lit(0))
    val specs = "windowspecdefinition\\(([^,)]*)".r.findAllMatchIn(p).map(_.group(1)).toList
    specs.foreach(first => assert(first.startsWith("0"),
      s"unexpected non-report window on '$first':\n$p"))
    assert(p.contains("TakeOrderedAndProject"), s"top-K fell into a global sort:\n$p")
  }

  test("graph pagerank: driver fast path serves the sub-threshold graph " +
      "as a bounded local relation") {
    val p = plan(graft.operators.Graph.graphPagerank(spark, sfDir))
    assert(p.contains("LocalTableScan"),
      s"sub-threshold graph did not take the driver fast path:\n$p")
    assert(!p.contains("Exchange"),
      s"driver-path report must not shuffle:\n$p")
  }


  test("fuzzy match: blocked equi-joins only — no cartesian, no nested-loop verify") {
    val df = graft.operators.Fuzzy.qFuzzyMatch(spark, sfDir)
    val p = plan(df)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"fuzzy join fell into a product:\n$p")
    // the levenshtein verify runs above the join, as a filter
    assert(p.contains("levenshtein"), s"verify filter missing:\n$p")
  }

  test("retention cohorts: user-keyed shuffles; weeks-bounded dim broadcasts") {
    val df = graft.queries.Analytics.qRetentionCohorts(spark, sfDir)
    val p = plan(df)
    assert(!p.contains("CartesianProduct"), s"cartesian in:\n$p")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastHashJoin"),
      s"cohort-size dim must broadcast:\n$p")
    assert(!p.contains("Window"), "retention needs no window pass")
  }

  test("snapshot diff: one full-outer join on the key, churn filter above it") {
    val df = graft.operators.Etl.etlSnapshotDiff(spark, sfDir)
    val p = plan(df)
    assert(!p.contains("CartesianProduct"), s"cartesian in:\n$p")
    assert(p.contains("FullOuter"), s"diff must be a full-outer join:\n$p")
  }


  test("frame dedup: posting filter below the pair join; fingerprint-keyed equi-joins") {
    val df = graft.operators.Multimodal.mmFrameDedup(spark, sfDir)
    val p = plan(df)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"pair join fell into a product:\n$p")
    // frames travel hashed: the join keys are fp64 columns, not slices
    assert(p.contains("poly_hash64"), s"fingerprint expression missing:\n$p")
  }


  test("fuzzy edit1: neighborhood join is a key-hashed equi-join with one dedup pass") {
    val df = graft.operators.Fuzzy.qFuzzyEdit1(spark, sfDir)
    val p = plan(df)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"neighborhood join fell into a product:\n$p")
    assert(p.contains("levenshtein"), s"verify filter missing:\n$p")
  }


  test("skyline: prefix-max runs pid-partitioned; no quadratic pair join, no global window") {
    val df = graft.operators.Skyline.qSkyline(spark, sfDir)
    val p = plan(df)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"skyline fell into the quadratic join:\n$p")
    // every window is partitioned on the frozen partition id
    val specs = "windowspecdefinition\\(([^,)]*)".r.findAllMatchIn(p).map(_.group(1)).toList
    specs.foreach(first => assert(first.startsWith("__pid"),
      s"window partitioned on '$first', not __pid — global window detected:\n$p"))
  }

  test("knn pq: codebook/distance-table joins broadcast; no cartesian") {
    val p = topKPlans("knnPq")(graft.operators.Pq.knnPq(spark, sfDir)).mkString("\n")
    assert(p.contains("BroadcastHashJoin"), s"no broadcast join:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"BNLJ in:\n$p")
  }

  test("merge into: one full-outer join on the keys, no exchange beyond the two snapshot windows") {
    val df = Etl.etlMergeInto(spark, sfDir)
    val p = plan(df)
    assert(p.contains("FullOuter"), s"merge must resolve via a full-outer join:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    // each snapshot window shuffles once on user_id; the join keys are
    // the same column, so the join must REUSE that partitioning — a
    // third exchange would re-shuffle both snapshots for nothing
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 2,
      s"merge join should ride the window exchanges:\n$p")
  }

  test("quality top-frac: no corpus-wide per-group rank; windows are histogram- and tie-cell-scoped") {
    val df = Etl.sampleQualityTopFrac(spark, sfDir)
    val p = plan(df)
    assert(!p.contains("CartesianProduct"))
    // exactly two windows: the running count over the (group, score)
    // histogram and the within-tie-cell ranking — the naive design's
    // corpus-wide rank window over (group) alone must not appear on
    // the row-level side (the row-level window partitions by BOTH)
    val windows = "Window ".r.findAllIn(p).size
    assert(windows == 2, s"expected 2 windows (verdict + tie cell), got $windows:\n$p")
    assert("row_number().*windowspecdefinition\\(__g.*, __s".r.findAllIn(p).nonEmpty,
      s"the row-level rank must partition by (group, score):\n$p")
  }

  test("kcore: report is a TakeOrdered over checkpointed peel state, not a global sort") {
    // threshold 0 forces the DISTRIBUTED peel loop this test audits
    // (the r20 driver fast path otherwise serves the test-scale graph
    // as a LocalTableScan — see the twin below)
    spark.conf.set("spark.graft.graph.localEdgeThreshold", "0")
    val p =
      try plan(graft.operators.Graph.graphKcore(spark, sfDir))
      finally spark.conf.unset("spark.graft.graph.localEdgeThreshold")
    assert(p.contains("TakeOrderedAndProject"), s"top-K fell into a global sort:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in:\n$p")
  }

  test("kcore: driver fast path serves the sub-threshold graph as a " +
      "bounded local relation") {
    val p = plan(graft.operators.Graph.graphKcore(spark, sfDir))
    assert(p.contains("LocalTableScan"),
      s"sub-threshold graph did not take the driver fast path:\n$p")
    assert(!p.contains("Exchange"),
      s"driver-path report must not shuffle:\n$p")
  }

  test("link predict: capped wedge join is an equi-join; existing edges cut by anti-join; top-K a TakeOrdered") {
    val df = graft.operators.Graph.graphLinkPredict(spark, sfDir)
    val p = plan(df)
    assert(p.contains("LeftAnti"), s"adjacency cut must be an anti-join:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-K fell into a global sort:\n$p")
  }

  test("knn_sq8: serving scan reads the staged codes, heap cut before " +
      "the bounded windows, no cartesian") {
    val plans = topKPlans("knnSq8")(graft.operators.Quantize.knnSq8(spark, sfDir))
    // the heap merge scans the STAGED compressed corpus for candidates
    val scan = plans.init.last
    assert(scan.contains("sq8_codes"), s"scan does not read the staged codes:\n$scan")
    // the lossless per-partition top-Rerank heap cut
    assert(scan.contains("MapPartitions"), s"heap cut missing:\n$scan")
    plans.foreach(p => assert(!p.contains("CartesianProduct"), s"cartesian in:\n$p"))
  }

  test("knn_ivf_sq8: probed-cell equi-join over the staged cell-tagged " +
      "codes, heap cut, no cartesian") {
    val plans = topKPlans("knnIvfSq8")(graft.operators.Quantize.knnIvfSq8(spark, sfDir))
    val scan = plans.init.last
    assert(scan.contains("ivf_sq8_codes"),
      s"scan does not read the staged cell-tagged codes:\n$scan")
    // candidate generation must keep the cell equi-key (probes are
    // bounded and broadcast; losing the key would BNLJ the corpus)
    plans.foreach(p => assert(!p.contains("CartesianProduct"), s"cartesian in:\n$p"))
    assert(scan.contains("BroadcastHashJoin"), s"probe join lost its cell key:\n$scan")
    assert(scan.contains("MapPartitions"), s"heap cut missing:\n$scan")
  }

  test("graph_bfs: report reads checkpointed walk state — one bounded " +
      "totals attach, no cartesian, no window") {
    // per-round lineage (frontier anti-joins, seed TakeOrdered) is
    // checkpoint-truncated by design (the lpa/kcore discipline), so
    // the report plan must be ONLY the histogram over the final state
    val p = plan(graft.operators.Graph.graphBfs(spark, sfDir))
    assert(!p.contains("CartesianProduct"), s"cartesian in:\n$p")
    // the unconditioned products are both 1-row-bounded: the
    // n_nodes × n_reached pairing and the totals attach to the hist
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 2,
      s"expected only the bounded totals attaches:\n$p")
    assert("Window \\[".r.findAllIn(p).isEmpty,
      s"histogram report must not rank anything:\n$p")
    assert(!p.contains("l_orderkey"),
      s"walk lineage leaked into the report plan (checkpoint broken):\n$p")
  }

  test("staged float index: the probe join DYNAMICALLY PRUNES the cell " +
      "partition directories of the postings scan") {
    val vectors = graft.sources.Tables.embeddings(spark, sfDir)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_dpp").toString
    graft.operators.AnnIndex.write(graft.operators.Similarity.buildIvf(vectors), dir)
    val df = graft.operators.Similarity.queryIvfIndex(spark, dir)
    // AQE finalizes DPP subqueries at execution — read the final plan
    val p = finalPlan(df)
    // the postings side of the probe join must carry a runtime
    // partition filter derived from the broadcast probe set: at a
    // deployment this is what turns the cell=<id> directory layout
    // into an IO cut (~nprobe·Q/C of the corpus read, not all of it)
    assert(p.contains("dynamicpruning"),
      s"postings scan lost dynamic partition pruning:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in:\n$p")
  }

  test("staged PQ index: the probe set STATICALLY PRUNES the cell " +
      "partition directories of the codes scan — filtered tier too") {
    import graft.operators.Pq
    val vectors = graft.sources.Tables.embeddings(spark, sfDir)
    val dir = java.nio.file.Files.createTempDirectory("graft_pq_prune").toString
    AnnIndex.write(Pq.buildIvfPq(vectors, metaCols = Seq("label")), dir)
    val staged = Pq.readIvfPqIndex(spark, dir)
    val qids = 0L until graft.operators.Similarity.NQueries.toLong
    // probes are collected BEFORE plan construction, so the cell cut
    // is a static partition filter: the codes scan must list it in
    // PartitionFilters (whole cell=<id> directories skipped — the IO
    // cut the partitioned layout exists for), and prune to fewer
    // files than the index holds
    def assertPruned(plans: Seq[String], what: String): Unit = {
      val p = plans.mkString("\n")
      val codesScans = p.linesIterator
        .filter(l => l.contains("FileScan") && l.contains(s"$dir/codes"))
        .toSeq
      assert(codesScans.nonEmpty, s"$what: no codes scan found in:\n$p")
      codesScans.foreach { l =>
        assert(l.contains("PartitionFilters: [cell"),
          s"$what: codes scan lost the static cell partition filter:\n$l")
      }
      assert(!p.contains("CartesianProduct"), s"$what: cartesian in:\n$p")
    }
    // top-k is eager: its plans are the ones the call executed
    assertPruned(topKPlans("queryIvfPq")(Pq.queryIvfPq(staged, vectors, qids)), "queryIvfPq")
    assertPruned(topKPlans("queryIvfPqIndex sameLabel")(
      Pq.queryIvfPqIndex(staged, vectors, qids, sameLabel = true)), "queryIvfPqIndex sameLabel")
    // the radius tier prunes the same way and never ranks: admission
    // is a stateless threshold filter, not a window
    val radius = Pq.queryIvfPqIndex(staged, vectors, qids, cut = Radius(Similarity.RadiusTau))
    assertPruned(Seq(plan(radius)), "queryIvfPqIndex Radius")
    val pr = plan(radius)
    assert("Window \\[".r.findAllIn(pr).isEmpty,
      s"the radius tail must not rank anything:\n$pr")
  }

  test("staged IVF-SQ8 index: the composed scan statically prunes cell " +
      "directories; decode stays codegen") {
    import graft.operators.Quantize
    val vectors = graft.sources.Tables.embeddings(spark, sfDir)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfsq8_plan").toString
    AnnIndex.write(Quantize.buildIvfSq8(vectors), dir)
    val qids = 0L until graft.operators.Similarity.NQueries.toLong
    val p = topKPlans("queryIvfSq8Index")(
      Quantize.queryIvfSq8Index(spark, dir, vectors, qids)).mkString("\n")
    val codesScans = p.linesIterator
      .filter(l => l.contains("FileScan") && l.contains(s"$dir/codes"))
      .toSeq
    assert(codesScans.nonEmpty, s"no codes scan found in:\n$p")
    codesScans.foreach { l =>
      assert(l.contains("PartitionFilters: [cell"),
        s"codes scan lost the static cell partition filter:\n$l")
    }
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"),
      s"decode fell out of codegen:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in:\n$p")
  }

  test("staged OPQ index: the rotated tier prunes cell directories " +
      "exactly like the PQ tier — all three query types") {
    import graft.operators.Opq
    val vectors = graft.sources.Tables.embeddings(spark, sfDir)
    val dir = java.nio.file.Files.createTempDirectory("graft_opq_prune").toString
    AnnIndex.write(Opq.buildIvfOpq(vectors, metaCols = Seq("label")), dir)
    val staged = Opq.IvfOpqIndex(AnnIndex.read(spark, dir, AnnIndex.IvfOpq))
    val qids = 0L until graft.operators.Similarity.NQueries.toLong
    // the rotation is driver-side (query) and build-time (corpus): the
    // SERVING plan must look exactly like the PQ tier's — a statically
    // cell-pruned codes scan; the basis never joins into the scan
    // (the basis is collected on the driver in its own execution; the
    // plans that scan the codes must not read it)
    def assertPruned(plans: Seq[String], what: String): Unit = {
      val serving = plans.filter(_.contains(s"$dir/codes"))
      assert(serving.nonEmpty, s"$what: no codes scan found in:\n${plans.mkString("\n")}")
      serving.foreach { p =>
        p.linesIterator
          .filter(l => l.contains("FileScan") && l.contains(s"$dir/codes"))
          .foreach { l =>
            assert(l.contains("PartitionFilters: [cell"),
              s"$what: codes scan lost the static cell partition filter:\n$l")
          }
        assert(!p.contains(s"$dir/basis"),
          s"$what: the basis artifact leaked into the serving plan:\n$p")
      }
      plans.foreach(p => assert(!p.contains("CartesianProduct"), s"$what: cartesian in:\n$p"))
    }
    assertPruned(topKPlans("queryIvfOpq")(Opq.queryIvfOpq(staged, vectors, qids)), "queryIvfOpq")
    assertPruned(topKPlans("queryIvfOpq sameLabel")(
      Opq.queryIvfOpq(staged, vectors, qids, sameLabel = true)), "queryIvfOpq sameLabel")
    val radius = Opq.queryIvfOpq(staged, vectors, qids, cut = Radius(Similarity.RadiusTau))
    assertPruned(Seq(plan(radius)), "queryIvfOpq Radius")
    assert("Window \\[".r.findAllIn(plan(radius)).isEmpty,
      "the radius tail must not rank anything")
  }

  test("staged SQ8 index: the codes scan is column-pruned and the decode " +
      "stays codegen — no shuffle before the candidate cut") {
    import graft.operators.Quantize
    val vectors = graft.sources.Tables.embeddings(spark, sfDir)
    val dir = java.nio.file.Files.createTempDirectory("graft_sq8_plan").toString
    AnnIndex.write(Quantize.buildSq8(vectors), dir)
    val qids = 0L until graft.operators.Similarity.NQueries.toLong
    val p = topKPlans("querySq8Index")(
      Quantize.querySq8Index(spark, dir, vectors, qids)).mkString("\n")
    // the erasure-bucket partition column must not survive into the
    // scan's read schema (it is layout, not data) and the flat scan
    // reads only the key + codes
    assert(p.contains("ReadSchema: struct<vec_id:bigint,codes:array<int>>"),
      s"codes scan reads more than (vec_id, codes):\n$p")
    // decode is the literal-array transform — pure codegen, no UDF
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"),
      s"decode fell out of codegen:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in:\n$p")
    val pr = plan(Quantize.querySq8Index(spark, dir, vectors, qids,
      Radius(Similarity.RadiusTau)))
    assert(pr.contains("ReadSchema: struct<vec_id:bigint,codes:array<int>>"),
      s"radius codes scan reads more than (vec_id, codes):\n$pr")
    assert("Window \\[".r.findAllIn(pr).isEmpty,
      s"the radius tail must not rank anything:\n$pr")
    // the filtered tier reads exactly the key + codes + the one riding
    // metadata column — the erasure-bucket layout column still pruned
    val fdir = java.nio.file.Files.createTempDirectory("graft_sq8_fplan").toString
    AnnIndex.write(Quantize.buildSq8(vectors, metaCols = Seq("label")), fdir)
    val pf = topKPlans("querySq8Index sameLabel")(
      Quantize.querySq8Index(spark, fdir, vectors, qids, sameLabel = true)).mkString("\n")
    assert(pf.contains("ReadSchema: struct<vec_id:bigint,codes:array<int>,label:int>"),
      s"filtered codes scan reads more than (vec_id, codes, label):\n$pf")
    assert(!pf.contains("BatchEvalPython") && !pf.contains("ScalaUDF"),
      s"filtered decode fell out of codegen:\n$pf")
    assert(!pf.contains("CartesianProduct"), s"cartesian in:\n$pf")
  }

  test("knn_ivf_opq: rotation stays native codegen dots, closure scan, " +
      "bounded windows, no cartesian") {
    val plans = topKPlans("knnIvfOpq")(graft.operators.Opq.knnIvfOpq(spark, sfDir))
    val scan = plans.init.last
    assert(scan.contains("vec_dot"), s"rotation lost the native dot:\n$scan")
    assert(scan.contains("MapPartitions"), s"closure scan pass missing:\n$scan")
    plans.foreach(p => assert(!p.contains("CartesianProduct"), s"cartesian in:\n$p"))
  }

  test("knn_radius: stateless filter tail — only the probe window, " +
      "closure assignment, no cartesian blow-up") {
    val p = plan(graft.operators.Similarity.knnRadius(spark, sfDir))
    // membership is a filter, never a ranking: the ONE window is the
    // bounded query→probe-cells derivation
    assert("Window \\[".r.findAllIn(p).size <= 1,
      s"radius tail regressed to a ranked window:\n$p")
    assert(p.contains("MapPartitions"),
      s"expected closure-codebook mapPartitions assignment:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in:\n$p")
  }

  test("knn_filtered: label predicate inside the probed scan, bounded " +
      "windows, no cartesian") {
    val p = plan(graft.operators.Similarity.knnFiltered(spark, sfDir))
    // probe window + final candidate-sliver rank only
    assert("Window \\[".r.findAllIn(p).size <= 2,
      s"expected only the probe + rank windows:\n$p")
    // the label filter must run on the candidate stream BEFORE the
    // ranking window (filtered-then-ranked, not ranked-then-filtered)
    assert(p.contains("(label"), s"label predicate missing from the scan:\n$p")
    assert(p.contains("MapPartitions"),
      s"expected closure-codebook mapPartitions assignment:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in:\n$p")
  }

  test("knn_recall_report: one staged candidate frame feeds every " +
      "nprobe variant; one staged exact answer; no cartesian") {
    val p = plan(graft.operators.Similarity.knnRecallReport(spark, sfDir))
    assert(!p.contains("CartesianProduct"), s"cartesian in:\n$p")
    // each of the four nprobe variants re-reads the ONE staged
    // candidate parquet — the IVF build and the cosine scoring must
    // not re-run per variant
    assert("recall_cand".r.findAllIn(p).size >= 4,
      s"nprobe variants not reading the staged candidate frame:\n$p")
    assert("recall_exact".r.findAllIn(p).size >= 4,
      s"variants not joining the staged exact answer:\n$p")
  }

  test("knn_opq: rotation is codegen dots over literal basis rows; " +
      "encode is the closure pass; bounded windows; no cartesian") {
    val plans = topKPlans("knnOpq")(graft.operators.Opq.knnOpq(spark, sfDir))
    val scan = plans.init.last
    // the projection must be the native sequential-fold expression
    // (constant basis arrays in the plan), never a UDF or a join
    assert(scan.contains("vec_dot"), s"rotation lost the native dot:\n$scan")
    plans.foreach { p =>
      assert(!p.toLowerCase.contains("batchevalpython"), s"rotation fell out of the JVM:\n$p")
      assert(!p.contains("CartesianProduct"), s"cartesian in:\n$p")
    }
    assert(scan.contains("MapPartitions"), s"closure encode pass missing:\n$scan")
  }

  test("graph modularity: report shape is the lpa discipline — one " +
      "bounded window, bounded totals attaches, TakeOrdered") {
    val p = plan(graft.operators.Graph.modularityOn(
      { import spark.implicits._
        Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("u", "v") }, rounds = 1))
    assert(!p.contains("CartesianProduct"), s"cartesian in:\n$p")
    assert("Window ".r.findAllIn(p).size == 1,
      s"expected exactly the bounded report window:\n$p")
    // bounded products by construction: the 1-row n_edges attach and
    // the 1-row totals attach (the kcore/lpa shape)
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 3,
      s"expected only the bounded totals attaches:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-K fell into a global sort:\n$p")
  }

  test("PlanDump conf spec: blank segments skipped, a malformed segment " +
      "fails naming itself") {
    assert(PlanDump.parseConfs(" a.b = 0 ,, c=x=y,") ==
      Seq("a.b" -> "0", "c" -> "x=y"))
    assert(PlanDump.parseConfs(" , ").isEmpty)
    Seq("novalue", "=v").foreach { bad =>
      val e = intercept[IllegalArgumentException] {
        PlanDump.parseConfs(s"a=1,$bad") }
      assert(e.getMessage.contains(s"expected k=v, got '$bad'"), e.getMessage)
    }
  }
}
