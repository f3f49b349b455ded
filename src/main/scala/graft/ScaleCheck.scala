package graft

import org.apache.spark.sql.functions._

/** Scale-stress harness: synthesizes an events table N× the sf0.1
  * row count (same schema/distributions) in a temp dir, runs the
  * shuffle-bearing core operators on it, and prints one JSON line of
  * seconds per operator. Generated data is used ONLY here — the
  * correctness gate always runs on the driver's corpora.
  *
  * `sbt "runMain graft.ScaleCheck 100"` → 10M events.
  */
object ScaleCheck {
  def main(args: Array[String]): Unit = {
    val mult = if (args.nonEmpty) args(0).toInt else 100
    // optional 2nd arg: comma-separated op subset (re-record one
    // tier's rows without paying for all 33 ops)
    val only: String => Boolean =
      if (args.length > 1) args(1).split(",").toSet else (_ => true)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = GraftSession.builder(master = s"local[$cpus]",
      shufflePartitions = cpus.toInt * 4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val n = 100000L * mult
    // Scratch-registered: a 1000× synthesis is ~15 GB of parquet, and
    // an aborted run that leaves it behind eats /tmp until later runs
    // die on a full disk (measured: 3 stale corpora = 51 GB → the next
    // synthesis failed mid-write). DISK-backed deliberately: the
    // RAM-tmpfs scratch root shares capacity with shuffle space, and a
    // multi-GB corpus can ENOSPC it on hosts where disk temp is fine.
    val dir = operators.Scratch.diskDir("graft_scale")
    // a filtered run over the embeddings-only tier skips synthesizing
    // the (much larger) event/order/lineitem/document tables — the
    // 1000x corpus writes ~600M lineitems nobody would read
    val embOnly = Set("embed_clusters", "dedup_semantic", "knn_ivf",
      "knn_ivf_pq", "knn_pq", "sample_kcenter", "knn_graph",
      "vec_covariance", "vec_quantize", "ivf_pq_append", "knn_graph_capped",
      "knn_sq8", "knn_recall_report", "knn_opq", "sq8_query", "knn_ivf_sq8",
      "knn_radius", "knn_filtered", "knn_ivf_opq",
      "ivf_pq_filtered_query", "sq8_radius_query", "ivf_stats",
      "ivf_pq_radius_query", "sq8_filtered_query", "ivf_opq_serve",
      "ivf_sq8_query", "ivf_atomic_rww",
      "ann_ingest_churn", "ivf_refs_cost", "ann_ingest_replay_retrain",
      // self-synthesizes its chain edges, reads no corpus table — in
      // this set so a combined filtered run skips the big tables
      "pair_clusters_chain")
    val skipNonEmbedding = args.length > 1 && args(1).split(",").forall(embOnly)
    // a graph-only run (the tier's dedicated scaled-catalog corpus)
    // likewise skips the main tables: a 300× run would otherwise
    // write 180M ordinary lineitems + 30M events nobody reads
    val graphOnly = Set("graph_triangles", "graph_pagerank",
      "graph_edge_jaccard", "graph_components", "graph_kcore",
      "graph_lpa", "graph_link_predict", "graph_modularity", "graph_bfs",
      "graph_kcore_dist", "graph_lpa_dist", "graph_bfs_dist",
      "graph_components_dist", "graph_pagerank_dist")
    val skipNonGraph = args.length > 1 && args(1).split(",").forall(graphOnly)
    // ops that synthesize their own substrate inline (spark.range) —
    // a run of only these writes no corpus at all
    val selfSynth = Set("cluster_keep_best_core", "cluster_holdout_core",
      "dedup_embedding_lsh", "pair_clusters_chain")
    val allSelfSynth = args.length > 1 && args(1).split(",").forall(selfSynth)
    // ops that read ONLY the events table — a filtered run of these
    // skips the (10× larger) lineitem/documents/part writes, which
    // otherwise dominate a 1000× measurement session
    val eventsOnly = Set("agg_distinct_intersect", "agg_approx_ndv",
      "agg_sketch_union", "stream_scd2_apply", "etl_scd2_enrich")
    val allEventsOnly = args.length > 1 &&
      args(1).split(",").forall(k => eventsOnly(k) || selfSynth(k))
    // ops that read ONLY the documents table — a filtered run of these
    // skips the events/orders/lineitem/part/embeddings writes (a 1000×
    // doc-key measurement session otherwise pays 600M lineitems and
    // 100M events nobody reads). Membership audited against the run
    // list: every entry calls an operator whose only input is
    // Tables.documents.
    val docsOnly = Set("sample_quality_topfrac", "sample_topfrac_continuous",
      "dedup_boilerplate", "text_entropy", "text_vocab", "text_chunk",
      "text_lm_score", "dedup_substring_spans", "dedup_span_cut",
      "bpe_train", "bpe_train_batched", "bpe_apply", "bpe_encode",
      "text_encode", "pack_sequences", "pack_boundaries", "pack_token_ids",
      "dedup_source_sim", "sample_mixture")
    val allDocsOnly = args.length > 1 &&
      args(1).split(",").forall(k => docsOnly(k) || selfSynth(k))
    if (!skipNonEmbedding && !skipNonGraph && !allSelfSynth) {
    if (!allDocsOnly) {
    // same columns/value shapes as the driver's events table
    spark.range(n).select(
      col("id").as("event_id"),
      timestamp_micros(lit(1704067200000000L) + (col("id") % 2592000L) * 1000000L).as("ts"),
      pmod(xxhash64(col("id")), lit(15000L)).as("user_id"),
      element_at(array(lit("click"), lit("view"), lit("purchase"), lit("scroll"), lit("hover")),
        (pmod(xxhash64(col("id"), lit(1)), lit(5)) + 1).cast("int")).as("event_type"),
      (pmod(xxhash64(col("id"), lit(2)), lit(100000L)).cast("double") / 1000.0).as("value"),
      concat(lit("{\"k\": "), pmod(xxhash64(col("id"), lit(3)), lit(100L)), lit("}")).as("props"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    } // end !allDocsOnly (events)

    if (!allEventsOnly) {
    if (!allDocsOnly) {
    // orders (as-of join right side): 100× sf0.1's 150k rows, custkey
    // domain matching the events user_id domain, day-granular dates
    spark.range(150000L * mult).select(
      col("id").as("o_orderkey"),
      pmod(xxhash64(col("id"), lit(7)), lit(15000L)).as("o_custkey"),
      element_at(array(lit("O"), lit("F"), lit("P")),
        (pmod(xxhash64(col("id"), lit(10)), lit(3)) + 1).cast("int")).as("o_orderstatus"),
      // 0..500k domain so BloomJoin.PriceFloor (480k) keeps ~4% — the
      // selective-build-side shape the bloom prefilter exists for
      (pmod(xxhash64(col("id"), lit(8)), lit(50000000L)).cast("double") / 100.0).as("o_totalprice"),
      timestamp_micros(lit(1704067200000000L) +
        pmod(xxhash64(col("id"), lit(9)), lit(30L)) * 86400000000L).as("o_orderdate"),
      lit("1-URGENT").as("o_orderpriority"))
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")

    // lineitem (bloom-join probe side): 100× sf0.1's 600k rows, ~4
    // lines per order so the probe is much larger than the build
    spark.range(600000L * mult).select(
      pmod(xxhash64(col("id"), lit(11)), lit(150000L * mult)).as("l_orderkey"),
      pmod(xxhash64(col("id"), lit(12)), lit(20000L)).as("l_partkey"),
      pmod(xxhash64(col("id"), lit(13)), lit(1000L)).as("l_suppkey"),
      (pmod(xxhash64(col("id"), lit(14)), lit(7L)) + 1).cast("int").as("l_linenumber"),
      (pmod(xxhash64(col("id"), lit(15)), lit(50L)) + 1).cast("double").as("l_quantity"),
      (pmod(xxhash64(col("id"), lit(16)), lit(10000000L)).cast("double") / 100.0).as("l_extendedprice"),
      (pmod(xxhash64(col("id"), lit(17)), lit(11L)).cast("double") / 100.0).as("l_discount"),
      (pmod(xxhash64(col("id"), lit(18)), lit(9L)).cast("double") / 100.0).as("l_tax"),
      lit("N").as("l_returnflag"), lit("O").as("l_linestatus"),
      timestamp_micros(lit(1704067200000000L) +
        pmod(xxhash64(col("id"), lit(19)), lit(90L)) * 86400000000L).as("l_shipdate"))
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    } // end !allDocsOnly (orders + lineitem)

    // documents (contamination / packing): 100× sf0.1's 5k docs, ~50
    // words from a small vocabulary (real-corpus shape), 20 sources
    val vocab = array(Seq("batch", "part", "spark", "line", "column", "order",
      "small", "sort", "fast", "value", "scan", "hash", "slow", "group",
      "agg", "filter", "query", "big", "key", "window", "row", "table",
      "stream", "merge", "data", "plan", "join", "shuffle", "stage", "task",
      "disk", "cache", "read", "write", "block", "page", "node", "core",
      "byte", "file").map(lit): _*)
    val text = concat_ws(" ", transform(
      sequence(lit(1), (lit(40) + pmod(xxhash64(col("id"), lit(4)), lit(30L))).cast("int")),
      i => element_at(vocab, (pmod(xxhash64(col("id"), i), lit(40L)) + 1).cast("int"))))
    spark.range(5000L * mult).select(
      col("id").as("doc_id"),
      text.as("text"),
      element_at(array(lit("en"), lit("id"), lit("zh"), lit("es"), lit("fr")),
        (pmod(xxhash64(col("id"), lit(5)), lit(5)) + 1).cast("int")).as("lang"),
      concat(lit("src"), pmod(xxhash64(col("id"), lit(6)), lit(20L))).as("source"),
      length(text).as("n_chars"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    if (!allDocsOnly) {
    // part (fuzzy repair): 100× sf0.1's 20k rows. The name vocabulary
    // is adjective×noun (64 forms) like the driver corpus — blocking
    // keys (length, end char) keep bounded selectivity while the row
    // count scales
    val adjs = array(Seq("small", "red", "blue", "hot", "cold", "big",
      "dark", "pale").map(lit): _*)
    val nouns = array(Seq("ring", "widget", "bolt", "gear", "gizmo",
      "plate", "valve", "wheel").map(lit): _*)
    spark.range(20000L * mult).select(
      col("id").as("p_partkey"),
      concat(
        element_at(adjs, (pmod(xxhash64(col("id"), lit(30)), lit(8L)) + 1).cast("int")),
        lit(" "),
        element_at(nouns, (pmod(xxhash64(col("id"), lit(31)), lit(8L)) + 1).cast("int")))
        .as("p_name"),
      concat(lit("Brand#"), pmod(xxhash64(col("id"), lit(32)), lit(25L))).as("p_brand"),
      lit("STANDARD").as("p_type"),
      (pmod(xxhash64(col("id"), lit(33)), lit(50L)) + 1).cast("int").as("p_size"),
      (pmod(xxhash64(col("id"), lit(34)), lit(200000L)).cast("double") / 100.0)
        .as("p_retailprice"))
      .write.mode("overwrite").parquet(s"$dir/part.parquet")
    } // end !allDocsOnly (part)
    } // end non-events main tables

    } // end main-table synthesis
    // the graph corpus only serves the graph tier: a filtered run
    // without graph keys skips it (a 1000× main-table run would
    // otherwise also write 600M graph lineitems nobody reads)
    val wantsGraph = (args.length <= 1 || args(1).split(",").exists(graphOnly)) && !allSelfSynth
    if (!skipNonEmbedding && wantsGraph) {
    // graph corpus: same lineitem shape but the part-catalog DOMAIN
    // scales with mult (a 100× corpus has a 100× catalog) — with the
    // fuzzy/bloom corpus's FIXED 20k-part domain, 100× more order
    // baskets saturate toward the complete co-order graph (Σ wedges
    // → n·deg² ≈ 10^11) and triangle counting measures the data
    // model, not the operator. Scaled domain keeps avg degree ~
    // constant, which is how real catalogs grow.
    spark.range(600000L * mult).select(
      pmod(xxhash64(col("id"), lit(11)), lit(150000L * mult)).as("l_orderkey"),
      pmod(xxhash64(col("id"), lit(12)), lit(20000L * mult)).as("l_partkey"),
      pmod(xxhash64(col("id"), lit(13)), lit(1000L)).as("l_suppkey"),
      (pmod(xxhash64(col("id"), lit(14)), lit(7L)) + 1).cast("int").as("l_linenumber"),
      (pmod(xxhash64(col("id"), lit(15)), lit(50L)) + 1).cast("double").as("l_quantity"),
      (pmod(xxhash64(col("id"), lit(16)), lit(10000000L)).cast("double") / 100.0).as("l_extendedprice"),
      (pmod(xxhash64(col("id"), lit(17)), lit(11L)).cast("double") / 100.0).as("l_discount"),
      (pmod(xxhash64(col("id"), lit(18)), lit(9L)).cast("double") / 100.0).as("l_tax"),
      lit("N").as("l_returnflag"), lit("O").as("l_linestatus"),
      timestamp_micros(lit(1704067200000000L) +
        pmod(xxhash64(col("id"), lit(19)), lit(90L)) * 86400000000L).as("l_shipdate"))
      .write.mode("overwrite").parquet(s"$dir/graph/lineitem.parquet")
    } // end !skipNonEmbedding

    if (!skipNonGraph && !allSelfSynth && !allEventsOnly && !allDocsOnly) {
    // embeddings (semantic tier): 100× sf0.1's 2k vectors, 64-dim,
    // clustered around 32 seeded centers (the shape the IVF quantizer
    // exists for) — deterministic hash-noise, no rand()
    val edim = 64
    spark.range(2000L * mult).select(
      col("id").as("vec_id"),
      transform(sequence(lit(0), lit(edim - 1)), i => {
        // center component for this vector's cluster + small noise
        val cl = pmod(col("id"), lit(32L))
        val c = (pmod(xxhash64(cl, i, lit(20L)), lit(2001L)).cast("double") - 1000.0) / 500.0
        val nz = (pmod(xxhash64(col("id"), i, lit(21L)), lit(2001L)).cast("double") - 1000.0) / 20000.0
        (c + nz).cast("float")
      }).as("embedding"),
      pmod(col("id"), lit(32L)).cast("int").as("label"))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    } // end !skipNonGraph

    def run(name: String, df: => org.apache.spark.sql.DataFrame) = if (!only(name)) {
      (name, 0.0, -1L) // filtered out; dropped before printing
    } else {
      // one execution: count rows with an accumulator DURING the timed
      // materialization instead of re-running the operator for a count
      val acc = spark.sparkContext.longAccumulator(s"rows_$name")
      val t0 = System.nanoTime()
      // frame CONSTRUCTION is inside the timer: the quantile operators
      // do their refinement scans at plan-build time (driver-coordinated
      // probes), and excluding them would report 0s for real work
      val d = df
      d.queryExecution.toRdd.foreachPartition(it => acc.add(it.size.toLong))
      val sec = (System.nanoTime() - t0) / 1e9
      (name, sec, acc.value.toLong)
    }

    val results = Seq(
      run("etl_normalize", operators.Etl.normalize(spark, dir)),
      run("etl_hourly_rollup", operators.Etl.hourlyRollup(spark, dir)),
      run("etl_keep_latest", operators.Etl.keepLatest(spark, dir)),
      run("q_events_sessionize", queries.Analytics.qEventsSessionize(spark, dir)),
      run("stream_windowed_agg", streaming.Streams.windowedAggBatch(spark, dir)),
      // round-4/5 additions: the new join shapes and the corpus tier
      run("q_asof_join", operators.AsOf.qAsOfJoin(spark, dir)),
      run("q_range_join", operators.RangeJoin.qRangeJoin(spark, dir)),
      run("dedup_contamination", operators.Dedup.contamination(spark, dir)),
      run("pack_sequences", operators.TrainPrep.packSequences(spark, dir)),
      run("etl_normalize_arrays",
        operators.Etl.normalizeArrays(operators.Etl.arrayPayloads(spark, dir))),
      run("dedup_incremental", operators.Dedup.incrementalExact(spark, dir)),
      // round-6 additions: cap/chunk/vocab corpus prep + the pivot report
      run("sample_cap_per_source", operators.Etl.sampleCapPerSource(spark, dir)),
      run("text_chunk", operators.TrainPrep.chunkDocuments(spark, dir)),
      run("text_vocab", operators.TextAnalysis.textVocab(spark, dir)),
      run("q_pivot_events", queries.Analytics.qPivotEvents(spark, dir)),
      run("q_window_funnel", queries.Analytics.qWindowFunnel(spark, dir)),
      // round-7 additions: bloom prefilter, sketches, layout, span dedup
      run("q_bloom_join", operators.BloomJoin.qBloomJoin(spark, dir)),
      run("agg_approx_ndv", operators.Sketches.aggApproxNdv(spark, dir)),
      run("layout_zorder", operators.Layout.qZorderLayout(spark, dir)),
      run("dedup_substring_spans", operators.SubstringSpans.substringSpans(spark, dir)),
      run("dedup_span_cut", operators.SubstringSpans.spanCut(spark, dir)),
      run("pack_boundaries", operators.TrainPrep.packBoundaries(spark, dir)),
      // round-7 additions (second batch): CMS grid, histogram-refine
      // quantiles, split assignment
      run("agg_heavy_hitters", operators.Sketches.aggHeavyHitters(spark, dir)),
      run("q_exact_quantiles", operators.Quantiles.qExactQuantiles(spark, dir)),
      run("sample_holdout_split", operators.Etl.sampleHoldoutSplit(spark, dir)),
      // round-7 additions (third batch): frame sampling, stream twins,
      // CDC apply, one-pass quantile sketch, LM scoring
      run("mm_frame_sample", operators.Multimodal.frameSample(spark, dir)),
      run("stream_enrich", streaming.Streams.enrichBatch(spark, dir)),
      run("stream_join", streaming.Streams.attributeClicksBatch(spark, dir)),
      run("etl_cdc_apply", operators.Etl.cdcApply(spark, dir)),
      run("agg_hist_quantiles", operators.Quantiles.aggHistQuantiles(spark, dir)),
      run("text_lm_score", operators.TextAnalysis.textLmScore(spark, dir)),
      // round-7 additions (fourth batch): alpha-sampling + semantic
      // tier. The quantizer auto-sizes to C ≈ √(n/2) (r8): assignment
      // costs n·C, the within-cell pair scan Σ cell² ≈ n²/C, and the
      // derived C balances the two — the fixed sf-scale default left
      // ~12.5k vectors/cell here and measured 88 s; the r7 manual
      // cells=256 was the hand-tuned stopgap this replaces
      run("sample_temperature", operators.Etl.sampleTemperature(spark, dir)),
      // round-8/9 additions: the tokenizer tier (train / apply /
      // doc-encode / id packing) and the one-pass left-outer
      // attribution join
      run("bpe_train", operators.Bpe.train(spark, dir)),
      run("bpe_train_batched", operators.Bpe.trainBatchedOn(
        sources.Tables.documents(spark, dir), totalMerges = 64, batchSize = 16)),
      run("bpe_apply", operators.Bpe.applySegments(spark, dir)),
      run("bpe_encode", operators.Bpe.encodeDocs(spark, dir)),
      run("text_encode", operators.TrainPrep.textEncode(spark, dir)),
      run("pack_token_ids", operators.TrainPrep.packTokenIds(spark, dir)),
      run("stream_join_outer", streaming.Streams.attributeClicksOuterBatch(spark, dir)),
      // round-9 additions: mixture/epoch planning, the PQ compressed-
      // codes ANN path, and the SpaceSaving top-k batch twin
      run("sample_mixture_epochs", operators.Etl.sampleMixtureEpochs(spark, dir)),
      run("knn_pq", operators.Pq.knnPq(spark, dir)),
      run("stream_topk", streaming.Streams.topkBatch(spark, dir)),
      // round-11 additions: maintenance/diagnostics tier + the fixed-
      // grid streaming quantile twin
      run("layout_compaction", operators.Layout.qCompaction(spark, dir)),
      run("dq_key_skew", operators.Skew.dqKeySkew(spark, dir)),
      run("q_cube", queries.Analytics.qCube(spark, dir)),
      run("stream_hist_quantiles", streaming.Streams.histQuantilesBatch(spark, dir)),
      run("knn_ivf", operators.Similarity.knnIvf(spark, dir)),
      run("knn_ivf_pq", operators.Pq.knnIvfPq(spark, dir)),
      run("layout_hilbert", operators.Layout.qHilbertLayout(spark, dir)),
      run("sample_kcenter", operators.Similarity.sampleKCenter(spark, dir)),
      run("q_interval_join", operators.RangeJoin.qIntervalJoin(spark, dir)),
      run("stream_anomaly", streaming.Streams.anomalyBatchSorted(spark, dir)),
      run("etl_surrogate_keys", operators.Keys.etlSurrogateKeys(spark, dir)),
      run("embed_clusters", operators.Similarity.embedClustersOn(
        spark.read.parquet(s"$dir/embeddings.parquet"))),
      // round-12 additions: graph tier (scaled-catalog corpus — see
      // synthesis note), churn diff, retention, fuzzy repair
      run("graph_triangles", operators.Graph.graphTriangles(spark, s"$dir/graph")),
      run("graph_pagerank", operators.Graph.graphPagerank(spark, s"$dir/graph")),
      run("graph_edge_jaccard", operators.Graph.graphEdgeJaccard(spark, s"$dir/graph")),
      run("graph_components", operators.Graph.graphComponents(spark, s"$dir/graph")),
      run("etl_snapshot_diff", operators.Etl.etlSnapshotDiff(spark, dir)),
      run("q_retention_cohorts", queries.Analytics.qRetentionCohorts(spark, dir)),
      run("q_fuzzy_match", operators.Fuzzy.qFuzzyMatch(spark, dir)),
      run("mm_frame_dedup", operators.Multimodal.mmFrameDedup(spark, dir)),
      run("agg_sketch_union", operators.Sketches.aggSketchUnion(spark, dir)),
      run("q_fuzzy_edit1", operators.Fuzzy.qFuzzyEdit1(spark, dir)),
      run("q_skyline", operators.Skyline.qSkyline(spark, dir)),
      run("stream_hop_windows", streaming.Streams.hopWindowedAggBatch(spark, dir)),
      run("dedup_source_sim", operators.Dedup.dedupSourceSim(spark, dir)),
      // round-13 additions: CDC->SCD2 interval history + the minhash
      // first-occurrence guard (batch twin), plus the salted-join
      // executor measured against the plain join on the SAME skewed
      // key the dq_key_skew profiler reports on (user_id ~ xxhash
      // uniform here, so salt_factor from the profile stays small;
      // the row exists to show the executor's overhead bound, the
      // straggler-spread assert lives in MaintainSpec)
      run("etl_cdc_scd2", operators.Etl.cdcScd2(spark, dir)),
      run("etl_scd2_enrich", operators.Etl.scd2Enrich(spark, dir)),
      run("stream_minhash_dedupe", streaming.Streams.minhashGuardBatch(spark, dir)),
      run("agg_cms_union", operators.Sketches.aggCmsUnion(spark, dir)),
      run("agg_hist_union", operators.Quantiles.aggHistUnion(spark, dir)),
      // round-13 additions (second batch): MERGE INTO resolution, the
      // per-source quality-percentile cut, and the two supported-graph
      // ops (peeling + capped wedge prediction) on the scaled-catalog
      // graph corpus
      run("etl_merge_into", operators.Etl.etlMergeInto(spark, dir)),
      run("sample_quality_topfrac", operators.Etl.sampleQualityTopFrac(spark, dir)),
      run("sample_mixture", operators.TrainPrep.sampleMixture(spark, dir)),
      // the continuous-score refinement variant over the same corpus:
      // its driver cost is rounds × (groups×Bins counters), so the
      // interesting scale signal is that it tracks the discrete form
      run("sample_topfrac_continuous",
        operators.Etl.sampleQualityTopFracContinuous(spark, dir)),
      // CCNet-style boilerplate chunk cut: generator expansion +
      // (chunk, doc) distinct + anti-join against the answer-sized
      // boilerplate set + output-sized reassembly
      run("dedup_boilerplate", operators.Dedup.boilerplateCut(spark, dir)),
      run("agg_distinct_intersect", operators.Sketches.aggDistinctIntersect(spark, dir)),
      // dedup_cluster_keep_best is deliberately NOT in this harness:
      // its own work (members join + family-sized argmax) is
      // churn-proportional, but its substrate — trigram-Jaccard pairs —
      // degenerates on THIS corpus's 40-word synthetic vocabulary
      // (every doc shares most trigrams, so document frequencies are
      // corpus-sized and the AllPairs prefix filter keeps ~all pairs:
      // a 100× attempt filled 70+ GB of shuffle by construction, not
      // by operator flaw). Real shingle entropy bounds the candidates;
      // the measured scale rows for the pair substrate are the
      // minhash/substring tiers'. Recorded in BASELINE.md.
      // The operator's OWN plan is measured substrate-free instead:
      // synthetic (doc_id, cluster_id) labels in 5-member families +
      // hash-derived scores — exactly the members-join + family-argmax
      // the key adds on top of the (already-measured) pair machinery.
      run("cluster_keep_best_core", {
        val nDocs = 100000L * mult
        val labels = spark.range(nDocs).select(
          col("id").as("doc_id"), expr("id div 5").as("cluster_id"))
        val scored = spark.range(nDocs).select(
          col("id").as("doc_id"),
          (pmod(xxhash64(col("id"), lit(40)), lit(1000L)).cast("double") / 1000.0)
            .as("score"))
        operators.Dedup.clusterKeepBestOn(labels, scored)
      }),
      // same substrate story as cluster_keep_best_core: the holdout
      // key's OWN increment over the pair machinery is one labels
      // left-join + a scan-bound hash projection, measured here on
      // synthetic labels (60% of docs in 5-member families)
      run("cluster_holdout_core", {
        val nDocs = 100000L * mult
        val labels = spark.range(nDocs)
          .where(pmod(col("id"), lit(5L)) < 3)
          .select(col("id").as("doc_id"),
            (col("id") - pmod(col("id"), lit(5L))).as("cluster_id"))
        val docs = spark.range(nDocs).select(col("id").as("doc_id"),
          concat(lit("src"), pmod(col("id"), lit(20L))).as("source"))
        operators.Dedup.clusterHoldoutOn(docs, labels)
      }),
      // the pointer-jumping pair→cluster resolution itself (r19
      // verdict item 4) on its WORST-CASE geometry: pure path graphs.
      // nDocs/256 chains of diameter 255 — the shape that defeats
      // plain label propagation (255 rounds) and that pointer jumping
      // must close in O(log diameter): distance-to-root doubles per
      // round, so 256-long chains converge within 9 rounds and the
      // maxIters=12 cap below IS the log-bound assertion (pairClusters
      // THROWS on non-convergence — a linear-round regression fails
      // this row loudly instead of timing out). Substrate-free
      // (self-synthesized edges): the candidate-generation tiers that
      // feed real pairs have their own scale rows.
      run("pair_clusters_chain", {
        val nDocs = 100000L * mult
        val chain = 256L
        val pairs = spark.range(nDocs)
          .where(pmod(col("id"), lit(chain)) =!= (chain - 1))
          .select(col("id").as("doc_a"), (col("id") + 1L).as("doc_b"))
        operators.Dedup.pairClusters(pairs, maxIters = 12)
      }),
      run("graph_kcore", operators.Graph.graphKcore(spark, s"$dir/graph")),
      run("graph_lpa", operators.Graph.graphLpa(spark, s"$dir/graph")),
      // the LPA grade: one more LPA walk + two m-row label joins
      run("graph_modularity", operators.Graph.graphModularity(spark, s"$dir/graph")),
      run("graph_link_predict", operators.Graph.graphLinkPredict(spark, s"$dir/graph")),
      // round-13 additions (third batch): the kNN self-join graph and
      // the covariance matrix over the clustered embedding corpus
      run("knn_graph", operators.Similarity.knnGraphOn(
        spark.read.parquet(s"$dir/embeddings.parquet"))),
      // the nprobe lever: candidate volume is linear in nprobe, so
      // nprobe=1 is the latency-bounded build the capped BASELINE row
      // records beside the exact default
      run("knn_graph_capped", operators.Similarity.knnGraphOn(
        spark.read.parquet(s"$dir/embeddings.parquet"), nprobe = 1)),
      run("vec_covariance", operators.Similarity.vecCovarianceOn(
        spark.read.parquet(s"$dir/embeddings.parquet"))),
      run("vec_quantize", operators.Quantize.vecQuantizeOn(
        spark.read.parquet(s"$dir/embeddings.parquet"))),
      // round-15 additions: the int8 serving scan (stage codes +
      // decode-in-kernel scan + rerank), the nprobe recall curve
      // (brute-force + one IVF build + 4 windowed cuts), and the
      // PCA-rotated PQ (covariance + driver eigen + projection + the
      // shared ADC pipeline at dim 32)
      run("knn_sq8", operators.Quantize.knnSq8On(
        spark.read.parquet(s"$dir/embeddings.parquet"))),
      run("knn_recall_report", operators.Similarity.knnRecallReportOn(
        spark.read.parquet(s"$dir/embeddings.parquet"))),
      run("knn_opq", operators.Opq.knnOpqOn(
        spark.read.parquet(s"$dir/embeddings.parquet"))),
      run("knn_ivf_sq8", operators.Quantize.knnIvfSq8On(
        spark.read.parquet(s"$dir/embeddings.parquet"))),
      // round-16 additions: range search (stateless filter tail),
      // filtered top-k (2× probes, label-in-postings), the rotated
      // compressed scan composed with the inverted file, and the
      // frontier-only multi-source BFS on the graph corpus
      run("knn_radius", operators.Similarity.knnIvfOn(
        spark.read.parquet(s"$dir/embeddings.parquet"),
        operators.AnnSearch.Radius(operators.Similarity.RadiusTau))),
      run("knn_filtered", operators.Similarity.knnIvfOn(
        spark.read.parquet(s"$dir/embeddings.parquet"), sameLabel = true)),
      run("knn_ivf_opq", operators.Opq.knnIvfOpqOn(
        spark.read.parquet(s"$dir/embeddings.parquet"))),
      run("graph_bfs", operators.Graph.graphBfs(spark, s"$dir/graph")),
      // r21 (VERDICT item 7): FORCED-DISTRIBUTED twins of the
      // driver-fast-path walk keys. Below the edge threshold the
      // default keys serve the whole walk from a driver loop, so the
      // distributed iteration code — the path a 100 TB graph actually
      // runs — would otherwise go unmeasured at every scale this
      // harness can afford. Threshold 0 forces the loops; results are
      // pinned identical to the fast path by GraphSpec/DedupSpec.
      run("graph_kcore_dist", {
        spark.conf.set("spark.graft.graph.localEdgeThreshold", "0")
        try operators.Graph.graphKcore(spark, s"$dir/graph")
        finally spark.conf.unset("spark.graft.graph.localEdgeThreshold")
      }),
      run("graph_lpa_dist", {
        spark.conf.set("spark.graft.graph.localEdgeThreshold", "0")
        try operators.Graph.graphLpa(spark, s"$dir/graph")
        finally spark.conf.unset("spark.graft.graph.localEdgeThreshold")
      }),
      run("graph_bfs_dist", {
        spark.conf.set("spark.graft.graph.localEdgeThreshold", "0")
        try operators.Graph.graphBfs(spark, s"$dir/graph")
        finally spark.conf.unset("spark.graft.graph.localEdgeThreshold")
      }),
      run("graph_pagerank_dist", {
        spark.conf.set("spark.graft.graph.localEdgeThreshold", "0")
        spark.conf.set("spark.graft.graph.localNodeThreshold", "0")
        try operators.Graph.graphPagerank(spark, s"$dir/graph")
        finally {
          spark.conf.unset("spark.graft.graph.localEdgeThreshold")
          spark.conf.unset("spark.graft.graph.localNodeThreshold")
        }
      }),
      run("graph_components_dist", {
        spark.conf.set("spark.graft.clusters.localEdgeThreshold", "0")
        try operators.Graph.graphComponents(spark, s"$dir/graph")
        finally spark.conf.unset("spark.graft.clusters.localEdgeThreshold")
      }),
      run("text_entropy", operators.TextAnalysis.textEntropy(spark, dir)),
      run("salted_join_events", {
        val ev = sources.Tables.events(spark, dir)
        val dim = ev.groupBy("user_id").agg(count(lit(1)).as("u_rows"))
        operators.Skew.saltedJoin(
          ev.select("event_id", "user_id", "value"), dim, Seq("user_id"), 8)
      }),
      // the bucketed scale path of dedup_embedding_cosine (exact twin
      // is O(n²) BY CONTRACT and skipped at scale). Substrate is
      // self-synthesized ISOTROPIC vectors with planted near-identical
      // dups: sign-bit bucket occupancy tracks the corpus's clustering
      // at the bucket radius, and the harness's 32-cohort clustered
      // embeddings corpus makes any radius-preserving pair cut
      // cohort-quadratic by construction (the semantic-dedup/Lloyd
      // path is the right tool there — its scaladoc says so); the
      // machinery under measure here is the bucket pass + (tbl,bucket)
      // equi-join + rerank at honest occupancy
      run("dedup_embedding_lsh", {
        val nVec = 2000L * mult
        val srcCol = when(pmod(col("id"), lit(100L)) === 1L, col("id") - 1L)
          .otherwise(col("id"))
        val planted = spark.range(nVec).select(col("id").as("vec_id"),
          transform(sequence(lit(0), lit(63)), i =>
            (((pmod(xxhash64(srcCol, i, lit(77L)), lit(2001L)).cast("double") - 1000.0) / 1000.0)
              + (pmod(xxhash64(col("id"), i, lit(78L)), lit(201L)).cast("double") - 100.0) / 1000000.0)
              .cast("float")).as("embedding"))
        operators.Dedup.embeddingCosineBucketedOn(planted, tau = 0.95)
      }),
      if (!only("dedup_semantic")) ("dedup_semantic", 0.0, -1L) else {
        // handle form: release the corpus-sized IVF index cache before
        // the pipeline timing below competes with it for memory
        val (sd, handle) = operators.Dedup.semanticDedupWithHandle(
          spark.read.parquet(s"$dir/embeddings.parquet"))
        val r = run("dedup_semantic", sd)
        handle.unpersist()
        r
      })

    // end-to-end per-ds pipeline (normalize + DQ + staged write + L2
    // merge) — the unit of work the reference DAG runs per day
    val pipe = if (!only("pipeline_run_ds")) None else Some {
      val lake = operators.Scratch.diskDir("graft_scale_lake")
      val tp0 = System.nanoTime()
      val summary = operators.Pipeline.runDs(spark, dir, lake, "2024-01-15")
      val pipeSec = (System.nanoTime() - tp0) / 1e9
      s""""pipeline_run_ds":{"sec":$pipeSec,"rows":${summary.nNormalized},"l2_rows":${summary.nL2}}"""
    }

    // the scd2 sink's distinct scale claim: the PER-MICRO-BATCH cost is
    // bucket-pruned — a batch touching k keys reads/rewrites only the
    // min(k, N) buckets those keys hash to, not the lake. Seed the lake
    // with the full history (untimed), then time one small late batch
    // (3 users → ≤3 of 32 buckets).
    val scd2Apply = if (!only("stream_scd2_apply")) None else Some {
      val lake = operators.Scratch.diskDir("graft_scale_scd2")
      def bucketed(df: org.apache.spark.sql.DataFrame) = df.withColumn("bucket",
        streaming.Streams.cdcBucket(col("user_id")))
      val ev = sources.Tables.events(spark, dir)
        .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      streaming.Streams.scd2MicroBatch(bucketed(ev), lake,
        "user_id", "event_type", "ts", "event_id", "event_type",
        operators.Etl.CdcDeleteType)
      val late = bucketed(ev.filter(col("user_id").isin(1L, 2L, 3L)))
      val nLate = late.count()
      val tb0 = System.nanoTime()
      streaming.Streams.scd2MicroBatch(late, lake,
        "user_id", "event_type", "ts", "event_id", "event_type",
        operators.Etl.CdcDeleteType)
      val applySec = (System.nanoTime() - tb0) / 1e9
      s""""stream_scd2_apply":{"sec":$applySec,"rows":$nLate}"""
    }

    // incremental ANN maintenance: the one-time build is the untimed
    // big cost; the DAILY cost under measure is appendIvfPqIndexAtomic
    // of a 1% batch against the staged artifacts — assignment+encode
    // over the NEW vectors only (O(|new|·C·d)) plus the touched cells'
    // rewrite, independent of the untouched index mass.
    val ivfAppend = if (!only("ivf_pq_append")) None else Some {
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      val root = operators.Scratch.diskDir("graft_scale_ivfpq")
      val tb0 = System.nanoTime()
      operators.Pq.stageIvfPqIndexVersion(operators.Pq.buildIvfPq(emb), root)
      val buildSec = (System.nanoTime() - tb0) / 1e9
      val maxId = emb.agg(max("vec_id")).collect()(0).getLong(0)
      val nNew = math.max(1L, (maxId + 1) / 100)
      val edim = 64
      // same clustered hash-noise shape as the corpus, fresh ids
      val newVecs = spark.range(nNew).select(
        (col("id") + maxId + 1L).as("vec_id"),
        transform(sequence(lit(0), lit(edim - 1)), i => {
          val cl = pmod(col("id"), lit(32L))
          val c = (pmod(xxhash64(cl, i, lit(20L)), lit(2001L)).cast("double") - 1000.0) / 500.0
          val nz = (pmod(xxhash64(col("id") + maxId + 1L, i, lit(21L)), lit(2001L)).cast("double") - 1000.0) / 20000.0
          (c + nz).cast("float")
        }).as("embedding"))
      val ta0 = System.nanoTime()
      val appended = operators.Pq.appendIvfPqIndexAtomic(spark, root, newVecs)
      val appendSec = (System.nanoTime() - ta0) / 1e9
      // GDPR-sized erasure against the same staged index: one user's
      // 50 vectors → ≤50 of the ~√(n/2) cell directories rewritten
      val eraseIds = (0L until 50L).map(i => i * (maxId / 50L))
      val td0 = System.nanoTime()
      val deleted = operators.Pq.deleteFromIvfPqIndexAtomic(spark, root, eraseIds)
      val deleteSec = (System.nanoTime() - td0) / 1e9
      s""""ivf_pq_append":{"sec":$appendSec,"rows":$appended,"build_sec":$buildSec},""" +
        s""""ivf_pq_delete":{"sec":$deleteSec,"rows":$deleted}"""
    }

    // SQ8 steady-state serving: the knn_sq8 row times build+query in
    // one figure (the driver-key contract); THIS row splits them —
    // stage the index once (untimed big cost), then time only the
    // query path over the persisted codes, the number a serving
    // deployment actually pays per query batch.
    val sq8Serve = if (!only("sq8_query")) None else Some {
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      val idxDir = operators.Scratch.diskDir("graft_scale_sq8")
      val tb0 = System.nanoTime()
      operators.AnnIndex.write(operators.Quantize.buildSq8(emb), idxDir)
      val buildSec = (System.nanoTime() - tb0) / 1e9
      val acc = spark.sparkContext.longAccumulator("rows_sq8_query")
      val tq0 = System.nanoTime()
      operators.Quantize.querySq8Index(spark, idxDir, emb,
        0L until operators.Similarity.NQueries.toLong)
        .queryExecution.toRdd.foreachPartition(it => acc.add(it.size.toLong))
      val qSec = (System.nanoTime() - tq0) / 1e9
      s""""sq8_query":{"sec":$qSec,"rows":${acc.value},"build_sec":$buildSec}"""
    }

    // round-17 serving rows: filtered queries off the COMPRESSED
    // staged tier (build once untimed, time only the query path —
    // the steady-state figure), radius + erasure on the staged SQ8
    // index, and the index-health read + versioned retrain.
    val pqFilteredServe = if (!only("ivf_pq_filtered_query")) None else Some {
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      val idxDir = operators.Scratch.diskDir("graft_scale_ivfpq_filt")
      val tb0 = System.nanoTime()
      operators.AnnIndex.write(
        operators.Pq.buildIvfPq(emb, metaCols = Seq("label")), idxDir)
      val buildSec = (System.nanoTime() - tb0) / 1e9
      val staged = operators.Pq.readIvfPqIndex(spark, idxDir)
      val acc = spark.sparkContext.longAccumulator("rows_pq_filtered")
      val tq0 = System.nanoTime()
      operators.Pq.queryIvfPqIndex(staged, emb,
        0L until operators.Similarity.NQueries.toLong, sameLabel = true)
        .queryExecution.toRdd.foreachPartition(it => acc.add(it.size.toLong))
      val qSec = (System.nanoTime() - tq0) / 1e9
      s""""ivf_pq_filtered_query":{"sec":$qSec,"rows":${acc.value},"build_sec":$buildSec}"""
    }
    val sq8RadiusServe = if (!only("sq8_radius_query")) None else Some {
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      val root = operators.Scratch.diskDir("graft_scale_sq8rad")
      val tb0 = System.nanoTime()
      val idxDir = operators.AnnIndex.stage(operators.Quantize.buildSq8(emb), root)
      val buildSec = (System.nanoTime() - tb0) / 1e9
      val acc = spark.sparkContext.longAccumulator("rows_sq8_radius")
      val tq0 = System.nanoTime()
      operators.Quantize.querySq8Index(spark, idxDir, emb,
        0L until operators.Similarity.NQueries.toLong,
        operators.AnnSearch.Radius(operators.Similarity.RadiusTau))
        .queryExecution.toRdd.foreachPartition(it => acc.add(it.size.toLong))
      val qSec = (System.nanoTime() - tq0) / 1e9
      // GDPR-sized erasure on the bucketed codes: 50 spread ids touch
      // ≤ min(50, Sq8Buckets) of the 64 bucket dirs
      val maxId = emb.agg(max("vec_id")).collect()(0).getLong(0)
      val eraseIds = (0L until 50L).map(i => i * (maxId / 50L))
      val td0 = System.nanoTime()
      val deleted = operators.AnnIndex.erase(spark, root,
        operators.AnnIndex.Sq8, eraseIds)
      val deleteSec = (System.nanoTime() - td0) / 1e9
      s""""sq8_radius_query":{"sec":$qSec,"rows":${acc.value},"build_sec":$buildSec},""" +
        s""""sq8_delete":{"sec":$deleteSec,"rows":$deleted}"""
    }
    val ivfStats = if (!only("ivf_stats")) None else Some {
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      val root = operators.Scratch.diskDir("graft_scale_ivf_stats")
      val cut = emb.agg(max("vec_id")).collect()(0).getLong(0) / 2
      val tb0 = System.nanoTime()
      operators.AnnIndex.stage(operators.Similarity.buildIvf(
        emb.filter(col("vec_id") <= cut)), root)
      operators.AnnIndex.append(spark, root, operators.AnnIndex.FloatIvf,
        emb.filter(col("vec_id") > cut))
      val buildSec = (System.nanoTime() - tb0) / 1e9
      val acc = spark.sparkContext.longAccumulator("rows_ivf_stats")
      val ts0 = System.nanoTime()
      operators.AnnIndex.stats(spark, operators.IndexManifest.currentOrFail(spark, root),
        operators.AnnIndex.FloatIvf, cut + 1)
        .queryExecution.toRdd.foreachPartition(it => acc.add(it.size.toLong))
      val statsSec = (System.nanoTime() - ts0) / 1e9
      val tr0 = System.nanoTime()
      operators.AnnIndex.retrain(spark, root, operators.AnnIndex.FloatIvf)(
        (v, _) => operators.Similarity.buildIvf(v))
      val rebalSec = (System.nanoTime() - tr0) / 1e9
      s""""ivf_stats":{"sec":$statsSec,"rows":${acc.value},"build_sec":$buildSec},""" +
        s""""ivf_rebalance":{"sec":$rebalSec,"rows":${acc.value}}"""
    }
    // the two matrix-completing serving rows: radius off the staged
    // PQ codes, filtered off the staged SQ8 codes (build untimed,
    // query timed — the steady-state figure)
    val pqRadiusServe = if (!only("ivf_pq_radius_query")) None else Some {
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      val idxDir = operators.Scratch.diskDir("graft_scale_ivfpq_rad")
      val tb0 = System.nanoTime()
      operators.AnnIndex.write(operators.Pq.buildIvfPq(emb), idxDir)
      val buildSec = (System.nanoTime() - tb0) / 1e9
      val staged = operators.Pq.readIvfPqIndex(spark, idxDir)
      val acc = spark.sparkContext.longAccumulator("rows_pq_radius")
      val tq0 = System.nanoTime()
      operators.Pq.queryIvfPqIndex(staged, emb,
        0L until operators.Similarity.NQueries.toLong,
        operators.AnnSearch.Radius(operators.Similarity.RadiusTau))
        .queryExecution.toRdd.foreachPartition(it => acc.add(it.size.toLong))
      val qSec = (System.nanoTime() - tq0) / 1e9
      s""""ivf_pq_radius_query":{"sec":$qSec,"rows":${acc.value},"build_sec":$buildSec}"""
    }
    val sq8FilteredServe = if (!only("sq8_filtered_query")) None else Some {
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      val idxDir = operators.Scratch.diskDir("graft_scale_sq8filt")
      val tb0 = System.nanoTime()
      operators.AnnIndex.write(
        operators.Quantize.buildSq8(emb, metaCols = Seq("label")), idxDir)
      val buildSec = (System.nanoTime() - tb0) / 1e9
      val acc = spark.sparkContext.longAccumulator("rows_sq8_filtered")
      val tq0 = System.nanoTime()
      operators.Quantize.querySq8Index(spark, idxDir, emb,
        0L until operators.Similarity.NQueries.toLong, sameLabel = true)
        .queryExecution.toRdd.foreachPartition(it => acc.add(it.size.toLong))
      val qSec = (System.nanoTime() - tq0) / 1e9
      s""""sq8_filtered_query":{"sec":$qSec,"rows":${acc.value},"build_sec":$buildSec}"""
    }
    // the ROTATED tier's full steady-state lifecycle off one staged
    // artifact: stage once (build_sec recorded, untimed in the query
    // figure), filtered query through the rotation seam, a 1%-batch
    // append (assign original-space + rotate + encode — O(|new|)),
    // a GDPR-sized erasure (the PQ cell-directory rewrite verbatim)
    val opqServe = if (!only("ivf_opq_serve")) None else Some {
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      val root = operators.Scratch.diskDir("graft_scale_ivfopq")
      val tb0 = System.nanoTime()
      val idxDir = operators.AnnIndex.stage(
        operators.Opq.buildIvfOpq(emb, metaCols = Seq("label")), root)
      val buildSec = (System.nanoTime() - tb0) / 1e9
      val staged = operators.Opq.IvfOpqIndex(
        operators.AnnIndex.read(spark, idxDir, operators.AnnIndex.IvfOpq))
      val acc = spark.sparkContext.longAccumulator("rows_opq_filtered")
      val tq0 = System.nanoTime()
      operators.Opq.queryIvfOpq(staged, emb,
        0L until operators.Similarity.NQueries.toLong, sameLabel = true)
        .queryExecution.toRdd.foreachPartition(it => acc.add(it.size.toLong))
      val qSec = (System.nanoTime() - tq0) / 1e9
      val maxId = emb.agg(max("vec_id")).collect()(0).getLong(0)
      val nNew = math.max(1L, (maxId + 1) / 100)
      val edim = 64
      // the ivf_pq_append batch shape, plus the riding label the
      // staged codes carry (a label-less batch fails loudly)
      val newVecs = spark.range(nNew).select(
        (col("id") + maxId + 1L).as("vec_id"),
        transform(sequence(lit(0), lit(edim - 1)), i => {
          val cl = pmod(col("id"), lit(32L))
          val c = (pmod(xxhash64(cl, i, lit(20L)), lit(2001L)).cast("double") - 1000.0) / 500.0
          val nz = (pmod(xxhash64(col("id") + maxId + 1L, i, lit(21L)), lit(2001L)).cast("double") - 1000.0) / 20000.0
          (c + nz).cast("float")
        }).as("embedding"),
        pmod(col("id"), lit(7L)).cast("int").as("label"))
      val ta0 = System.nanoTime()
      val appended = operators.AnnIndex.append(spark, root,
        operators.AnnIndex.IvfOpq, newVecs)
      val appendSec = (System.nanoTime() - ta0) / 1e9
      val eraseIds = (0L until 50L).map(i => i * (maxId / 50L))
      val td0 = System.nanoTime()
      val deleted = operators.AnnIndex.erase(spark, root,
        operators.AnnIndex.IvfOpq, eraseIds)
      val deleteSec = (System.nanoTime() - td0) / 1e9
      s""""ivf_opq_filtered_query":{"sec":$qSec,"rows":${acc.value},"build_sec":$buildSec},""" +
        s""""ivf_opq_append":{"sec":$appendSec,"rows":$appended},""" +
        s""""ivf_opq_delete":{"sec":$deleteSec,"rows":$deleted}"""
    }
    // the composed IVF-SQ8 tier's serving split: stage once (build
    // untimed), time only the statically cell-pruned staged query
    val ivfSq8Serve = if (!only("ivf_sq8_query")) None else Some {
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      val idxDir = operators.Scratch.diskDir("graft_scale_ivfsq8")
      val tb0 = System.nanoTime()
      operators.AnnIndex.write(operators.Quantize.buildIvfSq8(emb), idxDir)
      val buildSec = (System.nanoTime() - tb0) / 1e9
      val acc = spark.sparkContext.longAccumulator("rows_ivf_sq8_query")
      val tq0 = System.nanoTime()
      operators.Quantize.queryIvfSq8Index(spark, idxDir, emb,
        0L until operators.Similarity.NQueries.toLong)
        .queryExecution.toRdd.foreachPartition(it => acc.add(it.size.toLong))
      val qSec = (System.nanoTime() - tq0) / 1e9
      s""""ivf_sq8_query":{"sec":$qSec,"rows":${acc.value},"build_sec":$buildSec}"""
    }
    // reader-while-writer on the ATOMIC lifecycle (r18): a reader
    // thread re-resolves the manifest pointer and queries the staged
    // float index in a loop WHILE the main thread lands an atomic
    // append and then an atomic erasure. Every read must fingerprint
    // to one of the three legal states (day-0 / appended / erased) —
    // a mixed-version read (some of the batch's cells visible, or a
    // half-erased tree) is a hard failure, not a statistic. keep=3
    // holds all three versions for the run so a reader that resolved
    // just before a flip still scans live files (the documented
    // retention rule: vacuum delay must exceed the longest query).
    val atomicRww = if (!only("ivf_atomic_rww")) None else Some {
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      val root = operators.Scratch.diskDir("graft_scale_atomic_rww")
      val maxId = emb.agg(max("vec_id")).collect()(0).getLong(0)
      val cut = maxId / 2
      val tb0 = System.nanoTime()
      operators.AnnIndex.stage(operators.Similarity.buildIvf(
        emb.filter(col("vec_id") <= cut)), root)
      val buildSec = (System.nanoTime() - tb0) / 1e9
      def fpOf(rows: Array[org.apache.spark.sql.Row]): Int =
        rows.map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
          java.lang.Double.doubleToLongBits(r.getDouble(3))))
          .sortBy(t => (t._1, t._3)).toSeq.hashCode()
      def readOnce(): (Int, Double) = {
        val t0 = System.nanoTime()
        val dirV = operators.IndexManifest.currentOrFail(spark, root)
        val f = fpOf(operators.Similarity.queryIvfIndex(spark, dirV).collect())
        (f, (System.nanoTime() - t0) / 1e9)
      }
      val fpA = readOnce()._1
      val phase = new java.util.concurrent.atomic.AtomicInteger(0) // 0 quiet, 1 writes landing
      val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
      val readings = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Int, Double)]()
      // reader failures are FINDINGS, not silent thread death (r18
      // advice): a version directory vanishing mid-scan is exactly the
      // consistency break this op exists to catch, so an exception in
      // readOnce must fail the op — not truncate the readings and let
      // n_mixed=0 report success
      val readerErrors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val reader = new Thread(() => {
        while (!stop.get()) {
          val ph = phase.get()
          try {
            val (f, sec) = readOnce()
            readings.add((ph, f, sec))
          } catch { case e: Throwable => readerErrors.add(e); stop.set(true) }
        }
      }, "graft-atomic-reader")
      // a few quiet-phase readings for the latency baseline
      (0 until 3).foreach(_ => { val (f, s) = readOnce(); readings.add((0, f, s)) })
      reader.start()
      phase.set(1)
      val ta0 = System.nanoTime()
      val appended = operators.AnnIndex.append(spark, root, operators.AnnIndex.FloatIvf,
        emb.filter(col("vec_id") > cut), keep = 3)
      val appendSec = (System.nanoTime() - ta0) / 1e9
      val fpB = fpOf(operators.Similarity.queryIvfIndex(spark,
        operators.IndexManifest.currentOrFail(spark, root)).collect())
      val eraseIds = (0L until 50L).map(i => i * (maxId / 50L))
      val td0 = System.nanoTime()
      val deleted = operators.AnnIndex.erase(spark, root, operators.AnnIndex.FloatIvf,
        eraseIds, keep = 3)
      val deleteSec = (System.nanoTime() - td0) / 1e9
      val fpC = fpOf(operators.Similarity.queryIvfIndex(spark,
        operators.IndexManifest.currentOrFail(spark, root)).collect())
      phase.set(0)
      stop.set(true)
      reader.join()
      val all = scala.jdk.CollectionConverters.IterableHasAsScala(readings)
        .asScala.toSeq
      if (!readerErrors.isEmpty) {
        val first = readerErrors.peek()
        throw new IllegalStateException(
          s"ivf_atomic_rww: ${readerErrors.size} concurrent read(s) FAILED " +
            s"during the atomic lifecycle — first: ${first.getMessage}", first)
      }
      val legal = Set(fpA, fpB, fpC)
      val mixed = all.filterNot(r => legal.contains(r._2))
      if (mixed.nonEmpty) throw new IllegalStateException(
        s"ivf_atomic_rww: ${mixed.size}/${all.size} reads saw a MIXED index " +
          s"version — the atomic lifecycle's one invariant is broken")
      def med(xs: Seq[Double]): Double =
        if (xs.isEmpty) -1.0 else xs.sorted.apply(xs.size / 2)
      val quietMs = med(all.filter(_._1 == 0).map(_._3)) * 1000.0
      val duringMs = med(all.filter(_._1 == 1).map(_._3)) * 1000.0
      s""""ivf_atomic_rww":{"sec":${appendSec + deleteSec},"rows":${appended + deleted},""" +
        s""""build_sec":$buildSec,"append_sec":$appendSec,"delete_sec":$deleteSec,""" +
        s""""n_reads":${all.size},"n_mixed":0,""" +
        s""""read_ms_quiet":$quietMs,"read_ms_during_writes":$duringMs}"""
    }
    // version-churn bound of the coalesced atomic streaming ingest
    // (r18 verdict item 5): the SAME high-rate small-batch stream —
    // the last 20% of the corpus in 20 micro-batches — ingested
    // per-batch-publish vs coalesced (publish every ~5 batches of
    // rows). Reported: total versions CREATED over the stream's life
    // (the churn — each one costs a manifest and fresh store files) and
    // files on disk at end (bounded by keep-N either way). The
    // coalesced path must create ~B/5 versions for B batches at the
    // same final answer set (equality is StreamingSpec's job; this
    // row is the growth measurement).
    val ingestChurn = if (!only("ann_ingest_churn")) None else Some {
      import graft.operators.{IndexManifest, Pq}
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      val maxId = emb.agg(max("vec_id")).collect()(0).getLong(0)
      val cut = (maxId / 10L) * 8L
      val nBatches = 20
      val step = math.max(1L, (maxId - cut) / nBatches)
      def batchDf(i: Int) = emb
        .filter(col("vec_id") > cut + i * step &&
          col("vec_id") <= (if (i == nBatches - 1) maxId else cut + (i + 1) * step))
        .select(col("vec_id"), col("embedding"))
      def filesUnder(root: String): Long = {
        val p = new org.apache.hadoop.fs.Path(root)
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val it = fs.listFiles(p, true)
        var c = 0L
        while (it.hasNext) { it.next(); c += 1 }
        c
      }
      def drive(publishEveryRows: Long, tag: String): (Double, Long, Long) = {
        val root = operators.Scratch.diskDir(s"graft_scale_churn_$tag")
        Pq.stageIvfPqIndexVersion(
          Pq.buildIvfPq(emb.filter(col("vec_id") <= cut)), root)
        val t0 = System.nanoTime()
        (0 until nBatches).foreach { i =>
          graft.streaming.Streams.annIngestMicroBatchAtomic(
            batchDf(i), root, keep = 2, publishEveryRows = publishEveryRows)
        }
        graft.streaming.Streams.annIngestFlushPending(spark, root, keep = 2)
        val sec = (System.nanoTime() - t0) / 1e9
        val lastV = IndexManifest.currentOrFail(spark, root)
          .split('/').last.stripPrefix("v=").toLong
        (sec, lastV, filesUnder(root))
      }
      val batchRows = (maxId - cut) / nBatches
      val (secPer, vPer, filesPer) = drive(0L, "perbatch")
      val (secCo, vCo, filesCo) = drive(batchRows * 5, "coalesced")
      s""""ann_ingest_churn":{"sec":$secCo,"rows":${maxId - cut},""" +
        s""""batches":$nBatches,"versions_per_batch_path":$vPer,""" +
        s""""versions_coalesced":$vCo,"files_end_per_batch":$filesPer,""" +
        s""""files_end_coalesced":$filesCo,"sec_per_batch_path":$secPer}"""
    }
    // delta publish cost (r19 verdict item 2's DONE gate): a fixed 1%
    // batch appended to (and 50 ids erased from) a day-0 index holding
    // the other 99% — the untouched mass whose size must NOT appear in
    // the publish bill, which is one manifest write plus the touched
    // partitions' rewrite. Read the row as: *_sec ≈ flat across
    // 100×/1000×.
    val refsCost = if (!only("ivf_refs_cost")) None else Some {
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      val maxId = emb.agg(max("vec_id")).collect()(0).getLong(0)
      val cut = (maxId / 100L) * 99L
      val base = emb.filter(col("vec_id") <= cut)
      val batch = emb.filter(col("vec_id") > cut)
      val eraseIds = (0L until 50L).map(i => i * (cut / 50L))
      val root = operators.Scratch.diskDir("graft_scale_refs_cost")
      operators.AnnIndex.stage(operators.Similarity.buildIvf(base), root)
      val t0 = System.nanoTime()
      val nRows = operators.AnnIndex.append(spark, root, operators.AnnIndex.FloatIvf, batch)
      val ra = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      operators.AnnIndex.erase(spark, root, operators.AnnIndex.FloatIvf, eraseIds)
      val rd = (System.nanoTime() - t1) / 1e9
      // The IVF corpus shape above cannot show the O(touched) bill:
      // ~32 cells and a hash-spread batch mean every publish touches
      // every partition. The regime the refs layout exists for is MANY
      // partitions + a cell-local batch. This synthetic tree measures
      // exactly that, at STEADY STATE (the 2nd delta, so the publish
      // inherits via manifest parse instead of walking the
      // full-publish tree):
      val pParts = math.min(4096L, 64L * mult)
      val phRefs = {
        val root = operators.Scratch.diskDir("graft_scale_refs_parts")
        val rows = spark.range(pParts * 50)
          .select(col("id").as("vec_id"), pmod(col("id"), lit(pParts)).as("cell"),
            md5(col("id").cast("string")).as("payload"))
        operators.IndexManifest.publish(spark, root) { dir =>
          rows.repartition(col("cell"))
            .write.partitionBy("cell").parquet(s"$dir/codes")
        }
        def batch(tag: Long) = spark.range(200)
          .select((col("id") + pParts * 50 + tag * 1000).as("vec_id"),
            pmod(col("id"), lit(4L)).as("cell"),
            md5(col("id").cast("string")).as("payload"))
        // warm delta (untimed): the first delta pays the one-time
        // full-publish tree walk
        operators.IndexManifest.appendRowsAtomic(spark, root, "codes", "cell",
          batch(0), keep = 2)
        val t0 = System.nanoTime()
        operators.IndexManifest.appendRowsAtomic(spark, root, "codes", "cell",
          batch(1), keep = 2)
        (System.nanoTime() - t0) / 1e9
      }
      s""""ivf_refs_cost":{"sec":${ra + rd},"rows":$nRows,""" +
        s""""refs_append_sec":$ra,"refs_delete_sec":$rd,""" +
        s""""parts":$pParts,"partheavy_refs_sec":$phRefs}"""
    }
    // replay-after-retrain fence (r19 verdict item 1's DONE gate): a
    // batch lands, the index RETRAINS (fresh centroids+codebooks — the
    // assignment function moves), then the SAME batch replays. The
    // epoch fence must detect the moved epoch, claim against the full
    // live vec_id set, and land ZERO duplicates with zero appended
    // rows. `sec` is the replay's bill — the once-per-retrain price of
    // the assignment-independent claim.
    val replayRetrain = if (!only("ann_ingest_replay_retrain")) None else Some {
      import graft.operators.{IndexManifest, Pq}
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      val maxId = emb.agg(max("vec_id")).collect()(0).getLong(0)
      val cut = (maxId / 10L) * 9L
      val root = operators.Scratch.diskDir("graft_scale_replay_retrain")
      Pq.stageIvfPqIndexVersion(
        Pq.buildIvfPq(emb.filter(col("vec_id") <= cut)), root)
      val batch = emb.filter(col("vec_id") > cut)
        .select(col("vec_id"), col("embedding"))
      val n1 = graft.streaming.Streams.annIngestMicroBatchAtomic(batch, root)
      operators.AnnIndex.retrain(spark, root, operators.AnnIndex.IvfPq,
        emb.select(col("vec_id"), col("embedding")))((v, m) => Pq.buildIvfPq(v, metaCols = m))
      val t0 = System.nanoTime()
      val nReplay = graft.streaming.Streams.annIngestMicroBatchAtomic(batch, root)
      val sec = (System.nanoTime() - t0) / 1e9
      val codes = Pq.readIvfPqIndex(spark,
        IndexManifest.currentOrFail(spark, root)).codes
      val total = codes.count()
      val dups = total - codes.select("vec_id").distinct().count()
      require(nReplay == 0L && dups == 0L,
        s"replay-after-retrain landed $nReplay rows / $dups duplicate ids")
      s""""ann_ingest_replay_retrain":{"sec":$sec,"rows":$n1,""" +
        s""""replay_appended":$nReplay,"dup_vec_ids":$dups,"index_rows":$total}"""
    }
    val qs = (results.collect { case (k, s, r) if r >= 0 => s""""$k":{"sec":$s,"rows":$r}""" }
      ++ pipe ++ scd2Apply ++ ivfAppend ++ sq8Serve
      ++ pqFilteredServe ++ sq8RadiusServe ++ ivfStats
      ++ pqRadiusServe ++ sq8FilteredServe ++ opqServe
      ++ ivfSq8Serve ++ atomicRww ++ ingestChurn
      ++ refsCost ++ replayRetrain).mkString(",")
    println(s"""{"scale_mult":$mult,"n_events":$n,"ops":{$qs}}""")
    spark.stop()
  }
}
