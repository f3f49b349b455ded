package graft

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine.
  *
  * Tuned for the harness's `local[32]` single-JVM mode but every knob
  * is the one you'd set on a real cluster: AQE (runtime re-planning,
  * skew-join splitting, partition coalescing) stays on, shuffle
  * partition count is sized to the parallelism instead of the 200
  * default, and the session timezone is pinned to UTC so results are
  * portable across engines (the DuckDB oracle runs in UTC).
  */
object GraftSession {
  /** One warehouse per JVM (lazy: created on first builder use). */
  private lazy val warehouseDir: String =
    java.nio.file.Files.createTempDirectory("graft-warehouse").toString

  /** Local-mode scratch root for shuffle/spill files.
    *
    * In `local[*]` mode every shuffle write lands on
    * `spark.local.dir` (default `/tmp`), which on a virtualized
    * single-node box is a variable-latency virtio disk — round-6/7
    * bench runs showed multi-second jitter on shuffle-heavy queries
    * that tracked disk latency, not plan cost. When a RAM-backed
    * tmpfs (`/dev/shm`) is present and writable we put local dirs
    * there instead: single-node benchmarking measures the plan, not
    * the hypervisor. Only applied for local masters — on a real
    * cluster the resource manager provisions `spark.local.dir`
    * (node-local SSDs) and overriding it would be wrong.
    * `GRAFT_LOCAL_DIR` overrides the choice either way.
    */
  private[graft] lazy val localScratchRoot: Option[String] =
    sys.env.get("GRAFT_LOCAL_DIR").orElse {
      val shm = java.nio.file.Paths.get("/dev/shm")
      if (java.nio.file.Files.isDirectory(shm) && java.nio.file.Files.isWritable(shm)) {
        val d = java.nio.file.Files.createTempDirectory(shm, "graft-local-")
        // Spark deletes its own subdirs on stop, racing this hook —
        // the recursive delete must tolerate entries vanishing
        // mid-walk (NoSuchFile surfaces as UncheckedIOException from
        // the directory stream, not just IOException).
        def rmTree(p: java.nio.file.Path): Unit = {
          try {
            if (java.nio.file.Files.isDirectory(p, java.nio.file.LinkOption.NOFOLLOW_LINKS)) {
              val children = java.nio.file.Files.list(p)
              try children.forEach(c => rmTree(c)) finally children.close()
            }
            java.nio.file.Files.deleteIfExists(p)
          } catch {
            case _: java.io.IOException | _: java.io.UncheckedIOException => ()
          }
          ()
        }
        Runtime.getRuntime.addShutdownHook(new Thread(() => rmTree(d), "graft-localdir-cleanup"))
        Some(d.toString)
      } else None
    }

  def builder(master: String = s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")}]",
              shufflePartitions: Int = 32): SparkSession.Builder = {
    val b = SparkSession.builder()
      .master(master)
      .appName("graft")
      // native codegen expressions (graft.functions.RollingHash*)
      // registered through the public extensions API
      .withExtensions { ext =>
        ext.injectFunction(graft.functions.RollingHashFunctions.polyHash64)
        ext.injectFunction(graft.functions.RollingHashFunctions.rollingMinHash)
        ext.injectFunction(graft.functions.VectorFunctions.vecDot)
        ext.injectFunction(graft.functions.MinHashFunctions.minhashSketch)
        ext.injectFunction(graft.functions.WordNgramFunctions.hashedWordNgrams)
        ext.injectFunction(graft.functions.WordNgramFunctions.hashedCharNgrams)
        ext.injectFunction(graft.functions.WordNgramFunctions.hashedWordNgramSeq)
        ext.injectFunction(graft.functions.HllFunctions.hllNdv)
        ext.injectFunction(graft.functions.HllFunctions.hllSketch)
        ext.injectFunction(graft.functions.HllFunctions.hllMergeEst)
        ext.injectFunction(graft.functions.BloomFunctions.bloomAgg)
        ext.injectFunction(graft.functions.BloomFunctions.bloomMightContain)
        ext.injectFunction(graft.functions.HilbertFunctions.hilbertIndex)
        ext.injectFunction(graft.functions.SortableBitsFunctions.sortableDoubleBits)
      }
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      // TypedImperativeAggregates (minhash_sketch, hll_ndv, bloom_agg)
      // run under ObjectHashAggregateExec, which falls back to
      // SORT-based aggregation once a task sees more than 128 distinct
      // groups (the Spark default) — i.e. every high-cardinality
      // grouping (per-doc minhash signatures, per-hour HLL windows)
      // silently pays a full per-partition sort. The graft sketch
      // buffers are small (hll 2^8 B, minhash 128×8 B), so hashing
      // 64k groups per task costs at most tens of MB — far cheaper
      // than sorting the input. Past that, falling back is the right
      // spill-safe behavior, so the threshold is raised, not disabled.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "65536")
      // several bounded report frames (calendar-day drift, bins-sized
      // histogram cuts, vocab-sized id ranks) DECLARE their intentional
      // one-partition window with a literal partition key; this rule
      // would fold the literal away, reverting the window to an
      // "unpartitioned" spec whose runtime warning then drowns the log
      // lines an operator actually pages on. The rule only ever fires
      // on foldable partition keys — which this codebase writes solely
      // to make that declaration — so excluding it changes nothing else.
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.EliminateWindowPartitions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet carries TIMESTAMP(NANOS) which Spark's parquet
      // reader rejects; read as raw nanos (long) and convert to a µs
      // timestamp in Tables.events (ns DIV 1000 — integer division, no
      // double roundtrip, matches DuckDB's CAST(ts_ns AS TIMESTAMP)).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // the corpus parquet stamps timestamps without timezone metadata
      // (isAdjustedToUTC=false); Spark 4 would infer TIMESTAMP_NTZ,
      // which unix_micros/window/JDBC reject. Read them as session-tz
      // instants instead — the session is pinned UTC (above) so the
      // micros are bit-identical to the naive values the DuckDB oracle
      // sees, and to what tz-stamped files would have produced.
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.parquet.compression.codec", "snappy")
      .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
      // a read of more paths (or subdirectories) than this lists them in
      // a Spark job; at or below it the driver lists them itself. A
      // staged index tree is one directory per cell (~√(n/2) of them,
      // about 1000 at 2M vectors) plus the files a `_REFS` manifest
      // names, so at Spark's default of 32 nearly every index read paid
      // a listing job that outlasted the listing. The trade-off: above
      // 1024 paths Spark lists in a job again, and on an object store,
      // where each listing call is a remote round trip, a serial driver
      // listing of many paths is slower than the job.
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "1024")
      // managed tables (bucketed sinks) land in a PER-JVM temp dir —
      // a fixed shared path would let concurrent JVMs clobber each
      // other's tables and leave stale locations for saveAsTable
      .config("spark.sql.warehouse.dir", warehouseDir)
      .config("spark.ui.enabled", "false")
    // see localScratchRoot — local masters only
    if (master.startsWith("local")) localScratchRoot.fold(b)(d => b.config("spark.local.dir", d))
    else b
  }

  def get(): SparkSession = {
    val spark = builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
