package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.operators.AnnIndex
import graft.streaming.Streams

class StreamingSpec extends SparkSpecBase {

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("windowed agg: stream (complete mode, watermarked) equals batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq(
      (1L, ts("2024-01-01 10:05:00"), "click", 1.5),
      (2L, ts("2024-01-01 10:40:00"), "click", 2.5),
      (3L, ts("2024-01-01 10:55:00"), "view", 1.0),
      (4L, ts("2024-01-01 11:10:00"), "click", 4.0),
      (5L, ts("2024-01-01 12:01:00"), "view", 8.0))
    val mem = MemoryStream[(Long, Timestamp, String, Double)]
    val streamDf = mem.toDF.toDF("event_id", "ts", "event_type", "value")
    val q = Streams.windowedAggStream(streamDf).writeStream
      .format("memory").queryName("wagg").outputMode("complete").start()
    try {
      mem.addData(rows.take(3))
      q.processAllAvailable()
      mem.addData(rows.drop(3))
      q.processAllAvailable()
      val streamed = spark.table("wagg").collect()
        .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
      val batch = Streams.windowedAgg(
        rows.toDF("event_id", "ts", "event_type", "value")).collect()
        .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
      assert(streamed == batch)
      assert(batch.nonEmpty)
    } finally q.stop()
  }

  test("streaming dedupe: first-arrived kept, equals batch twin on ordered feed") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // two duplicates of the same (user,type,day) key arriving later
    val rows = Seq(
      (10L, ts("2024-01-02 09:00:00"), 7L, "click", 1.0),
      (11L, ts("2024-01-02 09:30:00"), 7L, "click", 2.0), // dup, later ts
      (12L, ts("2024-01-02 09:45:00"), 8L, "view", 3.0),
      (13L, ts("2024-01-03 09:00:00"), 7L, "click", 4.0)) // next day: new key
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val streamDf = mem.toDF.toDF("event_id", "ts", "user_id", "event_type", "value")
    val q = Streams.keepFirstStream(streamDf).writeStream
      .format("memory").queryName("dedup").outputMode("append").start()
    try {
      mem.addData(rows.take(2))
      q.processAllAvailable()
      mem.addData(rows.drop(2))
      q.processAllAvailable()
      val streamed = spark.table("dedup").collect().map(_.getLong(0)).toSet
      assert(streamed == Set(10L, 12L, 13L), s"got $streamed")
      // batch twin on the same frame gives the same survivors
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"), col("event_type"), to_date(col("ts")))
        .orderBy(col("ts"), col("event_id"))
      val batch = rows.toDF("event_id", "ts", "user_id", "event_type", "value")
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .collect().map(_.getLong(0)).toSet
      assert(batch == streamed)
    } finally q.stop()
  }

  test("hop windows: stream equals batch; each event lands in exactly 4 windows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq(
      (1L, ts("2024-01-01 10:59:00"), "click", 1.5),   // spike at :59
      (2L, ts("2024-01-01 10:07:00"), "click", 2.5),
      (3L, ts("2024-01-01 11:16:00"), "view", 1.0))
    val mem = MemoryStream[(Long, Timestamp, String, Double)]
    val streamDf = mem.toDF.toDF("event_id", "ts", "event_type", "value")
    val q = Streams.hopWindowedAggStream(streamDf).writeStream
      .format("memory").queryName("hopagg").outputMode("complete").start()
    try {
      mem.addData(rows)
      q.processAllAvailable()
      def key(r: org.apache.spark.sql.Row) =
        (r.getTimestamp(0), r.getTimestamp(1), r.getString(2), r.getLong(3), r.getDouble(4))
      val streamed = spark.table("hopagg").collect().map(key).toSet
      val batchDf = Streams.hopWindowedAgg(rows.toDF("event_id", "ts", "event_type", "value"))
      val batch = batchDf.collect().map(key).toSet
      assert(streamed == batch && batch.nonEmpty)
      // overlap contract: total (window, event) memberships = 4 per event
      val total = batchDf.agg(org.apache.spark.sql.functions.sum("n_events"))
        .head().getLong(0)
      assert(total == 4L * rows.length, s"each event must cover 4 hops, got $total")
      // the :59 spike shows in four distinct click windows
      val clickWindows = batch.filter(_._3 == "click").map(_._1)
      assert(clickWindows.size >= 4)
    } finally q.stop()
  }

  test("windowed agg append mode: watermark finalizes closed windows only") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, String, Double)]
    val streamDf = mem.toDF.toDF("event_id", "ts", "event_type", "value")
    val q = Streams.windowedAggStream(streamDf).writeStream
      .format("memory").queryName("wagg_append").outputMode("append").start()
    try {
      mem.addData(Seq((1L, ts("2024-01-01 10:05:00"), "click", 1.0)))
      q.processAllAvailable()
      // watermark (max event time - 2h) hasn't passed the 10:00 window
      assert(spark.table("wagg_append").count() == 0)
      // an event far enough ahead pushes the watermark past 11:00
      mem.addData(Seq((2L, ts("2024-01-01 13:30:00"), "view", 2.0)))
      q.processAllAvailable()
      mem.addData(Seq((3L, ts("2024-01-01 16:00:00"), "view", 3.0)))
      q.processAllAvailable()
      val emitted = spark.table("wagg_append").collect()
        .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2)))
      assert(emitted.contains((ts("2024-01-01 10:00:00"), "click", 1L)),
        s"10:00 window should have finalized, got ${emitted.mkString(",")}")
      // the 16:00 window is still open — not emitted
      assert(!emitted.exists(_._1 == ts("2024-01-01 16:00:00")))
    } finally q.stop()
  }

  test("streaming approx-ndv: sketch state merges across micro-batches, equals batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // same user seen in two micro-batches within one window must not
    // double-count; distinct users split across batches must merge
    val rows = Seq(
      (1L, ts("2024-01-01 10:05:00"), 100L, "click", 1.0),
      (2L, ts("2024-01-01 10:10:00"), 101L, "view", 1.0),
      (3L, ts("2024-01-01 10:40:00"), 100L, "click", 1.0), // repeat user, batch 2
      (4L, ts("2024-01-01 10:45:00"), 102L, "view", 1.0),
      (5L, ts("2024-01-01 11:20:00"), 103L, "click", 1.0))
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val streamDf = mem.toDF.toDF("event_id", "ts", "user_id", "event_type", "value")
    val q = Streams.windowedApproxNdvStream(streamDf).writeStream
      .format("memory").queryName("ndv").outputMode("complete").start()
    try {
      mem.addData(rows.take(2))
      q.processAllAvailable()
      mem.addData(rows.drop(2))
      q.processAllAvailable()
      val streamed = spark.table("ndv").collect()
        .map(r => (r.getTimestamp(0), r.getDouble(1))).toSet
      val batch = Streams.windowedApproxNdv(
        rows.toDF("event_id", "ts", "user_id", "event_type", "value")).collect()
        .map(r => (r.getTimestamp(0), r.getDouble(1))).toSet
      assert(streamed == batch, s"stream $streamed != batch $batch")
      // at these tiny cardinalities the estimate is near-exact: the
      // 10:00 window saw users {100,101,102} = 3 (100 twice)
      val w10 = streamed.find(_._1 == ts("2024-01-01 10:00:00")).get._2
      assert(math.abs(w10 - 3.0) < 0.1, s"10:00 ndv estimate $w10")
    } finally q.stop()
  }

  test("stateful sessionizer: sessions close across micro-batches, state persists") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Streams.Ev]
    val q = Streams.sessionize(mem.toDS).writeStream
      .format("memory").queryName("sessions").outputMode("append").start()
    try {
      // batch 1: two events 1h apart (same session)
      mem.addData(
        Streams.Ev(1L, ts("2024-01-01 08:00:00"), 1L),
        Streams.Ev(1L, ts("2024-01-01 09:00:00"), 2L))
      q.processAllAvailable()
      assert(spark.table("sessions").count() == 0, "session still open")
      // batch 2: 7h gap -> closes the first session, opens a second
      mem.addData(Streams.Ev(1L, ts("2024-01-01 16:30:00"), 3L))
      q.processAllAvailable()
      val closed = spark.table("sessions").collect()
      assert(closed.length == 1)
      val s = closed(0)
      assert(s.getLong(0) == 1L)
      assert(s.getTimestamp(1) == ts("2024-01-01 08:00:00"))
      assert(s.getTimestamp(2) == ts("2024-01-01 09:00:00"))
      assert(s.getLong(3) == 2L)
      // batch 3: another user is independent state
      mem.addData(
        Streams.Ev(2L, ts("2024-01-01 10:00:00"), 4L),
        Streams.Ev(2L, ts("2024-01-01 20:00:00"), 5L))
      q.processAllAvailable()
      val all = spark.table("sessions").collect()
      assert(all.length == 2)
      assert(all.map(_.getLong(0)).toSet == Set(1L, 2L))
    } finally q.stop()
  }

  test("foreachBatch upsert sink: stream merges into the lake with keep-latest semantics") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val lake = java.nio.file.Files.createTempDirectory("graft_stream_lake").toString
    val l2 = s"$lake/l2"
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val streamDf = mem.toDF.toDF("event_id", "ts", "user_id", "event_type", "value")
    val q = Streams.upsertSink(streamDf, l2)
      .option("checkpointLocation", s"$lake/ckpt").start()
    try {
      mem.addData(Seq(
        (1L, ts("2024-03-01 10:00:00"), 5L, "click", 1.0),
        (2L, ts("2024-03-01 11:00:00"), 5L, "click", 2.0))) // same key, later ts
      q.processAllAvailable()
      val after1 = spark.read.parquet(l2).collect()
      assert(after1.length == 1 && after1(0).getLong(0) == 2L,
        "first batch keeps only the latest write per key")
      // a later micro-batch with an even newer row for the same key
      mem.addData(Seq(
        (3L, ts("2024-03-01 12:00:00"), 5L, "click", 3.0),
        (4L, ts("2024-03-01 09:00:00"), 6L, "view", 4.0)))
      q.processAllAvailable()
      val after2 = spark.read.parquet(l2).collect()
        .map(r => (r.getLong(2), r.getString(3)) -> r.getLong(0)).toMap
      assert(after2 == Map((5L, "click") -> 3L, (6L, "view") -> 4L),
        s"cross-batch upsert must keep latest per key, got $after2")
    } finally q.stop()
  }

  test("cdc apply sink: cross-day deletes mask, tombstones persist, late updates lose") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val lake = java.nio.file.Files.createTempDirectory("graft_cdc_lake").toString
    val l2 = s"$lake/l2"
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val streamDf = mem.toDF.toDF("event_id", "ts", "user_id", "op", "value")
    val q = Streams.cdcApplySink(streamDf, l2)
      .option("checkpointLocation", s"$lake/ckpt").start()
    def snapshot() = Streams.readCdcSnapshot(spark, l2)
      .collect().map(r => r.getLong(2) -> r.getDouble(4)).toMap
    try {
      // batch 1: two inserts on day 1
      mem.addData(Seq(
        (1L, ts("2024-03-01 10:00:00"), 5L, "U", 1.0),
        (2L, ts("2024-03-01 10:00:00"), 6L, "U", 2.0)))
      q.processAllAvailable()
      assert(snapshot() == Map(5L -> 1.0, 6L -> 2.0))
      // batch 2: delete user 6 on day 2 — the delete must mask the
      // DAY-1 row (the key-bucketed lake's whole point: a
      // date-partitioned merge would never see day 1's partition and
      // the key would resurrect); gone from the SNAPSHOT, tombstone
      // retained in the raw lake
      mem.addData(Seq((3L, ts("2024-03-02 11:00:00"), 6L, "D", 0.0)))
      q.processAllAvailable()
      assert(snapshot() == Map(5L -> 1.0),
        "a next-day delete must mask the prior day's row")
      val raw = spark.read.parquet(l2).filter(col("user_id") === 6L).collect()
      assert(raw.length == 1 && raw(0).getString(3) == "D",
        "tombstone must persist as the key's latest lake state")
      // batch 3: a LATE update for user 6 older than the delete — the
      // retained tombstone must win (no resurrection)
      mem.addData(Seq((4L, ts("2024-03-01 23:00:00"), 6L, "U", 9.0)))
      q.processAllAvailable()
      assert(snapshot() == Map(5L -> 1.0), "late pre-delete update must not resurrect the key")
      // batch 4: a genuine re-insert AFTER the delete (day 3) revives
      mem.addData(Seq((5L, ts("2024-03-03 12:00:00"), 6L, "U", 7.0)))
      q.processAllAvailable()
      assert(snapshot() == Map(5L -> 1.0, 6L -> 7.0))
      // a user updated on two different days appears exactly once
      mem.addData(Seq((6L, ts("2024-03-04 08:00:00"), 5L, "U", 4.0)))
      q.processAllAvailable()
      assert(snapshot() == Map(5L -> 4.0, 6L -> 7.0),
        "multi-day updates must collapse to one snapshot row per key")
    } finally q.stop()
  }

  test("gdpr delete: erases live rows and tombstones, prunes to affected buckets") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val lake = java.nio.file.Files.createTempDirectory("graft_gdpr_lake").toString
    val l2 = s"$lake/l2"
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val streamDf = mem.toDF.toDF("event_id", "ts", "user_id", "op", "value")
    val q = Streams.cdcApplySink(streamDf, l2)
      .option("checkpointLocation", s"$lake/ckpt").start()
    try {
      // users 5 and 6 live; user 7 already tombstoned; 8 untouched
      mem.addData(Seq(
        (1L, ts("2024-03-01 10:00:00"), 5L, "U", 1.0),
        (2L, ts("2024-03-01 10:00:00"), 6L, "U", 2.0),
        (3L, ts("2024-03-01 10:00:00"), 7L, "U", 3.0),
        (4L, ts("2024-03-02 10:00:00"), 7L, "D", 0.0),
        (5L, ts("2024-03-01 10:00:00"), 8L, "U", 4.0)))
      q.processAllAvailable()
    } finally q.stop()
    def bucketOf(u: Long): Int =
      spark.range(1).select(pmod(xxhash64(lit(u)), lit(Streams.CdcBuckets.toLong))
        .cast("int")).collect()(0).getInt(0)
    // pick an untouched bucket's file listing before the delete
    val fs = new org.apache.hadoop.fs.Path(l2)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def files(b: Int): Set[(String, Long)] = {
      val p = new org.apache.hadoop.fs.Path(l2, s"bucket=$b")
      if (!fs.exists(p)) Set.empty
      else fs.listStatus(p).map(st => (st.getPath.getName, st.getModificationTime)).toSet
    }
    val untouched = Seq(8L).map(bucketOf).toSet -- Seq(5L, 7L).map(bucketOf).toSet
    assume(untouched.nonEmpty, "fixture users must not all share buckets")
    val beforeFiles = untouched.map(b => b -> files(b)).toMap

    import spark.implicits._
    val erased = Streams.cdcDeleteKeys(spark, l2, Seq(5L, 7L).toDF("user_id"))
    // user 5's live row + user 7's retained tombstone (the merge
    // already collapsed 7's update under it — latest per key)
    assert(erased == 2L, s"expected 2 lake rows erased, got $erased")
    val rawUsers = spark.read.parquet(l2).select("user_id").collect().map(_.getLong(0)).toSet
    assert(rawUsers == Set(6L, 8L), "raw lake must hold no trace of erased keys")
    val snap = Streams.readCdcSnapshot(spark, l2)
      .collect().map(_.getLong(2)).toSet
    assert(snap == Set(6L, 8L))
    // pruning: untouched buckets keep their exact files (name + mtime)
    untouched.foreach(b => assert(files(b) == beforeFiles(b),
      s"bucket $b was rewritten despite holding no erased key"))
    // convention sidecar survives the rewrite
    assert(fs.exists(new org.apache.hadoop.fs.Path(l2, "_graft_cdc_convention")))
  }

  test("gdpr delete: a bucket emptied by the erasure is removed, not resurrected") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val lake = java.nio.file.Files.createTempDirectory("graft_gdpr_lake2").toString
    val l2 = s"$lake/l2"
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val streamDf = mem.toDF.toDF("event_id", "ts", "user_id", "op", "value")
    val q = Streams.cdcApplySink(streamDf, l2)
      .option("checkpointLocation", s"$lake/ckpt").start()
    try {
      mem.addData(Seq(
        (1L, ts("2024-03-01 10:00:00"), 5L, "U", 1.0),
        (2L, ts("2024-03-01 10:00:00"), 8L, "U", 4.0)))
      q.processAllAvailable()
    } finally q.stop()
    val erased = Streams.cdcDeleteKeys(spark, l2, Seq(5L).toDF("user_id"))
    assert(erased >= 1L)
    val remaining = spark.read.parquet(l2).select("user_id")
      .collect().map(_.getLong(0)).toSet
    assert(remaining == Set(8L), s"erased key must not resurrect, got $remaining")
    // a completed erasure leaves no pending marker behind
    val fs = new org.apache.hadoop.fs.Path(l2)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(l2, Streams.GdprPendingFile)))
  }

  test("gdpr delete: a crash before the emptied-bucket deletes is healed, never resurrects") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val lake = java.nio.file.Files.createTempDirectory("graft_gdpr_lake3").toString
    val l2 = s"$lake/l2"
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val streamDf = mem.toDF.toDF("event_id", "ts", "user_id", "op", "value")
    val q = Streams.cdcApplySink(streamDf, l2)
      .option("checkpointLocation", s"$lake/ckpt").start()
    try {
      mem.addData(Seq(
        (1L, ts("2024-03-01 10:00:00"), 5L, "U", 1.0),
        (2L, ts("2024-03-01 10:00:00"), 8L, "U", 4.0)))
      q.processAllAvailable()
    } finally q.stop()
    val fs = new org.apache.hadoop.fs.Path(l2)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def bucketOf(u: Long): Int =
      spark.range(1).select(pmod(xxhash64(lit(u)), lit(Streams.CdcBuckets.toLong))
        .cast("int")).collect()(0).getInt(0)
    // SIMULATE the crash window: user 5's bucket rewrite completed (it
    // holds only 5, so the rewrite wrote nothing) but the process died
    // before the directory delete — i.e. write the pending marker by
    // hand and leave the stale bucket files in place
    val b5 = bucketOf(5L)
    assume(b5 != bucketOf(8L), "fixture users must land in distinct buckets")
    val marker = new org.apache.hadoop.fs.Path(l2, Streams.GdprPendingFile)
    val out = fs.create(marker, true)
    try out.write(s"$b5".getBytes("UTF-8")) finally out.close()
    // a snapshot read of the half-erased lake must REFUSE, not serve
    // the resurrected key
    val e = intercept[IllegalArgumentException] {
      Streams.readCdcSnapshot(spark, l2)
    }
    assert(e.getMessage.contains("recoverPendingErasure"))
    // recovery completes the interrupted deletes and retires the marker
    assert(Streams.recoverPendingErasure(spark, l2) == 1)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(l2, s"bucket=$b5")))
    assert(!fs.exists(marker))
    assert(Streams.recoverPendingErasure(spark, l2) == 0, "recovery is idempotent")
    val snap = Streams.readCdcSnapshot(spark, l2).collect().map(_.getLong(2)).toSet
    assert(snap == Set(8L), s"healed lake must hold only the survivor, got $snap")
    // a fresh erasure run on a lake with a pending marker heals first:
    // plant a marker for an already-gone bucket, then erase user 8
    val out2 = fs.create(marker, true)
    try out2.write(s"$b5".getBytes("UTF-8")) finally out2.close()
    val erased = Streams.cdcDeleteKeys(spark, l2, Seq(8L).toDF("user_id"))
    assert(erased == 1L)
    assert(!fs.exists(marker), "cdcDeleteKeys must retire the healed marker")
  }

  test("gdpr heal: a v2 marker completes an interrupted surviving-bucket rewrite") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val lake = java.nio.file.Files.createTempDirectory("graft_gdpr_lake4").toString
    val l2 = s"$lake/l2"
    def bucketOf(u: Long): Int =
      spark.range(1).select(pmod(xxhash64(lit(u)), lit(Streams.CdcBuckets.toLong))
        .cast("int")).collect()(0).getInt(0)
    // survivor 8 plus an erase-target v sharing 8's bucket, and user 5
    // alone in its own bucket — so the erasure of {5, v} EMPTIES 5's
    // bucket but must REWRITE 8's
    val b8 = bucketOf(8L)
    val v = (9L to 400L).find(u => bucketOf(u) == b8 && u != 8L).get
    val b5 = bucketOf(5L)
    assume(b5 != b8, "user 5 must land apart from the shared bucket")
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val streamDf = mem.toDF.toDF("event_id", "ts", "user_id", "op", "value")
    val q = Streams.cdcApplySink(streamDf, l2)
      .option("checkpointLocation", s"$lake/ckpt").start()
    try {
      mem.addData(Seq(
        (1L, ts("2024-03-01 10:00:00"), 5L, "U", 1.0),
        (2L, ts("2024-03-01 10:00:00"), 8L, "U", 4.0),
        (3L, ts("2024-03-01 10:00:00"), v, "U", 7.0)))
      q.processAllAvailable()
    } finally q.stop()
    // SIMULATE a crash after the marker publish but BEFORE the
    // surviving-bucket rewrite: write the full v2 plan by hand, touch
    // nothing else — pre-v2 this window left v's rows in the lake with
    // the guard silently cleared (advice finding r13)
    val fs = new org.apache.hadoop.fs.Path(l2)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new org.apache.hadoop.fs.Path(l2, Streams.GdprPendingFile)
    def b64(s: String) =
      java.util.Base64.getEncoder.encodeToString(s.getBytes("UTF-8"))
    val body = Seq(Streams.GdprMarkerV2,
      s"emptied:$b5", s"affected:${Seq(b5, b8).sorted.mkString(",")}",
      b64("5"), b64(v.toString)).mkString("\n")
    val out = fs.create(marker, true)
    try out.write(body.getBytes("UTF-8")) finally out.close()
    // heal completes BOTH steps: v erased from the shared bucket,
    // bucket b5 removed, marker retired
    assert(Streams.recoverPendingErasure(spark, l2) == 2)
    assert(!fs.exists(marker))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(l2, s"bucket=$b5")))
    val rawUsers = spark.read.parquet(l2).select("user_id")
      .collect().map(_.getLong(0)).toSet
    assert(rawUsers == Set(8L),
      s"heal must complete the erasure of $v, lake holds $rawUsers")
    assert(Streams.recoverPendingErasure(spark, l2) == 0, "heal is idempotent")
  }

  test("minhash guard stream equals the batch twin; claims persist across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_mh_guard").toString
    val out = s"$root/kept"; val index = s"$root/index"
    // three micro-batches, docs arriving in doc_id order (the batch
    // twin's arrival-order contract); exact dup texts collide on every
    // band, distinct texts on none, and a <3-word doc never shingles
    val b1 = Seq(
      (1L, "web", "the quick brown fox jumps over the lazy dog"),
      (2L, "web", "colorless green ideas sleep furiously at night"))
    val b2 = Seq(
      (3L, "wiki", "the quick brown fox jumps over the lazy dog"), // dup of 1 (cross-batch)
      (4L, "wiki", "a completely different document about spark engines"),
      (5L, "wiki", "a completely different document about spark engines")) // dup of 4 (intra-batch)
    val b3 = Seq(
      (6L, "cc", "colorless green ideas sleep furiously at night"), // dup of 2 (2 batches back)
      (7L, "cc", "short text"),                                      // <3 words: always kept
      (8L, "cc", "yet another unique snippet of training prose"))
    val mem = MemoryStream[(Long, String, String)]
    val q = Streams.minhashGuardSink(
      mem.toDF.toDF("doc_id", "source", "text"), out, index).start()
    try {
      mem.addData(b1); q.processAllAvailable()
      mem.addData(b2); q.processAllAvailable()
      mem.addData(b3); q.processAllAvailable()
    } finally q.stop()
    val streamKept = spark.read.parquet(out)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val allDocs = (b1 ++ b2 ++ b3).toDF("doc_id", "source", "text")
    val batchKept = graft.operators.Dedup.minhashGuardOn(allDocs)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(streamKept == batchKept,
      s"stream==batch violated: stream $streamKept vs batch $batchKept")
    // the fixture's intent really happened: dups dropped across AND
    // within batches, the unshingleable doc kept
    assert(streamKept.map(_._1) == Set(1L, 2L, 4L, 7L, 8L))
    // the claim index is bounded metadata: (ixb, band, bucket) rows
    val idx = spark.read.parquet(index)
    assert(idx.columns.toSet == Set("ixb", "band", "bucket"))
    // every claim partition is a pure function of the claim — rereading
    // only affected partitions is what keeps a 100 TB guard per-batch
    val badIxb = idx.where(col("ixb") =!=
      pmod(xxhash64(col("band"), col("bucket")),
        lit(Streams.GuardIndexBuckets.toLong)).cast("int")).count()
    assert(badIxb == 0L)
    // boundedness (advice finding r13): claims already in the index
    // are NOT re-appended — a recurring bucket must not grow the index
    val idxRowsBefore = idx.count()
    val mem2 = MemoryStream[(Long, String, String)]
    val q2 = Streams.minhashGuardSink(
      mem2.toDF.toDF("doc_id", "source", "text"), out, index).start()
    try {
      // doc 9 duplicates doc 1's text: every claim it would write is
      // already claimed, so it is dropped AND appends zero index rows
      mem2.addData(Seq((9L, "cc", "the quick brown fox jumps over the lazy dog")))
      q2.processAllAvailable()
    } finally q2.stop()
    assert(!spark.read.parquet(out).collect().map(_.getLong(0)).contains(9L))
    assert(spark.read.parquet(index).count() == idxRowsBefore,
      "recurring claims must not re-append to the index")
  }

  test("guard claim-index compaction: fewer files, identical claim set, " +
      "byte-identical admission verdicts on the same follow-up batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_mh_compact").toString
    val out = s"$root/kept"; val index = s"$root/index"
    // accrete small files: several single-doc micro-batches, each
    // appending its claims into the touched ixb partitions
    val mem = MemoryStream[(Long, String, String)]
    val q = Streams.minhashGuardSink(
      mem.toDF.toDF("doc_id", "source", "text"), out, index).start()
    try {
      Seq(
        (1L, "web", "the quick brown fox jumps over the lazy dog"),
        (2L, "web", "colorless green ideas sleep furiously at night"),
        (3L, "wiki", "a completely different document about spark engines"),
        (4L, "wiki", "yet another unique snippet of training prose"),
        (5L, "cc", "distributed label propagation over co-order graphs")
      ).foreach { d => mem.addData(Seq(d)); q.processAllAvailable() }
    } finally q.stop()
    def claimSet(p: String) = spark.read.parquet(p)
      .collect().map(r => (r.getAs[Long]("band"), r.getAs[Long]("bucket"),
        r.getAs[Int]("ixb"))).toSet
    def dataFiles(p: String): Int = {
      val fs = new org.apache.hadoop.fs.Path(p)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(p), true)
      var n = 0
      while (it.hasNext) {
        if (it.next().getPath.getName.endsWith(".parquet")) n += 1
      }
      n
    }
    val claimsBefore = claimSet(index)
    val filesBefore = dataFiles(index)
    assert(filesBefore > Streams.GuardIndexBuckets / 2,
      s"fixture must accrete small files, got $filesBefore")
    // uncompacted twin: a filesystem copy of the index as appended
    val twin = s"$root/index_twin"
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(conf)
    org.apache.hadoop.fs.FileUtil.copy(fs, new org.apache.hadoop.fs.Path(index),
      fs, new org.apache.hadoop.fs.Path(twin), false, conf)
    Streams.compactGuardIndex(spark, index)
    assert(claimSet(index) == claimsBefore,
      "compaction must preserve the claim-row set exactly")
    assert(dataFiles(index) < filesBefore,
      s"compaction must shrink the file count (${dataFiles(index)} vs $filesBefore)")
    // same follow-up batch against compacted and uncompacted indexes:
    // a cross-batch dup, an intra-batch dup pair, and a fresh doc
    val follow = Seq(
      (10L, "cc", "the quick brown fox jumps over the lazy dog"),
      (11L, "cc", "an entirely fresh document that collides with nothing"),
      (12L, "cc", "an entirely fresh document that collides with nothing"),
      (13L, "cc", "one more genuinely novel admission candidate"))
    def runFollow(idx: String, keptOut: String): Set[(Long, String)] = {
      val m = MemoryStream[(Long, String, String)]
      val qq = Streams.minhashGuardSink(
        m.toDF.toDF("doc_id", "source", "text"), keptOut, idx).start()
      try { m.addData(follow); qq.processAllAvailable() } finally qq.stop()
      spark.read.parquet(keptOut)
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    }
    val keptCompacted = runFollow(index, s"$root/kept_c")
    val keptTwin = runFollow(twin, s"$root/kept_t")
    assert(keptCompacted == keptTwin,
      "admission verdicts must be identical before/after compaction")
    assert(keptCompacted.map(_._1).intersect(Set(10L)).isEmpty,
      "cross-batch dup must still be dropped after compaction")
    assert(keptCompacted.map(_._1).contains(13L), "fresh doc admitted")
    // and the post-follow-up claim sets agree too (same appends)
    assert(claimSet(index) == claimSet(twin),
      "post-batch claim sets must match between compacted and twin")
  }

  test("cdc snapshot read resolves the persisted convention and refuses a mismatch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val lake = java.nio.file.Files.createTempDirectory("graft_cdc_conv").toString
    val l2 = s"$lake/l2"
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val streamDf = mem.toDF.toDF("event_id", "ts", "user_id", "event_type", "value")
    // the BATCH-DRIVER convention, not the "op"/"D" default — exactly
    // the feed the advisory's silent-resurrection scenario needs
    val q = Streams.cdcApplySink(streamDf, l2,
        opCol = "event_type", deleteOp = "error")
      .option("checkpointLocation", s"$lake/ckpt").start()
    try {
      mem.addData(Seq(
        (1L, ts("2024-03-01 10:00:00"), 5L, "upsert", 1.0),
        (2L, ts("2024-03-01 11:00:00"), 6L, "upsert", 2.0),
        (3L, ts("2024-03-02 09:00:00"), 6L, "error", 0.0)))
      q.processAllAvailable()
      // zero-arg read resolves the persisted pair: the delete masks
      val snap = Streams.readCdcSnapshot(spark, l2)
        .collect().map(_.getLong(2)).toSet
      assert(snap == Set(5L), s"persisted convention must mask deletes, got $snap")
      // the matching explicit pair is accepted
      assert(Streams.readCdcSnapshot(spark, l2, "event_type", "error").count() == 1)
      // a MISMATCHED pair is refused, never silently resurrecting
      intercept[IllegalArgumentException] {
        Streams.readCdcSnapshot(spark, l2, "op", "D")
      }
    } finally q.stop()
    // a lake with NO sidecar (not written by cdcApplySink) refuses the
    // convention-free read instead of guessing
    val bare = s"$lake/bare"
    Seq((1L, "U")).toDF("user_id", "op").write.parquet(bare)
    intercept[IllegalArgumentException] {
      Streams.readCdcSnapshot(spark, bare)
    }
  }

  test("cdc sink stamps the sidecar only once it writes, and refuses a mismatched lake") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val lake = java.nio.file.Files.createTempDirectory("graft_cdc_stamp").toString
    val l2 = s"$lake/l2"
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val streamDf = mem.toDF.toDF("event_id", "ts", "user_id", "op", "value")
    // constructing (but never starting) a sink must NOT create the
    // sidecar — the convention is a statement about written data
    Streams.cdcApplySink(streamDf, l2)
    assert(!new java.io.File(s"$l2/_graft_cdc_convention").exists(),
      "a never-started sink stamped the lake")
    val q = Streams.cdcApplySink(streamDf, l2)
      .option("checkpointLocation", s"$lake/ckpt").start()
    try {
      mem.addData(Seq((1L, ts("2024-03-01 10:00:00"), 5L, "U", 1.0)))
      q.processAllAvailable()
      assert(new java.io.File(s"$l2/_graft_cdc_convention").exists(),
        "first written batch must persist the convention")
    } finally q.stop()
    // a sink constructed under a DIFFERENT convention over the now-
    // stamped lake fails at construction, before any batch merges
    intercept[IllegalArgumentException] {
      Streams.cdcApplySink(streamDf, l2, opCol = "event_type", deleteOp = "error")
    }
  }

  test("binned attribution equals the raw interval join across the epoch-zero boundary") {
    import spark.implicits._
    // pre-1970 event times exercise the floor-vs-truncate bucket grid:
    // every in-window pair must survive the bucketing on both sides of
    // epoch zero, including lags near the full lookback
    val clicks = Seq(
      (1L, 101L, ts("1969-12-31 22:30:00")),
      (1L, 102L, ts("1969-12-31 23:30:00")),
      (1L, 103L, ts("1970-01-01 00:10:00")),
      (2L, 104L, ts("1969-12-31 23:59:00")))
      .toDF("user_id", "click_id", "click_ts")
    val purchases = Seq(
      (1L, 201L, ts("1969-12-31 23:15:00"), 5.0),
      (1L, 202L, ts("1970-01-01 00:20:00"), 6.0),
      (2L, 203L, ts("1970-01-01 00:58:00"), 7.0))
      .toDF("user_id", "purchase_id", "purchase_ts", "purchase_value")
    val binned = Streams.attributeClicksBinned(clicks, purchases)
    val raw = Streams.attributeClicks(clicks, purchases)
    assert(raw.count() == 4, "fixture must produce in-window pairs straddling epoch 0")
    assert(binned.exceptAll(raw).count() == 0 && raw.exceptAll(binned).count() == 0,
      "binned form must equal the raw interval join on negative epochs")
  }

  test("batch entries match their shared-transform semantics on the corpus") {
    val wagg = Streams.windowedAggBatch(spark, sfDir)
    val total = wagg.agg(sum("n_events")).collect()(0).getLong(0)
    assert(total == sources.Tables.events(spark, sfDir).count())
    val kf = Streams.keepFirstBatch(spark, sfDir)
    val dups = kf.groupBy("user_id", "event_type", "event_date")
      .count().filter(col("count") > 1).count()
    assert(dups == 0)
  }

  test("stateful sessionizer batch key equals the window-form sessionizer row-for-row") {
    val a = Streams.sessionizeBatch(spark, sfDir)
    val b = graft.queries.Analytics.qEventsSessionize(spark, sfDir)
      .select("user_id", "session_id", "n_events",
        "session_start", "session_end", "duration_sec")
    assert(a.count() > 0)
    assert(a.exceptAll(b).count() == 0)
    assert(b.exceptAll(a).count() == 0)
  }

  test("normalizeArrays runs as a structured stream: per-batch explode equals batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val t0 = "2024-01-01T00:00:00.000000"
    val t1 = "2024-01-01T01:00:00.000000"
    val t2 = "2024-01-02T05:30:00.000000"
    val payloads = Seq(
      ("2024-01-01", s"""{"hourly": {"time": ["$t0", "$t1"], "temperature_2m": [1.5, 2.5]}}"""),
      ("2024-01-02", s"""{"hourly": {"time": ["$t2"], "temperature_2m": [9.0]}}"""))
    val mem = MemoryStream[(String, String)]
    // the SAME transform body runs on the stream: parse + DQ gate +
    // arrays_zip explode are narrow, so no watermark/output-mode
    // ceremony is needed — the raw->staging normalize is streamable
    // as-is (one micro-batch per landed payload set)
    val q = graft.operators.Etl.normalizeArrays(
        mem.toDF.toDF("ds", "payload"))
      .writeStream.format("memory").queryName("narr").outputMode("append").start()
    try {
      mem.addData(payloads.take(1))
      q.processAllAvailable()
      mem.addData(payloads.drop(1))
      q.processAllAvailable()
      val streamed = spark.table("narr")
      val batch = graft.operators.Etl.normalizeArrays(payloads.toDF("ds", "payload"))
      assert(streamed.count() == 3)
      assert(streamed.exceptAll(batch).count() == 0)
      assert(batch.exceptAll(streamed).count() == 0)
    } finally q.stop()
  }

  test("stream-stream join: attribution equals batch; lookback boundary is inclusive") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val events = Seq(
      (1L, ts("2024-01-01 09:00:00"), 7L, "click", 0.0),    // exactly 1h before -> in
      (2L, ts("2024-01-01 08:59:59"), 7L, "click", 0.0),    // 1h+1s before -> out
      (3L, ts("2024-01-01 09:45:00"), 7L, "click", 0.0),    // in window
      (4L, ts("2024-01-01 10:00:01"), 7L, "click", 0.0),    // after purchase -> out
      (5L, ts("2024-01-01 09:50:00"), 8L, "click", 0.0),    // other user -> out
      (6L, ts("2024-01-01 10:00:00"), 7L, "purchase", 9.99),
      (7L, ts("2024-01-01 12:00:00"), 8L, "purchase", 5.0)) // no clicks in window
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val clickMem = MemoryStream[(Long, Long, Timestamp)]
    val purchMem = MemoryStream[(Long, Long, Timestamp, Double)]
    val q = Streams.attributeClicksStream(
        clickMem.toDF.toDF("user_id", "click_id", "click_ts"),
        purchMem.toDF.toDF("user_id", "purchase_id", "purchase_ts", "purchase_value"))
      .writeStream.format("memory").queryName("attr").outputMode("append").start()
    try {
      // clicks arrive first, purchases in a later micro-batch: the join
      // buffers click state until the matching purchase shows up
      clickMem.addData(Seq((7L, 1L, ts("2024-01-01 09:00:00")),
        (7L, 2L, ts("2024-01-01 08:59:59")), (7L, 3L, ts("2024-01-01 09:45:00"))))
      q.processAllAvailable()
      clickMem.addData(Seq((7L, 4L, ts("2024-01-01 10:00:01")),
        (8L, 5L, ts("2024-01-01 09:50:00"))))
      purchMem.addData(Seq((7L, 6L, ts("2024-01-01 10:00:00"), 9.99),
        (8L, 7L, ts("2024-01-01 12:00:00"), 5.0)))
      q.processAllAvailable()
      val streamed = spark.table("attr").collect()
        .map(r => (r.getLong(0), r.getLong(4), r.getLong(6))).toSet
      // purchase 6 credits clicks 1 (lag 3600s, boundary-inclusive) and
      // 3 (lag 900s); clicks 2/4/5 and purchase 7 never pair
      assert(streamed == Set((6L, 1L, 3600L), (6L, 3L, 900L)), s"got $streamed")
      val batch = Streams.attributeClicksBatchFrames(events)
        .collect().map(r => (r.getLong(0), r.getLong(4), r.getLong(6))).toSet
      assert(batch == streamed)
    } finally q.stop()
  }

  test("left-outer attribution: unmatched purchase emits a null-click row; stream equals batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicks = Seq(
      (7L, 1L, ts("2024-01-01 09:00:00")),   // boundary-inclusive for purchase 6
      (7L, 3L, ts("2024-01-01 09:45:00")))   // in window for purchase 6
    val purchases = Seq(
      (7L, 6L, ts("2024-01-01 10:00:00"), 9.99),
      (8L, 7L, ts("2024-01-01 12:00:00"), 5.0)) // user 8 never clicked -> null row
    val clickMem = MemoryStream[(Long, Long, Timestamp)]
    val purchMem = MemoryStream[(Long, Long, Timestamp, Double)]
    val q = Streams.attributeClicksOuterStream(
        clickMem.toDF.toDF("user_id", "click_id", "click_ts"),
        purchMem.toDF.toDF("user_id", "purchase_id", "purchase_ts", "purchase_value"))
      .writeStream.format("memory").queryName("attr_outer").outputMode("append").start()
    try {
      clickMem.addData(clicks)
      purchMem.addData(purchases)
      q.processAllAvailable()
      // the outer row for purchase 7 (12:00) emits only after the
      // GLOBAL watermark (min across both inputs) passes 12:00 — no
      // future click could still land in its window. Far-future
      // sentinels on BOTH streams advance it (18:00 - 2h delay =
      // 16:00); they use distinct users (99 vs 98) so they never pair
      // with each other: the click sentinel is on the non-preserved
      // side (adds no rows) and the purchase sentinel stays buffered
      // past the test's last watermark (never emitted).
      clickMem.addData(Seq((99L, 999L, ts("2024-01-01 18:00:00"))))
      purchMem.addData(Seq((98L, 998L, ts("2024-01-01 18:00:00"), 0.0)))
      q.processAllAvailable()
      // some Spark versions evict outer state one micro-batch late;
      // one more empty-progress batch makes emission deterministic
      clickMem.addData(Seq((99L, 997L, ts("2024-01-01 18:00:01"))))
      q.processAllAvailable()
      def key(r: org.apache.spark.sql.Row) =
        (r.getLong(0), if (r.isNullAt(4)) -1L else r.getLong(4),
          if (r.isNullAt(6)) -1L else r.getLong(6))
      val streamed = spark.table("attr_outer").collect().map(key).toSet
      assert(streamed == Set((6L, 1L, 3600L), (6L, 3L, 900L), (7L, -1L, -1L)),
        s"got $streamed")
      // batch twin over the equivalent events frame, same rows
      val events = (clicks.map { case (u, id, t) => (id, t, u, "click", 0.0) } ++
        purchases.map { case (u, id, t, v) => (id, t, u, "purchase", v) })
        .toDF("event_id", "ts", "user_id", "event_type", "value")
      val batch = Streams.attributeClicksOuter(
        Streams.clickSide(events), Streams.purchaseSide(events))
      assert(batch.collect().map(key).toSet == streamed)
    } finally q.stop()
  }

  test("stream-static enrich: stream equals batch; unknown users survive the left join") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val history = Seq(
      (1L, ts("2024-01-01 08:00:00"), 7L, "click", 1.0),
      (2L, ts("2024-01-01 09:00:00"), 7L, "view", 2.0),
      (3L, ts("2024-01-01 10:00:00"), 9L, "click", 3.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val profile = Streams.userProfile(history)
    val live = Seq(
      (4L, ts("2024-01-02 08:30:00"), 7L, "click", 4.0),
      (5L, ts("2024-01-02 09:30:00"), 42L, "view", 5.0)) // unseen user
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val q = Streams.enrichStream(
        mem.toDF.toDF("event_id", "ts", "user_id", "event_type", "value"), profile)
      .writeStream.format("memory").queryName("enr").outputMode("append").start()
    try {
      mem.addData(live)
      q.processAllAvailable()
      val streamed = spark.table("enr")
      val batch = Streams.enrichWithProfile(
        live.toDF("event_id", "ts", "user_id", "event_type", "value"), profile)
      assert(streamed.count() == 2)
      assert(streamed.exceptAll(batch).count() == 0)
      assert(batch.exceptAll(streamed).count() == 0)
      // the unseen user keeps its event, with null profile columns
      val unknown = streamed.filter(col("user_id") === 42L).head()
      assert(unknown.isNullAt(unknown.fieldIndex("first_seen")))
      assert(unknown.isNullAt(unknown.fieldIndex("sec_since_first")))
      // the known user's enrichment is computed against HISTORY
      val known = streamed.filter(col("user_id") === 7L).head()
      assert(known.getTimestamp(known.fieldIndex("first_seen")) == ts("2024-01-01 08:00:00"))
      assert(known.getLong(known.fieldIndex("sec_since_first")) == 88200L)
    } finally q.stop()
  }

  test("space saving: bounded counters, guaranteed hitters survive eviction") {
    // 8 distinct keys through capacity 4: key 1 carries 12 of N=21
    // events (freq 12 > N/capacity ≈ 5.3 → guaranteed monitored)
    val seq = Seq.fill(12)(1L) ++ (2L to 8L).flatMap(k => Seq.fill(k.toInt % 3 + 1)(k))
    val counters = seq.foldLeft(Map.empty[Long, Long])(
      (c, k) => Streams.spaceSavingStep(c, k, 4))
    assert(counters.size <= 4, s"capacity leaked: ${counters.size} counters")
    val top = Streams.topOf(counters, 2)
    assert(top.head._1 == 1L, s"guaranteed hitter evicted: $top")
    // SpaceSaving overestimates only: every counter >= the true count
    assert(counters(1L) >= 12L)
    // no eviction below capacity: exact counts
    val exact = Seq(5L, 5L, 6L).foldLeft(Map.empty[Long, Long])(
      (c, k) => Streams.spaceSavingStep(c, k, 4))
    assert(exact == Map(5L -> 2L, 6L -> 1L))
  }

  test("streaming anomaly: EWMA state across batches equals the batch fold; spike flagged") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // user 1: stable series then one 100x spike (flagged), then calm.
    // n>=3 cold-start: the spike at position 5 is past the guard.
    val vals = Seq(10.0, 11.0, 9.0, 10.0, 1000.0, 10.0)
    val evs = vals.zipWithIndex.map { case (v, i) =>
      Streams.AnomEv(1L, ts(f"2024-01-01 10:${i * 5}%02d:00"), i.toLong, v)
    }
    val mem = MemoryStream[Streams.AnomEv]
    val q = Streams.anomalyStream(mem.toDS).writeStream
      .format("memory").queryName("anom").outputMode("update").start()
    try {
      mem.addData(evs.take(3))    // state must carry across micro-batches
      q.processAllAvailable()
      mem.addData(evs.drop(3))
      q.processAllAvailable()
      val last = spark.table("anom").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
        .maxBy(_._2) // the latest update carries the full count
      // batch twin over the same rows via the shared JVM step
      var (m, s2, n, a) = (0.0, 0.0, 0L, 0L)
      vals.foreach { v =>
        val r = Streams.anomStep(m, s2, n, a, v); m = r._1; s2 = r._2; n = r._3; a = r._4
      }
      assert(last == ((1L, n, a, m, s2)), s"stream $last != batch ($n,$a,$m,$s2)")
      assert(a == 1L, s"expected exactly the spike flagged, got $a")
    } finally q.stop()
  }

  test("anomaly sorted-fold form equals the aggregate form row-for-row") {
    val agg = Streams.anomalyBatch(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))).toSet
    val sorted = Streams.anomalyBatchSorted(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))).toSet
    assert(sorted == agg, "streamed secondary-sort fold diverged from the aggregate fold")
  }

  test("anomaly batch twin: column fold equals the JVM fold per user") {
    val rows = Streams.anomalyBatch(spark, sfDir).collect()
    assert(rows.nonEmpty)
    // replay each user with the shared step over the sorted values
    val byUser = sources.Tables.events(spark, sfDir)
      .select("user_id", "ts", "event_id", "value").collect()
      .map(r => (r.getLong(0), (r.getTimestamp(1).getTime, r.getLong(2), r.getDouble(3))))
      .groupBy(_._1).view.mapValues(_.map(_._2).sortBy(t => (t._1, t._2))).toMap
    rows.foreach { r =>
      val vals = byUser(r.getLong(0))
      var (m, s2, n, a) = (0.0, 0.0, 0L, 0L)
      vals.foreach { case (_, _, v) =>
        val st = Streams.anomStep(m, s2, n, a, v); m = st._1; s2 = st._2; n = st._3; a = st._4
      }
      assert(r.getLong(1) == n && r.getLong(2) == a)
      assert(r.getDouble(3) == m && r.getDouble(4) == s2,
        s"user ${r.getLong(0)}: column fold != JVM fold")
    }
  }

  test("streaming hist quantiles: fixed-grid state emits on close, equals the batch grid") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // one 10:00 window, values 10..200 step 10 (n=20):
    // p50 k=10 -> 10th value 100 -> bin 12 [96,104)
    // p95 k=19 -> 190 -> bin 23 [184,192); p99 k=20 -> 200 -> bin 25 [200,208)
    val evs = (1 to 20).map(i =>
      Streams.HqEv(ts(f"2024-01-01 10:${i * 2}%02d:00"), i * 10.0))
    val mem = MemoryStream[Streams.HqEv]
    val q = Streams.histQuantilesStream(mem.toDS).writeStream
      .format("memory").queryName("hq").outputMode("append").start()
    try {
      mem.addData(evs.take(7))       // state must merge across batches
      q.processAllAvailable()
      mem.addData(evs.drop(7))
      q.processAllAvailable()
      assert(spark.table("hq").count() == 0, "window emitted before close")
      mem.addData(Streams.HqEv(ts("2024-01-01 13:30:00"), 1.0))
      q.processAllAvailable()
      mem.addData(Streams.HqEv(ts("2024-01-01 13:40:00"), 1.0))
      q.processAllAvailable()
      val streamed = spark.table("hq").collect()
        .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getLong(3),
          r.getDouble(4), r.getDouble(5))).toSet
      val expected = Set(
        (ts("2024-01-01 10:00:00"), "p50", 10L, 20L, 96.0, 104.0),
        (ts("2024-01-01 10:00:00"), "p95", 19L, 20L, 184.0, 192.0),
        (ts("2024-01-01 10:00:00"), "p99", 20L, 20L, 200.0, 208.0))
      assert(streamed == expected, s"stream $streamed != $expected")
    } finally q.stop()
  }

  test("hist quantiles batch twin equals the streaming grid on the corpus") {
    // the batch twin over real data: per-window invariants — rank
    // covered by the selected bin, interval width = the grid width,
    // exact n; and the stream's selector (hqSelect) agrees bin-for-bin
    // with the SQL-shaped join when replayed on the batch histogram
    val rows = Streams.histQuantilesBatch(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (k, n) = (r.getLong(2), r.getLong(3))
      assert(k >= 1 && k <= n)
      assert(r.getDouble(5) - r.getDouble(4) == Streams.HqWidth)
    }
    // 3 quantiles per window, every window covered
    val perWin = rows.groupBy(_.getTimestamp(0))
    assert(perWin.values.forall(_.length == 3))
  }

  test("streaming topk: windows emit on watermark close, equal to the exact batch twin") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // window 10:00: u1 x3, u2 x2, u3 x1, u4 x1 (cardinality < capacity
    // -> SpaceSaving is exact and must match the batch rank order)
    val w10 = Seq(
      Streams.TopkEv(1L, ts("2024-01-01 10:05:00")),
      Streams.TopkEv(2L, ts("2024-01-01 10:10:00")),
      Streams.TopkEv(1L, ts("2024-01-01 10:15:00")),
      Streams.TopkEv(1L, ts("2024-01-01 10:20:00")),
      Streams.TopkEv(2L, ts("2024-01-01 10:25:00")),
      Streams.TopkEv(3L, ts("2024-01-01 10:30:00")),
      Streams.TopkEv(4L, ts("2024-01-01 10:35:00")))
    val mem = MemoryStream[Streams.TopkEv]
    val q = Streams.topkStream(mem.toDS, k = 3).writeStream
      .format("memory").queryName("topk").outputMode("append").start()
    try {
      // state merges across micro-batches within the open window
      mem.addData(w10.take(3))
      q.processAllAvailable()
      mem.addData(w10.drop(3))
      q.processAllAvailable()
      assert(spark.table("topk").count() == 0, "window emitted before close")
      // 13:30 advances the watermark to 11:30 > the 10:00 window end;
      // the timeout fires on the NEXT micro-batch
      mem.addData(Streams.TopkEv(9L, ts("2024-01-01 13:30:00")))
      q.processAllAvailable()
      mem.addData(Streams.TopkEv(9L, ts("2024-01-01 13:40:00")))
      q.processAllAvailable()
      val streamed = spark.table("topk").collect()
        .map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2))).toSet
      val batch = Streams.topkBatch(spark, sfDir) // plan shape only; data below
      assert(batch.columns.sameElements(
        Array("window_start", "user_id", "n_events", "rk")))
      val expected = Set(
        (ts("2024-01-01 10:00:00"), 1L, 3L),
        (ts("2024-01-01 10:00:00"), 2L, 2L),
        (ts("2024-01-01 10:00:00"), 3L, 1L))
      assert(streamed == expected, s"stream $streamed != exact top-3 $expected")
    } finally q.stop()
  }

  test("scd2 sink: out-of-order micro-batches converge to the batch interval history") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val lake = java.nio.file.Files.createTempDirectory("graft_scd2_lake").toString
    val all = Seq(
      (1L, ts("2024-03-01 10:00:00"), 5L, "a"),
      (3L, ts("2024-03-01 12:00:00"), 5L, "a"),
      (4L, ts("2024-03-01 10:00:00"), 6L, "a"),
      (5L, ts("2024-03-01 11:00:00"), 6L, "error"),
      (2L, ts("2024-03-01 11:00:00"), 5L, "b"),
      (6L, ts("2024-03-01 12:00:00"), 6L, "a"))
    val mem = MemoryStream[(Long, Timestamp, Long, String)]
    val streamDf = mem.toDF.toDF("event_id", "ts", "user_id", "event_type")
    val q = Streams.scd2Sink(streamDf, lake)
      .option("checkpointLocation", s"$lake/ckpt").start()
    try {
      // batch 1 collapses user 5 into ONE a-run [10:00, null) and
      // closes user 6 at 11:00
      mem.addData(all.take(4))
      q.processAllAvailable()
      // batch 2 is LATE data: a b-change at 11:00 must re-split user
      // 5's already-collapsed run (the lossy-interval trap the log
      // layer exists for), and user 6 re-inserts after its delete
      mem.addData(all.drop(4))
      q.processAllAvailable()
    } finally q.stop()
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getString(1), r.getTimestamp(2),
        Option(r.getTimestamp(3)), r.getBoolean(4))
    val got = Streams.readScd2(spark, lake).collect().map(key).toSet
    val batch = graft.operators.Merge.scd2Changelog(
        all.toDF("event_id", "ts", "user_id", "event_type"),
        keys = Seq(col("user_id")), stateCol = col("event_type"),
        orderCol = col("ts"), tiebreak = col("event_id"),
        opCol = col("event_type"), deleteOp = "error")
      .select(col("user_id"), col("event_type").as("state"),
        col("eff_start"), col("eff_end"), col("is_current"))
      .collect().map(key).toSet
    assert(got == batch, s"stream lake $got != batch history $batch")
    val u5 = got.filter(_._1 == 5L)
    assert(u5.size == 3, s"late change must split the collapsed run: $u5")
    val u6 = got.filter(_._1 == 6L)
    assert(u6.size == 2 && u6.count(_._5) == 1,
      s"delete closes the interval, re-insert reopens: $u6")
  }

  test("scd2 sink: a replayed micro-batch leaves log and intervals bit-identical") {
    import spark.implicits._
    val lake = java.nio.file.Files.createTempDirectory("graft_scd2_replay").toString
    val batch = Seq(
      (1L, ts("2024-03-01 10:00:00"), 5L, "a"),
      (2L, ts("2024-03-01 11:00:00"), 5L, "b"),
      (3L, ts("2024-03-01 10:30:00"), 6L, "a"))
      .toDF("event_id", "ts", "user_id", "event_type")
      .withColumn("bucket",
        pmod(xxhash64(col("user_id")), lit(Streams.CdcBuckets.toLong)).cast("int"))
    def applyOnce(): Unit = Streams.scd2MicroBatch(batch, lake,
      "user_id", "event_type", "ts", "event_id", "event_type", "error")
    def snapshot(): (Seq[String], Seq[String]) = (
      spark.read.parquet(s"$lake/${Streams.Scd2LogDir}")
        .collect().map(_.toString).sorted.toSeq,
      Streams.readScd2(spark, lake).collect().map(_.toString).sorted.toSeq)
    applyOnce()
    val first = snapshot()
    assert(first._2.nonEmpty)
    // at-least-once delivery replays the SAME batch: pk dedup makes
    // the log merge a no-op and the re-derived intervals are equal
    applyOnce()
    assert(snapshot() == first, "replayed batch must be a no-op")
  }

  test("streaming ann ingest: grown index equals the day-0-trained rebuild, " +
      "replay is a no-op, missing index fails loudly") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.{IndexManifest, Pq, Similarity}
    val vectors = sources.Tables.embeddings(spark, sfDir)
    val maxId = vectors.agg(max("vec_id")).collect()(0).getLong(0)
    val cut = maxId / 2; val cut2 = (maxId * 3) / 4
    val base = vectors.filter(col("vec_id") <= cut)
    def slice(lo: Long, hi: Long) = vectors
      .filter(col("vec_id") > lo && col("vec_id") <= hi)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    val b1 = slice(cut, cut2)
    val b2 = slice(cut2, maxId)
    val root = java.nio.file.Files.createTempDirectory("graft_ann_ingest").toString
    // no day-0 artifact: refuse to ingest (never train on a micro-batch)
    intercept[IllegalStateException] {
      Streams.annIngestMicroBatchAtomic(
        Seq((0L, Seq(0f))).toDF("vec_id", "embedding"), s"$root/absent")
    }
    Pq.stageIvfPqIndexVersion(Pq.buildIvfPq(base), root)
    def dir = IndexManifest.currentOrFail(spark, root)
    val mem = MemoryStream[(Long, Seq[Float])]
    val q = Streams.annIngestSinkAtomic(
      mem.toDF.toDF("vec_id", "embedding"), root).start()
    try {
      mem.addData(b1.toSeq); q.processAllAvailable()
      mem.addData(b2.toSeq); q.processAllAvailable()
    } finally q.stop()
    val qids = 0L until Similarity.NQueries.toLong
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._3))
    val want = canon(Pq.queryIvfPq(
      Pq.buildIvfPq(vectors, trainOn = base), vectors, qids))
    val got = canon(Pq.queryIvfPq(Pq.readIvfPqIndex(spark, dir), vectors, qids))
    assert(got.sameElements(want),
      "streamed index diverged from the day-0-trained batch rebuild")
    assert(Pq.readIvfPqIndex(spark, dir).codes.count() == vectors.count())
    // at-least-once replay of a whole micro-batch: the cell-pruned
    // claim check appends nothing and answers stay identical
    assert(Streams.annIngestMicroBatchAtomic(
      b1.toSeq.toDF("vec_id", "embedding"), root) == 0L)
    assert(Pq.readIvfPqIndex(spark, dir).codes.count() == vectors.count())
    assert(canon(Pq.queryIvfPq(Pq.readIvfPqIndex(spark, dir), vectors, qids))
      .sameElements(want))
  }

  test("atomic ann ingest: per-batch version publish equals the in-place " +
      "sink's answers; replay publishes nothing; missing day-0 fails loudly") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.{IndexManifest, Pq, Similarity}
    val vectors = sources.Tables.embeddings(spark, sfDir)
    val maxId = vectors.agg(max("vec_id")).collect()(0).getLong(0)
    val cut = maxId / 2; val cut2 = (maxId * 3) / 4
    val base = vectors.filter(col("vec_id") <= cut)
    def slice(lo: Long, hi: Long) = vectors
      .filter(col("vec_id") > lo && col("vec_id") <= hi)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    val b1 = slice(cut, cut2)
    val b2 = slice(cut2, maxId)
    val root = java.nio.file.Files.createTempDirectory("graft_ann_atomic").toString
    intercept[IllegalStateException] {
      Streams.annIngestMicroBatchAtomic(
        Seq((0L, Seq(0f))).toDF("vec_id", "embedding"), s"$root/absent")
    }
    val v1 = Pq.stageIvfPqIndexVersion(Pq.buildIvfPq(base), root)
    def versionNames = new java.io.File(root).listFiles().toSeq
      .filter(f => f.isDirectory && f.getName.startsWith("v=")).map(_.getName).sorted
    val mem = MemoryStream[(Long, Seq[Float])]
    // keep=3: every version a reader of this test resolves stays live
    val q = Streams.annIngestSinkAtomic(
      mem.toDF.toDF("vec_id", "embedding"), root, keep = 3).start()
    try {
      mem.addData(b1.toSeq); q.processAllAvailable()
      mem.addData(b2.toSeq); q.processAllAvailable()
    } finally q.stop()
    // two effective batches → two published versions past day-0
    assert(versionNames == Seq("v=1", "v=2", "v=3"), s"got $versionNames")
    val qids = 0L until Similarity.NQueries.toLong
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._3))
    val want = canon(Pq.queryIvfPq(
      Pq.buildIvfPq(vectors, trainOn = base), vectors, qids))
    val liveDir = IndexManifest.currentOrFail(spark, root)
    assert(canon(Pq.queryIvfPq(Pq.readIvfPqIndex(spark, liveDir), vectors, qids))
      .sameElements(want),
      "atomically streamed index diverged from the day-0-trained rebuild")
    // the day-0 version is untouched by the stream (immutability)
    assert(Pq.readIvfPqIndex(spark, v1).codes.count() == base.count())
    // at-least-once replay: no rows appended AND no version churn
    assert(Streams.annIngestMicroBatchAtomic(
      b1.toSeq.toDF("vec_id", "embedding"), root, keep = 3) == 0L)
    assert(versionNames == Seq("v=1", "v=2", "v=3"),
      "a fully replayed batch must not publish a version")
    assert(canon(Pq.queryIvfPq(Pq.readIvfPqIndex(spark,
      IndexManifest.currentOrFail(spark, root)), vectors, qids))
      .sameElements(want))
  }

  test("atomic ann ingest with publish coalescing: intermediate batches " +
      "land in the durable pending delta, one version per K rows, replay " +
      "is a no-op, a crashed flush self-heals, the drained index equals " +
      "the day-0-trained rebuild") {
    import spark.implicits._
    import graft.operators.{IndexManifest, Pq, Similarity}
    val vectors = sources.Tables.embeddings(spark, sfDir)
    val maxId = vectors.agg(max("vec_id")).collect()(0).getLong(0)
    val cut = maxId / 2
    val base = vectors.filter(col("vec_id") <= cut)
    def slice(lo: Long, hi: Long) = vectors
      .filter(col("vec_id") > lo && col("vec_id") <= hi)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    val step = (maxId - cut) / 4
    val batches = (0 until 4).map(i => slice(cut + i * step,
      if (i == 3) maxId else cut + (i + 1) * step))
    val root = java.nio.file.Files.createTempDirectory("graft_ann_coal").toString
    Pq.stageIvfPqIndexVersion(Pq.buildIvfPq(base), root)
    def versionNames = new java.io.File(root).listFiles().toSeq
      .filter(f => f.isDirectory && f.getName.startsWith("v=")).map(_.getName).sorted
    def pendingRows = scala.util.Try(
      spark.read.parquet(Streams.annPendingPath(root)).count()).getOrElse(0L)
    def ingest(b: Seq[(Long, Seq[Float])]) = Streams.annIngestMicroBatchAtomic(
      b.toDF("vec_id", "embedding"), root, keep = 3,
      publishEveryRows = batches(0).length + batches(1).length)
    // batch 1: pending only — no version published, readers still on day-0
    assert(ingest(batches(0).toSeq) == batches(0).length)
    assert(versionNames == Seq("v=1"), "an under-threshold batch must not publish")
    assert(pendingRows == batches(0).length)
    assert(IndexManifest.currentOrFail(spark, root).endsWith("v=1"))
    // at-least-once replay against PENDING rows: appends nothing
    assert(ingest(batches(0).toSeq) == 0L)
    assert(pendingRows == batches(0).length, "a replayed pending batch must not duplicate")
    // batch 2 crosses the threshold: ONE version for the two batches
    assert(ingest(batches(1).toSeq) == batches(1).length)
    assert(versionNames == Seq("v=1", "v=2"),
      "the threshold flush must publish exactly one coalesced version")
    assert(pendingRows == 0L, "a flush must clear the pending tree")
    // crashed-flush self-heal: pending rows that are ALREADY live
    // (flip landed, clear did not) drain without publishing a version
    val liveCodes = Pq.readIvfPqIndex(spark,
      IndexManifest.currentOrFail(spark, root)).codes
    // the real sink stamps the pending tree's encode epoch BEFORE any
    // row lands, so a crashed flush's leftovers always carry it —
    // simulate faithfully (the r20 fence guards read it)
    IndexManifest.writeEpoch(spark, Streams.annPendingPath(root),
      IndexManifest.epochOf(spark, IndexManifest.currentOrFail(spark, root)))
    liveCodes.filter(col("vec_id") > cut).limit(5)
      .write.mode("append").partitionBy("cell")
      .parquet(Streams.annPendingPath(root))
    assert(Streams.annIngestFlushPending(spark, root, keep = 3) == 0L)
    assert(versionNames == Seq("v=1", "v=2"),
      "re-flushing already-published rows must not publish a duplicate version")
    assert(pendingRows == 0L)
    // batches 3+4 under threshold again, then an explicit drain
    assert(ingest(batches(2).toSeq) == batches(2).length)
    assert(ingest(batches(3).toSeq) == batches(3).length)
    // 3 versions total for 4 ingested batches (vs 5 uncoalesced)
    Streams.annIngestFlushPending(spark, root, keep = 3)
    assert(versionNames == Seq("v=1", "v=2", "v=3"), s"got $versionNames")
    assert(pendingRows == 0L)
    val qids = 0L until Similarity.NQueries.toLong
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._3))
    val want = canon(Pq.queryIvfPq(
      Pq.buildIvfPq(vectors, trainOn = base), vectors, qids))
    val live = IndexManifest.currentOrFail(spark, root)
    assert(Pq.readIvfPqIndex(spark, live).codes.count() == vectors.count())
    assert(canon(Pq.queryIvfPq(Pq.readIvfPqIndex(spark, live), vectors, qids))
      .sameElements(want),
      "the drained coalesced index diverged from the day-0-trained rebuild")
  }

  test("replay↔retrain fence: a replay straddling a retrain lands zero " +
      "duplicates; retrain refuses while rows pend; a stale-epoch flush " +
      "fails loudly instead of landing stale-assignment rows") {
    import spark.implicits._
    import graft.operators.{IndexManifest, Pq}
    val vectors = sources.Tables.embeddings(spark, sfDir)
    val maxId = vectors.agg(max("vec_id")).collect()(0).getLong(0)
    val cut = maxId / 2; val cut2 = (maxId * 3) / 4
    val base = vectors.filter(col("vec_id") <= cut)
    def slice(lo: Long, hi: Long) = vectors
      .filter(col("vec_id") > lo && col("vec_id") <= hi)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    val b1 = slice(cut, cut2)
    val b2 = slice(cut2, maxId)
    val root = java.nio.file.Files.createTempDirectory("graft_ann_fence").toString
    Pq.stageIvfPqIndexVersion(Pq.buildIvfPq(base), root)
    assert(IndexManifest.epochOf(spark,
      IndexManifest.currentOrFail(spark, root)) == 1L,
      "a full publish must stamp retrain epoch 1")
    def ingest(b: Seq[(Long, Seq[Float])], every: Long = 0L) =
      Streams.annIngestMicroBatchAtomic(
        b.toDF("vec_id", "embedding"), root, keep = 4,
        publishEveryRows = every)
    assert(ingest(b1.toSeq) == b1.length)
    // delta publishes carry the epoch forward unchanged
    assert(IndexManifest.epochOf(spark,
      IndexManifest.currentOrFail(spark, root)) == 1L,
      "an append must not advance the retrain epoch")
    // RETRAIN: fresh centroids + codebooks over everything now served
    // — the assignment function moves, the epoch must advance
    val corpus = vectors.filter(col("vec_id") <= cut2)
      .select(col("vec_id"), col("embedding"))
    AnnIndex.retrain(spark, root, AnnIndex.IvfPq, corpus, keep = 4)(
      (v, m) => Pq.buildIvfPq(v, metaCols = m))
    assert(IndexManifest.epochOf(spark,
      IndexManifest.currentOrFail(spark, root)) == 2L,
      "a retrain must advance the retrain epoch")
    // the straddling replay: b1 landed under epoch 1, replays under
    // epoch 2 — the enforced fence must detect the moved epoch and
    // claim against the FULL live vec_id set, appending nothing
    assert(ingest(b1.toSeq) == 0L,
      "a replay straddling a retrain must re-find every prior copy")
    val afterReplay = Pq.readIvfPqIndex(spark,
      IndexManifest.currentOrFail(spark, root)).codes
    assert(afterReplay.count() == base.count() + b1.length,
      "a straddling replay must not change the row count")
    assert(afterReplay.select("vec_id").distinct().count() == afterReplay.count(),
      "a straddling replay must land ZERO duplicate vec_ids")
    // the marker advanced: the next batch rides the cell-pruned path
    // and still appends correctly
    assert(ingest(b2.toSeq) == b2.length)
    assert(Pq.readIvfPqIndex(spark,
      IndexManifest.currentOrFail(spark, root)).codes.count() == vectors.count())
    // PENDING fence: park rows in the durable pending tree, then try
    // to retrain — publishRetrain must refuse before claiming anything
    val extra = b2.take(5).map { case (id, e) => (id + maxId + 1, e) }
    assert(ingest(extra.toSeq, every = 1000000L) == extra.length)
    val versionsBefore = new java.io.File(root).listFiles().toSeq
      .filter(f => f.isDirectory && f.getName.startsWith("v=")).map(_.getName).sorted
    val fenceHit = intercept[IllegalStateException] {
      AnnIndex.retrain(spark, root, AnnIndex.IvfPq,
        vectors.select(col("vec_id"), col("embedding")), keep = 4)(
        (v, m) => Pq.buildIvfPq(v, metaCols = m))
    }
    assert(fenceHit.getMessage.contains("retrain fence"))
    assert(new java.io.File(root).listFiles().toSeq
      .filter(f => f.isDirectory && f.getName.startsWith("v=")).map(_.getName).sorted
      == versionsBefore, "a fenced retrain must not claim a version")
    // BYPASSED fence (raw publish, no pending check): the stale-epoch
    // pending tree must make both the flush and the next micro-batch
    // fail loudly — stale-assignment rows can never be published
    IndexManifest.publish(spark, root)(dir =>
      AnnIndex.write(Pq.buildIvfPq(
        vectors.select(col("vec_id"), col("embedding"))), dir))
    val staleFlush = intercept[IllegalArgumentException] {
      Streams.annIngestFlushPending(spark, root, keep = 4)
    }
    assert(staleFlush.getMessage.contains("retrain epoch"))
    val staleIngest = intercept[IllegalArgumentException] {
      ingest(extra.toSeq, every = 1000000L)
    }
    assert(staleIngest.getMessage.contains("retrain epoch"))
    // operator recovery: clear the stale pending tree, lifecycle resumes
    val pp = new org.apache.hadoop.fs.Path(Streams.annPendingPath(root))
    pp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(pp, true)
    assert(Streams.annIngestFlushPending(spark, root, keep = 4) == 0L)
    assert(ingest(extra.toSeq) == extra.length)
  }
}
