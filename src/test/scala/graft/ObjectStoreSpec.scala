package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.operators.{AnnIndex, Pipeline, Sinks}
import graft.streaming.Streams

/** The lake paths through a NON-`file:` Hadoop filesystem scheme
  * ([[StubFileSystem]], local-disk-backed) — pins down that every
  * sink/merge/ledger path resolves its filesystem from the path's own
  * scheme (the s3a/gs/abfs contract) instead of assuming `file:` or
  * dropping to `java.io.File`. A code path that passes here does not
  * prove object-store SEMANTICS (rename atomicity, list consistency)
  * — it proves the URI plumbing, which is the part the engine owns.
  */
class ObjectStoreSpec extends SparkSpecBase {

  private def ts(s: String) = Timestamp.valueOf(s)

  private lazy val stubRoot: String = {
    // register the scheme once on the shared session's Hadoop conf
    spark.sparkContext.hadoopConfiguration
      .set("fs.stub.impl", classOf[StubFileSystem].getName)
    spark.sparkContext.hadoopConfiguration
      .set("fs.AbstractFileSystem.stub.impl",
        classOf[StubAbstractFileSystem].getName)
    val d = java.nio.file.Files.createTempDirectory("graft_stub_fs").toString
    s"stub://$d"
  }

  test("partitioned parquet sink: dynamic overwrite through the stub scheme") {
    import spark.implicits._
    val base = Seq(
      (1L, "2024-01-15", 1.0), (2L, "2024-01-15", 2.0), (3L, "2024-01-16", 3.0))
      .toDF("id", "event_date", "value")
      .withColumn("event_date", col("event_date").cast("date"))
    val path = s"$stubRoot/part_sink"
    Sinks.writePartitioned(base, path, Seq("event_date"))
    assert(spark.read.parquet(path).count() == 3)
    // dynamic overwrite: replacing one partition leaves the other alone
    val day2 = Seq((9L, "2024-01-16", 9.0)).toDF("id", "event_date", "value")
      .withColumn("event_date", col("event_date").cast("date"))
    Sinks.writePartitioned(day2, path, Seq("event_date"))
    val after = spark.read.parquet(path)
    assert(after.count() == 3)
    assert(after.filter(col("event_date") === lit("2024-01-16").cast("date"))
      .select("id").collect().map(_.getLong(0)).toSet == Set(9L))
  }

  test("cdc lake + snapshot read round-trip through the stub scheme") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val l2 = s"$stubRoot/cdc_l2"
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val streamDf = mem.toDF.toDF("event_id", "ts", "user_id", "op", "value")
    val q = Streams.cdcApplySink(streamDf, l2)
      .option("checkpointLocation", s"$stubRoot/cdc_ckpt").start()
    try {
      mem.addData(Seq(
        (1L, ts("2024-03-01 10:00:00"), 5L, "U", 1.0),
        (2L, ts("2024-03-01 10:00:00"), 6L, "U", 2.0),
        (3L, ts("2024-03-02 11:00:00"), 6L, "D", 0.0)))
      q.processAllAvailable()
      // the convention sidecar + bucketed merge + snapshot filter all
      // resolved the stub filesystem from the path
      val snap = Streams.readCdcSnapshot(spark, l2)
        .collect().map(_.getLong(2)).toSet
      assert(snap == Set(5L), s"delete must mask through the stub lake, got $snap")
    } finally q.stop()
  }

  test("runDs end-to-end on a stub-scheme lake: zones, merge, and ledger") {
    val lake = s"$stubRoot/lake"
    val r = Pipeline.runDs(spark, sfDir, lake, "2024-01-15")
    assert(r.nNormalized > 0 && r.nL2 > 0)
    assert(spark.read.parquet(s"$lake/l2").count() == r.nL2)
    // rerun idempotency exercises delete+rename (stageAndReplace)
    assert(Pipeline.runDs(spark, sfDir, lake, "2024-01-15").nL2 == r.nL2)
    val ledger = Pipeline.readRunLedger(spark, lake).collect()
    assert(ledger.length == 3 && ledger.forall(_.getString(3) != "rejected"))
  }

  test("refs-mode atomic index lifecycle through the stub scheme: delta " +
      "publishes move ZERO unchanged bytes on a non-file filesystem — the " +
      "object-store property the link mirror cannot give") {
    import graft.operators.{IndexManifest, Similarity}
    val vectors = sources.Tables.embeddings(spark, sfDir)
    val maxId = vectors.agg(max(col("vec_id"))).collect()(0).getLong(0)
    val base = vectors.filter(col("vec_id") <= maxId / 2)
    val rest = vectors.filter(col("vec_id") > maxId / 2)
    val root = s"$stubRoot/refs_idx"
    // reference: the same lifecycle on the local filesystem
    val local = java.nio.file.Files.createTempDirectory("graft_stub_local").toString
    AnnIndex.stage(Similarity.buildIvf(base), local)
    AnnIndex.append(spark, local, AnnIndex.FloatIvf, rest)
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._3))
    def localAnswers = canon(Similarity.queryIvfIndex(spark,
      IndexManifest.currentOrFail(spark, local)))
    val v1 = AnnIndex.stage(Similarity.buildIvf(base), root)
    // the non-local claim branch (_CLAIM exclusive create) ran:
    assert(v1.startsWith("stub://"), s"version must resolve through the scheme, got $v1")
    val n = AnnIndex.append(spark, root, AnnIndex.FloatIvf, rest)
    assert(n == rest.count())
    val v2 = IndexManifest.currentOrFail(spark, root)
    assert(canon(Similarity.queryIvfIndex(spark, v2)).sameElements(localAnswers),
      "stub-scheme refs append must answer exactly like the local-FS twin")
    // THE object-store property: the delta version holds no parquet at
    // all (pure manifest) — no unchanged partition is copied
    val v2local = v2.stripPrefix("stub://")
    val stream = java.nio.file.Files.walk(java.nio.file.Paths.get(v2local))
    val parquets = try {
      val b = Seq.newBuilder[String]
      stream.filter(p => p.toString.endsWith(".parquet")).forEach(p => b += p.toString)
      b.result()
    } finally stream.close()
    assert(parquets.isEmpty,
      s"a stub-scheme refs delta must move zero unchanged bytes, found $parquets")
    // erasure + vacuum keep the chain serving through the scheme
    val erased = rest.select("vec_id").limit(5).collect().map(_.getLong(0)).toSeq
    AnnIndex.erase(spark, local, AnnIndex.FloatIvf, erased)
    assert(AnnIndex.erase(spark, root, AnnIndex.FloatIvf, erased) == erased.size.toLong)
    assert(canon(Similarity.queryIvfIndex(spark,
        IndexManifest.currentOrFail(spark, root))).sameElements(localAnswers))
    IndexManifest.vacuum(spark, root, keep = 1)
    assert(canon(Similarity.queryIvfIndex(spark,
        IndexManifest.currentOrFail(spark, root))).sameElements(localAnswers),
      "vacuum through the scheme must never break the live chain")
  }
}
