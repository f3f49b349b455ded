package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import graft.operators.Bpe

class BpeSpec extends SparkSpecBase {

  test("bpe micro-corpus: exact merges, tie-break, and early exhaustion") {
    import spark.implicits._
    // one word "ab" x3: round 1 ties (a,b)=3 with (b,</w>)=3 -> (a,b)
    // wins on the (left, right) tie-break; round 2 merges (ab,</w>);
    // round 3 finds no pairs left and training stops early
    val docs = Seq((1L, "ab ab ab")).toDF("doc_id", "text")
    val m = Bpe.trainOn(docs, rounds = 10).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
    assert(m.toSeq == Seq(
      (1, "a", "b", "ab", 3L),
      (2, "ab", "</w>", "ab</w>", 3L)))
  }

  test("bpe merge application is greedy leftmost on overlaps") {
    import spark.implicits._
    // "aaa" under (a,a): fold resolves left-to-right -> [aa, a, </w>],
    // never [a, aa, </w>]
    val docs = Seq((1L, "aaa")).toDF("doc_id", "text")
    val syms = Bpe.encodeWordsOn(docs, Seq(("a", "a")))
      .select("syms").collect()(0).getSeq[String](0)
    assert(syms == Seq("aa", "a", "</w>"))
  }

  test("bpe apply + encode: hand corpus segments, ids, and streams") {
    import spark.implicits._
    // wc: ab:4, cd:1. Training: r1 (a,b)=4 beats (b,</w>)=4 on the
    // left tie-break; r2 (ab,</w>)=4; r3 (c,d)=1 beats (d,</w>)=1;
    // r4 (cd,</w>)=1; r5 exhausted. Both words collapse to ONE symbol
    // and contribute no pairs.
    val docs = Seq((1L, "ab ab ab"), (2L, "ab cd")).toDF("doc_id", "text")
    val segs = Bpe.applySegmentsOn(docs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getInt(3))).toSet
    assert(segs == Set(("ab", 4L, "ab</w>", 1), ("cd", 1L, "cd</w>", 1)))
    // subword ids rank by weighted frequency: ab</w> (4) -> 0, cd</w> (1) -> 1
    val enc = Bpe.encodeDocsOn(docs).collect()
      .map(r => r.getLong(0) -> ((r.getSeq[Int](1), r.getInt(2)))).toMap
    assert(enc(1L) == ((Seq(0, 0, 0), 3)))
    assert(enc(2L) == ((Seq(0, 1), 2)))
  }

  test("batched bpe: batchSize=1 reproduces sequential training; batches decode and compress") {
    import spark.implicits._
    val docs = sources.Tables.documents(spark, sfDir)
    def tuples(rows: Array[org.apache.spark.sql.Row]) = rows.map(r =>
      (r.getInt(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4))).toSeq
    // exactness anchor: a 1-wide batch IS sequential BPE
    val seqTable = tuples(Bpe.trainOn(docs, rounds = 6).collect())
    val b1 = tuples(Bpe.trainBatchedOn(docs, totalMerges = 6, batchSize = 1).collect())
    assert(b1 == seqTable, "batchSize=1 must reproduce the sequential merge table")
    // a real batch: requested merges learned in far fewer driver rounds,
    // every learned merge still decodes back to its corpus words
    val b4 = Bpe.trainBatchedOn(docs, totalMerges = 12, batchSize = 4).collect()
    assert(b4.length > 0 && b4.length <= 12)
    assert(b4.map(_.getInt(0)).toSeq == (1 to b4.length), "global rank order")
    val merges = b4.map(r => (r.getString(1), r.getString(2))).toSeq
    val enc = Bpe.encodeWordsOn(docs, merges)
    assert(enc.filter(concat_ws("", col("syms")) =!=
      concat(col("word"), lit(Bpe.EndMark))).count() == 0,
      "batched merge table must still decode every corpus word")
    val stats = enc.agg(avg(size(col("syms"))).as("s"),
      avg(length(col("word")) + 1).as("c")).collect()(0)
    assert(stats.getDouble(0) < stats.getDouble(1), "batched merges must compress")
  }

  test("bpe on the corpus: ranked rounds, non-increasing counts, round-trip decode") {
    val docs = sources.Tables.documents(spark, sfDir)
    val m = Bpe.train(spark, sfDir).collect()
    assert(m.nonEmpty && m.length <= Bpe.BpeRounds)
    assert(m.map(_.getInt(0)).toSeq == (1 to m.length), "rounds must be 1..n in order")
    m.foreach(r => assert(r.getString(3) == r.getString(1) + r.getString(2)))
    // classic BPE invariant: a merge can only create pairs at most as
    // frequent as itself, so winning counts never increase
    val counts = m.map(_.getLong(4)).toSeq
    assert(counts.zip(counts.tail).forall { case (a, b) => a >= b },
      s"pair counts must be non-increasing: $counts")
    // round-trip: concatenating each word's final symbols and stripping
    // the end marker recovers the word exactly, for every corpus word
    val merges = m.map(r => (r.getString(1), r.getString(2))).toSeq
    val enc = Bpe.encodeWordsOn(docs, merges)
    val mismatches = enc.filter(
      concat_ws("", col("syms")) =!= concat(col("word"), lit(Bpe.EndMark))).count()
    assert(mismatches == 0, "decode must recover every corpus word")
    // and the merges actually compress: mean symbols per word shrinks
    // below characters-plus-marker
    val stats = enc.agg(
      avg(size(col("syms"))).as("s"),
      avg(length(col("word")) + 1).as("c")).collect()(0)
    assert(stats.getDouble(0) < stats.getDouble(1), "merges must compress")
  }

  test("bpe tie-break follows Spark's UTF-8 order; a supplementary character is one symbol") {
    import spark.implicits._
    // (x,｡) and (x,𝄞) tie at 1 and share the left symbol: U+FF61 sorts
    // first in UTF-8 byte (code point) order, U+1D11E first in UTF-16
    // order (String.compareTo sees its high surrogate 0xD834)
    val (half, clef) = ("\uFF61", "\uD834\uDD1E")
    assert(clef.compareTo(half) < 0)
    assert(Seq(clef, half).toDF("s").orderBy("s").as[String].collect().toSeq == Seq(half, clef),
      "Spark orders strings by UTF-8 bytes")
    val docs = Seq((1L, s"x$half x$clef")).toDF("doc_id", "text")
    assert(docs.select(length(lit(s"x$clef"))).head().getInt(0) == 2,
      "Spark counts the clef as one character")
    val m = Bpe.trainOn(docs, rounds = 1).collect()
      .map(r => (r.getString(1), r.getString(2), r.getLong(4))).toSeq
    assert(m == Seq(("x", half, 1L)))
    val segs = Bpe.applySegmentsOn(docs, rounds = 1).collect()
      .map(r => r.getString(0) -> ((r.getString(2), r.getInt(3)))).toMap
    assert(segs == Map(s"x$half" -> ((s"x$half </w>", 2)), s"x$clef" -> ((s"x $clef </w>", 3))))
  }

  test("bpe trainer: incremental pair statistics equal a full recount after every round") {
    val t = new Bpe.Trainer(Bpe.vocabulary(sources.Tables.documents(spark, sfDir)))
    def bytes(s: String) = s.getBytes(UTF_8)
    // the winning order, spelled out: count desc, then left, then right
    // as unsigned UTF-8 bytes
    def before(a: (String, String, Long), b: (String, String, Long)): Boolean =
      if (a._3 != b._3) a._3 > b._3
      else {
        val l = java.util.Arrays.compareUnsigned(bytes(a._1), bytes(b._1))
        if (l != 0) l < 0 else java.util.Arrays.compareUnsigned(bytes(a._2), bytes(b._2)) < 0
      }
    var merged = 0
    (0 to 50).foreach { round =>
      val ranked = t.best(Int.MaxValue)
      val recount = t.recount().toSeq.map { case ((l, r), c) => (l, r, c) }.sortWith(before)
      assert(ranked == recount, s"pair statistics drift after round $round")
      if (round < 50 && ranked.nonEmpty) {
        t.merge(Seq((ranked.head._1, ranked.head._2)))
        merged += 1
      }
    }
    assert(merged == 50, "the sf corpus has pairs for 50 rounds")
  }

  test("bpe training starts the same Spark jobs for 2 rounds as for 10") {
    val docs = sources.Tables.documents(spark, sfDir)
    val (started, ended) = (new AtomicInteger, new AtomicInteger)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = started.incrementAndGet()
      override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.incrementAndGet()
    }
    // the listener bus is asynchronous: wait until every started job
    // has delivered its end event
    def settle(): Unit = {
      val deadline = System.currentTimeMillis() + 10000L
      do Thread.sleep(200) while (ended.get != started.get && System.currentTimeMillis() < deadline)
    }
    def jobs(rounds: Int): Int = {
      val before = started.get
      Bpe.trainOn(docs, rounds).collect()
      settle()
      started.get - before
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      jobs(1) // warm-up
      val (two, ten) = (jobs(2), jobs(10))
      assert(two > 0 && two == ten, s"2 rounds started $two jobs, 10 rounds $ten")
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
