package graft

import org.apache.spark.sql.functions._
import graft.operators.Dedup
import graft.operators.TextAnalysis

/** Contracts for the corpus-hygiene additions: contamination checks
  * and repetition quality filters, on crafted inputs where the right
  * answer is computable by hand. */
class CorpusPrepSpec extends SparkSpecBase {

  test("contamination: a quoted eval doc is fully contained, others absent") {
    import spark.implicits._
    val evalText = "alpha beta gamma delta epsilon" // 2 distinct 4-grams
    val docs = Seq(
      (1L, evalText, "eval"),                            // the benchmark doc
      (2L, s"intro words here $evalText and a tail", "web"), // quotes it whole
      (3L, "alpha beta gamma something else entirely", "web"), // 3-gram overlap only
      (4L, "totally unrelated text with other words present", "web"))
      .toDF("doc_id", "text", "source")
    val got = Dedup.contaminationOn(docs, evalSource = "eval")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // only doc 2 shares any 4-gram; it contains BOTH eval 4-grams
    assert(got.toSeq == Seq((2L, 1L, 2L, 1.0)))
  }

  test("contamination: partial quote gives fractional containment") {
    import spark.implicits._
    val docs = Seq(
      (1L, "q1 q2 q3 q4 q5 q6 q7", "eval"), // 4 distinct 4-grams
      (2L, "noise q1 q2 q3 q4 more noise words", "web")) // shares exactly 1
      .toDF("doc_id", "text", "source")
    val got = Dedup.contaminationOn(docs, "eval").collect()
    assert(got.length == 1)
    assert(got(0).getLong(2) == 1L)
    assert(got(0).getDouble(3) == 0.25)
  }

  test("repetition: hand-computable ratios on crafted docs") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a a a a"),        // 4 words 1 distinct; 3 bigrams ("a a") 1 distinct
      (2L, "a b c d"),        // all distinct words and bigrams
      (3L, "a b a b a"),      // 5 words 2 distinct; bigrams: "a b"x2,"b a"x2
      (4L, "solo"))           // 1 word, no bigrams -> fracs 0
      .toDF("doc_id", "text")
    val got = TextAnalysis.textRepetitionOn(docs)
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(got(1L) == ((0.75, 1.0, 2.0 / 3.0, 1.0)))
    assert(got(2L) == ((0.0, 0.25, 0.0, 1.0 / 3.0)))
    assert(got(3L) == ((0.6, 0.6, 0.5, 0.5)))
    assert(got(4L) == ((0.0, 1.0, 0.0, 0.0)))
  }

  test("pii scrub: redacts urls then emails then digit runs, with counts") {
    import spark.implicits._
    val docs = Seq(
      (1L, "contact bob@example.com or visit https://example.com/a?user=eve@x.org now"),
      (2L, "card 4111111111111111 pin 12345 ok"), // 5 digits stays
      (3L, "clean text with no identifiers at all"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.textPiiScrubOn(docs)
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getInt(3), r.getString(4))).toMap
    // URL eats the embedded eve@x.org: 1 url, 1 email (bob), no digits
    assert(got(1L) == ((1, 1, 0,
      "contact <EMAIL> or visit <URL> now")))
    assert(got(2L) == ((0, 0, 1, "card <NUM> pin 12345 ok")))
    assert(got(3L) == ((0, 0, 0, "clean text with no identifiers at all")))
  }

  test("repetition: every corpus doc gets exactly one row, ratios in range") {
    val docs = graft.sources.Tables.documents(spark, sfDir)
    val rep = TextAnalysis.textRepetitionOn(docs).cache()
    assert(rep.count() == docs.count())
    val outOfRange = rep.filter(
      col("dup_word_frac") < 0 || col("dup_word_frac") > 1 ||
      col("top_word_frac") <= 0 || col("top_word_frac") > 1 ||
      col("dup_bigram_frac") < 0 || col("dup_bigram_frac") > 1 ||
      col("top_bigram_frac") < 0 || col("top_bigram_frac") > 1).count()
    assert(outOfRange == 0)
    rep.unpersist()
  }

  test("corpus pipeline: funnel is monotone, stages compose to their operators") {
    import org.apache.spark.sql.functions._
    val docs = sources.Tables.documents(spark, sfDir)
    val (packed, s) = graft.operators.CorpusPipeline.prepareWithSummary(docs)
    // monotone funnel: every stage can only shrink the corpus
    assert(s.nInput >= s.nQuality && s.nQuality >= s.nExact &&
      s.nExact >= s.nNearDup && s.nNearDup >= s.nDecontaminated &&
      s.nDecontaminated >= s.nSampled)
    assert(s.nSampled > 0 && s.nChunks > 0)
    // the packed output carries exactly the sampled docs
    assert(packed.count() == s.nSampled)
    // no eval docs, no duplicate content in the final corpus
    assert(packed.filter(col("source") === "src0").count() == 0)
    val texts = packed.select(col("text")).count()
    assert(packed.select(col("text")).distinct().count() == texts)
    // packing invariants hold on the composed output
    assert(packed.select(col("doc_id")).distinct().count() == packed.count())
    assert(packed.filter(col("token_offset") < 0).count() == 0)
  }

  test("corpus pipeline: token-id materialization fills every non-tail chunk to budget") {
    val docs = sources.Tables.documents(spark, sfDir)
    val rows = graft.operators.CorpusPipeline.prepareTokenIds(docs).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getInt(2), r.getSeq[Int](3)))
    assert(rows.nonEmpty)
    rows.foreach { case (_, _, n, ids) =>
      assert(ids.length == n && ids.forall(_ >= 0)) }
    // per shard: chunk ids contiguous from 0, every non-final chunk
    // exactly at the context-window budget (offsets are consecutive by
    // construction, so only a shard's tail chunk may be partial)
    rows.groupBy(_._1).foreach { case (shard, rs) =>
      val sorted = rs.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (0L until sorted.length).map(identity),
        s"shard $shard chunk ids not contiguous")
      sorted.dropRight(1).foreach { case (_, cid, n, _) =>
        assert(n == graft.operators.TrainPrep.ChunkBudget,
          s"shard $shard chunk $cid not full: $n tokens") }
    }
  }

  test("corpus pipeline: a train copy of an eval doc is cut even when dedup kept the train copy") {
    import spark.implicits._
    def words(seed: Int, n: Int) = (0 until n).map(i => s"w${seed}x$i").mkString(" ")
    val evalText = words(1, 25)
    val docs = Seq(
      (5L, evalText, "en", "src1", evalText.length.toLong),   // train DUPLICATE, min doc_id
      (100L, evalText, "en", "src0", evalText.length.toLong), // eval original
      (6L, words(2, 25), "en", "src1", 0L),
      (7L, words(3, 25), "en", "src2", 0L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    // exact dedup over a naive train+eval union would keep doc 5 (min id)
    // and drop the eval copy — decontamination must still flag doc 5
    // because it compares against the ORIGINAL eval slice
    val out = graft.operators.CorpusPipeline.prepare(docs,
      weights = Map("src1" -> 1.0, "src2" -> 1.0), defaultWeight = 1.0)
    val ids = out.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(!ids.contains(5L), "train duplicate of an eval doc must be decontaminated")
    assert(ids == Set(6L, 7L))
  }

  test("corpus pipeline: a SHORT exact train copy of an eval doc (under n-gram reach) is still cut") {
    import spark.implicits._
    def words(seed: Int, n: Int) = (0 until n).map(i => s"v${seed}y$i").mkString(" ")
    val shortEval = "answer is 42" // 3 words < ContamN: zero 4-grams, invisible to contamination
    val docs = Seq(
      (5L, shortEval, "en", "src1", 12L),  // exact train duplicate
      (100L, shortEval, "en", "src0", 12L),
      (6L, words(7, 25), "en", "src1", 0L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = graft.operators.CorpusPipeline.prepare(docs,
      qualityMin = 0.0, weights = Map("src1" -> 1.0), defaultWeight = 1.0)
    val ids = out.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(!ids.contains(5L), "short exact eval duplicate must be cut by content hash")
    assert(ids == Set(6L))
  }

  test("corpus pipeline: two concurrent prepareTokenIds calls each equal their serial result") {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val docs = sources.Tables.documents(spark, sfDir)
    // two different corpora, so a staging the calls shared would show
    // up as a wrong answer in at least one of them
    val inputs = Seq(docs, docs.filter(col("doc_id") % 2 === 0))
    def run(d: org.apache.spark.sql.DataFrame) =
      graft.operators.CorpusPipeline.prepareTokenIds(d).collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getInt(2), r.getSeq[Int](3))).toSet
    val serial = inputs.map(run)
    assert(serial(0) != serial(1))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      val concurrent = inputs.map(d => Future(run(d)))
      assert(concurrent.map(Await.result(_, 10.minutes)) == serial)
    } finally pool.shutdown()
  }
}
