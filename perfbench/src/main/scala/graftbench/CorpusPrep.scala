package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Bpe, CorpusPipeline, Dedup, TextAnalysis, TrainPrep}

/** Corpus preparation, the first half of `corpus_graph`: the training-data
  * path. A cycle is one
  * `CorpusPipeline.prepareTokenIds` over the generated documents (with
  * planted exact duplicates, near duplicates and eval contamination),
  * written out as token-id shards. */
object CorpusPrep extends Workload {
  private def docs(spark: SparkSession, input: String): DataFrame =
    spark.read.parquet(s"$input/docs.parquet")

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** The warm-up doubles as the reference for the checks: `prepare`
    * (the doc-level corpus `prepareTokenIds` starts from, deterministic
    * in its input) and the BPE encoding of those docs, both written out. */
  def warmUp(spark: SparkSession, input: String, work: String): Unit = {
    val prepared = CorpusPipeline.prepare(docs(spark, input))
      .select(col("doc_id"), col("text")).distinct()
    prepared.write.mode("overwrite").parquet(s"$work/prepared")
    Bpe.encodeDocsOn(spark.read.parquet(s"$work/prepared"))
      .write.mode("overwrite").parquet(s"$work/encoded")
  }

  def cycle(c: Ctx, index: Int): Unit = {
    val d = docs(c.spark, c.input)
    c.out.op("corpus.prepare") {
      c.tracer.span("corpus.prepare") {
        CorpusPipeline.prepareTokenIds(d).write.mode("overwrite").parquet(s"${c.work}/shards")
        c.tracer.items(Meta.read(s"${c.input}/planted.json").long("n_docs").toDouble)
      }
    }
  }

  override def traceExtras(c: Ctx): Unit = {
    val spark = c.spark
    val d = docs(spark, c.input)
    val t = c.tracer
    t.span("corpus.quality")(noop(TextAnalysis.textQualityOn(d)))
    t.overhead("corpus.quality")(noop(TextAnalysis.textQualityOn(d)))
    val pairs = t.span("corpus.pairs") {
      Dedup.ngramJaccardOn(d).select(col("doc_a"), col("doc_b")).collect()
    }
    spark.catalog.clearCache()
    val pairDf = spark.createDataFrame(spark.sparkContext.parallelize(
      pairs.map(r => (r.getLong(0), r.getLong(1))).toSeq, 1)).toDF("doc_a", "doc_b")
    t.span("corpus.clusters")(noop(Dedup.pairClusters(pairDf)))
    t.span("corpus.decontam")(noop(Dedup.decontaminateOn(d, "src0")))
    val enc = s"${c.work}/encoded"
    t.span("corpus.bpe_encode") {
      Bpe.encodeDocsOn(d.select(col("doc_id"), col("text")))
        .write.mode("overwrite").parquet(enc)
    }
    t.span("corpus.pack")(noop(TrainPrep.packIdStreamOn(spark.read.parquet(enc))))
    val (_, s) = t.span("corpus.summary")(CorpusPipeline.prepareWithSummary(d))
    def share(after: Long, before: Long) = if (before == 0) 0.0 else 1.0 - after.toDouble / before
    c.out.count("corpus.share.exact_dup", share(s.nExact, s.nQuality))
    c.out.count("corpus.share.near_dup", share(s.nNearDup, s.nExact))
    c.out.count("corpus.share.contaminated", share(s.nDecontaminated, s.nNearDup))
  }

  def verify(c: Ctx): Unit = {
    val spark = c.spark
    val d = docs(spark, c.input)
    val planted = Meta.read(s"${c.input}/planted.json")
    val out = spark.read.parquet(s"${c.work}/warm/prepared")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    c.out.check("corpus.output.nonempty", out.nonEmpty, "no surviving docs")
    c.out.check("corpus.unique_content", out.values.toSet.size == out.size,
      s"${out.size - out.values.toSet.size} duplicate texts")
    val survivingPairs = planted.longss("exact_pairs").count(p => p.forall(out.contains))
    c.out.check("corpus.exact_dups_removed", survivingPairs == 0,
      s"$survivingPairs planted exact pairs survive")
    val evalTexts = d.filter(col("source") === planted.str("eval_source"))
      .select(col("text")).collect().map(_.getString(0))
    val leaked = out.count { case (_, txt) => evalTexts.exists(e => txt.contains(e)) }
    c.out.check("corpus.decontaminated", leaked == 0, s"$leaked outputs contain eval text")
    // the shards hold exactly the token streams of the surviving docs
    val encoded = spark.read.parquet(s"${c.work}/warm/encoded")
    val encodedIds = encoded.select(col("doc_id")).collect().map(_.getLong(0)).toSet
    c.out.check("corpus.every_doc_encoded", encodedIds == out.keySet,
      s"${out.keySet.diff(encodedIds).size} surviving docs without tokens")
    val want = encoded.agg(sum(col("n_tokens"))).collect()(0).getLong(0)
    val got = spark.read.parquet(s"${c.work}/shards").agg(sum(col("n_tokens")))
      .collect()(0).getLong(0)
    c.out.check("corpus.shards_cover_docs", want == got, s"shards $got tokens, docs $want")
    c.out.count("corpus.surviving_docs", out.size.toDouble)
  }
}
