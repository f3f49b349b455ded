package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** End-to-end training-data corpus preparation — the composition the
  * individual §2.3–§2.5 operators exist FOR, chained the way a
  * pretraining data pipeline actually runs them:
  *
  *   quality filter → exact dedup (keep min-id per content hash)
  *   → near-dup survivor drop (verified Jaccard pairs → components)
  *   → eval-set decontamination cut → mixture-weighted sampling
  *   → sequence packing
  *
  * Every stage is the SAME operator the driver gate hash-verifies in
  * isolation; this object only composes them, so the composition
  * inherits their oracles. Everything stays declarative between the
  * few required shuffles (content-hash window, pair generation,
  * contamination join, packing window) — Catalyst fuses the
  * filter/projection stages in between into the adjacent scans.
  *
  * Order rationale (each stage shrinks the input of the costlier
  * next): quality is a scan-bound per-row cut; exact dedup is one
  * cheap hash window; BOTH run before the near-dup machinery ever
  * shingles a document, and decontamination/sampling/packing see only
  * surviving docs. At 100 TB the expensive stage is near-dup pair
  * generation — exactly the stage the prefix-filter bounds — and its
  * input has already been culled by the two cheap stages.
  */
object CorpusPipeline {

  /** Per-stage row counts for the run report (the DQ trail a corpus
    * build publishes alongside the data). */
  case class CorpusSummary(nInput: Long, nQuality: Long, nExact: Long,
                           nNearDup: Long, nDecontaminated: Long,
                           nSampled: Long, nChunks: Long)

  /** Minimum composite quality score (see
    * [[TextAnalysis.textQualityOn]]) a doc must reach to enter the
    * corpus — a LOW-TAIL cut, not a median cut: the score multiplies
    * three ≤1 ratios, so its absolute scale sits well under 1 (this
    * corpus' p10/p50/p90 ≈ 0.13/0.24/0.27). Calibrate per corpus. */
  val QualityMin = 0.1

  /** The stage frames, so the funnel report derives from the SAME
    * plans the prepared corpus does (deriving them twice would both
    * double the work and let a nondeterministic input make the
    * summary disagree with the data it describes). */
  private case class Stages(kept: DataFrame, exact: DataFrame,
                            nearDedup: DataFrame, clean: DataFrame,
                            sampled: DataFrame, packed: DataFrame,
                            scratch: Seq[String])

  private def stages(docs: DataFrame, evalSource: String,
                     qualityMin: Double, weights: Map[String, Double],
                     defaultWeight: Double, contamTau: Double): Stages = {
    // EVAL docs are a held-aside REFERENCE SET: they never enter the
    // corpus stages, and decontamination compares against their
    // ORIGINAL form. Running them through quality/dedup first can
    // DROP the eval copy (exact dedup keeps the minimum doc_id —
    // which may be the TRAIN duplicate) and the surviving train
    // duplicate would then ship unflagged (r5 review finding).
    val evalDocs = docs.filter(col("source") === evalSource)
    val trainDocs = docs.filter(col("source") =!= evalSource)
    val quality = TextAnalysis.textQualityOn(trainDocs)
      .filter(col("quality_score") >= qualityMin)
      .select(col("doc_id"))
    val kept = trainDocs.join(quality, Seq("doc_id"), "left_semi")
    // exact dedup: keep the min doc_id per content hash. STAGED (r21,
    // guide §6 / VERDICT item 8): every downstream stage roots at this
    // frame, and the final packed plan re-evaluates the chain several
    // times (the near-dup anti-join, the eval-hash cut, both
    // contamination gram branches, both sides of the packing join) —
    // unstaged, each re-ran the quality scoring scan and the
    // content-hash window (the r20 plan carried 164 Exchanges). One
    // survivor-corpus write truncates all of it. Per call (never a
    // shared directory): two concurrent prepare calls in one session
    // would otherwise overwrite each other's survivor corpus.
    val (exactDir, exact) = Scratch.stageFresh(Merge.keepFirst(kept,
      keys = Seq(Dedup.contentHash(col("text"))),
      orderCol = col("doc_id"), tiebreak = col("doc_id")),
      "graft_corpus_exact")
    // near-dup survivor drop over verified Jaccard pairs; the trigram
    // cache is released once pairClusters has durably checkpointed the
    // pairs (otherwise every prepare() call would pin one cached frame
    // in the session CacheManager for the rest of the session) — also
    // on the non-convergence failure path
    val (pairs, triHandle) = Dedup.ngramJaccardWithHandle(exact)
    val nearDedup =
      try Dedup.dropNearDuplicates(exact, pairs)
      finally triHandle.unpersist()
    // EXACT train copies of eval docs are cut by content hash: the
    // n-gram decontamination below cannot see docs shorter than
    // ContamN words (zero grams), and train-only dedup no longer
    // removes cross-set duplicates
    val noExactEval = nearDedup.join(
      evalDocs.select(Dedup.contentHash(col("text")).as("__eval_hash")),
      Dedup.contentHash(col("text")) === col("__eval_hash"), "left_anti")
    val clean = Dedup.decontaminateOn(
      noExactEval.unionByName(evalDocs), evalSource, contamTau)
    // STAGED (r21): the packing join below reads `sampled` on BOTH
    // sides (layout window + payload), and the decontamination chain
    // above it is the priciest stretch of the pipeline — unstaged, the
    // whole clean-corpus derivation ran twice
    val (sampledDir, sampled) = Scratch.stageFresh(
      Etl.sampleWeightedOn(clean, weights, defaultWeight),
      "graft_corpus_sampled")
    val packed = TrainPrep.packSequencesOn(sampled)
      .join(sampled, Seq("doc_id"))
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        col("shard"), col("seq_pos"), col("token_offset"), col("chunk_id"))
    Stages(kept, exact, nearDedup, clean, sampled, packed, Seq(exactDir, sampledDir))
  }

  /** The prepared corpus: cleaned + sampled docs with their packing
    * assignment (shard / seq_pos / token_offset / chunk_id).
    *
    * NOT lazy: although this returns a composable DataFrame, calling
    * it EXECUTES the full near-dup clustering up front — `stages()`
    * stages the verified pairs to scratch parquet and runs the
    * label-propagation driver loop before returning (the
    * [[Dedup.pairClusters]] contract: iterative algorithms must
    * materialize, a lazy plan would re-run the loop per downstream
    * action). Construction cost is the dedup tier, not a plan tree —
    * build once and reuse the result. */
  def prepare(docs: DataFrame,
              evalSource: String = "src0",
              qualityMin: Double = QualityMin,
              weights: Map[String, Double] = Etl.MixtureWeights,
              defaultWeight: Double = Etl.DefaultMixtureWeight,
              contamTau: Double = Dedup.ContamTau): DataFrame =
    stages(docs, evalSource, qualityMin, weights, defaultWeight, contamTau).packed

  /** The full corpus → token-id-shards materialization — the DAG a
    * pretraining data build actually ships: [[prepare]]'s cleaned +
    * sampled docs (read straight from the sampled stage: the packing
    * layout of [[prepare]] is 1:1 on `doc_id` and carries nothing the
    * encode reads), a BPE tokenizer TRAINED ON that surviving corpus
    * (training the tokenizer on the post-filter distribution is the
    * production convention — tokenizing removed spam wastes vocabulary
    * mass), each doc encoded to its subword-id stream, and the streams
    * packed into context-window chunks in [[TrainPrep.packSequencesOn]]'s
    * deterministic training order.
    *
    * Output: one row per (shard, chunk_id) with the chunk's
    * `array<int>` token ids — what a training run memory-maps.
    *
    * Eager like [[prepare]]: the dedup clustering loop and the BPE
    * training (one vocabulary collect, rounds in the driver JVM — see
    * [[Bpe]]) both run inside the call. The encoded corpus is staged
    * to a per-call scratch directory once, so the packer's two
    * branches (layout + id explode) read a materialization instead of
    * re-running the encode join per branch; the survivor stagings are
    * released as soon as that write is done. */
  def prepareTokenIds(docs: DataFrame,
                      evalSource: String = "src0",
                      qualityMin: Double = QualityMin,
                      weights: Map[String, Double] = Etl.MixtureWeights,
                      defaultWeight: Double = Etl.DefaultMixtureWeight,
                      contamTau: Double = Dedup.ContamTau,
                      bpeRounds: Int = Bpe.BpeRounds,
                      nShards: Int = TrainPrep.NShards,
                      budget: Long = TrainPrep.ChunkBudget): DataFrame = {
    val st = stages(docs, evalSource, qualityMin, weights, defaultWeight, contamTau)
    val (_, encoded) =
      try Scratch.stageFresh(Bpe.encodeDocsOn(
        st.sampled.select(col("doc_id"), col("text")), bpeRounds), "graft_corpus_ids")
      finally st.scratch.foreach(Scratch.release)
    TrainPrep.packIdStreamOn(encoded, nShards, budget)
  }

  /** Driver query (key `corpus_prep`): [[prepare]] over the test
    * corpus with every default knob — the end-to-end composition the
    * per-stage driver keys exist for, hash-checked as ONE result. */
  def corpusPrep(spark: SparkSession, dir: String): DataFrame =
    prepare(Tables.documents(spark, dir))

  /** Oracle: the six stages replayed as one CTE chain — each stage's
    * SQL is the SAME formulation its standalone oracle uses
    * (quality = `text_quality`'s score, exact dedup = keep-min-id per
    * md5, pairs+closure = `dedup_clusters`' recursive CTE,
    * decontamination = `dedup_decontaminate`'s report+cut,
    * sampling = `sample_weighted`'s hash draw, packing =
    * `pack_sequences`' windows), re-rooted at the previous stage's
    * CTE instead of the raw table. */
  val corpusPrepOracleSql: String = {
    val stop = TextAnalysis.Stopwords.map(s => s"'$s'").mkString(", ")
    val cases = Etl.MixtureWeights.toSeq.sortBy(_._1)
      .map { case (s, w) => s"WHEN '$s' THEN $w" }.mkString(" ")
    val nTok = "CAST(len(string_split(text, ' ')) AS DOUBLE)"
    s"""WITH RECURSIVE traind AS (
       |  SELECT doc_id, text, lang, source FROM documents WHERE source <> 'src0'),
       |evald AS (
       |  SELECT doc_id, text, lang, source FROM documents WHERE source = 'src0'),
       |kept AS (
       |  SELECT * FROM traind
       |  WHERE (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) / $nTok)
       |    * (1.0 - CAST(len(list_filter(string_split(text, ' '), t -> t IN ($stop))) AS DOUBLE) / $nTok)
       |    * least(1.0, $nTok / 100.0) >= $QualityMin),
       |exact AS (
       |  SELECT doc_id, text, lang, source FROM (
       |    SELECT k.*, ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rk
       |    FROM kept k) t
       |  WHERE rk = 1),
       |tri AS (
       |  SELECT doc_id, list_distinct(list_transform(generate_series(1, len(w)-2),
       |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS tg
       |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM exact)
       |  WHERE len(w) >= 3),
       |pairs AS (
       |  SELECT doc_a, doc_b FROM (
       |    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |      CAST(len(list_intersect(a.tg, b.tg)) AS DOUBLE)
       |        / CAST(len(a.tg) + len(b.tg) - len(list_intersect(a.tg, b.tg)) AS DOUBLE) AS jaccard
       |    FROM tri a, tri b
       |    WHERE a.doc_id < b.doc_id) p
       |  WHERE jaccard >= ${Dedup.JaccardTau}),
       |edges AS (
       |  SELECT doc_a AS a, doc_b AS b FROM pairs
       |  UNION SELECT doc_b AS a, doc_a AS b FROM pairs),
       |reach AS (
       |  SELECT a, b FROM edges
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
       |losers AS (
       |  SELECT a AS doc_id FROM reach GROUP BY a HAVING LEAST(a, MIN(b)) <> a),
       |neardedup AS (
       |  SELECT * FROM exact e
       |  WHERE NOT EXISTS (SELECT 1 FROM losers l WHERE l.doc_id = e.doc_id)),
       |noexacteval AS (
       |  SELECT * FROM neardedup n
       |  WHERE NOT EXISTS (SELECT 1 FROM evald v WHERE md5(v.text) = md5(n.text))),
       |u AS (
       |  SELECT * FROM noexacteval UNION ALL SELECT * FROM evald),
       |g AS (
       |  SELECT doc_id, source, unnest(list_distinct(
       |    list_transform(generate_series(1, len(w) - ${Dedup.ContamN - 1}),
       |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]))) AS ng
       |  FROM (SELECT doc_id, source, string_split(text, ' ') AS w FROM u)
       |  WHERE len(w) >= ${Dedup.ContamN}),
       |es AS (
       |  SELECT doc_id AS eval_doc_id, COUNT(*) AS n_eval_grams
       |  FROM g WHERE source = 'src0' GROUP BY 1),
       |report AS (
       |  SELECT t.doc_id AS train_doc_id,
       |    CAST(COUNT(*) AS DOUBLE) / CAST(ANY_VALUE(es.n_eval_grams) AS DOUBLE)
       |      AS eval_containment
       |  FROM g t
       |  JOIN g e ON t.ng = e.ng
       |  JOIN es ON es.eval_doc_id = e.doc_id
       |  WHERE e.source = 'src0' AND t.source <> 'src0'
       |  GROUP BY t.doc_id, e.doc_id),
       |flagged AS (
       |  SELECT DISTINCT train_doc_id FROM report
       |  WHERE eval_containment >= ${Dedup.ContamTau}),
       |clean AS (
       |  SELECT * FROM noexacteval c
       |  WHERE NOT EXISTS (SELECT 1 FROM flagged f WHERE f.train_doc_id = c.doc_id)),
       |sampled AS (
       |  SELECT * FROM clean
       |  WHERE CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT) AS DOUBLE)
       |        < (CASE source $cases ELSE ${Etl.DefaultMixtureWeight} END) * 4294967296.0),
       |t2 AS (
       |  SELECT doc_id, text, lang, source,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT) AS h
       |  FROM sampled),
       |p2 AS (
       |  SELECT doc_id, text, lang, source,
       |    CAST(h % ${TrainPrep.NShards} AS INTEGER) AS shard,
       |    CAST(ROW_NUMBER() OVER w AS INTEGER) AS seq_pos,
       |    CAST(COALESCE(SUM(n_tokens) OVER (
       |      PARTITION BY h % ${TrainPrep.NShards} ORDER BY h, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |      AS token_offset
       |  FROM t2
       |  WINDOW w AS (PARTITION BY h % ${TrainPrep.NShards} ORDER BY h, doc_id))
       |SELECT doc_id, text, lang, source, shard, seq_pos, token_offset,
       |  token_offset // ${TrainPrep.ChunkBudget} AS chunk_id
       |FROM p2""".stripMargin
  }

  /** Run [[prepare]] and report the per-stage funnel — the numbers a
    * corpus build logs for every snapshot (`nInput` counts the whole
    * input including the held-aside eval slice; the later counts are
    * train-side). Takes the SAME tunables as [[prepare]] so the
    * report always describes the corpus actually built. Counts
    * re-evaluate the shared stage plans (no persists held across the
    * call): acceptable for a report main; callers doing both should
    * persist the returned frame themselves. Like [[prepare]], this is
    * eager — the clustering driver loop runs inside the call. */
  def prepareWithSummary(docs: DataFrame,
                         evalSource: String = "src0",
                         qualityMin: Double = QualityMin,
                         weights: Map[String, Double] = Etl.MixtureWeights,
                         defaultWeight: Double = Etl.DefaultMixtureWeight,
                         contamTau: Double = Dedup.ContamTau): (DataFrame, CorpusSummary) = {
    val st = stages(docs, evalSource, qualityMin, weights, defaultWeight, contamTau)
    val summary = CorpusSummary(
      nInput = docs.count(), nQuality = st.kept.count(), nExact = st.exact.count(),
      nNearDup = st.nearDedup.count(), nDecontaminated = st.clean.count(),
      nSampled = st.sampled.count(),
      nChunks = st.packed.select(col("shard"), col("chunk_id")).distinct().count())
    (st.packed, summary)
  }
}
