package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType, LongType, StringType,
  StructField, StructType}
import graft.operators.{AnnIndex, AnnSearch, Opq, Pq, Quantize, Similarity}
import graft.operators.AnnSearch.{Cut, Radius, TopK}

/** One contract for every ANN tier's search body (float IVF, PQ, OPQ,
  * SQ8, IVF-SQ8): the same (cut, sameLabel) pair means the same thing
  * on each. The fixture is the spec corpus with null labels planted on
  * one query and on half the rows sharing another query's label. */
class AnnSearchSpec extends SparkSpecBase {

  private val qids = 0L until Similarity.NQueries.toLong
  private val radius = Radius(Similarity.RadiusTau)
  private val nullQuery = 1L

  private lazy val fixture: DataFrame = {
    val v = graft.sources.Tables.embeddings(spark, sfDir)
    val q0Label = v.filter(col("vec_id") === 0L).select(col("label")).head().getInt(0)
    v.withColumn("label",
      when(col("vec_id") === nullQuery ||
        (col("label") === q0Label && col("vec_id") % 2 === 0 && col("vec_id") > 0L),
        lit(null).cast("int"))
        .otherwise(col("label")))
  }

  /** vec_id → label (None = null) over the fixture. */
  private lazy val labelOf: Map[Long, Option[Int]] = fixture
    .select(col("vec_id"), col("label")).collect()
    .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getInt(1)))).toMap

  /** A tier's staged search as (cut, sameLabel, nprobe) => answers,
    * plus the same search over empty input. */
  private case class Tier(search: (Cut, Boolean, Int) => DataFrame,
                          onEmpty: (Cut, Boolean) => DataFrame)

  private val tierNames = Seq("float IVF", "PQ", "OPQ", "SQ8", "IVF-SQ8")

  private def tmp(prefix: String) = java.nio.file.Files.createTempDirectory(prefix).toString

  // the compressed tiers' staged indexes over the fixture
  private lazy val pq: Pq.IvfPqIndex = {
    val dir = tmp("ann_pq")
    AnnIndex.write(Pq.buildIvfPq(fixture, metaCols = Seq("label")), dir)
    Pq.readIvfPqIndex(spark, dir)
  }
  private lazy val opq: Opq.IvfOpqIndex = {
    val dir = tmp("ann_opq")
    AnnIndex.write(Opq.buildIvfOpq(fixture, metaCols = Seq("label")), dir)
    Opq.IvfOpqIndex(AnnIndex.read(spark, dir, AnnIndex.IvfOpq))
  }
  private lazy val sq8Dir: String = {
    val dir = tmp("ann_sq8")
    AnnIndex.write(Quantize.buildSq8(fixture, metaCols = Seq("label")), dir)
    dir
  }

  /** The compressed tiers' staged searches for `qids` over the float
    * corpus `v`. */
  private def compressed(v: DataFrame): Map[String, Cut => DataFrame] = Map(
    "PQ" -> (c => Pq.queryIvfPqIndex(pq, v, qids, c)),
    "OPQ" -> (c => Opq.queryIvfOpq(opq, v, qids, c)),
    "SQ8" -> (c => Quantize.querySq8Index(spark, sq8Dir, v, qids, c)))

  private lazy val tiers: Map[String, Tier] = {
    val v = fixture
    val floatDir = tmp("ann_float")
    AnnIndex.write(Similarity.buildIvf(v), floatDir)
    val ivfSq8Dir = tmp("ann_ivfsq8")
    AnnIndex.write(Quantize.buildIvfSq8(v, metaCols = Seq("label")), ivfSq8Dir)
    Map(
      // the staged float index serves the fixed query set (vec_id <
      // NQueries); its empty input is an empty corpus
      "float IVF" -> Tier(
        (c, l, np) => Similarity.queryIvfIndex(spark, floatDir, c, l, np),
        (c, l) => Similarity.knnIvfOn(v.limit(0), c, l)),
      "PQ" -> Tier(
        (c, l, np) => Pq.queryIvfPqIndex(pq, v, qids, c, l, np),
        (c, l) => Pq.queryIvfPqIndex(pq, v, Nil, c, l)),
      "OPQ" -> Tier(
        (c, l, np) => Opq.queryIvfOpq(opq, v, qids, c, l, np),
        (c, l) => Opq.queryIvfOpq(opq, v, Nil, c, l)),
      // the flat tier scans every code: no probe width to set
      "SQ8" -> Tier(
        (c, l, _) => Quantize.querySq8Index(spark, sq8Dir, v, qids, c, l),
        (c, l) => Quantize.querySq8Index(spark, sq8Dir, v, Nil, c, l)),
      "IVF-SQ8" -> Tier(
        (c, l, np) => Quantize.queryIvfSq8Index(spark, ivfSq8Dir, v, qids, c, l, np),
        (c, l) => Quantize.queryIvfSq8Index(spark, ivfSq8Dir, v, Nil, c, l)))
  }

  private def expectedSchema(cut: Cut, sameLabel: Boolean): Seq[(String, DataType)] =
    Seq("query_id" -> LongType, "neighbor_id" -> LongType) ++
      (if (sameLabel) Seq("label" -> IntegerType) else Nil) ++
      (cut match { case TopK(_) => Seq("rank" -> IntegerType); case _ => Nil }) :+
      ("cosine" -> DoubleType)

  private def schemaOf(df: DataFrame): Seq[(String, DataType)] =
    df.schema.fields.toSeq.map(f => f.name -> f.dataType)

  tierNames.foreach { name =>
    test(s"$name: null labels match nothing — a null-labelled query gets no " +
        "neighbors and a null-labelled row is no query's neighbor") {
      val tier = tiers(name)
      Seq(TopK(Similarity.K), radius).foreach { cut =>
        val res = tier.search(cut, true, 0).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
        assert(res.exists(_._1 == 0L),
          s"$name $cut: the query whose label survives lost its answers")
        assert(!res.exists(_._1 == nullQuery),
          s"$name $cut: the null-labelled query got neighbors")
        res.foreach { case (q, n, lab) =>
          assert(labelOf(n).nonEmpty, s"$name $cut: null-labelled row $n answered query $q")
          assert(labelOf(q).contains(lab) && labelOf(n).contains(lab),
            s"$name $cut: neighbor $n of query $q crossed the label filter")
        }
      }
    }
  }

  test("every tier: same-label radius equals radius filtered to the query's " +
      "label at equal nprobe, the default width only adds pairs, and every " +
      "(cut, sameLabel) pair keeps its schema on empty input") {
    val w = Similarity.IvfNProbe
    tierNames.foreach { name =>
      val tier = tiers(name)
      // at the SAME nprobe the label predicate's placement (inside the
      // scan vs after it) changes cost, never the admitted set — radius
      // has no slots to under-fill
      val scanTime = tier.search(radius, true, w).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3))).toSet
      // post-hoc filter with SQL semantics: a null label equals nothing
      val postHoc = tier.search(radius, false, w).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .filter { case (q, n, _) => labelOf(q).nonEmpty && labelOf(q) == labelOf(n) }
        .toSet
      assert(scanTime.nonEmpty, s"$name: the same-label radius answered nothing")
      assert(scanTime == postHoc,
        s"$name: scan-time label predicate diverged from radius ∩ same label")
      // the served default (widened on the probed tiers) is well-formed
      // and a superset of the narrow answer: probes only add cells
      val served = tier.search(radius, true, 0).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      served.foreach { case (q, n, lab, cos) =>
        assert(labelOf(q).contains(lab) && labelOf(n).contains(lab),
          s"$name: neighbor $n of query $q crossed the label filter")
        assert(cos >= Similarity.RadiusTau, s"$name: ($q, $n) below tau")
      }
      assert(scanTime.map(t => (t._1, t._2)).subsetOf(served.map(t => (t._1, t._2)).toSet),
        s"$name: widening the probe cut lost an admitted pair")
      for (cut <- Seq(TopK(Similarity.K), radius); sameLabel <- Seq(false, true)) {
        val want = expectedSchema(cut, sameLabel)
        val empty = tier.onEmpty(cut, sameLabel)
        assert(schemaOf(empty) == want, s"$name $cut sameLabel=$sameLabel: empty schema")
        assert(empty.count() == 0L, s"$name $cut sameLabel=$sameLabel: empty input answered")
        assert(schemaOf(tier.search(cut, sameLabel, 0)) == want,
          s"$name $cut sameLabel=$sameLabel: answer schema")
      }
    }
  }

  Seq("PQ", "OPQ", "SQ8").foreach { name =>
    test(s"$name: a query row with a null or zero-norm embedding fails on the " +
        "driver before any scan, naming the query") {
      val bad = 2L
      Seq(
        "null" -> lit(null).cast("array<float>"),
        "zero-norm" -> transform(col("embedding"), x => x * lit(0.0f))
      ).foreach { case (what, emb) =>
        val v = fixture.withColumn("embedding",
          when(col("vec_id") === bad, emb).otherwise(col("embedding")))
        Seq(TopK(Similarity.K), radius).foreach { cut =>
          // a driver-side IllegalArgumentException, not a task failure
          val e = intercept[IllegalArgumentException](compressed(v)(name)(cut).collect())
          assert(e.getMessage.contains(s"query $bad has"),
            s"$name $cut, $what query: undiagnosed: ${e.getMessage}")
        }
      }
    }
  }

  test("the driver k-cut equals AnnSearch.finish over the same scored rows: " +
      "cosine ties, fewer than k candidates, no candidates, label types") {
    val k = 3
    // query 1: one clear best, then a three-way tie at 0.5 across the
    // cut; query 2: fewer than k candidates; query 3: 0.0 and −0.0 tie
    // (Spark orders them equal, so vec_id decides)
    val scored = Seq((1L, 9L, 0.5), (1L, 4L, 0.5), (1L, 7L, 0.9), (1L, 2L, 0.5),
      (1L, 5L, 0.1), (2L, 8L, -0.25), (2L, 6L, 0.0), (3L, 0L, -0.0), (3L, 1L, 0.0),
      (3L, 5L, -0.0), (3L, 6L, -0.1))
    val labels: Seq[(Option[DataType], Long => Any)] = Seq(
      (None, _ => null),
      (Some(IntegerType), v => (v % 2).toInt),
      (Some(LongType), v => v % 3),
      (Some(StringType), v => s"l${v % 2}"))
    labels.foreach { case (labelType, labelOf) =>
      val sameLabel = labelType.nonEmpty
      val rows = scored.map { case (q, v, c) =>
        Row.fromSeq(Seq(q, v) ++ labelType.map(_ => labelOf(v)) :+ c) }
      val frame = spark.createDataFrame(java.util.Arrays.asList(rows: _*), StructType(
        Seq(StructField("query_id", LongType), StructField("vec_id", LongType)) ++
          labelType.map(StructField("label", _)) :+ StructField("cosine", DoubleType)))
      val rankAt = if (sameLabel) 3 else 2
      val want = AnnSearch.finish(frame, TopK(k), sameLabel).collect()
        .sortBy(r => (r.getLong(0), r.getInt(rankAt))).map(_.toSeq).toSeq
      val got = AnnSearch.cutOnDriver(rows.toArray, k).map(_.toSeq).toSeq
      assert(got == want, s"label $labelType: driver cut $got, finish $want")
      assert(got.count(_.head == 1L) == k && got.count(_.head == 2L) == 2,
        s"label $labelType: cut sizes")
    }
    // no candidates: the tail answers the schema-stable empty result
    import spark.implicits._
    Seq(false, true).foreach { sameLabel =>
      val vn = AnnSearch.floatCorpus(fixture, sameLabel)
      val none = AnnSearch.topK(spark.emptyDataset[(Long, Long, Double)], vn,
        AnnSearch.queryRows(vn, col("vec_id") === 0L, sameLabel), k, sameLabel)
      assert(schemaOf(none) == schemaOf(AnnSearch.empty(fixture, TopK(k), sameLabel)),
        s"sameLabel=$sameLabel: no-candidate schema")
      assert(none.count() == 0L, s"sameLabel=$sameLabel: no candidates answered")
    }
  }

  test("per-partition heaps merged by the tree reduction equal the global " +
      "top-Rerank of each query") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // keys on a coarse grid, so (key, vec_id) ties are frequent
    val rows = (0 until 3000).map(i => (rnd.nextInt(4).toLong, i.toLong, rnd.nextInt(50) / 10.0))
    val cap = Pq.Rerank
    val heaps = rows.toDS().repartition(9)
      .mapPartitions(it => AnnSearch.lowestPerQuery(it, cap))
    val merged = AnnSearch.mergeHeaps(heaps, cap)
    val global = rows.groupBy(_._1).map { case (q, rs) =>
      q -> rs.map(t => (t._2, t._3)).sortWith((a, b) =>
        if (a._2 != b._2) a._2 < b._2 else a._1 < b._1).take(cap)
    }
    assert(merged.keySet == global.keySet, "queries lost or invented")
    global.foreach { case (q, best) =>
      assert(merged(q).toSeq == best, s"query $q: merged heaps differ from the global top-$cap")
    }
  }
}
