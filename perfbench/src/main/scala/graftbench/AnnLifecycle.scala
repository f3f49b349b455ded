package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{IndexManifest, Pq}

/** `ann_lifecycle`: an IVF-PQ index under maintenance. A cycle builds
  * and stages the index over the base vectors, then interleaves append
  * batches and erasures on the live manifest version, with a query batch
  * after the build and after every mutation. At the end of a cycle the
  * live codes must hold exactly the ids not erased; the queries are
  * checked in `verify`: erased ids never come back, each appended twin
  * of an anchor query vector is that query's rank-1 hit, and recall@10
  * of the other queries against exact cosine top-10 stays above
  * `RecallFloor`. */
object AnnLifecycle extends Workload {
  val K = 10
  /** Lowest acceptable mean recall@10 of one query batch's ordinary
    * (non-anchor) queries. */
  val RecallFloor = 0.85

  private def read(spark: SparkSession, input: String, name: String): DataFrame =
    spark.read.parquet(s"$input/$name.parquet")

  def warmUp(spark: SparkSession, input: String, work: String): Unit = {
    val queries = Meta.read(s"$input/meta.json").longs("queries")
    val base = read(spark, input, "base")
      .filter(col("vec_id") < 500 || col("vec_id").isin(queries: _*))
    val idx = Pq.buildIvfPq(base)
    Pq.stageIvfPqIndexVersion(idx, work)
    Pq.appendIvfPqIndexAtomic(spark, work, read(spark, input, "append_0").limit(100))
    Pq.deleteFromIvfPqIndexAtomic(spark, work, Seq(0L))
    Pq.queryIvfPq(Pq.readIvfPqIndex(spark, IndexManifest.currentOrFail(spark, work)),
      base, queries).collect()
    ()
  }

  /** All generated vectors, loaded once on the driver for exact top-k. */
  private var vecs: Map[Long, Array[Double]] = Map.empty
  private def loadVecs(spark: SparkSession, input: String, batches: Int): Unit =
    if (vecs.isEmpty) {
      val frames = "base" +: (0 until batches).map(b => s"append_$b")
      vecs = frames.flatMap { f =>
        read(spark, input, f).collect().map { r =>
          r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray
        }
      }.toMap
    }

  private def cosine(a: Array[Double], b: Array[Double]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    d / math.sqrt(na * nb)
  }

  /** One query batch's answer and the live id set it ran against. */
  private case class Answer(live: Set[Long], erased: Set[Long], twins: Seq[(Long, Long)],
                            hits: Map[Long, Seq[Long]])
  private val answers = mutable.ArrayBuffer.empty[Answer]
  private var lastRoot = ""
  /** The last cycle's query batch, for the tracing-overhead probe. */
  private var lastQuery: () => Unit = () => ()

  def cycle(c: Ctx, index: Int): Unit = {
    val spark = c.spark
    val m = Meta.read(s"${c.input}/meta.json")
    val nBatches = m.long("append_batches").toInt
    loadVecs(spark, c.input, nBatches)
    if (lastRoot.nonEmpty) Bench.rmTree(Paths.get(lastRoot))
    val root = c.dir(s"index$index")
    lastRoot = root
    val queries = m.longs("queries")
    val deletes = m.longss("deletes")
    val twins = m.longss("twins").map(p => (p(0), p(1)))
    var live = (0L until m.long("base")).toSet
    var erased = Set.empty[Long]
    var appended = 0
    val base = read(spark, c.input, "base")
    def corpus: DataFrame = (0 until appended).foldLeft(base) { (df, b) =>
      df.unionByName(read(spark, c.input, s"append_$b"))
    }
    def search(): Array[org.apache.spark.sql.Row] = {
      val idx = Pq.readIvfPqIndex(spark, IndexManifest.currentOrFail(spark, root))
      Pq.queryIvfPq(idx, corpus, queries, k = K).collect()
    }
    lastQuery = () => { search(); () }
    def query(): Unit = c.out.op("ann.query") {
      val rows = c.tracer.span("ann.query")(search())
      val hits = rows.groupBy(_.getLong(0)).map { case (q, rs) =>
        q -> rs.sortBy(_.getInt(2)).map(_.getLong(1)).toSeq
      }
      answers += Answer(live, erased, twins.take(appended), hits)
    }
    c.out.op("ann.build") {
      c.tracer.span("ann.build") {
        Pq.stageIvfPqIndexVersion(Pq.buildIvfPq(base), root)
        c.tracer.items(live.size.toDouble)
      }
    }
    query()
    // A D A D A …: appends and erasures alternate, a query after each
    val steps: Seq[Either[Int, Seq[Long]]] = (0 until math.max(nBatches, deletes.size))
      .flatMap(i => (if (i < nBatches) Seq(Left(i)) else Nil) ++ deletes.lift(i).map(Right(_)))
    steps.foreach {
      case Left(b) =>
        val batch = read(spark, c.input, s"append_$b")
        c.out.op("ann.append") {
          val ids = (m.long("base") + b * m.long("append_batch")) until
            (m.long("base") + (b + 1) * m.long("append_batch"))
          c.tracer.span("ann.append") {
            Pq.appendIvfPqIndexAtomic(spark, root, batch)
            c.tracer.items(ids.size.toDouble)
          }
          appended += 1
          live ++= ids
          // appended code rows: vec_id + cell + M codes, 8 bytes each
          c.out.add("ann.append.code_mb", ids.size * (2 + Pq.M) * 8 / 1e6)
        }
        query()
      case Right(ids) =>
        c.out.op("ann.delete") {
          val skip = c.corrupt == "erasure" && erased.isEmpty
          c.tracer.span("ann.delete") {
            if (!skip) Pq.deleteFromIvfPqIndexAtomic(spark, root, ids)
          }
          live --= ids
          erased ++= ids
        }
        query()
    }
    val version = IndexManifest.currentOrFail(spark, root)
    c.out.count("ann.index.files", liveFiles(version))
    // the live codes hold exactly the base and appended ids not erased
    val codes = Pq.readIvfPqIndex(spark, version).codes.select(col("vec_id"), col("cell"))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val indexed = codes.map(_._1)
    c.out.check("ann.index.live_ids", indexed.length == live.size && indexed.toSet == live,
      s"${indexed.toSet.diff(live).size} unexpected, ${live.diff(indexed.toSet).size} missing, " +
        s"${indexed.length - indexed.toSet.size} duplicated")
    // cells an append batch touched (each is rewritten whole), of all cells
    val base0 = m.long("base")
    val touched = codes.filter(_._1 >= base0)
      .groupBy { case (id, _) => (id - base0) / m.long("append_batch") }
      .values.map(_.map(_._2).toSet.size.toDouble)
    c.out.count("ann.cells", codes.map(_._2).toSet.size.toDouble)
    c.out.count("ann.cells_touched_per_append", Stats.median(touched.toSeq))
  }

  /** Files a reader of a version resolves: the version directory's own
    * data files plus the entries of its `_REFS` manifest. */
  private def liveFiles(version: String): Double = {
    val dir = Paths.get(new java.net.URI(version).getPath)
    val walk = Files.walk(dir)
    val own =
      try walk.filter(p => Files.isRegularFile(p) &&
        !Seq("_", ".").exists(p.getFileName.toString.startsWith)).count()
      finally walk.close()
    val refs = dir.resolve("_REFS")
    val linked = if (Files.exists(refs))
      Files.readAllLines(refs).stream().filter(l => !l.isEmpty).count() else 0L
    (own + linked).toDouble
  }

  override def traceExtras(c: Ctx): Unit = c.tracer.overhead("ann.query")(lastQuery())

  def verify(c: Ctx): Unit = {
    val anchors = Meta.read(s"${c.input}/meta.json").longss("twins").map(_.head).toSet
    val recalls = answers.map { a =>
      val liveVecs = a.live.toSeq.map(id => id -> vecs(id))
      val perQuery = a.hits.filter { case (q, _) => !anchors(q) }.map { case (q, got) =>
        val qv = vecs(q)
        val exact = liveVecs.filter(_._1 != q).map { case (id, v) => (-cosine(qv, v), id) }
          .sorted.take(K).map(_._2).toSet
        got.count(exact.contains).toDouble / K
      }
      val returned = a.hits.values.flatten.toSet
      c.out.check("ann.erased_never_returned", returned.intersect(a.erased).isEmpty,
        s"${returned.intersect(a.erased).size} erased ids returned")
      a.twins.foreach { case (q, twin) =>
        c.out.check("ann.appended_twin_rank1", a.hits.get(q).flatMap(_.headOption).contains(twin),
          s"query $q top hit ${a.hits.get(q).flatMap(_.headOption)}, want $twin")
      }
      val r = if (perQuery.isEmpty) 0.0 else perQuery.sum / perQuery.size
      c.out.check("ann.recall_floor", r >= RecallFloor, f"recall@10 $r%.3f < $RecallFloor")
      r
    }
    c.out.count("ann.recall_at_10", recalls.sum / math.max(1, recalls.size))
    c.out.count("ann.recall_min", if (recalls.isEmpty) 0.0 else recalls.min)
  }
}
