package graftbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.Pipeline

/** `etl_daily`: the per-`ds` weather-ETL DAG. A cycle is a backfill sweep
  * (`Pipeline.runBackfill` over every day of the source, each `runDs`
  * timed) into a fresh lake, then late events for some earlier days land
  * in the source (untimed) and those days are re-run, so the keep-latest
  * L2 merge meets existing rows. The planted all-NaN day must come back
  * `rejected`. */
object EtlDaily extends Workload {
  private def meta(input: String) = Meta.read(s"$input/meta.json")

  /** Warm-up: the first `WarmDays` days through `runDs`, into a lake of
    * its own. */
  val WarmDays = 1

  def warmUp(spark: SparkSession, input: String, work: String): Unit = {
    val m = meta(input)
    m.strs("days").take(WarmDays).foreach(ds => Pipeline.runDs(spark, s"$input/src", work, ds))
    Pipeline.readRunLedger(spark, work).collect()
    ()
  }

  private def lateTarget(input: String) =
    Paths.get(input, "src", "events.parquet", "part-late.parquet")
  private def lateHolding(input: String) = Paths.get(input, "late", "part-late.parquet")

  /** Move the late-event file into (or back out of) the source. */
  private def landLate(input: String, in: Boolean): Unit = {
    val (from, to) =
      if (in) (lateHolding(input), lateTarget(input)) else (lateTarget(input), lateHolding(input))
    if (Files.exists(from)) Files.move(from, to, StandardCopyOption.ATOMIC_MOVE)
  }

  private var lastLake = ""

  def cycle(c: Ctx, index: Int): Unit = {
    val m = meta(c.input)
    val src = s"${c.input}/src"
    landLate(c.input, in = false)
    val lake = c.dir(s"lake$index")
    if (lastLake.nonEmpty && lastLake != lake) Bench.rmTree(Paths.get(lastLake))
    lastLake = lake
    val timedRun: (SparkSession, String, String, String) => Pipeline.DsRunSummary =
      (s, a, b, ds) => c.tracer.span("etl.runDs") {
        val r = Pipeline.runDs(s, a, b, ds)
        c.tracer.items(r.nNormalized.toDouble)
        r
      }
    val sweep = c.out.op("etl.sweep") {
      c.tracer.span("etl.sweep")(Pipeline.runBackfill(c.spark, src, lake, runOne = timedRun))
    }.getOrElse(Nil)
    val nan = m.str("nan_day")
    sweep.foreach { b =>
      val want = if (b.ds == nan) "rejected" else "ok"
      c.out.check(s"etl.sweep.status.${b.ds}", b.status == want, s"${b.status}: ${b.detail}")
    }
    c.out.check("etl.sweep.days", sweep.map(_.ds) == m.strs("days"),
      s"swept ${sweep.map(_.ds).mkString(",")}")
    landLate(c.input, in = true)
    c.tracer.span("etl.rerun") {
      m.strs("late_days").foreach { ds =>
        c.out.op(s"etl.rerun.$ds")(timedRun(c.spark, src, lake, ds))
      }
    }
  }

  /** The tracing-overhead probe: a late day re-run on the last lake, where
    * every call finds the same source and the same L2 rows. */
  override def traceExtras(c: Ctx): Unit = {
    val ds = meta(c.input).strs("late_days").head
    c.tracer.overhead("etl.runDs") {
      Pipeline.runDs(c.spark, s"${c.input}/src", lastLake, ds)
      ()
    }
  }

  /** Order-independent digest of the L2 zone. */
  private def l2Digest(spark: SparkSession, lake: String): String = {
    val rows = spark.read.parquet(s"$lake/l2")
      .select(col("event_id"), unix_micros(col("ts")), col("user_id"), col("event_type"),
        col("value"), col("event_date").cast("string"))
      .collect().map(_.mkString("|")).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  /** Deliberate corruption (`run.py --corrupt l2_row`): remove the
    * lowest-id row from the L2 zone, to show the checks catch it. */
  private def dropOneL2Row(spark: SparkSession, lake: String): Unit = {
    val l2 = spark.read.parquet(s"$lake/l2")
    val victim = l2.agg(min(col("event_id"))).collect()(0).getLong(0)
    val tmp = s"$lake/_corrupt_l2"
    l2.filter(col("event_id") =!= victim).write.partitionBy("event_date").parquet(tmp)
    Bench.rmTree(Paths.get(lake, "l2"))
    Files.move(Paths.get(tmp), Paths.get(lake, "l2"))
    ()
  }

  def verify(c: Ctx): Unit = {
    val spark = c.spark
    val m = meta(c.input)
    val lake = lastLake
    if (c.corrupt == "l2_row") dropOneL2Row(spark, lake)
    // keep-latest per (user_id, event_type) per day, computed on the
    // driver from the raw source (late events included)
    val nan = m.str("nan_day")
    val src = spark.read.parquet(s"${c.input}/src/events.parquet")
      .select(col("event_id"), unix_micros(col("ts")).as("t"), col("user_id"),
        col("event_type"), to_date(col("ts")).cast("string").as("d"))
      .collect()
      .map(r => (r.getString(4), r.getLong(2), r.getString(3), r.getLong(1), r.getLong(0)))
      .filter(_._1 != nan)
    val expect = src.groupBy(r => (r._1, r._2, r._3)).map { case (k, rs) =>
      k -> rs.maxBy(r => (r._4, r._5))._5
    }
    val got = spark.read.parquet(s"$lake/l2")
      .select(col("event_date").cast("string"), col("user_id"), col("event_type"),
        col("event_id"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)) -> r.getLong(3))
    val gotMap = got.toMap
    c.out.check("etl.l2.one_row_per_key", got.length == gotMap.size,
      s"${got.length} rows for ${gotMap.size} keys")
    val missing = expect.keySet.diff(gotMap.keySet).size
    val extra = gotMap.keySet.diff(expect.keySet).size
    val wrong = expect.count { case (k, id) => gotMap.get(k).exists(_ != id) }
    c.out.check("etl.l2.keep_latest", missing == 0 && extra == 0 && wrong == 0,
      s"missing=$missing extra=$extra wrong_row=$wrong of ${expect.size}")
    // the ledger: planted day rejected at the gate, every other day merged
    val ledger = Pipeline.readRunLedger(spark, lake).collect()
    val merged = ledger.filter(r => r.getAs[String]("stage") == "l2_merge" &&
      r.getAs[String]("status") == "ok").map(_.getAs[String]("ds")).toSet
    val rejected = ledger.filter(r => r.getAs[String]("stage") == "normalize_dq_gate" &&
      r.getAs[String]("status") == "rejected").map(_.getAs[String]("ds")).toSet
    c.out.check("etl.ledger", rejected == Set(nan) && merged == m.strs("days").toSet - nan,
      s"rejected=${rejected.mkString(",")} merged=${merged.size}")
    // stage medians per ds, from the ledger the pipeline already writes
    Seq("normalize_dq_gate", "staging_write", "l2_merge").foreach { st =>
      val ms = ledger.filter(r => r.getAs[String]("stage") == st &&
        r.getAs[String]("status") != "rejected").map(_.getAs[Long]("elapsed_ms").toDouble)
      if (ms.nonEmpty) c.out.count(s"etl.stage.${st}_ms", Stats.median(ms.toSeq))
    }
    // idempotence: a rerun with no new events leaves L2 unchanged
    val before = l2Digest(spark, lake)
    c.out.op("etl.rerun.idempotent")(Pipeline.runDs(spark, s"${c.input}/src", lake,
      m.strs("late_days").head))
    c.out.check("etl.rerun.idempotent", l2Digest(spark, lake) == before, "L2 digest changed")
    landLate(c.input, in = false)
  }
}
