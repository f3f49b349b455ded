package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Outcome bookkeeping shared by every workload: each timed operation
  * and each correctness check is one attempt; an operation that throws
  * or a check that fails is one failure. */
final class Outcomes {
  var attempted = 0
  var failed = 0
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  val counters = mutable.LinkedHashMap.empty[String, Double]

  def check(name: String, ok: Boolean, detail: => String = ""): Boolean = {
    attempted += 1
    if (!ok) failed += 1
    checks += ((name, ok, if (ok) "" else detail))
    ok
  }

  /** A timed operation: counted, and its failure recorded, not rethrown. */
  def op[T](name: String)(f: => T): Option[T] = {
    attempted += 1
    try Some(f)
    catch { case scala.util.control.NonFatal(e) =>
      failed += 1
      checks += ((s"op:$name", false, String.valueOf(e.getMessage).take(300)))
      None
    }
  }

  def count(name: String, v: Double): Unit = counters(name) = v
  def add(name: String, v: Double): Unit = counters(name) = counters.getOrElse(name, 0.0) + v
}

/** What a workload needs from the harness. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val out: Outcomes,
                val input: String, val work: String, val seconds: Double,
                val corrupt: String) {
  /** A fresh directory under the run's work area. */
  def dir(name: String): String = {
    val p = Paths.get(work, name)
    Bench.rmTree(p)
    Files.createDirectories(p)
    p.toString
  }
}

trait Workload {
  /** Untimed warm-up of the workload's own code path, run once after set-up. */
  def warmUp(spark: SparkSession, input: String, work: String): Unit
  /** One fixed sequence of operations (the workload's cycle). */
  def cycle(c: Ctx, index: Int): Unit
  /** Traced-run extras: isolated layer calls and per-layer figures. */
  def traceExtras(c: Ctx): Unit = ()
  /** Correctness checks over the last cycle's outputs (untimed). */
  def verify(c: Ctx): Unit
}

/** Workloads run one after the other, as one: warm-ups, cycles, extras and
  * checks in order. */
final class Composite(parts: Workload*) extends Workload {
  def warmUp(spark: SparkSession, input: String, work: String): Unit =
    parts.foreach(_.warmUp(spark, input, work))
  def cycle(c: Ctx, index: Int): Unit = parts.foreach(_.cycle(c, index))
  override def traceExtras(c: Ctx): Unit = parts.foreach(_.traceExtras(c))
  def verify(c: Ctx): Unit = parts.foreach(_.verify(c))
}

/** Entry point: `graftbench.Bench --workload W --input DIR --work DIR
  * --seconds S --trace 0|1 --record FILE [--corrupt NAME]`.
  *
  * Set-up is timed from the JVM's start: building the session and one
  * untimed warm-up of the workload's own path — what a user pays before
  * the first warm call. Then the workload's cycle runs
  * until `seconds` have passed (at least once); then it checks the
  * outputs and writes the raw record — spans, traced jobs, checks,
  * counters — as JSON. The summary statistics are computed from that
  * record by `perfbench/run.py`. */
object Bench {
  val Workloads: Map[String, Workload] = Map(
    "etl_daily" -> EtlDaily, "ann_lifecycle" -> AnnLifecycle,
    "corpus_graph" -> new Composite(CorpusPrep, GraphWalks))

  def rmTree(p: java.nio.file.Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(x => Files.deleteIfExists(x))
      finally s.close()
    }

  def session(): SparkSession = {
    val s = graft.GraftSession.builder(master = "local[4]").getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val wl = Workloads(a("workload"))
    val trace = a("trace") == "1"
    val work = a("work")
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session()
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    wl.warmUp(spark, a("input"), Paths.get(work, "warm").toString)
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val tracer = new Tracer(spark.sparkContext)
    if (trace) tracer.install()
    val out = new Outcomes
    val c = new Ctx(spark, tracer, out, a("input"), work, a("seconds").toDouble,
      a.getOrElse("corrupt", ""))
    var i = 0
    tracer.on = trace
    val t0 = System.nanoTime()
    while (i == 0 || (System.nanoTime() - t0) / 1e9 < c.seconds) {
      tracer.span("cycle")(wl.cycle(c, i))
      i += 1
    }
    out.count("cycles", i.toDouble)
    out.count("session_s", sessionS)
    out.count("warmup_s", setupS - sessionS)
    if (trace) wl.traceExtras(c)
    tracer.on = false
    val v0 = System.nanoTime()
    wl.verify(c)
    out.count("verify_s", (System.nanoTime() - v0) / 1e9)
    if (trace) tracer.drain()
    Files.write(Paths.get(a("record")), Json.record(setupS, tracer, out, peakRssMb())
      .getBytes("UTF-8"))
    spark.stop()
  }

  /** Process high-water resident set (VmHWM), in MB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
}

/** Minimal JSON writer for the run record. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString

  def record(setup: Double, t: Tracer, o: Outcomes, rss: Double): String = {
    import scala.jdk.CollectionConverters._
    val spans = t.spans.sortBy(_.id).map { s =>
      s"""{"id":${s.id},"name":${str(s.name)},"parent":${s.parent},"op":${s.op},""" +
        s""""traced":${s.traced},"t0_ms":${s.t0Ms},"t1_ms":${s.t1Ms},"dur_s":${num(s.durS)},""" +
        s""""cpu_s":${num(s.cpuS)},"items":${num(s.items)}}"""
    }
    val jobs = t.jobs.values().asScala.toSeq.sortBy(_.id).map { j =>
      s"""{"id":${j.id},"span":${j.span},"t0_ms":${j.t0Ms},"t1_ms":${j.t1Ms},""" +
        s""""shuffle_write":${j.shuffleWrite},"shuffle_read":${j.shuffleRead},""" +
        s""""input":${j.input},"output":${j.output}}"""
    }
    val checks = o.checks.map { case (n, ok, d) =>
      s"""{"name":${str(n)},"ok":$ok,"detail":${str(d)}}"""
    }
    val counters = o.counters.map { case (k, v) => s"${str(k)}:${num(v)}" }
    s"""{"setup_s":${num(setup)},"peak_rss_mb":${num(rss)},""" +
      s""""attempted":${o.attempted},"failed":${o.failed},""" +
      s""""counters":{${counters.mkString(",")}},""" +
      s""""checks":[${checks.mkString(",\n")}],""" +
      s""""spans":[${spans.mkString(",\n")}],""" +
      s""""jobs":[${jobs.mkString(",\n")}]}"""
  }
}
