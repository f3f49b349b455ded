package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a layer. Times are epoch milliseconds (the clock
  * Spark stamps job events with) plus a nanoTime duration for the
  * latency samples and the process CPU time (all threads) spent while
  * the span was open. `op` is the id of the outermost span, shared by
  * every span of one operation; `items` is the work the call completed
  * (rows landed, vectors indexed, docs prepared), when it counts any. */
final case class Span(id: Int, name: String, parent: Int, op: Int,
                      traced: Boolean, t0Ms: Long, var t1Ms: Long = 0L,
                      var durS: Double = 0.0, var cpuS: Double = 0.0,
                      var items: Double = 0.0)

/** Per-job counters, attributed to the span whose id was the driver
  * thread's local property when the job started. */
final class JobRec(val id: Int, val span: Int, val t0Ms: Long) {
  @volatile var t1Ms: Long = 0L
  @volatile var shuffleWrite: Long = 0L
  @volatile var shuffleRead: Long = 0L
  @volatile var input: Long = 0L
  @volatile var output: Long = 0L
}

/** Spans around the benchmark's calls into graft, kept in memory and
  * written out at the end of the run. With `on` set, a SparkListener
  * attributes every job (and its tasks' I/O) to the innermost traced
  * span through the `SpanProperty` local property; untraced spans clear
  * the property, so their jobs go unattributed and the listener drops
  * them. */
final class Tracer(sc: SparkContext) {
  private val nextId = new AtomicInteger(0)
  private val stack = mutable.Stack.empty[Span]
  val spans = mutable.ArrayBuffer.empty[Span]
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, JobRec]()
  private val jobsEnded = new AtomicInteger(0)
  @volatile var on: Boolean = false

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val sp = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProperty)))
      sp.foreach { s =>
        val j = new JobRec(e.jobId, s.toInt, e.time)
        jobs.put(e.jobId, j)
        e.stageIds.foreach(st => stageJob.putIfAbsent(st, j))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach { j => j.t1Ms = e.time; jobsEnded.incrementAndGet() }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      for (j <- Option(stageJob.get(e.stageId)); m <- Option(e.taskMetrics)) j.synchronized {
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.input += m.inputMetrics.bytesRead
        j.output += m.outputMetrics.bytesWritten
      }
  }

  def install(): Unit = sc.addSparkListener(listener)

  /** A timed call: traced whenever tracing is on. */
  def span[T](name: String)(f: => T): T = run(name, on)(f)

  /** The tracing-overhead probe: `f`, a call that does the same work each
    * time it runs, runs four times as spans `overhead.<name>` — traced,
    * untraced, untraced, traced — so a warm-up trend cancels out. */
  def overhead(name: String)(f: => Unit): Unit =
    Seq(true, false, false, true).foreach(t => run(s"overhead.$name", on && t)(f))

  private def run[T](name: String, traced: Boolean)(f: => T): T = {
    val parent = stack.headOption
    val id = nextId.incrementAndGet()
    val s = Span(id, name, parent.fold(0)(_.id), parent.fold(id)(_.op), traced,
      System.currentTimeMillis())
    stack.push(s)
    property(s)
    val c0 = Tracer.processCpuNanos()
    val n0 = System.nanoTime()
    try f
    finally {
      s.durS = (System.nanoTime() - n0) / 1e9
      s.cpuS = (Tracer.processCpuNanos() - c0) / 1e9
      s.t1Ms = System.currentTimeMillis()
      stack.pop()
      property(stack.headOption.orNull)
      spans += s
    }
  }

  /** Credit `n` items of completed work to the innermost open span. */
  def items(n: Double): Unit = stack.headOption.foreach(s => s.items += n)

  private def property(s: Span): Unit =
    sc.setLocalProperty(Tracer.SpanProperty,
      if (s != null && s.traced) s.id.toString else null)

  /** Wait until every traced job has delivered its end event (the
    * listener bus is asynchronous), then a little longer for task-end
    * events still queued behind it. */
  def drain(): Unit = {
    val deadline = System.currentTimeMillis() + 10000L
    while (jobsEnded.get() < jobs.size && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
    Thread.sleep(300)
  }
}

object Tracer {
  val SpanProperty = "graftbench.span"

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** CPU time of the whole process, all threads, in nanoseconds. */
  def processCpuNanos(): Long = os.getProcessCpuTime
}
