package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.{ListenerBusDrain, SparkContext}
import org.apache.spark.scheduler._
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Spark work charged to one span. */
final class Counters {
  var jobs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var recordsRead = 0L
  var shuffleWriteBytes = 0L
  var bytesWritten = 0L
  /** (start, end) of each job, epoch millis. */
  val jobIntervals = ArrayBuffer.empty[(Long, Long)]

  def add(o: Counters): Unit = {
    jobs += o.jobs; tasks += o.tasks; cpuNs += o.cpuNs; gcMs += o.gcMs
    recordsRead += o.recordsRead; shuffleWriteBytes += o.shuffleWriteBytes; bytesWritten += o.bytesWritten
    jobIntervals ++= o.jobIntervals
  }
}

final class Span(val id: Int, val name: String, val parent: Int, val startMs: Long) {
  @volatile var endMs: Long = -1L
  val own = new Counters
  def durationS: Double = (endMs - startMs) / 1000.0
}

/** Benchmark-side tracer. [[span]] records name, start, end and parent
  * around a call into the program and tags the calling thread (Spark
  * local properties are inherited by threads the call spawns); the
  * listener charges each job, and every task of its stages, to the
  * span that submitted it. Spans stay in memory until [[write]].
  */
final class Tracer(sc: SparkContext) {
  private val Key = "perfbench.span"
  private val spans = new ConcurrentHashMap[Int, Span]()
  private val ids = new AtomicInteger(0)
  private val stageSpan = new ConcurrentHashMap[Int, Span]()
  private val jobStart = new ConcurrentHashMap[Int, (Span, Long)]()
  @volatile private var on = false

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(Key))).flatMap(id => Option(spans.get(id.toInt))).foreach {
        s =>
          jobStart.put(e.jobId, (s, e.time))
          e.stageIds.foreach(stageSpan.put(_, s))
          s.own.synchronized(s.own.jobs += 1)
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach { case (s, t0) => s.own.synchronized(s.own.jobIntervals += (t0 -> e.time)) }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { s =>
        val c = s.own
        val m = e.taskMetrics
        c.synchronized {
          c.tasks += 1
          if (m != null) {
            c.cpuNs += m.executorCpuTime
            c.gcMs += m.jvmGCTime
            c.recordsRead += m.inputMetrics.recordsRead
            c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
            c.bytesWritten += m.outputMetrics.bytesWritten
          }
        }
      }
  }

  def enabled: Boolean = on
  def start(): Unit = if (!on) { sc.addSparkListener(listener); on = true }
  def stop(): Unit = if (on) { drain(); sc.removeSparkListener(listener); on = false }
  def drain(): Unit = if (on) ListenerBusDrain.drain(sc)

  private def current: Int = Option(sc.getLocalProperty(Key)).map(_.toInt).getOrElse(0)

  /** Run `body` inside a span named `name`, a child of the calling
    * thread's open span. A no-op wrapper while tracing is off.
    */
  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val prev = sc.getLocalProperty(Key)
      val s = new Span(ids.incrementAndGet(), name, current, System.currentTimeMillis())
      spans.put(s.id, s)
      sc.setLocalProperty(Key, s.id.toString)
      try body
      finally {
        s.endMs = System.currentTimeMillis()
        sc.setLocalProperty(Key, prev)
      }
    }

  /** Open a span without closing it or tagging any thread: for phases
    * that begin inside callbacks the program makes on its own threads
    * (the migrate load and validate phases; see [[tag]]).
    */
  def open(name: String, parent: Int): Span = {
    val s = new Span(ids.incrementAndGet(), name, parent, System.currentTimeMillis())
    if (on) spans.put(s.id, s)
    s
  }

  /** Charge the calling thread's next jobs to `s`. */
  def tag(s: Span): Unit = if (on) sc.setLocalProperty(Key, s.id.toString)

  /** Charge the calling thread's next jobs to no open span. */
  def untag(): Unit = sc.setLocalProperty(Key, null)

  def openId: Int = current

  def all: Seq[Span] = spans.values.asScala.toSeq.sortBy(_.id)
  def named(name: String): Seq[Span] = all.filter(_.name == name)

  /** Counters of `s` and every span below it. */
  def total(s: Span): Counters = {
    val kids = all.groupBy(_.parent)
    val acc = new Counters
    def go(x: Span): Unit = { x.own.synchronized(acc.add(x.own)); kids.getOrElse(x.id, Nil).foreach(go) }
    go(s)
    acc
  }

  /** Write every span as one JSON line. */
  def write(path: String): Unit = {
    val out = new java.io.PrintWriter(path, "UTF-8")
    try all.foreach { s =>
      val c = s.own
      out.println(
        Json.obj(
          "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
          "jobs" -> c.jobs, "tasks" -> c.tasks, "cpu_ns" -> c.cpuNs, "gc_ms" -> c.gcMs,
          "records_read" -> c.recordsRead, "shuffle_write_bytes" -> c.shuffleWriteBytes, "bytes_written" -> c.bytesWritten
        )
      )
    }
    finally out.close()
  }
}
