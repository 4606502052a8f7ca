package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spans around the benchmark's calls into the engine, plus (traced runs
  * only) a SparkListener that records every job and stage so the report
  * can attribute Spark work to spans.
  *
  * A span is (id, name, parent, start, end) in epoch milliseconds. Entering
  * a span sets the local property [[SpanProp]] on the calling thread, so
  * the jobs that thread submits carry the span id; jobs from threads that
  * carry no span id or a stale one (the streaming query's thread, pool
  * threads made earlier) are attributed by time interval in the report. */
final class Trace(sc: SparkContext, traced: Boolean) {
  import Trace._

  private val nextId = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Long]] { override def initialValue(): List[Long] = Nil }

  private val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val jobEnds = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  private val stages = new ConcurrentLinkedQueue[StageRec]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Integer]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp))).map(_.toLong).getOrElse(-1L)
      e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
      jobs.add(JobRec(e.jobId, e.time, span, e.stageIds.size))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = { jobEnds.put(e.jobId, e.time); () }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      if (m != null)
        stages.add(StageRec(i.stageId, Option(stageJob.get(i.stageId)).map(_.intValue).getOrElse(-1),
          i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L),
          m.executorRunTime, m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled, m.jvmGCTime))
    }
  }
  if (traced) sc.addSparkListener(listener)

  def stop(): Unit = if (traced) sc.removeSparkListener(listener)

  /** Run `body` inside a span named `name`, nested under the calling
    * thread's current span. */
  def span[T](name: String)(body: => T): T = {
    val id = nextId.incrementAndGet()
    val parent = stack.get().headOption.getOrElse(0L)
    val saved = sc.getLocalProperty(SpanProp)
    stack.set(id :: stack.get())
    sc.setLocalProperty(SpanProp, id.toString)
    val t0 = System.currentTimeMillis()
    try body
    finally {
      spans.add(Span(id, name, parent, t0, System.currentTimeMillis()))
      stack.set(stack.get().tail)
      sc.setLocalProperty(SpanProp, saved)
    }
  }

  /** Record an interval measured elsewhere (e.g. a sink write seen by a
    * wrapper on the streaming thread) as a span with no parent. */
  def record(name: String, start: Long, end: Long): Unit =
    spans.add(Span(nextId.incrementAndGet(), name, 0L, start, end))

  def spanList: Seq[Span] = spans.asScala.toSeq.sortBy(_.id)

  def json: Map[String, Any] = Map(
    "spans" -> spanList.map(s => Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
      "start" -> s.start, "end" -> s.end)),
    "jobs" -> jobs.asScala.toSeq.sortBy(_.id).map(j => Map("id" -> j.id, "start" -> j.start,
      "end" -> Option(jobEnds.get(j.id)).map(_.longValue).getOrElse(j.start),
      "span" -> j.span, "stages" -> j.nStages)),
    "stages" -> stages.asScala.toSeq.sortBy(_.id).map(s => Map("id" -> s.id, "job" -> s.job,
      "start" -> s.start, "end" -> s.end, "task_ms" -> s.taskMs, "shuffle_read" -> s.shuffleRead,
      "shuffle_write" -> s.shuffleWrite, "spill" -> s.spill, "gc_ms" -> s.gcMs)))
}

object Trace {
  val SpanProp = "perfbench.span"
  final case class Span(id: Long, name: String, parent: Long, start: Long, end: Long)
  final case class JobRec(id: Int, start: Long, span: Long, nStages: Int)
  final case class StageRec(id: Int, job: Int, start: Long, end: Long, taskMs: Long,
                            shuffleRead: Long, shuffleWrite: Long, spill: Long, gcMs: Long)
}

/** Samples the JVM's resident set size from /proc while armed. */
final class RssSampler extends Thread("perfbench-rss") {
  setDaemon(true)
  @volatile private var armed = false
  @volatile private var done = false
  @volatile var peakKb: Long = 0L

  private def rssKb(): Long = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmRSS:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)
    finally src.close()
  }
  def arm(): Unit = { peakKb = rssKb(); armed = true }
  def disarm(): Unit = { armed = false; peakKb = math.max(peakKb, rssKb()) }
  def finish(): Unit = { done = true; join() }
  override def run(): Unit =
    while (!done) {
      if (armed) peakKb = math.max(peakKb, rssKb())
      Thread.sleep(20)
    }
}

/** Minimal JSON writer for the raw report (maps, sequences, numbers,
  * strings, booleans, options). */
object Json {
  def write(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => write(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => write(f.toDouble)
    case n: Number => n.toString
    case m: Map[_, _] => m.map { case (k, x) => quote(k.toString) + ":" + write(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(write).mkString("[", ",", "]")
    case a: Array[_] => write(a.toSeq)
    case other => quote(other.toString)
  }
  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}
