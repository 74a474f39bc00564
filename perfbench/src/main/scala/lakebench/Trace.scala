package lakebench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark work done on behalf of one span (or of the whole run). */
final class Counts {
  var jobs = 0L
  var runMs = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  var outputRecords = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var peakMemBytes = 0L

  def add(o: Counts): Unit = {
    jobs += o.jobs; runMs += o.runMs; inputBytes += o.inputBytes
    outputBytes += o.outputBytes; outputRecords += o.outputRecords
    shuffleBytes += o.shuffleBytes; spillBytes += o.spillBytes
    peakMemBytes = math.max(peakMemBytes, o.peakMemBytes)
  }

  def toMap: Map[String, Long] = Map(
    "jobs" -> jobs, "run_ms" -> runMs, "input_bytes" -> inputBytes,
    "output_bytes" -> outputBytes, "output_records" -> outputRecords,
    "shuffle_bytes" -> shuffleBytes, "spill_bytes" -> spillBytes,
    "peak_mem_bytes" -> peakMemBytes)
}

/** Sums task metrics per span. A stage belongs to the span that was
  * innermost on the submitting thread (a local property, inherited by
  * threads the span starts, such as a stream's execution thread); work
  * outside every span lands under span 0. */
final class SpanListener extends SparkListener {
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val bySpan = new ConcurrentHashMap[Int, Counts]()

  private def spanOf(p: java.util.Properties): Int =
    Option(p).flatMap(x => Option(x.getProperty(Tracer.Key)))
      .map(_.toInt).getOrElse(0)

  private def counts(span: Int): Counts =
    bySpan.computeIfAbsent(span, _ => new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    counts(spanOf(e.properties)).jobs += 1
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageSpan.put(e.stageInfo.stageId, spanOf(e.properties))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val c = new Counts
      c.runMs = m.executorRunTime
      c.inputBytes = m.inputMetrics.bytesRead
      c.outputBytes = m.outputMetrics.bytesWritten
      c.outputRecords = m.outputMetrics.recordsWritten
      c.shuffleBytes = m.shuffleWriteMetrics.bytesWritten
      c.spillBytes = m.memoryBytesSpilled + m.diskBytesSpilled
      c.peakMemBytes = m.peakExecutionMemory
      counts(stageSpan.getOrDefault(e.stageId, 0)).add(c)
    }
  }

  def spanCounts: Map[Int, Counts] = synchronized(bySpan.asScala.toMap)
}

final case class Span(id: Int, name: String, layer: String, parent: Int,
    request: Long, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans around each layer call, kept in memory and written at the end.
  * Spans are recorded only between `start` and `stop` (the timed loop)
  * of a traced run; otherwise `span` only runs its body, so the untraced
  * run pays nothing but the call. */
final class Tracer(sc: SparkContext, traced: Boolean) {
  val listener = new SpanListener
  if (traced) sc.addSparkListener(listener)

  private val recorded = mutable.ArrayBuffer[Span]()
  private var stack: List[Int] = Nil
  private var nextId = 1
  private val origin = System.nanoTime()
  private var on = false

  def enabled: Boolean = on
  def start(): Unit = on = traced
  def stop(): Unit = on = false

  def span[T](name: String, layer: String, request: Long)(body: => T): T =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0)
      val outer = sc.getLocalProperty(Tracer.Key)
      sc.setLocalProperty(Tracer.Key, id.toString)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(Tracer.Key, outer)
        recorded += Span(id, name, layer, parent, request, t0 - origin, t1 - origin)
      }
    }

  def spans: Seq[Span] = recorded.toSeq

  /** Waits until every task-end of the traced work has been counted. */
  def drain(): Unit = if (traced) org.apache.spark.LakebenchBus.drain(sc)
}

object Tracer {
  val Key = "lakebench.span"

  /** A span's duration minus the part its direct children cover (the
    * harness is single-threaded, so children never overlap). */
  def selfSeconds(spans: Seq[Span]): Map[Int, Double] = {
    val childSum = spans.groupBy(_.parent)
      .map { case (p, cs) => p -> cs.map(_.seconds).sum }
    spans.map(s => s.id -> (s.seconds - childSum.getOrElse(s.id, 0.0))).toMap
  }

  /** Spark counts of each span including its descendants'. */
  def inclusiveCounts(spans: Seq[Span], own: Map[Int, Counts])
      : Map[Int, Counts] = {
    val out = spans.map(s => s.id -> new Counts).toMap
    val parentOf = spans.map(s => s.id -> s.parent).toMap
    own.foreach { case (id, c) =>
      var cur = id
      while (cur != 0 && out.contains(cur)) {
        out(cur).add(c)
        cur = parentOf(cur)
      }
    }
    out
  }
}
