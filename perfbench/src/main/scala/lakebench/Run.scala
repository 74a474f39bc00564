package lakebench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Attempts, failures and successful latencies of one operation type. */
final class OpStats {
  var attempted = 0L
  var failed = 0L
  val seconds = mutable.ArrayBuffer[Double]()
}

/** State shared by a workload run: the session, the tracer, the
  * per-operation accounting and the contention probes. */
final class Run(val spark: SparkSession, val work: Path, val seed: Long,
    val seconds: Double, val tr: Tracer, val sqlDir: Path) {
  val cores: Int = spark.sparkContext.defaultParallelism
  val ops = mutable.LinkedHashMap[String, OpStats]()
  val mismatches = mutable.ArrayBuffer[String]()
  /** Successful latencies by request kind: finer than the operation type
    * (a dashboard's name and hit or miss, an ad-hoc template, a report). */
  val byKind = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  /** Per-layer inputs the spans alone do not carry, by request id. */
  val batches = mutable.HashMap[Long, BatchStats]()
  val cacheHit = mutable.HashMap[Long, Boolean]()
  private var nextReq = 0L

  def request(): Long = { nextReq += 1; nextReq }

  def op(kind: String): OpStats = ops.getOrElseUpdate(kind, new OpStats)

  /** Runs one operation: an exception is a failure, never a timing.
    * Returns the result and its latency; the caller records the latency
    * only once the result has passed its check. */
  def attempt[T](kind: String)(body: => T): Option[(T, Double)] = {
    op(kind).attempted += 1
    val t0 = System.nanoTime()
    try {
      val r = body
      Some((r, (System.nanoTime() - t0) / 1e9))
    } catch {
      case NonFatal(e) =>
        op(kind).failed += 1
        note(s"$kind failed: ${e.getClass.getSimpleName}: " +
          String.valueOf(e.getMessage).take(300))
        None
    }
  }

  /** Checks an operation's output; a mismatch or a failing check counts
    * the operation as failed. Records the latency, under the operation
    * type and under `label`, when it passes. */
  def verify(kind: String, req: Long, latency: Double, label: String)(
      mismatchesOf: => Seq[String]): Boolean = {
    val bad =
      try tr.span(s"check.$kind", "check", req)(mismatchesOf)
      catch { case NonFatal(e) => Seq(s"$kind check threw: $e") }
    if (bad.isEmpty) {
      op(kind).seconds += latency
      byKind.getOrElseUpdate(label, mutable.ArrayBuffer[Double]()) += latency
    } else {
      op(kind).failed += 1
      bad.take(5).foreach(m => note(s"$kind mismatch: $m"))
    }
    bad.isEmpty
  }

  def note(msg: String): Unit = {
    mismatches += msg
    System.err.println(s"[lakebench] $msg")
  }

  // ---- the timed loop's window and its contention context ----
  private var loop0 = 0L
  private var loopEnd = 0L
  private var cpu0, cpu1 = 0.0
  private var steal0, steal1 = -1L
  private var gc0, gc1 = 0L
  private var load1Start, load1End = -1.0

  def startLoop(): Unit = {
    load1Start = Run.load1(); steal0 = Run.stealTicks()
    cpu0 = Run.processCpuSeconds(); gc0 = Run.gcMillis()
    loop0 = System.nanoTime()
    tr.start()
  }

  def elapsed: Double = (System.nanoTime() - loop0) / 1e9

  def endLoop(): Unit = {
    loopEnd = System.nanoTime()
    tr.stop()
    gc1 = Run.gcMillis(); cpu1 = Run.processCpuSeconds()
    steal1 = Run.stealTicks(); load1End = Run.load1()
    tr.drain()
  }

  def loopSeconds: Double = (loopEnd - loop0) / 1e9
  def gcMs: Double = (gc1 - gc0).toDouble

  def contention: Map[String, Any] = Map(
    "load1_start" -> load1Start, "load1_end" -> load1End,
    // /proc/stat steal ticks (USER_HZ = 100) over the loop, as a share
    // of the machine's capacity in that time
    "steal_frac" -> (if (steal0 < 0 || steal1 < 0) -1.0
      else (steal1 - steal0) / 100.0 /
        (loopSeconds * Runtime.getRuntime.availableProcessors())),
    "process_cpu_per_wall" -> (cpu1 - cpu0) / loopSeconds,
    "cores" -> cores, "loop_s" -> loopSeconds)
}

object Run {
  def load1(): Double =
    try Files.readString(Paths.get("/proc/loadavg")).split(" ")(0).toDouble
    catch { case NonFatal(_) => -1.0 }

  def stealTicks(): Long =
    try Files.readString(Paths.get("/proc/stat")).linesIterator.next()
      .trim.split("\\s+")(8).toLong
    catch { case NonFatal(_) => -1L }

  def processCpuSeconds(): Double =
    ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean =>
        os.getProcessCpuTime / 1e9
      case _ => -1.0
    }

  def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum

  def delete(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).iterator().asScala
        .foreach(Files.delete)
      finally s.close()
    }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Geometric mean over request kinds of each kind's median latency —
    * the summary TPC benchmarks use for a mix of unlike queries: every
    * kind weighs the same however fast it is, and a kind's share of the
    * mix does not move it. */
  def geomeanOfMedians(byKind: Iterable[Seq[Double]]): Double = {
    val meds = byKind.filter(_.nonEmpty).map(median)
    if (meds.isEmpty) 0.0 else math.exp(meds.map(math.log).sum / meds.size)
  }

  /** Linear-interpolated quantile q of xs. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** The tail a sample supports: p90, or the highest percentile with at
    * least ten samples beyond it; None below 20 samples, where that
    * percentile would be the median. */
  def tail(xs: Seq[Double]): Option[(Double, Double)] = {
    val q = math.min(0.9, 1.0 - 10.0 / xs.size)
    if (xs.size < 11 || q < 0.5) None else Some((q * 100, quantile(xs, q)))
  }
}
