package graft.perfbench

import scala.collection.mutable

/** Order statistics over timing samples. */
object Stats {
  /** Linear-interpolated quantile, `q` in [0, 1]; 0 for no samples. */
  def quantile(xs: Iterable[Double], q: Double): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) 0.0
    else {
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
  def median(xs: Iterable[Double]): Double = quantile(xs, 0.5)
  def mean(total: Double, n: Long): Double = if (n == 0) 0.0 else total / n
}

/** CPU time used by this process, all of its threads (tasks, the stores'
  * background flushes, GC, JIT). The kernel leaves out the time the
  * hypervisor gave to other guests and the time a thread waited to run. */
object Cpu {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def nanos(): Long = os.getProcessCpuTime

  /** Process CPU seconds and wall seconds that `f` took. */
  def measure(f: => Unit): (Double, Double) = {
    val c0 = nanos()
    val t0 = System.nanoTime()
    f
    ((nanos() - c0) / 1e9, (System.nanoTime() - t0) / 1e9)
  }
}

/** Spans recorded around the benchmark's own calls into each layer.
  *
  * Each version, micro-batch or pass is a parent span. Calls inside it are
  * aggregated per call type into one child span carrying the call count and
  * the summed time — never one span per `put`. Run-wide per-type totals
  * feed the per-layer means, and lifecycle calls (one per version) keep
  * their samples for percentiles. With tracing off every method is a no-op
  * and no clock is read around individual calls.
  */
final class Tracer(val enabled: Boolean) {
  private final class Agg(var count: Long = 0, var nanos: Long = 0,
      var first: Long = Long.MaxValue, var last: Long = Long.MinValue)

  private val epoch = System.nanoTime()
  private val spans = mutable.ArrayBuffer.empty[java.util.Map[String, Any]]
  private var nextId = 0L
  private var parentId = -1L
  private var parentName = ""
  private var parentStart = 0L
  private val children = mutable.LinkedHashMap.empty[String, Agg]
  private val totals = mutable.LinkedHashMap.empty[String, Agg]
  private val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

  /** Clock read for a traced call; 0 when tracing is off. */
  @inline def start(): Long = if (enabled) System.nanoTime() else 0L

  /** Close a call of type `name` that began at `t0` (from [[start]]). */
  def stop(name: String, t0: Long): Unit = if (enabled) {
    val t1 = System.nanoTime()
    add(children, name, t0, t1)
    add(totals, name, t0, t1)
  }

  /** Like [[stop]], and keep the call's duration as a sample (ms). */
  def stopSample(name: String, t0: Long): Unit = if (enabled) {
    stop(name, t0)
    sample(name, (System.nanoTime() - t0) / 1e6)
  }

  def sample(name: String, v: Double): Unit = if (enabled)
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  private def add(m: mutable.LinkedHashMap[String, Agg], name: String, t0: Long, t1: Long): Unit = {
    val a = m.getOrElseUpdate(name, new Agg)
    a.count += 1; a.nanos += t1 - t0
    a.first = math.min(a.first, t0); a.last = math.max(a.last, t1)
  }

  def beginParent(name: String): Unit = if (enabled) {
    parentId = nextId; nextId += 1
    parentName = name; parentStart = System.nanoTime()
    children.clear()
  }

  /** Close the open parent span and its aggregated children. Phases that
    * were measured elsewhere (a micro-batch's progress durations) are added
    * as children through `phasesMs`. */
  def endParent(phasesMs: Seq[(String, Double)] = Nil): Unit = if (enabled) {
    val end = System.nanoTime()
    spans += span(parentId, -1, parentName, parentStart, end, 1)
    children.foreach { case (n, a) =>
      val s = span(nextId, parentId, n, a.first, a.last, a.count)
      s.put("busy_ms", a.nanos / 1e6)
      spans += s; nextId += 1
    }
    phasesMs.foreach { case (n, ms) =>
      spans += span(nextId, parentId, n, parentStart, parentStart + (ms * 1e6).toLong, 1)
      nextId += 1
    }
  }

  private def span(id: Long, parent: Long, name: String, t0: Long, t1: Long, n: Long) = {
    val m = new java.util.LinkedHashMap[String, Any]()
    m.put("id", id); m.put("parent", parent); m.put("name", name)
    m.put("start_ms", (t0 - epoch) / 1e6); m.put("dur_ms", (t1 - t0) / 1e6); m.put("count", n)
    m
  }

  /** Forget everything recorded so far (set-up work is not traced). */
  def reset(): Unit = {
    spans.clear(); children.clear(); totals.clear(); samples.clear()
  }

  def count(name: String): Long = totals.get(name).map(_.count).getOrElse(0L)
  def meanUs(name: String): Double =
    totals.get(name).map(a => Stats.mean(a.nanos / 1e3, a.count)).getOrElse(0.0)
  def samplesOf(name: String): Seq[Double] = samples.get(name).map(_.toSeq).getOrElse(Nil)
  def spanList: java.util.List[java.util.Map[String, Any]] = {
    val l = new java.util.ArrayList[java.util.Map[String, Any]]()
    spans.foreach(l.add)
    l
  }
}

/** What one workload run hands back to [[Main]]. */
final class Report {
  val endToEnd = mutable.LinkedHashMap.empty[String, (Double, String)]
  val perLayer = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** Operations attempted in the run, by kind (SPI calls, micro-batches,
    * queries, recovery loads); every one of them is checked. */
  val attempted = mutable.LinkedHashMap.empty[String, Long]
  var mismatches = 0L
  val mismatchSamples = mutable.ArrayBuffer.empty[String]
  val notes = mutable.LinkedHashMap.empty[String, Any]
  /** Each set-up's process CPU seconds, and its wall seconds. */
  var setupSamples: Seq[Double] = Nil
  var setupWallSamples: Seq[Double] = Nil
  def setups(s: Seq[(Double, Double)]): Unit = {
    setupSamples = s.map(_._1)
    setupWallSamples = s.map(_._2)
  }

  def e2e(name: String, v: Double, unit: String): Unit = endToEnd(name) = (v, unit)
  def layer(name: String, v: Double, unit: String): Unit = perLayer(name) = (v, unit)
  def attempt(kind: String, n: Long): Unit = attempted(kind) = attempted.getOrElse(kind, 0L) + n

  /** Record an output that disagrees with the independent computation. The
    * first few are kept verbatim to debug; the count says how widespread. */
  def mismatch(msg: => String): Unit = {
    mismatches += 1
    if (mismatchSamples.size < 20) mismatchSamples += msg
  }
  def check(ok: Boolean, msg: => String): Unit = if (!ok) mismatch(msg)
}

/** Local file helpers for the work dir and checkpoint listings. */
object Fs {
  def rm(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(rm)
    f.delete()
  }

  /** Every file under `root`, path -> bytes. */
  def list(root: java.io.File): Map[String, Long] = {
    def walk(f: java.io.File): Seq[(String, Long)] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else Seq(f.getPath -> f.length())
    walk(root).toMap
  }
}
