package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One closed-loop client operation, timed from call to returned result. */
final case class Op(idx: Int, kind: String, ms: Double, ok: Boolean, traced: Boolean, gcMs: Double)

/** A reported number; `name` is the metric name in BENCHMARK.json. */
final case class Metric(name: String, value: Double, unit: String)

/** What a workload hands back to [[Main]]. `details` holds values that are
  * not gated metrics but belong in the run's artifact (per-tier latencies,
  * sample counts, the correctness notes).
  */
final case class Outcome(
    endToEnd: Seq[Metric],
    perLayer: Seq[Metric],
    attempted: Int,
    failed: Int,
    correct: Boolean,
    counters: Seq[(Int, String, Map[String, Long])],
    details: collection.Map[String, Any])

/** Shared client loop state: the op log, the tracer and the clock. Every
  * operation runs on this one thread and the next starts only after the
  * previous returned, so the load is a closed loop with one client.
  */
final class Harness(val spark: SparkSession, val trace: Boolean, val seconds: Int) {
  val tracer = new Tracer(spark.sparkContext)
  val ops: mutable.ArrayBuffer[Op] = mutable.ArrayBuffer.empty
  val notes: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty
  /** Checks outside any op (set-up, model counts); each failure is an error. */
  var checkFailures = 0
  var checksRun = 0
  private var loopStart = 0L
  private var paused = 0L

  def gcMs(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum.toDouble
  }

  private val kindCount = mutable.Map.empty[String, Int].withDefaultValue(0)
  private var warming = false

  /** Runs `f`'s ops untimed and untraced, then forgets them: the first
    * calls of a code path pay JIT and codegen that no steady-state client
    * sees.
    */
  def warmUp(f: => Unit): Unit = {
    val saved = ops.size
    warming = true
    try f finally {
      warming = false
      ops.remove(saved, ops.size - saved)
      kindCount.clear()
    }
  }

  /** Runs one operation: `call` is timed, `check` (untimed) validates its
    * result. An exception or a failed check marks the operation failed.
    *
    * In a traced run every second op of each kind is traced (the first
    * one is not) unless `traced` says otherwise, so traced and untraced ops
    * interleave and their latencies give the tracing overhead.
    */
  def op[A](kind: String, traced: Option[Boolean] = None)(call: => A)(check: A => Boolean): Boolean = {
    val idx = ops.size
    val nth = kindCount(kind)
    kindCount(kind) = nth + 1
    val tracing = trace && !warming && traced.getOrElse(nth % 2 == 1)
    if (tracing) tracer.start()
    val g0 = gcMs()
    val t0 = System.nanoTime()
    val res = try Right(tracer.span(s"op.$kind", "bench", idx)(call))
    catch { case e: Exception => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    val g1 = gcMs()
    if (tracing) tracer.stop()
    val ok = res match {
      case Right(a) =>
        untimed(try check(a) catch { case e: Exception => note(s"op $idx $kind check threw $e"); false })
      case Left(e) => note(s"op $idx $kind threw $e"); false
    }
    if (!ok) note(s"op $idx $kind failed")
    ops += Op(idx, kind, ms, ok, tracing, g1 - g0)
    ok
  }

  /** A correctness check made outside any timed operation. */
  def verify(what: String)(cond: => Boolean): Unit = {
    checksRun += 1
    val ok = untimed(try cond catch { case e: Exception => note(s"$what threw $e"); false })
    if (!ok) { checkFailures += 1; note(s"check failed: $what") }
  }

  /** Runs `f` with the window clock stopped: checks do not eat into the
    * time the workload measures.
    */
  def untimed[A](f: => A): A = {
    val t0 = System.nanoTime()
    try f finally paused += System.nanoTime() - t0
  }

  def note(s: String): Unit = { notes += s; System.err.println(s"[perfbench] $s") }

  /** Marks a phase boundary in the run log (seconds since JVM start). */
  def phase(name: String): Unit = {
    val up = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    System.err.println(f"[perfbench] $up%.1f s: $name")
  }

  /** Set-up is traced in a traced run. */
  def setupPhase[A](f: => A): A = {
    if (trace) tracer.start()
    try f finally tracer.stop()
  }

  def startLoop(): Unit = { loopStart = System.nanoTime(); paused = 0L }
  def elapsedS: Double = (System.nanoTime() - loopStart - paused) / 1e9

  def inWindow: Boolean = elapsedS < seconds

  /** Wall time of `f` in seconds, traced as a span when recording. */
  def timed[A](name: String, layer: String)(f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = tracer.span(name, layer, -1)(f)
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Driver heap in use after full collections (the second one also frees
    * what the first one's finalization released).
    */
  def heapMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    val rt = Runtime.getRuntime
    (rt.totalMemory() - rt.freeMemory()) / (1024.0 * 1024.0)
  }

  def attempted: Int = ops.size + checksRun
  def failed: Int = ops.count(!_.ok) + checkFailures

  /** Untraced operations of `kind` (the end-to-end sample). */
  def untraced(kind: String): Seq[Op] = ops.filter(o => o.kind == kind && !o.traced).toSeq
  def tracedOps(kind: String): Seq[Op] = ops.filter(o => o.kind == kind && o.traced).toSeq

  /** Tracing overhead in percent: per kind, traced over untraced median
    * latency of the interleaved ops of one traced run; geometric mean over
    * `kinds`.
    */
  def overheadPct(kinds: Seq[String]): Double = {
    val ratios = kinds.map { k =>
      Stats.median(tracedOps(k).map(_.ms)) / Stats.median(untraced(k).map(_.ms))
    }.filter(r => r > 0 && !r.isInfinite && !r.isNaN)
    if (ratios.isEmpty) 0.0 else (Stats.geomean(ratios) - 1.0) * 100.0
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; 0 for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** Mean of the middle half: a quarter of the sample (rounded down) is
    * dropped from each end; 0 for an empty sample.
    */
  def trimmedMean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val cut = xs.size / 4
      val mid = xs.sorted.slice(cut, xs.size - cut)
      mid.sum / mid.size
    }

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty || xs.exists(_ <= 0)) 0.0 else math.exp(xs.map(math.log).sum / xs.size)
}

/** Minimal JSON writer for the run artifact (strings, numbers, booleans,
  * sequences and maps; use a ListMap to keep key order).
  */
object Json {
  def apply(v: Any): String = v match {
    case null                => "null"
    case s: String           => quote(s)
    case b: Boolean          => b.toString
    case d: Double           => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int              => n.toString
    case n: Long             => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => s"${quote(k.toString)}:${apply(x)}" }.mkString("{", ",", "}")
    case xs: Iterable[_]     => xs.map(apply).mkString("[", ",", "]")
    case o                   => quote(o.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c    => b += c
    }
    b += '"'
    b.toString
  }
}
