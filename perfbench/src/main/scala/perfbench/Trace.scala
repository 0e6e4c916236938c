package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed interval: a call the benchmark made into an engine layer, or a
  * Spark job seen by the listener. Times are epoch nanoseconds; `req` is the
  * index of the client operation the span belongs to (-1 for set-up).
  */
final case class Span(
    id: Long, name: String, layer: String, parent: Long, req: Long,
    startNs: Long, endNs: Long) {
  def ns: Long = endNs - startNs
}

/** Work one Spark job did, summed over its tasks. `span` is the innermost
  * benchmark span open on the client thread when the job was submitted;
  * `module` is the package of the source file whose call started it.
  */
final class JobRec(val jobId: Int, val span: Long, val module: String, val startNs: Long) {
  var endNs: Long = startNs
  var stages = 0
  var tasks = 0
  var cpuNs = 0L
  var shuffleBytes = 0L
  var scanned = 0L
}

/** Span recorder plus a SparkListener that turns every job into a child span.
  *
  * Spans are opened on the single client thread, which also tags the
  * SparkContext with the open span's id; Spark copies that tag into each
  * job's properties, so a job is charged to the call that started it even
  * though listener events arrive later on the bus thread. Everything stays
  * in memory until [[Summary]] reads it at the end of the run.
  */
final class Tracer(sc: SparkContext) {
  import Tracer._

  private val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def now: Long = System.nanoTime() + epochOffsetNs

  @volatile private var recording = false
  private var nextId = 1L
  private var open: List[Long] = Nil
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  // written on the listener bus thread; read only after [[drain]]
  val jobs: mutable.LinkedHashMap[Int, JobRec] = mutable.LinkedHashMap.empty
  private val stageJob = mutable.HashMap.empty[Int, JobRec]

  private val listener = new SparkListener {
    override def onJobStart(js: SparkListenerJobStart): Unit = {
      val span = Option(js.properties).flatMap(p => Option(p.getProperty(SpanProp)))
        .map(_.toLong).getOrElse(0L)
      val site = if (js.stageInfos.isEmpty) "" else js.stageInfos.maxBy(_.stageId).details
      val j = new JobRec(js.jobId, span, moduleOf(site), js.time * 1000000L)
      jobs(js.jobId) = j
      js.stageIds.foreach(stageJob(_) = j)
    }
    override def onJobEnd(je: SparkListenerJobEnd): Unit =
      jobs.get(je.jobId).foreach(_.endNs = je.time * 1000000L)
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
      stageJob.get(sc.stageInfo.stageId).foreach(_.stages += 1)
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
      stageJob.get(te.stageId).foreach { j =>
        j.tasks += 1
        Option(te.taskMetrics).foreach { m =>
          j.cpuNs += m.executorCpuTime
          j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        }
        te.taskInfo.accumulables.foreach { a =>
          if (a.name.contains(ScanAccumulator)) a.update.foreach {
            case n: java.lang.Number => j.scanned += n.longValue
            case _                   =>
          }
        }
      }
  }

  /** Starts recording: spans are kept and jobs are listened to. */
  def start(): Unit = if (!recording) {
    sc.addSparkListener(listener)
    recording = true
  }

  /** Stops recording once every job event posted so far has been handled. */
  def stop(): Unit = if (recording) {
    drain()
    sc.removeSparkListener(listener)
    recording = false
  }

  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  def isRecording: Boolean = recording

  /** Times `f` as a span; a no-op wrapper while not recording. */
  def span[A](name: String, layer: String, req: Long)(f: => A): A =
    if (!recording) f
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.getOrElse(0L)
      open = id :: open
      sc.setLocalProperty(SpanProp, id.toString)
      val t0 = now
      try f
      finally {
        val t1 = now
        open = open.tail
        sc.setLocalProperty(SpanProp, open.headOption.map(_.toString).orNull)
        spans += Span(id, name, layer, parent, req, t0, t1)
      }
    }
}

object Tracer {
  val SpanProp = "perfbench.span"
  /** The IVFPQ scan's row counter (IvfPqIndex names it). */
  val ScanAccumulator = "graft.ivfpq.scannedRows"

  /** Package of the first non-Spark frame of a job's call site, e.g.
    * `graft.streaming` for IncrementalIndexer or `perfbench` when the
    * benchmark itself forced a frame the engine returned.
    */
  def moduleOf(callSite: String): String =
    callSite.linesIterator.map(_.trim)
      .find(l => l.startsWith("graft.") || l.startsWith("perfbench."))
      .map { frame =>
        val cls = frame.takeWhile(_ != '(').split('.').dropRight(1) // drop method
        if (cls.head == "perfbench") "perfbench"
        // SQL functions are the operators' kernels: one layer
        else if (cls.length >= 3 && cls(1) == "functions") "graft.operators"
        else if (cls.length >= 3) s"${cls(0)}.${cls(1)}" else "graft"
      }
      .getOrElse("spark")
}

/** Per-span-name and per-layer aggregates over one traced run. */
final class Summary(spans: Seq[Span], jobs: Seq[JobRec]) {
  private val byId = spans.map(s => s.id -> s).toMap
  private val children = spans.groupBy(_.parent)
  private val jobsOf = jobs.groupBy(_.span)

  /** Jobs started inside `s` or any span below it. */
  def subtreeJobs(s: Span): Seq[JobRec] =
    jobsOf.getOrElse(s.id, Nil) ++ children.getOrElse(s.id, Nil).flatMap(subtreeJobs)

  /** Layer a job is charged to: a job the benchmark forced on a returned
    * lazy frame belongs to the layer of the span that built the frame.
    */
  def layerOf(j: JobRec): String =
    if (j.module == "perfbench" || j.module == "spark")
      byId.get(j.span).map(_.layer).getOrElse(j.module)
    else j.module

  /** Length of the union of intervals clipped to [lo, hi]. */
  private def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var end = lo
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > end) { total += b - math.max(a, end); end = b }
      }
    total
  }

  /** Span time with no child span and no job of its own running. */
  def selfNs(s: Span): Long = s.ns - covered(
    children.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs)) ++
      jobsOf.getOrElse(s.id, Nil).map(j => (j.startNs, j.endNs)), s.startNs, s.endNs)

  /** Wall time during which at least one of `js` ran. */
  def jobWallNs(js: Seq[JobRec]): Long =
    covered(js.map(j => (j.startNs, j.endNs)), Long.MinValue, Long.MaxValue)

  /** Span time during which at least one of its jobs ran. */
  def inJobNs(s: Span): Long =
    covered(subtreeJobs(s).map(j => (j.startNs, j.endNs)), s.startNs, s.endNs)

  def named(name: String): Seq[Span] = spans.filter(_.name == name)

  /** Self time per layer: benchmark spans count their driver-only time,
    * jobs count their wall time (overlapping jobs of one layer once).
    */
  def selfMsByLayer: Map[String, Double] = {
    val fromSpans = spans.groupBy(_.layer).view.mapValues(_.map(selfNs).sum).toMap
    val fromJobs = jobs.groupBy(layerOf).view.mapValues(jobWallNs).toMap
    (fromSpans.keySet ++ fromJobs.keySet).map { l =>
      l -> (fromSpans.getOrElse(l, 0L) + fromJobs.getOrElse(l, 0L)) / 1e6
    }.toMap
  }
}
