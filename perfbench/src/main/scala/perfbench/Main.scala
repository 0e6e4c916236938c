package perfbench

import scala.collection.immutable.ListMap

/** Benchmark JVM entry point; `run.py` builds the classpath and launches it.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --work DIR --out FILE
  *
  * Runs one workload on a local[N] session (N = available cores, shuffle
  * partitions = N) and writes the run's artifact as JSON to FILE: the
  * end-to-end or per-layer metrics, the correctness tally, the deterministic
  * per-op counters and the environment the numbers were measured in.
  */
object Main {
  val Workloads: Seq[String] = Seq("ann_read", "crud_mixed", "curate_batch")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = opt("workload")
    require(Workloads.contains(workload), s"unknown workload $workload (one of ${Workloads.mkString(", ")})")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toInt
    val trace = opt("trace") == "1"
    val work = opt("work")

    val cores = Runtime.getRuntime.availableProcessors()
    val spark = graft.core.GraftSession.local(cores, "perfbench")
    val h = new Harness(spark, trace, seconds)
    h.phase("session started")
    val out = try workload match {
      case "ann_read"     => new Serving(h, seed, work).annRead()
      case "crud_mixed"   => new Serving(h, seed, work).crudMixed()
      case "curate_batch" => new Curate(h, seed, work).run()
    } finally h.tracer.stop()

    val metrics = if (trace) out.perLayer else out.endToEnd
    val env = ListMap(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "nproc" -> cores, "master" -> spark.sparkContext.master,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "driver_heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
      "spark" -> spark.version, "scala" -> scala.util.Properties.versionNumberString)
    val artifact = ListMap(
      "correct" -> out.correct, "attempted" -> out.attempted, "failed" -> out.failed,
      "metrics" -> ListMap(metrics.map(m => m.name -> ListMap("value" -> m.value, "unit" -> m.unit)): _*),
      "error_rate" -> (if (out.attempted == 0) 1.0 else out.failed.toDouble / out.attempted),
      "details" -> out.details,
      "ops" -> h.ops.groupBy(_.kind).map { case (k, os) => k -> os.size },
      "notes" -> h.notes.take(50),
      "counters" -> out.counters.map { case (i, k, c) => ListMap("op" -> i, "kind" -> k) ++ c },
      "env" -> env)
    val f = new java.io.File(opt("out"))
    java.nio.file.Files.write(f.toPath, Json(artifact).getBytes("UTF-8"))
    if (trace) {
      // the raw trace, kept in memory during the run and written once here
      h.tracer.drain()
      val spans = h.tracer.spans.map(s => ListMap("id" -> s.id, "name" -> s.name, "layer" -> s.layer,
        "parent" -> s.parent, "req" -> s.req, "start_ns" -> s.startNs, "end_ns" -> s.endNs))
      val jobs = h.tracer.jobs.values.map(j => ListMap("job" -> j.jobId, "span" -> j.span,
        "module" -> j.module, "start_ns" -> j.startNs, "end_ns" -> j.endNs, "stages" -> j.stages,
        "tasks" -> j.tasks, "cpu_ns" -> j.cpuNs, "shuffle_bytes" -> j.shuffleBytes,
        "scanned" -> j.scanned))
      val tf = new java.io.File(opt("out").stripSuffix(".json") + ".spans.json")
      java.nio.file.Files.write(tf.toPath, Json(ListMap("spans" -> spans, "jobs" -> jobs)).getBytes("UTF-8"))
    }
    h.phase("artifact written")
    spark.stop()
    h.phase("session stopped")
  }

  /** Total bytes of the regular files under `root`. */
  def treeBytes(root: String): Long = {
    val p = java.nio.file.Paths.get(root)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.filter(java.nio.file.Files.isRegularFile(_)).mapToLong(java.nio.file.Files.size(_)).sum()
      finally s.close()
    }
  }

  def deleteTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
