package perfbench

/** Per-layer metrics of a traced run, read from its spans and jobs. Every
  * metric is per call of the named layer entry point ("jobs", "tasks", "ms")
  * or per client operation of one kind (the `spark.*` and `jvm.*` family),
  * over the traced ops of the run. A metric whose call never happened on
  * this workload reads 0.
  */
object Layers {
  /** Op kinds of the serving workloads, in report order. */
  val ServingKinds: Seq[String] = Seq(
    "search", "range_search", "term_search", "get", "upsert_visible", "delete_visible", "maintenance")

  /** Layers reported with self time: short name -> span/job layer. */
  val SelfLayers: Seq[(String, String)] = Seq(
    "bench" -> "bench", "table" -> "graft.table", "streaming" -> "graft.streaming",
    "index" -> "graft.index", "operators" -> "graft.operators", "core" -> "graft.core",
    "dedup" -> "graft.dedup", "text" -> "graft.text")

  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** The span/job summary of the traced operations plus the set-up. */
  def summary(h: Harness): Summary = {
    h.tracer.drain()
    new Summary(h.tracer.spans.toSeq, h.tracer.jobs.values.toSeq)
  }

  /** Cross-cutting Spark and JVM cost per op of each kind, self time per
    * layer per op, and the tracing overhead.
    */
  def perOp(h: Harness, s: Summary, kinds: Seq[String], overheadKinds: Seq[String]): Seq[Metric] = {
    val roots = h.tracer.spans.filter(_.name.startsWith("op.")).toSeq
    val spark = kinds.flatMap { k =>
      val ops = roots.filter(_.name == s"op.$k")
      def jobStat(f: JobRec => Double) = mean(ops.map(o => s.subtreeJobs(o).map(f).sum))
      Seq(
        Metric(s"spark.$k.jobs_per_op", jobStat(_ => 1.0), "count"),
        Metric(s"spark.$k.stages_per_op", jobStat(_.stages.toDouble), "count"),
        Metric(s"spark.$k.tasks_per_op", jobStat(_.tasks.toDouble), "count"),
        Metric(s"spark.$k.shuffle_bytes_per_op", jobStat(_.shuffleBytes.toDouble), "bytes"),
        Metric(s"spark.$k.executor_cpu_ms_per_op", jobStat(_.cpuNs / 1e6), "ms"),
        Metric(s"spark.$k.in_job_share",
          if (ops.isEmpty) 0.0 else ops.map(s.inJobNs).sum.toDouble / ops.map(_.ns).sum, "ratio"),
        Metric(s"jvm.$k.gc_ms_per_op", mean(h.tracedOps(k).map(_.gcMs)), "ms"))
    }
    val opJobs = roots.flatMap(s.subtreeJobs).toSet
    val opSummary = new Summary(
      h.tracer.spans.filter(_.req >= 0).toSeq, h.tracer.jobs.values.filter(opJobs).toSeq)
    val self = opSummary.selfMsByLayer
    val nOps = math.max(roots.size, 1)
    val selfMetrics = SelfLayers.map { case (short, layer) =>
      Metric(s"self.$short.ms_per_op", self.getOrElse(layer, 0.0) / nOps, "ms")
    }
    spark ++ selfMetrics :+ Metric("trace.overhead_pct", h.overheadPct(overheadKinds), "%")
  }

  /** `overheadKinds`: the op kinds whose traced and untraced latencies are
    * comparable (same position in the workload's sequence on average).
    */
  def serving(h: Harness, writes: Seq[WriteStat], overheadKinds: Seq[String])
      : (Seq[Metric], Seq[(Int, String, Map[String, Long])]) = {
    val s = summary(h)
    def calls(name: String) = s.named(name)
    def perCall(name: String)(f: Span => Double): Double = mean(calls(name).map(f))
    def ms(name: String) = perCall(name)(_.ns / 1e6)
    def jobs(name: String) = perCall(name)(sp => s.subtreeJobs(sp).size.toDouble)
    def jobsOf(name: String, layer: String) =
      perCall(name)(sp => s.subtreeJobs(sp).count(j => s.layerOf(j) == layer).toDouble)
    def write(name: String)(f: WriteStat => Long) = mean(writes.filter(_.name == name).map(f(_).toDouble))
    val searches = calls("table.search")
    val scanned = searches.flatMap(s.subtreeJobs).map(_.scanned).sum.toDouble
    val queries = math.max(searches.size * Serving.Batch, 1)
    val layer = Seq(
      Metric("table.search.ms", ms("table.search"), "ms"),
      Metric("table.search.jobs", jobs("table.search"), "count"),
      Metric("table.search.tasks", perCall("table.search")(sp => s.subtreeJobs(sp).map(_.tasks).sum.toDouble), "count"),
      Metric("table.search.driver_ms", perCall("table.search")(s.selfNs(_) / 1e6), "ms"),
      Metric("table.get.ms", ms("table.get"), "ms"),
      Metric("table.get.jobs", jobs("table.get"), "count"),
      Metric("table.upsert.ms", ms("table.upsert"), "ms"),
      Metric("table.upsert.jobs", jobs("table.upsert"), "count"),
      Metric("table.upsert.buckets_rewritten", write("table.upsert")(_.buckets), "count"),
      Metric("table.upsert.bytes_written", write("table.upsert")(_.bytes), "bytes"),
      Metric("table.delete.ms", ms("table.delete"), "ms"),
      Metric("table.delete.jobs", jobs("table.delete"), "count"),
      Metric("table.delete.buckets_rewritten", write("table.delete")(_.buckets), "count"),
      Metric("table.compact.ms", ms("table.compact"), "ms"),
      Metric("table.compact.bytes_rewritten", write("table.compact")(_.bytes), "bytes"),
      Metric("table.vacuum.ms", ms("table.vacuum"), "ms"),
      Metric("table.create.ms", ms("table.create"), "ms"),
      Metric("streaming.refresh.ms", ms("streaming.refresh"), "ms"),
      Metric("streaming.refresh.jobs", jobs("streaming.refresh"), "count"),
      Metric("streaming.refresh.bytes_written", write("streaming.refresh")(_.bytes), "bytes"),
      Metric("streaming.search.jobs", jobsOf("table.search", "graft.streaming"), "count"),
      Metric("streaming.scan_rows_per_query", scanned / queries, "rows"),
      Metric("streaming.compact_index.ms", ms("streaming.compact_index"), "ms"),
      Metric("index.build.ms", ms("index.build"), "ms"),
      Metric("index.build.jobs", jobs("index.build"), "count"),
      Metric("index.search.jobs", jobsOf("table.search", "graft.index"), "count"),
      Metric("index.scanned_per_result", scanned / (queries * Serving.K), "ratio"),
      Metric("operators.search.jobs", jobsOf("table.search", "graft.operators"), "count"),
      Metric("operators.search.ms", perCall("table.search") { sp =>
        s.jobWallNs(s.subtreeJobs(sp).filter(j => s.layerOf(j) == "graft.operators")) / 1e6
      }, "ms"))
    (layer ++ perOp(h, s, ServingKinds, overheadKinds), counters(h, s, writes))
  }

  /** Deterministic counters of each traced op, for the same-seed repeat
    * check: jobs, tasks, IVFPQ codes scanned and buckets rewritten.
    */
  def counters(h: Harness, s: Summary, writes: Seq[WriteStat]): Seq[(Int, String, Map[String, Long])] =
    h.tracer.spans.filter(_.name.startsWith("op.")).toSeq.sortBy(_.req).map { o =>
      val js = s.subtreeJobs(o)
      (o.req.toInt, o.name.stripPrefix("op."), Map(
        "jobs" -> js.size.toLong,
        "tasks" -> js.map(_.tasks.toLong).sum,
        "scanned" -> js.map(_.scanned).sum,
        "buckets" -> writes.filter(_.opIdx == o.req).map(_.buckets).sum))
    }
}
