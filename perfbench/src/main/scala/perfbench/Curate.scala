package perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.text.TextOps

/** `curate_batch`: repeated passes of a dedup-and-filter pipeline over a
  * 5,000-document corpus shaped like the test corpus (30-word vocabulary,
  * 10-100 words per document, a few exact copies and ~5% near-duplicates).
  * It never touches the table, streaming or index modules, so a change to
  * those should leave it unchanged; its cost is mostly Spark's per-job
  * floor.
  *
  * One pass: exact dedup, MinHash-LSH pairs at Jaccard 0.5, duplicate
  * clusters, keep the best document per cluster by quality score, then
  * drop documents sharing an 8-word n-gram with a held-out slice.
  */
final class Curate(h: Harness, seed: Long, workDir: String) {
  import Curate._

  private val spark = h.spark
  import spark.implicits._

  private val texts: Array[String] = {
    val rng = new java.util.Random(seed)
    val out = new Array[String](Docs)
    def fresh() = Seq.fill(10 + rng.nextInt(91))(Vocab(rng.nextInt(Vocab.size))).mkString(" ")
    (0 until Docs).foreach { i =>
      val u = rng.nextDouble()
      out(i) =
        if (i > 0 && u < 0.003) out(rng.nextInt(i))
        else if (i > 0 && u < 0.053) {
          val w = out(rng.nextInt(i)).split(" ")
          w.indices.foreach(j => if (rng.nextDouble() < 0.05) w(j) = Vocab(rng.nextInt(Vocab.size)))
          (w :+ "dup").mkString(" ")
        } else fresh()
    }
    out
  }
  private val heldOut: Seq[String] = {
    val rng = new java.util.Random(seed ^ 0x5DEECE66DL)
    Seq.fill(HeldOut)(texts(rng.nextInt(Docs))).distinct
  }
  private val corpusPath = s"$workDir/corpus"
  texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toSeq.toDF("doc_id", "text")
    .coalesce(1).write.mode("overwrite").parquet(corpusPath)

  private def load(): DataFrame = {
    val d = spark.read.parquet(corpusPath).cache()
    d.count()
    d
  }

  private var candidates = -1L
  private var pairsSeen = 0L

  /** One pipeline pass; returns the kept ids and the verified pairs. `req`
    * is the op the step spans belong to (-1 during set-up).
    */
  private def pass(docs: DataFrame, req: Long): (Array[Long], DataFrame) = {
    def step(name: String, layer: String)(f: => DataFrame): DataFrame =
      h.tracer.span(name, layer, req)(f.localCheckpoint(true))
    val exact = step("dedup.exact", "graft.dedup")(Dedup.dropExactDups(docs, "doc_id", "text"))
    val pairs = step("dedup.minhash", "graft.dedup")(Dedup.minhashPairs(exact, "doc_id", "text", Threshold))
    val clusters = step("dedup.clusters", "graft.dedup")(Dedup.duplicateClusters(pairs))
    val scored = step("text.quality", "graft.text")(
      exact.withColumn("quality", TextOps.qualityScore(col("text"))))
    val kept = step("dedup.keep_best", "graft.dedup")(
      Dedup.keepBestPerCluster(scored, "doc_id", "quality", clusters))
    val ids = h.tracer.span("dedup.decontam", "graft.dedup", req) {
      Dedup.decontaminate(kept, "doc_id", "text", heldOut.toDF("text"), "text", shingleN = 8)
        .select(col("doc_id")).as[Long].collect().sorted
    }
    (ids, pairs)
  }

  /** Exact word-3-gram Jaccard of two documents, on the driver. */
  private def jaccard(a: String, b: String): Double = {
    def grams(t: String) = t.split(" ", -1).sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
    val (x, y) = (grams(a), grams(b))
    if (x.isEmpty && y.isEmpty) 1.0 else (x & y).size.toDouble / (x | y).size
  }

  def run(): Outcome = {
    var docs: DataFrame = null
    val setupS = h.setupPhase {
      Stats.median((1 to SetupReps).map { _ =>
        if (docs != null) docs.unpersist(true)
        val (d, s) = h.timed("corpus.load", "bench") {
          val d = load()
          pass(d, -1)
          d
        }
        docs = d
        s
      })
    }
    var first: Option[Array[Long]] = None
    h.startLoop()
    // a traced run needs a traced and an untraced pass
    while (h.inWindow || (h.trace && h.tracedOps("pass").isEmpty)) {
      h.op("pass")(pass(docs, h.ops.size)) { case (ids, pairs) =>
        val got = pairs.select("a", "b").as[(Long, Long)].collect()
        pairsSeen = got.length
        val badPair = got.find { case (a, b) => jaccard(texts(a.toInt), texts(b.toInt)) < Threshold - 1e-9 }
        badPair.foreach(p => h.note(s"pair $p below Jaccard $Threshold"))
        val digestOk = first.forall(_.sameElements(ids))
        if (first.isEmpty) first = Some(ids)
        badPair.isEmpty && digestOk && ids.nonEmpty && ids.length < Docs
      }
    }
    if (h.trace) candidates = h.setupPhase {
      // LSH candidates before verification, for the waste ratio (traced only)
      Dedup.minhashCandidates(Dedup.dropExactDups(docs, "doc_id", "text"), "doc_id", "text").count()
    }
    val passes = h.untraced("pass").map(_.ms)
    val endToEnd = Seq(
      Metric("setup_s", setupS, "s"),
      Metric("curate_docs_per_s", if (passes.isEmpty) 0.0 else Docs / (Stats.median(passes) / 1000.0), "1/s"),
      Metric("heap_mb", h.heapMb(), "MB"))
    val details = mutable.LinkedHashMap[String, Any](
      "pass_p50_ms" -> Stats.median(passes), "passes" -> passes.size,
      "kept_docs" -> first.map(_.length).getOrElse(0), "minhash_pairs" -> pairsSeen,
      "docs" -> Docs, "held_out" -> heldOut.size)
    val (perLayer, counters) = if (h.trace) layers() else (Nil, Nil)
    Outcome(endToEnd, perLayer, h.attempted, h.failed, h.failed == 0, counters, details)
  }

  private def layers(): (Seq[Metric], Seq[(Int, String, Map[String, Long])]) = {
    val s = Layers.summary(h)
    def calls(n: String) = s.named(n).filter(_.req >= 0)
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    def ms(n: String) = mean(calls(n).map(_.ns / 1e6))
    def jobs(n: String) = mean(calls(n).map(sp => s.subtreeJobs(sp).size.toDouble))
    val steps = Seq("exact" -> "dedup.exact", "minhash" -> "dedup.minhash", "clusters" -> "dedup.clusters",
      "keep_best" -> "dedup.keep_best", "decontam" -> "dedup.decontam")
    val layer = steps.flatMap { case (short, n) =>
      Seq(Metric(s"dedup.$short.ms", ms(n), "ms"), Metric(s"dedup.$short.jobs", jobs(n), "count"))
    } ++ Seq(
      Metric("dedup.minhash.candidates", candidates.toDouble, "count"),
      Metric("dedup.minhash.verified_ratio",
        if (candidates > 0) pairsSeen.toDouble / candidates else 0.0, "ratio"),
      Metric("text.quality.ms", ms("text.quality"), "ms"))
    val counters = Layers.counters(h, s, Nil).map { case (i, k, c) => (i, k, c + ("candidates" -> candidates)) }
    (layer ++ Layers.perOp(h, s, Seq("pass"), Seq("pass")), counters)
  }
}

object Curate {
  val Docs = 5000
  val HeldOut = 50
  val Threshold = 0.5
  /** Loading the corpus and one warm-up pass take a few seconds: median of 3. */
  val SetupReps = 3
  /** The test corpus's vocabulary. */
  val Vocab: IndexedSeq[String] = ("spark window merge table column vector stream value data small " +
    "join filter big group hash customer sort order slow line part fast row the agg key query a " +
    "scan batch").split(" ").toIndexedSeq
}
