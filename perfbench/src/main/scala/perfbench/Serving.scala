package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.core.{RangeFilter, SearchRequest, TermFilter, VecQuery}
import graft.index.{GaussianFixture, IndexParams}
import graft.operators.Knn
import graft.streaming.IncrementalIndexer
import graft.table.{GammaTable, VectorFieldDef}

/** The serving table shared by `ann_read` and `crud_mixed`: 100k documents
  * with a 64-d vector drawn from a 128-cluster Gaussian mixture (sigma 1.2),
  * a `cat` tag (100 values) and a `price` (0-100), indexed by a persisted
  * IVFPQ index (128 lists, 16 sub-vectors) searched at nprobe 5 — a 3.9%
  * probe, the recall gate's operating point.
  *
  * Every input is generated from the seed before anything is timed: the
  * table rows, a pool of held-out query vectors and a pool of vectors for
  * writes, all from the same mixture.
  */
final class Serving(h: Harness, seed: Long, workDir: String) {
  import Serving._

  private val spark = h.spark
  import spark.implicits._

  private val fixture = GaussianFixture.mixtureOfGaussians(
    spark, Rows + QueryPool + WritePool, Dim, Clusters, Sigma, seed).localCheckpoint(true)
  private def pool(from: Long, n: Int): Array[Array[Float]] =
    fixture.filter(col("vec_id") >= from && col("vec_id") < from + n)
      .as[(Long, Array[Float])].collect().sortBy(_._1).map(_._2)
  private val queryPool = pool(Rows, QueryPool)
  private val writePool = pool(Rows + QueryPool, WritePool)
  private val initial: DataFrame = fixture.filter(col("vec_id") < Rows)
    .select(
      concat(lit("k"), col("vec_id").cast("string")).as(Key),
      concat(lit("t"), pmod(col("vec_id") * CatMul + lit(seed * 31L), lit(Cats.toLong))
        .cast("string")).as("cat"),
      (pmod(col("vec_id") * PriceMul + lit(seed), lit(10000L)) / 100.0).as("price"),
      col("embedding").as("vec"))


  /** Scalar values the generator assigns; updates rewrite `price` only. */
  def cat(id: Long): String = s"t${Math.floorMod(id * CatMul + seed * 31L, Cats.toLong)}"
  def price(id: Long): Double = Math.floorMod(id * PriceMul + seed, 10000L) / 100.0

  /** Live keys with their current price: the benchmark's own model of the
    * table, against which every read is checked.
    */
  private val live = mutable.LinkedHashMap.empty[Long, Double]
  private val liveIds = mutable.ArrayBuffer.empty[Long]
  private val livePos = mutable.HashMap.empty[Long, Int]
  private def put(id: Long, p: Double): Unit = {
    if (!live.contains(id)) { livePos(id) = liveIds.size; liveIds += id }
    live(id) = p
  }
  private def remove(id: Long): Unit = livePos.remove(id).foreach { i =>
    val last = liveIds.remove(liveIds.size - 1)
    if (last != id) { liveIds(i) = last; livePos(last) = i }
    live.remove(id)
  }
  (0L until Rows).foreach(i => put(i, price(i)))

  private var nextQuery = 0
  private def nextBatch(): Seq[(Long, Array[Float])] = Seq.fill(Batch) {
    val q = nextQuery % QueryPool
    nextQuery += 1
    (q.toLong, queryPool(q))
  }

  var table: GammaTable = _
  var index: IncrementalIndexer = _

  /** Creates the table and builds its index `reps` times, each into a fresh
    * root, and keeps the last; returns the median set-up seconds.
    */
  def setup(reps: Int): Double = h.setupPhase {
    h.phase("inputs generated")
    val secs = (1 to reps).map { r =>
      val root = s"$workDir/table$r"
      val (t, tc) = h.timed("table.create", "graft.table") {
        GammaTable.create(spark, root, "serving", Key, initial,
          Seq(VectorFieldDef("vec", Dim, retrievalType = "IVFPQ")))
      }
      val (ix, tb) = h.timed("index.build", "graft.index") {
        t.buildIndex("vec", Params, persist = true, retrievalType = "IVFPQ")
      }
      if (table != null) Main.deleteTree(new java.io.File(table.root))
      table = t
      index = ix
      tc + tb
    }
    h.phase("set up")
    h.verify("live count after set-up")(table.docs.count() == live.size)
    Stats.median(secs)
  }

  // ------------------------------------------------------------ operations

  /** (query index, keys) per answered query of the unfiltered searches. */
  private val answered = mutable.ArrayBuffer.empty[(Long, Seq[String])]

  private def request(batch: Seq[(Long, Array[Float])], range: Option[RangeFilter],
      term: Option[TermFilter]): SearchRequest =
    SearchRequest(topn = K,
      vecQueries = Seq(VecQuery("vec", vectors = batch.map(_._2), nprobe = Some(NProbe))),
      rangeFilters = range.toSeq, termFilters = term.toSeq)

  /** Hits per batch position; a valid answer has K distinct live keys per
    * query, each passing `accept`.
    */
  private def hitsOf(rows: Array[Row]): Map[Int, Seq[String]] =
    rows.toSeq.groupBy(r => r.getAs[Number]("qid").intValue)
      .view.mapValues(_.map(_.getAs[String](Key))).toMap

  private def valid(hits: Map[Int, Seq[String]], accept: Long => Boolean): Boolean =
    hits.size == Batch && hits.values.forall { ks =>
      ks.size == K && ks.distinct.size == K && ks.forall { k =>
        val id = k.drop(1).toLong
        live.contains(id) && accept(id)
      }
    }

  def search(): Unit = {
    val batch = nextBatch()
    h.op("search") {
      h.tracer.span("table.search", "graft.table", h.ops.size) {
        table.search(request(batch, None, None)).collect()
      }
    } { rows =>
      val hits = hitsOf(rows)
      hits.foreach { case (i, ks) => answered += ((batch(i)._1, ks)) }
      valid(hits, _ => true)
    }
  }

  /** Price range covering 80% of the value domain: about 80k survivors,
    * above the 65,536-row exact-fallback floor, so the index-pushdown tier.
    */
  def rangeSearch(rng: java.util.Random): Unit = {
    val lo = rng.nextInt(21).toDouble
    val f = RangeFilter("price", Some(lo), Some(lo + 80.0), includeUpper = false)
    val batch = nextBatch()
    h.op("range_search") {
      h.tracer.span("table.search", "graft.table", h.ops.size) {
        table.search(request(batch, Some(f), None)).collect()
      }
    } { rows => valid(hitsOf(rows), id => live(id) >= lo && live(id) < lo + 80.0) }
  }

  /** One tag of 100: about 1% survivors, the exact-fallback tier. */
  def termSearch(rng: java.util.Random): Unit = {
    val c = s"t${rng.nextInt(Cats)}"
    val batch = nextBatch()
    h.op("term_search") {
      h.tracer.span("table.search", "graft.table", h.ops.size) {
        table.search(request(batch, None, Some(TermFilter("cat", Seq(c))))).collect()
      }
    } { rows => valid(hitsOf(rows), id => cat(id) == c) }
  }

  /** Point lookup; the row must carry the model's current price. */
  def get(id: Long): Unit =
    h.op("get") {
      h.tracer.span("table.get", "graft.table", h.ops.size)(table.get(s"k$id").collect())
    } { rows =>
      rows.length == 1 && rows(0).getAs[String](Key) == s"k$id" &&
        rows(0).getAs[String]("cat") == cat(id) && rows(0).getAs[Double]("price") == live(id)
    }

  /** A lookup request: `Batch` point lookups, one timed call each, the
    * key-side counterpart of a 10-vector search batch.
    */
  def lookups(ids: Seq[Long]): Unit = ids.foreach(get)

  def randomLive(rng: java.util.Random): Long = liveIds(rng.nextInt(liveIds.size))

  /** recall@10 of the first `RecallQueries` answered unfiltered queries
    * against exact FLAT search over the current live rows (untimed); resets
    * the answered list.
    */
  def recallOfAnswered(): (Int, Int) = {
    val asked = answered.take(RecallQueries).toSeq
    answered.clear()
    if (asked.isEmpty) return (0, 0)
    val qs = asked.map(_._1).distinct.map(q => (q, queryPool(q.toInt).toSeq))
    val truth = Knn.flatSearch(table.docs, Key, "vec", qs.toDF("qid", "qvec"),
        "qid", "qvec", K, graft.core.Metric.L2)
      .select(col("qid"), col("id").cast("string")).as[(Long, String)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    (asked.map { case (q, ks) => ks.count(truth.getOrElse(q, Set.empty)) }.sum, asked.size * K)
  }

  // ------------------------------------------------------------- workloads

  /** Sends the requests `kinds` names, in order, before the clock starts. */
  private def warmUp(rng: java.util.Random, kinds: Seq[String]): Unit = {
    h.warmUp(kinds.foreach {
      case "search"       => search()
      case "range_search" => rangeSearch(rng)
      case "term_search"  => termSearch(rng)
      case "lookup"       => lookups(Seq.fill(Batch)(randomLive(rng)))
    })
    answered.clear()
  }

  /** ann_read's request kinds, one round of 10 at a time: 6 unfiltered
    * searches, 3 filtered (2 range + 1 term, then 1 range + 2 term in the
    * next round) and 1 lookup request, shuffled within the round. That is
    * the 60/15/15/10 mix with every kind present in every round, so even a
    * short run samples each of them.
    */
  private def rounds(rng: java.util.Random): Iterator[String] =
    Iterator.from(0).flatMap { r =>
      val (range, term) = if (r % 2 == 0) (2, 1) else (1, 2)
      val round = Seq.fill(6)("search") ++ Seq.fill(range)("range_search") ++
        Seq.fill(term)("term_search") :+ "lookup"
      val a = round.toArray
      (a.length - 1 to 1 by -1).foreach { i =>
        val j = rng.nextInt(i + 1)
        val t = a(i); a(i) = a(j); a(j) = t
      }
      a.iterator
    }

  def annRead(): Outcome = {
    val setupS = setup(SetupReps)
    val rng = new java.util.Random(seed * 1000003L + 1)
    // latencies keep falling while the JIT compiles the search and lookup
    // paths, for about the first dozen searches and 40 gets of a JVM; the
    // warm-up covers most of that, so the window samples the steady state.
    // It weights the kinds the gated metrics time: one filtered request of
    // each tier warms their own paths.
    warmUp(rng, Seq("range_search", "term_search") ++ Seq.fill(WarmUpSearches)("search") ++
      Seq.fill(WarmUpLookups)("lookup"))
    val kinds = rounds(rng)
    h.phase("warmed up")
    // the window also stays open until every request kind has been sampled
    // (a traced run: sampled both traced and untraced)
    def more = h.inWindow || ReadKinds.exists(k => h.untraced(k).isEmpty || (h.trace && h.tracedOps(k).isEmpty))
    h.startLoop()
    while (more) {
      kinds.next() match {
        case "search"       => search()
        case "range_search" => rangeSearch(rng)
        case "term_search"  => termSearch(rng)
        case "lookup"       => lookups(Seq.fill(Batch)(randomLive(rng)))
      }
    }
    h.phase("window closed")
    val (hit, total) = recallOfAnswered()
    finish(setupS, hit, total, spaceAmp, Seq("search", "get"))
  }

  /** One crud cycle, in order: upsert 1,000 rows (500 updates, 500 new
    * keys) and refresh the index; 4 unfiltered searches; 2 lookup requests
    * of 10 keys just written; delete 100 keys and refresh. Every 5th cycle
    * also runs the background maintenance (compactIfNeeded, compactIndex,
    * vacuum).
    */
  def crudMixed(): Outcome = {
    val setupS = setup(SetupReps)
    val rng = new java.util.Random(seed * 1000003L + 2)
    warmUp(rng, Seq("search", "search", "search", "lookup"))
    var nextNew = Rows + QueryPool + WritePool
    var nextVec = 0
    var cycle = 0
    var (hit, total) = (0, 0)
    var amp = 0.0
    h.phase("warmed up")
    h.startLoop()
    // a cycle is one unit of client work: the window is checked between
    // cycles, so every run holds whole cycles. A traced run holds two, so
    // that each kind of op is sampled both untraced and traced.
    while (h.inWindow || (h.trace && cycle < 2)) {
      val updated = Iterator.continually(randomLive(rng)).distinct.take(UpsertUpdates).toSeq
      val added = Seq.fill(UpsertNew) { nextNew += 1; nextNew - 1L }
      val written = (updated ++ added).map { id =>
        val v = writePool(nextVec % WritePool)
        nextVec += 1
        (id, Math.floorMod(id * PriceMul + seed + 7919L * (cycle + 1), 10000L) / 100.0, v)
      }
      val delta = written.map { case (id, p, v) => (s"k$id", cat(id), p, v) }
        .toDF(Key, "cat", "price", "vec")
      h.op("upsert_visible") {
        writeSpan("table.upsert")(table.addOrUpdate(delta))
        writeSpan("streaming.refresh")(index.refresh())
      }(_ => true)
      written.foreach { case (id, p, _) => put(id, p) }
      // measured at one fixed point of the op sequence, so that it does not
      // depend on how many cycles the window happened to hold
      if (cycle == 0) amp = h.untimed(spaceAmp)
      h.verify(s"live count after upsert in cycle $cycle")(table.docs.count() == live.size)

      (1 to SearchesPerCycle).foreach(_ => search())
      val (ch, ct) = h.untimed(recallOfAnswered())
      hit += ch; total += ct
      // read-your-writes: a lookup request over updated keys of this cycle,
      // then one over its new keys
      lookups(Seq.fill(Batch)(updated(rng.nextInt(updated.size))))
      lookups(Seq.fill(Batch)(added(rng.nextInt(added.size))))

      val doomed = Iterator.continually(randomLive(rng)).distinct.take(Deletes).toSeq
      h.op("delete_visible") {
        writeSpan("table.delete")(table.delete(doomed.map(id => s"k$id").toDF(Key)))
        writeSpan("streaming.refresh")(index.refresh())
      }(_ => true)
      doomed.foreach(remove)
      h.verify(s"live count after delete in cycle $cycle")(table.docs.count() == live.size)

      if ((cycle + 1) % 5 == 0) maintain()
      cycle += 1
    }
    h.phase("window closed")
    // a run holds fewer than five cycles, so a traced run adds one round of
    // the background work after its window to measure that path too
    if (h.trace) maintain(traced = Some(true))
    // the first search after a refresh is the slow one and never traced, so
    // crud_mixed compares its lookups only
    finish(setupS, hit, total, amp, Seq("get"), "cycles" -> cycle)
  }

  private def maintain(traced: Option[Boolean] = None): Unit =
    h.op("maintenance", traced) {
      writeSpan("table.compact")(table.compactIfNeeded())
      writeSpan("streaming.compact_index")(index.compactIndex())
      writeSpan("table.vacuum")(table.vacuum())
    }(_ => true)

  // ------------------------------------------------------- write counters

  /** Per-call write counters, kept while tracing: buckets whose manifest
    * version moved and bytes added under the table root.
    */
  val writeStats = mutable.ArrayBuffer.empty[WriteStat]

  private def writeSpan[A](name: String)(f: => A): A = {
    val layer = if (name.startsWith("streaming")) "graft.streaming" else "graft.table"
    if (!h.tracer.isRecording) f
    else {
      val (v0, b0) = (table.meta.bucketVersions, Main.treeBytes(table.root))
      val a = h.tracer.span(name, layer, h.ops.size)(f)
      val v1 = table.meta.bucketVersions
      val moved = (v0.keySet ++ v1.keySet).count(b => v0.get(b) != v1.get(b))
      writeStats += WriteStat(h.ops.size, name, moved.toLong, Main.treeBytes(table.root) - b0)
      a
    }
  }

  // --------------------------------------------------------------- results

  /** Bytes of the live documents as raw values: key and tag characters, an
    * 8-byte price and 4 bytes per vector component.
    */
  private def liveBytes: Double =
    live.keysIterator.map(id => (s"k$id".length + cat(id).length + 8 + 4 * Dim).toLong).sum.toDouble

  /** Bytes under the table root (data, manifests, index) per live byte. */
  private def spaceAmp: Double = Main.treeBytes(table.root) / liveBytes

  private def finish(setupS: Double, hit: Int, total: Int, amp: Double,
      overheadKinds: Seq[String], extra: (String, Any)*): Outcome = {
    val recall = if (total == 0) 0.0 else hit.toDouble / total
    // the generated inputs are the benchmark's, not the engine's: drop them
    // before heap_mb reads what the engine keeps
    fixture.unpersist(true)
    h.verify(f"recall@10 $recall%.4f >= $RecallFloor")(recall >= RecallFloor)
    val lat = (k: String) => h.untraced(k).map(_.ms)
    // per-request throughput over the middle half of the search latencies:
    // the rare request that meets a GC pause or a host hiccup (or, on
    // crud_mixed, the first search after a refresh) does not set the figure
    val trimmed = Stats.trimmedMean(lat("search"))
    val qps = if (trimmed <= 0) 0.0 else Batch * 1000.0 / trimmed
    val endToEnd = Seq(
      Metric("setup_s", setupS, "s"),
      Metric("search_qps", qps, "1/s"),
      Metric("search_p50_ms", Stats.median(lat("search")), "ms"),
      Metric("get_p50_ms", Stats.median(lat("get")), "ms"),
      Metric("recall_at_10", recall, "ratio"),
      Metric("space_amp", amp, "ratio"),
      Metric("heap_mb", h.heapMb(), "MB"))
    val details = mutable.LinkedHashMap[String, Any](
      "search_p90_ms" -> Stats.quantile(lat("search"), 0.9),
      "range_search_p50_ms" -> Stats.median(lat("range_search")),
      "term_search_p50_ms" -> Stats.median(lat("term_search")),
      "filtered_search_p50_ms" -> Stats.geomean(
        Seq(Stats.median(lat("range_search")), Stats.median(lat("term_search"))).filter(_ > 0)),
      "upsert_visible_p50_ms" -> Stats.median(lat("upsert_visible")),
      "delete_visible_p50_ms" -> Stats.median(lat("delete_visible")),
      "maintenance_p50_ms" -> Stats.median(lat("maintenance")),
      "samples" -> Seq("search", "range_search", "term_search", "get", "upsert_visible",
        "delete_visible", "maintenance").map(k => k -> lat(k).size).toMap,
      "latencies_ms" -> Seq("search", "range_search", "term_search", "get", "upsert_visible",
        "delete_visible", "maintenance").map(k => k -> lat(k).map(x => math.rint(x * 10) / 10)).toMap,
      "recall_queries" -> total / K,
      "live_docs" -> live.size)
    details ++= extra
    val (perLayer, counters) =
      if (h.trace) Layers.serving(h, writeStats.toSeq, overheadKinds) else (Nil, Nil)
    Outcome(endToEnd, perLayer, h.attempted, h.failed, h.failed == 0, counters, details)
  }
}

/** Counters of one traced write call, for op `opIdx`. */
final case class WriteStat(opIdx: Int, name: String, buckets: Long, bytes: Long)

object Serving {
  val Rows = 100000L
  val Dim = 64
  val Clusters = 128
  val Sigma = 1.2
  val QueryPool = 1000
  val WritePool = 5000
  val Key = "_id"
  val Cats = 100
  val CatMul = 7919L
  val PriceMul = 2654435761L
  val Batch = 10
  val K = 10
  val NProbe = 5
  val UpsertUpdates = 500
  val UpsertNew = 500
  val Deletes = 100
  val SearchesPerCycle = 4
  val RecallQueries = 50
  /** One set-up per run: each costs ~20 s, and the run budget holds one. */
  val SetupReps = 1
  val ReadKinds = Seq("search", "range_search", "term_search", "get")
  /** Untimed unfiltered searches and lookup requests before ann_read's window. */
  val WarmUpSearches = 10
  val WarmUpLookups = 4
  /** Far below the 0.98 this operating point reaches; a drop under it means
    * the index returns wrong neighbours, not a slightly worse ranking.
    */
  val RecallFloor = 0.9
  // 8,192 training rows (64 per coarse list, 32 per PQ code word) reach the
  // same recall@10 here (~0.985) as the default sample of every row up to
  // 200k, at well under half the build time, which each run pays once
  val Params = IndexParams(ncentroids = Clusters, nsubvector = 16, trainSampleRows = 8192)
}
