package graft.index

/** The filtered-ANN policy — the ONE place that decides how a top-k search
  * under a scalar filter is served (SURVEY §7.5 risk 2). The reference
  * pushes `IsValid` into the index scan and over-fetches via `recall_num`
  * (gamma_index_ivfpq.h:584,633), and falls back to brute force when the
  * filter leaves too few docs (gamma_engine.cc:327-340). Both the indexer's
  * search and the SQL ANN rewrite call [[decide]]; the tiers are:
  *
  *  - **few survivors** (allowed ≤ the exact threshold): partial probing
  *    could return fewer than k results even though matches exist — serve
  *    EXACTLY over the filtered rows (V9 semantics), which is both correct
  *    and cheaper than probing;
  *  - **moderate** (≤ `spark.graft.filter.broadcastMaxKeys`): push the
  *    allowed set into the index scan with a broadcast hint, and WIDEN
  *    nprobe/ef by the inverse selectivity (each model clamps it) so the
  *    probed lists still hold ~k allowed docs;
  *  - **huge** (weakly selective): same pushdown but NO broadcast hint —
  *    the semi-join shuffles instead of forcing a near-table-size set
  *    through the driver. HNSW, whose pushdown materializes the set on the
  *    driver, searches unrestricted with a widened fetch and semi-joins
  *    the hits afterwards instead.
  */
object FilteredAnn {

  /** The policy's confs, read once per decision. */
  final case class Conf(
      exactFallbackRows: Option[Long],
      broadcastMaxKeys: Long,
      adaptiveProbe: Boolean)

  object Conf {
    /** From any conf lookup (`spark.conf.getOption`, or a SQLConf read). */
    def from(get: String => Option[String]): Conf = Conf(
      get("spark.graft.filter.exactFallbackRows").map(_.toLong),
      get("spark.graft.filter.broadcastMaxKeys").map(_.toLong).getOrElse(1000000L),
      get("spark.graft.ivf.adaptiveProbe").forall(_.toBoolean))
  }

  sealed trait Decision {
    /** Attach a broadcast hint to the allowed-key set. */
    def broadcastAllowed: Boolean
    /** Allowed-set size at or below which the search is served exactly. */
    def exactThreshold: Long
  }

  /** Exact scan over the filtered rows. */
  final case class Exact(broadcastAllowed: Boolean, exactThreshold: Long) extends Decision

  /** Index probe. `nprobe` is the (widened) probe budget to pass the
    * model, `fetchK` the candidates to fetch, and `semiJoinAfter` says the
    * allowed set is applied to the hits instead of pushed into the scan.
    */
  final case class Probe(
      nprobe: Option[Int],
      fetchK: Int,
      broadcastAllowed: Boolean,
      semiJoinAfter: Boolean,
      exactThreshold: Long) extends Decision

  /** Decide how to serve a top-`k` search. `index` None = unindexed
    * (always exact). `allowedCount` < 0 = unfiltered. `total` is an upper
    * bound on the table's rows; `listSizes` the index's per-list row
    * counts, when known — they count only when adaptive probing is on and
    * the probe is partial, and are evaluated only when they count.
    */
  def decide(
      index: Option[AnnIndex],
      total: Long,
      allowedCount: Long,
      k: Int,
      nprobe: Option[Int],
      listSizes: => Option[Array[Long]],
      conf: Conf): Decision = {
    val broadcastAllowed = allowedCount <= conf.broadcastMaxKeys
    // an EXPLICIT conf is absolute (0 disables the fallback, e.g. to force
    // the index path under test); otherwise a probe that reads more rows
    // than the survivors is answered exactly instead. The static floor
    // (16·k, 64k rows) covers models without a volume model.
    val threshold = conf.exactFallbackRows.getOrElse {
      val cost = index match {
        case Some(ix) if allowedCount > 0L =>
          probeCostRows(ix, total, allowedCount, nprobe,
            if (conf.adaptiveProbe && partialProbe(ix, nprobe)) listSizes else None)
        case _ => 0L
      }
      math.max(math.max(16L * k, 65536L), cost)
    }
    index match {
      case Some(ix) if allowedCount < 0L || allowedCount > threshold =>
        // inverse-selectivity widening: with an allowed fraction s, a
        // probed list holds ~s of its usual share of allowed docs, so the
        // probe budget grows by ~1/s (the reference's recall_num over-fetch)
        val factor = widening(total, allowedCount)
        val effNprobe =
          if (allowedCount > 0L) Some(math.min(probeBase(ix, nprobe) * factor, 1L << 20).toInt)
          else nprobe
        val semiJoinAfter =
          ix.retrievalType == "HNSW" && allowedCount >= 0L && !broadcastAllowed
        val fetchK =
          if (semiJoinAfter) math.min(k.toLong * factor * 2L, math.max(k.toLong, 1L << 16)).toInt
          else k
        Probe(effNprobe, fetchK, broadcastAllowed, semiJoinAfter, threshold)
      case _ => Exact(broadcastAllowed, threshold)
    }
  }

  /** The request's pre-widening probe budget: the override, else the
    * model's configured nprobe (efSearch for HNSW).
    */
  def probeBase(index: AnnIndex, nprobe: Option[Int]): Int = nprobe.getOrElse(
    if (index.retrievalType == "HNSW") index.params.efSearch else index.params.nprobe)

  /** Whether a list model probes fewer than all of its lists. */
  def partialProbe(index: AnnIndex, nprobe: Option[Int]): Boolean = index match {
    case l: IvfIndex => l.ncentroids > 0 && nprobe.getOrElse(l.params.nprobe) < l.ncentroids
    case _           => false
  }

  /** ceil(total / allowed), at least 1; 1 when unfiltered. */
  private def widening(total: Long, allowedCount: Long): Long =
    if (allowedCount <= 0L) 1L else math.max(1L, (total + allowedCount - 1L) / allowedCount)

  /** Estimated cost of a FILTERED probe through `idx`, in exact-scan row
    * equivalents. A probe scans ~total · effNprobe/ncentroids list rows,
    * where effNprobe carries the inverse-selectivity widening;
    * compressed-code models read ~4x cheaper rows than the raw-vector
    * exact scan. 0 = unfiltered, or no volume model (graph/FLAT).
    *
    * With `listSizes` the volume is the sum of the effNprobe LARGEST lists
    * instead of the uniform model: under skew real probes are size-biased
    * toward heavy lists, so this upper bound sends borderline requests to
    * the exact path, which is always correct.
    */
  def probeCostRows(
      idx: AnnIndex, total: Long, aCount: Long, nprobe: Option[Int],
      listSizes: Option[Array[Long]] = None): Long = idx match {
    case l: IvfIndex if aCount > 0L && l.ncentroids > 0 =>
      val ncent = l.ncentroids
      val base = math.max(1L, nprobe.getOrElse(l.params.nprobe).toLong)
      val eff = math.min(base * widening(total, aCount), ncent.toLong)
      val rows = listSizes match {
        case Some(sz) if sz.nonEmpty =>
          sz.sorted(Ordering[Long].reverse).iterator.take(eff.toInt).sum
        // overflow-safe total * eff / ncent
        case _ => total / ncent * eff + (total % ncent) * eff / ncent
      }
      if (l.compressed) rows / 4 else rows
    case _ => 0L
  }
}
