package lakebench

/** A timing summary: median plus the highest percentile of a fixed
  * ladder that still has at least ten samples beyond it.
  */
final case class Timing(p50: Double, tail: Double, tailPct: Double, n: Int) {
  def describe(unit: String): String =
    f"p50=$p50%.4f $unit p$tailPct%s=$tail%.4f $unit (n=$n)"
}

object Stats {
  /** Percentiles tried for the tail, highest first. */
  val ladder: Seq[Double] = Seq(99.99, 99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

  /** Linear-interpolated percentile of `xs` (0 <= p <= 100). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val pos = p / 100 * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** The highest ladder percentile with at least `beyond` samples above
    * it (n * (1 - p/100) >= beyond); below 2 * `beyond` samples no
    * percentile qualifies and the median stands in.
    */
  def tailPercentile(n: Int, beyond: Int = 10): Double =
    ladder.find(p => n * (1 - p / 100) >= beyond - 1e-9).getOrElse(50.0)

  def timing(xs: Seq[Double]): Timing = {
    val p = tailPercentile(xs.size)
    Timing(median(xs), percentile(xs, p), p, xs.size)
  }

  /** One micro-batch of one streaming query, from its progress event:
    * the source offset it read up to and when its commit finished.
    */
  final case class Commit(query: String, batchId: Long, endOffset: Long,
                          commitMs: Long, addBatchMs: Long)

  /** Freshness of each open-loop tick: from its due time until the last
    * of `queries` has committed a batch whose end offset covers the
    * tick's offset. Ticks some query never committed are left out.
    * `ticks` are (source offset, due epoch ms).
    */
  def freshness(ticks: Seq[(Long, Long)], commits: Seq[Commit],
                queries: Set[String]): Seq[Double] = {
    val byQuery = commits.groupBy(_.query).map { case (q, cs) => q -> cs.sortBy(_.endOffset) }
    ticks.flatMap { case (off, due) =>
      val done = queries.toSeq.map(q => byQuery.getOrElse(q, Seq.empty).find(_.endOffset >= off))
      if (done.exists(_.isEmpty)) None
      else Some((done.flatten.map(_.commitMs).max - due) / 1000.0)
    }
  }

  /** The largest of `xs` over their mean (0 when the mean is not positive). */
  def skew(xs: Seq[Double]): Double = {
    val mean = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    if (mean <= 0) 0.0 else xs.max / mean
  }

  /** Per tick, the slowest query's addBatch over the mean of all
    * queries' addBatch for the batches holding the tick; averaged.
    */
  def fanoutSkew(ticks: Seq[Long], commits: Seq[Commit], queries: Set[String]): Double = {
    val byQuery = commits.groupBy(_.query).map { case (q, cs) => q -> cs.sortBy(_.endOffset) }
    val skews = ticks.flatMap { off =>
      val ms = queries.toSeq.flatMap(q =>
        byQuery.getOrElse(q, Seq.empty).find(_.endOffset >= off).map(_.addBatchMs.toDouble))
      if (ms.size < queries.size || skew(ms) <= 0) None else Some(skew(ms))
    }
    if (skews.isEmpty) 0.0 else skews.sum / skews.size
  }
}
