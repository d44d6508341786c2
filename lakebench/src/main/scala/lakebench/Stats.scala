package lakebench

/** The benchmark's arithmetic: percentiles, interval unions and span self
  * time. Pure functions, so the specs can pin them without Spark. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Typical latency of a mix of operation kinds: each kind's median,
    * weighted by its share of `mix` (one cycle of kinds, repeats giving
    * weight). The median of the pooled samples would instead land on the
    * boundary between a fast and a slow kind and jump between them from
    * run to run. Kinds of `mix` without samples are left out. */
  def mixMedian(samples: Seq[(String, Double)], mix: Seq[String]): Double = {
    val byKind = samples.groupBy(_._1)
    val weights = mix.groupBy(identity).collect { case (k, ks) if byKind.contains(k) => k -> ks.size.toDouble }
    require(weights.nonEmpty, "mix median of no samples")
    weights.map { case (k, w) => w * median(byKind(k).map(_._2)) }.sum / weights.values.sum
  }

  /** Nearest-rank percentile: the smallest sample with at least `p` percent
    * of the samples at or below it. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p > 0 && p <= 100, s"percentile must be in (0, 100], got $p")
    val s = xs.sorted
    s(math.max(0, math.ceil(p / 100 * s.size).toInt - 1))
  }

  /** Samples strictly above the nearest-rank `p`th percentile. */
  def beyond(xs: Seq[Double], p: Double): Int = {
    val v = percentile(xs, p)
    xs.count(_ > v)
  }

  /** The highest of `candidates` whose nearest-rank percentile has at least
    * `minBeyond` samples strictly above it, if any does. */
  def tailPercentile(xs: Seq[Double], candidates: Seq[Double] = Seq(95, 90, 75),
      minBeyond: Int = 10): Option[Double] =
    if (xs.isEmpty) None
    else candidates.sorted.reverse.find(p => beyond(xs, p) >= minBeyond)

  /** The tail a run reports: the highest supported percentile, or the
    * worst sample when the run is too short to support any. Returns the
    * value and a label naming which it is. */
  def tail(xs: Seq[Double]): (Double, String) =
    tailPercentile(xs) match {
      case Some(p) => (percentile(xs, p), f"p$p%.0f")
      case None => (xs.max, "max")
    }

  /** Total length of the union of half-open intervals `[start, end)`.
    * Overlapping intervals, as concurrent Spark jobs produce, count once. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    val sorted = intervals.filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    sorted.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s
        curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** `intervals` clipped to `[lo, hi)`. */
  def clip(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Seq[(Long, Long)] =
    intervals.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }.filter { case (s, e) => e > s }

  /** Self time of every span: its duration minus the part of its interval
    * that its direct children cover. Children that overlap each other (a
    * stage's parallel jobs) are counted once. */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = children.getOrElse(Some(s.id), Nil).map(k => (k.start, k.end))
      s.id -> ((s.end - s.start) - unionLength(clip(kids, s.start, s.end)))
    }.toMap
  }

  /** Self time summed per layer. */
  def selfTimeByLayer(spans: Seq[Span]): Map[String, Long] = {
    val self = selfTimes(spans)
    spans.groupBy(_.layer).map { case (layer, ss) => layer -> ss.map(s => self(s.id)).sum }
  }
}

/** One traced call: `op` is the id its operation's spans share, `parent`
  * the span that made the call. Times are in nanoseconds on one clock. */
final case class Span(id: Long, op: Long, parent: Option[Long], layer: String,
    name: String, start: Long, end: Long)
