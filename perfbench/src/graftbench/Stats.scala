package graftbench

/** Pure helpers the benchmark's metrics rest on; `StatsCheck` tests
  * each of them. */
object Stats {

  /** True median: the mean of the two middle samples when the count
    * is even. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank `q`-quantile, 0 < q ≤ 1. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty && q > 0 && q <= 1, s"quantile $q of ${xs.size} samples")
    val s = xs.sorted
    s(math.max(0, math.ceil(q * s.size).toInt - 1))
  }

  /** Samples strictly above the nearest-rank `q`-quantile's rank. */
  def beyond(n: Int, q: Double): Int = n - math.ceil(q * n).toInt

  /** The tail percentiles a latency may be reported at, highest first. */
  val TailLadder: Seq[Double] = Seq(0.99, 0.95, 0.9, 0.8, 0.75, 0.5)

  /** The highest ladder percentile with at least 10 samples beyond it
    * among `n`; None when even the median has fewer. */
  def tailQuantile(n: Int): Option[Double] =
    TailLadder.find(q => beyond(n, q) >= 10)

  /** Total length covered by a set of [start, end] intervals, each
    * point counted once however many intervals overlap it. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    intervals.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curEnd) {
        if (curEnd > curStart) total += curEnd - curStart
        curStart = s; curEnd = e
      } else if (e > curEnd) curEnd = e
    }
    if (curEnd > curStart) total += curEnd - curStart
    total
  }

  /** Module a Spark job is charged to, from its stage call site (the
    * long form in `StageInfo.details`, innermost frame first):
    *  - any `graft.ArtifactRegistry` frame: the job runs inside a
    *    registry build, whatever builder code called the action;
    *  - else the innermost `graft.` frame: `graft.QueryPack$.localize`
    *    (which `localizePar` calls) → "QueryPack.localize"; a frame in
    *    a package such as `graft.operators.` → that package's name; a
    *    top-level object such as `graft.Tables$` → the object's name;
    *  - no `graft.` frame (broadcast and helper threads, the
    *    benchmark's own drain) → None; the caller charges the job to
    *    the build or drain phase it ran in. */
  def module(callSite: String): Option[String] = {
    val frames = callSite.split('\n').iterator.map(_.trim)
      .filter(_.startsWith("graft.")).toSeq
    if (frames.exists(_.startsWith("graft.ArtifactRegistry")))
      Some("ArtifactRegistry")
    else frames.headOption.map { f =>
      if (f.startsWith("graft.QueryPack$.localize")) "QueryPack.localize"
      else f.stripPrefix("graft.").takeWhile(c => c != '.' && c != '$' && c != '(')
    }
  }
}
