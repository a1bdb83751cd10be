package perfbench

/** The benchmark's pure arithmetic: percentiles, the tail rule, recall and
  * the driver-side brute-force truth every check compares against. Nothing
  * here touches Spark, so SelfTest can pin it exactly.
  */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length

  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), s"geomean needs positive samples: $xs")
    math.exp(xs.map(math.log).sum / xs.length)
  }

  /** The percentile every tail metric reports. */
  val TailPercentile = 90.0

  /** Percentile `p` (0 to 100) of a sample: the value at rank p/100·(n−1)
    * of the sorted sample, interpolated linearly between its two
    * neighbours (numpy's default). The tail metrics apply it to a sample of
    * a fixed size, so the percentile does not move with the code's speed.
    */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p >= 0 && p <= 100, s"percentile out of range: $p")
    val s  = xs.sorted
    val r  = p / 100 * (s.length - 1)
    val lo = math.floor(r).toInt
    val hi = math.ceil(r).toInt
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }

  /** The tail of a sample of (kind, latency): each kind's TailPercentile,
    * combined by geometric mean, so every kind weighs the same and the
    * slowest kind does not stand for all. NaN for an empty sample.
    */
  def tail(sample: Seq[(String, Double)]): Double =
    if (sample.isEmpty) Double.NaN
    else geomean(sample.groupBy(_._1).values.map(xs => percentile(xs.map(_._2), TailPercentile)).toSeq)

  /** Cosine over float vectors widened to double, folded sequentially in the
    * same order as the engine's kernel, so equal inputs give equal bits.
    */
  def cosine(a: Array[Float], b: Array[Double]): Double = {
    val n = math.min(a.length, b.length)
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val x = a(i).toDouble; val y = b(i)
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Brute-force top-k over the rows `allowed` admits: (id, score) sorted by
    * score descending, ties by id ascending — the engine's contract.
    */
  def topK(ids: Array[Long], vecs: Array[Array[Float]], q: Array[Double], k: Int,
      allowed: Int => Boolean = _ => true): Vector[(Long, Double)] = {
    val scored = Vector.newBuilder[(Long, Double)]
    var i = 0
    while (i < ids.length) {
      if (allowed(i)) {
        val s = cosine(vecs(i), q)
        if (!s.isNaN) scored += ((ids(i), s))
      }
      i += 1
    }
    scored.result().sortBy(t => (-t._2, t._1)).take(k)
  }

  /** Does `got` match the exact answer `want`? Scores must agree position by
    * position within `eps`; an id may differ from the truth only where the
    * two rows tie within `eps` (exact duplicates score identically, so
    * either may fill the slot).
    */
  def sameTopK(got: Seq[(Long, Double)], want: Seq[(Long, Double)], trueScore: Long => Double,
      eps: Double = 1e-9): Boolean =
    got.length == want.length &&
      got.map(_._1).distinct.length == got.length &&
      got.zip(want).forall { case ((gi, gs), (wi, ws)) =>
        math.abs(gs - ws) <= eps && (gi == wi || math.abs(trueScore(gi) - ws) <= eps)
      }

  /** Tie-aware recall: an ANN hit counts when its true score reaches the
    * k-th exact score (within eps), so a duplicate of a true neighbour is
    * not a miss. Denominator: the exact answer's size.
    */
  def recall(got: Seq[Long], want: Seq[(Long, Double)], trueScore: Long => Double, eps: Double = 1e-9): Double =
    if (want.isEmpty) 1.0
    else {
      val kth = want.last._2
      val hit = got.distinct.count(id => trueScore(id) >= kth - eps)
      math.min(hit, want.length).toDouble / want.length
    }

  private val NamePattern = "[A-Za-z0-9][A-Za-z0-9_.-]{0,63}".r

  /** Metric names the result line may carry. */
  def validName(s: String): Boolean = NamePattern.matches(s)
}
