package perfbench

/** Summary statistics for timing samples. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank quantile: the sample at 1-based rank ceil(q·n). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    s(math.min(s.size - 1, math.max(0, rank(s.size, q) - 1)))
  }

  private def rank(n: Int, q: Double): Int = math.ceil(q * n - 1e-9).toInt

  /** Percentiles a tail is reported at, highest first. */
  val TailQs: Seq[Double] = Seq(0.999, 0.99, 0.9, 0.5)

  /** The highest percentile in [[TailQs]] that still has at least ten
    * samples beyond its rank, with its value; None below 20 samples. */
  def tail(xs: Seq[Double]): Option[(Double, Double)] =
    TailQs.find(q => xs.size - rank(xs.size, q) >= 10)
      .map(q => q -> quantile(xs, q))

  /** Interval-union length of (start, end) pairs. */
  def unionLength(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.filter(p => p._2 > p._1).sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}

/** Output checks, as pure functions over values collected from the lake,
  * so they can be tested without Spark. Each returns the problems found;
  * an empty result means the check passed. */
object Checks {

  /** Root table (ID → REV) against the expected last-write-wins winners
    * (ID → REV; deleted keys absent). */
  def finalState(actual: Map[String, String],
      expected: Map[String, String], limit: Int = 5): Seq[String] = {
    val missing = expected.keySet.diff(actual.keySet).toSeq.sorted
    val extra = actual.keySet.diff(expected.keySet).toSeq.sorted
    val stale = expected.toSeq.sortBy(_._1).collect {
      case (k, rev) if actual.get(k).exists(_ != rev) =>
        s"$k has REV ${actual(k)}, expected $rev"
    }
    def report(what: String, xs: Seq[String]) =
      if (xs.isEmpty) Nil
      else Seq(s"${xs.size} $what: ${xs.take(limit).mkString("; ")}")
    report("missing keys", missing) ++
      report("unexpected keys (deleted or never written)", extra) ++
      report("stale rows", stale)
  }

  /** One point lookup: the REVs it returned against the expected REV
    * (None = the key must be absent). */
  def lookup(key: String, got: Seq[String],
      expected: Option[String]): Seq[String] = expected match {
    case None if got.nonEmpty => Seq(s"lookup $key: absent key returned $got")
    case Some(r) if got != Seq(r) =>
      Seq(s"lookup $key: returned ${got.mkString("[", ",", "]")}, expected $r")
    case _ => Nil
  }

  /** A rollup (group → (count, sum)) against a recompute over the source. */
  def rollup(actual: Map[String, (Long, Long)],
      recompute: Map[String, (Long, Long)]): Seq[String] =
    (actual.keySet ++ recompute.keySet).toSeq.sorted.flatMap { g =>
      val a = actual.get(g)
      val r = recompute.get(g)
      if (a == r) Nil else Seq(s"rollup group $g: view $a, recompute $r")
    }

  /** The revision-skip count against the re-delivered documents. */
  def skips(skipped: Long, redelivered: Long): Seq[String] =
    if (skipped == redelivered) Nil
    else Seq(s"revision skip dropped $skipped docs, $redelivered were re-delivered")
}
