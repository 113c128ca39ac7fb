package perfbench

import scala.util.hashing.MurmurHash3

/** Order statistics, the tail-percentile rule, interval unions and
  * result fingerprints — the arithmetic the benchmark reports with. */
object Stats {

  /** Median with the usual midpoint for even counts; NaN when empty. */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Nearest-rank percentile: the smallest sample with at least p% of
    * the samples at or below it. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val rank = math.ceil(p / 100.0 * s.size).toInt
    s(math.max(rank, 1) - 1)
  }

  /** Percentiles the tail is chosen from, highest last. */
  val TailLadder: Seq[Double] = Seq(50.0, 75.0, 90.0, 95.0, 99.0, 99.9)

  /** The tail: the highest ladder percentile that still has at least
    * `minBeyond` samples strictly above its rank. Returns (p, value);
    * None when even the median has fewer than `minBeyond` beyond it. */
  def tail(xs: Seq[Double], minBeyond: Int = 10): Option[(Double, Double)] = {
    val n = xs.size
    TailLadder.reverse.find { p =>
      n - math.max(math.ceil(p / 100.0 * n).toInt, 1) >= minBeyond
    }.map(p => p -> percentile(xs, p))
  }

  /** Total length covered by a set of [start, end) intervals. */
  def unionLength(spans: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    spans.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s
        curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Result fingerprint: row count plus an order-free 64-bit hash (a sum of
  * per-row hashes, so it is blind to row order but not to multiplicity). */
final case class Fp(rows: Long, hash: Long) {
  override def toString: String = f"$rows:$hash%016x"
}

object Fp {
  val Empty: Fp = Fp(0L, 0L)

  def ofStrings(rows: Iterable[String]): Fp = {
    var h = 0L
    var n = 0L
    rows.foreach { s =>
      h += (MurmurHash3.stringHash(s, 0x5eed).toLong << 32) ^
        (MurmurHash3.stringHash(s, 0x0b5e).toLong & 0xffffffffL)
      n += 1
    }
    Fp(n, h)
  }

  def of(rows: Array[org.apache.spark.sql.Row]): Fp = ofStrings(rows.map(_.toString))
}
