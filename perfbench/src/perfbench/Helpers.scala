package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, count, lit, sum, xxhash64}
import org.apache.spark.sql.types.DecimalType

/** Order statistics used for every reported latency. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile: the smallest sample with at least `q·n`
    * samples at or below it. */
  def percentile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(q > 0 && q <= 1, s"percentile rank must be in (0, 1], got $q")
    val s = xs.sorted
    s(rank(s.size, q) - 1)
  }

  /** The median over `groups` of each group's q-th percentile. */
  def medianPercentile(groups: Seq[Seq[Double]], q: Double): Double = {
    require(groups.nonEmpty, "percentile of no sample groups")
    median(groups.map(percentile(_, q)))
  }

  /** 1-based nearest rank of the q-th percentile among n samples. The
    * epsilon keeps 0.8·50 at rank 40, not 41, under float rounding. */
  def rank(n: Int, q: Double): Int = math.max(1, math.ceil(q * n - 1e-9).toInt)

  /** Samples strictly beyond the q-th percentile. A percentile is worth
    * reporting as a tail figure only when this is at least 10. */
  def beyond(n: Int, q: Double): Int = n - rank(n, q)
}

/** Half-open [start, end) nanosecond intervals. */
object Intervals {
  def union(iv: Seq[(Long, Long)]): List[(Long, Long)] =
    iv.filter { case (a, b) => b > a }.sortBy(_._1).foldLeft(List.empty[(Long, Long)]) {
      case ((s, e) :: rest, (a, b)) if a <= e => (s, math.max(e, b)) :: rest
      case (acc, x) => x :: acc
    }.reverse

  def unionLength(iv: Seq[(Long, Long)]): Long = union(iv).map { case (a, b) => b - a }.sum

  def clip(iv: Seq[(Long, Long)], lo: Long, hi: Long): Seq[(Long, Long)] =
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
}

/** One traced call into a layer. `parent` is 0 for a top-level span of
  * the timed window and -1 for a probe made after it. */
final case class Span(id: Long, parent: Long, name: String, start: Long, end: Long, run: String) {
  def dur: Long = end - start
}

object Spans {
  /** Duration minus the part of [start, end) that the span's direct
    * children cover; overlapping children are counted once. */
  def selfTime(s: Span, all: Seq[Span]): Long = {
    val kids = all.filter(_.parent == s.id).map(c => (c.start, c.end))
    s.dur - Intervals.unionLength(Intervals.clip(kids, s.start, s.end))
  }
}

/** Order-insensitive digest of a DataFrame's rows: the row count plus
  * the sum of per-row xxhash64 values modulo 2^64. Row order and
  * partitioning cannot change it; any changed, missing or extra row
  * does (up to hash collisions). */
object Digest {
  private val mod = BigInt(1) << 64

  def combine(count: Long, hashSum: BigInt): String =
    f"$count:${(hashSum.mod(mod)).toString(16)}%16s".replace(' ', '0')

  def of(df: DataFrame): String = {
    val r = df.select(xxhash64(df.columns.map(c => col(s"`$c`")).toIndexedSeq: _*).as("h"))
      .agg(count(lit(1)), sum(col("h").cast(DecimalType(38, 0))))
      .head()
    combine(r.getLong(0), if (r.isNullAt(1)) BigInt(0) else BigInt(r.getDecimal(1).toBigInteger))
  }
}
