package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

import java.io.File
import scala.jdk.CollectionConverters._

/** Checks of the benchmark's own helpers. Exits non-zero on the first
  * failed check: `python3 perfbench/selftest.py`. */
object HelpersTest {
  private var checks = 0
  private def check(what: String, ok: Boolean): Unit = {
    checks += 1
    if (!ok) { System.err.println(s"FAIL: $what"); sys.exit(1) }
  }

  def percentileRule(): Unit = {
    val xs = (1 to 50).map(_.toDouble)
    check("p80 of 50 samples is the 40th", Stats.percentile(xs, 0.8) == 40.0)
    check("50 samples leave 10 beyond p80", Stats.beyond(50, 0.8) == 10)
    check("1000 samples leave 10 beyond p99", Stats.beyond(1000, 0.99) == 10)
    check("999 samples leave fewer than 10 beyond p99", Stats.beyond(999, 0.99) < 10)
    check("p99 of 1000 samples is the 990th", Stats.percentile((1 to 1000).map(_.toDouble), 0.99) == 990.0)
    check("p99 of 5 samples is the maximum", Stats.percentile(Seq(3.0, 1.0, 5.0, 2.0, 4.0), 0.99) == 5.0)
    check("percentile ignores input order", Stats.percentile(xs.reverse, 0.8) == 40.0)
    check("odd median", Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    check("even median", Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    val passes = Seq((1 to 100).map(_.toDouble), (1 to 100).map(_ * 2.0), (1 to 100).map(_ * 50.0))
    check("a tail percentile over passes is the median of the passes' own",
      Stats.medianPercentile(passes, 0.99) == 198.0)
    check("one group is that group's percentile", Stats.medianPercentile(Seq(xs), 0.8) == 40.0)
  }

  def intervalUnion(): Unit = {
    val iv = Seq((20L, 30L), (0L, 10L), (5L, 15L), (30L, 35L), (40L, 40L))
    check("union merges overlapping and touching intervals",
      Intervals.union(iv) == List((0L, 15L), (20L, 35L)))
    check("union length counts overlap once", Intervals.unionLength(iv) == 30L)
    check("clipping to a window", Intervals.unionLength(Intervals.clip(iv, 8L, 25L)) == 12L)
    check("empty union", Intervals.unionLength(Nil) == 0L)
  }

  def selfTime(): Unit = {
    val parent = Span(1, 0, "p", 0, 100, "r")
    val spans = Seq(parent,
      Span(2, 1, "a", 10, 40, "r"), Span(3, 1, "b", 30, 60, "r"),
      Span(4, 1, "c", 90, 120, "r"), // runs past its parent's end
      Span(5, 2, "a.child", 12, 20, "r"), // grandchild: inside child a
      Span(6, 0, "other", 60, 90, "r")) // a sibling, not a child
    check("self time subtracts overlapping children once", Spans.selfTime(parent, spans) == 40L)
    check("self time of a leaf is its duration", Spans.selfTime(spans(3), spans) == 30L)
    check("self time of a span with one child", Spans.selfTime(spans(1), spans) == 22L)
  }

  def digestOrder(spark: SparkSession): Unit = {
    import spark.implicits._
    val rows = Seq((1L, "a", 1.5), (2L, "b", -0.0), (3L, "c", Double.NaN), (3L, "c", Double.NaN), (4L, null, 2.0))
    val df = rows.toDF("id", "s", "x")
    val d = Digest.of(df)
    check("digest ignores row order", Digest.of(df.orderBy($"id".desc)) == d)
    check("digest ignores partitioning", Digest.of(df.repartition(3)) == d)
    check("digest sees a changed value", Digest.of(rows.updated(0, (1L, "a", 1.25)).toDF("id", "s", "x")) != d)
    check("digest sees a dropped duplicate", Digest.of(df.distinct()) != d)
    check("digest of no rows", Digest.of(df.limit(0)) == Digest.combine(0, BigInt(0)))
  }

  def declaredMetrics(): Unit = {
    val bench = new ObjectMapper().readTree(new File("BENCHMARK.json"))
    def named(key: String) = bench.get(key).elements().asScala.map(m => m.get("name").asText() -> m.get("unit").asText()).toSeq
    check("BENCHMARK.json end_to_end matches the reported metrics", named("end_to_end") == Main.endToEnd)
    check("BENCHMARK.json per_layer matches the reported metrics", named("per_layer") == Main.layerMetrics)
    val workloads = bench.get("workloads").elements().asScala.map(_.get("name").asText()).toSeq
    check("every declared workload exists", workloads.forall(Main.workloads.contains))
  }

  def main(args: Array[String]): Unit = {
    percentileRule()
    intervalUnion()
    selfTime()
    declaredMetrics()
    val spark = SparkSession.builder().master("local[2]").config("spark.ui.enabled", "false").getOrCreate()
    try digestOrder(spark) finally spark.stop()
    println(s"perfbench helpers: $checks checks passed")
  }
}
