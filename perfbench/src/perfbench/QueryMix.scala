package perfbench

import graft.SparkEntry
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** `query_mix`: the frozen list of oracle-gated queries from
  * `SparkEntry.queries`, run one at a time (closed loop, one client) on
  * the committed test tables. Each result's order-insensitive digest is
  * compared with the committed one. The seed changes only the order.
  *
  * One pass costs about 50 s, too long for the benchmark's run budget,
  * so `BENCHMARK.json` does not list it: the traced `curate` run makes
  * one pass as a probe (the `queries` layer), and `--workload query_mix`
  * runs it end to end by hand. */
object QueryMixWorkload extends Workload {
  val suites: Seq[String] = Seq("dedup", "events", "text", "sim", "q", "curate", "mm", "geo")
  val ListFile = "perfbench/query_mix/queries.txt"
  val DigestFile = "perfbench/query_mix/digests.txt"
  val DataDir = "perfbench/query_mix/sf0.001"
  /** The warm-up runs the cheapest queries of the list. */
  val Warmups = 5

  def suiteOf(query: String): String = {
    val p = query.takeWhile(_ != '_')
    if (p.matches("q[0-9]*")) "q" else p
  }

  private def lines(file: String): Seq[String] =
    Files.readAllLines(Paths.get(file)).asScala.toSeq.map(_.takeWhile(_ != '#').trim).filter(_.nonEmpty)

  def queryList: Seq[String] = lines(ListFile)

  final case class Prepared(queries: Seq[String], want: Map[String, String])

  /** The frozen list with its committed digests. */
  def prepare(): Prepared = {
    val qs = queryList
    val want = lines(DigestFile).map(_.split("\\s+")).map { case Array(q, d) => q -> d }.toMap
    val unknown = qs.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"query_mix names unknown queries: ${unknown.mkString(", ")}")
    val undigested = qs.filterNot(want.contains)
    require(undigested.isEmpty, s"query_mix has no committed digest for: ${undigested.mkString(", ")}")
    Prepared(qs, want)
  }

  /** Runs one query to a digest, releasing what it cached. */
  def digestOf(spark: SparkSession, query: String, dir: String): String =
    try Digest.of(SparkEntry.queries(query)(spark, dir))
    finally {
      graft.ext.DedupOps.releaseCaches()
      spark.conf.set("spark.graft.lsh.rewrite", "false")
    }

  /** One pass over the list in seeded order, each query in a
    * `queries.<suite>` span. Returns per-query seconds and failures. */
  def pass(spark: SparkSession, p: Prepared, seed: Long, t: Tracer): (Seq[Double], Int) = {
    val runs = new scala.util.Random(seed).shuffle(p.queries).map { q =>
      val s0 = System.nanoTime()
      val ok = t.span(s"queries.${suiteOf(q)}") {
        try digestOf(spark, q, DataDir) == p.want(q)
        catch { case e: Exception =>
          System.err.println(s"[perfbench] query $q failed: ${e.getMessage}")
          false
        }
      }
      if (!ok) System.err.println(s"[perfbench] query $q: digest differs from $DigestFile")
      ((System.nanoTime() - s0) / 1e9, ok)
    }
    (runs.map(_._1), runs.count(!_._2))
  }

  def setup(spark: SparkSession, seed: Long): Prepared = {
    val p = prepare()
    p.queries.takeRight(Warmups).foreach(q => digestOf(spark, q, DataDir))
    p
  }

  def measure(spark: SparkSession, p: Prepared, seed: Long, seconds: Int, t: Tracer): Outcome = {
    val lat = scala.collection.mutable.ArrayBuffer.empty[Double]
    var failed = 0L
    var passes = 0
    val t0 = System.nanoTime()
    while (passes == 0 || System.nanoTime() - t0 < seconds * 1000000000L) {
      val (l, f) = pass(spark, p, seed + passes, t)
      lat ++= l
      failed += f
      passes += 1
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    Outcome(attempted = lat.size, failed = failed, itemsPerS = lat.size / wallS, windowS = wallS,
      latencies = Seq(lat.toSeq), passes = passes, layer = Map.empty)
  }
}

/** Recomputes the committed digests of the frozen list (command in
  * `perfbench/NOTES.md`). Run it only on a tree whose outputs
  * `scripts/check.py` has confirmed equal to DuckDB on the same tables. */
object QueryMixDigests {
  def main(args: Array[String]): Unit = {
    val spark = Main.session()
    println(s"# query digest on ${QueryMixWorkload.DataDir}: row count and sum of row xxhash64 mod 2^64")
    QueryMixWorkload.queryList.foreach { q =>
      println(s"$q ${QueryMixWorkload.digestOf(spark, q, QueryMixWorkload.DataDir)}")
    }
    spark.stop()
  }
}
