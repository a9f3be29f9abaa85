package perfbench

import org.apache.spark.sql.SparkSession

import java.nio.file.Paths

/** What the timed window (`windowS` long) of a workload produced.
  * `itemsPerS` is the throughput; `latencies` (seconds) feed the
  * percentiles, grouped by pass where a pass yields many of them (each
  * percentile is then the median over the groups of the group's
  * percentile, so one slow pass does not decide a tail figure);
  * `passes` counts the repetitions of the workload's unit of work, and
  * span and engine totals are reported per pass; `layer` carries the
  * workload's own per-layer metrics (traced runs only). */
final case class Outcome(attempted: Long, failed: Long, itemsPerS: Double,
    windowS: Double, latencies: Seq[Seq[Double]], passes: Int, layer: Map[String, Double])

/** A workload: `setup` registers its sources and runs the untimed
  * warm-up (and is timed as part of `setup_s`); `measure` runs for at
  * least `seconds` and checks every output it produces. */
trait Workload {
  type Prepared
  def setup(spark: SparkSession, seed: Long): Prepared
  def measure(spark: SparkSession, p: Prepared, seed: Long, seconds: Int, t: Tracer): Outcome
  def close(p: Prepared): Unit = ()
}

object Main {
  val workloads: Map[String, Workload] = Map(
    "pipeline" -> PipelineWorkload, "curate" -> CurateWorkload,
    "query_mix" -> QueryMixWorkload, "stream" -> StreamWorkload)

  /** Set-ups per run; `setup_s` is their median. */
  val Setups = 3

  /** Every per-layer metric with its unit, as declared in BENCHMARK.json.
    * A traced run reports all of them; a layer a workload does not
    * exercise reads 0. */
  val layerMetrics: Seq[(String, String)] =
    Seq("core.jobs" -> "count", "core.index_s" -> "s", "core.ordered_s" -> "s",
      "core.drain_s" -> "s", "core.async_busy_ratio" -> "ratio",
      "core.async_dropped" -> "count", "core.dsl_overhead_x" -> "ratio",
      "sources.rows" -> "count", "sources.scan_s" -> "s",
      "functions.kernel_s" -> "s", "functions.kernel_rows_per_s" -> "1/s") ++
    Seq("line_dedup", "gopher_gate", "near_dup_pairs", "dup_clusters", "dsir", "pack")
      .map(n => s"ext.${n}_s" -> "s") ++
    Seq("ext.dup_clusters_jobs" -> "count", "ext.shuffle_mb" -> "MB",
      "plans.planning_s" -> "s") ++
    QueryMixWorkload.suites.map(s => s"queries.${s}_s" -> "s") ++
    Seq("queries.lat_p50_s" -> "s", "queries.lat_p80_s" -> "s") ++
    Seq("engine.jobs" -> "count", "engine.stages" -> "count", "engine.tasks" -> "count",
      "engine.exec_run_s" -> "s", "engine.exec_cpu_s" -> "s", "engine.gc_s" -> "s",
      "engine.shuffle_write_mb" -> "MB", "engine.spill_mb" -> "MB",
      "engine.driver_gap_s" -> "s",
      "streaming.batches" -> "count", "streaming.batch_p50_ms" -> "ms",
      "streaming.add_batch_ms" -> "ms", "streaming.planning_ms" -> "ms",
      "streaming.wal_commit_ms" -> "ms", "streaming.state_rows" -> "count",
      "streaming.state_mem_mb" -> "MB", "streaming.state_commit_ms" -> "ms",
      "streaming.backlog_max" -> "count", "streaming.gen_late_ms" -> "ms",
      "streaming.items_per_s" -> "1/s", "streaming.lat_p50_s" -> "s", "streaming.lat_p99_s" -> "s",
      "setup.session_s" -> "s", "setup.warmup_s" -> "s",
      "trace.coverage" -> "ratio") ++
    endToEnd.filter(_._1 != "setup_s").map { case (n, u) => s"traced.$n" -> u }

  def endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "items_per_s" -> "1/s", "lat_p50_s" -> "s",
    "lat_p80_s" -> "s", "lat_p99_s" -> "s", "peak_rss_mb" -> "MB")

  def session(): SparkSession = {
    val build = Paths.get(".bench_build").toAbsolutePath
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", build.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** VmHWM of this JVM: its peak resident set, in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse(sys.error("no VmHWM in /proc/self/status"))
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def main(args: Array[String]): Unit = {
    val Array(name, seedArg, secondsArg, traceArg) = args
    val w = workloads(name)
    val seed = seedArg.toLong
    val seconds = secondsArg.toInt
    val traced = traceArg == "1"

    var spark: SparkSession = null
    var prepared: w.Prepared = null.asInstanceOf[w.Prepared]
    val setups = (1 to Setups).map { k =>
      if (spark != null) { w.close(prepared); spark.stop() }
      val t0 = System.nanoTime()
      spark = session()
      val t1 = System.nanoTime()
      prepared = w.setup(spark, seed)
      val t2 = System.nanoTime()
      System.err.println(s"[perfbench] setup $k: session ${(t1 - t0) / 1e9} s, warm-up ${(t2 - t1) / 1e9} s")
      ((t1 - t0) / 1e9, (t2 - t1) / 1e9)
    }

    val tracer = new Tracer(spark, traced, s"$name-seed$seed")
    val out = w.measure(spark, prepared, seed, seconds, tracer)
    tracer.finish()

    val lat = out.latencies
    val e2e = Map(
      "setup_s" -> Stats.median(setups.map(s => s._1 + s._2)),
      "items_per_s" -> out.itemsPerS,
      "lat_p50_s" -> Stats.medianPercentile(lat, 0.5),
      "lat_p80_s" -> Stats.medianPercentile(lat, 0.8),
      "lat_p99_s" -> Stats.medianPercentile(lat, 0.99),
      "peak_rss_mb" -> peakRssMb())
    System.err.println(s"[perfbench] $name seed=$seed: ${out.itemsPerS} items/s, ${out.passes} passes in ${out.windowS} s, " +
      s"${lat.size} latency group(s) of ${lat.map(_.size).min} or more samples " +
      s"(${Stats.beyond(lat.map(_.size).min, 0.8)} or more beyond p80, ${Stats.beyond(lat.map(_.size).min, 0.99)} or more beyond p99)")

    val metrics: Seq[(String, Double, String)] =
      if (!traced) endToEnd.map { case (n, u) => (n, e2e(n), u) }
      else {
        val top = tracer.all.filter(_.parent == 0)
        val lo = top.map(_.start).min
        val hi = top.map(_.end).max
        val perPass = tracer.engineMetrics(lo, hi) ++ layerMetrics.collect {
          case (n, "s") if tracer.named(n.stripSuffix("_s")).exists(!tracer.inProbe(_)) =>
            n -> tracer.seconds(n.stripSuffix("_s"))
        } ++ Map("plans.planning_s" -> tracer.planningSeconds)
        val generic = perPass.map { case (n, v) => n -> v / out.passes } ++ Map(
          "setup.session_s" -> Stats.median(setups.map(_._1)),
          "setup.warmup_s" -> Stats.median(setups.map(_._2)),
          "trace.coverage" -> Intervals.unionLength(top.map(s => (s.start, s.end))) / (out.windowS * 1e9)) ++
          e2e.collect { case (n, v) if n != "setup_s" => s"traced.$n" -> v }
        val all = generic ++ out.layer
        layerMetrics.map { case (n, u) => (n, all.getOrElse(n, 0.0), u) }
      }
    tracer.write(Paths.get(".bench_build", "traces", s"$name-seed$seed.jsonl"))
    w.close(prepared)
    spark.stop()

    val body = metrics.map { case (n, v, u) => s""""$n": {"value": ${jsonNum(v)}, "unit": "$u"}""" }
    println(s"""{"correct": ${out.failed == 0}, "attempted": ${out.attempted}, """ +
      s""""failed": ${out.failed}, "metrics": {${body.mkString(", ")}}}""")
    System.out.flush()
    if (out.failed > 0) sys.exit(1)
  }

  private def jsonNum(v: Double): String =
    if (v.isNaN || v.isInfinite) sys.error(s"metric value $v is not a number") else v.toString
}
