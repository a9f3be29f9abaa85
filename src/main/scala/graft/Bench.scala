package graft
import java.nio.file.{Files, Paths}
import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

/** Benchmark main: runs every declared query on SPARK_GRAFT_SF_DIR.
  * One untimed warmup pass first (JVM/codegen/broadcast warmup — without
  * it the first query pays ~5s of JIT and poisons its number), then TWO
  * timed passes reporting the per-query MINIMUM: a single co-tenant
  * load spike can inflate one pass 10x (round-3 postmortem: the same
  * tree measured 94.9s on a loaded machine and 28.0s clean), and min-of
  * -two makes one noisy pass unable to poison the number. Queries whose
  * min-of-2 still drifts >1.5x vs the committed bench_result.json get up
  * to two extra back-to-back re-runs before the delta is written, so
  * BENCH_delta.top_drifts reflects plan changes, not box load. Emits ONE
  * JSON line on stdout AND writes it to bench_result.json so the
  * driver's parse doesn't depend on scraping sbt-prefixed logs.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = Harness.knobs.sfDir
    val spark = Harness.session()
    // SPARK_GRAFT_ONLY=a,b: local-iteration subset (unset in the
    // driver's run — the full inventory is the reported surface).
    // SPARK_GRAFT_BENCH_SCALE=N (see Tables.scaleProbe): parallelism
    // probe that replicates every input row N× in-plan. Its numbers are
    // NOT comparable to the contract bench, so a scaled run is treated
    // exactly like a subset run: results land in bench_result_subset
    // .json, never in the bench_result.json delta baseline.
    val scaled = Harness.knobs.benchScale.exists(_ >= 2)
    if (scaled)
      System.err.println("[bench] SPARK_GRAFT_BENCH_SCALE set: parallelism-probe " +
        "mode, inputs replicated in-plan; writing bench_result_subset.json")
    val names = Harness.selected
    // a scaled full run still must not clobber the baseline
    val subset = scaled || Harness.knobs.only.nonEmpty
    // A failed query must be VISIBLE, not a suspiciously fast number:
    // failures are collected and emitted in the JSON's "errors" map
    // (extra key — the driver's parse reads "value"/"queries").
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def exec(name: String): Unit = Harness.run(spark, name, sfDir)(Harness.noop)
    def timed(name: String): (Double, Boolean) = {
      val t0 = System.nanoTime()
      var ok = true
      try exec(name) catch {
        case e: Throwable =>
          ok = false
          errors.getOrElseUpdate(name, String.valueOf(e.getMessage).take(200))
      }
      ((System.nanoTime() - t0) / 1e9, ok)
    }
    // Warmup: full pass, results discarded.
    names.foreach { n => try exec(n) catch { case _: Throwable => () } }
    val pass1 = names.map(n => n -> timed(n)).toMap
    val pass2 = names.map(n => n -> timed(n)).toMap
    // min over SUCCESSFUL passes only: a fast failure (e.g. 0.1s throw in
    // pass 2 after a 5s success in pass 1) must not understate the time.
    // Both passes failed -> report the max so the number reads as an
    // upper bound beside its "errors" entry, never an optimistic one.
    val minOf2 = names.map { n =>
      val (t1, ok1) = pass1(n)
      val (t2, ok2) = pass2(n)
      n -> ((ok1, ok2) match {
        case (true, true)  => math.min(t1, t2)
        case (true, false) => t1
        case (false, true) => t2
        case (false, false) => math.max(t1, t2)
      })
    }
    // Previous committed full-inventory map (same SF only): the drift
    // re-run trigger AND the BENCH_delta baseline. Parsed BEFORE the
    // delta step so apparent regressions can be re-measured first.
    // Baseline identity (r17 advice): bench_result.json carries a "ts"
    // stamp; BENCH_delta echoes it as "baseline_ts" plus its own
    // "cur_ts", so a delta whose two stamps are minutes apart reads as
    // the same-tree noise bracket it is, and an automated gate can
    // distinguish it from a cross-round change delta. Additive keys —
    // the driver parses "value"/"queries" only.
    val prevPath = Paths.get("bench_result.json")
    val prevJson =
      if (subset || !Files.exists(prevPath)) None else Some(Json.read(Files.readString(prevPath)))
    val prevTs = prevJson.fold("")(_.path("ts").asText(""))
    val prev: Map[String, Double] = prevJson.filter(_.path("sf").asText() == sfDir)
      .fold(Map.empty[String, Double]) {
        _.path("queries").properties().asScala.map(e => e.getKey -> e.getValue.asDouble).toMap
      }
    // Drift re-run (round-14 postmortem: a co-tenant load spike spread
    // three same-code runs 312.6-350.3s and put 2x drifts on queries
    // whose plans had not changed, burying the trend guard's signal).
    // Any query still >1.5x its committed time after min-of-2 gets up
    // to two more ISOLATED back-to-back runs; the reported number is
    // the min over all successful passes. A drift that survives this
    // is a real plan regression, not box load — exactly what
    // BENCH_delta.top_drifts exists to catch.
    val results = minOf2.map { case (n, t) =>
      val p = prev.getOrElse(n, 0.0)
      if (p > 0 && t >= 0.2 && t / p > 1.5 && !errors.contains(n)) {
        var best = t
        var tries = 0
        while (tries < 2 && best / p > 1.5) {
          val (tr, ok) = timed(n)
          if (ok) best = math.min(best, tr)
          tries += 1
        }
        System.err.println(f"[bench] drift re-run $n: min2=${t}%.3f prev=$p%.3f -> ${best}%.3f ($tries extra)")
        n -> best
      } else n -> t
    }
    val errs = Json.write(errors)
    val total = results.map(_._2).sum
    // Bench trend guard: BEFORE overwriting bench_result.json, diff the
    // fresh per-query times against the previous run's full-precision
    // map (the committed bench_result.json) and write BENCH_delta.json
    // — top drifts by ratio over a 0.2s noise floor, plus the shared-
    // query mass ratio. A per-query regression is then a first-class
    // artifact each round instead of a cross-round archeology exercise.
    // Skipped for SPARK_GRAFT_ONLY subset runs (a 2-query local
    // iteration must not clobber the round-over-round report), when the
    // previous map was measured at a DIFFERENT scale factor (an sf0.001
    // smoke vs the sf0.1 baseline would report nonsense ratios), and
    // when the previous map shares no queries (first run / renamed
    // suite).
    def f3(v: Double) = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    def d3(v: Double) = BigDecimal(f3(v))
    if (!subset) {
      val cur = results.toMap
      val shared = (cur.keySet intersect prev.keySet).toSeq.sorted
      if (shared.nonEmpty) {
        val massPrev = shared.map(prev).sum
        val massCur = shared.map(cur).sum
        val drifts = shared
          .filter(n => cur(n) >= 0.2 && prev(n) > 0) // noise floor
          .map(n => (n, prev(n), cur(n), cur(n) / prev(n)))
          .sortBy(-_._4).take(10)
        Files.writeString(Paths.get("BENCH_delta.json"), Json.write(ListMap(
          "shared_queries" -> shared.size, "mass_prev" -> d3(massPrev), "mass_cur" -> d3(massCur),
          "mass_ratio" -> d3(massCur / massPrev), "baseline_ts" -> prevTs,
          "cur_ts" -> java.time.Instant.now().toString,
          "top_drifts" -> drifts.map { case (n, p, c, r) =>
            ListMap("query" -> n, "prev" -> d3(p), "cur" -> d3(c), "ratio" -> d3(r))
          },
          "added" -> (cur.keySet -- prev.keySet).toSeq.sorted,
          "removed" -> (prev.keySet -- cur.keySet).toSeq.sorted, "sf" -> sfDir)) + "\n")
      }
    }
    val full = Json.write(ListMap("metric" -> "total", "value" -> total, "unit" -> "sec",
      "ts" -> java.time.Instant.now().toString, "queries" -> ListMap(results: _*),
      "errors" -> errors, "sf" -> sfDir))
    // Subset runs land in a scratch file: bench_result.json is the
    // round-over-round delta BASELINE and must only ever hold a full
    // inventory map (a 2-query local iteration would otherwise wipe it).
    val outName = if (!subset) "bench_result.json" else "bench_result_subset.json"
    Files.writeString(Paths.get(outName), full + "\n")
    // The driver recovers the stdout JSON from the LAST ~2000 chars of
    // the (sbt-suffixed) output. Round 6's 92-query full-precision line
    // was ~2900 chars, started before that window, and parsed as null.
    // So the printed line is budget-bounded: 3-decimal values, most
    // expensive queries first (the ones performance review needs),
    // cheap tail omitted once the budget is reached. The COMPLETE
    // full-precision map is always in bench_result.json (committed).
    val budget = 1800
    val head = s"""{"metric":"total","value":${f3(total)},"unit":"sec","nq":${results.size},"queries":{"""
    val tail = s"""},"errors":$errs,"sf":${Json.write(sfDir)}}"""
    val entries = results.sortBy(-_._2).map { case (k, v) => Json.write(k) + ":" + f3(v) }
    val body = new StringBuilder
    var kept = 0
    var overflow = false
    for (e <- entries if !overflow) {
      val add = (if (kept == 0) 0 else 1) + e.length
      // +70 covers the longer omitted-count suffix variant. Stop at
      // the FIRST entry that doesn't fit: continuing would admit
      // cheaper entries past a skipped expensive one, making the
      // omitted set not-the-cheapest and the ordering claim false.
      if (head.length + body.length + add + tail.length + 70 <= budget) {
        if (kept > 0) body.append(',')
        body.append(e); kept += 1
      } else overflow = true
    }
    val omitted = results.size - kept
    val json = head + body +
      (if (omitted > 0) s"""},"omitted_cheapest":$omitted,"full":"bench_result.json","errors":$errs,"sf":${Json.write(sfDir)}}"""
       else tail)
    println(json)
    spark.stop()
  }
}
