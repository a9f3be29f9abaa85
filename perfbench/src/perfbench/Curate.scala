package perfbench

import graft.ext.{DedupOps, SkewOps, TextOps}
import graft.functions.HashExprs
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** `curate`: the curation capstone chain (line dedup → Gopher gate →
  * near-dup pairs → duplicate clusters → DSIR selection → packing) over
  * `graft-docs`, with ~5% of the gated docs planted as exact copies. Each
  * pass checks the chain's conservation invariants. */
object CurateWorkload extends Workload {
  val N = 20000L
  val WarmupN = 2000L
  val Partitions = 8
  val PlantShift = 1000000000000L
  val SeqTokens = 512L
  /** A pass takes about 9 s, so an untraced run makes at least this many
    * whatever `seconds` is: the median of three rides out a short load
    * burst. A traced run makes one, to leave time for its probes. */
  val MinPasses = 3

  final case class Prepared(offset: Long)

  def offsetFor(seed: Long): Long = Math.floorMod(seed, 1000L) * N

  /** [offset, offset + n) of graft-docs: the id filter narrows the
    * generated range itself, and the partition count keeps the narrowed
    * range in `Partitions` chunks. */
  def docs(spark: SparkSession, offset: Long, n: Long): DataFrame = {
    val chunks = (offset + n + n - 1) / n
    spark.read.format("graft-docs")
      .option("rows", offset + n).option("partitions", chunks * Partitions).load()
      .filter(col("doc_id") >= offset)
  }

  /** One pass of the chain; returns (checks run, checks failed). */
  def chain(spark: SparkSession, seed: Long, offset: Long, n: Long, t: Tracer): (Int, Int) = {
    val checks = scala.collection.mutable.ArrayBuffer.empty[(String, Boolean)]
    def check(what: String, ok: Boolean): Unit = {
      if (!ok) System.err.println(s"[perfbench] curate check failed: $what")
      checks += ((what, ok))
    }
    val d = docs(spark, offset, n)
      .select(col("doc_id"), col("text"),
        expr("CASE doc_id % 4 WHEN 0 THEN 'en' WHEN 1 THEN 'de' " +
          "WHEN 2 THEN 'fr' ELSE 'ja' END").as("lang"),
        concat(lit("src"), (col("doc_id") % 8).cast("string")).as("source"))

    // line dedup: a planted per-source nav header, 5-token lines, lines
    // in >= 1% of docs dropped as boilerplate
    val (rebuilt, nLines) = t.span("ext.line_dedup") {
      val allToks = concat(
        array(lit("nav"), lit("home"), col("source"), lit("menu"), lit("login")),
        TextOps.tokens(col("text")))
      val lineArr = transform(
        sequence(lit(0), ((size(allToks) - lit(1)) / lit(5)).cast("int")),
        i => array_join(slice(allToks, i * lit(5) + lit(1), lit(5)), " "))
      val lines = d.select(col("doc_id"), posexplode(lineArr).as(Seq("line_no", "line")))
        .select(col("doc_id"), col("line_no").cast("bigint").as("line_no"),
          col("line"), TextOps.fingerprint(col("line")).as("lfp"))
        .persist()
      val dfreq = lines.groupBy(col("lfp")).agg(countDistinct(col("doc_id")).as("df"))
      val rebuilt = lines.join(dfreq, "lfp")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_lines"),
          sum(when(col("df") >= n / 100L, 1L).otherwise(0L)).as("dropped"),
          array_join(transform(
            array_sort(collect_list(when(col("df") < n / 100L,
              struct(col("line_no"), col("line"))))),
            s => s.getField("line")), " ").as("kept_text"))
        .persist()
      val reb = rebuilt.agg(count(lit(1)), sum(col("dropped"))).head()
      lines.unpersist()
      check("line dedup keeps every doc", reb.getLong(0) == n)
      check("every nav header drops", reb.getLong(1) >= n)
      (rebuilt, reb.getLong(0))
    }

    val (gated, nGated) = t.span("ext.gopher_gate") {
      val tk = TextOps.tokens(col("kept_text"))
      val gated = rebuilt
        .join(d.select(col("doc_id"), col("lang")), "doc_id")
        .select(col("doc_id"), col("lang"), col("kept_text"),
          size(tk).cast("bigint").as("n_words"),
          aggregate(transform(tk, t => length(t).cast("bigint")), lit(0L), (a, b) => a + b).as("sum_chars"),
          HashExprs.modalNgramCount(tk, 2).as("max_big"))
        .filter(col("n_words") >= 10L && col("n_words") <= 10000L &&
          lit(3L) * col("n_words") <= col("sum_chars") &&
          col("sum_chars") <= lit(10L) * col("n_words") &&
          lit(10L) * col("max_big") <= col("n_words"))
        .select(col("doc_id"), col("lang"), col("kept_text"))
        .persist()
      val nGated = gated.count()
      rebuilt.unpersist()
      check("gate keeps the prose majority", nGated > nLines / 2)
      check("gate rejects something", nGated < nLines)
      (gated, nGated)
    }

    val (withPlants, pairs, nPlants) = t.span("ext.near_dup_pairs") {
      val plants = gated.filter(pmod(xxhash64(col("doc_id"), lit(seed)), lit(20L)) === 0L)
        .select((col("doc_id") + PlantShift).as("doc_id"), col("lang"), col("kept_text"))
      val nPlants = plants.count()
      val withPlants = gated.unionAll(plants)
      val pairs = DedupOps.nearDupPairs(
        withPlants.select(col("doc_id"), col("kept_text").as("text")),
        "doc_id", "text", k = 3, hashes = 16, bands = 2, threshold = 0.7, maxBucket = 8)
        .persist()
      pairs.count()
      (withPlants, pairs, nPlants)
    }

    val (survivors, nSurv) = t.span("ext.dup_clusters") {
      val nonReps = DedupOps.dupClusters(pairs)
        .filter(col("id") =!= col("cluster_rep"))
        .select(col("id").as("doc_id"))
        .persist()
      val nDropped = nonReps.count()
      val survivors = withPlants.join(nonReps, Seq("doc_id"), "left_anti").persist()
      val nSurv = survivors.count()
      nonReps.unpersist()
      pairs.unpersist()
      gated.unpersist()
      check("dedup conserves docs", nSurv == nGated + nPlants - nDropped)
      check("planted copies collapse", nDropped >= (nPlants * 8) / 10)
      (survivors, nSurv)
    }

    val selected = t.span("ext.dsir") {
      def grams(df: DataFrame) =
        df.select(col("doc_id"), col("lang"),
            explode(HashExprs.shingleFps(TextOps.tokens(col("kept_text")), 2)).as("fp"))
          .select(col("doc_id"), col("lang"), pmod(col("fp"), lit(512L)).as("b"))
      val w = grams(survivors)
        .groupBy(col("b"))
        .agg(count(lit(1)).as("r_cnt"), sum(when(col("lang") === "en", 1L).otherwise(0L)).as("t_cnt"))
        .select(col("b"), expr("(t_cnt + 1) * 1000000 div (r_cnt + 1)").as("w"))
        .persist()
      val meanW = w.agg(expr("sum(w) div count(1)")).head().getLong(0)
      val selected = grams(survivors).join(broadcast(w), "b")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"), sum(col("w")).as("score"))
        .filter(col("score") > col("n_bigrams") * lit(meanW))
        .select(col("doc_id"))
        .join(survivors, "doc_id")
        .persist()
      val nSel = selected.count()
      w.unpersist()
      survivors.unpersist()
      check("DSIR selects a strict subset", nSel > 0L && nSel < nSurv)
      selected
    }

    t.span("ext.pack") {
      val base = selected.select(col("doc_id"),
          pmod(TextOps.fingerprint(col("kept_text")), lit(1000000L)).as("h"),
          TextOps.tokenCount(col("kept_text")).as("n_tokens"))
        .filter(col("n_tokens") > 0)
      val cum = SkewOps.globalCumSum(base, Seq("h", "doc_id"), "n_tokens", "_rk", "cum")
      val spans = cum.select(col("n_tokens"), (col("cum") - col("n_tokens")).as("s"), col("cum").as("e"))
        .select(col("s"), col("e"),
          explode(sequence(expr(s"s div $SeqTokens"), expr(s"(e - 1) div $SeqTokens"))).as("seq_id"))
      val m = spans.select(col("seq_id"),
          greatest(col("s"), col("seq_id") * SeqTokens).as("cs"),
          least(col("e"), (col("seq_id") + 1) * SeqTokens).as("ce"))
        .groupBy(col("seq_id"))
        .agg(sum(col("ce") - col("cs")).as("n_seq_tokens"))
        .agg(count(lit(1)), sum(col("n_seq_tokens")),
          sum(when(col("n_seq_tokens") === SeqTokens, 1L).otherwise(0L))).head()
      val totalTok = base.agg(sum(col("n_tokens"))).head().getLong(0)
      selected.unpersist()
      DedupOps.releaseCaches()
      check("packing conserves tokens", m.getLong(1) == totalTok)
      check("sequence count is ceil(tokens / 512)", m.getLong(0) == (totalTok + SeqTokens - 1) / SeqTokens)
      check("every sequence but the last is full", m.getLong(2) >= m.getLong(0) - 1)
    }
    (checks.size, checks.count(!_._2))
  }

  def setup(spark: SparkSession, seed: Long): Prepared = {
    chain(spark, seed, offsetFor(seed), WarmupN, new Tracer(spark, false, ""))
    Prepared(offsetFor(seed))
  }

  def measure(spark: SparkSession, p: Prepared, seed: Long, seconds: Int, t: Tracer): Outcome = {
    val passes = scala.collection.mutable.ArrayBuffer.empty[(Double, Int, Int)]
    val t0 = System.nanoTime()
    val minPasses = if (t.enabled) 1 else MinPasses
    while (passes.size < minPasses || System.nanoTime() - t0 < seconds * 1000000000L) {
      val s0 = System.nanoTime()
      val (run, failed) = t.span("curate.pass")(chain(spark, seed, p.offset, N, t))
      passes += (((System.nanoTime() - s0) / 1e9, run, failed))
    }
    val wallS = (System.nanoTime() - t0) / 1e9

    var probeFailures = 0
    val layer = if (!t.enabled) Map.empty[String, Double] else {
      val extSpans = Seq("line_dedup", "gopher_gate", "near_dup_pairs", "dup_clusters", "dsir", "pack").map("ext." + _)
      val scanS = t.probe("sources.scan") {
        val s0 = System.nanoTime()
        docs(spark, p.offset, N).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - s0) / 1e9
      }
      val kernelS = t.probe("functions.kernel") {
        val s0 = System.nanoTime()
        docs(spark, p.offset, N)
          .select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"),
            DedupOps.bandSigs(DedupOps.minhash(
              DedupOps.shingleFps(TextOps.tokens(col("text")), 3), 16), 2, 8).as("bands"))
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - s0) / 1e9
      } - scanS
      val mix = QueryMixWorkload.prepare()
      val (mixLat, mixFailed) = t.probe("queries")(QueryMixWorkload.pass(spark, mix, seed, t))
      probeFailures = mixFailed
      QueryMixWorkload.suites.map(s => s"queries.${s}_s" -> t.seconds(s"queries.$s", probe = true)).toMap ++ Map(
        "queries.lat_p50_s" -> Stats.median(mixLat),
        "queries.lat_p80_s" -> Stats.percentile(mixLat, 0.8),
        "sources.rows" -> N.toDouble,
        "sources.scan_s" -> scanS,
        "functions.kernel_s" -> kernelS,
        "functions.kernel_rows_per_s" -> N / kernelS,
        "ext.dup_clusters_jobs" -> t.jobsUnder(Seq("ext.dup_clusters")).toDouble / passes.size,
        "ext.shuffle_mb" -> t.stagesUnder(extSpans).map(_.shuffleWriteBytes).sum / 1048576.0 / passes.size)
    }
    // the chain is a batch: every doc of a pass is done when the pass
    // ends, so a pass is one latency group whose docs share its wall
    Outcome(attempted = passes.map(_._2).sum + (if (t.enabled) QueryMixWorkload.queryList.size else 0),
      failed = passes.map(_._3).sum + probeFailures, itemsPerS = N / Stats.median(passes.map(_._1).toSeq),
      windowS = wallS, latencies = passes.map(p => Seq(p._1)).toSeq, layer = layer, passes = passes.size)
  }
}
