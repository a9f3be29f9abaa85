package graft

import org.apache.spark.sql.execution.FormattedMode
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan contracts for the extension suites — the properties
  * that make these queries survive a 100× scale-up. Each assertion
  * pins a plan shape that a refactor could silently regress (a forced
  * broadcast of a fact table, a cartesian candidate join, a lost
  * partial top-k).
  */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.explainString(FormattedMode)

  /** Count operator instances via the formatted detail lines ("(7) Op")
    * — the tree section would double-count. */
  private def nOps(p: String, op: String): Int =
    ("\\(\\d+\\) " + op).r.findAllIn(p).length

  test("q_exists_rewrite: EXISTS/NOT EXISTS decorrelate to semi + anti hash joins") {
    val p = plan("q_exists_rewrite")
    assert(p.contains("LeftSemi"), s"EXISTS must become a left semi join:\n$p")
    assert(p.contains("LeftAnti"), s"NOT EXISTS must become a left anti join:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"no per-customer re-scan of the fact tables:\n$p")
  }

  test("text_entropy: one codegen'd kernel call per doc — no char explode, no Generate") {
    val p = plan("text_entropy")
    assert(nOps(p, "Generate") == 0,
      s"the whole point of the native kernel: the Spark side must not explode chars:\n$p")
    assert(p.contains("graft_char_entropy_bound"), p)
    assert(nOps(p, "Exchange") == 0, s"per-doc projection only, nothing shuffles:\n$p")
    assert(p.contains("codegen id"),
      s"kernel projection must run inside whole-stage codegen:\n$p")
  }

  test("q_f2_selfjoin_est: hash-free sketch fold — one agg exchange pair, no join on the sketch side") {
    val p = plan("q_f2_selfjoin_est")
    // 24 counters fold in TWO ungrouped aggregates (sketch + exact-F2
    // total) and one keyed aggregate (exact per-key counts): at most
    // those exchanges, nothing sorts, and the stitch is the 1-row
    // broadcast.
    assert(nOps(p, "Sort") == 0, s"nothing in the F2 row may sort:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"1-row exact side must broadcast into the stitch:\n$p")
    assert(nOps(p, "Window") == 0, s"no window anywhere:\n$p")
  }

  test("text_zipf: top-64 rank plans as a partial top-k, never a vocabulary sort") {
    val p = plan("text_zipf")
    assert(p.contains("TakeOrderedAndProject") || p.contains("WindowGroupLimit"),
      s"the uncast rank filter must push a partial top-64:\n$p")
  }

  test("events_periodicity: argmax window partitions by type — never a global sort") {
    val p = plan("events_periodicity")
    // the only SinglePartition allowed is the 1-row calendar-bounds
    // aggregate; the argmax window itself must be keyed by event_type
    // (WindowAuditSpec enforces the general no-global-window rule).
    assert(p.contains("windowspecdefinition(event_type"),
      s"argmax window must partition by event_type:\n$p")
    assert(nOps(p, "Window") - nOps(p, "WindowGroupLimit") == 1,
      s"one argmax window only:\n$p")
    assert(p.contains("WindowGroupLimit"),
      s"the rk=1 filter must push a per-type partial rank limit:\n$p")
    graft.core.QueryCaches.release()
  }

  test("mm_dominant_bin: kernel argmax inside the scan partition — zero joins, one rollup exchange") {
    val p = plan("mm_dominant_bin")
    assert(p.contains("graft_byte_hist_counts"), p)
    assert(nOps(p, "Exchange") == 1, s"blob never shuffles; only the 16-group rollup does:\n$p")
    assert(nOps(p, "Generate") == 0, s"no char/byte explode — the kernel is one call:\n$p")
  }

  test("text_kn_lm: bigrams ride the true Generator, not a materialized struct array") {
    val p = plan("text_kn_lm")
    assert(p.contains("graft_explode_bigrams"),
      s"bigram expansion must be the streaming UDTF:\n$p")
    assert(!p.contains("transform(sequence"),
      s"no per-doc bigram array materialization anywhere:\n$p")
    graft.core.QueryCaches.release()
    graft.ext.DedupOps.releaseCaches()
  }

  test("sim_link_predict: wedge equi-joins + partial global top-k, never all-pairs") {
    val p = plan("sim_link_predict")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("WindowGroupLimit"),
      s"global top-20 must push a partial rank limit:\n$p")
    graft.core.QueryCaches.release()
  }

  test("sim_topk: query side broadcast, partial top-k before the rank exchange") {
    val p = plan("sim_topk")
    assert(p.contains("WindowGroupLimit"), "rank limit must push a partial top-k")
    assert(p.contains("BroadcastExchange"), "query set must broadcast")
    // corpus must NOT be broadcast: exactly one broadcast (the query set)
    assert(nOps(p, "BroadcastExchange") == 1, p)
  }

  test("sim_mmr_ann: LSH bucket candidates — no brute corpus×queries nested loop") {
    // The operating-path MMR: the candidate stage must be the sim_lsh
    // bucket equi-join, not the ground-truth row's broadcast
    // nested-loop corpus scan; the greedy stages stay bounded joins.
    val p = plan("sim_mmr_ann")
    assert(!p.contains("CartesianProduct"), p)
    assert(nOps(p, "BroadcastNestedLoopJoin") == 0,
      s"candidates must come from the bucket equi-join, not a corpus NLJ:\n$p")
    graft.core.QueryCaches.release()
  }

  test("sim_lsh: bucket equi-join (hash), never nested-loop over the corpus") {
    val p = plan("sim_lsh")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("sim_pairs_rewrite (declared): executes under the rule, leaves the session CLEAN") {
    // The DECLARED query only states graft_cosine >= θ and runs under
    // the injected rule (the nested-loop → equi-join plan change is
    // proved by the two LshJoinRewrite tests below). Round-7 advice:
    // the query must not leak its opt-in — after it returns, the
    // touched confs are restored and an UNRELATED cosine join planned
    // in the same session keeps its naive quadratic plan unless the
    // caller opts in itself.
    import org.apache.spark.sql.functions._
    import graft.functions.HashExprs
    spark.conf.unset("spark.graft.lsh.rewrite")
    spark.conf.set("spark.graft.lsh.bits", "7") // sentinel: must survive
    try {
      val got = SparkEntry.queries("sim_pairs_rewrite")(spark, sf)
      assert(got.count() > 0, "planted twins must pair")
      assert(spark.conf.getOption("spark.graft.lsh.rewrite").isEmpty,
        "query must restore the rewrite conf it set")
      assert(spark.conf.get("spark.graft.lsh.bits") == "7",
        "query must restore the prior bits value, not clobber it")
      val e = spark.read.parquet(s"$sf/embeddings.parquet")
        .select(col("vec_id"), col("embedding"))
      val a = e.select(col("vec_id").as("ida"), col("embedding").as("va"))
      val b = e.select(col("vec_id").as("idb"), col("embedding").as("vb"))
      val unrelated = a.join(b,
        HashExprs.cosineSim(col("va"), col("vb")) >= 0.9 && col("ida") < col("idb"))
        .queryExecution.executedPlan.toString
      assert(unrelated.contains("BroadcastNestedLoopJoin") || unrelated.contains("CartesianProduct"),
        s"an unrelated cosine join must NOT inherit the rewrite:\n$unrelated")
    } finally {
      spark.conf.unset("spark.graft.lsh.bits")
      graft.ext.DedupOps.releaseCaches()
    }
  }

  test("curate_pipeline: scoring lives in the scan projection — no joins, two aggregations") {
    // quality + language + fingerprint are computed inline over the
    // union scan; the only exchanges are the fp-dedup and language
    // rollup hash aggregations (partial + final each). A join or a
    // window here would mean a stage recomputed or shuffled the corpus.
    val p = plan("curate_pipeline")
    val joins = nOps(p, "SortMergeJoin") + nOps(p, "BroadcastHashJoin") +
      nOps(p, "ShuffledHashJoin") + nOps(p, "BroadcastNestedLoopJoin") +
      nOps(p, "CartesianProduct")
    assert(joins == 0, s"curation pipeline must be join-free:\n$p")
    assert(nOps(p, "HashAggregate") >= 4, "two partial+final aggregations expected:\n" + p)
    assert(!p.contains("Window"), "no window operator expected:\n" + p)
  }

  test("dedup_near_capped: one-shuffle bucket aggregation, no count-join, no self-join") {
    // The capped path must be [groupBy collect_list -> size filter ->
    // two generators], NOT [bucket-count join + bucket self-join]: the
    // only join in the plan is the final Jaccard-verify lookup of the
    // (tiny, broadcast-able) pair set against the signature relation.
    val p = plan("dedup_near_capped")
    assert(!p.contains("CartesianProduct"), p)
    assert(nOps(p, "Generate") >= 2, "pair generation must be explode-based:\n" + p)
    val joins = nOps(p, "SortMergeJoin") + nOps(p, "BroadcastHashJoin") +
      nOps(p, "ShuffledHashJoin")
    assert(joins <= 2, s"capped path must not join the exploded relation ($joins joins):\n$p")
  }

  test("sim_pairs_capped: id-only bucket aggregation, explode pair gen, verify-lookup joins only") {
    // candidate generation must be the id-collect + explode shape (no
    // self-join of the bucketed relation); the only joins are the two
    // cosine-verify lookups of the cap-bounded pair set
    val p = plan("sim_pairs_capped")
    assert(!p.contains("CartesianProduct"), p)
    assert(nOps(p, "Generate") >= 2, "pair generation must be explode-based:\n" + p)
    val joins = nOps(p, "SortMergeJoin") + nOps(p, "BroadcastHashJoin") +
      nOps(p, "ShuffledHashJoin")
    assert(joins <= 2, s"only the two verify lookups may join ($joins joins):\n$p")
  }

  test("curate_curriculum: global order via range-ranked zipWithIndex — no single-partition window") {
    // the range sort + zipWithIndex live upstream of the ExistingRDD
    // boundary (SkewOps.globalRank), so like q_analyze_stats the pin is
    // the ABSENCE of the oracle's global-order window
    val p = plan("curate_curriculum")
    assert(!p.contains("Window"),
      "global position must come from globalRank, not a global-order window:\n" + p)
  }

  test("events_ses_forecast: recurrence is an in-row fold — no Window, no join, one scan") {
    val p = plan("events_ses_forecast")
    assert(!p.contains(") Window"), "SES must fold in-row, not via a window:\n" + p)
    assert(nOps(p, "SortMergeJoin") + nOps(p, "BroadcastHashJoin") +
      nOps(p, "ShuffledHashJoin") == 0, "no joins:\n" + p)
    assert(nOps(p, "Scan parquet") == 1, "one fact scan:\n" + p)
  }

  test("sim_knn_classify: bucketed candidates, map-side vote argmax, no cartesian") {
    val p = plan("sim_knn_classify")
    assert(!p.contains("CartesianProduct"), "kNN must stay bucket-local:\n" + p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("max_by"), "vote argmax must be the map-side aggregate:\n" + p)
  }

  test("sim_hard_negatives: anchors broadcast once, partial top-k on both branches") {
    val p = plan("sim_hard_negatives")
    assert(nOps(p, "BroadcastExchange") == 1, "only the anchor set may broadcast:\n" + p)
    assert(nOps(p, "WindowGroupLimit") >= 2,
      "neg and pos branches must each push a partial top-k:\n" + p)
    assert(p.contains("InMemoryTableScan"),
      "both branches must share the persisted scored pass, not re-scan:\n" + p)
  }

  test("text_ngram_lm: model tables broadcast — corpus makes one pass, no shuffle joins") {
    val p = plan("text_ngram_lm")
    assert(!p.contains("CartesianProduct"), p)
    // bigram-count, unigram-count, and vocab-size models all broadcast:
    // the scoring pass must not shuffle the exploded corpus
    assert(nOps(p, "BroadcastExchange") >= 3, p)
    assert(nOps(p, "SortMergeJoin") + nOps(p, "ShuffledHashJoin") == 0,
      "LM lookup must be broadcast-only:\n" + p)
  }

  test("text_bm25: query terms broadcast, partial top-k, no cartesian") {
    val p = plan("text_bm25")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("WindowGroupLimit"), "top-5 must push a partial top-k:\n" + p)
    // query-term set, df table, and the scalar stats row all broadcast;
    // only tf⨝dl may shuffle
    assert(nOps(p, "BroadcastExchange") >= 3, p)
  }

  test("dedup_winnow: df-capped fp equi-join — no cartesian, selection kernel codegen'd") {
    val p = plan("dedup_winnow")
    assert(!p.contains("CartesianProduct"), "winnow pairing must stay fp-bucketed:\n" + p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("graft_winnow_mins"), "selection must be the native kernel:\n" + p)
  }

  test("q_table_checksum: one scan, one map-side-combined aggregate, fp codegen'd") {
    val p = plan("q_table_checksum")
    assert(nOps(p, "Scan parquet") == 1, p)
    assert(nOps(p, "HashAggregate") == 2, "partial+final aggregate only:\n" + p)
    assert(p.contains("graft_fingerprint"), "row hash must be the native kernel:\n" + p)
    assert(nOps(p, "Exchange") == 1, "only the bucket-key exchange:\n" + p)
  }

  test("dedup_entity_jw: blocking equi-join bounds candidates — no cartesian, JW codegen'd") {
    val p = plan("dedup_entity_jw")
    assert(!p.contains("CartesianProduct"), "entity resolution must never go all-pairs")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // the JW score must run inside whole-stage codegen, not a row detour
    assert(p.contains("graft_jaro_winkler"), p)
  }
  test("dedup_near: candidate generation is equi-join on (band,sig) — no cartesian") {
    val p = plan("dedup_near")
    assert(!p.contains("CartesianProduct"), "LSH must never go all-pairs")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("dedup_exact: single shuffle with map-side partial aggregation") {
    val p = plan("dedup_exact")
    // partial + final HashAggregate pair around one Exchange
    assert(nOps(p, "HashAggregate") >= 2, p)
    assert(nOps(p, "Exchange") <= 1, p)
  }

  test("events_window / events_daily_active: pruned scans (only needed columns read)") {
    val pw = plan("events_window")
    val sch = "ReadSchema.*".r.findFirstIn(pw).getOrElse("")
    assert(sch.contains("ts") && sch.contains("event_type") && sch.contains("value"), sch)
    assert(!sch.contains("props") && !sch.contains("user_id"),
      s"window agg must not read unused columns: $sch")
    val pd = plan("events_daily_active")
    val sch2 = "ReadSchema.*".r.findFirstIn(pd).getOrElse("")
    assert(!sch2.contains("props") && !sch2.contains("event_type"), sch2)
  }

  test("text_token_freq: top-k via partial WindowGroupLimit, map-side combine wordcount") {
    val p = plan("text_token_freq")
    // Spark picks TakeOrderedAndProject (limit pushdown through the
    // rank filter) or WindowGroupLimit — both are partial top-k.
    assert(p.contains("WindowGroupLimit") || p.contains("TakeOrderedAndProject"),
      "global top-20 must pre-limit per partition")
    assert(nOps(p, "HashAggregate") >= 2, "wordcount needs partial agg")
  }

  test("LshJoinRewrite: cosine-threshold join becomes a bucket equi-join (opt-in)") {
    import org.apache.spark.sql.functions._
    import graft.functions.HashExprs
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val corpus = e.unionAll(e.select((col("vec_id") + 1000000L).as("vec_id"), col("embedding")))
    val a = corpus.select(col("vec_id").as("ida"), col("embedding").as("va"))
    val b = corpus.select(col("vec_id").as("idb"), col("embedding").as("vb"))
    def pairs = a.join(b,
      HashExprs.cosineSim(col("va"), col("vb")) >= 0.999 && col("ida") < col("idb"))
      .select(col("ida"), col("idb"))

    val n = e.count()
    // Without the rewrite: quadratic nested-loop scoring
    val before = pairs.queryExecution.executedPlan.toString
    assert(before.contains("BroadcastNestedLoopJoin") || before.contains("CartesianProduct"), before)

    spark.conf.set("spark.graft.lsh.rewrite", "true")
    try {
      val after = pairs.queryExecution.executedPlan.toString
      assert(!after.contains("BroadcastNestedLoopJoin") && !after.contains("CartesianProduct"),
        s"rewrite must produce an equi-join:\n$after")
      // identical planted copies always collide in their bucket → full recall
      val got = pairs.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(got == (0L until n).map(i => (i, i + 1000000L)), s"got ${got.take(5)}...")
    } finally {
      spark.conf.set("spark.graft.lsh.rewrite", "false")
    }
  }

  test("LshJoinRewrite: literal-on-left spelling (θ <= cosine) also becomes an equi-join") {
    // Round-4 finding: only `cos >= θ` matched — `lit(θ) <= cos` (and
    // the lower bound a BETWEEN parses to) silently kept the quadratic
    // nested-loop plan with the rewrite "enabled".
    import org.apache.spark.sql.functions._
    import graft.functions.HashExprs
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val a = e.select(col("vec_id").as("ida"), col("embedding").as("va"))
    val b = e.select(col("vec_id").as("idb"), col("embedding").as("vb"))
    def pairs = a.join(b,
      lit(0.999) <= HashExprs.cosineSim(col("va"), col("vb")) && col("ida") < col("idb"))
      .select(col("ida"), col("idb"))
    val before = pairs.queryExecution.executedPlan.toString
    assert(before.contains("BroadcastNestedLoopJoin") || before.contains("CartesianProduct"), before)
    spark.conf.set("spark.graft.lsh.rewrite", "true")
    try {
      val after = pairs.queryExecution.executedPlan.toString
      assert(!after.contains("BroadcastNestedLoopJoin") && !after.contains("CartesianProduct"),
        s"flipped spelling must also rewrite to an equi-join:\n$after")
    } finally {
      spark.conf.set("spark.graft.lsh.rewrite", "false")
    }
  }

  test("IntervalJoinRewrite: BETWEEN containment join becomes a bucketized equi-join (opt-in, EXACT)") {
    import org.apache.spark.sql.functions._
    val ev = graft.queries.Tables.loadEvents(spark, sf)
      .select(col("user_id"), col("event_id"), expr("ts div 1000").as("tus"))
    val iv = ev.groupBy(col("user_id").as("iv_user"))
      .agg(min(col("tus")).as("lo"), max(col("tus")).as("hi"))
      .filter(col("iv_user") % 7 === 0)
    val pts = ev.select(col("user_id").as("pt_user"), col("event_id"), col("tus"))
    def joined = pts.join(iv,
      col("tus") >= col("lo") && col("tus") <= col("hi") &&
        col("pt_user") =!= col("iv_user"))
      .groupBy(col("iv_user")).agg(count(lit(1)).as("n"))
    val before = joined.queryExecution.executedPlan.toString
    assert(before.contains("BroadcastNestedLoopJoin") || before.contains("CartesianProduct"),
      s"the naive containment join must be a nested loop:\n$before")
    val expected = joined.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    spark.conf.set("spark.graft.interval.rewrite", "true")
    spark.conf.set("spark.graft.interval.bucket", "3600000000")
    try {
      val after = joined.queryExecution.executedPlan.toString
      assert(!after.contains("BroadcastNestedLoopJoin") && !after.contains("CartesianProduct"),
        s"rewrite must produce a bucket equi-join:\n$after")
      assert(after.contains("Generate"), s"interval side must explode into buckets:\n$after")
      // unlike the LSH rewrite this one is EXACT: same rows, any width
      val got = joined.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(got == expected, s"rewrite changed results: got ${got.take(3)} vs ${expected.take(3)}")
    } finally {
      spark.conf.unset("spark.graft.interval.rewrite")
      spark.conf.unset("spark.graft.interval.bucket")
    }
  }

  test("IntervalJoinRewrite: a join that already has a cross-side equi-key is left alone") {
    import org.apache.spark.sql.functions._
    val ev = graft.queries.Tables.loadEvents(spark, sf)
      .select(col("user_id"), col("event_id"), expr("ts div 1000").as("tus"))
    val iv = ev.groupBy(col("user_id").as("iv_user"))
      .agg(min(col("tus")).as("lo"), max(col("tus")).as("hi"))
    val pts = ev.select(col("user_id").as("pt_user"), col("tus"))
    spark.conf.set("spark.graft.interval.rewrite", "true")
    try {
      val keyed = pts.join(iv,
        col("pt_user") === col("iv_user") &&
          col("tus") >= col("lo") && col("tus") <= col("hi"))
        .queryExecution.executedPlan.toString
      assert(!keyed.contains("Generate"),
        s"an equi-keyed range join needs no bucketing — rule must skip:\n$keyed")
    } finally {
      spark.conf.unset("spark.graft.interval.rewrite")
    }
  }

  test("sampleFrames: pure column expressions — no ScalaUDF in the plan (codegen survives)") {
    // Round-4 finding: the index/slice UDFs broke whole-stage codegen on
    // a path that scans every blob. The plan must carry no UDF nodes.
    import org.apache.spark.sql.Row
    import graft.ext.MultimodalOps
    val rows = (0 until 4).map { i =>
      Row(i.toLong, Array.tabulate[Byte](100)(_.toByte), Row("video", "raw", 4, 3, 0, 10))
    }
    val media = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), MultimodalOps.mediaSchema)
    val frames = MultimodalOps.sampleFrames(media, every = 3)
    val hasUdf = frames.queryExecution.optimizedPlan.collect { case p => p.expressions }
      .flatten.exists(_.exists(
        _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.ScalaUDF]))
    assert(!hasUdf, "sampleFrames must not plan any ScalaUDF")
    assert(frames.queryExecution.explainString(FormattedMode).contains("codegen id"),
      "frame sampling must stay inside whole-stage codegen")
  }

  test("AQE skew-join: a hot key is split at runtime (skew=true in the final plan)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // one key carries ~all rows; with thresholds lowered AQE must
    // split the oversized partition instead of wedging one task
    val confs = Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "10KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "10KB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val big = (0 until 200000).map(i => (if (i % 100 == 0) i.toLong else 1L, s"payload-$i"))
        .toDF("k", "p")
      val right = (0L until 4000L).map(k => (k, s"r$k")).toDF("k", "r")
      val j = big.join(right, "k")
      // drive THIS queryExecution (count() would spawn its own) so AQE
      // finalizes the inspected plan
      val qe = j.queryExecution
      assert(qe.executedPlan.execute().count() > 0)
      val finalPlan = qe.executedPlan.toString
      assert(finalPlan.contains("skew=true"),
        s"AQE must mark the skewed join:\n${finalPlan.take(2000)}")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("bucketed tables co-locate: the bucket join runs with NO shuffle exchange") {
    // The 100 TB join strategy the brief calls out: pre-bucket both
    // fact tables on the join key → sort-merge join reads bucketed
    // files directly, no Exchange on either side.
    import org.apache.spark.sql.functions._
    // warehouse.dir is a static conf — tables land in ./spark-warehouse
    // (gitignored) and are dropped (managed → files deleted) at the end.
    spark.sql("DROP TABLE IF EXISTS li_b"); spark.sql("DROP TABLE IF EXISTS ord_b")
    spark.read.parquet(s"$sf/lineitem.parquet")
      .select(col("l_orderkey"), col("l_quantity"))
      .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable("li_b")
    spark.read.parquet(s"$sf/orders.parquet")
      .select(col("o_orderkey"), col("o_totalprice"))
      .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable("ord_b")
    val joined = spark.table("li_b")
      .join(spark.table("ord_b"), col("l_orderkey") === col("o_orderkey"))
    val p = joined.queryExecution.explainString(FormattedMode)
    assert(nOps(p, "Exchange") == 0, s"bucketed join must not shuffle:\n$p")
    assert(joined.count() > 0)
    spark.sql("DROP TABLE li_b"); spark.sql("DROP TABLE ord_b")
  }

  test("q_dpp_prune: the fact scan carries a runtime dynamicpruning partition filter") {
    // The star-schema scan killer: no static predicate on the fact —
    // the dim filter must reach the partitioned scan at RUNTIME via
    // Catalyst's PartitionPruning rule (dynamicpruningexpression in
    // PartitionFilters). If this pin breaks, the query silently reads
    // every partition of the fact table — at 100 TB that is the whole
    // point of the layout gone.
    val p = plan("q_dpp_prune")
    assert(p.contains("dynamicpruning"),
      s"fact scan must carry a dynamic partition-pruning filter:\n${p.take(3000)}")
    assert(p.contains("PartitionFilters"), p.take(1500))
  }

  test("q_encode_cost: three bounded-group aggregations, zero windows, zero generic joins") {
    // The kernel path replaces the oracle's three global lag windows
    // with per-row-group collect + one codegen kernel call — nothing
    // sorts globally and nothing joins.
    val p = plan("q_encode_cost")
    assert(nOps(p, "Window") == 0, s"the kernel path must not window:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("events_attribution: as-of join plans as union + window — no join operator at all") {
    // The carry-forward shape is the whole point of AsOfJoin: a range
    // join would nested-loop per key. The plan must contain a Window
    // and ZERO join nodes of any kind.
    val p = plan("events_attribution")
    val joins = nOps(p, "SortMergeJoin") + nOps(p, "BroadcastHashJoin") +
      nOps(p, "ShuffledHashJoin") + nOps(p, "BroadcastNestedLoopJoin") +
      nOps(p, "CartesianProduct")
    assert(joins == 0, s"as-of join must be join-free (union + window):\n$p")
    assert(nOps(p, "Window") >= 1, p)
    assert(p.contains("Union"), p)
  }

  test("sim_knn_graph: bucket equi-join with partial top-k, never nested-loop") {
    val p = plan("sim_knn_graph")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p)
    assert(p.contains("WindowGroupLimit"), "per-source top-k must push a partial rank limit")
  }

  test("text_tfidf: the corpus is exploded once — df reads the persisted tf table") {
    // Without the persist the df branch re-explodes the corpus (its
    // partial aggregate is count-pruned, so the subtrees differ and AQE
    // exchange reuse never matches). With it, `documents` is scanned
    // for token data exactly once (the N-count scan is column-pruned)
    // and both join children read the in-memory tf relation.
    try {
      val p = plan("text_tfidf")
      assert(nOps(p, "Scan parquet") <= 2,
        s"df must read the tf cache, not re-explode the corpus:\n$p")
      assert(nOps(p, "InMemoryTableScan") + nOps(p, "TableCacheQueryStage") >= 2,
        s"both tf consumers must read the cached relation:\n$p")
      assert(p.contains("WindowGroupLimit"),
        "top-3-per-doc must push a partial rank limit")
    } finally graft.ext.DedupOps.releaseCaches()
  }

  test("q_value_bands: BETWEEN join broadcasts the 3-row band table (BNLJ is deliberate)") {
    // no equi-key ⇒ nested loop is unavoidable; correctness of the
    // SHAPE is that the loop runs against a broadcast O(bands) build
    // side inside the fact scan stage — the fact table never shuffles
    // before aggregation.
    val p = plan("q_value_bands")
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(nOps(p, "BroadcastExchange") == 1, p)
  }

  test("q18_large_orders: lineitem pre-aggregates before any join (only outliers join)") {
    // The HAVING aggregate must run on the fact table FIRST so the
    // 3-way join sees qualifying orderkeys only — at 100 TB the join
    // input is the outlier set, not 600B lineitems.
    val p = plan("q18_large_orders")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    val joins = nOps(p, "SortMergeJoin") + nOps(p, "BroadcastHashJoin") +
      nOps(p, "ShuffledHashJoin")
    assert(joins == 2, s"exactly orders+customer joins expected:\n$p")
    assert(nOps(p, "HashAggregate") >= 2, s"partial+final HAVING aggregate expected:\n$p")
  }

  test("q17_small_qty: the correlated per-part average decorrelates to equi-joins") {
    // No per-row subquery probe and no nested loop may survive — the
    // bound is a partkey-keyed aggregate joined back to the fact rows.
    val p = plan("q17_small_qty")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(nOps(p, "HashAggregate") >= 2, s"per-part bound aggregate expected:\n$p")
  }

  test("scalar-subquery queries: the 1-row aggregate broadcasts; facts never do") {
    // q22: avg-acctbal crossJoin is a broadcast of ONE row; the NOT
    // EXISTS is a genuine anti join. q15: max-revenue equality joins
    // against a 1-row broadcast (Catalyst may hash-join the equality).
    try {
      val p22 = plan("q22_rich_idle")
      assert(p22.contains("LeftAnti"), s"anti join expected:\n$p22")
      assert(!p22.contains("CartesianProduct"), p22)
      assert(nOps(p22, "BroadcastExchange") >= 1, p22)
      val p15 = plan("q15_top_supplier")
      assert(!p15.contains("CartesianProduct"), p15)
      assert(nOps(p15, "BroadcastExchange") >= 1, p15)
    } finally graft.ext.DedupOps.releaseCaches() // q15 tracks its rev table
  }

  test("sim_kmeans: seeds broadcast once; the corpus is never broadcast") {
    val p = plan("sim_kmeans")
    assert(nOps(p, "BroadcastExchange") == 1, s"exactly the seed set broadcasts:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
  }

  test("curate_boilerplate: grams exploded once — df reads the persisted gram table") {
    // Same contract as text_tfidf: the corpus-sized explode happens a
    // single time; both the df aggregate and the join probe read the
    // cached gram relation.
    try {
      val p = plan("curate_boilerplate")
      assert(nOps(p, "Scan parquet") <= 1,
        s"corpus must be scanned once (through the gram cache):\n$p")
      assert(nOps(p, "InMemoryTableScan") + nOps(p, "TableCacheQueryStage") >= 2,
        s"both gram consumers must read the cached relation:\n$p")
    } finally graft.ext.DedupOps.releaseCaches()
  }

  test("curate_novelty: grams exploded once — first-occurrence agg and probe read the cache") {
    try {
      val p = plan("curate_novelty")
      assert(nOps(p, "Scan parquet") <= 1,
        s"corpus must be scanned once (through the gram cache):\n$p")
      assert(nOps(p, "InMemoryTableScan") + nOps(p, "TableCacheQueryStage") >= 2,
        s"both gram consumers must read the cached relation:\n$p")
    } finally graft.ext.DedupOps.releaseCaches()
  }

  test("q_mv_advisor: all candidates measured in ONE fact scan via a single Expand") {
    val p = plan("q_mv_advisor")
    assert(nOps(p, "Scan parquet") == 1,
      s"a naive advisor re-scans per candidate; this plan must not:\n$p")
    assert(nOps(p, "Expand") == 1, s"grouping sets = one Expand:\n$p")
  }

  test("q_benford: orders scanned once through the cached 9-row histogram; only o_totalprice read") {
    try {
      val p = plan("q_benford")
      assert(nOps(p, "Scan parquet") <= 1,
        s"total branch must read the cached histogram, not re-scan orders:\n$p")
      assert(p.contains("struct<o_totalprice:double>"),
        s"scan must prune to the single audited column:\n$p")
    } finally graft.core.QueryCaches.release()
  }

  test("events_pareto: rank comes from globalRank — no Window node at all") {
    try {
      val p = plan("events_pareto")
      assert(nOps(p, "Window") == 0,
        s"the Gini rank must ride repartitionByRange+zipWithIndex, not a window:\n$p")
    } finally graft.core.QueryCaches.release()
  }

  test("events_lift: basket-keyed pair join — no cartesian, corpus scanned once via the cache") {
    try {
      val p = plan("events_lift")
      assert(!p.contains("CartesianProduct"), s"pair join must stay equi-keyed:\n$p")
      assert(nOps(p, "Scan parquet") <= 1,
        s"marginals, pairs, and basket total must all read the cached distinct relation:\n$p")
    } finally graft.core.QueryCaches.release()
  }

  test("q_corr_stats: one moment aggregate, no window, no sort") {
    val p = plan("q_corr_stats")
    assert(nOps(p, "Window") == 0 && nOps(p, "Sort") == 0,
      s"the correlation row is pure map-side-combined moments:\n$p")
  }

  test("text_chunk: pure scan -> generate map — zero exchanges") {
    val p = plan("text_chunk")
    assert(nOps(p, "Exchange") == 0,
      s"chunking must not shuffle (it is a per-document map):\n$p")
    assert(nOps(p, "Generate") == 1, s"one sequence explode:\n$p")
  }

  test("curate_line_dedup: one corpus scan, df + rebuild both read the cached line relation, no Window") {
    // The line relation is exploded once and persisted; the df
    // aggregate and the join probe both read the cache. The rebuild
    // is a hash aggregate (array_sort over collected structs), NOT a
    // window — a per-doc Window would be fine, but a missing
    // partition key there has sunk plans before; pin its absence.
    try {
      val p = plan("curate_line_dedup")
      assert(nOps(p, "Scan parquet") <= 1,
        s"corpus must be scanned once (through the line cache):\n$p")
      assert(nOps(p, "InMemoryTableScan") + nOps(p, "TableCacheQueryStage") >= 2,
        s"both line consumers must read the cached relation:\n$p")
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
      assert(nOps(p, "Window") == 0, s"rebuild must be aggregate-shaped, not a window:\n$p")
    } finally graft.ext.DedupOps.releaseCaches()
  }

  test("curate_dsir: corpus exploded once; weight table + threshold broadcast; no corpus shuffle join") {
    // The 512-row weight table must reach the scoring side as a
    // broadcast hash join and the scalar threshold as the 1-row
    // broadcast idiom — the corpus-sized gram relation must never be
    // the build side of anything, and it is exploded exactly once
    // (both the distribution aggregate and the scoring join read the
    // cache).
    try {
      val p = plan("curate_dsir")
      assert(nOps(p, "Scan parquet") <= 1,
        s"corpus must be scanned once (through the gram cache):\n$p")
      assert(nOps(p, "InMemoryTableScan") + nOps(p, "TableCacheQueryStage") >= 2,
        s"both gram consumers must read the cached relation:\n$p")
      assert(nOps(p, "BroadcastHashJoin") >= 1,
        s"the 512-row weight table must broadcast:\n$p")
      assert(!p.contains("CartesianProduct"), p)
      assert(nOps(p, "BroadcastNestedLoopJoin") <= 1,
        s"only the 1-row threshold may ride the BNLJ scalar idiom:\n$p")
      assert(nOps(p, "Window") == 0, p)
    } finally graft.ext.DedupOps.releaseCaches()
  }

  test("curate_e2e: stage composition stays cache-fed — bounded scans, broadcast-only scalar joins") {
    // Three persisted intermediates (lines, gated corpus, grams) must
    // actually feed their consumers; documents is scanned at most
    // twice (line explode + lang projection); the only BNLJ is the
    // 1-row threshold; no window anywhere (rebuild is the aggregate
    // shape).
    try {
      val p = plan("curate_e2e")
      assert(nOps(p, "Scan parquet") <= 2, s"documents must be scanned <= 2x:\n$p")
      assert(nOps(p, "InMemoryTableScan") + nOps(p, "TableCacheQueryStage") >= 5,
        s"the cached line/gated/gram relations must feed all consumers:\n$p")
      assert(!p.contains("CartesianProduct"), p)
      assert(nOps(p, "BroadcastNestedLoopJoin") <= 1,
        s"only the 1-row threshold may ride the BNLJ scalar idiom:\n$p")
      assert(nOps(p, "Window") == 0, p)
    } finally graft.ext.DedupOps.releaseCaches()
  }

  test("events_kmv_distinct: rank filter keeps the partial WindowGroupLimit (mergeable-sketch shape)") {
    // The k-th-min selection must prune to <= 16 rows per type BEFORE
    // the final per-type sort — losing this turns a fixed-size sketch
    // into a full distinct-id sort at the window.
    try {
      val p = plan("events_kmv_distinct")
      assert(nOps(p, "WindowGroupLimit") >= 1,
        s"rk <= 16 must infer a WindowGroupLimit:\n$p")
      assert(!p.contains("CartesianProduct"), p)
    } finally graft.ext.DedupOps.releaseCaches()
  }

  test("events_trend: two aggregates, no window, no join, pruned scan") {
    val p = plan("events_trend")
    assert(nOps(p, "Scan parquet") == 1, p)
    assert(nOps(p, "HashAggregate") >= 4, // partial+final × two aggregates
      s"daily rollup then per-type sums must both map-side combine:\n$p")
    assert(nOps(p, "Window") == 0 && !p.contains("Join"), p)
    // Pin pruning by field NAMES, not physical types: the testdata
    // generator has shipped ts as both bigint-nanos and timestamp[us]
    // (normalized downstream by Tables.normalizeEventTs), and the scan
    // reads whichever the file stores.
    val readSchema = "ReadSchema: struct<([^>]*)>".r
      .findFirstMatchIn(p).map(_.group(1)).getOrElse(fail(s"no ReadSchema in plan:\n$p"))
    val prunedFields = readSchema.split(",").map(_.takeWhile(_ != ':').trim).toSet
    assert(prunedFields == Set("ts", "event_type"),
      s"scan must prune to (ts, event_type), got $prunedFields:\n$p")
  }

  test("dedup_substring: windows exploded once; island detection windows per-document only") {
    // The (doc, pos, fp) relation is exploded once and persisted — df
    // aggregate, shared-join probe, and the n_windows rollup all read
    // the cache. The gaps-and-islands row_number is partitioned by
    // doc_id (bounded partitions); nothing may serialize globally.
    try {
      val p = plan("dedup_substring")
      assert(nOps(p, "Scan parquet") <= 2,
        s"corpus union feeds the window cache once per branch:\n$p")
      assert(nOps(p, "InMemoryTableScan") + nOps(p, "TableCacheQueryStage") >= 3,
        s"all three window consumers must read the cached relation:\n$p")
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
      assert(!p.contains("SinglePartition"), s"nothing may serialize to one partition:\n$p")
    } finally graft.ext.DedupOps.releaseCaches()
  }

  test("sim_recall_report: both rankings keep the partial top-k; corpus never cartesians unbroadcast") {
    val p = plan("sim_recall_report")
    assert(nOps(p, "WindowGroupLimit") >= 2,
      s"both the brute and LSH rankings must push partial top-k:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    assert(nOps(p, "BroadcastExchange") >= 2, s"query sets must broadcast:\n$p")
  }

  test("native kernels generate valid Janino code (no codegen fallback needed)") {
    // With fallback disabled, any malformed generated code (or a kernel
    // not reachable as a static call) fails the query instead of
    // silently degrading to interpreted eval.
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      Seq("dedup_near", "dedup_simhash", "sim_lsh", "mm_bytes", "mm_hist_sim",
        "text_fingerprint", "dedup_edit_within", "mm_phash",
        "mm_audio_dupes", "mm_bin_entropy", "mm_bin_frames").foreach { q =>
        assert(SparkEntry.queries(q)(spark, sf).count() >= 0, q)
      }
    } finally spark.conf.set("spark.sql.codegen.fallback", "true")
  }

  test("mm_bin_*: the minted binary payload never crosses an exchange") {
    // The binary-fixture scale contract, pinned fleet-style: the blob
    // mint is a scan-partition projection and every downstream exchange
    // carries only fixed-width derived columns (hashes, stats, tile
    // keys) — no Exchange in any mm_bin plan may output a BinaryType
    // attribute. Losing this (a rollup keyed before the kernel, a join
    // fetching content) silently ships megabyte blobs through the
    // shuffle at real media sizes.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      Seq("mm_bin_sniff", "mm_bin_entropy", "mm_bin_phash", "mm_bin_tiles",
        "mm_bin_frames").foreach { q =>
        val exec = SparkEntry.queries(q)(spark, sf).queryExecution.executedPlan
        val offenders = exec.collect {
          case e: org.apache.spark.sql.execution.exchange.Exchange
            if e.output.exists(_.dataType ==
              org.apache.spark.sql.types.BinaryType) => e
        }
        assert(offenders.isEmpty,
          s"$q ships binary across an exchange:\n${offenders.headOption}")
      }
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      graft.ext.DedupOps.releaseCaches()
      graft.core.QueryCaches.releaseAll()
    }
  }

  test("q_colocated_join: bucketed layout makes pre-agg and fact join exchange-free") {
    // Both scans report HashPartitioning(orderkey, 8), so the per-order
    // aggregate and the SMJ need no shuffle — the ONLY Exchange in the
    // plan is the final 5-row priority rollup. Losing this (a dropped
    // bucket spec, a re-enabled broadcast, a mis-keyed pre-agg) silently
    // reintroduces the full lineitem shuffle this layout exists to kill.
    val p = plan("q_colocated_join")
    assert(nOps(p, "Exchange") == 1,
      s"exactly one exchange (the final rollup) may appear:\n$p")
    assert(nOps(p, "SortMergeJoin") == 1, s"the fact join must be the SMJ:\n$p")
    assert(!p.contains("BroadcastHashJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("Scan parquet spark_catalog.default.graft_b_lineitem"),
      s"lineitem must read from the bucketed table:\n$p")
  }

  test("mm_audio_dupes: banded hamming pairing is a bucket equi-join — no nested loop, no cartesian") {
    // The audio-fingerprint pairing must ride the same (band, key)
    // equi-join as every hash family; the blob itself never joins.
    try {
      Seq("mm_audio_dupes", "mm_audio_dupes_capped").foreach { q =>
        val p = plan(q)
        assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
          s"$q:\n$p")
        assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin")
          || p.contains("ShuffledHashJoin"), s"$q: banded pairing must be an equi-join:\n$p")
      }
    } finally graft.ext.DedupOps.releaseCaches()
  }

  test("events_cooccur: banded range join plans as equi-join — no nested loop, no cartesian") {
    // The naive spelling is an inequality self-join (quadratic). The
    // banding rewrite must leave only (user, band)-keyed equi-joins.
    try {
      val p = plan("events_cooccur")
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
      assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
        p.contains("ShuffledHashJoin"), p)
    } finally graft.ext.DedupOps.releaseCaches() // cooccur tracks its event projection
  }

  test("sim_triangles / sim_label_prop: vertex-keyed equi-joins only, never all-pairs") {
    try {
      Seq("sim_triangles", "sim_label_prop").foreach { q =>
        val p = plan(q)
        assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
          s"$q: $p")
      }
    } finally graft.ext.DedupOps.releaseCaches() // both track edge/adjacency tables
  }

  test("sim_pagerank: vertex-keyed equi-joins per round; scalar broadcasts only") {
    try {
      val p = plan("sim_pagerank")
      assert(!p.contains("CartesianProduct"), p)
      // 3 rounds of (adj ⋈ deg ⋈ pr) + the contribution re-key: every
      // data-sized join is an equi-join (hash or sort-merge)
      assert(nOps(p, "SortMergeJoin") + nOps(p, "BroadcastHashJoin") >= 3, p)
      // the only nested-loop joins are the 1-row scalar n_nodes
      // broadcasts (the crossJoin(broadcast(agg)) idiom): each BNLJ in
      // the formatted plan must sit beside a BroadcastExchange of a
      // single-row HashAggregate, never of a corpus relation
      assert(nOps(p, "BroadcastNestedLoopJoin") <= 4, p)
    } finally graft.ext.DedupOps.releaseCaches()
  }

  test("sim_pq: codebook is the only broadcast; no cartesian in the assignment join") {
    val p = plan("sim_pq")
    assert(nOps(p, "BroadcastExchange") == 1,
      s"exactly the codebook must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("sim_pq_topk: only the codebook + distance table broadcast; partial top-k present") {
    // The corpus never broadcasts and never nested-loops: the encode
    // argmin joins the broadcast codebook, the distance-table build
    // joins the broadcast codebook again (queries × M rows probe it),
    // the ADC scan joins the broadcast (queries × M × K) distance
    // table — three broadcasts, all O(M·K) / O(queries·M·K) tiny —
    // and the final rank pushes a WindowGroupLimit partial top-k
    // before the exchange.
    val p = plan("sim_pq_topk")
    assert(nOps(p, "BroadcastExchange") == 3,
      s"exactly codebook (×2) + distance table must broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("WindowGroupLimit"), s"rank limit must push a partial top-k:\n$p")
  }

  test("sim_ivf_pq: centroids/codebook/distance-table broadcast; corpus never broadcast or looped") {
    // The IVF-PQ composition inherits every contract of its parts:
    // centroid table and seed codebook and the (queries × M × K)
    // distance table are the ONLY broadcasts (all O(k)/O(M·K)-sized);
    // the residual corpus rides the cache into three consumers; the
    // final rank keeps the partial top-k.
    try {
      val p = plan("sim_ivf_pq")
      assert(!p.contains("CartesianProduct"), p)
      assert(nOps(p, "BroadcastNestedLoopJoin") <= 1,
        s"only the centroid assignment may ride the scalar-broadcast BNLJ:\n$p")
      assert(p.contains("WindowGroupLimit"), s"rank limit must push a partial top-k:\n$p")
      assert(nOps(p, "InMemoryTableScan") + nOps(p, "TableCacheQueryStage") >= 3,
        s"the persisted residual relation must feed codebook/encode/query branches:\n$p")
    } finally graft.ext.DedupOps.releaseCaches()
  }

  test("q_bloom_prune: bloom probe in the fact scan — no false negatives, real pruning") {
    import graft.queries.Tables
    import org.apache.spark.sql.functions._
    val hot = Tables.load(spark, sf, "orders")
      .filter(col("o_totalprice") > 400000).select(col("o_orderkey"))
    val li = Tables.load(spark, sf, "lineitem").select(col("l_orderkey"))
    val bf = hot.agg(graft.ext.SkewOps.bloomAgg(
      xxhash64(col("o_orderkey")), 10000L, 100000L)).head().getAs[Array[Byte]](0)
    val total = li.count()
    val bfKept = li.filter(graft.ext.SkewOps.bloomMightContain(
      bf, xxhash64(col("l_orderkey")))).count()
    val exact = li.join(hot, col("l_orderkey") === col("o_orderkey"), "left_semi").count()
    assert(bfKept >= exact, "a bloom filter must never drop a true match")
    assert(bfKept < total / 2, s"probe pruned nothing: $bfKept of $total kept")
    val p = plan("q_bloom_prune")
    assert(p.contains("might_contain"), "probe must appear in the declared plan")
  }

  test("bloomPrunedSemiJoin: mixed integer widths, empty build side, name collision — all exact") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // xxhash64 is type-sensitive: an INT probe key vs a LONG build key
    // hash differently and an unnormalized bloom would false-NEGATIVE
    // every match. The op must cast both to long and stay exact.
    val big = (1 to 1000).toDF("k").withColumn("k", col("k").cast("int"))
    val small = Seq(10L, 20L, 999L, 5000L).toDF("k")
    val got = graft.ext.SkewOps.bloomPrunedSemiJoin(big, small, "k", "k", 100L, 10000L)
      .select(col("k").cast("long")).as[Long].collect().sorted
    assert(got.toSeq == Seq(10L, 20L, 999L), s"mixed-width keys must match exactly: ${got.toSeq}")
    // empty build side: BloomFilterAggregate yields null — result must
    // be the (empty) semi-join, not an analysis/NPE failure
    val none = graft.ext.SkewOps.bloomPrunedSemiJoin(
      big, small.filter(col("k") < 0), "k", "k", 100L, 10000L)
    assert(none.count() == 0L)
    // probe side already owning the derived build-key name must not
    // make the join condition ambiguous
    val clash = big.withColumn("_graft_bloom_key0", lit(1))
    val gotClash = graft.ext.SkewOps.bloomPrunedSemiJoin(clash, small, "k", "k", 100L, 10000L)
    assert(gotClash.count() == 3L)
    // non-integral type mismatch must fail fast, not drop rows
    intercept[IllegalArgumentException] {
      graft.ext.SkewOps.bloomPrunedSemiJoin(
        big.withColumn("k", col("k").cast("string")), small, "k", "k", 100L, 10000L)
    }
  }

  test("globalNtile: matches exact ntile on distinct values; plan has NO window, nothing single-partition") {
    import org.apache.spark.sql.expressions.{Window => W}
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // 1000 distinct values, shuffled order, count divisible by n
    val vals = scala.util.Random.shuffle((1 to 1000).toList).toDF("v")
      .repartition(8).cache()
    try {
      val exact = vals.withColumn("t", ntile(4).over(W.orderBy(col("v"))).cast("long"))
      val got = graft.ext.SkewOps.globalNtile(vals, "v", 4)
      val diff = got.join(exact, "v")
        .filter(col("tile") =!= col("t")).count()
      assert(diff == 0, s"$diff rows assigned differently from exact ntile")
      // boundary ties: all tied rows land in the LOWER tile (documented)
      val tied = Seq(1, 5, 5, 5, 9, 10).toDF("v")
      val tt = graft.ext.SkewOps.globalNtile(tied, "v", 3)
        .filter(col("v") === 5).select(col("tile")).distinct().as[Long].collect()
      assert(tt.length == 1, s"tied values split across tiles: ${tt.toSeq}")
      // the whole point: no Window operator, no single-partition exchange
      val p = got2plan(graft.ext.SkewOps.globalNtile(vals, "v", 4))
      assert(nOps(p, "Window") == 0, s"globalNtile must not plan a window:\n$p")
      assert(!p.contains("SinglePartition"), s"nothing may serialize to one partition:\n$p")
    } finally vals.unpersist()
  }

  test("globalCumSum: equals the single-partition window cumsum; two bounded passes, no Window") {
    import org.apache.spark.sql.expressions.{Window => W}
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val rng = new scala.util.Random(9)
    val vals = (1 to 500).map(i => (i.toLong, rng.nextInt(100).toLong + 1L))
      .toDF("id", "v").repartition(8).cache()
    try {
      val exact = vals
        .withColumn("erk", row_number().over(W.orderBy(col("id"))).cast("long"))
        .withColumn("ecum", sum(col("v")).over(
          W.orderBy(col("id")).rowsBetween(W.unboundedPreceding, W.currentRow)))
      val got = graft.ext.SkewOps.globalCumSum(vals, Seq("id"), "v", "rk", "cc")
      val diff = got.join(exact.select(col("id"), col("erk"), col("ecum")), "id")
        .filter(col("rk") =!= col("erk") || col("cc") =!= col("ecum")).count()
      assert(diff == 0, s"$diff rows differ from the exact window cumsum")
    } finally {
      vals.unpersist()
      graft.core.QueryCaches.releaseAll()
    }
  }

  test("globalCumMax: equals the single-partition window cummax on scrambled input") {
    import org.apache.spark.sql.expressions.{Window => W}
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val rng = new scala.util.Random(11)
    // values deliberately NOT monotone in id — the lateness shape
    val vals = (1 to 500).map(i => (i.toLong, rng.nextInt(1000).toLong))
      .toDF("id", "v").repartition(8).cache()
    try {
      val exact = vals
        .withColumn("emax", max(col("v")).over(
          W.orderBy(col("id")).rowsBetween(W.unboundedPreceding, W.currentRow)))
      val got = graft.ext.SkewOps.globalCumMax(vals, Seq("id"), "v", "cm")
      val diff = got.join(exact.select(col("id"), col("emax")), "id")
        .filter(col("cm") =!= col("emax")).count()
      assert(diff == 0, s"$diff rows differ from the exact window cummax")
    } finally {
      vals.unpersist()
      graft.core.QueryCaches.releaseAll()
    }
  }

  test("q_ingest_lateness: running max from globalCumMax — no Window node") {
    try {
      val p = plan("q_ingest_lateness")
      assert(nOps(p, "Window") == 0,
        s"the lateness frontier must ride the two-job prefix max, not a window:\n$p")
    } finally graft.core.QueryCaches.release()
  }

  test("events_power_users: Pareto coverage with NO window (oracle spells two global windows)") {
    val p = plan("events_power_users")
    assert(!p.contains("Window"), s"the running total must come from the distributed prefix-sum:\n$p")
  }

  test("curate_data_card: one rollup scan; the rank window runs over the lang x source domain") {
    val p = plan("curate_data_card")
    assert(nOps(p, "Scan parquet") == 1, p)
    assert(nOps(p, "CartesianProduct") == 0, p)
  }

  private def got2plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.explainString(FormattedMode)

  test("q_zorder: no window, nothing single-partition, no cartesian blowup") {
    // ranks come from SkewOps.globalRank (repartitionByRange +
    // zipWithIndex): the final plan must contain NO Window operator
    // and no single-partition exchange — the property that lets the
    // layout measurement run at any corpus size. (The parquet scan
    // and scalar broadcast live inside the rank's RDD lineage, below
    // this plan's LogicalRDD leaves.)
    val p = plan("q_zorder")
    assert(nOps(p, "Window") == 0, s"q_zorder must not plan a window:\n$p")
    assert(!p.contains("SinglePartition"), s"nothing may serialize to one partition:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("events_cdc_merge: aggregate-shaped MERGE — no window, one full-outer join") {
    // The oracle spells the MERGE with row_number windows; the Spark
    // plan must instead fold both sides with map-side-combined max_by
    // aggregates (only |keys| rows cross each exchange) and meet in a
    // single key-partitioned full-outer join. A Window here would mean
    // history gets sorted, not aggregated — the shape that dies first
    // at 100 TB.
    val p = plan("events_cdc_merge")
    assert(nOps(p, "Window") == 0, s"MERGE must aggregate history, not sort it:\n$p")
    assert(p.contains("FullOuter"), s"snapshot-vs-changelog must be a full outer join:\n$p")
    assert(nOps(p, "SortMergeJoin") + nOps(p, "ShuffledHashJoin") +
      nOps(p, "BroadcastHashJoin") == 1, s"exactly one join expected:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q_dq_report: all row-level checks share one aggregate; ref check is an anti join") {
    // Five row-level checks must NOT mean five scans: the suite
    // compiles to one aggregate (uniqueness expands inside it), so
    // orders is scanned exactly twice — once for the shared aggregate,
    // once as the anti-join probe of the referential check.
    val p = plan("q_dq_report")
    // 3 scans total: orders for the shared aggregate, orders as the
    // anti-join probe, customer as the anti-join build.
    assert(nOps(p, "Scan parquet") <= 3,
      s"row-level checks must share ONE aggregate scan:\n$p")
    assert(p.contains("LeftAnti"), s"ref integrity must be an anti join:\n$p")
    assert(nOps(p, "Window") == 0 && !p.contains("CartesianProduct"), p)
  }

  test("sim_gram: one scan, join-free, aggregate collapses the expansion map-side") {
    // The d(d+1)/2 per-row product expansion must be collapsed by a
    // two-phase hash aggregate (partial before the exchange) — a join
    // or window spelling of the pair expansion would shuffle row-scaled
    // data instead of 136 groups.
    val p = plan("sim_gram")
    assert(nOps(p, "Scan parquet") == 1, s"exactly one embeddings scan:\n$p")
    assert(!p.contains("Join") && nOps(p, "Window") == 0, s"join/window-free:\n$p")
    assert(nOps(p, "HashAggregate") == 2, s"partial+final hash aggregate:\n$p")
  }

  test("q_drift: both snapshot histograms in one scan; only scalar broadcasts after") {
    val p = plan("q_drift")
    assert(nOps(p, "Scan parquet") == 1, s"one conditional-sum scan for both years:\n$p")
    assert(nOps(p, "Window") == 0, p)
    // the two folds (totals, tvd numerator) come back only as broadcasts
    assert(nOps(p, "BroadcastNestedLoopJoin") <= 2 && !p.contains("CartesianProduct"), p)
  }

  test("curate_domain_cap: rank filter plans as a partial WindowGroupLimit") {
    // The cap must pre-trim per map task: WindowGroupLimit (Partial)
    // before the exchange means the shuffle carries <= k rows per
    // (task, domain), not the corpus. Totals come back as a broadcast.
    val p = plan("curate_domain_cap")
    assert(p.contains("WindowGroupLimit"), s"cap must push a partial top-k:\n$p")
    assert(p.contains("BroadcastExchange"), s"domain totals must broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("dedup_prefix_join: candidate generation is an fp equi-join, never all-pairs") {
    val p = plan("dedup_prefix_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "prefix filter must join prefixes on element equality, not enumerate pairs:\n" + p)
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin") ||
      p.contains("ShuffledHashJoin"), p)
  }

  test("q_skyline: frontier (attribute-domain-sized) broadcasts back to the table") {
    val p = plan("q_skyline")
    assert(p.contains("BroadcastExchange"), s"frontier must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("events_gapfill: exactly ONE scan of the fact table; spine joins are tiny") {
    val p = plan("events_gapfill")
    assert(nOps(p, "Scan parquet") == 1,
      s"bounds and types must derive from the daily aggregate, not re-scan events:\n$p")
    // the |types| x |days| spine cross join is the one deliberate BNLJ
    assert(nOps(p, "BroadcastNestedLoopJoin") <= 1 && !p.contains("CartesianProduct"), p)
  }

  test("q_snapshot_diff: both snapshots in ONE scan, join-free conditional aggregation") {
    val p = plan("q_snapshot_diff")
    assert(nOps(p, "Scan parquet") == 1, s"one scan for both cutoffs:\n$p")
    assert(nOps(p, "SortMergeJoin") + nOps(p, "BroadcastHashJoin") +
      nOps(p, "ShuffledHashJoin") + nOps(p, "BroadcastNestedLoopJoin") +
      nOps(p, "CartesianProduct") == 0,
      s"snapshot diff must not join snapshot to snapshot:\n$p")
  }

  test("text_inverted_index: posting cap plans as a partial WindowGroupLimit") {
    val p = plan("text_inverted_index")
    assert(p.contains("WindowGroupLimit"),
      s"postings must trim per map task before the exchange:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q_incremental_join_mv: key-equi joins only, no forced broadcast of the dim") {
    val p = plan("q_incremental_join_mv")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("sim_rank_fusion: one corpus scoring pass, query set broadcast, ranks share a partition") {
    val p = plan("sim_rank_fusion")
    assert(p.contains("BroadcastExchange"), s"query set must broadcast:\n$p")
    // two scans: the corpus pass + the (tiny, filtered) query-set side
    assert(nOps(p, "Scan parquet") == 2, s"both rankings must ride ONE corpus pass:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("events_rolling_wau: coverage explode, no self-joins of the fact table") {
    val p = plan("events_rolling_wau")
    assert(nOps(p, "Scan parquet") == 1, s"one scan feeds the coverage explode:\n$p")
    assert(nOps(p, "SortMergeJoin") + nOps(p, "ShuffledHashJoin") == 0,
      s"sliding distinct must not shift-self-join:\n$p")
  }

  test("dedup_prefix_join_capped: still an fp equi-join after the df guard") {
    val p = plan("dedup_prefix_join_capped")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("text_collocations: rank filter keeps a partial top-k") {
    val p = plan("text_collocations")
    assert(p.contains("WindowGroupLimit") || p.contains("TakeOrderedAndProject"),
      s"top-10 must pre-trim per task:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("curate_gopher: the whole rule bundle is one scan, zero joins, zero shuffles") {
    val p = plan("curate_gopher")
    assert(nOps(p, "Scan parquet") == 1, s"one documents scan:\n$p")
    assert(nOps(p, "Exchange") == 0, s"per-row rules must not shuffle:\n$p")
    assert(nOps(p, "SortMergeJoin") + nOps(p, "ShuffledHashJoin") +
      nOps(p, "BroadcastHashJoin") == 0, s"no joins in a per-row rule bundle:\n$p")
  }

  test("mm_scene_cuts: histograms, L1s and cut flags all inside the row — no shuffle, no join") {
    val p = plan("mm_scene_cuts")
    assert(nOps(p, "Scan parquet") == 1, s"one scan; frames never explode into a self-join:\n$p")
    assert(nOps(p, "Exchange") == 0, s"the blob must not leave its scan partition:\n$p")
    assert(nOps(p, "SortMergeJoin") + nOps(p, "ShuffledHashJoin") +
      nOps(p, "BroadcastHashJoin") + nOps(p, "CartesianProduct") == 0, p)
  }

  test("sim_incremental_ivf: seeds broadcast for assignment; the screen is a cell equi-join") {
    val p = plan("sim_incremental_ivf")
    // two assignment passes (corpus, batch) each broadcast the 8-seed set
    assert(nOps(p, "BroadcastExchange") >= 2, s"seed set must broadcast per assignment:\n$p")
    // the only nested-loop allowed is the deliberate 8-row seed
    // crossJoin(broadcast) — the batch×corpus screen itself must plan
    // as a real equi-join on the cell key
    assert(nOps(p, "SortMergeJoin") + nOps(p, "ShuffledHashJoin") +
      nOps(p, "BroadcastHashJoin") >= 1,
      s"the cell screen must be an equi-join:\n$p")
    assert(nOps(p, "CartesianProduct") == 0, p)
  }

  test("sim_matryoshka: both stages keep partial top-k; vectors re-enter by equi-join after the cut") {
    val p = plan("sim_matryoshka")
    assert(p.contains("WindowGroupLimit"), s"stage ranks must pre-trim per task:\n$p")
    assert(nOps(p, "BroadcastExchange") >= 2, s"query set broadcasts per scoring pass:\n$p")
    // candidate fan-back to full vectors must be a real equi-join
    assert(nOps(p, "SortMergeJoin") + nOps(p, "ShuffledHashJoin") +
      nOps(p, "BroadcastHashJoin") >= 1, s"vec_id fan-back must be an equi-join:\n$p")
    assert(nOps(p, "CartesianProduct") == 0, p)
  }

  test("events_series_sim: one fact scan; pairing runs over the series relation only") {
    val p = plan("events_series_sim")
    assert(nOps(p, "Scan parquet") == 1,
      s"the oracle's day-grid join must NOT appear — one rollup scan only:\n$p")
    // the ta<tb pairing is a deliberate nested-loop over the
    // domain-bounded series relation (|types| rows), never the fact table
    assert(nOps(p, "SortMergeJoin") + nOps(p, "ShuffledHashJoin") == 0,
      s"no shuffled join of fact-scaled relations:\n$p")
  }

  test("events_multi_touch: user-keyed equi-join with the window filter inside, never a range probe") {
    val p = plan("events_multi_touch")
    assert(nOps(p, "CartesianProduct") + nOps(p, "BroadcastNestedLoopJoin") == 0,
      s"the 7-day window must be a filter inside the user equi-join:\n$p")
    assert(nOps(p, "SortMergeJoin") + nOps(p, "ShuffledHashJoin") +
      nOps(p, "BroadcastHashJoin") >= 1, p)
  }

  test("sim_mips_reduction: query set and the 1-row max-norm broadcast; no cartesian") {
    val p = plan("sim_mips_reduction")
    assert(nOps(p, "BroadcastExchange") >= 2, s"q set + m2 scalar must broadcast:\n$p")
    assert(nOps(p, "CartesianProduct") == 0, p)
  }

  test("text_bpe_merge_step: corpus collapses to the vocab; the modal pair is a 1-row TakeOrdered broadcast") {
    val p = plan("text_bpe_merge_step")
    assert(p.contains("TakeOrderedAndProject"),
      s"the argmax pair must be a limit-1 partial sort, not a global sort:\n$p")
    assert(nOps(p, "BroadcastExchange") >= 1, s"the 1-row top pair broadcasts:\n$p")
    assert(nOps(p, "CartesianProduct") == 0, p)
  }

  test("events_time_travel: one max_by fold, NO window — the oracle spells windows, the engine doesn't") {
    val p = plan("events_time_travel")
    assert(!p.contains("Window"), s"as-of state must fold in the aggregate, not a window:\n$p")
    assert(nOps(p, "HashAggregate") >= 2, s"partial+final fold expected:\n$p")
    assert(nOps(p, "Scan parquet") <= 2, p) // events + the 1-row cutoff derivation
  }

  test("q_k_anonymity: one scan; the distinct sensitive count rides the same aggregate") {
    val p = plan("q_k_anonymity")
    assert(nOps(p, "Scan parquet") == 1, s"one customer scan:\n$p")
    assert(nOps(p, "SortMergeJoin") + nOps(p, "ShuffledHashJoin") +
      nOps(p, "BroadcastHashJoin") == 0, s"no joins in a one-pass audit:\n$p")
  }

  test("q_analyze_stats: boundaries from the distributed rank — NO window anywhere") {
    val p = plan("q_analyze_stats")
    assert(!p.contains("Window"), s"the oracle's global row_number must not appear:\n$p")
    assert(nOps(p, "CartesianProduct") == 0, p)
  }

  test("sim_threshold_sweep: one banded candidate generation feeds all thresholds") {
    val p = plan("sim_threshold_sweep")
    assert(nOps(p, "CartesianProduct") == 0 && !p.contains("BroadcastNestedLoopJoin"),
      s"candidates must come from the bucket equi-join:\n$p")
    assert(p.contains("Generate"), s"the threshold fan-out is an explode, not a re-scan:\n$p")
  }

  test("events_seasonal_naive: one fact scan; train profile broadcasts onto the test slice") {
    val p = plan("events_seasonal_naive")
    assert(nOps(p, "Scan parquet") == 1, s"one rollup scan:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"|types|x7 train side must broadcast:\n$p")
  }

  test("events_funnel3: user-keyed equi-joins only; no window, no wide self-join") {
    val p = plan("events_funnel3")
    assert(!p.contains("Window"), p)
    assert(nOps(p, "CartesianProduct") <= 2, // the two deliberate 1-row count joins
      s"only the 1-row count stitching may cross-join:\n$p")
    assert(nOps(p, "SortMergeJoin") + nOps(p, "ShuffledHashJoin") +
      nOps(p, "BroadcastHashJoin") >= 2, s"step joins must be user equi-joins:\n$p")
  }

  test("mm_cdc_chunks: one kernel call per blob; the explode is chunk-grain, not char-grain") {
    val p = plan("mm_cdc_chunks")
    assert(p.contains("graft_cdc_chunks"), p)
    assert(nOps(p, "Generate") == 1,
      s"exactly one explode — of ~len/64 chunk fps, never of chars:\n$p")
    assert(nOps(p, "Scan parquet") == 1, s"one documents scan:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("Window"), p)
  }

  test("sim_ivf_sweep: cell-restricted probes over one cached assignment; partial top-k") {
    val p = plan("sim_ivf_sweep")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("WindowGroupLimit"),
      s"per-query top-10 must pre-trim per task:\n$p")
    // candidates form by cent equi-join against broadcast probes —
    // never a corpus nested loop (centroid cross joins are broadcast
    // 1-side-bounded by construction)
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"), p)
    graft.core.QueryCaches.release()
  }

  test("mm_chunk_overlap: pairs via fp equi-join over one cached kernel pass") {
    val p = plan("mm_chunk_overlap")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"pairs must form by fingerprint equi-join:\n$p")
    // the (source, fp) relation is persisted: the kernel+explode runs
    // once, the self-join and both marginals read the cache
    assert(nOps(p, "Generate") == 1, s"one chunk explode for the whole query:\n$p")
    graft.core.QueryCaches.release()
  }

  test("q19_disjunctive: per-side weakenings of the OR-of-ANDs reach BOTH parquet scans") {
    // CNF extraction must derive each side's disjunction and push it:
    // the union of quantity ranges onto lineitem, the brand/size
    // disjunction onto part — neither scan may read unfiltered.
    val p = plan("q19_disjunctive")
    assert(p.contains("Or(Or(And(GreaterThanOrEqual(l_quantity,1.0)"),
      s"lineitem scan must carry the derived quantity disjunction:\n$p")
    assert(p.contains("EqualTo(p_brand,Brand#12)"),
      s"part scan must carry the brand/size disjunction:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q_eager_agg: lineitem rolls up BELOW the join — the fact exchange carries partials") {
    val p = plan("q_eager_agg")
    // inner rollup (partial+final) + outer rollup (partial+final): the
    // lineitem-side join input is the aggregated relation, not fact rows
    assert(nOps(p, "HashAggregate") >= 4, s"expected two aggregation levels:\n$p")
    assert(nOps(p, "SortMergeJoin") + nOps(p, "ShuffledHashJoin") +
      nOps(p, "BroadcastHashJoin") == 1, s"exactly one key equi-join:\n$p")
    assert(!p.contains("Window") && !p.contains("CartesianProduct"), p)
  }

  test("q_semijoin_reduce: two LeftSemi reduction passes; segment filter reaches the scan") {
    val p = plan("q_semijoin_reduce")
    assert(nOps(p, "SortMergeJoin LeftSemi") + nOps(p, "ShuffledHashJoin LeftSemi") +
      nOps(p, "BroadcastHashJoin LeftSemi") +
      "LeftSemi".r.findAllIn(p).length >= 2, // any physical semi form
      s"both downward reduction passes must plan as semi joins:\n$p")
    assert(p.contains("c_mktsegment"), s"the selective filter must reach the scan:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("Window"), p)
  }

  test("events_gap_sweep: one fact sort feeds all three thresholds") {
    val p = plan("events_gap_sweep")
    // the gaps relation is persisted: one parquet scan + one window
    // sort, three conditional aggregates over the cache
    assert(nOps(p, "Scan parquet") == 1, s"one events scan for the whole sweep:\n$p")
    assert(nOps(p, "Window") == 1, s"one lag window, shared by every threshold:\n$p")
    graft.core.QueryCaches.release()
  }

  test("q_join_card_est: K-smallest pre-trims per task; ranked relation cached once") {
    // Round-11 weak finding: the rank was cast BEFORE the <= K filter,
    // defeating the partial top-k, and `ranked` was unpersisted so the
    // theta and sample branches each re-ran the global sort. Pin both
    // fixes: the K-smallest scan must pre-trim (WindowGroupLimit or
    // TakeOrderedAndProject — with no partitionBy the optimizer picks
    // the latter), and exactly ONE Window node may exist (over the
    // ≤K-row trimmed relation), shared via the cache.
    val p = plan("q_join_card_est")
    assert(p.contains("WindowGroupLimit") || p.contains("TakeOrderedAndProject"),
      s"global K-smallest must pre-trim per task:\n$p")
    assert(nOps(p, "Window") == 1,
      s"one window over the trimmed relation, cached for both branches:\n$p")
    graft.core.QueryCaches.release()
  }

  test("events_funnel_latency: no window anywhere — rank is the two-job globalRank") {
    // Round-11 weak finding: a users-scale single-partition window.
    // The quartile selection now rides SkewOps.globalRank
    // (repartitionByRange + zipWithIndex), so the plan must contain NO
    // Window node at all; the only SinglePartition exchange is the
    // 1-row converter count.
    val p = plan("events_funnel_latency")
    assert(!p.contains("Window"), s"quartile rank must not use a window:\n$p")
    assert(p.contains("Scan ExistingRDD"),
      s"rank must arrive via the two-job distributed rank:\n$p")
    graft.core.QueryCaches.release()
  }

  test("sim_embedding_drift: one corpus scan; everything after is band-domain-sized") {
    val p = plan("sim_embedding_drift")
    assert(nOps(p, "Scan parquet") == 1, s"one embeddings scan feeds all three histograms:\n$p")
    assert(!p.contains("Window"), p)
  }

  test("events_hll_distinct: one data-sized exchange; register join broadcasts; ts pruned") {
    val p = plan("events_hll_distinct")
    // the z/exact stitch joins a ≤|types|-row side — must broadcast,
    // and nothing else may join at all
    assert(nOps(p, "BroadcastHashJoin") >= 1, s"register join must broadcast:\n$p")
    assert(nOps(p, "SortMergeJoin") + nOps(p, "ShuffledHashJoin") +
      nOps(p, "BroadcastNestedLoopJoin") + nOps(p, "CartesianProduct") == 0,
      s"only the tiny register/exact stitch may join:\n$p")
    // the sketch never touches ts/value/props — column pruning must
    // reach the scan whatever physical ts type the generator ships
    val read = "ReadSchema: [^\n]*".r.findFirstIn(p).getOrElse("")
    assert(read.contains("event_type") && read.contains("user_id") &&
      !read.contains("props") && !read.contains("value"),
      s"scan must read only (event_type, user_id): $read")
  }

  test("events_interval_join: bucketized range join is an EQUI-join — never a nested loop") {
    val p = plan("events_interval_join")
    assert(nOps(p, "BroadcastNestedLoopJoin") == 0 && nOps(p, "CartesianProduct") == 0,
      s"the range predicate must ride the bucket equi-join, not a BNLJ:\n$p")
    assert(nOps(p, "SortMergeJoin") + nOps(p, "ShuffledHashJoin") +
      nOps(p, "BroadcastHashJoin") >= 1, s"bucket join must be an equi-join:\n$p")
    assert(p.contains("Generate"), s"interval side must explode into buckets:\n$p")
  }

  test("dedup_sorted_neighborhood: rank window pairing is an equi-join; no global Window") {
    val p = plan("dedup_sorted_neighborhood")
    assert(nOps(p, "BroadcastNestedLoopJoin") == 0 && nOps(p, "CartesianProduct") == 0,
      s"rank-window pairing must be the exploded equi-join:\n$p")
    // the global sort rides globalRank (range partition + zipWithIndex)
    // — an empty-partition-spec Window here would serialize the corpus
    assert(nOps(p, "Window") == 0, s"no window operator anywhere on this path:\n$p")
    assert(p.contains("Generate"), s"successor ranks fan out via explode:\n$p")
  }

  test("sim_bfs_hops: iteration is STAGED (checkpointed rounds), not one inlined mega-plan") {
    val p = plan("sim_bfs_hops")
    // bfsHops localCheckpoints every round: the returned frame must be
    // a scan of materialized blocks, not a 4-round join tree whose
    // round r re-executes rounds 1..r-1
    assert(p.contains("Scan ExistingRDD"), s"result must scan checkpointed rounds:\n$p")
    assert(nOps(p, "SortMergeJoin") + nOps(p, "ShuffledHashJoin") +
      nOps(p, "BroadcastHashJoin") + nOps(p, "BroadcastNestedLoopJoin") +
      nOps(p, "CartesianProduct") == 0,
      s"no join may survive into the returned plan:\n$p")
    graft.core.QueryCaches.release()
  }

  test("dedup_bloom_screen: the filter is BROADCAST-sized — both stitches broadcast, nothing shuffles a join") {
    val p = plan("dedup_bloom_screen")
    // set-bit positions (≤4096 rows) and the exact fp set both
    // broadcast; a sort-merge join here would mean the 'bitmap' was
    // shipped as a corpus-scaled relation
    assert(nOps(p, "BroadcastHashJoin") == 2, s"filter + truth joins must broadcast:\n$p")
    assert(nOps(p, "SortMergeJoin") + nOps(p, "ShuffledHashJoin") +
      nOps(p, "BroadcastNestedLoopJoin") + nOps(p, "CartesianProduct") == 0, p)
  }

  test("sim_kcenter: greedy trajectory — coverage radius non-decreasing, seed first") {
    // The returned frame is the k-row trajectory (the rounds already
    // ran as bounded broadcast+argmin jobs); the invariant that makes
    // it k-center is that each pick's max-cos to the chosen set is >=
    // the previous pick's (greedy farthest-first => the space is
    // covered at monotonically shrinking radius).
    val rows = SparkEntry.queries("sim_kcenter")(spark, sf)
      .orderBy(org.apache.spark.sql.functions.col("sel_rank")).collect()
    assert(rows.length == 8)
    assert(rows.head.isNullAt(rows.head.fieldIndex("maxcos")), "seed row has no radius")
    val mcs = rows.tail.map(_.getDouble(2))
    assert(mcs.zip(mcs.tail).forall { case (a, b) => a <= b },
      s"maxcos must be non-decreasing: ${mcs.toSeq}")
    graft.core.QueryCaches.release()
  }

  test("events_cm_freq: counter table broadcasts onto the probe; scan pruned to user_id") {
    val p = plan("events_cm_freq")
    assert(nOps(p, "BroadcastHashJoin") >= 1, s"768-row counter table must broadcast:\n$p")
    assert(nOps(p, "SortMergeJoin") + nOps(p, "ShuffledHashJoin") +
      nOps(p, "BroadcastNestedLoopJoin") + nOps(p, "CartesianProduct") == 0, p)
    val read = "ReadSchema: [^\n]*".r.findFirstIn(p).getOrElse("")
    assert(read.contains("user_id") && !read.contains("event_type") &&
      !read.contains("props"), s"sketch needs only user_id: $read")
  }

  test("q_bitmap_index: mask builds are map-side-combined aggregates; AND join keyed on bucket") {
    val p = plan("q_bitmap_index")
    assert(nOps(p, "BroadcastNestedLoopJoin") == 0 && nOps(p, "CartesianProduct") == 0, p)
    // two mask builds + direct count: >= 3 partial/final HashAggregate
    // pairs — bit_or partials merging IS distributed bitmap union
    assert(nOps(p, "HashAggregate") >= 6, s"mask builds must partial-aggregate:\n$p")
    graft.core.QueryCaches.release()
  }

  test("events_pattern_match: one user-keyed exchange; in-row sequence sort, no second shuffle") {
    val p = plan("events_pattern_match")
    assert(nOps(p, "SortMergeJoin") + nOps(p, "BroadcastHashJoin") +
      nOps(p, "ShuffledHashJoin") + nOps(p, "BroadcastNestedLoopJoin") +
      nOps(p, "CartesianProduct") == 0, s"no join anywhere on this path:\n$p")
    // the ordering is array_sort inside the aggregate, not a Window —
    // a window here would add a per-user sort exchange before the group
    assert(nOps(p, "Window") == 0, p)
    assert(nOps(p, "Exchange") <= 1, s"one user-keyed exchange only:\n$p")
  }

  test("q_erasure_manifest: both fact scans broadcast-joined against the request batch — zero fact shuffles") {
    val p = plan("q_erasure_manifest")
    assert(nOps(p, "BroadcastHashJoin") >= 4, s"batch, cascade AND stitches must broadcast:\n$p")
    assert(nOps(p, "SortMergeJoin") + nOps(p, "ShuffledHashJoin") == 0,
      s"nothing in an erasure manifest is big enough to shuffle-join:\n$p")
    graft.core.QueryCaches.release()
  }

  test("sim_clustering_coeff: ordered triangle equi-joins, no BNLJ, shared edge relation") {
    val p = plan("sim_clustering_coeff")
    assert(nOps(p, "BroadcastNestedLoopJoin") == 0 && nOps(p, "CartesianProduct") == 0, p)
    assert(p.contains("InMemoryTableScan"), s"degrees and triangles must share the persisted edges:\n$p")
    graft.core.QueryCaches.release()
  }

  test("text_rake: doc-keyed islands window only; word stats joined onto DISTINCT phrases") {
    val p = plan("text_rake")
    assert(nOps(p, "BroadcastNestedLoopJoin") == 0 && nOps(p, "CartesianProduct") == 0, p)
    // exactly one Window (the per-doc run id); a second would mean a
    // global rank crept in
    assert(nOps(p, "Window") == 1, s"one doc-keyed islands window:\n$p")
    graft.core.QueryCaches.release()
  }

  test("sim_graph_search: walk rounds are staged; final stitch joins the checkpointed state") {
    val p = plan("sim_graph_search")
    // the walk ran as bounded per-round jobs (localCheckpoint per
    // round, like bfsHops); the returned plan must stitch a scan of
    // checkpointed state to the brute-truth aggregate — never replay
    // the rounds as one inlined join tree
    assert(p.contains("Scan ExistingRDD"), s"walk state must be checkpointed:\n$p")
    // exactly one BNLJ is DELIBERATE: brute-force truth crossJoins the
    // broadcast bounded query panel (the sim_rank_fusion pattern) —
    // any second one would mean the walk itself went quadratic
    assert(nOps(p, "BroadcastNestedLoopJoin") <= 1, p)
    graft.core.QueryCaches.release()
  }

  test("sim_hits: both rank stages keep partial top-k — knn WindowGroupLimit, readout TakeOrdered") {
    val p = plan("sim_hits")
    assert(nOps(p, "WindowGroupLimit") >= 1,
      s"the per-vector knn top-5 must keep its map-side partial rank:\n$p")
    assert(nOps(p, "TakeOrderedAndProject") >= 1,
      s"the global top-20 must plan as a limit-style partial top-k:\n$p")
    assert(nOps(p, "CartesianProduct") == 0, p)
  }

  test("q_aqp_sample: exact and sampled aggregates fold in ONE lineitem scan, no join") {
    val p = plan("q_aqp_sample")
    assert(nOps(p, "Scan parquet") == 1, s"one lineitem scan:\n$p")
    assert(nOps(p, "Window") == 0, p)
    assert(nOps(p, "SortMergeJoin") + nOps(p, "BroadcastHashJoin") +
      nOps(p, "ShuffledHashJoin") + nOps(p, "BroadcastNestedLoopJoin") +
      nOps(p, "CartesianProduct") == 0, s"the sample is a conditional fold:\n$p")
  }

  test("text_jsd: token-keyed pair join only — totals broadcast, no cartesian, no window") {
    val p = plan("text_jsd")
    assert(nOps(p, "CartesianProduct") + nOps(p, "BroadcastNestedLoopJoin") == 0,
      s"pairs come from the token equi-join, never all-pairs:\n$p")
    assert(nOps(p, "Window") == 0, p)
    assert(nOps(p, "BroadcastHashJoin") >= 2,
      s"the 20-row totals broadcast onto the pair relation:\n$p")
  }

  test("q_partition_advisor: one orders scan through the map-explode unpivot") {
    val p = plan("q_partition_advisor")
    assert(nOps(p, "Scan parquet") == 1, s"one orders scan:\n$p")
    assert(nOps(p, "Generate") == 1, s"the 4-candidate unpivot is one explode:\n$p")
    assert(nOps(p, "SortMergeJoin") + nOps(p, "BroadcastHashJoin") +
      nOps(p, "ShuffledHashJoin") + nOps(p, "CartesianProduct") == 0, p)
  }

  test("mm_byte_runs / mm_sharpness: kernel rows stay in-partition — no join, no window") {
    for (q <- Seq("mm_byte_runs", "mm_sharpness")) {
      val p = plan(q)
      assert(nOps(p, "Window") == 0, s"$q:\n$p")
      assert(nOps(p, "SortMergeJoin") + nOps(p, "ShuffledHashJoin") +
        nOps(p, "CartesianProduct") == 0, s"$q joins nothing data-sized:\n$p")
    }
  }

  test("events_qte: order statistics ride globalRank — zero Window operators anywhere") {
    val p = plan("events_qte")
    assert(nOps(p, "Window") == 0,
      s"the arm-major rank is the two-job range rank, never a window:\n$p")
    assert(nOps(p, "CartesianProduct") == 0, p)
  }

  test("mm_phash_sweep: banded candidates via hash join; only the 1-row stitch nest-loops") {
    val p = plan("mm_phash_sweep")
    assert(nOps(p, "Window") == 0, p)
    assert(nOps(p, "CartesianProduct") == 0, p)
    // the n_docs scalar stitches with a broadcast nested loop (1 row x
    // 1 row — the fleet-wide legitimate stitch); the PAIR join itself
    // must be a hash join on the band keys
    assert(nOps(p, "BroadcastHashJoin") + nOps(p, "SortMergeJoin") +
      nOps(p, "ShuffledHashJoin") >= 1,
      s"the candidate join must be an equi hash join:\n$p")
    assert(nOps(p, "BroadcastNestedLoopJoin") <= 1,
      s"only the scalar stitch may nest-loop:\n$p")
  }

  test("q_item_cf: basket pair join is an equi join; per-item rank keeps its partial top-k") {
    val p = plan("q_item_cf")
    assert(nOps(p, "CartesianProduct") == 0 &&
      nOps(p, "BroadcastNestedLoopJoin") == 0,
      s"the co-occurrence join must stay keyed on l_orderkey:\n$p")
    assert(p.contains("WindowGroupLimit") || p.contains("TakeOrderedAndProject"),
      s"the uncast top-3 rank filter must plan as a partial top-k:\n$p")
  }

  test("q_regression: sufficient statistics in one scan — no joins, no windows") {
    val p = plan("q_regression")
    assert(nOps(p, "Window") == 0, p)
    assert(nOps(p, "Scan parquet") == 1,
      s"nine moments must fold in a single lineitem pass:\n$p")
    assert(!p.contains("Join"), s"normal equations need no join at all:\n$p")
  }

  test("sim_assortativity: degree stitch is vertex-keyed — equi joins only, no cartesian") {
    val p = plan("sim_assortativity")
    // windows exist only inside the kNN-graph construction (vec_id-
    // partitioned top-k); the assortativity stitch itself is two
    // vertex-keyed equi joins + one ungrouped fold
    assert(nOps(p, "CartesianProduct") == 0 &&
      nOps(p, "BroadcastNestedLoopJoin") == 0, p)
    assert(nOps(p, "BroadcastHashJoin") + nOps(p, "SortMergeJoin") +
      nOps(p, "ShuffledHashJoin") >= 2,
      s"degree relation must join the edge list by vertex key:\n$p")
  }

  test("text_nb_langid: model broadcasts; only the docs×langs grid may nest-loop") {
    val p = plan("text_nb_langid")
    assert(nOps(p, "CartesianProduct") == 0, p)
    // vocab×langs model joins the token stream as a broadcast hash join
    assert(nOps(p, "BroadcastHashJoin") >= 1,
      s"the model join must broadcast (the textPerplexity contract):\n$p")
  }

  test("geo_radius_join: grid candidates via cell equi-join — never a cartesian") {
    val p = plan("geo_radius_join")
    assert(nOps(p, "CartesianProduct") == 0 &&
      nOps(p, "BroadcastNestedLoopJoin") == 0,
      s"the radius join must stay a (gx, gy) equi-join:\n$p")
    assert(nOps(p, "BroadcastHashJoin") + nOps(p, "SortMergeJoin") +
      nOps(p, "ShuffledHashJoin") >= 1, p)
  }

  test("geo_knn: per-point top-3 keeps its partial rank; cell equi-join candidates") {
    val p = plan("geo_knn")
    assert(p.contains("WindowGroupLimit") || p.contains("TakeOrderedAndProject"),
      s"the uncast rank filter must plan as a partial top-k:\n$p")
    assert(nOps(p, "CartesianProduct") == 0, p)
  }

  test("geo_hotspot: neighborhood fold joins the CELL relation; only the 1-row stitch nest-loops") {
    val p = plan("geo_hotspot")
    assert(nOps(p, "CartesianProduct") == 0, p)
    assert(nOps(p, "BroadcastNestedLoopJoin") <= 1,
      s"only the totals stitch may nest-loop:\n$p")
    assert(nOps(p, "Window") == 0, p)
  }

  test("geo_rknn: both ranks keep partial top-k; no cartesian") {
    val p = plan("geo_rknn")
    assert(p.contains("WindowGroupLimit") || p.contains("TakeOrderedAndProject"),
      s"the uncast rank filters must plan partial:\n$p")
    assert(nOps(p, "CartesianProduct") == 0, p)
  }

  test("geo_choropleth: dominant label is a max_by fold — one scan, no window, no join") {
    val p = plan("geo_choropleth")
    assert(nOps(p, "Window") == 0,
      s"the argmax must be map-side max_by, not the oracle's rank window:\n$p")
    assert(!p.contains("Join"), p)
    assert(nOps(p, "Scan parquet") == 1, p)
  }

  test("geo_pyramid: one scan, zoom explode in the projection, no joins") {
    val p = plan("geo_pyramid")
    assert(nOps(p, "Scan parquet") == 1, s"one embeddings pass:\n$p")
    assert(!p.contains("Join"), s"the pyramid is scan + explode + aggregate:\n$p")
    assert(nOps(p, "Window") == 0, p)
  }

  test("q_range_sel_audit: boundaries ride globalRank — zero Window operators") {
    val p = plan("q_range_sel_audit")
    assert(nOps(p, "Window") == 0,
      s"the boundary ranks are the two-job range rank, never a window:\n$p")
    assert(nOps(p, "CartesianProduct") == 0, p)
  }

  test("q_fk_card_audit: orphan probes are anti joins; no windows anywhere") {
    val p = plan("q_fk_card_audit")
    assert(nOps(p, "Window") == 0, p)
    assert(p.contains("LeftAnti"),
      s"orphan detection must be an anti join, not a re-scan:\n$p")
    assert(nOps(p, "CartesianProduct") == 0, p)
  }

  test("events_seq3: trigram top-10 keeps a partial rank over the bounded relation") {
    val p = plan("events_seq3")
    assert(p.contains("WindowGroupLimit") || p.contains("TakeOrderedAndProject"),
      s"the uncast top-10 rank must plan as a partial top-k:\n$p")
    assert(nOps(p, "CartesianProduct") == 0, p)
  }

  test("events_user_entropy: two folds and a band rollup — no joins, no windows") {
    val p = plan("events_user_entropy")
    assert(nOps(p, "Window") == 0, p)
    assert(!p.contains("Join"), s"entropy needs only keyed aggregates:\n$p")
  }

  test("text_stopword_disco: one persisted explode; only the scalar totals nest-loop") {
    val p = plan("text_stopword_disco")
    assert(nOps(p, "CartesianProduct") == 0, p)
    assert(nOps(p, "BroadcastNestedLoopJoin") <= 2,
      s"only the n_docs/total 1-row stitches may nest-loop:\n$p")
    assert(nOps(p, "Window") == 0, p)
  }

  test("q_column_profile: one scan, literal unpivot in the projection, no joins") {
    val p = plan("q_column_profile")
    assert(nOps(p, "Scan parquet") == 1, s"one lineitem pass:\n$p")
    assert(!p.contains("Join"), p)
    assert(nOps(p, "Window") == 0, p)
  }

  test("curate_source_overlap: fp-keyed equi self-join over the distinct relation") {
    val p = plan("curate_source_overlap")
    assert(nOps(p, "CartesianProduct") == 0 &&
      nOps(p, "BroadcastNestedLoopJoin") == 0,
      s"the containment join must stay keyed on fp:\n$p")
    assert(nOps(p, "Window") == 0, p)
  }

  test("curate_blocklist: lexicon screen is pure scan work — one pass, no joins") {
    val p = plan("curate_blocklist")
    assert(nOps(p, "Scan parquet") == 1, s"one documents pass:\n$p")
    assert(!p.contains("Join"), p)
    assert(nOps(p, "Window") == 0, p)
  }

  test("events_holt_forecast: series fold is in-row — no window, no join, two aggregations") {
    val p = plan("events_holt_forecast")
    assert(nOps(p, "Window") == 0, s"the recurrence runs inside the projection:\n$p")
    assert(nOps(p, "SortMergeJoin") + nOps(p, "BroadcastHashJoin") +
      nOps(p, "ShuffledHashJoin") + nOps(p, "BroadcastNestedLoopJoin") +
      nOps(p, "CartesianProduct") == 0, p)
  }

  test("mm_audio_segments: blob scanned once in-partition; only the doc-keyed islands window") {
    val p = plan("mm_audio_segments")
    assert(nOps(p, "Scan parquet") == 1, s"one documents scan:\n$p")
    assert(nOps(p, "Window") == 1, s"exactly the per-doc run-id window:\n$p")
    assert(nOps(p, "SortMergeJoin") + nOps(p, "BroadcastHashJoin") +
      nOps(p, "ShuffledHashJoin") + nOps(p, "BroadcastNestedLoopJoin") +
      nOps(p, "CartesianProduct") == 0, s"nothing joins:\n$p")
  }

  test("events_asof_native: the custom operator plans — AsOfJoin exec, no window, no generic join") {
    val p = plan("events_asof_native")
    assert(p.contains("AsOfJoin"), s"strategy must plan the native exec:\n$p")
    assert(nOps(p, "Window") == 0, s"the whole point: no carry-forward window:\n$p")
    assert(nOps(p, "SortMergeJoin") + nOps(p, "BroadcastHashJoin") +
      nOps(p, "ShuffledHashJoin") + nOps(p, "BroadcastNestedLoopJoin") +
      nOps(p, "CartesianProduct") == 0, s"no generic join machinery:\n$p")
    // EnsureRequirements gives each side its key exchange + (key, ts) sort
    assert(nOps(p, "Exchange") == 2 && nOps(p, "Sort") == 2,
      s"exactly the two distributions + orderings the exec declares:\n$p")
    graft.core.QueryCaches.release()
  }

  test("AsOfJoinExec == union+window composition: identical matches on the events data") {
    import org.apache.spark.sql.functions._
    val e = graft.queries.Tables.loadEvents(spark, sf)
      .select(col("user_id"), col("event_id"), col("event_type"), expr("ts div 1000").as("tus"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("p_event"), col("tus").as("p_tus"))
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("tus").as("c_tus"))
    val native = graft.ext.AsOfJoin.asOfNative(purchases, clicks,
        "user_id", "c_user", "p_tus", "c_tus")
      .select(col("user_id"), col("p_event"), col("p_tus"), col("c_tus"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3))).sorted.toSeq
    val composed = graft.ext.AsOfJoin.asOfJoin(
        purchases, clicks.select(col("c_user").as("user_id"), col("c_tus")),
        Seq("user_id"), "p_tus", "c_tus", "p_event", "c_tus")
      .select(col("user_id"), col("p_event"), col("p_tus"), col("c_tus"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3))).sorted.toSeq
    assert(native.nonEmpty && native == composed,
      s"native ${native.take(3)} vs composed ${composed.take(3)}")
  }

  test("asOfNative directions: forward/nearest match a brute-force oracle incl. ties and misses") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // crafted edges: exact-ts tie (25), equidistant pair (40 between 30
    // and 50), key with no rights (3), left before any right (k=2 t=5)
    val leftRows = Seq((1L, 10L), (1L, 25L), (1L, 40L), (2L, 5L), (2L, 100L), (3L, 7L))
    val rightRows = Seq((1L, 25L, 250L), (1L, 30L, 300L), (1L, 50L, 500L),
      (2L, 60L, 600L), (2L, 100L, 1000L))
    val l = leftRows.toDF("k", "t")
    val r = rightRows.toDF("rk", "rt", "rv")
    def brute(dir: String): Seq[(Long, Long, Option[Long])] =
      leftRows.map { case (k, t) =>
        val cands = rightRows.filter(_._1 == k)
        val back = cands.filter(_._2 <= t).sortBy(_._2).lastOption
        val fwd = cands.filter(_._2 >= t).sortBy(_._2).headOption
        val m = dir match {
          case "forward" => fwd
          case "nearest" => (back, fwd) match {
            case (Some(b), Some(f)) =>
              if (f._2 - t < t - b._2) Some(f) else Some(b) // tie → backward
            case (b, f) => b.orElse(f)
          }
        }
        (k, t, m.map(_._3))
      }.sorted
    for (dir <- Seq("forward", "nearest")) {
      val got = graft.ext.AsOfJoin.asOfNative(l, r, "k", "rk", "t", "rt", dir)
        .select(col("k"), col("t"), col("rv"))
        .collect().map(row => (row.getLong(0), row.getLong(1),
          if (row.isNullAt(2)) None else Some(row.getLong(2)))).toSeq.sorted
      assert(got == brute(dir), s"direction=$dir: got $got expected ${brute(dir)}")
    }
    // tolerance: per-candidate window — (k=1, t=40) has back 30 (gap 10)
    // and fwd 50 (gap 10): tol=5 nulls both; tol=10 keeps the backward
    // tie-winner. (k=2, t=5)'s only candidate (60, gap 55) dies at tol=10,
    // and critically NEAREST at (k=2, t=100) keeps its exact match.
    val tol = graft.ext.AsOfJoin.asOfNative(l, r, "k", "rk", "t", "rt",
        "nearest", tolerance = Some(10L))
      .select(col("k"), col("t"), col("rv"))
      .collect().map(row => (row.getLong(0), row.getLong(1),
        if (row.isNullAt(2)) None else Some(row.getLong(2)))).toSeq.sorted
    assert(tol == Seq((1L, 10L, None), (1L, 25L, Some(250L)), (1L, 40L, Some(300L)),
      (2L, 5L, None), (2L, 100L, Some(1000L)), (3L, 7L, None)), s"tolerance: $tol")
    // out-of-window past must not shadow an in-window future: backward
    // 25 is 15 away from t=40, forward 50 is 10 away — tol=12 must pick 50
    val shadow = graft.ext.AsOfJoin.asOfNative(
        Seq((9L, 40L)).toDF("k", "t"),
        Seq((9L, 25L, 1L), (9L, 50L, 2L)).toDF("rk", "rt", "rv"),
        "k", "rk", "t", "rt", "nearest", tolerance = Some(12L))
      .select(col("rv")).head()
    assert(shadow.getLong(0) == 2L, s"tolerance must filter candidates pre-choice")
  }

  test("AsOfJoinExec metrics: numOutputRows == probes, numMatched == non-null matches") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val l = Seq((1L, 10L), (1L, 25L), (2L, 5L)).toDF("k", "t")
    val r = Seq((1L, 20L, 200L)).toDF("rk", "rt", "rv")
    val df = graft.ext.AsOfJoin.asOfNative(l, r, "k", "rk", "t", "rt")
    val rows = df.collect()
    assert(rows.length == 3 && rows.count(!_.isNullAt(4)) == 1) // only (1, 25) matches
    // AQE wraps the executed tree — descend through the adaptive root
    def findExec(p: org.apache.spark.sql.execution.SparkPlan): Option[graft.plans.AsOfJoinExec] =
      p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          findExec(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          findExec(q.plan)
        case e: graft.plans.AsOfJoinExec => Some(e)
        case other => other.children.iterator.flatMap(findExec).nextOption()
      }
    val exec = findExec(df.queryExecution.executedPlan).get
    assert(exec.metrics("numOutputRows").value == 3L)
    assert(exec.metrics("numMatched").value == 1L)
  }

  test("asOfNative: shared-lineage sides (duplicate exprIds) re-alias — right values stay right") {
    // r10 advice: without the guard, a self-join lineage binds right
    // references to the FIRST (left) attribute — right columns silently
    // read left values. (k, v) keep their exprIds through the select;
    // only ts2 gets a fresh one, so the overlap path is exercised.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val base = Seq((1L, 10L, 100L), (1L, 20L, 200L), (2L, 10L, 300L))
      .toDF("k", "ts", "v")
    val left = base.select(col("k"), (col("ts") + 15L).as("ts2"), col("v"))
    val r = graft.ext.AsOfJoin.asOfNative(left, base, "k", "k", "ts2", "ts")
      .collect().map(row => (row.getLong(0), row.getLong(1), row.getLong(2),
        row.getLong(4), row.getLong(5))).sorted.toSeq
    // left (k=1, ts2=25, v=100) must match right (ts=20, v=200), NOT
    // reflect its own v; (k=1, ts2=35) matches the same; (k=2, ts2=25)
    // matches (ts=10, v=300).
    assert(r == Seq((1L, 25L, 100L, 20L, 200L), (1L, 35L, 200L, 20L, 200L),
      (2L, 25L, 300L, 10L, 300L)), s"got $r")
  }

  test("IntervalJoinRewrite: degenerate hi < lo intervals match nothing (not a Sequence crash)") {
    // r10 advice: Sequence with a positive step THROWS on start > stop,
    // turning BETWEEN's empty-match semantics into a runtime failure.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val iv = Seq((1L, 100L, 900L), (2L, 5000L, 4000L), (3L, 200L, 200L))
      .toDF("iv_id", "lo", "hi") // iv 2 is reversed — empty under BETWEEN
    val pts = Seq((10L, 150L), (11L, 4500L), (12L, 200L)).toDF("pt_id", "t")
    spark.conf.set("spark.graft.interval.rewrite", "true")
    spark.conf.set("spark.graft.interval.bucket", "100")
    try {
      val got = pts.join(iv, col("t") >= col("lo") && col("t") <= col("hi"))
        .select(col("pt_id"), col("iv_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      // pt 11 (t=4500) falls inside the REVERSED interval's span — it
      // must NOT match (BETWEEN 5000 AND 4000 is empty), and the query
      // must not throw planning its buckets.
      assert(got == Seq((10L, 1L), (12L, 1L), (12L, 3L)), s"got $got")
    } finally {
      spark.conf.unset("spark.graft.interval.rewrite")
      spark.conf.unset("spark.graft.interval.bucket")
    }
  }

  test("sim_beam_search: beam rounds staged; beam recall >= greedy recall on the same graph") {
    import org.apache.spark.sql.functions.col
    val beamRows = SparkEntry.queries("sim_beam_search")(spark, sf)
      .select(col("q_id"), col("hit"), col("beam_hit")).collect()
    graft.core.QueryCaches.release()
    val greedyRows = SparkEntry.queries("sim_graph_search")(spark, sf)
      .select(col("q_id"), col("hit")).collect()
    graft.core.QueryCaches.release()
    val beamHit = beamRows.map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    val greedyHit = greedyRows.map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    // width-3 beam explores a superset of greedy's frontier in round 1
    // and keeps 3 escape routes after — its true-NN-in-beam rate must
    // dominate greedy's found-the-optimum rate query-for-query is NOT
    // guaranteed (different trajectories), but the aggregate rate is
    // the dial the width buys; assert it does not regress
    assert(beamHit.values.count(identity) >= greedyHit.values.count(identity),
      s"beam $beamHit vs greedy $greedyHit")
  }

  test("q21_waiting_supp: exists/not-exists plan as semi + anti joins, never a nested loop") {
    val p = plan("q21_waiting_supp")
    assert(p.contains("LeftSemi"), s"EXISTS leg must be a left semi join:\n$p")
    assert(p.contains("LeftAnti"), s"NOT EXISTS leg must be a left anti join:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian in the self-join chain:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-25 must be a partial TakeOrdered, not a global sort:\n$p")
  }

  test("q2_min_cost_supp: correlated min is an agg + equi-join; offers cached once") {
    val p = plan("q2_min_cost_supp")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"min-cost stitch must stay an equi-join:\n$p")
    assert(p.contains("InMemoryTableScan") || p.contains("InMemoryRelation"),
      s"offers relation must be query-scope persisted (feeds min + stitch):\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-100 must be a partial TakeOrdered:\n$p")
  }

  test("q11_important_parts: scalar total broadcasts onto cached vals — one fact agg") {
    val p = plan("q11_important_parts")
    // the single BroadcastNestedLoopJoin is the 1-row total stitch;
    // the part-value relation itself must come from the cache, so the
    // lineitem join+agg executes once even though vals has two readers
    assert(nOps(p, "BroadcastNestedLoopJoin") == 1,
      s"exactly one 1-row scalar stitch expected:\n$p")
    assert(p.contains("InMemoryTableScan") || p.contains("InMemoryRelation"),
      s"vals must be query-scope persisted:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
  }

  test("runtime bloom filter: a selective dim filter injects might_contain into the fact side") {
    // The optimizer surface behind q_bloom_prune's MANUAL bloom: Spark's
    // InjectRuntimeFilter plants a BloomFilterMightContain on the fact
    // scan when the other side is selectively filtered — the engine's
    // own semi-join reduction at 100 TB. Pinned here so a config or
    // version change that silently loses the rewrite is caught.
    // Thresholds are forced only for the pin: local parquet is tiny.
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
      .map(k => k -> conf.getOption(k))
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      val li = spark.read.parquet(s"$sf/lineitem.parquet")
      val ord = spark.read.parquet(s"$sf/orders.parquet")
        .filter("o_orderpriority = '1-URGENT'")
      val j = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .groupBy("o_orderpriority").count()
      val opt = j.queryExecution.optimizedPlan.toString
      assert(opt.contains("might_contain"),
        s"runtime bloom filter did not inject:\n$opt")
    } finally saved.foreach { case (k, v) =>
      v.fold(conf.unset(k))(conf.set(k, _))
    }
  }

  test("sim_index_persist: bucketed index scan feeds the ADC aggregate with zero exchanges") {
    // The persisted-index contract: the codes table is bucketed by
    // vec_id, so the scan's HashPartitioning(vec_id, 8) already
    // satisfies the (q_id, vec_id) ADC grouping — no shuffle may sit
    // between the index scan and the final aggregate (the distance
    // table joins in as a broadcast). Losing this (a dropped bucket
    // spec, a repartition slipped into the read path) silently
    // reintroduces the full per-candidate exchange the layout kills.
    // AQE off for a traversable non-adaptive physical tree.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val exec = SparkEntry.queries("sim_index_persist")(spark, sf)
        .queryExecution.executedPlan
      import org.apache.spark.sql.execution.SparkPlan
      def path(p: SparkPlan): Option[List[SparkPlan]] =
        if (p.children.isEmpty && p.toString.contains("graft_ivfpq_codes"))
          Some(List(p))
        else p.children.flatMap(path(_)).headOption.map(p :: _)
      val rev = path(exec)
        .getOrElse(fail(s"no scan of the persisted codes table in:\n$exec"))
        .reverse // scan first, root last
      val aggIdxs = rev.zipWithIndex
        .filter(_._1.nodeName.contains("HashAggregate")).map(_._2)
      assert(aggIdxs.size >= 2,
        s"partial+final ADC aggregate expected above the index scan:\n$exec")
      val seg = rev.take(aggIdxs(1) + 1)
      assert(!seg.exists(_.nodeName.contains("Exchange")),
        "no exchange may sit between the bucketed index scan and the " +
          s"final ADC aggregate:\n${seg.map(_.nodeName).mkString(" <- ")}")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      graft.ext.DedupOps.releaseCaches()
    }
  }

  test("geo_region_join_large: shuffle-side cover join — no broadcast join of any kind") {
    // The too-large-to-broadcast contract: the cover meets the points
    // in a cell-keyed SortMergeJoin; neither a BroadcastNestedLoopJoin
    // (the disaster plan a range/contains predicate invites) nor a
    // BroadcastHashJoin (the small-catalog plan this row exists to
    // avoid) may appear. AQE off so the pinned shape is the static one.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = SparkEntry.queries("geo_region_join_large")(spark, sf)
        .queryExecution.executedPlan
      val s = p.toString
      assert(!s.contains("BroadcastNestedLoopJoin"),
        s"BroadcastNestedLoopJoin in the large region join:\n$p")
      assert(!s.contains("BroadcastHashJoin"),
        s"the cover must not be broadcast in the large variant:\n$p")
      assert(s.contains("SortMergeJoin"),
        s"cell-keyed SortMergeJoin expected:\n$p")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      graft.ext.DedupOps.releaseCaches()
      graft.core.QueryCaches.releaseAll()
    }
  }

  test("sim_index_compact: generation-2 read path keeps the zero-exchange ADC contract") {
    // After the delta is folded into the generation-2 table, serving
    // must return to the single-table exchange-free plan — the whole
    // point of compacting. Same pin as sim_index_persist's, against
    // the g2 table name.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val exec = SparkEntry.queries("sim_index_compact")(spark, sf)
        .queryExecution.executedPlan
      import org.apache.spark.sql.execution.SparkPlan
      def path(p: SparkPlan): Option[List[SparkPlan]] =
        if (p.children.isEmpty && p.toString.contains("graft_ivfpq_codes_g2"))
          Some(List(p))
        else p.children.flatMap(path(_)).headOption.map(p :: _)
      val rev = path(exec)
        .getOrElse(fail(s"no scan of the generation-2 codes table in:\n$exec"))
        .reverse
      val aggIdxs = rev.zipWithIndex
        .filter(_._1.nodeName.contains("HashAggregate")).map(_._2)
      assert(aggIdxs.size >= 2,
        s"partial+final ADC aggregate expected above the g2 index scan:\n$exec")
      val seg = rev.take(aggIdxs(1) + 1)
      assert(!seg.exists(_.nodeName.contains("Exchange")),
        "no exchange may sit between the g2 index scan and the " +
          s"final ADC aggregate:\n${seg.map(_.nodeName).mkString(" <- ")}")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      graft.ext.DedupOps.releaseCaches()
    }
  }

  test("dedup_index_compact: batch-2 admission reads the generation-2 table with one batch-side exchange") {
    // The fold's serving contract: screening against the merged index
    // has the SAME plan shape as against generation 1 — the g2 bucketed
    // scan joins exchange-free, batch 2 pays the one shuffle, the
    // window reuses it.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = SparkEntry.queries("dedup_index_compact")(spark, sf)
        .queryExecution.executedPlan
      def count(n: org.apache.spark.sql.execution.SparkPlan, name: String): Int =
        n.collect { case x if x.nodeName.contains(name) => x }.size
      // the fold itself runs EAGERLY inside bucketedTable at build
      // time (a separate job), so the returned plan is purely the
      // admission read path — and must match generation 1's shape.
      assert(p.toString.contains("graft_fp_index_g2"),
        s"admission must read from the generation-2 bucketed table:\n$p")
      assert(count(p, "Exchange") == 1,
        s"exactly one exchange (the batch-2 side) may appear:\n$p")
      assert(count(p, "SortMergeJoin") == 1,
        s"the admission join must be SMJ:\n$p")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      graft.ext.DedupOps.releaseCaches()
    }
  }

  test("dedup_index_persist: one exchange total — index side joins bucket-partitioned, window reuses it") {
    // The admission plan's contract: the reopened fingerprint table
    // joins from its bucket partitioning (no exchange above its scan),
    // the batch pays the single shuffle, and the within-batch window
    // reuses the join's fp partitioning instead of adding a second
    // exchange. AQE off for a countable non-adaptive tree.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = SparkEntry.queries("dedup_index_persist")(spark, sf)
        .queryExecution.executedPlan
      def count(n: org.apache.spark.sql.execution.SparkPlan, name: String): Int =
        n.collect { case x if x.nodeName.contains(name) => x }.size
      assert(count(p, "Exchange") == 1,
        s"exactly one exchange (the batch side) may appear:\n$p")
      assert(count(p, "SortMergeJoin") == 1, s"the admission join must be SMJ:\n$p")
      assert(p.toString.contains("graft_fp_index"),
        s"the index must read from the bucketed table:\n$p")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      graft.ext.DedupOps.releaseCaches()
    }
  }

  test("geo_map_match: anchors broadcast onto one walk scan — argmin in-row, no shuffle join") {
    val p = plan("geo_map_match")
    assert(nOps(p, "SortMergeJoin") + nOps(p, "BroadcastNestedLoopJoin") +
      nOps(p, "CartesianProduct") == 0,
      s"the cover must broadcast; nothing may shuffle-join or nest-loop:\n$p")
    assert(nOps(p, "BroadcastHashJoin") == 1,
      s"exactly the cell-cover broadcast join:\n$p")
    assert(nOps(p, "Scan parquet") <= 1, s"the walk is scanned once:\n$p")
  }

  test("sim_index_delete: generation-3 read path keeps the zero-exchange ADC contract") {
    // After tombstones fold out, serving must return to the same
    // single-table exchange-free plan as generations 1 and 2 — the
    // delete is a layout rewrite, not a plan regression.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val exec = SparkEntry.queries("sim_index_delete")(spark, sf)
        .queryExecution.executedPlan
      import org.apache.spark.sql.execution.SparkPlan
      def path(p: SparkPlan): Option[List[SparkPlan]] =
        if (p.children.isEmpty && p.toString.contains("graft_ivfpq_codes_g3"))
          Some(List(p))
        else p.children.flatMap(path(_)).headOption.map(p :: _)
      val rev = path(exec)
        .getOrElse(fail(s"no scan of the generation-3 codes table in:\n$exec"))
        .reverse
      val aggIdxs = rev.zipWithIndex
        .filter(_._1.nodeName.contains("HashAggregate")).map(_._2)
      assert(aggIdxs.size >= 2,
        s"partial+final ADC aggregate expected above the g3 index scan:\n$exec")
      val seg = rev.take(aggIdxs(1) + 1)
      assert(!seg.exists(_.nodeName.contains("Exchange")),
        "no exchange may sit between the g3 index scan and the " +
          s"final ADC aggregate:\n${seg.map(_.nodeName).mkString(" <- ")}")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      graft.ext.DedupOps.releaseCaches()
    }
  }

  test("dedup_index_delete: admission reads the generation-3 table with one batch-side exchange") {
    // The decrement fold runs eagerly at layout time; the returned plan
    // is purely the admission read path and must match generation 1's
    // shape — g3 bucketed scan joins exchange-free, the batch pays the
    // single shuffle, the window reuses it.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = SparkEntry.queries("dedup_index_delete")(spark, sf)
        .queryExecution.executedPlan
      def count(n: org.apache.spark.sql.execution.SparkPlan, name: String): Int =
        n.collect { case x if x.nodeName.contains(name) => x }.size
      assert(p.toString.contains("graft_fp_index_g3"),
        s"admission must read from the generation-3 bucketed table:\n$p")
      assert(count(p, "Exchange") == 1,
        s"exactly one exchange (the batch side) may appear:\n$p")
      assert(count(p, "SortMergeJoin") == 1,
        s"the admission join must be SMJ:\n$p")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      graft.ext.DedupOps.releaseCaches()
    }
  }

  test("geo_encounters: pairing is bucket-keyed, islands window partitions on the pair") {
    val p = plan("geo_encounters")
    assert(nOps(p, "CartesianProduct") + nOps(p, "BroadcastNestedLoopJoin") == 0,
      s"co-located hours must come from the capped bucket equi-join:\n$p")
  }

  test("geo_home_work: argmax is map-side max_by — no joins, no rank window") {
    val p = plan("geo_home_work")
    assert(nOps(p, "BroadcastHashJoin") + nOps(p, "SortMergeJoin") +
      nOps(p, "BroadcastNestedLoopJoin") + nOps(p, "CartesianProduct") == 0,
      s"the period argmax must be an aggregate, never a join or rank filter:\n$p")
    assert(nOps(p, "Scan parquet") <= 1, s"one events scan:\n$p")
  }

  test("relational joins: no SF-scaled table is force-broadcast (q3/q5 plans adapt)") {
    // No broadcast() hint on customer/supplier survives in the source —
    // at sf0.001 AQE may still pick broadcasts (everything is tiny);
    // the contract here is textual: the query code carries no forced
    // hint on fact-scaled relations.
    val src = java.nio.file.Files.readString(
      java.nio.file.Paths.get("src/main/scala/graft/queries/Relational.scala"),
      java.nio.charset.StandardCharsets.UTF_8)
    val forced = "broadcast\\((cust|supp|orders|lineitem|li|ord)\\b".r.findAllIn(src).toList
    assert(forced.isEmpty, s"forced broadcast of SF-scaled tables: $forced")
  }

  test("geo_voronoi: the argmin is a projection — zero joins, one aggregate exchange") {
    val p = plan("geo_voronoi")
    assert(nOps(p, "BroadcastHashJoin") + nOps(p, "SortMergeJoin") +
      nOps(p, "BroadcastNestedLoopJoin") + nOps(p, "CartesianProduct") == 0,
      s"nearest-facility must be least() over literal structs, never a join:\n$p")
    assert(nOps(p, "Exchange") <= 2,
      s"only the 6-group final aggregate may shuffle:\n$p")
  }

  test("geo_convex_hull: prune is a broadcast stitch; cubic phase never sort-merges") {
    val p = plan("geo_convex_hull")
    assert(nOps(p, "CartesianProduct") == 0, s"no cartesian:\n$p")
    assert(nOps(p, "SortMergeJoin") == 0,
      s"survivor relations are frontier-scale and must broadcast:\n$p")
  }

  test("sim_split_gain: histogram is the only corpus-scale pass; no sort-merge join") {
    val p = plan("sim_split_gain")
    assert(nOps(p, "SortMergeJoin") == 0,
      s"post-histogram relations are domain-bounded and must broadcast:\n$p")
    assert(nOps(p, "CartesianProduct") == 0, s"no cartesian:\n$p")
    // corpus is touched exactly once: one scan of embeddings
    assert(nOps(p, "Scan parquet") <= 1, s"one embeddings scan:\n$p")
  }

  test("geo_kde: kernel smear is pure cell-domain work — no joins at all") {
    val p = plan("geo_kde")
    assert(nOps(p, "BroadcastHashJoin") + nOps(p, "SortMergeJoin") +
      nOps(p, "BroadcastNestedLoopJoin") + nOps(p, "CartesianProduct") == 0,
      s"the 3x3 smear must be an explode over the cell relation, never a join:\n$p")
    assert(nOps(p, "Scan parquet") <= 1, s"one embeddings scan:\n$p")
  }

  test("geo_lof: every stage is an equi-join over candidate-bounded relations") {
    val p = plan("geo_lof")
    assert(nOps(p, "CartesianProduct") == 0, s"no cartesian:\n$p")
    assert(nOps(p, "BroadcastNestedLoopJoin") == 0,
      s"kdist/lrd stitches are key-equi joins, never nested loops:\n$p")
  }

  test("geo_od_matrix: endpoint extraction is join-free — one walk window, aggregates only") {
    val p = plan("geo_od_matrix")
    assert(nOps(p, "BroadcastHashJoin") + nOps(p, "SortMergeJoin") +
      nOps(p, "BroadcastNestedLoopJoin") + nOps(p, "CartesianProduct") == 0,
      s"first/last must be struct min/max aggregates, never a self-join or rank filter:\n$p")
    assert(nOps(p, "Window") == 1,
      s"exactly the walk's cumsum window — the endpoint fold itself adds none:\n$p")
    // walk exchange (user) is reused by the (user, day) aggregate —
    // user ⊆ {user, day} satisfies the clustering; only the zone
    // rollup (with its distinct-user Expand) shuffles again
    assert(nOps(p, "Exchange") <= 3, s"no redundant shuffles:\n$p")
  }

  test("geo_stay_points: gaps-and-islands rides the walk's user partitioning — one exchange, no joins") {
    val p = plan("geo_stay_points")
    assert(nOps(p, "BroadcastHashJoin") + nOps(p, "SortMergeJoin") +
      nOps(p, "BroadcastNestedLoopJoin") + nOps(p, "CartesianProduct") == 0,
      s"run detection is window algebra, never a join:\n$p")
    // ONE user-hash exchange feeds the walk, the flag/cumsum windows
    // (same partition+order — no re-sort), and the (user, run_id)
    // aggregate (user ⊆ keys)
    assert(nOps(p, "Exchange") <= 2, s"the whole query is one sort-shuffle:\n$p")
  }

  test("geo_gyration and geo_loc_entropy: per-user folds reuse the walk exchange") {
    for (name <- Seq("geo_gyration", "geo_loc_entropy")) {
      val p = plan(name)
      assert(nOps(p, "BroadcastHashJoin") + nOps(p, "SortMergeJoin") +
        nOps(p, "BroadcastNestedLoopJoin") + nOps(p, "CartesianProduct") == 0,
        s"$name is aggregates over the walk, never a join:\n$p")
      assert(nOps(p, "Exchange") <= 2,
        s"$name: user-keyed aggregates must reuse the walk's hash partitioning:\n$p")
    }
  }

  test("geo_cotravel: bucket pairing is an equi-join, never a nested loop") {
    val p = plan("geo_cotravel")
    assert(nOps(p, "CartesianProduct") == 0, s"no cartesian:\n$p")
    assert(nOps(p, "BroadcastNestedLoopJoin") == 0,
      s"candidates must meet on the (hb, cx, cy) key:\n$p")
  }

  test("text_ppmi_sim: vocab restriction broadcasts; nothing nest-loops") {
    val p = plan("text_ppmi_sim")
    assert(nOps(p, "CartesianProduct") == 0, s"no cartesian:\n$p")
    // the 40-row vocab and the 1-row doc count are the only small sides;
    // both must broadcast onto the corpus-scale token relation
    assert(nOps(p, "BroadcastHashJoin") >= 1,
      s"vocab must reach the token relation as a broadcast:\n$p")
  }
}
