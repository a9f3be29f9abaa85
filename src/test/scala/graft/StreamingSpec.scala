package graft

import graft.streaming.GraftStream
import graft.queries.Tables.normalizeEventTs
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue

/** Streaming parity slice (SURVEY §7.2 step 4): unbounded sources with
  * bounded per-trigger admission (the reference's maxsize
  * backpressure), transform parity on streams, ForeachWriter lifecycle
  * (= on_start/f/on_done), and event-time windows checked against
  * their batch oracles.
  */
/** Executor-visible static state for the ForeachWriter lifecycle test. */
object StreamingSpecState {
  val seen = new ConcurrentLinkedQueue[Int]()
  val opens = new java.util.concurrent.atomic.AtomicInteger
  val closes = new java.util.concurrent.atomic.AtomicInteger
  def reset(): Unit = { seen.clear(); opens.set(0); closes.set(0) }
}

/** A user exception type the streaming tests expect back unwrapped. */
class StreamingSpecFailure(msg: String) extends RuntimeException(msg)

class StreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("stream map/filter parity: results equal the Scala-collection oracle") {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[Int]
    val out = new ConcurrentLinkedQueue[Int]()
    val st = new GraftStream(in.toDS()).map(_ * 2).filter(_ % 3 != 0)
    val q = st.eachBatch((batch, _) => batch.collect().foreach(out.add))
    in.addData(1 to 100: _*)
    q.processAllAvailable(); q.stop()
    assert(out.toArray.map(_.asInstanceOf[Int]).sorted.toSeq ==
      (1 to 100).map(_ * 2).filter(_ % 3 != 0))
  }

  test("ForeachWriter each: lifecycle open/process/close = on_start/f/on_done") {
    // The ForeachWriter is task-serialized, so captured locals would be
    // a deserialized COPY on the "executor" — state lives in a static
    // holder (same JVM in local mode).
    implicit val sq = spark.sqlContext
    val in = MemoryStream[Int]
    StreamingSpecState.reset()
    val q = new GraftStream(in.toDS())
      .eachStart[Unit]((v, _) => { StreamingSpecState.seen.add(v); () },
        onStart = _ => { StreamingSpecState.opens.incrementAndGet(); () },
        onDone = _ => { StreamingSpecState.closes.incrementAndGet(); () })
    in.addData(1 to 50: _*)
    q.processAllAvailable(); q.stop()
    assert(StreamingSpecState.seen.toArray.map(_.asInstanceOf[Int]).sorted.toSeq == (1 to 50))
    assert(StreamingSpecState.opens.get() > 0 &&
      StreamingSpecState.opens.get() == StreamingSpecState.closes.get())
  }

  test("maxsize analog: file source admits one file per trigger, totals match batch") {
    // Stage 3 copies of events.parquet in a fresh dir: with
    // maxFilesPerTrigger=1 the stream must drain in 3 micro-batches
    // (bounded admission — the maxsize contract), totalling 3× the
    // batch count.
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val src = Paths.get("/root/testdata/sf0.001/events.parquet")
    val dir = Files.createTempDirectory("graft_stream_in")
    (1 to 3).foreach(i => Files.copy(src, dir.resolve(s"part-$i.parquet"),
      StandardCopyOption.REPLACE_EXISTING))
    val schema = spark.read.parquet(src.toString).schema
    val st = GraftStream.files(spark, dir.toString, schema, maxFilesPerTrigger = 1)
    val counts = new ConcurrentLinkedQueue[Long]()
    val q = st.eachBatch((batch, _) => { counts.add(batch.count()); () })
    q.processAllAvailable(); q.stop()
    val batchTotal = spark.read.parquet(src.toString).count()
    val got = counts.toArray.map(_.asInstanceOf[Long])
    assert(got.sum == 3 * batchTotal)
    assert(got.length == 3, s"expected 3 one-file micro-batches, got ${got.length}")
  }

  test("watermarked tumbling window equals its batch oracle") {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long)]
    val df = in.toDF().toDF("ts", "v")
    val rows = new ConcurrentLinkedQueue[Row]()
    val q = GraftStream.windowedCounts(df, "ts", "1 minute", "10 seconds")
      .writeStream.outputMode("update")
      .foreachBatch((b: org.apache.spark.sql.Dataset[Row], _: Long) =>
        { b.collect().foreach(rows.add); () })
      .start()
    val base = 1700000000000L
    in.addData((0 until 60).map(i => (new Timestamp(base + i * 1000L), i.toLong)): _*)
    q.processAllAvailable(); q.stop()
    // update-mode emits per-window rows; last emission per window wins
    val got = rows.toArray.map(_.asInstanceOf[Row])
      .map(r => r.getTimestamp(0).getTime -> r.getLong(1)).toMap
    val expected = (0 until 60).map(i => (base + i * 1000L) / 10000 * 10000)
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    assert(got == expected)
  }

  test("stream-stream interval join: same-key in-window matches only") {
    implicit val sq = spark.sqlContext
    val clicks = MemoryStream[(Long, Timestamp, Long)]
    val views = MemoryStream[(Long, Timestamp, Long)]
    val cdf = clicks.toDF().toDF("user_id", "click_ts", "click_id")
    val vdf = views.toDF().toDF("v_user_id", "view_ts", "view_id")
    val rows = new ConcurrentLinkedQueue[Row]()
    val joined = GraftStream.intervalJoin(cdf, vdf, "user_id", "v_user_id",
        "click_ts", "view_ts", watermark = "10 seconds", lookback = "60 seconds")
      .select(col("click_id"), col("view_id"))
    val q = joined.writeStream.outputMode("append")
      .foreachBatch((b: org.apache.spark.sql.Dataset[Row], _: Long) =>
        { b.collect().foreach(rows.add); () })
      .start()
    val base = 1700000000000L
    def t(s: Long) = new Timestamp(base + s * 1000L)
    // user 1: view at 10s IS in the click@60s lookback window [0,60];
    // view at 100s is later than the click; user 2's view has no click;
    // user 3's click has no view (inner join: no row for either).
    views.addData((1L, t(10), 101L), (1L, t(100), 102L), (2L, t(50), 201L))
    clicks.addData((1L, t(60), 1L), (3L, t(60), 3L))
    q.processAllAvailable(); q.stop()
    val got = rows.toArray.map(_.asInstanceOf[Row])
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 101L)),
      s"only the same-user in-window (click 1, view 101) pair must join, got $got")
  }

  test("stream-stream interval self-join == batch banded co-occurrence (events_cooccur shape)") {
    // The streaming analog of the events_cooccur oracle row: pairs of
    // same-user events within 60 s, earlier-first (ties by id). The
    // batch query generates candidates by 60-s band equi-join; the
    // stream generates them with watermark-bounded interval-join state
    // — SAME pair predicate, so on identical input the pair sets must
    // be identical.
    implicit val sq = spark.sqlContext
    val fs = MemoryStream[(Long, Timestamp, Long)]
    val ss = MemoryStream[(Long, Timestamp, Long)]
    val first = fs.toDF().toDF("f_user", "f_ts", "f_id")
    val second = ss.toDF().toDF("s_user", "s_ts", "s_id")
    val rows = new ConcurrentLinkedQueue[Row]()
    val joined = GraftStream.intervalJoin(second, first, "s_user", "f_user",
        "s_ts", "f_ts", watermark = "10 seconds", lookback = "60 seconds")
      .filter(col("f_ts") < col("s_ts") ||
        (col("f_ts") === col("s_ts") && col("f_id") < col("s_id")))
      .select(col("f_id"), col("s_id"))
    val q = joined.writeStream.outputMode("append")
      .foreachBatch((b: org.apache.spark.sql.Dataset[Row], _: Long) =>
        { b.collect().foreach(rows.add); () })
      .start()
    val base = 1700000000000L
    def t(s: Long) = new Timestamp(base + s * 1000L)
    // user 1: chain 0s→30s→90s plus a 90s tie; user 2: gap > 60s;
    // user 3: singleton
    val data = Seq((1L, 0L, 1L), (1L, 30L, 2L), (1L, 90L, 3L), (1L, 90L, 4L),
      (2L, 10L, 5L), (2L, 200L, 6L), (3L, 5L, 7L))
    val expected = (for {
      (ua, ta, ia) <- data; (ub, tb, ib) <- data
      if ua == ub && tb - ta >= 0 && tb - ta <= 60 &&
        (ta < tb || (ta == tb && ia < ib))
    } yield (ia, ib)).toSet
    fs.addData(data.map { case (u, s, i) => (u, t(s), i) }: _*)
    ss.addData(data.map { case (u, s, i) => (u, t(s), i) }: _*)
    q.processAllAvailable(); q.stop()
    val got = rows.toArray.map(_.asInstanceOf[Row])
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expected, s"stream pairs $got != batch-predicate pairs $expected")
  }

  test("streaming cohorts: increment feed reproduces the batch cohort matrix") {
    // cohortUpdates emits one (cohort, week_offset) increment per
    // first-seen (user, week); summed per cell it must equal the
    // events_cohorts batch matrix computed over the same tuples.
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp)]
    val df = in.toDF().toDF("user_id", "ts")
    val rows = new ConcurrentLinkedQueue[Row]()
    val q = GraftStream.cohortUpdates(df, "ts", "user_id", "10 seconds")
      .toDF("cohort", "week_offset")
      .writeStream.outputMode("append")
      .foreachBatch((b: org.apache.spark.sql.Dataset[Row], _: Long) =>
        { b.collect().foreach(rows.add); () })
      .start()
    val W = 7L * 86400000L
    def t(week: Long, off: Long = 1000) = new Timestamp(week * W + off)
    // trigger 1: users 1,2 start in week 100; user 3 in week 101;
    // a same-week repeat (user 1) must NOT double-emit
    in.addData((1L, t(100)), (1L, t(100, 2000)), (2L, t(100)), (3L, t(101)))
    q.processAllAvailable()
    // trigger 2: later weeks, plus a repeat of (3, 101) across triggers
    in.addData((1L, t(101)), (1L, t(102)), (2L, t(102)), (3L, t(101, 5000)), (3L, t(102)))
    q.processAllAvailable()
    // trigger 3: advances user 2's state — the update runs with the
    // watermark now past week 100, so week 100 is trimmed from `seen`
    in.addData((2L, t(103)))
    q.processAllAvailable()
    val beforeStraggler = rows.size
    // trigger 4: a straggler for the TRIMMED week 100 must NOT re-emit
    // its increment — Spark's fmGWS does not drop late rows under
    // NoTimeout, the operator itself must filter them
    in.addData((2L, t(100, 9000)))
    q.processAllAvailable(); q.stop()
    assert(rows.size == beforeStraggler,
      s"straggler for a trimmed week re-emitted: ${rows.size - beforeStraggler} extra rows")
    val got = rows.toArray.map(_.asInstanceOf[Row])
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val data = Seq((1L, 100L), (1L, 100L), (2L, 100L), (3L, 101L),
      (1L, 101L), (1L, 102L), (2L, 102L), (3L, 101L), (3L, 102L), (2L, 103L))
    val du = data.distinct
    val first = du.groupBy(_._1).map { case (u, s) => u -> s.map(_._2).min }
    val expected = du.map { case (u, w) => (first(u), w - first(u)) }
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    assert(got == expected, s"stream cohort cells $got != batch $expected")
  }

  test("stream concat: union-all of two sources delivers every element") {
    implicit val sq = spark.sqlContext
    val in1 = MemoryStream[Int]
    val in2 = MemoryStream[Int]
    val out = new ConcurrentLinkedQueue[Int]()
    val st = new GraftStream(in1.toDS()).concat(new GraftStream(in2.toDS()))
    val q = st.eachBatch((b, _) => { b.collect().foreach(out.add); () })
    in1.addData(1 to 30: _*)
    in2.addData(31 to 50: _*)
    q.processAllAvailable(); q.stop()
    assert(out.toArray.map(_.asInstanceOf[Int]).sorted.toSeq == (1 to 50))
  }

  test("runAvailable: drains every available row through a custom writer, stops, rethrows a user exception with its type") {
    implicit val sq = spark.sqlContext
    val activeBefore = spark.streams.active.length
    val in = MemoryStream[Int]
    in.addData(1 to 40: _*)
    val sink = s"graft_run_available_${System.nanoTime}"
    new GraftStream(in.toDS()).map(_ * 3)
      .runAvailable(_.format("memory").queryName(sink))
    assert(spark.table(sink).as[Int].collect().sorted.toSeq == (1 to 40).map(_ * 3))
    assert(spark.streams.active.length == activeBefore, "runAvailable left its query running")

    val bad = MemoryStream[Int]
    bad.addData(1 to 5: _*)
    val e = intercept[StreamingSpecFailure] {
      new GraftStream(bad.toDS())
        .map(x => if (x == 4) throw new StreamingSpecFailure(s"bad element $x") else x)
        .runAvailable()
    }
    assert(e.getMessage == "bad element 4")
    assert(spark.streams.active.length == activeBefore, "a failed runAvailable left its query running")
  }

  test("streaming mapAsync: async IO on an unbounded source preserves values") {
    import graft.core.GraftStage
    import scala.concurrent.Future
    import scala.jdk.CollectionConverters._
    implicit val sq = spark.sqlContext
    val in = MemoryStream[Int]
    val parts = new ConcurrentLinkedQueue[Seq[Int]]()
    // Seeded 0-3 ms delays finish calls out of order inside each window.
    val st = new GraftStream(in.toDS()).mapAsync(
      x => Future { Thread.sleep(new scala.util.Random(x).nextInt(4).toLong); x * 3 }(GraftStage.asyncEc),
      workers = 8)
    val q = st.eachBatch((b, _) => { b.rdd.glom().collect().foreach(p => parts.add(p.toSeq)); () })
    in.addData(1 to 40: _*)
    q.processAllAvailable()
    in.addData(41 to 60: _*)
    q.processAllAvailable(); q.stop()
    val got = parts.asScala.toSeq
    assert(got.flatten.sorted == (1 to 60).map(_ * 3))
    assert(got.exists(_.size > 8), s"a partition wider than the window: ${got.map(_.size)}")
    got.foreach(p => assert(p == p.sorted, s"per-partition order inside a micro-batch: $p"))
  }

  test("streaming dedup: duplicate keys within the watermark are dropped, state bounded") {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long)]
    val df = in.toDF().toDF("ts", "k")
    val rows = new ConcurrentLinkedQueue[Long]()
    val q = GraftStream.dedupExact(df, "ts", "10 minutes", "k")
      .writeStream.outputMode("append")
      .foreachBatch((b: org.apache.spark.sql.Dataset[Row], _: Long) =>
        { b.collect().foreach(r => rows.add(r.getLong(1))); () })
      .start()
    val base = 1700000000000L
    // 100 events over 20 keys: every key repeats 5x inside the watermark
    in.addData((0 until 100).map(i => (new Timestamp(base + i * 1000L), (i % 20).toLong)): _*)
    q.processAllAvailable(); q.stop()
    val got = rows.toArray.map(_.asInstanceOf[Long]).sorted.toSeq
    assert(got == (0L until 20L), s"each key exactly once, got $got")
  }

  test("streaming curation: quality gate + bounded-state dedup admits the same docs as batch") {
    // The incoming-training-data shape: documents stream in across
    // micro-batches with planted duplicates and junk; a stateless
    // quality gate (token count) plus fingerprint dedup with
    // watermark-bounded state must admit exactly the doc set the batch
    // pipeline (filter + keep-first-arrival per fingerprint) computes.
    import graft.ext.TextOps
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long, String)]
    val df = in.toDF().toDF("ts", "doc_id", "text")
    def curate(d: org.apache.spark.sql.DataFrame) =
      d.filter(size(TextOps.tokens(col("text"))) >= 4)
        .withColumn("fp", TextOps.fingerprint(col("text")))
    val admitted = new ConcurrentLinkedQueue[Long]()
    val q = GraftStream.dedupExact(curate(df), "ts", "10 minutes", "fp")
      .writeStream.outputMode("append")
      .foreachBatch((b: org.apache.spark.sql.Dataset[Row], _: Long) =>
        { b.collect().foreach(r => admitted.add(r.getAs[Long]("doc_id"))); () })
      .start()
    val base = 1700000000000L
    def doc(i: Int, text: String) = (new Timestamp(base + i * 1000L), i.toLong, text)
    val batch1 = Seq(
      doc(0, "the quick brown fox jumps high"),
      doc(1, "short junk"), // fails quality gate
      doc(2, "a completely different document about spark plans"))
    val batch2 = Seq(
      doc(3, "the quick brown fox jumps high"), // dup of 0, cross-batch
      doc(4, "short junk"), // junk again
      doc(5, "novel text that survives the quality gate fine"))
    in.addData(batch1: _*); q.processAllAvailable()
    in.addData(batch2: _*); q.processAllAvailable(); q.stop()
    val got = admitted.toArray.map(_.asInstanceOf[Long]).sorted.toSeq
    // batch oracle on the same rows: keep first arrival per fp
    import org.apache.spark.sql.expressions.Window
    val all = (batch1 ++ batch2).toDF("ts", "doc_id", "text")
    val expected = curate(all)
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("fp")).orderBy(col("ts"), col("doc_id"))))
      .filter(col("rk") === 1)
      .select(col("doc_id")).collect().map(_.getLong(0)).sorted.toSeq
    assert(got == expected, s"streaming admitted $got, batch admits $expected")
    assert(got == Seq(0L, 2L, 5L))
  }

  test("streaming events end-to-end: file-sourced windowed counts equal the batch query") {
    // The real events table through the streaming path: file source →
    // ns→µs timestamp → watermark → 1-day tumbling window, compared
    // against the same aggregation computed in batch. Streaming and
    // batch must agree exactly on a bounded input.
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val dir = "/root/testdata/sf0.001"
    val stage = Files.createTempDirectory("graft_events_stream")
    Files.copy(Paths.get(s"$dir/events.parquet"), stage.resolve("events.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    // GraftStream.events owns schema inference + ts canonicalization —
    // the production entry point, not a hand-wrapped files(...).
    val withTs = GraftStream.events(spark, stage.toString).toDF
      .withColumn("tm", timestamp_micros(expr("ts div 1000")))
    val rows = new ConcurrentLinkedQueue[(java.sql.Timestamp, Long)]()
    val q = GraftStream.windowedCounts(withTs, "tm", "1 minute", "1 day")
      .writeStream.outputMode("update")
      .foreachBatch((b: org.apache.spark.sql.Dataset[Row], _: Long) =>
        { b.collect().foreach(r => rows.add((r.getTimestamp(0), r.getLong(1)))); () })
      .start()
    q.processAllAvailable(); q.stop()
    val streamed = rows.toArray.map(_.asInstanceOf[(java.sql.Timestamp, Long)])
      .groupBy(_._1).map { case (k, vs) => k -> vs.last._2 } // last update wins
    val batch = normalizeEventTs(spark.read.parquet(s"$dir/events.parquet"))
      .groupBy(window(timestamp_micros(expr("ts div 1000")), "1 day"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start"), col("n"))
      .collect().map(r => r.getTimestamp(0) -> r.getLong(1)).toMap
    assert(streamed == batch)
  }

  test("saltedJoin: equals the plain join result while scattering the hot key") {
    import spark.implicits._
    // 10k rows of one hot key + 1k spread over 100 keys
    val big = ((0 until 10000).map(i => (1L, i.toLong)) ++
      (0 until 1000).map(i => ((i % 100 + 2).toLong, i.toLong)))
      .toDF("k", "payload")
    val small = (1L to 101L).map(k => (k, s"dim$k")).toDF("k", "name")
    val plain = big.join(small, "k")
    val salted = graft.ext.SkewOps.saltedJoin(big, small, "k", "payload", 8)
    assert(salted.count() == plain.count())
    assert(salted.agg(sum($"payload")).head().getLong(0) ==
      plain.agg(sum($"payload")).head().getLong(0))
    // the hot key's probe rows spread across all 8 salts
    val spread = big.filter($"k" === 1)
      .withColumn("_salt", org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.hash($"payload"), org.apache.spark.sql.functions.lit(8)))
      .groupBy("_salt").count().count()
    assert(spread == 8, s"hot key must scatter over all salts, got $spread")
  }

  test("streaming near-dup: candidates found across micro-batch boundaries") {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val df = in.toDF().toDF("doc_id", "text")
    val pairs = new ConcurrentLinkedQueue[(Long, Long)]()
    // stateTtl = "": exact NoTimeout mode (state lives for the job) —
    // also what keeps processAllAvailable usable here; with a TTL the
    // engine busy-schedules timeout-check batches and never signals
    // quiescence (see nearDupCandidates scaladoc + the eviction test).
    val q = GraftStream.nearDupCandidates(df, "doc_id", "text", stateTtl = "")
      .writeStream.outputMode("append")
      .foreachBatch((b: org.apache.spark.sql.Dataset[(Long, Long)], _: Long) =>
        { b.collect().foreach(pairs.add); () })
      .start()
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    in.addData((1L, base), (2L, "completely unrelated words about spark physical plans"))
    q.processAllAvailable()
    // batch 2: a near-dup of doc 1 (first token dropped) — the candidate
    // pair must surface against batch-1 state
    in.addData((3L, base.substring(base.indexOf(' ') + 1)))
    q.processAllAvailable(); q.stop()
    val got = pairs.toArray.map(_.asInstanceOf[(Long, Long)]).toSet
    assert(got.contains((1L, 3L)), s"cross-batch near-dup must be caught, got $got")
    assert(!got.exists(p => p._1 == 2L || p._2 == 2L),
      s"unrelated doc must not pair, got $got")
  }

  test("streaming near-dup verified: in-stream estimator pairs equal batch nearDupPairs") {
    // VERDICT r4 #5: signature-in-state lets the stream emit VERIFIED
    // pairs (Broder estimate >= threshold), no offline Jaccard pass.
    // Contract under test: the stream's verified pair-id set equals the
    // batch nearDupPairs result, and each emitted estimate is close to
    // the exact Jaccard. The batch split puts one near-dup pair ACROSS
    // the micro-batch boundary (1 | 2: the fresh-vs-stored-state cross
    // path) and one within a single batch (4, 5 together: the
    // intra-batch path) so BOTH emission branches are exercised.
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val df = in.toDF().toDF("doc_id", "text")
    val out = new ConcurrentLinkedQueue[(Long, Long, Double)]()
    val q = GraftStream.nearDupVerified(df, "doc_id", "text", stateTtl = "")
      .writeStream.outputMode("append")
      .foreachBatch((b: org.apache.spark.sql.Dataset[(Long, Long, Double)], _: Long) =>
        { b.collect().foreach(out.add); () })
      .start()
    val base = "the quick brown fox jumps over the lazy dog again and again today and tomorrow"
    val tmpl = "subscribe to our newsletter for weekly updates on all the latest product releases"
    val docs = Seq(
      1L -> base,
      3L -> "completely unrelated words about spark physical plans and shuffles",
      2L -> base.substring(base.indexOf(' ') + 1),          // near-dup of 1, NEXT batch
      4L -> tmpl,
      5L -> (tmpl + " now"),                                 // near-dup of 4, same batch
      6L -> "another singleton document mentioning catalyst expressions only")
    val (batch1, batch2) = docs.splitAt(2)
    in.addData(batch1: _*)
    q.processAllAvailable()
    in.addData(batch2: _*)
    q.processAllAvailable(); q.stop()
    val streamed = out.toArray.map(_.asInstanceOf[(Long, Long, Double)])
    val streamIds = streamed.map(p => (p._1, p._2)).toSet
    val batchDf = docs.toDF("doc_id", "text")
    val batchPairs = graft.ext.DedupOps.nearDupPairs(batchDf, "doc_id", "text")
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    graft.ext.DedupOps.releaseCaches()
    assert(streamIds == batchPairs.keySet,
      s"stream-verified pairs must equal batch nearDupPairs: stream=$streamIds batch=${batchPairs.keySet}")
    // estimator accuracy: every emitted est within sampling error of
    // exact Jaccard (sd ~ sqrt(j(1-j)/64) ~ 0.06; deterministic here)
    streamed.foreach { case (a, b, est) =>
      val j = batchPairs((a, b))
      assert(math.abs(est - j) <= 0.2, s"est $est vs exact $j for ($a,$b)")
    }
    // duplicates across buckets repeat with IDENTICAL est values
    assert(streamed.groupBy(p => (p._1, p._2)).values
      .forall(g => g.map(_._3).distinct.size == 1))
  }

  test("streaming jwLinkage: blocked Jaro-Winkler pairs equal the batch dedup_entity_jw shape") {
    // The streaming twin of dedup_entity_jw: same blocking key (first
    // token of the 24-char mention), same bit-exact JW kernel, so the
    // stream's pair set must EQUAL the batch blocked join — including a
    // pair split across the micro-batch boundary (cross path: 1 | 2)
    // and one inside a single batch (intra path: 4, 5).
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val df = in.toDF().toDF("doc_id", "text")
    val out = new ConcurrentLinkedQueue[(Long, Long, Double)]()
    val q = GraftStream.jwLinkage(df, "doc_id", "text", threshold = 0.9, stateTtl = "")
      .writeStream.outputMode("append")
      .foreachBatch((b: org.apache.spark.sql.Dataset[(Long, Long, Double)], _: Long) =>
        { b.collect().foreach(out.add); () })
      .start()
    val docs = Seq(
      1L -> "orders table scan with hash join on custkey and filter",
      3L -> "stream window agg over event time with watermark bounds",
      2L -> "orders table scan with hash aggregate on custkey only", // ~dup of 1, NEXT batch
      4L -> "vector index probe for cosine topk retrieval queries",
      5L -> "vector index probe for cosine topk ranking pipeline",   // ~dup of 4, same batch
      6L -> "unrelated singleton mentioning catalyst rules only")
    val (b1, b2) = docs.splitAt(2)
    in.addData(b1: _*)
    q.processAllAvailable()
    in.addData(b2: _*)
    q.processAllAvailable(); q.stop()
    val streamed = out.toArray.map(_.asInstanceOf[(Long, Long, Double)]).toSet
    // batch oracle: the dedup_entity_jw plan shape over the same rows
    val bdf = docs.toDF("doc_id", "text")
      .select(col("doc_id"), substring(col("text"), 1, 24).as("mention"))
      .withColumn("blk", split(col("mention"), " ").getItem(0))
    val a = bdf.select(col("doc_id").as("da"), col("mention").as("ma"), col("blk"))
    val b = bdf.select(col("doc_id").as("db"), col("mention").as("mb"), col("blk"))
    val batch = a.join(b, Seq("blk")).filter(col("da") < col("db"))
      .withColumn("jw", graft.functions.HashExprs.jaroWinkler(col("ma"), col("mb")))
      .filter(col("jw") >= lit(0.9))
      .select(col("da"), col("db"), col("jw"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(streamed == batch,
      s"stream pairs must equal batch blocked JW join: stream=$streamed batch=$batch")
    assert(batch.map(p => (p._1, p._2)) == Set((1L, 2L), (4L, 5L)),
      s"fixture must exercise both cross and intra paths: $batch")
  }

  test("streaming hammingCandidates: in-stream verified pairs equal batch hammingPairs (audio fingerprint)") {
    // The GENERIC hash-family twin: the audio band-energy fingerprints
    // of the real sf0.001 corpus (+ planted last-byte edits) arrive
    // over THREE shuffled micro-batches, and the stream's verified (id_a, id_b, hamming)
    // set must equal batch hammingPairs exactly — same band split, same
    // bit_count verification, pigeonhole recall intact across batch
    // boundaries (state holds the full hash, so no estimator slack).
    implicit val sq = spark.sqlContext
    import org.apache.spark.sql.functions._
    val b = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val corpus = b.unionAll(b.select((col("doc_id") + 1000000L).as("doc_id"),
      concat(expr("substring(text, 1, length(text) - 1)"), lit("~")).as("text")))
    val hashed = corpus.select(col("doc_id"),
      graft.ext.MultimodalOps.byteBandEnergyHash(encode(col("text"), "UTF-8"), 16, 4)
        .as("ahash"))
    val rows = hashed.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val batchPairs = graft.ext.DedupOps.hammingPairs(hashed, "doc_id", "ahash",
        bits = 45, bands = 4, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    graft.ext.DedupOps.releaseCaches()
    val in = MemoryStream[(Long, Long)]
    val df = in.toDF().toDF("doc_id", "ahash")
    val out = new ConcurrentLinkedQueue[(Long, Long, Long)]()
    val q = GraftStream.hammingCandidates(df, "doc_id", "ahash",
        bits = 45, bands = 4, maxHamming = 3, maxBucket = 10000, stateTtl = "")
      .writeStream.outputMode("append")
      .foreachBatch((bt: org.apache.spark.sql.Dataset[(Long, Long, Long)], _: Long) =>
        { bt.collect().foreach(out.add); () })
      .start()
    // deterministic shuffle, planted pairs split across batch boundaries
    val shuffled = rows.sortBy(r => (r._1 * 2654435761L) % 1000000007L)
    shuffled.grouped((shuffled.size + 2) / 3).foreach { chunk =>
      in.addData(chunk: _*); q.processAllAvailable()
    }
    q.stop()
    val streamed = out.toArray.map(_.asInstanceOf[(Long, Long, Long)]).toSet
    assert(streamed == batchPairs,
      s"stream ${streamed.size} pairs vs batch ${batchPairs.size}")
    assert(batchPairs.nonEmpty, "planted audio near-dups must pair")
  }

  test("streaming near-dup: maxBucket bounds trigger-local intra pairing; overflow still pairs against stored state") {
    // The flood-bound contract (round-5 review finding): M copies of a
    // template in ONE micro-batch must not emit ~M^2/2 intra pairs —
    // only ADMITTED members (up to remaining capacity) pair among
    // themselves and enter state, while every fresh member still pairs
    // against the stored prefix (linear, detection continues at any
    // flood size).
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    // repartition(1): admission takes "the first fresh members" in group
    // iterator order, which is input order only under a single map task
    // — keeps WHICH trio gets admitted deterministic across all 16
    // band-buckets (identical text ⇒ identical buckets).
    val df = in.toDF().toDF("doc_id", "text").repartition(1)
    val pairs = new ConcurrentLinkedQueue[(Long, Long)]()
    val q = GraftStream.nearDupCandidates(df, "doc_id", "text",
        maxBucket = 4, stateTtl = "")
      .writeStream.outputMode("append")
      .foreachBatch((b: org.apache.spark.sql.Dataset[(Long, Long)], _: Long) =>
        { b.collect().foreach(pairs.add); () })
      .start()
    val tmpl = "the quick brown fox jumps over the lazy dog again and again today"
    // batch 1: one original seeds the buckets (1 member of cap 4)
    in.addData((1L, tmpl))
    q.processAllAvailable()
    // batch 2: a 10-copy flood of the same template. Capacity left = 3,
    // so 3 are admitted: intra pairs = C(3,2) = 3, cross = 10 x 1 = 10
    // per bucket — NOT C(10,2) = 45 intra. Sets below are per-pair
    // (bucket repeats collapse), so: cross pairs (1, x) for ALL 10
    // flood ids; intra pairs only among the 3 admitted.
    val flood = (10L until 20L).map(i => (i, tmpl))
    in.addData(flood: _*)
    q.processAllAvailable(); q.stop()
    val got = pairs.toArray.map(_.asInstanceOf[(Long, Long)]).toSet
    val crossGot = got.filter(_._1 == 1L)
    assert(crossGot.size == 10,
      s"every flood member must pair against stored state, got $crossGot")
    val intraGot = got.filter(p => p._1 >= 10L && p._2 >= 10L)
    assert(intraGot == Set((10L, 11L), (10L, 12L), (11L, 12L)),
      s"intra pairing must cover exactly the C(3,2) admitted members, got $intraGot")
  }

  test("bucketStep (pure): timeout evicts — state removed, nothing emitted") {
    // The eviction CONTRACT, proved on the extracted pure transition
    // (GraftStream.bucketStep) instead of racing micro-batch scheduling
    // — the round-13 flake taught that a wall-clock TTL test can stall
    // past any deadline under load; the semantics themselves are
    // deterministic and live here.
    assert(GraftStream.bucketStep(Some(Seq(1L, 5L)), timedOut = true,
      Seq.empty, 64)(
      (a: Long, b: Long) => Some((math.min(a, b), math.max(a, b)))) == (None, Seq.empty))
    // timeout on an already-absent bucket is a clean no-op eviction
    assert(GraftStream.bucketStep(None, timedOut = true,
      Seq.empty, 64)(
      (a: Long, b: Long) => Some((math.min(a, b), math.max(a, b)))) == (None, Seq.empty))
  }

  test("bucketStep (pure): late duplicate re-seeds an evicted bucket without pairing; successors pair") {
    // The recall trade, end to end on the pure function: seed → evict →
    // late duplicate re-seeds (no pair with the evicted original) →
    // subsequent duplicate pairs against the re-seeded state.
    val (s1, out1) = GraftStream.bucketStep(None, timedOut = false, Seq(1L), 64)(
      (a: Long, b: Long) => Some((math.min(a, b), math.max(a, b))))
    assert(s1 == Some(Seq(1L)) && out1.isEmpty)
    val (s2, out2) = GraftStream.bucketStep(s1, timedOut = true, Seq.empty, 64)(
      (a: Long, b: Long) => Some((math.min(a, b), math.max(a, b))))
    assert(s2 == None && out2.isEmpty, "TTL fires: doc 1 forgotten")
    val (s3, out3) = GraftStream.bucketStep(s2, timedOut = false, Seq(2L), 64)(
      (a: Long, b: Long) => Some((math.min(a, b), math.max(a, b))))
    assert(s3 == Some(Seq(2L)) && out3.isEmpty,
      "late duplicate re-seeds, does NOT pair with the evicted original")
    val (s4, out4) = GraftStream.bucketStep(s3, timedOut = false, Seq(3L), 64)(
      (a: Long, b: Long) => Some((math.min(a, b), math.max(a, b))))
    assert(s4 == Some(Seq(2L, 3L)) && out4 == Seq((2L, 3L)),
      "successor pairs against the re-seeded state")
  }

  test("bucketStep (pure): cap admits prefix; over-cap ids cross-pair but are not remembered") {
    // maxBucket = 3, 2 stored, 4 fresh in one batch: 1 slot remains.
    val (st, out) = GraftStream.bucketStep(Some(Seq(10L, 20L)), timedOut = false,
      Seq(30L, 40L, 50L, 60L, 30L /* dup in-batch */, 10L /* already stored */), 3)(
      (a: Long, b: Long) => Some((math.min(a, b), math.max(a, b))))
    assert(st == Some(Seq(10L, 20L, 30L)), "only the admitted prefix enters state")
    val cross = for { n <- Seq(30L, 40L, 50L, 60L); p <- Seq(10L, 20L) } yield (p, n)
    assert(out == cross, // every fresh id crosses the FULL stored prefix; no intra (1 admitted)
      s"cross must cover all fresh ids, intra only admitted ones, got $out")
  }

  test("streaming near-dup: cold bucket state evicts after stateTtl; late duplicate re-seeds (recall trade)") {
    // The unbounded-runtime guard (round-3 finding): bucket state
    // carries a processing-time timeout re-armed on access. A bucket
    // untouched for stateTtl is evicted on the next trigger, so a LATE
    // duplicate does NOT pair with the evicted original (the documented
    // recall trade) — it re-seeds the bucket, and subsequent duplicates
    // pair against the re-seeded state.
    //
    // Determinism (round-14 rework after the round-13 red run): the
    // per-step semantics are proved by the pure bucketStep tests above;
    // this test only proves the ENGINE wiring (ProcessingTimeTimeout
    // arms, fires, and removes state). Two rules make it stall-proof:
    // (a) the TTL is 10 s — far above any micro-batch latency — and
    //     eviction is awaited by counting COMPLETED batches after
    //     expiry, not by sleeping;
    // (b) the re-seed doc and its pairing successor ride ONE addData
    //     block = ONE micro-batch, which a TTL cannot straddle, so the
    //     (2,3) intra pair is guaranteed once eviction happened.
    // processAllAvailable is unusable under ProcessingTimeTimeout (the
    // engine busy-schedules timeout-check batches — shouldRunAnotherBatch
    // is always true — and never signals quiescence), so progress is
    // observed by polling the committed source offset instead.
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val df = in.toDF().toDF("doc_id", "text")
    val pairs = new ConcurrentLinkedQueue[(Long, Long)]()
    val ttlMs = 10000L
    val q = GraftStream.nearDupCandidates(df, "doc_id", "text", stateTtl = "10 seconds")
      .writeStream.outputMode("append")
      .foreachBatch((b: org.apache.spark.sql.Dataset[(Long, Long)], _: Long) =>
        { b.collect().foreach(pairs.add); () })
      .start()
    def sourceOffset: Long = Option(q.lastProgress)
      .flatMap(p => p.sources.headOption).map(_.endOffset)
      .filter(_ != null).map(_.replaceAll("[^0-9]", ""))
      .filter(_.nonEmpty).map(_.toLong).getOrElse(-1L)
    // MemoryStream offsets are 0-based: the k-th addData block commits
    // as endOffset k-1.
    def awaitOffset(n: Long): Unit = {
      val deadline = System.currentTimeMillis() + 120000
      while (sourceOffset < n && System.currentTimeMillis() < deadline) {
        q.exception.foreach(e => fail(s"query died: ${e.cause}"))
        Thread.sleep(50)
      }
      assert(sourceOffset >= n, s"stream did not commit offset $n")
    }
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    in.addData((1L, base))
    awaitOffset(0) // doc 1's buckets seeded, 10s TTL armed
    // Wait until (a) the TTL has elapsed AND (b) at least two further
    // batches COMPLETED after that instant — guaranteeing a
    // timeout-check batch ran post-expiry and evicted doc 1's buckets
    // before docs 2/3 arrive (a fixed sleep could straddle a load stall
    // where no batch runs, leaving state alive for the next batch).
    val tArm = System.currentTimeMillis()
    def batchId: Long = Option(q.lastProgress).map(_.batchId).getOrElse(-1L)
    val expiry = tArm + ttlMs + 1000
    while (System.currentTimeMillis() < expiry) Thread.sleep(100)
    val bAtExpiry = batchId
    val evictDeadline = System.currentTimeMillis() + 120000
    while (batchId < bAtExpiry + 2 && System.currentTimeMillis() < evictDeadline)
      Thread.sleep(50)
    assert(batchId >= bAtExpiry + 2, "no timeout-check batches ran after TTL expiry")
    // Late duplicate 2 re-seeds; successor 3 pairs with it. BOTH in one
    // addData block = one micro-batch: fresh = [2, 3], prev = [] after
    // eviction, so bucketStep emits the intra pair (2, 3) in that very
    // batch — no second TTL window to race.
    in.addData((2L, base), (3L, base))
    awaitOffset(1)
    def got = pairs.toArray.map(_.asInstanceOf[(Long, Long)]).toSet
    val settleDeadline = System.currentTimeMillis() + 120000
    while (!got.contains((2L, 3L)) && System.currentTimeMillis() < settleDeadline)
      Thread.sleep(50)
    q.stop()
    assert(got.contains((2L, 3L)),
      s"re-seeded bucket must pair the same-batch successor, got $got")
    assert(got.forall(p => p._1 != 1L && p._2 != 1L),
      s"evicted bucket must not pair the late duplicates, got $got")
  }

  test("custom keyed state: mapGroupsWithState running per-user counts") {
    // The reference's arbitrary-state escape hatch (SURVEY §7.3):
    // flatMapGroupsWithState-family for operators session_window can't
    // express. Running count per key across micro-batches.
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[(Long, Long)]
    val counts = new ConcurrentLinkedQueue[(Long, Long)]()
    val q = in.toDS().groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (user: Long, events: Iterator[(Long, Long)], state: GroupState[Long]) =>
          val n = state.getOption.getOrElse(0L) + events.size
          state.update(n)
          (user, n)
      }
      .writeStream.outputMode(OutputMode.Update())
      .foreachBatch((b: org.apache.spark.sql.Dataset[(Long, Long)], _: Long) =>
        { b.collect().foreach(counts.add); () })
      .start()
    in.addData((0 until 30).map(i => ((i % 3).toLong, i.toLong)): _*)
    q.processAllAvailable()
    in.addData((0 until 20).map(i => ((i % 2).toLong, i.toLong)): _*)
    q.processAllAvailable(); q.stop()
    val last = counts.toArray.map(_.asInstanceOf[(Long, Long)])
      .groupBy(_._1).map { case (k, vs) => k -> vs.last._2 }
    assert(last == Map(0L -> 20L, 1L -> 20L, 2L -> 10L), s"got $last")
  }

  test("streaming spike detection: watermark-closed days equal the batch trailing-window flags") {
    // 2 keys × 12 days; key "a" has an engineered 10-event day 10 (the
    // spike), key "b" is flat. Batch semantics (events_spikes): a day
    // emits once it has 7 closed predecessors; 7·n > 2·trail flags it.
    // Two sentinel batches advance the watermark so days 0..11 close
    // (the sentinel's own day stays open and must never emit).
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(Timestamp, String)]
    val df = in.toDF().toDF("ts", "etype")
    val rows = new ConcurrentLinkedQueue[(String, Long, Long, Long, Boolean)]()
    val q = GraftStream.spikeDetect(df, "ts", "etype", "0 seconds")
      .writeStream.outputMode("append")
      .foreachBatch((b: org.apache.spark.sql.Dataset[(String, Timestamp, Long, Long, Boolean)],
          _: Long) => {
        b.collect().foreach(r => rows.add((r._1, r._2.getTime, r._3, r._4, r._5))); ()
      })
      .start()
    // day d maps to calendar day d+1: a ts-0 event is not LATER than
    // the initial watermark (0) and would be dropped as late data
    def ev(day: Int, i: Int, k: String) = (new Timestamp((day + 1) * 86400000L + i * 1000L), k)
    val events = (0 until 12).flatMap { d =>
      val na = if (d == 10) 10 else 3
      (0 until na).map(i => ev(d, i, "a")) ++ (0 until 2).map(i => ev(d, i, "b"))
    }
    in.addData(events: _*)
    q.processAllAvailable() // wm still 0 — nothing closes
    in.addData(ev(40, 0, "a")) // wm -> day 11: closes days 0..10 (both keys)
    q.processAllAvailable()
    in.addData(ev(41, 0, "a")) // wm -> day 40: closes day 11 (timeout batches may then close day 40 too)
    q.processAllAvailable()
    q.stop()
    def dayMs(d: Int) = (d + 1) * 86400000L
    // the sentinel's own day eventually closes via timeout batches and
    // emits (correct ROWS-over-closed-days semantics) — the assertion
    // scopes to the 12-day observation window
    val got = rows.toArray.map(_.asInstanceOf[(String, Long, Long, Long, Boolean)])
      .filter(_._2 < dayMs(12)).toSet
    def cnt(k: String, d: Int) = if (k == "a") { if (d == 10) 10L else 3L } else 2L
    val expected = (for { k <- Seq("a", "b"); d <- 7 to 11 } yield {
      val n = cnt(k, d)
      val trail = (d - 7 until d).map(cnt(k, _)).sum
      (k, dayMs(d), n, trail, n * 7 > trail * 2)
    }).toSet
    assert(got == expected, s"got $got")
    assert(got.count(_._5) == 1 && got.exists(t => t._1 == "a" && t._2 == dayMs(10) && t._5))
  }

  test("streaming incremental trend: final per-key OLS sums equal batch events_trend exactly") {
    // The whole sf0.001 events table streamed through trendUpdates;
    // a far-future sentinel (its own key, excluded) advances the
    // watermark so every real day closes. The LAST emission per key
    // (max n_days — emission order across partitions is not day
    // order) must carry byte-identical integer sums to the batch
    // query over the same rows.
    implicit val sq = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val ev = normalizeEventTs(spark.read.parquet(s"$dir/events.parquet"))
      .select(col("event_type"), timestamp_micros(expr("ts div 1000")).as("tm"))
      .collect().map(r => (r.getTimestamp(1), r.getString(0)))
    val in = MemoryStream[(Timestamp, String)]
    val df = in.toDF().toDF("ts", "etype")
    val rows = new ConcurrentLinkedQueue[(String, Long, Long, Long, Long)]()
    val q = GraftStream.trendUpdates(df, "ts", "etype", "0 seconds")
      .writeStream.outputMode("append")
      .foreachBatch((b: org.apache.spark.sql.Dataset[(String, Timestamp, Long, Long, Long, Long)],
          _: Long) => {
        b.collect().foreach(r => rows.add((r._1, r._3, r._4, r._5, r._6))); ()
      })
      .start()
    in.addData(ev.toIndexedSeq: _*)
    q.processAllAvailable()
    in.addData((new Timestamp(ev.map(_._1.getTime).max + 3L * 86400000L), "zz"))
    q.processAllAvailable()
    q.stop()
    val got = rows.toArray.map(_.asInstanceOf[(String, Long, Long, Long, Long)])
      .groupBy(_._1).collect { case (k, vs) if k != "zz" =>
        val f = vs.maxBy(_._2); k -> (f._2, f._3, f._4, f._5)
      }.toMap
    val batch = queries.EventQueries.eventsTrend(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    assert(got == batch, s"stream $got\nbatch $batch")
  }

  test("streaming SCD intervals: per-type interval count equals batch events_scd") {
    // sf0.001 events streamed through scdUpdates in three contiguous
    // time chunks, SHUFFLED WITHIN each chunk (bounded disorder — the
    // realistic feed shape; the watermark buffer must re-sort, but a
    // 0-second watermark means cross-chunk stragglers would be
    // dropped, so chunks stay time-contiguous); a far-future sentinel
    // closes every buffer. Interval-open rows per event_type must
    // equal the batch n_intervals exactly.
    implicit val sq = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val ev = normalizeEventTs(spark.read.parquet(s"$dir/events.parquet"))
      .select(concat(col("user_id").cast("string"), lit("|"), col("event_type")).as("k"),
        timestamp_micros(expr("ts div 1000")).as("tm"),
        floor(col("value") / lit(50.0d)).as("s"), col("event_id"))
      .collect().map(r => (r.getString(0), r.getTimestamp(1), r.getLong(2), r.getLong(3)))
    val rng = new scala.util.Random(11)
    val chunks = ev.sortBy(r => (r._2.getTime, r._4)).grouped((ev.length + 2) / 3)
      .map(c => rng.shuffle(c.toSeq)).toSeq
    val in = MemoryStream[(String, Timestamp, Long, Long)]
    val df = in.toDF().toDF("k", "ts", "s", "eid")
    val rows = new ConcurrentLinkedQueue[(String, Long, Long)]()
    val q = GraftStream.scdUpdates(df, "ts", "k", "s", "eid", "0 seconds")
      .writeStream.outputMode("append")
      .foreachBatch((b: org.apache.spark.sql.Dataset[(String, Long, Long)], _: Long) => {
        b.collect().foreach(rows.add); ()
      })
      .start()
    chunks.foreach { c =>
      in.addData(c.toIndexedSeq: _*)
      q.processAllAvailable()
    }
    in.addData(("zz|zz", new Timestamp(ev.map(_._2.getTime).max + 86400000L), 0L, 0L))
    q.processAllAvailable()
    q.stop()
    val got = rows.toArray.map(_.asInstanceOf[(String, Long, Long)])
      .filter(_._1 != "zz|zz")
      .groupBy(_._1.split("\\|")(1)).view.mapValues(_.length.toLong).toMap
    val batch = queries.EventQueries.eventsScd(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(got == batch, s"stream $got\nbatch $batch")
  }

  test("streaming CDC upsert fold: last emission per key equals the batch changelog fold") {
    // The events_cdc_merge changelog (post-cutoff events) fed through
    // cdcUpdates in three seed-shuffled chunks: last-writer-wins is an
    // order-independent argmax, so the final emission per key must
    // equal the batch max_by fold bit-exactly regardless of arrival
    // order or chunking — no watermark involved.
    implicit val sq = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val cut = 1705276800000000L
    val ev = normalizeEventTs(spark.read.parquet(s"$dir/events.parquet"))
      .select(col("user_id").cast("string").as("k"),
        expr("ts div 1000").as("o"), col("event_id").as("t"),
        when(col("event_type") === "error", "D").otherwise("U").as("op"),
        floor(col("value") * lit(1000000.0d)).cast("bigint").as("v"))
      .filter(col("o") >= cut)
    val data = new scala.util.Random(42).shuffle(
      ev.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getString(3), r.getLong(4))).toSeq)
    assert(data.nonEmpty, "cutoff must leave a changelog")
    val in = MemoryStream[(String, Long, Long, String, Long)]
    val df = in.toDF().toDF("k", "o", "t", "op", "v")
    val rows = new ConcurrentLinkedQueue[(String, String, Long, Long)]()
    val q = GraftStream.cdcUpdates(df, "k", "o", "t", "op", "v")
      .writeStream.outputMode("append")
      .foreachBatch((b: org.apache.spark.sql.Dataset[(String, String, Long, Long)], _: Long) => {
        b.collect().foreach(rows.add); ()
      })
      .start()
    data.grouped((data.length + 2) / 3).foreach { chunk =>
      in.addData(chunk: _*)
      q.processAllAvailable()
    }
    q.stop()
    val got = rows.toArray.map(_.asInstanceOf[(String, String, Long, Long)])
      .groupBy(_._1).map { case (k, vs) =>
        val last = vs.maxBy(_._4) // n_changes is strictly increasing
        k -> ((last._2, last._3, last._4))
      }
    val batch = ev.groupBy(col("k"))
      .agg(max_by(struct(col("op"), col("v")), struct(col("o"), col("t"))).as("w"),
        count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) ->
        ((r.getStruct(1).getString(0), r.getStruct(1).getLong(1), r.getLong(2))))
      .toMap
    assert(got == batch, s"stream $got\nbatch $batch")
  }

  test("streaming stay points: closed runs equal the batch gaps-and-islands rows bit-exactly") {
    // The sf0.001 walk fed through stayUpdates in three seed-shuffled
    // chunks: islands are sequential semantics, so rows buffer until
    // the watermark passes them and fold in (tus, tie) order — the
    // emitted closed runs must equal geo_stay_points rows exactly.
    // Final runs are still OPEN when the data ends (a dwell is only a
    // dwell once the walker leaves), so a sentinel break per user
    // closes them; two later dummy waves push the watermark past the
    // sentinels.
    implicit val sq = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val t = graft.queries.GeoQueries.trajOf(
        normalizeEventTs(spark.read.parquet(s"$dir/events.parquet")))
      .withColumn("et", timestamp_micros(col("tus")))
    val raw = t.collect().map(r => (r.getLong(0), r.getTimestamp(7),
      r.getLong(2), r.getLong(1), r.getLong(3), r.getLong(4),
      r.getLong(5), r.getLong(6)))
    // (user_id, et, tus, event_id, dx, dy, x, y); time-contiguous
    // chunks shuffled WITHIN (bounded disorder — a 0-second watermark
    // would drop cross-chunk stragglers, the scdUpdates test shape)
    val rng = new scala.util.Random(23)
    val chunks = raw.sortBy(r => (r._3, r._4)).grouped((raw.length + 2) / 3)
      .map(c => rng.shuffle(c.toSeq)).toSeq
    val maxTus = raw.map(_._3).max
    val users = raw.map(_._1).distinct.toSeq
    val in = MemoryStream[(Long, java.sql.Timestamp, Long, Long, Long, Long, Long, Long)]
    val df = in.toDF().toDF("u", "et", "t", "e", "dx", "dy", "x", "y")
    val rows = new ConcurrentLinkedQueue[(Long, Long, Long, Long, Long, Long, Long)]()
    val q = GraftStream.stayUpdates(df, "u", "et", "t", "e", "dx", "dy", "x", "y",
        "0 seconds")
      .writeStream.outputMode("append")
      .foreachBatch((b: org.apache.spark.sql.Dataset[(Long, Long, Long, Long, Long, Long, Long)], _: Long) => {
        b.collect().foreach(rows.add); ()
      })
      .start()
    def tup(u: Long, tus: Long, e: Long, dx: Long, dy: Long, x: Long, y: Long) =
      (u, new java.sql.Timestamp(tus / 1000L), tus, e, dx, dy, x, y)
    chunks.foreach { chunk =>
      in.addData(chunk.toIndexedSeq: _*)
      q.processAllAvailable()
    }
    val day = 86400000000L
    in.addData(users.map(u => tup(u, maxTus + 2 * day, 0L, 99L, 99L, 0L, 0L)): _*)
    q.processAllAvailable()
    in.addData(tup(999999L, maxTus + 4 * day, 0L, 99L, 99L, 0L, 0L))
    q.processAllAvailable()
    in.addData(tup(999999L, maxTus + 6 * day, 1L, 99L, 99L, 0L, 0L))
    q.processAllAvailable()
    q.stop()
    val got = rows.toArray.map(_.asInstanceOf[(Long, Long, Long, Long, Long, Long, Long)])
      .filter(_._1 != 999999L).toSet
    val batch = graft.queries.GeoQueries.geoStayPoints(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toSet
    assert(got == batch,
      s"stream-closed runs must equal batch islands:\n" +
        s"stream-only ${(got diff batch).take(3)}\nbatch-only ${(batch diff got).take(3)}")
  }

  test("streaming OD endpoints: final per-(user, day) fold equals batch struct min/max and the zone flows equal geo_od_matrix") {
    // Trajectory positions at sf0.001 fed through odUpdates in three
    // seed-shuffled chunks: the endpoint fold is an order-independent
    // min/max by (tus, tie), so the final emission per key must equal
    // the batch struct-min/max bit-exactly — and the stateless zone
    // rollup over those finals must reproduce the gated geo_od_matrix
    // relation row-for-row.
    implicit val sq = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val t = graft.queries.GeoQueries.trajOf(
        normalizeEventTs(spark.read.parquet(s"$dir/events.parquet")))
      .select(col("user_id"), expr("tus div 86400000000").as("day"),
        col("tus"), col("event_id").as("tie"), col("x"), col("y"))
    val data = new scala.util.Random(11).shuffle(
      t.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSeq)
    val in = MemoryStream[(Long, Long, Long, Long, Long, Long)]
    val df = in.toDF().toDF("u", "d", "t", "e", "x", "y")
    val rows = new ConcurrentLinkedQueue[(Long, Long, Long, Long, Long, Long, Long)]()
    val q = GraftStream.odUpdates(df, "u", "d", "t", "e", "x", "y")
      .writeStream.outputMode("append")
      .foreachBatch((b: org.apache.spark.sql.Dataset[(Long, Long, Long, Long, Long, Long, Long)], _: Long) => {
        b.collect().foreach(rows.add); ()
      })
      .start()
    data.grouped((data.length + 2) / 3).foreach { chunk =>
      in.addData(chunk: _*)
      q.processAllAvailable()
    }
    q.stop()
    val finals = rows.toArray.map(_.asInstanceOf[(Long, Long, Long, Long, Long, Long, Long)])
      .groupBy(r => (r._1, r._2)).map { case (k, vs) =>
        val last = vs.maxBy(_._7) // n_obs strictly increasing
        k -> ((last._3, last._4, last._5, last._6, last._7))
      }
    val batch = t.groupBy(col("user_id"), col("day"))
      .agg(min(struct(col("tus"), col("tie"), col("x"), col("y"))).as("o"),
        max(struct(col("tus"), col("tie"), col("x"), col("y"))).as("z"),
        count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getStruct(2).getLong(2), r.getStruct(2).getLong(3),
          r.getStruct(3).getLong(2), r.getStruct(3).getLong(3), r.getLong(4))))
      .toMap
    assert(finals == batch, s"stream $finals\nbatch $batch")
    // truncating /, not floorDiv: the zone snap's contract is Spark
    // `div` == DuckDB `//` == Scala `/` (all round toward zero), which
    // is what keeps this rollup equal to geo_od_matrix if a heavy
    // user's walk drifts negative — see the trajOf sign-discipline note
    val flows = finals.toSeq
      .map { case ((u, _), (ox, oy, dx, dy, _)) =>
        ((ox / 50L, oy / 50L, dx / 50L, dy / 50L), u) }
      .groupBy(_._1).map { case (z, us) =>
        (z._1, z._2, z._3, z._4, us.size.toLong,
          us.map(_._2).distinct.size.toLong) }.toSet
    val batchFlows = graft.queries.GeoQueries.geoOdMatrix(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSet
    assert(flows == batchFlows, s"zone flows: stream $flows\nbatch $batchFlows")
  }

  test("streaming anchor visits: closed runs equal the batch map-match rollup bit-exactly") {
    // anchorSnap is stateless (broadcast cover + projection — it runs
    // identically on the stream), so the twin's stateful surface is
    // the watermark-ordered islands fold: snapped sf0.001 positions in
    // three seed-shuffled chunks must close exactly geo_map_match's
    // visit rows. Sentinel off-network rows close each user's final
    // run (an open visit emits nothing until the walker provably
    // moves); two dummy waves push the watermark past the sentinels.
    implicit val sq = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val snapped = graft.queries.GeoQueries.anchorSnap(
        graft.queries.GeoQueries.trajOf(
          normalizeEventTs(spark.read.parquet(s"$dir/events.parquet"))))
      .withColumn("et", timestamp_micros(col("tus")))
    val raw = snapped.collect().map(r => (r.getLong(0), r.getTimestamp(4),
      r.getLong(1), r.getLong(2), r.getLong(3)))
    // (user_id, et, tus, event_id, aid)
    val rng = new scala.util.Random(31)
    val chunks = raw.sortBy(r => (r._3, r._4)).grouped((raw.length + 2) / 3)
      .map(c => rng.shuffle(c.toSeq)).toSeq
    val maxTus = raw.map(_._3).max
    val users = raw.map(_._1).distinct.toSeq
    val in = MemoryStream[(Long, java.sql.Timestamp, Long, Long, Long)]
    val df = in.toDF().toDF("u", "et", "t", "e", "aid")
    val rows = new ConcurrentLinkedQueue[(Long, Long, Long, Long, Long, Long)]()
    val q = GraftStream.anchorVisitUpdates(df, "u", "et", "t", "e", "aid",
        "0 seconds")
      .writeStream.outputMode("append")
      .foreachBatch((b: org.apache.spark.sql.Dataset[(Long, Long, Long, Long, Long, Long)], _: Long) => {
        b.collect().foreach(rows.add); ()
      })
      .start()
    def tup(u: Long, tus: Long, e: Long, aid: Long) =
      (u, new java.sql.Timestamp(tus / 1000L), tus, e, aid)
    chunks.foreach { chunk =>
      in.addData(chunk.toIndexedSeq: _*)
      q.processAllAvailable()
    }
    val day = 86400000000L
    in.addData(users.map(u => tup(u, maxTus + 2 * day, 0L, -1L)): _*)
    q.processAllAvailable()
    in.addData(tup(999999L, maxTus + 4 * day, 0L, -1L))
    q.processAllAvailable()
    in.addData(tup(999999L, maxTus + 6 * day, 1L, -1L))
    q.processAllAvailable()
    q.stop()
    val got = rows.toArray.map(_.asInstanceOf[(Long, Long, Long, Long, Long, Long)])
      .filter(_._1 != 999999L).toSet
    val batch = graft.queries.GeoQueries.geoMapMatch(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSet
    assert(got == batch,
      s"stream visits must equal batch map-match rows:\n" +
        s"stream-only ${(got diff batch).take(3)}\nbatch-only ${(batch diff got).take(3)}")
  }

  test("streaming co-travel: net pair deltas equal the batch cool-bucket pairing") {
    // The sf0.001 walk's (user, hour, cell) visits — WITH raw
    // duplicates (the stream must dedup members per bucket exactly as
    // the batch distinct() does) — fed in three seed-shuffled chunks.
    // Emissions are (bucket, pair, ±1) deltas: +1 when a pair first
    // shares a bucket, −1 retractions when the bucket tips past cap=8
    // and is excluded. Net-positive pairs grouped to shared-bucket
    // counts ≥ 2 must equal geoCotravel's gated relation exactly.
    implicit val sq = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val visits = graft.queries.GeoQueries.trajOf(
        normalizeEventTs(spark.read.parquet(s"$dir/events.parquet")))
      .select(col("user_id"), expr("tus div 3600000000").as("hb"),
        expr("x div 25").as("cx"), expr("y div 25").as("cy"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val data = new scala.util.Random(41).shuffle(visits.toSeq)
    val in = MemoryStream[(Long, Long, Long, Long)]
    val df = in.toDF().toDF("u", "hb", "cx", "cy")
    val rows = new ConcurrentLinkedQueue[(Long, Long, Long, Long, Long, Int)]()
    val q = GraftStream.cotravelUpdates(df, "u", "hb", "cx", "cy", cap = 8)
      .writeStream.outputMode("append")
      .foreachBatch((b: org.apache.spark.sql.Dataset[(Long, Long, Long, Long, Long, Int)], _: Long) => {
        b.collect().foreach(rows.add); ()
      })
      .start()
    data.grouped((data.length + 2) / 3).foreach { chunk =>
      in.addData(chunk: _*)
      q.processAllAvailable()
    }
    q.stop()
    // toSeq FIRST: collect on a Map with a Tuple2-valued function
    // rebuilds a Map and silently dedups by the first element
    val net = rows.toArray.map(_.asInstanceOf[(Long, Long, Long, Long, Long, Int)])
      .groupBy(r => (r._1, r._2, r._3, r._4, r._5))
      .view.mapValues(_.map(_._6).sum).toMap
    assert(net.values.forall(d => d == 0 || d == 1),
      s"every (bucket, pair) must net to 0 or 1: ${net.filter(v => v._2 != 0 && v._2 != 1).take(3)}")
    val got = net.toSeq.collect { case ((_, _, _, a, b), 1) => (a, b) }
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
      .filter(_._2 >= 2L)
      .map { case ((a, b), n) => (a, b, n) }.toSet
    val batch = graft.queries.GeoQueries.geoCotravel(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == batch,
      s"stream-only ${(got diff batch).take(3)}\nbatch-only ${(batch diff got).take(3)}")
  }

  test("streaming co-travel: a bucket tipping past cap retracts every emitted pair") {
    // Crafted feed, cap=3: bucket A receives users 1..3 (3 pairs emit
    // +1 incrementally), then user 4 tips it hot — the 3 pairs retract
    // (−1) and later arrivals (user 5) emit nothing. Bucket B stays
    // cool (users 1, 2 → one surviving pair). Nets: A all 0, B = +1 —
    // the stream-time spelling of the batch HAVING COUNT(*) <= cap.
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(Long, Long, Long, Long)]
    val df = in.toDF().toDF("u", "hb", "cx", "cy")
    val rows = new ConcurrentLinkedQueue[(Long, Long, Long, Long, Long, Int)]()
    val q = GraftStream.cotravelUpdates(df, "u", "hb", "cx", "cy", cap = 3)
      .writeStream.outputMode("append")
      .foreachBatch((b: org.apache.spark.sql.Dataset[(Long, Long, Long, Long, Long, Int)], _: Long) => {
        b.collect().foreach(rows.add); ()
      })
      .start()
    // chunk 1: A gets 1,2,3 (dup 2 ignored); B gets 1
    in.addData((1L, 9L, 0L, 0L), (2L, 9L, 0L, 0L), (2L, 9L, 0L, 0L), (3L, 9L, 0L, 0L),
      (1L, 9L, 5L, 5L))
    q.processAllAvailable()
    // chunk 2: A tips hot with 4, then 5 arrives dead; B gets 2
    in.addData((4L, 9L, 0L, 0L), (5L, 9L, 0L, 0L), (2L, 9L, 5L, 5L))
    q.processAllAvailable()
    q.stop()
    val got = rows.toArray.map(_.asInstanceOf[(Long, Long, Long, Long, Long, Int)]).toSeq
    val a = got.filter(r => r._2 == 0L)
    assert(a.count(_._6 == 1) == 3 && a.count(_._6 == -1) == 3,
      s"bucket A must emit 3 pairs then retract all 3: $a")
    assert(a.groupBy(r => (r._4, r._5)).values.forall(_.map(_._6).sum == 0),
      s"bucket A nets must all be 0: $a")
    val b = got.filter(r => r._2 == 5L)
    assert(b == Seq((9L, 5L, 5L, 1L, 2L, 1)), s"bucket B must net one pair: $b")
  }

  test("streaming skyline: final frontier per key equals a naive batch Pareto oracle") {
    // Frontier maintenance is an order-independent fold (a set's
    // skyline is unique), so the last emission per key must equal the
    // naive O(n^2) domination scan regardless of chunking/arrival
    // order. Points: (x = event_id mod 97, y = floor(value*100)) per
    // event type at sf0.001.
    implicit val sq = spark.sqlContext
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .select(col("event_type").as("k"), (col("event_id") % 97).as("x"),
        floor(col("value") * 100).cast("bigint").as("y"))
    val data = new scala.util.Random(7).shuffle(
      ev.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq)
    val in = MemoryStream[(String, Long, Long)]
    val df = in.toDF().toDF("k", "x", "y")
    val rows = new ConcurrentLinkedQueue[(String, Long, String)]()
    val q = GraftStream.skylineUpdates(df, "k", "x", "y")
      .writeStream.outputMode("append")
      .foreachBatch((b: org.apache.spark.sql.Dataset[(String, Long, String)], _: Long) => {
        b.collect().foreach(rows.add); ()
      })
      .start()
    var lastSeen = Map.empty[String, String]
    data.grouped((data.length + 3) / 4).foreach { chunk =>
      in.addData(chunk: _*)
      q.processAllAvailable()
      rows.toArray.map(_.asInstanceOf[(String, Long, String)])
        .foreach(r => lastSeen += r._1 -> r._3) // queue preserves emission order
    }
    q.stop()
    val naive = data.groupBy(_._1).map { case (k, pts) =>
      val ps = pts.map(p => (p._2, p._3)).distinct
      val front = ps.filterNot(p => ps.exists(q =>
        q._1 >= p._1 && q._2 <= p._2 && (q._1 > p._1 || q._2 < p._2)))
      k -> front.sortBy(p => (-p._1, p._2)).map(p => s"${p._1}:${p._2}").mkString(";")
    }
    assert(lastSeen == naive, s"stream $lastSeen\nbatch $naive")
  }

  test("streaming KMV sketch: final per-key (h_k, est) equals batch events_kmv_distinct") {
    // sf0.01 (150 distinct users — above the K=16 sketch size, so the
    // batch query's h_k is non-null). The stream feeds the SAME salted
    // fingerprints in two chunks to exercise incremental sketch
    // merging; the final (minimum-h_k) emission per key must equal the
    // batch sketch bit-exactly — KMV's monotone min-set makes the last
    // word independent of chunking.
    implicit val sq = spark.sqlContext
    val dir = "/root/testdata/sf0.01"
    val hashed = spark.read.parquet(s"$dir/events.parquet")
      .select(col("event_type"),
        graft.ext.TextOps.fingerprint(
          concat(lit("kmv|"), col("user_id").cast("string"), lit("|graft"))).as("h"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val in = MemoryStream[(String, Long)]
    val df = in.toDF().toDF("etype", "h")
    val rows = new ConcurrentLinkedQueue[(String, Long, Long)]()
    val q = GraftStream.kmvUpdates(df, "etype", "h", 16)
      .writeStream.outputMode("append")
      .foreachBatch((b: org.apache.spark.sql.Dataset[(String, Long, Long)], _: Long) => {
        b.collect().foreach(rows.add); ()
      })
      .start()
    val (first, second) = hashed.splitAt(hashed.length / 2)
    in.addData(first.toIndexedSeq: _*)
    q.processAllAvailable()
    in.addData(second.toIndexedSeq: _*)
    q.processAllAvailable()
    q.stop()
    val got = rows.toArray.map(_.asInstanceOf[(String, Long, Long)])
      .groupBy(_._1).map { case (k, vs) =>
        val f = vs.minBy(_._2); k -> (f._2, f._3)
      }
    val batch = queries.EventQueries.eventsKmvDistinct(spark, dir).collect()
      .filter(!_.isNullAt(2))
      .map(r => r.getString(0) -> (r.getLong(2), r.getLong(3))).toMap
    assert(batch.nonEmpty && got == batch, s"stream $got\nbatch $batch")
  }

  test("streaming HLL sketch: final per-key (z_scaled, est) equals batch events_hll_distinct") {
    // Same salted fingerprints as the batch query, fed in two chunks:
    // the register-max fold is monotone, so the final emission per key
    // must equal the batch integer-form sketch bit-exactly whatever
    // the chunking — the streaming statement of sketch mergeability.
    implicit val sq = spark.sqlContext
    val dir = "/root/testdata/sf0.01"
    val hashed = spark.read.parquet(s"$dir/events.parquet")
      .select(col("event_type"),
        graft.ext.TextOps.fingerprint(
          concat(lit("hll|"), col("user_id").cast("string"), lit("|graft"))).as("h"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val in = MemoryStream[(String, Long)]
    val df = in.toDF().toDF("etype", "h")
    val rows = new ConcurrentLinkedQueue[(String, Long, Long)]()
    val q = GraftStream.hllUpdates(df, "etype", "h")
      .writeStream.outputMode("append")
      .foreachBatch((b: org.apache.spark.sql.Dataset[(String, Long, Long)], _: Long) => {
        b.collect().foreach(rows.add); ()
      })
      .start()
    val (first, second) = hashed.splitAt(hashed.length / 2)
    in.addData(first.toIndexedSeq: _*)
    q.processAllAvailable()
    in.addData(second.toIndexedSeq: _*)
    q.processAllAvailable()
    q.stop()
    // Z only shrinks as registers grow: the final word per key is the
    // minimum z_scaled emitted.
    val got = rows.toArray.map(_.asInstanceOf[(String, Long, Long)])
      .groupBy(_._1).map { case (k, vs) =>
        val f = vs.minBy(_._2); k -> (f._2, f._3)
      }
    val batch = queries.EventQueries.eventsHllDistinct(spark, dir).collect()
      .map(r => r.getString(0) ->
        (r.getLong(r.fieldIndex("z_scaled")), r.getLong(r.fieldIndex("est_distinct"))))
      .toMap
    graft.core.QueryCaches.release()
    assert(batch.nonEmpty && got == batch, s"stream $got\nbatch $batch")
  }

  test("streaming strict funnel: stage counts across time-split triggers equal batch events_funnel3") {
    implicit val sq = spark.sqlContext
    val dir = "/root/testdata/sf0.01"
    val ev = graft.queries.Tables.loadEvents(spark, dir)
      .selectExpr("user_id", "event_type", "ts div 1000 AS tus")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sortBy(_._3)
    val in = MemoryStream[(Long, String, Long)]
    val rows = new ConcurrentLinkedQueue[(Long, Int, Long)]()
    val q = GraftStream.funnelUpdates(
        in.toDF().toDF("user_id", "event_type", "tus"), "user_id", "event_type", "tus")
      .writeStream.outputMode("append")
      .foreachBatch((b: org.apache.spark.sql.Dataset[(Long, Int, Long)], _: Long) => {
        b.collect().foreach(rows.add); ()
      })
      .start()
    val (first, second) = ev.splitAt(ev.length / 2)
    in.addData(first.toIndexedSeq: _*)
    q.processAllAvailable()
    in.addData(second.toIndexedSeq: _*)
    q.processAllAvailable()
    q.stop()
    val emitted = rows.toArray.map(_.asInstanceOf[(Long, Int, Long)])
    // each (user, stage) advances at most once, ever
    assert(emitted.groupBy(e => (e._1, e._2)).forall(_._2.length == 1))
    val gotCounts = (1 to 3).map(s => emitted.count(_._2 == s).toLong)
    val b = graft.queries.EventQueries.eventsFunnel3(spark, dir).head()
    graft.core.QueryCaches.release()
    val batchCounts = Seq(b.getLong(0), b.getLong(1), b.getLong(2))
    assert(batchCounts.head > 0 && gotCounts == batchCounts,
      s"stream $gotCounts vs batch $batchCounts")
  }

  test("streaming gap feed: closed gaps across two time-split triggers equal the batch lead-window gaps") {
    implicit val sq = spark.sqlContext
    val dir = "/root/testdata/sf0.01"
    val ev = graft.queries.Tables.loadEvents(spark, dir)
      .selectExpr("user_id", "ts div 1000 AS tus")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._2)
    val in = MemoryStream[(Long, Long)]
    val rows = new ConcurrentLinkedQueue[(Long, Long, Long)]()
    val q = GraftStream.gapUpdates(in.toDF().toDF("user_id", "tus"), "user_id", "tus")
      .writeStream.outputMode("append")
      .foreachBatch((b: org.apache.spark.sql.Dataset[(Long, Long, Long)], _: Long) => {
        b.collect().foreach(rows.add); ()
      })
      .start()
    // split by TIME (not arbitrary position): cross-trigger ts only advance
    val (first, second) = ev.splitAt(ev.length / 2)
    in.addData(first.toIndexedSeq: _*)
    q.processAllAvailable()
    in.addData(second.toIndexedSeq: _*)
    q.processAllAvailable()
    q.stop()
    val got = rows.toArray.map(_.asInstanceOf[(Long, Long, Long)])
      .groupBy(identity).view.mapValues(_.length).toMap
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val w = Window.partitionBy(col("user_id")).orderBy(col("tus"))
    val batch = graft.queries.Tables.loadEvents(spark, dir)
      .selectExpr("user_id", "ts div 1000 AS tus")
      .withColumn("nxt", lead(col("tus"), 1).over(w))
      .filter(col("nxt").isNotNull)
      .select(col("user_id"), col("tus"), (col("nxt") - col("tus")).as("gap"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(identity).view.mapValues(_.length).toMap
    assert(batch.nonEmpty && got == batch,
      s"stream ${got.size} distinct vs batch ${batch.size}")
  }

  test("streaming gap sweep by composition: streamed gaps reproduce events_gap_sweep exactly") {
    // The session-gap operating curve from the UNBOUNDED side: the
    // closed gaps emitted by gapUpdates plus the user count are
    // sufficient statistics for every threshold — n_sessions(g) =
    // |users| + #{gaps > g} (each user's first event opens a session;
    // each over-threshold gap opens another), n_events = |gaps| +
    // |users|. Must equal the batch events_gap_sweep rows.
    implicit val sq = spark.sqlContext
    val dir = "/root/testdata/sf0.01"
    val ev = graft.queries.Tables.loadEvents(spark, dir)
      .selectExpr("user_id", "ts div 1000 AS tus")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._2)
    val in = MemoryStream[(Long, Long)]
    val rows = new ConcurrentLinkedQueue[(Long, Long, Long)]()
    val q = GraftStream.gapUpdates(in.toDF().toDF("user_id", "tus"), "user_id", "tus")
      .writeStream.outputMode("append")
      .foreachBatch((b: org.apache.spark.sql.Dataset[(Long, Long, Long)], _: Long) => {
        b.collect().foreach(rows.add); ()
      })
      .start()
    val (first, second) = ev.splitAt(ev.length / 2)
    in.addData(first.toIndexedSeq: _*)
    q.processAllAvailable()
    in.addData(second.toIndexedSeq: _*)
    q.processAllAvailable()
    q.stop()
    val gaps = rows.toArray.map(_.asInstanceOf[(Long, Long, Long)]._3)
    val nUsers = ev.map(_._1).distinct.length.toLong
    val streamRows = Seq(900L, 1800L, 3600L).map { g =>
      val nSessions = nUsers + gaps.count(_ > g * 1000000L)
      (g, ev.length.toLong, nSessions, 1000L * ev.length / nSessions)
    }.toSet
    val batch = SparkEntry.queries("events_gap_sweep")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    graft.core.QueryCaches.release()
    assert(batch.nonEmpty && streamRows == batch,
      s"stream $streamRows vs batch $batch")
  }

  test("streaming CDC chunk dedup by composition: first-seen chunks equal batch distinct vocabulary") {
    // The storage-dedup INGEST path: docs stream in, the codegen CDC
    // kernel chunks each blob in-batch, and dedupExact keeps only
    // first-seen (source, fp) — so the stream's admitted chunk set IS
    // the batch mm_cdc_chunks distinct vocabulary, computed without
    // ever holding the corpus.
    implicit val sq = spark.sqlContext
    val docs = graft.queries.Tables.load(spark, "/root/testdata/sf0.01", "documents")
      .select(col("source"), col("text"))
      .collect().map(r => (r.getString(0), r.getString(1)))
    val in = MemoryStream[(String, String)]
    val rows = new ConcurrentLinkedQueue[(String, Long)]()
    val chunks = GraftStream.dedupExact(
      in.toDF().toDF("source", "text")
        .withColumn("ts", lit("2026-01-01 00:00:00").cast("timestamp"))
        .select(col("source"), col("ts"),
          explode(graft.functions.HashExprs.cdcChunkFps(col("text"), 8, 64L)).as("fp")),
      "ts", "1 minute", "source", "fp")
    val q = chunks.writeStream.outputMode("append")
      .foreachBatch((b: org.apache.spark.sql.DataFrame, _: Long) => {
        b.select(col("source"), col("fp")).collect()
          .foreach(r => rows.add((r.getString(0), r.getLong(1)))); ()
      })
      .start()
    val (first, second) = docs.splitAt(docs.length / 2)
    in.addData(first.toIndexedSeq: _*)
    q.processAllAvailable()
    in.addData(second.toIndexedSeq: _*)
    q.processAllAvailable()
    q.stop()
    val emitted = rows.toArray.map(_.asInstanceOf[(String, Long)]).toSeq
    assert(emitted.distinct.size == emitted.size, "re-occurrences must be dropped in-stream")
    val got = emitted.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val batch = SparkEntry.queries("mm_cdc_chunks")(spark, "/root/testdata/sf0.01")
      .select(col("source"), col("n_distinct"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    graft.core.QueryCaches.release()
    assert(batch.nonEmpty && got == batch, s"stream $got vs batch $batch")
  }

  test("streaming HLL sketch: an out-of-frame hash fails the contract, not an array index") {
    // r10 advice: a negative caller hash used to crash regs(-b) with
    // ArrayIndexOutOfBoundsException mid-trigger; the fold now states
    // its [0, 2^30) fingerprint contract up front.
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(String, Long)]
    val q = GraftStream.hllUpdates(in.toDF().toDF("etype", "h"), "etype", "h")
      .writeStream.outputMode("append").format("noop").start()
    in.addData(("a", -1L))
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.processAllAvailable()
    }
    q.stop()
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(ex).exists(c => c.getMessage != null &&
        c.getMessage.contains("hllUpdates: hash column must be in [0, 2^30)")),
      s"want the contract message in the cause chain, got: $ex")
    assert(!causes(ex).exists(_.isInstanceOf[ArrayIndexOutOfBoundsException]))
  }

  test("streaming sliding WAU: coverage explode |> kmvUpdates equals the batch window sketch") {
    // Sliding-window distinct users with BOUNDED state, by COMPOSING
    // two existing operators: each (user, day) activity explodes to
    // the <=7 window-end days it covers (the events_rolling_wau
    // coverage trick), keyed by window-end day into the KMV sketch
    // fold — so per-window state is exactly k longs however many users
    // a window sees, and the monotone min-set makes the final emission
    // chunking-independent. Parity: the same coverage pairs aggregated
    // in batch to the k-th smallest hash per window day.
    implicit val sq = spark.sqlContext
    val dir = "/root/testdata/sf0.01"
    val cov = normalizeEventTs(spark.read.parquet(s"$dir/events.parquet"))
      .select(col("user_id"), to_date(timestamp_micros(expr("ts div 1000"))).as("day"))
      .distinct()
      .select(col("user_id"),
        explode(expr("sequence(day, date_add(day, 6))")).as("wday"))
      .distinct()
      .select(col("wday").cast("string").as("wd"),
        graft.ext.TextOps.fingerprint(
          concat(lit("wau|"), col("user_id").cast("string"), lit("|graft"))).as("h"))
      .distinct() // kmv state dedups h; keep the batch rank consistent
    val pairs = cov.collect().map(r => (r.getString(0), r.getLong(1)))
    val in = MemoryStream[(String, Long)]
    val df = in.toDF().toDF("wd", "h")
    val rows = new ConcurrentLinkedQueue[(String, Long, Long)]()
    val q = GraftStream.kmvUpdates(df, "wd", "h", 16)
      .writeStream.outputMode("append")
      .foreachBatch((b: org.apache.spark.sql.Dataset[(String, Long, Long)], _: Long) => {
        b.collect().foreach(rows.add); ()
      })
      .start()
    new scala.util.Random(11).shuffle(pairs.toSeq).grouped(pairs.length / 3 + 1)
      .foreach { chunk => in.addData(chunk: _*); q.processAllAvailable() }
    q.stop()
    val got = rows.toArray.map(_.asInstanceOf[(String, Long, Long)])
      .groupBy(_._1).map { case (k, vs) => val f = vs.minBy(_._2); k -> f._2 }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("wd")).orderBy(col("h"))
    val batch = cov.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 16)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(batch.nonEmpty && got == batch, s"stream $got\nbatch $batch")
  }

  test("streaming session_window equals the lag-based batch sessionization shape") {
    // Batch check of the same session_window operator the stream uses:
    // session count and per-session event totals must equal the
    // lag+running-sum oracle (EventQueries.eventsSessions) at 30 min.
    val dir = "/root/testdata/sf0.001"
    val ev = normalizeEventTs(spark.read.parquet(s"$dir/events.parquet"))
      .select(col("user_id"), timestamp_micros(expr("ts div 1000")).as("tm"))
    val viaSessionWindow = ev
      .groupBy(session_window(col("tm"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("n_events"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val viaLag = queries.EventQueries.eventsSessions(spark, dir)
      .select(col("user_id"), col("n_events"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(viaSessionWindow == viaLag)
  }

  test("streaming sessionCounts: an event exactly `gap` after the previous one joins its session") {
    // Hand-built feed, gap = 10 minutes: a@00:00, 00:10 and 00:20 are
    // each exactly one gap apart, a@00:31 is 11 minutes after 00:20,
    // b@00:05 is alone. A later z@05:00 moves the watermark past every
    // session above, so append mode emits them all.
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(String, Timestamp)]
    val df = in.toDF().toDF("k", "ts")
    val rows = new ConcurrentLinkedQueue[(String, Timestamp, Long)]()
    val q = GraftStream.sessionCounts(df, "ts", "k", watermark = "0 seconds", gap = "10 minutes")
      .writeStream.outputMode("append")
      .foreachBatch((b: org.apache.spark.sql.DataFrame, _: Long) => {
        b.collect().foreach(r => rows.add((r.getString(0), r.getTimestamp(1), r.getLong(2)))); ()
      })
      .start()
    def at(hhmm: String) = Timestamp.valueOf(s"2024-01-01 $hhmm:00")
    in.addData(("a", at("00:00")), ("a", at("00:10")), ("a", at("00:20")),
      ("a", at("00:31")), ("b", at("00:05")))
    q.processAllAvailable()
    in.addData(("z", at("05:00")))
    q.processAllAvailable()
    q.stop()
    val got = rows.toArray.map(_.asInstanceOf[(String, Timestamp, Long)]).toSet
    assert(got == Set(("a", at("00:00"), 3L), ("a", at("00:31"), 1L), ("b", at("00:05"), 1L)),
      s"sessions: $got")
  }

  test("streaming drift fold: final per-band counters equal the batch conditional-sum histogram") {
    // q_drift's band relation (orders 1995 vs 1996, price div 25000)
    // fed through driftUpdates in three seed-shuffled chunks: counters
    // are an order-independent monotone fold, so the LAST emission per
    // band must equal the batch histogram exactly — no watermark, any
    // chunking.
    implicit val sq = spark.sqlContext
    val o = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .filter(year(col("o_orderdate")).isin(1995, 1996))
      .select(floor(col("o_totalprice") / lit(25000.0d)).cast("bigint").as("band"),
        (year(col("o_orderdate")) === 1995).as("isa"))
    val data = new scala.util.Random(7).shuffle(
      o.collect().map(r => (r.getLong(0), r.getBoolean(1))).toSeq)
    assert(data.nonEmpty)
    val in = MemoryStream[(Long, Boolean)]
    val df = in.toDF().toDF("band", "isa")
    val rows = new ConcurrentLinkedQueue[(Long, Long, Long, Long)]()
    val q = GraftStream.driftUpdates(df, "band", "isa")
      .writeStream.outputMode("append")
      .foreachBatch((b: org.apache.spark.sql.Dataset[(Long, Long, Long, Long)], _: Long) => {
        b.collect().foreach(rows.add); ()
      })
      .start()
    data.grouped((data.length + 2) / 3).foreach { chunk =>
      in.addData(chunk: _*)
      q.processAllAvailable()
    }
    q.stop()
    val got = rows.toArray.map(_.asInstanceOf[(Long, Long, Long, Long)])
      .groupBy(_._1).map { case (band, vs) =>
        val last = vs.maxBy(_._4) // n_seen strictly increases
        band -> ((last._2, last._3))
      }
    val batch = o.groupBy(col("band"))
      .agg(sum(when(col("isa"), 1L).otherwise(0L)).as("a"),
        sum(when(!col("isa"), 1L).otherwise(0L)).as("b"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == batch, s"stream $got\nbatch $batch")
  }

  test("streaming table checksum by composition: fp |> sumUpdates equals batch q_table_checksum") {
    // The incremental form of the replica-sync audit: each arriving
    // customer row fingerprints itself (same canonical rendering as
    // q_table_checksum) and folds into its bucket's running checksum
    // via the generic sum fold — addition is commutative, so the last
    // emission per bucket must equal the batch bucket checksum however
    // the rows are chunked or ordered.
    implicit val sq = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val batch = graft.queries.Relational.qTableChecksum(spark, dir)
      .collect().map(r => (r.getLong(0).toString, r.getLong(2))).toMap
    val cust = spark.read.parquet(s"$dir/customer.parquet")
    val rendered = cust.select(
        expr("c_custkey div 1000").cast("string").as("bucket"),
        graft.functions.HashExprs.fingerprint(concat_ws("|",
          col("c_custkey"), col("c_name"), col("c_nationkey"),
          col("c_acctbal").cast(org.apache.spark.sql.types.DecimalType(12, 2)),
          col("c_mktsegment"))).as("fp"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val data = new scala.util.Random(11).shuffle(rendered)
    val in = MemoryStream[(String, Long)]
    val df = in.toDF().toDF("bucket", "fp")
    val rows = new ConcurrentLinkedQueue[(String, Long, Long)]()
    val q = GraftStream.sumUpdates(df, "bucket", "fp")
      .writeStream.outputMode("append")
      .foreachBatch((b: org.apache.spark.sql.Dataset[(String, Long, Long)], _: Long) => {
        b.collect().foreach(rows.add); ()
      })
      .start()
    data.grouped((data.length + 2) / 3).foreach { chunk =>
      in.addData(chunk: _*)
      q.processAllAvailable()
    }
    q.stop()
    val got = rows.toArray.map(_.asInstanceOf[(String, Long, Long)])
      .groupBy(_._1).map { case (k, vs) => k -> vs.maxBy(_._3)._2 }
    assert(got == batch, s"stream $got\nbatch $batch")
  }

  test("streaming Welch monitor: welchUpdates' final arm moments equal the batch fold") {
    // Feed the per-user revenue relation (the batch query's own first
    // fold) in shuffled thirds; the last emission per arm must carry
    // exactly the batch (n, Σm, Σm²) whatever the chunking — the t²
    // readout downstream is then bit-identical to events_welch.
    implicit val sq = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val perUser = graft.queries.Tables.loadEvents(spark, dir)
      .groupBy(col("user_id"))
      .agg(sum(when(col("event_type") === "purchase",
        expr("CAST(floor(value * 100) AS BIGINT)")).otherwise(0L)).as("m"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val expected = perUser.groupBy(_._1 % 2).map { case (arm, vs) =>
      arm -> ((vs.size.toLong, vs.map(_._2).sum, vs.map(v => v._2 * v._2).sum))
    }
    val data = new scala.util.Random(13).shuffle(perUser)
    val in = MemoryStream[(Long, Long)]
    val df = in.toDF().toDF("user_id", "m")
    val rows = new ConcurrentLinkedQueue[(Long, Long, Long, Long)]()
    val q = GraftStream.welchUpdates(df, "user_id", "m")
      .writeStream.outputMode("append")
      .foreachBatch((b: org.apache.spark.sql.Dataset[(Long, Long, Long, Long)], _: Long) => {
        b.collect().foreach(rows.add); ()
      })
      .start()
    data.grouped((data.length + 2) / 3).foreach { chunk =>
      in.addData(chunk: _*)
      q.processAllAvailable()
    }
    q.stop()
    val got = rows.toArray.map(_.asInstanceOf[(Long, Long, Long, Long)])
      .groupBy(_._1).map { case (arm, vs) =>
        val last = vs.maxBy(_._2)
        arm -> ((last._2, last._3, last._4))
      }
    assert(got == expected, s"got $got expected $expected")
  }

  test("streaming Markov-entropy monitor: final per-source entropy equals the batch row") {
    // Expand the batch row's own transition counts into unit rows,
    // feed shuffled thirds; the last emission per source must carry
    // exactly the batch (t_total, n_dst, h_milli) — counts are plain
    // sums and the millibit fold is a pure function of them.
    implicit val sq = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val expected = graft.queries.EventQueries
      .eventsMarkovEntropy(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    val bigrams = graft.queries.EventQueries.sessionBigrams(spark, dir)
      .collect().flatMap(r =>
        Seq.fill(r.getLong(2).toInt)((r.getString(0), r.getString(1))))
      .toSeq
    val data = new scala.util.Random(23).shuffle(bigrams)
    val in = MemoryStream[(String, String)]
    val df = in.toDF().toDF("src", "dst")
    val rows = new ConcurrentLinkedQueue[(String, Long, Long, Long)]()
    val q = GraftStream.markovEntropyUpdates(df, "src", "dst")
      .writeStream.outputMode("append")
      .foreachBatch((b: org.apache.spark.sql.Dataset[(String, Long, Long, Long)], _: Long) => {
        b.collect().foreach(rows.add); ()
      })
      .start()
    data.grouped((data.length + 2) / 3).foreach { chunk =>
      in.addData(chunk: _*)
      q.processAllAvailable()
    }
    q.stop()
    val got = rows.toArray.map(_.asInstanceOf[(String, Long, Long, Long)])
      .groupBy(_._1).map { case (s, vs) =>
        val last = vs.maxBy(_._2)
        s -> ((last._2, last._3, last._4))
      }
    assert(got == expected, s"got $got expected $expected")
  }

  test("streaming Poisson-bootstrap monitor: final CI band equals the batch fold") {
    // Feed the per-user revenue relation in shuffled thirds; the final
    // emission must carry exactly the batch events_bootstrap readout
    // (point + 2nd/16-17th/31st order statistics of the 32 replicate
    // estimates) — the replicate counters are plain sums over
    // hash-deterministic weights, so chunking cannot move them.
    implicit val sq = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val perUser = graft.queries.Tables.loadEvents(spark, dir)
      .groupBy(col("user_id"))
      .agg(sum(when(col("event_type") === "purchase",
        expr("CAST(floor(value * 100) AS BIGINT)")).otherwise(0L)).as("m"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val cdf = Array(385749L, 771499L, 964373L, 1028665L, 1044738L)
    def w(u: Long, r: Int): Long = {
      val t = (u * 2654435761L + r * 1013904223L + 12345L) % 1048576L
      val h = ((t * t) / 1024L) % 1048576L
      cdf.indexWhere(h < _) match { case -1 => 5L; case i => i.toLong }
    }
    val ests = (0 until 32).map { r =>
      val num = perUser.map { case (u, m) => w(u, r) * m }.sum
      val den = perUser.map { case (u, _) => w(u, r) }.sum
      1000L * num / den
    }.sorted
    val expected = (perUser.size.toLong,
      1000L * perUser.map(_._2).sum / perUser.size,
      ests(1), (ests(15) + ests(16)) / 2L, ests(30))
    val data = new scala.util.Random(17).shuffle(perUser)
    val in = MemoryStream[(Long, Long)]
    val df = in.toDF().toDF("user_id", "m")
    val rows = new ConcurrentLinkedQueue[(String, Long, Long, Long, Long, Long)]()
    val q = GraftStream.bootstrapUpdates(df, "user_id", "m")
      .writeStream.outputMode("append")
      .foreachBatch((b: org.apache.spark.sql.Dataset[(String, Long, Long, Long, Long, Long)], _: Long) => {
        b.collect().foreach(rows.add); ()
      })
      .start()
    data.grouped((data.length + 2) / 3).foreach { chunk =>
      in.addData(chunk: _*)
      q.processAllAvailable()
    }
    q.stop()
    val last = rows.toArray.map(_.asInstanceOf[(String, Long, Long, Long, Long, Long)])
      .maxBy(_._2)
    assert((last._2, last._3, last._4, last._5, last._6) == expected,
      s"got $last expected $expected")
  }

  test("streaming AMS F2 monitor: f2Updates' final estimate equals the batch fold") {
    // Feed (event_type, user_id) pairs in shuffled thirds; the last
    // emission per type must carry exactly the batch AMS estimate
    // (24 counters -> mean-of-8 / median-of-3) whatever the chunking —
    // the counters are plain sums, so order and trigger boundaries
    // cannot move the result.
    implicit val sq = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val pairs = graft.queries.Tables.loadEvents(spark, dir)
      .select(col("event_type"), col("user_id"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    def sign(v: Long, j: Int): Long = {
      val h = (v * (104729L + 7919L * j) + (7L + 13L * j)) % 1000000007L
      1L - 2L * ((h * h >>> 40) & 1L)
    }
    val expected = pairs.groupBy(_._1).map { case (t, vs) =>
      val z = Array.tabulate(24)(j => vs.map(v => sign(v._2, j)).sum)
      val ests = (0 until 3).map(g => (8 * g until 8 * g + 8).map(j => z(j) * z(j)).sum / 8L)
      t -> ((vs.size.toLong, ests.sorted.apply(1)))
    }
    val data = new scala.util.Random(29).shuffle(pairs)
    val in = MemoryStream[(String, Long)]
    val df = in.toDF().toDF("event_type", "user_id")
    val rows = new ConcurrentLinkedQueue[(String, Long, Long)]()
    val q = GraftStream.f2Updates(df, "event_type", "user_id")
      .writeStream.outputMode("append")
      .foreachBatch((b: org.apache.spark.sql.Dataset[(String, Long, Long)], _: Long) => {
        b.collect().foreach(rows.add); ()
      })
      .start()
    data.grouped((data.length + 2) / 3).foreach { chunk =>
      in.addData(chunk: _*)
      q.processAllAvailable()
    }
    q.stop()
    val got = rows.toArray.map(_.asInstanceOf[(String, Long, Long)])
      .groupBy(_._1).map { case (t, vs) =>
        val last = vs.maxBy(_._2)
        t -> ((last._2, last._3))
      }
    assert(got == expected, s"got $got expected $expected")
  }

  test("streaming grid radius join: gridCandidates equals the batch geo_radius_join pairs") {
    // The spatial pillar's unbounded twin: points stream in shuffled
    // chunks, cells hold keyed state, and the emitted (id_a, id_b, d2)
    // set must equal the batch grid join EXACTLY — the once-per-pair
    // orientation (emit in the larger id's home cell) is arrival-order
    // independent.
    implicit val sq = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val pts = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"),
        (expr("CAST(floor(CAST(element_at(embedding, 1) AS DOUBLE) * 1000.0) AS BIGINT)")
          + lit(2000L)).as("px"),
        (expr("CAST(floor(CAST(element_at(embedding, 2) AS DOUBLE) * 1000.0) AS BIGINT)")
          + lit(2000L)).as("py"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val batch = SparkEntry.queries("geo_radius_join")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    graft.core.QueryCaches.release()
    val data = new scala.util.Random(17).shuffle(pts)
    val in = MemoryStream[(Long, Long, Long)]
    val rows = new ConcurrentLinkedQueue[(Long, Long, Long)]()
    val q = GraftStream.gridCandidates(
        in.toDF().toDF("vec_id", "px", "py"), "vec_id", "px", "py",
        radius = 20L, maxCell = 4096, stateTtl = "")
      .writeStream.outputMode("append")
      .foreachBatch((b: org.apache.spark.sql.Dataset[(Long, Long, Long)], _: Long) => {
        b.collect().foreach(rows.add); ()
      })
      .start()
    data.grouped((data.length + 2) / 3).foreach { chunk =>
      in.addData(chunk: _*)
      q.processAllAvailable()
    }
    q.stop()
    val got = rows.toArray.map(_.asInstanceOf[(Long, Long, Long)]).toSet
    assert(batch.nonEmpty && got == batch,
      s"stream ${got.size} pairs vs batch ${batch.size}")
  }

  test("streaming region containment: regionMembers equals the batch membership under any chunking") {
    // The geofence twin is STATELESS (broadcast cover + winding test),
    // so parity must hold exactly at every prefix — here the full-set
    // check after three shuffled chunks, against the shared
    // regionMembership definition run in batch mode.
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val pts = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"),
        (expr("CAST(floor(CAST(element_at(embedding, 1) AS DOUBLE) * 1000.0) AS BIGINT)")
          + lit(2000L)).as("px"),
        (expr("CAST(floor(CAST(element_at(embedding, 2) AS DOUBLE) * 1000.0) AS BIGINT)")
          + lit(2000L)).as("py"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val batch = graft.queries.GeoQueries.regionMembership(
        pts.toDF("vec_id", "px", "py"), 200L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val data = new scala.util.Random(23).shuffle(pts)
    val in = MemoryStream[(Long, Long, Long)]
    val rows = new ConcurrentLinkedQueue[(Long, Long)]()
    val q = GraftStream.regionMembers(
        in.toDF().toDF("vec_id", "px", "py"), "vec_id", "px", "py")
      .writeStream.outputMode("append")
      .foreachBatch((b: org.apache.spark.sql.DataFrame, _: Long) => {
        b.collect().foreach(r => rows.add((r.getLong(0), r.getLong(1)))); ()
      })
      .start()
    data.grouped((data.length + 2) / 3).foreach { chunk =>
      in.addData(chunk: _*)
      q.processAllAvailable()
    }
    q.stop()
    val got = rows.toArray.map(_.asInstanceOf[(Long, Long)]).toSet
    assert(batch.nonEmpty && got == batch,
      s"stream ${got.size} memberships vs batch ${batch.size}")
  }

  test("streaming NB model maintenance by composition: token folds equal the batch model") {
    // text_nb_langid's model is (lang, token) counts — a monotone sum,
    // so the classifier's training state is stream-maintainable through
    // the generic keyed fold with NO new operator code: the last
    // emission per (lang, token) key must equal the batch model count
    // under any chunking/order.
    implicit val sq = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val toks = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("lang"), explode(graft.ext.TextOps.tokens(col("text"))).as("tok"))
      .select(concat_ws("\u0001", col("lang"), col("tok")).as("k"), lit(1L).as("one"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val batch = toks.groupBy(_._1).map { case (k, vs) => k -> vs.size.toLong }
    val data = new scala.util.Random(13).shuffle(toks)
    val in = MemoryStream[(String, Long)]
    val rows = new ConcurrentLinkedQueue[(String, Long, Long)]()
    val q = GraftStream.sumUpdates(in.toDF().toDF("k", "one"), "k", "one")
      .writeStream.outputMode("append")
      .foreachBatch((b: org.apache.spark.sql.Dataset[(String, Long, Long)], _: Long) => {
        b.collect().foreach(rows.add); ()
      })
      .start()
    data.grouped((data.length + 2) / 3).foreach { chunk =>
      in.addData(chunk: _*)
      q.processAllAvailable()
    }
    q.stop()
    val got = rows.toArray.map(_.asInstanceOf[(String, Long, Long)])
      .groupBy(_._1).map { case (k, vs) => k -> vs.maxBy(_._3)._2 }
    assert(got == batch, s"stream model drifted from batch: ${got.size} vs ${batch.size} keys")
  }

  test("streaming CUSUM chart: cusumUpdates equals the batch events_cusum rows") {
    // Order-dependent fold under the in-order contract: the gapfilled
    // per-(type, day) deviation rows arrive day-ordered in three
    // chunks; every emission must equal the batch query's
    // (cusum_pos, cusum_neg) for that (type, day).
    implicit val sq = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val batch = graft.queries.EventQueries.eventsCusum(spark, dir)
      .collect()
      .map(r => ((r.getString(0), r.getLong(1)), (r.getLong(3), r.getLong(4))))
      .toMap
    // rebuild the query's dev inputs: gapfilled daily counts, scaled
    // deviations cnt*n_days - total
    val daily = normalizeEventTs(spark.read.parquet(s"$dir/events.parquet"))
      .groupBy(col("event_type").as("t"),
        expr("CAST(datediff(CAST(timestamp_micros(ts div 1000) AS DATE), " +
          "DATE '1970-01-01') AS BIGINT)").as("d"))
      .agg(count(lit(1)).as("n"))
    val spine = daily.groupBy(col("t"))
      .agg(min(col("d")).as("lo"), max(col("d")).as("hi"))
      .select(col("t"), explode(expr("sequence(lo, hi)")).as("d"))
      .join(daily, Seq("t", "d"), "left")
      .select(col("t"), col("d"), coalesce(col("n"), lit(0L)).as("cnt"))
    val tot = spine.groupBy(col("t"))
      .agg(sum(col("cnt")).as("total"), count(lit(1)).as("n_days"))
    val devRows = spine.join(tot, Seq("t"))
      .select(col("t"), col("d"), (col("cnt") * col("n_days") - col("total")).as("dev"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(r => (r._2, r._1)).toSeq // day-ordered, keys interleaved
    val in = MemoryStream[(String, Long, Long)]
    val df = in.toDF().toDF("t", "d", "dev")
    val rows = new ConcurrentLinkedQueue[(String, Long, Long, Long)]()
    val q = GraftStream.cusumUpdates(df, "t", "d", "dev")
      .writeStream.outputMode("append")
      .foreachBatch(
        (b: org.apache.spark.sql.Dataset[(String, Long, Long, Long)], _: Long) => {
          b.collect().foreach(rows.add); ()
        })
      .start()
    devRows.grouped((devRows.length + 2) / 3).foreach { chunk =>
      in.addData(chunk: _*)
      q.processAllAvailable()
    }
    q.stop()
    val got = rows.toArray.map(_.asInstanceOf[(String, Long, Long, Long)])
      .map(r => ((r._1, r._2), (r._3, r._4))).toMap
    assert(got == batch, s"stream/batch diverged: ${got.size} vs ${batch.size} rows")
    graft.core.QueryCaches.release()
  }

  test("streaming MV maintenance: mvUpdates converges to the registered MvCatalog summary") {
    // The freshness half of the MV flagship as a stream: orders rows
    // arrive shuffled in three chunks keyed by o_orderstatus, values
    // micro-scaled (the decimal(38,6) -> micros contract, so sums are
    // integer-exact). Every state component (count, sum, min, max) is
    // an order-independent fold, so the LAST emission per key must
    // equal the MvCatalog-registered summary — the same relation
    // MvRewrite answers queries from — bit-exactly.
    implicit val sq = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val orders = spark.read.parquet(s"$dir/orders.parquet")
    import org.apache.spark.sql.types.DecimalType
    val mv = graft.plans.MvCatalog.register("stream_parity_mv", orders,
      keys = Seq(col("o_orderstatus")),
      measures = Seq(col("o_totalprice").cast(DecimalType(38, 6))))
    val batch =
      try mv.summary.select(col("mv_k0"),
          col("mv_cnt"),
          (col("mv_sum_0") * 1000000).cast("long"),
          (col("mv_min_0") * 1000000).cast("long"),
          (col("mv_max_0") * 1000000).cast("long"))
        .collect()
        .map(r => (r.getString(0), (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
        .toMap
      finally graft.plans.MvCatalog.unregister(mv)
    val rendered = orders.select(col("o_orderstatus"),
        (col("o_totalprice").cast(DecimalType(38, 6)) * 1000000).cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val data = new scala.util.Random(17).shuffle(rendered)
    val in = MemoryStream[(String, Long)]
    val df = in.toDF().toDF("k", "v")
    val rows = new ConcurrentLinkedQueue[(String, Long, Long, Long, Long)]()
    val q = GraftStream.mvUpdates(df, "k", "v")
      .writeStream.outputMode("append")
      .foreachBatch(
        (b: org.apache.spark.sql.Dataset[(String, Long, Long, Long, Long)], _: Long) => {
          b.collect().foreach(rows.add); ()
        })
      .start()
    data.grouped((data.length + 2) / 3).foreach { chunk =>
      in.addData(chunk: _*)
      q.processAllAvailable()
    }
    q.stop()
    val got = rows.toArray.map(_.asInstanceOf[(String, Long, Long, Long, Long)])
      .groupBy(_._1)
      .map { case (k, vs) =>
        val last = vs.maxBy(_._2) // count is strictly increasing per key
        k -> (last._2, last._3, last._4, last._5)
      }
    assert(got == batch, s"stream $got\nbatch $batch")
    graft.core.QueryCaches.release()
  }

  test("streaming DBSCAN density grid by composition: sumUpdates equals the batch cell histogram") {
    // The streaming feed of events_dbscan: per-user feature rows keyed
    // by their grid cell "cx|cy|cz" (cell width = EPS, the same
    // truncating div as the batch query) fold through the generic
    // monotone-sum — the maintained per-cell counts ARE the density
    // summary a periodic batch DBSCAN pass reads (micro-cluster
    // maintenance; the clustering itself stays a batch repair path).
    implicit val sq = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val e = normalizeEventTs(spark.read.parquet(s"$dir/events.parquet"))
      .select(col("user_id"), expr("ts div 86400000000000").as("day"),
        col("event_type"), col("value"))
    val edge = e.agg(max(col("day")).as("d1"))
    val cells = e.crossJoin(broadcast(edge)).groupBy(col("user_id")).agg(
        (count(lit(1)) * lit(2500L)).as("x"),
        sum(when(col("event_type") === "purchase",
          expr("CAST(floor(value * 100) AS BIGINT)")).otherwise(0L)).as("y"),
        ((max(col("d1")) - max(col("day"))) * lit(25000L)).as("z"))
      .selectExpr("concat(x div 6000, '|', y div 6000, '|', z div 6000) AS k")
    val expected = cells.groupBy(col("k")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val data = new scala.util.Random(7).shuffle(
      cells.collect().map(_.getString(0)).toSeq)
    val in = MemoryStream[String]
    val df = in.toDF().toDF("k").withColumn("one", lit(1L))
    val rows = new ConcurrentLinkedQueue[(String, Long, Long)]()
    val q = GraftStream.sumUpdates(df, "k", "one")
      .writeStream.outputMode("append")
      .foreachBatch((b: org.apache.spark.sql.Dataset[(String, Long, Long)], _: Long) => {
        b.collect().foreach(rows.add); ()
      })
      .start()
    data.grouped((data.length + 1) / 2).foreach { chunk =>
      in.addData(chunk: _*)
      q.processAllAvailable()
    }
    q.stop()
    val got = rows.toArray.map(_.asInstanceOf[(String, Long, Long)])
      .groupBy(_._1).map { case (k, vs) => k -> vs.maxBy(_._3)._2 }
    assert(got == expected, s"got $got expected $expected")
  }

  test("streaming PIT feature server: emissions equal the batch point-in-time join rows") {
    // Order-dependent window state under the in-order contract: events
    // arrive time-ordered in three contiguous chunks; every label
    // emission must equal the batch bucketize-explode PIT join's row
    // for that (user, label ts) — strictly-before semantics included.
    implicit val sq = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val expected = SparkEntry.queries("events_feature_pit")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
      .groupBy(identity).view.mapValues(_.length).toMap
    val feed = graft.queries.Tables.loadEvents(spark, dir)
      .selectExpr("user_id", "ts div 1000 AS tus", "event_type",
        "CAST(floor(value * 100) AS BIGINT) AS cents")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
      .sortBy(_._2)
    val in = MemoryStream[(Long, Long, String, Long)]
    val df = in.toDF().toDF("user_id", "tus", "event_type", "cents")
    val rows = new ConcurrentLinkedQueue[(Long, Long, Long, Long, Long, Long)]()
    val q = GraftStream.pitUpdates(df, "user_id", "tus", "event_type", "cents")
      .writeStream.outputMode("append")
      .foreachBatch((b: org.apache.spark.sql.Dataset[(Long, Long, Long, Long, Long, Long)],
                     _: Long) => { b.collect().foreach(rows.add); () })
      .start()
    feed.grouped((feed.length + 2) / 3).foreach { chunk =>
      in.addData(chunk: _*)
      q.processAllAvailable()
    }
    q.stop()
    val got = rows.toArray.map(_.asInstanceOf[(Long, Long, Long, Long, Long, Long)])
      .groupBy(identity).view.mapValues(_.length).toMap
    assert(got == expected,
      s"PIT multisets differ: ${got.size} streamed vs ${expected.size} batch groups")
    assert(expected.nonEmpty)
  }

  test("streaming Holt-Winters monitor: final emission equals the batch triple-smoothing fold") {
    // Order-dependent recurrence under the in-order contract: the
    // per-(type, day) counts arrive day-ordered in three contiguous
    // chunks; after the same prefix the streaming (level, trend,
    // forecast) must be BIT-equal to the batch in-row fold — both
    // spell identical x1/2 double trees over the identical init sums.
    implicit val sq = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val expected = SparkEntry.queries("events_holt_winters")(spark, dir)
      .collect().map(r => r.getString(0) ->
        ((r.getDouble(2), r.getDouble(3), r.getDouble(5)))).toMap
    val daily = graft.queries.Tables.loadEvents(spark, dir)
      .selectExpr("event_type AS t", "ts div 86400000000000 AS day")
      .groupBy(col("t"), col("day")).agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(r => (r._2, r._1))
    val in = MemoryStream[(String, Long, Long)]
    val df = in.toDF().toDF("t", "day", "c")
    val rows = new ConcurrentLinkedQueue[(String, Long, Double, Double, Double)]()
    val q = GraftStream.holtWintersUpdates(df, "t", "day", "c")
      .writeStream.outputMode("append")
      .foreachBatch((b: org.apache.spark.sql.Dataset[(String, Long, Double, Double, Double)],
                     _: Long) => { b.collect().foreach(rows.add); () })
      .start()
    daily.grouped((daily.length + 2) / 3).foreach { chunk =>
      in.addData(chunk: _*)
      q.processAllAvailable()
    }
    q.stop()
    val got = rows.toArray.map(_.asInstanceOf[(String, Long, Double, Double, Double)])
      .groupBy(_._1).map { case (t, vs) =>
        val last = vs.maxBy(_._2)
        t -> ((last._3, last._4, last._5))
      }
    expected.foreach { case (t, exp) =>
      assert(got.get(t).contains(exp), s"$t: got ${got.get(t)} expected $exp")
    }
    assert(expected.nonEmpty)
  }

  test("streaming periodicity grid by composition: sumUpdates equals the batch daily counts") {
    // The streaming feed of events_periodicity: events keyed
    // "type|epoch-day" (the same datediff day the batch grid uses)
    // fold through the generic monotone-sum in shuffled halves — the
    // maintained (type, day) counts ARE the gap-filled grid's nonzero
    // cells, so the periodic batch ACF-argmax pass reads maintained
    // state instead of rescanning the corpus.
    implicit val sq = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val keyed = normalizeEventTs(spark.read.parquet(s"$dir/events.parquet"))
      .selectExpr("concat(event_type, '|', CAST(datediff(" +
        "CAST(timestamp_micros(ts div 1000) AS DATE), DATE '1970-01-01') AS BIGINT)) AS k")
    val expected = keyed.groupBy(col("k")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val data = new scala.util.Random(11).shuffle(
      keyed.collect().map(_.getString(0)).toSeq)
    val in = MemoryStream[String]
    val df = in.toDF().toDF("k").withColumn("one", lit(1L))
    val rows = new ConcurrentLinkedQueue[(String, Long, Long)]()
    val q = GraftStream.sumUpdates(df, "k", "one")
      .writeStream.outputMode("append")
      .foreachBatch((b: org.apache.spark.sql.Dataset[(String, Long, Long)], _: Long) => {
        b.collect().foreach(rows.add); ()
      })
      .start()
    data.grouped((data.length + 1) / 2).foreach { chunk =>
      in.addData(chunk: _*)
      q.processAllAvailable()
    }
    q.stop()
    val got = rows.toArray.map(_.asInstanceOf[(String, Long, Long)])
      .groupBy(_._1).map { case (k, vs) => k -> vs.maxBy(_._3)._2 }
    assert(got == expected, s"got ${got.size} keys expected ${expected.size}")
  }

  test("streaming PAA series sketch by composition: sumUpdates equals the batch segment sums") {
    // events keyed "type|segment" (the events_series_sim PAA unit) fed
    // through the generic monotone-sum fold in three shuffled chunks:
    // addition is order-independent, so the last emission per key must
    // equal the batch rollup exactly.
    implicit val sq = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val daily = normalizeEventTs(spark.read.parquet(s"$dir/events.parquet"))
      .select(col("event_type").as("t"), expr("ts div 86400000000000").as("day"))
    val b = daily.agg(min(col("day")).as("d0"),
      (max(col("day")) - min(col("day")) + 1).as("tt")).head()
    val (d0, tt) = (b.getLong(0), b.getLong(1))
    val keyed = daily.select(
      concat(col("t"), lit("|"), ((col("day") - d0) * 8 / tt).cast("long")).as("k"))
    val data = new scala.util.Random(3).shuffle(
      keyed.collect().map(_.getString(0)).toSeq)
    val in = MemoryStream[String]
    val df = in.toDF().toDF("k").withColumn("one", lit(1L))
    val rows = new ConcurrentLinkedQueue[(String, Long, Long)]()
    val q = GraftStream.sumUpdates(df, "k", "one")
      .writeStream.outputMode("append")
      .foreachBatch((b: org.apache.spark.sql.Dataset[(String, Long, Long)], _: Long) => {
        b.collect().foreach(rows.add); ()
      })
      .start()
    data.grouped((data.length + 2) / 3).foreach { chunk =>
      in.addData(chunk: _*)
      q.processAllAvailable()
    }
    q.stop()
    val got = rows.toArray.map(_.asInstanceOf[(String, Long, Long)])
      .groupBy(_._1).map { case (k, vs) => k -> vs.maxBy(_._3)._2 }
    val batch = keyed.groupBy(col("k")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == batch, s"stream $got\nbatch $batch")
  }

  test("streaming Count-Min counters by composition: sumUpdates equals the batch sketch rows") {
    // The CM counter table (events_cm_freq) is a (row, pos)-keyed sum,
    // so the streaming sketch build IS the generic monotone-sum fold —
    // no bespoke operator needed. Two shuffled chunks; the last
    // emission per "j:pos" key must equal the batch counter exactly,
    // which makes the streamed sketch give the same min-over-rows
    // point estimates as the batch query.
    implicit val sq = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val keyed = spark.read.parquet(s"$dir/events.parquet")
      .select(explode(array((0 to 2).map(j =>
        concat(lit(s"$j:"),
          (graft.ext.TextOps.fingerprint(concat(lit(s"cm$j|"),
            col("user_id").cast("string"), lit("|graft"))) % 256).cast("string"))): _*))
        .as("k"))
    val data = new scala.util.Random(7).shuffle(
      keyed.collect().map(_.getString(0)).toSeq)
    val in = MemoryStream[String]
    val df = in.toDF().toDF("k").withColumn("one", lit(1L))
    val rows = new ConcurrentLinkedQueue[(String, Long, Long)]()
    val q = GraftStream.sumUpdates(df, "k", "one")
      .writeStream.outputMode("append")
      .foreachBatch((b: org.apache.spark.sql.Dataset[(String, Long, Long)], _: Long) => {
        b.collect().foreach(rows.add); ()
      })
      .start()
    data.grouped((data.length + 1) / 2).foreach { chunk =>
      in.addData(chunk: _*)
      q.processAllAvailable()
    }
    q.stop()
    val got = rows.toArray.map(_.asInstanceOf[(String, Long, Long)])
      .groupBy(_._1).map { case (k, vs) => k -> vs.maxBy(_._3)._2 }
    val batch = keyed.groupBy(col("k")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == batch, s"stream $got\nbatch $batch")
  }

  test("streaming as-of enrichment: time-ordered feed reproduces batch asOfNative matches") {
    // clicks (side 0, reference) + purchases (side 1, probe) fed in
    // three TIME-CONTIGUOUS chunks: per-key state is the latest
    // reference so far (AsOfJoinExec's O(1) merge state as keyed
    // state), and with no cross-chunk lateness the match set must
    // equal the native batch operator's exactly.
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val e = normalizeEventTs(spark.read.parquet(s"$dir/events.parquet"))
      .select(col("user_id"), col("event_type"), expr("ts div 1000").as("tus"))
    val feed = e.filter(col("event_type").isin("click", "purchase"))
      .select(col("user_id"),
        col("tus"),
        when(col("event_type") === "click", 0).otherwise(1).as("side"),
        col("tus").as("v"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
      .sortBy(r => (r._2, r._3))
    val in = MemoryStream[(Long, Long, Int, Long)]
    val df = in.toDF().toDF("k", "ts", "side", "v")
    val rows = new ConcurrentLinkedQueue[(Long, Long, Long, Long, Boolean)]()
    val q = GraftStream.asofUpdates(df, "k", "ts", "side", "v")
      .writeStream.outputMode("append")
      .foreachBatch((b: org.apache.spark.sql.Dataset[(Long, Long, Long, Long, Boolean)], _: Long) => {
        b.collect().foreach(rows.add); ()
      })
      .start()
    feed.grouped((feed.length + 2) / 3).foreach { chunk =>
      in.addData(chunk.toIndexedSeq: _*)
      q.processAllAvailable()
    }
    q.stop()
    val got = rows.toArray.map(_.asInstanceOf[(Long, Long, Long, Long, Boolean)])
      .map(r => (r._1, r._2, if (r._5) r._3 else -1L)).sorted.toSeq
    val batch = queries.EventQueries.eventsAsofNative(spark, dir)
      .select(col("user_id"), col("p_tus"), col("click_tus"))
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).sorted.toSeq
    graft.core.QueryCaches.release()
    assert(got.nonEmpty && got == batch,
      s"stream ${got.take(3)}... vs batch ${batch.take(3)}...")
  }

  test("streaming Space-Saving heavy hitters: bounded state honors the est/err/coverage guarantees") {
    // Corpus tokens in three shuffled chunks through capacity-16
    // tables in 8 hash groups. The Space-Saving contract vs the batch
    // exact counts: est >= true, est - err <= true, and every key with
    // true > N_group/cap must be present in its group's final table.
    implicit val sq = spark.sqlContext
    val toks = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(explode(graft.ext.TextOps.tokens(col("text"))).as("tok"))
    val withBucket = toks.select(col("tok"),
      pmod(xxhash64(col("tok")), lit(8L)).as("b"))
    val truth = withBucket.groupBy(col("b"), col("tok")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    val nPerBucket = truth.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val data = new scala.util.Random(5).shuffle(
      toks.collect().map(_.getString(0)).toSeq)
    val in = MemoryStream[String]
    val df = in.toDF().toDF("tok")
    val rows = new ConcurrentLinkedQueue[(Long, String, Long, Long, Long)]()
    val q = GraftStream.topkUpdates(df, "tok", buckets = 8, cap = 16)
      .writeStream.outputMode("append")
      .foreachBatch((b: org.apache.spark.sql.Dataset[(Long, String, Long, Long, Long)], _: Long) => {
        b.collect().foreach(rows.add); ()
      })
      .start()
    data.grouped((data.length + 2) / 3).foreach { chunk =>
      in.addData(chunk: _*)
      q.processAllAvailable()
    }
    q.stop()
    val all = rows.toArray.map(_.asInstanceOf[(Long, String, Long, Long, Long)])
    // latest emission per bucket = the rows carrying that bucket's max n_seen
    val finalTabs = all.groupBy(_._1).map { case (b, vs) =>
      val nMax = vs.map(_._5).max
      assert(nMax == nPerBucket(b), s"bucket $b must have seen all its rows")
      b -> vs.filter(_._5 == nMax).map(v => v._2 -> ((v._3, v._4))).toMap
    }
    finalTabs.foreach { case (b, tab) =>
      assert(tab.size <= 16, "state must stay capacity-bounded")
      tab.foreach { case (k, (est, err)) =>
        val tru = truth.getOrElse((b, k), 0L)
        assert(est >= tru, s"SS must never undercount: $b/$k est $est true $tru")
        assert(est - err <= tru, s"est-err is a lower bound: $b/$k $est-$err vs $tru")
      }
      // coverage: heavy keys cannot be evicted
      truth.filter { case ((bb, _), n) => bb == b && n * 16 > nPerBucket(b) }
        .foreach { case ((_, k), n) =>
          assert(tab.contains(k), s"heavy key $k (n=$n) missing from bucket $b table")
        }
    }
  }

  test("streaming Space-Saving heavy hitters: buckets or cap below 1 fails when the operator is built") {
    // cap = 0 would call minBy on an empty table at the first miss and
    // buckets = 0 is a pmod by zero: both would fail mid-trigger.
    implicit val sq = spark.sqlContext
    val df = MemoryStream[String].toDF().toDF("tok")
    for ((buckets, cap) <- Seq((0, 16), (8, 0), (-1, -1))) {
      val e = intercept[IllegalArgumentException](
        GraftStream.topkUpdates(df, "tok", buckets = buckets, cap = cap))
      assert(e.getMessage.contains(s"buckets=$buckets cap=$cap"), e.getMessage)
    }
  }

  test("streaming basket lift: summed deltas equal the batch sufficient statistics") {
    // liftUpdates emits first-occurrence deltas; their sums must equal
    // the batch events_lift ingredients (n_baskets, per-type marginals,
    // per-pair counts) at ANY trigger chunking — here three chunks cut
    // at arbitrary positions (emissions are chunking-invariant because
    // they key to first occurrences, not to time order).
    implicit val sq = spark.sqlContext
    val dir = "/root/testdata/sf0.01"
    val ev = graft.queries.Tables.loadEvents(spark, dir)
      .selectExpr("user_id", "(ts div 1000) div 86400000000 AS d", "event_type")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val in = MemoryStream[(Long, Long, String)]
    val rows = new ConcurrentLinkedQueue[(String, String, String)]()
    val q = GraftStream.liftUpdates(
      in.toDF().toDF("user_id", "d", "event_type"), "user_id", "d", "event_type")
      .writeStream.outputMode("append")
      .foreachBatch((b: org.apache.spark.sql.Dataset[(String, String, String)], _: Long) => {
        b.collect().foreach(rows.add); ()
      })
      .start()
    ev.grouped((ev.length + 2) / 3).foreach { chunk =>
      in.addData(chunk.toIndexedSeq: _*)
      q.processAllAvailable()
    }
    q.stop()
    val all = rows.toArray.map(_.asInstanceOf[(String, String, String)])
    val gotBaskets = all.count(_._1 == "basket").toLong
    val gotTypes = all.filter(_._1 == "type")
      .groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val gotPairs = all.filter(_._1 == "pair")
      .groupBy(v => (v._2, v._3)).view.mapValues(_.length.toLong).toMap
    val b = ev.map { case (u, d, t) => (u, d, t) }.distinct
    val truBaskets = b.map(v => (v._1, v._2)).distinct.length.toLong
    val truTypes = b.groupBy(_._3).view.mapValues(_.length.toLong).toMap
    val truPairs = b.groupBy(v => (v._1, v._2)).values.flatMap { basket =>
      val ts = basket.map(_._3).distinct.sorted
      for (i <- ts.indices; j <- (i + 1) until ts.length) yield (ts(i), ts(j))
    }.groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(gotBaskets == truBaskets, s"baskets $gotBaskets vs $truBaskets")
    assert(gotTypes == truTypes, "per-type marginals diverge")
    assert(gotPairs == truPairs, "per-pair counts diverge")
  }

  test("streaming RAG chunking: stateless chunkOf on a stream equals the batch text_chunk") {
    // chunkOf is pure column algebra — the same expression tree runs on
    // a stream (readStream → chunk → writeStream ingest); every chunk
    // row must match the batch relation regardless of trigger cuts.
    implicit val sq = spark.sqlContext
    val dir = "/root/testdata/sf0.01"
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "source", "text")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val in = MemoryStream[(Long, String, String)]
    val rows = new ConcurrentLinkedQueue[(Long, Long, Long)]()
    val q = graft.queries.TextQueries.chunkOf(
      in.toDF().toDF("doc_id", "source", "text"))
      .selectExpr("doc_id", "chunk_idx", "fp")
      .writeStream.outputMode("append")
      .foreachBatch((b: org.apache.spark.sql.DataFrame, _: Long) => {
        b.collect().foreach(r => rows.add((r.getLong(0), r.getLong(1), r.getLong(2)))); ()
      })
      .start()
    docs.grouped((docs.length + 1) / 2).foreach { chunk =>
      in.addData(chunk.toIndexedSeq: _*)
      q.processAllAvailable()
    }
    q.stop()
    val got = rows.toArray.map(_.asInstanceOf[(Long, Long, Long)]).toSet
    val batch = graft.queries.TextQueries.textChunk(spark, dir)
      .selectExpr("doc_id", "chunk_idx", "fp")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(batch.nonEmpty && got == batch,
      s"stream ${got.size} chunks vs batch ${batch.size}")
  }

  test("index-delta serving: per-batch PQ encode over a stream equals the one-shot batch encode") {
    // The sim_index_delta serving claim — "new data searchable
    // immediately, index rewritten on the maintenance cadence" —
    // rests on the delta ENCODE being stream-safe: pqEncode groups
    // only within (vec_id, s) and joins a static broadcast codebook,
    // so running it per micro-batch (foreachBatch, the lambda-arch
    // ingest shape) must produce exactly the one-shot batch code rows
    // regardless of how the delta is chunked.
    implicit val sq = spark.sqlContext
    import spark.implicits._
    def vec(seed: Long): Array[Float] =
      Array.tabulate(24)(j => ((seed * 31 + j * 17) % 100).toFloat / 10f)
    val all = (0L until 30L).map(i => (i, vec(i)))
    val corpus = all.toDF("vec_id", "embedding")
    val cb = graft.ext.SimOps.pqSeedCodebook(corpus, kCodes = 4, m = 8, sub = 3)
      .persist()
    val batch = graft.ext.SimOps.pqEncode(corpus, cb, m = 8, sub = 3)
      .collect().map(_.toSeq.toList).toSet
    val in = MemoryStream[(Long, Array[Float])]
    val rows = new ConcurrentLinkedQueue[List[Any]]()
    val q = in.toDF().toDF("vec_id", "embedding")
      .writeStream.outputMode("append")
      .foreachBatch((b: org.apache.spark.sql.DataFrame, _: Long) => {
        graft.ext.SimOps.pqEncode(b, cb, m = 8, sub = 3)
          .collect().foreach(r => rows.add(r.toSeq.toList)); ()
      })
      .start()
    all.grouped(7).foreach { chunk =>
      in.addData(chunk.toIndexedSeq: _*)
      q.processAllAvailable()
    }
    q.stop()
    cb.unpersist()
    val got = rows.toArray.map(_.asInstanceOf[List[Any]]).toSet
    assert(batch.nonEmpty && got == batch,
      s"stream ${got.size} code rows vs batch ${batch.size}")
  }
}


