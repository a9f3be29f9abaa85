package perfbench

import graft.sources.DocGenSource
import graft.streaming.GraftStream
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap

/** `stream`: incoming-data near-duplicate removal. Generated docs enter
  * a `MemoryStream`; one in 20 is a planted exact copy of a doc sent a
  * few batches earlier. `GraftStream.nearDupVerified` in exact mode (no
  * state TTL) feeds a `foreachBatch` sink that records when each pair
  * was committed. A closed-loop phase (next batch only after the last
  * one completes) gives throughput; an open-loop phase at a fixed rate
  * gives latency from each planted copy's due time. Both phases are
  * sized by work (batches, planted copies), not by `seconds`.
  *
  * Its figures move with the machine's load by more than the
  * benchmark's bounds allow (run-to-run spreads of 0.11 to 0.28), so
  * `BENCHMARK.json` does not list it: the traced `pipeline` run makes it
  * a probe (the `streaming` layer), and `--workload stream` runs it end
  * to end by hand. */
object StreamWorkload extends Workload {
  val ClosedBatch = 2000
  val ClosedBatches = 10
  val OpenRate = 2000.0 // docs per second, about half the closed-loop rate
  val RampSeconds = 4 // open-loop lead-in whose latencies are not sampled
  val OpenPlanted = 1000 // planted copies in the open-loop phase
  val TickMs = 20L
  val PlantShift = 1000000000000L
  val MaxLagDocs = 2500 // a copy is re-sent at most this many docs after its original

  /** One doc to send; `orig` >= 0 marks a planted copy of doc `orig`. */
  final case class Doc(id: Long, text: String, orig: Long)

  /** Docs of ids [from, ...) with their planted copies interleaved, until
    * `done` says enough were produced. Deterministic in (seed, from). */
  def docs(seed: Long, from: Long, done: (Int, Int) => Boolean): IndexedSeq[Doc] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Doc)]
    var id = from
    var planted = 0
    var pos = 0L
    while (!done(out.size, planted)) {
      val text = DocGenSource.textFor(id)
      out += ((pos * (MaxLagDocs + 1), Doc(id, text, -1)))
      if (Math.floorMod(mix(seed, id), 19L) == 0) {
        val lag = 1 + Math.floorMod(mix(seed + 1, id), MaxLagDocs.toLong)
        out += ((pos * (MaxLagDocs + 1) + lag * (MaxLagDocs + 1) + 1, Doc(id + PlantShift, text, id)))
        planted += 1
      }
      id += 1
      pos += 1
    }
    out.sortBy(_._1).map(_._2).toIndexedSeq
  }

  private def mix(seed: Long, id: Long): Long = {
    var z = id * 0x9e3779b97f4a7c15L + seed * 0xd1b54a32d192ed03L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  final class Prepared(val input: MemoryStream[(Long, String)], val query: StreamingQuery,
      val committed: ConcurrentHashMap[(Long, Long), java.lang.Long], val ckpt: Path)

  def offsetFor(seed: Long): Long = Math.floorMod(seed, 1000L) * 1000000L

  def setup(spark: SparkSession, seed: Long): Prepared = {
    import spark.implicits._
    implicit val sqlc: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val committed = new ConcurrentHashMap[(Long, Long), java.lang.Long]()
    val ckpt = Files.createDirectories(Paths.get(".bench_build", "stream")).toAbsolutePath
      .resolve(s"ckpt-${java.util.UUID.randomUUID()}")
    val query = GraftStream.nearDupVerified(input.toDF().toDF("doc_id", "text"), "doc_id", "text",
        k = 3, hashes = 16, bands = 2, threshold = 0.7, maxBucket = 8, stateTtl = "")
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt.toString)
      .foreachBatch { (b: Dataset[(Long, Long, Double)], _: Long) =>
        val pairs = b.collect()
        val now = System.nanoTime()
        pairs.foreach(p => committed.putIfAbsent((p._1, p._2), now))
      }
      .start()
    // warm-up: two closed-loop batches from an id range the run never uses
    val warm = docs(seed, offsetFor(seed) + 500000L, (n, _) => n >= 2 * ClosedBatch)
    warm.grouped(ClosedBatch).foreach { b =>
      input.addData(b.map(d => (d.id, d.text)): _*)
      query.processAllAvailable()
    }
    new Prepared(input, query, committed, ckpt)
  }

  override def close(p: Prepared): Unit = {
    p.query.stop()
    deleteTree(p.ckpt)
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))

  def measure(spark: SparkSession, p: Prepared, seed: Long, seconds: Int, t: Tracer): Outcome = {
    val offset = offsetFor(seed)
    val progress0 = t.progress.synchronized(t.progress.size) // events of the warm-up batches
    val closedDocs = docs(seed, offset, (n, _) => n >= ClosedBatches * ClosedBatch)
    val ramp = docs(seed, offset + 200000L, (n, _) => n >= OpenRate * RampSeconds)
    val openDocs = ramp ++ docs(seed, offset + 300000L, (_, planted) => planted >= OpenPlanted)

    // closed loop: the next batch is added only after the last completes
    val t0 = System.nanoTime()
    val batchS = t.span("streaming.closed") {
      closedDocs.grouped(ClosedBatch).map { b =>
        val b0 = System.nanoTime()
        p.input.addData(b.map(d => (d.id, d.text)): _*)
        p.query.processAllAvailable()
        (System.nanoTime() - b0) / 1e9
      }.toSeq
    }
    val sent = closedDocs.size

    // open loop: this thread is the one generator, adding the docs that
    // are due every tick; the batch cadence keeps settling for a few
    // seconds after the closed loop, so the lead-in's copies are checked
    // but not timed
    val due = new Array[Long](openDocs.size)
    var lateMax = 0L
    var backlogMax = 0L
    t.span("streaming.open") {
      val start = System.nanoTime() + TickMs * 1000000L
      var next = 0
      while (next < openDocs.size) {
        val now = System.nanoTime()
        var upto = next
        while (upto < openDocs.size && start + (upto * 1e9 / OpenRate).toLong <= now) {
          due(upto) = start + (upto * 1e9 / OpenRate).toLong
          upto += 1
        }
        if (upto > next) {
          p.input.addData(openDocs.slice(next, upto).map(d => (d.id, d.text)): _*)
          lateMax = math.max(lateMax, System.nanoTime() - due(next))
          next = upto
        }
        if (t.enabled) backlogMax = math.max(backlogMax, backlog(t, progress0, sent + next))
        Thread.sleep(TickMs)
      }
      p.query.processAllAvailable()
    }
    val wallS = (System.nanoTime() - t0) / 1e9

    val planted = closedDocs.filter(_.orig >= 0) ++ openDocs.filter(_.orig >= 0)
    val missing = planted.count(d => !p.committed.containsKey((d.orig, d.id)))
    if (missing > 0) System.err.println(s"[perfbench] stream: $missing of ${planted.size} planted pairs never emitted")
    val exc = p.query.exception
    exc.foreach(e => System.err.println(s"[perfbench] stream query failed: ${e.getMessage}"))
    val lat = (ramp.size until openDocs.size).filter(i => openDocs(i).orig >= 0).flatMap { i =>
      Option(p.committed.get((openDocs(i).orig, openDocs(i).id))).map(c => (c - due(i)) / 1e9)
    }

    val layer = if (!t.enabled) Map.empty[String, Double] else {
      val prog = t.progress.synchronized(t.progress.drop(progress0).toSeq).filter(_.numInputRows > 0)
      def ms(key: String) = Stats.median(prog.map(_.durationMs.getOrDefault(key, 0L).toDouble))
      val ops = prog.flatMap(_.stateOperators.headOption)
      Map(
        "streaming.batches" -> prog.size.toDouble,
        "streaming.batch_p50_ms" -> ms("triggerExecution"),
        "streaming.add_batch_ms" -> ms("addBatch"),
        "streaming.planning_ms" -> ms("queryPlanning"),
        "streaming.wal_commit_ms" -> ms("walCommit"),
        "streaming.state_rows" -> ops.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0),
        "streaming.state_mem_mb" -> ops.lastOption.map(_.memoryUsedBytes / 1048576.0).getOrElse(0.0),
        "streaming.state_commit_ms" -> Stats.median(ops.map(_.commitTimeMs.toDouble)),
        "streaming.backlog_max" -> backlogMax.toDouble,
        "streaming.gen_late_ms" -> lateMax / 1e6)
    }
    Outcome(attempted = planted.size + 1, failed = missing + (if (exc.isDefined) 1 else 0),
      itemsPerS = ClosedBatch / Stats.median(batchS), windowS = wallS, latencies = Seq(if (lat.isEmpty) Seq(wallS) else lat),
      passes = 1, layer = layer)
  }

  /** The whole workload as a probe of another workload's traced run:
    * the `streaming.*` layer metrics plus the stream's throughput and
    * latency, and the planted pairs attempted and missed. */
  def probe(spark: SparkSession, seed: Long, t: Tracer): (Map[String, Double], Long, Long) =
    t.probe("streaming") {
      val p = setup(spark, seed)
      val o = try measure(spark, p, seed, 0, t) finally close(p)
      (o.layer ++ Map(
        "streaming.items_per_s" -> o.itemsPerS,
        "streaming.lat_p50_s" -> Stats.medianPercentile(o.latencies, 0.5),
        "streaming.lat_p99_s" -> Stats.medianPercentile(o.latencies, 0.99)), o.attempted, o.failed)
    }

  /** Docs added but not yet taken into a batch, from the progress events
    * delivered so far. */
  private def backlog(t: Tracer, progress0: Int, added: Long): Long = {
    val consumed = t.progress.synchronized(t.progress.drop(progress0).map(_.numInputRows).sum)
    added - consumed
  }
}
