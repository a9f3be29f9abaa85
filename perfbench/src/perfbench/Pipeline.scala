package perfbench

import graft.core.GraftStage
import graft.sources.DocGenSource
import org.apache.spark.sql.{Dataset, SparkSession}

import java.util.concurrent.{Executors, ThreadFactory, TimeUnit}
import java.util.concurrent.atomic.LongAccumulator
import scala.concurrent.{Await, Future, Promise}
import scala.concurrent.duration.Duration

/** Simulated IO for `pipeline`: each request is answered after a seeded
  * 0–3 ms delay (the reference server's `randint(0, 3)`) by the one
  * timer thread of this JVM — no thread per request. Records the span
  * from the first request to the last answer, for the busy ratio. */
object SimulatedIo {
  private val timer = Executors.newSingleThreadScheduledExecutor(new ThreadFactory {
    def newThread(r: Runnable): Thread = {
      val t = new Thread(r, "perfbench-io-timer")
      t.setDaemon(true)
      t
    }
  })
  val firstRequest = new LongAccumulator((a, b) => math.min(a, b), Long.MaxValue)
  val lastAnswer = new LongAccumulator((a, b) => math.max(a, b), Long.MinValue)

  def reset(): Unit = { firstRequest.reset(); lastAnswer.reset() }

  def delayMs(seed: Long, id: Long): Int = {
    var z = id * 0x9e3779b97f4a7c15L + seed
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    Math.floorMod(z ^ (z >>> 31), 4L).toInt
  }

  /** The answer for `id`, paired with the request's issue time
    * (`System.nanoTime`; `local[4]` runs every task in this JVM, so the
    * driver can time the answer's chunks against it). */
  def fetch(seed: Long, id: Long): Future[(Long, String)] = {
    val issued = System.nanoTime()
    firstRequest.accumulate(issued)
    val p = Promise[(Long, String)]()
    timer.schedule(new Runnable {
      def run(): Unit = {
        p.success((issued, DocGenSource.textFor(id)))
        lastAnswer.accumulate(System.nanoTime())
      }
    }, delayMs(seed, id).toLong, TimeUnit.MILLISECONDS)
    p.future
  }
}

/** `pipeline`: pypeln's own workload on the `GraftStage` DSL. Ids go
  * through `mapAsync` (simulated IO), are cut into 5-token chunks,
  * filtered, mapped to (length, fingerprint), put back in creation order
  * and drained to the driver, where an order-sensitive checksum is
  * compared with the same functions run in plain Scala. */
object PipelineWorkload extends Workload {
  val N = 25000L
  val WarmupPasses = 2
  val Workers = 64
  val Partitions = 4

  final case class Prepared(ids: Dataset[Long], offset: Long)

  /** One timed pass: its wall, whether its checksum matched, the span
    * from its first request to its last answer, and the latency of each
    * drained chunk: from the issue of its id's request to the moment the
    * driver takes it from the stage. */
  final case class Pass(wall: Double, ok: Boolean, asyncNs: Long, latencies: Seq[Double])

  def offsetFor(seed: Long): Long = Math.floorMod(seed, 1000L) * N

  def chunks(text: String): Iterator[String] =
    text.split(' ').iterator.grouped(5).map(_.mkString(" "))
  def keep(chunk: String): Boolean = chunk.count(_ == ' ') == 4
  def fingerprint(chunk: String): (Int, Int) =
    (chunk.length, scala.util.hashing.MurmurHash3.stringHash(chunk))

  /** Order-sensitive checksum of a drained stream. */
  final class Checksum {
    var h = 17L
    var n = 0L
    def add(v: (Int, Int)): Unit = { h = h * 1000003L + v._1 * 31L + v._2; n += 1 }
  }

  /** The same functions over the same ids, in plain Scala. */
  def expected(offset: Long, n: Long): Checksum = {
    val c = new Checksum
    var id = offset
    while (id < offset + n) {
      chunks(DocGenSource.textFor(id)).filter(keep).foreach(ch => c.add(fingerprint(ch)))
      id += 1
    }
    c
  }

  private def ids(spark: SparkSession, offset: Long, n: Long): Dataset[Long] = {
    import spark.implicits._
    spark.range(offset, offset + n, 1, Partitions).as[Long]
  }

  private def stage(spark: SparkSession, ds: Dataset[Long], seed: Long, ordered: Boolean,
      t: Tracer): Iterator[(Long, (Int, Int))] = {
    import spark.implicits._
    val s = GraftStage.fromDataset(ds)
      .mapAsync(id => SimulatedIo.fetch(seed, id), workers = Workers)
      .flatMap { case (issued, text) => chunks(text).map(issued -> _) }
      .filter(a => keep(a._2))
      .map { case (issued, chunk) => issued -> fingerprint(chunk) }
    if (ordered) t.span("core.index")(s.ordered).toIterable else s.toIterable
  }

  /** Drains a stage into a checksum; returns it with each chunk's
    * latency in seconds. */
  private def drain(it: Iterator[(Long, (Int, Int))], t: Tracer): (Checksum, Seq[Double]) = t.span("core.drain") {
    val c = new Checksum
    val latencies = new scala.collection.mutable.ArrayBuilder.ofDouble
    it.foreach { case (issued, v) =>
      latencies += (System.nanoTime() - issued) / 1e9
      c.add(v)
    }
    (c, scala.collection.immutable.ArraySeq.unsafeWrapArray(latencies.result()))
  }

  /** The same functions as one raw `Dataset.mapPartitions` pass. The ids
    * are range-partitioned in order, so `collect` returns the output in
    * creation order with every partition running at once. */
  private def raw(spark: SparkSession, ds: Dataset[Long], seed: Long): Checksum = {
    import spark.implicits._
    val out = ds.mapPartitions { it =>
      val window = scala.collection.mutable.Queue.empty[Future[(Long, String)]]
      new Iterator[(Long, String)] {
        def hasNext: Boolean = { while (window.size < Workers && it.hasNext) window.enqueue(SimulatedIo.fetch(seed, it.next())); window.nonEmpty }
        def next(): (Long, String) = { hasNext; Await.result(window.dequeue(), Duration.Inf) }
      }.flatMap(a => chunks(a._2)).filter(keep).map(fingerprint)
    }
    val c = new Checksum
    out.collect().foreach(c.add)
    c
  }

  def setup(spark: SparkSession, seed: Long): Prepared = {
    val offset = offsetFor(seed)
    val ds = ids(spark, offset, N).cache()
    val off = new Tracer(spark, false, "")
    (1 to WarmupPasses).foreach(_ => drain(stage(spark, ds, seed, ordered = true, off), off))
    Prepared(ds, offset)
  }

  def measure(spark: SparkSession, p: Prepared, seed: Long, seconds: Int, t: Tracer): Outcome = {
    val want = expected(p.offset, N)
    val drops0 = GraftStage.asyncDroppedCount
    val passes = scala.collection.mutable.ArrayBuffer.empty[Pass]
    val t0 = System.nanoTime()
    while (passes.isEmpty || System.nanoTime() - t0 < seconds * 1000000000L) {
      SimulatedIo.reset()
      val s0 = System.nanoTime()
      val (got, latencies) = t.span("core.pipeline")(drain(stage(spark, p.ids, seed, ordered = true, t), t))
      val wall = (System.nanoTime() - s0) / 1e9
      passes += Pass(wall, got.h == want.h && got.n == want.n,
        SimulatedIo.lastAnswer.get() - SimulatedIo.firstRequest.get(), latencies)
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    val dropped = GraftStage.asyncDroppedCount - drops0
    var mismatched = passes.count(!_.ok)
    var probeAttempted = 0L

    val layer = if (!t.enabled) Map.empty[String, Double] else {
      val delaySum = (p.offset until p.offset + N).map(id => SimulatedIo.delayMs(seed, id).toLong).sum / 1e3
      val asyncWall = Stats.median(passes.map(_.asyncNs / 1e9).toSeq)
      // range-partitioned ids keep creation order without `ordered` too,
      // so both probes must match the same checksum
      def probe(name: String)(run: => Checksum): Double = t.probe(name) {
        val s0 = System.nanoTime()
        val c = run
        if (c.h != want.h || c.n != want.n) {
          System.err.println(s"[perfbench] $name pass disagrees with the plain-Scala checksum")
          mismatched += 1
        }
        (System.nanoTime() - s0) / 1e9
      }
      val unordered = probe("core.unordered")(drain(stage(spark, p.ids, seed, ordered = false, t), t)._1)
      val rawWall = probe("core.raw")(raw(spark, p.ids, seed))
      val (streaming, streamAttempted, streamFailed) = StreamWorkload.probe(spark, seed, t)
      probeAttempted += streamAttempted
      mismatched += streamFailed.toInt
      val passWall = Stats.median(passes.map(_.wall).toSeq)
      val timed = t.named("core.pipeline").map(_.id).toSet
      val drains = t.named("core.drain").filter(d => timed.contains(d.parent))
      streaming ++ Map(
        "core.jobs" -> t.jobsUnder(Seq("core.pipeline")).toDouble / passes.size,
        "core.ordered_s" -> (passWall - unordered),
        "core.drain_s" -> drains.map(d => t.driverGapSeconds(d.start, d.end)).sum / passes.size,
        "core.async_busy_ratio" -> delaySum / (Workers * Partitions * asyncWall),
        "core.async_dropped" -> dropped.toDouble,
        "core.dsl_overhead_x" -> passWall / rawWall)
    }
    Outcome(attempted = N * (passes.size + (if (t.enabled) 2 else 0)) + probeAttempted, failed = dropped + mismatched,
      itemsPerS = N / Stats.median(passes.map(_.wall).toSeq), windowS = wallS, latencies = passes.map(_.latencies).toSeq,
      passes = passes.size, layer = layer)
  }
}
