package graft

import graft.core.{Element, GraftStage, WorkerInfo}
import graft.core.GraftImplicits._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import java.util.concurrent.atomic.AtomicInteger
import scala.concurrent.duration._
import scala.concurrent.{Await, ExecutionContext, Future, Promise}

/** Shared mutable counters for lifecycle/side-effect assertions. Hooks
  * run on executor threads — same JVM under local[*], so statics are
  * visible (the reference asserts the same way via namespaces,
  * map_process_test.py:47-61). */
object Counters {
  val started = new AtomicInteger(0)
  val done = new AtomicInteger(0)
  val effects = new AtomicInteger(0)
  def reset(): Unit = { started.set(0); done.set(0); effects.set(0) }
}

final class GraftUserError(msg: String) extends RuntimeException(msg)

final case class KV(k: Long, s: String)

/** Operator tests vs Scala-collection oracles, mirroring the reference's
  * property tests (pypeln/process/api/map_process_test.py:14-42) and
  * feature tests (:47-61 hooks, :63-76 timeout, :168-183 errors). */
class GraftStageSpec extends AnyFunSuite {

  implicit lazy val spark: SparkSession = TestSpark.spark
  import spark.implicits._

  // Hypothesis-style example sets (MAX_EXAMPLES=10 in the reference).
  private val examples: Seq[Seq[Int]] = Seq(
    Seq.empty, Seq(0), Seq(1, 2, 3), (0 until 50).toSeq,
    Seq(-5, 5, -5, 5), (0 until 97).map(i => i * i % 13),
    Seq(Int.MaxValue, Int.MinValue, 0), (1 to 10).toSeq,
    Seq(7, 7, 7, 7, 7), (0 until 31).map(_ - 15))

  test("map: identity and square vs Seq oracle (multiset)") {
    for (xs <- examples) {
      val got = xs.toStage.map(x => x * x).collectValues()
      assert(got.sorted == xs.map(x => x * x).sorted)
    }
  }

  test("map: ordered restores creation order exactly") {
    for (xs <- examples) {
      val got = xs.toStage.map(x => x + 1).ordered.collectValues()
      assert(got == xs.map(_ + 1))
    }
  }

  test("filter: lambda predicate vs Seq oracle") {
    for (xs <- examples) {
      val got = xs.toStage.filter(_ % 2 == 0).ordered.collectValues()
      assert(got == xs.filter(_ % 2 == 0))
    }
  }

  test("flatMap: child order is parent-then-position") {
    for (xs <- examples) {
      val got = xs.toStage.flatMap(x => Seq(x, x * 10, x * 100)).ordered.collectValues()
      assert(got == xs.flatMap(x => Seq(x, x * 10, x * 100)))
    }
  }

  test("flatMap: empty and variable-width expansions") {
    val f = (x: Int) => Seq.fill(x % 3)(x)
    for (xs <- examples) {
      val got = xs.toStage.flatMap(f).ordered.collectValues()
      assert(got == xs.flatMap(f))
    }
  }

  test("concat: union-all multiset of branches") {
    val a = Seq(1, 2, 3, 4, 5)
    val b = Seq(10, 20, 30)
    val got = a.toStage.concat(b.toStage).collectValues()
    assert(got.sorted == (a ++ b).sorted)
  }

  /** The reference SYNC backend's interleave (sync/stage.py:36-47):
    * one element per live queue per cycle, exhausted queues removed. */
  private def rrOracle[A](ss: Seq[A]*): Seq[A] = {
    val bufs = ss.map(s => scala.collection.mutable.Queue(s: _*))
    val out = scala.collection.mutable.ArrayBuffer[A]()
    var live = bufs.filter(_.nonEmpty)
    while (live.nonEmpty) {
      live.foreach(q => out += q.dequeue())
      live = live.filter(_.nonEmpty)
    }
    out.toSeq
  }

  test("concatRoundRobin: sync-backend interleave, exhausted stages drop out (sync/api/concat.py:21)") {
    // the reference's doc example: [1,2,3] ++ [4,5,6,7] -> 1,4,2,5,3,6,7
    assert(Seq(1, 2, 3).toStage.concatRoundRobin(Seq(4, 5, 6, 7).toStage)
      .toIterable.toSeq == Seq(1, 4, 2, 5, 3, 6, 7))
    // three stages, uneven lengths, one empty
    val (a, b, c) = ((0 until 9).toSeq, Seq(100, 101), Seq.empty[Int])
    assert(a.toStage.concatRoundRobin(b.toStage, c.toStage)
      .toIterable.toSeq == rrOracle(a, b, c))
    // upstream operators feed it in each stage's creation order
    val got = a.toStage.map(_ * 2).concatRoundRobin(b.toStage.filter(_ % 2 == 0))
      .toIterable.toSeq
    assert(got == rrOracle(a.map(_ * 2), b.filter(_ % 2 == 0)))
  }

  test("Partial: argless currying sugar — reusable, composable, pipes with |> (utils.py:87-98)") {
    import graft.core.Graft
    val pipeline = Graft.map[Int, Int](_ * 2) |> Graft.filter(_ % 3 != 0)
    val xs = (0 until 100).toSeq
    val ys = Seq(7, 8, 9)
    val oracle = (s: Seq[Int]) => s.map(_ * 2).filter(_ % 3 != 0)
    // the SAME partial applies to two different stages (reusability)
    assert((xs.toStage |> pipeline).ordered.collectValues() == oracle(xs))
    assert((ys.toStage |> pipeline).ordered.collectValues() == oracle(ys))
    // chaining beyond the partial keeps working
    val chained = ys.toStage |> pipeline |> Graft.flatMap[Int, Int](x => Seq(x, -x))
    assert(chained.ordered.collectValues() == oracle(ys).flatMap(x => Seq(x, -x)))
  }

  test("pipeline: map |> filter |> ordered round trip (README.md:46-52)") {
    val xs = (0 until 1000).toSeq
    val got = xs.toStage
      .|>(_.map(x => x * 2 + 1))
      .|>(_.filter(_ % 7 != 0))
      .ordered.collectValues()
    assert(got == xs.map(_ * 2 + 1).filter(_ % 7 != 0))
  }

  test("toIterable: local iterator yields all values; WithIndex carries index") {
    val xs = Seq(5, 6, 7, 8)
    assert(xs.toStage.toIterable.toSeq.sorted == xs.sorted)
    val els = xs.toStage.toIterableWithIndex.toSeq.sortBy(_.index)(Element.indexOrdering)
    assert(els.map(_.value) == xs)
    assert(els.map(_.index) == xs.indices.map(i => Seq(i.toLong)))
  }

  test("index fidelity: filter keeps original indices of survivors") {
    val xs = (0 until 20).toSeq
    val els = xs.toStage.filter(_ % 3 == 0).toIterableWithIndex.toSeq
      .sortBy(_.index)(Element.indexOrdering)
    assert(els.map(_.index.head) == (0 until 20 by 3).map(_.toLong))
  }

  test("index fidelity: flatMap extends index by child position") {
    val els = Seq(10, 20).toStage.flatMap(x => Seq(x + 1, x + 2))
      .toIterableWithIndex.toSeq.sortBy(_.index)(Element.indexOrdering)
    assert(els.map(_.index) == Seq(Seq(0L, 0L), Seq(0L, 1L), Seq(1L, 0L), Seq(1L, 1L)))
    assert(els.map(_.value) == Seq(11, 12, 21, 22))
  }

  test("mapEx: timeout drops the hung element, keeps the rest (map_process_test.py:63-76)") {
    val xs = (0 until 10).toSeq
    val got = xs.toStage
      .mapEx[Null, Int]((x, _) => { if (x == 3) Thread.sleep(60000); x }, timeout = 500.millis)
      .collectValues()
    assert(got.sorted == xs.filterNot(_ == 3))
  }

  test("timeout thread hygiene: interrupted elements return their threads; abandoned count drains to zero") {
    // Many timed-out elements whose code HONORS interruption: every
    // scratch thread is reclaimed, so the pool stays at ≈ the number of
    // concurrently evaluating elements and the abandoned counter ends
    // at its pre-test level (the reference analog: the supervisor's
    // worker restart, process/supervisor.py:19-32).
    val before = core.GraftStage.abandonedCount.get()
    val got = (0 until 100).toSeq.toStage
      .mapEx[Null, Int]((x, _) => { if (x % 2 == 0) Thread.sleep(60000); x },
        workers = 4, timeout = 100.millis)
      .collectValues()
    assert(got.sorted == (0 until 100).filter(_ % 2 == 1))
    // interrupt delivery is immediate for Thread.sleep; give the finally
    // blocks a beat to run
    val deadline = System.nanoTime() + 5000000000L
    while (core.GraftStage.abandonedCount.get() > before && System.nanoTime() < deadline)
      Thread.sleep(50)
    assert(core.GraftStage.abandonedCount.get() <= before,
      s"abandoned count must drain, still ${core.GraftStage.abandonedCount.get()}")
    val live = Thread.getAllStackTraces.keySet.toArray.count {
      case t: Thread => t.getName.startsWith("graft-timeout") && t.isAlive
      case _ => false
    }
    assert(live <= 64, s"$live live graft-timeout threads after 50 interrupts")
  }

  test("timeout thread hygiene: non-interruptible hangs hit the abandoned bound with a clear error") {
    // User code that IGNORES the interrupt: each timed-out element
    // permanently (here: for 8 s) occupies a scratch thread. Past the
    // graft.timeout.maxAbandoned bound the next timed element must fail
    // fast with a diagnosis, not let the JVM accrete hung threads — the
    // bounded-resource analog of pypeln's kill-and-restart reclamation
    // (process/worker.py:152-161).
    val prop = "graft.timeout.maxAbandoned"
    val old = System.getProperty(prop)
    System.setProperty(prop, "4")
    try {
      val e = intercept[IllegalStateException] {
        (0 until 10).toSeq.toStage
          .mapEx[Null, Int]((x, _) => {
            val end = System.nanoTime() + 8000000000L
            while (System.nanoTime() < end)
              try Thread.sleep(100) catch { case _: InterruptedException => () }
            x
          }, workers = 1, timeout = 50.millis)
          .collectValues()
      }
      assert(e.getMessage.contains("abandoned"), e.getMessage)
      assert(e.getMessage.contains(prop), e.getMessage)
    } finally {
      if (old == null) System.clearProperty(prop) else System.setProperty(prop, old)
      // drain: the 8 s hangs exit on their own; don't leak elevated
      // abandoned counts into later suites
      val deadline = System.nanoTime() + 15000000000L
      while (core.GraftStage.abandonedCount.get() > 0 && System.nanoTime() < deadline)
        Thread.sleep(100)
      assert(core.GraftStage.abandonedCount.get() == 0)
    }
  }

  test("mapEx: onStart/onDone fire once per worker; state reaches f") {
    Counters.reset()
    val got = (0 until 40).toSeq.toStage
      .mapEx[Int, Int](
        (x, s) => x + s,
        workers = 3,
        onStart = (wi: WorkerInfo) => { Counters.started.incrementAndGet(); assert(wi.numWorkers == 3); 1000 },
        onDone = (_: Int) => Counters.done.incrementAndGet())
      .collectValues()
    assert(got.sorted == (0 until 40).map(_ + 1000).sorted)
    assert(Counters.started.get() == 3)
    assert(Counters.done.get() == 3)
  }

  test("error propagation: the ORIGINAL exception type reaches the caller (map_process_test.py:168-183)") {
    val st = Seq(1, 2, 3).toStage.map { x =>
      if (x == 2) throw new GraftUserError("boom"); x
    }
    val e = intercept[GraftUserError] { st.run() }
    assert(e.getMessage == "boom")
    intercept[GraftUserError] { st.collectValues() }
  }

  test("error propagation: the REMOTE stack frames survive the rethrow (utils.py:21-39)") {
    // The reference embeds the worker's formatted traceback in
    // PipelineException; Spark serializes the executor-side stack into
    // the exception it ships back, and GraftErrors rethrows the
    // original — so the frames of the USER lambda (this test's closure,
    // running inside a task) must still be on the caught exception's
    // stack trace, not replaced by driver-side unwrap frames.
    def failingUserLambda(x: Int): Int =
      if (x == 2) throw new GraftUserError("remote") else x
    val e = intercept[GraftUserError] {
      Seq(1, 2, 3).toStage.map(failingUserLambda).collectValues()
    }
    val frames = e.getStackTrace.map(f => s"${f.getClassName}.${f.getMethodName}")
    assert(frames.exists(_.contains("failingUserLambda")),
      s"remote user frame lost; got:\n${frames.take(10).mkString("\n")}")
    // and the executor machinery frames prove it is the REMOTE stack,
    // not a driver-side re-creation
    assert(frames.exists(_.startsWith("org.apache.spark.")),
      s"expected executor frames on the remote stack:\n${frames.take(10).mkString("\n")}")
  }

  test("mapAsync: bounded async window preserves values; per-partition submission order") {
    // The EC is referenced statically inside the lambda: GraftStage.asyncEc
    // resolves executor-side (a captured driver EC is not serializable).
    val xs = (0 until 200).toSeq
    val got = xs.toStage
      .mapAsync(x => Future(x * 3)(GraftStage.asyncEc), workers = 16)
      .ordered.collectValues()
    assert(got == xs.map(_ * 3))
  }

  test("mapAsync: timeout drops the never-completing element") {
    val got = (0 until 10).toSeq.toStage
      .mapAsync(
        x => if (x == 4) Promise[Int]().future else Future.successful(x),
        workers = 4, timeout = 500.millis)
      .collectValues()
    assert(got.sorted == (0 until 10).filterNot(_ == 4))
  }

  test("each + run: side effect fires exactly once per element when cached (deliver-once)") {
    Counters.reset()
    val st = (0 until 25).toSeq.toStage.each(_ => Counters.effects.incrementAndGet()).cached
    st.run()
    assert(Counters.effects.get() == 25)
    st.collectValues() // re-read must NOT re-fire effects
    assert(Counters.effects.get() == 25)
  }

  test("eachRun: terminal exactly-once delivery without lineage") {
    Counters.reset()
    (0 until 30).toSeq.toStage.eachRun(_ => Counters.effects.incrementAndGet())
    assert(Counters.effects.get() == 30)
  }

  test("filterCol: Catalyst filter agrees with lambda filter on both plans") {
    // filterCol addresses payload fields by ENCODER field names (case
    // class fields) — the names present on both the plain and the
    // flattened indexed plan.
    val ds = spark.createDataset((0 until 100).map(i => KV(i.toLong, s"s$i")))
    val st = GraftStage.fromDataset(ds).filterCol(col("k") > 90)
    assert(st.collectValues().map(_.k).sorted == (91L until 100L).toSeq)
    val viaIndexed = st.toIterableWithIndex.toSeq.map(_.value.k).sorted
    assert(viaIndexed == (91L until 100L).toSeq)
  }

  test("workers: mapEx repartitions to n partitions") {
    val st = (0 until 64).toSeq.toStage.mapEx[Null, Int]((x, _) => x, workers = 7)
    assert(st.plain.rdd.getNumPartitions == 7)
  }

  test("fan-out: one cached source feeds two branches (stage reuse)") {
    val src = (0 until 50).toSeq.toStage.cached
    val evens = src.filter(_ % 2 == 0).collectValues().sorted
    val odds = src.filter(_ % 2 == 1).collectValues().sorted
    assert(evens == (0 until 50 by 2) && odds == (1 until 50 by 2))
  }

  test("mapAsync: IO latency overlaps inside the bounded window (task-backend throughput)") {
    // The reference's signature workload is wide async IO
    // (benchmarks/100_million_downloads: workers=1000 overlapping
    // request latency). 64 elements x 50ms simulated IO = 3.2s serial;
    // a 16-wide window per partition must land far under that.
    import scala.concurrent.Future
    val xs = (0 until 64).toList
    val t0 = System.nanoTime()
    val got = xs.toStage
      .mapAsync(x => Future { Thread.sleep(50); x * 2 }(GraftStage.asyncEc), workers = 16)
      .collectValues().sorted
    val secs = (System.nanoTime() - t0) / 1e9
    assert(got == xs.map(_ * 2))
    assert(secs < 2.0, f"async window must overlap IO: $secs%.2f s vs 3.2 s serial")
  }

  test("stage_status: census shows active workers mid-run, empty when idle (worker.py:103-117)") {
    // A watcher thread polls the driver-side census while a slow stage
    // runs; it must observe >=1 active worker, and after the action the
    // census must drain to empty.
    val observed = new java.util.concurrent.atomic.AtomicInteger(0)
    val st = (0 until 8).toSeq.toStage
      .mapEx[Null, Int]((x, _) => { Thread.sleep(300); x }, workers = 4)
    val watcher = new Thread(() => {
      (0 until 40).foreach { _ =>
        val ss = GraftStage.stageStatus(spark)
        if (ss.exists(_.activeWorkers > 0))
          observed.updateAndGet(m => math.max(m, ss.map(_.activeWorkers).max))
        Thread.sleep(25)
      }
    })
    watcher.start()
    st.run()
    watcher.join()
    assert(observed.get() >= 1, "watcher never saw an active worker")
    assert(GraftStage.stageStatus(spark).isEmpty, "census must drain when idle")
  }

  test("mapAsync: the DEFAULT timeout is finite — a hung Future cannot wedge the default config") {
    // Round-3 finding: Duration.Inf default let one unresponsive
    // service stall a partition forever. The default bound must be
    // finite; drop-on-expiry behavior under a bound is covered by the
    // explicit-timeout test above (same code path — the default is just
    // the parameter's value).
    assert(GraftStage.DefaultAsyncTimeout.isFinite,
      "DefaultAsyncTimeout must be a finite bound")
    assert(GraftStage.DefaultAsyncTimeout.toSeconds <= 300)
  }

  test("toFutureSeq: awaitable stage — `await stage` gathers values (task/stage.py:105-115)") {
    implicit val ec: scala.concurrent.ExecutionContext = GraftStage.asyncEc
    val fut = (0 until 30).toSeq.toStage.map(_ * 2).toFutureSeq
    assert(Await.result(fut, 60.seconds).sorted == (0 until 30).map(_ * 2))
  }

  test("toAsyncIterator: async-pull consumption without blocking the caller per element (to_iterable.py:62-101)") {
    implicit val ec: scala.concurrent.ExecutionContext = GraftStage.asyncEc
    val it = (0 until 50).toSeq.toStage.map(_ + 1).toAsyncIterator(maxsize = 8)
    // Consume purely via Future continuations — the ONLY blocking wait
    // is the single terminal Await on the aggregate future.
    val all = Await.result(it.toSeq, 60.seconds)
    assert(all.sorted == (1 to 50))
    // exhausted iterator keeps yielding None
    assert(Await.result(it.next(), 10.seconds).isEmpty)
  }

  test("toAsyncIterator: pipeline failure fails the Future with the ORIGINAL exception type") {
    val it = Seq(1, 2, 3).toStage
      .map { x => if (x == 2) throw new GraftUserError("async-boom"); x }
      .toAsyncIterator()
    val e = intercept[GraftUserError] { Await.result(it.toSeq, 60.seconds) }
    assert(e.getMessage == "async-boom")
  }

  test("fromAsyncIterator: async source round-trips through the pipeline in order (task/api/from_iterable.py:14-80)") {
    implicit val ec: ExecutionContext = GraftStage.asyncEc
    val n = new AtomicInteger(0)
    val src = () => Future {
      val i = n.getAndIncrement()
      if (i < 40) Some(i) else None
    }
    val got = GraftStage.fromAsyncIterator(src, maxsize = 8)
      .map(_ * 2).ordered.collectValues()
    assert(got == (0 until 40).map(_ * 2))
  }

  test("fromAsyncIterator pump: producer blocks at maxsize until the consumer drains") {
    implicit val ec: ExecutionContext = GraftStage.asyncEc
    val produced = new AtomicInteger(0)
    val src = () => Future {
      val i = produced.incrementAndGet()
      if (i <= 1000) Some(i) else None
    }
    val it = new GraftStage.AsyncSourceIterator[Int](src, maxsize = 4)
    // un-consumed: the pump may hold queue(4) + 1 blocked in put + 1
    // in-flight await — but must NOT run the producer to exhaustion
    val deadline = System.nanoTime() + 2_000_000_000L
    while (produced.get() < 5 && System.nanoTime() < deadline) Thread.sleep(10)
    Thread.sleep(200) // give a runaway pump time to overrun if it would
    val stalled = produced.get()
    assert(stalled <= 4 + 2, s"producer ran $stalled elements ahead of an idle consumer")
    // draining releases the backpressure and yields every element in order
    assert(it.toList == (1 to 1000).toList)
    assert(produced.get() == 1001) // 1000 values + the terminal None pull
  }

  test("fromAsyncIterator: a failed producer Future surfaces with the ORIGINAL exception") {
    implicit val ec: ExecutionContext = GraftStage.asyncEc
    val n = new AtomicInteger(0)
    val src = () => Future[Option[Int]] {
      val i = n.getAndIncrement()
      if (i == 3) throw new GraftUserError("source-boom")
      Some(i)
    }
    val e = intercept[GraftUserError] {
      new GraftStage.AsyncSourceIterator[Int](src, maxsize = 8).toList
    }
    assert(e.getMessage == "source-boom")
  }

  test("async bridges pass null elements: fromAsyncIterator and toAsyncIterator round-trip \"a\", null, \"c\"") {
    val xs = Seq("a", null, "c")
    val it = xs.iterator
    val src = () => Future.successful(if (it.hasNext) Some(it.next()) else None)
    val back = GraftStage.fromAsyncIterator(src, maxsize = 2).toAsyncIterator(maxsize = 2)
    assert(Await.result(back.toSeq, 60.seconds) == xs)
  }
}
