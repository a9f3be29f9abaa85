package graft

import graft.core.{Element, GraftStage, PrefixScan, QueryCaches, WorkerInfo}
import graft.core.GraftImplicits._
import org.apache.spark.TaskContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd, StageInfo}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SortExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.util.LongAccumulator
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

/** One call counter per user function of [[GraftStageSpec]]'s
  * exactly-once chain. */
final case class Calls(each: LongAccumulator, map: LongAccumulator, async: LongAccumulator,
    filter: LongAccumulator, flatMap: LongAccumulator) {
  def all: Seq[Long] = Seq(each, map, async, filter, flatMap).map(_.sum)
}

/** The jobs a SparkContext ran, as its listener bus reports them: each
  * job's local properties and stages, and which stages ran result
  * tasks. A RangePartitioner's bounds come from a sampling job: a result
  * stage that computes an Exchange's input (an Exchange-scoped
  * MapPartitionsRDD), which no other job has. */
final class JobLog extends SparkListener {
  private val started = scala.collection.mutable.Map.empty[Int, (java.util.Properties, Seq[StageInfo])]
  private val ended = scala.collection.mutable.Set.empty[Int]
  private val resultStages = scala.collection.mutable.Set.empty[Int]
  override def onJobStart(e: SparkListenerJobStart): Unit =
    synchronized(started(e.jobId) = (e.properties, e.stageInfos))
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized(ended += e.jobId)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    synchronized(if (e.taskType == "ResultTask") resultStages += e.stageId)

  /** Waits until every started job has ended and no new job came for
    * a few polls (listener events arrive asynchronously). */
  def settle(): Unit = {
    val deadline = System.nanoTime() + 30000000000L
    var quiet = 0
    var last = -1
    while (quiet < 3 && System.nanoTime() < deadline) {
      Thread.sleep(100)
      val (n, done) = synchronized((started.size, started.keySet.subsetOf(ended)))
      if (done && n == last) quiet += 1 else quiet = 0
      last = n
    }
  }

  /** Local properties of the jobs run under job group `group`. */
  def inGroup(group: String): Seq[java.util.Properties] = synchronized {
    started.values.map(_._1).filter(p => p != null && p.getProperty("spark.jobGroup.id") == group).toSeq
  }

  def samplingJobs(group: String): Int = synchronized {
    started.values.count { case (p, stages) =>
      p != null && p.getProperty("spark.jobGroup.id") == group && stages.exists(s =>
        resultStages(s.stageId) &&
          s.rddInfos.exists(r => r.name == "MapPartitionsRDD" && r.scope.exists(_.name == "Exchange")))
    }
  }
}

/** Call census of one `mapAsync` partition: calls issued, calls
  * outstanding (issued, Future not yet complete) and their peak, and how
  * many calls had been issued when element 0's slow call completed. */
object AsyncCensus {
  val issued = new AtomicInteger(0)
  val outstanding = new AtomicInteger(0)
  val peak = new AtomicInteger(0)
  val issuedAtHeadDone = new AtomicInteger(-1)
  def reset(): Unit = { issued.set(0); outstanding.set(0); peak.set(0); issuedAtHeadDone.set(-1) }

  /** Element 0 answers after `headMs`, every other element after 1 ms. */
  def call(x: Long, headMs: Long): Future[Long] = {
    issued.incrementAndGet()
    peak.accumulateAndGet(outstanding.incrementAndGet(), math.max)
    Future {
      Thread.sleep(if (x == 0) headMs else 1)
      if (x == 0) issuedAtHeadDone.set(issued.get())
      outstanding.decrementAndGet()
      x
    }(GraftStage.asyncEc)
  }
}

object PlanShape extends AdaptiveSparkPlanHelper {
  /** (shuffle exchanges, sorts) in `ds`'s physical plan. */
  def apply(ds: Dataset[_]): (Int, Int) = {
    val p = ds.queryExecution.executedPlan
    (collect(p) { case e: ShuffleExchangeExec => e }.size, collect(p) { case s: SortExec => s }.size)
  }
}

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
    val before = GraftStage.asyncDroppedCount
    val got = xs.toStage
      .mapEx[Null, Int]((x, _) => { if (x == 3) Thread.sleep(60000); x }, timeout = 500.millis)
      .collectValues()
    assert(got.sorted == xs.filterNot(_ == 3))
    assert(GraftStage.asyncDroppedCount - before == 1, "the drop is counted on the driver")
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
    // Seeded 0-3 ms delays finish calls out of order inside each window.
    val st = range(0, 400, 4).mapAsync(
      x => Future { Thread.sleep(new scala.util.Random(x).nextInt(4).toLong); x * 3 }(GraftStage.asyncEc),
      workers = 16)
    val want = (0L until 400L).map(_ * 3)
    assert(st.plain.rdd.glom().collect().map(_.toSeq).toSeq == want.grouped(100).toSeq,
      "each partition emits in submission order")
    assert(PlanShape(st.ordered.indexed) == ((0, 0)), "ordered after mapAsync adds no exchange or sort")
    assert(st.ordered.collectValues() == want)
  }

  test("mapAsync: a slow head does not stall the window; workers bounds the calls in flight") {
    AsyncCensus.reset()
    val got = range(0, 40, 1).mapAsync(x => AsyncCensus.call(x, headMs = 300), workers = 4).collectValues()
    assert(got == (0L until 40L), "output order is unchanged")
    assert(AsyncCensus.issuedAtHeadDone.get() - 1 >= 12,
      s"calls issued behind the slow head before it completed: ${AsyncCensus.issuedAtHeadDone.get() - 1}")
    assert(AsyncCensus.peak.get() <= 4, s"calls outstanding at once: ${AsyncCensus.peak.get()}")
  }

  test("mapAsync: a timed-out element gives its slot back; every other element returns") {
    val before = GraftStage.asyncDroppedCount
    val got = range(0, 10, 1)
      .mapAsync(x => if (x == 3) Promise[Long]().future else Future.successful(x),
        workers = 1, timeout = 200.millis)
      .collectValues()
    assert(got == (0L until 10L).filterNot(_ == 3))
    assert(GraftStage.asyncDroppedCount - before == 1, "the drop is counted once")
  }

  test("mapAsync: a failed Future's ORIGINAL exception reaches collectValues and ordered.toIterable") {
    val st = range(0, 40, 2).mapAsync(
      x => if (x == 17) Future(throw new GraftUserError("async boom"))(GraftStage.asyncEc) else Future.successful(x),
      workers = 4)
    assert(intercept[GraftUserError](st.collectValues()).getMessage == "async boom")
    assert(intercept[GraftUserError](st.ordered.toIterable.foreach(_ => ())).getMessage == "async boom")
  }

  test("mapAsync: timeout drops the never-completing element") {
    val got = (0 until 10).toSeq.toStage
      .mapAsync(
        x => if (x == 4) Promise[Int]().future else Future.successful(x),
        workers = 4, timeout = 500.millis)
      .collectValues()
    assert(got.sorted == (0 until 10).filterNot(_ == 4))
  }

  test("mapEx: an infinite timeout is no bound — every element returns") {
    val xs = (0 until 10).toSeq
    val before = GraftStage.asyncDroppedCount
    val got = xs.toStage
      .mapEx[Null, Int]((x, _) => x, timeout = Duration.Inf)
      .collectValues()
    assert(got.sorted == xs)
    assert(GraftStage.asyncDroppedCount == before)
  }

  test("mapAsync: a zero timeout is no bound — delayed Futures all return, none dropped") {
    val xs = (0 until 20).toSeq
    val before = GraftStage.asyncDroppedCount
    val got = xs.toStage
      .mapAsync(x => Future { Thread.sleep(20); x }(GraftStage.asyncEc),
        workers = 4, timeout = Duration.Zero)
      .collectValues()
    assert(got.sorted == xs)
    assert(GraftStage.asyncDroppedCount == before)
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

  /** Runs `body` with `log` registered and the thread's job group set
    * to `group`. */
  private def logged[A](group: String, log: JobLog)(body: => A): A = {
    val sc = spark.sparkContext
    sc.addSparkListener(log)
    sc.setJobGroup(group, group)
    try body
    finally { sc.clearJobGroup(); log.settle(); sc.removeSparkListener(log) }
  }

  private def calls(): Calls = {
    val sc = spark.sparkContext
    Calls(sc.longAccumulator, sc.longAccumulator, sc.longAccumulator, sc.longAccumulator, sc.longAccumulator)
  }

  /** Every user-function kind once per element; doubles the values. */
  private def chain(s: GraftStage[Long], c: Calls): GraftStage[Long] =
    s.each(_ => c.each.add(1))
      .map { x => c.map.add(1); x * 2 }
      .mapAsync(x => { c.async.add(1); Future.successful(x) }, workers = 4)
      .filter { _ => c.filter.add(1); true }
      .flatMap { x => c.flatMap.add(1); Seq(x) }

  private def range(from: Long, until: Long, parts: Int): GraftStage[Long] =
    GraftStage.fromDataset(spark.range(from, until, 1, parts).as[Long])

  test("ordered: each user function runs once per element under ordered.toIterable and ordered.collectValues") {
    val ids = (0L until 200L) ++ (1000L until 1100L)
    val shapes: Seq[(String, () => GraftStage[Long], Option[Seq[Long]])] = Seq(
      ("fromDataset, 4 partitions", () => range(0, 200, 4), Some((0L until 200L).map(_ * 2))),
      ("mapEx(workers = 3)", () => range(0, 200, 4).mapEx[Null, Long]((x, _) => x, workers = 3),
        Some((0L until 200L).map(_ * 2))),
      ("concat", () => range(0, 200, 4).concat(range(1000, 1100, 2)), None))
    for ((name, source, want) <- shapes; terminal <- Seq("toIterable", "collectValues")) {
      val c = calls()
      val ordered = chain(source(), c).ordered
      val got = if (terminal == "toIterable") ordered.toIterable.toSeq else ordered.collectValues()
      val rows = if (name == "concat") ids.size else 200
      assert(c.all == Seq.fill(5)(rows.toLong), s"$name, $terminal: calls per function (each, map, mapAsync, filter, flatMap)")
      want match {
        case Some(w) => assert(got == w, s"$name, $terminal: order")
        case None => assert(got.sorted == ids.map(_ * 2).sorted, s"$name, $terminal: values")
      }
    }
  }

  test("concatRoundRobin: each upstream user function runs once per element under toIterable and toIterableWithIndex") {
    val want = rrOracle((0L until 200L).map(_ * 2), (1000L until 1100L).map(_ * 2))
    for (terminal <- Seq("toIterable", "toIterableWithIndex")) {
      val (a, b) = (calls(), calls())
      val merged = chain(range(0, 200, 4), a).concatRoundRobin(chain(range(1000, 1100, 2), b))
      val got = if (terminal == "toIterable") merged.toIterable.toSeq else merged.toIterableWithIndex.map(_.value).toSeq
      assert(got == want, terminal)
      assert(a.all == Seq.fill(5)(200L), s"$terminal: calls per function of the first input")
      assert(b.all == Seq.fill(5)(100L), s"$terminal: calls per function of the second input")
      QueryCaches.release()
    }
  }

  test("PrefixScan: emits each row with its inclusive running value and returns one offset per partition") {
    val sc = spark.sparkContext
    val inputs = Seq(
      "1 partition" -> sc.parallelize(1L to 20L, 1),
      "3 partitions, the middle one emptied" -> sc.parallelize(1L to 30L, 3).filter(x => x <= 10 || x > 20),
      "7 partitions, some emptied" -> sc.parallelize(1L to 70L, 7).filter(x => (x - 1) / 10 % 3 != 1),
      "0 partitions" -> sc.emptyRDD[Long])
    for ((name, rdd) <- inputs) {
      val parts = rdd.glom().collect().map(_.toSeq).toSeq
      val values = parts.flatten
      val (rows, offsets) = PrefixScan(rdd, 0L)(_ + _, _ + _)((x, s) => (x, s))
      assert(rows.collect().toSeq == values.zip(values.scanLeft(0L)(_ + _).tail), name)
      assert(offsets.length == rdd.getNumPartitions, s"$name: one offset per partition")
      assert(offsets.toSeq == parts.map(_.sum).scanLeft(0L)(_ + _).take(parts.size), s"$name: offsets")
      val (maxima, _) = PrefixScan(rdd, Long.MinValue)((m, x) => math.max(m, -x % 7), math.max)((_, m) => m)
      assert(maxima.collect().toSeq == values.map(-_ % 7).scanLeft(Long.MinValue)(math.max).tail, s"$name: max")
    }
  }

  test("ordered: free on an in-order stage; one exchange after mapEx(workers); no sampling job") {
    val inOrder = chain(range(0, 400, 4), calls())
    assert(PlanShape(inOrder.indexed) == ((0, 0)))
    assert(PlanShape(inOrder.ordered.indexed) == ((0, 0)), "ordered on an in-order stage adds no exchange or sort")
    assert(PlanShape(inOrder.ordered.plain) == ((0, 0)))
    val shuffled = chain(range(0, 400, 4).mapEx[Null, Long]((x, _) => x, workers = 3), calls())
    val (exchanges, _) = PlanShape(shuffled.indexed)
    assert(PlanShape(shuffled.ordered.indexed)._1 == exchanges + 1, "ordered after mapEx(workers) adds one exchange")
    for ((name, s) <- Seq("in-order" -> inOrder, "shuffled" -> shuffled)) {
      val log = new JobLog
      val got = logged(s"ordered-$name", log)(chain(s, calls()).ordered.toIterable.toSeq)
      assert(got == (0L until 400L).map(_ * 4), name)
      assert(log.inGroup(s"ordered-$name").nonEmpty)
      assert(log.samplingJobs(s"ordered-$name") == 0, s"$name: a sampling job ran")
    }
  }

  test("toIterable: taking one element submits at most defaultParallelism + 1 partition jobs") {
    val dp = spark.sparkContext.defaultParallelism
    val parts = 3 * dp + 2
    val log = new JobLog
    val it = logged("prefetch-window", log) {
      val it = range(0, parts * 10L, parts).map(_ + 1).toIterable
      assert(it.next() == 1L)
      it
    }
    val jobs = log.inGroup("prefetch-window").size
    assert(jobs >= 1 && jobs <= dp + 1, s"$jobs jobs submitted for one element, window $dp")
    assert((1L +: it.toSeq) == (1L to parts * 10L))
  }

  test("toIterable: a failing partition surfaces the user exception and cancels the jobs in flight") {
    val tracker = spark.sparkContext.statusTracker
    // partitions after 3 run until cancelled (a killed task's context
    // reads interrupted) or for 30 s
    val st = range(0, 80, 8).map { x =>
      val tc = TaskContext.get()
      if (tc.partitionId() == 3) throw new GraftUserError("partition 3")
      val end = System.nanoTime() + 30000000000L
      while (tc.partitionId() > 3 && !tc.isInterrupted() && System.nanoTime() < end) Thread.sleep(20)
      x
    }
    val t0 = System.nanoTime()
    val got = scala.collection.mutable.ArrayBuffer.empty[Long]
    // the failure fails every job in flight over the same plan, so it may
    // reach the caller before partitions 0-2 are read, never after
    val e = intercept[GraftUserError](st.toIterable.foreach(got += _))
    assert(e.getMessage == "partition 3")
    assert(got == (0L until got.size.toLong) && got.size <= 30, got)
    val secs = (System.nanoTime() - t0) / 1e9
    assert(secs < 20.0, f"the caller waited $secs%.1f s for the running partitions")
    val deadline = System.nanoTime() + 10000000000L
    while (tracker.getActiveJobIds.nonEmpty && System.nanoTime() < deadline) Thread.sleep(50)
    assert(tracker.getActiveJobIds.isEmpty,
      s"jobs ${tracker.getActiveJobIds.mkString(",")} still active after the failure")
  }

  test("toIterable: drain jobs carry the caller's job group and tags; one query-execution success per drain") {
    val sc = spark.sparkContext
    val successes = new AtomicInteger(0)
    val qel = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = successes.incrementAndGet()
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(qel)
    sc.addJobTag("graft-drain-tag")
    spark.addTag("graft-session-tag")
    val log = new JobLog
    try {
      val st = range(0, 60, 6).map(_ * 3)
      val got = logged("drain-attribution", log)(Seq(st.toIterable.toSeq, st.toIterable.toSeq))
      assert(got == Seq.fill(2)((0L until 60L).map(_ * 3)))
      val deadline = System.nanoTime() + 10000000000L
      while (successes.get() < 2 && System.nanoTime() < deadline) Thread.sleep(50)
      Thread.sleep(300)
      assert(successes.get() == 2, "one onSuccess per drain")
    } finally {
      spark.listenerManager.unregister(qel)
      sc.removeJobTag("graft-drain-tag")
      spark.removeTag("graft-session-tag")
    }
    val jobs = log.inGroup("drain-attribution")
    assert(jobs.size == 12, "one job per partition per drain")
    jobs.foreach { p =>
      val tags = Option(p.getProperty("spark.job.tags")).toSeq.flatMap(_.split(","))
      assert(tags.contains("graft-drain-tag"), tags)
      assert(tags.exists(_.endsWith("graft-session-tag")), tags)
    }
  }

  test("mapAsync: timeout drops reach the driver through an accumulator, one per injected hang") {
    val hangs = Set(0, 5, 10, 15)
    val fromTasks = new java.util.concurrent.atomic.AtomicLong(0)
    val l = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        e.taskInfo.accumulables.filter(_.name.contains("graft.mapAsync.dropped"))
          .foreach(a => fromTasks.addAndGet(a.update.fold(0L)(_.asInstanceOf[Long])))
    }
    val log = new JobLog
    val before = GraftStage.asyncDroppedCount
    spark.sparkContext.addSparkListener(l)
    val got = try logged("async-drops", log)((0 until 20).toStage
      .mapAsync(x => if (hangs(x)) Promise[Int]().future else Future.successful(x),
        workers = 4, timeout = 200.millis)
      .collectValues())
    finally spark.sparkContext.removeSparkListener(l)
    assert(got.sorted == (0 until 20).filterNot(hangs))
    assert(GraftStage.asyncDroppedCount - before == hangs.size)
    assert(fromTasks.get() == hangs.size, "drops are shipped to the driver in task results")
  }
}
