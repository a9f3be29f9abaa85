package graft.core

import org.apache.spark.{FutureAction, SparkContext, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.encoderFor
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions.{col, element_at, struct, udf}
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.Platform
import org.apache.spark.util.LongAccumulator

import java.util.concurrent.{Callable, TimeUnit, TimeoutException => JTimeoutException}
import scala.concurrent.duration.{Duration, FiniteDuration}
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.util.{Failure, Success}

/** Per-worker identity handed to lifecycle hooks and user functions,
  * mirroring the reference's `worker_info` dependency injection
  * (reference: pypeln/process/worker.py:48-49,92-94). On Spark a
  * "worker" is a partition-task: `index` is the partition id and
  * `numWorkers` the stage's partition count — together they also cover
  * the reference's `stage_status` surface (active worker census,
  * pypeln/process/worker.py:103-117,189-209), which on Spark is a
  * scheduler concern, not user code.
  */
final case class WorkerInfo(index: Int, numWorkers: Int, stageId: Int, attempt: Long)

/** A lazy pipeline stage: the Spark-native analog of the reference's
  * `Stage` DAG node (reference: pypeln/process/stage.py:13-24). Nothing
  * executes until a terminal action (`toIterable` / `run` / `collect`),
  * exactly like the reference's iterate-to-run contract
  * (reference: docs/advanced.md:35). Each user function runs once per
  * element per action, as in the reference's workers.
  *
  * Two parallel plans are maintained, both pure lineage (no execution):
  *
  *   - `plain: Dataset[T]` — the Tungsten path. Operator chains that
  *     never observe creation order stay here: parquet pushdown, column
  *     pruning, and whole-stage codegen all survive, and no indexing
  *     job ever runs.
  *   - `indexed: Dataset[Element[T]]` — the creation-order path,
  *     materialized ON DEMAND (first use of `ordered` /
  *     `toIterableWithIndex` / `indexedDF`). Source indices come from a
  *     counting [[PrefixScan]] over the source (one counting job — the
  *     price of the reference's enumeration contract,
  *     pypeln/process/api/from_iterable.py:15-22), paid only when
  *     something downstream actually consumes indices.
  *
  * The in-order rule: the indexed plan of a source is in creation order
  * (partition i holds one contiguous run of source indices, ascending,
  * and partition i's run precedes partition i+1's). Narrow operators
  * (`map`, `flatMap`, `filter`, `filterCol`, `each`, `cached`,
  * `mapAsync`, `mapEx` without `workers`) keep it; `mapEx(workers = n)`
  * and `concat` lose it. [[ordered]] on an in-order stage is free; on
  * any other stage it is one exchange on known bounds plus a sort
  * within partitions.
  *
  * Concurrency mapping:
  *   - `workers = n`  → `repartition(n)` (reference: process/stage.py:51-64)
  *   - task-backend async IO with `workers = n` → [[mapAsync]]: at most
  *     n calls in flight inside each partition, results emitted in
  *     submission order (reference: task/worker.py:217-283
  *     semaphore-bounded TaskPool)
  *   - `timeout` → per-element bounded wait, element dropped on expiry
  *     and the in-flight attempt interrupted
  *     (reference: process/supervisor.py:19-32, worker.py:152-161)
  *   - `on_start` / `on_done` → partition open/close hooks
  *     (reference: process/worker.py:68-127)
  *   - `to_iterable(maxsize)` → [[toIterable]]: up to
  *     `defaultParallelism` partition jobs run ahead of the consumer
  *     (reference: process/api/to_iterable.py, bounded output queue)
  */
final class GraftStage[T] private (
    val plain: Dataset[T],
    mkIndexed: () => GraftStage.Indexed[T]) {

  private lazy val ix: GraftStage.Indexed[T] = mkIndexed()

  /** Creation-order plan; forcing this builds (and memoizes) the indexed
    * lineage, including the source indexing job when first acted on. */
  lazy val indexed: Dataset[Element[T]] = ix.plan

  private def spark: SparkSession = plain.sparkSession

  /** 1→1 transform; index passes through untouched
    * (reference: pypeln/process/api/map.py:19-27). */
  def map[B](f: T => B)(implicit eb: Encoder[B], ee: Encoder[Element[B]]): GraftStage[B] =
    new GraftStage(plain.map(f), () => ix.narrow(_.map(el => Element(el.index, f(el.value)))))

  /** `map` with the full reference option surface: `workers` (partition
    * fan-out), per-element `timeout` (drop on expiry, counted on the
    * driver in [[GraftStage.asyncDroppedCount]]; zero, negative or
    * infinite means no bound — [[GraftStage.bound]]), `onStart`/`onDone`
    * per-worker lifecycle with resource injection
    * (reference: pypeln/process/api/map.py:115-126, docs/advanced.md:87-124).
    */
  def mapEx[S, B](
      f: (T, S) => B,
      workers: Int = 0,
      timeout: Duration = Duration.Zero,
      onStart: WorkerInfo => S = (_: WorkerInfo) => null.asInstanceOf[S],
      onDone: S => Unit = (_: S) => ())(implicit eb: Encoder[B], ee: Encoder[Element[B]]): GraftStage[B] = {
    val dropped = GraftStage.droppedAccumulator(spark.sparkContext)
    def run[A, C](d: Dataset[A], g: (A, S) => Option[C])(implicit e: Encoder[C]): Dataset[C] = {
      val in = if (workers > 0) d.repartition(workers) else d
      val bound = GraftStage.bound(timeout)
      in.mapPartitions { iter =>
        val tc = TaskContext.get()
        val wi = WorkerInfo(tc.partitionId(), tc.numPartitions(), tc.stageId(), tc.taskAttemptId())
        val state = onStart(wi)
        tc.addTaskCompletionListener[Unit](_ => onDone(state))
        bound match {
          case None => iter.flatMap(a => g(a, state))
          case Some(t) => iter.flatMap { a =>
            // Timeout semantics per the reference: the element is DROPPED,
            // the pipeline continues (process/api/map_process_test.py:63-76).
            // The attempt is cancelled with interrupt — cooperative user
            // code stops; non-interruptible code is abandoned on its
            // (daemon) scratch thread so it can't wedge the task.
            val r = GraftStage.withTimeout(t)(g(a, state))
            if (r.isEmpty) GraftStage.countDrop(dropped, "mapEx", t)
            r.flatten
          }
        }
      }
    }
    val step = (p: Dataset[Element[T]]) =>
      run[Element[T], Element[B]](p, (el, s) => Some(Element(el.index, f(el.value, s))))
    new GraftStage(
      run[T, B](plain, (a, s) => Some(f(a, s))),
      () => if (workers > 0) ix.shuffled(step) else ix.narrow(step))
  }

  /** 1→N transform; each child element i gets index `parent :+ i`
    * (reference: pypeln/process/api/flat_map.py:22-28). */
  def flatMap[B](f: T => IterableOnce[B])(implicit eb: Encoder[B], ee: Encoder[Element[B]]): GraftStage[B] =
    new GraftStage(
      plain.flatMap(f),
      () => ix.narrow(_.flatMap { el =>
        f(el.value).iterator.zipWithIndex.map { case (v, i) => Element(el.push(i.toLong), v) }
      }))

  /** Keep elements where the predicate holds; surviving elements keep
    * their original index (reference: pypeln/process/api/filter.py:19-27). */
  def filter(p: T => Boolean): GraftStage[T] =
    new GraftStage(plain.filter(p), () => ix.narrow(_.filter((el: Element[T]) => p(el.value))))

  /** Column-expression filter: the Catalyst path. On the plain plan the
    * predicate reaches the parquet scan (PushedFilters) — this is the
    * filter to use when the predicate is expressible, keeping the scan
    * pruned at 100 TB. Indices of survivors are unchanged, same contract
    * as [[filter]]. */
  def filterCol(c: Column): GraftStage[T] =
    new GraftStage(plain.filter(c), () => ix.narrow(GraftStage.filterIndexed(_, c)))

  /** Async-IO map: the task-backend analog. `workers` is the number of
    * calls in flight (issued, Future not yet complete) per partition:
    * the reference's semaphore-bounded TaskPool, task/worker.py:225-238.
    * A finished call frees its slot at once, so a slow call does not
    * hold back the calls behind it. Results are emitted in submission
    * order (per-partition order preserved; global order is not, same as
    * the reference under concurrency), so a partition holds up to
    * `4 × workers` finished results waiting for the head.
    * `timeout` bounds each element's wait once it reaches the head of
    * the window; on expiry the element is DROPPED and its slot returned
    * (reference task backend: asyncio.wait_for + swallowed
    * TimeoutError, task/worker.py:246-255) — a hung Future can no
    * longer wedge the task forever. Drops are counted on the driver
    * ([[GraftStage.asyncDroppedCount]]). A zero, negative or infinite
    * `timeout` waits without bound ([[GraftStage.bound]]).
    */
  def mapAsync[B](f: T => Future[B], workers: Int = 8,
      timeout: Duration = GraftStage.DefaultAsyncTimeout)(
      implicit eb: Encoder[B], ee: Encoder[Element[B]]): GraftStage[B] = {
    val n = math.max(1, workers)
    val t = timeout
    val dropped = GraftStage.droppedAccumulator(spark.sparkContext)
    def run[A, C](d: Dataset[A], value: A => T, mk: (A, B) => C)(
        implicit e: Encoder[C]): Dataset[C] =
      d.mapPartitions(iter =>
        GraftStage.asyncWindowIterator(iter, n, t, (a: A) => f(value(a)), mk, dropped))
    new GraftStage(
      run[T, B](plain, identity, (_, b) => b),
      () => ix.narrow(run[Element[T], Element[B]](_, _.value, (a, b) => Element(a.index, b))))
  }

  /** Side-effect call per element, passing elements through unchanged
    * (reference: pypeln/process/api/each.py:19-26). Lazy like the
    * reference; the effect fires when the stage is executed — cache
    * (or use [[eachRun]]) for exactly-once delivery across repeated
    * actions. */
  def each(f: T => Unit): GraftStage[T] = {
    implicit val ep: Encoder[T] = plain.encoder
    new GraftStage(
      plain.map { v => f(v); v },
      () => ix.narrow { p =>
        implicit val ei: Encoder[Element[T]] = p.encoder
        p.map { el => f(el.value); el }
      })
  }

  /** Terminal each: deliver every element to `f` exactly once via a
    * single `foreach` action — the reference's `each(..., run=True)`
    * (pypeln/process/api/each.py:137-141). No lineage is left behind to
    * re-fire the effect. */
  def eachRun(f: T => Unit): Unit =
    GraftErrors.unwrap(plain.foreach(f(_)))

  /** Drain the stage for its side effects
    * (reference: pypeln/process/api/run.py:15-43). User exceptions are
    * re-thrown with their original type (see [[GraftErrors]]). */
  def run(): Unit = GraftErrors.unwrap(plain.foreach((_: T) => ()))

  /** Union-all of stages; interleaving is partition-order, order not
    * preserved — same contract as the concurrent backends
    * (reference: pypeln/process/api/concat.py:14-16). */
  def concat(others: GraftStage[T]*): GraftStage[T] =
    new GraftStage(
      others.foldLeft(plain)((a, b) => a.union(b.plain)),
      () => {
        val all = ix +: others.map(_.ix)
        GraftStage.Indexed(all.map(_.plan).reduce(_ union _),
          all.flatMap(_.splits).distinct.sorted, inOrder = false)
      })

  /** Deterministic round-robin concat — the reference SYNC backend's
    * concat contract (pypeln/sync/stage.py:36-47 `iter_dependencies`,
    * sync/api/concat.py:21): one element from each live stage per
    * cycle, exhausted stages dropping out — [1,2,3] ++ [4,5,6,7] →
    * 1,4,2,5,3,6,7. (Plain [[concat]] is the concurrent-backend
    * contract: union-all, arrival order.)
    *
    * Spark-first shape: the interleave IS a distributed sort. Each
    * stage is put in creation order (free when it is in order, see
    * [[ordered]]), persisted through [[QueryCaches.track]] (so its user
    * functions run once per element although the rank scan reads it
    * twice) and ranked by the same counting [[PrefixScan]] as
    * [[GraftStage.fromDataset]] (never a one-partition window); then
    * elements sort lexicographically by (rank, stage#) — one exchange
    * on the rank bounds the scan counted, no driver accumulation (the
    * reference holds every iterator on one thread). Forces the indexed
    * plans and pays one rank job per input AT CALL TIME (a documented
    * exception to the nothing-runs-before-the-terminal contract):
    * order-defining by nature — use [[concat]] when arrival order is
    * acceptable. The persisted inputs are freed by
    * [[QueryCaches.release]], like [[cached]] stages. */
  def concatRoundRobin(others: GraftStage[T]*)(
      implicit et: Encoder[T], ee: Encoder[Element[T]]): GraftStage[T] = {
    val sess = spark
    val ranked = (this +: others).zipWithIndex.map { case (s, sNo) =>
      val n = sNo.toLong
      GraftStage.enumerate(sess, QueryCaches.track(s.ix.sorted.plan).rdd)(
        (el: Element[T], rank: Long) => Element(Seq(rank, n), el.value))
    }
    val merged = GraftStage.Indexed(ranked.map(_.plan).reduce(_ union _),
      ranked.flatMap(_.splits).distinct.sorted, inOrder = false).sorted.plan
    new GraftStage(
      merged.map(_.value),
      // dense re-enumeration of the interleaved order, so downstream
      // ordered/flatMap indexing sees a normal source index space
      () => GraftStage.enumerate(sess, merged.rdd)((el: Element[T], j: Long) => Element(Seq(j), el.value)))
  }

  /** Restore source-creation order (reference:
    * pypeln/process/api/ordered.py:12-20, an accumulate-everything
    * single-worker insertion sort). Forces the indexed plan (and the
    * one-time source indexing job). By the in-order rule (class
    * header) an in-order stage is returned as its indexed plan: no
    * exchange, no sort, no job. Any other stage is range-partitioned on
    * the index head by the source's own partition bounds — known from
    * the indexing job, so no sampling job runs and every upstream
    * function still runs once per element — and sorted within
    * partitions on the full index path. */
  def ordered(implicit et: Encoder[T]): GraftStage[T] = {
    val sorted = ix.sorted
    new GraftStage(sorted.plan.map(_.value), () => sorted)
  }

  /** Fan-out support: persist so N downstream consumers share one
    * computation (reference broadcast-to-all-output-queues,
    * pypeln/process/queue.py:114-129). The indexed plan is cached
    * independently, on first use. Both persists are registered with
    * [[QueryCaches]] so a long-lived session can release them after
    * the pipeline's terminal action. */
  def cached: GraftStage[T] =
    new GraftStage(QueryCaches.track(plain), () => ix.narrow(QueryCaches.track(_)))

  /** Materialize as a local iterator of values, in partition order;
    * the `WithIndex` variant yields full Elements (`return_index=True`,
    * reference: pypeln/process/api/to_iterable.py:26-53). Like the
    * reference's bounded `maxsize` queue, the drain keeps up to
    * `sparkContext.defaultParallelism` single-partition jobs running
    * ahead of the partition being read, so at most that many
    * undelivered partitions (as serialized rows) are held on the
    * driver; rows are decoded as the caller pulls them. A failed
    * partition fails the drain: the user's original exception reaches
    * the caller no later than that partition's turn, and no job of the
    * drain is left running. */
  def toIterable: Iterator[T] = GraftStage.drain(plain)
  def toIterableWithIndex: Iterator[Element[T]] = GraftStage.drain(indexed)

  def collectValues(): Seq[T] = GraftErrors.unwrap(plain.collect().toSeq)

  /** Awaitable-stage parity: the whole stage gathered into a Future —
    * the task backend's `await stage` (reference:
    * pypeln/task/stage.py:105-115 `__await__` → list-gather). The
    * caller's thread never blocks; the drain runs on `ec`. User
    * exceptions fail the Future with their ORIGINAL type. */
  def toFutureSeq(implicit ec: scala.concurrent.ExecutionContext): Future[Seq[T]] =
    Future(collectValues())

  /** Async-pull terminal — the task backend's `to_async_iterable`
    * (reference: pypeln/task/api/to_iterable.py:62-101: the sync
    * source is pumped from an executor thread into a bounded queue and
    * consumed without blocking the event loop; same bridge here). A
    * daemon producer drains [[toIterable]] into a `maxsize`-bounded
    * queue (backpressure: the producer blocks, and the drain submits no
    * job past its prefetch window), and each `next()` returns a Future
    * — the consumer thread never blocks per element. */
  def toAsyncIterator(maxsize: Int = 256): GraftStage.AsyncValueIterator[T] =
    new GraftStage.AsyncValueIterator[T](toIterable, maxsize)

  /** The stage as a DataFrame (plain path — use in declared queries). */
  def toDF: DataFrame = plain.toDF()

  /** The indexed plan as a DataFrame (`index: array<bigint>`, `value`). */
  def indexedDF: DataFrame = indexed.toDF()

  /** Pipe composition: `stage |> (_.map(f)) |> (_.filter(p))`
    * (reference: pypeln/utils.py:74-75,87-98 `__or__`/Partial). */
  def |>[B](f: GraftStage[T] => GraftStage[B]): GraftStage[B] = f(this)
}

object GraftStage {

  /** Default per-element bound for [[GraftStage.mapAsync]]: FINITE, so
    * the default configuration can never wedge a task behind one hung
    * Future (round-3 finding — `Duration.Inf` let an unresponsive
    * service stall the partition forever; the reference's task backend
    * swallows `asyncio.TimeoutError` per element when a bound is set,
    * task/worker.py:246-255, and a production async stage should
    * always have one). Pass `timeout = Duration.Inf` explicitly to opt
    * back into unbounded waits. */
  val DefaultAsyncTimeout: Duration = Duration(60, java.util.concurrent.TimeUnit.SECONDS)

  /** The one timeout rule of [[GraftStage.mapEx]], [[GraftStage.mapAsync]]
    * and `GraftStream.mapAsync`: a positive finite `t` bounds each
    * element's wait; zero, negative or infinite means no bound
    * (pypeln's `timeout=0`). */
  private def bound(t: Duration): Option[FiniteDuration] = t match {
    case f: FiniteDuration if f > Duration.Zero => Some(f)
    case _ => None
  }

  /** The one bounded bridge behind both async iterators: a daemon
    * thread runs `produce(emit)` and `emit` puts each value, boxed so a
    * null element passes, into a `maxsize`-bounded queue (a full queue
    * blocks the producer: the reference's `maxsize` backpressure). The
    * end, or the user's original exception, follows the last value.
    * `take()` blocks for the next value: `Some(v)` per element, `None`
    * at the end and ever after; a failure is thrown once. */
  private final class Pump[T](maxsize: Int, name: String)(produce: (T => Unit) => Unit) {
    private val queue =
      new java.util.concurrent.LinkedBlockingQueue[Either[Throwable, Option[T]]](math.max(1, maxsize))
    @volatile private var done = false
    private val thread = new Thread(() => {
      try { produce(v => queue.put(Right(Some(v)))); queue.put(Right(None)) }
      catch { case e: Throwable => queue.put(Left(GraftErrors.userCause(e))) }
    }, name)
    thread.setDaemon(true)
    thread.start()

    def take(): Option[T] =
      if (done) None
      else queue.take() match {
        case Right(v) => done = v.isEmpty; v
        case Left(e) => done = true; throw e
      }
  }

  /** Async-pull iterator over a stage's values: `next()` completes with
    * `Some(value)` per element and `None` at exhaustion; a failure in
    * the pipeline fails the Future with the user's original exception.
    * Sequential-consumption contract (await each `next()` before the
    * next call), like any async-iterator protocol. */
  final class AsyncValueIterator[T] private[core] (source: Iterator[T], maxsize: Int) {
    private val pump = new Pump[T](maxsize, "graft-async-drain")(source.foreach(_))

    def next(): Future[Option[T]] = Future(pump.take())(asyncEc)

    /** Gather the remainder — `await stage` ergonomics on top of the
      * async pull. */
    def toSeq: Future[Seq[T]] = {
      implicit val ec: scala.concurrent.ExecutionContext = asyncEc
      def loop(acc: List[T]): Future[List[T]] = next().flatMap {
        case Some(v) => loop(v :: acc)
        case None => Future.successful(acc.reverse)
      }
      loop(Nil)
    }
  }

  /** Async-pull iterator bridged into a SYNC `Iterator` through a
    * `maxsize`-bounded queue — the pump half of [[fromAsyncIterator]],
    * exposed for tests. The pump awaits each `nextF()` Future
    * SEQUENTIALLY (the async-iterator protocol: never request element
    * i+1 before i resolves) and blocks on a full queue BEFORE
    * requesting the next element, so the producer is never advanced
    * more than `maxsize + 1` elements past the consumer. A failed
    * Future surfaces on the consumer side with the user's ORIGINAL
    * exception. */
  final class AsyncSourceIterator[T] private[graft] (
      nextF: () => Future[Option[T]], maxsize: Int) extends Iterator[T] {
    private val pump = new Pump[T](maxsize, "graft-async-source-pump")({ emit =>
      var v = Await.result(nextF(), Duration.Inf)
      while (v.isDefined) { emit(v.get); v = Await.result(nextF(), Duration.Inf) }
    })
    private var head: Option[T] = None
    def hasNext: Boolean = head.isDefined || { head = pump.take(); head.isDefined }
    def next(): T = {
      if (!hasNext) throw new NoSuchElementException("async source exhausted")
      val v = head.get; head = None; v
    }
  }

  /** Source from an ASYNC producer — the task backend's
    * `from_iterable(async_iterable)` (reference:
    * pypeln/task/api/from_iterable.py:14-80: the async source is pumped
    * from the event loop through a bounded queue into the pipeline).
    * `next()` yields `Some(value)` per element and `None` at
    * exhaustion, awaited sequentially; `maxsize` bounds how far the
    * producer runs ahead while the elements stage driver-side (a local
    * buffer is inherent on Spark — a Dataset source materializes before
    * the cluster plan sees it; the bound is the producer-side
    * backpressure, same as the reference's queue). */
  def fromAsyncIterator[T](next: () => Future[Option[T]], maxsize: Int = 256)(
      implicit spark: SparkSession, et: Encoder[T], ee: Encoder[Element[T]]): GraftStage[T] =
    fromIterable(new AsyncSourceIterator(next, maxsize).toSeq)

  /** Source from a local iterable; index `(i)` assigned by enumeration,
    * the creation-order contract of the reference
    * (pypeln/process/api/from_iterable.py:15-22). Indices here are free
    * (assigned driver-side), so the indexed plan costs no extra job; a
    * local relation is scanned in contiguous slices, so it is in order. */
  def fromIterable[T](xs: Iterable[T])(
      implicit spark: SparkSession, et: Encoder[T], ee: Encoder[Element[T]]): GraftStage[T] = {
    val elems = xs.iterator.zipWithIndex.map { case (v, i) => Element(Seq(i.toLong), v) }.toSeq
    val ind = spark.createDataset(elems)
    val n = elems.size.toLong
    val parts = math.max(1L, math.min(n, spark.sparkContext.defaultParallelism.toLong))
    val splits = (1L until parts).map(j => j * n / parts)
    new GraftStage(spark.createDataset(xs.toSeq), () => Indexed(ind, splits, inOrder = true))
  }

  /** Source from an existing Dataset. The plain plan IS the dataset —
    * scans stay pruned/pushed-down. Creation-order indices are derived
    * lazily by a counting [[PrefixScan]] (one extra job over the
    * source, faithful enumeration —
    * `monotonically_increasing_id` would NOT be: not dense, not
    * creation-ordered across partitions), and only if the pipeline
    * actually demands order (`ordered` / `toIterableWithIndex`). */
  def fromDataset[T](d: Dataset[T])(implicit ee: Encoder[Element[T]]): GraftStage[T] =
    new GraftStage(d, () => enumerate(d.sparkSession, d.rdd)((v: T, i: Long) => Element(Seq(i), v)))

  /** A stage's indexed plan and what [[GraftStage.ordered]] needs to
    * know about it. `splits` are the first source indices of the
    * source's partitions after the first, ascending and distinct:
    * range bounds on the index head that need no sampling. `inOrder`
    * says the plan is still in creation order (the class header's
    * in-order rule), so sorting it would change nothing. */
  private[core] final case class Indexed[T](plan: Dataset[Element[T]], splits: Seq[Long], inOrder: Boolean) {
    /** A partition-preserving step: order survives. */
    def narrow[B](step: Dataset[Element[T]] => Dataset[Element[B]]): Indexed[B] =
      Indexed(step(plan), splits, inOrder)
    /** A step that moves rows between partitions: order is lost. */
    def shuffled[B](step: Dataset[Element[T]] => Dataset[Element[B]]): Indexed[B] =
      Indexed(step(plan), splits, inOrder = false)
    /** This plan in creation order: itself when in order, otherwise one
      * exchange that sends head `h` to the number of splits `<= h`,
      * then a sort within each partition on the full index path. */
    def sorted: Indexed[T] =
      if (inOrder) this
      else {
        val bounds = splits.toArray
        val part = udf { (head: Long) =>
          val i = java.util.Arrays.binarySearch(bounds, head)
          if (i >= 0) i + 1 else -i - 1
        }
        Indexed(plan.repartitionById(bounds.length + 1, part(element_at(col("index"), 1)))
          .sortWithinPartitions(col("index")), splits, inOrder = true)
      }
  }

  /** `rdd` numbered from 0 in partition order by a counting
    * [[PrefixScan]] (so `rdd` must be a source or persisted), keeping
    * the partition bounds as `splits`. The result is in creation order
    * by construction. */
  private def enumerate[A, T](spark: SparkSession, rdd: RDD[A])(mk: (A, Long) => Element[T])(
      implicit ee: Encoder[Element[T]]): Indexed[T] = {
    val (numbered, starts) = PrefixScan(rdd, 0L)((n, _) => n + 1, _ + _)((a, n) => mk(a, n - 1))
    Indexed(spark.createDataset(numbered), starts.toSeq.drop(1).distinct, inOrder = true)
  }

  /** The drain behind [[GraftStage.toIterable]]: the query is planned and
    * prepared once inside a SQL execution (as `toLocalIterator` does,
    * so query-execution listeners see it), then [[Prefetch]] runs one
    * job per partition, in partition order, each shipping its rows as
    * serialized `UnsafeRow` bytes that are decoded through the
    * Dataset's encoder as the caller pulls them. */
  private def drain[A](ds: Dataset[A]): Iterator[A] = GraftErrors.unwrap {
    val qe = ds.queryExecution
    val sc = ds.sparkSession.sparkContext
    val fromRow = encoderFor(ds.encoder).resolveAndBind(qe.analyzed.output).createDeserializer()
    val numFields = qe.analyzed.output.length
    val (rdd, tags) = SQLExecution.withNewExecutionId(qe, Some("toIterable")) {
      qe.executedPlan.resetMetrics()
      (qe.executedPlan.execute().mapPartitions(rowBytes), sc.getJobTags())
    }
    new Prefetch(rdd, tags, math.max(1, sc.defaultParallelism))
      .flatMap(bytes => decodeRows(bytes, numFields).map(fromRow(_)))
  }

  /** One partition's rows as `size, bytes` records ending in size -1. */
  private def rowBytes(rows: Iterator[InternalRow]): Iterator[Array[Byte]] = {
    val bytes = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bytes)
    val buf = new Array[Byte](4096)
    rows.foreach { r =>
      val row = r.asInstanceOf[UnsafeRow]
      out.writeInt(row.getSizeInBytes)
      row.writeToStream(out, buf)
    }
    out.writeInt(-1)
    out.close()
    Iterator.single(bytes.toByteArray)
  }

  /** Reads [[rowBytes]] back, one row over the shared array at a time. */
  private def decodeRows(bytes: Array[Byte], numFields: Int): Iterator[InternalRow] = new Iterator[InternalRow] {
    private val in = java.nio.ByteBuffer.wrap(bytes)
    private val row = new UnsafeRow(numFields)
    private var rowSize = in.getInt()
    def hasNext: Boolean = rowSize >= 0
    def next(): InternalRow = {
      if (!hasNext) throw new NoSuchElementException("end of partition")
      row.pointTo(bytes, Platform.BYTE_ARRAY_OFFSET + in.position(), rowSize)
      in.position(in.position() + rowSize)
      rowSize = in.getInt()
      row
    }
  }

  private val firstResult: Iterator[Array[Byte]] => Array[Byte] = _.next()

  /** The results of `rdd`'s one-element partitions in partition order,
    * with up to `window` partition jobs submitted ahead of the one
    * being read: pypeln's bounded `maxsize` queue. Jobs are submitted
    * from the reading thread, so they carry its job group, description
    * and job tags, plus `tags` (the session's tags, which Spark applies
    * only inside a SQL execution). A task failure fails every job in
    * flight over `rdd` (the scheduler aborts all active jobs that
    * depend on the failed stage's RDD); whatever else fails the wait
    * cancels the jobs still in flight before the user exception is
    * rethrown. */
  private final class Prefetch(rdd: RDD[Array[Byte]], tags: Set[String], window: Int)
      extends Iterator[Array[Byte]] {
    private val sc = rdd.sparkContext
    private val inFlight = scala.collection.mutable.Queue.empty[FutureAction[Array[Byte]]]
    private var submitted = 0

    private def fill(): Unit =
      while (inFlight.size < window && submitted < rdd.getNumPartitions) {
        val extra = tags -- sc.getJobTags()
        sc.addJobTags(extra)
        val slot = new java.util.concurrent.atomic.AtomicReference[Array[Byte]]()
        try inFlight.enqueue(sc.submitJob(rdd, firstResult, Seq(submitted),
          (_: Int, b: Array[Byte]) => slot.set(b), slot.get()))
        finally sc.removeJobTags(extra)
        submitted += 1
      }

    def hasNext: Boolean = { fill(); inFlight.nonEmpty }

    def next(): Array[Byte] = {
      if (!hasNext) throw new NoSuchElementException("drain exhausted")
      val bytes =
        try Await.result(inFlight.dequeue(), Duration.Inf)
        catch {
          case e: Throwable =>
            inFlight.foreach(_.cancel())
            inFlight.foreach(f => scala.util.Try(Await.ready(f, Duration.Inf)))
            inFlight.clear()
            submitted = rdd.getNumPartitions
            throw GraftErrors.userCause(e)
        }
      fill()
      bytes
    }
  }

  /** Column filter on an indexed plan: flatten value-struct fields so the
    * caller's Column resolves by payload field name, filter, re-nest.
    * (For atomic payloads the column is addressed as `value` — the same
    * name Spark gives single-column datasets, so conditions written for
    * the plain plan resolve unchanged.) */
  private[core] def filterIndexed[T](ind: Dataset[Element[T]], c: Column): Dataset[Element[T]] = {
    implicit val enc: Encoder[Element[T]] = ind.encoder
    ind.schema("value").dataType match {
      case st: StructType =>
        ind.select(col("index"), col("value.*"))
          .filter(c)
          .select(col("index"), struct(st.fieldNames.toSeq.map(col): _*).as("value"))
          .as[Element[T]]
      case _ => ind.filter(c)
    }
  }

  /** Elements dropped by [[GraftStage.mapAsync]] and
    * [[GraftStage.mapEx]] timeout expiry —
    * drop-on-timeout must never be silent data loss (the finite default
    * timeout + silent drop could lose elements invisibly). Each drop is
    * logged at WARN on its executor and counted in a `LongAccumulator`
    * registered on the driver, one per SparkContext, so the driver
    * reads every executor's drops once their tasks finish. */
  private var dropped: Option[(SparkContext, LongAccumulator)] = None
  private var droppedEarlier = 0L // counted under SparkContexts since replaced

  private[graft] def droppedAccumulator(sc: SparkContext): LongAccumulator = synchronized {
    dropped match {
      case Some((c, acc)) if c eq sc => acc
      case old =>
        droppedEarlier += old.fold(0L)(_._2.sum)
        val acc = sc.longAccumulator("graft.mapAsync.dropped")
        dropped = Some((sc, acc))
        acc
    }
  }

  /** Driver-side total of timeout drops, [[GraftStage.mapAsync]] and
    * [[GraftStage.mapEx]] together (one accumulator, named
    * `graft.mapAsync.dropped`, for both). */
  def asyncDroppedCount: Long = synchronized(droppedEarlier + dropped.fold(0L)(_._2.sum))
  private lazy val asyncLog = org.slf4j.LoggerFactory.getLogger("graft.core.GraftStage")

  /** Counts one timed-out element of operator `op` in `dropped` and logs
    * it at WARN on the executor. */
  private def countDrop(dropped: LongAccumulator, op: String, t: Duration): Unit = {
    dropped.add(1)
    asyncLog.warn(s"$op dropped an element after $t")
  }

  /** Finished results a partition of [[GraftStage.mapAsync]] holds for
    * in-order emission, as a multiple of `workers`. */
  private[graft] val AsyncHoldMultiple = 4

  /** Bounded async window over a partition iterator — the shared engine
    * of batch [[GraftStage.mapAsync]] and streaming
    * `GraftStream.mapAsync`. `n` bounds the calls in flight (issued, not
    * yet complete): the reference's `workers`-permit semaphore
    * (task/worker.py:225-238). A finished call frees its slot at once,
    * so a slow head does not stall the calls behind it. Emission is in
    * submission order, so a partition holds up to
    * `AsyncHoldMultiple × n` finished results (the window of issued,
    * unemitted elements has that size). `t` bounds each element's wait
    * once it reaches the head (see [[bound]] for which `t` waits
    * without bound); on expiry the element is dropped, counted in `dropped`,
    * and its slot is returned even if its Future never completes. A
    * failed Future rethrows the user's original exception. */
  private[graft] def asyncWindowIterator[A, B, C](
      iter: Iterator[A], n: Int, t: Duration,
      submit: A => Future[B], mk: (A, B) => C, dropped: LongAccumulator): Iterator[C] = {
    val limit = bound(t)
    val hold = if (n > Int.MaxValue / AsyncHoldMultiple) Int.MaxValue else AsyncHoldMultiple * n
    final class Slot(val a: A, val fut: Future[B]) { var freed = false }
    val window = new scala.collection.mutable.Queue[Slot]() // issued, not emitted
    // Completed calls, put by `onComplete`; only the task thread frees slots.
    val completed = new java.util.concurrent.LinkedBlockingQueue[Slot]()
    var inFlight = 0
    new Iterator[C] {
      private var pending: Option[C] = None
      private def free(s: Slot): Unit = if (!s.freed) { s.freed = true; inFlight -= 1 }
      private def fill(): Unit = {
        var s = completed.poll()
        while (s != null) { free(s); s = completed.poll() }
        while (inFlight < n && window.size < hold && iter.hasNext) {
          val a = iter.next()
          val slot = new Slot(a, submit(a))
          window.enqueue(slot)
          inFlight += 1
          slot.fut.onComplete(_ => completed.put(slot))(ExecutionContext.parasitic)
        }
      }
      private def advance(): Unit =
        while (pending.isEmpty && { fill(); window.nonEmpty }) {
          val head = window.head
          val deadline = limit.map(_.fromNow)
          while (!head.fut.isCompleted && deadline.forall(_.hasTimeLeft())) {
            val s = deadline.fold(completed.take())(d => completed.poll(d.timeLeft.toNanos, TimeUnit.NANOSECONDS))
            if (s != null) { free(s); fill() }
          }
          window.dequeue()
          head.fut.value match {
            case Some(Success(b)) => pending = Some(mk(head.a, b))
            case Some(Failure(e)) => throw e
            case None => free(head); countDrop(dropped, "mapAsync", t) // counted, never silent
          }
        }
      def hasNext: Boolean = { advance(); pending.nonEmpty }
      def next(): C = {
        advance()
        val r = pending.get; pending = None; r
      }
    }
  }

  /** Live census of a running stage — the reference's `stage_status`
    * dependency injection (pypeln/process/worker.py:103-117,189-209:
    * `active_workers`, `done`). On Spark the scheduler owns worker
    * lifecycle, so the census is a DRIVER-side view over
    * `SparkStatusTracker` (executor-side code sees its own identity via
    * [[WorkerInfo]] instead — accumulator reads don't flow back into
    * tasks on a real cluster). */
  final case class StageStatus(stageId: Int, activeWorkers: Int, completed: Int, total: Int) {
    def done: Boolean = activeWorkers == 0 && completed >= total
  }

  /** Status of every currently-active Spark stage (empty when idle). */
  def stageStatus(spark: SparkSession): Seq[StageStatus] = {
    val tracker = spark.sparkContext.statusTracker
    tracker.getActiveStageIds.toSeq.sorted.flatMap { id =>
      tracker.getStageInfo(id).map(si =>
        StageStatus(id, si.numActiveTasks, si.numCompletedTasks, si.numTasks))
    }
  }

  /** Executor-side ExecutionContext for [[GraftStage.mapAsync]] user
    * functions — the analog of the reference task backend's per-worker
    * event loop (task/utils.py:34-51). Reference it INSIDE the lambda
    * (`Future(...)(GraftStage.asyncEc)`): as an object member it
    * resolves statically on the executor, whereas a driver-side
    * ExecutionContext captured in the closure is not serializable. */
  lazy val asyncEc: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newCachedThreadPool(r => {
        val t = new Thread(r, "graft-async"); t.setDaemon(true); t
      }))

  /** Shared scratch pool for per-element timeout evaluation; daemon
    * threads so abandoned (non-interruptible) user code never blocks JVM
    * exit. The pool itself is cached/elastic: a hard thread cap would
    * deadlock fresh elements behind abandoned hung ones, and
    * interrupt-on-timeout (below) reclaims threads from any user code
    * that honors interruption — so for cooperative code the pool stays
    * at ≈ the number of concurrently evaluating elements. */
  private lazy val timeoutPool = java.util.concurrent.Executors.newCachedThreadPool(r => {
    val t = new Thread(r, "graft-timeout"); t.setDaemon(true); t
  })

  /** Live count of ABANDONED attempts: timed-out elements whose user
    * code ignored the interrupt and is still running on its scratch
    * thread. The reference reclaims these by killing the OS worker
    * process (process/worker.py:152-161); a JVM cannot kill a thread
    * safely, so the analog is a RESOURCE BOUND: past
    * `graft.timeout.maxAbandoned` live abandoned threads (default 256,
    * a system property so operators can size it per executor), the
    * next timed element fails fast with a diagnosis instead of letting
    * the JVM accrete hung threads without limit. */
  private[graft] val abandonedCount = new java.util.concurrent.atomic.AtomicInteger(0)

  private def maxAbandoned: Int =
    Integer.getInteger("graft.timeout.maxAbandoned", 256)

  /** Run `body` with a wall-clock bound: Some(result) if it finishes,
    * None if not — in which case the attempt is cancelled WITH interrupt
    * (reference semantics: kill worker, drop element, keep going —
    * process/supervisor.py:26-31). Non-interruptible attempts count
    * against the abandoned-thread bound until they eventually exit. */
  private[graft] def withTimeout[A](t: FiniteDuration)(body: => A): Option[A] = {
    if (abandonedCount.get() >= maxAbandoned)
      throw new IllegalStateException(
        s"graft timeout: ${abandonedCount.get()} abandoned worker threads " +
          "are still running user code that ignored interruption " +
          "(limit graft.timeout.maxAbandoned=" + maxAbandoned + "). " +
          "Make the timed code honor Thread.interrupt, raise the limit, " +
          "or restart the executor — refusing new timed work rather than " +
          "accreting hung threads without bound.")
    // abandoned bookkeeping: the flag flips exactly once, either by the
    // waiter (timeout path, increments) or by task exit (decrements iff
    // the waiter already gave up on it)
    val abandoned = new java.util.concurrent.atomic.AtomicBoolean(false)
    val fut = timeoutPool.submit(new Callable[A] {
      def call(): A =
        try body
        finally if (abandoned.getAndSet(true)) abandonedCount.decrementAndGet()
    })
    try Some(fut.get(t.toMillis, TimeUnit.MILLISECONDS))
    catch {
      case _: JTimeoutException =>
        fut.cancel(true)
        if (!abandoned.getAndSet(true)) abandonedCount.incrementAndGet()
        None
      case e: java.util.concurrent.ExecutionException => throw e.getCause
    }
  }
}

/** Typed error propagation (reference: worker exceptions cross the
  * process boundary as `PipelineException` and are re-raised in the
  * caller with the ORIGINAL type + remote traceback,
  * pypeln/process/queue.py:88-104, pypeln/utils.py:21-39, test
  * map_process_test.py:168-183). Spark already ships the serialized
  * cause back to the driver inside SparkException — we unwrap the cause
  * chain and re-throw the user's exception, remote stack intact.
  */
object GraftErrors {
  private def isEngine(e: Throwable): Boolean = {
    val n = e.getClass.getName
    n.startsWith("org.apache.spark.Spark") || n.startsWith("org.apache.spark.sql")
  }

  /** Innermost non-Spark cause, or the original throwable if none. */
  def userCause(e: Throwable): Throwable = {
    var cur: Throwable = e
    var best: Throwable = e
    while (cur != null) {
      if (!isEngine(cur)) { best = cur; cur = null }
      else cur = cur.getCause
    }
    best
  }

  def unwrap[A](body: => A): A =
    try body catch { case e: Throwable if isEngine(e) => throw userCause(e) }
}

/** `to_stage`-style implicit coercions (reference:
  * pypeln/process/api/to_stage.py:9-13): any Seq or Dataset lifts into a
  * GraftStage at a pipe boundary via `.toStage`. */
object GraftImplicits {
  implicit class SeqToStage[T](private val xs: Iterable[T]) extends AnyVal {
    def toStage(implicit spark: SparkSession, et: Encoder[T], ee: Encoder[Element[T]]): GraftStage[T] =
      GraftStage.fromIterable(xs)
  }
  implicit class DatasetToStage[T](private val d: Dataset[T]) extends AnyVal {
    def toStage(implicit ee: Encoder[Element[T]]): GraftStage[T] =
      GraftStage.fromDataset(d)
  }
}
