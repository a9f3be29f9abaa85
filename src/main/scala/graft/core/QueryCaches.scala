package graft.core

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** Query-scoped registry for persisted/checkpointed data that must not
  * outlive its query in a long-lived session (the bench/verify harness
  * runs the full declared inventory in ONE SparkSession — round-3
  * finding: un-released persists accumulate cached partitions across
  * 49 queries × multiple passes).
  *
  * Producers ([[graft.ext.DedupOps]] sketch relations,
  * [[GraftStage.cached]] fan-out stages, every checkpoint below)
  * register here; the harness calls [[release]] AFTER each query's
  * terminal action. Releasing before the terminal action is a caller
  * bug for checkpointed frames (a localCheckpoint truncates lineage —
  * its blocks are the only copy).
  *
  * Checkpoint contract — the one way an operator cuts lineage or
  * carries iterative state:
  *  - [[checkpoint]] runs an eager `localCheckpoint` and registers the
  *    checkpoint to the calling thread the moment it exists, so a
  *    query that fails later (mid-loop included) leaves nothing behind
  *    after [[release]].
  *  - [[drop]] frees one checkpoint or [[track]]ed frame now, without
  *    blocking, and forgets it — for data the query no longer reads.
  *  - [[iterate]] checkpoints every round and drops the round it
  *    supersedes as soon as the successor exists. The seed belongs to
  *    the caller and is never dropped by `iterate` (a caller may replay
  *    over it afterwards); it stays registered like any checkpoint.
  */
object QueryCaches {
  // Strong references on purpose: release() must unpersist
  // DETERMINISTICALLY even after the query's terminal action dropped
  // the last caller reference (a weak ref can be GC-cleared in that
  // window, leaving the blocks to the ContextCleaner's eventual
  // GC-driven sweep — the leak test then flakes). The registry is a
  // query-scoped contract: the harness (Bench/Verify/tests) calls
  // release() after every query; a long-lived embedding application
  // should do the same per batch, or unpersist its Datasets itself
  // (track() purges entries already unpersisted out-of-band, so
  // self-managed callers don't grow the buffer).
  // Entries are OWNED by the thread that registered them (round-4
  // advice): under concurrent queries in one JVM (thrift-server use,
  // parallel suites), a JVM-wide release() could drop another in-flight
  // query's localCheckpoint blocks — whose lineage is truncated, so
  // that query would fail with lost blocks rather than recompute.
  // release() therefore only sweeps the calling thread's entries, plus
  // entries whose owner thread has died (their query can no longer be
  // in flight — this keeps the sequential-harness leak guarantee even
  // when a test registered from a short-lived thread).
  private final case class Entry(owner: Thread, ds: Dataset[_], ckpt: Option[RDD[_]]) {
    // a checkpoint's blocks belong to its own RDD — the Dataset API
    // offers no unpersist handle for them
    def live: Boolean = ckpt.fold(ds.storageLevel)(_.getStorageLevel) != StorageLevel.NONE
    def free(): Unit = ckpt match {
      case Some(rdd) => rdd.unpersist(blocking = false)
      case None => ds.unpersist(blocking = false)
    }
  }
  private val entries = scala.collection.mutable.ArrayBuffer.empty[Entry]

  /** Persist `ds` (default storage level) and register it for release. */
  def track[T](ds: Dataset[T]): Dataset[T] =
    synchronized {
      entries.filterInPlace(_.live)
      entries += Entry(Thread.currentThread(), ds.persist(), None)
      ds
    }

  /** Eager `localCheckpoint` of `ds`, registered to the calling thread
    * for [[release]]. The checkpoint's OWN rdd is read from the result's
    * `LogicalRDD` plan — a before/after diff of `sc.getPersistentRDDs`
    * would also capture caches whose lazy RDDs first materialize during
    * the same job (e.g. a tracked edge relation), and dropping those
    * would force every later round to recompute the whole upstream.
    * When the checkpoint's own job fails there is no result to read the
    * rdd from; the RDD Spark persisted for it is left to the
    * ContextCleaner. */
  def checkpoint[T](ds: Dataset[T]): Dataset[T] = {
    val out = ds.localCheckpoint()
    val rdd = out.queryExecution.analyzed.collectFirst { case l: LogicalRDD => l.rdd }
    synchronized { entries += Entry(Thread.currentThread(), out, rdd) }
    out
  }

  /** Unpersist one [[checkpoint]] or [[track]]ed frame now (non-blocking)
    * and remove its registry entry, whichever thread registered it. A
    * frame this registry does not hold is left alone. */
  def drop(ds: Dataset[_]): Unit = synchronized {
    entries.filterInPlace { e => if (e.ds eq ds) { e.free(); false } else true }
  }

  /** Up to `maxRounds` rounds of `state = checkpoint(step(state))` from
    * `seed`, each superseded round [[drop]]ped right after its successor
    * materializes. `done` sees every new round (never the seed) and ends
    * the loop when it holds; it is the only place a caller's per-round
    * driver sync may run — `iterate` itself adds no Spark job beyond
    * the checkpoints (they are eager, so no count() is needed before
    * the drop; r17 measured that count as a duplicate job per round).
    * Returns the last round, or `seed` when none ran. */
  def iterate[T](seed: Dataset[T], maxRounds: Int)(step: Dataset[T] => Dataset[T])(
      done: Dataset[T] => Boolean): Dataset[T] = {
    @annotation.tailrec
    def loop(state: Dataset[T], round: Int): Dataset[T] =
      if (round >= maxRounds) state
      else {
        val next = checkpoint(step(state))
        if (state ne seed) drop(state)
        if (done(next)) next else loop(next, round + 1)
      }
    loop(seed, 0)
  }

  /** Registry entries owned by the calling thread (test hook). */
  private[graft] def owned: Int =
    synchronized(entries.count(_.owner eq Thread.currentThread()))

  /** Unpersist everything the CALLING thread tracked, plus orphans from
    * dead threads (idempotent; non-blocking). Another live thread's
    * in-flight entries are left alone. */
  def release(): Unit = releaseWhere { owner =>
    (owner eq Thread.currentThread()) || !owner.isAlive
  }

  /** Unpersist EVERY tracked entry regardless of owning thread — the
    * shutdown/idle-sweep escape hatch for pooled-thread applications
    * (a pool worker that registered caches and returned to the pool
    * stays alive without ever calling [[release]], so its entries are
    * invisible to other threads' release() by design). Only call when
    * no query is in flight: dropping a live query's localCheckpoint
    * blocks fails it with lost blocks, not a recompute. */
  def releaseAll(): Unit = releaseWhere(_ => true)

  private def releaseWhere(sweep: Thread => Boolean): Unit = synchronized {
    entries.filterInPlace { e => if (sweep(e.owner)) { e.free(); false } else true }
  }
}
