package graft.streaming

import graft.core.{GraftErrors, WorkerInfo}
import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, EncoderImplicits, ForeachWriter,
  KeyValueGroupedDataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** Streaming pipeline stage: the unbounded analog of
  * [[graft.core.GraftStage]], built on Structured Streaming. The
  * reference's signature capability is an unbounded iterable flowing
  * through bounded queues (`maxsize` backpressure,
  * reference: pypeln/process/stage.py:41-43, docs/advanced.md:72;
  * its 100M-url benchmark streams an infinite generator,
  * benchmarks/100_million_downloads/client-pypeln-io.py:11-12). The
  * Spark-native mapping:
  *
  *   - unbounded source   → `readStream` (rate / file / kafka)
  *   - `maxsize` bound    → per-trigger admission caps
  *                          (`maxFilesPerTrigger`, `rowsPerSecond`,
  *                          `maxOffsetsPerTrigger`) — the engine never
  *                          buffers more than one trigger's worth of
  *                          input per stage, which IS bounded-queue
  *                          backpressure in micro-batch form
  *   - map/flatMap/filter → identical lazy transforms on the streaming
  *                          Dataset (one WholeStageCodegen per batch)
  *   - `each`/`run`       → `ForeachWriter` (open/process/close =
  *                          on_start/f/on_done lifecycle,
  *                          reference: process/worker.py:68-127) or
  *                          `foreachBatch`
  *   - event-time windows → watermark + window()/session_window()
  *                          (extension beyond the reference, SURVEY §2.2;
  *                          batch oracles in graft.queries.EventQueries)
  *
  * At 100 TB/day the same code runs against kafka with
  * `maxOffsetsPerTrigger` sizing each micro-batch to cluster capacity;
  * state stores (windows, dedup, sessions) are RocksDB-backed and keyed
  * by the groupBy columns, so state shuffles once per key, not per
  * event.
  */
final class GraftStream[T](val ds: Dataset[T]) {

  def map[B](f: T => B)(implicit eb: Encoder[B]): GraftStream[B] =
    new GraftStream(ds.map(f))

  def flatMap[B](f: T => IterableOnce[B])(implicit eb: Encoder[B]): GraftStream[B] =
    new GraftStream(ds.flatMap(f))

  def filter(p: T => Boolean): GraftStream[T] = new GraftStream(ds.filter(p))

  def filterCol(c: Column): GraftStream[T] = new GraftStream(ds.filter(c))

  /** Async-IO map on the unbounded stream — the reference's flagship
    * workload (100M downloads: task backend, workers=1000 overlapping
    * request latency, benchmarks/100_million_downloads/client-pypeln-io.py).
    * Same engine as the batch [[graft.core.GraftStage.mapAsync]],
    * applied per micro-batch partition: `workers` is the number of calls
    * in flight, and a partition holds up to `4 × workers` finished
    * results for emission in submission order; `timeout` drops
    * stragglers (zero, negative or infinite: no bound). Build Futures on
    * `GraftStage.asyncEc` inside the lambda. */
  def mapAsync[B](f: T => scala.concurrent.Future[B], workers: Int = 8,
      timeout: scala.concurrent.duration.Duration = graft.core.GraftStage.DefaultAsyncTimeout)(
      implicit eb: Encoder[B]): GraftStream[B] = {
    val dropped = graft.core.GraftStage.droppedAccumulator(ds.sparkSession.sparkContext)
    new GraftStream(ds.mapPartitions(it =>
      graft.core.GraftStage.asyncWindowIterator(
        it, math.max(1, workers), timeout, f, (_: T, b: B) => b, dropped)))
  }

  /** Union-all of streams; micro-batches interleave as they arrive,
    * order not preserved — the concurrent-backend concat contract
    * (reference: pypeln/process/api/concat.py:14-16). */
  def concat(others: GraftStream[T]*): GraftStream[T] =
    new GraftStream(others.foldLeft(ds)((a, b) => a.union(b.ds)))

  /** Per-element side-effect sink with the full worker lifecycle:
    * `onStart` once per partition-epoch (open), `f` per element,
    * `onDone` on close — the streaming `each(..., run=True)`
    * (reference: pypeln/process/api/each.py:137-141 + ForeachWriter's
    * open/process/close contract). Returns the started query. */
  def eachStart[S](f: (T, S) => Unit,
      onStart: WorkerInfo => S = (_: WorkerInfo) => null.asInstanceOf[S],
      onDone: S => Unit = (_: S) => ()): StreamingQuery =
    ds.writeStream.foreach(new ForeachWriter[T] {
      @transient private var state: S = _
      def open(partitionId: Long, epochId: Long): Boolean = {
        val tc = TaskContext.get()
        state = onStart(WorkerInfo(partitionId.toInt,
          if (tc == null) -1 else tc.numPartitions(), -1, epochId))
        true
      }
      def process(value: T): Unit = f(value, state)
      def close(errorOrNull: Throwable): Unit = onDone(state)
    }).start()

  /** Micro-batch sink: `f(batchDf, batchId)` — the bulk-side-effect
    * form (write a batch to a store, call a service per batch). */
  def eachBatch(f: (Dataset[T], Long) => Unit): StreamingQuery =
    ds.writeStream.foreachBatch(f).start()

  /** Drain everything currently available through the sink writer, then
    * stop — the bounded-drain `run` used by tests and batch-like jobs
    * (reference: pypeln/process/api/run.py:15-43). User exceptions
    * re-throw with their original type. */
  def runAvailable(writer: DataStreamWriter[T] => DataStreamWriter[T] = identity): Unit =
    GraftErrors.unwrap {
      val q = writer(ds.writeStream.format("noop")).start()
      try q.processAllAvailable() finally q.stop()
    }

  def writeStream: DataStreamWriter[T] = ds.writeStream

  def toDF: DataFrame = ds.toDF()

  def |>[B](f: GraftStream[T] => GraftStream[B]): GraftStream[B] = f(this)
}

object GraftStream {

  /** Encoders for the operators' rows, keys and state, with no session
    * in scope — the derivation `spark.implicits` uses (Spark's own
    * `StatefulProcessor.implicits` is built the same way). */
  private object encoders extends EncoderImplicits
  import encoders._

  /** Unbounded rate source (the infinite-generator analog):
    * `rowsPerSecond` IS the maxsize knob — admission is bounded per
    * trigger, downstream pulls, nothing buffers unboundedly. Columns:
    * `timestamp: TimestampType`, `value: LongType`. */
  def rate(spark: SparkSession, rowsPerSecond: Long): GraftStream[Row] =
    new GraftStream(spark.readStream.format("rate")
      .option("rowsPerSecond", rowsPerSecond).load())

  /** File-backed stream over a parquet directory; `maxFilesPerTrigger`
    * is the maxsize analog (bounded files admitted per micro-batch). */
  def files(spark: SparkSession, path: String, schema: StructType,
      maxFilesPerTrigger: Int = 1): GraftStream[Row] =
    new GraftStream(spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger).parquet(path))

  /** Events-lake stream with the canonical `ts`: nanos-since-epoch
    * BIGINT, whatever the parquet physically stores (bigint-nanos or
    * timestamp[us] — the two spellings the generator has shipped).
    * The schema is taken from the existing files' footers (one
    * driver-side read; a streaming source needs an explicit schema
    * anyway), and [[graft.queries.Tables.normalizeEventTs]] — a pure
    * projection, so streaming-safe — rides every micro-batch. This is
    * the production entry point: without it every consumer must know
    * to wrap `files(...)` in the normalizer by hand. */
  def events(spark: SparkSession, path: String,
      maxFilesPerTrigger: Int = 1): GraftStream[Row] = {
    val schema = spark.read.parquet(path).schema
    new GraftStream(graft.queries.Tables.normalizeEventTs(
      files(spark, path, schema, maxFilesPerTrigger).toDF))
  }

  /** Watermarked tumbling-window aggregate — the streaming form of
    * graft.queries.EventQueries.eventsWindow (its batch oracle). */
  def windowedCounts(df: DataFrame, tsCol: String, watermark: String,
      windowLen: String): DataFrame =
    df.withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("win_start"), col("n"))

  /** Streaming exact dedup: drop re-occurrences of `keyCols` with
    * bounded state — the watermark expires dedup state older than the
    * lateness bound, so state is O(keys-per-watermark-window), not
    * O(stream). The streaming form of the dedup_exact fingerprint
    * groupBy (use graft.ext.TextOps.fingerprint as the key column for
    * content dedup). */
  def dedupExact(df: DataFrame, tsCol: String, watermark: String,
      keyCols: String*): DataFrame =
    df.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols.toSeq)

  /** How a [[keyedFold]] key's state ends.
    *  - [[Kept]]: no timeout; the state lives until the step drops it.
    *  - [[Idle]]: processing-time TTL, re-armed on every data call
    *    (`""` = no timeout). A key untouched for `ttl` expires.
    *  - [[Wake]]: event-time. While `open(state)` (work waiting on the
    *    watermark) the key wakes at watermark + 1, so it progresses with
    *    no new rows; once nothing is open, an `idle` event-time TTL
    *    (`""` = none) from the watermark arms its expiry instead. */
  private sealed trait Expiry[S]
  private final case class Kept[S]() extends Expiry[S]
  private final case class Idle[S](ttl: String) extends Expiry[S]
  private final case class Wake[S](open: S => Boolean, idle: String = "") extends Expiry[S]

  /** The keyed-state fold under every stateful operator in this file —
    * the one place that speaks Spark's GroupState protocol, as
    * [[graft.core.QueryCaches.iterate]] is for batch loops.
    *
    * Per key and trigger, `step(key, stored, rows, wm)` gets the key's
    * stored state (`None` for a new key) and this trigger's rows, and
    * returns the next state (`None` drops the key) and the rows to emit,
    * in emission order. `wm` is the event-time watermark (ms) under
    * [[Wake]] or `watermark = true`, else 0: reading it needs a
    * watermarked input. A key called because its [[Idle]] TTL or its
    * [[Wake]] `idle` TTL fired goes to `expired` instead (default: drop
    * it, emit nothing); a [[Wake]] key woken with open work goes to
    * `step` with no rows. Timeouts are re-armed only after `step`; the
    * state `expired` keeps is kept with no timeout. */
  private def keyedFold[K, V, S: Encoder, O: Encoder](grouped: KeyValueGroupedDataset[K, V],
      expiry: Expiry[S] = Kept[S](), watermark: Boolean = false,
      expired: (K, S) => (Option[S], IterableOnce[O]) = (_: K, _: S) => (None, Nil))(
      step: (K, Option[S], Iterator[V], Long) => (Option[S], IterableOnce[O])): Dataset[O] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val timeout = expiry match {
      case Idle(ttl) if ttl.nonEmpty => GroupStateTimeout.ProcessingTimeTimeout
      case Wake(_, _) => GroupStateTimeout.EventTimeTimeout
      case _ => GroupStateTimeout.NoTimeout
    }
    val readWm = watermark || timeout == GroupStateTimeout.EventTimeTimeout
    grouped.flatMapGroupsWithState(OutputMode.Append, timeout) {
      (key: K, rows: Iterator[V], state: GroupState[S]) =>
        val prev = state.getOption
        val wm = if (readWm) state.getCurrentWatermarkMs() else 0L
        // an event-time timeout with work open is a wake-up, not an expiry
        val expiring = state.hasTimedOut && (expiry match {
          case Wake(open, _) => !open(prev.get)
          case _ => true
        })
        val (next, out) = if (expiring) expired(key, prev.get) else step(key, prev, rows, wm)
        next match {
          case None => if (prev.isDefined) state.remove()
          case Some(s) =>
            state.update(s)
            if (!expiring) expiry match {
              case Idle(ttl) if ttl.nonEmpty => state.setTimeoutDuration(ttl)
              case Wake(open, idle) =>
                if (open(s)) state.setTimeoutTimestamp(wm + 1L)
                else if (idle.nonEmpty) state.setTimeoutTimestamp(math.max(wm, 0L), idle)
              case _ => ()
            }
        }
        out.iterator
    }
  }

  /** The PURE per-bucket transition behind every bucketed pairing
    * operator here ([[nearDupCandidates]], [[nearDupVerified]],
    * [[hammingCandidates]], [[gridCandidates]], [[jwLinkage]]; wired
    * by [[bucketed]]), extracted so eviction/admission/pairing
    * semantics are provable by direct unit test (StreamingSpec's
    * bucketStep tests) instead of racing micro-batch scheduling.
    *
    * Inputs mirror the fold's two calls exactly: `prev` is the stored
    * member prefix (`None` = bucket absent or already evicted),
    * `timedOut` whether the bucket's TTL fired (rows never accompany a
    * timeout call), `fresh` this micro-batch's arrivals for the bucket;
    * two members are the same member when their `id`s are equal.
    * `pair(a, b)` is the operator's verdict on two members: the row to
    * emit, or None. Returns `(nextState, emitted)`; `nextState = None`
    * means the bucket is evicted.
    *
    * Contract (each clause is a unit test):
    *  - timeout ⇒ `(None, Nil)`: the bucket is forgotten, nothing emits;
    *  - a fresh member with `prev = None` re-seeds the bucket and pairs
    *    with nothing — the documented recall trade for late duplicates;
    *  - every fresh member pairs against the FULL stored prefix (cross,
    *    `pair(fresh, stored)`, linear, ≤ maxBucket per element) even
    *    when over the cap;
    *  - only members admitted under `maxBucket` pair among themselves
    *    (intra, `pair(earlier, later)`) and are remembered;
    *  - members already stored are no-ops. */
  def bucketStep[M, O](prev: Option[Seq[M]], timedOut: Boolean, fresh: Seq[M],
      maxBucket: Int)(pair: (M, M) => Option[O], id: M => Any = (m: M) => m)
      : (Option[Seq[M]], Seq[O]) =
    if (timedOut) (None, Seq.empty)
    else {
      val stored = prev.getOrElse(Seq.empty)
      val storedIds = stored.map(id).toSet
      val news = fresh.distinctBy(id).filterNot(m => storedIds(id(m)))
      // maxBucket must bound the trigger-local work too: N copies
      // of a template arriving in ONE micro-batch would otherwise
      // emit ~N²/2 intra pairs before any post-hoc state cap. Only
      // ADMITTED members (up to the bucket's remaining capacity)
      // pair among themselves and enter state; every fresh member
      // still pairs against the stored prefix (cross is linear,
      // ≤ maxBucket per element — detection against the bucket's
      // established members continues at any flood size, matching
      // the pre-cap behavior where overflow members paired but
      // were not remembered).
      val admitted = news.take(math.max(0, maxBucket - stored.size))
      val cross = for { n <- news; p <- stored; o <- pair(n, p) } yield o
      val intra = admitted.combinations(2).flatMap { case Seq(a, b) => pair(a, b) }.toSeq
      (Some(stored ++ admitted), cross ++ intra)
    }

  /** A bucketed pairing operator: [[bucketStep]] folded over each
    * bucket of `grouped` (members `member(row)`) under the
    * processing-time TTL `ttl`. */
  private def bucketed[K, V, M, O: Encoder](grouped: KeyValueGroupedDataset[K, V],
      maxBucket: Int, ttl: String)(member: V => M)(pair: (M, M) => Option[O], id: M => Any)(
      implicit members: Encoder[Seq[M]]): Dataset[O] =
    keyedFold(grouped, Idle(ttl), expired = (_: K, s: Seq[M]) =>
        bucketStep(Some(s), timedOut = true, Nil, maxBucket)(pair, id)) {
      (_, prev, rows, _) =>
        bucketStep(prev, timedOut = false, rows.map(member).toSeq, maxBucket)(pair, id)
    }

  /** Streaming near-duplicate candidates: incoming documents are
    * sketched (shingle fps → MinHash → banded LSH, the same native
    * kernels as batch [[graft.ext.DedupOps.nearDupPairs]]) and each
    * (band, key) bucket keeps its member ids as KEYED STATE — a new
    * document emits a candidate pair against every doc already in any
    * of its buckets, across micro-batch boundaries. This is the
    * incoming-training-data dedup shape: state per bucket, shuffle per
    * (band, key), never a corpus-wide join.
    *
    * `maxBucket` caps state per bucket AND trigger-local intra pairing
    * (boilerplate floods get truncated — the streaming capBuckets;
    * overflow members still pair against the stored prefix, linearly);
    * bucket COUNT is bounded by
    * `stateTtl`: each bucket's state carries a processing-time timeout,
    * RE-ARMED on every access, so hot buckets (active boilerplate,
    * recurring templates) live as long as they keep matching while cold
    * buckets — vocabulary seen once and never again — are evicted after
    * `stateTtl` of inactivity. Total state is then O(buckets touched
    * per TTL window), not O(vocabulary over the job's lifetime). The
    * recall trade is explicit: a duplicate arriving AFTER its
    * original's buckets went cold re-seeds the buckets instead of
    * pairing (the tested contract); size `stateTtl` to the dedup
    * horizon the pipeline needs. `stateTtl = ""` disables eviction
    * (NoTimeout): detection stays exact for the job's lifetime, state
    * grows with vocabulary — the bounded-run mode.
    *
    * Engine caveat with eviction on: ProcessingTimeTimeout makes
    * `FlatMapGroupsWithStateExec.shouldRunAnotherBatch` always true,
    * so the engine schedules timeout-check batches continuously and
    * `StreamingQuery.processAllAvailable()` NEVER observes quiescence
    * — drive such queries by trigger/polling (see StreamingSpec), and
    * give them a real trigger interval in production.
    *
    * Pairs may repeat when two docs share
    * several buckets; feed through a downstream [[dedupExact]]-style
    * dropDuplicates or dedupe at the sink.
    * Verify candidates with exact Jaccard offline (candidates are a
    * superset; verification needs the fps, which the caller retains) —
    * or use [[nearDupVerified]], which keeps the minhash signature in
    * state and emits estimator-verified pairs in-stream. */
  def nearDupCandidates(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, hashes: Int = 64, bands: Int = 16, maxBucket: Int = 64,
      stateTtl: String = "30 minutes"): Dataset[(Long, Long)] = {
    import graft.ext.{DedupOps, TextOps}
    val sigs = df.select(col(idCol).cast("long").as("id"),
        posexplode(DedupOps.bandSigs(DedupOps.minhash(
          DedupOps.shingleFps(TextOps.tokens(col(textCol)), k), hashes), bands, hashes / bands))
          .as(Seq("band", "sig")))
      .as[(Long, Int, Long)]
    bucketed(sigs.groupByKey(r => (r._2, r._3)), maxBucket, stateTtl)(_._1)(
      (a, b) => Some((math.min(a, b), math.max(a, b))), identity)
  }

  /** Streaming near-duplicate VERIFIED pairs: the same bucketed
    * keyed-state plan as [[nearDupCandidates]], but each bucket member's
    * state carries its compact MinHash signature alongside the id
    * (~8·`hashes` bytes/member vs 8 B id-only), so candidate pairs are
    * verified IN-STREAM with the Broder estimator — est = |{i :
    * sig_a(i) = sig_b(i)}| / hashes ≈ Jaccard(a, b) (the estimator the
    * batch `dedup_minhash_est` query calibrates against exact Jaccard
    * under the DuckDB oracle) — and only pairs at `threshold` or above
    * are emitted, as (id_a, id_b, est) with id_a < id_b. No offline
    * verification pass needed; the recall trade vs batch
    * [[graft.ext.DedupOps.nearDupPairs]] is the estimator's sampling
    * error (sd ≈ √(j(1−j)/hashes)) instead of exact-Jaccard truth.
    *
    * Same state bounds as the candidates variant: `maxBucket` caps
    * members per bucket, `stateTtl` (processing-time, re-armed on
    * access) bounds bucket count — and the same engine caveat: with a
    * TTL, `processAllAvailable()` never observes quiescence (drive by
    * trigger/polling). Pairs sharing several buckets repeat with
    * identical est values — `dropDuplicates` downstream. */
  def nearDupVerified(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, hashes: Int = 64, bands: Int = 16, threshold: Double = 0.7,
      maxBucket: Int = 64, stateTtl: String = "30 minutes"): Dataset[(Long, Long, Double)] = {
    import graft.ext.{DedupOps, TextOps}
    val sigs = df
      .select(col(idCol).cast("long").as("id"),
        DedupOps.minhash(DedupOps.shingleFps(TextOps.tokens(col(textCol)), k), hashes).as("mh"))
      .select(col("id"), col("mh"),
        posexplode(DedupOps.bandSigs(col("mh"), bands, hashes / bands)).as(Seq("band", "sig")))
      .as[(Long, Seq[Long], Int, Long)]
    // each compared pair pays an O(hashes) estimator scan
    bucketed(sigs.groupByKey(r => (r._3, r._4)), maxBucket, stateTtl)(r => (r._1, r._2))(
      { (a, b) =>
        val est = a._2.iterator.zip(b._2.iterator).count(t => t._1 == t._2).toDouble / hashes
        Option.when(est >= threshold)((math.min(a._1, b._1), math.max(a._1, b._1), est))
      }, _._1)
  }

  /** Streaming twin of the GENERIC banded hamming pairing
    * ([[graft.ext.DedupOps.hammingPairs]]) — works for ANY ≤62-bit
    * locality hash already in a column: SimHash, the byte-gradient
    * perceptual hash, the audio band-energy fingerprint
    * ([[graft.ext.MultimodalOps.byteBandEnergyHash]]). The hash is
    * split into the SAME contiguous bands as the batch operator (width
    * bits/bands, last band absorbs the remainder), each (band, key)
    * bucket keeps (id, fullHash) as keyed state, and pairs are VERIFIED
    * in-stream — `bitCount(xor) <= maxHamming` on the stored hashes, so
    * the emission is exactly the batch pair set (pigeonhole recall:
    * choose bands > maxHamming), not a candidate superset. Emits
    * (id_a, id_b, hamming) with id_a < id_b; pairs sharing several
    * buckets repeat with identical hamming — dropDuplicates downstream.
    *
    * Same state discipline as [[nearDupCandidates]] (flood-bounded
    * intra pairing over ADMITTED members, `maxBucket` state cap, TTL
    * re-armed on access — and the same `processAllAvailable` caveat
    * when a TTL is set); state per member is two longs, so a bucket
    * costs ≤ 16·maxBucket bytes. */
  def hammingCandidates(df: DataFrame, idCol: String, hashCol: String,
      bits: Int, bands: Int, maxHamming: Int = 2,
      maxBucket: Int = 64, stateTtl: String = "30 minutes"): Dataset[(Long, Long, Long)] = {
    require(bands >= 1 && bits >= bands && bits <= 62,
      s"need 1 <= bands <= bits <= 62, got bits=$bits bands=$bands")
    val width = bits / bands
    val bandKeys = array((0 until bands).map { j =>
      val lo = j * width
      val w = if (j == bands - 1) bits - lo else width
      shiftrightunsigned(col("sig"), lo).bitwiseAND(lit((1L << w) - 1L))
    }: _*)
    val sigs = df
      .select(col(idCol).cast("long").as("id"), col(hashCol).cast("long").as("sig"))
      .select(col("id"), col("sig"), posexplode(bandKeys).as(Seq("band", "key")))
      .as[(Long, Long, Int, Long)]
    bucketed(sigs.groupByKey(r => (r._3, r._4)), maxBucket, stateTtl)(r => (r._1, r._2))(
      { (a, b) =>
        val ham = java.lang.Long.bitCount(a._2 ^ b._2).toLong
        Option.when(ham <= maxHamming)((math.min(a._1, b._1), math.max(a._1, b._1), ham))
      }, _._1)
  }

  /** Streaming point-in-region containment — the unbounded twin of
    * the batch geo_region_join: each arriving point joins the
    * BROADCAST cell cover on its home cell and pays the exact integer
    * winding test only for cover candidates
    * ([[graft.queries.GeoQueries.regionMembership]] verbatim — one
    * containment definition for both modes). STATELESS (projection +
    * stream-static broadcast equi-joins), so stream == batch holds at
    * every prefix regardless of chunking — the geofence/alerting shape:
    * points flow, the region catalog sits broadcast, membership rows
    * (region_id, vec_id, px, py) emit per micro-batch. */
  def regionMembers(df: DataFrame, idCol: String, xCol: String,
      yCol: String, cell: Long = 200L): DataFrame =
    graft.queries.GeoQueries.regionMembership(
      df.select(col(idCol).cast("long").as("vec_id"),
        col(xCol).cast("long").as("px"), col(yCol).cast("long").as("py")),
      cell)

  /** Streaming spatial radius join — the unbounded twin of
    * [[graft.queries.GeoQueries]] geo_radius_join: each arriving point
    * (non-negative integer grid coords, the batch contract) lands a
    * HOME entry in its own cell and PROBE entries in the 8 ring
    * neighbors; within a cell's keyed state, a pair emits iff the
    * LARGER id's entry is a home entry — which happens in exactly ONE
    * cell (the larger point's home; the smaller point always has an
    * entry there because a ≤radius pair is within one cell step per
    * axis), so each qualifying pair emits exactly once regardless of
    * arrival order or chunking, matching the batch orientation
    * id_a < id_b. Flood bounds as in [[nearDupCandidates]]: fresh
    * entries always verify against the stored prefix; only the first
    * `maxCell` entries per cell are admitted to state; `stateTtl`
    * evicts cold cells. Cap caveat (mirrors nearDupCandidates): an
    * entry REJECTED by the `maxCell` cap still pairs against the
    * previously STORED members (cross), but not against other entries
    * arriving in the same micro-batch (intra pairs only among admitted
    * members) — so near the cap, emission for over-cap entries depends
    * on how arrivals chunk into batches; the exactly-once guarantee
    * above is for pairs whose larger-id member is admitted. Emits
    * (id_a, id_b, d2) with d2 the integer squared Euclidean distance
    * ≤ radius². */
  def gridCandidates(df: DataFrame, idCol: String, xCol: String, yCol: String,
      radius: Long, maxCell: Int = 64,
      stateTtl: String = "30 minutes"): Dataset[(Long, Long, Long)] = {
    require(radius >= 1, s"radius must be >= 1, got $radius")
    val offs = Seq(-1L, 0L, 1L)
    val entries = df
      .select(col(idCol).cast("long").as("id"),
        col(xCol).cast("long").as("px"), col(yCol).cast("long").as("py"))
      .select(col("id"), col("px"), col("py"),
        explode(array((for { dx <- offs; dy <- offs } yield
          struct((expr(s"px div $radius") + lit(dx)).as("gx"),
            (expr(s"py div $radius") + lit(dy)).as("gy"),
            lit(dx == 0L && dy == 0L).as("home"))): _*)).as("g"))
      .select(col("id"), col("px"), col("py"),
        col("g.gx").as("gx"), col("g.gy").as("gy"), col("g.home").as("home"))
      .as[(Long, Long, Long, Long, Long, Boolean)]
    val r2 = radius * radius
    // an entry is (id, px, py, home), one per (id, home) in a cell
    bucketed(entries.groupByKey(r => (r._4, r._5)), maxCell, stateTtl)(
      r => (r._1, r._2, r._3, r._6))(
      { (u, v) =>
        if (u._1 == v._1) None
        else {
          val (s, l) = if (u._1 < v._1) (u, v) else (v, u)
          val d2 = (s._2 - l._2) * (s._2 - l._2) + (s._3 - l._3) * (s._3 - l._3)
          if (l._4 && d2 <= r2) Some((s._1, l._1, d2)) else None
        }
      }, e => (e._1, e._4))
  }

  /** Streaming blocked entity resolution — the unbounded twin of
    * `dedup_entity_jw`: each arriving record's mention (leading
    * `mentionLen` chars) is compared by [[HashKernels.jaroWinkler]]
    * against the mentions already stored for its BLOCKING key (the
    * mention's first token), and pairs scoring ≥ `threshold` are
    * emitted as (id_lo, id_hi, jw). Same flood bounds as
    * [[nearDupCandidates]]: intra-batch pairing only among members
    * admitted under `maxBlock`; fresh members always compare against
    * the stored prefix (linear, ≤ maxBlock each); `stateTtl` evicts
    * cold blocks. State carries (id, mention) — ~mentionLen bytes per
    * member, bounded by maxBlock × live blocks. The JW kernel is the
    * SAME bit-exact function the batch oracle gates, so stream ==
    * batch parity is exact, not approximate. */
  def jwLinkage(df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.92, mentionLen: Int = 24,
      maxBlock: Int = 64, stateTtl: String = "30 minutes"): Dataset[(Long, Long, Double)] = {
    import org.apache.spark.unsafe.types.UTF8String
    val mentions = df
      .select(col(idCol).cast("long").as("id"),
        substring(col(textCol), 1, mentionLen).as("mention"))
      .select(col("id"), col("mention"),
        split(col("mention"), " ").getItem(0).as("blk"))
      .as[(Long, String, String)]
    bucketed(mentions.groupByKey(_._3), maxBlock, stateTtl)(r => (r._1, r._2))(
      { (a, b) =>
        val (lo, hi) = if (a._1 < b._1) (a, b) else (b, a)
        val jw = graft.functions.HashKernels.jaroWinkler(
          UTF8String.fromString(lo._2), UTF8String.fromString(hi._2))
        Option.when(jw >= threshold)((lo._1, hi._1, jw))
      }, _._1)
  }

  /** Watermarked session windows (gap-based) — the streaming form of
    * EventQueries.eventsSessions. Spark's native session_window state
    * machine; keyed state shuffles once per (key, session). Boundary:
    * an event at most `gap` after its key's previous event joins that
    * session — exactly `gap` later still joins (each event spans
    * [ts, ts + gap) and touching spans merge) — and any later event
    * opens a new one (StreamingSpec pins this). */
  def sessionCounts(df: DataFrame, tsCol: String, keyCol: String,
      watermark: String, gap: String): DataFrame =
    df.withWatermark(tsCol, watermark)
      .groupBy(session_window(col(tsCol), gap), col(keyCol))
      .agg(count(lit(1)).as("n_events"))
      .select(col(keyCol), col("session_window.start").as("session_start"),
        col("n_events"))

  /** Streaming trailing-window spike detection — the unbounded form of
    * [[graft.queries.EventQueries.eventsSpikes]]: per key, daily event
    * counts, a day flagged when 7·n(day) > 2·Σ(previous 7 closed days).
    * ONE stateful operator does both the counting and the flagging
    * (Spark restricts (flat)MapGroupsWithState downstream of a
    * streaming aggregation, and a second state machine would shuffle
    * again anyway): keyed state holds the OPEN per-day counts plus the
    * ≤7-day closed tail, and the query's event-time watermark decides
    * when a day is final (day_end ≤ watermark). Emission is
    * watermark-driven via EventTimeTimeout re-armed just past the
    * current watermark, so a key's days close and flag even when that
    * key receives no further events. State per key is O(days open
    * within the watermark + 7) fixed-width longs — bounded by
    * rate × watermark delay, never by stream length. The flag compare
    * is all-integer (7·n > 2·trail), identical to the batch oracle;
    * only days with a FULL 7-closed-day history emit (the batch
    * `n_prev = 7` guard). Late events inside the watermark land in
    * their still-open day; once a day closed, stragglers are dropped
    * by the watermark before reaching the operator. */
  def spikeDetect(df: DataFrame, tsCol: String, keyCol: String,
      watermark: String): Dataset[(String, java.sql.Timestamp, Long, Long, Boolean)] = {
    val DayMs = 86400000L
    // the WATERMARKED event-time column itself must reach the state
    // operator (EventTimeTimeout rejects a plan whose event-time
    // attribute was projected away, and a cast strips the watermark
    // metadata — so `tsCol` must already be TimestampType and is
    // aliased, never rewritten); day bucketing happens inside.
    val keyed = df.withWatermark(tsCol, watermark)
      .select(col(keyCol).cast("string").as("k"), col(tsCol).as("et"))
      .as[(String, java.sql.Timestamp)]
    // state: (open day → count, ≤7-day closed tail, closed-day count).
    // The key wakes ONLY while it has open days awaiting closure: the
    // next watermark advance must re-invoke it even with no new data.
    // A key with nothing open stays dormant (new data re-invokes it
    // anyway) — otherwise every key ever seen would time out on every
    // watermark advance forever, scanning the whole state store per
    // trigger at high key cardinality.
    keyedFold(keyed.groupByKey(_._1),
        Wake[(Map[Long, Long], Seq[(Long, Long)], Long)](_._1.nonEmpty)) {
      (key, prev, rows, wm) =>
        val (open0, tail0, closed0) =
          prev.getOrElse((Map.empty[Long, Long], Seq.empty[(Long, Long)], 0L))
        // fold this trigger's events into their (possibly new) open days
        val open = rows.foldLeft(open0) { case (m, (_, ts)) =>
          val d = math.floorDiv(ts.getTime, DayMs) * DayMs
          m.updated(d, m.getOrElse(d, 0L) + 1L)
        }
        val (closable, stillOpen) = open.partition { case (d, _) => d + DayMs <= wm }
        var tail = tail0
        var nClosed = closed0
        val out = Seq.newBuilder[(String, java.sql.Timestamp, Long, Long, Boolean)]
        for ((d, n) <- closable.toSeq.sortBy(_._1)) {
          if (nClosed >= 7) { // tail holds exactly the 7 preceding closed days
            val trail = tail.map(_._2).sum
            out += ((key, new java.sql.Timestamp(d), n, trail, n * 7 > trail * 2))
          }
          tail = (tail :+ (d, n)).takeRight(7)
          nClosed += 1
        }
        (Some((stillOpen, tail, nClosed)), out.result())
    }
  }

  /** Streaming incremental trend — the unbounded form of
    * [[graft.queries.EventQueries.eventsTrend]]: the five OLS sums
    * (n, Σx, Σy, Σxy, Σx²) are associative, so the keyed state folds
    * each watermark-CLOSED day into them and emits the refreshed
    * EXACT slope fraction (slope_num = n·Σxy − Σx·Σy, slope_den =
    * n·Σx² − (Σx)² — never a division, the batch query's integer
    * contract) after every closure. Same state discipline as
    * [[spikeDetect]]: open-day counts accumulate until the watermark
    * passes day end, EventTimeTimeout re-arms only while days are
    * open, so per-key state is O(open days + 5 longs) — bounded by
    * the lateness horizon, never by stream length. The row emitted
    * when a key's LAST day closes carries exactly the batch
    * eventsTrend sums over the same days (StreamingSpec parity). */
  def trendUpdates(df: DataFrame, tsCol: String, keyCol: String,
      watermark: String): Dataset[(String, java.sql.Timestamp, Long, Long, Long, Long)] = {
    val DayMs = 86400000L
    val keyed = df.withWatermark(tsCol, watermark)
      .select(col(keyCol).cast("string").as("k"), col(tsCol).as("et"))
      .as[(String, java.sql.Timestamp)]
    keyedFold(keyed.groupByKey(_._1),
        Wake[(Map[Long, Long], (Long, Long, Long, Long, Long))](_._1.nonEmpty)) {
      (key, prev, rows, wm) =>
        val (open0, sums0) = prev.getOrElse((Map.empty[Long, Long], (0L, 0L, 0L, 0L, 0L)))
        val open = rows.foldLeft(open0) { case (m, (_, ts)) =>
          val d = math.floorDiv(ts.getTime, DayMs) * DayMs
          m.updated(d, m.getOrElse(d, 0L) + 1L)
        }
        val (closable, stillOpen) = open.partition { case (d, _) => d + DayMs <= wm }
        var (nD, sx, sy, sxy, sxx) = sums0
        val out = Seq.newBuilder[(String, java.sql.Timestamp, Long, Long, Long, Long)]
        for ((d, n) <- closable.toSeq.sortBy(_._1)) {
          val x = d / DayMs
          nD += 1; sx += x; sy += n; sxy += x * n; sxx += x * x
          out += ((key, new java.sql.Timestamp(d), nD, sy,
            nD * sxy - sx * sy, nD * sxx - sx * sx))
        }
        (Some((stillOpen, (nD, sx, sy, sxy, sxx))), out.result())
    }
  }

  /** Streaming weekly-cohort tracker — the unbounded feed of the
    * `events_cohorts` matrix: per user, state holds the cohort (first
    * active epoch-week) and the recently-seen week set; the FIRST time
    * a (user, week) pair appears, ONE `(cohort_week, week_offset)`
    * increment is emitted (exactly-once per pair via the state dedup),
    * so any downstream count of increments per (cohort, offset)
    * reproduces the batch matrix's `n_active`.
    *
    * State bound: `seen` keeps only weeks the watermark can still
    * touch — the operator itself drops rows whose week is below the
    * watermark week (Spark's built-in late-row filter for fmGWS only
    * engages under EventTimeTimeout, not the NoTimeout used here), so
    * a trimmed week can never be seen again. Per-user state
    * is therefore O(weeks inside the watermark horizon) + 1 long,
    * independent of stream length. Cohort assignment is append-only:
    * within one trigger the minimum week wins exactly; an
    * out-of-order EARLIER first-week arriving in a LATER trigger
    * (possible only inside the watermark, i.e. ≤ horizon/7 weeks of
    * skew) re-bases the cohort for FUTURE emissions but cannot
    * retract rows already appended — the standard streaming-cohort
    * tradeoff; the batch query remains the exact reference. */
  def cohortUpdates(df: DataFrame, tsCol: String, userCol: String,
      watermark: String): Dataset[(Long, Long)] = {
    val WeekMs = 7L * 86400000L
    val keyed = df.withWatermark(tsCol, watermark)
      .select(col(userCol).cast("string").as("u"), col(tsCol).as("et"))
      .as[(String, java.sql.Timestamp)]
    keyedFold(keyed.groupByKey(_._1), watermark = true) {
      (_, prev: Option[(Long, Set[Long])], rows, wm) =>
        val wmWeek = math.floorDiv(wm, WeekMs)
        // EXPLICITLY drop rows whose week the watermark has passed:
        // Spark filters late input to keyed state only under
        // EventTimeTimeout (verified in
        // FlatMapGroupsWithStateExecBase — NoTimeout passes
        // stragglers through), and the seen-week trim below assumes
        // such a week can never reappear. Without this filter a
        // straggler would re-emit an already-counted increment.
        val weeks = rows.map(r => math.floorDiv(r._2.getTime, WeekMs))
          .filter(_ >= wmWeek).toSeq
        val (cohort0, seen0) = prev.getOrElse((Long.MaxValue, Set.empty[Long]))
        val cohort = math.min(cohort0, if (weeks.isEmpty) Long.MaxValue else weeks.min)
        val fresh = weeks.distinct.filterNot(seen0)
        // weeks below the watermark week are unreachable now that
        // the input filter above enforces it — trim them from state
        val seen = (seen0 ++ fresh).filter(_ >= wmWeek)
        (Some((cohort, seen)), fresh.sorted.iterator.map(w => (cohort, w - cohort)))
    }
  }

  /** Streaming SCD2 / change-interval tracker — the unbounded feed of
    * [[graft.queries.EventQueries.eventsScd]]: per key, rows buffer
    * until the watermark passes their event time, then fold in exact
    * (ts, tiebreak) order; each fold step whose state differs from the
    * previous CLOSED row's state appends one `(key, valid_from_ms,
    * state)` interval-open row — the SCD2 history table grows by
    * appends, valid_to of an interval being the next interval's
    * valid_from (the standard open-ended encoding, no retractions
    * needed). Late rows below the watermark are dropped explicitly
    * (same fmGWS caveat as [[cohortUpdates]]: Spark's built-in late
    * filter only engages under EventTimeTimeout — which IS used here,
    * but the drop must not depend on it). State is the open buffer
    * (bounded by lateness horizon × arrival rate, NEVER stream length)
    * plus 2 longs; EventTimeTimeout re-arms while the buffer is
    * non-empty so a quiet key still flushes when the watermark
    * advances. Fold order ties broken by `tieCol` (event_id) — the
    * batch query's exact window order, which is what makes the final
    * interval count per key equal the batch `n_intervals`
    * (StreamingSpec parity). */
  def scdUpdates(df: DataFrame, tsCol: String, keyCol: String,
      stateCol: String, tieCol: String,
      watermark: String): Dataset[(String, Long, Long)] = {
    val keyed = df.withWatermark(tsCol, watermark)
      .select(col(keyCol).cast("string").as("k"), col(tsCol).as("et"),
        col(stateCol).cast("long").as("s"), col(tieCol).cast("long").as("tb"))
      .as[(String, java.sql.Timestamp, Long, Long)]
    // state: (hasLast, last closed state, open buffer of (ts, tie, s))
    keyedFold(keyed.groupByKey(_._1),
        Wake[(Boolean, Long, Seq[(Long, Long, Long)])](_._3.nonEmpty)) {
      (key, prev, rows, wm) =>
        val (hasLast0, last0, buf0) = prev.getOrElse((false, 0L, Seq.empty[(Long, Long, Long)]))
        // buffer new in-horizon rows; drop late stragglers explicitly
        val buf = buf0 ++ rows.map(r => (r._2.getTime, r._4, r._3))
          .filter(_._1 >= wm)
        val (ripe, open) = buf.partition(_._1 < wm)
        var (hasLast, last) = (hasLast0, last0)
        val out = Seq.newBuilder[(String, Long, Long)]
        for ((ts, _, s) <- ripe.sorted) {
          if (!hasLast || s != last) out += ((key, ts, s))
          hasLast = true; last = s
        }
        (Some((hasLast, last, open)), out.result())
    }
  }

  /** Streaming stay-point detection — the unbounded twin of
    * [[graft.queries.GeoQueries.geoStayPoints]]'s gaps-and-islands
    * fold: positions buffer until the watermark passes their event
    * time (the scdUpdates posture — islands are SEQUENTIAL semantics,
    * so out-of-order arrivals must be re-ordered inside the lateness
    * horizon before folding), then fold in exact (tus, tie) order:
    * a break (first position, or a step with |dx| or |dy| > 3) closes
    * the open run — emitting it iff it spans ≥ 3 events — and opens
    * the next. State per user is the lateness-horizon buffer plus ONE
    * open-run accumulator (run ordinal, start, last, n, Σx, Σy — six
    * longs), so state is horizon-bounded at any stream length. Closed
    * runs match the batch row bit-exactly (StreamingSpec feeds the
    * sf0.001 walk in shuffled chunks and closes final runs with
    * sentinel breaks); the still-open run emits nothing — a dwell is
    * only a dwell once the walker provably left. */
  def stayUpdates(df: DataFrame, userCol: String, etCol: String,
      tusCol: String, tieCol: String, dxCol: String, dyCol: String,
      xCol: String, yCol: String, watermark: String)
      : Dataset[(Long, Long, Long, Long, Long, Long, Long)] = {
    val keyed = df.withWatermark(etCol, watermark)
      .select(col(userCol).cast("long").as("u"), col(etCol).as("et"),
        col(tusCol).cast("long").as("t"), col(tieCol).cast("long").as("e"),
        col(dxCol).cast("long").as("dx"), col(dyCol).cast("long").as("dy"),
        col(xCol).cast("long").as("x"), col(yCol).cast("long").as("y"))
      .as[(Long, java.sql.Timestamp, Long, Long, Long, Long, Long, Long)]
    // state: (started, open run (runId, start, last, n, sx, sy),
    //         buffer of (tus, tie, dx, dy, x, y))
    keyedFold(keyed.groupByKey(_._1), Wake[(Boolean, (Long, Long, Long, Long, Long, Long),
        Seq[(Long, Long, Long, Long, Long, Long)])](_._3.nonEmpty)) {
      (key, prev, rows, wm) =>
        val (started0, run0, buf0) = prev.getOrElse(
          (false, (0L, 0L, 0L, 0L, 0L, 0L), Seq.empty))
        val buf = buf0 ++ rows.map(r => (r._3, r._4, r._5, r._6, r._7, r._8))
          .filter(_._1 / 1000L >= wm) // drop past-horizon stragglers
        val (ripe, open) = buf.partition(_._1 / 1000L < wm)
        var started = started0
        var run = run0
        val out = Seq.newBuilder[(Long, Long, Long, Long, Long, Long, Long)]
        def close(): Unit = if (started && run._4 >= 3L)
          out += ((key, run._1, run._4, run._2, run._3 - run._2,
            1000L * run._5 / run._4, 1000L * run._6 / run._4))
        for ((tus, _, dx, dy, x, y) <- ripe.sorted) {
          val small = math.abs(dx) <= 3L && math.abs(dy) <= 3L
          if (!started || !small) {
            close()
            run = (run._1 + 1L, tus, tus, 1L, x, y)
          } else run = (run._1, run._2, tus, run._4 + 1L,
            run._5 + x, run._6 + y)
          started = true
        }
        (Some((started, run, open)), out.result())
    }
  }

  /** Streaming anchor-visit extraction — the unbounded twin of
    * [[graft.queries.GeoQueries.geoMapMatch]]'s islands fold: the
    * anchor SNAP itself is stateless (a broadcast cover join +
    * projection — [[graft.queries.GeoQueries.anchorSnap]] runs
    * unchanged on a stream, the regionMembers posture), so the only
    * stateful work is ordering: snapped positions buffer until the
    * watermark passes their event time, then fold in exact (tus, tie)
    * order — an anchor CHANGE (including to/from the off-network −1)
    * closes the open run, emitting it iff it was on-network, and opens
    * the next. The run ordinal counts EVERY break (off-network runs
    * consume an ordinal without emitting), so emitted rows equal the
    * batch rollup bit-exactly (StreamingSpec parity with sentinel
    * closes). State per user: the lateness-horizon buffer + one 5-long
    * open-run accumulator — horizon-bounded at any stream length.
    *
    * State lifecycle (round-16 advice): without a TTL the per-user key
    * and open-run accumulator persist forever — one state entry per
    * ever-seen user on an always-on stream. `stateTtl` (an EVENT-TIME
    * duration string, e.g. "1 hour"; "" = never, for bounded
    * replays/tests) arms an eviction timeout whenever the buffer
    * drains: if the watermark then advances past last-activity + TTL
    * with nothing new, the still-open run is CLOSED AND EMITTED (the
    * user went quiet past any realistic gap — the visit is over) and
    * the key is dropped. A straggler after eviction re-opens the user
    * with a fresh ordinal — the odUpdates idempotent-upsert consumer
    * caveat, standard for every TTL'd twin in this file. */
  def anchorVisitUpdates(df: DataFrame, userCol: String, etCol: String,
      tusCol: String, tieCol: String, aidCol: String, watermark: String,
      stateTtl: String = "")
      : Dataset[(Long, Long, Long, Long, Long, Long)] = {
    val keyed = df.withWatermark(etCol, watermark)
      .select(col(userCol).cast("long").as("u"), col(etCol).as("et"),
        col(tusCol).cast("long").as("t"), col(tieCol).cast("long").as("e"),
        col(aidCol).cast("long").as("aid"))
      .as[(Long, java.sql.Timestamp, Long, Long, Long)]
    // state: (started, open run (runId, start, last, n, aid),
    //         buffer of (tus, tie, aid))
    def closed(key: Long, started: Boolean, run: (Long, Long, Long, Long, Long)) =
      Option.when(started && run._5 >= 0L)((key, run._1, run._5, run._4, run._2, run._3 - run._2))
    // TTL eviction (the only timeout that fires with a drained buffer):
    // the user went quiet past the horizon — the open run is over, emit
    // it iff on-network, drop the key.
    keyedFold(keyed.groupByKey(_._1),
        Wake[(Boolean, (Long, Long, Long, Long, Long), Seq[(Long, Long, Long)])](
          _._3.nonEmpty, stateTtl),
        expired = (key: Long,
            s: (Boolean, (Long, Long, Long, Long, Long), Seq[(Long, Long, Long)])) =>
          (None, closed(key, s._1, s._2))) {
      (key, prev, rows, wm) =>
        val (started0, run0, buf0) = prev.getOrElse(
          (false, (0L, 0L, 0L, 0L, 0L), Seq.empty))
        val buf = buf0 ++ rows.map(r => (r._3, r._4, r._5)).filter(_._1 / 1000L >= wm)
        val (ripe, open) = buf.partition(_._1 / 1000L < wm)
        var started = started0
        var run = run0
        val out = Seq.newBuilder[(Long, Long, Long, Long, Long, Long)]
        for ((tus, _, aid) <- ripe.sorted) {
          if (!started || aid != run._5) {
            out ++= closed(key, started, run)
            run = (run._1 + 1L, tus, tus, 1L, aid)
          } else run = (run._1, run._2, tus, run._4 + 1L, aid)
          started = true
        }
        (Some((started, run, open)), out.result())
    }
  }

  /** Streaming KMV distinct sketch — the unbounded feed of
    * [[graft.queries.EventQueries.eventsKmvDistinct]]: per key, state
    * holds the k SMALLEST salted id-hashes seen (a monotone min-set, so
    * no watermark is needed — late data can only improve the sketch,
    * never invalidate it). Whenever a trigger changes the sketch and it
    * holds k values, the refreshed (h_k, est_distinct = (k−1)·P div h_k)
    * is appended; the LAST emission per key equals the batch query's
    * row over the same data (StreamingSpec parity). Per-key state is
    * exactly k longs — this is the streaming sketch whose batch-side
    * merge [[graft.queries.EventQueries.eventsKmvOverlap]] exercises,
    * and the state bound holds at any stream length or cardinality.
    * `hashCol` must already be the salted fingerprint column (the
    * batch query's `kmv|id|graft` spelling) so stream and batch agree
    * bit-exactly. */
  def kmvUpdates(df: DataFrame, keyCol: String, hashCol: String,
      k: Int = 16): Dataset[(String, Long, Long)] = {
    val estNum = (k - 1) * 1000000007L
    val keyed = df.select(col(keyCol).cast("string").as("k"),
      col(hashCol).cast("long").as("h")).as[(String, Long)]
    keyedFold(keyed.groupByKey(_._1)) { (key, prev: Option[Seq[Long]], rows, _) =>
      val cur = prev.getOrElse(Seq.empty)
      val merged = (cur ++ rows.map(_._2)).distinct.sorted.take(k)
      (Some(merged),
        Option.when(merged.length == k && merged != cur)((key, merged.last, estNum / merged.last)))
    }
  }

  /** Streaming strict-order funnel — the real-time twin of
    * [[graft.queries.EventQueries.eventsFunnel3]]: per user, state is
    * the three first-qualifying timestamps (t1 = first view; t2 =
    * first click in (t1, t1+w]; t3 = first purchase in (t2, t2+w]);
    * each stage ADVANCE emits (user, stage, ts) exactly once. Because
    * the batch query takes per-stage MINIMUM times, a time-ordered
    * fold reaches the identical (t1, t2, t3) — the first qualifying
    * event in ts order IS the min — so a time-ordered feed's stage
    * counts equal the batch funnel bit-exactly (StreamingSpec parity).
    * Within a trigger rows are sorted by (ts, type); cross-trigger
    * late events older than an already-set stage cannot qualify (every
    * window is strictly after the prior stage), so no watermark is
    * needed and state is three longs per user, bounded forever. */
  def funnelUpdates(df: DataFrame, userCol: String, typeCol: String,
      tsCol: String, windowUs: Long = 86400000000L): Dataset[(Long, Int, Long)] = {
    val keyed = df.select(col(userCol).cast("long").as("u"),
      col(typeCol).cast("string").as("e"), col(tsCol).cast("long").as("ts"))
      .as[(Long, String, Long)]
    keyedFold(keyed.groupByKey(_._1)) { (user, prev: Option[(Long, Long, Long)], rows, _) =>
      var (t1, t2, t3) = prev.getOrElse((0L, 0L, 0L))
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Long)]
      rows.toSeq.sortBy(r => (r._3, r._2)).foreach { case (_, e, ts) =>
        // 0 is the unset-stage sentinel; a ts of exactly 0 would be
        // indistinguishable from it — state the contract (epoch-µs
        // event times are positive) instead of corrupting state
        require(ts > 0L,
          s"funnelUpdates: ts must be positive (0 is the unset sentinel) — got $ts")
        e match {
          case "view" if t1 == 0L =>
            t1 = ts; out += ((user, 1, ts))
          case "click" if t1 != 0L && t2 == 0L &&
              ts > t1 && ts <= t1 + windowUs =>
            t2 = ts; out += ((user, 2, ts))
          case "purchase" if t2 != 0L && t3 == 0L &&
              ts > t2 && ts <= t2 + windowUs =>
            t3 = ts; out += ((user, 3, ts))
          case _ => ()
        }
      }
      (Some((t1, t2, t3)), out)
    }
  }

  /** Streaming basket-association deltas — the unbounded twin of
    * [[graft.queries.EventQueries.eventsLift]]: per (user, day)
    * basket, state is the distinct type set seen so far; a type's
    * FIRST arrival in its basket emits one marginal delta
    * ("type", t, "") plus one pair delta ("pair", min, max) against
    * every type already present, and the basket's first event emits
    * ("basket", "", ""). Because every emission is keyed to a first
    * occurrence, each (basket, type) / (basket, pair) delta fires
    * exactly once at ANY trigger chunking and in ANY arrival order —
    * summing the deltas downstream reproduces the batch sufficient
    * statistics (n_t, n_ab, n_baskets) bit-exactly (StreamingSpec
    * parity), from which support/confidence/lift are the same integral
    * divisions the batch row performs. State: one ≤|types| string set
    * per open basket — the type DOMAIN bounds it, and day baskets are
    * closeable by watermark TTL one day after midnight in production
    * (the test keeps NoTimeout; the batch row is the repair path). */
  def liftUpdates(df: DataFrame, userCol: String, dayCol: String,
      typeCol: String): Dataset[(String, String, String)] = {
    val keyed = df.select(col(userCol).cast("long").as("u"),
      col(dayCol).cast("long").as("d"), col(typeCol).cast("string").as("e"))
      .as[(Long, Long, String)]
    keyedFold(keyed.groupByKey(r => (r._1, r._2))) { (_, prev: Option[Seq[String]], rows, _) =>
      val seen = scala.collection.mutable.LinkedHashSet.empty[String]
      prev.foreach(_.foreach(seen.add))
      val out = scala.collection.mutable.ArrayBuffer.empty[(String, String, String)]
      var opened = seen.nonEmpty
      // sorted fold: deterministic emission order within a trigger
      rows.toSeq.map(_._3).sorted.foreach { t =>
        if (!seen.contains(t)) {
          if (!opened) { out += (("basket", "", "")); opened = true }
          out += (("type", t, ""))
          seen.foreach { s =>
            out += (("pair", if (s < t) s else t, if (s < t) t else s))
          }
          seen.add(t)
        }
      }
      (Some(seen.toSeq), out)
    }
  }

  /** Streaming inactivity-gap feed — the unbounded producer for
    * [[graft.queries.EventQueries.eventsSurvival]]'s Kaplan-Meier
    * curve: per user, state is ONE long (the latest event ts); each
    * arriving event whose ts advances it emits the CLOSED gap
    * (user, prev_ts, gap_us). Time-ordered input per user reproduces
    * the batch lead-window gap set exactly (StreamingSpec parity; the
    * batch query's censored tail gaps are by definition the ones a
    * stream has not closed yet). Out-of-order arrivals within a
    * trigger are sorted before folding; a REGRESSING ts across
    * triggers (late data) is dropped rather than emitting a negative
    * gap — the batch operator is the repair path, the cdcUpdates →
    * cdcMerge pattern. State never grows (one long per user), so no
    * watermark/TTL is required. */
  def gapUpdates(df: DataFrame, keyCol: String, tsCol: String)
      : Dataset[(Long, Long, Long)] = {
    val keyed = df.select(col(keyCol).cast("long").as("k"),
      col(tsCol).cast("long").as("ts")).as[(Long, Long)]
    keyedFold(keyed.groupByKey(_._1)) { (key, prev: Option[Long], rows, _) =>
      var last = prev
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
      rows.toSeq.map(_._2).sorted.foreach { ts =>
        last match {
          case Some(p) if ts >= p => out += ((key, p, ts - p)); last = Some(ts)
          case Some(_) => () // regressed across triggers: drop, batch repairs
          case None => last = Some(ts)
        }
      }
      (last, out)
    }
  }

  /** Streaming HyperLogLog fold — the unbounded twin of
    * [[graft.queries.EventQueries.eventsHllDistinct]]'s integer-form
    * sketch: per key, state is the 64 max-rho registers (rho =
    * leading-zeros+1 of h div 64 in a 24-bit frame). Register max is
    * MONOTONE and order-independent, so like [[kmvUpdates]]/
    * [[cdcUpdates]] NO watermark is needed: any chunking of the input
    * converges to the identical register array, and the LAST emission
    * per key equals the batch sketch bit-exactly (same scaled-integer
    * Z and ⌊α·m²·2²⁵ / Z⌋ estimate — StreamingSpec parity). Emits
    * (key, z_scaled, est_distinct) only on triggers that changed a
    * register; per-key state is a fixed 64-long array — bounded at any
    * stream length, the mergeable-sketch property as keyed state. */
  def hllUpdates(df: DataFrame, keyCol: String, hashCol: String)
      : Dataset[(String, Long, Long)] = {
    val M = 64; val W = 24; val SCALE = 25
    val keyed = df.select(col(keyCol).cast("string").as("k"),
      col(hashCol).cast("long").as("h")).as[(String, Long)]
    keyedFold(keyed.groupByKey(_._1)) { (key, prev: Option[Seq[Long]], rows, _) =>
      val regs = prev.getOrElse(Seq.fill(M)(0L)).toArray
      var changed = false
      rows.foreach { case (_, h) =>
        // contract: h is a non-negative ≤30-bit fingerprint (the
        // batch twin's is < 1e9+7 < 2^30). Enforce it — a negative
        // h would index regs(-b) and a wider one breaks the rho
        // frame; fail with the contract, not an AIOOBE mid-trigger.
        require(h >= 0L && h < (1L << 30),
          s"hllUpdates: hash column must be in [0, 2^30) — got $h " +
            "(use a bounded fingerprint, e.g. the batch twin's (…)%1000000007)")
        val b = (h % M).toInt
        val v = h / M
        val rho =
          if (v == 0L) (W + 1).toLong
          else (W + 1).toLong - (64 - java.lang.Long.numberOfLeadingZeros(v))
        if (rho > regs(b)) { regs(b) = rho; changed = true }
      }
      (Some(regs.toSeq), Option.when(changed) {
        val z = regs.map(r => if (r == 0L) 1L << SCALE else 1L << (SCALE - r.toInt)).sum
        (key, z, 97444218012L / z)
      })
    }
  }

  /** Streaming as-of enrichment — the unbounded twin of
    * [[graft.ext.AsOfJoin]] (both implementations): a tagged union of
    * reference rows (side 0: the right/build stream, e.g. quotes or
    * feature snapshots) and probe rows (side 1: the left stream, e.g.
    * trades or purchases) flows through per-key state holding ONLY the
    * latest-so-far reference (ts, value) — the streaming statement of
    * AsOfJoinExec's O(1) merge state. Each probe emits
    * (key, probe_ts, ref_ts, ref_val) with the best reference whose
    * ts ≤ probe_ts at PROCESSING time. Within one trigger, rows are
    * folded in (ts, side) order, so reference rows at ts ≤ a probe in
    * the same batch ARE visible to it (the ≤ contract), and a
    * same-trigger feed sorted by event time reproduces the batch
    * as-of exactly (StreamingSpec parity). Late REFERENCE rows that
    * arrive in a later trigger than a probe they precede are the
    * documented approximation — the batch operator is the repair path
    * (the cdcUpdates → cdcMerge pattern); state never grows (one
    * (Long, Long) per key), so no watermark/TTL is required. */
  def asofUpdates(df: DataFrame, keyCol: String, tsCol: String,
      sideCol: String, valCol: String): Dataset[(Long, Long, Long, Long, Boolean)] = {
    val keyed = df.select(col(keyCol).cast("long").as("k"),
      col(tsCol).cast("long").as("ts"), col(sideCol).cast("int").as("side"),
      col(valCol).cast("long").as("v")).as[(Long, Long, Int, Long)]
    // state: (refTs, refVal); none before any reference
    keyedFold(keyed.groupByKey(_._1)) { (key, prev: Option[(Long, Long)], rows, _) =>
      var ref = prev
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long, Boolean)]
      // (ts, side) order: references at a probe's exact ts sort first
      rows.toSeq.sortBy(r => (r._2, r._3)).foreach { case (_, ts, side, v) =>
        if (side == 0) {
          if (ref.forall(_._1 <= ts)) ref = Some((ts, v))
        } else ref match {
          case Some((rts, rv)) if rts <= ts => out += ((key, ts, rts, rv, true))
          case _ => out += ((key, ts, 0L, 0L, false))
        }
      }
      (ref, out)
    }
  }

  /** Streaming CDC upsert fold — the unbounded feed of
    * [[graft.ext.MergeOps.cdcMerge]]'s changelog side: per key, state
    * holds the current last-writer-wins winner ((ord, tie) argmax over
    * op + payload) plus the running change count. The argmax is
    * associative and order-independent, so NO watermark is needed —
    * a late row with a smaller (ord, tie) simply loses, one with a
    * larger wins, and the fold converges to the batch answer under any
    * chunking (same monotone-state argument as [[kmvUpdates]]). Each
    * trigger that touches a key re-emits its winner
    * (key, op, value, n_changes); the LAST emission per key equals the
    * batch changelog fold bit-exactly (StreamingSpec parity), ready to
    * be applied to the base snapshot with `foreachBatch(cdcMerge)`.
    * Per-key state is one winner tuple + a counter — bounded at any
    * stream length, no timeout to manage. */
  def cdcUpdates(df: DataFrame, keyCol: String, ordCol: String,
      tieCol: String, opCol: String, valCol: String): Dataset[(String, String, Long, Long)] = {
    val keyed = df.select(col(keyCol).cast("string").as("k"),
      col(ordCol).cast("long").as("o"), col(tieCol).cast("long").as("t"),
      col(opCol).cast("string").as("op"), col(valCol).cast("long").as("v"))
      .as[(String, Long, Long, String, Long)]
    keyedFold(keyed.groupByKey(_._1)) {
      (key, prev: Option[(Long, Long, String, Long, Long)], rows, _) =>
        var best = prev.map(s => (s._1, s._2, s._3, s._4))
        var n = prev.map(_._5).getOrElse(0L)
        for (r <- rows) {
          n += 1
          val cand = (r._2, r._3, r._4, r._5)
          if (best.forall(b => cand._1 > b._1 ||
              (cand._1 == b._1 && cand._2 > b._2)))
            best = Some(cand)
        }
        val b = best.get // rows is non-empty on a data call
        (Some((b._1, b._2, b._3, b._4, n)), Iterator.single((key, b._3, b._4, n)))
    }
  }

  /** Streaming 2-D skyline maintenance — the unbounded twin of the
    * batch Pareto-frontier operator (graft.queries.Relational
    * .qSkyline): per key, state holds the current frontier under
    * (maximize x, minimize y). A new point is dropped if dominated,
    * otherwise inserted and every point it dominates evicted — the
    * fold is order-independent (the frontier of a set is unique), so
    * NO watermark is needed and the final state equals the batch
    * skyline under any chunking/arrival order (the [[cdcUpdates]]
    * monotone-state argument; StreamingSpec pins parity against a
    * naive in-test oracle). Emits (key, n_points, "x:y;…" sorted x
    * desc) whenever the frontier changes; state is OUTPUT-bounded —
    * exactly the frontier itself, one (x, y) pair per surviving x
    * (expected O(log n) for independent dimensions), never the point
    * history. */
  def skylineUpdates(df: DataFrame, keyCol: String, xCol: String,
      yCol: String): Dataset[(String, Long, String)] = {
    val keyed = df.select(col(keyCol).cast("string").as("k"),
      col(xCol).cast("long").as("x"), col(yCol).cast("long").as("y"))
      .as[(String, Long, Long)]
    keyedFold(keyed.groupByKey(_._1)) { (key, prev: Option[Seq[(Long, Long)]], rows, _) =>
      var frontier = prev.getOrElse(Seq.empty)
      var changed = false
      for ((_, x, y) <- rows) {
        val dominated = frontier.exists { case (px, py) =>
          px >= x && py <= y && (px > x || py < y) }
        val dup = frontier.contains((x, y))
        if (!dominated && !dup) {
          frontier = frontier.filterNot { case (px, py) =>
            x >= px && y <= py } :+ ((x, y))
          changed = true
        }
      }
      // the stored frontier is kept sorted, so an unchanged one re-stores as is
      val sorted = if (changed) frontier.sortBy(p => (-p._1, p._2)) else frontier
      (Some(sorted), Option.when(changed)((key, sorted.length.toLong,
        sorted.map(p => s"${p._1}:${p._2}").mkString(";"))))
    }
  }

  /** Streaming drift-histogram fold — the unbounded twin of
    * `q_drift`'s band relation: per value band, state is the
    * (side A, side B) counter pair. Counters are an order-independent
    * MONOTONE fold (the [[kmvUpdates]]/[[cdcUpdates]] argument), so NO
    * watermark is needed and the final emission per band equals the
    * batch conditional-sum histogram bit-exactly under any chunking or
    * arrival order (StreamingSpec parity). Each trigger that touches a
    * band re-emits (band, cnt_a, cnt_b, n_seen — strictly increasing,
    * so "latest" is recoverable downstream); the TVD verdict then runs
    * in `foreachBatch` over the ≤|bands| emitted rows exactly as the
    * batch query spells it (cross-multiplied integer gaps, scalar
    * totals broadcast). State is 3 longs per band — bounded by the
    * band DOMAIN, not the stream length: the always-on drift monitor
    * costs the same after a year as after an hour. */
  def driftUpdates(df: DataFrame, bandCol: String,
      sideACol: String): Dataset[(Long, Long, Long, Long)] = {
    val keyed = df.select(col(bandCol).cast("long").as("band"),
      col(sideACol).cast("boolean").as("isa")).as[(Long, Boolean)]
    keyedFold(keyed.groupByKey(_._1)) { (band, prev: Option[(Long, Long, Long)], rows, _) =>
      var (a, b, n) = prev.getOrElse((0L, 0L, 0L))
      rows.foreach { r => if (r._2) a += 1 else b += 1; n += 1 }
      (Some((a, b, n)), Iterator.single((band, a, b, n)))
    }
  }

  /** Streaming HEAVY HITTERS — Space-Saving (Metwally et al. 2005) in
    * keyed state: keys hash-partition into `buckets` groups (each key
    * lives in exactly ONE group, so the per-group tables union into
    * the global answer with no double counting); each group maintains
    * a capacity-`cap` counter table under the classic rule — hit:
    * count++; miss with room: insert (1, 0); miss when full: evict the
    * min-count entry and inherit its count as the new entry's error
    * bound. State is bounded at buckets × cap entries FOREVER — the
    * always-on twin of `q_heavy_hitters`' exact batch profile, with
    * the CMS sketch's one-sided-error shape but a bounded CANDIDATE
    * SET too. Guarantees (StreamingSpec checks them against batch
    * exact counts): est ≥ true, est − err ≤ true, and any key with
    * true count > N_group/cap is present in the final table. Each
    * trigger re-emits the touched group's table; `n_seen` strictly
    * increases so downstream keeps the latest emission per group. */
  def topkUpdates(df: DataFrame, keyCol: String, buckets: Int = 8,
      cap: Int = 16): Dataset[(Long, String, Long, Long, Long)] = {
    require(buckets >= 1 && cap >= 1,
      s"topkUpdates: need buckets >= 1 and cap >= 1, got buckets=$buckets cap=$cap")
    val keyed = df.select(
      pmod(xxhash64(col(keyCol).cast("string")), lit(buckets.toLong)).as("b"),
      col(keyCol).cast("string").as("k")).as[(Long, String)]
    keyedFold(keyed.groupByKey(_._1)) {
      (bucket, prev: Option[(Map[String, (Long, Long)], Long)], rows, _) =>
        var (tab, n) = prev.getOrElse((Map.empty[String, (Long, Long)], 0L))
        rows.foreach { case (_, k) =>
          n += 1
          tab.get(k) match {
            case Some((c, e)) => tab = tab.updated(k, (c + 1, e))
            case None if tab.size < cap => tab = tab.updated(k, (1L, 0L))
            case None =>
              // deterministic evictee: min count, ties by key
              val (mk, (mc, _)) = tab.minBy { case (kk, (c, _)) => (c, kk) }
              tab = (tab - mk).updated(k, (mc + 1, mc))
          }
        }
        (Some((tab, n)), tab.iterator.map { case (k, (c, e)) => (bucket, k, c, e, n) })
    }
  }

  /** Streaming trajectory-endpoint tracker — the unbounded twin of
    * [[graft.queries.GeoQueries.geoOdMatrix]]'s per-(user, day)
    * endpoint fold for an always-on OD (origin→destination) matrix.
    * State per key is exactly TWO (tus, tie, x, y) quadruples — the
    * running (tus, tie)-argmin and argmax over the positions seen so
    * far — plus an observation counter. Min/max is an associative,
    * commutative, idempotent fold, so NO watermark is needed: the
    * final emission per key equals the batch struct-min/max
    * bit-exactly under any trigger chunking or arrival order (the
    * cdcUpdates posture). Emissions carry the strictly increasing
    * n_obs so a consumer keeps the last row per key; the zone rollup
    * downstream is stateless arithmetic over |user×day| rows.
    *
    * State lifecycle: the (user, day) key domain grows by one
    * generation per day on an always-on stream, so `stateTtl` (the
    * file's processing-time convention — re-armed on every access,
    * "" = NoTimeout for bounded replays/tests) evicts keys whose day
    * has gone quiet past any realistic lateness horizon; a straggler
    * after eviction re-opens the key and its emission's n_obs restarts,
    * which the keep-the-max-n_obs consumer contract already tolerates
    * only if the consumer treats (user, day) rows idempotently by
    * upsert — the cdcMerge repair path is the backstop, as with every
    * TTL'd twin in this file. */
  def odUpdates(df: DataFrame, userCol: String, dayCol: String,
      tusCol: String, tieCol: String, xCol: String, yCol: String,
      stateTtl: String = "")
      : Dataset[(Long, Long, Long, Long, Long, Long, Long)] = {
    val keyed = df.select(col(userCol).cast("long").as("u"),
      col(dayCol).cast("long").as("d"), col(tusCol).cast("long").as("t"),
      col(tieCol).cast("long").as("e"), col(xCol).cast("long").as("x"),
      col(yCol).cast("long").as("y")).as[(Long, Long, Long, Long, Long, Long)]
    def lt(a: (Long, Long, Long, Long), b: (Long, Long, Long, Long)): Boolean =
      a._1 < b._1 || (a._1 == b._1 && a._2 < b._2)
    keyedFold(keyed.groupByKey(r => (r._1, r._2)),
        Idle[((Long, Long, Long, Long), (Long, Long, Long, Long), Long)](stateTtl)) {
      (key, prev, rows, _) =>
        var (mn, mx, n) = prev.getOrElse(
          ((Long.MaxValue, Long.MaxValue, 0L, 0L),
            (Long.MinValue, Long.MinValue, 0L, 0L), 0L))
        rows.foreach { r =>
          val q = (r._3, r._4, r._5, r._6)
          if (lt(q, mn)) mn = q
          if (lt(mx, q)) mx = q
          n += 1
        }
        (Some((mn, mx, n)), Iterator.single((key._1, key._2, mn._3, mn._4, mx._3, mx._4, n)))
    }
  }

  /** Streaming co-traveler discovery — the unbounded twin of
    * [[graft.queries.GeoQueries.geoCotravel]]'s (hour, cell)
    * visit-bucket pairing, with the SAME >cap hot-bucket exclusion
    * expressed as stream-time RETRACTION: state per bucket is the
    * distinct-user member set; each NEW user pairs against the stored
    * members (emitting (bucket, user_a, user_b, +1) deltas — each
    * bucket-pair exactly once, the members-set dedup is the distinct()
    * of the batch row); the arrival that would push the bucket PAST
    * `cap` instead emits a −1 delta for every previously emitted pair
    * and tombstones the bucket (hot ⇒ excluded, matching the batch
    * HAVING ≤ cap exactly — a stadium hour says nothing about
    * co-travel). A consumer keeps pairs with positive net delta and
    * counts shared buckets ≥ minShared downstream; the net pair set
    * equals the batch cool-bucket pairing under ANY chunking or
    * arrival order (StreamingSpec parity). State per bucket is ≤ cap
    * member ids or the 1-bit tombstone; `stateTtl` (processing-time,
    * re-armed — "" = NoTimeout for bounded replays) evicts quiet hour
    * buckets' MEMBER SETS but persists the 1-bit hot tombstone
    * (round-16 advice): a bucket that tipped hot already retracted its
    * pairs, so forgetting the flag would let a straggler re-admit
    * pairs into a provably hot bucket — the flag is the cheapest state
    * in the op and is kept for the life of the stream. COOL buckets
    * evicted with emitted +1 deltas keep the standard re-opened-bucket
    * duplicate caveat ([[nearDupCandidates]]) — and one stronger edge:
    * if a re-opened bucket LATER tips past cap, only post-eviction
    * pairs are retracted, leaving pre-eviction +1s as net-positive
    * false positives. Deploy with stateTtl comfortably above the hour
    * bucket's activity horizon (hour + max lateness) so a bucket can
    * only be evicted once no arrival can still mutate it. */
  def cotravelUpdates(df: DataFrame, userCol: String, hbCol: String,
      cxCol: String, cyCol: String, cap: Int = 8, stateTtl: String = "")
      : Dataset[(Long, Long, Long, Long, Long, Int)] = {
    val keyed = df.select(col(userCol).cast("long").as("u"),
      col(hbCol).cast("long").as("hb"), col(cxCol).cast("long").as("cx"),
      col(cyCol).cast("long").as("cy")).as[(Long, Long, Long, Long)]
    // On expiry, evict the member set but KEEP the hot tombstone (1 bit)
    // so a straggler can never re-admit pairs into a bucket that already
    // retracted. The flag is kept with no timeout; the next arrival
    // re-arms the TTL as usual.
    keyedFold(keyed.groupByKey(r => (r._2, r._3, r._4)), Idle(stateTtl),
        expired = (_: (Long, Long, Long), s: (Boolean, Seq[Long])) =>
          (Option.when(s._1)((true, Seq.empty[Long])), Nil)) {
      (key, prev, rows, _) =>
        var (hot, members) = prev.getOrElse((false, Seq.empty[Long]))
        val out = Seq.newBuilder[(Long, Long, Long, Long, Long, Int)]
        rows.foreach { r =>
          val u = r._1
          if (!hot && !members.contains(u)) {
            if (members.size + 1 > cap) {
              // the bucket turns HOT: retract every emitted pair and
              // tombstone — no pair for the tipping user, none later
              for (Seq(a, b) <- members.combinations(2))
                out += ((key._1, key._2, key._3,
                  math.min(a, b), math.max(a, b), -1))
              hot = true
              members = Seq.empty
            } else {
              members.foreach(p => out += ((key._1, key._2, key._3,
                math.min(u, p), math.max(u, p), 1)))
              members = members :+ u
            }
          }
        }
        (Some((hot, members)), out.result())
    }
  }

  /** Generic keyed monotone-SUM fold — the primitive underneath
    * [[driftUpdates]] (two-sided counts) and the streaming twin of any
    * additive rollup: per key, state is one running Long sum plus an
    * update counter. Addition is associative and commutative, so NO
    * watermark is needed and the final emission per key equals the
    * batch `groupBy(key).sum(val)` bit-exactly under any chunking —
    * which is how the PAA series sketch of `events_series_sim` streams:
    * key = "type|segment", value = 1 per event, final sums == the
    * batch segment vector (StreamingSpec parity). State is 2 longs per
    * key, bounded by the key domain. */
  def sumUpdates(df: DataFrame, keyCol: String,
      valCol: String): Dataset[(String, Long, Long)] = {
    val keyed = df.select(col(keyCol).cast("string").as("k"),
      col(valCol).cast("long").as("v")).as[(String, Long)]
    keyedFold(keyed.groupByKey(_._1)) { (key, prev: Option[(Long, Long)], rows, _) =>
      var (s, n) = prev.getOrElse((0L, 0L))
      rows.foreach { r => s += r._2; n += 1 }
      (Some((s, n)), Iterator.single((key, s, n)))
    }
  }

  /** Streaming Welch experiment monitor — the unbounded twin of
    * [[graft.queries.EventQueries.eventsWelch]]: each arriving
    * (user, revenue-cents) observation folds into its arm's exact
    * integer moment state (n, Σm, Σm² — three longs per arm, constant
    * state, 2 keys total); every trigger emits the arm's updated
    * moments, so the t²/df readout is a stateless 2-row compute
    * downstream running the batch query's double expression tree —
    * stream equals batch because integer addition is commutative
    * across any trigger chunking. Input contract: ONE row per user
    * (the per-user revenue fold happens upstream — e.g. a compacted
    * CDC feed of user totals); the arm derives as user % 2, the same
    * assignment as the batch row. Σm² in cents² holds ~1e9 users of
    * 1e6-cent revenue under 2^63; the warehouse swap is a decimal
    * accumulator. */
  def welchUpdates(df: DataFrame, userCol: String,
      valCol: String): Dataset[(Long, Long, Long, Long)] = {
    val keyed = df.select((col(userCol) % 2).cast("long").as("arm"),
      col(valCol).cast("long").as("m")).as[(Long, Long)]
    keyedFold(keyed.groupByKey(_._1)) { (arm, prev: Option[(Long, Long, Long)], rows, _) =>
      var (n, s1, s2) = prev.getOrElse((0L, 0L, 0L))
      rows.foreach { r => n += 1L; s1 += r._2; s2 += r._2 * r._2 }
      (Some((n, s1, s2)), Iterator.single((arm, n, s1, s2)))
    }
  }

  /** Streaming behavioral-entropy monitor — the unbounded twin of
    * [[graft.queries.EventQueries.eventsMarkovEntropy]]: per SOURCE
    * state, the destination-count vector folds transition arrivals
    * (plain sums — commutative, chunking-proof), and each trigger
    * emits the refreshed H(dst | src) in exact millibits through the
    * SAME fast-log formula as the batch row (H·T = Σ c·(L(T) − L(c))).
    * A funnel edge whose entropy drifts UP is losing its
    * predictability — the live counterpart of the batch readout.
    * Input contract: (src, dst) transition rows from an upstream
    * sessionizer (the session-boundary logic stays where order lives;
    * counts themselves are order-free). State per src is the dst
    * count map — bounded by the event-type domain, not the stream. */
  def markovEntropyUpdates(df: DataFrame, srcCol: String,
      dstCol: String): Dataset[(String, Long, Long, Long)] = {
    val keyed = df.select(col(srcCol).cast("string").as("s"),
      col(dstCol).cast("string").as("d")).as[(String, String)]
    keyedFold(keyed.groupByKey(_._1)) { (src, prev: Option[Map[String, Long]], rows, _) =>
      var m = prev.getOrElse(Map.empty[String, Long])
      rows.foreach { r => m = m.updated(r._2, m.getOrElse(r._2, 0L) + 1L) }
      val t = m.values.sum
      val h = m.values.map { c =>
        c * (graft.functions.HashKernels.log2Millis(t) -
          graft.functions.HashKernels.log2Millis(c))
      }.sum
      (Some(m), Iterator.single((src, t, m.size.toLong, h / t)))
    }
  }

  /** Streaming Poisson-bootstrap CI monitor — the unbounded twin of
    * [[graft.queries.EventQueries.eventsBootstrap]]: a LIVE confidence
    * band on the running mean of per-user revenue. Works because the
    * Poisson bootstrap is embarrassingly incremental: each unit's
    * replicate weight is a pure function of (user_id, replicate)
    * through the same affine+mid-square hash and pinned Poisson(1)
    * CDF thresholds as the batch row, so each arrival folds
    * (w·m, w) into its replicate's two counters — plain sums,
    * commutative, stream == batch at every prefix regardless of
    * trigger chunking. State: 2 + 2·32 longs per key, constant; each
    * trigger emits (n, point_milli, boot_lo, boot_med, boot_hi) — the
    * 2nd/16-17th/31st order statistics of the 32 replicate estimates,
    * computed on the 32-element state array at emission (bounded
    * work). Input contract: ONE row per unit ([[welchUpdates]]'
    * compacted-feed contract — re-delivery of a unit double-counts;
    * upstream CDC compaction or [[cdcUpdates]] is the dedup stage). */
  def bootstrapUpdates(df: DataFrame, userCol: String,
      valCol: String): Dataset[(String, Long, Long, Long, Long, Long)] = {
    val keyed = df.select(col(userCol).cast("long").as("u"),
      col(valCol).cast("long").as("m")).as[(Long, Long)]
    // Poisson(1) CDF × 2^20, floored — identical literals to the batch row
    val cdf = Array(385749L, 771499L, 964373L, 1028665L, 1044738L)
    keyedFold(keyed.groupByKey(_ => "all")) {
      (key, prev: Option[(Long, Long, Seq[Long], Seq[Long])], rows, _) =>
        val st = prev.getOrElse((0L, 0L, Seq.fill(32)(0L), Seq.fill(32)(0L)))
        var n = st._1; var sm = st._2
        val num = st._3.toArray; val den = st._4.toArray
        rows.foreach { case (u, m) =>
          n += 1L; sm += m
          var r = 0
          while (r < 32) {
            val t = (u * 2654435761L + r * 1013904223L + 12345L) % 1048576L
            val h = ((t * t) / 1024L) % 1048576L
            var w = 5L
            var i = 0
            while (i < 5) { if (h < cdf(i) && w == 5L) w = i.toLong; i += 1 }
            num(r) += w * m; den(r) += w
            r += 1
          }
        }
        // den = 0 → sentinel -1, the SAME convention as the batch row
        // and its oracle (estimates are ≥ 0, so -1 is unambiguous and
        // sorts first in every engine involved).
        val ests = (0 until 32).map { r =>
          if (den(r) == 0L) -1L else 1000L * num(r) / den(r)
        }.sorted
        val point = if (n == 0L) 0L else 1000L * sm / n
        (Some((n, sm, num.toSeq, den.toSeq)), Iterator.single((key, n, point,
          ests(1), (ests(15) + ests(16)) / 2L, ests(30))))
    }
  }

  /** Streaming AMS second-moment monitor — the unbounded twin of
    * [[graft.queries.Relational.qF2SelfjoinEst]]: per stream key
    * (e.g. event type), state is the 24 tug-of-war counters
    * Z_j = Σ s_j(v) over every value seen — ±1 increments with the
    * SAME mid-square sign hash as the batch row (see its scaladoc for
    * why parity-of-affine is biased), so the estimate converges to the
    * batch one on the same data regardless of trigger chunking (the
    * counters are plain sums — commutative). Each trigger emits the
    * refreshed mean-of-8 / median-of-3 estimate of F2 = Σ_k c_k², the
    * live self-join-size / key-skew gauge for the value column — what
    * a streaming planner consults before choosing a join strategy on
    * an unbounded feed. State is 25 longs per key, constant; z² stays
    * under int64 while a key has < ~3e9 rows (the batch row's decimal
    * swap applies past that). */
  def f2Updates(df: DataFrame, keyCol: String,
      valCol: String): Dataset[(String, Long, Long)] = {
    val keyed = df.select(col(keyCol).cast("string").as("k"),
      col(valCol).cast("long").as("v")).as[(String, Long)]
    keyedFold(keyed.groupByKey(_._1)) { (key, prev: Option[(Long, Seq[Long])], rows, _) =>
      val st = prev.getOrElse((0L, Seq.fill(24)(0L)))
      var n = st._1
      val z = st._2.toArray
      rows.foreach { r =>
        n += 1L
        var j = 0
        while (j < 24) {
          val h = (r._2 * (104729L + 7919L * j) + (7L + 13L * j)) % 1000000007L
          z(j) += 1L - 2L * ((h * h >>> 40) & 1L)
          j += 1
        }
      }
      val ests = (0 until 3).map { g =>
        (8 * g until 8 * g + 8).map(j => z(j) * z(j)).sum / 8L
      }
      (Some((n, z.toSeq)), Iterator.single((key, n, ests.sorted.apply(1))))
    }
  }

  /** Streaming two-sided CUSUM drift chart — the unbounded twin of
    * [[graft.queries.EventQueries.eventsCusum]]: per key, state is
    * three longs (running deviation sum, its running min, its running
    * max); each in-order arrival emits that step's
    * (cusum⁺, cusum⁻) = (cum − min(0, minCum), max(0, maxCum) − cum) —
    * the same stacked-window identity the batch query uses, folded
    * incrementally. Unlike the monotone folds ([[sumUpdates]],
    * [[mvUpdates]]) CUSUM is ORDER-dependent, so the op carries the
    * [[gapUpdates]] in-order contract: rows sort by `ordCol` within a
    * trigger, and an arrival at or before the last applied ord is
    * DROPPED rather than corrupting the chart — the batch operator is
    * the repair path. State never grows (4 longs/key); emissions are
    * per input row, so alerting (cusum > threshold) is a stateless
    * filter downstream. */
  def cusumUpdates(df: DataFrame, keyCol: String, ordCol: String,
      devCol: String): Dataset[(String, Long, Long, Long)] = {
    val keyed = df.select(col(keyCol).cast("string").as("k"),
      col(ordCol).cast("long").as("o"), col(devCol).cast("long").as("dev"))
      .as[(String, Long, Long)]
    keyedFold(keyed.groupByKey(_._1)) { (key, prev: Option[(Long, Long, Long, Long)], rows, _) =>
      var (lastOrd, cum, mn, mx) = prev.getOrElse((Long.MinValue, 0L, 0L, 0L))
      val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long, Long)]
      rows.toSeq.sortBy(r => (r._2, r._3)).foreach { case (_, o, dev) =>
        if (o > lastOrd) {
          lastOrd = o; cum += dev
          if (cum < mn) mn = cum
          if (cum > mx) mx = cum
          out += ((key, o, cum - math.min(0L, mn), math.max(0L, mx) - cum))
        } // else: late/duplicate ord — drop, batch repairs
      }
      (Some((lastOrd, cum, mn, mx)), out)
    }
  }

  /** Streaming point-in-time feature server — the unbounded twin of
    * [[graft.queries.EventQueries.eventsFeaturePit]]: per user, state
    * is the trailing-7-day event window (pruned on every arrival, so
    * it is bounded by the user's own activity rate — the
    * [[funnelUpdates]] bound); when a label event (a purchase of a
    * sampled user) arrives, the features are computed from state
    * STRICTLY BEFORE the label instant — same-instant events are
    * excluded exactly like the batch join's `tus < lts` — and only
    * then does the label itself enter the window. In-order contract
    * per key ([[cusumUpdates]]); equal timestamps are accepted (the
    * strict-before filter makes their processing order irrelevant).
    * Emissions are (user, label ts, views, clicks, prior purchases,
    * spend cents) — the leakage-free training rows, served online. */
  def pitUpdates(df: DataFrame, userCol: String, tsCol: String,
      typeCol: String, valCol: String, labelType: String = "purchase",
      sampleMod: Long = 5L)
      : Dataset[(Long, Long, Long, Long, Long, Long)] = {
    val W = 7L * 86400L * 1000000L // trailing window, µs
    val keyed = df.select(col(userCol).cast("long").as("u"),
      col(tsCol).cast("long").as("tus"), col(typeCol).cast("string").as("t"),
      col(valCol).cast("long").as("cents")).as[(Long, Long, String, Long)]
    keyedFold(keyed.groupByKey(_._1)) {
      (user, prev: Option[(Long, Seq[(Long, String, Long)])], rows, _) =>
        val st = prev.getOrElse((Long.MinValue, Seq.empty[(Long, String, Long)]))
        var lastTus = st._1
        var window = st._2.toBuffer
        val out = scala.collection.mutable.ArrayBuffer
          .empty[(Long, Long, Long, Long, Long, Long)]
        rows.toSeq.sortBy(_._2).foreach { case (_, tus, t, cents) =>
          if (tus >= lastTus) {
            lastTus = tus
            window = window.filter(_._1 >= tus - W)
            if (t == labelType && user % sampleMod == 0) {
              val feats = window.filter(e => e._1 >= tus - W && e._1 < tus)
              out += ((user, tus,
                feats.count(_._2 == "view").toLong,
                feats.count(_._2 == "click").toLong,
                feats.count(_._2 == labelType).toLong,
                feats.filter(_._2 == labelType).map(_._3).sum))
            }
            window += ((tus, t, cents))
          } // else: late arrival — drop, the batch PIT join repairs
        }
        (Some((lastTus, window.toSeq)), out)
    }
  }

  /** Streaming Holt–Winters monitor — the unbounded twin of
    * [[graft.queries.EventQueries.eventsHoltWinters]] under the
    * [[cusumUpdates]] in-order contract (the recurrence is
    * order-dependent; rows sort by `ordCol` within a trigger, an
    * arrival at or before the last applied ord is DROPPED and the
    * batch row is the repair path). State per key: the first 14
    * observations buffer until the two init weeks are complete, then
    * the (l, b, s[7], k) recurrence state replaces them — constant 11
    * numbers — and every subsequent in-order arrival emits the
    * refreshed (level, trend, one-step forecast l+b+s[next]) using the
    * SAME ×½ expression the batch fold spells, so the final emission
    * equals the batch row term-for-term on the same prefix. */
  def holtWintersUpdates(df: DataFrame, keyCol: String, ordCol: String,
      valCol: String): Dataset[(String, Long, Double, Double, Double)] = {
    val keyed = df.select(col(keyCol).cast("string").as("k"),
      col(ordCol).cast("long").as("o"), col(valCol).cast("double").as("x"))
      .as[(String, Long, Double)]
    // state: (lastOrd, initBuf, l, b, s, k); initBuf fills to 14 first,
    // then s (7 slots) takes over and the buffer stays empty.
    keyedFold(keyed.groupByKey(_._1)) {
      (key, prev: Option[(Long, Seq[Double], Double, Double, Seq[Double], Long)], rows, _) =>
        val st = prev.getOrElse(
          (Long.MinValue, Seq.empty[Double], 0.0, 0.0, Seq.empty[Double], 0L))
        var lastOrd = st._1
        val buf = st._2.toBuffer
        var l = st._3
        var b = st._4
        var s = st._5.toArray
        var k = st._6
        val out = scala.collection.mutable.ArrayBuffer
          .empty[(String, Long, Double, Double, Double)]
        rows.toSeq.sortBy(_._2).foreach { case (_, o, x) =>
          if (o > lastOrd) {
            lastOrd = o
            if (s.isEmpty) {
              buf += x
              if (buf.length == 14) {
                // two-week init: sequential left-fold sums — the
                // batch aggregate(slice(...)) order exactly
                val m1 = buf.take(7).sum / 7.0
                val m2 = buf.slice(7, 14).sum / 7.0
                l = m2; b = (m2 - m1) / 7.0
                s = Array.tabulate(7)(i => buf(i) - m1)
                buf.clear()
                out += ((key, o, l, b, l + b + s(0)))
              }
            } else {
              val slot = (k % 7L).toInt
              val lNew = 0.5 * (x - s(slot)) + 0.5 * (l + b)
              val bNew = 0.5 * (lNew - l) + 0.5 * b
              val sNew = 0.5 * (x - lNew) + 0.5 * s(slot)
              l = lNew; b = bNew; s(slot) = sNew; k += 1
              out += ((key, o, l, b, l + b + s((k % 7L).toInt)))
            }
          } // else: late/duplicate ord — drop, batch repairs
        }
        (Some((lastOrd, buf.toSeq, l, b, s.toSeq, k)), out)
    }
  }

  /** Streaming MATERIALIZED-VIEW maintenance — the unbounded twin of
    * [[graft.plans.MvCatalog]]'s aggregate summary: per key, state is
    * the exact MV partial (count, micro-scaled sum, min, max). Every
    * component is an associative, commutative, order-independent fold
    * (addition; monotone min/max), so like [[sumUpdates]] NO watermark
    * is needed — any chunking/ordering of the input converges, and the
    * LAST emission per key equals the batch
    * `groupBy(key).agg(count, sum, min, max)` row exactly
    * (StreamingSpec parity against the registered MvCatalog summary
    * itself). This is the freshness half of the MV story as a stream:
    * [[graft.queries.Relational.qIncrementalMv]] proves delta
    * re-aggregation in batch, `MvRewrite` answers queries from the
    * summary, and this keeps the summary current row-by-row. Values
    * arrive MICRO-SCALED longs (the caller applies the
    * decimal(38,6) → micros contract) so sums are integer-exact at any
    * parallelism; a hi/lo 128-bit pair is the declared scale swap past
    * ±9.2e12 units. State is 4 longs per key, bounded by the key
    * domain — the MV's own cardinality. */
  def mvUpdates(df: DataFrame, keyCol: String, valCol: String)
      : Dataset[(String, Long, Long, Long, Long)] = {
    val keyed = df.select(col(keyCol).cast("string").as("k"),
      col(valCol).cast("long").as("v")).as[(String, Long)]
    keyedFold(keyed.groupByKey(_._1)) { (key, prev: Option[(Long, Long, Long, Long)], rows, _) =>
      var (n, s, mn, mx) = prev.getOrElse((0L, 0L, Long.MaxValue, Long.MinValue))
      rows.foreach { r =>
        n += 1; s += r._2
        if (r._2 < mn) mn = r._2
        if (r._2 > mx) mx = r._2
      }
      (Some((n, s, mn, mx)), Iterator.single((key, n, s, mn, mx)))
    }
  }

  /** Watermarked stream-stream interval join — the streaming form of
    * the attribution shape ([[graft.ext.AsOfJoin]] in batch): each left
    * row joins right rows with the same key whose event time falls in
    * `[leftTs − lookback, leftTs]`. The time bound is what makes the
    * join STATE-BOUNDED: with both sides watermarked and the range
    * condition on the event-time columns, Spark evicts right-side state
    * older than `watermark + lookback` and left rows once their match
    * window closes — state never grows with stream length, only with
    * rate × window. The batch operator picks exactly one (latest)
    * match; the stream emits every in-window match as it arrives
    * (latest-per-left is a downstream aggregate once the watermark
    * closes — streaming can't retract an already-emitted "latest").
    * Non-key column names must be disjoint across sides. */
  def intervalJoin(left: DataFrame, right: DataFrame, keyCol: String,
      rightKeyCol: String, leftTs: String, rightTs: String,
      watermark: String, lookback: String): DataFrame =
    left.withWatermark(leftTs, watermark)
      .join(right.withWatermark(rightTs, watermark),
        col(keyCol) === col(rightKeyCol) &&
          col(rightTs) >= col(leftTs) - expr(s"INTERVAL $lookback") &&
          col(rightTs) <= col(leftTs))
}
