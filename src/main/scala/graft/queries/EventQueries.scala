package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import OracleFragments.{foldSql, log2MillisSql}
import Tables._

/** Event-time suite over `events` (the streaming-shaped table: ns
  * timestamps, 150 users, 5 event types, JSON props). These are the
  * BATCH oracles for the streaming module (graft.streaming) — each
  * query's shape is what the corresponding Structured Streaming
  * pipeline computes per micro-batch / watermark window, verified here
  * deterministically against DuckDB.
  *
  * `ts` is canonicalized to nanos-since-epoch BIGINT by
  * [[Tables.loadEvents]] whatever the parquet physically stores
  * (TIMESTAMP(NANOS)-as-long or timestamp[us]/TIMESTAMP_NTZ — the
  * generator has shipped both). Conversions use integer `div` —
  * a double division would lose precision above 2^53 ns.
  *
  * Scale posture: tumbling windows and daily aggregates are hash
  * aggregations with map-side combine (shuffle = groups, not rows).
  * Sessionization shuffles each user's events once (partitionBy user),
  * which is the minimum for gap-based sessions; at 100 TB the skew
  * risk is a bot user with millions of events — cap per-user events
  * upstream or sessionize with keyed state in streaming.
  * COUNT(DISTINCT) is exact here to match the oracle; the 100 TB
  * variant is approx_count_distinct (HLL sketch, no exact shuffle).
  */
object EventQueries {

  private val GAP_NS = 1800L * 1000 * 1000 * 1000 // 30 min session gap

  private def events(spark: SparkSession, sfDir: String): DataFrame =
    loadEvents(spark, sfDir)

  private def tsMicros = timestamp_micros(expr("ts div 1000"))

  // The input relations several builders share, each spelled once.
  // Builders wrap them in `QueryCaches.track` where they reuse them.

  /** The µs stream `(user_id, event_id, tus)` the per-user windows
    * order by (tie-break on event_id). */
  private def usStream(spark: SparkSession, sfDir: String): DataFrame =
    events(spark, sfDir)
      .select(col("user_id"), col("event_id"), expr("ts div 1000").as("tus"))

  /** [[usStream]] with `event_type`. */
  private def usTypedStream(spark: SparkSession, sfDir: String): DataFrame =
    events(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("event_type"), expr("ts div 1000").as("tus"))

  /** Each user's events in time order, tie-broken on event_id. */
  private def userTimeOrder: WindowSpec =
    Window.partitionBy(col("user_id")).orderBy(col("tus"), col("event_id"))

  /** [[usStream]] with each event's predecessor time `prev` (null on
    * a user's first event). */
  private def usWithPrev(spark: SparkSession, sfDir: String): DataFrame =
    usStream(spark, sfDir).withColumn("prev", lag(col("tus"), 1).over(userTimeOrder))

  /** Gap-based session numbering over rows carrying `tus` and `prev`:
    * a user's first event or a gap over 30 min starts a session, and
    * `session_no` is the user's running count of starts. */
  private def withSessionNo(df: DataFrame): DataFrame =
    df.withColumn("new_s",
        when(col("prev").isNull || col("tus") - col("prev") > GAP_NS / 1000, 1L).otherwise(0L))
      .withColumn("session_no", sum(col("new_s")).over(
        userTimeOrder.rowsBetween(Window.unboundedPreceding, Window.currentRow)))

  /** Daily event counts per type `(t, day, c)`, day = epoch day. */
  private def dailyTypeCounts(spark: SparkSession, sfDir: String): DataFrame =
    events(spark, sfDir)
      .select(col("event_type").as("t"), expr("ts div 86400000000000").as("day"))
      .groupBy(col("t"), col("day")).agg(count(lit(1)).as("c"))

  /** Each type's daily counts as one day-ordered array `(t, cs)`. */
  private def dailySeries(spark: SparkSession, sfDir: String): DataFrame =
    dailyTypeCounts(spark, sfDir).groupBy(col("t"))
      .agg(expr("transform(sort_array(collect_list(struct(day, c))), x -> x.c)").as("cs"))

  /** The tracked daily counts and their split at the last week:
    * `(daily, fit, holdout)`, holdout = the final 7 days, both halves
    * carrying the last day `d1`. */
  private def lastWeekSplit(spark: SparkSession,
      sfDir: String): (DataFrame, DataFrame, DataFrame) = {
    val d = graft.core.QueryCaches.track(dailyTypeCounts(spark, sfDir))
    val withB = d.crossJoin(broadcast(d.agg(max(col("day")).as("d1"))))
    (d, withB.filter(col("day") <= col("d1") - 7), withB.filter(col("day") > col("d1") - 7))
  }

  /** The UTC calendar day of `ts` as days since the epoch. */
  private def calendarDay: Column =
    expr("CAST(datediff(CAST(timestamp_micros(ts div 1000) AS DATE), " +
      "DATE '1970-01-01') AS BIGINT)")

  /** Each type's dense calendar-day series `(t, d, cnt)` from its first
    * to its last active day, days without events at 0. */
  private def calendarSpine(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = events(spark, sfDir)
      .groupBy(col("event_type").as("t"), calendarDay.as("d"))
      .agg(count(lit(1)).as("n"))
    daily.groupBy(col("t"))
      .agg(min(col("d")).as("lo"), max(col("d")).as("hi"))
      .select(col("t"), explode(expr("sequence(lo, hi)")).as("d"))
      .join(daily, Seq("t", "d"), "left")
      .select(col("t"), col("d"), coalesce(col("n"), lit(0L)).as("cnt"))
  }

  /** The moment sums of lag pairs (x, y) after `n_pairs`. */
  private def pairMoments: Seq[Column] = Seq(
    sum(col("x")).as("sx"), sum(col("y")).as("sy"),
    sum(col("x") * col("y")).as("sxy"),
    sum(col("x") * col("x")).as("sxx"),
    sum(col("y") * col("y")).as("syy"))

  /** The integer covariance numerator and variance denominators over
    * [[pairMoments]]. */
  private def pairCovariance: Seq[Column] = Seq(
    (col("n_pairs") * col("sxy") - col("sx") * col("sy")).as("num"),
    (col("n_pairs") * col("sxx") - col("sx") * col("sx")).as("denx"),
    (col("n_pairs") * col("syy") - col("sy") * col("sy")).as("deny"))

  /** Purchase value in integer cents (exact at any parallelism). */
  private def cents: Column = expr("CAST(floor(value * 100) AS BIGINT)")

  /** Per-user purchase cents `(user_id, m)`; users without a purchase
    * carry m = 0. */
  private def userPurchaseCents(spark: SparkSession, sfDir: String): DataFrame =
    events(spark, sfDir)
      .groupBy(col("user_id"))
      .agg(sum(when(col("event_type") === "purchase", cents).otherwise(0L)).as("m"))

  /** The pre/post experiment frame: `(user_id, event_type, value, d)`
    * with the calendar midpoint `mid` (integer, from the data's own day
    * bounds) broadcast onto every row. */
  private def midSplitEvents(spark: SparkSession, sfDir: String): DataFrame = {
    val e = graft.core.QueryCaches.track(
      events(spark, sfDir).select(col("user_id"), col("event_type"),
        col("value"), expr("ts div 86400000000000").as("d")))
    e.crossJoin(broadcast(e.agg(expr("(min(d) + max(d)) div 2").as("mid"))))
  }

  /** The as-of join sides over the µs stream: purchases
    * `(user_id, p_event, p_tus)` and the raw click rows. */
  private def purchasesAndClicks(spark: SparkSession,
      sfDir: String): (DataFrame, DataFrame) = {
    val e = graft.core.QueryCaches.track(usTypedStream(spark, sfDir))
    (e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("p_event"), col("tus").as("p_tus")),
     e.filter(col("event_type") === "click"))
  }

  /** The tracked funnel base `(user_id, event_type, tus)` and each
    * viewer's first view time `(user_id, t1)`, also tracked. */
  private def firstViews(spark: SparkSession, sfDir: String): (DataFrame, DataFrame) = {
    val e = graft.core.QueryCaches.track(
      events(spark, sfDir)
        .select(col("user_id"), col("event_type"), expr("ts div 1000").as("tus")))
    (e, graft.core.QueryCaches.track(
      e.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("tus")).as("t1"))))
  }

  /** The CDC feed over the µs stream, split at 2024-01-15T00:00Z: the
    * latest value per user before the cut `(user_id, tus, event_id,
    * val)`, and the change rows from the cut on, each with its op
    * (`D` for an error event, else `U`). */
  private def cdcFeed(spark: SparkSession, sfDir: String): (DataFrame, DataFrame) = {
    val cutUs = 1705276800000000L
    val e = graft.core.QueryCaches.track(
      events(spark, sfDir).select(col("user_id"),
        expr("ts div 1000").as("tus"), col("event_id"),
        when(col("event_type") === "error", "D").otherwise("U").as("op"),
        floor(col("value") * lit(1000000.0d)).cast("bigint").as("val")))
    (graft.ext.MergeOps.latestSnapshot(e.filter(col("tus") < cutUs).drop("op"),
      "user_id", Seq("tus", "event_id"), Seq("val")),
     e.filter(col("tus") >= cutUs))
  }


  /** 1-day tumbling event-time window per event type — Spark's native
    * `window()` (the Structured Streaming window primitive) in batch
    * mode. */
  def eventsWindow(spark: SparkSession, sfDir: String): DataFrame =
    events(spark, sfDir)
      .groupBy(window(tsMicros, "1 day").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      .select(col("w.start").as("day"), col("event_type"), col("n"), col("sum_value"))

  /** Gap-based sessionization (30-min inactivity): lag to flag session
    * starts, running sum to number sessions, then per-session rollup.
    * The batch oracle for streaming session windows
    * ([[graft.streaming.GraftStream.sessionCounts]]). Deterministic
    * ordering: (ts, event_id). */
  def eventsSessions(spark: SparkSession, sfDir: String): DataFrame = {
    // µs basis: DuckDB's TIMESTAMP is µs internally, so its TIMESTAMP_NS
    // parquet read truncates sub-µs — match it with `ts div 1000`.
    withSessionNo(usWithPrev(spark, sfDir))
      .groupBy(col("user_id"), col("session_no"))
      .agg(min(col("tus")).as("session_start_us"),
        count(lit(1)).as("n_events"),
        (max(col("tus")) - min(col("tus"))).as("dur_us"))
  }

  /** Session-gap PARAMETER SWEEP — the operating-curve row for
    * [[eventsSessions]]'s one fixed threshold (the dedup_band_sweep /
    * sim_ann_sweep pattern applied to sessionization): the inactivity
    * gap is the knob every analytics deployment has to pick, and this
    * query reports, per candidate gap (15/30/60 min), the session
    * count and mean session density the corpus would produce. ONE
    * window pass computes every event's backward gap (a session START
    * is a null gap — first event per user — or a gap above threshold);
    * the sweep is then three conditional aggregates over the SAME
    * persisted gaps relation — the threshold never re-sorts the
    * corpus, which is what makes sweeping affordable at 100 TB (the
    * sort dominates; three counts over it are marginal). All integer:
    * session counts are sums of indicator longs, density is one
    * integral division. */
  def eventsGapSweep(spark: SparkSession, sfDir: String): DataFrame = {
    val gaps = graft.core.QueryCaches.track(
      usWithPrev(spark, sfDir)
        .select((col("tus") - col("prev")).as("gap_us")))
    Seq(900L, 1800L, 3600L).map { g =>
      gaps.agg(count(lit(1)).as("n_events"),
          sum(when(col("gap_us").isNull || col("gap_us") > g * 1000000L, 1L)
            .otherwise(0L)).as("n_sessions"))
        .select(lit(g).as("gap_s"), col("n_events"), col("n_sessions"),
          expr("(1000 * n_events) div n_sessions").as("events_per_session_milli"))
    }.reduce(_ unionByName _)
  }

  /** Daily active users + event volume. Exact COUNT(DISTINCT) to match
    * the oracle; see scaladoc for the sketch-based 100 TB variant. */
  def eventsDailyActive(spark: SparkSession, sfDir: String): DataFrame =
    events(spark, sfDir)
      .groupBy(to_date(tsMicros).as("day"))
      .agg(countDistinct(col("user_id")).as("active_users"),
        count(lit(1)).as("n_events"))

  /** The 100 TB DAU shape promised above: HLL++ sketch
    * (`approx_count_distinct`) instead of exact COUNT(DISTINCT).
    * The sketch merges map-side, so the shuffle carries one fixed-size
    * sketch per (day, map task) instead of every distinct user id —
    * at warehouse scale that is the difference between a bounded
    * exchange and shuffling the id universe. Spark's built-in sketch is
    * opaque, so EventQueriesSpec bounds its relative error against
    * [[eventsDailyActive]] instead (rsd defaults to 5%; HLL++ is exact
    * in sparse mode at small cardinalities). [[eventsHllDistinct]] is
    * the white-box twin: the same estimator in integer form, which the
    * DuckDB oracle hashes bit-exactly. */
  def eventsDailyActiveApprox(spark: SparkSession, sfDir: String,
      rsd: Double = 0.05): DataFrame =
    events(spark, sfDir)
      .groupBy(to_date(tsMicros).as("day"))
      .agg(approx_count_distinct(col("user_id"), rsd).as("active_users_approx"),
        count(lit(1)).as("n_events"))

  /** Value-distribution quantiles per event type via the
    * approx_percentile sketch (Greenwald-Khanna) — the 100 TB quantile
    * shape, completing the sketch pillar beside the HLL DAU variant:
    * the sketch is MERGEABLE, so the shuffle carries one bounded-size
    * summary per (type, map task) instead of sorting the value column
    * globally (exact percentile = a full sort per group). The GK
    * guarantee is on RANK error (≤ n/accuracy), not value error —
    * EventQueriesSpec bounds exactly that against the exact sorted
    * distribution; approximate by nature, so tested rather than
    * hash-declared. */
  def eventsValueQuantilesApprox(spark: SparkSession, sfDir: String,
      accuracy: Int = 10000): DataFrame =
    events(spark, sfDir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        percentile_approx(col("value"),
          array(lit(0.5), lit(0.95), lit(0.99)), lit(accuracy)).as("q"))
      .select(col("event_type"), col("n"),
        col("q")(0).as("p50"), col("q")(1).as("p95"), col("q")(2).as("p99"))

  /** Semi-structured extraction: pull `k` out of the JSON props column
    * and aggregate per event type — get_json_object stays a column
    * expression (no UDF), the portable subset of JSON-path both engines
    * agree on. */
  def eventsProps(spark: SparkSession, sfDir: String): DataFrame =
    events(spark, sfDir)
      .select(col("event_type"), get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"), max(col("k")).as("max_k"))

  /** Ordered-sequence funnel view→click→purchase: per-user first-touch
    * times, then stage counts requiring strict event-time order. One
    * groupBy (conditional min aggregation — map-side combined) plus a
    * single-row rollup; no joins, no windows. */
  def eventsFunnel(spark: SparkSession, sfDir: String): DataFrame = {
    def firstTouch(t: String) =
      min(when(col("event_type") === t, expr("ts div 1000"))).as(s"t_$t")
    events(spark, sfDir)
      .groupBy(col("user_id"))
      .agg(firstTouch("view"), firstTouch("click"), firstTouch("purchase"))
      .agg(
        count(when(col("t_view").isNotNull, 1)).as("n_view"),
        count(when(col("t_view") < col("t_click"), 1)).as("n_view_click"),
        count(when(col("t_view") < col("t_click") && col("t_click") < col("t_purchase"), 1))
          .as("n_view_click_purchase"))
  }

  /** D1 retention: of the users active on day d, how many return on
    * day d+1. One distinct (day, user) projection — a single shuffle of
    * fixed-width pairs — then a self-equi-join keyed on (user_id,
    * day+1 = day) and two hash aggregates. At 100 TB the distinct set
    * is the bounded exchange (users × days, not events); the self-join
    * shuffles it once more on user_id. */
  def eventsRetention(spark: SparkSession, sfDir: String): DataFrame = {
    val du = events(spark, sfDir)
      .select(to_date(tsMicros).as("day"), col("user_id")).distinct()
    val act = du.groupBy(col("day")).agg(count(lit(1)).as("active_users"))
    val ret = du.as("a").join(du.as("b"),
        col("a.user_id") === col("b.user_id") &&
          col("b.day") === date_add(col("a.day"), 1))
      .groupBy(col("a.day").as("day")).agg(count(lit(1)).as("retained_d1"))
    act.join(ret, Seq("day"), "left")
      .select(col("day"), col("active_users"),
        coalesce(col("retained_d1"), lit(0L)).as("retained_d1"))
  }

  /** Kaplan-Meier survival curve with right-censoring — the actuarial
    * op beside [[eventsRetention]]'s D1 ratio, on the axis that
    * actually needs it here: per-user INACTIVITY GAPS in whole hours
    * ("probability a quiet spell survives past t hours" — the
    * principled way to pick a session timeout, cf. the 30-min GAP_NS
    * constant this file hard-codes). Each consecutive-event gap is an
    * observation; each user's OPEN tail gap (last event → corpus edge)
    * is right-censored — it testifies the user was quiet AT LEAST that
    * long, and dropping it is the classic downward bias KM exists to
    * avoid. At each hour t: n_risk = gaps with length ≥ t, n_churn =
    * CLOSED gaps of exactly t, and S(t) = Π (1 − d/n) carried as a
    * micro-scaled integer FOLD (s ← s·(n−d) div n, s₀ = 10⁶) —
    * deterministic in both engines (Spark: one `aggregate` HOF over
    * the collected hour series, a bounded array in ONE row, so the
    * interpreted-HOF caveat does not bite; DuckDB: a recursive CTE,
    * kept un-MATERIALIZED per the known quirk). Scale: gaps come from
    * the one (user)-keyed lead window every session query already
    * pays; everything after is hour-domain-sized (≤ observation span),
    * and s·n stays in int64 up to ~10¹² observations. */
  /** Exponential-decay activity counters — the feature-store staple
    * (a half-life-weighted event count scores recency without storing
    * history): each event contributes 2^(−age_days) of weight at the
    * corpus horizon, held EXACT in ppm integers because halving is a
    * right shift — weight = 10⁶ div 2^age (zero past 20 days, age
    * capped at 62 so the shift stays defined) — so no float decay
    * drifts across engines or partial-aggregation orders. One
    * map-side-combinable aggregate per user after the 1-row horizon
    * broadcast; at refresh time the counter updates incrementally
    * (halve all, add today) — the classic trick this row's algebra
    * makes auditable. */
  def eventsDecayCounts(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = events(spark, sfDir)
      .select(col("user_id"), expr("(ts div 1000) div 86400000000").as("day"))
    val horizon = ev.agg(max(col("day")).as("ref_day"))
    ev.crossJoin(broadcast(horizon))
      .select(col("user_id"),
        expr("1000000 div shiftleft(CAST(1 AS BIGINT), " +
          "CAST(least(ref_day - day, 62) AS INT))").as("w"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("w")).as("decayed_ppm"))
  }

  def eventsSurvival(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = graft.core.QueryCaches.track(usStream(spark, sfDir))
    val edge = ev.agg(max(col("tus")).as("corpus_max"))
    val gaps = ev
      .withColumn("nxt", lead(col("tus"), 1).over(userTimeOrder))
      .crossJoin(broadcast(edge))
      .select(
        expr("CAST(coalesce(nxt, corpus_max) - tus AS BIGINT) div 3600000000")
          .as("life"),
        when(col("nxt").isNull, 1L).otherwise(0L).as("censored"))
    val byT = gaps.groupBy(col("life").as("t"))
      .agg(count(lit(1)).as("ended_here"),
        sum(lit(1L) - col("censored")).as("n_churn"))
    val wRisk = Window.orderBy(col("t").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // hour-domain rows only (≤ observation span): the global window and
    // the collected fold array are both bounded by it
    val series = byT
      .withColumn("n_risk", sum(col("ended_here")).over(wRisk))
      .select(col("t"), col("n_risk"), col("n_churn"))
    series.groupBy()
      .agg(sort_array(collect_list(struct(col("t"), col("n_risk"), col("n_churn"))))
        .as("ser"))
      // fold: acc is the running array of s values (head = s₀ = 10⁶);
      // day i (0-based) pairs with fold element i+2 (1-based element_at)
      .withColumn("km", expr(
        """aggregate(ser, array(CAST(1000000 AS BIGINT)),
          |  (acc, x) -> array_append(acc,
          |    (element_at(acc, -1) * (x.n_risk - x.n_churn)) div x.n_risk))""".stripMargin))
      .select(posexplode(col("ser")).as(Seq("i", "x")), col("km"))
      .select(col("x.t").as("t"), col("x.n_risk").as("n_risk"),
        col("x.n_churn").as("n_churn"),
        element_at(col("km"), (col("i") + 2).cast("int")).as("s_micro"))
  }

  /** Top session-local event-type transitions (path mining): sessionize
    * exactly like [[eventsSessions]], take each event's successor WITHIN
    * its session, count (src → dst) transition bigrams, rank the top 20.
    * All four window computations (lag, running session number, lead of
    * type, lead of session) share ONE (user_id, ts, event_id) window
    * spec — one shuffle + one sort per user partition, then a hash
    * aggregate over ≤ |event types|² groups. The successor is validated
    * by lead(session_no) = session_no rather than a second
    * (user, session) window, which would re-shuffle. */
  def eventsPaths(spark: SparkSession, sfDir: String): DataFrame =
    sessionBigrams(spark, sfDir)
      .withColumn("rk", row_number().over(
        Window.orderBy(col("cnt").desc, col("src"), col("dst"))).cast("bigint"))
      .filter(col("rk") <= 20)
      .select(col("rk"), col("src"), col("dst"), col("cnt"))

  /** Top-10 session TRIGRAM paths — [[eventsPaths]]' bigram miner
    * extended one step: the sequential-pattern primitive (PrefixSpan's
    * length-3 slice) product teams read to find the canonical journeys
    * a funnel definition should encode. Same single-window machinery
    * (lag for the session cut, two leads for the continuation — ONE
    * shuffle+sort per user), trigrams kept only when the third event
    * is still in the same session. The global top-10 rank runs over
    * the ≤|types|³ aggregate relation and filters the UNCAST
    * row_number so it plans as a partial top-k. */
  def eventsSeq3(spark: SparkSession, sfDir: String): DataFrame = {
    val sess = withSessionNo(
      usTypedStream(spark, sfDir).withColumn("prev", lag(col("tus"), 1).over(userTimeOrder)))
      .withColumn("t2", lead(col("event_type"), 1).over(userTimeOrder))
      .withColumn("t3", lead(col("event_type"), 2).over(userTimeOrder))
      .withColumn("s3", lead(col("session_no"), 2).over(userTimeOrder))
    sess.filter(col("t3").isNotNull && col("s3") === col("session_no"))
      .groupBy(col("event_type").as("t1"), col("t2"), col("t3"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("rk0", row_number().over(
        Window.orderBy(col("cnt").desc, col("t1"), col("t2"), col("t3"))))
      .filter(col("rk0") <= 10)
      .select(col("rk0").cast("bigint").as("rk"), col("t1"), col("t2"),
        col("t3"), col("cnt"))
  }

  /** Per-user behavioral entropy, banded — how PREDICTABLE each user's
    * event-type mix is (H = 0: one-note users; high H: diverse
    * sessions), the segmentation signal behind "explorer vs
    * transactor" cohorts and the per-user twin of
    * [[eventsMarkovEntropy]]'s per-source readout. EXACT MILLIBITS:
    * H·n = n·mlog(n) − Σ c·mlog(c) over the user's type counts via the
    * shared integer fast-log kernel, surfaced as h_millibits = that
    * div n — all integers, no float log. Users then band at 250-mb
    * resolution into a DOMAIN-BOUNDED histogram (≤ ~14 bands for any
    * corpus: H ≤ log2 |types|), so the output is fleet-readable at any
    * user count. Scale: one (user, type) map-side-combined count, one
    * per-user fold, one band rollup. */
  def eventsUserEntropy(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.HashExprs.log2Millis
    val c = events(spark, sfDir)
      .groupBy(col("user_id"), col("event_type")).agg(count(lit(1)).as("c"))
    val h = c.groupBy(col("user_id"))
      .agg(sum(col("c")).as("n"),
        sum(col("c") * log2Millis(col("c"))).as("sc"))
      .select(col("user_id"),
        (col("n") * log2Millis(col("n")) - col("sc")).as("num"), col("n"))
      .select(col("user_id"), expr("num div n").as("h_mb"))
    h.groupBy(expr("h_mb div 250").as("band"))
      .agg(count(lit(1)).as("n_users"),
        min(col("h_mb")).as("min_mb"), max(col("h_mb")).as("max_mb"))
  }

  /** Shared (src → dst, cnt) session-bigram table for [[eventsPaths]]
    * and [[eventsMarkov]] — the single-window machinery documented on
    * eventsPaths. */
  private[graft] def sessionBigrams(spark: SparkSession, sfDir: String): DataFrame = {
    val sess = withSessionNo(
      usTypedStream(spark, sfDir).withColumn("prev", lag(col("tus"), 1).over(userTimeOrder)))
      .withColumn("next_type", lead(col("event_type"), 1).over(userTimeOrder))
      .withColumn("next_s", lead(col("session_no"), 1).over(userTimeOrder))
    sess.filter(col("next_type").isNotNull && col("next_s") === col("session_no"))
      .groupBy(col("event_type").as("src"), col("next_type").as("dst"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** The full Markov transition matrix behind [[eventsPaths]]'s
    * top-20: every session-local (src → dst) bigram with its count
    * and conditional probability p(dst|src) = cnt / Σ_dst cnt. The
    * probability is ONE integer-over-integer IEEE division — exact
    * cross-engine — and the per-src total is a window over the
    * ≤ |types|² aggregate rows, never the event stream. */
  def eventsMarkov(spark: SparkSession, sfDir: String): DataFrame =
    sessionBigrams(spark, sfDir)
      .withColumn("total", sum(col("cnt")).over(Window.partitionBy(col("src"))))
      .select(col("src"), col("dst"), col("cnt"), col("total"),
        (col("cnt").cast("double") / col("total").cast("double")).as("p"))

  /** Click→view attribution via the AS-OF join operator
    * ([[graft.ext.AsOfJoin]]): each click matched with the same user's
    * most recent view at or before the click. The operator's plan is
    * union + one per-user window + carry-forward — each side shuffled
    * once, no range join, no per-row probe — and this row pins its
    * semantics (≤ matching, right-before-left at equal times, nulls
    * when no prior view) against a DuckDB spelling of the same
    * carry-forward. */
  def eventsAttribution(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = usTypedStream(spark, sfDir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id"), col("tus"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_event_id"),
        col("tus").as("view_tus"))
    graft.ext.AsOfJoin.asOfJoin(clicks, views, Seq("user_id"),
        leftTime = "tus", rightTime = "view_tus",
        leftSeq = "event_id", rightSeq = "view_event_id")
      .select(col("user_id"), col("event_id"), col("tus").as("click_tus"),
        col("view_event_id"), col("view_tus"),
        (col("tus") - col("view_tus")).as("gap_us"))
  }

  /** Trailing-window spike detection — the volume-anomaly monitor ops
    * teams run per event type: a day is a spike when its count exceeds
    * 2× the mean of the previous 7 days. The comparison is spelled in
    * INTEGERS (7·n > 2·trailing_sum) so the flag is exact in both
    * engines — no float mean, no epsilon. Only days with a full 7-day
    * history are emitted (a partial window would compare against a
    * deflated baseline). Scale posture: the corpus-sized work is the
    * map-side-combined daily count; the window input is |types| ×
    * |days| rows — bounded regardless of event volume, so the
    * per-type sort is trivial at any scale. */
  def eventsSpikes(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = events(spark, sfDir)
      .groupBy(col("event_type"), to_date(tsMicros).as("day"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(-7, -1)
    daily
      .withColumn("trail", sum(col("n")).over(w))
      .withColumn("n_prev", count(lit(1)).over(w))
      .filter(col("n_prev") === 7)
      .select(col("event_type"), col("day"), col("n"), col("trail"),
        (col("n") * 7 > col("trail") * 2).as("spike"))
  }

  /** KMV (k-minimum-values) distinct sketch per event type — the
    * third member of the approximate family, and the first the oracle
    * could hash (see [[eventsHllDistinct]] for the HLL analog): unlike
    * GK quantiles, a KMV sketch is just the k smallest hash values — a
    * deterministic integer set, so the k-th minimum and the estimate
    * (k−1)·P div h_k (P = the fingerprint field 1e9+7, hashes
    * ~uniform on [0,P)) are bit-exact across engines. Reported beside
    * the collision-collapsed exact count (the [[dedupMinhashEst]]
    * sketch-beside-truth calibration pattern). Types with fewer than
    * k distinct users yield NULL h_k/estimate (the sketch is exact
    * there — its member set IS the value set; a production reader
    * falls back to n_hashes). Scale: the distinct (type, hash)
    * projection is the one corpus-sized exchange (map-side combined);
    * the rank filter rk ≤ k = 16 plans as a partial WindowGroupLimit,
    * so each map task forwards at most 16 rows per type to the final
    * per-type sort — the mergeable-sketch property, expressed as a
    * plan shape. */
  def eventsKmvDistinct(spark: SparkSession, sfDir: String): DataFrame = {
    val K = 16
    val h = graft.core.QueryCaches.track(
      events(spark, sfDir)
        .select(col("event_type"),
          // salted fold: bare small-integer strings fold to TINY values
          // (a 3-digit id never wraps the 1e9+7 field), which breaks the
          // KMV uniformity assumption (measured: est 9.5M for 150 users).
          // The prefix+suffix make every hash wrap the field repeatedly,
          // spreading ids ~uniformly (est 148 for 150 actual).
          graft.ext.TextOps.fingerprint(
            concat(lit("kmv|"), col("user_id").cast("string"), lit("|graft"))).as("h"))
        .distinct())
    val w = Window.partitionBy(col("event_type")).orderBy(col("h"))
    val kth = h.withColumn("rk", row_number().over(w).cast("bigint"))
      .filter(col("rk") <= K).filter(col("rk") === K)
      .select(col("event_type"), col("h").as("h_k"))
    h.groupBy(col("event_type")).agg(count(lit(1)).as("n_hashes"))
      .join(kth, Seq("event_type"), "left")
      .select(col("event_type"), col("n_hashes"), col("h_k"),
        expr("CAST(15000000105 div h_k AS BIGINT)").as("est_distinct"))
  }

  /** HyperLogLog distinct sketch per event type — in INTEGER form, so
    * the oracle CAN hash it (completing the claim in
    * [[eventsDailyActiveApprox]] that HLL is approximate "by nature":
    * the ESTIMATOR is deterministic; only Spark's built-in sketch is
    * opaque). Every HLL ingredient has an integer spelling both engines
    * compute bit-identically: bucket = h mod 64; rho = leading-zeros+1
    * of v = h div 64 in a 24-bit frame, i.e. 25 − length(bin(v)) (both
    * engines print unpadded binary, so length(bin v) = ⌊log2 v⌋+1
    * exactly); the harmonic denominator Z = Σ 2^−rmax is kept scaled by
    * 2^25 — Σ shiftleft(1, 25−rmax) — which is a plain BIGINT sum; and
    * the estimate α·m²/Z becomes one integer division by pre-scaling
    * the constant: ⌊0.709·64²·2^25⌋ = 97444218012. Reported beside the
    * exact distinct (the sketch-beside-truth calibration pattern), plus
    * the standard small-range flag (raw est ≤ 2.5·m ⇒ a production
    * reader switches to linear counting over empty_buckets — the ln()
    * that decision needs is the one genuinely float step, so it stays
    * OUT of the hashed surface). Scale: ONE corpus pass; the distinct
    * (type, user) projection is the only data-sized exchange
    * (map-side combined); everything after is ≤ |types|·64 rows, and
    * the per-bucket MAX is the mergeable-sketch property itself —
    * partial aggregation merges sub-sketches exactly like a 1000-node
    * cluster would merge per-executor registers. */
  def eventsHllDistinct(spark: SparkSession, sfDir: String): DataFrame = {
    val M = 64     // registers (2^6)
    val SCALE = 25 // rho ∈ [1, 25]: v = h div 64 < (1e9+7)/64 < 2^24
    val dist = graft.core.QueryCaches.track(
      events(spark, sfDir)
        .select(col("event_type"), col("user_id")).distinct())
    val h = dist.select(col("event_type"),
      // salted fold, same rationale as [[eventsKmvDistinct]]: bare
      // small-int ids never wrap the 1e9+7 field and break uniformity.
      graft.ext.TextOps.fingerprint(
        concat(lit("hll|"), col("user_id").cast("string"), lit("|graft"))).as("h"))
    val regs = h
      .select(col("event_type"), expr(s"h % $M").as("bucket"), expr(s"h div $M").as("v"))
      .groupBy(col("event_type"), col("bucket"))
      .agg(max(when(col("v") === 0L, lit(SCALE))
        .otherwise(lit(SCALE) - length(bin(col("v"))))).as("rmax"))
    val z = regs.groupBy(col("event_type"))
      .agg(count(lit(1)).as("used_buckets"),
        (sum(expr(s"shiftleft(CAST(1 AS BIGINT), $SCALE - rmax)"))
          + (lit(M) - count(lit(1))) * lit(1L << SCALE)).cast("bigint").as("z_scaled"))
    val exact = dist.groupBy(col("event_type"))
      .agg(count(lit(1)).as("exact_distinct"))
    exact.join(broadcast(z), Seq("event_type"))
      .select(col("event_type"), col("exact_distinct"), col("used_buckets"),
        (lit(M) - col("used_buckets")).cast("bigint").as("empty_buckets"),
        col("z_scaled"),
        expr("CAST(97444218012 div z_scaled AS BIGINT)").as("est_distinct"),
        expr("97444218012 div z_scaled <= 160").as("small_range"))
  }

  /** Incremental HLL maintenance — the MERGEABILITY contract that
    * makes sketches the 100 TB distinct-count answer: yesterday's
    * persisted 64-register table absorbs a new batch's registers by
    * per-bucket MAX (union + max over two |M|-row relations — no
    * rescan of history, idempotent when a user spans both periods),
    * and the merged sketch must be BIT-IDENTICAL to recomputing from
    * the full corpus. Three independent aggregation trees (history
    * registers, batch registers, full recompute) meet in one row:
    * zero mismatched buckets, equal z-sums and estimates — plus the
    * exact per-period distincts beside, where `overlap_users =
    * hist + batch − full` is precisely the re-dedup work exact
    * counting pays on every refresh and the sketch never does.
    * Register construction matches [[eventsHllDistinct]] (salted
    * fingerprint fold, rho via unpadded binary). Scale: the corpus
    * pass is the per-period distinct projection; everything after is
    * ≤ 64-row relations stitched by broadcast. */
  def eventsHllIncremental(spark: SparkSession, sfDir: String): DataFrame = {
    val M = 64
    val SCALE = 25
    // 2024-01-24T00:00:00Z as epoch nanos — the last week is the batch
    val CUT = 1706054400L * 1000000000L
    val dist = graft.core.QueryCaches.track(
      events(spark, sfDir)
        .select(col("user_id"), (col("ts") >= lit(CUT)).as("is_new"))
        .distinct())
    def regsOf(df: DataFrame): DataFrame = df
      .select(graft.ext.TextOps.fingerprint(
        concat(lit("hll|"), col("user_id").cast("string"), lit("|graft"))).as("h"))
      .select(expr(s"h % $M").as("bucket"), expr(s"h div $M").as("v"))
      .groupBy(col("bucket"))
      .agg(max(when(col("v") === 0L, lit(SCALE))
        .otherwise(lit(SCALE) - length(bin(col("v"))))).as("r"))
    val rHist = regsOf(dist.filter(!col("is_new")))
    val rBatch = regsOf(dist.filter(col("is_new")))
    // THE maintenance step: merge two persisted register tables
    val rMerged = rHist.union(rBatch).groupBy(col("bucket")).agg(max(col("r")).as("r"))
    val rFull = regsOf(dist.select(col("user_id")).distinct())
    def zOf(regs: DataFrame, zName: String, eName: String): DataFrame = regs
      .agg((sum(expr(s"shiftleft(CAST(1 AS BIGINT), $SCALE - r)"))
        + (lit(M) - count(lit(1))) * lit(1L << SCALE)).cast("bigint").as(zName))
      .select(col(zName), expr(s"CAST(97444218012 div $zName AS BIGINT)").as(eName))
    val mism = rMerged.as("m").join(rFull.as("f"), Seq("bucket"), "full_outer")
      .agg(count(lit(1)).as("n_buckets"),
        sum(when(coalesce(col("m.r"), lit(-1L)) =!= coalesce(col("f.r"), lit(-2L)),
          1L).otherwise(0L)).as("n_mismatch"))
    dist.agg(
        sum(when(!col("is_new"), 1L).otherwise(0L)).as("exact_hist"),
        sum(when(col("is_new"), 1L).otherwise(0L)).as("exact_batch"),
        countDistinct(col("user_id")).as("exact_full"))
      .crossJoin(broadcast(mism))
      .crossJoin(broadcast(zOf(rMerged, "z_merged", "est_merged")))
      .crossJoin(broadcast(zOf(rFull, "z_full", "est_full")))
      .withColumn("overlap_users", expr("exact_hist + exact_batch - exact_full"))
      .withColumn("merge_exact",
        col("n_mismatch") === 0L && col("z_merged") === col("z_full"))
  }

  /** Count-Min sketch frequency estimates — the fourth integer-form
    * sketch beside KMV ([[eventsKmvDistinct]]), HLL
    * ([[eventsHllDistinct]]) and the Bloom screen
    * (graft.queries.DedupQueries.dedupBloomScreen), completing the
    * sketch pillar: distinct-count, membership, and now POINT
    * FREQUENCY. d = 3 salted fingerprint rows × w = 256 counters;
    * est(u) = min over rows of the counter u hashes into, which
    * upper-bounds the true count (collisions only ADD) — the green
    * row pins est ≥ exact per key AND the exact overcount each
    * collision contributes, all in integers both engines compute
    * identically. Scale: the counter build is the one corpus pass
    * (3× explode, then a (row, pos)-keyed map-side-combined count —
    * counters are mergeable sums, so partial aggregation IS sketch
    * merging; the streaming twin is [[graft.streaming.GraftStream
    * .sumUpdates]] keyed on (row, pos)); the probe side joins the
    * 768-row counter table BROADCAST against the distinct keys. At
    * 100 TB the keys you probe are a curated watchlist, not the
    * universe — here the 150-user universe doubles as the watchlist
    * so the overcount distribution is fully visible. */
  def eventsCmFreq(spark: SparkSession, sfDir: String): DataFrame = {
    val WIDTH = 256L
    def rowFp(j: Int) = graft.ext.TextOps.fingerprint(
      concat(lit(s"cm$j|"), col("user_id").cast("string"), lit("|graft"))) % WIDTH
    val probes = explode(array((0 to 2).map(j =>
      struct(lit(j.toLong).as("row"), rowFp(j).as("pos"))): _*)).as("p")
    val ev = events(spark, sfDir).select(col("user_id"))
    val counters = ev.select(probes).select(col("p.row"), col("p.pos"))
      .groupBy(col("row"), col("pos")).agg(count(lit(1)).as("c"))
    val exact = graft.core.QueryCaches.track(
      ev.groupBy(col("user_id")).agg(count(lit(1)).as("exact_n")))
    exact.select(col("user_id"), probes).select(col("user_id"), col("p.row"), col("p.pos"))
      .join(broadcast(counters), Seq("row", "pos"))
      .groupBy(col("user_id")).agg(min(col("c")).as("est_n"))
      .join(exact, Seq("user_id"))
      .select(col("user_id"), col("exact_n"), col("est_n"),
        (col("est_n") - col("exact_n")).as("overcount"))
  }

  /** Interval join — the session-concurrency audit: for a panel of
    * users (user_id ≡ 0 mod 10), how much foreign activity overlapped
    * each of their sessions. Spark has no interval-join physical
    * operator, so the naive spelling (`e.tus BETWEEN s.start AND
    * s.end`) plans as a nested-loop join — O(|sessions|·|events|),
    * dead at any scale. The scale pattern instead: DISCRETIZE time
    * into fixed buckets (1 h here), explode each session interval into
    * the buckets it covers, map each event to its single bucket,
    * equi-join on the bucket, then apply the exact range predicate as
    * a post-join filter. The bucket join is a plain shuffled hash
    * join; an event matches a given session in exactly one bucket (its
    * own), so no post-join dedup is needed — the classic correctness
    * trap of bucketized range joins, avoided by construction because
    * only ONE side explodes. This manual spelling is also AUTOMATED as an
    * opt-in optimizer rule: [[graft.plans.IntervalJoinRewrite]] gives
    * any naive BETWEEN join this exact plan under
    * `spark.graft.interval.rewrite`. Bucket width trades interval-side
    * fanout (long sessions → more buckets) against per-bucket join
    * density;
    * at 100 TB set it near the p95 interval length, and salt the
    * bucket key if one wall-clock hour is globally hot. Sessions with
    * zero foreign overlap survive via the final left join (the inner
    * bucket join would silently drop them). */
  def eventsIntervalJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val HUS = 3600L * 1000 * 1000 // 1-hour buckets (µs basis, like tus)
    val ev = graft.core.QueryCaches.track(usStream(spark, sfDir))
    val sess = withSessionNo(ev.filter(col("user_id") % 10 === 0)
        .withColumn("prev", lag(col("tus"), 1).over(userTimeOrder)))
      .groupBy(col("user_id"), col("session_no"))
      .agg(min(col("tus")).as("s_start"), max(col("tus")).as("s_end"))
    val sb = sess.withColumn("hb",
      explode(sequence(expr(s"s_start div $HUS"), expr(s"s_end div $HUS"))))
    val eb = ev.select(col("user_id").as("o_user"), col("event_id").as("o_event"),
      col("tus"), expr(s"tus div $HUS").as("hb"))
    val conc = sb.join(eb, Seq("hb"))
      .filter(col("o_user") =!= col("user_id") &&
        col("tus") >= col("s_start") && col("tus") <= col("s_end"))
      .groupBy(col("user_id"), col("session_no"))
      .agg(count(lit(1)).as("n_ev"), countDistinct(col("o_user")).as("n_us"))
    sess.join(conc, Seq("user_id", "session_no"), "left")
      .select(col("user_id"), col("session_no"), col("s_start"), col("s_end"),
        coalesce(col("n_ev"), lit(0L)).as("n_concurrent_events"),
        coalesce(col("n_us"), lit(0L)).as("n_concurrent_users"))
  }

  /** Point-in-time feature materialization — the feature-store join
    * every supervised training set needs done LEAKAGE-FREE: for each
    * label event (here: purchases of a user sample), the trailing-7-day
    * behavioral features (views, clicks, prior purchases, spend) as of
    * STRICTLY BEFORE the label instant — a feature computed at or after
    * the label timestamp is target leakage, the classic silent model
    * inflation. Same bucketize-explode-equi-join shape as
    * [[eventsIntervalJoin]] (the plan that replaces the nested-loop a
    * BETWEEN join would get): labels explode over their 8 covering day
    * buckets, features carry their own bucket, the join key is
    * (user, bucket) so co-partitioning holds and each (label, feature)
    * pair matches exactly once; the exact [lts−7d, lts) range is a
    * post-join filter. Spend folds in integer cents. Scale: shuffle is
    * user-keyed and bounded by 8× labels + events; no window, no
    * global structure; zero-feature labels restored by a left join. */
  def eventsFeaturePit(spark: SparkSession, sfDir: String): DataFrame = {
    val D = 86400L * 1000 * 1000 // day bucket, µs
    val W = 7L * D
    val ev = graft.core.QueryCaches.track(
      events(spark, sfDir).select(col("user_id"), col("event_id"),
        col("event_type"), col("value"), expr("ts div 1000").as("tus")))
    val labels = graft.core.QueryCaches.track(
      ev.filter(col("event_type") === "purchase" && col("user_id") % 5 === 0)
        .select(col("user_id"), col("event_id").as("label_event"),
          col("tus").as("lts")))
    val lb = labels.withColumn("db",
      explode(sequence(expr(s"(lts - $W) div $D"), expr(s"lts div $D"))))
    val fb = ev.select(col("user_id"), col("event_type"), col("value"),
      col("tus"), expr(s"tus div $D").as("db"))
    val feats = lb.join(fb, Seq("user_id", "db"))
      .filter(col("tus") >= col("lts") - W && col("tus") < col("lts"))
      .groupBy(col("user_id"), col("label_event"), col("lts"))
      .agg(
        sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("v"),
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("c"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("p"),
        sum(when(col("event_type") === "purchase", cents).otherwise(0L)).as("s"))
    labels.join(feats, Seq("user_id", "label_event", "lts"), "left")
      .select(col("user_id"), col("label_event"), col("lts"),
        coalesce(col("v"), lit(0L)).as("n_view_7d"),
        coalesce(col("c"), lit(0L)).as("n_click_7d"),
        coalesce(col("p"), lit(0L)).as("n_prior_purchase_7d"),
        coalesce(col("s"), lit(0L)).as("spend_7d_cents"))
  }

  /** Sequence-pattern matching over per-user event histories —
    * MATCH_RECOGNIZE-lite: each user's history collapses to an ordered
    * initial string (view→v, click→c, purchase→p, signup→s, error→e;
    * the five types have distinct initials), and row-pattern queries
    * become plain regexes over it: 'vc*p' counts view→clicks→purchase
    * funnel RUNS (the sequence-shape statement of [[eventsFunnel]],
    * which counts users), 'ee+' counts error bursts. Both engines use
    * non-overlapping greedy scans, so the counts are deterministic and
    * hash-comparable. Plan: ONE user-keyed exchange (the collect_list
    * groupBy); the ordering is an IN-ROW array_sort over (tus,
    * event_id, ini) structs — no window, no secondary shuffle — then
    * regexp_count runs inside the projection. Scale: per-user state is
    * the user's own history string — fine for human-scale users; a
    * 100 TB bot-guard caps per-user events upstream (the
    * [[eventsSessions]] skew note), or windows the sequence per
    * session before matching. */
  def eventsPatternMatch(spark: SparkSession, sfDir: String): DataFrame =
    events(spark, sfDir)
      .select(col("user_id"), col("event_id"), expr("ts div 1000").as("tus"),
        substring(col("event_type"), 1, 1).as("ini"))
      .groupBy(col("user_id"))
      .agg(concat_ws("", transform(
        array_sort(collect_list(struct(col("tus"), col("event_id"), col("ini")))),
        x => x("ini"))).as("seq"))
      .select(col("user_id"), length(col("seq")).cast("bigint").as("n_events"),
        expr("CAST(regexp_count(seq, 'vc*p') AS BIGINT)").as("n_funnel_runs"),
        expr("CAST(regexp_count(seq, 'ee+') AS BIGINT)").as("n_error_bursts"))

  /** The NATIVE as-of join under the oracle gate — purchases matched
    * to each user's latest at-or-before click through
    * [[graft.ext.AsOfJoin.asOfNative]], i.e. the custom
    * LogicalPlan → Strategy → AsOfJoinExec path (co-partition, sort,
    * O(1)-state streaming merge — see the exec's scaladoc), NOT the
    * union+window composition that [[eventsAttribution]] rides. The
    * right side carries only (user, ts), so equal-ts click ties are
    * value-identical and the match is deterministic; purchases with no
    * prior click keep NULL click_tus/gap (left-outer ≤ semantics,
    * spelled in the oracle as a correlated MAX). A green row here
    * gates the whole custom-operator stack end to end: planning
    * (strategy fires), distribution/ordering (EnsureRequirements
    * inserts the exchanges+sorts), and the merge itself. */
  def eventsAsofNative(spark: SparkSession, sfDir: String): DataFrame = {
    val (purchases, c) = purchasesAndClicks(spark, sfDir)
    val clicks = c.select(col("user_id").as("c_user"), col("tus").as("c_tus"))
    graft.ext.AsOfJoin.asOfNative(purchases, clicks,
        "user_id", "c_user", "p_tus", "c_tus")
      .select(col("user_id"), col("p_event"), col("p_tus"),
        col("c_tus").as("click_tus"),
        (col("p_tus") - col("c_tus")).as("gap_us"))
  }

  /** The native as-of operator in its other two directions — FORWARD
    * (earliest click at-or-after each purchase: the "next touch" join)
    * and NEAREST (closer of past/future, ties to the past) — emitted
    * side by side for every purchase. Same
    * [[graft.plans.AsOfJoinExec]] streaming merge as
    * [[eventsAsofNative]]: direction changes only the per-row
    * keep/stop rule, not the plan (one key exchange + sort per side,
    * O(1) merge state, each side scanned once per direction). The
    * oracle states both directions as correlated MIN/MAX subqueries
    * plus the tie-to-backward CASE — declarative semantics checked
    * against the imperative merge. */
  def eventsAsofDirections(spark: SparkSession, sfDir: String): DataFrame = {
    val (purchases, c) = purchasesAndClicks(spark, sfDir)
    val clicks = c.select(col("user_id").as("c_user"), col("tus").as("c_tus"))
    val fwd = graft.ext.AsOfJoin.asOfNative(purchases, clicks,
        "user_id", "c_user", "p_tus", "c_tus", direction = "forward")
      .select(col("user_id"), col("p_event"), col("p_tus"),
        col("c_tus").as("next_click_tus"))
    val near = graft.ext.AsOfJoin.asOfNative(purchases, clicks,
        "user_id", "c_user", "p_tus", "c_tus", direction = "nearest")
      .select(col("user_id"), col("p_event"),
        col("c_tus").as("nearest_click_tus"))
    fwd.join(near, Seq("user_id", "p_event"))
      .select(col("user_id"), col("p_event"), col("p_tus"),
        col("next_click_tus"), col("nearest_click_tus"),
        (col("nearest_click_tus") - col("p_tus")).as("nearest_gap_us"))
  }

  /** As-of tie-break contract, oracle-gated — the round-11 advice fix
    * ([[graft.plans.AsOfJoinExec]] `rightTie`) exercised on REAL
    * duplicate timestamps: every click is deliberately doubled into
    * two payload rows sharing one (user, ts), and the native operator
    * must deterministically match backward/nearest to the MAX-tie row
    * of the latest qualifying instant (latest-record-wins, the update
    * -stream contract) and forward to the MIN-tie row of the earliest.
    * Without the tie column both picks would be partition-order
    * lottery — the DuckDB oracle spells the total rule (max pay at max
    * ts ≤ t; min pay at min ts ≥ t), so a green hash pins the operator
    * semantics end to end. Same merge plan as every as-of row: one
    * hash exchange per side, sorted streaming merge, O(1) state. */
  def eventsAsofTies(spark: SparkSession, sfDir: String): DataFrame = {
    val (purchases, clicks) = purchasesAndClicks(spark, sfDir)
    val rights = graft.core.QueryCaches.track(
      clicks.select(col("user_id").as("c_user"), col("tus").as("c_tus"),
          (col("event_id") * 2).as("pay"))
        .unionByName(clicks.select(col("user_id").as("c_user"),
          col("tus").as("c_tus"), (col("event_id") * 2 + 1).as("pay"))))
    val back = graft.ext.AsOfJoin.asOfNative(purchases, rights,
        "user_id", "c_user", "p_tus", "c_tus",
        rightTieBreaker = Some("pay"))
      .select(col("user_id"), col("p_event"), col("pay").as("back_pay"))
    val fwd = graft.ext.AsOfJoin.asOfNative(purchases, rights,
        "user_id", "c_user", "p_tus", "c_tus", direction = "forward",
        rightTieBreaker = Some("pay"))
      .select(col("user_id"), col("p_event"), col("pay").as("fwd_pay"))
    back.join(fwd, Seq("user_id", "p_event"))
  }

  /** Robust daily-volume outliers — median absolute deviation instead
    * of [[eventsSpikes]]' trailing mean, because one genuine spike in
    * the trailing window masks the next one (the classic robustness
    * argument for MAD over z-scores). Everything stays integer-exact:
    * med and mad are percentile_disc-style rank selections (row_number
    * = (d+1) div 2 over the per-type sort — the [[eventsQuantiles]]
    * idiom, deterministic under count ties because only the VALUE at
    * the rank is kept), and the flag is the all-integer comparison
    * |n − med| > 2·mad. Scale: every relation after the first
    * aggregate is |types| × |days| — calendar-bounded, not
    * event-bounded — so the two rank windows and three broadcast
    * joins cost nothing at any event volume; the one corpus-sized
    * exchange is the map-side-combined daily count. */
  def eventsAnomaly(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = graft.core.QueryCaches.track(
      events(spark, sfDir)
        .groupBy(col("event_type"), to_date(tsMicros).as("day"))
        .agg(count(lit(1)).as("n")))
    val d = daily.groupBy(col("event_type")).agg(count(lit(1)).as("d"))
    val wv = Window.partitionBy(col("event_type")).orderBy(col("n"))
    val med = daily.withColumn("rk", row_number().over(wv).cast("bigint"))
      .join(broadcast(d), "event_type")
      .filter(col("rk") === expr("(d + 1) div 2"))
      .select(col("event_type"), col("n").as("med"))
    val dev = daily.join(broadcast(med), "event_type")
      .withColumn("dev", abs(col("n") - col("med")))
    val wd = Window.partitionBy(col("event_type")).orderBy(col("dev"))
    val mad = dev.withColumn("rk", row_number().over(wd).cast("bigint"))
      .join(broadcast(d), "event_type")
      .filter(col("rk") === expr("(d + 1) div 2"))
      .select(col("event_type"), col("dev").as("mad"))
    dev.join(broadcast(mad), "event_type")
      .select(col("event_type"), col("day"), col("n"), col("med"), col("mad"),
        (abs(col("n") - col("med")) > col("mad") * 2).as("outlier"))
  }

  /** Per-type daily-count trend line — the OLS slope behind every
    * "is this event type growing?" dashboard, kept EXACT across
    * engines by never dividing: slope = slope_num / slope_den with
    * slope_num = n·Σxy − Σx·Σy and slope_den = n·Σx² − (Σx)² over
    * (x = epoch day, y = daily count), all int64 sums (day numbers
    * ~2·10^4, so Σx² per type stays ≤ ~10^13 even at decades of
    * daily rows; the daily counts — the only corpus-sized factor —
    * enter linearly, and at 10^15-event scale the sums move to
    * DECIMAL(38,0) unchanged). `rising` is the sign test num > 0
    * (den ≥ 0 always). Plan: the daily aggregate map-side combines
    * to (type, day) — the only corpus-sized exchange — then five
    * running sums collapse per type; no window, no sort, no
    * division. */
  def eventsTrend(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = events(spark, sfDir)
      .groupBy(col("event_type"), to_date(tsMicros).as("day"))
      .agg(count(lit(1)).as("n"))
      .select(col("event_type"),
        expr("CAST(datediff(day, DATE '1970-01-01') AS BIGINT)").as("x"),
        col("n").as("y"))
    daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"), sum(col("y")).as("sum_count"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x")).as("sx"),
        sum(col("x") * col("x")).as("sxx"))
      .select(col("event_type"), col("n_days"), col("sum_count"),
        (col("n_days") * col("sxy") - col("sx") * col("sum_count")).as("slope_num"),
        (col("n_days") * col("sxx") - col("sx") * col("sx")).as("slope_den"),
        (col("n_days") * col("sxy") - col("sx") * col("sum_count") > 0).as("rising"))
  }

  /** Autocorrelation of the daily event-count series, lags 1..7 — the
    * seasonality detector beside [[eventsTrend]]'s direction test (a
    * weekly cycle shows as a lag-7 peak). Exactness: the series is the
    * GAPFILLED integer daily count (missing days count 0 — dropping
    * them would silently shift every lag alignment), and the Pearson
    * ingredients are plain BIGINT sums; the correlation itself needs a
    * square root, so what crosses the hash gate is r² in milli units
    * with the sign carried separately: sign(num)·⌊1000·num² /
    * (denx·deny)⌋ — squares as DECIMAL(38,0) (num is ~n·Σxy, int64
    * death at warehouse scale), one integral division whose quotient is
    * ≤1000 by Cauchy-Schwarz, truncation-consistent across engines
    * (Spark `div` vs DuckDB HUGEINT `//`, both toward zero; the
    * numerator is a square, so flooring never disagrees anyway). Scale:
    * the corpus collapses to one row per DAY in the first aggregate;
    * the spine explode, 7-lag fanout, and self-join are all
    * days-sized — at 100 TB this is a 36,500-row tail on a one-pass
    * map-side-combined count. */
  /** Two-sided CUSUM monitor over the daily event-count series — the
    * ONLINE mean-shift detector beside the retrospective single-split
    * [[eventsChangepoint]]: that row asks "where was the one best
    * break", this one tracks per-day drift charts (the form a
    * monitoring system alerts on, and the form [[graft.streaming
    * .GraftStream]] can maintain incrementally). The textbook recursion
    * s_d = max(0, s_{d−1} + dev_d) is sequential, which would force a
    * driver loop; the identity s_d = cum_d − min(0, min_{j≤d} cum_j)
    * re-expresses it as TWO stacked window functions (running sum, then
    * running extremum of it) — fully distributed, one pass. Both sides:
    * CUSUM⁺ flags upward level shifts, CUSUM⁻ = max(0, max cum) − cum
    * the downward ones. Exactness: the series is GAPFILLED (missing
    * days are real zero-count observations, the [[eventsAcf]]
    * contract), and deviations are the all-integer cnt·n_days − total
    * (scaling by n_days instead of dividing by it), so every statistic
    * is a BIGINT and the flag thresholds (sustained shift worth 4×
    * the daily mean, i.e. cusum > 4·total in the scaled units) compare
    * integers. Windows partition per event type over calendar days —
    * domain-bounded at any event volume; the heavy work (daily rollup)
    * is one hash aggregate and the type totals broadcast. */
  def eventsCusum(spark: SparkSession, sfDir: String): DataFrame = {
    val spine = calendarSpine(spark, sfDir)
    val sp = graft.core.QueryCaches.track(spine)
    val tot = sp.groupBy(col("t"))
      .agg(sum(col("cnt")).as("total"), count(lit(1)).as("n_days"))
    val dev = sp.join(broadcast(tot), Seq("t"))
      .withColumn("dev", col("cnt") * col("n_days") - col("total"))
    val w = Window.partitionBy(col("t")).orderBy(col("d"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dev.withColumn("cum", sum(col("dev")).over(w))
      .withColumn("cusum_pos", col("cum") - least(lit(0L), min(col("cum")).over(w)))
      .withColumn("cusum_neg", greatest(lit(0L), max(col("cum")).over(w)) - col("cum"))
      .select(col("t"), col("d"), col("cnt"), col("cusum_pos"), col("cusum_neg"),
        (col("cusum_pos") > col("total") * 4).as("up_shift"),
        (col("cusum_neg") > col("total") * 4).as("down_shift"))
  }

  /** Classical additive seasonal decomposition of the daily series —
    * trend + day-of-week seasonal + residual, the STL-lite every
    * metrics pipeline runs before alerting (a Monday dip is seasonal,
    * not drift; [[eventsCusum]] charts shifts, this row explains
    * them). Exactness through scaling, never division: the 7-day
    * centered trend is kept as its window SUM (scale 7), detrended =
    * 7·y − trend7 (integers), the per-(type, dow) seasonal mean and
    * the residual surface in milli units via TRUNCATING division —
    * Spark's `div` truncates toward zero while DuckDB's BIGINT `//`
    * floors, so every division is spelled sign-safely (divide the
    * absolute value, re-apply the sign). Edge days without a full
    * 7-day window are excluded (n7 = 7 filter) rather than emitting
    * a biased partial trend. Windows partition per type over calendar
    * days (domain-bounded); the seasonal relation is |types|×7 rows
    * and broadcasts back. */
  def eventsSeasonal(spark: SparkSession, sfDir: String): DataFrame = {
    val spine = calendarSpine(spark, sfDir)
    val w7 = Window.partitionBy(col("t")).orderBy(col("d")).rowsBetween(-3, 3)
    val interior = graft.core.QueryCaches.track(
      spine.withColumn("n7", count(lit(1)).over(w7))
        .withColumn("trend7", sum(col("cnt")).over(w7))
        .filter(col("n7") === 7)
        .withColumn("det", col("cnt") * 7 - col("trend7"))
        .withColumn("dow", (col("d") + 4) % 7)) // 1970-01-01 = Thursday
    val seasonal = interior.groupBy(col("t"), col("dow"))
      .agg(sum(col("det")).as("sdet"), count(lit(1)).as("ndow"))
      .select(col("t"), col("dow"),
        (signum(col("sdet")).cast("bigint") *
          expr("abs(1000 * sdet) div (7 * ndow)")).as("seasonal_milli"))
    interior.join(broadcast(seasonal), Seq("t", "dow"))
      .select(col("t"), col("d"), col("dow"), col("cnt"), col("trend7"),
        col("det"), col("seasonal_milli"),
        (signum(col("det")).cast("bigint") * expr("abs(1000 * det) div 7") -
          col("seasonal_milli")).as("resid_milli"))
  }

  /** Seasonality-adjusted anomaly flags — the alerting layer on
    * [[eventsSeasonal]]: a raw daily count can look anomalous merely
    * because it is a Sunday; the residual (trend- and
    * day-of-week-removed) is the series worth thresholding. The
    * threshold is a robust 3×MAD-about-zero on |residual| per type
    * (median, not mean — one genuine outlier must not widen its own
    * gate), with an integer floor of 1 milli so a perfectly regular
    * series doesn't flag noise-free zeros. Exactness: the residual
    * relation is the oracle-pinned [[eventsSeasonal]] output
    * (persisted — the MAD pass and the flag join both read it); the
    * median is a rank pick at (n+1) div 2, all comparisons integer.
    * Scale: windows partition per type over calendar days
    * (domain-bounded); the |types|-row MAD relation broadcasts. */
  def eventsSeasonalAnomaly(spark: SparkSession, sfDir: String): DataFrame = {
    val r = graft.core.QueryCaches.track(eventsSeasonal(spark, sfDir))
    val nt = r.groupBy(col("t")).agg(count(lit(1)).as("n"))
    val mad = r.select(col("t"), abs(col("resid_milli")).as("a"), col("d"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("t")).orderBy(col("a"), col("d"))))
      .join(broadcast(nt), Seq("t"))
      .filter(col("rk") === expr("(n + 1) div 2"))
      .select(col("t"), col("a").as("mad_milli"))
    r.join(broadcast(mad), Seq("t"))
      .select(col("t"), col("d"), col("cnt"), col("resid_milli"), col("mad_milli"),
        (abs(col("resid_milli")) > greatest(lit(3L) * col("mad_milli"), lit(1L)))
          .as("anomaly"))
  }

  def eventsAcf(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = events(spark, sfDir)
      .groupBy(calendarDay.as("d"))
      .agg(count(lit(1)).as("n"))
    val bounds = daily.agg(min(col("d")).as("lo"), max(col("d")).as("hi"))
    val spine = bounds.select(explode(expr("sequence(lo, hi)")).as("d"))
      .join(daily, Seq("d"), "left")
      .select(col("d"), coalesce(col("n"), lit(0L)).as("x"))
    val sp = graft.core.QueryCaches.track(spine)
    val lags = spark.range(1, 8).select(col("id").as("lag"))
    val pairs = sp.crossJoin(lags)
      .select(col("lag"), col("d"), col("x"), (col("d") + col("lag")).as("d2"))
      .join(sp.select(col("d").as("d2"), col("x").as("y")), Seq("d2"))
    pairs.groupBy(col("lag"))
      .agg(count(lit(1)).as("n_pairs"), pairMoments: _*)
      .select(Seq(col("lag"), col("n_pairs")) ++ pairCovariance: _*)
      .select(col("lag"), col("n_pairs"), col("num"), col("denx"), col("deny"),
        when(col("denx") === 0L || col("deny") === 0L, lit(null).cast("bigint"))
          .otherwise(signum(col("num")).cast("bigint") *
            expr("CAST((CAST(1000 AS DECIMAL(38,0)) * CAST(num AS DECIMAL(38,0)) * CAST(num AS DECIMAL(38,0))) div " +
              "(CAST(denx AS DECIMAL(38,0)) * CAST(deny AS DECIMAL(38,0))) AS BIGINT)"))
          .as("r2_milli_signed"))
  }

  /** Dominant-period detection per event type — [[eventsAcf]] taken to
    * its decision: for each type's gap-filled daily count series, the
    * lag in 2..14 days maximizing the signed autocorrelation r² (ties →
    * the SHORTEST lag, the harmonic-root convention) is the cycle a
    * seasonal model should key on — the automated readout behind
    * "weekly pattern?" that [[eventsSeasonal]] assumes rather than
    * tests. Same all-integer moment spelling as the ACF row. Scale:
    * the grid is (types × calendar days) — domain-bounded, never
    * events-scale — built from a 1-row bounds broadcast; the argmax
    * window partitions BY TYPE (13 candidate rows per partition, no
    * global sort anywhere). */
  def eventsPeriodicity(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = events(spark, sfDir)
      .groupBy(col("event_type"), calendarDay.as("d"))
      .agg(count(lit(1)).as("n"))
    val bounds = daily.agg(min(col("d")).as("lo"), max(col("d")).as("hi"))
    val days = bounds.select(explode(expr("sequence(lo, hi)")).as("d"))
    val types = daily.select(col("event_type")).distinct()
    val grid = graft.core.QueryCaches.track(
      types.crossJoin(broadcast(days))
        .join(daily, Seq("event_type", "d"), "left")
        .select(col("event_type"), col("d"), coalesce(col("n"), lit(0L)).as("x")))
    val lags = spark.range(2, 15).select(col("id").as("lag"))
    val scored = grid.crossJoin(broadcast(lags))
      .select(col("event_type"), col("lag"), col("x"), (col("d") + col("lag")).as("d2"))
      .join(grid.select(col("event_type"), col("d").as("d2"), col("x").as("y")),
        Seq("event_type", "d2"))
      .groupBy(col("event_type"), col("lag"))
      .agg(count(lit(1)).as("n_pairs"), pairMoments: _*)
      .select(Seq(col("event_type"), col("lag"), col("n_pairs")) ++ pairCovariance: _*)
      .select(col("event_type"), col("lag"), col("n_pairs"),
        when(col("denx") === 0L || col("deny") === 0L, lit(null).cast("bigint"))
          .otherwise(signum(col("num")).cast("bigint") *
            expr("CAST((CAST(1000 AS DECIMAL(38,0)) * CAST(num AS DECIMAL(38,0)) * " +
              "CAST(num AS DECIMAL(38,0))) div " +
              "(CAST(denx AS DECIMAL(38,0)) * CAST(deny AS DECIMAL(38,0))) AS BIGINT)"))
          .as("r2_milli_signed"))
    scored
      .withColumn("rk", row_number().over(Window.partitionBy(col("event_type"))
        .orderBy(col("r2_milli_signed").desc_nulls_last, col("lag"))))
      .filter(col("rk") === 1)
      .select(col("event_type"), col("lag").as("best_lag"),
        col("n_pairs"), col("r2_milli_signed"))
  }

  /** A/B conversion test — the experimentation readout the event pillar
    * was missing: users split into two arms by id parity (deterministic,
    * content-keyed — the same no-RNG stance as curate_pps_sample),
    * converted = reached at least one `purchase`. The 2×2 χ² statistic
    * has an all-integer spelling — χ² = N·(ad−bc)² / ((a+b)(c+d)(a+c)
    * (b+d)) — emitted in micro units via one integral division with
    * DECIMAL(38,0) partials ((ad−bc)² alone kills int64 past ~10⁵ users
    * per arm); the quotient is χ²·10⁶ ≤ 10⁶·N, in-range until ~10¹²
    * users. Per-arm conversion rates ride the same pattern (milli
    * units, non-negative, so engine div agreement is trivial). Scale:
    * one pass to per-user (arm, converted) — map-side combined,
    * users-sized — then a single 4-cell fold; nothing after the first
    * aggregate exceeds one row. */
  def eventsAbtest(spark: SparkSession, sfDir: String): DataFrame = {
    // "reached a purchase" is ~universal in this corpus, which would
    // zero a χ² margin — convert on heavy purchasing (≥14, the global
    // median) so both margins stay populated at every SF.
    val u = events(spark, sfDir)
      .groupBy(col("user_id"))
      .agg(sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("np"))
      .select((col("user_id") % 2).as("arm"),
        when(col("np") >= 14L, 1L).otherwise(0L).as("conv"))
    u.agg(
        sum(when(col("arm") === 0L && col("conv") === 1L, 1L).otherwise(0L)).as("a"),
        sum(when(col("arm") === 0L && col("conv") === 0L, 1L).otherwise(0L)).as("b"),
        sum(when(col("arm") === 1L && col("conv") === 1L, 1L).otherwise(0L)).as("c"),
        sum(when(col("arm") === 1L && col("conv") === 0L, 1L).otherwise(0L)).as("d"))
      .select(col("a"), col("b"), col("c"), col("d"),
        expr("CAST((1000 * a) div (a + b) AS BIGINT)").as("conv_a_milli"),
        expr("CAST((1000 * c) div (c + d) AS BIGINT)").as("conv_b_milli"),
        expr("CASE WHEN (a + b) * (c + d) * (a + c) * (b + d) = 0 THEN NULL ELSE " +
          "CAST((CAST(1000000 AS DECIMAL(38,0)) * (a + b + c + d) * " +
          "(CAST(a AS DECIMAL(38,0)) * d - CAST(b AS DECIMAL(38,0)) * c) * " +
          "(CAST(a AS DECIMAL(38,0)) * d - CAST(b AS DECIMAL(38,0)) * c)) div " +
          "(CAST(a + b AS DECIMAL(38,0)) * (c + d) * (a + c) * (b + d)) AS BIGINT) END")
          .as("chi2_micro"))
  }

  /** Weekly cohort retention matrix — the acquisition dashboard beside
    * [[eventsRetention]]'s D1 view: users bucketed by their FIRST
    * active week (epoch-week numbering — engine-neutral, no locale
    * week-start), counted per week offset since. Plan at 100 TB: one
    * distinct (user, week) projection bounds everything downstream to
    * users × weeks (the same exchange-bounding trick as retention) and
    * is persisted query-scoped because both the first-touch aggregate
    * and the offset join read it; both subsequent operations key on
    * user_id, so the join reuses the aggregate's partitioning. */
  def eventsCohorts(spark: SparkSession, sfDir: String): DataFrame = {
    val du = graft.core.QueryCaches.track(
      events(spark, sfDir)
        .select(col("user_id"), to_date(tsMicros).as("d"))
        .selectExpr("user_id",
          "CAST(datediff(d, DATE '1970-01-01') AS BIGINT) div 7 AS week")
        .distinct())
    du.groupBy(col("user_id")).agg(min(col("week")).as("cohort"))
      .join(du, "user_id")
      .groupBy(col("cohort"), (col("week") - col("cohort")).as("week_offset"))
      .agg(countDistinct(col("user_id")).as("n_active"))
  }

  /** Exact discrete quantiles (p25/p50/p75 of `value` per event type)
    * by rank selection — the hash-checkable counterpart of the GK
    * sketch (`eventsValueQuantilesApprox`): percentile_disc picks an
    * actual population member, so the value is deterministic even
    * among ties, and the rank arithmetic is all-integer (ceil(q·n) as
    * (n+3) div 4 etc). The per-type total sort is the honest cost of
    * EXACT quantiles — at 100 TB each type's values cross one
    * partition, which is exactly why the mergeable GK sketch is the
    * scale path; this row pins the ground truth the sketch is tested
    * against. */
  def eventsQuantiles(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = events(spark, sfDir).select(col("event_type"), col("value"))
    val n = ev.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("value"))
    ev.withColumn("rk", row_number().over(w).cast("bigint"))
      .join(broadcast(n), "event_type")
      .filter(col("rk") === expr("(n + 3) div 4") ||
        col("rk") === expr("(n + 1) div 2") ||
        col("rk") === expr("(3*n + 3) div 4"))
      .select(col("event_type"), col("n"), col("rk"),
        when(col("rk") === expr("(n + 3) div 4"), "p25")
          .when(col("rk") === expr("(n + 1) div 2"), "p50")
          .otherwise("p75").as("q"),
        col("value"))
  }

  /** Mergeable QUANTILE SKETCH beside exact — the p50/p90/p99 answer
    * that actually ships at 100 TB: an HDR-style log-bucket histogram
    * (8 linear sub-buckets per octave over v = gap+1, so bucket counts
    * are plain mergeable SUMS and the bucket domain is ≤ 8·64 rows no
    * matter the data) walked cumulatively to each rank target, with
    * the bucket's [lo, hi) reconstruction guaranteeing relative error
    * ≤ 1/8. The EXACT side rides [[graft.ext.SkewOps.globalRank]]
    * (two-job distributed rank — no users-scale global window) and
    * the green row pins lo ≤ exact < hi per quantile ON DATA
    * (`bound_ok`), the sketch-beside-truth calibration pattern of
    * [[eventsHllDistinct]]. The only ordered window is the cumsum
    * over the ≤512-bucket histogram — domain-bounded by the sketch
    * size itself (WindowAuditSpec-allowlisted), which is the whole
    * point: the full gap multiset never crosses one partition. */
  def eventsQuantileSketch(spark: SparkSession, sfDir: String): DataFrame = {
    val gaps = graft.core.QueryCaches.track(
      usWithPrev(spark, sfDir)
        .filter(col("prev").isNotNull)
        .select(expr("(tus - prev) div 1000000").as("gap_s")))
    val n1 = gaps.agg(count(lit(1)).as("n"))
    val ranks = spark.range(1)
      .select(explode(array(lit(50L), lit(90L), lit(99L))).as("q"))
      .crossJoin(broadcast(n1))
      .withColumn("rk_t", expr("(q * n + 99) div 100"))
    val exact = graft.ext.SkewOps.globalRank(gaps, Seq("gap_s"), "rk")
      .join(broadcast(ranks), col("rk") === col("rk_t"))
      .select(col("q"), col("n"), col("rk_t"), col("gap_s").as("exact_gap"))
    val hist = gaps
      .withColumn("v", col("gap_s") + 1)
      .withColumn("e", (length(bin(col("v"))) - 1).cast("bigint"))
      .withColumn("bucket", expr(
        "CASE WHEN v < 8 THEN v ELSE e * 8 + (shiftright(v, CAST(e - 3 AS INT)) & 7) END"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("cnt"))
    val cum = hist.withColumn("cum", sum(col("cnt")).over(
      Window.orderBy(col("bucket")).rowsBetween(Window.unboundedPreceding, 0)))
    val pick = cum.join(broadcast(ranks), col("cum") >= col("rk_t"))
      .groupBy(col("q")).agg(min(col("bucket")).as("bucket"))
      .withColumn("lo_v", expr("CASE WHEN bucket < 8 THEN bucket " +
        "ELSE shiftleft(8 + bucket % 8, CAST(bucket div 8 - 3 AS INT)) END"))
      .withColumn("width", expr("CASE WHEN bucket < 8 THEN CAST(1 AS BIGINT) " +
        "ELSE shiftleft(CAST(1 AS BIGINT), CAST(bucket div 8 - 3 AS INT)) END"))
    exact.join(pick, Seq("q"))
      .select(col("q"), col("n"), col("rk_t").as("rank_t"), col("bucket"),
        (col("lo_v") - 1).as("lo_gap"),
        (col("lo_v") + col("width") - 1).as("hi_gap_excl"),
        (col("lo_v") + expr("width div 2") - 1).as("est_gap"),
        col("exact_gap"),
        (col("lo_v") <= col("exact_gap") + 1 &&
          col("exact_gap") + 1 < col("lo_v") + col("width")).as("bound_ok"))
  }

  /** RFM segmentation — the classic customer-value grid (recency /
    * frequency / monetary) as an exact integer pipeline: per user, R =
    * days since last event, F = event count, M = floor-cents of
    * purchase value (floor(v·100) is the one double op, identical in
    * both engines); each metric quintile-bands by the
    * [[eventsQuantiles]] rank-selection idiom — the 4 boundary VALUES
    * at exact ranks 1+((n−1)·q div 5), then band = 1 + Σ (v > bᵢ) by
    * comparison, so tied users always land in the same band
    * (value-determined, no rank ties to arbitrate) — and the output is
    * the segment grid rollup (≤125 rows) with user counts and summed
    * F/M. Scale: one corpus pass to per-user metrics; the melt is
    * 3×|users|; the ranked window partitions by metric (3 partitions
    * of user-scaled rows — at warehouse scale swap the boundary step
    * for [[graft.ext.SkewOps.globalNtile]]'s approx-quantile banding,
    * same comparison-banding downstream); boundaries broadcast. */
  def eventsRfm(spark: SparkSession, sfDir: String): DataFrame = {
    val e = graft.core.QueryCaches.track(
      events(spark, sfDir)
        .select(col("user_id"), expr("ts div 86400000000000").as("day"),
          col("event_type"), col("value")))
    val edge = e.agg(max(col("day")).as("d1"))
    val rfm = graft.core.QueryCaches.track(
      e.crossJoin(broadcast(edge))
        .groupBy(col("user_id"))
        .agg((max(col("d1")) - max(col("day"))).as("r"),
          count(lit(1)).as("f"),
          sum(when(col("event_type") === "purchase", cents).otherwise(0L)).as("m")))
    val melt = graft.core.QueryCaches.track(
      rfm.selectExpr("user_id", "stack(3, 'R', r, 'F', f, 'M', m) AS (metric, v)"))
    val n = melt.groupBy(col("metric")).agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("metric")).orderBy(col("v"), col("user_id"))
    val bounds = melt.withColumn("rk", row_number().over(w).cast("bigint"))
      .join(broadcast(n), "metric")
      .filter((col("rk") === expr("1 + ((n - 1) * 1) div 5")) ||
        (col("rk") === expr("1 + ((n - 1) * 2) div 5")) ||
        (col("rk") === expr("1 + ((n - 1) * 3) div 5")) ||
        (col("rk") === expr("1 + ((n - 1) * 4) div 5")))
      .groupBy(col("metric"))
      // the four rank POSITIONS are distinct whenever n ≥ 5, so the
      // boundary multiset has exactly 4 elements — kept as a multiset
      // (no distinct): a VALUE repeating at several positions must
      // count once per position or upper bands vanish. Degenerate
      // n < 5: positions collide and the OR-filter emits the collided
      // row once, so the multiset shrinks and band ids top out below
      // 5 — the oracle computes the identical degraded banding, and a
      // metric with fewer than 5 observations has no 5-quantile
      // banding to degrade from.
      .agg(sort_array(collect_list(col("v"))).as("bs"))
    val banded = melt.join(broadcast(bounds), "metric")
      .select(col("user_id"), col("metric"),
        (lit(1L) + expr("aggregate(bs, CAST(0 AS BIGINT), " +
          "(acc, b) -> acc + CASE WHEN v > b THEN 1 ELSE 0 END)")).as("band"))
    banded.groupBy(col("user_id"))
      .agg(max(when(col("metric") === "R", col("band"))).as("r_band"),
        max(when(col("metric") === "F", col("band"))).as("f_band"),
        max(when(col("metric") === "M", col("band"))).as("m_band"))
      .join(rfm, "user_id")
      .groupBy(col("r_band"), col("f_band"), col("m_band"))
      .agg(count(lit(1)).as("n_users"),
        sum(col("f")).as("sum_f"), sum(col("m")).as("sum_m_cents"))
  }

  /** Within-60s event-type co-occurrence — the banded RANGE JOIN
    * pattern: the naive form is an inequality self-join (quadratic
    * nested loop); the scale form buckets time into 60-s bands and
    * equi-joins on (user, band) with the "first" side probing its own
    * band AND the next one — every qualifying pair meets exactly once
    * (the second event's band is fixed, and for 0 ≤ Δ ≤ 60 s it is
    * band or band+1 of the first), candidates are band-bounded, and
    * the exact time/tie predicate filters inside the join. The oracle
    * spells the naive inequality join — identical semantics, so the
    * green row pins the banding rewrite. Pair orientation: earlier
    * event first (ties broken by event_id). */
  /** Association rules over (user, day) baskets — support, confidence,
    * and lift per ordered event-type pair: the market-basket screen
    * that separates "B follows A because both are popular" from a real
    * association (lift > 1). Basket = the distinct event types a user
    * produced in one calendar day. ALL-INTEGER surfaces: support,
    * confidence, and lift are single integral divisions in micro
    * units, the lift product routed through DECIMAL(38,0) (1e6·n_ab·N
    * passes int64 at warehouse scale). Plan at 100 TB: the corpus
    * collapses to the DISTINCT (user, day, type) relation in one
    * map-side-combined pass; the pair join is keyed (user, day) —
    * co-partitioned with ≤|types| rows per basket side, so candidates
    * are basket-bounded, never quadratic in events; the type
    * marginals (|types| rows) and the 1-row basket total broadcast
    * back. */
  def eventsLift(spark: SparkSession, sfDir: String): DataFrame = {
    val b = graft.core.QueryCaches.track(
      events(spark, sfDir).select(col("user_id"), calendarDay.as("d"), col("event_type"))
        .distinct())
    val nT = b.groupBy(col("event_type")).agg(count(lit(1)).as("n_t"))
    val nBaskets = b.select(col("user_id"), col("d")).distinct()
      .agg(count(lit(1)).as("n_baskets"))
    val pairs = b.select(col("user_id"), col("d"), col("event_type").as("type_a"))
      .join(b.select(col("user_id"), col("d"), col("event_type").as("type_b")),
        Seq("user_id", "d"))
      .filter(col("type_a") < col("type_b"))
      .groupBy(col("type_a"), col("type_b"))
      .agg(count(lit(1)).as("n_ab"))
    pairs
      .join(broadcast(nT.select(col("event_type").as("type_a"), col("n_t").as("n_a"))),
        Seq("type_a"))
      .join(broadcast(nT.select(col("event_type").as("type_b"), col("n_t").as("n_b"))),
        Seq("type_b"))
      .crossJoin(broadcast(nBaskets))
      .select(col("type_a"), col("type_b"), col("n_ab"),
        expr("(1000000 * n_ab) div n_baskets").as("support_micro"),
        expr("(1000000 * n_ab) div n_a").as("conf_micro"),
        expr("CAST((CAST(1000000 AS DECIMAL(38,0)) * n_ab * n_baskets) " +
          "div (n_a * n_b) AS BIGINT)").as("lift_micro"))
  }

  /** Pareto concentration of activity — the skew audit run before
    * choosing partitioning and salting strategies (and the product
    * question "how much of the volume do the heaviest users drive").
    * One row: user count, event total, the exact Gini coefficient in
    * milli units via the rank identity G = Σ(2i−n−1)x_(i) / (n·Σx)
    * over counts ranked ascending, and the top-decile share. The
    * global rank comes from [[graft.ext.SkewOps.globalRank]]
    * (repartitionByRange + count scan, two jobs, NO single-partition
    * window — the [[qAnalyzeStats]] posture) while the oracle spells
    * the row_number window this plan exists to avoid. The rank-sum is
    * DECIMAL(38,0)-exact (i·x reaches n·Σx ≈ 1e21 at warehouse scale)
    * and every surfaced figure is one integral division. */
  def eventsPareto(spark: SparkSession, sfDir: String): DataFrame = {
    val cnt = graft.core.QueryCaches.track(
      events(spark, sfDir).groupBy(col("user_id")).agg(count(lit(1)).as("x")))
    val tot = cnt.agg(count(lit(1)).as("nu"), sum(col("x")).as("te"))
    val ranked = graft.ext.SkewOps.globalRank(cnt, Seq("x", "user_id"), "rk")
    ranked.crossJoin(broadcast(tot))
      .agg(max(col("nu")).as("n_users"), max(col("te")).as("total_events"),
        sum(expr("CAST(2 * rk - nu - 1 AS DECIMAL(38,0)) * x")).as("gs"),
        sum(when(col("rk") > col("nu") - expr("nu div 10"), col("x"))
          .otherwise(lit(0L))).as("top_x"))
      .select(col("n_users"), col("total_events"),
        expr("CAST((1000 * gs) div (CAST(n_users AS DECIMAL(38,0)) * total_events) " +
          "AS BIGINT)").as("gini_milli"),
        expr("(1000 * top_x) div total_events").as("top10_share_milli"))
  }

  def eventsCooccur(spark: SparkSession, sfDir: String): DataFrame = {
    val e = graft.core.QueryCaches.track(
      events(spark, sfDir).select(col("event_id"), col("user_id"),
        col("event_type"), expr("ts div 1000").as("tus"),
        expr("(ts div 1000) div 60000000").as("bk")))
    val first = e.select(col("user_id"), col("event_id").as("id_a"),
      col("event_type").as("type_a"), col("tus").as("us_a"), col("bk"))
    val probes = first.unionAll(first.withColumn("bk", col("bk") + 1))
    val second = e.select(col("user_id"), col("event_id").as("id_b"),
      col("event_type").as("type_b"), col("tus").as("us_b"), col("bk"))
    probes.join(second, Seq("user_id", "bk"))
      .filter(col("us_b") - col("us_a") >= 0L &&
        col("us_b") - col("us_a") <= 60000000L &&
        (col("us_a") < col("us_b") ||
          (col("us_a") === col("us_b") && col("id_a") < col("id_b"))))
      .groupBy(col("type_a"), col("type_b"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** Power-of-2 histogram of per-user inter-event gaps — the cadence
    * profile that picks sessionization gaps and watermark delays. The
    * log2 bucket is ALL-INTEGER on both engines: floor(log2(g)) =
    * length(bin(g)) − 1 (and bin(0)='0' puts zero-gaps in bucket 0),
    * sidestepping cross-engine float log rounding at bucket
    * boundaries. One lag window per user partition + one hash
    * aggregate; same scale posture (and same skew caveat) as
    * sessionization. */
  def eventsGapHist(spark: SparkSession, sfDir: String): DataFrame = {
    usWithPrev(spark, sfDir)
      .filter(col("prev").isNotNull)
      .withColumn("gap_s", expr("(tus - prev) div 1000000"))
      .withColumn("bucket", (length(bin(col("gap_s"))) - 1).cast("bigint"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_gaps"), min(col("gap_s")).as("min_gap"),
        max(col("gap_s")).as("max_gap"))
  }

  /** SCD2 / CDC change-interval compaction — the MERGE-pattern rollup a
    * warehouse runs to turn an event feed into slowly-changing-dimension
    * history: per (user, event_type) stream ordered by (ts, event_id), a
    * new validity interval opens exactly when the tracked state (the
    * value band floor(value/50) — both engines do one IEEE divide + floor,
    * then all comparisons are integer) differs from the previous row's.
    * Reported per event type: events in, intervals out, and the integer
    * compaction percentage — the storage win SCD2 exists for.
    * Scale: one lag window partitioned by (user, type) — millions of
    * independent partitions, no global sort — then a map-side-combined
    * aggregate to |types| rows. Same skew posture as sessionization:
    * one pathological user serializes only their own partition. */
  def eventsScd(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    events(spark, sfDir)
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"),
        floor(col("value") / lit(50.0d)).as("state"))
      .withColumn("prev", lag(col("state"), 1).over(w))
      .withColumn("chg",
        when(col("prev").isNull || col("prev") =!= col("state"), 1L).otherwise(0L))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("chg")).as("n_intervals"))
      .withColumn("compression_pct",
        expr("100 * (n_events - n_intervals) div n_events"))
  }

  /** CDC MERGE under the oracle gate — the lakehouse upsert: events
    * before 2024-01-15 build the base snapshot (latest value per user),
    * events after are the changelog ('error' rows = deletes, everything
    * else = upserts), and [[graft.ext.MergeOps.cdcMerge]] applies it
    * last-writer-wins by (ts, event_id). Values ride as
    * floor(value·1e6) BIGINT — one IEEE multiply + floor in both
    * engines, then all comparisons are integer. The oracle spells the
    * same MERGE with row_number windows + FULL JOIN; the Spark plan has
    * NO window at all (PlanSpec) — both folds are map-side-combined
    * max_by argmaxes, so only |users| rows cross each exchange and the
    * single full-outer join is key-partitioned. That asymmetry (window
    * spelling vs aggregate plan) is exactly the 100 TB posture: history
    * is aggregated, never sorted. */
  def eventsCdcMerge(spark: SparkSession, sfDir: String): DataFrame = {
    val (base, changes) = cdcFeed(spark, sfDir)
    graft.ext.MergeOps.cdcMerge(base, changes, "user_id",
      Seq("tus", "event_id"), "op", Seq("val"))
  }

  /** Rolling 7-day distinct-user count (sliding WAU) — the classic
    * hard-at-scale op done the scalable way: instead of 7 shifted
    * self-joins or a per-day re-scan, each distinct (user, day)
    * activity row is EXPLODED to the ≤7 window-end days it covers, and
    * one distinct + one count per cover-day finishes the job. Exchange
    * volume is |users|×|days|×7 fixed-width rows — calendar-bounded,
    * independent of raw event volume (the events_cohorts projection
    * argument with a coverage factor). Only days with a full trailing
    * window emit (the spikes/rolling-median contract). All-integer. */
  def eventsRollingWau(spark: SparkSession, sfDir: String): DataFrame = {
    // the distinct projection feeds both the coverage explode and the
    // bounds aggregate — persisted so the fact table is scanned ONCE
    val du = graft.core.QueryCaches.track(events(spark, sfDir)
      .select(col("user_id"), to_date(tsMicros).as("day")).distinct())
    val bounds = du.agg(min(col("day")).as("mn"), max(col("day")).as("mx"))
    du.select(col("user_id"),
        explode(sequence(col("day"), date_add(col("day"), 6))).as("wday"))
      .distinct()
      .groupBy(col("wday")).agg(count(lit(1)).as("wau"))
      .crossJoin(broadcast(bounds))
      .filter(col("wday") >= date_add(col("mn"), 6) && col("wday") <= col("mx"))
      .select(col("wday").as("day"), col("wau"))
  }

  /** DAU/WAU stickiness — the engagement ratio product dashboards lead
    * with (classically DAU/MAU; the 7-day window is the honest variant
    * for this 30-day corpus — one constant changes it), via the SAME
    * coverage-explode that makes [[eventsRollingWau]] shuffle-bounded:
    * each (user, active day) covers the 7 window-END days it
    * contributes to, so the rolling distinct (WAU as of each day) is a
    * plain count over the coverage relation — no per-day re-scan, no
    * 7-way self-join; DAU rides the same distinct projection. Emitted
    * only for days with a full window (the partial-window ramp would
    * fake a rising ratio), stickiness in milli units by integer
    * division. Scale: one fact pass to the distinct (user, day)
    * projection; the explode is window× that — bounded by activity,
    * not events — and everything after is calendar-sized. */
  def eventsStickiness(spark: SparkSession, sfDir: String): DataFrame = {
    val du = graft.core.QueryCaches.track(events(spark, sfDir)
      .select(col("user_id"), to_date(tsMicros).as("day")).distinct())
    val bounds = du.agg(min(col("day")).as("mn"), max(col("day")).as("mx"))
    val dau = du.groupBy(col("day")).agg(count(lit(1)).as("dau"))
    val wau = du.select(col("user_id"),
        explode(sequence(col("day"), date_add(col("day"), 6))).as("wday"))
      .distinct()
      .groupBy(col("wday").as("day")).agg(count(lit(1)).as("wau"))
    dau.join(wau, "day")
      .crossJoin(broadcast(bounds))
      .filter(col("day") >= date_add(col("mn"), 6) && col("day") <= col("mx"))
      .select(col("day"), col("dau"), col("wau"),
        expr("CAST((1000 * dau) div wau AS BIGINT)").as("stickiness_milli"))
  }

  /** MERGE idempotence under the hash gate — the re-run-safety property
    * every warehouse maintenance job leans on: re-applying the SAME
    * changelog to an already-merged snapshot must be a state no-op
    * (retried batches never double-apply). Holds structurally for
    * [[graft.ext.MergeOps.cdcMerge]]: the fold's winner is a pure
    * function of the changelog, so the second application replaces
    * each payload with itself, re-deletes absent keys, and re-inserts
    * nothing new. The row emits apply-once and apply-twice states side
    * by side through a FULL join (a key appearing in only one side
    * would surface as a null and break the hash), making idempotence
    * an oracle-checked equality, not a code-reading argument. */
  def eventsCdcIdempotent(spark: SparkSession, sfDir: String): DataFrame = {
    val (base, feed) = cdcFeed(spark, sfDir)
    val changes = graft.core.QueryCaches.track(feed)
    def apply1(b: DataFrame): DataFrame =
      graft.ext.MergeOps.cdcMerge(b, changes, "user_id",
        Seq("tus", "event_id"), "op", Seq("val"))
        .select(col("user_id"), col("val"))
    val s1 = graft.core.QueryCaches.track(apply1(base))
    val s2 = apply1(s1)
    s1.select(col("user_id"), col("val").as("val_once"))
      .join(s2.select(col("user_id"), col("val").as("val_twice")),
        Seq("user_id"), "full_outer")
  }

  /** Change-point detection — per event type, the day boundary where
    * the daily-count mean shifts most (CUSUM-style split statistic),
    * completing the time-series trio: [[eventsTrend]] (drift),
    * [[eventsAnomaly]] (outliers), and this (regime change). For every
    * split k of the T daily counts the statistic is the cross-
    * multiplied mean gap |cum_k·(T−k) − (S−cum_k)·k| — ALL-INTEGER, so
    * the argmax cannot flip on cross-engine float rounding; ties break
    * to the earliest day via a (stat, −day) argmax struct. Scale: the
    * corpus collapses to |types|×|days| rows in one map-side-combined
    * aggregate; the cumulative window and the argmax run over that
    * rollup, never the fact table (the [[qMonthlyGrowth]]
    * window-over-aggregate posture). */
  def eventsChangepoint(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = graft.core.QueryCaches.track(
      events(spark, sfDir)
        .groupBy(col("event_type"),
          expr("(ts div 1000) div 86400000000").as("day"))
        .agg(count(lit(1)).as("c")))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val cum = daily
      .withColumn("k", row_number().over(w).cast("bigint"))
      .withColumn("cum", sum(col("c")).over(w))
    val tot = daily.groupBy(col("event_type"))
      .agg(sum(col("c")).as("s_total"), count(lit(1)).as("t_days"))
    cum.join(broadcast(tot), Seq("event_type"))
      .filter(col("k") < col("t_days"))
      .withColumn("stat", abs(col("cum") * (col("t_days") - col("k")) -
        (col("s_total") - col("cum")) * col("k")))
      .groupBy(col("event_type"))
      .agg(max_by(struct(col("day"), col("stat")),
          struct(col("stat"), (lit(-1L) * col("day")).as("nd"))).as("b"),
        min(col("s_total")).as("s_total"), min(col("t_days")).as("t_days"))
      .select(col("event_type"), col("b.day").as("cp_day"),
        col("b.stat").as("stat"), col("s_total"), col("t_days"))
  }

  /** KMV sketch ALGEBRA — the property that makes sketches the 100 TB
    * tool: two per-type KMV sketches of distinct (user, day) active
    * pairs are MERGED (k smallest of the union of the two k-sets) into
    * a union estimate, and inclusion-exclusion yields the intersection
    * estimate ("user-days with a click AND a purchase") WITHOUT ever
    * joining the underlying corpora. Estimates use the
    * [[eventsKmvDistinct]] estimator ((K−1)·P div h_k, K=64) on the
    * same salted fingerprint; `exact_inter` is the ground truth both
    * engines compute for calibration. Scale: the corpus is touched by
    * ONE distinct-projection; everything after operates on ≤ 2K = 128
    * sketch rows, so the two unpartitioned rank windows and the
    * scalar broadcasts are O(K), independent of event volume. */
  def eventsKmvOverlap(spark: SparkSession, sfDir: String): DataFrame = {
    val K = 64
    val est = (K - 1) * 1000000007L
    val pairs = graft.core.QueryCaches.track(
      events(spark, sfDir)
        .filter(col("event_type").isin("click", "purchase"))
        .select(col("event_type"),
          graft.ext.TextOps.fingerprint(concat(lit("kmv|"),
            col("user_id").cast("string"), lit("|"),
            expr("ts div 86400000000000").cast("string"),
            lit("|graft"))).as("h"))
        .distinct())
    val sk = graft.core.QueryCaches.track(
      pairs.withColumn("rk", row_number()
          .over(Window.partitionBy(col("event_type")).orderBy(col("h")))
          .cast("bigint"))
        .filter(col("rk") <= K))
    val perType = sk.filter(col("rk") === K)
      .select(col("event_type"), expr(s"$est div h").as("est_d"))
    val u = sk.select(col("h")).distinct()
      .withColumn("rk", row_number().over(Window.orderBy(col("h"))).cast("bigint"))
      .filter(col("rk") === K)
      .select(expr(s"$est div h").as("est_union"))
    val exact = pairs.groupBy(col("h")).agg(count(lit(1)).as("nt"))
      .agg(sum(when(col("nt") === 2L, 1L).otherwise(0L)).as("exact_inter"))
    val a = perType.filter(col("event_type") === "click")
      .select(col("est_d").as("est_a"))
    val b = perType.filter(col("event_type") === "purchase")
      .select(col("est_d").as("est_b"))
    a.crossJoin(broadcast(b)).crossJoin(broadcast(u)).crossJoin(broadcast(exact))
      .select(lit("click").as("type_a"), lit("purchase").as("type_b"),
        col("est_a"), col("est_b"), col("est_union"),
        (col("est_a") + col("est_b") - col("est_union")).as("est_inter"),
        col("exact_inter"))
  }

  /** Calendar gap-fill (time-series resample): daily HIGH-VALUE event
    * counts per type with missing days materialized as 0 over the
    * corpus's [min day, max day] span — the densification step every
    * downstream trend/anomaly/forecast op assumes (a missing day IS a
    * zero, not an absent row; 46 of 150 (type, day) cells are gaps at
    * the value > 200 threshold). Plan: one map-side-combined daily
    * aggregate (the only pass over the events table — the bounds ride
    * the same scan as a second aggregate), then the calendar spine is
    * sequence()-exploded from the 1-row bounds relation and
    * cross-joined with the distinct types — both broadcast-sized
    * (|days| × |types|, calendar-bounded regardless of event volume) —
    * and the counts LEFT-join the spine. At 100 TB the fact table is
    * touched ONCE: the daily aggregate groups ALL events (counting
    * only the high-value ones conditionally), so the calendar bounds
    * and the type dimension both derive from the persisted
    * |types|×|days| aggregate instead of re-scanning events — and a
    * (type, day) cell whose events are all low-value carries n = 0
    * through either the aggregate row or the spine join identically. */
  def eventsGapfill(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = loadEvents(spark, sfDir)
    val daily = graft.core.QueryCaches.track(
      ev.groupBy(col("event_type"), to_date(tsMicros).as("day"))
        .agg(count(when(col("value") > 200.0, 1)).as("n")))
    val bounds = daily.agg(min(col("day")).as("mn"), max(col("day")).as("mx"))
    val days = bounds.select(explode(sequence(col("mn"), col("mx"))).as("day"))
    val types = daily.select(col("event_type")).distinct()
    types.crossJoin(broadcast(days))
      .join(daily, Seq("event_type", "day"), "left")
      .select(col("event_type"), col("day"), coalesce(col("n"), lit(0L)).as("n"))
  }

  /** Trailing 7-day ROLLING MEDIAN of daily counts per event type —
    * the robust smoother beside the trailing-mean spike rule
    * ([[eventsSpikes]]) and the global MAD flags ([[eventsAnomaly]]):
    * a single outlier day shifts a trailing mean but not the window
    * median. Exactness contract: the window holds exactly 7 integers
    * (days without a full history are excluded, the spikes rule), the
    * median is the 4th order statistic of the sorted frame — a value
    * FROM the data, percentile_disc semantics, no interpolation, no
    * floats. Scale: the window input is the map-side-combined daily
    * aggregate (|types| × |days| rows, calendar-bounded), so the
    * per-type sort and the 7-element frame collect are over the tiny
    * relation — the same bounded-window argument as events_spikes. */
  def eventsRollingMedian(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = loadEvents(spark, sfDir)
      .groupBy(col("event_type"), to_date(tsMicros).as("day"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(-6, 0)
    daily.withColumn("frame", collect_list(col("n")).over(w))
      .filter(size(col("frame")) === 7)
      .select(col("event_type"), col("day"), col("n"),
        element_at(sort_array(col("frame")), 4).as("med7"))
  }

  /** Funnel LATENCY distribution — [[eventsFunnel]] counts who
    * converts; this measures HOW FAST: per user, seconds from first
    * 'view' to first 'purchase' (converters only), summarized as
    * exact integer quartiles by rank selection (the
    * [[eventsQuantiles]] percentile_disc idiom — order statistics are
    * tie-permutation-safe, no interpolation). Plan: per-user firsts
    * are ONE map-side-combined conditional min aggregate over the two
    * event types (no self-join of the fact table); the converters
    * relation is USERS-scale, so the global rank runs through
    * [[graft.ext.SkewOps.globalRank]] (repartitionByRange +
    * count scan — the q_analyze_stats shape), NOT a
    * single-partition window: the rank filter compares against
    * broadcast-derived expressions, so no WindowGroupLimit could ever
    * pre-trim it, and at 100× a window form would sort every
    * converting user in one task. (lat_s, user_id) is a total key, so
    * the two-job rank is deterministic; the count arrives as a 1-row
    * broadcast. */
  def eventsFunnelLatency(spark: SparkSession, sfDir: String): DataFrame = {
    val conv = graft.core.QueryCaches.track(events(spark, sfDir)
      .filter(col("event_type").isin("view", "purchase"))
      .select(col("user_id"), col("event_type"), expr("ts div 1000").as("tus"))
      .groupBy(col("user_id"))
      .agg(min(when(col("event_type") === "view", col("tus"))).as("fv"),
        min(when(col("event_type") === "purchase", col("tus"))).as("fp"))
      .filter(col("fv").isNotNull && col("fp").isNotNull && col("fp") > col("fv"))
      .select(col("user_id"), expr("(fp - fv) div 1000000").as("lat_s")))
    val n = conv.agg(count(lit(1)).as("n"))
    graft.ext.SkewOps.globalRank(conv, Seq("lat_s", "user_id"), "rk")
      .crossJoin(broadcast(n))
      .filter(col("rk") === expr("(n + 3) div 4") ||
        col("rk") === expr("(n + 1) div 2") ||
        col("rk") === expr("(3*n + 3) div 4"))
      .select(col("n"), col("rk"),
        when(col("rk") === expr("(n + 3) div 4"), "p25")
          .when(col("rk") === expr("(n + 1) div 2"), "p50")
          .otherwise("p75").as("q"),
        col("lat_s"))
  }

  /** Distributed TIME-SERIES similarity search — the sketch-prune-
    * verify shape of the EDBT'19/REPOSE family: each event type's
    * daily-count series becomes a T-day vector (missing days are
    * structural zeros), an 8-segment PAA sketch (piecewise aggregate:
    * per-segment integer SUMS) summarizes it, and every series pair
    * reports its PAA distance, its exact squared Euclidean distance,
    * and `bound_ok` — the Cauchy–Schwarz LOWER-BOUND guarantee
    * `Σ(Sa−Sb)² ≤ L·Σ(a−b)²` that makes PAA a sound pruning filter
    * (GEMINI framework): a pair whose PAA bound exceeds a radius can
    * be skipped without touching the raw series, and this row PROVES
    * the inequality on real data, hash-checked, rather than citing it.
    *
    * Plan shape (vs the oracle's quadratic day-grid join): ONE fact
    * scan → map-side-combined (type, day) rollup (|types|×|days| rows
    * at any event volume) → per-type in-row vector build (maps →
    * dense arrays; T longs per series) → pairing over the SERIES
    * relation only. At production series counts the pairing is
    * |series|²/2 sketch rows — which is exactly what the proven PAA
    * bound then prunes; the raw-series verify join touches only
    * surviving pairs. All-integer end to end: no IEEE anywhere. */
  def eventsSeriesSim(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = graft.core.QueryCaches.track(dailyTypeCounts(spark, sfDir))
    val bounds = daily.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(col("d0"), (col("d1") - col("d0") + 1).as("tt"),
        expr("CAST((d1 - d0 + 8) DIV 8 AS BIGINT)").as("lmax"))
    val withSeg = daily.crossJoin(broadcast(bounds))
      .withColumn("seg", expr("(day - d0) * 8 DIV tt"))
    val dayVec = withSeg.groupBy(col("t"))
      .agg(map_from_entries(collect_list(struct(col("day"), col("c")))).as("md"),
        first(col("d0")).as("d0"), first(col("tt")).as("tt"),
        first(col("lmax")).as("lmax"))
      .select(col("t"), col("lmax"),
        transform(sequence(lit(0L), col("tt") - 1),
          i => coalesce(element_at(col("md"), col("d0") + i), lit(0L))).as("cv"))
    val segVec = withSeg.groupBy(col("t"), col("seg")).agg(sum(col("c")).as("s"))
      .groupBy(col("t"))
      .agg(map_from_entries(collect_list(struct(col("seg"), col("s")))).as("ms"))
      .select(col("t"),
        transform(sequence(lit(0L), lit(7L)),
          s => coalesce(element_at(col("ms"), s), lit(0L))).as("pv"))
    val ser = graft.core.QueryCaches.track(dayVec.join(segVec, "t"))
    def sqdist(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
        lit(0L), (s, v) => s + v)
    ser.select(col("t").as("ta"), col("cv").as("ca"), col("pv").as("pa"),
        col("lmax"))
      .join(ser.select(col("t").as("tb"), col("cv").as("cb"), col("pv").as("pb")),
        col("ta") < col("tb"))
      .select(col("ta"), col("tb"),
        sqdist(col("pa"), col("pb")).as("paa_dist"),
        sqdist(col("ca"), col("cb")).as("dist_exact"), col("lmax"))
      .select(col("ta"), col("tb"), col("paa_dist"), col("dist_exact"),
        (col("paa_dist") <= col("lmax") * col("dist_exact")).as("bound_ok"))
  }

  /** Banded DTW over PAA sketches — the alignment-tolerant distance
    * the Euclidean of [[eventsSeriesSim]] can't provide (a series
    * shifted by a day scores far under Euclidean, near under DTW):
    * each type's daily counts collapse to a FIXED 16-segment PAA
    * vector (fixed length at ANY scale factor or date span — PDTW,
    * the standard sketch-then-warp speedup), then every pair scores
    * `graft_dtw(pa, pb, 2)` — the native banded Sakoe–Chiba kernel
    * ([[graft.functions.HashKernels.dtwBand]], O(n·band) rolling-row
    * DP inside whole-stage codegen). The oracle spells the SAME
    * recurrence as a 31-CTE anti-diagonal wavefront (cells on one
    * anti-diagonal are independent — relational DP), so the green hash
    * proves the banded kernel EXACT against an independent spelling,
    * the [[graft.functions.Kernels.EditWithin]] contract for
    * time series. `dtw_le` checks DTW ≤ squared-Euclidean on-data
    * (the diagonal is always a valid warping path). Plan: one fact
    * scan; the DP runs IN-ROW per pair over the domain-bounded series
    * relation — at production series counts, pairs are pruned first by
    * the PAA bound [[eventsSeriesSim]] proves. */
  def eventsDtw(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = graft.core.QueryCaches.track(dailyTypeCounts(spark, sfDir))
    val bounds = daily.agg(min(col("day")).as("d0"),
      (max(col("day")) - min(col("day")) + 1).as("tt"))
    val segVec = daily.crossJoin(broadcast(bounds))
      .withColumn("seg", expr("(day - d0) * 16 DIV tt"))
      .groupBy(col("t"), col("seg")).agg(sum(col("c")).as("s"))
      .groupBy(col("t"))
      .agg(map_from_entries(collect_list(struct(col("seg"), col("s")))).as("ms"))
      .select(col("t"),
        transform(sequence(lit(0L), lit(15L)),
          sg => coalesce(element_at(col("ms"), sg), lit(0L))).as("pv"))
    val ser = graft.core.QueryCaches.track(segVec)
    def sq(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0L), (s, v) => s + v)
    ser.select(col("t").as("ta"), col("pv").as("pa"))
      .join(ser.select(col("t").as("tb"), col("pv").as("pb")), col("ta") < col("tb"))
      .select(col("ta"), col("tb"),
        graft.functions.HashExprs.dtwBand(col("pa"), col("pb"), 2).as("dtw"),
        sq(col("pa"), col("pb")).as("euclid"))
      .withColumn("dtw_le", col("dtw") <= col("euclid"))
  }

  /** The [[eventsDtw]] oracle: banded DTW as an UNROLLED anti-diagonal
    * CTE chain (dp_d depends only on dp_{d−1} and dp_{d−2} — wavefront
    * DP in pure SQL; `MATERIALIZED` stops the doubly-referenced chain
    * from inlining exponentially). Unreachable cells accumulate the
    * 2^50 sentinel and can never beat a finite path; the one output
    * cell (15,15) is always diagonal-reachable, so the sentinel never
    * surfaces. Fixed 16-segment series ⇒ fixed 31-CTE unroll at any
    * scale factor. */
  private def dtwOracle: String = {
    val inf = 1L << 50
    val base =
      """WITH daily AS MATERIALIZED (
        |  SELECT event_type AS t, epoch_us(ts) // 86400000000 AS day,
        |    CAST(COUNT(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |b AS MATERIALIZED (SELECT MIN(day) AS d0, MAX(day) - MIN(day) + 1 AS tt FROM daily),
        |tys AS MATERIALIZED (SELECT DISTINCT t FROM daily),
        |pairs AS MATERIALIZED (SELECT a.t AS ta, b2.t AS tb
        |  FROM tys a JOIN tys b2 ON a.t < b2.t),
        |pseg AS MATERIALIZED (
        |  SELECT d.t, (d.day - b.d0) * 16 // b.tt AS seg, CAST(SUM(d.c) AS BIGINT) AS s
        |  FROM daily d CROSS JOIN b GROUP BY 1, 2),
        |segg AS MATERIALIZED (
        |  SELECT ty.t, sg.seg, COALESCE(p.s, 0) AS s
        |  FROM tys ty CROSS JOIN (SELECT unnest(range(0, 16)) AS seg) sg
        |  LEFT JOIN pseg p ON p.t = ty.t AND p.seg = sg.seg),
        |cost AS MATERIALIZED (
        |  SELECT p.ta, p.tb, a.seg AS i, b2.seg AS j, (a.s - b2.s) * (a.s - b2.s) AS c
        |  FROM pairs p JOIN segg a ON a.t = p.ta JOIN segg b2 ON b2.t = p.tb
        |  WHERE abs(a.seg - b2.seg) <= 2),
        |eu AS MATERIALIZED (SELECT ta, tb, CAST(SUM(c) AS BIGINT) AS euclid
        |  FROM cost WHERE i = j GROUP BY 1, 2),
        |dp0 AS MATERIALIZED (SELECT ta, tb, i, j, CAST(c AS BIGINT) AS v
        |  FROM cost WHERE i = 0 AND j = 0)""".stripMargin
    val ctes = (1 to 30).map { d =>
      val (p3join, p3sel) =
        if (d >= 2)
          (s"\n  LEFT JOIN dp${d - 2} p3 ON p3.ta = c.ta AND p3.tb = c.tb" +
            s" AND p3.i = c.i - 1 AND p3.j = c.j - 1",
            s", COALESCE(p3.v, $inf)")
        else ("", "")
      s"""dp$d AS MATERIALIZED (
         |  SELECT c.ta, c.tb, c.i, c.j,
         |    c.c + LEAST(COALESCE(p1.v, $inf), COALESCE(p2.v, $inf)$p3sel) AS v
         |  FROM cost c
         |  LEFT JOIN dp${d - 1} p1 ON p1.ta = c.ta AND p1.tb = c.tb AND p1.i = c.i - 1 AND p1.j = c.j
         |  LEFT JOIN dp${d - 1} p2 ON p2.ta = c.ta AND p2.tb = c.tb AND p2.i = c.i AND p2.j = c.j - 1$p3join
         |  WHERE c.i + c.j = $d)""".stripMargin
    }
    base + ",\n" + ctes.mkString(",\n") +
      """
        |SELECT d.ta, d.tb, d.v AS dtw, e.euclid, d.v <= e.euclid AS dtw_le
        |FROM dp30 d JOIN eu e ON e.ta = d.ta AND e.tb = d.tb
        |WHERE d.i = 15 AND d.j = 15""".stripMargin
  }

  /** MULTI-touch attribution — the fractional-credit complement of
    * [[eventsAttribution]]'s last-touch as-of join: every view in the
    * 7 days before a purchase shares the conversion credit. Credits
    * are ALL-INTEGER ppm: each touch gets 1 000 000 DIV n, and the
    * LATEST touch absorbs the remainder, so credits sum to exactly
    * 1 000 000 per purchase BY CONSTRUCTION (no float split that
    * drifts; the oracle hash checks every row). Plan: a user-keyed
    * equi-join (the [[eventsCooccur]] lesson — the time window is a
    * filter INSIDE the equi-join, never a nested-loop range probe);
    * per-user event counts bound the join fan-out at any corpus size,
    * and both windows (count, latest-rank) share the purchase-keyed
    * partitioning. */
  def eventsMultiTouch(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = graft.core.QueryCaches.track(
      loadEvents(spark, sfDir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          expr("ts div 1000").as("tus")))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"), col("tus").as("pts"))
    val v = ev.filter(col("event_type") === "view")
      .select(col("event_id").as("v_id"), col("user_id"), col("tus").as("vts"))
    val j = p.join(v, "user_id")
      .filter(col("vts") <= col("pts") && col("vts") > col("pts") - lit(604800000000L))
    val wc = Window.partitionBy(col("p_id"))
    val wr = Window.partitionBy(col("p_id")).orderBy(col("vts").desc, col("v_id"))
    j.withColumn("n_touch", count(lit(1)).over(wc))
      .withColumn("rk", row_number().over(wr))
      .select(col("p_id"), col("user_id"), col("v_id"), col("n_touch"),
        expr("CAST(1000000 DIV n_touch + " +
          "CASE WHEN rk = 1 THEN 1000000 % n_touch ELSE 0 END AS BIGINT)")
          .as("credit_ppm"))
  }

  /** TIME TRAVEL — point-in-time state reconstruction from the raw
    * event log (the lakehouse `VERSION AS OF` semantics computed from
    * facts rather than snapshots): for every (user, type), the tracked
    * value band AS OF a cutoff 15 days into the corpus, plus the
    * last-update time and update count. The engine plan is ONE
    * map-side-combined aggregate — `max_by(band, (ts, event_id))`
    * folds each key's history to its latest-at-cutoff state, so |keys|
    * rows cross the exchange no matter how many events precede the
    * cutoff (the [[graft.ext.MergeOps.cdcMerge]] fold applied to
    * as-of reads); the oracle spells row_number + window aggregates —
    * the engine plan has NO window at all (PlanSpec pins the
    * asymmetry, the events_cdc_merge contract). */
  def eventsTimeTravel(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = loadEvents(spark, sfDir)
      .select(col("user_id"), col("event_type"), expr("ts div 1000").as("tus"),
        col("event_id"), floor(col("value") * lit(10.0d)).cast("bigint").as("band"))
    val cut = ev.agg((min(col("tus")) + lit(15L * 86400000000L)).as("cut"))
    ev.crossJoin(broadcast(cut)).filter(col("tus") <= col("cut"))
      .groupBy(col("user_id"), col("event_type"))
      .agg(max_by(col("band"), struct(col("tus"), col("event_id"))).as("band_at_cut"),
        max(col("tus")).as("last_tus"), count(lit(1)).as("n_before"))
  }

  /** Seasonal-naive FORECAST backtest — the honest baseline every
    * fancier model must beat, with the error kept EXACT by never
    * dividing: the weekday profile (sum s, day-count k per (type,
    * weekday)) trains on all but the final week; the final 7 days
    * backtest against it, accumulating |actual·k − s| — the
    * cross-multiplied absolute error, all-integer, so MAE =
    * mae_num / mae_den is computable downstream while the gated row
    * never touches IEEE. Everything after the one map-side-combined
    * daily rollup operates on |types|×|days| rows; the train profile
    * (|types|×7) broadcasts onto the 7-day test slice. Completes the
    * time-series set: trend (OLS), anomaly (MAD), changepoint (CUSUM),
    * similarity (PAA/DTW), and now forecast+backtest. */
  /** Exponential-smoothing (SES, α = 0.5) one-step backtest per event
    * type: level₀ = x₀, levelᵢ = 0.5·xᵢ + 0.5·levelᵢ₋₁, with each
    * step's error measured against the PRE-update level — the true
    * one-step-ahead forecast error — accumulated in the same fold.
    * The per-type daily series collapses to ONE array row
    * (sort_array over ≤ calendar-bounded days), so the recurrence is
    * an in-row `aggregate` fold with a (level, err) struct
    * accumulator: no window, no iteration, |types| rows total after
    * the daily rollup — at 100 TB only the (type, day) aggregate
    * touches the fact table. α = 0.5 makes every step exact halving;
    * the err sum is left-to-right in BOTH engines (the oracle spells
    * the identical recurrence as a recursive CTE), so the doubles
    * hash raw. Final level = the next-day forecast. */
  def eventsSesForecast(spark: SparkSession, sfDir: String): DataFrame = {
    dailySeries(spark, sfDir)
      .select(col("t"), size(col("cs")).cast("bigint").as("n_days"),
        expr("aggregate(slice(cs, 2, size(cs) - 1), " +
          "named_struct('level', CAST(cs[0] AS DOUBLE), 'err', CAST(0.0 AS DOUBLE)), " +
          "(a, x) -> named_struct('level', 0.5 * x + 0.5 * a.level, " +
          "'err', a.err + abs(x - a.level)))").as("f"))
      .select(col("t"), col("n_days"), col("f.level").as("level"),
        (col("f.err") / (col("n_days") - lit(1)).cast("double")).as("mae"))
  }

  /** Holt's linear-trend double exponential smoothing — the trend-
    * aware sibling of [[eventsSesForecast]] (SES assumes a level-only
    * series, so it lags any drift; Holt carries a trend state and
    * forecasts level+trend). Same engineering statement: the recurrence
    * is an IN-ROW `aggregate` fold over the day-sorted per-type series
    * — one groupBy builds each series, the fold runs inside the
    * projection, zero extra exchanges — and α = β = 0.5 keeps every
    * operation an exact IEEE halving/add, so the fold is
    * bit-deterministic and the oracle's recursive-CTE replay of the
    * identical recurrence (operand order matched term for term)
    * hash-matches the one-step-ahead MAE. Init: l₂ = x₂, b₂ = x₂−x₁,
    * errors accumulated from x₃ (n−2 forecasts). */
  def eventsHoltForecast(spark: SparkSession, sfDir: String): DataFrame = {
    dailySeries(spark, sfDir)
      .select(col("t"), size(col("cs")).cast("bigint").as("n_days"),
        expr("""aggregate(slice(cs, 3, size(cs) - 2),
          named_struct('l', CAST(cs[1] AS DOUBLE),
                       'b', CAST(cs[1] - cs[0] AS DOUBLE),
                       'err', CAST(0.0 AS DOUBLE)),
          (a, x) -> named_struct(
            'l', 0.5 * x + 0.5 * (a.l + a.b),
            'b', 0.5 * ((0.5 * x + 0.5 * (a.l + a.b)) - a.l) + 0.5 * a.b,
            'err', a.err + abs(x - (a.l + a.b))))""").as("f"))
      .select(col("t"), col("n_days"), col("f.l").as("level"), col("f.b").as("trend"),
        (col("f.l") + col("f.b")).as("forecast_next"),
        (col("f.err") / (col("n_days") - lit(2)).cast("double")).as("mae"))
  }

  /** Holt–Winters triple exponential smoothing — the seasonal closure
    * of the forecasting family ([[eventsSesForecast]] level,
    * [[eventsHoltForecast]] level+trend, this row level+trend+weekly
    * season, additive, α=β=γ=½): init from the series' first two
    * weeks (l₀ = week-2 mean, b₀ = (m₂−m₁)/7, s₀ = week-1 deviations),
    * then the classic three-recurrence fold from day 15 with one-step
    * MAE accumulated against l+b+s. Exactness: the two init means are
    * one IEEE division each over EXACT integer sums (order-free), every
    * smoothing step is ×½ (exact) over identical expression trees, and
    * the oracle replays the identical recurrence as a recursive CTE
    * carrying the 7-slot season LIST — term-for-term. Scale: the
    * series is the (type × active-day) relation — calendar-bounded —
    * collected per type into one in-row fold; no window, one exchange. */
  def eventsHoltWinters(spark: SparkSession, sfDir: String): DataFrame = {
    dailySeries(spark, sfDir)
      .filter(size(col("cs")) >= 21)
      .withColumn("m1", expr(
        "aggregate(slice(cs, 1, 7), CAST(0 AS DOUBLE), (a, x) -> a + x) / CAST(7 AS DOUBLE)"))
      .withColumn("m2", expr(
        "aggregate(slice(cs, 8, 7), CAST(0 AS DOUBLE), (a, x) -> a + x) / CAST(7 AS DOUBLE)"))
      .withColumn("f", expr(
        """aggregate(slice(cs, 15, size(cs) - 14),
          named_struct('l', m2, 'b', (m2 - m1) / CAST(7 AS DOUBLE),
                       's', transform(slice(cs, 1, 7), x -> CAST(x AS DOUBLE) - m1),
                       'i', 0, 'err', CAST(0 AS DOUBLE)),
          (a, x) -> named_struct(
            'l', 0.5 * (x - a.s[a.i % 7]) + 0.5 * (a.l + a.b),
            'b', 0.5 * ((0.5 * (x - a.s[a.i % 7]) + 0.5 * (a.l + a.b)) - a.l)
              + 0.5 * a.b,
            's', transform(a.s, (v, j) -> IF(j = a.i % 7,
              0.5 * (x - (0.5 * (x - a.s[a.i % 7]) + 0.5 * (a.l + a.b))) + 0.5 * v,
              v)),
            'i', a.i + 1,
            'err', a.err + abs(x - (a.l + a.b + a.s[a.i % 7]))))"""))
      .select(col("t"), size(col("cs")).cast("bigint").as("n_days"),
        col("f.l").as("level"), col("f.b").as("trend"),
        expr("f.s[f.i % 7]").as("season_next"),
        expr("f.l + f.b + f.s[f.i % 7]").as("forecast_next"),
        expr("f.err / CAST(size(cs) - 14 AS DOUBLE)").as("mae"))
  }

  /** Forecast backtest / model selection — the evaluation harness OVER
    * the forecasting family ([[eventsSeasonalNaive]], [[eventsSesForecast]],
    * [[eventsHoltForecast]] each report their own error; this query
    * makes the CHOICE): three all-integer models are scored on the same
    * last-7-days holdout per event type — persistence (same weekday
    * last week, the t−7 copy), weekday-mean (the seasonal profile from
    * the full train span), and global-mean (the no-seasonality null).
    * Errors are milli-scaled integer divisions (|1000·c·k − 1000·s|
    * div k — exact fraction comparison without a float), summed and
    * divided once per model, and the winner column is the argmin with
    * a fixed tie order (persistence < seasonal < mean — prefer the
    * simpler model on ties, Occam by construction). Scale: the corpus
    * collapses to (type, day) counts in one map-side-combined pass;
    * train profiles are |types|×7 rows and broadcast; the holdout join
    * is days-sized. This is the nightly model-router a 100 TB metrics
    * platform actually runs — backtest on yesterday's tail, route
    * today's forecast to whichever model won. */
  def eventsForecastEval(spark: SparkSession, sfDir: String): DataFrame = {
    val (d, train, test) = lastWeekSplit(spark, sfDir)
    val wk = train.groupBy(col("t"), pmod(col("day"), lit(7L)).as("wd"))
      .agg(sum(col("c")).as("s"), count(lit(1)).as("k"))
    val gl = train.groupBy(col("t"))
      .agg(sum(col("c")).as("gs"), count(lit(1)).as("gn"))
    val prev = d.select(col("t"), (col("day") + 7).as("day"), col("c").as("c_prev"))
    test
      .join(prev, Seq("t", "day"), "left")
      .join(broadcast(wk), test("t") === wk("t") &&
        pmod(col("day"), lit(7L)) === col("wd"))
      .drop(wk("t"))
      .join(broadcast(gl), Seq("t"))
      .select(col("t"),
        (abs(col("c") - coalesce(col("c_prev"), lit(0L))) * 1000L).as("e_p"),
        expr("abs(1000 * c * k - 1000 * s) div k").as("e_s"),
        expr("abs(1000 * c * gn - 1000 * gs) div gn").as("e_g"))
      .groupBy(col("t"))
      .agg(count(lit(1)).as("n_test"),
        expr("CAST(sum(e_p) div count(1) AS BIGINT)").as("mae_persist_milli"),
        expr("CAST(sum(e_s) div count(1) AS BIGINT)").as("mae_seasonal_milli"),
        expr("CAST(sum(e_g) div count(1) AS BIGINT)").as("mae_global_milli"))
      .withColumn("winner", expr(
        """CASE
          |  WHEN mae_persist_milli <= mae_seasonal_milli
          |   AND mae_persist_milli <= mae_global_milli THEN 'persistence'
          |  WHEN mae_seasonal_milli <= mae_global_milli THEN 'seasonal'
          |  ELSE 'global_mean' END""".stripMargin))
  }

  def eventsSeasonalNaive(spark: SparkSession, sfDir: String): DataFrame = {
    val (_, fit, holdout) = lastWeekSplit(spark, sfDir)
    val train = fit.groupBy(col("t"), pmod(col("day"), lit(7L)).as("wd"))
      .agg(sum(col("c")).as("s"), count(lit(1)).as("k"))
    val test = holdout.select(col("t"), pmod(col("day"), lit(7L)).as("wd"), col("c"))
    test.join(broadcast(train), Seq("t", "wd"))
      .groupBy(col("t"))
      .agg(count(lit(1)).as("n_days"),
        sum(abs(col("c") * col("k") - col("s"))).as("mae_num"),
        sum(col("k")).as("mae_den"))
  }

  /** STRICT-ORDER 3-step funnel with per-step conversion windows —
    * view → click within 24h of the FIRST view → purchase within 24h
    * of that first qualifying click (150 → 60 → 25 users at sf0.01).
    * Unlike [[eventsFunnel]]'s unordered membership, each step's
    * timestamp must strictly follow the previous step's, so the chain
    * is three conditional-min aggregates stitched by user-keyed
    * equi-joins — no fact self-join wider than user-keyed, no window;
    * per-user event counts bound every join's fan-out. */
  def eventsFunnel3(spark: SparkSession, sfDir: String): DataFrame = {
    val w = 86400000000L // 24h in micros
    val (e, v) = firstViews(spark, sfDir)
    val c = graft.core.QueryCaches.track(
      e.join(v, "user_id")
        .filter(col("event_type") === "click" &&
          col("tus") > col("t1") && col("tus") <= col("t1") + w)
        .groupBy(col("user_id")).agg(min(col("tus")).as("t2")))
    val p = e.join(c, "user_id")
      .filter(col("event_type") === "purchase" &&
        col("tus") > col("t2") && col("tus") <= col("t2") + w)
      .groupBy(col("user_id")).agg(min(col("tus")).as("t3"))
    v.agg(count(lit(1)).as("step1_users"))
      .crossJoin(c.agg(count(lit(1)).as("step2_users")))
      .crossJoin(p.agg(count(lit(1)).as("step3_users")))
  }

  /** Growth accounting — the MAU bridge every growth team closes
    * monthly: each month's active users decomposed into NEW (first
    * month ever), RETAINED (also active the previous month) and
    * RESURRECTED (active, not last month, not new), plus the month's
    * CHURN (last month's actives who went quiet) — with the identity
    * mau = new + retained + resurrected enforced by construction.
    * [[eventsRetention]]/[[eventsCohorts]] slice by signup cohort;
    * this row is the month-over-month ledger. Plan: the corpus
    * collapses to the DISTINCT (user, month) relation once (persisted
    * — the shifted copy, the first-month aggregate, and the
    * classification all read it); the prev-month comparison is a
    * self-join on the SAME (user, month) key (co-partitioned), and the
    * output is months-bounded. All counts integer. */
  def eventsGrowthAccounting(spark: SparkSession, sfDir: String): DataFrame = {
    val um = graft.core.QueryCaches.track(
      events(spark, sfDir).select(col("user_id"),
        expr("CAST((year(timestamp_micros(ts div 1000)) - 1970) * 12 " +
          "+ month(timestamp_micros(ts div 1000)) - 1 AS BIGINT)").as("m"))
        .distinct())
    val first = um.groupBy(col("user_id")).agg(min(col("m")).as("m0"))
    val prev = um.select(col("user_id"), (col("m") + 1).as("m"), lit(true).as("was_active"))
    val cur = um.select(col("user_id"), col("m"), lit(true).as("is_active"))
    cur.join(prev, Seq("user_id", "m"), "full_outer")
      .join(first, Seq("user_id"))
      .groupBy(col("m").as("month"))
      .agg(
        sum(when(col("is_active") && col("m") === col("m0"), 1L).otherwise(0L))
          .as("new_users"),
        sum(when(col("is_active") && col("was_active"), 1L).otherwise(0L))
          .as("retained"),
        sum(when(col("is_active") && col("was_active").isNull &&
          col("m") > col("m0"), 1L).otherwise(0L)).as("resurrected"),
        sum(when(col("was_active") && col("is_active").isNull, 1L).otherwise(0L))
          .as("churned"))
      .withColumn("mau", col("new_users") + col("retained") + col("resurrected"))
  }

  /** Per-user burst-velocity screen — the rate-limit / fraud audit:
    * the maximum events any user produced in one clock minute, rolled
    * into a power-of-2 histogram of users by their peak burst (the
    * [[eventsGapHist]] bucket idiom). The capacity question "what
    * per-minute limit would false-positive how many users" reads
    * straight off the cumulative buckets. Plan: one (user, minute)
    * map-side-combined count, one per-user max (both key-collapsing
    * aggregates), a ≤64-bucket rollup, 1-row total broadcast. */
  def eventsVelocity(spark: SparkSession, sfDir: String): DataFrame = {
    val burst = events(spark, sfDir)
      .groupBy(col("user_id"), expr("(ts div 1000) div 60000000").as("minute"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("user_id")).agg(max(col("c")).as("burst"))
      .withColumn("bucket", (length(bin(col("burst"))) - 1).cast("bigint"))
    val h = graft.core.QueryCaches.track(
      burst.groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_users"), max(col("burst")).as("max_burst")))
    val tot = h.agg(sum(col("n_users")).as("total_users"))
    h.crossJoin(broadcast(tot))
      .withColumn("share_milli", expr("(1000 * n_users) div total_users"))
  }

  /** Conversion-window operating curve — [[eventsFunnel3]] measures
    * ONE window; this sweeps it (1 h / 6 h / 24 h) the way
    * [[eventsGapSweep]] sweeps the session gap, and from the SAME
    * one-pass sufficient statistics: the per-user unconditional stage
    * minima (earliest view t1, earliest click after t1, earliest
    * purchase after that) anchor every window — the earliest click
    * after t1 within w exists iff the unconditional earliest one lands
    * within w, so each window's funnel is three conditional counts
    * over one bounded per-user relation, never a re-scan per
    * operating point. Conversion surfaces in integer ppm. Scale: the
    * stage minima are the funnel3 plan (map-side-combined minima,
    * user-keyed joins); the sweep is a 3-row broadcast fan-out. */
  def eventsFunnelSweep(spark: SparkSession, sfDir: String): DataFrame = {
    val (e, v) = firstViews(spark, sfDir)
    val c = graft.core.QueryCaches.track(
      e.join(v, "user_id")
        .filter(col("event_type") === "click" && col("tus") > col("t1"))
        .groupBy(col("user_id")).agg(min(col("tus")).as("t2")))
    val p = e.join(c, "user_id")
      .filter(col("event_type") === "purchase" && col("tus") > col("t2"))
      .groupBy(col("user_id")).agg(min(col("tus")).as("t3"))
    val stages = graft.core.QueryCaches.track(
      v.join(c, Seq("user_id"), "left").join(p, Seq("user_id"), "left")
        .select(col("user_id"), col("t1"), col("t2"), col("t3")))
    val windows = spark.range(0, 3).toDF("i")
      .select(element_at(array(lit(3600L), lit(21600L), lit(86400L)),
        col("i").cast("int") + 1).as("w_s"))
    stages.crossJoin(broadcast(windows))
      .groupBy(col("w_s"))
      .agg(count(lit(1)).as("step1_users"),
        sum(when(col("t2").isNotNull &&
          col("t2") - col("t1") <= col("w_s") * 1000000L, 1L).otherwise(0L))
          .as("step2_users"),
        sum(when(col("t2").isNotNull && col("t3").isNotNull &&
          col("t2") - col("t1") <= col("w_s") * 1000000L &&
          col("t3") - col("t2") <= col("w_s") * 1000000L, 1L).otherwise(0L))
          .as("step3_users"))
      .withColumn("conv_ppm", expr("(1000000 * step3_users) div step1_users"))
  }

  /** PARETO coverage — "how many users produce 80% of the events":
    * the concentration question behind every capacity/abuse/sampling
    * decision. Per-user counts rank by activity through
    * [[graft.ext.SkewOps.globalCumSum]] — the distributed prefix-sum
    * (range-sort, one bounded per-partition-totals collect, broadcast
    * offsets; NO single-partition window even though the ranked
    * relation is user-scaled), and the answer is the min rank whose
    * running total crosses the ALL-INTEGER 80% line (5·cum ≥ 4·total).
    * The oracle spells the global row_number + running-sum windows the
    * engine plan exists to avoid. */
  def eventsPowerUsers(spark: SparkSession, sfDir: String): DataFrame = {
    val u = graft.core.QueryCaches.track(
      loadEvents(spark, sfDir).groupBy(col("user_id"))
        .agg(count(lit(1)).as("c")))
    val t = u.agg(sum(col("c")).as("total_events"), count(lit(1)).as("n_users"))
    val ranked = graft.ext.SkewOps.globalCumSum(
      u.withColumn("negc", -col("c")), Seq("negc", "user_id"), "c", "rk", "cc")
    ranked.crossJoin(broadcast(t))
      .groupBy(col("total_events"), col("n_users"))
      .agg(min(when(lit(5L) * col("cc") >= lit(4L) * col("total_events"), col("rk")))
        .as("users_for_80pct"))
      .select(col("total_events"), col("n_users"), col("users_for_80pct"))
  }

  /** DBSCAN density clustering over the integer RFM behavior space —
    * the classic density algorithm, distributed without any all-pairs
    * join. Features per user are ALL-INTEGER (so every distance and
    * threshold compare is exact in both engines): x = frequency·2500,
    * y = monetary cents, z = recency-days·25000 (weights bring the
    * three axes to comparable spread). Neighborhood: squared L2
    * ≤ EPS² = 6000²; core = ≥ MINPTS−1 = 3 neighbors (minPts counts
    * the point itself, the sklearn convention); clusters = connected
    * components over core–core edges ([[graft.ext.DedupOps.dupClusters]]
    * label fixpoint, rep = min user_id); border points attach to the
    * MIN core-neighbor rep (deterministic, where textbook DBSCAN is
    * first-come); the rest is noise.
    *
    * Scale path: candidates come from a 3-D grid join — each point
    * probes its 27 adjacent cells of width EPS (integer `div`, same
    * truncation in both engines), an EQUI-join on the cell key that is
    * LOSSLESS for the L2 ball (|Δcoord| ≤ EPS ⇒ adjacent cells, cell
    * intervals are ≥ EPS wide under truncation), so the quadratic
    * neighbor search exists only in the DuckDB oracle spelling.
    * Density params are per-deployment: at 10× user density the same
    * EPS turns most borders into cores — expected DBSCAN behavior,
    * and the oracle computes the identical result at every SF. */
  def eventsDbscan(spark: SparkSession, sfDir: String): DataFrame = {
    val EPS = 6000L
    val E2 = EPS * EPS
    val e = events(spark, sfDir)
      .select(col("user_id"), expr("ts div 86400000000000").as("day"),
        col("event_type"), col("value"))
    val edge = e.agg(max(col("day")).as("d1"))
    val feats = graft.core.QueryCaches.track(
      e.crossJoin(broadcast(edge)).groupBy(col("user_id")).agg(
        (count(lit(1)) * lit(2500L)).as("x"),
        sum(when(col("event_type") === "purchase", cents).otherwise(0L)).as("y"),
        ((max(col("d1")) - max(col("day"))) * lit(25000L)).as("z")))
    val cell = feats.select(col("user_id"), col("x"), col("y"), col("z"),
      expr(s"x div $EPS").as("cx"), expr(s"y div $EPS").as("cy"),
      expr(s"z div $EPS").as("cz"))
    val offs = Seq(-1L, 0L, 1L)
    val probe = cell
      .select(col("user_id").as("p_id"), col("x").as("px"),
        col("y").as("py"), col("z").as("pz"),
        explode(array((for { dx <- offs; dy <- offs; dz <- offs } yield
          struct((col("cx") + lit(dx)).as("gx"), (col("cy") + lit(dy)).as("gy"),
            (col("cz") + lit(dz)).as("gz"))): _*)).as("g"))
      .select(col("p_id"), col("px"), col("py"), col("pz"),
        col("g.gx").as("gx"), col("g.gy").as("gy"), col("g.gz").as("gz"))
    // directed ε-neighbor pairs (p_id → q_id), exact distances only
    val cand = graft.core.QueryCaches.track(probe
      .join(cell, col("gx") === col("cx") && col("gy") === col("cy") &&
        col("gz") === col("cz") && col("p_id") =!= col("user_id"))
      .filter((col("px") - col("x")) * (col("px") - col("x")) +
        (col("py") - col("y")) * (col("py") - col("y")) +
        (col("pz") - col("z")) * (col("pz") - col("z")) <= lit(E2))
      .select(col("p_id"), col("user_id").as("q_id")))
    val core = graft.core.QueryCaches.track(
      cand.groupBy(col("p_id")).agg(count(lit(1)).as("n_nb"))
        .filter(col("n_nb") + lit(1L) >= lit(4L))
        .select(col("p_id").as("id")))
    val corePairs = cand
      .join(core.select(col("id").as("ca")), col("p_id") === col("ca"), "left_semi")
      .join(core.select(col("id").as("cb")), col("q_id") === col("cb"), "left_semi")
      .filter(col("p_id") < col("q_id"))
      .select(col("p_id").as("id_a"), col("q_id").as("id_b"))
    // Fine-grid seeding MEASURED AND REJECTED (round 15, sf0.1): a
    // ⌊ε/√3⌋-wide fine grid makes a cell's space diagonal ≤ ε, so the
    // per-cell core minimum is a SOUND pre-label (co-celled cores are
    // mutual ε-neighbors, hence co-clustered), folded into the
    // fixpoint seed via least(). Result: 8 rounds → 8 rounds, total
    // 6.5 s → 5.8 s (within box noise) — the binding constraint is
    // min-label propagation along CROSS-cell chains (one edge hop per
    // round), and intra-cell cliques already collapse by round 0, so
    // the seed buys nothing. Fourth rejected fixpoint variant after
    // the two-hop jump, double edge-hop, and AQE-off measurements in
    // DedupOps.dupClusters.
    // FIFTH and final rejection (round 16, sf0.1): checking the
    // label-sum fixpoint every 2nd round instead of every round. The
    // per-round sum was instrumented at 0.08–0.11 s (a cached-scan
    // aggregate; the checkpoint plan eval is the other ~0.45 s of each
    // ~0.55 s round), so halving the cadence caps the saving at ~0.4 s
    // while detecting the fixpoint one round late whenever it lands on
    // a skipped round — an expected ~0.25 s extra propagation. Net
    // ≈ 0.1 s on a 6.7 s query: noise. Every structural lever on this
    // fixpoint is now measured; the query is CLOSED at ~6.7 s — the
    // residual cost is 8 genuinely sequential label rounds over a
    // long-chain core graph, which no cadence trick shortens.
    // isolated cores (no core neighbor) are their own singleton cluster
    val reps = graft.ext.DedupOps.dupClusters(corePairs)
      .select(col("id").as("r_id"), col("cluster_rep"))
    val coreRep = graft.core.QueryCaches.track(
      core.join(reps, col("id") === col("r_id"), "left")
        .select(col("id"),
          coalesce(col("cluster_rep"), col("id")).as("rep")))
    val borderRep = cand
      .join(core.select(col("id").as("na")), col("p_id") === col("na"), "left_anti")
      .join(coreRep, col("q_id") === col("id"))
      .groupBy(col("p_id")).agg(min(col("rep")).as("rep"))
    val assigned =
      coreRep.select(col("id").as("user_id"), lit("core").as("role"), col("rep").as("cluster"))
        .unionAll(borderRep.select(col("p_id").as("user_id"), lit("border").as("role"),
          col("rep").as("cluster")))
    feats.select(col("user_id"))
      .join(assigned.select(col("user_id").as("a_id")),
        col("user_id") === col("a_id"), "left_anti")
      .select(col("user_id"), lit("noise").as("role"), lit(-1L).as("cluster"))
      .unionAll(assigned)
  }

  /** Welch's unequal-variance t-test on per-user purchase revenue
    * between the two experiment arms — the CONTINUOUS-metric
    * experimentation row beside [[eventsAbtest]]'s χ² conversion test
    * (a real A/B readout needs both: rates AND revenue). Per-arm
    * (n, Σm, Σm²) fold as DECIMAL(38,6) over exact integer cents (m²
    * stays under 2^53, so the double products are exact integers and
    * the decimal sums are bit-reproducible at any parallelism); the
    * t²/df arithmetic then runs on IDENTICAL double expression trees
    * in both engines — deterministic IEEE, no library transcendentals.
    * t² (not t) avoids sqrt-of-rounding sign issues; df is the
    * Welch–Satterthwaite estimate. Plan at 100 TB: one user-keyed
    * fold, then a 2-row aggregate — nothing else crosses the shuffle. */
  def eventsWelch(spark: SparkSession, sfDir: String): DataFrame = {
    val u = userPurchaseCents(spark, sfDir)
      .select((col("user_id") % 2).as("arm"), col("m").cast("double").as("md"))
    val g = u.groupBy(col("arm")).agg(
      count(lit(1)).as("n"),
      dsum(col("md")).as("s1"),
      dsum(col("md") * col("md")).as("s2"))
    val a = g.filter(col("arm") === 0L)
      .select(col("n").as("na"), col("s1").as("s1a"), col("s2").as("s2a"))
    val b = g.filter(col("arm") === 1L)
      .select(col("n").as("nb"), col("s1").as("s1b"), col("s2").as("s2b"))
    a.crossJoin(broadcast(b))
      .selectExpr("na", "nb",
        "s1a / CAST(na AS DOUBLE) AS mean_a",
        "s1b / CAST(nb AS DOUBLE) AS mean_b",
        "(s2a - s1a * s1a / CAST(na AS DOUBLE)) / CAST(na - 1 AS DOUBLE) AS var_a",
        "(s2b - s1b * s1b / CAST(nb AS DOUBLE)) / CAST(nb - 1 AS DOUBLE) AS var_b")
      .selectExpr("na", "nb", "mean_a", "mean_b", "var_a", "var_b",
        "var_a / CAST(na AS DOUBLE) AS se_a",
        "var_b / CAST(nb AS DOUBLE) AS se_b")
      .selectExpr("na", "nb", "mean_a", "mean_b", "var_a", "var_b",
        "((mean_a - mean_b) * (mean_a - mean_b)) / (se_a + se_b) AS t2_stat",
        "((se_a + se_b) * (se_a + se_b)) / " +
          "(se_a * se_a / CAST(na - 1 AS DOUBLE) + " +
          "se_b * se_b / CAST(nb - 1 AS DOUBLE)) AS df")
  }

  /** CUPED variance reduction — the estimator upgrade every mature
    * experimentation stack runs before calling a winner: each user's
    * POST-period metric (purchase cents after the calendar midpoint)
    * is adjusted by θ× their PRE-period covariate (same metric before
    * the midpoint; θ = pooled cov(X,Y)/var(X), the regression
    * adjustment), which removes the between-user variance the
    * experiment didn't cause. Reported per arm: raw vs adjusted mean
    * and variance — the variance ratio IS the sample-size saving.
    * Exactness: the midpoint is integer-derived from the data's own
    * day bounds; all moment sums fold decimal-exact per arm and pooled
    * ([[eventsWelch]]'s contract); θ and the adjusted readouts are
    * IDENTICAL double expression trees in both engines. Scale: one
    * user-keyed fold to (arm, x, y), then a 2-group and a 1-row
    * aggregate; 1-row broadcasts stitch — no window, no join on
    * anything data-sized. */
  def eventsCuped(spark: SparkSession, sfDir: String): DataFrame = {
    val u = midSplitEvents(spark, sfDir)
      .groupBy(col("user_id"))
      .agg(
        sum(when(col("event_type") === "purchase" && col("d") < col("mid"), cents)
          .otherwise(0L))
          .cast("double").as("x"),
        sum(when(col("event_type") === "purchase" && col("d") >= col("mid"), cents)
          .otherwise(0L))
          .cast("double").as("y"))
      .select((col("user_id") % 2).as("arm"), col("x"), col("y"))
    val uu = graft.core.QueryCaches.track(u)
    val pooled = uu.agg(count(lit(1)).as("n"),
      dsum(col("x")).as("sx"), dsum(col("y")).as("sy"),
      dsum(col("x") * col("y")).as("sxy"), dsum(col("x") * col("x")).as("sxx"))
    val arms = uu.groupBy(col("arm")).agg(count(lit(1)).as("n_arm"),
      dsum(col("x")).as("ax"), dsum(col("y")).as("ay"),
      dsum(col("y") * col("y")).as("ayy"),
      dsum(col("x") * col("y")).as("axy"),
      dsum(col("x") * col("x")).as("axx"))
    arms.crossJoin(broadcast(pooled))
      .selectExpr("arm", "n_arm",
        "(CAST(n AS DOUBLE) * sxy - sx * sy) / (CAST(n AS DOUBLE) * sxx - sx * sx) AS theta",
        "sx / CAST(n AS DOUBLE) AS mx_pooled",
        "ay / CAST(n_arm AS DOUBLE) AS mean_y",
        "ax / CAST(n_arm AS DOUBLE) AS mean_x",
        "ax", "ay", "ayy", "axy", "axx")
      .selectExpr("arm", "n_arm", "theta", "mean_y",
        "mean_y - theta * (mean_x - mx_pooled) AS mean_y_adj",
        "(ayy - ay * ay / CAST(n_arm AS DOUBLE)) / CAST(n_arm - 1 AS DOUBLE) AS var_y",
        // Σỹ² and Σỹ for ỹ = y − θ·x, straight from the moment sums
        "ayy - CAST(2 AS DOUBLE) * theta * axy + theta * theta * axx AS syy_tilde",
        "ay - theta * ax AS sy_tilde")
      .selectExpr("arm", "n_arm", "theta", "mean_y", "mean_y_adj", "var_y",
        "(syy_tilde - sy_tilde * sy_tilde / CAST(n_arm AS DOUBLE)) / " +
          "CAST(n_arm - 1 AS DOUBLE) AS var_y_adj")
      .orderBy(col("arm"))
  }

  /** Weekday × hour activity grid — the ops-dashboard heatmap behind
    * capacity planning and anomaly eyeballing: event volume per
    * (weekday, hour) cell with each cell's per-mille share of the
    * total and the cell's purchase rate. Epoch-day arithmetic keeps
    * the weekday engine-neutral (day 0 = Thursday; no locale
    * week-start), the share is one integral division against a 1-row
    * broadcast total. Scale: ONE map-side-combined aggregate into a
    * fixed 168-cell grid — the shuffle carries 168 rows regardless of
    * volume. */
  def eventsCalendarGrid(spark: SparkSession, sfDir: String): DataFrame = {
    val cells = events(spark, sfDir)
      .select(expr("(ts div 86400000000000) % 7").as("weekday"),
        expr("(ts div 3600000000000) % 24").as("hour"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("is_p"))
      .groupBy(col("weekday"), col("hour"))
      .agg(count(lit(1)).as("n"), sum(col("is_p")).as("n_purchase"))
    val tot = cells.agg(sum(col("n")).cast("bigint").as("t"))
    cells.crossJoin(broadcast(tot))
      .select(col("weekday"), col("hour"), col("n"), col("n_purchase"),
        expr("(1000 * n) div t").as("share_milli"),
        expr("(1000 * n_purchase) div n").as("purchase_milli"))
  }

  /** Offline policy evaluation — the counterfactual readout that closes
    * the experimentation suite: the LOG was collected under the uniform
    * two-arm assignment (a = user % 2, propensity exactly ½); the
    * CANDIDATE policy π targets arm 1 for users with any pre-period
    * purchase activity (deterministic, derived from the same integer
    * calendar midpoint as [[eventsCuped]]). Inverse-propensity scoring
    * weighs each matched unit by 1/½: V_IPS = (2/n)·Σ_{a=π(x)} r — the
    * unbiased estimate of π's per-user reward had it been deployed —
    * beside the self-normalized V_SNIPS = Σ_match r / n_match (lower
    * variance, slight bias) and the match rate. ALL integer: rewards
    * fold in cents, each estimate is one integral division in milli
    * units with DECIMAL(38,0) partials. Scale: one user-keyed fold,
    * one 1-row aggregate. */
  def eventsIps(spark: SparkSession, sfDir: String): DataFrame = {
    midSplitEvents(spark, sfDir)
      .groupBy(col("user_id"))
      .agg(
        sum(when(col("event_type") === "purchase" && col("d") < col("mid"), cents)
          .otherwise(0L)).as("x"),
        sum(when(col("event_type") === "purchase" && col("d") >= col("mid"), cents)
          .otherwise(0L)).as("r"))
      .select((col("user_id") % 2).as("a"),
        when(col("x") > 0L, 1L).otherwise(0L).as("pi"), col("r"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("a") === col("pi"), 1L).otherwise(0L)).as("n_match"),
        sum(when(col("a") === col("pi"), col("r")).otherwise(0L)).as("r_match"),
        sum(col("r")).as("r_total"))
      .select(col("n"), col("n_match"), col("r_match"),
        expr("(1000 * n_match) div n").as("match_rate_milli"),
        expr("CAST((CAST(2000 AS DECIMAL(38,0)) * r_match) div n AS BIGINT)")
          .as("v_ips_millicents"),
        expr("CASE WHEN n_match = 0 THEN NULL ELSE " +
          "CAST((CAST(1000 AS DECIMAL(38,0)) * r_match) div n_match AS BIGINT) END")
          .as("v_snips_millicents"),
        expr("CAST((CAST(1000 AS DECIMAL(38,0)) * r_total) div n AS BIGINT)")
          .as("v_logged_millicents"))
  }

  /** Sample-ratio mismatch check — the experimentation trip wire that
    * runs BEFORE any readout ([[eventsAbtest]], [[eventsWelch]],
    * [[eventsCuped]]): if the 50/50 unit split didn't land 50/50, the
    * assignment or logging is broken and every downstream p-value is
    * fiction. For a two-arm even split the χ² statistic collapses to
    * (n_a − n_b)²/n — one integral division in micro units with a
    * DECIMAL(38,0) partial (worst-case diff² overflows int64 past ~3M
    * units), flagged against the pinned χ²₍₁,0.05₎ = 3.841459 literal.
    * Scale: one distinct-user fold, then a 1-row compare. */
  def eventsSrm(spark: SparkSession, sfDir: String): DataFrame =
    events(spark, sfDir).select(col("user_id")).distinct()
      .select((col("user_id") % 2).as("arm"))
      .agg(sum(when(col("arm") === 0L, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("arm") === 1L, 1L).otherwise(0L)).as("n_b"))
      .select(col("n_a"), col("n_b"),
        expr("CAST((CAST(1000000 AS DECIMAL(38,0)) * (n_a - n_b) * (n_a - n_b)) " +
          "div (n_a + n_b) AS BIGINT)").as("chi2_micro"))
      .withColumn("srm_flag", col("chi2_micro") > 3841459L)

  /** Cohort LTV curve — cumulative purchase revenue per user by weeks
    * since acquisition, the revenue companion to [[eventsCohorts]]'s
    * retention matrix (the two together are the standard growth
    * dashboard). All-integer: cents folds, per-user milli-cents as one
    * scaled integer division. Grain is (cohort-week, observed offset)
    * — weeks with no revenue emit no row, the cumsum carries across.
    * Plan at 100 TB: first-touch fold and the revenue join both key on
    * user_id (co-partitioned, one logical shuffle); everything after
    * lives on the calendar-bounded cohort × offset grid, where the
    * cumsum window partitions by cohort week — never single-partition;
    * cohort sizes broadcast onto the grid. */
  def eventsLtv(spark: SparkSession, sfDir: String): DataFrame = {
    val e = graft.core.QueryCaches.track(
      events(spark, sfDir).select(col("user_id"),
        expr("ts div 604800000000000").as("week"),
        col("event_type"), col("value")))
    val firstW = graft.core.QueryCaches.track(
      e.groupBy(col("user_id")).agg(min(col("week")).as("cw")))
    val grid = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("week"), cents.as("cents"))
      .join(firstW, "user_id")
      .groupBy(col("cw"), (col("week") - col("cw")).as("off"))
      .agg(sum(col("cents")).as("wk_cents"))
    val sizes = firstW.groupBy(col("cw").as("s_cw"))
      .agg(count(lit(1)).as("n_users"))
    val w = Window.partitionBy(col("cw")).orderBy(col("off"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.withColumn("cum_cents", sum(col("wk_cents")).over(w))
      .join(broadcast(sizes), col("cw") === col("s_cw"))
      .select(col("cw").as("cohort_week"), col("off").as("offset_weeks"),
        col("n_users"), col("cum_cents"),
        expr("(1000 * cum_cents) div n_users").as("ltv_milli"))
  }

  /** Difference-in-differences — the quasi-experimental readout for
    * rollouts WITHOUT randomized assignment: the treated arm's
    * pre→post change minus the control arm's pre→post change cancels
    * any shared time trend (seasonality, market shift) that a naive
    * post-only compare would book as treatment effect. Units are
    * users (arm = user_id % 2, the suite's assignment convention);
    * pre/post is the same integer calendar midpoint as [[eventsCuped]];
    * the metric is purchase cents. Readout: per-arm pre/post means in
    * exact integral milli-cents, the DiD point estimate from those
    * floored means (all-integer, engine-neutral), plus the per-user
    * diff-based t² against the parallel-trends null with decimal-exact
    * moment folds and IDENTICAL double trees ([[eventsWelch]]'s
    * contract). Scale: one user-keyed fold, one 1-row conditional
    * aggregate — no window, no join on anything data-sized. */
  def eventsDid(spark: SparkSession, sfDir: String): DataFrame = {
    val u = midSplitEvents(spark, sfDir)
      .groupBy(col("user_id"))
      .agg(
        sum(when(col("event_type") === "purchase" && col("d") < col("mid"), cents)
          .otherwise(0L)).as("pre"),
        sum(when(col("event_type") === "purchase" && col("d") >= col("mid"), cents)
          .otherwise(0L)).as("post"))
      .select((col("user_id") % 2).as("arm"), col("pre"), col("post"),
        (col("post") - col("pre")).as("dlt"))
    u.agg(
        sum(when(col("arm") === 1L, 1L).otherwise(0L)).as("n_t"),
        sum(when(col("arm") === 0L, 1L).otherwise(0L)).as("n_c"),
        sum(when(col("arm") === 1L, col("pre")).otherwise(0L)).as("sp_t"),
        sum(when(col("arm") === 1L, col("post")).otherwise(0L)).as("so_t"),
        sum(when(col("arm") === 0L, col("pre")).otherwise(0L)).as("sp_c"),
        sum(when(col("arm") === 0L, col("post")).otherwise(0L)).as("so_c"),
        dsum(when(col("arm") === 1L, col("dlt").cast("double")).otherwise(0.0d))
          .as("sd_t"),
        dsum(when(col("arm") === 1L, (col("dlt") * col("dlt")).cast("double"))
          .otherwise(0.0d)).as("sdd_t"),
        dsum(when(col("arm") === 0L, col("dlt").cast("double")).otherwise(0.0d))
          .as("sd_c"),
        dsum(when(col("arm") === 0L, (col("dlt") * col("dlt")).cast("double"))
          .otherwise(0.0d)).as("sdd_c"))
      .selectExpr("n_t", "n_c",
        "(1000 * sp_t) div n_t AS pre_t_milli",
        "(1000 * so_t) div n_t AS post_t_milli",
        "(1000 * sp_c) div n_c AS pre_c_milli",
        "(1000 * so_c) div n_c AS post_c_milli",
        "sd_t", "sdd_t", "sd_c", "sdd_c")
      .selectExpr("n_t", "n_c", "pre_t_milli", "post_t_milli",
        "pre_c_milli", "post_c_milli",
        "(post_t_milli - pre_t_milli) - (post_c_milli - pre_c_milli) AS did_milli",
        "sd_t / CAST(n_t AS DOUBLE) - sd_c / CAST(n_c AS DOUBLE) AS did_mean",
        "(sdd_t - sd_t * sd_t / CAST(n_t AS DOUBLE)) / CAST(n_t - 1 AS DOUBLE)" +
          " AS var_d_t",
        "(sdd_c - sd_c * sd_c / CAST(n_c AS DOUBLE)) / CAST(n_c - 1 AS DOUBLE)" +
          " AS var_d_c")
      .selectExpr("n_t", "n_c", "pre_t_milli", "post_t_milli", "pre_c_milli",
        "post_c_milli", "did_milli", "did_mean", "var_d_t", "var_d_c",
        "(did_mean * did_mean) / " +
          "(var_d_t / CAST(n_t AS DOUBLE) + var_d_c / CAST(n_c AS DOUBLE))" +
          " AS t2_stat")
  }

  /** Poisson-bootstrap confidence interval — THE way to put error bars
    * on a 100 TB aggregate in one pass: instead of resampling n units
    * with replacement (which needs global coordination), each unit
    * draws an independent Poisson(1) weight per replicate — for large
    * n the replicate totals are distributionally indistinguishable
    * from the multinomial bootstrap, and the weights are a PURE
    * FUNCTION of (user_id, replicate) via a deterministic mid-square
    * hash, so the "randomness" is reproducible in both engines and
    * across retries/stragglers (the property a cluster bootstrap
    * needs — a worker re-run must draw the same weights).
    * Weight = Poisson(1) inverse-CDF over the hash's 2^20 cells with
    * the CDF thresholds pinned as integer literals (tail capped at 5:
    * P(X>5) ≈ 6e-4 of units keep weight 5 — documented bias far below
    * the CI's own Monte-Carlo noise at R=32). Per replicate the
    * estimate is the weighted mean of per-user purchase cents as one
    * integral milli division; the CI is the 2nd/31st order statistic
    * of the 32 replicate estimates (≈ the 5/95 percentile band) read
    * from ONE sorted 32-element array — no window anywhere. Scale:
    * one user fold, a ×32 explode into a 32-group map-side-combined
    * aggregate, then a 1-row array fold. */
  def eventsBootstrap(spark: SparkSession, sfDir: String): DataFrame = {
    val u = userPurchaseCents(spark, sfDir)
    val reps = u.select(col("user_id"), col("m"),
        explode(expr("sequence(0L, 31L)")).as("r"))
      // affine residue then mid-square: keeps bits [10,30) of t², the
      // mix that beat parity-of-affine in the AMS sign-hash measurement
      .withColumn("t", expr(
        "(user_id * 2654435761 + r * 1013904223 + 12345) % 1048576"))
      .withColumn("h", expr("((t * t) div 1024) % 1048576"))
      // Poisson(1) CDF × 2^20, floored: 385749|771499|964373|1028665|1044738
      .withColumn("w", expr(
        "CASE WHEN h < 385749 THEN 0 WHEN h < 771499 THEN 1 " +
          "WHEN h < 964373 THEN 2 WHEN h < 1028665 THEN 3 " +
          "WHEN h < 1044738 THEN 4 ELSE 5 END"))
    // den = 0 needs every unit to draw weight 0 in one replicate —
    // practically unreachable, but the convention must still be pinned
    // CROSS-ENGINE: a NULL est would sort FIRST in Spark's sort_array
    // and LAST in DuckDB's list_sort, silently skewing lo/med/hi. The
    // uniform convention (here, the oracle, and the streaming twin
    // bootstrapUpdates) is the sentinel -1: estimates are ≥ 0 (purchase
    // cents and Poisson weights are non-negative), so -1 is unambiguous
    // and sorts first in BOTH engines.
    val ests = reps.groupBy(col("r"))
      .agg(sum(col("w") * col("m")).as("num"), sum(col("w")).as("den"))
      .select(expr("CASE WHEN den = 0 THEN -1L ELSE (1000 * num) div den END")
        .as("est"))
    val band = ests.agg(sort_array(collect_list(col("est"))).as("a"))
      .select(element_at(col("a"), 2).as("boot_lo_milli"),
        expr("(element_at(a, 16) + element_at(a, 17)) div 2")
          .as("boot_med_milli"),
        element_at(col("a"), 31).as("boot_hi_milli"))
    val point = u.agg(count(lit(1)).as("n_users"),
      expr("(1000 * sum(m)) div count(*)").as("point_milli"))
    point.crossJoin(broadcast(band))
  }

  /** Mann–Whitney rank-sum test — the robust two-sample readout when
    * revenue is heavy-tailed enough that [[eventsWelch]]'s means are
    * whale-driven: compares the full rank distribution of per-user
    * purchase cents between arms, with the textbook average-rank tie
    * handling and tie-corrected normal-approximation variance. ALL
    * integer/rational: ranks in exact milli units (avg rank of a tie
    * group = cum_before + (t+1)/2 → 1000·cum_before + 500·(t+1)),
    * U and its null mean in milli, z² in micro via one DECIMAL(38,0)
    * division (the worst-case product overflows int64). Scale: the
    * rank pass runs on the VALUE-level relation (one row per distinct
    * cents value with its count — tie groups collapse before ranking)
    * through [[graft.ext.SkewOps.globalCumSum]]'s two-pass
    * range-partitioned prefix sum — the global ORDER BY window this
    * suite never serializes onto one task. */
  def eventsMannWhitney(spark: SparkSession, sfDir: String): DataFrame = {
    val u = userPurchaseCents(spark, sfDir)
      .select((col("user_id") % 2).as("arm"), col("m"))
    val g = graft.core.QueryCaches.track(
      u.groupBy(col("m")).agg(count(lit(1)).as("t"),
        sum(when(col("arm") === 0L, 1L).otherwise(0L)).as("t_a")))
    val ranked = graft.ext.SkewOps.globalCumSum(g, Seq("m"), "t", "_rk", "cum")
    val folds = ranked
      .select(col("t"), col("t_a"),
        (lit(1000L) * (col("cum") - col("t")) + lit(500L) * (col("t") + lit(1L)))
          .as("avg_rank_milli"))
      .agg(sum(col("t_a") * col("avg_rank_milli")).as("r_a_milli"),
        sum(col("t_a")).as("n_a"), sum(col("t") - col("t_a")).as("n_b"),
        sum(col("t") * col("t") * col("t") - col("t")).as("tie_t"))
    folds
      .selectExpr("n_a", "n_b", "tie_t",
        "r_a_milli - 500 * n_a * (n_a + 1) AS u_a_milli",
        "500 * n_a * n_b AS mu_milli",
        "n_a + n_b AS n")
      .selectExpr("n_a", "n_b", "tie_t", "u_a_milli", "mu_milli",
        "CAST((CAST(u_a_milli - mu_milli AS DECIMAL(38,0)) *" +
          " (u_a_milli - mu_milli)) *" +
          " CAST(12 AS DECIMAL(38,0)) * n * (n - 1) div" +
          " (CAST(n_a AS DECIMAL(38,0)) * n_b *" +
          "  ((n + 1) * CAST(n AS DECIMAL(38,0)) * (n - 1) - tie_t))" +
          " AS BIGINT) AS z2_micro")
  }

  /** Causal-impact readout with a seasonal counterfactual — the
    * launch-review question ("what did the last week's change DO to
    * the metric?") answered the way a metrics platform actually does
    * at scale: the counterfactual for each post-intervention day is
    * the weekday mean from the pre period (the `seasonal` model
    * [[eventsForecastEval]] routes to when it wins), and the effect
    * is actual − counterfactual, cumulated over the post window. This
    * is CausalImpact-LITE: a deterministic seasonal baseline instead
    * of the Bayesian structural time series — the posture that keeps
    * every number an EXACT integer (counterfactual per day is the
    * rational s/k surfaced in floored milli units; no posterior, no
    * sampling). The "intervention" is the last 7 days of the corpus —
    * the same synthetic holdout the backtest uses. Scale: corpus →
    * (type, day) counts in one map-side-combined pass; weekday
    * profiles are |types|×7 broadcast rows; the readout is one
    * |types|-group fold. */
  def eventsCausalImpact(spark: SparkSession, sfDir: String): DataFrame = {
    val (_, pre, post) = lastWeekSplit(spark, sfDir)
    val wk = pre.groupBy(col("t"), pmod(col("day"), lit(7L)).as("wd"))
      .agg(sum(col("c")).as("s"), count(lit(1)).as("k"))
    post
      .join(broadcast(wk), post("t") === wk("t") &&
        pmod(col("day"), lit(7L)) === col("wd"))
      .drop(wk("t"))
      .groupBy(col("t"))
      .agg(count(lit(1)).as("n_post"),
        sum(col("c")).as("actual"),
        sum(expr("(1000 * s) div k")).as("cf_milli"))
      .withColumn("effect_milli", lit(1000L) * col("actual") - col("cf_milli"))
      .withColumn("rel_milli",
        expr("(1000 * (1000 * actual - cf_milli)) div cf_milli"))
  }

  /** Heterogeneous treatment effects — the uplift table behind "WHO
    * did the experiment move?": users are banded by PRE-period
    * purchase count (0 / 1–2 / 3+, fixed integer domain constants —
    * no data-dependent quantile, so band membership is a pure function
    * of the user's own history), and each band reports its
    * treatment-vs-control POST conversion rate and revenue delta.
    * A flat average (eventsWelch/eventsCuped) can hide a real effect
    * concentrated in one segment — this is the row that finds it.
    * ALL integer: conversion deltas and per-user revenue deltas in
    * exact milli units. Scale: one user-keyed fold to (band, arm)
    * grain, then a ≤6-row conditional aggregate — band × arm is a
    * domain constant. */
  def eventsHte(spark: SparkSession, sfDir: String): DataFrame = {
    val u = midSplitEvents(spark, sfDir)
      .groupBy(col("user_id"))
      .agg(
        sum(when(col("event_type") === "purchase" && col("d") < col("mid"), 1L)
          .otherwise(0L)).as("pre_n"),
        sum(when(col("event_type") === "purchase" && col("d") >= col("mid"), cents)
          .otherwise(0L)).as("post_c"))
      .select((col("user_id") % 2).as("arm"),
        when(col("pre_n") === 0L, 0L)
          .when(col("pre_n") <= 2L, 1L).otherwise(2L).as("band"),
        when(col("post_c") > 0L, 1L).otherwise(0L).as("conv"), col("post_c"))
    u.groupBy(col("band"))
      .agg(
        sum(when(col("arm") === 1L, 1L).otherwise(0L)).as("n_t"),
        sum(when(col("arm") === 0L, 1L).otherwise(0L)).as("n_c"),
        sum(when(col("arm") === 1L, col("conv")).otherwise(0L)).as("conv_t"),
        sum(when(col("arm") === 0L, col("conv")).otherwise(0L)).as("conv_c"),
        sum(when(col("arm") === 1L, col("post_c")).otherwise(0L)).as("rev_t"),
        sum(when(col("arm") === 0L, col("post_c")).otherwise(0L)).as("rev_c"))
      .select(col("band"), col("n_t"), col("n_c"),
        expr("(1000 * conv_t) div n_t").as("conv_t_milli"),
        expr("(1000 * conv_c) div n_c").as("conv_c_milli"),
        expr("(1000 * conv_t) div n_t - (1000 * conv_c) div n_c")
          .as("uplift_conv_milli"),
        expr("(1000 * rev_t) div n_t - (1000 * rev_c) div n_c")
          .as("uplift_rev_milli"))
  }

  /** Behavioral entropy rate — how PREDICTABLE each event type's
    * successor is, from [[eventsMarkov]]'s within-session transition
    * counts: H(dst | src) per source state in exact millibits through
    * the fast-log kernel (H·T = Σ_dst c·(L(T) − L(c)), one integral
    * division per source — the identical piecewise-chord formula in
    * both engines, zero floats). Low entropy = a funnel edge worth
    * hard-coding (prefetch, cache, UI shortcut); high entropy = a
    * genuine decision point. The |types|-row broadcast of source
    * totals replaces events_markov's per-src window. Scale: bigram
    * counts are a (types × types)-bounded aggregate off the session
    * lag pass — the one per-user shuffle the session family already
    * pays; everything downstream is domain-bounded. */
  def eventsMarkovEntropy(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.HashExprs.log2Millis
    val bi = sessionBigrams(spark, sfDir)
    val t = bi.groupBy(col("src").as("t_src")).agg(sum(col("cnt")).as("tt"))
    bi.join(broadcast(t), col("src") === col("t_src"))
      .withColumn("term",
        col("cnt") * (log2Millis(col("tt")) - log2Millis(col("cnt"))))
      .groupBy(col("src"))
      .agg(min(col("tt")).as("t_total"), count(lit(1)).as("n_dst"),
        sum(col("term")).as("term_sum"))
      .select(col("src"), col("t_total"), col("n_dst"),
        expr("term_sum div t_total").as("h_milli"))
  }

  /** Partial autocorrelation at lags 1–2 — the AR-order decision
    * [[eventsAcf]] can't make alone: ρ₂ being high doesn't mean a
    * genuine 2-step dependence (AR(1) alone gives ρ₂ = ρ₁²); the
    * Durbin–Levinson φ₂₂ = (ρ₂ − ρ₁²)/(1 − ρ₁²) is what's LEFT of
    * lag-2 after lag-1 explains its share — the textbook "is AR(2)
    * worth it" readout, per event type over the gap-filled daily grid.
    * EXACT RATIONAL throughout: with x̄ = S/n, the lag-k covariance
    * scales to the integer A_k = Σ_{t≤n−k}(n·x_t − S)(n·x_{t+k} − S),
    * so φ₁₁ = A₁/A₀ and φ₂₂ = (A₂A₀ − A₁²)/(A₀² − A₁²) — both floored
    * milli via one DECIMAL(38,0) division (the squares clear int64).
    * Scale: the grid is types × calendar days (domain-bounded); the
    * three shifted self-joins are day-keyed over that grid; per-type
    * totals broadcast. */
  def eventsPacf(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = events(spark, sfDir)
      .groupBy(col("event_type"),
        expr("ts div 86400000000000").as("d"))
      .agg(count(lit(1)).as("n"))
    val bounds = daily.agg(min(col("d")).as("lo"), max(col("d")).as("hi"))
    val days = bounds.select(explode(expr("sequence(lo, hi)")).as("d"),
      (col("hi") - col("lo") + 1L).as("nd"))
    val types = daily.select(col("event_type")).distinct()
    val grid = graft.core.QueryCaches.track(
      types.crossJoin(broadcast(days))
        .join(daily, Seq("event_type", "d"), "left")
        .select(col("event_type"), col("d"), col("nd"),
          coalesce(col("n"), lit(0L)).as("x")))
    val st = grid.groupBy(col("event_type").as("s_t"))
      .agg(sum(col("x")).as("s"), min(col("nd")).as("n"))
    val g = grid.join(broadcast(st), col("event_type") === col("s_t"))
      .select(col("event_type"), col("d"),
        (col("n") * col("x") - col("s")).as("cx"), col("n"))
    // r17 (guide §2.4 — share one exchange): the three lag products
    // a_k = Σ_d cx_d·cx_{d+k} previously ran one g⋈g self-join + one
    // aggregate PER lag (plus two stitch joins). The grid is DENSE
    // (gap-filled sequence(lo, hi)), so cx_{d+k} is exactly
    // lead(cx, k) over (event_type ORDER BY d) — ONE window exchange
    // computes all three lags, and the groupBy(event_type) that
    // follows reuses the window's partitioning (no second exchange).
    // Values are bit-identical: the products are int64 (cx is integer-
    // centered), SUM over int64 is exact in any order, and a lead()
    // past the series end is NULL, which SUM skips — the same rows the
    // lag join dropped. Measured sf0.1 (quiet, min-of-2 bench
    // methodology): 2.55 → 1.51 s; physical Exchanges 7 → 5
    // (plans/r17/events_pacf_{before,after}.txt).
    val wLead = Window.partitionBy(col("event_type")).orderBy(col("d"))
    val ak = g
      .select(col("event_type"), col("cx"),
        lead(col("cx"), 1).over(wLead).as("cx1"),
        lead(col("cx"), 2).over(wLead).as("cx2"))
      .groupBy(col("event_type"))
      .agg(sum(col("cx") * col("cx")).as("a0"),
        sum(col("cx") * col("cx1")).as("a1"),
        sum(col("cx") * col("cx2")).as("a2"))
    ak
      .join(st.select(col("s_t").as("event_type"), col("n")), "event_type")
      .select(col("event_type"), col("n").as("n_days"),
        expr("(1000 * a1) div a0").as("phi11_milli"),
        expr("CAST((CAST(1000 AS DECIMAL(38,0)) * " +
          "(CAST(a2 AS DECIMAL(38,0)) * a0 - CAST(a1 AS DECIMAL(38,0)) * a1)) div " +
          "(CAST(a0 AS DECIMAL(38,0)) * a0 - CAST(a1 AS DECIMAL(38,0)) * a1) " +
          "AS BIGINT)").as("phi22_milli"))
  }

  /** Quantile treatment effects — where in the distribution the
    * experiment moved revenue: the mean readouts ([[eventsWelch]],
    * [[eventsCuped]]) can't distinguish "everyone +2%" from "whales
    * +20%, median flat", and the QTE at P50/P90 is the standard
    * decomposition. Per arm, the quantiles are exact ORDER STATISTICS
    * (rank ⌈n/2⌉ and ⌈9n/10⌉, pinned integer conventions) picked from
    * ONE arm-major [[graft.ext.SkewOps.globalRank]] pass — the
    * two-job range-partitioned rank, never a single-partition window;
    * arm offsets come from a 1-row broadcast of the two arm counts.
    * Readout: one row with both arms' P50/P90 in cents and the
    * treated-minus-control deltas. */
  def eventsQte(spark: SparkSession, sfDir: String): DataFrame = {
    val u = graft.core.QueryCaches.track(
      userPurchaseCents(spark, sfDir)
        .select((col("user_id") % 2).as("arm"), col("m"), col("user_id")))
    val counts = u.agg(
      sum(when(col("arm") === 0L, 1L).otherwise(0L)).as("n0"),
      sum(when(col("arm") === 1L, 1L).otherwise(0L)).as("n1"))
    val ranked = graft.ext.SkewOps.globalRank(u, Seq("arm", "m", "user_id"), "rk")
    ranked.crossJoin(broadcast(counts))
      .select(col("arm"), col("m"), col("n0"), col("n1"),
        (col("rk") - when(col("arm") === 1L, col("n0")).otherwise(0L)).as("lrk"),
        when(col("arm") === 1L, col("n1")).otherwise(col("n0")).as("na"))
      .filter(col("lrk") === expr("(na + 1) div 2") ||
        col("lrk") === expr("(9 * na + 9) div 10"))
      .agg(min(col("n0")).as("n_c"), min(col("n1")).as("n_t"),
        min(when(col("arm") === 0L && col("lrk") === expr("(na + 1) div 2"),
          col("m"))).as("p50_c"),
        min(when(col("arm") === 1L && col("lrk") === expr("(na + 1) div 2"),
          col("m"))).as("p50_t"),
        min(when(col("arm") === 0L && col("lrk") === expr("(9 * na + 9) div 10"),
          col("m"))).as("p90_c"),
        min(when(col("arm") === 1L && col("lrk") === expr("(9 * na + 9) div 10"),
          col("m"))).as("p90_t"))
      .select(col("n_c"), col("n_t"), col("p50_c"), col("p50_t"),
        col("p90_c"), col("p90_t"),
        (col("p50_t") - col("p50_c")).as("qte50_cents"),
        (col("p90_t") - col("p90_c")).as("qte90_cents"))
  }

  /** Retention half-life — the exponential-decay fit over the pooled
    * DAILY retention curve that turns [[eventsCohorts]]' matrix into
    * ONE planning number: if retention r_k ≈ A·2^(−k/h), the half-life
    * h (days until half the remaining users stop returning) prices
    * acquisition spend. Daily grain because the corpus spans weeks,
    * not quarters — the grain is a parameter, the plan identical.
    * ELIGIBLE population only (cohort days with all 8 offsets
    * observable — the triangle bias of naive pooling); y_k = L(a_k) −
    * L(n) millibit log-retention (negative integers, exact), OLS
    * slope over k = 1..8 in the text_zipf integer moment spelling,
    * half-life = 1000·den/|num| millidays (1000 millibits = one
    * halving). Scale: one distinct (user, day) pass, a first-day
    * fold, 8 offset counts — everything after the user-keyed join is
    * offset-grain. */
  def eventsRetentionHalflife(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.HashExprs.log2Millis
    val uw = graft.core.QueryCaches.track(
      events(spark, sfDir)
        .select(col("user_id"), expr("ts div 86400000000000").as("week"))
        .distinct())
    val hi = uw.agg(max(col("week")).as("hi"))
    val fw = uw.groupBy(col("user_id")).agg(min(col("week")).as("cw"))
    val eligible = graft.core.QueryCaches.track(
      fw.crossJoin(broadcast(hi)).filter(col("cw") <= col("hi") - 8)
        .select(col("user_id"), col("cw")))
    val n = eligible.agg(count(lit(1)).as("n"))
    val ak = uw.join(eligible, "user_id")
      .select((col("week") - col("cw")).as("k"))
      .filter(col("k").between(1L, 8L))
      .groupBy(col("k")).agg(count(lit(1)).as("a_k"))
    val pts = ak.crossJoin(broadcast(n))
      .select(col("k"), col("a_k"), col("n"),
        (log2Millis(col("a_k")) - log2Millis(col("n"))).as("y"))
    pts.agg(count(lit(1)).as("np"), sum(col("k")).as("sx"),
        sum(col("y")).as("sy"), sum(col("k") * col("y")).as("sxy"),
        sum(col("k") * col("k")).as("sxx"), min(col("n")).as("n_eligible"))
      // slope = num/den millibits per week; half-life = 1000/|slope|
      // weeks (1000 millibits = one halving) = 1000*den/|num| weeks
      .select(col("n_eligible"), col("np").as("n_points"),
        expr("CAST(signum(np * sxy - sx * sy) AS BIGINT) * " +
          "((abs(np * sxy - sx * sy) * 1000) div (np * sxx - sx * sx))")
          .as("slope_microbits"),
        expr("CASE WHEN np * sxy - sx * sy >= 0 THEN NULL ELSE " +
          "(1000000 * (np * sxx - sx * sx)) div abs(np * sxy - sx * sy) " +
          "END").as("half_life_millidays"))
  }

  /** Motif discovery (matrix-profile-lite) — per event type the best
    * NON-OVERLAPPING pair of 7-day windows by exact integer SSE over
    * zero-filled daily counts: the "which week repeated itself"
    * readout that seeds seasonality mining. The series materializes
    * ONCE per type as a global-span array ([[eventsSeriesSim]]'s
    * map_from_entries + sequence zero-fill idiom — bounds are a 1-row
    * broadcast), windows are a slice explode over that array, and the
    * pair relation is a per-type self-join with start_b ≥ start_a + 7
    * — volume grows with SPAN² per type, never with event rows, so
    * 100 TB of events over the same calendar costs exactly what the
    * aggregate scan costs (the full matrix-profile STOMP recurrence is
    * the documented next lever if spans reached years). The 1-per-type
    * argmin rides the rank-1 window with (sse, start_a, start_b)
    * tie-break; the oracle spells the identical grid join without
    * arrays. */
  def eventsMotif(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = dailyTypeCounts(spark, sfDir)
    val bounds = daily.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(col("d0"), (col("d1") - col("d0") + 1).as("tt"))
    val wins = graft.core.QueryCaches.track(
      daily.crossJoin(broadcast(bounds))
        .groupBy(col("t"))
        .agg(map_from_entries(collect_list(struct(col("day"), col("c")))).as("md"),
          first(col("d0")).as("d0"), first(col("tt")).as("tt"))
        .select(col("t"),
          transform(sequence(lit(0L), col("tt") - 1),
            i => coalesce(element_at(col("md"), col("d0") + i), lit(0L))).as("cv"),
          col("tt"))
        // tt < 7 would make sequence(0, tt-7) DESCEND (Spark defaults to
        // step -1 when start > stop) — guard so a corpus spanning fewer
        // than 7 days yields no windows, exactly like the oracle's
        // empty range(0, tt - 6).
        .filter(col("tt") >= 7)
        .select(col("t"), explode(sequence(lit(0L), col("tt") - 7)).as("s"),
          col("cv"))
        .select(col("t"), col("s"),
          expr("slice(cv, CAST(s + 1 AS INT), 7)").as("w")))
    val sse = aggregate(
      zip_with(col("wa"), col("wb"), (x, y) => (x - y) * (x - y)),
      lit(0L), (acc, v) => acc + v)
    wins.select(col("t"), col("s").as("start_a"), col("w").as("wa"))
      .join(wins.select(col("t"), col("s").as("start_b"), col("w").as("wb")),
        Seq("t"))
      .filter(col("start_b") >= col("start_a") + 7)
      .select(col("t"), col("start_a"), col("start_b"), sse.as("sse"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("t"))
          .orderBy(col("sse"), col("start_a"), col("start_b"))))
      .filter(col("rk") === 1)
      .select(col("t"), col("start_a"), col("start_b"), col("sse"))
  }

  /** Shared CTE chain for the seasonal-decomposition oracles: ends at
    * `resid(t, d, dow, cnt, trend7, det, seasonal_milli, resid_milli)`
    * — the DuckDB spelling of [[eventsSeasonal]]'s output. */
  private val seasonalCteSql =
    """daily AS (SELECT event_type AS t,
      |        CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS d,
      |        COUNT(*) AS n
      |      FROM events GROUP BY 1, 2),
      |b AS (SELECT t, MIN(d) AS lo, MAX(d) AS hi FROM daily GROUP BY 1),
      |spine AS (SELECT t, unnest(range(lo, hi + 1)) AS d FROM b),
      |s AS (SELECT spine.t, spine.d, COALESCE(n, 0) AS cnt
      |      FROM spine LEFT JOIN daily ON spine.t = daily.t AND spine.d = daily.d),
      |w AS (SELECT t, d, cnt,
      |        COUNT(*) OVER w7 AS n7,
      |        CAST(SUM(cnt) OVER w7 AS BIGINT) AS trend7
      |      FROM s WINDOW w7 AS (PARTITION BY t ORDER BY d
      |        ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
      |i AS (SELECT t, d, cnt, trend7, cnt * 7 - trend7 AS det,
      |        (d + 4) % 7 AS dow
      |      FROM w WHERE n7 = 7),
      |seas AS (SELECT t, dow,
      |    CASE WHEN SUM(det) < 0 THEN
      |      -(abs(CAST(1000 * SUM(det) AS BIGINT)) // (7 * COUNT(*)))
      |    ELSE CAST(1000 * SUM(det) AS BIGINT) // (7 * COUNT(*)) END
      |      AS seasonal_milli
      |  FROM i GROUP BY 1, 2),
      |resid AS (SELECT i.t, d, i.dow AS dow, cnt, trend7, det, seasonal_milli,
      |  CASE WHEN det < 0 THEN -(abs(1000 * det) // 7)
      |       ELSE (1000 * det) // 7 END - seasonal_milli AS resid_milli
      |FROM i JOIN seas ON i.t = seas.t AND i.dow = seas.dow)""".stripMargin

  val queries: Seq[QueryDef] = Seq(
    QueryDef("events_motif", eventsMotif,
      """WITH daily AS MATERIALIZED (SELECT event_type AS t,
        |    epoch_us(ts) // 86400000000 AS day,
        |    CAST(COUNT(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |b AS (SELECT MIN(day) AS d0, MAX(day) - MIN(day) + 1 AS tt FROM daily),
        |tys AS (SELECT DISTINCT t FROM daily),
        |idx AS (SELECT CAST(unnest(range(0, tt)) AS BIGINT) AS i, d0 FROM b),
        |grid AS MATERIALIZED (SELECT tys.t, idx.i, COALESCE(d2.c, 0) AS c
        |  FROM tys CROSS JOIN idx
        |  LEFT JOIN daily d2 ON d2.t = tys.t AND d2.day = idx.d0 + idx.i),
        |starts AS (SELECT CAST(unnest(range(0, tt - 6)) AS BIGINT) AS s FROM b),
        |pr AS (SELECT tys.t, a.s AS start_a, b2.s AS start_b
        |  FROM tys CROSS JOIN starts a CROSS JOIN starts b2
        |  WHERE b2.s >= a.s + 7),
        |off AS (SELECT CAST(unnest(range(0, 7)) AS BIGINT) AS o),
        |ss AS (SELECT pr.t, pr.start_a, pr.start_b,
        |    CAST(SUM((ga.c - gb.c) * (ga.c - gb.c)) AS BIGINT) AS sse
        |  FROM pr CROSS JOIN off
        |  JOIN grid ga ON ga.t = pr.t AND ga.i = pr.start_a + off.o
        |  JOIN grid gb ON gb.t = pr.t AND gb.i = pr.start_b + off.o
        |  GROUP BY 1, 2, 3)
        |SELECT t, start_a, start_b, sse FROM (
        |  SELECT t, start_a, start_b, sse, row_number() OVER (
        |    PARTITION BY t ORDER BY sse, start_a, start_b) AS rk
        |  FROM ss) WHERE rk = 1""".stripMargin),
    QueryDef("events_retention_halflife", eventsRetentionHalflife,
      s"""WITH uw AS (SELECT DISTINCT user_id,
         |    epoch_us(ts) // 86400000000 AS week FROM events),
         |h AS (SELECT MAX(week) AS hi FROM uw),
         |fw AS (SELECT user_id, MIN(week) AS cw FROM uw GROUP BY user_id),
         |el AS (SELECT user_id, cw FROM fw CROSS JOIN h WHERE cw <= hi - 8),
         |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM el),
         |ak AS (SELECT week - cw AS k, CAST(COUNT(*) AS BIGINT) AS a_k
         |  FROM uw JOIN el USING (user_id)
         |  WHERE week - cw BETWEEN 1 AND 8 GROUP BY 1),
         |pts AS (SELECT k, a_k, n, ${log2MillisSql("a_k")} - ${log2MillisSql("n")} AS y
         |  FROM ak CROSS JOIN nn),
         |f AS (SELECT CAST(COUNT(*) AS BIGINT) AS np,
         |    CAST(SUM(k) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         |    CAST(SUM(k * y) AS BIGINT) AS sxy,
         |    CAST(SUM(k * k) AS BIGINT) AS sxx,
         |    CAST(MIN(n) AS BIGINT) AS n_eligible
         |  FROM pts)
         |SELECT n_eligible, np AS n_points,
         |  CAST(sign(np * sxy - sx * sy) AS BIGINT)
         |    * ((abs(np * sxy - sx * sy) * 1000) // (np * sxx - sx * sx))
         |    AS slope_microbits,
         |  CASE WHEN np * sxy - sx * sy >= 0 THEN NULL ELSE
         |    (1000000 * (np * sxx - sx * sx)) // abs(np * sxy - sx * sy)
         |  END AS half_life_millidays
         |FROM f""".stripMargin),
    // per-arm row_number window ON PURPOSE — the single-partition plan
    // the engine's arm-major globalRank spelling exists to avoid
    QueryDef("events_qte", eventsQte,
      """WITH u AS (SELECT user_id % 2 AS arm,
        |    CAST(SUM(CASE WHEN event_type = 'purchase'
        |      THEN CAST(floor(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS m,
        |    user_id
        |  FROM events GROUP BY user_id),
        |r AS (SELECT arm, m,
        |    CAST(row_number() OVER (PARTITION BY arm ORDER BY m, user_id)
        |      AS BIGINT) AS lrk,
        |    CAST(COUNT(*) OVER (PARTITION BY arm) AS BIGINT) AS na
        |  FROM u),
        |p AS (SELECT * FROM r
        |  WHERE lrk = (na + 1) // 2 OR lrk = (9 * na + 9) // 10),
        |f AS (SELECT
        |    (SELECT na FROM r WHERE arm = 0 LIMIT 1) AS n_c,
        |    (SELECT na FROM r WHERE arm = 1 LIMIT 1) AS n_t,
        |    MIN(CASE WHEN arm = 0 AND lrk = (na + 1) // 2 THEN m END) AS p50_c,
        |    MIN(CASE WHEN arm = 1 AND lrk = (na + 1) // 2 THEN m END) AS p50_t,
        |    MIN(CASE WHEN arm = 0 AND lrk = (9 * na + 9) // 10 THEN m END)
        |      AS p90_c,
        |    MIN(CASE WHEN arm = 1 AND lrk = (9 * na + 9) // 10 THEN m END)
        |      AS p90_t
        |  FROM p)
        |SELECT n_c, n_t, p50_c, p50_t, p90_c, p90_t,
        |  p50_t - p50_c AS qte50_cents, p90_t - p90_c AS qte90_cents
        |FROM f""".stripMargin),
    QueryDef("events_pacf", eventsPacf,
      """WITH daily AS (SELECT event_type, epoch_us(ts) // 86400000000 AS d,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |b AS (SELECT MIN(d) AS lo, MAX(d) AS hi FROM daily),
        |days AS (SELECT CAST(unnest(range(lo, hi + 1)) AS BIGINT) AS d,
        |    hi - lo + 1 AS nd
        |  FROM b),
        |ty AS (SELECT DISTINCT event_type FROM daily),
        |grid AS (SELECT ty.event_type, days.d, days.nd,
        |    COALESCE(daily.n, 0) AS x
        |  FROM ty CROSS JOIN days
        |  LEFT JOIN daily ON ty.event_type = daily.event_type
        |    AND days.d = daily.d),
        |st AS (SELECT event_type AS s_t, CAST(SUM(x) AS BIGINT) AS s,
        |    CAST(MIN(nd) AS BIGINT) AS n
        |  FROM grid GROUP BY 1),
        |g AS (SELECT grid.event_type, d, n * x - s AS cx, n
        |  FROM grid JOIN st ON grid.event_type = st.s_t),
        |a0 AS (SELECT x.event_type, CAST(SUM(x.cx * y.cx) AS BIGINT) AS a0
        |  FROM g x JOIN g y ON x.event_type = y.event_type AND y.d - 0 = x.d
        |  GROUP BY 1),
        |a1 AS (SELECT x.event_type, CAST(SUM(x.cx * y.cx) AS BIGINT) AS a1
        |  FROM g x JOIN g y ON x.event_type = y.event_type AND y.d - 1 = x.d
        |  GROUP BY 1),
        |a2 AS (SELECT x.event_type, CAST(SUM(x.cx * y.cx) AS BIGINT) AS a2
        |  FROM g x JOIN g y ON x.event_type = y.event_type AND y.d - 2 = x.d
        |  GROUP BY 1)
        |SELECT a0.event_type, n AS n_days,
        |  (1000 * a1) // a0 AS phi11_milli,
        |  CAST((CAST(1000 AS HUGEINT)
        |      * (CAST(a2 AS HUGEINT) * a0 - CAST(a1 AS HUGEINT) * a1))
        |    // (CAST(a0 AS HUGEINT) * a0 - CAST(a1 AS HUGEINT) * a1)
        |    AS BIGINT) AS phi22_milli
        |FROM a0 JOIN a1 ON a0.event_type = a1.event_type
        |JOIN a2 ON a0.event_type = a2.event_type
        |JOIN st ON a0.event_type = st.s_t""".stripMargin),
    QueryDef("events_markov_entropy", eventsMarkovEntropy,
      s"""WITH g AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS tus,
         |                  lag(epoch_us(ts)) OVER (PARTITION BY user_id
         |                    ORDER BY epoch_us(ts), event_id) AS prev
         |           FROM events),
         |s AS (SELECT user_id, event_id, event_type, tus,
         |             CASE WHEN prev IS NULL OR tus - prev > 1800000000
         |                  THEN 1 ELSE 0 END AS new_s FROM g),
         |c AS (SELECT user_id, event_id, event_type, tus,
         |             CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY tus, event_id
         |               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_no FROM s),
         |n AS (SELECT event_type AS src,
         |             lead(event_type) OVER w2 AS dst,
         |             session_no,
         |             lead(session_no) OVER w2 AS next_s
         |      FROM c WINDOW w2 AS (PARTITION BY user_id ORDER BY tus, event_id)),
         |t AS (SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS cnt FROM n
         |      WHERE dst IS NOT NULL AND next_s = session_no GROUP BY src, dst),
         |tot AS (SELECT src AS t_src, CAST(SUM(cnt) AS BIGINT) AS tt
         |        FROM t GROUP BY src),
         |terms AS (SELECT src, tt, cnt * (${log2MillisSql("tt")} - ${log2MillisSql("cnt")}) AS term
         |          FROM t JOIN tot ON t.src = tot.t_src)
         |SELECT src, CAST(MIN(tt) AS BIGINT) AS t_total,
         |  CAST(COUNT(*) AS BIGINT) AS n_dst,
         |  CAST(SUM(term) AS BIGINT) // CAST(MIN(tt) AS BIGINT) AS h_milli
         |FROM terms GROUP BY src""".stripMargin),
    QueryDef("events_causal_impact", eventsCausalImpact,
      """WITH d AS (SELECT event_type AS t, epoch_us(ts) // 86400000000 AS day,
        |    CAST(COUNT(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |b AS (SELECT MAX(day) AS d1 FROM d),
        |pre AS (SELECT * FROM d CROSS JOIN b WHERE day <= d1 - 7),
        |post AS (SELECT * FROM d CROSS JOIN b WHERE day > d1 - 7),
        |wk AS (SELECT t, day % 7 AS wd, CAST(SUM(c) AS BIGINT) AS s,
        |    CAST(COUNT(*) AS BIGINT) AS k
        |  FROM pre GROUP BY 1, 2),
        |g AS (SELECT post.t, CAST(COUNT(*) AS BIGINT) AS n_post,
        |    CAST(SUM(c) AS BIGINT) AS actual,
        |    CAST(SUM((1000 * s) // k) AS BIGINT) AS cf_milli
        |  FROM post JOIN wk ON post.t = wk.t AND post.day % 7 = wk.wd
        |  GROUP BY post.t)
        |SELECT t, n_post, actual, cf_milli,
        |  1000 * actual - cf_milli AS effect_milli,
        |  (1000 * (1000 * actual - cf_milli)) // cf_milli AS rel_milli
        |FROM g""".stripMargin),
    QueryDef("events_hte", eventsHte,
      """WITH e AS (SELECT user_id, event_type, value,
        |             epoch_us(ts) // 86400000000 AS d FROM events),
        |mth AS (SELECT (MIN(d) + MAX(d)) // 2 AS mid FROM e),
        |u AS (SELECT user_id % 2 AS arm,
        |        CAST(SUM(CASE WHEN event_type = 'purchase' AND d < mid
        |          THEN 1 ELSE 0 END) AS BIGINT) AS pre_n,
        |        CAST(SUM(CASE WHEN event_type = 'purchase' AND d >= mid
        |          THEN CAST(floor(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT)
        |          AS post_c
        |      FROM e CROSS JOIN mth GROUP BY user_id),
        |ub AS (SELECT arm,
        |        CASE WHEN pre_n = 0 THEN 0 WHEN pre_n <= 2 THEN 1 ELSE 2 END
        |          AS band,
        |        CASE WHEN post_c > 0 THEN 1 ELSE 0 END AS conv, post_c
        |      FROM u),
        |g AS (SELECT band,
        |    CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
        |    CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_c,
        |    CAST(SUM(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS BIGINT)
        |      AS conv_t,
        |    CAST(SUM(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS BIGINT)
        |      AS conv_c,
        |    CAST(SUM(CASE WHEN arm = 1 THEN post_c ELSE 0 END) AS BIGINT)
        |      AS rev_t,
        |    CAST(SUM(CASE WHEN arm = 0 THEN post_c ELSE 0 END) AS BIGINT)
        |      AS rev_c
        |  FROM ub GROUP BY band)
        |SELECT CAST(band AS BIGINT) AS band, n_t, n_c,
        |  (1000 * conv_t) // n_t AS conv_t_milli,
        |  (1000 * conv_c) // n_c AS conv_c_milli,
        |  (1000 * conv_t) // n_t - (1000 * conv_c) // n_c
        |    AS uplift_conv_milli,
        |  (1000 * rev_t) // n_t - (1000 * rev_c) // n_c AS uplift_rev_milli
        |FROM g""".stripMargin),
    QueryDef("events_did", eventsDid,
      """WITH e AS (SELECT user_id, event_type, value,
        |             epoch_us(ts) // 86400000000 AS d FROM events),
        |mth AS (SELECT (MIN(d) + MAX(d)) // 2 AS mid FROM e),
        |u AS (SELECT user_id % 2 AS arm,
        |        CAST(SUM(CASE WHEN event_type = 'purchase' AND d < mid
        |          THEN CAST(floor(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT)
        |          AS pre,
        |        CAST(SUM(CASE WHEN event_type = 'purchase' AND d >= mid
        |          THEN CAST(floor(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT)
        |          AS post
        |      FROM e CROSS JOIN mth GROUP BY user_id),
        |ud AS (SELECT arm, pre, post, post - pre AS dlt FROM u),
        |f AS (SELECT
        |    CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
        |    CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_c,
        |    CAST(SUM(CASE WHEN arm = 1 THEN pre ELSE 0 END) AS BIGINT) AS sp_t,
        |    CAST(SUM(CASE WHEN arm = 1 THEN post ELSE 0 END) AS BIGINT) AS so_t,
        |    CAST(SUM(CASE WHEN arm = 0 THEN pre ELSE 0 END) AS BIGINT) AS sp_c,
        |    CAST(SUM(CASE WHEN arm = 0 THEN post ELSE 0 END) AS BIGINT) AS so_c,
        |    CAST(SUM(CAST(CASE WHEN arm = 1 THEN CAST(dlt AS DOUBLE)
        |      ELSE 0.0 END AS DECIMAL(38,6))) AS DOUBLE) AS sd_t,
        |    CAST(SUM(CAST(CASE WHEN arm = 1 THEN CAST(dlt * dlt AS DOUBLE)
        |      ELSE 0.0 END AS DECIMAL(38,6))) AS DOUBLE) AS sdd_t,
        |    CAST(SUM(CAST(CASE WHEN arm = 0 THEN CAST(dlt AS DOUBLE)
        |      ELSE 0.0 END AS DECIMAL(38,6))) AS DOUBLE) AS sd_c,
        |    CAST(SUM(CAST(CASE WHEN arm = 0 THEN CAST(dlt * dlt AS DOUBLE)
        |      ELSE 0.0 END AS DECIMAL(38,6))) AS DOUBLE) AS sdd_c
        |  FROM ud),
        |m AS (SELECT n_t, n_c,
        |    (1000 * sp_t) // n_t AS pre_t_milli,
        |    (1000 * so_t) // n_t AS post_t_milli,
        |    (1000 * sp_c) // n_c AS pre_c_milli,
        |    (1000 * so_c) // n_c AS post_c_milli,
        |    sd_t, sdd_t, sd_c, sdd_c
        |  FROM f),
        |v AS (SELECT n_t, n_c, pre_t_milli, post_t_milli, pre_c_milli,
        |    post_c_milli,
        |    (post_t_milli - pre_t_milli) - (post_c_milli - pre_c_milli)
        |      AS did_milli,
        |    sd_t / CAST(n_t AS DOUBLE) - sd_c / CAST(n_c AS DOUBLE) AS did_mean,
        |    (sdd_t - sd_t * sd_t / CAST(n_t AS DOUBLE)) / CAST(n_t - 1 AS DOUBLE)
        |      AS var_d_t,
        |    (sdd_c - sd_c * sd_c / CAST(n_c AS DOUBLE)) / CAST(n_c - 1 AS DOUBLE)
        |      AS var_d_c
        |  FROM m)
        |SELECT n_t, n_c, pre_t_milli, post_t_milli, pre_c_milli, post_c_milli,
        |  did_milli, did_mean, var_d_t, var_d_c,
        |  (did_mean * did_mean) /
        |    (var_d_t / CAST(n_t AS DOUBLE) + var_d_c / CAST(n_c AS DOUBLE))
        |    AS t2_stat
        |FROM v""".stripMargin),
    QueryDef("events_bootstrap", eventsBootstrap,
      """WITH u AS (SELECT user_id,
        |    CAST(SUM(CASE WHEN event_type = 'purchase'
        |      THEN CAST(floor(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS m
        |  FROM events GROUP BY user_id),
        |reps AS (SELECT user_id, m, CAST(r.range AS BIGINT) AS r
        |  FROM u CROSS JOIN range(0, 32) r),
        |hw AS (SELECT m, r,
        |    ((((user_id * 2654435761 + r * 1013904223 + 12345) % 1048576)
        |      * ((user_id * 2654435761 + r * 1013904223 + 12345) % 1048576))
        |      // 1024) % 1048576 AS h
        |  FROM reps),
        |ws AS (SELECT m, r,
        |    CASE WHEN h < 385749 THEN 0 WHEN h < 771499 THEN 1
        |         WHEN h < 964373 THEN 2 WHEN h < 1028665 THEN 3
        |         WHEN h < 1044738 THEN 4 ELSE 5 END AS w
        |  FROM hw),
        |ests AS (SELECT CASE WHEN SUM(w) = 0 THEN CAST(-1 AS BIGINT)
        |      ELSE (1000 * CAST(SUM(w * m) AS BIGINT)) // CAST(SUM(w) AS BIGINT)
        |    END AS est
        |  FROM ws GROUP BY r),
        |band AS (SELECT list_sort(list(est)) AS a FROM ests),
        |pt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
        |    (1000 * CAST(SUM(m) AS BIGINT)) // CAST(COUNT(*) AS BIGINT)
        |      AS point_milli
        |  FROM u)
        |SELECT n_users, point_milli,
        |  CAST(a[2] AS BIGINT) AS boot_lo_milli,
        |  CAST((a[16] + a[17]) // 2 AS BIGINT) AS boot_med_milli,
        |  CAST(a[31] AS BIGINT) AS boot_hi_milli
        |FROM pt CROSS JOIN band""".stripMargin),
    QueryDef("events_mannwhitney", eventsMannWhitney,
      """WITH u AS (SELECT user_id % 2 AS arm,
        |    CAST(SUM(CASE WHEN event_type = 'purchase'
        |      THEN CAST(floor(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS m
        |  FROM events GROUP BY user_id),
        |g AS (SELECT m, CAST(COUNT(*) AS BIGINT) AS t,
        |    CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS t_a
        |  FROM u GROUP BY m),
        |rk AS (SELECT t, t_a,
        |    CAST(SUM(t) OVER (ORDER BY m
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |  FROM g),
        |f AS (SELECT
        |    CAST(SUM(t_a * (1000 * (cum - t) + 500 * (t + 1))) AS BIGINT)
        |      AS r_a_milli,
        |    CAST(SUM(t_a) AS BIGINT) AS n_a,
        |    CAST(SUM(t - t_a) AS BIGINT) AS n_b,
        |    CAST(SUM(t * t * t - t) AS BIGINT) AS tie_t
        |  FROM rk),
        |s AS (SELECT n_a, n_b, tie_t,
        |    r_a_milli - 500 * n_a * (n_a + 1) AS u_a_milli,
        |    500 * n_a * n_b AS mu_milli,
        |    n_a + n_b AS n
        |  FROM f)
        |SELECT n_a, n_b, tie_t, u_a_milli, mu_milli,
        |  CAST((CAST(u_a_milli - mu_milli AS HUGEINT)
        |      * (u_a_milli - mu_milli) * 12 * n * (n - 1))
        |    // (CAST(n_a AS HUGEINT) * n_b
        |      * ((n + 1) * CAST(n AS HUGEINT) * (n - 1) - tie_t))
        |    AS BIGINT) AS z2_micro
        |FROM s""".stripMargin),
    QueryDef("events_ltv", eventsLtv,
      """WITH e AS (SELECT user_id,
        |    epoch_us(ts) // 604800000000 AS week, event_type, value
        |  FROM events),
        |fw AS (SELECT user_id, MIN(week) AS cw FROM e GROUP BY user_id),
        |grid AS (SELECT cw, week - cw AS off,
        |    CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS wk_cents
        |  FROM e JOIN fw USING (user_id)
        |  WHERE event_type = 'purchase' GROUP BY 1, 2),
        |sz AS (SELECT cw, CAST(COUNT(*) AS BIGINT) AS n_users
        |  FROM fw GROUP BY cw),
        |c AS (SELECT grid.cw, off, n_users,
        |    CAST(SUM(wk_cents) OVER (PARTITION BY grid.cw ORDER BY off
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum_cents
        |  FROM grid JOIN sz ON grid.cw = sz.cw)
        |SELECT cw AS cohort_week, off AS offset_weeks, n_users, cum_cents,
        |  (1000 * cum_cents) // n_users AS ltv_milli
        |FROM c""".stripMargin),
    QueryDef("events_cuped", eventsCuped,
      """WITH e AS (SELECT user_id, event_type, value,
        |             epoch_us(ts) // 86400000000 AS d FROM events),
        |mth AS (SELECT (MIN(d) + MAX(d)) // 2 AS mid FROM e),
        |u AS (SELECT user_id,
        |        CAST(CAST(SUM(CASE WHEN event_type = 'purchase' AND d < mid
        |          THEN CAST(floor(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT)
        |          AS DOUBLE) AS x,
        |        CAST(CAST(SUM(CASE WHEN event_type = 'purchase' AND d >= mid
        |          THEN CAST(floor(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT)
        |          AS DOUBLE) AS y
        |      FROM e, mth GROUP BY user_id),
        |uu AS (SELECT user_id % 2 AS arm, x, y FROM u),
        |p AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |        CAST(SUM(CAST(x AS DECIMAL(38,6))) AS DOUBLE) AS sx,
        |        CAST(SUM(CAST(y AS DECIMAL(38,6))) AS DOUBLE) AS sy,
        |        CAST(SUM(CAST(x * y AS DECIMAL(38,6))) AS DOUBLE) AS sxy,
        |        CAST(SUM(CAST(x * x AS DECIMAL(38,6))) AS DOUBLE) AS sxx
        |      FROM uu),
        |a AS (SELECT arm, CAST(COUNT(*) AS BIGINT) AS n_arm,
        |        CAST(SUM(CAST(x AS DECIMAL(38,6))) AS DOUBLE) AS ax,
        |        CAST(SUM(CAST(y AS DECIMAL(38,6))) AS DOUBLE) AS ay,
        |        CAST(SUM(CAST(y * y AS DECIMAL(38,6))) AS DOUBLE) AS ayy,
        |        CAST(SUM(CAST(x * y AS DECIMAL(38,6))) AS DOUBLE) AS axy,
        |        CAST(SUM(CAST(x * x AS DECIMAL(38,6))) AS DOUBLE) AS axx
        |      FROM uu GROUP BY arm),
        |t AS (SELECT arm, n_arm,
        |        (CAST(n AS DOUBLE) * sxy - sx * sy) /
        |          (CAST(n AS DOUBLE) * sxx - sx * sx) AS theta,
        |        sx / CAST(n AS DOUBLE) AS mx_pooled,
        |        ay / CAST(n_arm AS DOUBLE) AS mean_y,
        |        ax / CAST(n_arm AS DOUBLE) AS mean_x,
        |        ax, ay, ayy, axy, axx
        |      FROM a, p),
        |r AS (SELECT arm, n_arm, theta, mean_y,
        |        mean_y - theta * (mean_x - mx_pooled) AS mean_y_adj,
        |        (ayy - ay * ay / CAST(n_arm AS DOUBLE)) /
        |          CAST(n_arm - 1 AS DOUBLE) AS var_y,
        |        ayy - CAST(2 AS DOUBLE) * theta * axy + theta * theta * axx
        |          AS syy_tilde,
        |        ay - theta * ax AS sy_tilde
        |      FROM t)
        |SELECT arm, n_arm, theta, mean_y, mean_y_adj, var_y,
        |  (syy_tilde - sy_tilde * sy_tilde / CAST(n_arm AS DOUBLE)) /
        |    CAST(n_arm - 1 AS DOUBLE) AS var_y_adj
        |FROM r""".stripMargin),
    QueryDef("events_calendar_grid", eventsCalendarGrid,
      """WITH c AS (SELECT (epoch_us(ts) // 86400000000) % 7 AS weekday,
        |             (epoch_us(ts) // 3600000000) % 24 AS hour,
        |             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_p
        |           FROM events),
        |g AS (SELECT weekday, hour, CAST(COUNT(*) AS BIGINT) AS n,
        |        CAST(SUM(is_p) AS BIGINT) AS n_purchase
        |      FROM c GROUP BY 1, 2),
        |t AS (SELECT CAST(SUM(n) AS BIGINT) AS t FROM g)
        |SELECT weekday, hour, n, n_purchase,
        |  (1000 * n) // t AS share_milli,
        |  (1000 * n_purchase) // n AS purchase_milli
        |FROM g, t""".stripMargin),
    QueryDef("events_ips", eventsIps,
      """WITH e AS (SELECT user_id, event_type, value,
        |             epoch_us(ts) // 86400000000 AS d FROM events),
        |mth AS (SELECT (MIN(d) + MAX(d)) // 2 AS mid FROM e),
        |u AS (SELECT user_id,
        |        CAST(SUM(CASE WHEN event_type = 'purchase' AND d < mid
        |          THEN CAST(floor(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS x,
        |        CAST(SUM(CASE WHEN event_type = 'purchase' AND d >= mid
        |          THEN CAST(floor(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS r
        |      FROM e, mth GROUP BY user_id),
        |p AS (SELECT user_id % 2 AS a,
        |        CASE WHEN x > 0 THEN 1 ELSE 0 END AS pi, r FROM u),
        |s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |        CAST(SUM(CASE WHEN a = pi THEN 1 ELSE 0 END) AS BIGINT) AS n_match,
        |        CAST(SUM(CASE WHEN a = pi THEN r ELSE 0 END) AS BIGINT) AS r_match,
        |        CAST(SUM(r) AS BIGINT) AS r_total
        |      FROM p)
        |SELECT n, n_match, r_match,
        |  (1000 * n_match) // n AS match_rate_milli,
        |  CAST((CAST(2000 AS HUGEINT) * r_match) // n AS BIGINT)
        |    AS v_ips_millicents,
        |  CASE WHEN n_match = 0 THEN NULL ELSE
        |    CAST((CAST(1000 AS HUGEINT) * r_match) // n_match AS BIGINT) END
        |    AS v_snips_millicents,
        |  CAST((CAST(1000 AS HUGEINT) * r_total) // n AS BIGINT)
        |    AS v_logged_millicents
        |FROM s""".stripMargin),
    QueryDef("events_srm", eventsSrm,
      """WITH u AS (SELECT DISTINCT user_id FROM events),
        |c AS (SELECT
        |    CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
        |  FROM u)
        |SELECT n_a, n_b,
        |  CAST((CAST(1000000 AS HUGEINT) * (n_a - n_b) * (n_a - n_b))
        |    // (n_a + n_b) AS BIGINT) AS chi2_micro,
        |  CAST((CAST(1000000 AS HUGEINT) * (n_a - n_b) * (n_a - n_b))
        |    // (n_a + n_b) AS BIGINT) > 3841459 AS srm_flag
        |FROM c""".stripMargin),
    QueryDef("events_welch", eventsWelch,
      """WITH u AS (SELECT user_id % 2 AS arm,
        |    CAST(CAST(SUM(CASE WHEN event_type = 'purchase'
        |      THEN CAST(floor(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT)
        |      AS DOUBLE) AS md
        |  FROM events GROUP BY user_id),
        |g AS (SELECT arm, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CAST(md AS DECIMAL(38,6))) AS DOUBLE) AS s1,
        |    CAST(SUM(CAST(md * md AS DECIMAL(38,6))) AS DOUBLE) AS s2
        |  FROM u GROUP BY arm),
        |ab AS (SELECT
        |    (SELECT n FROM g WHERE arm = 0) AS na,
        |    (SELECT n FROM g WHERE arm = 1) AS nb,
        |    (SELECT s1 FROM g WHERE arm = 0) AS s1a,
        |    (SELECT s1 FROM g WHERE arm = 1) AS s1b,
        |    (SELECT s2 FROM g WHERE arm = 0) AS s2a,
        |    (SELECT s2 FROM g WHERE arm = 1) AS s2b),
        |m AS (SELECT na, nb,
        |    s1a / CAST(na AS DOUBLE) AS mean_a,
        |    s1b / CAST(nb AS DOUBLE) AS mean_b,
        |    (s2a - s1a * s1a / CAST(na AS DOUBLE)) / CAST(na - 1 AS DOUBLE) AS var_a,
        |    (s2b - s1b * s1b / CAST(nb AS DOUBLE)) / CAST(nb - 1 AS DOUBLE) AS var_b
        |  FROM ab),
        |s AS (SELECT na, nb, mean_a, mean_b, var_a, var_b,
        |    var_a / CAST(na AS DOUBLE) AS se_a,
        |    var_b / CAST(nb AS DOUBLE) AS se_b
        |  FROM m)
        |SELECT na, nb, mean_a, mean_b, var_a, var_b,
        |  ((mean_a - mean_b) * (mean_a - mean_b)) / (se_a + se_b) AS t2_stat,
        |  ((se_a + se_b) * (se_a + se_b)) /
        |    (se_a * se_a / CAST(na - 1 AS DOUBLE)
        |     + se_b * se_b / CAST(nb - 1 AS DOUBLE)) AS df
        |FROM s""".stripMargin),
    // naive quadratic neighbor search ON PURPOSE — proves the grid-cell
    // candidate join lossless for the L2 ball
    QueryDef("events_dbscan", eventsDbscan,
      """WITH RECURSIVE feats AS (
        |  SELECT user_id,
        |    CAST(COUNT(*) * 2500 AS BIGINT) AS x,
        |    CAST(SUM(CASE WHEN event_type = 'purchase'
        |      THEN CAST(floor(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS y,
        |    CAST(((SELECT MAX(epoch_us(ts) // 86400000000) FROM events)
        |      - MAX(epoch_us(ts) // 86400000000)) * 25000 AS BIGINT) AS z
        |  FROM events GROUP BY user_id),
        |cand AS (SELECT a.user_id AS pa, b.user_id AS pb
        |  FROM feats a JOIN feats b ON a.user_id <> b.user_id
        |    AND (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
        |      + (a.z - b.z) * (a.z - b.z) <= 36000000),
        |core AS (SELECT pa AS id FROM cand GROUP BY pa
        |         HAVING COUNT(*) + 1 >= 4),
        |cpairs AS (SELECT pa AS a, pb AS b FROM cand
        |  WHERE pa IN (SELECT id FROM core) AND pb IN (SELECT id FROM core)),
        |reach AS (SELECT a, b FROM cpairs
        |  UNION SELECT r.a, s.b FROM reach r JOIN cpairs s ON r.b = s.a),
        |rep AS (SELECT a AS id, LEAST(a, MIN(b)) AS rep FROM reach GROUP BY a
        |  UNION ALL SELECT id, id FROM core
        |    WHERE id NOT IN (SELECT a FROM reach)),
        |border AS (SELECT c.pa AS id, MIN(r.rep) AS rep FROM cand c
        |  JOIN rep r ON c.pb = r.id
        |  WHERE c.pa NOT IN (SELECT id FROM core) GROUP BY c.pa)
        |SELECT f.user_id, 'core' AS role, r.rep AS cluster
        |  FROM feats f JOIN rep r ON f.user_id = r.id
        |UNION ALL SELECT f.user_id, 'border', b.rep
        |  FROM feats f JOIN border b ON f.user_id = b.id
        |UNION ALL SELECT f.user_id, 'noise', CAST(-1 AS BIGINT)
        |  FROM feats f
        |  WHERE f.user_id NOT IN (SELECT id FROM rep)
        |    AND f.user_id NOT IN (SELECT id FROM border)""".stripMargin),
    QueryDef("events_gap_sweep", eventsGapSweep,
      """WITH g AS (SELECT user_id, event_id, epoch_us(ts) AS tus,
        |             lag(epoch_us(ts)) OVER (PARTITION BY user_id
        |               ORDER BY epoch_us(ts), event_id) AS prev
        |           FROM events),
        |gaps AS (SELECT tus - prev AS gap_us FROM g),
        |thr AS (SELECT * FROM (VALUES (900), (1800), (3600)) t(gap_s))
        |SELECT CAST(gap_s AS BIGINT) AS gap_s,
        |  CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(SUM(CASE WHEN gap_us IS NULL OR gap_us > CAST(gap_s AS BIGINT) * 1000000
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
        |  (1000 * CAST(COUNT(*) AS BIGINT)) //
        |    CAST(SUM(CASE WHEN gap_us IS NULL OR gap_us > CAST(gap_s AS BIGINT) * 1000000
        |      THEN 1 ELSE 0 END) AS BIGINT) AS events_per_session_milli
        |FROM gaps CROSS JOIN thr GROUP BY gap_s""".stripMargin),
    QueryDef("events_survival", eventsSurvival,
      """WITH RECURSIVE g0 AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS tus,
        |         lead(epoch_us(ts)) OVER (PARTITION BY user_id
        |           ORDER BY epoch_us(ts), event_id) AS nxt
        |  FROM events),
        |edge AS (SELECT MAX(tus) AS corpus_max FROM g0),
        |gaps AS (SELECT CAST(COALESCE(nxt, corpus_max) - tus AS BIGINT) // 3600000000 AS life,
        |           CASE WHEN nxt IS NULL THEN 1 ELSE 0 END AS censored
        |         FROM g0, edge),
        |by_t AS (SELECT life AS t, CAST(COUNT(*) AS BIGINT) AS ended_here,
        |           CAST(SUM(1 - censored) AS BIGINT) AS n_churn
        |         FROM gaps GROUP BY 1),
        |series AS (SELECT t,
        |             CAST(SUM(ended_here) OVER (ORDER BY t DESC) AS BIGINT) AS n_risk,
        |             n_churn,
        |             row_number() OVER (ORDER BY t) AS rn
        |           FROM by_t),
        |km(rn, s) AS (
        |  SELECT 0, CAST(1000000 AS BIGINT)
        |  UNION ALL
        |  SELECT series.rn, (km.s * (series.n_risk - series.n_churn)) // series.n_risk
        |  FROM km JOIN series ON series.rn = km.rn + 1)
        |SELECT series.t, series.n_risk, series.n_churn, km.s AS s_micro
        |FROM series JOIN km ON km.rn = series.rn""".stripMargin),
    QueryDef("events_stickiness", eventsStickiness,
      """WITH du AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |b AS (SELECT MIN(day) AS mn, MAX(day) AS mx FROM du),
        |dau AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS dau FROM du GROUP BY 1),
        |cov AS (SELECT DISTINCT user_id,
        |          CAST(unnest(range(0, 7)) AS BIGINT) AS off, day
        |        FROM du),
        |wau AS (SELECT day + CAST(off AS INTEGER) AS day,
        |          CAST(COUNT(DISTINCT user_id) AS BIGINT) AS wau
        |        FROM cov GROUP BY 1)
        |SELECT dau.day, dau.dau, wau.wau,
        |       (1000 * dau.dau) // wau.wau AS stickiness_milli
        |FROM dau JOIN wau USING (day), b
        |WHERE dau.day >= mn + 6 AND dau.day <= mx""".stripMargin),
    QueryDef("events_rfm", eventsRfm,
      """WITH e AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day,
        |             event_type, value FROM events),
        |edge AS (SELECT MAX(day) AS d1 FROM e),
        |rfm AS (SELECT user_id,
        |          CAST(MAX(d1) - MAX(day) AS BIGINT) AS r,
        |          CAST(COUNT(*) AS BIGINT) AS f,
        |          CAST(SUM(CASE WHEN event_type = 'purchase'
        |                   THEN CAST(floor(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS m
        |        FROM e, edge GROUP BY user_id),
        |melt AS (SELECT user_id, 'R' AS metric, r AS v FROM rfm
        |         UNION ALL SELECT user_id, 'F', f FROM rfm
        |         UNION ALL SELECT user_id, 'M', m FROM rfm),
        |n_t AS (SELECT metric, CAST(COUNT(*) AS BIGINT) AS n FROM melt GROUP BY 1),
        |rk_t AS (SELECT melt.*, n,
        |           CAST(row_number() OVER (PARTITION BY melt.metric
        |             ORDER BY v, user_id) AS BIGINT) AS rk
        |         FROM melt JOIN n_t USING (metric)),
        |bounds AS (SELECT metric, list_sort(list(v)) AS bs FROM rk_t
        |           WHERE rk = 1 + ((n - 1) * 1) // 5 OR rk = 1 + ((n - 1) * 2) // 5
        |              OR rk = 1 + ((n - 1) * 3) // 5 OR rk = 1 + ((n - 1) * 4) // 5
        |           GROUP BY metric),
        |banded AS (SELECT user_id, metric,
        |             1 + list_reduce(list_prepend(CAST(0 AS BIGINT),
        |               list_transform(bs, b -> CAST(CASE WHEN v > b THEN 1 ELSE 0 END AS BIGINT))),
        |               (a, b) -> a + b) AS band
        |           FROM melt JOIN bounds USING (metric)),
        |seg AS (SELECT user_id,
        |          MAX(CASE WHEN metric = 'R' THEN band END) AS r_band,
        |          MAX(CASE WHEN metric = 'F' THEN band END) AS f_band,
        |          MAX(CASE WHEN metric = 'M' THEN band END) AS m_band
        |        FROM banded GROUP BY user_id)
        |SELECT r_band, f_band, m_band, CAST(COUNT(*) AS BIGINT) AS n_users,
        |       CAST(SUM(f) AS BIGINT) AS sum_f, CAST(SUM(m) AS BIGINT) AS sum_m_cents
        |FROM seg JOIN rfm USING (user_id)
        |GROUP BY 1, 2, 3""".stripMargin),
    QueryDef("events_forecast_eval", eventsForecastEval,
      """WITH d AS (SELECT event_type AS t, epoch_us(ts) // 86400000000 AS day,
        |             CAST(COUNT(*) AS BIGINT) AS c
        |           FROM events GROUP BY 1, 2),
        |b AS (SELECT MAX(day) AS d1 FROM d),
        |train AS (SELECT d.* FROM d, b WHERE day <= d1 - 7),
        |test AS (SELECT d.* FROM d, b WHERE day > d1 - 7),
        |wk AS (SELECT t, day % 7 AS wd, CAST(SUM(c) AS BIGINT) AS s,
        |         CAST(COUNT(*) AS BIGINT) AS k
        |       FROM train GROUP BY 1, 2),
        |gl AS (SELECT t, CAST(SUM(c) AS BIGINT) AS gs,
        |         CAST(COUNT(*) AS BIGINT) AS gn
        |       FROM train GROUP BY 1),
        |prev AS (SELECT t, day + 7 AS day, c AS c_prev FROM d),
        |err AS (SELECT test.t,
        |          abs(test.c - COALESCE(prev.c_prev, 0)) * 1000 AS e_p,
        |          abs(1000 * test.c * wk.k - 1000 * wk.s) // wk.k AS e_s,
        |          abs(1000 * test.c * gl.gn - 1000 * gl.gs) // gl.gn AS e_g
        |        FROM test
        |        LEFT JOIN prev ON prev.t = test.t AND prev.day = test.day
        |        JOIN wk ON wk.t = test.t AND wk.wd = test.day % 7
        |        JOIN gl ON gl.t = test.t),
        |m AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS n_test,
        |        CAST(SUM(e_p) // COUNT(*) AS BIGINT) AS mae_persist_milli,
        |        CAST(SUM(e_s) // COUNT(*) AS BIGINT) AS mae_seasonal_milli,
        |        CAST(SUM(e_g) // COUNT(*) AS BIGINT) AS mae_global_milli
        |      FROM err GROUP BY 1)
        |SELECT *,
        |  CASE WHEN mae_persist_milli <= mae_seasonal_milli
        |        AND mae_persist_milli <= mae_global_milli THEN 'persistence'
        |       WHEN mae_seasonal_milli <= mae_global_milli THEN 'seasonal'
        |       ELSE 'global_mean' END AS winner
        |FROM m""".stripMargin),
    QueryDef("events_seasonal", eventsSeasonal,
      s"""WITH $seasonalCteSql
         |SELECT t, d, dow, cnt, trend7, det, seasonal_milli, resid_milli
         |FROM resid""".stripMargin),
    QueryDef("events_seasonal_anomaly", eventsSeasonalAnomaly,
      s"""WITH $seasonalCteSql,
         |nt AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS n FROM resid GROUP BY 1),
         |m AS (SELECT t, abs(resid_milli) AS a,
         |        row_number() OVER (PARTITION BY t
         |          ORDER BY abs(resid_milli), d) AS rk
         |      FROM resid),
         |mad AS (SELECT m.t, m.a AS mad_milli
         |        FROM m JOIN nt ON m.t = nt.t AND m.rk = (nt.n + 1) // 2)
         |SELECT r.t, d, cnt, resid_milli, mad_milli,
         |  abs(resid_milli) > GREATEST(3 * mad_milli, 1) AS anomaly
         |FROM resid r JOIN mad ON r.t = mad.t""".stripMargin),
    QueryDef("events_cusum", eventsCusum,
      """WITH daily AS (SELECT event_type AS t,
        |        CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS d,
        |        COUNT(*) AS n
        |      FROM events GROUP BY 1, 2),
        |b AS (SELECT t, MIN(d) AS lo, MAX(d) AS hi FROM daily GROUP BY 1),
        |spine AS (SELECT t, unnest(range(lo, hi + 1)) AS d FROM b),
        |s AS (SELECT spine.t, spine.d, COALESCE(n, 0) AS cnt
        |      FROM spine LEFT JOIN daily ON spine.t = daily.t AND spine.d = daily.d),
        |tot AS (SELECT t, CAST(SUM(cnt) AS BIGINT) AS total,
        |          COUNT(*) AS n_days FROM s GROUP BY 1),
        |dv AS (SELECT s.t, d, cnt, cnt * n_days - total AS dev, total
        |       FROM s JOIN tot ON s.t = tot.t),
        |c AS (SELECT t, d, cnt, total,
        |        CAST(SUM(dev) OVER (PARTITION BY t ORDER BY d) AS BIGINT) AS cum
        |      FROM dv),
        |m AS (SELECT *,
        |        least(CAST(0 AS BIGINT), MIN(cum) OVER (PARTITION BY t ORDER BY d)) AS mn,
        |        greatest(CAST(0 AS BIGINT), MAX(cum) OVER (PARTITION BY t ORDER BY d)) AS mx
        |      FROM c)
        |SELECT t, d, cnt, cum - mn AS cusum_pos, mx - cum AS cusum_neg,
        |  cum - mn > total * 4 AS up_shift, mx - cum > total * 4 AS down_shift
        |FROM m""".stripMargin),
    QueryDef("events_acf", eventsAcf,
      """WITH daily AS (SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS d,
        |                      CAST(COUNT(*) AS BIGINT) AS n
        |               FROM events GROUP BY 1),
        |b AS (SELECT MIN(d) AS lo, MAX(d) AS hi FROM daily),
        |days AS (SELECT CAST(unnest(range(lo, hi + 1)) AS BIGINT) AS d FROM b),
        |spine AS (SELECT days.d, COALESCE(daily.n, 0) AS x
        |          FROM days LEFT JOIN daily ON daily.d = days.d),
        |lags AS (SELECT CAST(unnest(range(1, 8)) AS BIGINT) AS lag),
        |p AS (SELECT l.lag, s1.x AS x, s2.x AS y
        |      FROM lags l
        |      JOIN spine s1 ON TRUE
        |      JOIN spine s2 ON s2.d = s1.d + l.lag),
        |agg AS (SELECT lag, CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |          CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
        |          CAST(SUM(x * y) AS BIGINT) AS sxy,
        |          CAST(SUM(x * x) AS BIGINT) AS sxx,
        |          CAST(SUM(y * y) AS BIGINT) AS syy
        |        FROM p GROUP BY 1),
        |ing AS (SELECT lag, n_pairs,
        |          n_pairs * sxy - sx * sy AS num,
        |          n_pairs * sxx - sx * sx AS denx,
        |          n_pairs * syy - sy * sy AS deny
        |        FROM agg)
        |SELECT lag, n_pairs, num, denx, deny,
        |  CASE WHEN denx = 0 OR deny = 0 THEN NULL
        |       ELSE CAST(sign(num) AS BIGINT) *
        |         CAST(CAST(1000 AS HUGEINT) * CAST(num AS HUGEINT) * CAST(num AS HUGEINT) //
        |           (CAST(denx AS HUGEINT) * CAST(deny AS HUGEINT)) AS BIGINT)
        |  END AS r2_milli_signed
        |FROM ing""".stripMargin),
    QueryDef("events_periodicity", eventsPeriodicity,
      """WITH daily AS (SELECT event_type,
        |                      CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS d,
        |                      CAST(COUNT(*) AS BIGINT) AS n
        |               FROM events GROUP BY 1, 2),
        |b AS (SELECT MIN(d) AS lo, MAX(d) AS hi FROM daily),
        |days AS (SELECT CAST(unnest(range(lo, hi + 1)) AS BIGINT) AS d FROM b),
        |types AS (SELECT DISTINCT event_type FROM daily),
        |grid AS (SELECT t.event_type, days.d, COALESCE(daily.n, 0) AS x
        |         FROM types t JOIN days ON TRUE
        |         LEFT JOIN daily ON daily.event_type = t.event_type
        |           AND daily.d = days.d),
        |lags AS (SELECT CAST(unnest(range(2, 15)) AS BIGINT) AS lag),
        |p AS (SELECT s1.event_type, l.lag, s1.x AS x, s2.x AS y
        |      FROM lags l
        |      JOIN grid s1 ON TRUE
        |      JOIN grid s2 ON s2.event_type = s1.event_type
        |        AND s2.d = s1.d + l.lag),
        |agg AS (SELECT event_type, lag, CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |          CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
        |          CAST(SUM(x * y) AS BIGINT) AS sxy,
        |          CAST(SUM(x * x) AS BIGINT) AS sxx,
        |          CAST(SUM(y * y) AS BIGINT) AS syy
        |        FROM p GROUP BY 1, 2),
        |ing AS (SELECT event_type, lag, n_pairs,
        |          n_pairs * sxy - sx * sy AS num,
        |          n_pairs * sxx - sx * sx AS denx,
        |          n_pairs * syy - sy * sy AS deny
        |        FROM agg),
        |sc AS (SELECT event_type, lag, n_pairs,
        |         CASE WHEN denx = 0 OR deny = 0 THEN NULL
        |              ELSE CAST(sign(num) AS BIGINT) *
        |                CAST(CAST(1000 AS HUGEINT) * CAST(num AS HUGEINT) *
        |                  CAST(num AS HUGEINT) //
        |                  (CAST(denx AS HUGEINT) * CAST(deny AS HUGEINT)) AS BIGINT)
        |         END AS r2_milli_signed
        |       FROM ing)
        |SELECT event_type, lag AS best_lag, n_pairs, r2_milli_signed
        |FROM (SELECT *, row_number() OVER (PARTITION BY event_type
        |        ORDER BY r2_milli_signed DESC NULLS LAST, lag) AS rk
        |      FROM sc)
        |WHERE rk = 1""".stripMargin),
    QueryDef("events_abtest", eventsAbtest,
      """WITH np AS (SELECT user_id,
        |              SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS np
        |            FROM events GROUP BY user_id),
        |u AS (SELECT user_id % 2 AS arm,
        |        CASE WHEN np >= 14 THEN 1 ELSE 0 END AS conv FROM np),
        |cells AS (SELECT
        |    CAST(SUM(CASE WHEN arm = 0 AND conv = 1 THEN 1 ELSE 0 END) AS BIGINT) AS a,
        |    CAST(SUM(CASE WHEN arm = 0 AND conv = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b,
        |    CAST(SUM(CASE WHEN arm = 1 AND conv = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c,
        |    CAST(SUM(CASE WHEN arm = 1 AND conv = 0 THEN 1 ELSE 0 END) AS BIGINT) AS d
        |  FROM u)
        |SELECT a, b, c, d,
        |  (1000 * a) // (a + b) AS conv_a_milli,
        |  (1000 * c) // (c + d) AS conv_b_milli,
        |  CASE WHEN (a + b) * (c + d) * (a + c) * (b + d) = 0 THEN NULL ELSE
        |    CAST(CAST(1000000 AS HUGEINT) * CAST(a + b + c + d AS HUGEINT) *
        |      (CAST(a AS HUGEINT) * d - CAST(b AS HUGEINT) * c) *
        |      (CAST(a AS HUGEINT) * d - CAST(b AS HUGEINT) * c) //
        |      (CAST(a + b AS HUGEINT) * (c + d) * (a + c) * (b + d)) AS BIGINT)
        |  END AS chi2_micro
        |FROM cells""".stripMargin),
    QueryDef("events_power_users", eventsPowerUsers,
      """WITH u AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS c
        |           FROM events GROUP BY 1),
        |t AS (SELECT CAST(SUM(c) AS BIGINT) AS total_events,
        |        CAST(COUNT(*) AS BIGINT) AS n_users FROM u),
        |r AS (SELECT c, row_number() OVER (ORDER BY c DESC, user_id) AS rk FROM u),
        |cum AS (SELECT rk, CAST(SUM(c) OVER (ORDER BY rk) AS BIGINT) AS cc FROM r)
        |SELECT t.total_events, t.n_users,
        |  CAST(MIN(CASE WHEN 5 * cc >= 4 * t.total_events THEN rk END) AS BIGINT)
        |    AS users_for_80pct
        |FROM cum, t GROUP BY 1, 2""".stripMargin),
    QueryDef("events_growth_accounting", eventsGrowthAccounting,
      """WITH um AS (SELECT DISTINCT user_id,
        |        CAST((year(ts) - 1970) * 12 + month(ts) - 1 AS BIGINT) AS m
        |      FROM events),
        |f AS (SELECT user_id, MIN(m) AS m0 FROM um GROUP BY 1),
        |cur AS (SELECT user_id, m, TRUE AS is_active FROM um),
        |prev AS (SELECT user_id, m + 1 AS m, TRUE AS was_active FROM um),
        |j AS (SELECT COALESCE(cur.user_id, prev.user_id) AS user_id,
        |        COALESCE(cur.m, prev.m) AS m, is_active, was_active
        |      FROM cur FULL JOIN prev
        |        ON cur.user_id = prev.user_id AND cur.m = prev.m)
        |SELECT j.m AS month,
        |  CAST(SUM(CASE WHEN is_active AND j.m = f.m0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS new_users,
        |  CAST(SUM(CASE WHEN is_active AND was_active THEN 1 ELSE 0 END) AS BIGINT)
        |    AS retained,
        |  CAST(SUM(CASE WHEN is_active AND was_active IS NULL AND j.m > f.m0
        |        THEN 1 ELSE 0 END) AS BIGINT) AS resurrected,
        |  CAST(SUM(CASE WHEN was_active AND is_active IS NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS churned,
        |  CAST(SUM(CASE WHEN is_active AND j.m = f.m0 THEN 1 ELSE 0 END)
        |    + SUM(CASE WHEN is_active AND was_active THEN 1 ELSE 0 END)
        |    + SUM(CASE WHEN is_active AND was_active IS NULL AND j.m > f.m0
        |          THEN 1 ELSE 0 END) AS BIGINT) AS mau
        |FROM j JOIN f ON j.user_id = f.user_id
        |GROUP BY 1""".stripMargin),
    QueryDef("events_decay_counts", eventsDecayCounts,
      """WITH d AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
        |h AS (SELECT MAX(day) AS ref_day FROM d)
        |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(SUM(1000000 // (CAST(1 AS BIGINT) <<
        |    CAST(LEAST(ref_day - day, 62) AS INT))) AS BIGINT) AS decayed_ppm
        |FROM d CROSS JOIN h GROUP BY 1""".stripMargin),
    QueryDef("events_velocity", eventsVelocity,
      """WITH pm AS (SELECT user_id, epoch_us(ts) // 60000000 AS minute,
        |        CAST(COUNT(*) AS BIGINT) AS c
        |      FROM events GROUP BY 1, 2),
        |b AS (SELECT user_id, MAX(c) AS burst FROM pm GROUP BY 1),
        |h AS (SELECT CAST(length(bin(burst)) - 1 AS BIGINT) AS bucket,
        |        CAST(COUNT(*) AS BIGINT) AS n_users, MAX(burst) AS max_burst
        |      FROM b GROUP BY 1),
        |t AS (SELECT CAST(SUM(n_users) AS BIGINT) AS total_users FROM h)
        |SELECT bucket, n_users, max_burst, total_users,
        |  (1000 * n_users) // total_users AS share_milli
        |FROM h CROSS JOIN t""".stripMargin),
    QueryDef("events_funnel_sweep", eventsFunnelSweep,
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS tus FROM events),
        |v AS (SELECT user_id, MIN(tus) AS t1 FROM e
        |      WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT e.user_id, MIN(e.tus) AS t2
        |      FROM e JOIN v ON v.user_id = e.user_id
        |      WHERE e.event_type = 'click' AND e.tus > v.t1 GROUP BY 1),
        |p AS (SELECT e.user_id, MIN(e.tus) AS t3
        |      FROM e JOIN c ON c.user_id = e.user_id
        |      WHERE e.event_type = 'purchase' AND e.tus > c.t2 GROUP BY 1),
        |st AS (SELECT v.user_id, t1, t2, t3
        |       FROM v LEFT JOIN c ON v.user_id = c.user_id
        |       LEFT JOIN p ON v.user_id = p.user_id),
        |wd AS (SELECT CAST(unnest([3600, 21600, 86400]) AS BIGINT) AS w_s),
        |g AS (SELECT CAST(w_s AS BIGINT) AS w_s,
        |        CAST(COUNT(*) AS BIGINT) AS step1_users,
        |        CAST(SUM(CASE WHEN t2 IS NOT NULL
        |              AND t2 - t1 <= w_s * 1000000 THEN 1 ELSE 0 END) AS BIGINT)
        |          AS step2_users,
        |        CAST(SUM(CASE WHEN t2 IS NOT NULL AND t3 IS NOT NULL
        |              AND t2 - t1 <= w_s * 1000000
        |              AND t3 - t2 <= w_s * 1000000 THEN 1 ELSE 0 END) AS BIGINT)
        |          AS step3_users
        |      FROM st CROSS JOIN wd GROUP BY 1)
        |SELECT w_s, step1_users, step2_users, step3_users,
        |  (1000000 * step3_users) // step1_users AS conv_ppm
        |FROM g""".stripMargin),
    QueryDef("events_funnel3", eventsFunnel3,
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS tus FROM events),
        |v AS (SELECT user_id, MIN(tus) AS t1 FROM e
        |      WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT e.user_id, MIN(e.tus) AS t2
        |      FROM e JOIN v ON v.user_id = e.user_id
        |      WHERE e.event_type = 'click' AND e.tus > v.t1
        |        AND e.tus <= v.t1 + 86400000000 GROUP BY 1),
        |p AS (SELECT e.user_id, MIN(e.tus) AS t3
        |      FROM e JOIN c ON c.user_id = e.user_id
        |      WHERE e.event_type = 'purchase' AND e.tus > c.t2
        |        AND e.tus <= c.t2 + 86400000000 GROUP BY 1)
        |SELECT CAST((SELECT COUNT(*) FROM v) AS BIGINT) AS step1_users,
        |       CAST((SELECT COUNT(*) FROM c) AS BIGINT) AS step2_users,
        |       CAST((SELECT COUNT(*) FROM p) AS BIGINT) AS step3_users""".stripMargin),
    QueryDef("events_asof_directions", eventsAsofDirections,
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS tus
        |           FROM events),
        |p AS (SELECT user_id, event_id AS p_event, tus AS p_tus FROM e
        |      WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, tus AS c_tus FROM e WHERE event_type = 'click'),
        |m AS (SELECT p.user_id, p.p_event, p.p_tus,
        |        (SELECT MAX(c.c_tus) FROM c
        |         WHERE c.user_id = p.user_id AND c.c_tus <= p.p_tus) AS back_tus,
        |        (SELECT MIN(c.c_tus) FROM c
        |         WHERE c.user_id = p.user_id AND c.c_tus >= p.p_tus) AS next_click_tus
        |      FROM p)
        |SELECT user_id, p_event, p_tus, next_click_tus,
        |  CASE WHEN back_tus IS NULL THEN next_click_tus
        |       WHEN next_click_tus IS NULL THEN back_tus
        |       WHEN next_click_tus - p_tus < p_tus - back_tus THEN next_click_tus
        |       ELSE back_tus END AS nearest_click_tus,
        |  CASE WHEN back_tus IS NULL THEN next_click_tus
        |       WHEN next_click_tus IS NULL THEN back_tus
        |       WHEN next_click_tus - p_tus < p_tus - back_tus THEN next_click_tus
        |       ELSE back_tus END - p_tus AS nearest_gap_us
        |FROM m""".stripMargin),
    QueryDef("events_asof_ties", eventsAsofTies,
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS tus
        |           FROM events),
        |p AS (SELECT user_id, event_id AS p_event, tus AS p_tus FROM e
        |      WHERE event_type = 'purchase'),
        |r AS (SELECT user_id, tus AS c_tus, event_id * 2 AS pay FROM e
        |      WHERE event_type = 'click'
        |      UNION ALL
        |      SELECT user_id, tus, event_id * 2 + 1 FROM e
        |      WHERE event_type = 'click')
        |SELECT p.user_id, p.p_event,
        |  (SELECT MAX(pay) FROM r
        |   WHERE r.user_id = p.user_id AND r.c_tus =
        |     (SELECT MAX(c_tus) FROM r
        |      WHERE r.user_id = p.user_id AND c_tus <= p.p_tus)) AS back_pay,
        |  (SELECT MIN(pay) FROM r
        |   WHERE r.user_id = p.user_id AND r.c_tus =
        |     (SELECT MIN(c_tus) FROM r
        |      WHERE r.user_id = p.user_id AND c_tus >= p.p_tus)) AS fwd_pay
        |FROM p""".stripMargin),
    QueryDef("events_asof_native", eventsAsofNative,
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS tus
        |           FROM events),
        |p AS (SELECT user_id, event_id AS p_event, tus AS p_tus FROM e
        |      WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, tus AS c_tus FROM e WHERE event_type = 'click'),
        |m AS (SELECT p.user_id, p.p_event, p.p_tus,
        |        (SELECT MAX(c.c_tus) FROM c
        |         WHERE c.user_id = p.user_id AND c.c_tus <= p.p_tus) AS click_tus
        |      FROM p)
        |SELECT user_id, p_event, p_tus, click_tus,
        |       p_tus - click_tus AS gap_us
        |FROM m""".stripMargin),
    QueryDef("events_holt_winters", eventsHoltWinters,
      """WITH RECURSIVE d AS (
        |  SELECT event_type AS t, epoch_us(ts) // 86400000000 AS day,
        |         CAST(COUNT(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |ser AS (SELECT t, CAST(row_number() OVER (PARTITION BY t ORDER BY day)
        |          AS BIGINT) AS i, c FROM d),
        |n AS (SELECT t, MAX(i) AS n_days FROM ser GROUP BY t),
        |m AS (SELECT t,
        |        CAST(SUM(CASE WHEN i <= 7 THEN c END) AS DOUBLE)
        |          / CAST(7 AS DOUBLE) AS m1,
        |        CAST(SUM(CASE WHEN i BETWEEN 8 AND 14 THEN c END) AS DOUBLE)
        |          / CAST(7 AS DOUBLE) AS m2
        |      FROM ser GROUP BY t),
        |w1 AS (SELECT t, list(CAST(c AS DOUBLE) ORDER BY i) AS cs7
        |       FROM ser WHERE i <= 7 GROUP BY t),
        |init AS (SELECT m.t, m.m1, m.m2,
        |           list_transform(w1.cs7, x -> x - m.m1) AS s0
        |         FROM m JOIN w1 ON w1.t = m.t JOIN n ON n.t = m.t
        |         WHERE n.n_days >= 21),
        |rec AS (
        |  SELECT t, CAST(14 AS BIGINT) AS i, m2 AS l,
        |         (m2 - m1) / CAST(7 AS DOUBLE) AS b,
        |         s0 AS s, CAST(0 AS BIGINT) AS k, CAST(0 AS DOUBLE) AS err
        |  FROM init
        |  UNION ALL
        |  SELECT r.t, r.i + 1,
        |         0.5 * (sc.c - r.s[r.k % 7 + 1]) + 0.5 * (r.l + r.b),
        |         0.5 * ((0.5 * (sc.c - r.s[r.k % 7 + 1]) + 0.5 * (r.l + r.b))
        |             - r.l) + 0.5 * r.b,
        |         r.s[1:CAST(r.k % 7 AS INTEGER)] ||
        |           [0.5 * (sc.c - (0.5 * (sc.c - r.s[r.k % 7 + 1])
        |              + 0.5 * (r.l + r.b))) + 0.5 * r.s[r.k % 7 + 1]] ||
        |           r.s[CAST(r.k % 7 + 2 AS INTEGER):7],
        |         r.k + 1,
        |         r.err + abs(sc.c - (r.l + r.b + r.s[r.k % 7 + 1]))
        |  FROM rec r JOIN ser sc ON sc.t = r.t AND sc.i = r.i + 1)
        |SELECT r.t, n.n_days, r.l AS level, r.b AS trend,
        |       r.s[CAST(r.k % 7 + 1 AS INTEGER)] AS season_next,
        |       r.l + r.b + r.s[CAST(r.k % 7 + 1 AS INTEGER)] AS forecast_next,
        |       r.err / CAST(n.n_days - 14 AS DOUBLE) AS mae
        |FROM rec r JOIN n ON r.t = n.t AND r.i = n.n_days""".stripMargin),
    QueryDef("events_holt_forecast", eventsHoltForecast,
      """WITH RECURSIVE d AS (
        |  SELECT event_type AS t, epoch_us(ts) // 86400000000 AS day,
        |         CAST(COUNT(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |ser AS (SELECT t, CAST(row_number() OVER (PARTITION BY t ORDER BY day)
        |          AS BIGINT) AS i, c FROM d),
        |n AS (SELECT t, MAX(i) AS n_days FROM ser GROUP BY t),
        |rec AS (
        |  SELECT s2.t, CAST(2 AS BIGINT) AS i, CAST(s2.c AS DOUBLE) AS level,
        |         CAST(s2.c - s1.c AS DOUBLE) AS trend, CAST(0 AS DOUBLE) AS err
        |  FROM ser s1 JOIN ser s2 ON s1.t = s2.t AND s1.i = 1 AND s2.i = 2
        |  UNION ALL
        |  SELECT s.t, s.i,
        |         CAST(0.5 AS DOUBLE) * s.c + CAST(0.5 AS DOUBLE) * (r.level + r.trend),
        |         CAST(0.5 AS DOUBLE) * ((CAST(0.5 AS DOUBLE) * s.c
        |             + CAST(0.5 AS DOUBLE) * (r.level + r.trend)) - r.level)
        |           + CAST(0.5 AS DOUBLE) * r.trend,
        |         r.err + abs(s.c - (r.level + r.trend))
        |  FROM rec r JOIN ser s ON s.t = r.t AND s.i = r.i + 1)
        |SELECT r.t, n.n_days, r.level, r.trend,
        |       r.level + r.trend AS forecast_next,
        |       r.err / CAST(n.n_days - 2 AS DOUBLE) AS mae
        |FROM rec r JOIN n ON r.t = n.t AND r.i = n.n_days""".stripMargin),
    QueryDef("events_ses_forecast", eventsSesForecast,
      """WITH RECURSIVE d AS (
        |  SELECT event_type AS t, epoch_us(ts) // 86400000000 AS day,
        |         CAST(COUNT(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |ser AS (SELECT t, CAST(row_number() OVER (PARTITION BY t ORDER BY day)
        |          AS BIGINT) AS i, c FROM d),
        |n AS (SELECT t, MAX(i) AS n_days FROM ser GROUP BY t),
        |rec AS (
        |  SELECT t, i, CAST(c AS DOUBLE) AS level, CAST(0 AS DOUBLE) AS err
        |  FROM ser WHERE i = 1
        |  UNION ALL
        |  SELECT s.t, s.i,
        |         CAST(0.5 AS DOUBLE) * s.c + CAST(0.5 AS DOUBLE) * r.level,
        |         r.err + abs(s.c - r.level)
        |  FROM rec r JOIN ser s ON s.t = r.t AND s.i = r.i + 1)
        |SELECT r.t, n.n_days, r.level,
        |       r.err / CAST(n.n_days - 1 AS DOUBLE) AS mae
        |FROM rec r JOIN n ON r.t = n.t AND r.i = n.n_days""".stripMargin),
    QueryDef("events_seasonal_naive", eventsSeasonalNaive,
      """WITH d AS (SELECT event_type AS t, epoch_us(ts) // 86400000000 AS day,
        |             CAST(COUNT(*) AS BIGINT) AS c
        |           FROM events GROUP BY 1, 2),
        |b AS (SELECT MAX(day) AS d1 FROM d),
        |train AS (SELECT t, day % 7 AS wd, CAST(SUM(c) AS BIGINT) AS s,
        |            CAST(COUNT(*) AS BIGINT) AS k
        |          FROM d, b WHERE day <= d1 - 7 GROUP BY 1, 2),
        |test AS (SELECT t, day % 7 AS wd, c FROM d, b WHERE day > d1 - 7)
        |SELECT te.t, CAST(COUNT(*) AS BIGINT) AS n_days,
        |  CAST(SUM(abs(te.c * tr.k - tr.s)) AS BIGINT) AS mae_num,
        |  CAST(SUM(tr.k) AS BIGINT) AS mae_den
        |FROM test te JOIN train tr ON tr.t = te.t AND tr.wd = te.wd
        |GROUP BY 1""".stripMargin),
    QueryDef("events_time_travel", eventsTimeTravel,
      """WITH b AS (SELECT epoch_us(MIN(ts)) + 15 * 86400000000 AS cut FROM events),
        |f AS (SELECT user_id, event_type, epoch_us(ts) AS tus, event_id,
        |        CAST(floor(value * 10.0) AS BIGINT) AS band
        |      FROM events, b WHERE epoch_us(ts) <= b.cut),
        |r AS (SELECT user_id, event_type, tus, band,
        |        row_number() OVER (PARTITION BY user_id, event_type
        |          ORDER BY tus DESC, event_id DESC) AS rk,
        |        COUNT(*) OVER (PARTITION BY user_id, event_type) AS n_before,
        |        MAX(tus) OVER (PARTITION BY user_id, event_type) AS last_tus
        |      FROM f)
        |SELECT user_id, event_type, band AS band_at_cut,
        |  CAST(last_tus AS BIGINT) AS last_tus,
        |  CAST(n_before AS BIGINT) AS n_before
        |FROM r WHERE rk = 1""".stripMargin),
    QueryDef("events_multi_touch", eventsMultiTouch,
      """WITH p AS (SELECT event_id AS p_id, user_id, epoch_us(ts) AS pts
        |           FROM events WHERE event_type = 'purchase'),
        |v AS (SELECT event_id AS v_id, user_id, epoch_us(ts) AS vts
        |      FROM events WHERE event_type = 'view'),
        |j AS (SELECT p.p_id, p.user_id, v.v_id,
        |        COUNT(*) OVER (PARTITION BY p.p_id) AS n_touch,
        |        ROW_NUMBER() OVER (PARTITION BY p.p_id
        |          ORDER BY v.vts DESC, v.v_id) AS rk
        |      FROM p JOIN v ON v.user_id = p.user_id
        |      WHERE v.vts <= p.pts AND v.vts > p.pts - 604800000000)
        |SELECT p_id, user_id, v_id, CAST(n_touch AS BIGINT) AS n_touch,
        |  CAST(1000000 // n_touch +
        |    CASE WHEN rk = 1 THEN 1000000 % n_touch ELSE 0 END AS BIGINT) AS credit_ppm
        |FROM j""".stripMargin),
    QueryDef("events_dtw", eventsDtw, dtwOracle),
    QueryDef("events_series_sim", eventsSeriesSim,
      """WITH daily AS (SELECT event_type AS t, epoch_us(ts) // 86400000000 AS day,
        |                 CAST(COUNT(*) AS BIGINT) AS c
        |               FROM events GROUP BY 1, 2),
        |b AS (SELECT MIN(day) AS d0, MAX(day) AS d1,
        |        MAX(day) - MIN(day) + 1 AS tt,
        |        (MAX(day) - MIN(day) + 8) // 8 AS lmax
        |      FROM daily),
        |tys AS (SELECT DISTINCT t FROM daily),
        |pairs AS (SELECT a.t AS ta, b2.t AS tb FROM tys a JOIN tys b2 ON a.t < b2.t),
        |grid AS (SELECT p.ta, p.tb, d.day,
        |           COALESCE(da.c, 0) AS ca, COALESCE(db.c, 0) AS cb
        |         FROM pairs p
        |         CROSS JOIN (SELECT unnest(range(d0, d1 + 1)) AS day FROM b) d
        |         LEFT JOIN daily da ON da.t = p.ta AND da.day = d.day
        |         LEFT JOIN daily db ON db.t = p.tb AND db.day = d.day),
        |exact AS (SELECT ta, tb, CAST(SUM((ca - cb) * (ca - cb)) AS BIGINT) AS dist_exact
        |          FROM grid GROUP BY 1, 2),
        |pgrid AS (SELECT g.ta, g.tb, (g.day - b.d0) * 8 // b.tt AS seg,
        |            CAST(SUM(g.ca) AS BIGINT) AS sa, CAST(SUM(g.cb) AS BIGINT) AS sb
        |          FROM grid g, b GROUP BY 1, 2, 3),
        |paa AS (SELECT ta, tb, CAST(SUM((sa - sb) * (sa - sb)) AS BIGINT) AS paa_dist
        |        FROM pgrid GROUP BY 1, 2)
        |SELECT e.ta, e.tb, p.paa_dist, e.dist_exact,
        |       p.paa_dist <= b.lmax * e.dist_exact AS bound_ok
        |FROM exact e JOIN paa p ON p.ta = e.ta AND p.tb = e.tb CROSS JOIN b""".stripMargin),
    QueryDef("events_funnel_latency", eventsFunnelLatency,
      """WITH f AS (SELECT user_id,
        |    min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS fv,
        |    min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS fp
        |  FROM events WHERE event_type IN ('view', 'purchase') GROUP BY 1),
        |c AS (SELECT user_id, CAST((fp - fv) // 1000000 AS BIGINT) AS lat_s FROM f
        |      WHERE fv IS NOT NULL AND fp IS NOT NULL AND fp > fv),
        |n_t AS (SELECT COUNT(*) AS n FROM c),
        |r AS (SELECT user_id, lat_s,
        |        row_number() OVER (ORDER BY lat_s, user_id) AS rk FROM c)
        |SELECT n, rk,
        |  CASE WHEN rk = (n + 3) // 4 THEN 'p25'
        |       WHEN rk = (n + 1) // 2 THEN 'p50'
        |       ELSE 'p75' END AS q, lat_s
        |FROM r, n_t
        |WHERE rk = (n + 3) // 4 OR rk = (n + 1) // 2 OR rk = (3 * n + 3) // 4""".stripMargin),
    QueryDef("events_rolling_median", eventsRollingMedian,
      """WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n
        |           FROM events GROUP BY 1, 2),
        |f AS (SELECT event_type, day, n,
        |        list(n) OVER (PARTITION BY event_type ORDER BY day
        |          ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS frame
        |      FROM d)
        |SELECT event_type, day, n, list_sort(frame)[4] AS med7
        |FROM f WHERE len(frame) = 7""".stripMargin),
    QueryDef("events_gapfill", eventsGapfill,
      """WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n
        |           FROM events WHERE value > 200.0 GROUP BY 1, 2),
        |b AS (SELECT min(CAST(ts AS DATE)) AS mn, max(CAST(ts AS DATE)) AS mx FROM events),
        |cal AS (SELECT CAST(unnest(generate_series(mn, mx, INTERVAL 1 DAY)) AS DATE) AS day FROM b),
        |t AS (SELECT DISTINCT event_type FROM events)
        |SELECT t.event_type, cal.day, coalesce(d.n, 0) AS n
        |FROM t CROSS JOIN cal
        |LEFT JOIN d ON d.event_type = t.event_type AND d.day = cal.day""".stripMargin),
    QueryDef("events_scd", eventsScd,
      """WITH s AS (SELECT event_type,
        |    CAST(floor(value / 50) AS BIGINT) AS state,
        |    lag(CAST(floor(value / 50) AS BIGINT)) OVER (
        |      PARTITION BY user_id, event_type ORDER BY ts, event_id) AS prev
        |  FROM events),
        |g AS (SELECT event_type, count(*) AS n_events,
        |    CAST(sum(CASE WHEN prev IS NULL OR prev <> state
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_intervals
        |  FROM s GROUP BY 1)
        |SELECT event_type, n_events, n_intervals,
        |  CAST(100 * (n_events - n_intervals) // n_events AS BIGINT) AS compression_pct
        |FROM g""".stripMargin),
    QueryDef("events_changepoint", eventsChangepoint,
      """WITH daily AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |    count(*) AS c FROM events GROUP BY 1, 2),
        |cum AS (SELECT event_type, day,
        |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY day)
        |      AS BIGINT) AS k,
        |    CAST(sum(c) OVER (PARTITION BY event_type ORDER BY day
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |  FROM daily),
        |tot AS (SELECT event_type, CAST(sum(c) AS BIGINT) AS s_total,
        |    CAST(count(*) AS BIGINT) AS t_days FROM daily GROUP BY 1),
        |st AS (SELECT c.event_type AS event_type, day,
        |    abs(cum * (t_days - k) - (s_total - cum) * k) AS stat,
        |    s_total, t_days
        |  FROM cum c JOIN tot t ON c.event_type = t.event_type
        |  WHERE k < t_days),
        |r AS (SELECT *, row_number() OVER (PARTITION BY event_type
        |    ORDER BY stat DESC, day ASC) AS rn FROM st)
        |SELECT event_type, day AS cp_day, stat, s_total, t_days
        |FROM r WHERE rn = 1""".stripMargin),
    QueryDef("events_rolling_wau", eventsRollingWau,
      """WITH du AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |b AS (SELECT min(day) AS mn, max(day) AS mx FROM du),
        |cov AS (SELECT DISTINCT user_id,
        |          CAST(unnest(generate_series(day, day + INTERVAL 6 DAY, INTERVAL 1 DAY)) AS DATE) AS wday
        |        FROM du),
        |w AS (SELECT wday, COUNT(*) AS wau FROM cov GROUP BY 1)
        |SELECT wday AS day, wau FROM w, b
        |WHERE wday >= mn + INTERVAL 6 DAY AND wday <= mx""".stripMargin),
    QueryDef("events_cdc_idempotent", eventsCdcIdempotent,
      """WITH e AS (SELECT user_id, epoch_us(ts) AS tus, event_id,
        |    CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
        |    CAST(floor(value * 1000000) AS BIGINT) AS val
        |  FROM events),
        |base AS (SELECT user_id, val FROM (
        |    SELECT user_id, val, row_number() OVER (PARTITION BY user_id
        |        ORDER BY tus DESC, event_id DESC) AS rn
        |    FROM e WHERE tus < 1705276800000000) WHERE rn = 1),
        |chg AS (SELECT user_id, op, val FROM (
        |    SELECT user_id, op, val,
        |      row_number() OVER (PARTITION BY user_id
        |        ORDER BY tus DESC, event_id DESC) AS rn
        |    FROM e WHERE tus >= 1705276800000000) WHERE rn = 1),
        |s1 AS (SELECT coalesce(b.user_id, c.user_id) AS user_id,
        |         CASE WHEN c.user_id IS NULL THEN b.val ELSE c.val END AS val
        |       FROM base b FULL JOIN chg c ON b.user_id = c.user_id
        |       WHERE c.user_id IS NULL OR c.op <> 'D'),
        |s2 AS (SELECT coalesce(b.user_id, c.user_id) AS user_id,
        |         CASE WHEN c.user_id IS NULL THEN b.val ELSE c.val END AS val
        |       FROM s1 b FULL JOIN chg c ON b.user_id = c.user_id
        |       WHERE c.user_id IS NULL OR c.op <> 'D')
        |SELECT coalesce(a.user_id, b.user_id) AS user_id,
        |  a.val AS val_once, b.val AS val_twice
        |FROM s1 a FULL JOIN s2 b ON a.user_id = b.user_id""".stripMargin),
    QueryDef("events_cdc_merge", eventsCdcMerge,
      """WITH e AS (SELECT user_id, epoch_us(ts) AS tus, event_id,
        |    CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
        |    CAST(floor(value * 1000000) AS BIGINT) AS val
        |  FROM events),
        |base AS (SELECT user_id, val FROM (
        |    SELECT user_id, val, row_number() OVER (PARTITION BY user_id
        |        ORDER BY tus DESC, event_id DESC) AS rn
        |    FROM e WHERE tus < 1705276800000000) WHERE rn = 1),
        |chg AS (SELECT user_id, op, val, n_changes FROM (
        |    SELECT user_id, op, val,
        |      row_number() OVER (PARTITION BY user_id
        |        ORDER BY tus DESC, event_id DESC) AS rn,
        |      count(*) OVER (PARTITION BY user_id) AS n_changes
        |    FROM e WHERE tus >= 1705276800000000) WHERE rn = 1)
        |SELECT coalesce(b.user_id, c.user_id) AS user_id,
        |  CASE WHEN c.user_id IS NULL THEN b.val ELSE c.val END AS val,
        |  CASE WHEN c.user_id IS NULL THEN 'kept'
        |       WHEN b.user_id IS NULL THEN 'inserted'
        |       ELSE 'updated' END AS status,
        |  CAST(CASE WHEN c.user_id IS NULL THEN 0 ELSE n_changes END
        |    AS BIGINT) AS n_changes
        |FROM base b FULL JOIN chg c ON b.user_id = c.user_id
        |WHERE c.user_id IS NULL OR c.op <> 'D'""".stripMargin),
    QueryDef("events_kmv_overlap", eventsKmvOverlap,
      s"""WITH p AS (SELECT DISTINCT event_type,
        |    ${foldSql("'kmv|' || CAST(user_id AS VARCHAR) || '|' || " +
               "CAST(epoch_us(ts) // 86400000000 AS VARCHAR) || '|graft'")} AS h
        |  FROM events WHERE event_type IN ('click', 'purchase')),
        |r AS (SELECT event_type, h, row_number() OVER (PARTITION BY event_type
        |        ORDER BY h) AS rk FROM p),
        |sk AS (SELECT event_type, h, rk FROM r WHERE rk <= 64),
        |t AS (SELECT event_type, CAST(63000000441 // h AS BIGINT) AS est_d
        |      FROM sk WHERE rk = 64),
        |ur AS (SELECT h, row_number() OVER (ORDER BY h) AS rk
        |       FROM (SELECT DISTINCT h FROM sk)),
        |u AS (SELECT CAST(63000000441 // h AS BIGINT) AS est_union FROM ur WHERE rk = 64),
        |x AS (SELECT CAST(sum(CASE WHEN nt = 2 THEN 1 ELSE 0 END) AS BIGINT) AS exact_inter
        |      FROM (SELECT h, count(*) AS nt FROM p GROUP BY 1)),
        |a AS (SELECT est_d AS est_a FROM t WHERE event_type = 'click'),
        |b AS (SELECT est_d AS est_b FROM t WHERE event_type = 'purchase')
        |SELECT 'click' AS type_a, 'purchase' AS type_b, est_a, est_b, est_union,
        |  est_a + est_b - est_union AS est_inter, exact_inter
        |FROM a, b, u, x""".stripMargin),
    QueryDef("events_markov", eventsMarkov,
      """WITH g AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS tus,
        |                  lag(epoch_us(ts)) OVER (PARTITION BY user_id
        |                    ORDER BY epoch_us(ts), event_id) AS prev
        |           FROM events),
        |s AS (SELECT user_id, event_id, event_type, tus,
        |             CASE WHEN prev IS NULL OR tus - prev > 1800000000
        |                  THEN 1 ELSE 0 END AS new_s FROM g),
        |c AS (SELECT user_id, event_id, event_type, tus,
        |             CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY tus, event_id
        |               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_no FROM s),
        |n AS (SELECT event_type AS src,
        |             lead(event_type) OVER w2 AS dst,
        |             session_no,
        |             lead(session_no) OVER w2 AS next_s
        |      FROM c WINDOW w2 AS (PARTITION BY user_id ORDER BY tus, event_id)),
        |t AS (SELECT src, dst, COUNT(*) AS cnt FROM n
        |      WHERE dst IS NOT NULL AND next_s = session_no GROUP BY src, dst),
        |w AS (SELECT src, dst, cnt,
        |        CAST(SUM(cnt) OVER (PARTITION BY src) AS BIGINT) AS total FROM t)
        |SELECT src, dst, cnt, total,
        |       CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE) AS p
        |FROM w""".stripMargin),
    QueryDef("events_cooccur", eventsCooccur,
      """WITH e AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS us FROM events)
        |SELECT a.event_type AS type_a, b.event_type AS type_b, COUNT(*) AS n_pairs
        |FROM e a JOIN e b ON a.user_id = b.user_id
        |  AND b.us - a.us BETWEEN 0 AND 60000000
        |  AND (a.us < b.us OR (a.us = b.us AND a.event_id < b.event_id))
        |GROUP BY 1, 2""".stripMargin),
    QueryDef("events_lift", eventsLift,
      """WITH b AS (SELECT DISTINCT user_id,
        |        CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS d,
        |        event_type
        |      FROM events),
        |nt AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_t FROM b GROUP BY 1),
        |nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_baskets
        |       FROM (SELECT DISTINCT user_id, d FROM b)),
        |p AS (SELECT a.event_type AS type_a, c.event_type AS type_b,
        |        CAST(COUNT(*) AS BIGINT) AS n_ab
        |      FROM b a JOIN b c ON a.user_id = c.user_id AND a.d = c.d
        |      WHERE a.event_type < c.event_type
        |      GROUP BY 1, 2)
        |SELECT type_a, type_b, n_ab,
        |  (1000000 * n_ab) // n_baskets AS support_micro,
        |  (1000000 * n_ab) // na.n_t AS conf_micro,
        |  CAST((CAST(1000000 AS HUGEINT) * n_ab * n_baskets)
        |    // (na.n_t * nbt.n_t) AS BIGINT) AS lift_micro
        |FROM p
        |JOIN nt na ON p.type_a = na.event_type
        |JOIN nt nbt ON p.type_b = nbt.event_type
        |CROSS JOIN nb""".stripMargin),
    QueryDef("events_pareto", eventsPareto,
      """WITH c AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS x
        |           FROM events GROUP BY 1),
        |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS nu, CAST(SUM(x) AS BIGINT) AS te
        |      FROM c),
        |r AS (SELECT x, row_number() OVER (ORDER BY x, user_id) AS rk FROM c)
        |SELECT nu AS n_users, te AS total_events,
        |  CAST((1000 * SUM(CAST(2 * rk - nu - 1 AS HUGEINT) * x))
        |    // (CAST(nu AS HUGEINT) * te) AS BIGINT) AS gini_milli,
        |  CAST((1000 * SUM(CASE WHEN rk > nu - nu // 10 THEN x ELSE 0 END))
        |    // te AS BIGINT) AS top10_share_milli
        |FROM r CROSS JOIN t
        |GROUP BY nu, te""".stripMargin),
    QueryDef("events_gap_hist", eventsGapHist,
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS us FROM events),
        |g AS (SELECT us - lag(us) OVER (PARTITION BY user_id
        |        ORDER BY us, event_id) AS dus FROM e),
        |s AS (SELECT dus // 1000000 AS gap_s FROM g WHERE dus IS NOT NULL)
        |SELECT CAST(length(bin(gap_s)) - 1 AS BIGINT) AS bucket,
        |       COUNT(*) AS n_gaps, MIN(gap_s) AS min_gap, MAX(gap_s) AS max_gap
        |FROM s GROUP BY 1""".stripMargin),
    // sketch respelled: same log-bucket arithmetic, naive global
    // row_number for the exact side (what globalRank replaces)
    QueryDef("events_quantile_sketch", eventsQuantileSketch,
      """WITH g AS (SELECT epoch_us(ts) AS tus,
        |    lag(epoch_us(ts)) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id) AS prev
        |  FROM events),
        |gaps AS (SELECT (tus - prev) // 1000000 AS gap_s FROM g WHERE prev IS NOT NULL),
        |n1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM gaps),
        |ranks AS (SELECT CAST(q AS BIGINT) AS q, n,
        |            (CAST(q AS BIGINT) * n + 99) // 100 AS rk_t
        |          FROM (VALUES (50), (90), (99)) t(q), n1),
        |ex AS (SELECT q, n, rk_t, gap_s AS exact_gap
        |       FROM (SELECT gap_s, row_number() OVER (ORDER BY gap_s) AS rk FROM gaps) s
        |       JOIN ranks ON rk = rk_t),
        |hist AS (SELECT CASE WHEN v < 8 THEN v
        |             ELSE (length(bin(v)) - 1) * 8 + ((v >> (length(bin(v)) - 1 - 3)) & 7)
        |           END AS bucket, COUNT(*) AS cnt
        |         FROM (SELECT gap_s + 1 AS v FROM gaps) GROUP BY 1),
        |cum AS (SELECT bucket, SUM(cnt) OVER (ORDER BY bucket) AS cum FROM hist),
        |pick AS (SELECT q, MIN(bucket) AS bucket
        |         FROM cum JOIN ranks ON cum >= rk_t GROUP BY q),
        |pv AS (SELECT q, bucket,
        |         CASE WHEN bucket < 8 THEN bucket
        |           ELSE (8 + bucket % 8) << CAST(bucket // 8 - 3 AS INTEGER) END AS lo_v,
        |         CASE WHEN bucket < 8 THEN CAST(1 AS BIGINT)
        |           ELSE CAST(1 AS BIGINT) << CAST(bucket // 8 - 3 AS INTEGER) END AS width
        |       FROM pick)
        |SELECT ex.q, n, rk_t AS rank_t, pv.bucket,
        |       lo_v - 1 AS lo_gap, lo_v + width - 1 AS hi_gap_excl,
        |       lo_v + width // 2 - 1 AS est_gap, exact_gap,
        |       lo_v <= exact_gap + 1 AND exact_gap + 1 < lo_v + width AS bound_ok
        |FROM ex JOIN pv USING (q)""".stripMargin),
    QueryDef("events_quantiles", eventsQuantiles,
      """WITH n_t AS (SELECT event_type, COUNT(*) AS n FROM events GROUP BY 1),
        |r AS (SELECT event_type, value,
        |        CAST(row_number() OVER (PARTITION BY event_type ORDER BY value) AS BIGINT) AS rk
        |      FROM events)
        |SELECT r.event_type, n, rk,
        |       CASE WHEN rk = (n + 3) // 4 THEN 'p25'
        |            WHEN rk = (n + 1) // 2 THEN 'p50'
        |            ELSE 'p75' END AS q,
        |       value
        |FROM r JOIN n_t USING (event_type)
        |WHERE rk = (n + 3) // 4 OR rk = (n + 1) // 2 OR rk = (3*n + 3) // 4""".stripMargin),
    QueryDef("events_cohorts", eventsCohorts,
      """WITH du AS (SELECT DISTINCT user_id,
        |              CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) // 7 AS week
        |            FROM events),
        |f AS (SELECT user_id, MIN(week) AS cohort FROM du GROUP BY user_id)
        |SELECT cohort, week - cohort AS week_offset,
        |       COUNT(DISTINCT du.user_id) AS n_active
        |FROM du JOIN f USING (user_id)
        |GROUP BY cohort, week - cohort""".stripMargin),
    QueryDef("events_spikes", eventsSpikes,
      """WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n
        |           FROM events GROUP BY 1, 2),
        |w AS (SELECT event_type, day, n,
        |        CAST(SUM(n) OVER tw AS BIGINT) AS trail,
        |        COUNT(*) OVER tw AS n_prev
        |      FROM d WINDOW tw AS (PARTITION BY event_type ORDER BY day
        |        ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
        |SELECT event_type, day, n, trail, n * 7 > trail * 2 AS spike
        |FROM w WHERE n_prev = 7""".stripMargin),
    QueryDef("events_kmv_distinct", eventsKmvDistinct,
      s"""WITH h_t AS (SELECT DISTINCT event_type,
        |    ${foldSql("'kmv|' || CAST(user_id AS VARCHAR) || '|graft'")} AS h
        |  FROM events),
        |r AS (SELECT event_type, h, row_number() OVER (PARTITION BY event_type
        |        ORDER BY h) AS rk FROM h_t),
        |k_t AS (SELECT event_type, h AS h_k FROM r WHERE rk = 16),
        |e_t AS (SELECT event_type, COUNT(*) AS n_hashes FROM h_t GROUP BY 1)
        |SELECT event_type, n_hashes, h_k,
        |  CAST(15000000105 // h_k AS BIGINT) AS est_distinct
        |FROM e_t LEFT JOIN k_t USING (event_type)""".stripMargin),
    QueryDef("events_pattern_match", eventsPatternMatch,
      """WITH s AS (SELECT user_id,
        |    string_agg(substr(event_type, 1, 1), ''
        |      ORDER BY epoch_us(ts), event_id) AS seq
        |  FROM events GROUP BY 1)
        |SELECT user_id, CAST(length(seq) AS BIGINT) AS n_events,
        |  CAST(len(regexp_extract_all(seq, 'vc*p')) AS BIGINT) AS n_funnel_runs,
        |  CAST(len(regexp_extract_all(seq, 'ee+')) AS BIGINT) AS n_error_bursts
        |FROM s""".stripMargin),
    QueryDef("events_cm_freq", eventsCmFreq,
      s"""WITH fp AS (SELECT user_id, j,
        |    ${foldSql("'cm' || CAST(j AS VARCHAR) || '|' || " +
               "CAST(user_id AS VARCHAR) || '|graft'")} % 256 AS pos
        |  FROM (SELECT user_id FROM events) e, (SELECT unnest([0,1,2]) AS j)),
        |counters AS (SELECT j, pos, CAST(COUNT(*) AS BIGINT) AS c
        |             FROM fp GROUP BY 1, 2),
        |exact AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS exact_n
        |          FROM events GROUP BY 1),
        |probe AS (SELECT DISTINCT user_id, j, pos FROM fp),
        |est AS (SELECT p.user_id, MIN(c.c) AS est_n
        |        FROM probe p JOIN counters c ON c.j = p.j AND c.pos = p.pos
        |        GROUP BY 1)
        |SELECT user_id, exact_n, est_n, est_n - exact_n AS overcount
        |FROM exact JOIN est USING (user_id)""".stripMargin),
    QueryDef("events_feature_pit", eventsFeaturePit,
      """WITH ev AS (SELECT user_id, event_id, event_type, value,
        |              epoch_us(ts) AS tus FROM events),
        |labels AS (SELECT user_id, event_id AS label_event, tus AS lts
        |           FROM ev WHERE event_type = 'purchase' AND user_id % 5 = 0),
        |f AS (SELECT l.user_id, l.label_event, l.lts,
        |        CAST(SUM(CASE WHEN e.event_type = 'view' THEN 1 ELSE 0 END)
        |          AS BIGINT) AS v,
        |        CAST(SUM(CASE WHEN e.event_type = 'click' THEN 1 ELSE 0 END)
        |          AS BIGINT) AS c,
        |        CAST(SUM(CASE WHEN e.event_type = 'purchase' THEN 1 ELSE 0 END)
        |          AS BIGINT) AS p,
        |        CAST(SUM(CASE WHEN e.event_type = 'purchase'
        |          THEN CAST(floor(value * 100) AS BIGINT) ELSE 0 END)
        |          AS BIGINT) AS s
        |      FROM labels l JOIN ev e
        |        ON e.user_id = l.user_id
        |        AND e.tus >= l.lts - 604800000000 AND e.tus < l.lts
        |      GROUP BY 1, 2, 3)
        |SELECT labels.user_id, labels.label_event, labels.lts,
        |  COALESCE(v, 0) AS n_view_7d,
        |  COALESCE(c, 0) AS n_click_7d,
        |  COALESCE(p, 0) AS n_prior_purchase_7d,
        |  COALESCE(s, 0) AS spend_7d_cents
        |FROM labels LEFT JOIN f USING (user_id, label_event, lts)""".stripMargin),
    QueryDef("events_interval_join", eventsIntervalJoin,
      """WITH g AS (SELECT user_id, event_id, epoch_us(ts) AS tus,
        |                  lag(epoch_us(ts)) OVER (PARTITION BY user_id
        |                    ORDER BY epoch_us(ts), event_id) AS prev
        |           FROM events WHERE user_id % 10 = 0),
        |s AS (SELECT user_id, tus, event_id,
        |             CASE WHEN prev IS NULL OR tus - prev > 1800000000
        |                  THEN 1 ELSE 0 END AS new_s FROM g),
        |c AS (SELECT user_id, tus,
        |             CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY tus, event_id
        |               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_no FROM s),
        |sess AS (SELECT user_id, session_no, MIN(tus) AS s_start, MAX(tus) AS s_end
        |         FROM c GROUP BY 1, 2),
        |j AS (SELECT sess.user_id, sess.session_no,
        |             CAST(COUNT(*) AS BIGINT) AS n_ev,
        |             CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_us
        |      FROM sess JOIN events e
        |        ON epoch_us(e.ts) >= sess.s_start AND epoch_us(e.ts) <= sess.s_end
        |       AND e.user_id <> sess.user_id
        |      GROUP BY 1, 2)
        |SELECT sess.user_id, sess.session_no, s_start, s_end,
        |       COALESCE(n_ev, CAST(0 AS BIGINT)) AS n_concurrent_events,
        |       COALESCE(n_us, CAST(0 AS BIGINT)) AS n_concurrent_users
        |FROM sess LEFT JOIN j USING (user_id, session_no)""".stripMargin),
    QueryDef("events_hll_distinct", eventsHllDistinct,
      s"""WITH h_t AS (SELECT DISTINCT event_type, user_id FROM events),
        |hh AS (SELECT event_type,
        |    ${foldSql("'hll|' || CAST(user_id AS VARCHAR) || '|graft'")} AS h
        |  FROM h_t),
        |b AS (SELECT event_type, h % 64 AS bucket,
        |        MAX(CASE WHEN h // 64 = 0 THEN 25
        |                 ELSE 25 - length(bin(h // 64)) END) AS rmax
        |      FROM hh GROUP BY 1, 2),
        |z AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS used_buckets,
        |        CAST(SUM(CAST(1 AS BIGINT) << CAST(25 - rmax AS INTEGER)) +
        |             (64 - COUNT(*)) * (CAST(1 AS BIGINT) << 25) AS BIGINT) AS z_scaled
        |      FROM b GROUP BY 1),
        |e AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS exact_distinct
        |      FROM h_t GROUP BY 1)
        |SELECT e.event_type, exact_distinct, used_buckets,
        |  CAST(64 - used_buckets AS BIGINT) AS empty_buckets, z_scaled,
        |  CAST(97444218012 // z_scaled AS BIGINT) AS est_distinct,
        |  97444218012 // z_scaled <= 160 AS small_range
        |FROM e JOIN z USING (event_type)""".stripMargin),
    // merged-vs-full register equality: the DuckDB side rebuilds the
    // same three aggregation trees; rf folds hh directly (a user in
    // both periods carries the same h, MAX is idempotent)
    QueryDef("events_hll_incremental", eventsHllIncremental,
      s"""WITH ev AS (SELECT DISTINCT user_id,
        |              ts >= TIMESTAMP '2024-01-24' AS is_new FROM events),
        |hh AS (SELECT user_id, is_new,
        |    ${foldSql("'hll|' || CAST(user_id AS VARCHAR) || '|graft'")} AS h
        |  FROM ev),
        |rh AS (SELECT h % 64 AS bucket,
        |         MAX(CASE WHEN h // 64 = 0 THEN 25 ELSE 25 - length(bin(h // 64)) END) AS r
        |       FROM hh WHERE NOT is_new GROUP BY 1),
        |rb AS (SELECT h % 64 AS bucket,
        |         MAX(CASE WHEN h // 64 = 0 THEN 25 ELSE 25 - length(bin(h // 64)) END) AS r
        |       FROM hh WHERE is_new GROUP BY 1),
        |rm AS (SELECT bucket, MAX(r) AS r
        |       FROM (SELECT * FROM rh UNION ALL SELECT * FROM rb) GROUP BY 1),
        |rf AS (SELECT h % 64 AS bucket,
        |         MAX(CASE WHEN h // 64 = 0 THEN 25 ELSE 25 - length(bin(h // 64)) END) AS r
        |       FROM hh GROUP BY 1),
        |zm AS (SELECT CAST(SUM(CAST(1 AS BIGINT) << CAST(25 - r AS INTEGER)) +
        |                (64 - COUNT(*)) * (CAST(1 AS BIGINT) << 25) AS BIGINT) AS z_merged
        |       FROM rm),
        |zf AS (SELECT CAST(SUM(CAST(1 AS BIGINT) << CAST(25 - r AS INTEGER)) +
        |                (64 - COUNT(*)) * (CAST(1 AS BIGINT) << 25) AS BIGINT) AS z_full
        |       FROM rf),
        |mm AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_buckets,
        |         CAST(SUM(CASE WHEN COALESCE(m.r, -1) <> COALESCE(f.r, -2)
        |           THEN 1 ELSE 0 END) AS BIGINT) AS n_mismatch
        |       FROM rm m FULL OUTER JOIN rf f USING (bucket)),
        |ex AS (SELECT CAST(SUM(CASE WHEN NOT is_new THEN 1 ELSE 0 END) AS BIGINT) AS exact_hist,
        |              CAST(SUM(CASE WHEN is_new THEN 1 ELSE 0 END) AS BIGINT) AS exact_batch,
        |              CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_full
        |       FROM ev)
        |SELECT exact_hist, exact_batch, exact_full, n_buckets, n_mismatch,
        |       z_merged, CAST(97444218012 // z_merged AS BIGINT) AS est_merged,
        |       z_full, CAST(97444218012 // z_full AS BIGINT) AS est_full,
        |       exact_hist + exact_batch - exact_full AS overlap_users,
        |       n_mismatch = 0 AND z_merged = z_full AS merge_exact
        |FROM ex, mm, zm, zf""".stripMargin),
    QueryDef("events_anomaly", eventsAnomaly,
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n
        |               FROM events GROUP BY 1, 2),
        |d_t AS (SELECT event_type, COUNT(*) AS d FROM daily GROUP BY 1),
        |r1 AS (SELECT event_type, n, row_number() OVER (PARTITION BY event_type
        |         ORDER BY n) AS rk FROM daily),
        |med AS (SELECT event_type, n AS med FROM r1 JOIN d_t USING (event_type)
        |        WHERE rk = (d + 1) // 2),
        |dev AS (SELECT daily.event_type, day, n, med, abs(n - med) AS dev
        |        FROM daily JOIN med USING (event_type)),
        |r2 AS (SELECT event_type, dev, row_number() OVER (PARTITION BY event_type
        |         ORDER BY dev) AS rk FROM dev),
        |mad AS (SELECT event_type, dev AS mad FROM r2 JOIN d_t USING (event_type)
        |        WHERE rk = (d + 1) // 2)
        |SELECT dev.event_type, day, n, med, mad, abs(n - med) > mad * 2 AS outlier
        |FROM dev JOIN mad USING (event_type)""".stripMargin),
    QueryDef("events_trend", eventsTrend,
      """WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n
        |           FROM events GROUP BY 1, 2),
        |x_t AS (SELECT event_type,
        |          CAST(day - DATE '1970-01-01' AS BIGINT) AS x, n AS y FROM d),
        |a AS (SELECT event_type, COUNT(*) AS n_days,
        |        CAST(SUM(y) AS BIGINT) AS sum_count,
        |        CAST(SUM(x * y) AS BIGINT) AS sxy, CAST(SUM(x) AS BIGINT) AS sx,
        |        CAST(SUM(x * x) AS BIGINT) AS sxx FROM x_t GROUP BY event_type)
        |SELECT event_type, n_days, sum_count,
        |  CAST(n_days * sxy - sx * sum_count AS BIGINT) AS slope_num,
        |  CAST(n_days * sxx - sx * sx AS BIGINT) AS slope_den,
        |  n_days * sxy - sx * sum_count > 0 AS rising
        |FROM a""".stripMargin),
    QueryDef("events_seq3", eventsSeq3,
      """WITH g AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS tus,
        |                  lag(epoch_us(ts)) OVER (PARTITION BY user_id
        |                    ORDER BY epoch_us(ts), event_id) AS prev
        |           FROM events),
        |s AS (SELECT user_id, event_id, event_type, tus,
        |             CASE WHEN prev IS NULL OR tus - prev > 1800000000
        |                  THEN 1 ELSE 0 END AS new_s FROM g),
        |c AS (SELECT user_id, event_id, event_type, tus,
        |             CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY tus, event_id
        |               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_no FROM s),
        |n AS (SELECT event_type AS t1,
        |             lead(event_type, 1) OVER w2 AS t2,
        |             lead(event_type, 2) OVER w2 AS t3,
        |             session_no,
        |             lead(session_no, 2) OVER w2 AS s3
        |      FROM c WINDOW w2 AS (PARTITION BY user_id ORDER BY tus, event_id)),
        |t AS (SELECT t1, t2, t3, COUNT(*) AS cnt FROM n
        |      WHERE t3 IS NOT NULL AND s3 = session_no GROUP BY 1, 2, 3)
        |SELECT rk, t1, t2, t3, cnt FROM (
        |  SELECT t1, t2, t3, cnt,
        |         CAST(row_number() OVER (ORDER BY cnt DESC, t1, t2, t3) AS BIGINT) AS rk
        |  FROM t)
        |WHERE rk <= 10""".stripMargin),
    QueryDef("events_user_entropy", eventsUserEntropy,
      s"""WITH c AS (SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS c
         |           FROM events GROUP BY 1, 2),
         |u AS (SELECT user_id, CAST(SUM(c) AS BIGINT) AS n,
         |        CAST(SUM(c * ${log2MillisSql("c")}) AS BIGINT) AS sc
         |      FROM c GROUP BY 1),
         |h AS (SELECT user_id, (n * ${log2MillisSql("n")} - sc) // n AS h_mb FROM u)
         |SELECT h_mb // 250 AS band, CAST(COUNT(*) AS BIGINT) AS n_users,
         |  MIN(h_mb) AS min_mb, MAX(h_mb) AS max_mb
         |FROM h GROUP BY 1""".stripMargin),
    QueryDef("events_paths", eventsPaths,
      """WITH g AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS tus,
        |                  lag(epoch_us(ts)) OVER (PARTITION BY user_id
        |                    ORDER BY epoch_us(ts), event_id) AS prev
        |           FROM events),
        |s AS (SELECT user_id, event_id, event_type, tus,
        |             CASE WHEN prev IS NULL OR tus - prev > 1800000000
        |                  THEN 1 ELSE 0 END AS new_s FROM g),
        |c AS (SELECT user_id, event_id, event_type, tus,
        |             CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY tus, event_id
        |               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_no FROM s),
        |n AS (SELECT event_type AS src,
        |             lead(event_type) OVER w2 AS dst,
        |             session_no,
        |             lead(session_no) OVER w2 AS next_s
        |      FROM c WINDOW w2 AS (PARTITION BY user_id ORDER BY tus, event_id)),
        |t AS (SELECT src, dst, COUNT(*) AS cnt FROM n
        |      WHERE dst IS NOT NULL AND next_s = session_no GROUP BY src, dst)
        |SELECT rk, src, dst, cnt FROM (
        |  SELECT src, dst, cnt,
        |         CAST(row_number() OVER (ORDER BY cnt DESC, src, dst) AS BIGINT) AS rk
        |  FROM t)
        |WHERE rk <= 20""".stripMargin),
    QueryDef("events_attribution", eventsAttribution,
      """WITH ev AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS tus FROM events),
        |u AS (SELECT user_id, event_id, tus, 1 AS side, event_id AS seq,
        |             CAST(NULL AS BIGINT) AS view_event_id, CAST(NULL AS BIGINT) AS view_tus
        |      FROM ev WHERE event_type = 'click'
        |      UNION ALL
        |      SELECT user_id, NULL, tus, 0, event_id, event_id, tus
        |      FROM ev WHERE event_type = 'view'),
        |c AS (SELECT user_id, event_id, tus, side,
        |             last_value(view_event_id IGNORE NULLS) OVER w AS view_event_id,
        |             last_value(view_tus IGNORE NULLS) OVER w AS view_tus
        |      FROM u WINDOW w AS (PARTITION BY user_id ORDER BY tus, side, seq
        |                          ROWS UNBOUNDED PRECEDING))
        |SELECT user_id, event_id, tus AS click_tus, view_event_id, view_tus,
        |       tus - view_tus AS gap_us
        |FROM c WHERE side = 1""".stripMargin),
    QueryDef("events_retention", eventsRetention,
      """WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
        |act AS (SELECT day, COUNT(*) AS active_users FROM du GROUP BY day),
        |ret AS (SELECT a.day AS day, COUNT(*) AS retained_d1
        |        FROM du a JOIN du b ON a.user_id = b.user_id
        |          AND b.day = a.day + INTERVAL 1 DAY
        |        GROUP BY a.day)
        |SELECT act.day, act.active_users, COALESCE(ret.retained_d1, 0) AS retained_d1
        |FROM act LEFT JOIN ret USING (day)""".stripMargin),
    QueryDef("events_funnel", eventsFunnel,
      """WITH m AS (SELECT user_id,
        |    MIN(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS t_view,
        |    MIN(CASE WHEN event_type = 'click' THEN epoch_us(ts) END) AS t_click,
        |    MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS t_purchase
        |  FROM events GROUP BY user_id)
        |SELECT COUNT(CASE WHEN t_view IS NOT NULL THEN 1 END) AS n_view,
        |       COUNT(CASE WHEN t_view < t_click THEN 1 END) AS n_view_click,
        |       COUNT(CASE WHEN t_view < t_click AND t_click < t_purchase THEN 1 END)
        |         AS n_view_click_purchase
        |FROM m""".stripMargin),
    QueryDef("events_window", eventsWindow,
      """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, event_type, COUNT(*) AS n,
        |       CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin),
    QueryDef("events_sessions", eventsSessions,
      """WITH g AS (SELECT user_id, event_id, epoch_us(ts) AS tus,
        |                  lag(epoch_us(ts)) OVER (PARTITION BY user_id
        |                    ORDER BY epoch_us(ts), event_id) AS prev
        |           FROM events),
        |s AS (SELECT user_id, event_id, tus,
        |             CASE WHEN prev IS NULL OR tus - prev > 1800000000
        |                  THEN 1 ELSE 0 END AS new_s FROM g),
        |c AS (SELECT user_id, tus,
        |             CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY tus, event_id
        |               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_no FROM s)
        |SELECT user_id, session_no, MIN(tus) AS session_start_us,
        |       COUNT(*) AS n_events, MAX(tus) - MIN(tus) AS dur_us
        |FROM c GROUP BY user_id, session_no""".stripMargin),
    QueryDef("events_daily_active", eventsDailyActive,
      """SELECT CAST(ts AS DATE) AS day, COUNT(DISTINCT user_id) AS active_users,
        |       COUNT(*) AS n_events
        |FROM events GROUP BY 1""".stripMargin),
    QueryDef("events_props", eventsProps,
      """SELECT event_type, COUNT(*) AS n,
        |       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |       MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
        |       MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
        |FROM events GROUP BY 1""".stripMargin))
}
