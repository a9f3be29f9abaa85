package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.types.LongType

/** The as-of join as a FIRST-CLASS operator — custom `LogicalPlan` +
  * `SparkStrategy` + physical `SparkPlan` (the (c)-tier extension
  * path, used only here because composition genuinely can't express
  * the plan): `graft.ext.AsOfJoin.asOfJoin` already delivers as-of
  * semantics by union + window carry-forward, but that shape must
  * materialize L+R rows through one window; the native operator is
  * the plan a warehouse engine runs — co-partition both sides on the
  * key (`ClusteredDistribution`, so EnsureRequirements inserts/reuses
  * hash exchanges), sort each side by (key, ts)
  * (`requiredChildOrdering` — the sorts ride the exchange), then ONE
  * STREAMING MERGE per partition: a single right-side lookahead row
  * plus one buffered "latest right ≤ current left ts" row per key —
  * O(1) state, no row buffered twice, no window machinery. Each left
  * row emits exactly once (left-outer: misses join a null right).
  *
  * `direction` selects the match among same-key right rows — the full
  * pandas-`merge_asof` surface, each still O(1) state on the SAME
  * sorted merge (sortedness serves all three; only the keep/stop rule
  * changes):
  *   - `backward` (default): latest right with rt ≤ lt;
  *   - `forward`: earliest right with rt ≥ lt (the lookahead row
  *     itself — never consumed, so it can match many left rows);
  *   - `nearest`: closer of the two, ties to backward (deterministic;
  *     a tie means equidistant strict-past and strict-future rows).
  *
  * `tolerance` (optional, in the ts columns' own units) bounds the
  * match gap |lt − rt| — the `merge_asof(tolerance=)` contract. It is
  * applied per CANDIDATE before the nearest choice, so an
  * out-of-window past row never shadows an in-window future one.
  *
  * Both key and ts must be non-null LONG attributes (the engine's
  * canonical id/µs types); null key or ts left rows emit as misses,
  * null right rows never match. Output ordering (key, ts) is
  * preserved and advertised, so a downstream window over the same key
  * plans with zero additional exchanges.
  *
  * `rightTie` (optional) makes the match DETERMINISTIC when several
  * right rows share one (key, ts): it is appended to the right child's
  * required ordering, and the merge's keep/stop rules then resolve
  * ties totally — backward/nearest keep the LAST row in tie order
  * (max tie: "latest record wins", the update-stream contract),
  * forward matches the FIRST (min tie). Without it, equal-(key, ts)
  * payloads inherit partition order, which Spark does not guarantee
  * stable across retries — fine only when (key, ts) is unique.
  */
case class AsOfJoinPlan(left: LogicalPlan, right: LogicalPlan,
    leftKey: Attribute, rightKey: Attribute,
    leftTs: Attribute, rightTs: Attribute,
    direction: String = "backward",
    tolerance: Option[Long] = None,
    rightTie: Option[Attribute] = None) extends BinaryNode {
  require(Seq(leftKey, rightKey, leftTs, rightTs).forall(_.dataType == LongType),
    "asOfNative requires LONG key and ts columns on both sides")
  require(AsOfJoinExec.Directions.contains(direction),
    s"asOfNative direction must be one of ${AsOfJoinExec.Directions.mkString("/")}, got '$direction'")
  require(tolerance.forall(_ >= 0L), "asOfNative tolerance must be >= 0")
  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))
  override protected def withNewChildrenInternal(
      l: LogicalPlan, r: LogicalPlan): AsOfJoinPlan = copy(left = l, right = r)
}

/** Planner strategy for [[AsOfJoinPlan]]. Installed by
  * graft.sql.GraftExtensions (see its install contract);
  * [[graft.ext.AsOfJoin.asOfNative]] calls its `setup`. */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinPlan(l, r, lk, rk, lt, rt, dir, tol, tie) =>
      AsOfJoinExec(planLater(l), planLater(r), lk, rk, lt, rt, dir, tol, tie) :: Nil
    case _ => Nil
  }
}

object AsOfJoinExec {
  val Directions: Set[String] = Set("backward", "forward", "nearest")
}

case class AsOfJoinExec(left: SparkPlan, right: SparkPlan,
    leftKey: Attribute, rightKey: Attribute,
    leftTs: Attribute, rightTs: Attribute,
    direction: String = "backward",
    tolerance: Option[Long] = None,
    rightTie: Option[Attribute] = None) extends BinaryExecNode {

  // first-class operator observability: the match rate is THE health
  // signal of an as-of enrichment (a collapsing rate means the
  // reference feed is late/empty) — surfaced as SQL metrics so the UI
  // and listeners see it per execution, like any built-in join
  override lazy val metrics: Map[String, org.apache.spark.sql.execution.metric.SQLMetric] = Map(
    "numOutputRows" -> org.apache.spark.sql.execution.metric.SQLMetrics
      .createMetric(sparkContext, "number of output rows"),
    "numMatched" -> org.apache.spark.sql.execution.metric.SQLMetrics
      .createMetric(sparkContext, "probe rows matched"))

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(leftKey)) :: ClusteredDistribution(Seq(rightKey)) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTs, Ascending)),
    // the optional tie column totalizes the right order: the merge's
    // keep/stop rules then pick a deterministic winner among
    // equal-(key, ts) rows (see the plan-node scaladoc)
    Seq(SortOrder(rightKey, Ascending), SortOrder(rightTs, Ascending)) ++
      rightTie.map(SortOrder(_, Ascending)))

  override def outputPartitioning: Partitioning = left.outputPartitioning

  override def outputOrdering: Seq[SortOrder] = requiredChildOrdering.head

  override protected def withNewChildrenInternal(
      l: SparkPlan, r: SparkPlan): AsOfJoinExec = copy(left = l, right = r)

  override protected def doExecute(): RDD[InternalRow] = {
    val lk = left.output.indexWhere(_.exprId == leftKey.exprId)
    val lt = left.output.indexWhere(_.exprId == leftTs.exprId)
    val rk = right.output.indexWhere(_.exprId == rightKey.exprId)
    val rt = right.output.indexWhere(_.exprId == rightTs.exprId)
    require(lk >= 0 && lt >= 0 && rk >= 0 && rt >= 0,
      "as-of key/ts attributes must be direct child outputs")
    val nRight = right.output.size
    val outAttrs = output
    val dir = direction
    // tolerance = max |lt − rt| a match may span (merge_asof contract);
    // candidates beyond it are nulled out BEFORE the nearest choice, so
    // an out-of-window past row never shadows an in-window future one
    val tol = tolerance.getOrElse(Long.MaxValue)
    val outRows = longMetric("numOutputRows")
    val matched = longMetric("numMatched")
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      // saturating a − b for the gap tests below: a ≥ b at every call
      // site (candidate rules guarantee it), so the true difference is
      // non-negative and an overflow (opposite-sign extremes) means it
      // exceeds Long.MaxValue — saturate rather than wrap, which keeps
      // `gap <= tol` correct for both a finite tolerance (saturated is
      // out-of-window) and the no-tolerance MaxValue sentinel (any
      // candidate is in-window, however distant).
      def gapSat(a: Long, b: Long): Long =
        try Math.subtractExact(a, b)
        catch { case _: ArithmeticException => Long.MaxValue }
      val joiner = new JoinedRow
      val proj = UnsafeProjection.create(outAttrs, outAttrs)
      val nullRight = new GenericInternalRow(nRight)
      val trackBest = dir != "forward"     // backward/nearest keep the ≤ row
      val consumeEq = dir != "forward"     // forward stops AT rt == lt (it matches)
      new Iterator[InternalRow] {
        // one lookahead right row (not yet consumed) + one buffered
        // best-so-far per current key — the O(1) merge state
        private var rNext: InternalRow = _
        private var best: InternalRow = _
        private var bestKey = 0L
        override def hasNext: Boolean = lIter.hasNext
        override def next(): InternalRow = {
          val l = lIter.next()
          outRows += 1
          if (l.isNullAt(lk) || l.isNullAt(lt)) return proj(joiner(l, nullRight))
          val lKey = l.getLong(lk)
          val lTime = l.getLong(lt)
          if (best != null && bestKey != lKey) best = null
          var scanning = true
          while (scanning) {
            if (rNext == null && rIter.hasNext) rNext = rIter.next()
            if (rNext == null) scanning = false
            else if (rNext.isNullAt(rk) || rNext.isNullAt(rt)) rNext = null
            else {
              val rKey = rNext.getLong(rk)
              val rTime = rNext.getLong(rt)
              val consume = rKey < lKey ||
                (rKey == lKey && (if (consumeEq) rTime <= lTime else rTime < lTime))
              if (consume) {
                if (rKey == lKey && trackBest) {
                  // iterator rows are reused buffers — copy the keeper
                  best = rNext.copy(); bestKey = rKey
                }
                rNext = null
              } else scanning = false
            }
          }
          val backRow0 = if (best != null && bestKey == lKey) best else null
          val backRow =
            if (backRow0 != null && gapSat(lTime, backRow0.getLong(rt)) <= tol) backRow0
            else null
          // the stopped-at lookahead is the forward candidate when it
          // shares the key (its rt is ≥/> lt by the stop rule)
          val fwdRow0 =
            if (rNext != null && !rNext.isNullAt(rk) && rNext.getLong(rk) == lKey) rNext
            else null
          val fwdRow =
            if (fwdRow0 != null && gapSat(fwdRow0.getLong(rt), lTime) <= tol) fwdRow0
            else null
          val m = dir match {
            case "backward" => backRow
            case "forward" => fwdRow
            case _ =>
              if (backRow == null) fwdRow
              else if (fwdRow == null) backRow
              else {
                val db = gapSat(lTime, backRow.getLong(rt)) // ≥ 0
                val df = gapSat(fwdRow.getLong(rt), lTime)  // > 0
                if (df < db) fwdRow else backRow     // tie → backward
              }
          }
          if (m != null) matched += 1
          proj(joiner(l, if (m != null) m else nullRight))
        }
      }
    }
  }
}
