package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of (most-recent-prior) join — the temporal join Spark has no
  * built-in operator for: each left row is matched with the latest
  * right row of the same key whose time is ≤ the left row's time
  * (attribution, point-in-time feature lookup, last-quote-before-trade).
  *
  * Implementation is the SCALE-CORRECT union + sort + carry-forward
  * plan, not a range join: both sides are tagged and unioned, one
  * window per key partition orders rows by (time, side, seq), and the
  * right payload is carried forward with `last(ignoreNulls)` — so each
  * key's data is shuffled ONCE and scanned ONCE, O((|L|+|R|) log)
  * locally per partition. A range-predicate join would either
  * nested-loop (quadratic per key) or explode time buckets; this shape
  * is how warehouse engines implement ASOF JOIN internally. Skewed
  * keys behave like any single-key window (cap upstream or pre-split).
  */
object AsOfJoin {

  /** Join `left` to the most recent `right` row per `keys` with
    * `right.[rightTime] <= left.[leftTime]`.
    *
    * Output columns: every `left` column, then every non-key `right`
    * column (INCLUDING `rightTime` — it is the matched row's
    * timestamp), null when no prior right row exists. Non-key column
    * names must be disjoint across sides (rename before calling).
    *
    * `leftSeq` / `rightSeq` are per-side tie-break columns (unique
    * within a (key, time) group, e.g. an event id) that make the
    * carry-forward deterministic when timestamps collide; right rows
    * at exactly `leftTime` ARE visible to the left row (≤ semantics,
    * right-before-left at equal times).
    *
    * `tolerance` (optional, in the time columns' own units — they must
    * be numeric to use it) bounds match staleness: a carried match with
    * `leftTime − rightTime > tolerance` is nulled out, the
    * `merge_asof(tolerance=)` contract. Applied AFTER the carry-forward
    * projection, so it adds zero shuffles.
    */
  def asOfJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTime: String, rightTime: String,
      leftSeq: String, rightSeq: String,
      tolerance: Option[Long] = None): DataFrame = {
    val leftRest = left.columns.filterNot(keys.contains).toSeq
    val rightVals = right.columns.filterNot(keys.contains).toSeq
    require(leftRest.intersect(rightVals).isEmpty,
      s"as-of join column clash: ${leftRest.intersect(rightVals).mkString(", ")}")
    val reserved = Seq("_ts", "_side", "_seq", "_rv")
    require(!(left.columns ++ right.columns).exists(reserved.contains),
      s"as-of join reserves column names ${reserved.mkString(", ")}")
    def isNumeric(df: DataFrame, c: String) =
      df.schema(c).dataType.isInstanceOf[org.apache.spark.sql.types.NumericType]
    require(isNumeric(left, leftSeq) && isNumeric(right, rightSeq),
      "seq tie-break columns must be numeric (a cast('long') of a string id " +
        "would silently null out and break the deterministic ordering)")
    // The right payload travels as ONE nullable struct, not as
    // independent columns: carrying each column with its own
    // last(ignoreNulls) would TEAR rows — a NULL field in the matched
    // (latest) right row would be back-filled from an older row. The
    // struct is null exactly on left rows (a struct OF nulls is still
    // non-null, so building it per-side is what keeps ignoreNulls
    // meaning "no right row seen yet", field nulls intact).
    val rvType = org.apache.spark.sql.types.StructType(
      rightVals.map(c => right.schema(c)))
    val lT = left.select(
      keys.map(col) ++ Seq(col(leftTime).as("_ts"), lit(1).as("_side"),
        col(leftSeq).cast("long").as("_seq"),
        lit(null).cast(rvType).as("_rv")) ++
        leftRest.map(col): _*)
    // JOIN null semantics (merge_asof likewise): a NULL key never
    // matches, a NULL right time is never "prior". The window would
    // otherwise group all null-key rows into one partition and sort
    // null _ts FIRST — a null-time right row would be carried into
    // every row of its key. Right rows that can never match are
    // dropped before the union; null-key LEFT rows stay in the output
    // but their extracted match columns are nulled below. (A null-TIME
    // left row needs no special case: nulls sort first, so it precedes
    // every surviving right row and carries nothing.)
    val rT = right
      .filter((keys :+ rightTime).map(col(_).isNotNull).reduce(_ && _))
      .select(
        keys.map(col) ++ Seq(col(rightTime).as("_ts"), lit(0).as("_side"),
          col(rightSeq).cast("long").as("_seq"),
          struct(rightVals.map(col): _*).as("_rv")) ++
          leftRest.map(c => lit(null).cast(left.schema(c).dataType).as(c)): _*)
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("_ts"), col("_side"), col("_seq"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val keyIsNull = keys.map(col(_).isNull).reduce(_ || _)
    val carried = lT.unionByName(rT)
      .select(keys.map(col) ++ leftRest.map(col) ++ Seq(col("_side"),
        last(col("_rv"), ignoreNulls = true).over(w).as("_rv")): _*)
      .filter(col("_side") === 1)
      .select(keys.map(col) ++ leftRest.map(col) ++
        rightVals.map(c => when(!keyIsNull, col("_rv")(c)).as(c)): _*)
    tolerance.fold(carried) { tol =>
      val fresh = col(rightTime) >= col(leftTime) - lit(tol)
      carried.select(keys.map(col) ++ leftRest.map(col) ++
        rightVals.map(c => when(fresh, col(c)).as(c)): _*)
    }
  }

  /** The as-of join as a NATIVE operator — [[graft.plans.AsOfJoinPlan]]
    * / [[graft.plans.AsOfJoinExec]]: co-partition on the key, sort by
    * (key, ts), one O(1)-state streaming merge per partition (see the
    * exec's scaladoc for why this beats [[asOfJoin]]'s union+window at
    * scale: no carry-forward window ever materializes L+R rows).
    * Left-outer ≤ semantics identical to [[asOfJoin]]; key and ts must
    * be LONG columns, and right-side non-key columns should be
    * pre-renamed to avoid clashes (output = left columns ++ right
    * columns, right side nullable). Installs [[graft.plans
    * .AsOfJoinStrategy]] with [[graft.sql.GraftExtensions.setup]] —
    * safe to leave installed: the strategy matches ONLY the library's
    * own plan node, so no other query's planning changes. */
  /** `rightTieBreaker` (optional column name on `right`) totalizes
    * the match when several right rows share one (key, ts): it joins
    * the right child's required sort order, and backward/nearest then
    * deterministically keep the max-tie row (latest record wins),
    * forward the min-tie row. Omit ONLY when (key, ts) is unique on
    * the right — otherwise equal-ts payloads follow partition order,
    * which is not stable across retries. */
  def asOfNative(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTs: String, rightTs: String,
      direction: String = "backward",
      tolerance: Option[Long] = None,
      rightTieBreaker: Option[String] = None): DataFrame = {
    val spark = left.sparkSession
    graft.sql.GraftExtensions.setup(spark)
    val lp = left.queryExecution.analyzed
    val rp0 = right.queryExecution.analyzed
    // Self-join lineage guard: if the two analyzed children share any
    // exprId (e.g. asOfNative(df, df, ...)), the output projection
    // would bind every duplicated reference to the FIRST matching
    // attribute — right columns silently reading left values. Re-alias
    // the whole right side with fresh exprIds in that case.
    val rp =
      if (rp0.output.exists(a => lp.outputSet.contains(a)))
        org.apache.spark.sql.catalyst.plans.logical.Project(
          rp0.output.map(a =>
            org.apache.spark.sql.catalyst.expressions.Alias(a, a.name)()),
          rp0)
      else rp0
    def attr(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, n: String) =
      p.output.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(s"asOfNative: no column '$n'"))
    org.apache.spark.sql.GraftPlanBridge.ofRows(spark,
      graft.plans.AsOfJoinPlan(lp, rp,
        attr(lp, leftKey), attr(rp, rightKey), attr(lp, leftTs), attr(rp, rightTs),
        direction, tolerance, rightTieBreaker.map(attr(rp, _))))
  }
}
