package graft.plans

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.expressions.{Alias, And, Attribute, AttributeReference, BoundReference, Cast, Coalesce, EqualTo, Expression, IsNotNull, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.{count, lit, max, min, sum}
import org.apache.spark.sql.types.LongType

/** Materialized-view rewrite: optimizer rule that answers an
  * aggregate over a BASE table from a registered roll-up summary of
  * that table instead of re-scanning it.
  *
  * A warehouse maintains `orders GROUP BY (status, year) -> (count,
  * sum, min, max)` as a tiny MV; every dashboard query that groups by
  * any subset/function of those keys, filters on them, and asks for
  * re-aggregable measures (SUM/COUNT(*)/MIN/MAX are all
  * self-decomposable: SUM of partial SUMs, SUM of partial COUNTs,
  * MIN of partial MINs...) can be answered from |keys|-many MV rows.
  * At 100 TB the rewrite turns a full fact scan into a scan of a
  * broadcast-sized relation — the single biggest lever a warehouse
  * optimizer has, and the query-side complement of the incremental
  * maintenance rows (`q_incremental_mv` keeps the MV fresh by
  * re-aggregating decimal partials; this rule makes queries USE it).
  *
  * Matching is structural, not textual:
  *   - the aggregate's child must destructure to (conjunctive filters,
  *     attribute-only projects, a parquet `LogicalRelation`) whose
  *     root paths equal the MV's base table paths — catalog identity,
  *     the way production MV matchers (e.g. Calcite's) anchor a view;
  *   - every grouping expression, filter predicate, and aggregate
  *     input must be expressible over the MV: expressions are
  *     compared CANONICALIZED with base attributes bound to their
  *     relation ordinal, so `year(o_orderdate)` in the query matches
  *     `year(o_orderdate)` in the view definition whatever the
  *     exprIds or aliases — and any expression OVER matched keys
  *     (e.g. `substr(status, 1, 1)`, or grouping by a key subset)
  *     rolls up soundly because MV rows are exactly one per key
  *     combination;
  *   - measures rewrite Sum(x) -> Sum(mv_sum_x), Count(lit) ->
  *     Sum(mv_cnt), Min/Max(x) -> Min/Max(mv_min/max_x), each cast
  *     back to the original result type (a re-aggregated decimal SUM
  *     widens precision; the cast restores the query's declared type
  *     exactly since the value is the same data summed once more).
  * Anything unmappable — an unregistered measure column, a filter on
  * a non-key column, DISTINCT aggregates, a non-Complete mode —
  * aborts the rewrite for that Aggregate and leaves the plan
  * untouched: the rule is EXACT-or-absent, never approximate
  * (contrast [[LshJoinRewrite]], which is approximate by design and
  * separately gated).
  *
  * No pypeln analog (the reference has no aggregation operator at
  * all — SURVEY §2.2); this is engine infrastructure for the
  * extension surface, gated by `q_mv_rewrite` whose oracle aggregates
  * the base table directly, so the hash proves the MV answer equals
  * the ground truth.
  *
  * Opting in is registering a view; unregistering it opts out:
  *
  *   val view = MvCatalog.register("orders_by_status_year", ordersDf,
  *     keys = Seq(col("o_orderstatus"), year(col("o_orderdate"))),
  *     measures = Seq(col("o_totalprice")))
  *   try ... finally MvCatalog.unregister(view)
  *
  * Installed by graft.sql.GraftExtensions (see its install contract),
  * inert while no view is registered.
  */
case class MvRewrite() extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (MvCatalog.isEmpty) return plan
    plan.transform {
      case agg: Aggregate => tryRewrite(agg).getOrElse(agg)
    }
  }

  private def tryRewrite(agg: Aggregate): Option[LogicalPlan] =
    MvCatalog.shred(agg.child, joinOk = true).flatMap { s =>
      // Inline intermediate Project aliases (e.g. the optimizer's
      // PullOutGroupingExpressions `_groupingexpression#N`) so every
      // expression is spelled directly over relation attributes before
      // canonical matching. Values in `s.subst` are pre-inlined to
      // relation-attr form by shred.
      val inline: Expression => Expression = _.transformUp {
        case a: Attribute if s.subst.contains(a) => s.subst(a)
      }
      val inlineNamed: NamedExpression => NamedExpression = {
        case ar: AttributeReference if s.subst.contains(ar) =>
          Alias(s.subst(ar), ar.name)(exprId = ar.exprId)
        case other => inline(other).asInstanceOf[NamedExpression]
      }

      def attempt(binding: Seq[Attribute], src: MvCatalog.MvSrc): Option[LogicalPlan] = for {
        mv <- MvCatalog.find(src)
        r = new Rewriter(mv, binding)
        // An inner equi-join implies isnotnull on its keys; the
        // optimizer materializes that constraint as side filters. The
        // MV aggregated the same inner join, so those filters are
        // no-ops over it — drop them rather than failing to map a
        // join key that is not a view key.
        filters = s.filters.map(inline).filterNot {
          case IsNotNull(x) => r.canonOf(x).exists(mv.nullGuarded.contains)
          case _ => false
        }
        newFilters <- traverseOpt(filters)(r.mapScalar)
        newGroups <- traverseOpt(agg.groupingExpressions.map(inline))(r.mapScalar)
        newAggs <- traverseOpt(agg.aggregateExpressions.map(inlineNamed))(r.mapNamed)
      } yield {
        val child = if (newFilters.isEmpty) r.freshMv
                    else Filter(newFilters.reduce(And), r.freshMv)
        Aggregate(newGroups, newAggs, child)
      }

      s.base match {
        case Left(rel) =>
          attempt(rel.output, MvCatalog.TableSrc(MvCatalog.rootPaths(rel)))
        case Right((lrel, rrel, cond)) =>
          val (lp, rp) = (MvCatalog.rootPaths(lrel), MvCatalog.rootPaths(rrel))
          // Exactly one orientation can match (ordinals shift by the
          // side the table landed on); try as-written, then swapped.
          def orient(binding: Seq[Attribute], a: Set[String], b: Set[String]) =
            MvCatalog.boundCanon(binding, inline(cond)).flatMap { c =>
              attempt(binding, MvCatalog.JoinSrc(a, b, c))
            }
          orient(lrel.output ++ rrel.output, lp, rp)
            .orElse(orient(rrel.output ++ lrel.output, rp, lp))
      }
    }

  private def traverseOpt[A, B](xs: Seq[A])(f: A => Option[B]): Option[Seq[B]] = {
    val out = xs.map(f)
    if (out.forall(_.isDefined)) Some(out.map(_.get)) else None
  }

  /** Per-rewrite expression mapper. Instantiates a FRESH copy of the
    * MV plan (new exprIds via MultiInstanceRelation) so two rewrites
    * in one query tree cannot collide on attribute ids. */
  private class Rewriter(mv: MvCatalog.MvDef, binding: Seq[Attribute]) {
    val freshMv: LogicalPlan = mv.plan match {
      case m: MultiInstanceRelation => m.newInstance()
      case p => p
    }
    private val remap: Map[Attribute, Attribute] =
      mv.plan.output.zip(freshMv.output).toMap
    private def fresh(a: Attribute): Attribute = remap.getOrElse(a, a)

    /** Canonical form of `e` with base attributes bound to their
      * ordinal in `binding` — the exprId-free shape stored at
      * registration; None if `e` references anything outside it. */
    def canonOf(e: Expression): Option[Expression] =
      MvCatalog.boundCanon(binding, e)

    private def keyFor(e: Expression): Option[Attribute] =
      canonOf(e).flatMap(mv.keys.get).map(fresh)
    private def lookupMeasure(m: Map[Expression, Attribute], e: Expression): Option[Attribute] =
      canonOf(e).flatMap(m.get).map(fresh)

    /** Rewrite a scalar expression (filter predicate, grouping expr,
      * or the non-aggregate parts of a result expr) over the MV:
      * smallest subexpression matching a view key becomes the key
      * attribute; aggregate calls route through [[mapAgg]]; a base
      * attribute that survives to a leaf is unmappable -> None. */
    def mapScalar(e: Expression): Option[Expression] = keyFor(e) match {
      case Some(attr) => Some(attr)
      case None => e match {
        case ae: AggregateExpression => mapAgg(ae)
        case _: AttributeReference => None
        case leaf if leaf.children.isEmpty => Some(leaf)
        case other =>
          val kids = other.children.map(mapScalar)
          if (kids.forall(_.isDefined)) Some(other.withNewChildren(kids.map(_.get)))
          else None
      }
    }

    /** Sum/Count(*)/Min/Max -> re-aggregation of the MV partials,
      * cast back to the original result type. Only Complete,
      * non-DISTINCT, unfiltered aggregates qualify. */
    private def mapAgg(ae: AggregateExpression): Option[Expression] = {
      if (ae.mode != Complete || ae.isDistinct || ae.filter.nonEmpty) return None
      val rewritten: Option[Expression] = ae.aggregateFunction match {
        case s: Sum =>
          lookupMeasure(mv.sums, s.child).map { a =>
            ae.copy(aggregateFunction = s.copy(child = a))
          }
        case c: Count if c.children.forall(_.foldable) =>
          // COUNT(*) = SUM of per-group row counts; Coalesce keeps the
          // non-nullable Count contract (Sum is nullable by type).
          Some(Coalesce(Seq(
            ae.copy(aggregateFunction = Sum(fresh(mv.cnt))),
            Literal(0L, LongType))))
        case m: Min =>
          lookupMeasure(mv.mins, m.child).map { a =>
            ae.copy(aggregateFunction = Min(a))
          }
        case m: Max =>
          lookupMeasure(mv.maxs, m.child).map { a =>
            ae.copy(aggregateFunction = Max(a))
          }
        case _ => None
      }
      rewritten.map { r =>
        if (r.dataType == ae.dataType) r
        else Cast(r, ae.dataType, Some(conf.sessionLocalTimeZone))
      }
    }

    /** Result-list entries keep their NAME and exprId so parent
      * operators still resolve. */
    def mapNamed(ne: NamedExpression): Option[NamedExpression] = ne match {
      case al @ Alias(child, name) =>
        mapScalar(child).map(m => Alias(m, name)(exprId = al.exprId,
          qualifier = al.qualifier, explicitMetadata = Some(al.metadata)))
      case ar: AttributeReference =>
        mapScalar(ar).map {
          case a: Attribute if a.exprId == ar.exprId => a
          case m => Alias(m, ar.name)(exprId = ar.exprId)
        }
      case _ => None
    }
  }
}

/** [[org.apache.spark.sql.catalyst.expressions.PredicateHelper]]'s
  * conjunct splitter is `protected`; expose it to [[MvCatalog]]. */
private object MvPredicates
    extends org.apache.spark.sql.catalyst.expressions.PredicateHelper {
  def split(cond: Expression): Seq[Expression] = splitConjunctivePredicates(cond)
}

/** Registry + builder for aggregate materialized views consumed by
  * [[MvRewrite]]. `register` (single table) and `registerJoin` (inner
  * equi-join view, the star-schema roll-up) derive the summary (count +
  * sum/min/max per measure, grouped by the keys), materialize it
  * eagerly via `localCheckpoint` (lineage truncated — the rewritten
  * plan provably contains no base-table scan), and record the
  * canonicalized key/measure/join-condition expressions for structural
  * matching. A view becomes visible only after its build materialized,
  * so it never answers its own build. */
object MvCatalog {

  /** Identity of a view's base: catalog anchoring by parquet root
    * paths, the way production MV matchers (Calcite) anchor views.
    * Join conditions are stored canonicalized over (left ++ right)
    * relation ordinals, so equality is orientation-sensitive — the
    * rule tries both orientations of a query join. */
  sealed trait MvSrc
  case class TableSrc(paths: Set[String]) extends MvSrc
  case class JoinSrc(left: Set[String], right: Set[String], cond: Expression) extends MvSrc

  case class MvDef(
      name: String,
      src: MvSrc,
      /** the materialized summary; `plan` is its analyzed form */
      summary: DataFrame,
      keys: Map[Expression, Attribute],
      cnt: Attribute,
      sums: Map[Expression, Attribute],
      mins: Map[Expression, Attribute],
      maxs: Map[Expression, Attribute],
      /** canons of join-equality operands: isnotnull filters on these
        * are implied by the view's inner join and safely dropped. */
      nullGuarded: Set[Expression]) {
    def plan: LogicalPlan = summary.queryExecution.analyzed
  }

  /** Registered views with the thread that registered each. */
  private val views = mutable.ArrayBuffer.empty[(Thread, MvDef)]

  def isEmpty: Boolean = synchronized(views.isEmpty)

  /** The view over `src`, preferring one the calling thread registered:
    * a view's summary is released with its registering query's caches,
    * so a query that brought its own view reads only that one. */
  def find(src: MvSrc): Option[MvDef] = synchronized {
    val matching = views.filter(_._2.src == src)
    matching.find(_._1 eq Thread.currentThread()).orElse(matching.headOption).map(_._2)
  }

  /** Remove one view returned by [[register]] / [[registerJoin]]; other
    * views, whoever registered them, stay. */
  def unregister(mv: MvDef): Unit = synchronized(views.filterInPlace(_._2 ne mv))

  def rootPaths(rel: LogicalRelation): Set[String] = rel.relation match {
    case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toString).toSet
    case _ => Set.empty
  }

  /** Canonical form of `e` with attributes bound to their ordinal in
    * `binding` — exprId-free, so registration-time and query-time
    * spellings of the same expression compare equal; None if `e`
    * references anything outside the binding. */
  private[plans] def boundCanon(binding: Seq[Attribute], e: Expression): Option[Expression] = {
    val idx = binding.map(_.exprId).zipWithIndex.toMap
    val b = e.transform {
      case a: AttributeReference if idx.contains(a.exprId) =>
        BoundReference(idx(a.exprId), a.dataType, a.nullable)
    }
    if (b.exists(_.isInstanceOf[AttributeReference])) None
    else Some(b.canonicalized)
  }

  /** What shred() recovers from an aggregate's child: conjunctive
    * filters (NOT yet alias-substituted), the composed Project-alias
    * substitution (values pre-inlined to relation attributes), the
    * attribute binding for canonicalization, and the base — a single
    * relation or one inner join of two distinct relations. */
  private[plans] case class Shredded(
      filters: Seq[Expression],
      subst: Map[Attribute, Expression],
      binding: Seq[Attribute],
      base: Either[LogicalRelation, (LogicalRelation, LogicalRelation, Expression)])

  /** Strip conjunctive Filters and Projects off a plan, down to a
    * parquet scan (or, with `joinOk`, one inner join of two scans).
    * Attribute-only projects (column pruning) preserve exprIds, so
    * expressions above them bind to the relation output directly;
    * alias-bearing projects (the optimizer pulls grouping expressions
    * into `_groupingexpression#N` aliases) contribute substitution
    * entries, inlined down to relation attributes through lower
    * projects on the way up. */
  private[plans] def shred(p: LogicalPlan, joinOk: Boolean): Option[Shredded] = p match {
    case rel: LogicalRelation =>
      Some(Shredded(Nil, Map.empty, rel.output, Left(rel)))
    case Project(pl, c) if pl.forall(ne =>
        ne.isInstanceOf[AttributeReference] || ne.isInstanceOf[Alias]) =>
      shred(c, joinOk).map { s =>
        val entries = pl.collect { case al: Alias =>
          al.toAttribute -> al.child.transformUp {
            case a: Attribute if s.subst.contains(a) => s.subst(a)
          }
        }
        s.copy(subst = s.subst ++ entries)
      }
    case Filter(cond, c) =>
      shred(c, joinOk).map(s => s.copy(filters = MvPredicates.split(cond) ++ s.filters))
    case Join(l, r, Inner, Some(cond), _) if joinOk =>
      for {
        sl <- shred(l, joinOk = false)
        sr <- shred(r, joinOk = false)
        lrel <- sl.base.left.toOption
        rrel <- sr.base.left.toOption
        lp = rootPaths(lrel); rp = rootPaths(rrel)
        // distinct tables only: a self-join's orientation is ambiguous
        if lp.nonEmpty && rp.nonEmpty && lp != rp
      } yield Shredded(sl.filters ++ sr.filters, sl.subst ++ sr.subst,
        lrel.output ++ rrel.output, Right((lrel, rrel, cond)))
    case _ => None
  }

  /** Build + register an aggregate MV over a RAW table read. Returns
    * the stored view (its `summary` is the materialized relation). */
  def register(name: String, base: DataFrame, keys: Seq[Column],
               measures: Seq[Column]): MvDef =
    buildAndStore(name, base, keys, measures, expectJoin = false)

  /** Build + register an aggregate MV over `left INNER JOIN right ON
    * cond` of two RAW table reads — the star-schema roll-up. Queries
    * that join the same two tables on the same condition (either
    * orientation) and aggregate over view keys/measures are answered
    * from the summary without scanning either table. */
  def registerJoin(name: String, left: DataFrame, right: DataFrame, cond: Column,
                   keys: Seq[Column], measures: Seq[Column]): MvDef =
    buildAndStore(name, left.join(right, cond), keys, measures, expectJoin = true)

  private def buildAndStore(name: String, base: DataFrame, keys: Seq[Column],
                            measures: Seq[Column], expectJoin: Boolean): MvDef = {
    val keyCols = keys.zipWithIndex.map { case (c, i) => c.as(s"mv_k$i") }
    val aggCols = count(lit(1)).as("mv_cnt") +:
      measures.zipWithIndex.flatMap { case (c, i) =>
        Seq(sum(c).as(s"mv_sum_$i"), min(c).as(s"mv_min_$i"), max(c).as(s"mv_max_$i"))
      }
    val aggDf = base.groupBy(keyCols: _*).agg(aggCols.head, aggCols.tail: _*)

    val analyzed = aggDf.queryExecution.analyzed
    val (groups, results, sh) = analyzed match {
      case a: Aggregate => shred(a.child, joinOk = expectJoin) match {
        case Some(s) if s.filters.isEmpty && s.subst.isEmpty =>
          (a.groupingExpressions, a.aggregateExpressions, s)
        case _ => throw new IllegalArgumentException(
          s"MV '$name': base must be raw table scan(s) (got ${a.child.nodeName})")
      }
      case other => throw new IllegalStateException(
        s"MV '$name': unexpected analyzed shape ${other.nodeName}")
    }
    def canon(e: Expression): Expression =
      boundCanon(sh.binding, e).getOrElse(throw new IllegalArgumentException(
        s"MV '$name': expression $e references columns outside the base"))
    def stripAlias(e: Expression): Expression = e match {
      case a: Alias => a.child
      case other => other
    }
    val keyCanon = groups.map(g => canon(stripAlias(g)))

    val (src, nullGuarded) = sh.base match {
      case Left(rel) => (TableSrc(rootPaths(rel)), Set.empty[Expression])
      case Right((lrel, rrel, cond)) =>
        val ng = MvPredicates.split(cond).collect {
          case EqualTo(x, y) => Seq(canon(x), canon(y))
        }.flatten.toSet
        (JoinSrc(rootPaths(lrel), rootPaths(rrel), canon(cond)), ng)
    }

    // measure expressions, in registration order, from the analyzed
    // aggregate result list (resolved, so canon() binds them exactly
    // the way the rule will bind query-side expressions)
    def aggChild(aliasName: String): Expression =
      results.collectFirst {
        case al @ Alias(ae: AggregateExpression, n) if n == aliasName =>
          ae.aggregateFunction.children.head
      }.getOrElse(throw new IllegalStateException(s"MV '$name': missing $aliasName"))
    val measureCanon = measures.indices.map(i => canon(aggChild(s"mv_sum_$i")))

    // checkpoint blocks are query-scoped like every other persist; the
    // view is stored only after they exist
    val mat = graft.core.QueryCaches.checkpoint(aggDf)
    val byName = mat.queryExecution.analyzed.output.map(a => a.name -> a).toMap
    val mvDef = MvDef(
      name = name,
      src = src,
      summary = mat,
      keys = keyCanon.zipWithIndex.map { case (k, i) => k -> byName(s"mv_k$i") }.toMap,
      cnt = byName("mv_cnt"),
      sums = measureCanon.zipWithIndex.map { case (m, i) => m -> byName(s"mv_sum_$i") }.toMap,
      mins = measureCanon.zipWithIndex.map { case (m, i) => m -> byName(s"mv_min_$i") }.toMap,
      maxs = measureCanon.zipWithIndex.map { case (m, i) => m -> byName(s"mv_max_$i") }.toMap,
      nullGuarded = nullGuarded)
    synchronized { views += (Thread.currentThread() -> mvDef) }
    mvDef
  }
}
