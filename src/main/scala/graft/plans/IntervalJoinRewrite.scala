package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Alias, And, AttributeReference, EqualTo, Explode, Expression, GreaterThanOrEqual, If, IntegralDivide, LessThanOrEqual, Literal, PredicateHelper, Sequence}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.ArrayType
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Generate, Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.LongType

/** Opt-in optimizer rule #2 (the scale sibling of [[LshJoinRewrite]]):
  * an inner join whose only cross-side predicate is interval
  * containment — `point >= lo AND point <= hi` (what `BETWEEN` parses
  * to) — has no equi-key, so Spark plans a nested loop:
  * O(|points|·|intervals|), dead at any scale. With the rewrite
  * enabled, the rule DISCRETIZES time: the interval side is extended
  * with an exploded covered-bucket column (`sequence(lo div W, hi div
  * W)`), the point side with its single bucket (`point div W`), the
  * join gains the bucket equality (which Catalyst extracts as a hash
  * key), and a final Project restores the original schema. A point
  * matches a given interval in exactly ONE bucket — its own — so the
  * rewrite introduces no duplicates: it is EXACT, unlike the LSH
  * rewrite, and opt-in only because the right bucket width W
  * (`spark.graft.interval.bucket`, in the column's own unit) is a
  * data decision — near the p95 interval length; too small explodes
  * the interval side, too large densifies buckets.
  *
  *   spark.conf.set("spark.graft.interval.rewrite", "true")
  *   spark.conf.set("spark.graft.interval.bucket", "3600000000")
  *
  * Fires only when: both join sides are batch relations, the bound
  * columns are integral LONGs, `point` references exactly one side
  * and both bounds the other, and no cross-side equality already
  * exists (an equi-join needs no help). This is the manual plan of
  * graft.queries.EventQueries.eventsIntervalJoin, automated — the
  * query documents the shape, the rule makes any user's naive
  * BETWEEN join inherit it.
  *
  * Installed by graft.sql.GraftExtensions (see its install contract).
  */
case class IntervalJoinRewrite() extends Rule[LogicalPlan] with PredicateHelper {

  private val BUCKET_COL = "graft_iv_bucket"

  /** (point, lo) pairs from `point >= lo` in either spelling. */
  private def lowerOf(e: Expression): Option[(Expression, Expression)] = e match {
    case GreaterThanOrEqual(p, lo) => Some((p, lo))
    case LessThanOrEqual(lo, p) => Some((p, lo))
    case _ => None
  }

  /** (point, hi) pairs from `point <= hi` in either spelling. */
  private def upperOf(e: Expression): Option[(Expression, Expression)] = e match {
    case LessThanOrEqual(p, hi) => Some((p, hi))
    case GreaterThanOrEqual(hi, p) => Some((p, hi))
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!conf.getConfString("spark.graft.interval.rewrite", "false").toBoolean) return plan
    val width = conf.getConfString("spark.graft.interval.bucket", "3600000000").toLong
    require(width > 0, s"spark.graft.interval.bucket must be positive (got $width)")
    plan.transform {
      case j @ Join(l, r, Inner, Some(cond), hint)
          if !j.isStreaming && !r.output.exists(_.name == BUCKET_COL) =>
        val conjuncts = splitConjunctivePredicates(cond)
        // an existing cross-side equality already hash-joins — skip
        val hasEqui = conjuncts.exists {
          case EqualTo(a, b) =>
            (a.references.subsetOf(l.outputSet) && b.references.subsetOf(r.outputSet)) ||
              (a.references.subsetOf(r.outputSet) && b.references.subsetOf(l.outputSet))
          case _ => false
        }
        val pair = if (hasEqui) None else {
          val lowers = conjuncts.flatMap(lowerOf(_))
          val uppers = conjuncts.flatMap(upperOf(_))
          (for {
            (p1, lo) <- lowers
            (p2, hi) <- uppers
            if p1.semanticEquals(p2) && p1.dataType == LongType &&
              lo.dataType == LongType && hi.dataType == LongType
            // point on one side, BOTH bounds on the other
            sides <- {
              val boundRefs = lo.references ++ hi.references
              if (p1.references.subsetOf(l.outputSet) && boundRefs.subsetOf(r.outputSet))
                Some((p1, lo, hi, true))
              else if (p1.references.subsetOf(r.outputSet) && boundRefs.subsetOf(l.outputSet))
                Some((p1, lo, hi, false))
              else None
            }
          } yield sides).headOption
        }
        pair match {
          case Some((point, lo, hi, pointOnLeft)) =>
            val one = Literal(1L)
            val w = Literal(width)
            val ptBucket = Alias(IntegralDivide(point, w), "graft_pt_bucket")()
            // Sequence is TimeZoneAwareExpression: it stays UNRESOLVED
            // without a zone even over LONGs, and an optimizer rule
            // runs after the analyzer's zone-filling pass — set it here
            // Sequence with a positive step THROWS on start > stop, so a
            // degenerate interval (hi < lo — empty under BETWEEN) must
            // short-circuit to an empty bucket array, not fail the query
            val emptyArr = Literal.create(
              ArrayData.toArrayData(Array.empty[Long]), ArrayType(LongType, containsNull = false))
            val ivSeq = If(LessThanOrEqual(lo, hi),
              Sequence(
                IntegralDivide(lo, w), IntegralDivide(hi, w), Some(one),
                Some(conf.sessionLocalTimeZone)),
              emptyArr)
            val (ptChild, ivChild) = if (pointOnLeft) (l, r) else (r, l)
            val ptSide = Project(ptChild.output :+ ptBucket, ptChild)
            // optimizer-time Generate: the analyzer's ResolveGenerate
            // has already run, so the generator output attribute must
            // be constructed resolved (type from the generator schema)
            val explode = Explode(ivSeq)
            val elem = explode.elementSchema.head
            val ivBucket = AttributeReference(BUCKET_COL, elem.dataType, elem.nullable)()
            val gen = Generate(explode, unrequiredChildIndex = Nil,
              outer = false, qualifier = None,
              generatorOutput = Seq(ivBucket), child = ivChild)
            val newCond = And(EqualTo(ptBucket.toAttribute, ivBucket), cond)
            val (nl, nr) = if (pointOnLeft) (ptSide, gen) else (gen, ptSide)
            val out = Project(j.output, Join(nl, nr, Inner, Some(newCond), hint))
            // a rewrite that fails to resolve must degrade to the
            // original plan, never fail the query (the optimizer
            // validates rules post-batch)
            if (out.resolved) out else j
          case None => j
        }
    }
  }
}
