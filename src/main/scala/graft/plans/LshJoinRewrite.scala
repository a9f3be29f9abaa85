package graft.plans

import graft.functions.HashExprs.CosineExpr
import graft.functions.Kernels.SrpBucket
import graft.functions.UnaryKernel
import org.apache.spark.sql.catalyst.expressions.{And, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual, Literal}
import org.apache.spark.sql.catalyst.plans.{Cross, Inner}
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule

/** Opt-in LSH similarity-join rewrite (SURVEY §7.3: "Rule[LogicalPlan]
  * to rewrite similarity predicates into LSH joins"): an inner/cross
  * join whose condition demands `graft_cosine(a, b) >= θ` is a
  * quadratic all-pairs comparison; [[LshJoinRewrite.rewrite]] conjoins
  * `graft_srp_bucket(a, bits) = graft_srp_bucket(b, bits)` — Catalyst
  * then extracts the equality as a hash-join key, so candidates meet
  * only inside SRP-LSH buckets (shuffle-by-bucket) and the exact
  * cosine predicate filters survivors. Turns O(|L|·|R|) nested-loop
  * scoring into O(collisions).
  *
  * APPROXIMATE BY DESIGN, hence opt-in: near-threshold pairs that land
  * in different buckets are lost (collision probability for angle φ is
  * (1−φ/π)^bits — at θ ≥ 0.99, 8-bit recall ≈ 0.95; raise recall by
  * lowering the bits or unioning rotated bucketings).
  *
  * Two ways in:
  *  - a DataFrame caller rewrites its own plan —
  *    `LshJoinRewrite.rewrite(df.queryExecution.analyzed, bits)` —
  *    and touches no session state (graft.queries.SimQueries
  *    .simPairsRewrite);
  *  - SQL users enable this rule for the session:
  *
  *   spark.conf.set("spark.graft.lsh.rewrite", "true")
  *   spark.conf.set("spark.graft.lsh.bits", "8")      // optional
  *
  * Installed by graft.sql.GraftExtensions (see its install contract).
  */
case class LshJoinRewrite() extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!conf.getConfString("spark.graft.lsh.rewrite", "false").toBoolean) plan
    else LshJoinRewrite.rewrite(plan, conf.getConfString("spark.graft.lsh.bits", "8").toInt)
}

object LshJoinRewrite {

  private def hasSrp(e: Expression): Boolean =
    e.exists { case UnaryKernel(SrpBucket, _, _) => true; case _ => false }

  // Both spellings of "cosine at least θ": cosine-on-the-left
  // (cos >= θ / cos > θ) AND literal-on-the-left (θ <= cos / θ < cos) —
  // round-4 finding: matching only the first silently left the flipped
  // form (and the lower bound of a BETWEEN, which parses to it) on the
  // quadratic nested-loop plan with the rewrite "enabled".
  private def cosOf(cond: Expression): Option[CosineExpr] = cond.collectFirst {
    case GreaterThanOrEqual(c: CosineExpr, Literal(_, _)) => c
    case GreaterThan(c: CosineExpr, Literal(_, _)) => c
    case LessThanOrEqual(Literal(_, _), c: CosineExpr) => c
    case LessThan(Literal(_, _), c: CosineExpr) => c
  }

  /** `plan` with `bits`-bit SRP bucket equality conjoined onto every
    * inner/cross join that demands a cosine threshold across its sides. */
  def rewrite(plan: LogicalPlan, bits: Int): LogicalPlan =
    plan.transform {
      case j @ Join(l, r, jt, Some(cond), _)
          if (jt == Inner || jt == Cross) && !hasSrp(cond) =>
        cosOf(cond) match {
          case Some(c) =>
            val (a, b) = (c.left, c.right)
            val sidesOk =
              (a.references.subsetOf(l.outputSet) && b.references.subsetOf(r.outputSet)) ||
                (a.references.subsetOf(r.outputSet) && b.references.subsetOf(l.outputSet))
            if (sidesOk)
              j.copy(condition = Some(And(EqualTo(
                SrpBucket.expr(Seq(a), Seq(bits)), SrpBucket.expr(Seq(b), Seq(bits))), cond)))
            else j
          case None => j
        }
    }
}
