package graft.sql

import graft.ext.MultimodalOps.ResizePixelsExpr
import graft.functions.{ExplodeBigramsExpr, ExplodeFramesExpr, ExplodeShinglesExpr, Kernels}
import graft.functions.HashExprs.{CosineExpr, DotExpr}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Cast, Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.LongType

/** SQL-visible registration of every graft native function (SURVEY
  * §7.1 `sql/` layer): users on the pure-SQL path (`spark.sql`, JDBC,
  * notebooks) get the same single-pass kernels as the DataFrame DSL —
  * `SELECT graft_minhash_sig(fps, 64) FROM ...`.
  *
  * One declaration per kernel: every kernel of
  * [[graft.functions.Kernels]] registers under its declared name with
  * the builder derived from its entry, so the SQL call builds the same
  * expression as the Column function and prints under the same name.
  * A wrong argument count fails naming the function and its signature;
  * a parameter outside its declared range fails naming the parameter
  * and the value; a wrong-typed input fails analysis with
  * DATATYPE_MISMATCH. The functions below the table (cosine, dot,
  * resize, the bloom pair, the generators) are hand-written and check
  * their arity the same way.
  *
  * Installed with the rest of the extension — see [[GraftExtensions]]
  * for the install contract.
  *
  * Sketch-size arguments (hash count, bands, bits…) must be integer
  * literals — they parameterize plan-time expression construction, not
  * per-row input.
  */
object GraftFunctions {

  private def intLit(e: Expression, fn: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$fn expects an integer literal argument, got: $other")
  }

  /** A hand-written function: `signature - doc`, arity checked. */
  private def fixed(signature: String, doc: String)(build: Seq[Expression] => Expression) = {
    val arity = signature.count(_ == ',') + 1
    (signature.takeWhile(_ != '('), s"$signature - $doc", (es: Seq[Expression]) => {
      Kernels.checkArity(signature, arity, es.size)
      build(es)
    })
  }

  /** name → (usage doc, builder). */
  val builders: Seq[(String, String, Seq[Expression] => Expression)] =
    Kernels.all.map(k => (k.name, k.usage, k.sql _)) ++ Seq(
      fixed("graft_cosine(a, b)", "cosine similarity of vectors")(
        es => CosineExpr(es.head, es(1))),
      fixed("graft_dot(a, b)", "inner product of vectors (MIPS score)")(
        es => DotExpr(es.head, es(1))),
      // Spark's internal runtime-filter pair, surfaced for the SQL path
      // (upstream registers neither): build with graft_bloom_agg(
      // xxhash64(k), items, bits) in a scalar subquery, probe with
      // graft_might_contain(bf, xxhash64(k)) — see SkewOps.bloomPrunedSemiJoin
      // for the DataFrame form and the eager-literal variant.
      fixed("graft_bloom_agg(longCol, est_items, num_bits)", "bloom filter aggregate (binary)")(
        // size args must be LongType literals; SQL integer literals
        // arrive as INT, so fold-cast them up
        es => new BloomFilterAggregate(es.head, Cast(es(1), LongType), Cast(es(2), LongType))
          .toAggregateExpression()),
      fixed("graft_might_contain(bloom_bin, longCol)", "bloom membership probe")(
        es => BloomFilterMightContain(es.head, es(1))),
      fixed("graft_resize(pixels, w, h, ow, oh)",
        "area-average resample of a row-major float grid")(
        es => ResizePixelsExpr(es.head, es(1), es(2),
          intLit(es(3), "graft_resize"), intLit(es(4), "graft_resize"))),
      // SQL-side flat_map (SURVEY §2.3): a true Catalyst Generator —
      // `LATERAL VIEW graft_explode_shingles(text, k) s AS pos, shingle`
      fixed("graft_explode_shingles(text, k)",
        "UDTF: one row per k-token shingle with position")(
        es => ExplodeShinglesExpr(es.head, intLit(es(1), "graft_explode_shingles"))),
      fixed("graft_explode_frames(bin, n)", "UDTF: one row per equal-size media frame")(
        es => ExplodeFramesExpr(es.head, intLit(es(1), "graft_explode_frames"))),
      fixed("graft_explode_bigrams(text)",
        "UDTF: one row per adjacent token pair (pos, w1, w2)")(
        es => ExplodeBigramsExpr(es.head)))

  private[sql] def info(name: String, usage: String) =
    new ExpressionInfo("graft", null, name, usage, "", "", "", "", "4.0.0", "", "scala_udf")

  /** Register (or refresh) every graft function on a live session. */
  private[sql] def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    builders.foreach { case (name, usage, b) =>
      reg.registerFunction(FunctionIdentifier(name), info(name, usage), b)
    }
  }
}

/** The graft extension: every SQL function of [[GraftFunctions]], the
  * optimizer rules [[graft.plans.LshJoinRewrite]],
  * [[graft.plans.IntervalJoinRewrite]] and [[graft.plans.MvRewrite]],
  * and the planner strategy [[graft.plans.AsOfJoinStrategy]].
  *
  * Install contract — the one way anything graft provides reaches a
  * session:
  *  - built in: `spark.sql.extensions=graft.sql.GraftExtensions` when
  *    the session is built ([[graft.Harness.session]] does this);
  *  - [[GraftExtensions.setup]] for a session built without it. Library
  *    code that needs any of these calls `setup` on its session; it is
  *    idempotent.
  *
  * Installed rules are inert until a caller opts in: the LSH and
  * interval rewrites on their confs, the MV rewrite on a registered
  * view; the strategy matches only graft's own plan node.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.builders.foreach { case (name, usage, b) =>
      ext.injectFunction((FunctionIdentifier(name), GraftFunctions.info(name, usage), b))
    }
    GraftExtensions.rules.foreach(r => ext.injectOptimizerRule(_ => r))
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
  }
}

object GraftExtensions {
  private def rules: Seq[Rule[LogicalPlan]] = Seq(graft.plans.LshJoinRewrite(),
    graft.plans.IntervalJoinRewrite(), graft.plans.MvRewrite())

  /** Install the extension on a session built without it. Idempotent: a
    * session built with the extension, or already set up, is left as it
    * is, and no rule is ever added twice. */
  def setup(spark: SparkSession): Unit = synchronized {
    val strategy = graft.plans.AsOfJoinStrategy
    if (!spark.sessionState.planner.strategies.contains(strategy)) {
      GraftFunctions.register(spark)
      val present = spark.experimental.extraOptimizations.map(_.getClass).toSet
      spark.experimental.extraOptimizations ++= rules.filterNot(r => present(r.getClass))
      spark.experimental.extraStrategies :+= strategy
    }
  }
}
