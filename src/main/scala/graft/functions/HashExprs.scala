package graft.functions

import graft.functions.Kernels._
import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge.{toColumn, toExpression}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** The Column functions of the native kernels: the declared kernels
  * of [[Kernels]] (one-line calls into the table) and the two
  * hand-written vector scores, [[CosineExpr]] and [[DotExpr]], whose
  * element widths are read from the child types at plan time (and
  * whose cosine predicate graft.plans.LshJoinRewrite matches).
  */
object HashExprs {
  /** Shared prime modulus (products stay inside 64 bits). */
  val P = HashKernels.P

  private val K = "graft.functions.HashKernels"

  /** cosine(a, b) over float/double vectors: the three sums (dot,
    * |a|², |b|²) accumulate left-to-right in double (float→double
    * casts exact), then one sqrt·sqrt and one division — bit-identical
    * to DuckDB's list_reduce spelling at any parallelism (similarity
    * math never crosses rows). Element width resolved at plan time. */
  case class CosineExpr(left: Expression, right: Expression) extends BinaryExpression {
    override def dataType: DataType = DoubleType
    private def isFloat(e: Expression): Boolean =
      e.dataType.asInstanceOf[ArrayType].elementType == FloatType
    override def nullSafeEval(a: Any, b: Any): Any =
      HashKernels.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
        isFloat(left), isFloat(right))
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) =>
        s"$K.cosine($a, $b, ${isFloat(left)}, ${isFloat(right)})")
    override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineExpr =
      copy(left = l, right = r)
    override def prettyName: String = "graft_cosine"
  }

  /** dot(a, b): raw inner product over float/double vectors — the MIPS
    * (maximum-inner-product-search) score beside [[CosineExpr]]'s
    * angle: same left-to-right double accumulation contract, so it is
    * bit-identical to DuckDB's list_reduce spelling at any
    * parallelism. */
  case class DotExpr(left: Expression, right: Expression) extends BinaryExpression {
    override def dataType: DataType = DoubleType
    private def isFloat(e: Expression): Boolean =
      e.dataType.asInstanceOf[ArrayType].elementType == FloatType
    override def nullSafeEval(a: Any, b: Any): Any =
      HashKernels.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
        isFloat(left), isFloat(right))
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) =>
        s"$K.dot($a, $b, ${isFloat(left)}, ${isFloat(right)})")
    override protected def withNewChildrenInternal(l: Expression, r: Expression): DotExpr =
      copy(left = l, right = r)
    override def prettyName: String = "graft_dot"
  }

  // ---- Column-facing wrappers --------------------------------------
  def fingerprint(c: Column): Column = Fingerprint(c)()
  def charEntropyBound(s: Column): Column = CharEntropyBound(s)()
  def log2Millis(q: Column): Column = Log2Millis(q)()
  def explodeBigrams(s: Column): Column = toColumn(ExplodeBigramsExpr(toExpression(s)))
  def cdcChunkFps(s: Column, w: Int, mask: Long): Column = CdcChunkFps(s)(w, mask)
  def cdcChunkFpsBin(b: Column, w: Int, mask: Long): Column = CdcChunkFpsBin(b)(w, mask)
  def varintCost(series: Column): Column = VarintCost(series)()
  def tokenFps(toks: Column): Column = TokenFps(toks)()
  def shingleFps(toks: Column, k: Int): Column = ShingleFps(toks)(k)
  def charShingleFps(s: Column, k: Int): Column = CharShingleFps(s)(k)
  def modalNgramCount(toks: Column, k: Int): Column = ModalNgramCount(toks)(k)
  def dtwBand(a: Column, b: Column, band: Int): Column = DtwBand(a, b)(band)
  def minhashSig(fps: Column, n: Int): Column = MinHashSig(fps)(n)
  def bandKeys(sig: Column, b: Int, r: Int): Column = BandKeys(sig)(b, r)
  def simhash(fps: Column, bits: Int): Column = SimHash(fps)(bits)
  def editWithin(a: Column, b: Column, k: Int): Column = EditWithin(a, b)(k)
  def jaroWinkler(a: Column, b: Column): Column = JaroWinkler(a, b)()
  def winnowMins(fps: Column, w: Int): Column = WinnowMins(fps)(w)
  def cosineSim(a: Column, b: Column): Column = toColumn(CosineExpr(toExpression(a), toExpression(b)))
  def dotProduct(a: Column, b: Column): Column = toColumn(DotExpr(toExpression(a), toExpression(b)))
  def srpBucket(v: Column, bits: Int): Column = SrpBucket(v)(bits)
  def zorder(a: Column, b: Column, bits: Int): Column = ZOrder(a, b)(bits)
}
