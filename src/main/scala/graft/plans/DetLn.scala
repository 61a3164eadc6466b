package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Deterministic natural log as ONE compiled Catalyst node — the Spark
  * half of [[graft.queries.DetMath]] (its scaladoc carries the why and
  * the series). Why a node and not a `Column` tree: the tree's shared
  * intermediates (m, z, z²) re-expand at every reference, which made one
  * idf column 17,925 expression nodes that every analyzer and optimizer
  * pass re-walks (SCALING.md, "The idf's ln as one compiled node"). This
  * node runs the same IEEE operations in the same order, so it is
  * bit-identical to that tree on every input where the tree does not
  * fail (DetMathSpec pins both evaluation paths against it).
  */
case class DetLn(child: Expression) extends UnaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "det_ln"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == DoubleType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a double argument, got ${child.dataType.catalogString}")

  override protected def nullSafeEval(x: Any): Any =
    DetLn.compute(x.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, x => s"graft.plans.DetLn.compute($x)")

  override protected def withNewChildInternal(newChild: Expression): DetLn =
    copy(child = newChild)
}

object DetLn {
  /** The constants both engines render from the same Scala doubles
    * (DuckDB gets them through [[graft.queries.DetMath.lnSqlCtes]]). */
  val MaxExp = 40
  val Ln2: Double = 0.6931471805599453
  val SeriesCoeffs: Seq[Double] = (0 to 15).map(k => 1.0 / (2 * k + 1))

  /** 2^i for i = 0..MaxExp, each exactly representable. */
  private val Pow2: Array[Double] = Array.tabulate(MaxExp + 1)(i => math.pow(2.0, i))
  private val Coeffs: Array[Double] = SeriesCoeffs.toArray

  /** Shared by eval and generated code. The steps, in the order the
    * oracle's CTE chain runs them:
    *   e = #{i ∈ 1..40 : x ≥ 2^i}   (NaN compares false, so e = 0),
    *   scale = 2^e                  (the CTE chain's product of 2s and 1s, exact),
    *   m = x / scale, z = (m − 1)/(m + 1), z2 = z·z,
    *   s = c0 + z2·(c1 + z2·(… + z2·c15))  (right-nested Horner),
    *   ln x = e·LN2 + (2·z)·s.
    * Do not reorder or fuse: bit-exactness with the oracle depends on it.
    * Out-of-domain inputs follow plain IEEE arithmetic and never throw:
    * x = −1 gives −Infinity, NaN and ±Infinity give NaN, other x < 1
    * give finite values that are not logs. */
  def compute(x: Double): Double = {
    var e = 0
    while (e < MaxExp && x >= Pow2(e + 1)) e += 1
    val m = x / Pow2(e)
    val z = (m - 1.0) / (m + 1.0)
    val z2 = z * z
    var s = Coeffs(Coeffs.length - 1)
    var k = Coeffs.length - 2
    while (k >= 0) {
      s = Coeffs(k) + z2 * s
      k -= 1
    }
    e.toDouble * Ln2 + 2.0 * z * s
  }
}
