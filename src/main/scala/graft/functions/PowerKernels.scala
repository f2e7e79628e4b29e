package graft.functions

import java.math.{BigDecimal => JBigDecimal, RoundingMode}

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DataTypes, DecimalType, DoubleType, Decimal}

/** Native codegen kernels for the power-iteration family (s21/s33/s34).
  *
  * The array-form power iteration folds a per-vector dot product and a
  * per-vector deflation inside higher-order-function lambdas — and HOF
  * lambdas are INTERPRETED (no whole-stage codegen), with a boxed
  * Decimal allocated per element. Measured on the s33 deflation bridge:
  * 6 s for 2000 × 64 elements in one task. These two expressions are
  * the same arithmetic as tight scalar loops inside codegen — the
  * [[DotProductD]]/[[Md5Lane]] precedent applied to the decimal-exact
  * lane.
  *
  * Both replicate Spark's own builtin semantics bit-for-bit, so the
  * DuckDB twins keep matching:
  *  - [[DecDot18]] ≡ `SUM(CAST(a_d * b_d AS DECIMAL(38,18)))` over the
  *    exploded per-dim rows: each term quantizes exactly like
  *    `Cast(double → decimal(38,18))` (java BigDecimal.valueOf —
  *    shortest-repr — then setScale(18, HALF_UP)); accumulation is
  *    exact unbounded BigDecimal addition, order-free.
  *  - [[DeflateRound9]] ≡ `round(c_d − s·v_d, 9)` per dimension, with
  *    `Round`'s double path (BigDecimal.valueOf → setScale(9, HALF_UP)
  *    → doubleValue; NaN/Infinity pass through).
  */
case class DecDot18(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType): Boolean = dt match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<double> arguments, " +
        s"got ${left.dataType.catalogString} / ${right.dataType.catalogString}")
  }

  override def dataType: DataType = DecimalType(38, 18)

  override def prettyName: String = "graft_decdot18"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    DecDot18.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.DecDot18.dot($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object DecDot18 {
  /** Σ_i quantize18(a_i · b_i) as Decimal(38,18). Null elements are
    * skipped (the SUM-over-rows semantics; vectors are null-free by
    * the embedding contract). quantize18 replicates Spark's
    * double→decimal cast exactly: BigDecimal.valueOf (the
    * shortest-decimal-representation path `Cast` uses) then
    * setScale(18, HALF_UP).
    */
  def dot(x: ArrayData, y: ArrayData): Decimal = {
    val n = math.min(x.numElements(), y.numElements())
    var acc = JBigDecimal.ZERO
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i)) {
        val p = x.getDouble(i) * y.getDouble(i)
        acc = acc.add(JBigDecimal.valueOf(p).setScale(18, RoundingMode.HALF_UP))
      }
      i += 1
    }
    Decimal(acc, 38, 18)
  }
}

/** out_d = round(c_d − s·v_d, 9): the s33/s34 deflation bridge as one
  * codegen'd pass over the vector pair — see the file scaladoc.
  */
case class DeflateRound9(first: Expression, second: Expression,
                         third: Expression) extends TernaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def arr(dt: DataType): Boolean = dt match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (arr(first.dataType) && arr(second.dataType) &&
        third.dataType == DoubleType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<double>, array<double>, double), " +
        s"got ${first.dataType.catalogString} / " +
        s"${second.dataType.catalogString} / ${third.dataType.catalogString}")
  }

  override def dataType: DataType = DataTypes.createArrayType(DoubleType, false)

  override def prettyName: String = "graft_deflate_round9"

  override protected def nullSafeEval(c: Any, v: Any, s: Any): Any =
    DeflateRound9.deflate(c.asInstanceOf[ArrayData],
      v.asInstanceOf[ArrayData], s.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (c, v, s) =>
      s"${ev.value} = graft.functions.DeflateRound9.deflate($c, $v, $s);")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object DeflateRound9 {
  /** Spark `Round(x, 9)` double semantics: NaN/Infinity pass through;
    * else BigDecimal.valueOf(x).setScale(9, HALF_UP).doubleValue().
    */
  private def round9(x: Double): Double =
    if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) x
    else JBigDecimal.valueOf(x).setScale(9, RoundingMode.HALF_UP).doubleValue()

  /** Named `deflate`, not `apply`: the generated Java calls it as a
    * static method on the class, and Scala emits no static forwarder
    * for a companion method whose name the class already has (the
    * expression inherits `TreeNode.apply(Int)`), so an `apply` here
    * failed to compile and Spark silently ran the interpreted path.
    */
  def deflate(c: ArrayData, v: ArrayData, s: Double): ArrayData = {
    val n = math.min(c.numElements(), v.numElements())
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      out(i) = round9(c.getDouble(i) - s * v.getDouble(i))
      i += 1
    }
    new GenericArrayData(out)
  }
}
