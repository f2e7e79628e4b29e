package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DoubleType}
import org.scalatest.funsuite.AnyFunSuite

/** The power-iteration kernels' generated Java compiles (Spark would
  * otherwise log the compile error and silently run the interpreted
  * path) and returns exactly the interpreted result.
  */
class PowerKernelsSpec extends AnyFunSuite {
  private val arr = ArrayType(DoubleType, containsNull = false)
  private def ref(i: Int, dt: org.apache.spark.sql.types.DataType) =
    BoundReference(i, dt, nullable = true)

  private val rnd = new scala.util.Random(7)
  private def vec(n: Int): GenericArrayData =
    new GenericArrayData(Array.fill[Any](n)(rnd.nextGaussian() * 1e3))

  /** (compiled, interpreted) results of `e` over `rows`. Generation
    * throws if the generated Java does not compile.
    */
  private def both(e: Expression, rows: Seq[InternalRow]): Seq[(Any, Any)] = {
    val proj = GenerateUnsafeProjection.generate(Seq(e))
    rows.map(r => (proj(r).copy().get(0, e.dataType), e.eval(r)))
  }

  private def doubles(a: Any): Seq[Long] = a match {
    case null => null
    case d: org.apache.spark.sql.catalyst.util.ArrayData =>
      d.toDoubleArray().toSeq.map(java.lang.Double.doubleToRawLongBits)
  }

  test("DeflateRound9: generated code compiles and equals the interpreted " +
       "path") {
    val e = DeflateRound9(ref(0, arr), ref(1, arr), ref(2, DoubleType))
    val specials = new GenericArrayData(Array[Any](
      Double.NaN, Double.PositiveInfinity, -0.0, 0.5e-9, 1.0000000005))
    val rows = Seq(
      InternalRow(vec(64), vec(64), 0.37),
      InternalRow(vec(5), vec(3), -2.5),
      InternalRow(specials, vec(5), 0.0),
      InternalRow(vec(4), vec(4), null),
      InternalRow(null, vec(4), 1.0))
    val got = both(e, rows)
    got.foreach { case (c, i) => assert(doubles(c) == doubles(i)) }
    assert(got.takeRight(2).forall(_._1 == null))
  }

  test("DecDot18: generated code compiles and equals the interpreted path") {
    val e = DecDot18(ref(0, arr), ref(1, arr))
    val rows = Seq(InternalRow(vec(64), vec(64)), InternalRow(vec(3), vec(7)),
      InternalRow(null, vec(3)))
    both(e, rows).foreach { case (c, i) => assert(c == i) }
  }
}
