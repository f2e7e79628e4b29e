package graft.functions

import java.math.{BigDecimal => JBigDecimal}

import org.apache.spark.sql.catalyst.expressions.{Cast, EvalMode, Literal}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{Decimal, DecimalType, DoubleType}
import org.scalatest.funsuite.AnyFunSuite

/** Exactness of the [[NearestCodeword]] kernel's arithmetic against
  * Spark itself: every per-dim term must equal the session's non-ANSI
  * `CAST(p AS DECIMAL(38,12))` (the exploded form's quantizer), and a
  * distance total that leaves the long range must continue exactly.
  * No SparkSession: the Cast is evaluated directly.
  */
class NearestCodewordSpec extends AnyFunSuite {

  private def sparkCast(p: Double): Decimal =
    Cast(Literal(p, DoubleType), DecimalType(38, 12), Some("UTC"),
      EvalMode.LEGACY).eval().asInstanceOf[Decimal]

  private def assertCastEqual(ps: Iterator[Double]): Int = {
    var n = 0
    ps.foreach { p =>
      val want = sparkCast(p)
      val got = NearestCodeword.quantize12(p)
      val same =
        if (want == null) got == null
        else got != null &&
          got.toJavaBigDecimal.compareTo(want.toJavaBigDecimal) == 0
      assert(same, s"term $p (bits ${java.lang.Double.doubleToRawLongBits(p)})" +
        s": kernel $got vs Cast $want")
      n += 1
    }
    n
  }

  test("per-term quantizer ≡ Cast(double → decimal(38,12)) on 1.2M " +
    "seeded doubles") {
    val rnd = new java.util.Random(20261017L)
    val sigmas = Array(1e-3, 0.05, 0.3, 1.0, 10.0, 300.0)
    val squares = Iterator.fill(500000) {
      val s = sigmas(rnd.nextInt(sigmas.length))
      val d = rnd.nextGaussian() * s - rnd.nextGaussian() * s
      d * d
    }
    val spread = Iterator.fill(400000) {
      rnd.nextDouble() * math.pow(10, rnd.nextInt(44) - 20)
    }
    val bits = Iterator.fill(300000)(
      java.lang.Double.longBitsToDouble(rnd.nextLong()))
    assert(assertCastEqual(squares ++ spread ++ bits) == 1200000)
  }

  test("half-way values (n + 0.5)/1e12 and their neighbours round " +
    "HALF_UP exactly") {
    val rnd = new java.util.Random(7L)
    val ns = (0L to 2000L) ++
      Seq.fill(20000)(rnd.nextLong() & ((1L << 50) - 1)) ++
      Seq.fill(20000)(rnd.nextInt(1 << 30).toLong)
    val ps = ns.iterator.flatMap { n =>
      val h = (n + 0.5) / 1e12
      Iterator(h, Math.nextUp(h), Math.nextDown(h), -h)
    }
    assertCastEqual(ps)
    // the fixture really exercises ties: many of these doubles print
    // as an exact half-way decimal
    val ties = ns.count { n =>
      val bd = JBigDecimal.valueOf((n + 0.5) / 1e12).movePointRight(12)
      bd.remainder(JBigDecimal.ONE).compareTo(new JBigDecimal("0.5")) == 0
    }
    assert(ties > 1000, s"only $ties exact half-way decimals")
  }

  test("zeros, subnormals, large and non-finite terms") {
    val specials = Seq(0.0, -0.0, Double.MinPositiveValue, 1e-310,
      java.lang.Double.MIN_NORMAL, 5e-13, 4.9999999999999996e-13,
      1.5e-12, 2.5e-12, 8191.999999999999, 8192.0, 9.2e6, 9.3e6,
      1e15, Math.nextDown(1e15), Math.nextUp(1e15), 123456789012345.67,
      9.99999999999999e25, 1e26, 1e300, Double.MaxValue,
      Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity,
      -1.5e-12, -7.25)
    assertCastEqual(specials.iterator)
    assert(NearestCodeword.quantize12(Double.NaN) == null)
    assert(NearestCodeword.quantize12(1e26) == null, "39 digits overflow")
    assert(NearestCodeword.quantize12(-0.0).toJavaBigDecimal.signum == 0)
  }

  /** Σ Cast(term) over the given per-dim terms, exactly. */
  private def exactSum(terms: Seq[Double]): JBigDecimal =
    terms.map(p => sparkCast(p).toJavaBigDecimal)
      .foldLeft(JBigDecimal.ZERO.setScale(12))(_.add(_))

  test("a distance total past the long range falls back exactly; past " +
    "38 digits it is NULL, as SUM's overflow is") {
    // three terms of ~5e6: each fits an e12 long, their sum does not
    val xs = Seq(2236.0679774997897, 2236.0679774997898, 2237.1)
    val book = Codebook(1, xs.indices.map(d => (0, d, 0.0)))
    val row = NearestCodeword.nearest(book, new GenericArrayData(
      xs.map(x => x: Any).toArray)).getStruct(0, 3)
    val want = exactSum(xs.map(x => x * x))
    assert(want.movePointRight(12).compareTo(
      JBigDecimal.valueOf(Long.MaxValue)) > 0, "fixture must overflow a long")
    assert(row.getInt(0) == 0 && row.getLong(2) == 3L)
    assert(row.getDecimal(1, 38, 12).toJavaBigDecimal.compareTo(want) == 0,
      s"${row.getDecimal(1, 38, 12)} vs $want")
    // two 9e25 terms: each casts, the 1.8e26 total needs 39 digits
    val huge = Seq(9.4868329805051e12, 9.4868329805051e12)
    val hb = Codebook(1, Seq((0, 0, 0.0), (0, 1, 0.0)))
    val hr = NearestCodeword.nearest(hb, new GenericArrayData(
      huge.map(x => x: Any).toArray)).getStruct(0, 3)
    assert(huge.forall(x => sparkCast(x * x) != null))
    assert(hr.isNullAt(1) && hr.getLong(2) == 2L)
  }
}
