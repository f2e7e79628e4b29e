package graft.functions

import java.math.{BigDecimal => JBigDecimal, BigInteger, RoundingMode}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, Decimal, DecimalType, DoubleType, IntegerType, LongType, StructField, StructType}

/** A PQ/k-means codebook held on the driver and shipped inside the
  * [[NearestCodeword]] expression: `subspaces` interleaved subspaces
  * (dimension `d` belongs to subspace `d % subspaces`), and per
  * subspace its codewords in ascending id order, each a list of
  * (dimension, component) pairs. It is the dim-level `(_cw, _dim, _c)`
  * codebook frame regrouped, so |codewords| × dims entries — a constant
  * of the index, never a function of corpus size.
  *
  * A null component is stored as NaN: both make the per-dim term NULL
  * under the session's non-ANSI cast, so the kernel skips either alike.
  */
final class Codebook private (
    val subspaces: Int,
    private[functions] val ids: Array[Array[Int]],
    private[functions] val dims: Array[Array[Array[Int]]],
    private[functions] val comps: Array[Array[Array[Double]]])
    extends Serializable {

  def size: Int = ids.map(_.length).sum

  override def toString: String = s"Codebook(m=$subspaces, codewords=$size)"
}

object Codebook {
  /** Regroup `(cw, dim, component)` entries into a codebook; a null
    * component is passed as NaN. A negative dim matches no vector
    * position and is dropped.
    */
  def apply(subspaces: Int, entries: Iterable[(Int, Int, Double)]): Codebook = {
    require(subspaces >= 1, "need at least one subspace")
    val bySub = entries.filter(_._2 >= 0)
      .groupBy { case (_, d, _) => d % subspaces }
    val subs = (0 until subspaces).map { s =>
      bySub.getOrElse(s, Nil).groupBy(_._1).toArray.sortBy(_._1).map {
        case (cw, es) => (cw, es.toArray.sortBy(_._2))
      }
    }
    new Codebook(subspaces,
      subs.map(_.map(_._1)).toArray,
      subs.map(_.map(_._2.map(_._2))).toArray,
      subs.map(_.map(_._2.map(_._3))).toArray)
  }
}

/** Nearest codeword per subspace of an array<double> vector — the
  * assign step of the k-means loop and of frozen-index serving as one
  * codegen'd pass, bit-identical to the exploded DECIMAL form
  * `pqNearestCodewords` in [[graft.ext.Similarity]]:
  *
  * {{{
  *   SUM(CAST((x_d − c_d) * (x_d − c_d) AS DECIMAL(38,12)))  -- _dist
  *   COUNT(*)                                                -- _nd
  *   GROUP BY (vector, subspace, codeword)
  *   first by (_dist ASC NULLS FIRST, _cw ASC) per (vector, subspace)
  * }}}
  *
  * Each term quantizes like Spark's non-ANSI `Cast(double →
  * decimal(38,12))` (the session policy — [[graft.sources.Tables.tune]]):
  * `BigDecimal.valueOf` (the shortest decimal string of the double),
  * then `setScale(12, HALF_UP)`; NaN/±Inf and values with more than 38
  * digits cast to NULL and SUM skips them. Terms are exact e12 longs: a
  * term away from a HALF_UP half-way point rounds from `p · 1e12` in
  * double arithmetic, whose error against the shortest decimal is
  * below 1.5 ulp of the product ([[quantize12]]); a term within 4 ulp
  * of a half-way point, a non-finite term, and one ≥ 1e15 take the
  * BigDecimal path. Sums use `Math.addExact` and continue as exact
  * BigIntegers on overflow; a total past 38 digits is NULL, as SUM's
  * overflow is.
  *
  * A codeword is a candidate for a subspace when at least one of its
  * dimensions exists in the vector (the equi-join on `_dim`); `_nd`
  * counts those dimensions, null elements included. The result holds
  * one element per subspace, NULL where the vector has no candidate
  * (a subspace past the vector's length, or an empty codebook); ties
  * go to the smallest codeword id.
  */
case class NearestCodeword(child: Expression, book: Codebook)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<double>, got ${other.catalogString}")
  }

  override def dataType: DataType = NearestCodeword.ResultType

  override def prettyName: String = "graft_nearest_codeword"

  override protected def nullSafeEval(v: Any): Any =
    NearestCodeword.nearest(book, v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("book", book, classOf[Codebook].getName)
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.functions.NearestCodeword.nearest($ref, $v);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object NearestCodeword {
  val ResultType: ArrayType = ArrayType(StructType(Seq(
    StructField("_cw", IntegerType, nullable = false),
    StructField("_dist", DecimalType(38, 12), nullable = true),
    StructField("_nd", LongType, nullable = false))), containsNull = true)

  /** Sentinel: the fast path cannot decide this term. */
  private val Undecided = Long.MinValue
  private val MaxUnscaled38 = BigInteger.TEN.pow(38)

  /** round_half_up(shortest-decimal(p) · 1e12) from double arithmetic,
    * or [[Undecided]]. `t = |p|·1e12` is within ulp(t)/2 of the exact
    * product and the shortest decimal within ulp(p)/2 of p, so the
    * decimal's scaled value is within 1.5 ulp(t) of `t`; outside 4
    * ulp(t) of a half-way point both round to the same integer.
    * `t − floor(t)` is exact. Beyond 2^52 ulp(t) ≥ 1, so every such
    * term is undecided.
    */
  private def fastE12(p: Double): Long = {
    val a = Math.abs(p)
    if (!(a < 1e15)) return Undecided // NaN, ±Inf, large
    val t = a * 1e12
    val fl = Math.floor(t)
    val f = t - fl
    if (Math.abs(f - 0.5) <= 4 * Math.ulp(t)) return Undecided
    val r = fl.toLong + (if (f > 0.5) 1L else 0L)
    if (p < 0) -r else r
  }

  /** Spark's non-ANSI `Cast(p AS DECIMAL(38,12))`, unscaled: null for
    * NaN/±Inf and for values that need more than 38 digits.
    */
  private def exactE12(p: Double): BigInteger = {
    if (java.lang.Double.isNaN(p) || java.lang.Double.isInfinite(p)) return null
    val bd = JBigDecimal.valueOf(p).setScale(12, RoundingMode.HALF_UP)
    if (bd.precision > 38) null else bd.unscaledValue
  }

  /** One term as Spark casts it, as a Decimal(38,12) (null when the
    * cast yields NULL) — the kernel's quantizer, exposed for its spec.
    */
  def quantize12(p: Double): Decimal = {
    val q = fastE12(p)
    if (q != Undecided) Decimal(q, 38, 12)
    else {
      val u = exactE12(p)
      if (u == null) null else Decimal(new JBigDecimal(u, 12), 38, 12)
    }
  }

  /** Per-subspace nearest codeword of `v` — see the class doc. */
  def nearest(book: Codebook, v: ArrayData): ArrayData = {
    val n = v.numElements()
    val out = new Array[Any](book.subspaces)
    var s = 0
    while (s < book.subspaces) {
      if (s < n) out(s) = nearestIn(book, v, n, s)
      s += 1
    }
    new GenericArrayData(out)
  }

  private def nearestIn(book: Codebook, v: ArrayData, n: Int,
                        s: Int): InternalRow = {
    val ids = book.ids(s)
    var found = false
    var bestCw = 0
    var bestNd = 0L
    var bestNull = false
    var bestL = 0L
    var bestBig: BigInteger = null
    var j = 0
    while (j < ids.length) {
      val ds = book.dims(s)(j)
      val cs = book.comps(s)(j)
      var nd = 0L
      var any = false
      var acc = 0L
      var big: BigInteger = null
      var i = 0
      while (i < ds.length) {
        val d = ds(i)
        if (d < n) {
          nd += 1
          if (!v.isNullAt(d)) {
            val diff = v.getDouble(d) - cs(i)
            val p = diff * diff
            var q = fastE12(p)
            var qBig: BigInteger = null
            var isNull = false
            if (q == Undecided) {
              val u = exactE12(p)
              if (u == null) isNull = true
              else if (u.bitLength < 64) q = u.longValue
              else qBig = u
            }
            if (!isNull) {
              any = true
              if (big == null && qBig == null) {
                try acc = Math.addExact(acc, q)
                catch { case _: ArithmeticException =>
                  big = BigInteger.valueOf(acc).add(BigInteger.valueOf(q))
                }
              } else {
                if (big == null) big = BigInteger.valueOf(acc)
                big = big.add(if (qBig != null) qBig else BigInteger.valueOf(q))
              }
            }
          }
        }
        i += 1
      }
      if (nd > 0) {
        // SUM of no non-null terms, or past 38 digits, is NULL
        val isNull = !any || (big != null && big.abs.compareTo(MaxUnscaled38) >= 0)
        // (dist ASC NULLS FIRST, cw ASC): ids ascend, so only a
        // strictly smaller distance replaces the incumbent
        val better = !found || (isNull && !bestNull) || (!isNull && !bestNull && {
          if (big == null && bestBig == null) acc < bestL
          else {
            val a = if (big != null) big else BigInteger.valueOf(acc)
            val b = if (bestBig != null) bestBig else BigInteger.valueOf(bestL)
            a.compareTo(b) < 0
          }
        })
        if (better) {
          found = true
          bestCw = ids(j)
          bestNd = nd
          bestNull = isNull
          bestL = acc
          bestBig = big
        }
      }
      j += 1
    }
    if (!found) null
    else {
      val dist =
        if (bestNull) null
        else if (bestBig == null) Decimal(bestL, 38, 12)
        else Decimal(new JBigDecimal(bestBig, 12), 38, 12)
      new GenericInternalRow(Array[Any](bestCw, dist, bestNd))
    }
  }
}
