package org.apache.spark.sql

import org.apache.spark.sql.classic.ExpressionUtils

import graft.functions.{BloomBits, BloomContains, Codebook, DecDot18, DeflateRatio, DeflateRound9, DotProductD, KmvMins, LooSpanHashes, Md5Lane, NearestCodeword, NfcNormalize, SpanWindowHashes, TopSample, WordShingles}

/** Typed analysis errors for graft's SQL function builders (the
  * message-only `AnalysisException` constructor is `private[sql]`,
  * hence this object lives in `org.apache.spark.sql`).
  */
object GraftErrors {
  /** A function argument that must be a constant was not. */
  def nonConstantArgument(fn: String, pos: Int, why: String): AnalysisException =
    new AnalysisException(
      errorClass = "NON_FOLDABLE_ARGUMENT",
      messageParameters = Map(
        "funcName" -> s"`$fn`",
        "paramName" -> s"`arg$pos` ($why)",
        "paramType" -> "\"INT\""))
}

/** Bridge for graft's native Catalyst expressions into the public
  * `Column` API (Column↔Expression conversion is `private[sql]` in
  * Spark 4, hence this object lives in `org.apache.spark.sql`).
  */
object GraftColumns {

  /** Codegen'd dot product over array<double> — see [[DotProductD]]. */
  def dotProduct(a: Column, b: Column): Column =
    ExpressionUtils.column(DotProductD(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  /** Codegen'd exact-decimal dot product (Σ quantize18(a·b) as
    * DECIMAL(38,18)) — see [[DecDot18]].
    */
  def decDot18(a: Column, b: Column): Column =
    ExpressionUtils.column(DecDot18(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  /** Codegen'd per-subspace nearest codeword against a driver-side
    * codebook, exact DECIMAL(38,12) distances — see [[NearestCodeword]].
    */
  def nearestCodeword(v: Column, book: Codebook): Column =
    ExpressionUtils.column(
      NearestCodeword(ExpressionUtils.expression(v), book))

  /** Codegen'd deflation bridge round(c − s·v, 9) per element — see
    * [[DeflateRound9]].
    */
  def deflateRound9(c: Column, v: Column, s: Column): Column =
    ExpressionUtils.column(DeflateRound9(
      ExpressionUtils.expression(c), ExpressionUtils.expression(v),
      ExpressionUtils.expression(s)))

  /** Codegen'd per-offset window fingerprints — see
    * [[SpanWindowHashes]].
    */
  def spanWindowHashes(toks: Column, l: Int): Column =
    ExpressionUtils.column(
      SpanWindowHashes(ExpressionUtils.expression(toks), l))

  /** Codegen'd leave-one-out window fingerprints — see
    * [[LooSpanHashes]].
    */
  def looSpanHashes(toks: Column, l: Int): Column =
    ExpressionUtils.column(
      LooSpanHashes(ExpressionUtils.expression(toks), l))

  /** Codegen'd word n-shingles — see [[WordShingles]]. */
  def wordShingles(toks: Column, n: Int): Column =
    ExpressionUtils.column(
      WordShingles(ExpressionUtils.expression(toks), n))

  /** Codegen'd Unicode NFC normalization — see [[NfcNormalize]]. */
  def nfc(c: Column): Column =
    ExpressionUtils.column(NfcNormalize(ExpressionUtils.expression(c)))

  /** Codegen'd md5 digest lane as unsigned long — see [[Md5Lane]]. */
  def md5Lane(c: Column, startByte: Int, numBytes: Int): Column =
    ExpressionUtils.column(
      Md5Lane(ExpressionUtils.expression(c), startByte, numBytes))

  /** Bottom-k sketch aggregate over a long column — see [[KmvMins]]. */
  def kmvMins(c: Column, k: Int): Column =
    ExpressionUtils.column(
      KmvMins(ExpressionUtils.expression(c), k).toAggregateExpression())

  /** Bloom bit-array aggregate over a long column — see [[BloomBits]]. */
  def bloomAgg(c: Column, m: Int, k: Int): Column =
    ExpressionUtils.column(
      BloomBits(ExpressionUtils.expression(c), m, k).toAggregateExpression())

  /** Bounded top-n-by-key aggregate — see [[TopSample]]. */
  def topSample(key: Column, id: Column, payload: Column, n: Int): Column =
    ExpressionUtils.column(TopSample(
      ExpressionUtils.expression(key), ExpressionUtils.expression(id),
      ExpressionUtils.expression(payload), n).toAggregateExpression())

  /** Codegen'd zlib compression ratio — see [[DeflateRatio]]. */
  def deflateRatio(c: Column): Column =
    ExpressionUtils.column(DeflateRatio(ExpressionUtils.expression(c)))

  /** Codegen'd bloom membership probe — see [[BloomContains]]. */
  def bloomContains(bloom: Column, v: Column, m: Int, k: Int): Column =
    ExpressionUtils.column(BloomContains(
      ExpressionUtils.expression(bloom), ExpressionUtils.expression(v), m, k))

  /** Plan-time constant int argument for the SQL function builders —
    * THE extraction rule, shared by [[registerFunctions]] and
    * [[graft.GraftExtensions]] (two registration surfaces, one
    * behavior): a literal or foldable expression folds to its int
    * value; anything else is a typed analysis error, not an NPE from
    * `eval(null)` on a column reference.
    */
  def constInt(fn: String,
               e: org.apache.spark.sql.catalyst.expressions.Expression,
               pos: Int): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
    case other if other.foldable =>
      other.eval() match {
        case n: Number => n.intValue()
        case bad => throw GraftErrors.nonConstantArgument(
          fn, pos, s"folded to non-integer value $bad")
      }
    case _ => throw GraftErrors.nonConstantArgument(
      fn, pos, "argument is not a constant (foldable) expression")
  }

  /** Register graft's native functions on an existing session so SQL
    * users can call them (`SELECT graft_dot(a, b)`); the
    * [[graft.GraftExtensions]] class does the same at session build time
    * via `spark.sql.extensions`.
    */
  def registerFunctions(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_dot", exprs => DotProductD(exprs.head, exprs(1)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_nfc", exprs => NfcNormalize(exprs.head), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_deflate_ratio",
      exprs => DeflateRatio(exprs.head), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_md5lane", exprs => Md5Lane(exprs.head,
        constInt("graft_md5lane", exprs(1), 1),
        constInt("graft_md5lane", exprs(2), 2)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_kmv_mins", exprs => KmvMins(exprs.head,
        constInt("graft_kmv_mins", exprs(1), 1)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_bloom_agg", exprs => BloomBits(exprs.head,
        constInt("graft_bloom_agg", exprs(1), 1),
        constInt("graft_bloom_agg", exprs(2), 2)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_bloom_contains", exprs => BloomContains(exprs.head, exprs(1),
        constInt("graft_bloom_contains", exprs(2), 2),
        constInt("graft_bloom_contains", exprs(3), 3)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_top_sample", exprs => TopSample(exprs.head, exprs(1), exprs(2),
        constInt("graft_top_sample", exprs(3), 3)), "built-in")
  }
}
