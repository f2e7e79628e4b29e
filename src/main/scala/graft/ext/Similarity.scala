package graft.ext

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, GraftColumns, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StructField, StructType}

import graft.functions.Codebook

/** Similarity search over an embedding column (`array<float>`).
  *
  * Two paths:
  *  - [[bruteForceTopK]] / [[nearDupPairs]] — exact; the dot product is a
  *    `zip_with` + sequential-fold expression (codegen, no explode, no
  *    UDF). Query side is broadcast; cost is |queries| × |corpus| — the
  *    correct baseline, and the verification kernel for the ANN path.
  *  - [[withLshBuckets]] + [[lshTopK]] — the 100 TB path: sign-random-
  *    projection LSH over deterministic hyperplanes; candidates only
  *    within matching buckets (shuffle keyed on 16-bit bucket ids, never
  *    a cross join). Recall is probabilistic — it is unit-tested against
  *    brute force, not oracle-gated.
  */
object Similarity {

  /** Dot product with deterministic (left-fold) summation order —
    * matches DuckDB's `list_aggregate(list_transform(list_zip(..)),'sum')`
    * exactly, so cosine values are reproducible cross-engine. Backed by
    * the native codegen expression [[graft.functions.DotProductD]]
    * (same summation order as the HOF fold, ~5× faster in the all-pairs
    * kernel); [[dotFold]] keeps the pure-builtin form for cross-checks.
    */
  def dot(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftColumns.dotProduct(a, b)

  /** The higher-order-function reference implementation of [[dot]]. */
  def dotFold(a: Column, b: Column): Column =
    TextOps.foldSumDouble(zip_with(a, b, (x, y) => x * y))

  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = {
    val d = l2Norm(a) * l2Norm(b)
    when(d > 0, dot(a, b) / d)
  }

  /** Per-query rank-and-cut tail shared by every top-k kernel: rank
    * over (score desc, neighbor_id asc) — the deterministic tiebreak
    * discipline — keep `rank <= k`. Callers select their own output
    * schema (score column name and rank type are part of each oracle
    * contract).
    */
  private def rankTopK(scored: DataFrame, scoreCol: String,
                       k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col(scoreCol).desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Binary sign codes (s24): each vector collapses to one bit per
    * dimension (`v > 0`), packed into ceil(d/32)=2 32-bit words per
    * 64-dim vector, each carried in a BIGINT — 8× smaller than the
    * int8 quantization (s5), 32× smaller than float32. Words are
    * 32-bit because DuckDB's BIGINT `<<` rejects shift 63 (sign-bit
    * overflow); the JVM would wrap silently, so 32-bit words are also
    * the portable contract. One narrow projection inside codegen —
    * `zip_with` + a bit-OR fold, no UDF, no shuffle.
    *
    * Contract: dimensions ≤ 64 ONLY, enforced loudly — a 65th sign
    * bit has no word to land in, and silent truncation would return
    * plausible-but-wrong Hamming distances. Both twins guard (the
    * DuckDB side errors on any subscript past 64), so an oversized
    * corpus fails the job instead of the recall.
    */
  def binaryCodes(vecs: DataFrame, idCol: String = "vec_id",
                  vecCol: String = "embedding"): DataFrame = {
    def word(lo: Int, hi: Int, shiftBase: Int): String =
      s"aggregate(zip_with($vecCol, " +
        s"sequence(0, size($vecCol) - 1), " +
        s"(v, i) -> IF(v > 0 AND i >= $lo AND i < $hi, " +
        s"shiftleft(1L, i - $shiftBase), 0L)), " +
        "0L, (acc, b) -> acc | b)"
    val guard = s"assert_true(size($vecCol) <= 64, " +
      s"concat('binaryCodes: ', size($vecCol), '-dim vector exceeds " +
      "the 64-dim sign-code word contract'))"
    vecs.select(col(idCol).as("vec_id"),
      expr(s"IF($guard IS NULL, ${word(0, 32, 0)}, " +
        "CAST(NULL AS BIGINT))").as("w0"),
      expr(word(32, 64, 32)).as("w1"))
  }

  /** Hamming top-k over binary sign codes (s24): the third point on
    * the compression/recall frontier next to exact float (s1/s8),
    * int8 (s5/s14), and PQ (s15+) — binary hashing retrieval, where
    * distance is `popcount(a XOR b)` over [[binaryCodes]] words. At
    * 100 TB this is the cheapest possible first-pass scan: 8 bytes
    * per 64-dim vector stream past a broadcast query table with two
    * XOR+POPCNT ops per candidate, all inside whole-stage codegen;
    * the exact kernels then re-rank survivors (the s22 pattern).
    * Deterministic by construction — integer distances, (hamming asc,
    * neighbor_id asc) total order, no float rounding anywhere.
    */
  def hammingTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                  idCol: String = "vec_id",
                  vecCol: String = "embedding"): DataFrame = {
    val q = broadcast(binaryCodes(queries, idCol, vecCol)
      .select(col("vec_id").as("query_id"),
        col("w0").as("q0"), col("w1").as("q1")))
    val c = binaryCodes(corpus, idCol, vecCol)
      .select(col("vec_id").as("neighbor_id"),
        col("w0").as("c0"), col("w1").as("c1"))
      .repartition(col("neighbor_id"))
    val scored = c.crossJoin(q)
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (expr("bit_count(q0 ^ c0)") + expr("bit_count(q1 ^ c1)"))
          .cast("long").as("hamming"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("hamming").asc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"),
        col("rank").cast("long").as("rank"), col("hamming"))
  }

  /** Exact top-k cosine neighbors of each query vector.
    * `queries` and `corpus`: (idCol, vecCol) with array<float> vectors.
    * The query side is explicitly broadcast: at scale the corpus streams
    * partition-parallel past an in-memory query table, and the final
    * per-query top-k is a window over |queries| × |corpus| scored rows
    * pre-filtered per partition (rank on the ROUNDED cosine with an id
    * tiebreak — same determinism discipline as Q2).
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame = {
    // norms are computed ONCE per vector before the join (recomputing
    // dot(v,v) per pair tripled the fold work — measured); the corpus
    // side is repartitioned so the nested-loop stream parallelizes
    // instead of inheriting the scan's few input splits
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("qv"))
      .withColumn("qn", l2Norm(col("qv"))))
    val c = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).cast("array<double>").as("cv"))
      .withColumn("cn", l2Norm(col("cv")))
      .repartition(col("neighbor_id"))
    val scored = c.crossJoin(q)
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(when(col("qn") * col("cn") > 0,
          dot(col("qv"), col("cv")) / (col("qn") * col("cn"))), 6)
          .as("cosine"))
    rankTopK(scored, "cosine", k)
      .select("query_id", "neighbor_id", "rank", "cosine")
  }

  /** Maximum-inner-product top-k (s8): rank corpus vectors by raw
    * `dot(q, x)` — NOT cosine. The retrieval mode of recommender /
    * two-tower models, where vector MAGNITUDE is signal (a popular
    * item's long embedding should outrank an obscure near-parallel
    * one); normalizing would erase exactly that.
    *
    * Same kernel shape as [[bruteForceTopK]] minus the norms: broadcast
    * query side, repartitioned corpus stream, native [[dot]] inside
    * codegen, rank window per query. This is the exact kernel; at scale
    * MIPS reduces to cosine ANN by norm augmentation (append
    * `sqrt(M² − ‖x‖²)` to each corpus vector, a zero to each query —
    * the classic asymmetric transform), after which [[signLshBuckets]]
    * is the candidate path, with this kernel verifying — the same
    * division of labor as s2/s4.
    */
  def mipsTopK(queries: DataFrame, corpus: DataFrame, k: Int,
               idCol: String = "vec_id",
               vecCol: String = "embedding"): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("qv")))
    val c = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).cast("array<double>").as("cv"))
      .repartition(col("neighbor_id"))
    val scored = c.crossJoin(q)
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(dot(col("qv"), col("cv")), 6).as("inner_product"))
    rankTopK(scored, "inner_product", k)
      .select(col("query_id"), col("neighbor_id"),
        col("rank").cast("long").as("rank"), col("inner_product"))
  }

  /** Bucketed MIPS ANN — [[mipsTopK]]'s scale path, the norm
    * augmentation made concrete: every corpus vector gains one
    * coordinate `sqrt(M² − ‖x‖²)` (M = corpus max norm) and queries
    * gain a 0, so `dot(q', x') = dot(q, x)` while every augmented
    * corpus vector has norm M — inner-product order becomes angular
    * order, which sign-LSH buckets preserve.
    *
    * Candidates come from `nTables` INDEPENDENT hash tables (disjoint
    * plane ranges of the deterministic family), each a bucket
    * equi-join with Hamming-1 multi-probe on the query side — the
    * classic LSH recall dial: one table at 10× corpus recalls ~0.45,
    * the default 4 tables ~0.9+ (README, "MIPS ANN recall probe").
    * Shuffle is
    * O(nTables × (batch × (nPlanes+1) + corpus)) — linear in corpus,
    * never batch × corpus; cross-table duplicate candidates dedupe
    * BEFORE scoring (a candidate-sized exchange, not a corpus-sized
    * one). Scores are exact dots over the ORIGINAL vectors, so any
    * candidate the buckets surface is ranked exactly — approximation
    * shows up only as recall, never as a wrong score (recall-tested
    * against [[mipsTopK]] like the IVF path).
    */
  def mipsTopKAnn(queries: DataFrame, corpus: DataFrame, k: Int,
                  nPlanes: Int = 8, nTables: Int = 4,
                  idCol: String = "vec_id",
                  vecCol: String = "embedding"): DataFrame = {
    require(nPlanes >= 1 && nPlanes <= 62, "nPlanes in [1, 62]")
    require(nTables >= 1, "need at least one hash table")
    val tables = 0 until nTables
    val c0 = graft.std.Materialize.once(
      corpus.select(col(idCol).as("neighbor_id"),
          col(vecCol).cast("array<double>").as("cv"))
        .withColumn("cn", l2Norm(col("cv"))))
    val mRow = c0.agg(max(col("cn")).as("_m"))
    val cAugVec = concat(col("cv"), array(
      sqrt(greatest(col("_m") * col("_m") - col("cn") * col("cn"),
        lit(0.0)))))
    val cBuckets = c0.crossJoin(broadcast(mRow))
      .select(col("neighbor_id"), col("cv"), explode(array(tables.map(t =>
        struct(lit(t).as("t"),
          lshBucket(cAugVec, nPlanes, None, t * nPlanes).as("bucket"))): _*))
        .as("tb"))
      .select(col("neighbor_id"), col("cv"),
        col("tb.t").as("t"), col("tb.bucket").as("bucket"))
    // per table: the home bucket plus every Hamming-1 neighbor (one
    // tolerated plane disagreement). Query-side only and broadcast, so
    // the fan-out costs nTables × (nPlanes+1) probe rows per query,
    // not corpus work
    val qHome = tables.foldLeft(
      queries.select(col(idCol).as("query_id"),
        col(vecCol).cast("array<double>").as("qv"))) { (df, t) =>
      df.withColumn(s"_b$t",
        lshBucket(concat(col("qv"), array(lit(0.0))), nPlanes, None,
          t * nPlanes))
    }
    val probeStructs = tables.flatMap { t =>
      (col(s"_b$t") +: (0 until nPlanes).map(p =>
        col(s"_b$t").bitwiseXOR(lit(1L << p))))
        .map(b => struct(lit(t).as("t"), b.as("bucket")))
    }
    val qAug = broadcast(qHome
      .select(col("query_id"), col("qv"),
        explode(array(probeStructs: _*)).as("tb"))
      .select(col("query_id"), col("qv"),
        col("tb.t").as("t"), col("tb.bucket").as("bucket")))
    val scored = cBuckets.join(qAug, Seq("t", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      // a pair surfacing in several tables must score ONCE: within one
      // table a neighbor lives in exactly one bucket, across tables it
      // can collide — dedupe while the frame is still candidate-sized
      .select(col("query_id"), col("neighbor_id"), col("qv"), col("cv"))
      .dropDuplicates("query_id", "neighbor_id")
      .select(col("query_id"), col("neighbor_id"),
        round(dot(col("qv"), col("cv")), 6).as("inner_product"))
    rankTopK(scored, "inner_product", k)
      .select(col("query_id"), col("neighbor_id"),
        col("rank").cast("long").as("rank"), col("inner_product"))
  }

  /** Exact near-duplicate pairs (cosine ≥ threshold, id_a < id_b).
    * Quadratic by construction — the verification kernel. Use the LSH
    * path to *generate* candidates at scale, this to verify them.
    */
  def nearDupPairs(vectors: DataFrame, threshold: Double,
                   idCol: String = "vec_id",
                   vecCol: String = "embedding"): DataFrame = {
    val base = vectors.select(col(idCol),
      col(vecCol).cast("array<double>").as("v"))
      .withColumn("nm", l2Norm(col("v")))
    val a = base.select(col(idCol).as("id_a"), col("v").as("va"),
      col("nm").as("na")).repartition(col("id_a"))
    val b = broadcast(base.select(col(idCol).as("id_b"), col("v").as("vb"),
      col("nm").as("nb")))
    a.crossJoin(b)
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(when(col("na") * col("nb") > 0,
          dot(col("va"), col("vb")) / (col("na") * col("nb"))), 6)
          .as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Deterministic pseudo-random hyperplane component for (plane, dim):
    * hash-derived uniform in [-0.5, 0.5). Reproducible across engines
    * and runs — no RNG state.
    */
  private def planeComponent(plane: Int, dim: Column): Column =
    (TextOps.hash64(concat(lit(s"plane$plane|"), dim.cast("string"))) % 10000L)
      .cast("double") / 10000.0 - 0.5

  /** Scala-side mirror of [[planeComponent]]: same md5 bits, computed at
    * PLAN time so the plane vector can be a literal array (verified
    * equal to the expression form in `ExtSpec`).
    */
  private def planeComponentValue(plane: Int, dim: Int): Double = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s"plane$plane|$dim".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    (java.lang.Long.parseLong(hex.substring(0, 14), 16) % 10000L)
      .toDouble / 10000.0 - 0.5
  }

  /** Sign-random-projection bucket id over `nPlanes` hyperplanes: bit p =
    * sign(v · h_p). 16 planes → 65k buckets; near-identical vectors land
    * in the same bucket with high probability.
    *
    * When `dims` is known (any production embedding column has a fixed,
    * schema-level dimensionality), the planes become literal arrays and
    * each projection is one native codegen [[dot]] — same left-fold
    * summation order as the HOF form, so values are bit-identical, at a
    * fraction of the interpreter cost (HOF lambdas don't codegen).
    * Without `dims` the hyperplane components are derived per element in
    * the expression itself.
    */
  def lshBucket(vec: Column, nPlanes: Int, dims: Option[Int] = None,
                planeOffset: Int = 0): Column =
    (0 until nPlanes).map { p =>
      // planeOffset selects a disjoint plane range — how multi-table
      // LSH (mipsTopKAnn's nTables) gets INDEPENDENT hash tables from
      // the same deterministic plane family
      val proj = dims match {
        case Some(n) =>
          dot(vec, array((0 until n).map(d =>
            lit(planeComponentValue(p + planeOffset, d))): _*))
        case None =>
          TextOps.foldSumDouble(
            transform(vec, (x, i) => x * planeComponent(p + planeOffset, i)))
      }
      when(proj >= 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)

  def withLshBuckets(vectors: DataFrame, nPlanes: Int = 16,
                     vecCol: String = "embedding",
                     dims: Option[Int] = None): DataFrame =
    vectors.withColumn("bucket",
      lshBucket(col(vecCol).cast("array<double>"), nPlanes, dims))

  /** The accumulated-corpus side of the incremental embedding dedup,
    * prepped once: bucketed, cast, pre-normed. A production pipeline
    * persists this between increments (the embedding analogue of
    * [[graft.ext.Dedup.corpusState]]); a stream pins it for the query's
    * lifetime via [[graft.std.Materialize.pinUnregistered]].
    */
  def prepVectorCorpus(corpus: DataFrame, nPlanes: Int = 16,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding",
                       dims: Option[Int] = None): DataFrame =
    withLshBuckets(corpus, nPlanes, vecCol, dims)
      .select(col(idCol).as("cid"), col("bucket"),
        col(vecCol).cast("array<double>").as("vc"))
      .withColumn("nc", l2Norm(col("vc")))

  /** Classify a batch of new vectors against a [[prepVectorCorpus]]
    * frame: candidates share a sign-LSH bucket (equi-join on the bucket
    * id — shuffle O(batch + corpus rows), never batch × corpus), matches
    * are exact-cosine-verified at `threshold`. One row per batch vector:
    * status (`near_dup`/`unique`), in-bucket corpus candidate count, and
    * the best verified cosine (null when nothing verified). Per
    * increment only the batch side is hashed — O(batch) work against a
    * standing corpus, the embedding analogue of the d9 text increment.
    */
  def classifyVectors(corpusPrepped: DataFrame, batch: DataFrame,
                      threshold: Double, nPlanes: Int = 16,
                      idCol: String = "vec_id",
                      vecCol: String = "embedding",
                      dims: Option[Int] = None): DataFrame = {
    val b = withLshBuckets(batch, nPlanes, vecCol, dims)
      .select(col(idCol), col("bucket"),
        col(vecCol).cast("array<double>").as("vb"))
      .withColumn("nb", l2Norm(col("vb")))
    b.join(corpusPrepped, Seq("bucket"), "left")
      .select(col(idCol), col("cid"),
        round(when(col("nb") * col("nc") > 0,
          dot(col("vb"), col("vc")) / (col("nb") * col("nc"))), 6)
          .as("cosine"))
      .groupBy(col(idCol))
      .agg(count(col("cid")).as("n_candidates"),
        max(when(col("cosine") >= threshold, col("cosine")))
          .as("best_cosine"))
      .select(col(idCol),
        when(col("best_cosine").isNotNull, lit("near_dup"))
          .otherwise(lit("unique")).as("status"),
        col("n_candidates"), col("best_cosine"))
  }

  /** One-shot incremental embedding dedup: [[prepVectorCorpus]] +
    * [[classifyVectors]] without persisting the corpus side.
    */
  def incrementalEmbeddingDedup(batch: DataFrame, corpus: DataFrame,
                                threshold: Double, nPlanes: Int = 16,
                                dims: Option[Int] = None): DataFrame =
    classifyVectors(prepVectorCorpus(corpus, nPlanes, dims = dims),
      batch, threshold, nPlanes, dims = dims)

  /** Per-label centroid vectors (the IVF coarse quantizer): element-wise
    * mean via posexplode + grouped DECIMAL sum — two small shuffles,
    * centroid table is |labels| rows (broadcastable at any corpus size).
    * Components are exact-summed in DECIMAL and rounded to 6 dp (the s3
    * discipline): a double mean varies in the last ulps with partial-
    * aggregation order, which would make [[ivfTopK]]'s probe ranking —
    * and therefore its RESULT SET — depend on shuffle order; decimal
    * addition is exact and associative, so the centroid is one value on
    * every run and every engine.
    */
  def centroids(corpus: DataFrame, labelCol: String = "label",
                vecCol: String = "embedding"): DataFrame = {
    val ex = corpus.select(col(labelCol),
      posexplode(col(vecCol).cast("array<double>")).as(Seq("_pos", "_x")))
    ex.groupBy(col(labelCol), col("_pos"))
      .agg(round(sum(col("_x").cast("decimal(38,18)")).cast("double") /
        count(lit(1)), 6).as("_m"))
      .groupBy(col(labelCol))
      .agg(array_sort(collect_list(struct(col("_pos"), col("_m")))).as("_pm"))
      .select(col(labelCol),
        transform(col("_pm"), p => p.getField("_m")).as("centroid"))
  }

  /** Per-language centroid components in long form (lang, dim, centroid)
    * — [[centroids]]' oracle-gated twin. The per-dimension sum runs in
    * DECIMAL so the partial-aggregation order cannot move the mean (a
    * double sum varies in the last ulps with shuffle order; decimal
    * addition is exact and associative, and DuckDB folds the same
    * values to the same total). Shuffle volume is rows × dim skinny
    * (lang, dim, val) triples with map-side combine down to
    * |langs| × dim groups.
    */
  def langCentroids(docs: DataFrame, vecs: DataFrame): DataFrame = {
    val joined = docs.select(col("doc_id"), col("lang"))
      .join(vecs.select(col("vec_id"),
        col("embedding").cast("array<double>").as("_emb")),
        col("doc_id") === col("vec_id"))
    joined
      .select(col("lang"), posexplode(col("_emb")).as(Seq("dim", "_v")))
      .select(col("lang"), col("dim").cast("long").as("dim"), col("_v"))
      .groupBy(col("lang"), col("dim"))
      .agg(
        round(sum(col("_v").cast("decimal(38,18)")).cast("double") /
          count(lit(1)), 6).as("centroid"),
        count(lit(1)).as("n_vecs"))
  }

  /** Embedding-space drift monitor (s10): per-language centroid shift
    * between a reference and a current snapshot — the x16 PSI idea
    * carried into the representation space, where a scraper change or
    * extraction bug shows up as a centroid MOVE long before token
    * statistics notice. Per language: cosine between the two
    * centroids, the L2 shift, and the `drifted` verdict
    * (`cos < threshold`).
    *
    * 100 TB shape: each snapshot collapses to |langs| × dims centroid
    * rows via the s3 partial-agg kernel; everything after runs on
    * those tiny frames. Determinism: centroids are the s3 6-dp
    * DECIMAL-mean values; cross/self products of those doubles are
    * IEEE-exact-rounded and sum as DECIMAL(38,18) (the s7 device), so
    * the cosine is order-free; cos and l2 round to 6 dp.
    */
  def centroidDrift(refDocs: DataFrame, curDocs: DataFrame,
                    vecs: DataFrame, threshold: Double = 0.98)
      : DataFrame = {
    val ref = langCentroids(refDocs, vecs)
      .select(col("lang"), col("dim"), col("centroid").as("_rc"))
    val cur = langCentroids(curDocs, vecs)
      .select(col("lang"), col("dim"), col("centroid").as("_cc"))
    val dec = "decimal(38,18)"
    ref.join(cur, Seq("lang", "dim"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_dims"),
        sum((col("_rc") * col("_cc")).cast(dec)).as("_dot"),
        sum((col("_rc") * col("_rc")).cast(dec)).as("_rr"),
        sum((col("_cc") * col("_cc")).cast(dec)).as("_cs"),
        sum(((col("_rc") - col("_cc")) *
          (col("_rc") - col("_cc"))).cast(dec)).as("_d2"))
      .select(col("lang"), col("n_dims"),
        when(col("_rr") > 0 && col("_cs") > 0,
          round(col("_dot").cast("double") /
            (sqrt(col("_rr").cast("double")) *
              sqrt(col("_cs").cast("double"))), 6)).as("cos_sim"),
        round(sqrt(col("_d2").cast("double")), 6).as("l2_shift"))
      .withColumn("drifted",
        coalesce(col("cos_sim") < threshold, lit(true)))
  }

  /** Per-language embedding outliers (s7): each vector's cosine to its
    * language centroid, z-scored against the language's cosine
    * distribution — the embedding-space mis-clustering / mislabeled-data
    * detector a curation pipeline runs after language ID (a vector far
    * from its own language's center is a labeling or extraction error
    * candidate). Flags `z <= -zThreshold`.
    *
    * 100 TB shape: two broadcast joins against |langs|-sized frames
    * (centroids, then moment statistics) — the corpus streams past both
    * with no fact-side shuffle beyond the skinny centroid aggregation
    * (same (lang, dim, val) partial-agg shape as [[langCentroids]]).
    *
    * Determinism: centroids use the s3 DECIMAL-sum trick and round to
    * 6 dp, cosines round to 6 dp, and the per-language mean/variance
    * derive from DECIMAL sums of those rounded cosines (and of their
    * squares — a double×double product is IEEE-exact-rounded, hence
    * identical cross-engine before the exact decimal cast), so the
    * z-scores hash-compare exactly against the DuckDB twin.
    */
  def centroidOutliers(docs: DataFrame, vecs: DataFrame,
                       zThreshold: Double = 2.0): DataFrame = {
    // pinned: the labeled-vector frame feeds the centroid pass and the
    // scoring pass, and the scored frame feeds the moment rollup and
    // the output join — unpinned, each branch re-reads both tables and
    // re-runs the upstream joins (plan-audited)
    val joined = graft.std.Materialize.once(
      docs.select(col("doc_id"), col("lang"))
        .join(vecs.select(col("vec_id"),
          col("embedding").cast("array<double>").as("_emb")),
          col("doc_id") === col("vec_id")))
    val centVec = joined
      .select(col("lang"), posexplode(col("_emb")).as(Seq("_dim", "_x")))
      .groupBy(col("lang"), col("_dim"))
      .agg(round(sum(col("_x").cast("decimal(38,18)")).cast("double") /
        count(lit(1)), 6).as("_c"))
      .groupBy(col("lang"))
      .agg(array_sort(collect_list(struct(col("_dim"), col("_c"))))
        .as("_pm"))
      .select(col("lang"),
        transform(col("_pm"), p => p.getField("_c")).as("_cv"))
    val scored = graft.std.Materialize.once(
      joined.join(broadcast(centVec), Seq("lang"))
        .select(col("vec_id"), col("lang"),
          round(cosine(col("_emb"), col("_cv")), 6).as("cos_centroid")))
    val stats = scored.groupBy(col("lang")).agg(
      count(lit(1)).as("_n"),
      sum(col("cos_centroid").cast("decimal(38,18)")).as("_s1"),
      sum((col("cos_centroid") * col("cos_centroid"))
        .cast("decimal(38,18)")).as("_s2"))
    val n = col("_n").cast("double")
    val m = col("_s1").cast("double") / n
    val msq = col("_s2").cast("double") / n
    // sample variance from the exact moments; clamped at 0 against
    // rounding of m*m (all inputs deterministic, so the clamp is too)
    val std = sqrt(greatest((msq - m * m) * n / (n - lit(1.0)), lit(0.0)))
    val z = when(col("_n") > 1 && std > 0,
      round((col("cos_centroid") - m) / std, 4))
    scored.join(broadcast(stats), Seq("lang"))
      .select(col("vec_id"), col("lang"), col("cos_centroid"),
        z.as("z_score"),
        coalesce(z <= -zThreshold, lit(false)).as("is_outlier"))
  }

  /** Symmetric per-vector int8 quantization — the embedding-compression
    * step a vector store runs before indexing (4× smaller than float32,
    * dot products stay rank-faithful at int8 for cosine search). Scale
    * is per-vector (`max|v| / 127`); each component quantizes by
    * `floor(x·127/max + 0.5)` — floor-of-shifted rather than `round()`
    * because the two engines disagree on banker's rounding, while
    * `floor` on IEEE doubles is bit-exact everywhere. Emitted in long
    * form (vec_id, dim_idx, q, scale): integer codes hash-compare
    * exactly, and the explode is the same generator barrier that keeps
    * the per-vector max from re-inlining into every component.
    */
  def quantizeInt8(vecs: DataFrame, idCol: String = "vec_id",
                   vecCol: String = "embedding"): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    val base = vecs.select(col(idCol), v.as("_v"),
      array_max(transform(v, x => abs(x))).as("_m"))
    base.select(col(idCol), col("_m"),
        posexplode(col("_v")).as(Seq("_pos", "_x")))
      .select(col(idCol),
        col("_pos").cast("long").as("dim_idx"),
        when(col("_m") > 0,
          floor(col("_x") * 127.0 / col("_m") + 0.5))
          .otherwise(lit(0L)).cast("long").as("q"),
        round(col("_m") / 127.0, 6).as("scale"))
  }

  /** Quantization error report (s14): per-label reconstruction error
    * of the [[quantizeInt8]] codes — MSE and worst-dimension absolute
    * error of `x − q·scale`. The acceptance metric for the 4×
    * compression (the eval sibling of s13's recall: recall prices the
    * ANN trade, this prices the storage trade); a label whose error is
    * an outlier has a scale problem (one huge dimension starving the
    * rest of the int8 range).
    *
    * 100 TB shape: one explode pass over the vectors, partial-agg
    * collapse to |labels| rows — no joins at all (the dequantized
    * value is recomputed in the same expression pipeline that
    * quantized it).
    *
    * Determinism: q and x are exact; scale is the 6-dp-rounded double
    * both engines share; squared errors ride DECIMAL(38,12) so the sum
    * is order-free; mse and max error round once (9 dp).
    */
  def quantizationError(vecs: DataFrame, idCol: String = "vec_id",
                        vecCol: String = "embedding",
                        labelCol: String = "label"): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    val base = vecs.select(col(labelCol).as("_lbl"), v.as("_v"),
      array_max(transform(v, x => abs(x))).as("_m"))
    val per = base
      .select(col("_lbl"), col("_m"),
        posexplode(col("_v")).as(Seq("_pos", "_x")))
      .select(col("_lbl"), col("_x"),
        when(col("_m") > 0,
          floor(col("_x") * 127.0 / col("_m") + 0.5))
          .otherwise(lit(0L)).cast("long").as("_q"),
        round(col("_m") / 127.0, 6).as("_scale"))
      .withColumn("_err",
        col("_x") - col("_q").cast("double") * col("_scale"))
    per.groupBy(col("_lbl").as("label"))
      .agg(count(lit(1)).as("n_dims"),
        sum((col("_err") * col("_err")).cast("decimal(38,12)"))
          .as("_sse"),
        max(abs(col("_err"))).as("_mx"))
      .select(col("label"), col("n_dims"),
        round(col("_sse").cast("double") / col("n_dims"), 9).as("mse"),
        round(col("_mx"), 9).as("max_abs_err"))
  }

  /** IVF-style ANN top-k: probe the `nprobe` nearest centroids per query
    * (tiny broadcast cross join), then exact-rank only within the probed
    * inverted lists — the corpus-side join is an equi-join on the label,
    * so at scale each query touches nprobe/|labels| of the data instead
    * of all of it. Recall is probabilistic (unit-tested vs brute force).
    *
    * Determinism (s9 oracle contract): the probe similarity ranks on the
    * ROUNDED 6 dp cosine with a label-ascending tiebreak, over DECIMAL-
    * exact rounded centroids ([[centroids]]) — so which inverted lists
    * get probed, and hence the result set, is identical across runs,
    * partitionings, and engines. Final scores are exact cosines on the
    * surfaced candidates, same rank discipline as [[bruteForceTopK]].
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int, nprobe: Int = 2,
              idCol: String = "vec_id", vecCol: String = "embedding",
              labelCol: String = "label"): DataFrame = {
    val cents = broadcast(centroids(corpus, labelCol, vecCol)
      .withColumn("cn", l2Norm(col("centroid"))))
    val q = queries.select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("qv"))
      .withColumn("qn", l2Norm(col("qv")))
    val probeW = Window.partitionBy(col("query_id"))
      .orderBy(col("_csim").desc, col(labelCol).asc)
    val probed = q.crossJoin(cents)
      .withColumn("_csim", round(when(col("qn") * col("cn") > 0,
        dot(col("qv"), col("centroid")) / (col("qn") * col("cn"))), 6))
      .withColumn("_pr", row_number().over(probeW))
      .filter(col("_pr") <= nprobe)
      .select(col("query_id"), col("qv"), col("qn"), col(labelCol))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(labelCol),
      col(vecCol).cast("array<double>").as("cv"))
      .withColumn("cn", l2Norm(col("cv")))
    val scored = probed.join(c, labelCol)
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(when(col("qn") * col("cn") > 0,
          dot(col("qv"), col("cv")) / (col("qn") * col("cn"))), 6)
          .as("cosine"))
    rankTopK(scored, "cosine", k)
      .select("query_id", "neighbor_id", "rank", "cosine")
  }

  /** [[ivfTopK]] over a TRAINED coarse quantizer (s9's r13 form):
    * cells come from the deterministic k-means loop instead of a
    * label column, and the probe ranks against the TRAINED centroids
    * (what FAISS's IVF does), not member means — so the inverted
    * lists are Voronoi cells of the embedding geometry and a query's
    * true neighbors concentrate in its probed lists. Scoring inside
    * the probed cells is the exact 6-dp cosine with the same rank
    * discipline as [[ivfTopK]]; schema is identical, so the recall
    * pricer (s13) composes unchanged.
    */
  def ivfTopKTrained(queries: DataFrame, corpus: DataFrame, k: Int,
                     nprobe: Int = 2, cells: Int = 8,
                     cellIters: Int = 4, idCol: String = "vec_id",
                     vecCol: String = "embedding",
                     memoTag: Option[String] = None): DataFrame = {
    val (cellCb, cellAssign) = kmeansLoopShared(corpus.sparkSession,
      graft.std.Materialize.once(vecFrame(corpus, idCol, vecCol)), 1,
      cells, cellIters, "km", memoTag)
    val cellOf = cellAssign.select(col("_vid").as("neighbor_id"),
      col("_cw").as("_cell"))
    val cents = broadcast(cellCb
      .groupBy(col("_cw").as("_cell"))
      .agg(array_sort(collect_list(struct(col("_dim"), col("_c"))))
        .as("_pm"))
      .select(col("_cell"),
        transform(col("_pm"), p => p.getField("_c")).as("centroid"))
      .withColumn("cn", l2Norm(col("centroid"))))
    val q = queries.select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("qv"))
      .withColumn("qn", l2Norm(col("qv")))
    val probeW = Window.partitionBy(col("query_id"))
      .orderBy(col("_csim").desc, col("_cell").asc)
    val probed = q.crossJoin(cents)
      .withColumn("_csim", round(when(col("qn") * col("cn") > 0,
        dot(col("qv"), col("centroid")) / (col("qn") * col("cn"))), 6))
      .withColumn("_pr", row_number().over(probeW))
      .filter(col("_pr") <= nprobe)
      .select(col("query_id"), col("qv"), col("qn"), col("_cell"))
    val c = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).cast("array<double>").as("cv"))
      .withColumn("cm", l2Norm(col("cv")))
      .join(cellOf, Seq("neighbor_id"))
    val scored = probed.join(c, Seq("_cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(when(col("qn") * col("cm") > 0,
          dot(col("qv"), col("cv")) / (col("qn") * col("cm"))), 6)
          .as("cosine"))
    rankTopK(scored, "cosine", k)
      .select("query_id", "neighbor_id", "rank", "cosine")
  }

  /** ANN near-dup pairs: candidates share an LSH bucket (equi-join on
    * the bucket id — shuffle, not cross join), then exact-cosine verify.
    * This is the 100 TB embedding-dedup path: shuffle volume is one
    * (id, bucket, vector) row per vector keyed on the 16-bit bucket,
    * and comparisons happen only inside buckets — [[nearDupPairs]]'
    * all-pairs kernel exists to verify THIS one's recall.
    *
    * The bucketed frame feeds both self-join sides and the bucket
    * projection costs nPlanes folds per vector — pinned so it computes
    * once (the diamond class [[graft.std.Materialize]] exists for).
    */
  def lshNearDupPairs(vectors: DataFrame, threshold: Double,
                      nPlanes: Int = 16, idCol: String = "vec_id",
                      vecCol: String = "embedding",
                      dims: Option[Int] = None): DataFrame = {
    val bv = graft.std.Materialize.once(
      withLshBuckets(vectors, nPlanes, vecCol, dims)
        .select(col(idCol), col("bucket"),
          col(vecCol).cast("array<double>").as("v"))
        .withColumn("nm", l2Norm(col("v"))))
    val a = bv.select(col(idCol).as("id_a"), col("bucket"), col("v").as("va"),
      col("nm").as("na"))
    val b = bv.select(col(idCol).as("id_b"), col("bucket"), col("v").as("vb"),
      col("nm").as("nb"))
    a.join(b, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(when(col("na") * col("nb") > 0,
          dot(col("va"), col("vb")) / (col("na") * col("nb"))), 6)
          .as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Sign-LSH bucket purity (s12): per-bucket label homogeneity — the
    * cluster-quality readout for the hashing tier ([[signLshBuckets]]
    * feeds s4/s6/d11; this measures how well those buckets respect the
    * labels). A labeled corpus whose buckets go impure at a given
    * nPlanes tells you the hash family is too coarse for that data —
    * the tuning signal next to t50's band sweep, in the embedding
    * domain.
    *
    * 100 TB shape: vectors collapse to (bucket, label) pairs in one
    * partial-agg shuffle; everything downstream runs on the
    * |buckets| × |labels| count frame. Purity is an exact truncating
    * fixed-point division (the x31 device); the majority label is
    * pinned (count DESC, label ASC).
    *
    * Returns (bucket, n, majority_label, n_majority, purity_e9,
    * purity).
    */
  def bucketPurity(vectors: DataFrame, nPlanes: Int,
                   vecCol: String = "embedding",
                   labelCol: String = "label",
                   dims: Option[Int] = None): DataFrame = {
    val counts = withLshBuckets(vectors, nPlanes, vecCol, dims)
      .select(col("bucket"), col(labelCol).as("_l"))
      .groupBy(col("bucket"), col("_l")).agg(count(lit(1)).as("_c"))
    val tot = counts.groupBy(col("bucket")).agg(sum(col("_c")).as("n"))
    val byCount = org.apache.spark.sql.expressions.Window
      .partitionBy(col("bucket"))
      .orderBy(col("_c").desc, col("_l").asc)
    counts.withColumn("_rn", row_number().over(byCount))
      .filter(col("_rn") === 1)
      .join(tot, Seq("bucket"))
      .select(col("bucket"), col("n"),
        col("_l").as("majority_label"), col("_c").as("n_majority"),
        expr("CAST(CAST(_c AS DECIMAL(38,0)) * 1000000000 " +
          "div n AS BIGINT)").as("purity_e9"))
      .withColumn("purity",
        col("purity_e9").cast("double") / lit(1e9))
  }

  /** Retrieval recall@k (s13): per-query overlap between a candidate
    * retriever's top-k and the exact top-k — the acceptance metric for
    * every ANN path in this library (s4/s9/ANN trade recall for the
    * bucketed shuffle; this query prices that trade ON the corpus
    * instead of trusting the probe README). Run it on a probe sample
    * by construction: the exact side is the quadratic kernel, which is
    * affordable precisely because |queries| is small — the corpus side
    * of BOTH retrievers stays fully distributed.
    *
    * `ann` and `exact` are (query_id, neighbor_id, ...) frames; recall
    * is an exact truncating fixed-point division (the x31 device).
    *
    * Returns (query_id, n_hits, k, recall_e9, recall).
    */
  def recallAtK(ann: DataFrame, exact: DataFrame, k: Int): DataFrame = {
    val a = ann.select(col("query_id"), col("neighbor_id"))
      .withColumn("_hit", lit(1L))
    exact.select(col("query_id"), col("neighbor_id"))
      .join(a, Seq("query_id", "neighbor_id"), "left_outer")
      .groupBy(col("query_id"))
      .agg(coalesce(sum(col("_hit")), lit(0L)).as("n_hits"))
      .select(col("query_id"), col("n_hits"), lit(k).as("k"),
        expr(s"CAST(CAST(n_hits AS DECIMAL(38,0)) * 1000000000 " +
          s"div $k AS BIGINT)").as("recall_e9"))
      .withColumn("recall", col("recall_e9").cast("double") / lit(1e9))
  }

  /** Hubness report (s32): the k-occurrence distribution N_k over the
    * corpus — for a probe query panel, how many queries' top-k lists
    * each corpus vector appears in, rolled up as a histogram
    * (k_occurrences, n_vectors) INCLUDING the zero row (antihubs:
    * vectors no query ever retrieves). The classic high-dimensional
    * pathology readout (Radovanović et al., JMLR 2010): as intrinsic
    * dimension grows, a few hub vectors crowd into everyone's top-k
    * while antihubs become unreachable — skewed N_k silently degrades
    * ANN recall, kNN classification (t-ish hubs dominate votes), and
    * retrieval diversity (the s31 problem at corpus grain). Next to
    * s21's anisotropy this is the second embedding-space health gate
    * a corpus passes BEFORE an index ships: a long-tailed histogram
    * says fix the space (center/whiten — s21's readout says how),
    * not the index.
    *
    * The top-k lists here come from the exact s1 kernel (the
    * verification oracle); at scale they come from the SERVED index
    * path (s29's assignments / s13's probes) — the readout is
    * list-source-agnostic, everything after the lists is two partial
    * aggs on |panel|·k rows plus one corpus count for the zero row.
    *
    * Returns (k_occurrences, n_vectors), zero row included.
    */
  def hubness(queries: DataFrame, corpus: DataFrame, k: Int,
              idCol: String = "vec_id",
              vecCol: String = "embedding"): DataFrame = {
    val top = bruteForceTopK(queries, corpus, k, idCol, vecCol)
    val occ = top.groupBy(col("neighbor_id"))
      .agg(count(lit(1)).as("k_occ"))
    val hist = graft.std.Materialize.once(
      occ.groupBy(col("k_occ").as("k_occurrences"))
        .agg(count(lit(1)).as("n_vectors")))
    val zeroRow = corpus.agg(count(lit(1)).as("_n"))
      .crossJoin(broadcast(
        hist.agg(coalesce(sum(col("n_vectors")), lit(0L)).as("_r"))))
      .select(lit(0L).as("k_occurrences"),
        (col("_n") - col("_r")).as("n_vectors"))
    hist.unionByName(zeroRow)
  }

  /** Product-quantization report (s15): the subvector-codebook
    * compression that completes the IVF-PQ stack — [[ivfTopK]] prunes
    * WHICH vectors a query touches, [[quantizeInt8]]/s14 prices
    * scalar compression, and PQ is the industry-standard step between
    * them (each vector stored as `subspaces` small codeword ids,
    * reconstruction = concatenated codewords). Dimensions assign to
    * subspaces round-robin (`dim mod subspaces`) so the decomposition
    * needs no knowledge of the vector width; the per-subspace codebook
    * is the per-label centroid restricted to that subspace's
    * dimensions (the deterministic s9 coarse-quantizer discipline —
    * production swaps in k-means codebooks, everything downstream is
    * unchanged), and each subvector is assigned its NEAREST codeword
    * by L2, which need not be the vector's own label.
    *
    * Per subspace: vectors encoded, distinct codewords actually used
    * (a collapsed subspace wastes its code budget), per-dimension MSE
    * of the reconstruction, and the worst single subvector SSE.
    *
    * 100 TB shape: the codebook is |labels| × dims rows — broadcast;
    * distances come from ONE equi-join of the exploded corpus with
    * that broadcast on `dim`, partial-aggregated to (vec, subspace,
    * codeword); the argmin window partitions by (vec, subspace) —
    * bounded by the codebook size, never the corpus. No all-pairs
    * term anywhere.
    *
    * Determinism: centroids are 6-dp DECIMAL-sum means (s3); squared
    * errors ride DECIMAL(38,12) so subvector SSEs are exact and their
    * comparison total (ties break on codeword id); mse/max round once
    * at 9 dp.
    */
  /** Exact squared-L2 top-k — [[bruteForceTopK]]'s sibling in
    * DISTANCE space (rank ascending on the 6-dp-rounded distance, id
    * ties), so [[ivfPqTopK]] has an exact baseline in its own metric:
    * s17's recall prices cell pruning + PQ approximation against
    * this, not against a cosine ranking that would confound the
    * metric with the index. Same broadcast-queries / corpus-streams
    * shape as the cosine kernel; a verification kernel by
    * construction (the ANN paths are the scale route).
    */
  def bruteForceTopKL2(queries: DataFrame, corpus: DataFrame, k: Int,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding"): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("qv")))
    val c = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).cast("array<double>").as("cv"))
      .repartition(col("neighbor_id"))
    val scored = c.crossJoin(q)
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(TextOps.foldSumDouble(zip_with(col("qv"), col("cv"),
          (x, y) => (x - y) * (x - y))), 6).as("dist2"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("dist2").asc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        col("dist2"))
  }

  /** Per-(entity, subspace, codeword) squared L2 distance between an
    * exploded vector frame (`_vid`, `_sub`, `_dim`, `_x`) and a
    * dim-level codebook (`_cw`, `_dim`, `_c`): the PQ distance kernel
    * shared by [[pqReport]] (corpus → codes) and [[ivfPqTopK]] (both
    * the stored codes and the query-side ADC tables). One broadcast
    * equi-join on `_dim`, partial-agg to (entity, subspace, codeword);
    * squared errors ride DECIMAL(38,12) so every distance is exact and
    * their comparison total.
    */
  private def pqSubspaceDists(ex: DataFrame, cb: DataFrame): DataFrame =
    ex.join(broadcast(cb), Seq("_dim"))
      .select(col("_vid"), col("_sub"), col("_cw"),
        ((col("_x") - col("_c")) * (col("_x") - col("_c")))
          .cast("decimal(38,12)").as("_sq"))
      .groupBy(col("_vid"), col("_sub"), col("_cw"))
      .agg(sum(col("_sq")).as("_dist"), count(lit(1)).as("_nd"))

  /** The PQ ENCODE step: each (entity, subspace)'s nearest codeword by
    * exact DECIMAL L2, ties to the smallest codeword id. Keeps `_dist`
    * and `_nd` so [[pqReport]] can price the reconstruction without a
    * second pass.
    */
  private[ext] def pqNearestCodewords(ex: DataFrame, cb: DataFrame)
      : DataFrame = {
    val byDist = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_vid"), col("_sub"))
      .orderBy(col("_dist").asc, col("_cw").asc)
    pqSubspaceDists(ex, cb)
      .withColumn("_rn", row_number().over(byDist))
      .filter(col("_rn") === 1)
      .drop("_rn")
  }

  /** The dim-level PQ codebook from an exploded frame carrying its
    * codeword source as `_cw0`: per-(codeword, dim) 6-dp DECIMAL-mean
    * centroid components (the s3 discipline). |codewords| × dims rows
    * — broadcastable at any corpus size.
    */
  private def pqCodebookFrom(ex: DataFrame): DataFrame =
    ex.groupBy(col("_cw0").as("_cw"), col("_dim"))
      .agg(round(sum(col("_x").cast("decimal(38,18)")).cast("double") /
        count(lit(1)), 6).as("_c"))

  /** The (`_vid`, `_sub`, `_dim`, `_x`) exploded frame the PQ kernels
    * run on; `extra` carries side columns (e.g. the codebook label).
    */
  private[ext] def pqExplode(vecs: DataFrame, subspaces: Int, idCol: String,
                        vecCol: String,
                        extra: Seq[(String, String)] = Nil): DataFrame =
    vecs.select(Seq(col(idCol).as("_vid")) ++
        extra.map { case (c, a) => col(c).as(a) } :+
        posexplode(col(vecCol).cast("array<double>"))
          .as(Seq("_dim", "_x")): _*)
      .withColumn("_dim", col("_dim").cast("long"))
      .withColumn("_sub", (col("_dim") % subspaces).cast("int"))

  def pqReport(vecs: DataFrame, subspaces: Int = 8,
               idCol: String = "vec_id", vecCol: String = "embedding",
               labelCol: String = "label"): DataFrame = {
    require(subspaces >= 1, "need at least one subspace")
    val ex = graft.std.Materialize.once(
      pqExplode(vecs, subspaces, idCol, vecCol,
        extra = Seq(labelCol -> "_cw0")))
    val cb = pqCodebookFrom(ex)
    val chosen = pqNearestCodewords(ex, cb)
    chosen.groupBy(col("_sub").as("subspace"))
      .agg(count(lit(1)).as("n_vecs"),
        countDistinct(col("_cw")).as("n_codewords_used"),
        round(sum(col("_dist")).cast("double") /
          sum(col("_nd")).cast("double"), 9).as("mse"),
        round(max(col("_dist")).cast("double"), 9).as("max_vec_sse"))
  }

  /** k-NN label classification (s11): predict each query vector's
    * label by majority vote among its k nearest cosine neighbors —
    * the classic embedding-space sanity probe (a labeled corpus whose
    * k-NN accuracy collapses has an embedding problem, not a data
    * problem; run it after every re-embed alongside the s10 drift
    * monitor).
    *
    * Neighbors come from [[bruteForceTopK]] — the exact verification
    * kernel, at probe-set scale by construction; at 100 TB the
    * candidate source swaps to the bucketed ANN path
    * ([[signLshBuckets]] / [[mipsTopKAnn]]) and everything from the
    * vote down is unchanged: an O(|queries| × k) aggregation. Ties are
    * pinned (votes DESC, label ASC), so the prediction is
    * deterministic in both engines.
    *
    * Returns (query_id, true_label, predicted_label, n_votes,
    * correct).
    */
  def knnClassify(queries: DataFrame, corpus: DataFrame, k: Int,
                  idCol: String = "vec_id",
                  vecCol: String = "embedding",
                  labelCol: String = "label"): DataFrame = {
    val nn = bruteForceTopK(queries, corpus, k, idCol, vecCol)
    val votes = nn
      .join(corpus.select(col(idCol).as("neighbor_id"),
        col(labelCol).as("_nl")), Seq("neighbor_id"))
      .groupBy(col("query_id"), col("_nl"))
      .agg(count(lit(1)).as("n_votes"))
    val byVotes = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("n_votes").desc, col("_nl").asc)
    votes.withColumn("_rn", row_number().over(byVotes))
      .filter(col("_rn") === 1)
      .join(queries.select(col(idCol).as("query_id"),
        col(labelCol).as("true_label")), Seq("query_id"))
      .select(col("query_id"), col("true_label"),
        col("_nl").as("predicted_label"), col("n_votes"),
        (col("_nl") === col("true_label")).as("correct"))
  }

  /** IVF-PQ top-k (s16): the composed production ANN query — IVF
    * pruning decides WHICH vectors a query touches ([[ivfTopK]]'s
    * probe discipline over the `cellCol` coarse quantizer), and PQ
    * asymmetric distance computation (ADC) decides how CHEAPLY each
    * touched vector is scored: the corpus side is represented only by
    * its per-subspace codeword ids ([[pqReport]]'s encode), so scoring
    * reads `subspaces` small ids per candidate instead of the full
    * vector, against a per-query distance table built once from the
    * codebook. This is the FAISS `IVF_PQ` shape, the architecture
    * every billion-vector deployment runs.
    *
    * 100 TB shape: the codebook (|codewords| × dims) and the per-query
    * ADC tables (|queries| × subspaces × |codewords|) are broadcast-
    * tiny; codes are a write-time artifact (at 8 subspaces, 8 ids per
    * vector — the 32× storage cut is the point); the only corpus-sized
    * work is the cell equi-join (touching nprobe/|cells| of the data)
    * followed by one partial-agg sum of `subspaces` decimal lookups
    * per candidate. No full-vector read anywhere on the query path.
    * The ONE sizing contract: |codewords| is a CONSTANT of the trained
    * codebook (FAISS deployments use 256), never a function of corpus
    * size — the encode join is |corpus| × |codewords| rows, and the
    * README's "IVF-PQ scale probe" records what letting the codeword
    * space grow with the data does (3.3 → 134 s at 10×, quadratic) vs
    * the fixed-codebook shape (3.7 → 6.6 s, sub-linear).
    *
    * Determinism: cells probe on 6-dp cosines over DECIMAL-exact
    * centroids (s9); codes and ADC entries are DECIMAL(38,12)-exact
    * squared distances (s15), so the ADC total is exact and the final
    * (adc asc, neighbor id asc) rank is a total order — the result
    * set is bit-identical across runs, partitionings, and engines.
    * Like every ANN path here, RECALL is the trade: scores are
    * approximations priced by s13/s14-style reports, and the oracle
    * twin recomputes this exact pipeline, not brute force.
    *
    * Returns (query_id, neighbor_id, rank, adc_dist), rank ≤ k per
    * query, adc_dist the 9-dp reconstruction-space squared distance.
    */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                nprobe: Int = 2, subspaces: Int = 8,
                idCol: String = "vec_id", vecCol: String = "embedding",
                cellCol: String = "cell",
                codebookCol: String = "label"): DataFrame = {
    require(k >= 1, "need k >= 1")
    require(nprobe >= 1, "need nprobe >= 1")
    require(subspaces >= 1, "need at least one subspace")
    // ---- write-time artifacts: codebook, codes, cell assignments ----
    val ex = graft.std.Materialize.once(
      pqExplode(corpus, subspaces, idCol, vecCol,
        extra = Seq(codebookCol -> "_cw0")))
    val cb = pqCodebookFrom(ex)
    val codes = pqNearestCodewords(ex, cb)
      .select(col("_vid").as("neighbor_id"), col("_sub"), col("_cw"))
    val cells = corpus.select(col(idCol).as("neighbor_id"), col(cellCol))
    // ---- query side: probe cells (s9), build ADC tables (s15) ----
    val cents = broadcast(centroids(corpus, cellCol, vecCol)
      .withColumn("cn", l2Norm(col("centroid"))))
    val q = queries.select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("qv"))
      .withColumn("qn", l2Norm(col("qv")))
    val probeW = Window.partitionBy(col("query_id"))
      .orderBy(col("_csim").desc, col(cellCol).asc)
    val probed = q.crossJoin(cents)
      .withColumn("_csim", round(when(col("qn") * col("cn") > 0,
        dot(col("qv"), col("centroid")) / (col("qn") * col("cn"))), 6))
      .withColumn("_pr", row_number().over(probeW))
      .filter(col("_pr") <= nprobe)
      .select(col("query_id"), col(cellCol))
    val adcTable = pqSubspaceDists(
        pqExplode(queries, subspaces, idCol, vecCol), cb)
      .select(col("_vid").as("query_id"), col("_sub"), col("_cw"),
        col("_dist"))
    // ---- the query path: cells in, codes scored, top-k out ----
    // probed (|queries| × nprobe) and the ADC tables broadcast — a
    // query BATCH is broadcast-sized by construction; the one big-big
    // join left is candidates ⋈ codes on the vector id, which is the
    // inverted-list read IVF exists to bound
    val adc = broadcast(probed).join(cells, Seq(cellCol))
      .filter(col("query_id") =!= col("neighbor_id"))
      .join(codes, Seq("neighbor_id"))
      .join(broadcast(adcTable), Seq("query_id", "_sub", "_cw"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(sum(col("_dist")).as("_adc"))
    val rankW = Window.partitionBy(col("query_id"))
      .orderBy(col("_adc").asc, col("neighbor_id").asc)
    adc.withColumn("rank", row_number().over(rankW))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        round(col("_adc").cast("double"), 9).as("adc_dist"))
  }

  // -------------------------------------------------------------------
  // Deterministic k-means (s18): the TRAINER FAISS runs before IVF/PQ.
  // -------------------------------------------------------------------

  /** The (`_vid`, `_v`) array-grain frame the k-means loop trains on. */
  private def vecFrame(vecs: DataFrame, idCol: String,
                       vecCol: String): DataFrame =
    vecs.select(col(idCol).as("_vid"),
      col(vecCol).cast("array<double>").as("_v"))

  /** A `(_cw, _dim, _c)` codebook frame collected into the driver-side
    * [[graft.functions.Codebook]] the nearest-codeword kernel reads.
    */
  private[ext] def codebookOf(cb: DataFrame, subspaces: Int): Codebook =
    bookOf(subspaces, cb.select(col("_cw").cast("int"),
      col("_dim").cast("int"), col("_c").cast("double")).collect().toSeq)

  /** The codebook of rows holding (cw, dim, component) from column
    * `at` on; rows without a cw or dim join nothing and are skipped.
    */
  private def bookOf(subspaces: Int, rows: Seq[Row],
                     at: Int = 0): Codebook =
    Codebook(subspaces, rows
      .filter(r => !r.isNullAt(at) && !r.isNullAt(at + 1))
      .map(r => (r.getInt(at), r.getInt(at + 1),
        if (r.isNullAt(at + 2)) Double.NaN else r.getDouble(at + 2))))

  /** [[pqNearestCodewords]]'s `(_vid, _sub, _cw, _dist, _nd)` rows for
    * an array-grain frame, as one narrow projection through the
    * codegen'd [[graft.functions.NearestCodeword]] kernel.
    */
  private[ext] def nearestCodewords(v: DataFrame, book: Codebook)
      : DataFrame =
    v.select(col("_vid"),
        posexplode(GraftColumns.nearestCodeword(col("_v"), book))
          .as(Seq("_sub", "_a")))
      .filter(col("_a").isNotNull)
      .select(col("_vid"), col("_sub"), col("_a._cw").as("_cw"),
        col("_a._dist").as("_dist"), col("_a._nd").as("_nd"))

  /** One-chain [[kmeansLoop]] behind the session memo — the d5–d7
    * lifecycle applied to the ANN index: in production the index is
    * trained ONCE at write time and queried many times, so per-query
    * re-training is pure waste (at sf0.1 the coarse quantizer alone
    * costs ~5 s and six queries train it). Keyed by a caller tag naming
    * the CORPUS (the kernel appends m/k/iters/seed); the codebook is a
    * local relation the memo stores as it is, the assignment a memo
    * pin, both freed by `SessionMemo.releaseSession` in driver/test
    * teardown. Callers that need re-train-on-every-call semantics pass
    * no tag — the kernels stay pure by default.
    *
    * `v` is by-name: a memo hit never builds the training frame. A
    * cb-present/assign-missing partial state re-trains, and determinism
    * (same input → bit-identical codebook) keeps the pair consistent.
    */
  private def kmeansLoopShared(spark: SparkSession, v: => DataFrame,
                               subspaces: Int, k: Int, iters: Int,
                               seedTag: String, memoTag: Option[String])
      : (DataFrame, DataFrame) = {
    lazy val built = kmeansLoop(v, subspaces, Seq((k, seedTag)), iters).head
    memoTag match {
      case None => built
      case Some(tag) =>
        val key = s"kmeans|$tag|m=$subspaces|k=$k|i=$iters|s=$seedTag"
        val cb = graft.std.SessionMemo.getOrBuild(spark, key + "|cb")(built._1)
        val assign =
          graft.std.SessionMemo.getOrBuild(spark, key + "|assign")(built._2)
        (cb, assign)
    }
  }

  /** Lloyd's algorithm over a pinned array-grain frame (`_vid`, `_v`),
    * training every chain `(k, seedTag)` in `chains` side by side — the
    * trainer behind [[kmeansTrain]], [[kmeansElbow]] and the IVF/PQ
    * indexes. With one subspace it trains a coarse quantizer; with `m`
    * subspaces (dimension d belongs to subspace d % m) it trains all
    * `m` per-subspace PQ codebooks in the same loop.
    *
    * Init is "random partition": cluster = `hash64(tag|sub|vid) mod k`
    * — deterministic across runs, partitionings, and engines (the
    * repo's no-RNG rule; the DuckDB twin computes the identical md5
    * lane). Each of the `iters` rounds is ONE aggregate and one
    * collect:
    *  - update: every chain's current assignment rides the vector
    *    (`explode` over chains), `posexplode` yields (dim, x), and the
    *    6-dp DECIMAL-exact member mean `round(sum(x::decimal(38,18))
    *    ::double / count, 6)` runs grouped by (chain, codeword, dim) —
    *    the s3 discipline (a double mean varies in the last ulps with
    *    partial-agg order, which would fork the whole training run).
    *    The chain is a group key, so chains never mix.
    *  - the collected codebook (|chains| × k × dims rows — k is a
    *    CONSTANT of the index, the s16 sizing contract) lives on the
    *    driver, and the next round's assignment is a narrow projection
    *    through [[graft.functions.NearestCodeword]]: exact
    *    DECIMAL(38,12) squared L2 per (vector, subspace), ties to the
    *    smallest codeword id — bit-identical to [[pqNearestCodewords]],
    *    the kernel PQ encode uses.
    * A cluster that loses all members simply drops out of the codebook
    * (deterministic in both engines; FAISS logs-and-splits instead —
    * a policy choice, not a correctness one).
    *
    * Production trains on a bounded SAMPLE (FAISS trains IVF/PQ on ~1M
    * vectors regardless of corpus size) and encodes the full corpus
    * once — pass the sample as `v` and this loop never touches the
    * rest.
    *
    * Returns, per chain, (codebook, assignment): the codebook `(_cw,
    * _dim, _c)` after `iters` rounds as a local relation; the
    * assignment `(_vid, _sub, _cw, _dist, _nd)` = each (entity,
    * subspace)'s nearest trained centroid with its exact squared
    * distance, a lazy projection over `v`.
    */
  private def kmeansLoop(v: DataFrame, subspaces: Int,
                         chains: Seq[(Int, String)],
                         iters: Int): Seq[(DataFrame, DataFrame)] = {
    require(chains.nonEmpty, "need at least one chain")
    require(chains.forall(_._1 >= 1), "need k >= 1")
    require(iters >= 1, "need iters >= 1")
    val subs = sequence(lit(0), lit(subspaces - 1))
    var cws: Seq[Column] = chains.map { case (k, tag) =>
      transform(subs, s => (TextOps.hash64(concat_ws("|", lit(tag),
        s.cast("string"), col("_vid").cast("string"))) % k).cast("int"))
    }
    var perChain: Seq[Seq[Row]] = Nil
    for (_ <- 1 to iters) {
      val assigned = array(cws.zipWithIndex.map { case (c, i) =>
        struct(lit(i).as("_chain"), c.as("_cws")) }: _*)
      val rows = v.select(explode(assigned).as("_a"), col("_v"))
        .select(col("_a._chain").as("_chain"), col("_a._cws").as("_cws"),
          posexplode(col("_v")).as(Seq("_dim", "_x")))
        .withColumn("_cw",
          element_at(col("_cws"), col("_dim") % subspaces + 1))
        .filter(col("_cw").isNotNull)
        .groupBy(col("_chain"), col("_cw"), col("_dim"))
        .agg(round(sum(col("_x").cast("decimal(38,18)")).cast("double") /
          count(lit(1)), 6).as("_c"))
        .collect().toSeq
      val byChain = rows.groupBy(_.getInt(0))
      perChain = chains.indices.map(byChain.getOrElse(_, Nil))
      cws = perChain.map(rs => GraftColumns.nearestCodeword(col("_v"),
        bookOf(subspaces, rs, 1)).getField("_cw"))
    }
    val schema = StructType(Seq(StructField("_cw", IntegerType),
      StructField("_dim", LongType), StructField("_c", DoubleType)))
    perChain.map { rs =>
      val cb = v.sparkSession.createDataFrame(rs.map(r =>
        Row(r.getInt(1), r.getInt(2).toLong, r.get(3))).asJava, schema)
      (cb, nearestCodewords(v, bookOf(subspaces, rs, 1)))
    }
  }

  /** Deterministic k-means training report (s18): Lloyd's algorithm
    * over the embedding corpus, `iters` update+assign rounds from the
    * hash-mod init (see [[kmeansLoop]] for the exact fixed-point
    * discipline). With `subspaces` > 1 the same call trains the m
    * per-subspace PQ codebooks at once.
    *
    * Returns one row per (subspace, cluster, dimension): the trained
    * centroid component, plus the cluster's final member count and
    * within-cluster sum of squares (exact DECIMAL total of the final
    * assignment's squared distances, rounded once to 9 dp) — the
    * numbers an index operator watches to size |cells| and spot
    * collapsed clusters before deploying the quantizer.
    */
  def kmeansTrain(vecs: DataFrame, k: Int, iters: Int,
                  subspaces: Int = 1,
                  idCol: String = "vec_id", vecCol: String = "embedding",
                  seedTag: String = "km",
                  memoTag: Option[String] = None): DataFrame = {
    require(subspaces >= 1, "need at least one subspace")
    val (cb, assign) = kmeansLoopShared(vecs.sparkSession,
      graft.std.Materialize.once(vecFrame(vecs, idCol, vecCol)),
      subspaces, k, iters, seedTag, memoTag)
    val stats = assign.groupBy(col("_sub"), col("_cw"))
      .agg(count(lit(1)).as("n_members"),
        round(sum(col("_dist")).cast("double"), 9).as("wcss"))
    cb.withColumn("_sub", (col("_dim") % subspaces).cast("int"))
      .join(stats, Seq("_sub", "_cw"))
      .select(col("_sub").as("subspace"), col("_cw").as("cluster_id"),
        col("_dim").as("dim"), col("_c").as("centroid"),
        col("n_members"), col("wcss"))
  }

  /** k-means elbow sweep (s26): one [[kmeansTrain]]-equivalent chain
    * per k with one row per k — live-cluster count, total within-
    * cluster sum of squares, and the size extremes. The "how many
    * cells" tuning readout the IVF family depends on, next to s20's
    * nprobe sweep: s20 prices probe width on a FIXED quantizer, this
    * prices the quantizer's k itself (total WCSS falls monotonically
    * with k; the elbow is where the marginal drop flattens — and
    * collapsed or runt cells show up in the size extremes before an
    * index ships).
    *
    * Every k trains in the SAME [[kmeansLoop]] as its own chain
    * (`el$k` hash seed, chain id a group key), so a round costs one
    * aggregate for the whole sweep and each row equals a lone
    * `kmeansTrain(vecs, k, iters, seedTag = s"el$k")` readout (spec-
    * pinned). Per-cluster WCSS is the loop's fixed-point value (exact
    * DECIMAL distance totals, one 9-dp round); the cross-cluster total
    * re-sums those 9-dp values as DECIMAL(28,9) — order-free — and
    * rounds once for display. The DuckDB twin unrolls each chain by
    * tag.
    */
  def kmeansElbow(vecs: DataFrame, ks: Seq[Int] = Seq(2, 4, 8, 16),
                  iters: Int = 4, idCol: String = "vec_id",
                  vecCol: String = "embedding"): DataFrame = {
    require(ks.nonEmpty, "need at least one k")
    val trained = kmeansLoop(
      graft.std.Materialize.once(vecFrame(vecs, idCol, vecCol)), 1,
      ks.map(k => (k, s"el$k")), iters)
    ks.zip(trained).map { case (k, (_, assign)) =>
      assign.groupBy(col("_cw"))
        .agg(count(lit(1)).as("n_members"),
          round(sum(col("_dist")).cast("double"), 9).as("wcss"))
        .agg(count(lit(1)).as("n_live_clusters"),
          sum(col("n_members")).as("n_vectors"),
          round(sum(col("wcss").cast("decimal(28,9)"))
            .cast("double"), 9).as("total_wcss"),
          max(col("n_members")).as("largest_cluster"),
          min(col("n_members")).as("smallest_cluster"))
        .select(lit(k).as("k"), col("n_live_clusters"),
          col("n_vectors"), col("total_wcss"),
          col("largest_cluster"), col("smallest_cluster"))
    }.reduce(_ unionByName _)
  }

  /** Simplified-silhouette report (s30): per trained cluster, how
    * WELL-SEPARATED its members are — for each vector, a = distance
    * to its own centroid, b = distance to the nearest OTHER centroid,
    * s = (b − a) / max(a, b) ∈ [−1, 1] (the centroid form of
    * Rousseeuw's silhouette — the all-pairs form is quadratic and was
    * correctly not built; against k centroids the whole readout is
    * one |corpus| × k pass, the s14 shape). This is the quality gate
    * BETWEEN s26 and deployment: the elbow says how many cells, the
    * silhouette says whether the cells mean anything (mean s near 0 =
    * overlapping cells → IVF probes leak). Because the assignment IS
    * the centroid argmin, a ≤ b holds for every member and the
    * centroid-form s is NON-NEGATIVE by construction (spec-pinned —
    * the all-pairs form can go negative, this form cannot); the
    * actionable tail is therefore the BOUNDARY count: members with
    * s < `boundary` sit nearly equidistant between their cell and a
    * rival, and they are exactly the vectors an nprobe=1 probe
    * misses first.
    *
    * Determinism: distances are the trainer's own DECIMAL(38,12)-
    * exact squared L2 against the memoized 6-dp codebook; the rank-1
    * row reproduces the stored assignment bit-for-bit (same
    * (dist, cw) tie rule as [[pqNearestCodewords]]); a and b are 9-dp
    * rounded sqrts, per-point s one 6-dp round into DECIMAL(18,6)
    * (order-free sums; the boundary compare runs on the 6-dp decimal,
    * exact in both engines). A vector with a = b = 0 (or a single
    * live cluster — b COALESCEs to a) scores s = 0, never NULL/NaN.
    *
    * 100 TB shape: ONE broadcast equi-join of the exploded corpus
    * with the |k| × dims codebook, one partial agg to (vid, cw), one
    * k-rows-per-key window, one per-cluster rollup. Training rides
    * the kmeansLoop memo (shared with s18 on the same corpus tag —
    * train once, gate many).
    *
    * Returns (cluster_id, n_members, mean_silhouette,
    * min_silhouette, n_boundary).
    */
  def silhouette(vecs: DataFrame, k: Int = 8, iters: Int = 4,
                 idCol: String = "vec_id", vecCol: String = "embedding",
                 seedTag: String = "km",
                 memoTag: Option[String] = None,
                 boundary: Double = 0.25): DataFrame = {
    require(k >= 1, "need k >= 1")
    require(boundary > 0, "need a positive boundary margin")
    val v = graft.std.Materialize.once(vecFrame(vecs, idCol, vecCol))
    val (cb, _) = kmeansLoopShared(vecs.sparkSession, v, 1, k, iters,
      seedTag, memoTag)
    val byDist = Window.partitionBy(col("_vid"))
      .orderBy(col("_dist").asc, col("_cw").asc)
    val pair = pqSubspaceDists(pqExplode(v, 1, "_vid", "_v"), cb)
      .withColumn("_rn", row_number().over(byDist))
      .filter(col("_rn") <= 2)
      .groupBy(col("_vid"))
      .agg(max(when(col("_rn") === 1, col("_cw"))).as("cluster_id"),
        max(when(col("_rn") === 1, col("_dist"))).as("_a2"),
        max(when(col("_rn") === 2, col("_dist"))).as("_b2"))
    val ra = round(sqrt(col("_a2").cast("double")), 9)
    val rb = round(sqrt(coalesce(col("_b2"), col("_a2"))
      .cast("double")), 9)
    val pt = pair.select(col("cluster_id"),
      when(greatest(ra, rb) > 0,
        round((rb - ra) / greatest(ra, rb), 6))
        .otherwise(lit(0.0)).cast("decimal(18,6)").as("_s"))
    pt.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_members"),
        round(sum(col("_s")).cast("double") /
          count(lit(1)), 6).as("mean_silhouette"),
        min(col("_s")).cast("double").as("min_silhouette"),
        sum(when(col("_s") < lit(boundary).cast("decimal(18,6)"), 1L)
          .otherwise(0L)).as("n_boundary"))
  }

  /** MMR diversified re-rank (s31): greedy Maximal Marginal Relevance
    * (Carbonell & Goldstein) over each query's exact-cosine top-`n`
    * candidates — pick `k` results maximizing
    * `λ·rel(d) − (1−λ)·max_{s∈selected} sim(d, s)`, the
    * relevance-vs-redundancy trade every retrieval-augmented pipeline
    * makes: the plain top-k hands the context window five paraphrases
    * of one document; MMR hands it five documents. Rank 1 is the pure
    * relevance winner (the selected set is empty, so the penalty term
    * is 0 by the same formula).
    *
    * Determinism: rel and every candidate-candidate sim are the s1
    * 6-dp cosines; the MMR score is ONE double expression
    * `round((λn·rel − λd−n·maxsim)/λd, 6)` over identical doubles in
    * both engines; argmax ties break on the candidate id (the s1
    * rank discipline). Zero-norm candidates carry NULL rel and are
    * dropped at candidate time; NULL pair sims contribute nothing to
    * the max (COALESCE to 0 when nothing is comparable).
    *
    * 100 TB shape: the corpus-sized work is EXACTLY the top-`n`
    * retrieval (s1's kernel here; any ANN path upstream at scale) —
    * everything after runs on the |queries| × n candidate frame:
    * pair sims are n² per query (n a small constant), each greedy
    * round is one anti-join + one bounded join + one partial-agg
    * argmax `min(struct)` (the t65 discipline, no per-round window),
    * k rounds. Candidates and pair sims pin once.
    *
    * Returns (query_id, rank, neighbor_id, relevance, max_prior_sim,
    * mmr_score), rank 1..k per query.
    */
  def mmrRerank(queries: DataFrame, corpus: DataFrame, k: Int = 5,
                n: Int = 20, lambdaNum: Long = 7L, lambdaDen: Long = 10L,
                idCol: String = "vec_id",
                vecCol: String = "embedding"): DataFrame = {
    require(k >= 1 && n >= k, "need n >= k >= 1")
    require(lambdaNum >= 0 && lambdaNum <= lambdaDen && lambdaDen > 0,
      "lambda must lie in [0, 1]")
    val cand = graft.std.Materialize.once(
      bruteForceTopK(queries, corpus, n, idCol, vecCol)
        .filter(col("cosine").isNotNull)
        .select(col("query_id"), col("neighbor_id").as("cand_id"),
          col("cosine").as("rel")))
    val vn = corpus.select(col(idCol).as("vid"),
      col(vecCol).cast("array<double>").as("v"))
      .withColumn("nm", l2Norm(col("v")))
    val cv = cand.select(col("query_id"), col("cand_id"))
      .join(vn, col("cand_id") === col("vid"))
      .select(col("query_id"), col("cand_id"), col("v"), col("nm"))
    val a = cv.select(col("query_id"), col("cand_id").as("_aid"),
      col("v").as("_av"), col("nm").as("_an"))
    val b = cv.select(col("query_id"), col("cand_id").as("_bid"),
      col("v").as("_bv"), col("nm").as("_bn"))
    val pairSims = graft.std.Materialize.once(
      a.join(b, Seq("query_id"))
        .filter(col("_aid") =!= col("_bid"))
        .select(col("query_id"), col("_aid"), col("_bid"),
          round(when(col("_an") * col("_bn") > 0,
            dot(col("_av"), col("_bv")) / (col("_an") * col("_bn"))),
            6).as("_sim")))
    def score(rel: Column, ms: Column): Column =
      round((lit(lambdaNum.toDouble) * rel -
        lit((lambdaDen - lambdaNum).toDouble) * ms) /
        lit(lambdaDen.toDouble), 6)
    // argmax by (score DESC, cand_id ASC) via one partial-aggregable
    // min(struct) — negated score first, no per-round window
    def pick(scored: DataFrame, rank: Int): DataFrame =
      scored
        .select(col("query_id"), struct(
          (-score(col("rel"), col("_ms"))).as("_ns"),
          col("cand_id"), col("rel"), col("_ms")).as("_row"))
        .groupBy(col("query_id"))
        .agg(min(col("_row")).as("_w"))
        .select(col("query_id"), lit(rank.toLong).as("rank"),
          col("_w.cand_id").as("cand_id"), col("_w.rel").as("rel"),
          col("_w._ms").as("max_prior_sim"),
          // recomputed (not negated back) so a 0.0 score can never
          // surface as -0.0 in the output
          score(col("_w.rel"), col("_w._ms")).as("mmr_score"))
    var selected = graft.std.Materialize.once(
      pick(cand.withColumn("_ms", lit(0.0)), 1))
    var rounds = Vector(selected)
    for (r <- 2 to k) {
      val selAll = rounds.map(_.select(col("query_id"),
        col("cand_id"))).reduce(_ unionByName _)
      val remaining = cand.join(selAll, Seq("query_id", "cand_id"),
        "left_anti")
      val simToSel = pairSims
        .join(selAll.withColumnRenamed("cand_id", "_bid"),
          Seq("query_id", "_bid"))
        .groupBy(col("query_id"), col("_aid").as("cand_id"))
        .agg(max(col("_sim")).as("_msRaw"))
      val scored = remaining
        .join(simToSel, Seq("query_id", "cand_id"), "left_outer")
        .withColumn("_ms", coalesce(col("_msRaw"), lit(0.0)))
      selected = graft.std.Materialize.once(pick(scored, r))
      rounds :+= selected
    }
    rounds.reduce(_ unionByName _)
      .select(col("query_id"), col("rank"),
        col("cand_id").as("neighbor_id"), col("rel").as("relevance"),
        col("max_prior_sim"), col("mmr_score"))
  }

  /** IVF-PQ top-k over a TRAINED index (s16): [[ivfPqTopK]]'s query
    * path with both quantizers learned by [[kmeansLoop]] instead of
    * read from label columns — the actual FAISS `IVF_PQ` recipe.
    * The coarse quantizer is k-means over the full vectors (`cells`
    * Voronoi cells, geometry-driven — a query's true neighbors
    * concentrate in its nearest cells, which an arbitrary label
    * partition cannot promise); the PQ codebooks are per-subspace
    * k-means over the subvectors (`codewords` per subspace, trained
    * once for all `subspaces` in one loop).
    *
    * Training cost rides the [[kmeansLoop]] 100-TB contract (sample-
    * bounded in production, broadcast codebooks, k constant); the
    * query path is bit-for-bit the audited s16 shape — probe sets,
    * codebook, and ADC tables broadcast, ONE corpus-sized equi-join
    * (candidates ⋈ codes). The s17 recall harness prices what the
    * training buys: on the repo's isotropic test corpus, trained
    * cells + 16×32 codebooks lift recall@5 from 0.16 (lang cells,
    * label codebooks) to ~0.33 — above the nprobe/|cells| = 0.25
    * scan-fraction floor, against an exact-rerank ceiling of ~0.43.
    */
  def ivfPqTopKTrained(queries: DataFrame, corpus: DataFrame, k: Int,
                       nprobe: Int = 2, cells: Int = 8,
                       cellIters: Int = 4, subspaces: Int = 16,
                       codewords: Int = 32, pqIters: Int = 3,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding",
                       memoTag: Option[String] = None): DataFrame = {
    require(k >= 1, "need k >= 1")
    require(nprobe >= 1, "need nprobe >= 1")
    // ---- train: one pinned vector frame feeds both quantizers ----
    // (built only when a memo misses). The coarse memo key is SHARED
    // with ivfTopKTrained/kmeansTrain on the same corpus tag — one
    // coarse training serves the family
    lazy val v = graft.std.Materialize.once(vecFrame(corpus, idCol, vecCol))
    val (cellCb, cellAssign) = kmeansLoopShared(corpus.sparkSession, v,
      1, cells, cellIters, "km", memoTag)
    val (pqCb, pqAssign) = kmeansLoopShared(corpus.sparkSession, v,
      subspaces, codewords, pqIters, "pq", memoTag)
    // ---- write-time artifacts: cells, codes (free from the loop's
    // final assignment when training saw the whole corpus) ----
    val cellOf = cellAssign.select(col("_vid").as("neighbor_id"),
      col("_cw").as("_cell"))
    val codes = pqAssign.select(col("_vid").as("neighbor_id"),
      col("_sub"), col("_cw"))
    ivfPqQueryPath(queries, cellCb, pqCb, cellOf, codes, k, nprobe,
      subspaces, idCol, vecCol)
  }

  /** The audited s16 query shape, shared by every trained IVF-PQ
    * variant (s16/s27): probe centroids, probe sets, and per-query
    * ADC tables broadcast; ONE corpus-sized equi-join (candidates ⋈
    * codes); (adc asc, neighbor_id asc) total order. Inputs are the
    * index's write-time artifacts — the coarse codebook, the PQ
    * codebooks, and the per-vector cell/code assignments — however
    * they were produced (full-corpus training or sampled training +
    * explicit encode).
    */
  private def ivfPqQueryPath(queries: DataFrame, cellCb: DataFrame,
                             pqCb: DataFrame, cellOf: DataFrame,
                             codes: DataFrame, k: Int, nprobe: Int,
                             subspaces: Int, idCol: String,
                             vecCol: String): DataFrame = {
    val cents = broadcast(cellCb
      .groupBy(col("_cw").as("_cell"))
      .agg(array_sort(collect_list(struct(col("_dim"), col("_c"))))
        .as("_pm"))
      .select(col("_cell"),
        transform(col("_pm"), p => p.getField("_c")).as("centroid"))
      .withColumn("cn", l2Norm(col("centroid"))))
    val q = queries.select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("qv"))
      .withColumn("qn", l2Norm(col("qv")))
    val probeW = Window.partitionBy(col("query_id"))
      .orderBy(col("_csim").desc, col("_cell").asc)
    val probed = q.crossJoin(cents)
      .withColumn("_csim", round(when(col("qn") * col("cn") > 0,
        dot(col("qv"), col("centroid")) / (col("qn") * col("cn"))), 6))
      .withColumn("_pr", row_number().over(probeW))
      .filter(col("_pr") <= nprobe)
      .select(col("query_id"), col("_cell"))
    val adcTable = pqSubspaceDists(
        pqExplode(queries, subspaces, idCol, vecCol), pqCb)
      .select(col("_vid").as("query_id"), col("_sub"), col("_cw"),
        col("_dist"))
    val adc = broadcast(probed).join(cellOf, Seq("_cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .join(codes, Seq("neighbor_id"))
      .join(broadcast(adcTable), Seq("query_id", "_sub", "_cw"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(sum(col("_dist")).as("_adc"))
    val rankW = Window.partitionBy(col("query_id"))
      .orderBy(col("_adc").asc, col("neighbor_id").asc)
    adc.withColumn("rank", row_number().over(rankW))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        round(col("_adc").cast("double"), 9).as("adc_dist"))
  }

  /** IVF-PQ with the FAISS train-on-sample / encode-full lifecycle
    * (s27): both quantizers are trained ONLY on a deterministic
    * hash-sample of the corpus (`hash64("s27|" ++ id) mod sampleMod
    * = 0` — the t9 split discipline, so both engines sample the
    * identical rows), then the FULL corpus is encoded once against
    * the frozen codebooks and queried through the audited s16 path.
    *
    * This is the actual 100-TB index contract — the piece
    * [[ivfPqTopKTrained]]'s doc promises but its code doesn't
    * reify: FAISS trains IVF cells and PQ codebooks on ~1M vectors
    * REGARDLESS of corpus size, because k-means over 10¹¹ vectors
    * buys no centroid quality the sample doesn't already have.
    * Training cost is now bounded by the sample (flat as the corpus
    * grows — the s27 scale probe pins this), while encode stays the
    * one linear pass it has to be: per quantizer, ONE broadcast
    * equi-join of the exploded corpus with a |codebook| × dims frame
    * + the nearest-codeword window on (vid, sub) grain.
    *
    * The s28 recall readout prices what sampling costs: on the
    * isotropic test corpus mean recall@5 is 0.28 vs full training's
    * 0.33 — still above the nprobe/|cells| = 0.25 scan floor, the
    * small haircut a 4× training-cost cut buys on structureless
    * data, which is WHY the FAISS contract works (real corpora have
    * the cluster structure a sample captures; an isotropic corpus
    * has nothing for ANY training size to find).
    */
  def ivfPqTopKSampled(queries: DataFrame, corpus: DataFrame, k: Int,
                       sampleMod: Int = 4, nprobe: Int = 2,
                       cells: Int = 8, cellIters: Int = 4,
                       subspaces: Int = 16, codewords: Int = 32,
                       pqIters: Int = 3, idCol: String = "vec_id",
                       vecCol: String = "embedding",
                       memoTag: Option[String] = None): DataFrame = {
    require(k >= 1, "need k >= 1")
    require(nprobe >= 1, "need nprobe >= 1")
    require(sampleMod >= 1, "need sampleMod >= 1")
    // ---- train on the hash-sample only ----
    val sampled = corpus.filter(
      TextOps.hash64(concat(lit("s27|"), col(idCol).cast("string")))
        % sampleMod === 0)
    lazy val vT = graft.std.Materialize.once(
      vecFrame(sampled, idCol, vecCol))
    val sTag = memoTag.map(t => s"$t|s27m$sampleMod")
    val (cellCb, _) = kmeansLoopShared(corpus.sparkSession, vT, 1,
      cells, cellIters, "km", sTag)
    val (pqCb, _) = kmeansLoopShared(corpus.sparkSession, vT, subspaces,
      codewords, pqIters, "pq", sTag)
    // ---- encode the FULL corpus against the frozen codebooks ----
    // cells and codes are WRITE-TIME artifacts exactly like the
    // codebooks (in production they are stored with the index), so
    // they ride the same session memo: encode once, query many
    def buildArtifacts(): (DataFrame, DataFrame) = {
      val exF = graft.std.Materialize.once(
        pqExplode(corpus, subspaces, idCol, vecCol))
      (pqNearestCodewords(
          exF.withColumn("_sub", lit(0).cast("int")), cellCb)
          .select(col("_vid").as("neighbor_id"), col("_cw").as("_cell")),
        pqNearestCodewords(exF, pqCb)
          .select(col("_vid").as("neighbor_id"), col("_sub"),
            col("_cw")))
    }
    val (cellOf, codes) = sTag match {
      case None => buildArtifacts()
      case Some(tag) =>
        val spark = corpus.sparkSession
        var built: Option[(DataFrame, DataFrame)] = None
        def b: (DataFrame, DataFrame) = {
          if (built.isEmpty) built = Some(buildArtifacts())
          built.get
        }
        val key = s"encode|$tag|c=$cells|ci=$cellIters|" +
          s"m=$subspaces|cw=$codewords|pi=$pqIters"
        (graft.std.SessionMemo.getOrBuild(spark, key + "|cells")(b._1),
          graft.std.SessionMemo.getOrBuild(spark, key + "|codes")(b._2))
    }
    ivfPqQueryPath(queries, cellCb, pqCb, cellOf, codes, k, nprobe,
      subspaces, idCol, vecCol)
  }

  /** Frozen-index assignment (s29) — the SERVING-TIME half of the
    * index lifecycle the session memo implies: vectors arriving after
    * training assign to their coarse cell and per-subspace PQ
    * codewords against the FROZEN codebooks, never retraining (the
    * d9/s6 increment discipline applied to the ANN index).
    *
    * Both codebooks are collected to the driver (|codewords| × dims
    * entries — index artifacts, driver-tiny by contract) and ride
    * inside the codegen'd [[graft.functions.NearestCodeword]] kernel,
    * the same one the k-means loop assigns with: exact DECIMAL(38,12)
    * squared L2, ties to the smallest codeword id — exactly
    * [[pqNearestCodewords]]' order, so the DuckDB twin (the s27
    * `assignCte`) cannot diverge.
    *
    * Because the assign is a stateless projection, the SAME code runs
    * unchanged as a streaming micro-batch assign (zero stream-side
    * shuffle, zero state), which the streaming spec pins ≡ this batch
    * form. That IS the production serving shape: ship the trained
    * artifacts, map-assign every arriving vector.
    *
    * Returns one row per (vector, subspace): (vec_id, cell,
    * subspace, codeword).
    */
  def indexAssign(batch: DataFrame, cellCb: DataFrame, pqCb: DataFrame,
                  subspaces: Int, idCol: String = "vec_id",
                  vecCol: String = "embedding"): DataFrame = {
    require(subspaces >= 1, "need at least one subspace")
    val cells = codebookOf(cellCb, 1)
    val codes = codebookOf(pqCb, subspaces)
    batch.select(col(idCol).as("vec_id"),
        col(vecCol).cast("array<double>").as("_v"))
      .select(col("vec_id"),
        element_at(GraftColumns.nearestCodeword(col("_v"), cells), 1)
          .getField("_cw").as("_cell"),
        posexplode(GraftColumns.nearestCodeword(col("_v"), codes))
          .as(Seq("_sub", "_a")))
      .filter(col("_a").isNotNull)
      .select(col("vec_id"), col("_cell").cast("long").as("cell"),
        col("_sub").cast("long").as("subspace"),
        col("_a._cw").cast("long").as("codeword"))
  }

  /** Leading principal component of the embedding covariance (s21)
    * by deterministic power iteration — the anisotropy diagnostic of
    * "All-but-the-Top" (Mu & Viswanath 2018, arXiv:1702.01417): a
    * large top-eigenvalue share means the corpus embeddings share a
    * dominant common direction, and retrieval/centroid quality
    * improves by removing the mean and the top PCs this query
    * surfaces. One row per dimension: the dimension mean, the unit
    * PC1 component, and (repeated scalars) the Rayleigh eigenvalue
    * estimate and its share of total variance.
    *
    * The covariance matrix is never materialized: each iteration
    * computes `Cov·v` as two aggregates over the centered exploded
    * frame — per-vector scores `s_i = (x_i − μ)·v` (partial-agg on
    * `_vid`), then the per-dim weighted sum `Σ s_i(x_i − μ)_d`
    * (partial-agg on `_dim`) — so the shuffled rows are |corpus|
    * scores and |dims| sums, never a dims×dims product. `v` and μ
    * stay broadcast (|dims| rows). Fixed-point discipline is the
    * [[kmeansLoop]] one: DECIMAL(38,18) sums, doubles rounded 9 dp
    * per step, the normalized vector rounded 6 dp, `iters` rounds
    * from the all-ones init — bit-identical on both engines.
    * Convergence needs an eigengap (on an isotropic corpus the
    * iterate is deterministic but the "top" direction is not
    * meaningful — exactly what the var share column tells you).
    */
  /** The s21 power-iteration loop over a pinned centered exploded
    * frame (`_vid`, `_dim`, `_c`): `iters` rounds of the two-aggregate
    * `Cov·v` with the kmeansLoop fixed-point discipline. Returns the
    * unit vector frame and the last pre-normalization norm (= n·λ for
    * a converged v). Shared by s21 (one pass) and s33 (one pass per
    * side of the deflation).
    */
  /** The power-iteration family runs on a CENTERED ARRAY frame
    * (`_vid`, `_c: array<double>`), not the exploded (vid, dim, x)
    * grain (r21 optimization, guide §2.3/§2.4): per iteration the
    * per-vector score `s_i = (x_i − μ)·v` is a PROJECTION (an exact
    * decimal fold over the row's own array — no `groupBy(_vid)`
    * exchange, no `cent ⋈ s` join), and only the per-dim partial sums
    * `w_d = Σ s_i·c_id` shuffle: one explode + partial-agg pass, |dims|
    * rows per task on the wire. That is ONE corpus pass and one tiny
    * exchange per iteration where the exploded form paid two passes,
    * two exchanges and a join. The repartition keeps an under-split
    * local scan parallel (the [[graft.ext.TextOps.spreadByKey]]
    * rationale); on a production corpus it is a no-op cost-wise
    * relative to the scan.
    */
  private def centByVid(c: DataFrame): DataFrame =
    c.repartition(col("_vid"))

  /** Exact 18-dp dot product over two array<double> columns:
    * per-term HALF_UP quantization at scale 18, exact decimal
    * accumulation — value-identical to
    * `SUM(CAST(a_d * b_d AS DECIMAL(38,18)))` over the exploded rows,
    * which is what the DuckDB twins compute. Native codegen expression
    * ([[graft.functions.DecDot18]]): the HOF-fold form ran interpreted
    * with a boxed Decimal per element (measured 6 s on one 2000×64
    * deflation pass) and the naive decimal fold additionally trips the
    * precision-39 scale-loss trap documented on the IVF kernel above.
    */
  private def dotDec18(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftColumns.decDot18(a, b)

  /** `iters` rounds of Cov·v over the centered array frame. Returns
    * (vArr: one-row array form of the unit vector, vDim: per-dim
    * (_dim, _v) frame, lastNorm: one-row pre-normalization norm).
    * Fixed-point discipline unchanged from the exploded form: s_i and
    * w_d round at 9 dp from exact DECIMAL(38,18)-equivalent sums, the
    * unit vector at 6 dp — bit-identical values, different plan shape.
    */
  private def powerIterate(cent: DataFrame, dimsArr: DataFrame,
                           iters: Int): (DataFrame, DataFrame, DataFrame) = {
    var vArr: DataFrame =
      dimsArr.select(transform(col("_muArr"), _ => lit(1.0)).as("_v"))
    var vDim: DataFrame = null
    var lastNorm: DataFrame = null
    for (_ <- 1 to iters) {
      val scored = cent.crossJoin(broadcast(vArr))
        .select(col("_c"),
          round(dotDec18(col("_c"), col("_v")).cast("double"), 9).as("_s"))
      val w = graft.std.Materialize.once(
        scored.select(col("_s"), posexplode(col("_c")))
          .groupBy(col("pos").cast("long").as("_dim"))
          .agg(round(sum((col("col") * col("_s")).cast("decimal(38,18)"))
            .cast("double"), 9).as("_w")))
      lastNorm = w.agg(round(sqrt(
        sum((col("_w") * col("_w")).cast("decimal(38,18)"))
          .cast("double")), 9).as("_nrm"))
      vDim = w.crossJoin(broadcast(lastNorm))
        .select(col("_dim"),
          round(when(col("_nrm") > 0, col("_w") / col("_nrm"))
            .otherwise(lit(0.0)), 6).as("_v"))
      vArr = vDim
        .agg(array_sort(collect_list(struct(col("_dim"), col("_v"))))
          .as("_p"))
        .select(transform(col("_p"), p => p.getField("_v")).as("_v"))
    }
    (vArr, vDim, lastNorm)
  }

  /** One-row array of per-dim means ordered by dim, from the pinned
    * per-dim mean frame — the broadcastable form the centering zip
    * consumes.
    */
  private def muArrayOf(mu: DataFrame): DataFrame =
    mu.agg(array_sort(collect_list(struct(col("_dim"), col("_mu"))))
        .as("_p"))
      .select(transform(col("_p"), p => p.getField("_mu")).as("_muArr"))

  /** Pinned (μ per-dim frame, pinned centered array frame) pair shared
    * by s21/s33/s34: one corpus pass for μ, one for the centered
    * arrays — the exploded form additionally pinned the full
    * |corpus·dims| exploded frame.
    */
  private def centeredArrays(vecs: DataFrame, idCol: String,
                             vecCol: String): (DataFrame, DataFrame) = {
    val mu = graft.std.Materialize.once(
      pqExplode(vecs, 1, idCol, vecCol)
        .groupBy(col("_dim"))
        .agg(round(sum(col("_x").cast("decimal(38,18)")).cast("double") /
          count(lit(1)), 6).as("_mu")))
    val cent = graft.std.Materialize.once(
      centByVid(vecs
        .select(col(idCol).as("_vid"),
          col(vecCol).cast("array<double>").as("_x"))
        .crossJoin(broadcast(muArrayOf(mu)))
        .select(col("_vid"),
          zip_with(col("_x"), col("_muArr"), (x, m) => x - m).as("_c"))))
    (mu, cent)
  }

  /** Total centered sum of squares of an array-form centered frame —
    * per-vector exact partial folds summed exactly; value-identical to
    * the exploded `SUM(CAST(_c*_c AS DECIMAL(38,18)))`.
    */
  private def tssArr(c: DataFrame, as: String): DataFrame =
    c.select(dotDec18(col("_c"), col("_c")).as("_t"))
      .agg(sum(col("_t")).cast("double").as(as))

  /** Per-vector 9-dp projection score s_i = c_i·v — the loop's own
    * score form, shared by the deflation bridge.
    */
  private def scoreCol: Column =
    round(dotDec18(col("_c"), col("_v")).cast("double"), 9)

  /** Deflate a centered array frame off a unit vector: c′ = c − (c·v)v
    * with the 9-dp bridge rounding (the s33 projection), pinned.
    * One codegen'd pass ([[graft.functions.DeflateRound9]]).
    */
  private def deflate(cent: DataFrame, vArr: DataFrame): DataFrame =
    graft.std.Materialize.once(
      centByVid(cent.crossJoin(broadcast(vArr))
        .select(col("_vid"), col("_c"), col("_v"), scoreCol.as("_s"))
        .select(col("_vid"),
          org.apache.spark.sql.GraftColumns.deflateRound9(
            col("_c"), col("_v"), col("_s")).as("_c"))))

  def topPrincipalComponent(vecs: DataFrame, iters: Int = 6,
                            idCol: String = "vec_id",
                            vecCol: String = "embedding"): DataFrame = {
    require(iters >= 1, "need at least one power iteration")
    val (mu, cent) = centeredArrays(vecs, idCol, vecCol)
    val n1 = vecs.agg(count(lit(1)).as("_n"))
    val (_, vDim, lastNorm) = powerIterate(cent, muArrayOf(mu), iters)
    // Rayleigh estimate: with v unit, ‖Σ s_i(x_i−μ)‖ = n·λ; trace is
    // the exact total centered sum of squares over n
    val trace = tssArr(cent, "_tss")
    vDim.join(broadcast(mu), Seq("_dim"))
      .crossJoin(broadcast(lastNorm))
      .crossJoin(broadcast(trace))
      .crossJoin(broadcast(n1))
      .select(col("_dim").as("dim"), col("_mu").as("mean_d"),
        col("_v").as("pc1"),
        round(col("_nrm") / col("_n"), 6).as("lambda1"),
        round(when(col("_tss") > 0, col("_nrm") / col("_tss"))
          .otherwise(lit(0.0)), 6).as("var_share"))
  }

  /** All-but-the-Top removal report (s33): the FIX s21 diagnoses and
    * s32 motivates, priced — project the corpus off its top principal
    * component (x′ = c − (c·v₁)v₁, the Mu & Viswanath post-processing
    * step minus the mean term the centering already removed) and
    * re-measure the anisotropy. `var_share_before` is s21's readout;
    * `var_share_after` is the top-PC share of the DEFLATED corpus
    * (high again = a second dominant direction survives, remove
    * another PC; low = the space is isotropic now);
    * `removed_var_share` is the fraction of total centered variance
    * the single removal deleted — the honest price/benefit line a
    * team reads before rewriting its embeddings.
    *
    * Determinism: both passes are the shared [[powerIterate]] loop
    * (kmeansLoop fixed-point discipline); the projection scores are
    * the loop's own 9-dp s_i form and the deflated coordinates round
    * once at 9 dp, so the DuckDB twin replays both chains and the
    * bridge exactly.
    *
    * 100 TB shape: twice the s21 contract (per iteration two
    * partial-agg passes over the exploded frame; v and μ broadcast,
    * |dims| rows) plus ONE deflation join producing the second pinned
    * centered frame — the dims×dims covariance never materializes on
    * either side.
    *
    * Returns ONE row: (n_vectors, lambda1, var_share_before, lambda2,
    * var_share_after, removed_var_share); empty for an empty corpus.
    */
  def anisotropyRemovalReport(vecs: DataFrame, iters: Int = 6,
                              idCol: String = "vec_id",
                              vecCol: String = "embedding"): DataFrame = {
    require(iters >= 1, "need at least one power iteration")
    val (mu, cent) = centeredArrays(vecs, idCol, vecCol)
    val muArr = muArrayOf(mu)
    val (v1, _, nrm1) = powerIterate(cent, muArr, iters)
    val cent2 = deflate(cent, v1)
    val (_, _, nrm2) = powerIterate(cent2, muArr, iters)
    def tss(c: DataFrame, as: String): DataFrame = tssArr(c, as)
    vecs.agg(count(lit(1)).as("n_vectors"))
      .filter(col("n_vectors") > 0)
      .crossJoin(broadcast(nrm1.select(col("_nrm").as("_n1"))))
      .crossJoin(broadcast(nrm2.select(col("_nrm").as("_n2"))))
      .crossJoin(broadcast(tss(cent, "_tss1")))
      .crossJoin(broadcast(tss(cent2, "_tss2")))
      .select(col("n_vectors"),
        round(col("_n1") / col("n_vectors"), 6).as("lambda1"),
        round(when(col("_tss1") > 0, col("_n1") / col("_tss1"))
          .otherwise(lit(0.0)), 6).as("var_share_before"),
        round(col("_n2") / col("n_vectors"), 6).as("lambda2"),
        round(when(col("_tss2") > 0, col("_n2") / col("_tss2"))
          .otherwise(lit(0.0)), 6).as("var_share_after"),
        round(when(col("_tss1") > 0,
          (col("_tss1") - col("_tss2")) / col("_tss1"))
          .otherwise(lit(0.0)), 6).as("removed_var_share"))
  }

  /** Rank-k All-but-the-Top removal (s34): s33's own
    * `var_share_after` readout says "high again = remove another PC"
    * — this wires that loop. Starting from the centered corpus,
    * repeatedly find the top PC ([[powerIterate]]), deflate the
    * corpus off it (the s33 projection bridge), and continue while
    * the NEXT top PC still explains at least `varShareStop` of the
    * remaining variance, up to `k` ranks — exactly the D ≈ d/100
    * multi-component regime of Mu & Viswanath 2018. One row per
    * REMOVED rank: its eigenvalue, its share of the then-current
    * variance, the slice of ORIGINAL variance its removal deleted,
    * and the next PC's share (the stop signal a reader audits).
    *
    * Control flow is driver-side by necessity — whether rank r+1 gets
    * removed depends on data — but the decision consumes ONE collected
    * 6-dp scalar per rank (≤ k values total, the BPE-vocab-collect
    * precedent); every reported VALUE still comes from the distributed
    * frames. The DuckDB twin unrolls all k+1 chains statically and
    * re-encodes the stop policy as per-rank WHERE prefixes over the
    * same rounded shares, so both engines emit identical rows.
    *
    * 100 TB shape: (removed + 1) powerIterate passes, each the audited
    * s21 contract (two partial-agg passes per iteration, v/μ
    * broadcast), plus one deflation join per removed rank producing
    * the next pinned centered frame; the dims×dims covariance never
    * materializes and early stop skips the chains the threshold says
    * are noise.
    *
    * Returns (rank, n_vectors, lambda, var_share, removed_var_share,
    * var_share_after); empty for an empty corpus.
    */
  def allButTopK(vecs: DataFrame, k: Int = 3, varShareStop: Double = 0.15,
                 iters: Int = 6, idCol: String = "vec_id",
                 vecCol: String = "embedding"): DataFrame = {
    require(k >= 1, "remove at least one rank")
    require(iters >= 1, "need at least one power iteration")
    require(varShareStop > 0 && varShareStop < 1,
      "stop threshold is a variance fraction")
    val (mu, cent0) = centeredArrays(vecs, idCol, vecCol)
    val muArr = muArrayOf(mu)
    def tss(c: DataFrame): DataFrame = tssArr(c, "_tss")
    // the 6-dp share of the current corpus' variance its top PC holds
    // — the ONE scalar per rank the loop reads, rounded identically to
    // the emitted column so the threshold compare can't diverge
    def shareFrame(nrm: DataFrame, t: DataFrame): DataFrame =
      nrm.crossJoin(broadcast(t))
        .select(round(when(col("_tss") > 0, col("_nrm") / col("_tss"))
          .otherwise(lit(0.0)), 6).as("_sh"))
    def shareOf(f: DataFrame): Double = {
      val rows = f.collect()
      if (rows.isEmpty || rows(0).isNullAt(0)) 0.0 else rows(0).getDouble(0)
    }
    val n1 = vecs.agg(count(lit(1)).as("n_vectors"))
    var cent = cent0
    val tss1 = tss(cent).select(col("_tss").as("_tssOrig"))
    var (v, _, nrm) = powerIterate(cent, muArr, iters)
    var curTss = tss(cent)
    var out: Option[DataFrame] = None
    var rank = 1
    var continue = true
    while (continue && rank <= k) {
      // deflate: c' = c − (c·v)v, 9-dp bridge (the s33 projection)
      val centNext = deflate(cent, v)
      val (vNext, _, nrmNext) = powerIterate(centNext, muArr, iters)
      val nextTss = tss(centNext)
      // one-row share frame pinned ONCE per rank: the stop decision
      // (collected below) and the emitted row's var_share_after share
      // the same computation — unpinned, consuming the returned frame
      // re-ran the whole next-rank power-iteration chain a second time
      // (r17 advice)
      val shAfter = graft.std.Materialize.once(
        shareFrame(nrmNext, nextTss))
      val row = n1.filter(col("n_vectors") > 0)
        .crossJoin(broadcast(nrm.select(col("_nrm").as("_nr"))))
        .crossJoin(broadcast(curTss.select(col("_tss").as("_tr"))))
        .crossJoin(broadcast(nextTss.select(col("_tss").as("_tn"))))
        .crossJoin(broadcast(tss1))
        .crossJoin(broadcast(shAfter.select(col("_sh").as("_shAfter"))))
        .select(lit(rank).as("rank"), col("n_vectors"),
          round(col("_nr") / col("n_vectors"), 6).as("lambda"),
          round(when(col("_tr") > 0, col("_nr") / col("_tr"))
            .otherwise(lit(0.0)), 6).as("var_share"),
          round(when(col("_tssOrig") > 0,
            (col("_tr") - col("_tn")) / col("_tssOrig"))
            .otherwise(lit(0.0)), 6).as("removed_var_share"),
          col("_shAfter").as("var_share_after"))
      out = Some(out.map(_.unionAll(row)).getOrElse(row))
      if (shareOf(shAfter) < varShareStop)
        continue = false
      else {
        cent = centNext; v = vNext; nrm = nrmNext; curTss = nextTss
        rank += 1
      }
    }
    out.get
  }

  /** IVF tuning report (s20): the t50 idea for the ANN index — ONE
    * trained coarse quantizer, swept across `nprobes` probe widths,
    * each width priced on BOTH axes of the IVF trade: mean recall@k
    * against the exact cosine top-k, and the fraction of the corpus
    * actually touched (the candidate count the probe bound buys).
    * This is the curve an index operator reads to pick nprobe: s13
    * prices one point, this prices the frontier.
    *
    * Cost shape: training runs ONCE ([[kmeansLoop]] contract); the
    * candidate frame is scored ONCE at the widest probe with each
    * candidate's probe rank attached, and every narrower width is a
    * FILTER on that pinned frame (probe sets are nested by
    * construction: rank ≤ 2 ⊂ rank ≤ 4) — the sweep adds per-width
    * windows over already-scored rows, never another corpus pass.
    * Recall/fraction arithmetic rides the s13/s19 integer-e9
    * discipline.
    */
  def ivfTuningReport(queries: DataFrame, corpus: DataFrame, k: Int,
                      nprobes: Seq[Int], cells: Int = 8,
                      cellIters: Int = 4, idCol: String = "vec_id",
                      vecCol: String = "embedding",
                      memoTag: Option[String] = None): DataFrame = {
    require(nprobes.nonEmpty, "need at least one probe width")
    require(nprobes.forall(_ >= 1), "probe widths start at 1")
    val maxNp = nprobes.max
    val (cellCb, cellAssign) = kmeansLoopShared(corpus.sparkSession,
      graft.std.Materialize.once(vecFrame(corpus, idCol, vecCol)), 1,
      cells, cellIters, "km", memoTag)
    val cellOf = cellAssign.select(col("_vid").as("neighbor_id"),
      col("_cw").as("_cell"))
    val cents = broadcast(cellCb
      .groupBy(col("_cw").as("_cell"))
      .agg(array_sort(collect_list(struct(col("_dim"), col("_c"))))
        .as("_pm"))
      .select(col("_cell"),
        transform(col("_pm"), p => p.getField("_c")).as("centroid"))
      .withColumn("cn", l2Norm(col("centroid"))))
    val q = queries.select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("qv"))
      .withColumn("qn", l2Norm(col("qv")))
    val probeW = Window.partitionBy(col("query_id"))
      .orderBy(col("_csim").desc, col("_cell").asc)
    val probed = q.crossJoin(cents)
      .withColumn("_csim", round(when(col("qn") * col("cn") > 0,
        dot(col("qv"), col("centroid")) / (col("qn") * col("cn"))), 6))
      .withColumn("_pr", row_number().over(probeW))
      .filter(col("_pr") <= maxNp)
      .select(col("query_id"), col("qv"), col("qn"), col("_cell"),
        col("_pr"))
    val c = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).cast("array<double>").as("cv"))
      .withColumn("cm", l2Norm(col("cv")))
      .join(cellOf, Seq("neighbor_id"))
    val scored = graft.std.Materialize.once(
      probed.join(c, Seq("_cell"))
        .filter(col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"), col("_pr"),
          round(when(col("qn") * col("cm") > 0,
            dot(col("qv"), col("cv")) / (col("qn") * col("cm"))), 6)
            .as("cosine")))
    val exact = graft.std.Materialize.once(
      bruteForceTopK(queries, corpus, k, idCol, vecCol)
        .select(col("query_id"), col("neighbor_id")))
    val nCorpus = corpus.agg(count(lit(1)).as("_nc"))
    nprobes.map { np =>
      val sub = scored.filter(col("_pr") <= np)
      val ann = rankTopK(sub, "cosine", k)
        .select(col("query_id"), col("neighbor_id"))
        .withColumn("_hit", lit(1L))
      val hits = exact
        .join(ann, Seq("query_id", "neighbor_id"), "left_outer")
        .groupBy(col("query_id"))
        .agg(coalesce(sum(col("_hit")), lit(0L)).as("n_hits"))
      val touched = sub.groupBy(col("query_id"))
        .agg(count(lit(1)).as("_cand"))
      // left join: a query whose probed cells hold only itself has no
      // candidate row but must still count (recall 0, 0 touched)
      hits.join(touched, Seq("query_id"), "left_outer")
        .agg(count(lit(1)).as("n_queries"),
          sum(col("n_hits")).as("_sum_hits"),
          sum(coalesce(col("_cand"), lit(0L))).as("n_candidates"))
        .crossJoin(broadcast(nCorpus))
        .select(lit(np).as("nprobe"), col("n_queries"),
          expr(s"CAST(CAST(_sum_hits AS DECIMAL(38,0)) * 1000000000 " +
            s"div (n_queries * $k) AS BIGINT)").as("mean_recall_e9"),
          col("n_candidates"),
          expr("CAST(CAST(n_candidates AS DECIMAL(38,0)) * 1000000000 " +
            "div (n_queries * (_nc - 1)) AS BIGINT)")
            .as("scanned_frac_e9"))
        .withColumn("mean_recall",
          col("mean_recall_e9").cast("double") / lit(1e9))
        .withColumn("scanned_frac",
          col("scanned_frac_e9").cast("double") / lit(1e9))
    }.reduce(_ unionByName _)
  }

  /** Truncated-dimension recall readout (s19): prices Matryoshka-
    * style dimension truncation (Kusupati et al. 2022,
    * arXiv:2205.13147) — for each prefix width d' the cosine top-k
    * computed on `embedding[0..d')` is scored against the full-width
    * exact top-k, one summary row per width: how much recall the
    * first d' dimensions alone buy. The production decision this
    * feeds: a truncated-prefix prefilter scans d'/D of the bytes per
    * candidate, and this readout says what that discount costs.
    *
    * Per width it is the audited s1 shape (queries broadcast, corpus
    * streams, 6-dp rounded cosine, id ties); `dims` is a small
    * constant, so the union is |dims| corpus passes, never a join
    * blowup. The exact baseline is computed once and pinned. Recall
    * arithmetic rides the s13 integer-e9 discipline (exact integer
    * division, one float division by 1e9 at the end) so both engines
    * land the identical double.
    */
  def truncationRecall(queries: DataFrame, corpus: DataFrame, k: Int,
                       dims: Seq[Int],
                       idCol: String = "vec_id",
                       vecCol: String = "embedding"): DataFrame = {
    require(k >= 1, "need k >= 1")
    require(dims.nonEmpty, "need at least one truncation width")
    val exact = graft.std.Materialize.once(
      bruteForceTopK(queries, corpus, k, idCol, vecCol)
        .select(col("query_id"), col("neighbor_id")))
    dims.map { d =>
      def trunc(df: DataFrame): DataFrame = df.withColumn(vecCol,
        slice(col(vecCol).cast("array<double>"), 1, d))
      val ann = bruteForceTopK(trunc(queries), trunc(corpus), k,
          idCol, vecCol)
        .select(col("query_id"), col("neighbor_id"))
        .withColumn("_hit", lit(1L))
      exact.join(ann, Seq("query_id", "neighbor_id"), "left_outer")
        .groupBy(col("query_id"))
        .agg(coalesce(sum(col("_hit")), lit(0L)).as("n_hits"))
        .agg(count(lit(1)).as("n_queries"),
          sum(col("n_hits")).as("_sum_hits"),
          min(col("n_hits")).as("min_hits"))
        .select(lit(d).as("trunc_dim"), col("n_queries"),
          expr(s"CAST(CAST(_sum_hits AS DECIMAL(38,0)) * 1000000000 " +
            s"div (n_queries * $k) AS BIGINT)").as("mean_recall_e9"),
          col("min_hits"))
        .withColumn("mean_recall",
          col("mean_recall_e9").cast("double") / lit(1e9))
    }.reduce(_ unionByName _)
  }

  /** Two-stage ANN retrieval (s22): the production FAISS pattern the
    * s16 index is built FOR — stage 1 generates `candK` candidates per
    * query by ADC over the trained IVF-PQ index (cheap, approximate,
    * touches nprobe/|cells| of the corpus and only 8-bit codes), stage
    * 2 re-ranks ONLY those candidates with the exact squared-L2 on the
    * full-precision vectors and keeps the top `k`. ADC errors inside
    * the candidate set cost nothing (the exact score re-orders them);
    * only a true neighbor missing from all probed cells stays lost —
    * so recall@k here is bounded by s17's candidate recall@candK, not
    * by PQ quantization error.
    *
    * Scale shape: stage 1 is the audited s16 plan. Stage 2 joins the
    * skinny (query_id, neighbor_id) candidate frame — |queries|×candK
    * rows — back to the corpus on `neighbor_id` (shuffle carries
    * candidate ids, never scans the corpus against queries) and to the
    * broadcast query vectors; the exact kernel runs on candK rows per
    * query instead of |corpus|. Distances are 6-dp-rounded IEEE folds
    * (the [[bruteForceTopKL2]] expression), ranks tie to the smaller
    * id — fully deterministic, so the oracle composes the s16 twin
    * with the same re-rank.
    *
    * With `cells = 1, nprobe = 1, candK >= |corpus|` the candidate set
    * is the whole corpus and the result must EQUAL [[bruteForceTopKL2]]
    * — the spec pins that reduction.
    */
  def ivfPqRerank(queries: DataFrame, corpus: DataFrame, k: Int,
                  candK: Int, nprobe: Int = 2, cells: Int = 8,
                  cellIters: Int = 4, subspaces: Int = 16,
                  codewords: Int = 32, pqIters: Int = 3,
                  idCol: String = "vec_id",
                  vecCol: String = "embedding",
                  memoTag: Option[String] = None): DataFrame = {
    require(k >= 1, "need k >= 1")
    require(candK >= k, "candidate budget must cover the final top-k")
    val cand = ivfPqTopKTrained(queries, corpus, candK, nprobe, cells,
        cellIters, subspaces, codewords, pqIters, idCol, vecCol,
        memoTag)
      .select(col("query_id"), col("neighbor_id"))
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("qv")))
    val c = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).cast("array<double>").as("cv"))
    val exact = cand.join(c, Seq("neighbor_id"))
      .join(q, Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(TextOps.foldSumDouble(zip_with(col("qv"), col("cv"),
          (x, y) => (x - y) * (x - y))), 6).as("dist2"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("dist2").asc, col("neighbor_id").asc)
    exact.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"),
        col("rank").cast("long").as("rank"), col("dist2"))
  }

  /** Residual IVF-PQ top-k (s23): [[ivfPqTopKTrained]] with the PQ
    * codebooks trained on RESIDUALS `x − centroid(cell(x))` instead of
    * raw vectors — the actual FAISS `IndexIVFPQ` encoding (Jégou et
    * al. 2011, §IV: quantize the coarse-quantization error, not the
    * vector). Residuals concentrate near the origin with the
    * between-cell variance already explained by the coarse step, so
    * the same codeword budget spends entirely on WITHIN-cell detail —
    * at identical storage cost to s16. That trade pays exactly when
    * the coarse structure is real: the spec pins recall 1.0 on a
    * clustered corpus, while on the repo's ISOTROPIC synthetic corpus
    * the measured recall@5 is 0.26 vs raw-PQ s16's 0.33
    * (residualizing against a meaningless centroid only spends
    * precision) — the honest readout, the s17 discipline. Production
    * guidance: residual encoding for clustered embedding spaces (the
    * common case for real models), raw s16 otherwise, and s22's exact
    * re-rank on top of either (measured 0.44 on the same corpus — the
    * candidate-set ceiling).
    *
    * The query side mirrors the encoding: ADC tables are computed per
    * (query, probed cell) on the query's residual against THAT cell's
    * centroid, so a candidate's distance is evaluated in the same
    * residual frame its code was written in. The ADC broadcast grows
    * to |queries| × nprobe × subspaces × codewords — still dimension-
    * free and tiny (nprobe bounds it exactly as it bounds the scan).
    * Everything else keeps the audited s16 shape: ONE corpus-sized
    * join (candidates ⋈ codes), probe sets + centroid dims + ADC
    * tables broadcast, DECIMAL-exact ADC, (adc, neighbor_id) rank —
    * bit-deterministic, so the oracle unrolls training AND residual
    * encoding rather than brute force.
    */
  def ivfPqResidualTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                        nprobe: Int = 2, cells: Int = 8,
                        cellIters: Int = 4, subspaces: Int = 16,
                        codewords: Int = 32, pqIters: Int = 3,
                        idCol: String = "vec_id",
                        vecCol: String = "embedding",
                        memoTag: Option[String] = None): DataFrame = {
    require(k >= 1, "need k >= 1")
    require(nprobe >= 1, "need nprobe >= 1")
    // ---- coarse quantizer: shared with the s16/s18 family ----
    lazy val v = graft.std.Materialize.once(
      vecFrame(corpus, idCol, vecCol))
    val (cellCb, cellAssign) = kmeansLoopShared(corpus.sparkSession, v,
      1, cells, cellIters, "km", memoTag)
    val cellDims = cellCb.select(col("_cw").as("_cell"), col("_dim"),
      col("_c"))
    val centroids = cellCb
      .groupBy(col("_cw").as("_cell"))
      .agg(array_sort(collect_list(struct(col("_dim"), col("_c"))))
        .as("_pm"))
      .select(col("_cell"),
        transform(col("_pm"), p => p.getField("_c")).as("centroid"))
    // ---- residual vectors: x − centroid(cell(x)), dim for dim ----
    lazy val resV = graft.std.Materialize.once(
      v.join(cellAssign.select(col("_vid"), col("_cw").as("_cell")),
          Seq("_vid"))
        .join(broadcast(centroids), Seq("_cell"))
        .select(col("_vid"), transform(col("_v"),
          (x, i) => x - element_at(col("centroid"), i + 1)).as("_v")))
    val (pqCb, pqAssign) = kmeansLoopShared(corpus.sparkSession, resV,
      subspaces, codewords, pqIters, "pqr", memoTag)
    val cellOf = cellAssign.select(col("_vid").as("neighbor_id"),
      col("_cw").as("_cell"))
    val codes = pqAssign.select(col("_vid").as("neighbor_id"),
      col("_sub"), col("_cw"))
    val cents = broadcast(centroids
      .withColumn("cn", l2Norm(col("centroid"))))
    // ---- probe: the s16 cosine ranking against trained centroids ----
    val q = queries.select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("qv"))
      .withColumn("qn", l2Norm(col("qv")))
    val probeW = Window.partitionBy(col("query_id"))
      .orderBy(col("_csim").desc, col("_cell").asc)
    val probed = q.crossJoin(cents)
      .withColumn("_csim", round(when(col("qn") * col("cn") > 0,
        dot(col("qv"), col("centroid")) / (col("qn") * col("cn"))), 6))
      .withColumn("_pr", row_number().over(probeW))
      .filter(col("_pr") <= nprobe)
      .select(col("query_id"), col("_cell"))
    // ---- per-(query, cell) residual ADC tables ----
    val qex = pqExplode(queries, subspaces, idCol, vecCol)
      .select(col("_vid").as("query_id"), col("_sub"), col("_dim"),
        col("_x"))
    val qres = broadcast(probed).join(qex, Seq("query_id"))
      .join(broadcast(cellDims), Seq("_cell", "_dim"))
      .select(col("query_id"), col("_cell"), col("_sub"), col("_dim"),
        (col("_x") - col("_c")).as("_x"))
    val adcTable = qres.join(broadcast(pqCb), Seq("_dim"))
      .select(col("query_id"), col("_cell"), col("_sub"), col("_cw"),
        ((col("_x") - col("_c")) * (col("_x") - col("_c")))
          .cast("decimal(38,12)").as("_sq"))
      .groupBy(col("query_id"), col("_cell"), col("_sub"), col("_cw"))
      .agg(sum(col("_sq")).as("_dist"))
    // ---- the one corpus-sized join: candidates ⋈ codes ----
    val adc = broadcast(probed).join(cellOf, Seq("_cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .join(codes, Seq("neighbor_id"))
      .join(broadcast(adcTable), Seq("query_id", "_cell", "_sub", "_cw"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(sum(col("_dist")).as("_adc"))
    val rankW = Window.partitionBy(col("query_id"))
      .orderBy(col("_adc").asc, col("neighbor_id").asc)
    adc.withColumn("rank", row_number().over(rankW))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"),
        col("rank").cast("long").as("rank"),
        round(col("_adc").cast("double"), 9).as("adc_dist"))
  }

  /** Semantic deduplication (d13): the SemDeDup recipe (Abbas et al.
    * 2023, arXiv:2303.09540) — cluster the embedding corpus with the
    * trained k-means quantizer, then compare vectors ONLY within their
    * cluster and drop any vector whose cosine to a smaller-id
    * cluster-mate reaches `threshold` (id-order keeper: the smallest
    * id in a mutual near-dup set always survives, deterministic on
    * both engines; the paper's random/centroid-distance keeper is a
    * policy choice this kernel leaves to the caller's sort order).
    *
    * Scale shape: this is d2's banded-LSH idea with k-means cells as
    * the bands. The only corpus-sized shuffle is the equi-join on
    * `cluster_id`; the quadratic is per-cluster and bounded by the
    * largest cell, and at 100 TB `k` grows with the corpus (SemDeDup
    * uses ~100k clusters for LAION-scale data) so cell size — and the
    * per-task pair count — stays constant. Training cost rides the
    * [[kmeansLoop]] contract (sample-bounded, broadcast codebook).
    * Cell-size skew is visible up front in [[kmeansTrain]]'s
    * `n_members` column, the same audit d2 exposes via
    * `maxBucketSize`.
    *
    * One row per input vector: cluster, keep/drop verdict, and the
    * max 6-dp cosine to any smaller-id cluster-mate (null for the
    * cluster's smallest id — nothing prior to compare against).
    */
  def semDedup(vectors: DataFrame, k: Int, iters: Int,
               threshold: Double,
               idCol: String = "vec_id", vecCol: String = "embedding",
               seedTag: String = "km",
               memoTag: Option[String] = None): DataFrame = {
    require(threshold > 0, "need a positive cosine threshold")
    val v = graft.std.Materialize.once(vecFrame(vectors, idCol, vecCol))
    val (_, assign) = kmeansLoopShared(vectors.sparkSession, v, 1, k,
      iters, seedTag, memoTag)
    val base = v.withColumn("_nm", l2Norm(col("_v")))
      .join(assign.select(col("_vid"), col("_cw").as("cluster_id")),
        Seq("_vid"))
    val a = base.select(col("cluster_id"), col("_vid").as("_ida"),
      col("_v").as("_va"), col("_nm").as("_na"))
    val b = base.select(col("cluster_id"), col("_vid").as("_idb"),
      col("_v").as("_vb"), col("_nm").as("_nb"))
    val priorSims = a.join(b, Seq("cluster_id"))
      .filter(col("_ida") < col("_idb"))
      .select(col("_idb").as("_vid"),
        round(when(col("_na") * col("_nb") > 0,
          dot(col("_va"), col("_vb")) / (col("_na") * col("_nb"))), 6)
          .as("_sim"))
      .groupBy(col("_vid"))
      .agg(max(col("_sim")).as("max_prior_sim"))
    base.select(col("_vid"), col("cluster_id"))
      .join(priorSims, Seq("_vid"), "left")
      .select(col("_vid").as(idCol), col("cluster_id"),
        when(coalesce(col("max_prior_sim"), lit(-2.0)) >= threshold,
          lit("drop")).otherwise(lit("keep")).as("action"),
        col("max_prior_sim"))
  }
}
