package graft.ext

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Deterministic k-means trainer (s18) + the trained IVF-PQ index
  * (s16): hand-traced Lloyd rounds from the hash-mod init, empty-
  * cluster dropout, per-subspace training, and end-to-end recall on
  * clustered data with NO label column anywhere.
  */
class KmeansSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("two blobs converge to exact blob means in two rounds") {
    // ids 1..5 hash-init to clusters {1,4}=0 / {2,3,5}=1 (md5 lane,
    // hand-computed); round 1 mixes the blobs (c0=(5,5),
    // c1=(3.333333,5)) yet every point already reassigns to the
    // centroid nearer its blob, so round 2's update lands on the
    // exact blob means — the Lloyd fixed point
    val df = Seq(
      (1L, Seq(0.0, 0.0)), (2L, Seq(0.0, 2.0)), (3L, Seq(0.0, 1.0)),
      (4L, Seq(10.0, 10.0)), (5L, Seq(10.0, 12.0)))
      .toDF("vec_id", "embedding")
    val r = Similarity.kmeansTrain(df, k = 2, iters = 2).collect()
    graft.std.Materialize.releaseAll()
    val byKey = r.map(x => (x.getInt(1), x.getLong(2)) ->
      (x.getDouble(3), x.getLong(4), x.getDouble(5))).toMap
    // cluster 0 ends as blob B's exact mean, cluster 1 as blob A's
    assert(byKey((0, 0L)) == ((10.0, 2L, 2.0)))
    assert(byKey((0, 1L)) == ((11.0, 2L, 2.0)))
    assert(byKey((1, 0L)) == ((0.0, 3L, 2.0)))
    assert(byKey((1, 1L)) == ((1.0, 3L, 2.0)))
    assert(r.forall(_.getInt(0) == 0), "one subspace -> subspace 0")
  }

  test("a cluster with no init members drops out deterministically") {
    // k=4 over ids 1..5: the md5-lane init fills only clusters
    // {0,1,2} — cluster 3 never receives a member, so the codebook
    // simply lacks it (the documented dropout policy; FAISS would
    // log-and-split). Every vector still trains and assigns.
    val df = Seq(
      (1L, Seq(0.0, 0.0)), (2L, Seq(0.0, 2.0)), (3L, Seq(0.0, 1.0)),
      (4L, Seq(10.0, 10.0)), (5L, Seq(10.0, 12.0)))
      .toDF("vec_id", "embedding")
    val r = Similarity.kmeansTrain(df, k = 4, iters = 2).collect()
    graft.std.Materialize.releaseAll()
    val clusters = r.map(_.getInt(1)).toSet
    assert(clusters.subsetOf(Set(0, 1, 2)) && !clusters.contains(3),
      s"cluster 3 had no init members and must drop out: $clusters")
    assert(r.map(x => (x.getInt(1), x.getLong(4))).distinct
      .map(_._2).sum == 5,
      "every vector stays assigned after dropout")
  }

  test("subspaces train independently on their own dimensions") {
    val df = Seq(
      (1L, Seq(0.0, 7.0)), (2L, Seq(0.0, 7.0)),
      (3L, Seq(4.0, 7.0)), (4L, Seq(4.0, 7.0)))
      .toDF("vec_id", "embedding")
    val r = Similarity.kmeansTrain(df, k = 2, iters = 2, subspaces = 2)
      .collect()
    graft.std.Materialize.releaseAll()
    // round-robin split: subspace 0 owns dim 0, subspace 1 owns dim 1
    assert(r.filter(_.getInt(0) == 0).forall(_.getLong(2) == 0L))
    assert(r.filter(_.getInt(0) == 1).forall(_.getLong(2) == 1L))
    // dim 1 is constant 7.0: whatever survives init, every centroid
    // component there is exactly 7.0 with zero within-cluster scatter
    val sub1 = r.filter(_.getInt(0) == 1)
    assert(sub1.nonEmpty &&
      sub1.forall(x => x.getDouble(3) == 7.0 && x.getDouble(5) == 0.0))
  }

  test("trained IVF-PQ: clustered data scores recall 1.0 with no labels") {
    // the PqSpec recall fixture MINUS its cell/label columns — the
    // trained quantizers must recover the blob structure themselves.
    // (The hash init even collapses PQ subspace 1 to a single
    // codeword; subspace 0 alone separates the blobs, so the dropout
    // path is exercised on the way to perfect recall.)
    val corpus = Seq(
      (1L, Seq(0.0, 1.0)), (2L, Seq(0.0, 1.1)), (3L, Seq(0.1, 1.0)),
      (4L, Seq(9.0, 9.0)), (5L, Seq(9.0, 9.1)))
      .toDF("vec_id", "embedding")
    val queries = corpus.filter($"vec_id" === 1L)
    val ann = Similarity.ivfPqTopKTrained(queries, corpus, k = 2,
      nprobe = 1, cells = 2, cellIters = 2, subspaces = 2,
      codewords = 2, pqIters = 2)
    val rec = Similarity.recallAtK(ann,
      Similarity.bruteForceTopKL2(queries, corpus, 2), 2).collect()
    graft.std.Materialize.releaseAll()
    assert(rec.length == 1 && rec(0).getDouble(4) == 1.0,
      s"trained index must recover clustered neighbors: ${rec.toSeq}")
  }

  test("trained IVF: clustered data, label-free, exact-cosine recall 1.0") {
    val corpus = Seq(
      (1L, Seq(0.0, 1.0)), (2L, Seq(0.0, 1.1)), (3L, Seq(0.1, 1.0)),
      (4L, Seq(9.0, 9.0)), (5L, Seq(9.0, 9.1)))
      .toDF("vec_id", "embedding")
    val queries = corpus.filter($"vec_id" === 1L)
    val rec = Similarity.recallAtK(
      Similarity.ivfTopKTrained(queries, corpus, k = 2, nprobe = 1,
        cells = 2, cellIters = 2),
      Similarity.bruteForceTopK(queries, corpus, 2), 2).collect()
    graft.std.Materialize.releaseAll()
    assert(rec.length == 1 && rec(0).getDouble(4) == 1.0,
      s"trained IVF must recover clustered neighbors: ${rec.toSeq}")
  }

  test("semDedup: keeps cluster minima, drops near-dups by angle") {
    // trained cells land {1,2,3} / {4,5} (hand-traced Lloyd rounds
    // from the md5-lane init {1,4}|{2,3,5}). Within-cluster cosine:
    // 2 is an exact copy of 1 (sim 1.0 -> drop), 3 is orthogonal to
    // both (sim 0.0 -> keep), 5's angle to 4 is ~0.996 (drop) — the
    // SemDeDup policy catches re-scaled/near-angle copies that exact
    // dedup (d1) is blind to. Cluster minima 1 and 4 carry NULL.
    val df = Seq(
      (1L, Seq(0.0, 1.0)), (2L, Seq(0.0, 1.0)), (3L, Seq(1.0, 0.0)),
      (4L, Seq(10.0, 10.0)), (5L, Seq(10.0, 12.0)))
      .toDF("vec_id", "embedding")
    val r = Similarity.semDedup(df, k = 2, iters = 2, threshold = 0.95)
      .collect()
    graft.std.Materialize.releaseAll()
    val byId = r.map(x => x.getLong(0) ->
      (x.getString(2), if (x.isNullAt(3)) None else Some(x.getDouble(3))))
      .toMap
    assert(byId(1L) == (("keep", None)), "cluster-min id keeps, null sim")
    assert(byId(4L) == (("keep", None)), "cluster-min id keeps, null sim")
    assert(byId(2L) == (("drop", Some(1.0))), "exact copy drops at 1.0")
    assert(byId(3L) == (("keep", Some(0.0))), "orthogonal mate keeps")
    assert(byId(5L)._1 == "drop" && byId(5L)._2.get >= 0.95,
      s"near-angle copy must drop: ${byId(5L)}")
    val clusters = r.map(x => x.getLong(0) -> x.getInt(1)).toMap
    assert(clusters(1L) == clusters(2L) && clusters(2L) == clusters(3L)
      && clusters(4L) == clusters(5L) && clusters(1L) != clusters(4L),
      s"trained cells must separate the blobs: $clusters")
  }

  test("ivf tuning sweep: nested probes, hand-counted recall/candidates") {
    // cells train to {1,2,3} / {4,5} (the semDedup fixture's Lloyd
    // trace). Query 1's exact cosine top-2 is {2 (1.0), 5 (0.768)} —
    // one neighbor in EACH cell. nprobe=1 probes its own cell only:
    // candidates {2,3}, recall 1/2, scanned 2 of 4 foreign vectors;
    // nprobe=2 probes both: candidates all 4, recall 1.
    val df = Seq(
      (1L, Seq(0.0, 1.0)), (2L, Seq(0.0, 1.0)), (3L, Seq(1.0, 0.0)),
      (4L, Seq(10.0, 10.0)), (5L, Seq(10.0, 12.0)))
      .toDF("vec_id", "embedding")
    val r = Similarity.ivfTuningReport(df.filter($"vec_id" === 1L), df,
        k = 2, nprobes = Seq(1, 2), cells = 2, cellIters = 2)
      .collect().map(x => x.getInt(0) ->
        (x.getLong(1), x.getLong(2), x.getLong(3), x.getLong(4))).toMap
    graft.std.Materialize.releaseAll()
    assert(r(1) == ((1L, 500000000L, 2L, 500000000L)), s"np=1: ${r(1)}")
    assert(r(2) == ((1L, 1000000000L, 4L, 1000000000L)), s"np=2: ${r(2)}")
  }

  test("top PC: axis-aligned variance recovers exactly") {
    // mean is exactly 0; Cov = diag(2.5, 0). From the all-ones init
    // one round lands v = (1, 0) exactly: s_i = a_i, w = (Σa_i², 0)
    // = (10, 0). λ = ‖w‖/n = 2.5, var share = 10/10 = 1 — all the
    // arithmetic is exact, so the assertions are equalities.
    val df = Seq(
      (1L, Seq(2.0, 0.0)), (2L, Seq(-2.0, 0.0)),
      (3L, Seq(1.0, 0.0)), (4L, Seq(-1.0, 0.0)))
      .toDF("vec_id", "embedding")
    val r = Similarity.topPrincipalComponent(df, iters = 3)
      .collect().map(x => x.getLong(0) -> x).toMap
    graft.std.Materialize.releaseAll()
    assert(r(0L).getDouble(1) == 0.0 && r(1L).getDouble(1) == 0.0,
      "means are exactly zero")
    assert(r(0L).getDouble(2) == 1.0 && r(1L).getDouble(2) == 0.0,
      s"PC1 must align with the variance axis: ${r.values.toSeq}")
    assert(r(0L).getDouble(3) == 2.5, "Rayleigh eigenvalue = Var(x)")
    assert(r(0L).getDouble(4) == 1.0, "one axis carries ALL variance")
  }

  test("anisotropy removal: deflating PC1 leaves the minor axis as " +
    "ALL remaining variance — exact before/after arithmetic") {
    // x-variance 100, y-variance 1, mean exactly 0: PC1 converges to
    // (1, 0), nrm1 = n·λ1 = 400, trace = 404; the deflation zeroes the
    // x column exactly (s_i = ±10, c − s·v), so the second chain sees
    // only the y axis: nrm2 = 4, trace2 = 4. Every output cell is an
    // exact equality.
    val df = Seq(
      (1L, Seq(10.0, 1.0)), (2L, Seq(-10.0, 1.0)),
      (3L, Seq(10.0, -1.0)), (4L, Seq(-10.0, -1.0)))
      .toDF("vec_id", "embedding")
    val r = Similarity.anisotropyRemovalReport(df, iters = 6).collect()
    graft.std.Materialize.releaseAll()
    assert(r.length == 1)
    val row = r.head
    assert(row.getLong(0) == 4L)
    assert(row.getDouble(1) == 100.0, s"lambda1: $row")
    assert(row.getDouble(2) == 0.990099, s"var_share_before: $row")
    assert(row.getDouble(3) == 1.0, s"lambda2: $row")
    assert(row.getDouble(4) == 1.0, s"var_share_after: $row")
    assert(row.getDouble(5) == 0.990099, s"removed_var_share: $row")
    // and the empty corpus reports no row, never a division error
    val empty = Seq.empty[(Long, Seq[Double])].toDF("vec_id", "embedding")
    assert(Similarity.anisotropyRemovalReport(empty).collect().isEmpty)
    graft.std.Materialize.releaseAll()
  }

  test("memoized training: identical codebook, memo hit included") {
    val df = Seq(
      (1L, Seq(0.5, 2.5)), (2L, Seq(1.5, 0.5)), (3L, Seq(3.5, 2.0)),
      (4L, Seq(8.0, 8.5)), (5L, Seq(7.5, 9.0)), (6L, Seq(9.0, 7.5)))
      .toDF("vec_id", "embedding")
    def run(tag: Option[String]) = {
      val r = Similarity.kmeansTrain(df, 3, 3, memoTag = tag)
        .collect().map(_.toString).sorted.toSeq
      graft.std.Materialize.releaseAll()
      r
    }
    val pure = run(None)
    val first = run(Some("spec-memo"))   // builds + pins the memo
    val hit = run(Some("spec-memo"))     // served from the memo
    graft.std.SessionMemo.releaseSession(spark)
    assert(pure == first && first == hit,
      "memoized and pure training must be bit-identical")
  }

  test("training is deterministic across runs") {
    val df = Seq(
      (1L, Seq(0.5, 2.5)), (2L, Seq(1.5, 0.5)), (3L, Seq(3.5, 2.0)),
      (4L, Seq(8.0, 8.5)), (5L, Seq(7.5, 9.0)), (6L, Seq(9.0, 7.5)))
      .toDF("vec_id", "embedding")
    val a = Similarity.kmeansTrain(df, k = 3, iters = 3).collect()
      .map(_.toString).sorted.toSeq
    graft.std.Materialize.releaseAll()
    val b = Similarity.kmeansTrain(df, k = 3, iters = 3).collect()
      .map(_.toString).sorted.toSeq
    graft.std.Materialize.releaseAll()
    assert(a == b, "identical input must train to identical codebooks")
  }

  test("residual IVF-PQ: clustered data scores recall 1.0; " +
    "identical cell-mates read ADC 0") {
    // same blob fixture as the raw-PQ recall spec: the residual
    // encoding must ALSO recover the structure (the coarse step eats
    // the blob offsets, PQ spends its codewords within-blob)...
    val corpus = Seq(
      (1L, Seq(0.0, 1.0)), (2L, Seq(0.0, 1.1)), (3L, Seq(0.1, 1.0)),
      (4L, Seq(9.0, 9.0)), (5L, Seq(9.0, 9.1)))
      .toDF("vec_id", "embedding")
    val queries = corpus.filter($"vec_id" === 1L)
    val ann = Similarity.ivfPqResidualTopK(queries, corpus, k = 2,
      nprobe = 1, cells = 2, cellIters = 2, subspaces = 2,
      codewords = 2, pqIters = 2)
    val rec = Similarity.recallAtK(ann,
      Similarity.bruteForceTopKL2(queries, corpus, 2), 2).collect()
    graft.std.Materialize.releaseAll()
    assert(rec.length == 1 && rec(0).getDouble(4) == 1.0,
      s"residual index must recover clustered neighbors: ${rec.toSeq}")
    // ...and when every member of a cell is IDENTICAL, residuals are
    // exactly zero, so the query's ADC to its cell-mates is 0.0 —
    // the encode/decode round-trip pinned at the arithmetic level
    val flat = Seq(
      (1L, Seq(2.0, 3.0)), (2L, Seq(2.0, 3.0)), (3L, Seq(2.0, 3.0)),
      (4L, Seq(50.0, 50.0)), (5L, Seq(50.0, 50.0)))
      .toDF("vec_id", "embedding")
    val fq = flat.filter($"vec_id" === 1L)
    val r2 = Similarity.ivfPqResidualTopK(fq, flat, k = 2,
      nprobe = 1, cells = 2, cellIters = 2, subspaces = 2,
      codewords = 2, pqIters = 2).collect()
    graft.std.Materialize.releaseAll()
    assert(r2.map(_.getLong(1)).toSet == Set(2L, 3L),
      s"candidates must stay in the probed cell: ${r2.toSeq}")
    assert(r2.forall(_.getDouble(3) == 0.0),
      s"identical cell-mates must read ADC 0: ${r2.toSeq}")
  }

  test("elbow sweep: separated blobs collapse WCSS once k covers them") {
    // two tight blobs: k=1 pays the full between-blob spread, k=2
    // lands on the blob means (tiny within-blob WCSS), and every row
    // accounts for all 6 vectors with live clusters <= k
    val df = Seq(
      (1L, Seq(0.0, 0.0)), (2L, Seq(0.0, 2.0)), (3L, Seq(0.0, 1.0)),
      (4L, Seq(10.0, 10.0)), (5L, Seq(10.0, 12.0)),
      (6L, Seq(10.0, 11.0)))
      .toDF("vec_id", "embedding")
    val rows = Similarity.kmeansElbow(df, ks = Seq(1, 2), iters = 4)
      .collect().map(r => r.getInt(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    graft.std.Materialize.releaseAll()
    assert(rows.keySet == Set(1, 2))
    assert(rows(1)._1 == 1L && rows(2)._1 <= 2L)
    assert(rows(1)._2 == 6L && rows(2)._2 == 6L)
    assert(rows(2)._3 < rows(1)._3 / 10,
      s"covering k must collapse WCSS: $rows")
  }

  test("sampled training at sampleMod=1 IS the full-corpus trained " +
    "index: identical result frames") {
    // with every vector sampled, the codebooks are bit-identical to
    // ivfPqTopKTrained's (same seedTags, same loop), and the explicit
    // encode pass reproduces the loop's final assignment — so the two
    // lifecycles must return THE SAME rows, proving the encode step
    // is exact, not an approximation of training-side assignment
    val corpus = Seq(
      (1L, Seq(0.0, 1.0)), (2L, Seq(0.0, 1.1)), (3L, Seq(0.1, 1.0)),
      (4L, Seq(9.0, 9.0)), (5L, Seq(9.0, 9.1)))
      .toDF("vec_id", "embedding")
    val queries = corpus.filter($"vec_id" === 1L)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1),
        r.getInt(2), r.getDouble(3))).toSeq.sorted
    val sampled = rows(Similarity.ivfPqTopKSampled(queries, corpus,
      k = 2, sampleMod = 1, nprobe = 1, cells = 2, cellIters = 2,
      subspaces = 2, codewords = 2, pqIters = 2))
    val trained = rows(Similarity.ivfPqTopKTrained(queries, corpus,
      k = 2, nprobe = 1, cells = 2, cellIters = 2, subspaces = 2,
      codewords = 2, pqIters = 2))
    graft.std.Materialize.releaseAll()
    assert(sampled == trained,
      s"sampleMod=1 must equal full training: $sampled vs $trained")
  }

  test("indexAssign: hand-built codebooks — nearest cell, per-sub " +
    "codewords, equidistant ties to the smaller id") {
    val cellCb = Seq((0, 0L, 0.0), (0, 1L, 0.0),
        (1, 0L, 10.0), (1, 1L, 10.0))
      .toDF("_cw", "_dim", "_c")
    // subspaces=2: codeword ids repeat per subspace, disambiguated
    // by dim % 2 (sub 0 owns dim 0, sub 1 owns dim 1)
    val pqCb = Seq((0, 0L, 0.0), (1, 0L, 2.0),
        (0, 1L, 0.0), (1, 1L, 2.0))
      .toDF("_cw", "_dim", "_c")
    val batch = Seq(
      (1L, Seq(1.0f, 1.0f)),   // both subs equidistant 0 vs 2 -> cw 0
      (2L, Seq(1.5f, 0.0f)))   // sub0 nearer 2 -> cw 1; sub1 -> cw 0
      .toDF("vec_id", "embedding")
    val out = Similarity.indexAssign(batch, cellCb, pqCb, 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(2)) ->
        ((r.getLong(1), r.getLong(3)))).toMap
    assert(out((1L, 0L)) == ((0L, 0L)) && out((1L, 1L)) == ((0L, 0L)),
      s"ties must pick the smaller codeword id: $out")
    assert(out((2L, 0L)) == ((0L, 1L)) && out((2L, 1L)) == ((0L, 0L)),
      s"per-subspace argmin: $out")
  }

  test("sampled training still encodes and returns UNSAMPLED vectors") {
    // the whole point of the split: vectors the trainer never saw are
    // encoded against the frozen codebooks and are retrievable. Pick
    // sampleMod=2; whichever blob-mates fall outside the hash-sample
    // must still appear as neighbors of their blob's query.
    val corpus = Seq(
      (1L, Seq(0.0, 1.0)), (2L, Seq(0.0, 1.1)), (3L, Seq(0.1, 1.0)),
      (4L, Seq(9.0, 9.0)), (5L, Seq(9.0, 9.1)), (6L, Seq(9.1, 9.0)))
      .toDF("vec_id", "embedding")
    import org.apache.spark.sql.functions.{col, concat, lit}
    val inSample = corpus.select(col("vec_id"))
      .filter(TextOps.hash64(concat(lit("s27|"),
        col("vec_id").cast("string"))) % 2 === 0)
      .collect().map(_.getLong(0)).toSet
    assert(inSample.nonEmpty && inSample.size < 6,
      s"fixture must split: $inSample")
    val queries = corpus.filter($"vec_id" === 1L)
    val out = Similarity.ivfPqTopKSampled(queries, corpus, k = 5,
      sampleMod = 2, nprobe = 2, cells = 2, cellIters = 2,
      subspaces = 2, codewords = 2, pqIters = 2).collect()
    graft.std.Materialize.releaseAll()
    val neighbors = out.map(_.getLong(1)).toSet
    // both cells probed -> EVERY other vector is retrievable,
    // including id 2 (unsampled: {1,2} hash odd, {3,4,5,6} even)
    assert(neighbors == Set(2L, 3L, 4L, 5L, 6L),
      s"full probe must retrieve the whole encoded corpus: $neighbors")
    assert((neighbors -- inSample).nonEmpty,
      s"unsampled vectors must be encoded and retrievable: " +
        s"$neighbors vs sample $inSample")
  }

  // ---- s30: simplified silhouette ----

  private def r9(x: Double): Double =
    BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
  private def r6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
  private def silPoint(a2: Double, b2: Double): Double = {
    val a = r9(math.sqrt(a2)); val b = r9(math.sqrt(b2))
    if (math.max(a, b) > 0) r6((b - a) / math.max(a, b)) else 0.0
  }

  test("silhouette: the converged two-blob fixture scores a replayed " +
    "hand-computation exactly") {
    // same fixture as the trainer spec: after 2 rounds cluster 0 IS
    // blob B's exact mean (10,11), cluster 1 blob A's (0,1) — so
    // every a2/b2 below is an exact integer and the replay shares
    // the operator's full rounding path (9-dp sqrt, 6-dp s)
    val df = Seq(
      (1L, Seq(0.0, 0.0)), (2L, Seq(0.0, 2.0)), (3L, Seq(0.0, 1.0)),
      (4L, Seq(10.0, 10.0)), (5L, Seq(10.0, 12.0)))
      .toDF("vec_id", "embedding")
    val r = Similarity.silhouette(df, k = 2, iters = 2).collect()
    graft.std.Materialize.releaseAll()
    val byC = r.map(x => x.getInt(0).toLong ->
      ((x.getLong(1), x.getDouble(2), x.getDouble(3), x.getLong(4))))
      .toMap
    // blob A members vs centroids (0,1) own / (10,11) other
    val sA = Seq(silPoint(1, 221), silPoint(1, 181), silPoint(0, 200))
    // blob B members vs (10,11) own / (0,1) other
    val sB = Seq(silPoint(1, 181), silPoint(1, 221))
    val expA = r6(sA.sum / 3)
    val expB = r6(sB.sum / 2)
    assert(byC(1L) == ((3L, expA, sA.min, 0L)), s"got $byC")
    assert(byC(0L) == ((2L, expB, sB.min, 0L)), s"got $byC")
    assert(expA > 0.9 && expB > 0.9,
      s"tight separated blobs must score near 1: $expA / $expB")
  }

  test("silhouette: a single live cluster degrades to s = 0, " +
    "never NULL") {
    // k = 1: there is no other centroid; b COALESCEs to a
    val df = Seq((1L, Seq(0.0, 0.0)), (2L, Seq(4.0, 0.0)))
      .toDF("vec_id", "embedding")
    val r = Similarity.silhouette(df, k = 1, iters = 1).collect()
    graft.std.Materialize.releaseAll()
    assert(r.length == 1)
    assert(r(0).getLong(1) == 2L)
    assert(r(0).getDouble(2) == 0.0 && r(0).getDouble(3) == 0.0)
    // s = 0 sits below the 0.25 margin: with no rival centroid EVERY
    // member is a boundary member, which is the honest readout
    assert(r(0).getLong(4) == 2L)
  }

  test("silhouette: differential vs a driver-side replay from the " +
    "trained centroids — boundary members counted, s never negative") {
    // an overlapping grid corpus (0.25 steps, exactly representable):
    // wherever training lands, the replay recomputes own/other from
    // kmeansTrain's OWN centroid output, so the expectation holds for
    // any converged or truncated state
    val pts = (0 until 40).map { i =>
      (i.toLong, Seq((i % 8) * 0.25, (i / 8) * 0.25 + (i % 3) * 0.5))
    }
    val df = pts.toDF("vec_id", "embedding")
    val cents = Similarity.kmeansTrain(df, k = 3, iters = 2)
      .collect()
      .groupBy(_.getInt(1))
      .map { case (c, rows) =>
        c -> rows.sortBy(_.getLong(2)).map(_.getDouble(3)).toSeq }
    val expected = pts.map { case (_, p) =>
      val ds = cents.toSeq.map { case (c, ct) =>
        (p.zip(ct).map { case (x, cx) => (x - cx) * (x - cx) }.sum, c)
      }.sorted
      (ds.head._2, silPoint(ds.head._1, ds(1)._1))
    }
    assert(expected.forall(_._2 >= 0),
      "centroid-form silhouette is non-negative by construction")
    val expByC = expected.groupBy(_._1).map { case (c, xs) =>
      c.toLong -> ((xs.size.toLong, r6(xs.map(_._2).sum / xs.size),
        xs.map(_._2).min, xs.count(_._2 < 0.25).toLong))
    }
    assert(expByC.values.map(_._4).sum > 0,
      s"the overlapping grid must produce boundary members: $expByC")
    val r = Similarity.silhouette(df, k = 3, iters = 2).collect()
    graft.std.Materialize.releaseAll()
    val got = r.map(x => x.getInt(0).toLong ->
      ((x.getLong(1), x.getDouble(2), x.getDouble(3), x.getLong(4))))
      .toMap
    assert(got == expByC, s"got $got expected $expByC")
  }

  // ---- the nearest-codeword kernel vs the exploded DECIMAL form ----

  private type Assigned = (Long, Int, Int, Option[java.math.BigDecimal], Long)

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Set[Assigned] =
    df.select("_vid", "_sub", "_cw", "_dist", "_nd").collect().map(r =>
      (r.getLong(0), r.getInt(1), r.getInt(2),
        Option(r.getDecimal(3)).map(_.stripTrailingZeros), r.getLong(4)))
      .toSet

  /** Kernel rows and pqNearestCodewords rows for the same vectors and
    * `(_cw, _dim, _c)` codebook at `m` subspaces.
    */
  private def bothForms(vecs: org.apache.spark.sql.DataFrame,
                        cb: org.apache.spark.sql.DataFrame,
                        m: Int): (Set[Assigned], Set[Assigned]) = {
    import org.apache.spark.sql.functions.col
    val v = vecs.select(col("vec_id").as("_vid"),
      col("embedding").cast("array<double>").as("_v"))
    val kernel = rowsOf(Similarity.nearestCodewords(v,
      Similarity.codebookOf(cb, m)))
    val exploded = rowsOf(Similarity.pqNearestCodewords(
      Similarity.pqExplode(vecs, m, "vec_id", "embedding"), cb))
    (kernel, exploded)
  }

  test("nearest-codeword kernel ≡ pqNearestCodewords: exact ties, a " +
    "dropped codeword, 1 and 4 subspaces") {
    // 8-dim grid vectors (0.5 steps: every distance is exact, so ties
    // are real ties); codeword 2 is absent in every subspace and
    // codewords 3 and 4 are identical, so 4 may never win
    val vecs = Seq(
      (1L, Seq(1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0)),
      (2L, Seq(0.0, 2.0, 0.5, 1.5, 3.0, 0.0, 2.0, 1.0)),
      (3L, Seq(2.0, 2.0, 2.0, 2.0, 2.0, 2.0, 2.0, 2.0)),
      (4L, Seq(0.5, 0.5, 0.5, 0.5, 0.5, 0.5, 0.5, 0.5)),
      (5L, Seq(-1.0, 3.5, 1.0, 0.0, 1.5, 2.5, 0.5, 2.0)))
      .toDF("vec_id", "embedding")
    val comps = Map(0 -> 0.0, 1 -> 2.0, 3 -> 1.5, 4 -> 1.5, 5 -> 0.5)
    val cb = (for { (cw, c) <- comps.toSeq; d <- 0 until 8 }
      yield (cw, d.toLong, if (d % 2 == 0) c else 2.0 - c))
      .toDF("_cw", "_dim", "_c")
    for (m <- Seq(1, 4)) {
      val (kernel, exploded) = bothForms(vecs, cb, m)
      assert(exploded.size == 5 * m)
      assert(kernel == exploded, s"m=$m: ${kernel -- exploded} vs " +
        s"${exploded -- kernel}")
      assert(!kernel.exists(_._3 == 4), "a tie goes to the smaller id")
    }
    // vector 1 is 0.5 from codewords 3, 4 and 5 in every dim
    val (k1, _) = bothForms(vecs.filter($"vec_id" === 1L), cb, 1)
    assert(k1.map(_._3) == Set(3), s"equidistant -> smallest id: $k1")
  }

  test("nearest-codeword kernel ≡ pqNearestCodewords on seeded data, " +
    "with null elements, a short vector and long-overflowing sums") {
    val rnd = new scala.util.Random(41)
    val vecs = (1L to 120L).map { i =>
      val scale = if (i % 10 == 0) 3000.0 else 1.0
      val dims = if (i == 7L) 5 else 8
      (i, (0 until dims).map { d =>
        if (i == 11L && d == 3) null
        else java.lang.Double.valueOf(rnd.nextGaussian() * scale)
      })
    }.toDF("vec_id", "embedding")
    val cb = (for { cw <- Seq(0, 1, 2, 4, 6); d <- 0 until 8 }
      yield (cw, d.toLong, rnd.nextGaussian())).toDF("_cw", "_dim", "_c")
    for (m <- Seq(1, 4)) {
      val (kernel, exploded) = bothForms(vecs, cb, m)
      assert(kernel == exploded, s"m=$m: ${kernel -- exploded} vs " +
        s"${exploded -- kernel}")
      assert(kernel.exists(_._4.exists(_.compareTo(
        new java.math.BigDecimal("9223372.036854775807")) > 0)),
        "some distance must leave the e12 long range")
    }
  }

  // ---- s26: every k is an independent chain of ONE loop ----

  test("elbow chains are independent: each k's row equals a lone " +
    "kmeansTrain readout with the same seed tag") {
    import org.apache.spark.sql.functions._
    // three overlapping blobs: chains of different k move different
    // members, so any leak between chains changes the codebooks
    val rnd = new scala.util.Random(5)
    val df = (1L to 60L).map { i =>
      val c = (i % 3).toDouble * 2.0
      (i, Seq(c + rnd.nextGaussian(), c - rnd.nextGaussian(),
        rnd.nextGaussian()))
    }.toDF("vec_id", "embedding")
    val ks = Seq(1, 2, 3)
    val elbow = Similarity.kmeansElbow(df, ks, iters = 3).collect()
      .map(r => r.getInt(0) -> r.toSeq.drop(1)).toMap
    graft.std.Materialize.releaseAll()
    for (k <- ks) {
      val lone = Similarity.kmeansTrain(df, k, 3, seedTag = s"el$k")
        .select(col("cluster_id"), col("n_members"), col("wcss"))
        .distinct()
        .agg(count(lit(1)), sum(col("n_members")),
          round(sum(col("wcss").cast("decimal(28,9)")).cast("double"), 9),
          max(col("n_members")), min(col("n_members")))
        .collect().head.toSeq
      graft.std.Materialize.releaseAll()
      assert(elbow(k) == lone, s"k=$k: elbow ${elbow(k)} vs lone $lone")
    }
  }
}
