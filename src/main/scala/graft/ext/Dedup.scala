package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for large text corpora — the core of an
  * LLM-training-data pipeline (extension beyond the reference; north star
  * in BASELINE.json).
  *
  * Scale design (100 TB):
  *  - signatures (MinHash, SimHash) are per-row `Column` expressions over
  *    the shingle/token arrays — computed in one narrow codegen stage,
  *    NO explode, NO shuffle;
  *  - candidate generation is LSH banding: explode only the b band keys
  *    (b ≈ 4-16 rows per doc, not |shingles| rows), shuffle on the band
  *    key, self-join inside buckets — never an O(n²) cross join;
  *  - verification joins candidate pairs back to the shingle arrays by
  *    doc id (two hash joins keyed on the id — broadcastable while the
  *    candidate set is small, shuffled beyond).
  */
object Dedup {

  /** Exact-duplicate groups keyed on md5 of normalized text: one shuffle
    * on a 128-bit key, never on the text itself (at 100 TB the group key
    * must be a digest, not the document).
    */
  def exactGroups(docs: DataFrame, textCol: String = "text",
                  idCol: String = "doc_id"): DataFrame =
    docs.groupBy(md5(TextOps.normText(col(textCol))).as("group_hash"))
      .agg(count(lit(1)).as("n_copies"), min(col(idCol)).as("keeper"))

  /** Cross-source duplicate-overlap matrix (t53): for every unordered
    * source pair, how much exact-duplicate content the two sources
    * share — the pre-mixing diagnostic that tells a curation pipeline
    * which source pairs are redundant (a high-overlap pair double-
    * counts its content in the mixture; dedup-then-mix vs mix-then-
    * dedup changes their effective weights). Emits one row per pair
    * `source_a < source_b` — ZERO-overlap pairs included, because "these
    * two crawls are disjoint" is exactly what the report is for.
    *
    * 100-TB shape: each source collapses to its DISTINCT digest set
    * first (one shuffle on the 128-bit digest, text never moves), so
    * the overlap self-join carries (source, digest) pairs only and a
    * digest's bucket holds at most one row PER SOURCE — per-key join
    * fan-out is bounded by the source count, not by how many times a
    * popular document repeats. The pair skeleton is the tiny
    * per-source count frame crossed with itself (|sources|² rows,
    * broadcast), so zero-overlap pairs cost nothing.
    *
    * Determinism: counts are exact integers; `jaccard` and
    * `overlap_coeff` are single IEEE divisions of those integers —
    * no rounding step exists to disagree about.
    */
  def sourceOverlap(docs: DataFrame, textCol: String = "text",
                    sourceCol: String = "source"): DataFrame = {
    val digests = graft.std.Materialize.once(
      docs.filter(col(sourceCol).isNotNull)
        .select(col(sourceCol).as("source"),
          md5(TextOps.normText(coalesce(col(textCol), lit(""))))
            .as("_digest"))
        .distinct())
    val counts = graft.std.Materialize.once(
      digests.groupBy("source").agg(count(lit(1)).as("n_digests")))
    val pairs = counts
      .select(col("source").as("source_a"),
        col("n_digests").as("n_digests_a"))
      .join(counts.select(col("source").as("source_b"),
        col("n_digests").as("n_digests_b")),
        col("source_a") < col("source_b"))
    val shared = digests
      .select(col("source").as("source_a"), col("_digest"))
      .join(digests.select(col("source").as("source_b"), col("_digest")),
        Seq("_digest"))
      .filter(col("source_a") < col("source_b"))
      .groupBy("source_a", "source_b").agg(count(lit(1)).as("_ns"))
    pairs.join(shared, Seq("source_a", "source_b"), "left_outer")
      .select(col("source_a"), col("source_b"),
        col("n_digests_a"), col("n_digests_b"),
        expr("coalesce(_ns, 0L)").as("n_shared"))
      .withColumn("jaccard", col("n_shared").cast("double") /
        (col("n_digests_a") + col("n_digests_b") - col("n_shared"))
          .cast("double"))
      .withColumn("overlap_coeff", col("n_shared").cast("double") /
        least(col("n_digests_a"), col("n_digests_b")).cast("double"))
  }

  /** Corpus SNAPSHOT DIFF (t37) — the dataset-versioning delta between
    * two corpus versions: per doc_id, `added` / `removed` / `changed` /
    * `unchanged`, with both content digests. The audit artifact a
    * curation pipeline publishes alongside every refresh (what moved
    * between crawl N and crawl N+1), and the input to incremental
    * downstream recompute (only `added`+`changed` need re-scoring).
    *
    * 100-TB shape: each side collapses to (doc_id, 16-byte digest)
    * BEFORE the full-outer join — text never shuffles, join volume is
    * two digest columns. Snapshots written bucketed by doc_id
    * ([[graft.sources.Bucketing]]) make the join exchange-free; AQE
    * handles the rest. Null text digests as the empty string on both
    * dialects (the t28 rule).
    */
  def snapshotDiff(v1: DataFrame, v2: DataFrame,
                   textCol: String = "text",
                   idCol: String = "doc_id"): DataFrame = {
    def digested(df: DataFrame, name: String) =
      df.select(col(idCol),
        md5(TextOps.normText(coalesce(col(textCol), lit("")))).as(name))
    digested(v1, "old_digest")
      .join(digested(v2, "new_digest"), Seq(idCol), "full_outer")
      .select(col(idCol),
        when(col("old_digest").isNull, "added")
          .when(col("new_digest").isNull, "removed")
          .when(col("old_digest") === col("new_digest"), "unchanged")
          .otherwise("changed").as("status"),
        col("old_digest"), col("new_digest"))
  }

  /** Diff SEVERITY (t38) — for docs whose content changed between two
    * snapshots, classify HOW MUCH: 3-shingle Jaccard between the old
    * and new text, `revised` (≥ threshold — boilerplate drift, small
    * edits) vs `rewritten` (below — effectively a new document). The
    * distinction drives incremental recompute: a revised doc keeps its
    * embeddings/scores with a cheap refresh, a rewritten one re-enters
    * the pipeline as new.
    *
    * Scale: the id-join carries text, so this pairs with bucketed-by-
    * doc_id snapshots (exchange-free join); the digest filter then cuts
    * to the changed subset before any shingling. Shingle arrays cross
    * an [[TextOps.attrBarrier]] — the transform lambda would otherwise
    * re-evaluate the tokenize chain per shingle (the t1 defect).
    */
  def diffSeverity(v1: DataFrame, v2: DataFrame,
                   textCol: String = "text",
                   threshold: Double = 0.5): DataFrame = {
    def side(df: DataFrame, name: String) =
      df.select(col("doc_id"),
        TextOps.normText(coalesce(col(textCol), lit(""))).as(name))
    val changed = side(v1, "_t1").join(side(v2, "_t2"), "doc_id")
      .filter(md5(col("_t1")) =!= md5(col("_t2")))
    val b1 = TextOps.attrBarrier(changed, Seq("doc_id", "_t2"),
      "_toks1", split(col("_t1"), " "))
    val b2 = TextOps.attrBarrier(b1, Seq("doc_id", "_toks1"),
      "_toks2", split(col("_t2"), " "))
    // shingle arrays are read twice each (intersect + union): barrier
    // them as well, or the transform runs 2× per row
    val b3 = TextOps.attrBarrier(b2, Seq("doc_id", "_toks2"),
      "_s1", TextOps.shingles(col("_toks1"), 3))
    val b4 = TextOps.attrBarrier(b3, Seq("doc_id", "_s1"),
      "_s2", TextOps.shingles(col("_toks2"), 3))
    b4.select(col("doc_id"),
      round(jaccard(col("_s1"), col("_s2")), 6).as("jaccard"))
      .withColumn("severity",
        when(col("jaccard") >= threshold, "revised")
          .otherwise("rewritten"))
  }

  /** Exact dedup keeping the smallest id per group (deterministic
    * survivor). One shuffle (window over the digest key).
    */
  def dropExactDuplicates(docs: DataFrame, textCol: String = "text",
                          idCol: String = "doc_id"): DataFrame = {
    val w = Window.partitionBy(md5(TextOps.normText(col(textCol))))
      .orderBy(col(idCol))
    docs.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1).drop("_rn")
  }

  /** Permutation `i` of the MinHash family: a 32-bit lane of a seeded
    * md5 — lanes 0-3 share one md5 (seed i/4), so k=8 permutations cost
    * TWO md5 evaluations per shingle, not eight. DuckDB twin:
    * `CAST('0x' || substr(md5('{i/4}|' || s), (i%4)*8+1, 8) AS BIGINT)`.
    * Native digest-lane kernel ([[graft.functions.Md5Lane]]): hex char
    * offset (i%4)*8 = digest byte offset (i%4)*4, same value without
    * the hex-string round trip.
    */
  def laneHash(i: Int, s: Column): Column =
    org.apache.spark.sql.GraftColumns.md5Lane(
      concat(lit(s"${i / 4}|"), s), (i % 4) * 4, 4)

  /** MinHash signatures as k min-columns `s0..s{k-1}` via explode +
    * partial-aggregated `min`. The aggregation is deliberate: it is a
    * pipeline barrier, so downstream self-joins reuse ONE materialized
    * signature exchange instead of re-inlining the whole shingle+hash
    * expression tree into every band key and join side (projection
    * collapse made the expression form ~8× slower — measured). Shuffle
    * volume is docs × k longs (map-side combine absorbs the shingle
    * explosion).
    */
  def minHashSignatures(docSh: DataFrame, k: Int, idCol: String = "doc_id",
                        shCol: String = "sh"): DataFrame = {
    val ex = docSh.select(col(idCol), explode(col(shCol)).as("_s"))
    ex.groupBy(col(idCol)).agg(
      min(laneHash(0, col("_s"))).as("s0"),
      (1 until k).map(i => min(laneHash(i, col("_s"))).as(s"s$i")): _*)
  }

  /** Candidate pairs from LSH banding over the signature columns: band j
    * digests `s(j*r) .. s(j*r+r-1)`; explode the band keys, self-join on
    * (band, key), keep ordered distinct pairs. Shuffle volume is
    * docs × bands small rows — independent of document size.
    *
    * `maxBucketSize`: a bucket of n docs yields n·(n-1)/2 candidates, so
    * one template/boilerplate clique of 10⁴ near-identical docs emits
    * 5·10⁷ pairs from a single band key — the quadratic blowup a 100×
    * clique-corpus probe measures. When set, buckets larger than the cap
    * are DROPPED (the members are near-identical boilerplate whose
    * resolution belongs to exact dedup + cluster representatives, not
    * pairwise verification — the standard production guard). Default
    * `None` keeps candidate generation exhaustive and the DuckDB oracle
    * twin exact. The cap's count runs as a window over the same
    * (band, key) exchange the self-join shuffles on, so it adds no
    * extra shuffle.
    */
  def lshCandidatePairs(sigs: DataFrame, k: Int, bands: Int,
                        idCol: String = "doc_id",
                        maxBucketSize: Option[Int] = None): DataFrame = {
    require(k % bands == 0, s"k=$k not divisible by bands=$bands")
    val exploded = bandKeys(sigs, k, bands, idCol)
    val bucketed = maxBucketSize match {
      case Some(cap) =>
        val w = Window.partitionBy(col("band"), col("key"))
        exploded.withColumn("_n", count(lit(1)).over(w))
          .filter(col("_n") <= cap).drop("_n")
      case None => exploded
    }
    val a = bucketed.select(col(idCol).as("id_a"), col("band"), col("key"))
    val b = bucketed.select(col(idCol).as("id_b"), col("band"), col("key"))
    a.join(b, Seq("band", "key"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** The (id, band, key) LSH band-key frame both candidate forms join
    * on: band j digests signature columns `s(j*r) .. s(j*r+r-1)`.
    *
    * Public because this IS the incremental-dedup state: a production
    * pipeline persists the accumulated corpus's band keys (bucketed on
    * (band, key)) between increments, so each new batch joins against
    * a pre-partitioned table and only the batch side shuffles — the
    * README's "Incremental-dedup scale probe" measures exactly that.
    */
  def bandKeysOf(sigs: DataFrame, k: Int, bands: Int,
                 idCol: String = "doc_id"): DataFrame = {
    require(k % bands == 0, s"k=$k not divisible by bands=$bands")
    bandKeys(sigs, k, bands, idCol)
  }

  private def bandKeys(sigs: DataFrame, k: Int, bands: Int,
                       idCol: String): DataFrame = {
    val r = k / bands
    val bandArr = array((0 until bands).map { j =>
      val parts = (0 until r).map(x => col(s"s${j * r + x}").cast("string"))
      struct(lit(j).as("band"),
        md5(concat_ws(",", parts: _*)).as("key"))
    }: _*)
    sigs.select(col(idCol), explode(bandArr).as("b"))
      .select(col(idCol), col("b.band").as("band"), col("b.key").as("key"))
  }

  /** Cross-corpus LSH candidates: batch signatures against an EXISTING
    * corpus's signatures — the incremental-dedup shape (dedupe today's
    * crawl against the accumulated corpus without re-pairing the corpus
    * with itself). An equi-join on (band, key) between the two band-key
    * frames; shuffle volume is (|A| + |B|) × bands small rows, and the
    * existing side's band keys are exactly what a production pipeline
    * keeps materialized between increments.
    */
  def lshCrossCandidates(sigsA: DataFrame, sigsB: DataFrame, k: Int,
                         bands: Int, idCol: String = "doc_id"): DataFrame =
    lshCrossCandidatesKeys(sigsA,
      bandKeys(sigsB, k, bands, idCol), k, bands, idCol)

  /** [[lshCrossCandidates]] against the existing corpus's PRECOMPUTED
    * band keys ([[bandKeysOf]]) — the form the incremental pipelines
    * feed their materialized (band, key)-partitioned standing keys
    * (r22): only the batch side's keys are derived (and shuffled) per
    * increment; the standing side arrives co-partitioned.
    */
  def lshCrossCandidatesKeys(sigsA: DataFrame, bandKeysB: DataFrame,
                             k: Int, bands: Int,
                             idCol: String = "doc_id"): DataFrame = {
    require(k % bands == 0, s"k=$k not divisible by bands=$bands")
    val a = bandKeys(sigsA, k, bands, idCol)
      .select(col(idCol).as("id_a"), col("band"), col("key"))
    val b = bandKeysB
      .select(col(idCol).as("id_b"), col("band"), col("key"))
    a.join(b, Seq("band", "key")).select("id_a", "id_b").distinct()
  }

  /** Jaccard similarity of two shingle arrays (as sets). */
  def jaccard(shA: Column, shB: Column): Column = {
    val inter = size(array_intersect(shA, shB)).cast("double")
    val uni = size(array_union(shA, shB)).cast("double")
    when(uni > 0, inter / uni)
  }

  /** Verify candidate pairs against the true n-gram Jaccard: join the
    * pair list back to the per-doc shingle arrays and keep pairs at or
    * above `threshold`.
    */
  def verifiedNearDups(candidates: DataFrame, docShingles: DataFrame,
                       threshold: Double): DataFrame =
    verifiedCrossNearDups(candidates, docShingles, docShingles, threshold)

  /** [[verifiedNearDups]] with distinct shingle frames per pair side —
    * the cross-corpus (incremental) form, where `id_a` resolves in the
    * batch and `id_b` in the existing corpus.
    */
  def verifiedCrossNearDups(candidates: DataFrame, shinglesA: DataFrame,
                            shinglesB: DataFrame,
                            threshold: Double): DataFrame = {
    val a = shinglesA.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
    val b = shinglesB.select(col("doc_id").as("id_b"), col("sh").as("sh_b"))
    candidates.join(a, "id_a").join(b, "id_b")
      .select(col("id_a"), col("id_b"),
        round(jaccard(col("sh_a"), col("sh_b")), 6).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** (doc_id, sh) shingle frame for a (doc_id, text) corpus: the token
    * expression crosses a generator barrier (a shingle lambda capturing
    * the raw split chain re-evaluates it per shingle — O(tokens²)), and
    * an under-split scan is spread across the shuffle parallelism first
    * ([[TextOps.spreadByKey]]). Batch frames only.
    */
  def shingleFrame(corpus: DataFrame, toks: Column = split(col("text"), " "),
                   n: Int = 3): DataFrame =
    TextOps.attrBarrier(TextOps.spreadByKey(corpus), Seq("doc_id"), "_toks",
        toks)
      .select(col("doc_id"), TextOps.shingles(col("_toks"), n).as("sh"))

  /** LSH band-configuration tuning report: for each band count over
    * the SAME k-minima signatures, the candidate volume, the
    * verified-pair yield, and recall against a labeled truth set —
    * the sweep every production dedup runs before fixing (bands,
    * rows): more bands → higher recall at lower per-band specificity
    * (more candidates to verify), fewer bands → the reverse. The
    * S-curve P(candidate) = 1 − (1 − j^r)^b only says where the knee
    * sits; this measures the actual cost/recall trade on the actual
    * corpus.
    *
    * `truthPairs` is (id_a, id_b) labeled positives (id_a < id_b, the
    * candidate orientation). Output per config: bands, rows_per_band,
    * n_candidates, n_verified (true Jaccard ≥ threshold), n_truth,
    * n_truth_found (truth pairs surfaced as candidates),
    * pair_precision = n_verified / n_candidates, pair_recall =
    * n_truth_found / n_truth (null when the denominator is 0).
    *
    * Scale shape: signatures and shingles are computed once by the
    * caller (pinned); the sweep itself is ONE candidate generation at
    * the finest config plus one verify pass — coarser configs are
    * per-pair signature predicates (see the nesting argument inline),
    * so adding a config to the sweep costs an expression, not a join.
    * Configs must form a divisibility chain (2, 4, 8, ...).
    */
  def lshTuningReport(docShingles: DataFrame, sigs: DataFrame, k: Int,
                      bandConfigs: Seq[Int], threshold: Double,
                      truthPairs: DataFrame,
                      maxBucketSize: Option[Int] = None): DataFrame = {
    val cfgs = bandConfigs.distinct.sorted
    require(cfgs.nonEmpty, "need at least one band configuration")
    cfgs.foreach(b => require(k % b == 0, s"k=$k not divisible by $b"))
    cfgs.sliding(2).foreach {
      case Seq(a, b) => require(b % a == 0,
        s"band configs must nest (each divides the next): $a, $b")
      case _ => ()
    }
    // Nesting makes the sweep ONE pipeline, not |configs|: a pair
    // agreeing on a coarse band agrees on every finer band inside it,
    // so cand(coarse) ⊆ cand(finest) — generate candidates once at the
    // finest config, and test coarser membership as a pure per-pair
    // predicate over the joined signature columns (band j matches iff
    // all its rows match). One banded self-join, one verify, one
    // aggregate — the r11 rewrite took the sf0.1 sweep from 8.1 s
    // (3 generations + 3 verifies) to ~2 s.
    val finest = cfgs.last
    val truth = graft.std.Materialize.once(
      truthPairs.select(col("id_a"), col("id_b")))
    val nt = truth.agg(count(lit(1)).as("n_truth"))
    val sigA = sigs.select(col("doc_id").as("id_a") +:
      (0 until k).map(i => col(s"s$i").as(s"_a$i")): _*)
    val sigB = sigs.select(col("doc_id").as("id_b") +:
      (0 until k).map(i => col(s"s$i").as(s"_b$i")): _*)
    def member(bands: Int): Column = {
      val r = k / bands
      (0 until bands).map { j =>
        (0 until r).map(x => col(s"_a${j * r + x}") === col(s"_b${j * r + x}"))
          .reduce(_ && _)
      }.reduce(_ || _)
    }
    // The verify flag runs on pre-distincted HASHED shingle sets, not
    // the string arrays: the per-doc distinct+hash amortizes over all
    // of a doc's pairs, the per-pair work is one long-array intersect,
    // and |A∪B| = |A|+|B| − |A∩B| replaces the union-array build
    // entirely (measured 8.1 s → ~3 s on the sf0.1 sweep, where the
    // low-specificity finest config emits ~100k candidates — which is
    // the finding, not a defect). The oracle hashes with the same md5
    // lane, so even a hash collision cannot diverge the engines.
    val hsh = docShingles.select(col("doc_id"),
      array_distinct(transform(col("sh"),
        s => TextOps.hash64(s))).as("_hsh"))
    val hA = hsh.select(col("doc_id").as("id_a"), col("_hsh").as("_ha"),
      size(col("_hsh")).as("_na"))
    val hB = hsh.select(col("doc_id").as("id_b"), col("_hsh").as("_hb"),
      size(col("_hsh")).as("_nb"))
    val inter = size(array_intersect(col("_ha"), col("_hb")))
    val denom = col("_na") + col("_nb") - inter
    // the finest band's bucket self-join inherits lshCandidatePairs'
    // quadratic-clique risk (one boilerplate template of 10⁴ docs emits
    // 5·10⁷ pairs from a single band key), so the cap passes straight
    // through — on a capped sweep every config's counts exclude the
    // dropped cliques, consistently, because coarser membership is a
    // predicate over the same (already capped) candidate set
    val flagged = lshCandidatePairs(sigs, k, finest, maxBucketSize = maxBucketSize)
      .join(sigA, "id_a").join(sigB, "id_b")
      .join(hA, "id_a").join(hB, "id_b")
      .join(truth.withColumn("_is_truth", lit(true)),
        Seq("id_a", "id_b"), "left_outer")
      .select(cfgs.map(b => member(b).as(s"_m_$b")) ++ Seq(
        (when(denom > 0, round(inter.cast("double") /
          denom.cast("double"), 6)) >= threshold).as("_v"),
        coalesce(col("_is_truth"), lit(false)).as("_t")): _*)
    val one = flagged.agg(
      count(lit(1)).as("_all"),
      cfgs.flatMap(b => Seq(
        coalesce(sum(when(col(s"_m_$b"), 1L)), lit(0L)).as(s"_nc_$b"),
        coalesce(sum(when(col(s"_m_$b") && col("_v"), 1L)), lit(0L))
          .as(s"_nv_$b"),
        coalesce(sum(when(col(s"_m_$b") && col("_t"), 1L)), lit(0L))
          .as(s"_nf_$b"))): _*)
    val entries = cfgs.map { b =>
      struct(lit(b).as("bands"), lit(k / b).as("rows_per_band"),
        col(s"_nc_$b").as("n_candidates"), col(s"_nv_$b").as("n_verified"),
        col(s"_nf_$b").as("n_truth_found"))
    }
    one.crossJoin(nt)
      .select(col("n_truth"), explode(array(entries: _*)).as("e"))
      .select(col("e.bands").as("bands"),
        col("e.rows_per_band").as("rows_per_band"),
        col("e.n_candidates").as("n_candidates"),
        col("e.n_verified").as("n_verified"),
        col("n_truth"),
        col("e.n_truth_found").as("n_truth_found"),
        when(col("e.n_candidates") > 0,
          round(col("e.n_verified").cast("double") /
            col("e.n_candidates").cast("double"), 6)).as("pair_precision"),
        when(col("n_truth") > 0,
          round(col("e.n_truth_found").cast("double") /
            col("n_truth").cast("double"), 6)).as("pair_recall"))
  }

  /** Precomputed corpus-side dedup state: what a production pipeline
    * persists between increments (content digests, shingle arrays,
    * MinHash signatures — [[bandKeysOf]] derives per-join). Each frame
    * is a [[graft.std.Materialize.pinUnregistered]] pin, kept out of the
    * per-query registry so neither a per-query `releaseAll` nor a
    * per-micro-batch `scoped` drops it while a stream is live; the
    * state owns its pins and [[IncrementalState.release]] frees them.
    */
  final case class IncrementalState(k: Int, digests: DataFrame,
                                    shingles: DataFrame,
                                    signatures: DataFrame) {
    def release(): Unit =
      Seq(digests, shingles, signatures)
        .foreach(graft.std.Materialize.releasePin)
  }

  /** Build [[IncrementalState]] for an existing (doc_id, text) corpus.
    * The pins follow the materialize mode like every other pin: under
    * `disk` the state frames keep lineage, so an executor lost
    * mid-stream recomputes their partitions instead of killing the
    * long-lived stream.
    */
  def corpusState(existingRaw: DataFrame, k: Int = 8): IncrementalState = {
    import graft.std.Materialize.{pinUnregistered, releasePin}
    val existing = pinUnregistered(existingRaw)
    val digests =
      pinUnregistered(existing.select(md5(col("text")).as("_dig")).distinct())
    val sh = pinUnregistered(shingleFrame(existing))
    val sigs = pinUnregistered(minHashSignatures(sh, k))
    // the raw corpus pin only fed the three derived frames
    releasePin(existing)
    IncrementalState(k, digests, sh, sigs)
  }

  /** Classify a batch of (doc_id, text) documents against an existing
    * (doc_id, text) corpus: `exact_dup` on a content-digest hit,
    * `near_dup` on a Jaccard-verified cross-corpus LSH hit, `new`
    * otherwise — the per-increment body of incremental dedup (gated as
    * d9; the streaming form applies it per micro-batch, see
    * [[graft.streaming.StreamingOps.incrementalDedupStream]]).
    * Classification consults only the static corpus, never other batch
    * docs, so statuses are batch-partitioning invariant. Texts are
    * compared as given — normalize upstream. Pins intermediates via
    * [[graft.std.Materialize.once]]; callers release per query
    * (`releaseAll`) or per micro-batch (`scoped`). One-shot form —
    * repeated increments against the same corpus build
    * [[corpusState]] once and use [[classifyIncrement]].
    */
  def incrementalClassify(batchRaw: DataFrame, existingRaw: DataFrame,
                          k: Int = 8, bands: Int = 4,
                          threshold: Double = 0.5): DataFrame = {
    // existing feeds the digest set + its shingle side — a diamond, pinned
    val existing = graft.std.Materialize.once(existingRaw)
    val exDig = existing.select(md5(col("text")).as("_dig")).distinct()
    val shE = graft.std.Materialize.once(shingleFrame(existing))
    classifyWith(batchRaw, exDig, shE, minHashSignatures(shE, k),
      k, bands, threshold)
  }

  /** [[incrementalClassify]] against precomputed [[corpusState]] — the
    * per-increment cost is O(batch) because the corpus side arrives
    * materialized (the README's "Incremental-dedup scale probe"
    * measures this form).
    */
  def classifyIncrement(state: IncrementalState, batchRaw: DataFrame,
                        bands: Int = 4,
                        threshold: Double = 0.5): DataFrame =
    classifyWith(batchRaw, state.digests, state.shingles,
      state.signatures, state.k, bands, threshold)

  private def classifyWith(batchRaw: DataFrame, exDig: DataFrame,
                           shE: DataFrame, sigE: DataFrame, k: Int,
                           bands: Int, threshold: Double): DataFrame = {
    // batch feeds the exact semi/anti pair — a diamond, pinned
    val batch = graft.std.Materialize.once(
      batchRaw.withColumn("_dig", md5(col("text"))))
    val exactDups = batch.join(exDig, Seq("_dig"), "left_semi")
      .select("doc_id")
    val rest = graft.std.Materialize.once(
      batch.join(exDig, Seq("_dig"), "left_anti").select("doc_id", "text"))
    finishClassification(exactDups, rest, shE, sigE, k, bands, threshold)
  }

  /** The near-dup + new tail shared by the exact and bloom-prefiltered
    * classifiers: `rest` is whatever survived exact dedup.
    */
  private def finishClassification(exactDups: DataFrame, rest: DataFrame,
                                   shE: DataFrame, sigE: DataFrame, k: Int,
                                   bands: Int,
                                   threshold: Double): DataFrame = {
    val shB = graft.std.Materialize.once(shingleFrame(rest))
    val cands = lshCrossCandidates(
      minHashSignatures(shB, k), sigE, k, bands)
    // near feeds BOTH the near_dup union branch and the 'new' anti-join;
    // unpinned, the whole sig+band+verify subtree executes twice
    val near = graft.std.Materialize.once(
      verifiedCrossNearDups(cands, shB, shE, threshold)
        .select(col("id_a").as("doc_id")).distinct())
    val newIds = rest.select("doc_id").join(near, Seq("doc_id"), "left_anti")
    exactDups.withColumn("status", lit("exact_dup"))
      .unionByName(near.withColumn("status", lit("near_dup")))
      .unionByName(newIds.withColumn("status", lit("new")))
  }

  /** Bloom bit array over the corpus digest set — build once per corpus
    * next to [[corpusState]], reuse across increments. m/8 bytes total
    * (default 128 KiB), independent of corpus size.
    */
  def corpusDigestBloom(state: IncrementalState, m: Int = 1 << 20,
                        kHashes: Int = 4): Array[Byte] =
    state.digests
      .agg(org.apache.spark.sql.GraftColumns
        .bloomAgg(TextOps.hash64(col("_dig")), m, kHashes).as("_b"))
      .head().getAs[Array[Byte]]("_b")

  /** [[classifyIncrement]] with a bloom pre-filter on the exact-dup
    * path: batch rows whose digest the filter has DEFINITELY never seen
    * (no false negatives) skip the corpus digest join entirely and go
    * straight to the near-dup stage; only the "maybe seen" slice joins.
    * Results are IDENTICAL to [[classifyIncrement]] — the bloom only
    * pre-selects join candidates, the exact join still decides, so a
    * false positive costs one wasted lookup, never a wrong status
    * (equivalence proven in `ExtSpec`). The 100 TB point: on a mostly
    * fresh batch the digest join's batch side shrinks to the
    * false-positive slice, and the per-row probe against the
    * broadcast-literal filter is free (codegen, no shuffle) — this is
    * the standard "bloom the build side" join optimization expressed at
    * the operator level.
    */
  def classifyIncrementBloom(state: IncrementalState, bloom: Array[Byte],
                             batchRaw: DataFrame, m: Int = 1 << 20,
                             kHashes: Int = 4, bands: Int = 4,
                             threshold: Double = 0.5): DataFrame = {
    require(bloom.length == m / 8,
      s"bloom byte length ${bloom.length} does not match m=$m")
    val batch = graft.std.Materialize.once(
      batchRaw.withColumn("_dig", md5(col("text"))))
    // coalesce to false: a NULL text gives a NULL digest and a NULL
    // probe, and three-valued logic would drop the row from BOTH filter
    // branches — the exact path's anti-join keeps such rows (null never
    // equals), so they must take the definitely-new branch here too
    val probe = coalesce(org.apache.spark.sql.GraftColumns.bloomContains(
      lit(bloom), TextOps.hash64(col("_dig")), m, kHashes), lit(false))
    val maybeSeen = batch.filter(probe)
    val exactDups = maybeSeen.join(state.digests, Seq("_dig"), "left_semi")
      .select("doc_id")
    val rest = graft.std.Materialize.once(
      batch.filter(!probe).select("doc_id", "text").unionByName(
        maybeSeen.join(state.digests, Seq("_dig"), "left_anti")
          .select("doc_id", "text")))
    finishClassification(exactDups, rest, state.shingles, state.signatures,
      state.k, bands, threshold)
  }

  /** Containment scoring over candidate pairs: `|A∩B| / |A|` (and the
    * mirror) over DISTINCT shingles — the asymmetric complement of
    * Jaccard that catches a short document embedded in a long one
    * (quote farms, snippet mirrors), where Jaccard stays low because
    * the union is dominated by the long side. Emits pairs whose larger
    * direction clears `threshold`.
    */
  def containmentPairs(candidates: DataFrame, docShingles: DataFrame,
                       threshold: Double): DataFrame = {
    val a = docShingles.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
    val b = docShingles.select(col("doc_id").as("id_b"), col("sh").as("sh_b"))
    val inter = size(array_intersect(col("sh_a"), col("sh_b"))).cast("double")
    val nA = size(array_distinct(col("sh_a"))).cast("double")
    val nB = size(array_distinct(col("sh_b"))).cast("double")
    candidates.join(a, "id_a").join(b, "id_b")
      .select(col("id_a"), col("id_b"),
        round(inter / nA, 6).as("cont_a"),
        round(inter / nB, 6).as("cont_b"),
        round(greatest(inter / nA, inter / nB), 6).as("containment"))
      .filter(col("containment") >= threshold)
  }

  /** Benchmark decontamination: per-document count of distinct shingles
    * shared with a benchmark shingle set — the contamination audit every
    * training pipeline runs before a model ships. The benchmark set is
    * reduced to DISTINCT 64-bit shingle hashes and broadcast (8-byte
    * keys, no n-gram text crosses the wire; identical hash both
    * dialects ⇒ identical collisions ⇒ identical counts), so the
    * corpus-side cost is one narrow explode + a broadcast-hash lookup +
    * one partial-aggregated groupBy on doc_id.
    *
    * `corpusSh`/`benchSh` are (doc_id, sh: array<string>) frames.
    */
  def contaminationProfile(corpusSh: DataFrame, benchSh: DataFrame): DataFrame = {
    val bench = benchSh
      .select(explode(array_distinct(col("sh"))).as("_s"))
      .select(TextOps.hash64(col("_s")).as("shash")).distinct()
      .withColumn("_hit", lit(1L))
    corpusSh
      .select(col("doc_id"), explode(array_distinct(col("sh"))).as("_s"))
      .select(col("doc_id"), TextOps.hash64(col("_s")).as("shash"))
      .join(broadcast(bench), Seq("shash"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        coalesce(sum(col("_hit")), lit(0L)).as("n_contaminated"),
        round(coalesce(sum(col("_hit")), lit(0L)).cast("double") /
          count(lit(1)), 6).as("contamination_ratio"))
  }

  /** Long-n-gram decontamination (t69): the published-recipe verdict
    * form of [[contaminationProfile]] — a corpus doc is contaminated
    * when it shares ANY verbatim n-gram (default n = 13, the
    * GPT-3/PaLM appendix choice; long enough that a chance collision
    * is effectively impossible, so one hit means a real quote) with
    * the benchmark set, and the pipeline drops it. d8's 3-shingle
    * ratio asks "how much does this doc smell like the benchmark";
    * this asks the binary question an actual decontamination pass
    * acts on, and catches the quoting doc whose EXACT hash changed
    * (a prefix shifts boundary grams but interior 13-grams survive).
    *
    * Documents shorter than n tokens contribute their whole text as
    * one gram ([[TextOps.shingles]]'s documented fallback) — the
    * n-gram method is blind to quotes of sub-n benchmark snippets,
    * which is true of the published recipe too.
    *
    * 100 TB shape: identical to [[contaminationProfile]] — the
    * benchmark collapses to DISTINCT 64-bit gram hashes (fixed-size
    * broadcast; benchmark suites are MBs, corpora are TBs), the
    * corpus side is one narrow explode + broadcast lookup + one
    * partial-agg groupBy. No text crosses the wire.
    */
  def ngramDecontamination(corpus: DataFrame, bench: DataFrame,
                           n: Int = 13): DataFrame = {
    require(n >= 2, "need a multi-token gram")
    def sh(df: DataFrame) = df.select(col("doc_id"),
      TextOps.shingles(TextOps.tokens(col("text")), n).as("sh"))
    contaminationProfile(sh(corpus), sh(bench))
      .select(col("doc_id"), col("n_shingles").as("n_ngrams"),
        col("n_contaminated").as("n_hit"),
        col("contamination_ratio").as("hit_share"),
        (col("n_contaminated") >= 1L).as("is_contaminated"))
  }

  /** Bloom-filter decontamination profile (t30): [[contaminationProfile]]
    * with the benchmark side compressed into a fixed-size
    * [[graft.functions.BloomBits]] membership filter instead of an
    * exact distinct-hash broadcast. At 100 TB this is the pre-filter
    * shape: the broadcast payload is m/8 bytes REGARDLESS of benchmark
    * size (d8's exact set grows linearly), misses are definitive
    * (one-sided error), and only bloom-hit docs need the exact pass.
    * Note what is NOT here: no `.distinct()` on the bench side — the
    * bitwise-OR aggregate absorbs duplicates, so the filter build is
    * one shuffle-free partial aggregation over raw shingle hashes.
    *
    * Oracle-gateable (library bloom filters are not) because positions
    * are Kirsch–Mitzenmacher double hashing over the shared md5 hash —
    * pure integer arithmetic DuckDB replays exactly, so even the false
    * positives match bit-for-bit.
    */
  def bloomContaminationProfile(corpusSh: DataFrame, benchSh: DataFrame,
                                m: Int = 1 << 16, k: Int = 4): DataFrame = {
    val bloom = benchSh
      .select(explode(array_distinct(col("sh"))).as("_s"))
      .agg(org.apache.spark.sql.GraftColumns
        .bloomAgg(TextOps.hash64(col("_s")), m, k).as("_bloom"))
    corpusSh
      .select(col("doc_id"), explode(array_distinct(col("sh"))).as("_s"))
      .select(col("doc_id"), TextOps.hash64(col("_s")).as("shash"))
      .crossJoin(broadcast(bloom))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(org.apache.spark.sql.GraftColumns
            .bloomContains(col("_bloom"), col("shash"), m, k), 1L)
          .otherwise(0L)).as("n_bloom_hits"))
      .select(col("doc_id"), col("n_shingles"), col("n_bloom_hits"),
        round(col("n_bloom_hits").cast("double") /
          col("n_shingles").cast("double"), 6).as("bloom_ratio"))
  }

  /** 32-bit SimHash from a PRE-HASHED token array: per-bit majority vote,
    * folded sequentially (deterministic). Feed it an ATTRIBUTE (cross a
    * [[TextOps.attrBarrier]] first): the 32 vote transforms each re-read
    * the input column, so a non-attribute hash chain here re-runs its
    * md5s 32× (the projection-collapse trap — measured).
    */
  def simHash32FromHashes(hs: Column): Column =
    (0 until 32).map { b =>
      val votes = transform(hs, h =>
        when(shiftright(h, b).bitwiseAND(lit(1L)) === 1L, 1L).otherwise(-1L))
      when(TextOps.foldSumLong(votes) > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** 32-bit SimHash over the distinct token set — the convenience form;
    * prefer hashing into an attribute + [[simHash32FromHashes]] (or
    * [[simHash32Agg]]) in anything corpus-scale.
    */
  def simHash32(toksCol: Column): Column =
    simHash32FromHashes(transform(array_distinct(toksCol),
      t => TextOps.hash64(t)))

  /** Hamming distance between two SimHash fingerprints. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Connected components over the near-dup pair graph — the step that
    * turns verified pairs into dedup groups (keep one doc per
    * component). Iterative min-label propagation: each round every node
    * takes the minimum label among itself and its neighbors; converges
    * in O(graph diameter) rounds (near-dup components are shallow —
    * chains of edits, not long paths).
    *
    * Driver-sync discipline: propagation rounds run in SUPERSTEPS of
    * two — one [[graft.std.Materialize.pinUnregistered]] pin and one
    * convergence aggregate per two rounds, so the serial job-wave count
    * is half that of the check-every-round form. Overshooting is free:
    * min-propagation is monotone, so an extra round past the fixed
    * point is a no-op. Each superstep releases the previous
    * superstep's pin, and the returned labels ride the last one, which
    * is handed to the per-query registry: [[graft.std.Materialize
    * .releaseAll]] (or the enclosing `scoped` block) frees it, and a
    * caller that keeps the labels longer pins its own copy (the d5
    * cluster memo does). The pins follow the materialize mode, so
    * `disk` mode covers the whole loop.
    *
    * Convergence: for numeric ids, the label sum (exact DECIMAL) —
    * min-propagation only ever decreases a label, so the sum is
    * monotone non-increasing and an unchanged sum is a fixed point.
    * For non-numeric ids the sum is meaningless (the cast nulls out and
    * every round would look converged — silently wrong one-hop labels),
    * so those fall back to an any-label-changed join probe.
    *
    * At extreme scale swap in the large-star/small-star algorithm
    * (Kiveris et al.) — same join shape, fewer rounds on skewed graphs.
    */
  def connectedComponents(nodes: DataFrame, edges: DataFrame,
                          maxIter: Int = 20,
                          idCol: String = "doc_id"): DataFrame = {
    import graft.std.Materialize.{pinUnregistered, register, releasePin}
    // every edge both ways plus a self-loop per id, so ONE join hands a
    // node its own label and its neighbors'; a round then reads the
    // previous labels once, and a lineage-keeping (`disk`) pin's plan
    // grows linearly in the rounds instead of doubling per round
    val both = edges.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(edges.select(col("id_b").as("src"), col("id_a").as("dst")))
    val sym = pinUnregistered(both.unionByName(
      both.select(col("src"))
        .unionByName(nodes.select(col(idCol).as("src"))).distinct()
        .select(col("src"), col("src").as("dst"))))
    val numericId = nodes.schema(idCol).dataType
      .isInstanceOf[org.apache.spark.sql.types.NumericType]
    def labelSum(df: DataFrame): java.math.BigDecimal =
      Option(df.agg(sum(col("label").cast("decimal(38,0)"))).head().getDecimal(0))
        .getOrElse(java.math.BigDecimal.ZERO)
    def propagate(l: DataFrame): DataFrame =
      l.join(sym, l(idCol) === sym("src"))
        .groupBy(col("dst").as(idCol)).agg(min("label").as("label"))
    var labels = pinUnregistered(
      nodes.select(col(idCol), col(idCol).as("label")))
    var prevSum = if (numericId) labelSum(labels) else null
    var converged = false
    var done = 0
    // budget = maxIter PROGRESS rounds + 2 confirmation rounds: batching
    // rounds into supersteps means convergence is only observed after a
    // full no-change superstep, so without the allowance a graph of
    // diameter maxIter-1 (which the per-round form handled) would throw.
    // Deeper graphs still fail loudly, two rounds later.
    while (!converged && done < maxIter + 2) {
      val rounds = math.min(2, maxIter + 2 - done)
      var cur = labels
      (0 until rounds).foreach(_ => cur = propagate(cur))
      val next = pinUnregistered(cur)
      if (numericId) {
        val curSum = labelSum(next)
        converged = curSum.compareTo(prevSum) == 0
        prevSum = curSum
      } else {
        converged = next.as("n")
          .join(labels.as("p"), col(s"n.$idCol") === col(s"p.$idCol"))
          .filter(col("n.label") =!= col("p.label")).isEmpty
      }
      releasePin(labels)
      labels = next
      done += rounds
    }
    releasePin(sym)
    register(labels)
    // Partial labels are silently wrong (a diameter->maxIter component
    // would split into several clusters in a data-dependent way); fail
    // loudly instead of returning them.
    require(converged,
      s"connectedComponents did not converge after $maxIter iterations — " +
        "raise maxIter or switch to the large-star/small-star variant " +
        "for deep components")
    labels.withColumnRenamed("label", "cluster_rep")
  }

  /** Connected components via alternating large-star / small-star rounds
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC '14) — the deep-graph variant [[connectedComponents]]'s
    * convergence guard points at. Min-label propagation needs O(diameter)
    * rounds; the star rounds contract ANY component in O(log² n), so a
    * 10⁶-doc boilerplate chain that would blow the propagation budget
    * resolves in a dozen supersteps.
    *
    * One superstep = large-star (attach every LARGER neighbor of u to
    * m(u) = min(Γ(u) ∪ u)) then small-star (attach u and its smaller
    * neighbors to their min). Both preserve connectivity; the composite's
    * only stable states are star forests rooted at component minima, so
    * an unchanged edge set IS convergence (checked exactly via a set
    * compare — the potential argument makes false positives impossible,
    * no hashing involved). Per superstep: two per-node minimum rounds
    * (a window partitioned on the node id) over the current edge set;
    * edge count never exceeds the input's. Pins follow the sibling's lifecycle: each
    * superstep releases the previous one's, and the last one, which the
    * returned labels read, goes to the per-query registry.
    */
  def connectedComponentsStars(nodes: DataFrame, edges: DataFrame,
                               maxIter: Int = 20,
                               idCol: String = "doc_id"): DataFrame = {
    // Each step reads its input edge set ONCE — both directions come
    // from one explode, the per-node minimum from a window instead of a
    // self-join — so a lineage-keeping (`disk`) pin's plan grows
    // linearly in the supersteps instead of 16× per superstep.
    def unfold(df: DataFrame, pairs: Column*): DataFrame =
      df.select(explode(array(pairs: _*)).as("_e"))
        .select(col("_e.src").as("src"), col("_e.dst").as("dst"))
    def pair(src: Column, dst: Column): Column =
      struct(src.as("src"), dst.as("dst"))
    val bySrc = Window.partitionBy(col("src"))
    def sym(e: DataFrame): DataFrame =
      unfold(e, pair(col("src"), col("dst")), pair(col("dst"), col("src")))
    def largeStar(e: DataFrame): DataFrame =
      sym(e)
        .withColumn("_m", least(min(col("dst")).over(bySrc), col("src")))
        .where(col("dst") > col("src"))
        .select(col("dst").as("src"), col("_m").as("dst"))
        .where(col("src") =!= col("dst"))
        .distinct()
    // a (dst, m) pair with dst == m is dropped by the src != dst filter
    def smallStar(e: DataFrame): DataFrame =
      unfold(sym(e).where(col("dst") < col("src"))
          .withColumn("_m", min(col("dst")).over(bySrc)),
        pair(col("dst"), col("_m")), pair(col("src"), col("_m")))
        .where(col("src") =!= col("dst"))
        .distinct()
    import graft.std.Materialize.{pinUnregistered, register, releasePin}
    var cur = pinUnregistered(edges
      .select(col("id_a").as("src"), col("id_b").as("dst"))
      .where(col("src") =!= col("dst")).distinct())
    var converged = cur.isEmpty
    var i = 0
    while (!converged && i < maxIter) {
      val next = pinUnregistered(smallStar(largeStar(cur)))
      converged = next.count() == cur.count() && next.except(cur).isEmpty
      releasePin(cur)
      cur = next
      i += 1
    }
    register(cur)
    require(converged,
      s"connectedComponentsStars did not converge after $maxIter " +
        "supersteps — raise maxIter (expected O(log^2 n))")
    // fixed point = star forest (child → component-min root); roots and
    // isolated nodes label themselves
    nodes.select(col(idCol))
      .join(cur.select(col("src").as(idCol), col("dst").as("_root")),
        Seq(idCol), "left")
      .select(col(idCol), coalesce(col("_root"), col(idCol)).as("cluster_rep"))
  }

  /** SimHash via explode + aggregate — the corpus-scale form. The inline
    * [[simHash32]] expression re-inlines the per-token md5 into each of
    * its 32 bit votes under projection collapse (32× the hash work —
    * measured); here the token hash is computed once per exploded row
    * and the 32 votes are partial-aggregated sums (shuffle = docs × 32
    * longs). Returns (idCol, simhash32).
    */
  def simHash32Agg(docToks: DataFrame, idCol: String = "doc_id",
                   toksCol: String = "toks"): DataFrame = {
    val ex = docToks
      .select(col(idCol), explode(array_distinct(col(toksCol))).as("_t"))
      .select(col(idCol), TextOps.hash64(col("_t")).as("_h"))
    val votes = ex.groupBy(col(idCol)).agg(
      sum(when(col("_h").bitwiseAND(lit(1L)) === 1L, 1L).otherwise(-1L)).as("v0"),
      (1 until 32).map(b =>
        sum(when(shiftright(col("_h"), b).bitwiseAND(lit(1L)) === 1L, 1L)
          .otherwise(-1L)).as(s"v$b")): _*)
    votes.select(col(idCol),
      (0 until 32).map(b =>
        when(col(s"v$b") > 0, lit(1L << b)).otherwise(lit(0L)))
        .reduce(_ + _).as("simhash32"))
  }

  /** Leakage-aware train/val/test split (d14): assign every document
    * to a split by hashing its near-dup CLUSTER representative, not
    * the document itself — so a whole duplicate cluster always lands
    * in ONE split. Doc-keyed splitting leaks: two near-identical
    * copies of a page straddling train and test inflate eval exactly
    * where the model memorized, the classic contamination bug a dedup
    * pass exists to prevent and a naive splitter silently reintroduces.
    * The audit column prices the guard: `cluster_leaks` is true where
    * doc-keyed hashing WOULD have split this doc's cluster across
    * splits (on the sf0.01 fixture that is every multi-member cluster
    * straddling a bucket boundary — the rows a reviewer samples).
    *
    * Determinism: the split is the shared md5 lane over
    * `"split|" + key` mod 100 (< pctTrain → train, < pctTrain+pctVal
    * → val, else test) — reproducible across engines, runs, and
    * corpus growth (a new doc joining an existing cluster inherits
    * the cluster's split; it cannot flip anyone else's).
    *
    * 100 TB shape: two per-row hash expressions, ONE cluster-grain
    * partial agg (count-distinct over a 3-value column), one join
    * back co-partitioned on `cluster_rep` — a single shuffle key end
    * to end; cluster sizes are near-dup groups, so no hot partition.
    *
    * A NULL `cluster_rep` coalesces to the doc's own id (a singleton
    * cluster): the join back is an equi-join on `cluster_rep`, and
    * NULL keys never match, so a malformed upstream cluster frame
    * would otherwise silently DROP documents from the split — in a
    * splitter, a lost document is a corpus bug, not a safe default
    * (r17 advice; [[sharedClusters]] itself never emits NULL reps).
    *
    * Returns (doc_id, cluster_rep, split, naive_split, cluster_leaks).
    */
  def leakageSafeSplit(clusters: DataFrame, pctTrain: Int = 90,
                       pctVal: Int = 5): DataFrame = {
    require(pctTrain >= 1 && pctVal >= 1 && pctTrain + pctVal < 100,
      "need three non-empty buckets out of 100")
    def splitOf(key: Column): Column = {
      val h = TextOps.hash64(concat(lit("split|"), key.cast("string"))) % 100
      when(h < pctTrain, lit("train"))
        .when(h < pctTrain + pctVal, lit("val"))
        .otherwise(lit("test"))
    }
    val keyed = clusters.withColumn("cluster_rep",
      coalesce(col("cluster_rep"), col("doc_id")))
    val assigned = keyed.select(col("doc_id"), col("cluster_rep"),
      splitOf(col("cluster_rep")).as("split"),
      splitOf(col("doc_id")).as("naive_split"))
    val leaks = assigned.groupBy(col("cluster_rep"))
      .agg((countDistinct(col("naive_split")) > 1).as("cluster_leaks"))
    assigned.join(leaks, Seq("cluster_rep"))
      .select(col("doc_id"), col("cluster_rep"), col("split"),
        col("naive_split"), col("cluster_leaks"))
  }
}
