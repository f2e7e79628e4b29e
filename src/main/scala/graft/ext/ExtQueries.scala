package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.streaming.StreamingOps

/** Registered queries for the LLM-data-pipeline extension operators
  * (dedup, similarity, text analysis, multimodal, stream windows), each
  * mirrored 1:1 by DuckDB SQL in [[ExtOracleSql]].
  *
  * The corpus has no duplicates/near-duplicates of its own, so the dedup
  * queries inject deterministic ones (same construction on both
  * dialects): exact copies for `doc_id % 5 == 0`, token-dropped mutations
  * for `doc_id % 7 == 0`, and perturbed embedding copies for
  * `vec_id % 11 == 0`.
  */
object ExtQueries {

  /** documents ∪ exact copies (doc_id + 200000) of every 5th doc. */
  def exactDupCorpus(docs: DataFrame): DataFrame = {
    val base = docs.select(col("doc_id"), col("text"))
    base.unionByName(
      base.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 200000).as("doc_id"), col("text")))
  }

  /** Normalized documents ∪ near-dup mutations (doc_id + 100000) of every
    * 7th doc: every 13th token (1-based) dropped — Jaccard ≈ 0.85 vs the
    * original.
    */
  def nearDupCorpus(docs: DataFrame): DataFrame = {
    val base = docs.select(col("doc_id"),
      TextOps.normText(col("text")).as("text"))
    val mut = base.filter(col("doc_id") % 7 === 0).select(
      (col("doc_id") + 100000).as("doc_id"),
      concat_ws(" ", filter(split(col("text"), " "),
        (t, i) => (i + 1) % 13 =!= 0)).as("text"))
    base.unionByName(mut)
  }

  /** embeddings ∪ perturbed copies (vec_id + 100000) of every 11th
    * vector: 0.9·v + 0.1·reverse(v) — cosine ≈ 0.99 vs the original.
    */
  def nearDupVectors(vecs: DataFrame): DataFrame = {
    val base = vecs.select(col("vec_id"),
      col("embedding").cast("array<double>").as("embedding"))
    base.unionByName(
      base.filter(col("vec_id") % 11 === 0).select(
        (col("vec_id") + 100000).as("vec_id"),
        zip_with(col("embedding"), reverse(col("embedding")),
          (x, y) => x * 0.9 + y * 0.1).as("embedding")))
  }

  // ---- dedup ----

  def exactDedup(spark: SparkSession, sfDir: String): DataFrame = {
    Dedup.exactGroups(exactDupCorpus(Tables.documents(spark, sfDir)))
  }

  /** Cross-source overlap matrix (t53) over a corpus where every 5th
    * doc is mirrored into the source SEVEN positions over (mod 20) —
    * the synthetic corpus has no natural cross-source duplication, so
    * the mirror manufactures it deterministically on both dialects
    * (the d1 corpus trick, source-rotated). See [[Dedup.sourceOverlap]].
    */
  def sourceOverlap(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"), col("source"))
    val mirrored = docs.filter(col("doc_id") % 5 === 0)
      .select(col("doc_id"), col("text"),
        concat(lit("src"),
          ((substring(col("source"), 4, 10).cast("int") + 7) % 20)
            .cast("string")).as("source"))
    Dedup.sourceOverlap(docs.unionByName(mirrored))
  }

  /** [[TextOps.spreadByKey]] — kept as a local alias for the hash-heavy
    * query bodies below. (For the MinHash path the exchange additionally
    * pre-partitions on the signature groupBy's key, so when it fires it
    * replaces that aggregate's shuffle; measured: t7's gram hashing
    * serialized at ~3.9 s on one core without it.)
    */
  private def spread(df: DataFrame): DataFrame = TextOps.spreadByKey(df)

  /** [[Dedup.shingleFrame]] — generator barrier + spread, shared with
    * the incremental classifier and the probe tooling.
    */
  private def shingled(corpus: DataFrame, toks: Column): DataFrame =
    Dedup.shingleFrame(corpus, toks)

  /** Full MinHash→LSH→verify pipeline: 3-shingles, k=8 permutations,
    * 4 bands × 2 rows, Jaccard ≥ 0.5 verification.
    *
    * The shingle frame feeds three consumers (the signature aggregate and
    * both verify-join sides) and the signatures feed both LSH self-join
    * sides — both are pinned so the regex+shingle subtree runs exactly
    * once regardless of whether exchange reuse fires (see
    * [[graft.std.Materialize]]).
    */
  def minHashLshPairs(spark: SparkSession, sfDir: String): DataFrame = {
    val corpus = nearDupCorpus(Tables.documents(spark, sfDir))
    val withSh = graft.std.Materialize.once(
      shingled(corpus, split(col("text"), " ")))
    val sigs = graft.std.Materialize.once(Dedup.minHashSignatures(withSh, 8))
    val cands = Dedup.lshCandidatePairs(sigs, 8, 4)
    Dedup.verifiedNearDups(cands, withSh, 0.5)
  }

  /** MinHash→LSH→verify→connected-components over a (doc_id, text)
    * corpus: every doc labeled with its cluster representative (min
    * doc_id in component) and keep/drop decision. Shared by d5/d6/d7.
    */
  private def clustersOf(corpus: DataFrame): DataFrame = {
    val withSh = graft.std.Materialize.once(
      shingled(corpus, split(col("text"), " ")))
    val sigs = graft.std.Materialize.once(Dedup.minHashSignatures(withSh, 8))
    clustersOf(corpus, withSh, sigs)
  }

  /** [[clustersOf]] over PRECOMPUTED shingle/signature frames — the
    * incremental composite feeds its memoized standing tiers here so
    * the cold standing build runs the dominant shingle/MinHash explode
    * once instead of twice (r19 advice: the memoized curation_shingles/
    * curation_sigs tiers and clustersOf each built their own, roughly
    * doubling the ~20 s cold build).
    */
  private def clustersOf(corpus: DataFrame, withSh: DataFrame,
                         sigs: DataFrame): DataFrame = {
    val cands = Dedup.lshCandidatePairs(sigs, 8, 4)
    val pairs = Dedup.verifiedNearDups(cands, withSh, 0.5)
      .select("id_a", "id_b")
    Dedup.connectedComponents(corpus.select("doc_id"), pairs)
      .select(col("doc_id"), col("cluster_rep"),
        (col("doc_id") === col("cluster_rep")).as("is_keeper"))
  }

  /** Session-scoped memo of [[clustersOf]] over the injected near-dup
    * corpus, keyed by (session, sfDir). d5/d6/d7/d12/d14 are views of
    * ONE resolution pipeline; without the memo a session runs the
    * MinHash→LSH→verify→CC chain once per view. The memo pins the
    * cluster frame itself — tiny (one (id, rep, bool) row per doc), so
    * holding it for the session is deliberate; the pipeline's bulky
    * intermediates (shingles, signatures, the CC labels) are registered
    * pins that [[graft.std.Materialize.releaseAll]] frees after the
    * query.
    */
  private def sharedClusters(spark: SparkSession, sfDir: String): DataFrame =
    graft.std.SessionMemo.getOrBuild(spark, s"clusters|$sfDir")(
      clustersOf(nearDupCorpus(Tables.documents(spark, sfDir))))

  /** Full dedup resolution (d5): MinHash→LSH→verify pairs, then
    * connected components — every corpus doc labeled with its cluster
    * representative (min doc_id in component) and keep/drop decision.
    *
    * SNAPSHOT SEMANTICS: reads the session's memoized cluster
    * resolution ([[sharedClusters]]) — data as of its first build per
    * (session, sfDir); see [[graft.std.SessionMemo]].
    */
  def dedupClusters(spark: SparkSession, sfDir: String): DataFrame = {
    sharedClusters(spark, sfDir)
  }

  /** Leakage-aware train/val/test split (d14):
    * [[Dedup.leakageSafeSplit]] over the session's one cluster
    * resolution — split keyed on the cluster representative so
    * near-dup copies can never straddle train and test, with the
    * doc-keyed counterfactual as the audit column.
    *
    * SNAPSHOT SEMANTICS: reads the session's memoized cluster
    * resolution ([[sharedClusters]]) — data as of its first build per
    * (session, sfDir); see [[graft.std.SessionMemo]].
    */
  def leakageSafeSplit(spark: SparkSession, sfDir: String): DataFrame = {
    Dedup.leakageSafeSplit(sharedClusters(spark, sfDir))
  }

  /** The cleaned corpus (d6): LEFT SEMI join of the corpus to its
    * cluster keepers — the semi-join form every dedup pipeline ends
    * with (emit surviving rows, never materialize the join's right
    * columns). The corpus re-derives narrowly (per-row scan work, no
    * shuffle) — only the cluster resolution is worth memoizing.
    *
    * SNAPSHOT SEMANTICS: reads the session's memoized cluster
    * resolution ([[sharedClusters]]) — data as of its first build per
    * (session, sfDir); see [[graft.std.SessionMemo]].
    */
  def dedupSurvivors(spark: SparkSession, sfDir: String): DataFrame = {
    val keepers = sharedClusters(spark, sfDir)
      .filter(col("is_keeper")).select("doc_id")
    nearDupCorpus(Tables.documents(spark, sfDir))
      .join(keepers, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), md5(col("text")).as("text_md5"))
  }

  /** The dropped rows (d7): the LEFT ANTI complement of [[dedupSurvivors]]
    * — the audit trail a curation pipeline keeps of what dedup removed.
    *
    * SNAPSHOT SEMANTICS: reads the session's memoized cluster
    * resolution ([[sharedClusters]]) — data as of its first build per
    * (session, sfDir); see [[graft.std.SessionMemo]].
    */
  def dedupDropped(spark: SparkSession, sfDir: String): DataFrame = {
    val keepers = sharedClusters(spark, sfDir)
      .filter(col("is_keeper")).select("doc_id")
    nearDupCorpus(Tables.documents(spark, sfDir))
      .join(keepers, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), md5(col("text")).as("text_md5"))
  }

  /** Quality-ranked keeper selection (d12): within each near-dup
    * cluster, keep the HIGHEST-QUALITY document instead of d5's min-id
    * representative — what a production dedup actually does (the first
    * crawl of a page is not necessarily the best extraction of it).
    * Reuses the session's one cluster resolution ([[sharedClusters]]) and
    * ranks by the same composite score t3 reports
    * ([[TextAnalysis.qualityScoreExpr]], rounded 6 dp so the ranking is
    * cross-engine deterministic; doc_id breaks ties). The window
    * partitions by cluster representative — cluster sizes are small by
    * construction (near-dup groups), so no partition is hot at scale.
    *
    * SNAPSHOT SEMANTICS: reads the session's memoized cluster
    * resolution ([[sharedClusters]]) — data as of its first build per
    * (session, sfDir); see [[graft.std.SessionMemo]].
    */
  def bestKeeperClusters(spark: SparkSession, sfDir: String): DataFrame = {
    val corpus = nearDupCorpus(Tables.documents(spark, sfDir))
    val scored = TextOps.attrBarrier(corpus, Seq("doc_id", "text"),
        "_toks", TextOps.tokens(col("text")))
      .select(col("doc_id"),
        TextAnalysis.qualityScoreFromToks(col("_toks"), col("text"))
          .as("quality_score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster_rep"))
      .orderBy(col("quality_score").desc, col("doc_id").asc)
    sharedClusters(spark, sfDir).join(scored, Seq("doc_id"))
      .withColumn("_rn", row_number().over(w))
      .select(col("doc_id"), col("cluster_rep"), col("quality_score"),
        (col("_rn") === 1).as("is_best_keeper"))
  }

  /** Session-scoped memo of the d8 contamination profile, keyed
    * (session, sfDir) — same pattern as [[sharedClusters]]. d8 and t23
    * are two views of ONE profile pass (t23 quarantines exactly the docs
    * d8 scores ≥ 0.2), so without the memo a full session shingles and
    * broadcast-joins the corpus twice. The memo pins one thin row per
    * corpus doc; the shingle intermediates die with the materializing
    * action.
    */
  private def sharedContaminationProfile(
      spark: SparkSession, sfDir: String): DataFrame =
    graft.std.SessionMemo.getOrBuild(spark, s"profile|$sfDir") {
      val withSh = shingled(Tables.documents(spark, sfDir),
        TextOps.tokens(col("text")))
      Dedup.contaminationProfile(
        withSh.filter(col("doc_id") % 31 =!= 0),
        withSh.filter(col("doc_id") % 31 === 0))
    }

  /** Decontamination audit (d8): every 31st doc is the "benchmark"; the
    * rest of the corpus is profiled for distinct-3-shingle overlap with
    * it. SNAPSHOT SEMANTICS: memoized per (session, sfDir) — data as of
    * the first call; see [[graft.std.SessionMemo]].
    */
  def decontamination(spark: SparkSession, sfDir: String): DataFrame = {
    sharedContaminationProfile(spark, sfDir)
  }

  /** Bloom-filter decontamination (t30): d8's corpus split (every 31st
    * doc is the benchmark) probed through the fixed-size bloom filter
    * instead of the exact broadcast set — see
    * [[Dedup.bloomContaminationProfile]]. m = 2^16 bits (8 KiB
    * broadcast), k = 4; at the sf0.01 benchmark's ~7k distinct shingles
    * the false-positive rate is ~2%, and every false positive is
    * reproduced bit-for-bit by the DuckDB twin.
    */
  def bloomDecontamination(spark: SparkSession, sfDir: String): DataFrame = {
    val withSh = graft.std.Materialize.once(
      shingled(Tables.documents(spark, sfDir), TextOps.tokens(col("text"))))
    Dedup.bloomContaminationProfile(
      withSh.filter(col("doc_id") % 31 =!= 0),
      withSh.filter(col("doc_id") % 31 === 0))
  }

  /** Long-n-gram decontamination (t69): d8's benchmark split
    * (every 31st doc) run through [[Dedup.ngramDecontamination]]'s
    * 13-gram verdict, with injected QUOTING docs — every other
    * benchmark doc's text re-appears under doc_id+500000 behind a
    * 3-token preamble, the doc-that-quotes-the-benchmark case whose
    * exact hash d1 would miss but whose interior 13-grams survive.
    */
  def ngramDecontamination(spark: SparkSession, sfDir: String)
      : DataFrame = {
    val base = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
    val bench = base.filter(col("doc_id") % 31 === 0)
    val quoting = bench.filter(col("doc_id") % 62 === 0)
      .select((col("doc_id") + 500000L).as("doc_id"),
        concat(lit("regarding the benchmark: "), col("text"))
          .as("text"))
    val corpus = base.filter(col("doc_id") % 31 =!= 0)
      .unionByName(quoting)
    Dedup.ngramDecontamination(corpus, bench)
  }

  /** Incremental (cross-corpus) dedup (d9): today's batch against the
    * accumulated corpus. `doc_id % 3 == 0` plays the existing corpus;
    * the batch is the remaining docs plus injected cross-corpus dups —
    * exact copies (+300000) of every 6th existing doc and near-dup
    * mutations (+400000, every 11th token dropped) of every 9th. The
    * pipeline is the production shape: digest anti-join for exact hits
    * first, then MinHash→LSH candidates joined ACROSS corpora (batch
    * band keys ⋈ existing band keys — the existing side's keys are what
    * an incremental pipeline keeps materialized), Jaccard-verified.
    * Every batch doc gets a status: exact_dup / near_dup / new.
    */
  def incrementalDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val base = Tables.documents(spark, sfDir)
      .select(col("doc_id"), TextOps.normText(col("text")).as("text"))
    val existing = base.filter(col("doc_id") % 3 === 0)
    val batch = base.filter(col("doc_id") % 3 =!= 0)
      .unionByName(existing.filter(col("doc_id") % 6 === 0)
        .select((col("doc_id") + 300000).as("doc_id"), col("text")))
      .unionByName(existing.filter(col("doc_id") % 9 === 0)
        .select((col("doc_id") + 400000).as("doc_id"),
          concat_ws(" ", filter(split(col("text"), " "),
            (t, i) => (i + 1) % 11 =!= 0)).as("text")))
    Dedup.incrementalClassify(batch, existing)
  }

  /** Containment pairs (d10): the asymmetric near-dup check over the
    * near-dup corpus EXTENDED with snippet documents (+500000: the
    * first 40% of every 17th doc's tokens) — short-doc-inside-long-doc
    * cases whose Jaccard stays far below the d2 threshold while their
    * containment is ≈ 1. Same MinHash→LSH candidate generation, scored
    * with `|A∩B|/|A|` (and mirror) instead of Jaccard.
    */
  def containmentDups(spark: SparkSession, sfDir: String): DataFrame = {
    val base = nearDupCorpus(Tables.documents(spark, sfDir))
    val toks = split(col("text"), " ")
    val corpus = base.unionByName(
      base.filter(col("doc_id") % 17 === 0)
        .select((col("doc_id") + 500000).as("doc_id"),
          concat_ws(" ", slice(toks, lit(1),
            greatest(lit(3), floor(size(toks) * 0.4).cast("int"))))
            .as("text")))
    val withSh = graft.std.Materialize.once(
      shingled(corpus, split(col("text"), " ")))
    val sigs = graft.std.Materialize.once(Dedup.minHashSignatures(withSh, 8))
    val cands = Dedup.lshCandidatePairs(sigs, 8, 4)
    Dedup.containmentPairs(cands, withSh, 0.6)
  }

  /** Boilerplate n-gram detection (t19) over a corpus with injected
    * per-source boilerplate: every even doc carries its source's header
    * line (the corpus has no organic boilerplate — same deterministic
    * construction on both dialects). Organic shingles never exceed 3
    * docs per source, so the (≥5 docs, ≥20%) rule flags exactly the
    * injected chrome.
    */
  def boilerplateNgrams(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val withBp = spread(docs.select(col("doc_id"), col("source"),
      when(col("doc_id") % 2 === 0,
        concat(lit("(c) "), col("source"),
          lit(" terms apply. all rights reserved. "), col("text")))
        .otherwise(col("text")).as("text")))
    TextAnalysis.boilerplateNgrams(withBp)
  }

  /** Stratified content-hash sampling (t20): downsample the dominant
    * language to 20%, keep 60% of the rest.
    */
  def stratifiedSample(spark: SparkSession, sfDir: String): DataFrame = {
    TextAnalysis.stratifiedContentSample(Tables.documents(spark, sfDir),
      Map("en" -> 20), defaultPct = 60)
  }

  /** Per-domain quality quota (t21): top-N docs per source, N the
    * twin-shared [[TextAnalysis.DomainQuotaN]].
    */
  def domainQuota(spark: SparkSession, sfDir: String): DataFrame = {
    TextAnalysis.domainQuota(Tables.documents(spark, sfDir),
      TextAnalysis.DomainQuotaN)
  }

  /** Deterministic sharded training order (t22): 2 epochs × 8 shards. */
  def trainOrder(spark: SparkSession, sfDir: String): DataFrame = {
    TextAnalysis.trainOrder(Tables.documents(spark, sfDir))
  }

  /** Contamination-aware train/test split (t23): the composite every
    * eval-honest pipeline runs — content-hash split (t9) EXCEPT that
    * documents sharing ≥ 20% of their distinct shingles with the
    * benchmark (d8's profile) are quarantined out of every split. The
    * two component passes compose without a new shuffle shape: the
    * profile is d8's memoized frame (computed once per session — see
    * [[sharedContaminationProfile]]; SNAPSHOT SEMANTICS, data as of the
    * first call per (session, sfDir)), the split a per-row hash, the
    * merge an id equi-join.
    */
  def contaminationSplit(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    // d8's profile, memoized — t23 re-ran the full shingle+broadcast
    // pass d8 had just finished (9.1 s of r7's bench was this rebuild)
    val profile = sharedContaminationProfile(spark, sfDir)
    val splits = TextAnalysis.trainTestSplit(
        docs.filter(col("doc_id") % 31 =!= 0))
      .select(col("doc_id"), col("split"))
    splits.join(profile.select(col("doc_id"), col("contamination_ratio")),
        "doc_id")
      .select(col("doc_id"),
        when(col("contamination_ratio") >= 0.2, lit("quarantine"))
          .otherwise(col("split")).as("split"))
  }

  /** Deterministic domain mixing summary (t18). */
  def domainMixture(spark: SparkSession, sfDir: String): DataFrame = {
    TextAnalysis.domainMixture(Tables.documents(spark, sfDir))
  }

  def simHashFingerprints(spark: SparkSession, sfDir: String): DataFrame = {
    Dedup.simHash32Agg(
      spread(nearDupCorpus(Tables.documents(spark, sfDir)))
        .select(col("doc_id"), split(col("text"), " ").as("toks")))
  }

  /** Ground-truth injected pairs (orig, orig+100000) with their n-gram
    * Jaccard and SimHash Hamming distance — the kernel check.
    */
  def jaccardGroundTruth(spark: SparkSession, sfDir: String): DataFrame = {
    val corpus = nearDupCorpus(Tables.documents(spark, sfDir))
    val withSh = shingled(corpus, split(col("text"), " "))
    val fps = Dedup.simHash32Agg(
      corpus.select(col("doc_id"), split(col("text"), " ").as("toks")))
    // pinned: `enriched` feeds both sides of the pair join below
    val enriched = graft.std.Materialize.once(withSh.join(fps, "doc_id"))
    val a = enriched.select(col("doc_id").as("id_a"), col("sh").as("sh_a"),
      col("simhash32").as("fp_a"))
    val b = enriched.select(col("doc_id").as("id_b"), col("sh").as("sh_b"),
      col("simhash32").as("fp_b"))
    a.join(b, col("id_b") === col("id_a") + 100000)
      .select(col("id_a"), col("id_b"),
        round(Dedup.jaccard(col("sh_a"), col("sh_b")), 6).as("jaccard"),
        Dedup.hamming(col("fp_a"), col("fp_b")).cast("long").as("hamming_dist"))
  }

  // ---- text analysis ----

  def tokenStats(spark: SparkSession, sfDir: String): DataFrame = {
    TextAnalysis.tokenStats(spread(Tables.documents(spark, sfDir)))
      .select(col("doc_id"), col("n_tokens").cast("long"),
        col("n_uniq_tokens").cast("long"), col("avg_token_len"),
        col("n_chars_raw").cast("long"))
  }

  def langStats(spark: SparkSession, sfDir: String): DataFrame = {
    TextAnalysis.langStats(Tables.documents(spark, sfDir))
  }

  def qualityScores(spark: SparkSession, sfDir: String): DataFrame = {
    TextAnalysis.qualityScore(Tables.documents(spark, sfDir))
      .withColumn("n_tokens", col("n_tokens").cast("long"))
  }

  def langId(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val toks = TextOps.tokens(col("text"))
    docs.select(
      col("doc_id"),
      TextAnalysis.predictedLang(toks).as("lang_pred"),
      greatest(TextAnalysis.langScores(toks).map(_._2): _*).cast("long")
        .as("n_marker_hits"))
  }

  def fingerprints(spark: SparkSession, sfDir: String): DataFrame = {
    TextAnalysis.fingerprints(spread(Tables.documents(spark, sfDir)))
  }

  /** BPE-ish regex tokenization (word runs + single punctuation marks) —
    * the pre-tokenizer shape of byte-pair encoders, as pure regex counts.
    */
  def bpeTokenCounts(spark: SparkSession, sfDir: String): DataFrame = {
    val t = col("text")
    Tables.documents(spark, sfDir).select(
      col("doc_id"),
      size(regexp_extract_all(t, lit("\\w+|[^\\w\\s]"), lit(0)))
        .cast("long").as("n_bpe_tokens"),
      size(regexp_extract_all(t, lit("\\w+"), lit(0)))
        .cast("long").as("n_word_tokens"),
      (size(regexp_extract_all(t, lit("\\w+|[^\\w\\s]"), lit(0))) -
        size(regexp_extract_all(t, lit("\\w+"), lit(0))))
        .cast("long").as("n_punct_tokens"))
  }

  // ---- similarity ----

  def cosineTopK(spark: SparkSession, sfDir: String): DataFrame = {
    val vecs = Tables.embeddings(spark, sfDir)
    Similarity.bruteForceTopK(vecs.filter(col("vec_id") < 20), vecs, 5)
      .select(col("query_id"), col("neighbor_id"),
        col("rank").cast("long").as("rank"), col("cosine"))
  }

  /** All-but-the-Top removal report (s33):
    * [[Similarity.anisotropyRemovalReport]] over the embeddings
    * corpus — the fix s21 diagnoses and s32 motivates, priced
    * before/after.
    */
  def anisotropyRemoval(spark: SparkSession, sfDir: String): DataFrame = {
    Similarity.anisotropyRemovalReport(Tables.embeddings(spark, sfDir),
      iters = 6)
  }

  /** Rank-k All-but-the-Top (s34): [[Similarity.allButTopK]] over the
    * embeddings corpus — s33's "high again = remove another PC"
    * readout wired into the loop. k=3 / stop 0.15 / 4 iterations per
    * chain (the chain count, not the iteration count, is the cost
    * knob; determinism holds at any depth).
    */
  def allButTopK(spark: SparkSession, sfDir: String): DataFrame = {
    Similarity.allButTopK(Tables.embeddings(spark, sfDir),
      k = 3, varShareStop = 0.15, iters = 4)
  }

  /** Hubness report (s32): [[Similarity.hubness]] over the embeddings
    * corpus with a 100-query probe panel at k = 5 — the k-occurrence
    * histogram (antihub zero row included), the embedding-space
    * health gate next to s21's anisotropy.
    */
  def hubness(spark: SparkSession, sfDir: String): DataFrame = {
    val vecs = Tables.embeddings(spark, sfDir)
    Similarity.hubness(vecs.filter(col("vec_id") < 100), vecs, 5)
  }

  /** MMR diversified re-rank (s31): [[Similarity.mmrRerank]] over the
    * s1 probe panel — top-20 exact-cosine candidates per query, 5
    * greedy λ = 0.7 rounds trading relevance against redundancy.
    */
  def mmrRerank(spark: SparkSession, sfDir: String): DataFrame = {
    val vecs = Tables.embeddings(spark, sfDir)
    Similarity.mmrRerank(vecs.filter(col("vec_id") < 20), vecs,
      k = 5, n = 20)
  }

  /** MIPS top-k (s8): same probe set as s1, ranked by raw inner
    * product — magnitude-sensitive retrieval.
    */
  def mipsTopK(spark: SparkSession, sfDir: String): DataFrame = {
    val vecs = Tables.embeddings(spark, sfDir)
    Similarity.mipsTopK(vecs.filter(col("vec_id") < 20), vecs, 5)
  }

  /** Binary Hamming top-k (s24): s1's probe set retrieved over
    * [[Similarity.binaryCodes]] sign bits — popcount(XOR) distance,
    * 8 bytes/vector, integer-exact ranking.
    */
  def hammingTopK(spark: SparkSession, sfDir: String): DataFrame = {
    val vecs = Tables.embeddings(spark, sfDir)
    Similarity.hammingTopK(vecs.filter(col("vec_id") < 20), vecs, 5)
  }

  def embeddingNearDups(spark: SparkSession, sfDir: String): DataFrame = {
    Similarity.nearDupPairs(
      nearDupVectors(Tables.embeddings(spark, sfDir)), 0.97)
  }

  /** Bucketed (sign-LSH) embedding near-dups (s4) — the scale path, on
    * the same injected corpus as s2. Recall vs s2 is deliberately < 1
    * (a 0.99-cosine pair flips one of 16 plane signs with p ≈ 0.53
    * overall); the oracle mirrors the deterministic hyperplanes exactly,
    * misses and all, so the result is still hash-exact cross-engine.
    */
  /** Session-scoped memo of the s4 verified sign-LSH pair frame over
    * the injected vector corpus — s4 and the d11 closure are two oracle
    * views of ONE candidate+verify pass, so a full session should run
    * the bucketed join once. Same [[graft.std.SessionMemo]] lifecycle
    * and snapshot semantics as [[sharedClusters]]; the pinned frame is
    * thin (id_a, id_b, cosine).
    */
  private def sharedLshPairs(spark: SparkSession, sfDir: String): DataFrame =
    graft.std.SessionMemo.getOrBuild(spark, s"lshpairs|$sfDir")(
      // dims=64 (the corpus' schema-level embedding width) switches the
      // bucket projections to literal planes + the native dot kernel
      Similarity.lshNearDupPairs(
        nearDupVectors(Tables.embeddings(spark, sfDir)), 0.97,
        dims = Some(64)))

  def lshEmbeddingNearDups(spark: SparkSession, sfDir: String): DataFrame = {
    sharedLshPairs(spark, sfDir)
  }

  /** SemDeDup-style semantic dedup (d11): s4's bucketed sign-LSH
    * near-dup pairs (cosine ≥ 0.97) become edges, connected components
    * resolve them transitively, and every vector is labeled with its
    * cluster representative (min vec_id in component) and keep/drop
    * decision — the embedding-space analogue of the d5 text-cluster
    * resolution, which is exactly how a production pipeline prunes
    * semantically duplicated documents (Abbas et al., "SemDeDup", 2023).
    * 100-TB shape: candidate generation is s4's bucketed equi-join
    * (never all-pairs) and the closure is d5's label-propagation CC
    * with the monotone-sum convergence check.
    */
  def semanticClusters(spark: SparkSession, sfDir: String): DataFrame = {
    val vecs = nearDupVectors(Tables.embeddings(spark, sfDir))
    val pairs = sharedLshPairs(spark, sfDir).select(col("id_a"), col("id_b"))
    Dedup.connectedComponents(vecs.select(col("vec_id")), pairs,
        idCol = "vec_id")
      .select(col("vec_id"), col("cluster_rep"),
        (col("vec_id") === col("cluster_rep")).as("is_keeper"))
  }

  /** Int8-quantized embeddings in long form (s5). */
  def quantizedVectors(spark: SparkSession, sfDir: String): DataFrame = {
    Similarity.quantizeInt8(Tables.embeddings(spark, sfDir))
  }

  /** Incremental embedding dedup (s6): today's vector batch classified
    * against the accumulated corpus — `vec_id % 3 == 0` plays the
    * existing corpus, the rest (plus the injected near-dups) the batch.
    * The embedding analogue of the d9 text increment: bucketed sign-LSH
    * candidates, exact-cosine verify, O(batch) per increment.
    */
  def incrementalEmbeddingDedup(
      spark: SparkSession, sfDir: String): DataFrame = {
    val all = nearDupVectors(Tables.embeddings(spark, sfDir))
    Similarity.incrementalEmbeddingDedup(
      all.filter(col("vec_id") % 3 =!= 0),
      all.filter(col("vec_id") % 3 === 0), 0.97, dims = Some(64))
  }

  /** Deterministic train/valid/test split (t9): content-hash buckets, so
    * both engines assign every doc identically.
    */
  def trainTestSplit(spark: SparkSession, sfDir: String): DataFrame = {
    TextAnalysis.trainTestSplit(Tables.documents(spark, sfDir))
      .groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n_docs"))
  }

  /** Unicode-canonical fingerprints (t8) via the native NFC expression:
    * identical visible text hashes identically whether it arrived
    * precomposed or decomposed. The synthetic corpus is ASCII (NFC is a
    * no-op here — the decomposed path is unit-tested); the query proves
    * the expression through the driver pipeline against DuckDB's
    * nfc_normalize.
    */
  def nfcFingerprints(spark: SparkSession, sfDir: String): DataFrame = {
    val n = org.apache.spark.sql.GraftColumns.nfc(col("text"))
    Tables.documents(spark, sfDir).select(
      col("doc_id"),
      md5(n).as("nfc_md5"),
      length(n).cast("long").as("n_chars_nfc"))
  }

  /** Winnowing/rolling-hash sketch (t7): bottom-8 of the char-8-gram
    * hashes per document.
    */
  def winnowingSketch(spark: SparkSession, sfDir: String): DataFrame = {
    // serialized as a comma-joined string: scalar columns keep the
    // cross-engine compare independent of array-normalization details
    TextAnalysis.winnowingSketchAgg(spread(Tables.documents(spark, sfDir)))
      .select(col("doc_id"),
        concat_ws(",", col("sketch").cast("array<string>")).as("sketch"))
  }

  /** Range (interval) join (x2): click→purchase attribution within a
    * 30-minute window, keyed on user.
    */
  def rangeJoinAttribution(spark: SparkSession, sfDir: String): DataFrame = {
    TemporalJoins.purchaseAttribution(Tables.events(spark, sfDir))
  }

  /** As-of join (x3): each error event paired with the user's latest
    * preceding signup.
    */
  def asOfJoin(spark: SparkSession, sfDir: String): DataFrame = {
    TemporalJoins.asOfLast(Tables.events(spark, sfDir))
  }

  /** Skew-safe salted aggregation (x1): revenue by fiscal month via the
    * two-stage salted sum — result identical to the direct groupBy (the
    * oracle is the plain SQL aggregate). The money column is summed as
    * DECIMAL: decimal addition is exact and associative, so the salted
    * two-stage total equals the oracle's one-stage total bit-for-bit —
    * a double sum would drift with summation order and only *usually*
    * round away the difference.
    *
    * SNAPSHOT SEMANTICS: reads the session's memoized
    * [[graft.queries.Merged.cleanedShared]] frame — data as of its
    * first build per (session, sfDir).
    */
  def saltedRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    // project to the salt discriminators + key + value BEFORE salting:
    // hashing the whole enriched schema referenced all ~40 columns and
    // held the scan unpruned (5s vs q1's 1.7s on the same aggregate)
    graft.std.Salt.saltedSum(
      graft.queries.Merged.cleanedShared(spark, sfDir)
        .select(col("fin_month_label"), col("doc_number"),
          col("product_code"),
          col("total_line_price").cast("decimal(38,6)")
            .as("total_line_price")),
      Seq("fin_month_label"), Seq("total_line_price"), buckets = 16,
      saltCols = Seq("doc_number", "product_code"))
      .select(col("fin_month_label"),
        round(col("total_line_price"), 2).cast("double").as("revenue"))
  }

  /** Hierarchical rollup (x4): revenue by month ⊃ region ⊃ brand with
    * subtotal levels — the OLAP drill-down the reference's dashboards
    * implied but its script recomputed per level. One pass, grouping-id
    * tagged.
    *
    * SNAPSHOT SEMANTICS: reads the session's memoized
    * [[graft.queries.Merged.cleanedShared]] frame — data as of its
    * first build per (session, sfDir).
    */
  def rollupSales(spark: SparkSession, sfDir: String): DataFrame = {
    graft.queries.Merged.cleanedShared(spark, sfDir)
      .rollup(col("fin_month_label"), col("region_desc"), col("brand_desc"))
      .agg(round(sum("total_line_price"), 2).as("revenue"),
        grouping_id().cast("long").as("level_id"))
  }

  /** Moving-average window (x5): 7-row trailing mean of daily revenue
    * ordered by event date — the rolling-frame window family.
    *
    * A globally-ordered window with no partitionBy funnels everything
    * through ONE WindowExec partition; instead the window is partitioned
    * by year and each partition is fed a copy of the previous year's
    * last 6 rows (the "boundary carry"), so the trailing frame is exact
    * at the year boundary and every year computes in parallel. Carry
    * rows are dropped after the window. Assumes ≥6 daily rows per year
    * (any daily-grained corpus); the carry depth always equals the
    * frame's preceding-row count.
    *
    * SNAPSHOT SEMANTICS: reads the session's memoized
    * [[graft.queries.Merged.cleanedShared]] frame — data as of its
    * first build per (session, sfDir).
    */
  def movingAvgRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // pinned: daily feeds the real rows, the carry rows, and the guard
    val daily = graft.std.Materialize.once(
      graft.queries.Merged.cleanedShared(spark, sfDir)
        .groupBy(to_date(col("event_date")).as("day"))
        .agg(sum("total_line_price").as("_rev")))
    // The boundary carry silently mis-averages if a calendar year is
    // absent (the carry lands in an empty partition and is dropped) or
    // a non-final year has fewer rows than the frame depth. Fail loudly
    // instead — same policy as connectedComponents' convergence guard.
    // Cheap: the checks aggregate the pinned daily frame (≤ one row per
    // present year).
    val yc = daily.filter(col("day").isNotNull)
      .groupBy(year(col("day")).as("_y")).agg(count(lit(1)).as("_n"))
    val prof = yc.agg(min(col("_y")), max(col("_y")), count(lit(1))).head()
    if (!prof.isNullAt(0)) {
      val (y0, y1, ny) = (prof.getInt(0), prof.getInt(1), prof.getLong(2))
      require(y1 - y0 + 1 == ny,
        s"movingAvgRevenue: years $y0..$y1 have gaps ($ny present) — the " +
          "year-partitioned carry would drop rows at the gap; densify or " +
          "fall back to a global window")
      val thin = yc.filter(col("_y") =!= y1 && col("_n") < 6).count()
      require(thin == 0,
        s"movingAvgRevenue: $thin non-final year(s) have fewer than 6 " +
          "daily rows — the 6-row carry cannot span them")
    }
    val real = daily
      .withColumn("_wy", year(col("day"))).withColumn("_carry", lit(false))
    val lastOfYear = Window.partitionBy(year(col("day")))
      .orderBy(col("day").desc)
    val carry = daily
      .withColumn("_rn", row_number().over(lastOfYear))
      .filter(col("_rn") <= 6).drop("_rn")
      .withColumn("_wy", year(col("day")) + 1).withColumn("_carry", lit(true))
    val w = Window.partitionBy(col("_wy")).orderBy(col("day"))
      .rowsBetween(-6, 0)
    real.unionByName(carry)
      .withColumn("_ma", avg(col("_rev")).over(w))
      .filter(!col("_carry"))
      .select(col("day"),
        round(col("_rev"), 2).as("revenue"),
        round(col("_ma"), 2).as("revenue_ma7"))
  }

  /** documents with deterministic synthetic PII appended to every 9th
    * doc (the corpus itself has none — same construction on both
    * dialects, like the dup injections above).
    */
  def piiCorpus(docs: DataFrame): DataFrame =
    // withColumn (not select): downstream consumers keep the other
    // corpus columns (t39 groups the injected corpus by source)
    docs.withColumn("text",
      when(col("doc_id") % 9 === 0,
        concat(col("text"), lit(" contact user"), col("doc_id"),
          lit("@example.com at http://site"), col("doc_id"),
          lit(".example/path")))
        .otherwise(col("text")))

  /** Corpus vocabulary head (t13): top-50 tokens. */
  def topTokens(spark: SparkSession, sfDir: String): DataFrame = {
    TextAnalysis.topTokens(Tables.documents(spark, sfDir))
  }

  /** TF-IDF-style top terms per doc (t14). */
  def tfIdfTerms(spark: SparkSession, sfDir: String): DataFrame = {
    TextAnalysis.tfIdfTopTerms(Tables.documents(spark, sfDir))
  }

  /** PII scrubbing over the injected corpus (t15). */
  def piiScrub(spark: SparkSession, sfDir: String): DataFrame = {
    TextAnalysis.piiScrub(piiCorpus(Tables.documents(spark, sfDir)))
  }

  /** [[piiCorpus]] widened with the extended-PII shapes (t34): every
    * 6th doc additionally gets a deterministic IPv4 address, phone
    * number and SSN-shaped id appended (doc_id-derived, same
    * construction on both dialects). Every 18th doc therefore carries
    * BOTH injections — the multi-category case.
    */
  def piiCorpusExt(docs: DataFrame): DataFrame =
    piiCorpus(docs).withColumn("text",
      when(col("doc_id") % 6 === 0,
        concat(col("text"),
          lit(" ip 192.168."), col("doc_id") % 250,
          lit(".17 call 555-010-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
          lit(" ssn 987-65-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
        .otherwise(col("text")))

  /** documents with card-shaped digit runs injected: every 7th doc a
    * fixed Luhn-VALID number, every 5th a doc-varying 16-digit run
    * whose validity depends on the actual checksum (~10% pass) — so
    * the t64 audit discriminates on real arithmetic, not a constant.
    */
  def ccCorpus(docs: DataFrame): DataFrame =
    docs.withColumn("text",
        when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" card 4539578763621486")))
          .otherwise(col("text")))
      .withColumn("text",
        when(col("doc_id") % 5 === 0,
          concat(col("text"), lit(" acct 4111111111"),
            lpad((col("doc_id") % 1000000).cast("string"), 6, "0")))
          .otherwise(col("text")))

  /** Credit-card audit over the injected corpus (t64). */
  def ccAudit(spark: SparkSession, sfDir: String): DataFrame = {
    TextAnalysis.ccAudit(ccCorpus(Tables.documents(spark, sfDir)))
  }

  /** Extended PII redaction over the injected corpus (t34). */
  def piiRedact(spark: SparkSession, sfDir: String): DataFrame = {
    TextAnalysis.piiRedact(piiCorpusExt(Tables.documents(spark, sfDir)))
  }

  /** Gopher-rule quality gate (t35). */
  def gopherRules(spark: SparkSession, sfDir: String): DataFrame = {
    TextAnalysis.gopherRules(Tables.documents(spark, sfDir))
  }

  /** Per-source corpus report card over the injected corpus (t39). */
  def sourceReport(spark: SparkSession, sfDir: String): DataFrame = {
    TextAnalysis.sourceReport(piiCorpusExt(Tables.documents(spark, sfDir)))
  }

  /** documents with a deterministic URL appended to every 3rd doc —
    * host `site{doc_id % 7}.example`, so the 7 domains carry real
    * count distributions (same construction on both dialects).
    */
  def urlCorpus(docs: DataFrame): DataFrame =
    docs.withColumn("text",
      when(col("doc_id") % 3 === 0,
        concat(col("text"), lit(" see http://site"), col("doc_id") % 7,
          lit(".example/p"), col("doc_id")))
        .otherwise(col("text")))

  /** The t41 provenance blocklist — shared with the oracle twin. */
  val BlockedDomains: Seq[String] = Seq("site0.example", "site1.example")

  /** Per-domain analytics over the injected URL corpus (t40). */
  def domainStats(spark: SparkSession, sfDir: String): DataFrame = {
    Web.domainStats(urlCorpus(Tables.documents(spark, sfDir)))
  }

  /** Domain-blocklist filtering over the injected URL corpus (t41). */
  def blocklistFilter(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Web.blocklistFilter(urlCorpus(Tables.documents(spark, sfDir)),
      BlockedDomains.toDF("domain"))
  }

  /** Per-source fractional quality budget (t43). */
  def qualityBudget(spark: SparkSession, sfDir: String): DataFrame = {
    TextAnalysis.qualityBudget(Tables.documents(spark, sfDir))
  }

  /** End-to-end curation decision (t42) over a corpus with both
    * injected duplicates and injected URLs: dedup keeper × Gopher gate
    * × blocklist, one verdict row per doc.
    */
  def curationPipeline(spark: SparkSession, sfDir: String): DataFrame = {
    Curation.curate(
      exactDupCorpus(urlCorpus(Tables.documents(spark, sfDir))),
      BlockedDomains)
  }

  /** The "next crawl" of the documents corpus for t37/t38: every 13th
    * doc dropped, every 30th fully REWRITTEN (token order reversed —
    * same vocabulary, new document), every other 10th lightly REVISED
    * (suffix appended), plus re-crawled copies (+300000) of every 8th
    * doc — deterministic on both dialects like the dup injections.
    */
  def corpusV2(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") % 13 =!= 0)
      .select(col("doc_id"),
        when(col("doc_id") % 30 === 0,
          concat_ws(" ", reverse(TextOps.tokens(col("text")))))
          .when(col("doc_id") % 10 === 0,
            concat(col("text"), lit(" revised v2")))
          .otherwise(col("text")).as("text"))
      .unionByName(docs.filter(col("doc_id") % 8 === 0)
        .select((col("doc_id") + 300000).as("doc_id"), col("text")))

  /** Snapshot diff between the corpus and its next crawl (t37). */
  def corpusDiff(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    Dedup.snapshotDiff(docs, corpusV2(docs))
  }

  /** Severity of the t37 changes (t38): revised vs rewritten. */
  def diffSeverity(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    Dedup.diffSeverity(docs, corpusV2(docs))
  }

  /** Corpus BPE encode with the frozen demo merge table (t36). The
    * PARTITIONED encoder runs here — 8.5× the expression form at sf0.1
    * (1.6 s vs 13.7 s: the fold allocates per-symbol array copies, the
    * kernel rewrites one buffer in place and memoizes word→pieces per
    * partition) and the only form whose cost doesn't grow with merge-
    * table size. The two are equality-proven in BpeSpec; the oracle
    * mirrors the shared fold semantics.
    */
  def bpeEncode(spark: SparkSession, sfDir: String): DataFrame = {
    Bpe.encodeDocsPartitioned(spread(Tables.documents(spark, sfDir)),
      Bpe.DemoMerges)
  }

  /** Trained-then-frozen BPE encode (t61): TRAIN a merge table at
    * query time — [[Bpe.trainMergesLocal]]'s one-job Spark
    * word-frequency pass over the fixed [[Bpe.TrainWords]] corpus —
    * then encode the documents corpus with it. The oracle unrolls
    * [[Bpe.TrainedMerges]], the PURE-Scala trainer's table over the
    * same corpus, so the whole train→freeze→encode path round-trips
    * through one oracle query: if the Spark trainer ever disagrees
    * with the pure trainer, the loud require fires (and the hash gate
    * would catch it regardless).
    */
  def bpeTrainedEncode(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val learned = Bpe.trainMergesLocal(
      Bpe.TrainWords.toDF("text"), Bpe.TrainedMerges.size)
    require(learned == Bpe.TrainedMerges,
      s"Spark-trained table drifted from the frozen pure-Scala table:" +
        s"\n  spark: $learned\n  frozen: ${Bpe.TrainedMerges}")
    Bpe.encodeDocsPartitioned(spread(Tables.documents(spark, sfDir)),
      learned)
  }

  /** Per-language tokenizer fertility under the demo merge table
    * (t51): tokens/word and chars/token by language — the
    * cross-language tax report for a tokenizer (see
    * [[Bpe.fertilityByLang]]).
    */
  def bpeFertility(spark: SparkSession, sfDir: String): DataFrame = {
    Bpe.fertilityByLang(spread(Tables.documents(spark, sfDir)),
      Bpe.DemoMerges)
  }

  /** Per-language quality-gate pass rates (t17). */
  def qualityGate(spark: SparkSession, sfDir: String): DataFrame = {
    TextAnalysis.qualityGate(Tables.documents(spark, sfDir))
  }

  /** Repetition/boilerplate profile (t16). */
  def repetitionStats(spark: SparkSession, sfDir: String): DataFrame = {
    TextAnalysis.repetitionStats(spread(Tables.documents(spark, sfDir)))
  }

  /** Region cross-tab (x6): pivot with explicit values — static schema,
    * no distinct-scan pre-pass.
    *
    * SNAPSHOT SEMANTICS: reads the session's memoized
    * [[graft.queries.Merged.cleanedShared]] frame — data as of its
    * first build per (session, sfDir).
    */
  def pivotRegions(spark: SparkSession, sfDir: String): DataFrame = {
    graft.queries.BiQueries.revenuePivotByRegion(
      graft.queries.Merged.cleanedShared(spark, sfDir))
  }

  /** Melt back to long form (x7): pivot→unpivot round trip, null cells
    * dropped.
    *
    * SNAPSHOT SEMANTICS: reads the session's memoized
    * [[graft.queries.Merged.cleanedShared]] frame — data as of its
    * first build per (session, sfDir).
    */
  def unpivotRegions(spark: SparkSession, sfDir: String): DataFrame = {
    graft.queries.BiQueries.revenueUnpivotByRegion(
      graft.queries.Merged.cleanedShared(spark, sfDir))
  }

  /** Exact length percentiles per language (t10). */
  def charPercentiles(spark: SparkSession, sfDir: String): DataFrame = {
    TextAnalysis.charPercentiles(Tables.documents(spark, sfDir))
  }

  /** Fixed-width overlapping character chunks (t11). */
  def docChunks(spark: SparkSession, sfDir: String): DataFrame = {
    TextAnalysis.chunkDocs(Tables.documents(spark, sfDir))
  }

  /** Token-budget sequence packing summary (t12). */
  def sequencePacking(spark: SparkSession, sfDir: String): DataFrame = {
    TextAnalysis.sequencePacking(Tables.documents(spark, sfDir))
  }

  /** Per-language embedding centroids in long form (s3). */
  def langCentroids(spark: SparkSession, sfDir: String): DataFrame = {
    Similarity.langCentroids(Tables.documents(spark, sfDir),
      Tables.embeddings(spark, sfDir))
  }

  /** Column profile of the orders table (v1): the audit report a
    * warehouse runs before trusting a load.
    */
  def columnProfile(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
    Validation.columnProfile(o, o.columns.toSeq)
  }

  /** Referential-integrity audit across the star schema + the
    * document/embedding pairing (v2).
    */
  def refIntegrity(spark: SparkSession, sfDir: String): DataFrame = {
    import Validation.FkCheck
    val li = Tables.lineitem(spark, sfDir)
    Validation.refIntegrity(Seq(
      FkCheck("lineitem_orderkey", li, "l_orderkey",
        Tables.orders(spark, sfDir), "o_orderkey"),
      FkCheck("orders_custkey", Tables.orders(spark, sfDir), "o_custkey",
        Tables.customer(spark, sfDir), "c_custkey"),
      FkCheck("lineitem_partkey", li, "l_partkey",
        Tables.part(spark, sfDir), "p_partkey"),
      FkCheck("lineitem_suppkey", li, "l_suppkey",
        Tables.supplier(spark, sfDir), "s_suppkey"),
      FkCheck("embeddings_vec_id", Tables.embeddings(spark, sfDir),
        "vec_id", Tables.documents(spark, sfDir), "doc_id")))
  }

  /** Candidate-key uniqueness audit (v4): the star schema's primary
    * keys plus the composite lineitem key.
    */
  def keyUniqueness(spark: SparkSession, sfDir: String): DataFrame = {
    import Validation.KeyCheck
    Validation.keyUniqueness(Seq(
      KeyCheck("orders_pk", Tables.orders(spark, sfDir), Seq("o_orderkey")),
      KeyCheck("customer_pk", Tables.customer(spark, sfDir),
        Seq("c_custkey")),
      KeyCheck("lineitem_pk", Tables.lineitem(spark, sfDir),
        Seq("l_orderkey", "l_linenumber")),
      KeyCheck("documents_pk", Tables.documents(spark, sfDir),
        Seq("doc_id")),
      KeyCheck("events_pk", Tables.events(spark, sfDir), Seq("event_id"))))
  }

  /** Domain/range constraint audit over lineitem (v3) — one scan, all
    * verdicts. Violation predicates are null-safe: a NULL measure
    * violates its range check, a NULL ship date violates presence.
    */
  def constraintAudit(spark: SparkSession, sfDir: String): DataFrame = {
    def viol(pred: Column): Column = coalesce(!pred, lit(true))
    Validation.constraintAudit(Tables.lineitem(spark, sfDir), Seq(
      "qty_positive" -> viol(col("l_quantity") > 0),
      "discount_in_unit" ->
        viol(col("l_discount") >= 0 && col("l_discount") <= 1),
      "tax_nonneg" -> viol(col("l_tax") >= 0),
      "price_positive" -> viol(col("l_extendedprice") > 0),
      "linenumber_positive" -> viol(col("l_linenumber") >= 1),
      "shipdate_present" -> col("l_shipdate").isNull))
  }

  /** Key-skew diagnostic over the event stream's user key (x17):
    * top-20 users by event volume with share and skew ratio — the
    * pre-shuffle report that decides whether a user-keyed join needs
    * the x1 salting device.
    */
  def keySkew(spark: SparkSession, sfDir: String): DataFrame = {
    Validation.keySkew(Tables.events(spark, sfDir), "user_id", topN = 20)
  }

  /** k-anonymity audit of the customer table (v5): equivalence classes
    * of (nation, market segment) with fewer than 10 members — the
    * re-identifiable slices a release gate must empty.
    */
  def kAnonymity(spark: SparkSession, sfDir: String): DataFrame = {
    Validation.kAnonymity(Tables.customer(spark, sfDir),
      Seq("c_nationkey", "c_mktsegment"), k = 10)
  }

  /** zlib compression-ratio quality gate over the corpus (t44).
    * Spec-gated, not oracle-gated: DuckDB has no zlib, so the DuckDB
    * twin cannot express the ratio — exact `java.util.zip` parity and
    * the band semantics are pinned in `CorpusStatsSpec` instead, and
    * the driver records the rows-only check.
    */
  def compressionStats(spark: SparkSession, sfDir: String): DataFrame = {
    TextAnalysis.compressionStats(spread(Tables.documents(spark, sfDir)))
  }

  /** Blocked fuzzy record linkage (x18): a deterministically corrupted
    * part-name feed (every 5th part; drop-first-char / append / space
    * swap by key residue) matched back against the clean catalog at
    * edit distance ≤ 2. The oracle twin runs the UNBLOCKED all-pairs
    * form, so a blocking bug that dropped a candidate pair would
    * hash-mismatch — the completeness proof rides in the gate itself.
    */
  def fuzzyLinkage(spark: SparkSession, sfDir: String): DataFrame = {
    val part = Tables.part(spark, sfDir)
    val probes = part.filter(col("p_partkey") % 5 === 0)
      .select(col("p_partkey").as("probe_id"),
        when(col("p_partkey") % 3 === 0, expr("substring(p_name, 2)"))
          .when(col("p_partkey") % 3 === 1, concat(col("p_name"), lit("x")))
          .otherwise(regexp_replace(col("p_name"), " ", "_"))
          .as("probe_name"))
    Linkage.fuzzyBestMatch(probes, part, "probe_id", "probe_name",
      "p_name", maxDist = 2)
  }

  /** Canonical-URL dedup (t45): a deterministic fetch-list — per doc a
    * URL whose host case, explicit :443, trailing slash, tracking
    * params, and fragment vary by key residue — collapses under
    * [[Web.canonicalUrl]] to one canonical per (doc_id % 100) class
    * (the ref=1 param survives, but 5 | 100 makes it class-constant),
    * and first-fetch-wins keeps the minimum doc_id.
    */
  def urlDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val url = concat(
      when(col("doc_id") % 4 === 0, lit("https://WWW.Example.COM:443"))
        .otherwise(lit("https://www.example.com")),
      lit("/Docs/"), (col("doc_id") % 100).cast("string"),
      when(col("doc_id") % 3 === 0, lit("/")).otherwise(lit("")),
      when(col("doc_id") % 5 === 0, lit("?utm_source=feed&utm_campaign=x"))
        .when(col("doc_id") % 5 === 1, lit("?ref=1&utm_medium=email"))
        .otherwise(lit("")),
      when(col("doc_id") % 7 === 0, lit("#section-2")).otherwise(lit("")))
    Web.urlDedup(
      Tables.documents(spark, sfDir).select(col("doc_id"), url.as("url")))
  }

  /** Bloom-pruned selective join (x19): orders joined to the nation-1
    * customer slice — the fact side is cut by the m/8-byte membership
    * filter before any join machinery runs. The oracle twin is the
    * plain SQL join: identical results prove the bloom pass lossless
    * (no false negatives; false positives die in the real join).
    */
  def bloomJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val dim = Tables.customer(spark, sfDir)
      .filter(col("c_nationkey") === 1)
      .select(col("c_custkey"), col("c_mktsegment"))
    graft.std.BloomJoin.bloomPrunedJoin(
        Tables.orders(spark, sfDir)
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice")),
        dim, "o_custkey", "c_custkey")
      .select(col("o_orderkey"), col("o_custkey"), col("c_mktsegment"),
        col("o_totalprice"))
  }

  /** PageRank over the co-purchase chain graph (x20): edges link each
    * line item to the NEXT one in its order by line-number ORDER (the
    * corpus's line numbers are gappy, so "next row", not "+1") — the
    * "bought together next" relation; 3 iterations at damping 0.85.
    * Both engines derive edges with the identical `lead` window.
    * (l_orderkey, l_linenumber) is NOT unique in this corpus, so the
    * ordering appends l_partkey: remaining ties are between rows with
    * EQUAL partkeys, which cannot change the partkey sequence — the
    * edge set is total-order-determined in both engines.
    */
  def pageRank(spark: SparkSession, sfDir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("l_orderkey").orderBy("l_linenumber", "l_partkey")
    val edges = Tables.lineitem(spark, sfDir)
      .select(col("l_partkey").as("src"),
        lead("l_partkey", 1).over(w).as("dst"))
      .filter(col("dst").isNotNull)
    Graph.pageRank(edges, iterations = 3, dampingPerMille = 850)
  }

  /** HITS over the same co-purchase graph as x20 (x30): authorities =
    * parts good sequences converge on, hubs = parts that open them;
    * 2 exact-integer iterations, end-normalized (see [[Graph.hits]]).
    */
  def hitsScores(spark: SparkSession, sfDir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("l_orderkey").orderBy("l_linenumber", "l_partkey")
    val edges = Tables.lineitem(spark, sfDir)
      .select(col("l_partkey").as("src"),
        lead("l_partkey", 1).over(w).as("dst"))
      .filter(col("dst").isNotNull)
    Graph.hits(edges, iterations = 2)
  }

  /** Triangle counts + local clustering coefficients over the same
    * co-purchase graph as x20/x30 (x31), direction dropped: a part's
    * coefficient measures how often its "bought-adjacent" partners are
    * also bought adjacent to EACH OTHER — community tightness, the
    * local-density axis the global rankers don't see. Degree-ordered
    * orientation keeps the wedge join O(m^1.5) (see
    * [[Graph.triangleStats]]).
    */
  def triangleStats(spark: SparkSession, sfDir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("l_orderkey").orderBy("l_linenumber", "l_partkey")
    val edges = Tables.lineitem(spark, sfDir)
      .select(col("l_partkey").as("src"),
        lead("l_partkey", 1).over(w).as("dst"))
      .filter(col("dst").isNotNull)
    Graph.triangleStats(edges)
  }

  /** TrustRank over the co-purchase graph (x33): personalized PageRank
    * with teleport restricted to the `p_size = 1` parts — rank = trust
    * propagated outward from the seed slice through "bought next"
    * edges; unreachable parts score exactly 0 (see
    * [[Graph.personalizedPageRank]]).
    */
  def trustRank(spark: SparkSession, sfDir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("l_orderkey").orderBy("l_linenumber", "l_partkey")
    val edges = Tables.lineitem(spark, sfDir)
      .select(col("l_partkey").as("src"),
        lead("l_partkey", 1).over(w).as("dst"))
      .filter(col("dst").isNotNull)
    val seeds = Tables.part(spark, sfDir)
      .filter(col("p_size") === 1)
      .select(col("p_partkey").as("node"))
    Graph.personalizedPageRank(edges, seeds, iterations = 3,
      dampingPerMille = 850)
  }

  /** Label-propagation communities (x34) over the undirected support
    * of the x20 co-purchase chain graph: 3 synchronous majority-vote
    * iterations, smallest-label tie-break ([[Graph.labelPropagation]]).
    */
  def labelPropagation(spark: SparkSession, sfDir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("l_orderkey").orderBy("l_linenumber", "l_partkey")
    val edges = Tables.lineitem(spark, sfDir)
      .select(col("l_partkey").as("src"),
        lead("l_partkey", 1).over(w).as("dst"))
      .filter(col("dst").isNotNull)
    Graph.labelPropagation(edges, iterations = 3)
  }

  /** Connected components (x48): the dedup clustering kernel promoted
    * to a first-class graph operator — [[Dedup.connectedComponentsStars]]
    * (the Kiveris large-star/small-star contraction, O(log² n)
    * supersteps on ANY component shape) over the undirected support of
    * the high-quantity co-purchase chain graph (the x20 lead-window
    * edges restricted to l_quantity ≥ 48, which leaves a real
    * component structure instead of one giant blob), plus per-component
    * sizes. d5/d11 consume the same kernel for dedup groups; this
    * exposes it to graph users directly.
    */
  def components(spark: SparkSession, sfDir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("l_orderkey").orderBy("l_linenumber", "l_partkey")
    val edges = Tables.lineitem(spark, sfDir)
      .filter(col("l_quantity") >= 48)
      .select(col("l_partkey").as("id_a"),
        lead("l_partkey", 1).over(w).as("id_b"))
      .filter(col("id_b").isNotNull && col("id_a") =!= col("id_b"))
    val nodes = edges.select(col("id_a").as("node_id"))
      .unionByName(edges.select(col("id_b").as("node_id"))).distinct()
    val labels = Dedup.connectedComponentsStars(nodes, edges,
      idCol = "node_id")
    val sizes = labels.groupBy(col("cluster_rep"))
      .agg(count(lit(1)).as("component_size"))
    labels.join(sizes, Seq("cluster_rep"))
      .select(col("node_id"), col("cluster_rep"), col("component_size"))
  }

  /** Weighted shortest paths (x50): bounded Bellman-Ford over the
    * co-purchase chain graph with per-edge cost = the source line's
    * quantity (parallel edges collapse to the CHEAPEST traversal),
    * seeded from the `p_size = 1` parts (the x33 trust-seed set) —
    * "how cheaply does influence from the seed parts reach each
    * co-purchased part within 4 hops". [[Graph.shortestPaths]]: one
    * join + one partial-agg MIN shuffle per relaxation, exact long
    * costs; the oracle unrolls the same 4 relaxations.
    */
  def shortestPaths(spark: SparkSession, sfDir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("l_orderkey").orderBy("l_linenumber", "l_partkey")
    val edges = Tables.lineitem(spark, sfDir)
      .select(col("l_partkey").as("src"),
        lead("l_partkey", 1).over(w).as("dst"),
        col("l_quantity").cast("long").as("w"))
      .filter(col("dst").isNotNull)
    val seeds = Tables.part(spark, sfDir)
      .filter(col("p_size") === 1)
      .select(col("p_partkey").as("seed"))
    Graph.shortestPaths(edges, seeds, iterations = 4)
  }

  /** Sampled-source harmonic centrality (x54):
    * [[Graph.harmonicCentrality]] over the x50 chain graph
    * (unweighted, directed), seeded from every 500th part — the
    * Eppstein–Wang sampled estimator with a 4-hop horizon. "Which
    * parts does influence from a fixed seed panel reach most
    * cheaply" — the centrality readout next to x20's stationary mass
    * and x38's boolean reach.
    */
  def harmonicCentrality(spark: SparkSession, sfDir: String)
      : DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("l_orderkey").orderBy("l_linenumber", "l_partkey")
    val edges = Tables.lineitem(spark, sfDir)
      .select(col("l_partkey").as("src"),
        lead("l_partkey", 1).over(w).as("dst"))
      .filter(col("dst").isNotNull)
    val seeds = Tables.part(spark, sfDir)
      .filter(col("p_partkey") % 500 === 0)
      .select(col("p_partkey").as("seed"))
    Graph.harmonicCentrality(edges, seeds, iterations = 4)
  }

  /** The co-purchase chain graph every x-tier graph operator runs on:
    * consecutive parts within an order under the (linenumber,
    * partkey) total order.
    */
  private def chainGraphEdges(spark: SparkSession,
                              sfDir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("l_orderkey").orderBy("l_linenumber", "l_partkey")
    Tables.lineitem(spark, sfDir)
      .select(col("l_partkey").as("src"),
        lead("l_partkey", 1).over(w).as("dst"))
      .filter(col("dst").isNotNull)
  }

  /** Sampled betweenness centrality (x58):
    * [[Graph.betweennessCentrality]] over the chain graph with the
    * x54 seed panel — Brandes' three passes as joins, the brokerage
    * readout completing the centrality shelf.
    */
  def betweennessCentrality(spark: SparkSession, sfDir: String)
      : DataFrame = {
    val seeds = Tables.part(spark, sfDir)
      .filter(col("p_partkey") % 500 === 0)
      .select(col("p_partkey").as("seed"))
    Graph.betweennessCentrality(chainGraphEdges(spark, sfDir), seeds,
      iterations = 4)
  }

  /** Random-walk corpus (x66): [[Graph.randomWalks]] over the chain
    * graph — one 4-step hash-seeded walk per every-100th part, the
    * DeepWalk/node2vec training-data generator with the t9
    * reproducibility discipline.
    */
  def randomWalks(spark: SparkSession, sfDir: String): DataFrame = {
    val seeds = Tables.part(spark, sfDir)
      .filter(col("p_partkey") % 100 === 0)
      .select(col("p_partkey").as("seed"))
    Graph.randomWalks(chainGraphEdges(spark, sfDir), seeds,
      steps = 4, maxDegree = 64)
  }

  /** Skip-gram pairs (x72): [[Graph.skipGramPairs]] over the x66
    * walk corpus (same seeds, steps, cap — the oracle shares the walk
    * CTE fragment verbatim so corpus and consumer cannot drift),
    * window 2 — the word2vec training-pair table for the chain graph.
    */
  def skipGramPairs(spark: SparkSession, sfDir: String): DataFrame = {
    Graph.skipGramPairs(randomWalks(spark, sfDir), window = 2)
  }

  /** Link prediction (x67): [[Graph.linkPrediction]] over the chain
    * graph — top-100 unlinked pairs by Adamic–Adar score witnessed
    * through the rank-capped adjacency, at least 2 shared neighbors.
    * Cap 16: the chain graph's hubs SATURATE the cap, so pair volume
    * is ≈ \|V\|·cap² — 16 prices the query at ~5M pair rows where 32
    * paid ~20M for the same top-100 (the probe's measured cap² knob,
    * turned).
    */
  def linkPrediction(spark: SparkSession, sfDir: String): DataFrame = {
    Graph.linkPrediction(chainGraphEdges(spark, sfDir),
      minCommon = 2, maxDegree = 16, topN = 100)
  }

  /** Link-prediction holdout evaluation (x73):
    * [[Graph.linkPredictionEval]] over the chain graph — a 10%
    * hash-held-out edge set, Adamic–Adar (minCommon 1, cap 16) on the
    * remainder, precision/recall@{10,50,100} against the holdout. The
    * recall-shelf readout that prices x67 the way s13/s19/s25 price
    * the ANN paths.
    */
  def linkPredictionEval(spark: SparkSession, sfDir: String): DataFrame = {
    Graph.linkPredictionEval(chainGraphEdges(spark, sfDir),
      holdoutMod = 10, minCommon = 1, maxDegree = 16,
      ks = Seq(10, 50, 100))
  }

  /** Bounded strongly connected components (x69):
    * [[Graph.stronglyConnected]] over the chain graph — one coloring
    * round with a 4-hop horizon, confirmed feedback rings only.
    */
  def stronglyConnected(spark: SparkSession, sfDir: String): DataFrame = {
    Graph.stronglyConnected(chainGraphEdges(spark, sfDir), hops = 4)
  }

  /** Iterative-peel SCC (x71): [[Graph.stronglyConnectedPeel]] over
    * the chain graph — 3 peel rounds of the 4-hop coloring kernel, so
    * rings whose color root is an external feeder (silent in x69's
    * single round) surface with the peel round that found them.
    */
  def stronglyConnectedPeel(spark: SparkSession,
                            sfDir: String): DataFrame = {
    Graph.stronglyConnectedPeel(chainGraphEdges(spark, sfDir),
      hops = 4, peelRounds = 3)
  }

  /** Edge reciprocity (x75): [[Graph.reciprocity]] over the chain
    * graph — per-node mutual-edge shares, the one-pass regime readout
    * (mutual world vs broadcast feed) for the whole x-tier.
    */
  def reciprocity(spark: SparkSession, sfDir: String): DataFrame = {
    Graph.reciprocity(chainGraphEdges(spark, sfDir))
  }

  /** Double-sweep diameter estimate (x74):
    * [[Graph.diameterEstimate]] over the chain graph — two 6-hop BFS
    * sweeps, the planning number every horizon knob in the graph tier
    * is sized from.
    */
  def diameterEstimate(spark: SparkSession, sfDir: String): DataFrame = {
    Graph.diameterEstimate(chainGraphEdges(spark, sfDir), hops = 6)
  }

  /** Directed triad census (x70): [[Graph.triadCensus]] over the
    * chain graph — per-node cycle memberships and feed-forward
    * source/middle/sink roles.
    */
  def triadCensus(spark: SparkSession, sfDir: String): DataFrame = {
    Graph.triadCensus(chainGraphEdges(spark, sfDir))
  }

  /** Session-memoized x34 LPA partition of the chain graph — the
    * trained-quantizer lifecycle applied to communities: in
    * production the assignment is computed ONCE at write time and
    * stored, and the scorer (x63) / refiner (x64) consume that STORED
    * partition. x34 itself stays pure — it is the operator being
    * priced; these two queries price the score/refine dataflow over
    * its artifact. The memo pins the partition and
    * `SessionMemo.releaseSession` frees it in driver/test teardown.
    */
  private def chainLpaLabels(spark: SparkSession,
                             sfDir: String): DataFrame =
    graft.std.SessionMemo.getOrBuild(spark, s"lpa|chain|$sfDir")(
      Graph.labelPropagation(chainGraphEdges(spark, sfDir), iterations = 3)
        .select(col("node"), col("community")))

  /** Community modularity (x63): [[Graph.modularity]] scoring the x34
    * label-propagation partition of the chain graph — did 3 LPA
    * rounds find structure that beats a degree-preserving random
    * rewiring? One scorer for any partitioner; here it gates the
    * repo's own community operator (the stored partition via
    * [[chainLpaLabels]]).
    */
  def modularity(spark: SparkSession, sfDir: String): DataFrame = {
    Graph.modularity(chainGraphEdges(spark, sfDir),
      chainLpaLabels(spark, sfDir))
  }

  /** Louvain refinement sweep (x64): one synchronous greedy-move pass
    * ([[Graph.modularityRefine]]) over the x34 LPA partition of the
    * chain graph — the propose → score → refine community pipeline's
    * third stage, on the same stored assignment x63 scores.
    */
  def modularityRefine(spark: SparkSession, sfDir: String): DataFrame = {
    Graph.modularityRefine(chainGraphEdges(spark, sfDir),
      chainLpaLabels(spark, sfDir))
  }

  /** Bounded k-truss peel (x65): [[Graph.kTruss]] at k=3 (every
    * surviving edge sits in ≥1 triangle of the surviving subgraph),
    * 2 peel rounds, over the chain graph — the triangle-backed "strong
    * tie" skeleton under x31's counts and x60's node-level core.
    */
  def kTruss(spark: SparkSession, sfDir: String): DataFrame = {
    Graph.kTruss(chainGraphEdges(spark, sfDir), k = 3, rounds = 2)
  }

  /** Degree assortativity (x59): [[Graph.assortativity]] of the chain
    * graph — do hubs attach to hubs or to leaves? The sign picks the
    * skew guard (salting vs bucket caps) before any expensive pass.
    */
  def assortativity(spark: SparkSession, sfDir: String): DataFrame = {
    Graph.assortativity(chainGraphEdges(spark, sfDir))
  }

  /** Temporal reachability (x62): [[Graph.temporalReach]] over the
    * chain graph with each edge active at its source line's ship
    * date — earliest possible arrival from the x54 seed panel along
    * time-respecting paths (what could actually have FLOWED, not
    * just what is connected).
    */
  def temporalReach(spark: SparkSession, sfDir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("l_orderkey").orderBy("l_linenumber", "l_partkey")
    val edges = Tables.lineitem(spark, sfDir)
      .select(col("l_partkey").as("src"),
        lead("l_partkey", 1).over(w).as("dst"),
        col("l_shipdate").cast("date").as("etime"))
      .filter(col("dst").isNotNull)
    val seeds = Tables.part(spark, sfDir)
      .filter(col("p_partkey") % 500 === 0)
      .select(col("p_partkey").as("seed"))
    Graph.temporalReach(edges, seeds, iterations = 4)
  }

  /** PageRank convergence report (x61):
    * [[Graph.pageRankConvergence]] over the chain graph — per-round
    * L1/max rank movement and mass, the evidence that the x20
    * family's fixed iteration count is enough.
    */
  def pageRankConvergence(spark: SparkSession,
                          sfDir: String): DataFrame = {
    Graph.pageRankConvergence(chainGraphEdges(spark, sfDir))
  }

  /** k-core peel (x60): [[Graph.kCore]] at k = 3, 4 peel rounds —
    * the dense-subgraph extractor next to x34's communities and
    * x48's components.
    */
  def kCore(spark: SparkSession, sfDir: String): DataFrame = {
    Graph.kCore(chainGraphEdges(spark, sfDir), k = 3, rounds = 4)
  }

  /** Degree power-law readout (x55): [[Graph.degreeDistribution]]
    * over the chain graph's undirected support — the histogram + the
    * log-log fit that predicts hub skew before any expensive pass.
    */
  def degreeDistribution(spark: SparkSession, sfDir: String)
      : DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("l_orderkey").orderBy("l_linenumber", "l_partkey")
    val edges = Tables.lineitem(spark, sfDir)
      .select(col("l_partkey").as("src"),
        lead("l_partkey", 1).over(w).as("dst"))
      .filter(col("dst").isNotNull)
    Graph.degreeDistribution(edges)
  }

  /** Incremental rollup maintenance (x21): the order-value summary by
    * (priority, status), maintained as history-state + 1998 delta
    * batch — the merge path whose cost is O(batch + keys). The oracle
    * is the FULL recompute over everything: equality proves the
    * incremental timeline exact (the scd2Merge discipline applied to
    * aggregates; DECIMAL state is what makes merge order immaterial).
    */
  def incrementalRollup(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
    val cut = lit("1998-01-01").cast("timestamp")
    val keys = Seq("o_orderpriority", "o_orderstatus")
    val measures = Seq("o_totalprice")
    val state = Rollup.additiveRollup(
      o.filter(col("o_orderdate") < cut), keys, measures)
    val merged = Rollup.mergeAdditive(state,
      Rollup.additiveRollup(o.filter(col("o_orderdate") >= cut),
        keys, measures), keys, measures)
    Rollup.report(merged, keys, measures)
  }

  /** Pre-join size estimate (x22): orders × the AUTOMOBILE customer
    * slice, estimated from KMV sketches without running the join — the
    * broadcast/bloom/salt decision input. The exact columns are the
    * test-scale quality readout (t24 discipline).
    */
  def joinEstimate(spark: SparkSession, sfDir: String): DataFrame = {
    Validation.joinSizeEstimate(
      Tables.orders(spark, sfDir),
      Tables.customer(spark, sfDir)
        .filter(col("c_mktsegment") === "AUTOMOBILE"),
      "o_custkey", "c_custkey")
  }

  /** Weighted sample without replacement (t46): 100 orders drawn with
    * probability proportional to order value — Efraimidis–Spirakis
    * with deterministic md5-lane uniforms and the ln-transformed key
    * (see [[graft.std.Sampling]]); the oracle reruns the identical
    * draw.
    */
  def weightedSample(spark: SparkSession, sfDir: String): DataFrame = {
    graft.std.Sampling.weightedSample(
      Tables.orders(spark, sfDir), "o_orderkey", "o_totalprice", n = 100)
  }

  /** Stratified weighted sample (t48): 20 orders per priority class,
    * probability ∝ order value — the per-stratum form of t46, run as
    * the bounded native [[graft.functions.TopSample]] aggregate (the
    * oracle reruns the identical draw as a `row_number` window, which
    * is exactly the shuffle-everything plan the aggregate avoids).
    */
  def stratifiedWeighted(spark: SparkSession, sfDir: String): DataFrame = {
    graft.std.Sampling.stratifiedWeightedSample(
      Tables.orders(spark, sfDir), "o_orderpriority", "o_orderkey",
      "o_totalprice", nPerGroup = 20)
  }

  /** Equal-frequency binning of order values into 8 buckets (x23):
    * exact interpolated boundaries (cut literals i/8 are exact binary
    * doubles), boundary assignment per row.
    */
  def equalFreqBins(spark: SparkSession, sfDir: String): DataFrame = {
    Features.equalFreqBins(
        Tables.orders(spark, sfDir)
          .select(col("o_orderkey"), col("o_totalprice")),
        "o_totalprice", bins = 8)
      .select(col("o_orderkey"), col("o_totalprice"), col("bin"))
  }

  /** Modal event hour per event type (x29): each type's busiest
    * hour-of-day with its traffic share.
    */
  def modalHour(spark: SparkSession, sfDir: String): DataFrame = {
    Validation.groupMode(
      Tables.events(spark, sfDir)
        .select(col("event_type"), hour(col("ts")).as("hour_of_day")),
      "event_type", "hour_of_day")
  }

  /** Per-priority Pearson correlation between order value and shipping
    * delay (x28): does a bigger order ship slower? The measure pair
    * joins once (order → its first line-item ship date), collapses to
    * DECIMAL moments per priority.
    */
  def priceDelayCorr(spark: SparkSession, sfDir: String): DataFrame = {
    val firstShip = Tables.lineitem(spark, sfDir)
      .groupBy(col("l_orderkey"))
      .agg(min(col("l_shipdate")).as("_ship"))
    val joined = Tables.orders(spark, sfDir)
      .join(firstShip, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_orderpriority"), col("o_totalprice"),
        datediff(col("_ship"), col("o_orderdate"))
          .cast("double").as("delay_days"))
    Features.pearson(joined, "o_orderpriority", "o_totalprice",
      "delay_days")
  }

  /** Per-event-type z-score standardization of event values (x24). */
  def zscoreEvents(spark: SparkSession, sfDir: String): DataFrame = {
    Features.zscore(
        Tables.events(spark, sfDir)
          .select(col("event_id"), col("event_type"), col("value")),
        "event_type", "value")
      .select(col("event_id"), col("event_type"), col("value"),
        col("zscore"))
  }

  /** Source shingle-diversity ratio (t72):
    * [[TextAnalysis.sourceShingleDiversity]] with an injected
    * template farm — every 6th doc re-emitted under source
    * `tmplfarm` as the SAME boilerplate page with only its id slug
    * changed: per-doc gates can't see it, the source-level shingle
    * pool can (7 shared 3-grams + 1 id-bearing one per page).
    */
  def sourceShingleDiversity(spark: SparkSession,
                             sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), col("text"))
    val tmpl = docs.filter(col("doc_id") % 6 === 0)
      .select((col("doc_id") + 900000).as("doc_id"),
        lit("tmplfarm").as("source"),
        concat(lit("contact us terms privacy about shipping returns " +
          "faq page "), col("doc_id").cast("string")).as("text"))
    TextAnalysis.sourceShingleDiversity(
      spread(docs.unionByName(tmpl)))
  }

  /** Cross-source shingle-overlap matrix (t74):
    * [[TextAnalysis.sourceOverlapMatrix]] with an injected MIRROR —
    * every 7th doc re-emitted verbatim under source `mirrorsrc`: its
    * Jaccard against any one original source is small (it holds only
    * a slice of each), but its CONTAINMENT inside the originals'
    * vocabularies is what the verdict catches — the
    * small-feed-mirrored-from-big-feed case t72's within-source ratio
    * cannot see.
    */
  def sourceOverlapMatrix(spark: SparkSession,
                          sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), col("text"))
    val mirror = docs.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 900000).as("doc_id"),
        lit("mirrorsrc").as("source"), col("text"))
    TextAnalysis.sourceOverlapMatrix(
      spread(docs.unionByName(mirror)))
  }

  /** Per-doc novelty vs reference (t76): [[TextAnalysis.noveltyScore]]
    * with the id-lane incremental split — every doc with
    * `doc_id % 5 = 4` is the incoming BATCH, the other 80% the
    * already-ingested REFERENCE; the "what does this crawl add"
    * score at doc grain.
    */
  def noveltyScore(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = spread(Tables.documents(spark, sfDir))
    TextAnalysis.noveltyScore(
      docs.filter(col("doc_id") % 5 === 4),
      docs.filter(col("doc_id") % 5 =!= 4))
  }

  /** Readability scores (t75): [[TextAnalysis.readability]] — Flesch
    * reading ease + Flesch–Kincaid grade per doc with curriculum
    * bands, the complexity axis of the quality shelf.
    */
  def readability(spark: SparkSession, sfDir: String): DataFrame = {
    TextAnalysis.readability(spread(Tables.documents(spark, sfDir)))
  }

  /** Per-source token-entropy diversity report (t47). */
  def sourceEntropy(spark: SparkSession, sfDir: String): DataFrame = {
    TextAnalysis.sourceEntropy(spread(Tables.documents(spark, sfDir)))
  }

  /** LSH band-tuning report (t50): the d2 signature space swept at
    * bands ∈ {2, 4, 8} (rows 4/2/1) against the injected-pair truth
    * set — the candidate-volume vs recall trade measured on the real
    * corpus before fixing a production (bands, rows) choice.
    */
  def lshTuning(spark: SparkSession, sfDir: String): DataFrame = {
    val corpus = nearDupCorpus(Tables.documents(spark, sfDir))
    val withSh = graft.std.Materialize.once(
      shingled(corpus, split(col("text"), " ")))
    val sigs = graft.std.Materialize.once(Dedup.minHashSignatures(withSh, 8))
    // labeled positives: the injected (orig, orig+100000) pairs whose
    // exact shingle Jaccard clears the verify threshold
    val a = withSh.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
    val b = withSh.select(col("doc_id").as("id_b"), col("sh").as("sh_b"))
    val truth = a.join(b, col("id_b") === col("id_a") + 100000)
      .filter(round(Dedup.jaccard(col("sh_a"), col("sh_b")), 6) >= 0.5)
      .select(col("id_a"), col("id_b"))
    Dedup.lshTuningReport(withSh, sigs, 8, Seq(2, 4, 8), 0.5, truth)
  }

  /** Repeated 5-gram span fractions (t49) over the injected near-dup
    * corpus — the mutated copies share almost all their windows with
    * their originals, so the signal separates injected pairs from the
    * unique base docs.
    */
  def repeatedNgrams(spark: SparkSession, sfDir: String): DataFrame = {
    TextAnalysis.repeatedNgramSpans(
      spread(nearDupCorpus(Tables.documents(spark, sfDir))))
  }

  /** DSIR importance weights (t52): candidate docs scored by the
    * hashed-n-gram log-likelihood ratio of a 4-source "target" slice
    * vs the remaining 16-source candidate pool; top 100 by weight.
    * Production swaps the source predicate for a real curated target
    * corpus — nothing else changes.
    */
  def dsirWeights(spark: SparkSession, sfDir: String): DataFrame = {
    TextAnalysis.dsirWeights(spread(Tables.documents(spark, sfDir)),
      DsirTargetSources)
  }

  /** The t52 demo "target domain": a fixed 4-of-20 source slice. */
  val DsirTargetSources: Seq[String] = Seq("src0", "src1", "src2", "src3")

  /** Robust (median/MAD) per-priority order-value outliers (x26). */
  def robustOutliers(spark: SparkSession, sfDir: String): DataFrame = {
    Features.robustZscore(
        Tables.orders(spark, sfDir)
          .select(col("o_orderkey"), col("o_orderpriority"),
            col("o_totalprice")),
        "o_orderpriority", "o_totalprice")
      .select(col("o_orderkey"), col("o_orderpriority"),
        col("o_totalprice"), col("robust_z"), col("is_outlier"))
  }

  /** Hourly event-count anomaly monitor (x10): each (type, hour)
    * z-scored against its trailing 24 observed hours.
    */
  def hourlyAnomalies(spark: SparkSession, sfDir: String): DataFrame = {
    Timeseries.hourlyAnomalies(Tables.events(spark, sfDir))
      .withColumnRenamed("key", "event_type")
  }

  /** Retention cohort matrix over the event stream (x12). */
  def retentionCohorts(spark: SparkSession, sfDir: String): DataFrame = {
    Timeseries.retentionCohorts(Tables.events(spark, sfDir))
  }

  /** Per-priority order-value quantiles (x13) — the EXACT kernel as
    * the oracle contract; production uses the approx sketch mode.
    */
  def priceQuantiles(spark: SparkSession, sfDir: String): DataFrame = {
    Validation.quantileReport(Tables.orders(spark, sfDir),
      "o_orderpriority", "o_totalprice", Seq(0.25, 0.5, 0.75, 0.9),
      exact = true)
  }

  /** JSON-props extraction + rollup (x14): schema-on-read of the
    * event payload inside the scan pass.
    */
  def propsRollup(spark: SparkSession, sfDir: String): DataFrame = {
    SemiStructured.propsRollup(Tables.events(spark, sfDir))
  }

  /** SCD2 dimension build (x15): per-user event_type observation log
    * collapsed into validity intervals.
    */
  def scd2Intervals(spark: SparkSession, sfDir: String): DataFrame = {
    Scd.scd2FromLog(Tables.events(spark, sfDir),
      keyCol = "user_id", valueCol = "event_type",
      tsCol = "ts", tiebreakCol = "event_id")
  }

  /** CDC changelog apply (x35): [[Scd.cdcApply]] over an orders
    * snapshot (keys with `o_orderkey % 3 <> 1`) and a deterministic
    * synthetic change batch — price updates (seq 2, every 5th key),
    * deletes (seq 3, keys ≡ 3 mod 7 — these outrank a colliding
    * update), and inserts of new `+3000000` keys (seq 1, every 11th ≡
    * 2). Updates targeting keys OUTSIDE the snapshot exercise the
    * upsert path; the oracle replays the same merge relationally.
    */
  def cdcApply(spark: SparkSession, sfDir: String): DataFrame = {
    val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
      "o_totalprice", "o_orderdate")
    val o = Tables.orders(spark, sfDir).select(cols.map(col): _*)
    val base = o.filter(col("o_orderkey") % 3 =!= 1)
    val updates = o.filter(col("o_orderkey") % 5 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + 100.0)
      .withColumn("seq", lit(2L)).withColumn("op", lit("U"))
    val deletes = o.filter(col("o_orderkey") % 7 === 3)
      .select(col("o_orderkey"),
        lit(null).cast("long").as("o_custkey"),
        lit(null).cast("string").as("o_orderstatus"),
        lit(null).cast("double").as("o_totalprice"),
        lit(null).cast("timestamp").as("o_orderdate"),
        lit(3L).as("seq"), lit("D").as("op"))
    val inserts = o.filter(col("o_orderkey") % 11 === 2)
      .withColumn("o_orderkey", col("o_orderkey") + 3000000L)
      .withColumn("seq", lit(1L)).withColumn("op", lit("I"))
    Scd.cdcApply(base, updates.unionByName(deletes).unionByName(inserts),
      "o_orderkey")
  }

  /** Order-value drift (x16): PSI of the o_totalprice distribution,
    * pre-1998 reference vs 1998-onward current.
    */
  def driftPsi(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
    val cut = lit("1998-01-01").cast("timestamp")
    Validation.driftPsi(
      o.filter(col("o_orderdate") < cut),
      o.filter(col("o_orderdate") >= cut),
      "o_totalprice", 25000.0)
  }

  /** Order-value histogram (x11): 25k-wide bins over o_totalprice. */
  def priceHistogram(spark: SparkSession, sfDir: String): DataFrame = {
    Validation.histogram(Tables.orders(spark, sfDir), "o_totalprice", 25000.0)
  }

  /** IVF ANN top-k (s9): TRAINED k-means cells (8 Voronoi cells, 4
    * Lloyd rounds — the same quantizer s16 composes with PQ) as the
    * inverted lists, the s1 probe set as queries. Each query scores
    * only the nprobe=2 nearest cells' vectors — at scale that is
    * nprobe/|cells| of the corpus instead of all of it, with the
    * |cells|-row trained-centroid table broadcast. (The column-
    * quantizer form [[Similarity.ivfTopK]] remains for callers with a
    * pre-existing partition column.)
    */
  def ivfTopK(spark: SparkSession, sfDir: String): DataFrame = {
    val vecs = Tables.embeddings(spark, sfDir)
    Similarity.ivfTopKTrained(vecs.filter(col("vec_id") < 20), vecs, 5,
        nprobe = 2, cells = 8, cellIters = 4,
        memoTag = Some(s"emb|$sfDir"))
      .select(col("query_id"), col("neighbor_id"),
        col("rank").cast("long").as("rank"), col("cosine"))
  }

  /** Embedding-centroid drift between the even/odd doc_id snapshots
    * (s10) — the deterministic ref/cur split of one corpus, so the
    * expected verdict is "no drift" with cos ≈ 1 per language.
    */
  def centroidDrift(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    Similarity.centroidDrift(
      docs.filter(col("doc_id") % 2 === 0),
      docs.filter(col("doc_id") % 2 === 1),
      Tables.embeddings(spark, sfDir))
  }

  /** Per-language centroid-distance outliers (s7). */
  def embeddingOutliers(spark: SparkSession, sfDir: String): DataFrame = {
    Similarity.centroidOutliers(Tables.documents(spark, sfDir),
      Tables.embeddings(spark, sfDir))
  }

  /** KMV distinct-token cardinality sketch per language (t24). */
  def kmvCardinality(spark: SparkSession, sfDir: String): DataFrame = {
    TextAnalysis.kmvCardinality(
      spread(Tables.documents(spark, sfDir)))
  }

  /** Corpus-unigram-LM per-document quality score (t25). */
  def unigramLogprob(spark: SparkSession, sfDir: String): DataFrame = {
    TextAnalysis.unigramLogprob(
      spread(Tables.documents(spark, sfDir)))
  }

  /** Token-budget epoch allocation (t63): the 200k-token decision
    * table over the documents corpus.
    */
  def epochAllocation(spark: SparkSession, sfDir: String): DataFrame = {
    TextAnalysis.epochAllocation(Tables.documents(spark, sfDir), 200000L)
  }

  /** CCNet-style perplexity tertile buckets per source (t62). */
  def perplexityBuckets(spark: SparkSession, sfDir: String): DataFrame = {
    TextAnalysis.perplexityBuckets(
      spread(Tables.documents(spark, sfDir)))
  }

  /** Product-quantization report (s15): 8 round-robin subspaces,
    * per-label codebooks, over the labeled embedding corpus.
    */
  def pqReport(spark: SparkSession, sfDir: String): DataFrame = {
    Similarity.pqReport(Tables.embeddings(spark, sfDir))
  }

  /** Hashed-feature classifier scoring (t32). */
  def hashedClassifier(spark: SparkSession, sfDir: String): DataFrame = {
    TextAnalysis.hashedClassifier(
      spread(Tables.documents(spark, sfDir)))
  }

  /** Classifier scored against a broadcast weight TABLE (t33) — the
    * production form of t32: same scores, but the weights arrive as a
    * `(bucket, weight_milli)` frame (here the stub table, so the oracle
    * can twin it) packed to one dense array row and broadcast.
    */
  def weightedClassifier(spark: SparkSession, sfDir: String): DataFrame = {
    TextAnalysis.hashedClassifierWithWeights(
      spread(Tables.documents(spark, sfDir)),
      TextAnalysis.stubWeights(spark))
  }

  /** Bigram-LM document scoring (t31). */
  def bigramLogprob(spark: SparkSession, sfDir: String): DataFrame = {
    TextAnalysis.bigramLogprob(
      spread(Tables.documents(spark, sfDir)))
  }

  /** Rank AUC (t67): the en-marker score as a classifier for the
    * true `lang = 'en'` label — the Mann-Whitney readout that says
    * how well the t4 heuristic RANKS before any threshold choice
    * (t57's confusion matrix prices the argmax decision; this prices
    * the score itself).
    */
  def classifierAuc(spark: SparkSession, sfDir: String): DataFrame = {
    // the synthetic corpus draws the same vocabulary for every lang
    // label (a text score CANNOT rank it — measured AUC 0.507), so
    // the fixture appends real English stopwords to half the English
    // docs, deterministically — the s2/t53 injection pattern: give
    // the synthetic corpus the structure the metric exists to detect,
    // on both dialects identically. Half, not all: the un-injected
    // positives keep wins/ties both populated.
    val docs = Tables.documents(spark, sfDir).withColumn("text",
      when(col("lang") === "en" && col("doc_id") % 2 === 0,
        concat(col("text"), lit(" the of and is to")))
        .otherwise(col("text")))
    val scored = docs.select((col("lang") === "en").as("is_en"),
      TextAnalysis.langScores(TextOps.tokens(col("text")))
        .toMap.apply("en").cast("long").as("en_score"))
    Experiment.rankAuc(scored, "en_score", "is_en")
  }

  /** Dedup token savings (t71): the report a data team actually
    * publishes after a dedup pass — per SOURCE, documents and TOKENS
    * before/after exact dedup over the d1 mirror corpus (every 5th
    * doc re-uploaded at +200000), with the saved-token share in fixed
    * point. d1/d6 say WHICH rows survive; this prices the pass in the
    * unit training budgets are written in. Keeper = min doc_id per
    * content hash (the d1 rule), so a duplicated doc's tokens bill to
    * the source that uploaded the copy, not the keeper's source.
    *
    * 100 TB shape: text collapses to (digest, token count) in the
    * scan; one groupBy on the digest, one broadcast-joinable keeper
    * frame, one partial-agg rollup to |sources| rows. Exact longs end
    * to end.
    */
  def dedupTokenSavings(spark: SparkSession, sfDir: String)
      : DataFrame = {
    val base = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), col("text"))
    val corpus = base.unionByName(base.filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 200000L).as("doc_id"), col("source"),
        col("text")))
    val tk = corpus.select(col("doc_id"), col("source"),
      md5(TextOps.normText(col("text"))).as("_gh"),
      size(TextOps.tokens(col("text"))).cast("long").as("_nt"))
    val keepers = tk.groupBy(col("_gh"))
      .agg(min(col("doc_id")).as("_keeper"))
    tk.join(keepers, Seq("_gh"))
      .select(col("source"), col("_nt"),
        (col("doc_id") === col("_keeper")).as("_kept"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("_kept"), 1L).otherwise(0L)).as("n_docs_kept"),
        sum(col("_nt")).as("n_tokens"),
        sum(when(col("_kept"), col("_nt")).otherwise(0L))
          .as("n_tokens_kept"))
      .select(col("source"), col("n_docs"), col("n_docs_kept"),
        col("n_tokens"), col("n_tokens_kept"),
        expr("CAST(CAST(n_tokens - n_tokens_kept AS DECIMAL(38,0)) " +
          "* 1000000000 div n_tokens AS BIGINT)").as("saved_share_e9"))
      .withColumn("saved_share",
        col("saved_share_e9").cast("double") / lit(1e9))
  }

  /** Calibration curve (t70): the t67 fixture (en-marker score vs
    * the true `lang = 'en'` label, stopwords injected into half the
    * English docs) read as a reliability diagram — equal-width score
    * bins, per-bin positive share. AUC says the score ranks; this
    * says whether its magnitude is trustworthy as a threshold.
    */
  def calibrationCurve(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir).withColumn("text",
      when(col("lang") === "en" && col("doc_id") % 2 === 0,
        concat(col("text"), lit(" the of and is to")))
        .otherwise(col("text")))
    val scored = docs.select((col("lang") === "en").as("is_en"),
      TextAnalysis.langScores(TextOps.tokens(col("text")))
        .toMap.apply("en").cast("long").as("en_score"))
    Experiment.calibrationCurve(scored, "en_score", "is_en")
  }

  /** Exact KS drift statistic (v8): purchase vs click value
    * distributions — the bin-free complement of x16's PSI.
    */
  /** Missingness co-occurrence audit (v10):
    * [[Validation.missingnessAudit]] over the events stream with an
    * injected broken-client pattern — rows whose user_id ≡ 0 (mod 13)
    * lose user_id AND value together (correlated), rows whose
    * event_id ≡ 0 (mod 17) lose value alone (background rate), ts
    * never nulls (the undefined-verdict path). The audit reads the
    * correlation: P(value null | user null) = 1e9 vs a small
    * marginal.
    */
  def missingnessAudit(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir).select(col("event_id"),
      when(col("user_id") % 13 === 0, lit(null).cast("long"))
        .otherwise(col("user_id")).as("user_id"),
      when(col("user_id") % 13 === 0 || col("event_id") % 17 === 0,
        lit(null).cast("double")).otherwise(col("value")).as("value"),
      col("ts"))
    Validation.missingnessAudit(ev, Seq(
      ("user_id", "value"), ("value", "user_id"), ("user_id", "ts")))
  }

  def ksDrift(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    Experiment.ksDrift(ev.filter(col("event_type") === "purchase"),
      ev.filter(col("event_type") === "click"), "value")
  }

  /** PMI collocations (t66): top-100 count≥5 bigrams by pointwise
    * mutual information — the phrase-mining readout.
    */
  def pmiCollocations(spark: SparkSession, sfDir: String): DataFrame = {
    TextAnalysis.pmiCollocations(spread(Tables.documents(spark, sfDir)))
  }

  /** TF-IDF top terms (t73): [[TextAnalysis.tfidfTopTerms]] — per-doc
    * top-5 keywords by tf·ln(N/df), the write-time keyword artifact
    * (t29's BM25 statistics pointed the other way).
    */
  def tfidfTopTerms(spark: SparkSession, sfDir: String): DataFrame = {
    TextAnalysis.tfidfTopTerms(spread(Tables.documents(spark, sfDir)),
      topK = 5)
  }

  /** Duplication-density profile (t68): per-doc unique vs common
    * 3-shingle shares with the novel/boilerplate_heavy/mixed verdict.
    */
  def dupDensity(spark: SparkSession, sfDir: String): DataFrame = {
    TextAnalysis.dupDensity(spread(Tables.documents(spark, sfDir)))
  }

  /** Count-Min-sketch heavy hitters (t27). */
  def cmsHeavyHitters(spark: SparkSession, sfDir: String): DataFrame = {
    TextAnalysis.cmsHeavyHitters(
      spread(Tables.documents(spark, sfDir)))
  }

  /** Segment-level dedup (t28) over a corpus with injected chrome:
    * every even doc is prepended an 8-token site header (exactly one
    * segment wide, so the original content stays segment-aligned — the
    * same deterministic-injection device as t19, because the organic
    * corpus has no repeated 8-token runs). The header segment lands in
    * half the corpus, far above the 3-doc cap, and is removed from
    * every even doc; organic segments survive untouched.
    */
  def segmentDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val withHdr = spread(docs.select(col("doc_id"),
      when(col("doc_id") % 2 === 0,
        concat(lit("nav home about contact privacy terms login search "),
          col("text")))
        .otherwise(col("text")).as("text")))
    TextAnalysis.segmentDedup(withHdr)
  }

  /** Sliding-span exact-substring dedup (t77) over a corpus with an
    * injected tail promo: every third doc gets the same 12-token promo
    * sentence APPENDED, so it lands at a different token offset in
    * every doc (doc lengths differ) — exactly the unaligned recurrence
    * t28's fixed segment grid cannot catch. The 12-token run opens 5
    * overlapping 8-token windows per doc, which the island merge
    * collapses to one removed span; organic unique text survives.
    */
  def spanDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val promo = TextAnalysis.SpanPromoText
    val docs = Tables.documents(spark, sfDir)
    val withPromo = spread(docs.select(col("doc_id"),
      when(col("doc_id") % 3 === 0,
        concat_ws(" ", col("text"), lit(promo)))
        .otherwise(col("text")).as("text")))
    TextAnalysis.spanDedup(withPromo)
  }

  /** Near-duplicate span dedup (t79) over a corpus with a PER-DOC
    * TWEAKED tail promo: every third doc gets the shared 12-token
    * promo appended with token 6 replaced by a doc-unique tracking
    * token (`trk<doc_id>`) — the syndicated-with-per-feed-tweaks shape.
    * No two injected copies are verbatim-equal, so t77's exact-window
    * kernel removes NOTHING of the promo; t79's leave-one-out
    * fingerprints collide slot-for-slot across copies and remove the
    * full 12-token run (tracking token included) from every injected
    * doc. The head/tail fragments are derived from the SAME shared
    * promo constant as t77's fixture, so the fixtures cannot drift.
    */
  def nearDupSpans(spark: SparkSession, sfDir: String): DataFrame = {
    val head = TextAnalysis.SpanPromoHead
    val tail = TextAnalysis.SpanPromoTail
    val docs = Tables.documents(spark, sfDir)
    val withPromo = spread(docs.select(col("doc_id"),
      when(col("doc_id") % 3 === 0,
        concat_ws(" ", col("text"), lit(head),
          concat(lit("trk"), col("doc_id").cast("string")), lit(tail)))
        .otherwise(col("text")).as("text")))
    TextAnalysis.nearDupSpanDedup(withPromo)
  }

  /** End-to-end curation composite (pipeline_curation): the chain a
    * real training-data pipeline runs, wired tier-to-tier instead of
    * oracle-gated in isolation — corpus with near-dup copies
    * ([[nearDupCorpus]]) and syndicated chrome (the t77 promo on every
    * third doc) → t77 span dedup strips the chrome →
    * d5 MinHash→LSH→verify→CC resolves near-dup clusters over the
    * CLEANED text → d14 splits keyed on the cluster representative →
    * t22 orders the train-split keepers into epoch shards. One row per
    * (epoch, surviving train doc) with its shard, position, and
    * cluster provenance.
    *
    * Memo discipline under composition: the span-cleaned corpus is
    * pinned ONCE ([[graft.std.Materialize.once]]) before fan-out —
    * the cluster chain consumes it twice (shingles + the component
    * seed) and the split/order tail reads the cluster frame (riding
    * the pinned CC labels), so the final plan contains NO second
    * span-window explode and NO second MinHash chain (asserted in
    * `CurationPipelineSpec`).
    */
  def curationTrainPipeline(spark: SparkSession,
                           sfDir: String): DataFrame = {
    curationTrainPipelineFrom(nearDupCorpus(Tables.documents(spark, sfDir)))
  }

  /** The composite with the NEAR-DUP span policy (pipeline_curation_
    * neardup): same chain, but the chrome fixture is t79's — every
    * third doc gets the shared promo with a per-doc tracking token
    * substituted at position [[TextAnalysis.SpanPromoTweakPos]], so no
    * two injected copies are verbatim-equal — and the span pass is
    * [[TextAnalysis.nearDupSpanDedup]]. This closes the r18 gap the
    * t79 operator itself exposed: the flagship pipeline ran the EXACT
    * span pass only, so per-copy tweaked chrome (syndication with
    * per-feed tracking tokens) sailed through t77's verbatim matching
    * and reached clustering/training; under the near-dup policy the
    * full tweaked run — tracking token included — is stripped before
    * any downstream tier sees it (end-to-end fixture asserted in
    * `CurationPipelineSpec`: exact mode keeps the chrome, near-dup
    * mode removes it). t80's CDC pass is the documented budget
    * fallback when t79's L× fingerprint volume exceeds budget — the
    * tier choice is a one-argument policy here, priced in the README
    * dedup-tier table.
    */
  def curationTrainPipelineNearDup(spark: SparkSession,
                                   sfDir: String): DataFrame = {
    curationTrainPipelineFrom(
      nearDupCorpus(Tables.documents(spark, sfDir)),
      chrome = "tweaked", span = "neardup")
  }

  /** The composite with the CDC/budget span policy (pipeline_curation_
    * cdc): t80's content-defined segment pass over the doubled-promo
    * chrome (whole segments land inside the 24-token run and recur
    * corpus-wide; the partial chunks at its boundaries stay — the
    * documented CDC granularity trade). This is the tier the README's
    * selection table prescribes when t77's per-offset fingerprint
    * volume exceeds budget: ~1/avgSegTokens the hashes, alignment-free,
    * flagged positions provably ⊆ t77's.
    */
  def curationTrainPipelineCdc(spark: SparkSession,
                               sfDir: String): DataFrame = {
    curationTrainPipelineFrom(
      nearDupCorpus(Tables.documents(spark, sfDir)),
      chrome = "promo2", span = "cdc")
  }

  /** The composite over a caller-provided (doc_id, text) corpus — the
    * query fixtures above feed the injected near-dup corpus; the scale
    * probe feeds replicated copies. `chrome` picks the injected
    * fixture (exact promo / doubled promo / t79's per-doc tweaked
    * form); `span` picks the dedup tier — "exact" (t77), "neardup"
    * (t79's 1-mismatch leave-one-out windows), or "cdc" (t80's
    * content-defined segments, the budget tier of the README's
    * selection table). The knobs are independent so the spec can run
    * one fixture under several passes and pin the policy differences
    * end-to-end.
    */
  def curationTrainPipelineFrom(raw: DataFrame,
                                chrome: String = "promo",
                                span: String = "exact"): DataFrame = {
    val cleaned = graft.std.Materialize.once(
      curationCleanedCorpus(raw, chrome, span))
    // drop docs the span pass emptied BEFORE clustering: t77 keeps
    // them for accounting (the every-doc-survives contract), but a
    // cleaned-empty doc carries zero training signal — and at scale
    // the empties are a DEGENERATE LSH BUCKET: they all share the
    // empty whole-text shingle, so n empties emit n(n-1)/2 candidate
    // pairs from one band key (the 10x composite probe measured 26.6M
    // candidates from ~3.6k empties before this filter — quadratic in
    // corpus size; linear after)
    val clusters = clustersOf(cleaned.filter(col("text") =!= ""))
    val split = Dedup.leakageSafeSplit(clusters)
    val trainDocs = split.filter(col("split") === "train")
      .join(clusters.filter(col("is_keeper")).select("doc_id"),
        Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("cluster_rep"))
    TextAnalysis.trainOrder(trainDocs)
      .join(trainDocs, Seq("doc_id"))
      .select(col("epoch"), col("doc_id"), col("shard"),
        col("shard_pos"), col("cluster_rep"))
  }

  /** The composite's span tier in isolation: chrome injection + span
    * pass over a (doc_id, text) corpus, returning the cleaned
    * (doc_id, text) frame the cluster tier consumes. Public so the
    * policy spec can assert chrome survival per mode at the tier
    * where chrome lives (the pipeline's output carries no text).
    */
  def curationCleanedCorpus(raw: DataFrame, chrome: String,
                            span: String): DataFrame = {
    val injected = curationChromeInjected(raw, chrome)
    val spanPass = span match {
      case "exact"   => TextAnalysis.spanDedup(injected)
      case "neardup" => TextAnalysis.nearDupSpanDedup(injected)
      case "cdc"     => TextAnalysis.cdcSegmentDedup(injected)
      case other => throw new IllegalArgumentException(
        s"unknown span policy: $other")
    }
    spanPass.select(col("doc_id"), col("clean_text").as("text"))
  }

  /** The composite's chrome-injection stage: every third doc gets the
    * promo appended — `"promo"` = the exact shared sentence, `"promo2"`
    * = the sentence twice (t80's 24-token form, long enough for whole
    * content-defined segments to land inside), `"tweaked"` = t79's
    * per-doc tracking-token form. Factored so the increment path
    * injects the SAME chrome rule over its own corpus (a full rebuild
    * applies one rule to the union; the incremental path must match it
    * doc-for-doc).
    */
  private def curationChromeInjected(raw: DataFrame,
                                     chrome: String): DataFrame = {
    val tail = chrome match {
      case "promo" => concat_ws(" ", col("text"),
        lit(TextAnalysis.SpanPromoText))
      case "promo2" => concat_ws(" ", col("text"),
        lit(TextAnalysis.SpanPromoText), lit(TextAnalysis.SpanPromoText))
      case "tweaked" => concat_ws(" ", col("text"),
        lit(TextAnalysis.SpanPromoHead),
        concat(lit("trk"), col("doc_id").cast("string")),
        lit(TextAnalysis.SpanPromoTail))
      case other => throw new IllegalArgumentException(
        s"unknown chrome form: $other")
    }
    spread(raw.select(col("doc_id"),
      when(col("doc_id") % 3 === 0, tail)
        .otherwise(col("text")).as("text")))
  }

  /** The v2 crawl increment (pipeline_curation_increment's fixture):
    * three deterministic families over the base documents, ids all
    * ≥ 600000 (above every standing id, so component minima — cluster
    * reps — are never displaced by increment membership, the property
    * the full-rebuild equivalence proof leans on):
    *
    *  - CHANGED pages (`+600002`, every `d % 6 == 1`): every 7th token
    *    dropped — surviving runs cap at 6 < 8 tokens, so a changed
    *    page STRUCTURALLY cannot put a new ≥8-token verbatim run into
    *    the standing span counts, and the standing corpus's frozen
    *    cleaning is exact, not approximate. (The denser every-8th
    *    lattice was measured and REJECTED: its 7-token runs plus this
    *    corpus's small vocabulary produced accidental shared windows —
    *    4 standing rows changed under the full rebuild — exactly the
    *    freeze violation the fixture must exclude.) Distinct-3-shingle
    *    Jaccard vs the source lands just around the 0.5 verify bar —
    *    a handful of changed pages attach (and are dropped as dups in
    *    BOTH paths, the dedup outcome), the rest become fresh
    *    singletons; the attach lane's firing is pinned separately in
    *    the spec. Source docs are chrome-FREE in standing (d ≡ 1 mod
    *    3) while the increment ids are chrome-ELIGIBLE (+600002 ≡ 2
    *    mod 3 makes id ≡ 0 mod 3), so every changed page exercises
    *    the cross-corpus span path: its chrome is removed purely by
    *    the STANDING index counts.
    *  - FRESH-looking pages (`+800000`, every `d % 13 == 0`): token
    *    order reversed — shares no forward 3-shingle or 8-window with
    *    anything, so these form new clusters (except degenerate ≤
    *    2-token docs whose whole-text shingle survives reversal and
    *    attaches — kept deliberately: it exercises the short-doc
    *    attach lane).
    *  - INC-INTERNAL near-dups (`+850000`/`+860000`, every
    *    `d % 19 == 0`): a `v2`-token-prefixed copy of the doc and its
    *    every-13th-token-dropped mutation — similar to each OTHER but
    *    (prefixed) alien to standing, so the increment's own span
    *    counts and self-LSH lanes fire without touching standing text.
    */
  /** The v2 fixture's construction constants, shared with the DuckDB
    * twin so the two sides cannot drift (the t21/t26 twin-drift class;
    * offsets keep every increment id above [[IncIdFloor]] > any
    * standing id — the rep-minimum property the equivalence proof
    * leans on).
    */
  val IncIdFloor: Long = 600000L
  val IncChangedOffset: Long = 600002L
  val IncChangedMod: Int = 6
  val IncChangedDrop: Int = 7
  val IncFreshOffset: Long = 800000L
  val IncFreshMod: Int = 13
  val IncPairAOffset: Long = 850000L
  val IncPairBOffset: Long = 860000L
  val IncPairMod: Int = 19
  val IncPairDrop: Int = 13
  val IncPairPrefix: String = "v2"

  def curationIncrementCorpus(docs: DataFrame): DataFrame = {
    val base = docs.select(col("doc_id"),
      TextOps.normText(col("text")).as("text"))
    val toks = split(col("text"), " ")
    val pref = transform(toks, t => concat(lit(IncPairPrefix), t))
    base.filter(col("doc_id") % IncChangedMod === 1).select(
      (col("doc_id") + IncChangedOffset).as("doc_id"),
      concat_ws(" ", filter(toks,
        (t, i) => (i + 1) % IncChangedDrop =!= 0)).as("text"))
    .unionByName(base.filter(col("doc_id") % IncFreshMod === 0).select(
      (col("doc_id") + IncFreshOffset).as("doc_id"),
      concat_ws(" ", reverse(toks)).as("text")))
    .unionByName(base.filter(col("doc_id") % IncPairMod === 0).select(
      (col("doc_id") + IncPairAOffset).as("doc_id"),
      concat_ws(" ", pref).as("text")))
    .unionByName(base.filter(col("doc_id") % IncPairMod === 0).select(
      (col("doc_id") + IncPairBOffset).as("doc_id"),
      concat_ws(" ", filter(pref,
        (t, i) => (i + 1) % IncPairDrop =!= 0)).as("text")))
  }

  /** Incremental curation (pipeline_curation_increment): the v2 crawl
    * increment flows through the SAME four tiers as pipeline_curation
    * — span dedup → cluster resolution → leakage-safe split → train
    * order — but each tier consumes the standing corpus's materialized
    * state instead of recomputing it:
    *
    *  1. Span pass: [[TextAnalysis.spanDedupIncrement]] against the
    *     standing [[TextAnalysis.spanIndex]] — total window counts
    *     equal the full rebuild's, so increment cleaning is EXACT.
    *  2. Cluster attach: increment shingles/signatures self-join for
    *     inc-internal pairs plus the d9 cross-LSH against the standing
    *     band keys; a verified cross edge rewires to the standing
    *     cluster's REP node, and connected components over {inc docs}
    *     ∪ {touched reps} reproduces the full rebuild's reps for
    *     increment rows (standing ids < all increment ids, so minima
    *     never move; an inc doc bridging two standing clusters takes
    *     min(rep1, rep2) — exactly the merged component's rep).
    *  3. Split: the same rep-hash lane — a doc joining an existing
    *     cluster INHERITS the cluster's split by construction (d14's
    *     growth contract), new clusters draw their own lane.
    *  4. Train order: the t22 hash order over increment train keepers,
    *     APPENDED after the standing corpus's per-(epoch, shard)
    *     positions — standing shard files already shipped to training
    *     and are immutable, so the increment extends them (full
    *     rebuild would renumber everything it already trained on; the
    *     spec pins that the inc docs' (epoch, shard) and relative
    *     order still equal the full rebuild's).
    *
    * Equivalence to the full rebuild on the fixture (spec-proven at
    * sf0.001): increment rows match the rebuild in cleaned text,
    * cluster_rep, split, epoch, shard, and within-shard order;
    * standing rows are bit-identical frozen (the fixture introduces no
    * new verbatim ≥8-run into standing text). Cost shape: O(increment)
    * explodes/aggregations plus index lookups; zero standing-tier
    * rebuilds (memo-counter-asserted).
    */
  def curationTrainPipelineIncrement(spark: SparkSession,
                                     sfDir: String): DataFrame = {
    curationTrainPipelineIncrementFrom(spark, sfDir,
      nearDupCorpus(Tables.documents(spark, sfDir)),
      curationIncrementCorpus(Tables.documents(spark, sfDir)))
  }

  /** The incremental composite under the NEAR-DUP span policy
    * (pipeline_curation_increment_neardup): t79's tweaked chrome (a
    * per-doc tracking token inside every injected promo) and the
    * leave-one-out span tier, incrementally — the standing state is
    * [[TextAnalysis.nearDupSpanIndex]] plus the neardup-cleaned
    * corpus's shingle/signature/cluster tiers, and the v2 increment's
    * chrome is stripped purely by the standing index's counts (no two
    * copies are verbatim-equal, so the exact tier's increment — r19
    * verdict gap #1 — could not run this user's chosen policy at all).
    */
  def curationTrainPipelineIncrementNearDup(spark: SparkSession,
                                            sfDir: String): DataFrame = {
    curationTrainPipelineIncrementFrom(spark, sfDir,
      nearDupCorpus(Tables.documents(spark, sfDir)),
      curationIncrementCorpus(Tables.documents(spark, sfDir)),
      chrome = "tweaked", span = "neardup")
  }

  /** The incremental composite under the CDC/budget span policy
    * (pipeline_curation_increment_cdc): t80's doubled-promo chrome and
    * content-defined segment tier against a standing
    * [[TextAnalysis.cdcSegmentIndex]] — the daily-crawl form of the
    * tier a 100 TB run picks when t77's per-offset fingerprint volume
    * exceeds budget (~1/avgSegTokens the standing index rows).
    */
  def curationTrainPipelineIncrementCdc(spark: SparkSession,
                                        sfDir: String): DataFrame = {
    curationTrainPipelineIncrementFrom(spark, sfDir,
      nearDupCorpus(Tables.documents(spark, sfDir)),
      curationIncrementCorpus(Tables.documents(spark, sfDir)),
      chrome = "promo2", span = "cdc")
  }

  /** The incremental composite over caller-provided standing/increment
    * corpora, standing memos keyed by (`memoTag`, span policy) — the
    * query fixtures bind the sfDir corpora; the increment probe binds
    * replicated standing corpora against a FIXED increment to measure
    * the O(increment) claim directly. `chrome`/`span` are the SAME
    * policy knobs as [[curationTrainPipelineFrom]] (r19 verdict #1:
    * the increment path hard-wired the exact tier, so the user whose
    * chrome only t79 strips could not run their policy incrementally);
    * the standing index per tier is [[TextAnalysis.spanIndex]] /
    * [[TextAnalysis.nearDupSpanIndex]] / [[TextAnalysis.cdcSegmentIndex]]
    * and the increment span pass the matching `*Increment` kernel.
    * Freeze semantics per tier: exact and cdc standing corpora are
    * STRUCTURALLY frozen under the v2 fixture (its deletion lattices
    * cannot add a verbatim ≥L-run or a whole ≥L-token content-defined
    * segment to standing counts); the 1-mismatch tier's freeze is
    * CONTRACTUAL — any increment window one substitution from a
    * standing window is new near-miss evidence by the tier's own
    * definition, so a neardup REBUILD legitimately re-cleans standing
    * docs while production ships the memoized standing artifacts
    * unchanged (divergence quantified, and increment-row equivalence
    * to the rebuild asserted anyway, in `CurationIncrementSpec`).
    */
  def curationTrainPipelineIncrementFrom(spark: SparkSession,
                                         memoTag: String,
                                         standingRaw: DataFrame,
                                         incRaw: DataFrame,
                                         chrome: String = "promo",
                                         span: String = "exact"): DataFrame =
    curationIncrementRun(
      curationStandingState(spark, memoTag, standingRaw, chrome, span),
      incRaw, chrome, span)

  /** The materialized standing state a daily curation pipeline keeps
    * between crawls — every frame a [[graft.std.SessionMemo]] pin:
    * cleaned corpus, span-fingerprint index, shingles, MinHash
    * signatures, LSH band keys, cluster resolution, per-(epoch, shard)
    * train fill. Built once per (session, memoTag, policy); every
    * increment run consumes the pins, and the memo counters make a
    * rebuild machine-visible in the bench record.
    *
    * The fingerprint index, the shingles and the band keys are pinned
    * hash-partitioned on the key every warm increment equi-joins them
    * on (`span_h`, `doc_id`, (`band`, `key`)): an unpartitioned pin
    * re-shuffled the whole standing side (O(standing) rows) per crawl,
    * while a partitioned one leaves the lookup join exchange-free on
    * the standing side, so a warm crawl moves O(increment) rows only
    * (the at-scale form is the same index hash-bucketed on disk).
    */
  private case class CurationState(clean: DataFrame, spanIdx: DataFrame,
                                   shingles: DataFrame, sigs: DataFrame,
                                   bandKeys: DataFrame, clusters: DataFrame,
                                   fill: DataFrame)

  /** Per-policy memo tag: each span tier cleans the standing corpus
    * differently, so its materialized state is a distinct artifact
    * (exact keeps the unsuffixed tags for bench-record continuity).
    *
    * The CHROME knob is part of the key too: chrome and
    * span are independent public parameters of
    * [[curationTrainPipelineIncrementFrom]], and two calls sharing a
    * memoTag+span but differing in chrome would otherwise silently
    * reuse the first call's standing corpus/index. The three canonical
    * pairings the bench queries use keep their historical tags (memo
    * telemetry continuity); any other combination gets a
    * chrome-suffixed tag of its own.
    */
  private val canonicalChrome =
    Map("exact" -> "promo", "neardup" -> "tweaked", "cdc" -> "promo2")

  private def polTag(span: String, chrome: String, t: String): String = {
    val base = if (span == "exact") t else s"${span}_$t"
    if (canonicalChrome.get(span).contains(chrome)) base
    else s"${base}_c_$chrome"
  }

  /** [[graft.std.SessionMemo]] tag of one standing-state artifact. */
  private def standingTag(memoTag: String, span: String, chrome: String,
                          t: String): String =
    s"curation_${polTag(span, chrome, t)}|$memoTag"

  /** The policy's standing fingerprint index over an injected corpus. */
  private def curationIndexOf(injected: DataFrame, span: String): DataFrame =
    span match {
      case "exact"   => TextAnalysis.spanIndex(injected)
      case "neardup" => TextAnalysis.nearDupSpanIndex(injected)
      case "cdc"     => TextAnalysis.cdcSegmentIndex(injected)
      case other => throw new IllegalArgumentException(
        s"unknown span policy: $other")
    }

  /** Build (or fetch memoized) standing state from a raw corpus —
    * the day-0 cold build, O(corpus), paid once per
    * (session, memoTag, policy).
    */
  private def curationStandingState(spark: SparkSession, memoTag: String,
                                    standingRaw: DataFrame, chrome: String,
                                    span: String): CurationState = {
    def memo(t: String, keys: String*)(b: => DataFrame) =
      graft.std.SessionMemo.getOrBuild(spark,
        standingTag(memoTag, span, chrome, t), keys.map(col): _*)(b)
    val standingInjected = curationChromeInjected(standingRaw, chrome)
    val standingClean = memo("clean")(
      curationCleanedCorpus(standingRaw, chrome, span)
        .filter(col("text") =!= ""))
    val standingSpanIdx =
      memo("spanidx", "span_h")(curationIndexOf(standingInjected, span))
    // every warm crawl's verify join ([[Dedup.verifiedCrossNearDups]])
    // attaches the standing shingle arrays — the widest standing rows —
    // by doc id
    val standingShingles =
      memo("shingles", "doc_id")(Dedup.shingleFrame(standingClean))
    val standingSigs =
      memo("sigs")(Dedup.minHashSignatures(standingShingles, 8))
    // the standing LSH band keys — what the d9 discipline says a
    // production pipeline keeps materialized between increments, so
    // the warm cross-LSH join shuffles only the increment's keys
    val standingBandKeys = memo("bandkeys", "band", "key")(
      Dedup.bandKeysOf(standingSigs, 8, 4))
    val clusters = memo("clusters")(
      clustersOf(standingClean, standingShingles, standingSigs))
    // standing per-(epoch, shard) fill — 16 rows, itself part of the
    // materialized standing state (recomputing it would re-window the
    // whole standing train order per crawl: an O(standing) cost the
    // probe caught riding every warm run), broadcast into the append
    val stdMax = memo("stdfill")(
      TextAnalysis.trainOrder(curationTrainKeepers(clusters))
        .groupBy(col("epoch"), col("shard"))
        .agg(count(lit(1)).as("_npos")))
    CurationState(standingClean, standingSpanIdx, standingShingles,
      standingSigs, standingBandKeys, clusters, stdMax)
  }

  private def curationTrainKeepers(cl: DataFrame): DataFrame =
    Dedup.leakageSafeSplit(cl).filter(col("split") === "train")
      .join(cl.filter(col("is_keeper")).select("doc_id"),
        Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("cluster_rep"))

  /** The increment's span-clean + cluster-attach stages against a
    * standing state: (cleaned increment pin, increment cluster frame).
    * Factored from the one-day run so the state ADVANCE can replay
    * day 1's tiers at O(increment) when building day 2's state.
    */
  private def curationIncrementClusters(state: CurationState,
                                        incRaw: DataFrame, chrome: String,
                                        span: String)
      : (DataFrame, DataFrame) = {
    val incInjected = curationChromeInjected(incRaw, chrome)
    val incSpanPass = span match {
      case "exact" =>
        TextAnalysis.spanDedupIncrement(incInjected, state.spanIdx)
      case "neardup" =>
        TextAnalysis.nearDupSpanDedupIncrement(incInjected, state.spanIdx)
      case "cdc" =>
        TextAnalysis.cdcSegmentDedupIncrement(incInjected, state.spanIdx)
      // the sibling matches (curationIndexOf, curationCleanedCorpus)
      // throw IllegalArgumentException on an unknown policy; this one
      // must too — the standing builders are by-name, so a memo hit
      // would otherwise skip their validation and surface a bare
      // MatchError here (r20 advice)
      case other => throw new IllegalArgumentException(
        s"unknown span policy: $other")
    }
    val cleanedInc = graft.std.Materialize.once(
      incSpanPass
        .select(col("doc_id"), col("clean_text").as("text"))
        .filter(col("text") =!= ""))
    val shB = graft.std.Materialize.once(Dedup.shingleFrame(cleanedInc))
    val sigB = graft.std.Materialize.once(Dedup.minHashSignatures(shB, 8))
    val crossEdges = Dedup.verifiedCrossNearDups(
        Dedup.lshCrossCandidatesKeys(sigB, state.bandKeys, 8, 4),
        shB, state.shingles, 0.5)
      .join(state.clusters.select(col("doc_id").as("id_b"),
        col("cluster_rep")), Seq("id_b"))
      .select(col("id_a"), col("cluster_rep").as("id_b")).distinct()
    val selfEdges = Dedup.verifiedNearDups(
        Dedup.lshCandidatePairs(sigB, 8, 4), shB, 0.5)
      .select("id_a", "id_b")
    val nodes = cleanedInc.select("doc_id")
      .unionByName(crossEdges.select(col("id_b").as("doc_id"))).distinct()
    val cc = Dedup.connectedComponents(nodes,
      selfEdges.unionByName(crossEdges))
    val clustersI = cc
      .join(cleanedInc.select("doc_id"), Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("cluster_rep"),
        (col("doc_id") === col("cluster_rep")).as("is_keeper"))
    (cleanedInc, clustersI)
  }

  /** One crawl day against a standing state: span-clean the increment
    * via the standing index, attach/resolve clusters, split on the rep
    * lane, append the train order after the standing fill.
    */
  private def curationIncrementRun(state: CurationState, incRaw: DataFrame,
                                   chrome: String, span: String): DataFrame = {
    val (_, clustersI) =
      curationIncrementClusters(state, incRaw, chrome, span)
    val trainDocsI = curationTrainKeepers(clustersI)
    TextAnalysis.trainOrder(trainDocsI)
      .join(trainDocsI, Seq("doc_id"))
      .join(broadcast(state.fill), Seq("epoch", "shard"), "left")
      .select(col("epoch"), col("doc_id"), col("shard"),
        (coalesce(col("_npos"), lit(0L)) + col("shard_pos"))
          .as("shard_pos"),
        col("cluster_rep"))
  }

  /** Advance the standing state by one SHIPPED crawl, every tier at
    * O(increment [+ index rows]) — never a rescan of standing text:
    *
    *  - cleaned corpus / shingles / signatures / clusters: the day's
    *    increment tiers ([[curationIncrementClusters]], O(increment)
    *    against the standing index/keys) UNIONED onto the standing
    *    checkpoints — per-doc frames over disjoint doc sets, so the
    *    union IS the incremental upsert;
    *  - fingerprint index: [[TextAnalysis.indexMerge]] — counts are
    *    additive over disjoint doc sets, one co-partitioned sum over
    *    index rows (bucket-local upsert at 100 TB);
    *  - train fill: standing fill + the day's appended per-(epoch,
    *    shard) counts (16-row arithmetic).
    *
    * The advanced clusters are the FROZEN standing resolution plus the
    * day's attach results — identical to a rebuild over standing ∪
    * increment exactly when the day's run changed no standing row
    * (the day-1 spec's freeze assertion, structural for the exact and
    * cdc tiers; the neardup tier's freeze is contractual, so its
    * advanced state is the thing production ships, not the thing a
    * rebuild would compute).
    */
  private def curationAdvancedState(spark: SparkSession, memoTag: String,
                                    st: CurationState, inc1Raw: DataFrame,
                                    chrome: String,
                                    span: String): CurationState = {
    def adv(t: String, keys: String*)(b: => DataFrame) =
      graft.std.SessionMemo.getOrBuild(spark,
        standingTag(memoTag, span, chrome, s"adv_$t"), keys.map(col): _*)(b)
    // day 1's increment tiers, shared lazily across the six builders —
    // on a memo hit no builder runs and none of this is computed
    lazy val (clean1, clusters1) =
      curationIncrementClusters(st, inc1Raw, chrome, span)
    lazy val sh1 = graft.std.Materialize.once(Dedup.shingleFrame(clean1))
    // day 1's signatures feed two advanced tiers (sigs, band keys) —
    // pin so the cold advance pays the MinHash explode once
    lazy val sig1 = graft.std.Materialize.once(
      Dedup.minHashSignatures(sh1, 8))
    val cleanA = adv("clean")(st.clean.unionByName(clean1))
    // the advanced index is the day-2 lookup join's standing side —
    // same span_h-partitioned pin as the day-0 index
    val idxA = adv("spanidx", "span_h")(
      TextAnalysis.indexMerge(st.spanIdx,
        curationIndexOf(curationChromeInjected(inc1Raw, chrome), span)))
    val shinglesA = adv("shingles", "doc_id")(st.shingles.unionByName(sh1))
    val sigsA = adv("sigs")(st.sigs.unionByName(sig1))
    // band keys advance by union (a per-row derivation of the sigs:
    // union distributes over it), keeping the (band, key) pin
    val bandKeysA = adv("bandkeys", "band", "key")(
      st.bandKeys.unionByName(Dedup.bandKeysOf(sig1, 8, 4)))
    val clustersA = adv("clusters")(st.clusters.unionByName(clusters1))
    val fillA = adv("stdfill")(
      st.fill.join(
        TextAnalysis.trainOrder(curationTrainKeepers(clusters1))
          .groupBy(col("epoch"), col("shard"))
          .agg(count(lit(1)).as("_n1")),
        Seq("epoch", "shard"), "full")
        .select(col("epoch"), col("shard"),
          (coalesce(col("_npos"), lit(0L)) + coalesce(col("_n1"), lit(0L)))
            .as("_npos")))
    CurationState(cleanA, idxA, shinglesA, sigsA, bandKeysA, clustersA,
      fillA)
  }

  /** Day-2 incremental curation (pipeline_curation_increment2): the v3
    * crawl against the standing state ADVANCED by the shipped v2 crawl
    * — the composability question a daily pipeline actually poses
    * (does the materialized state survive REPEATED application, or
    * does day 2 silently need the rebuild?), answered by running the
    * SAME one-day kernel ([[curationIncrementRun]]) against
    * [[curationAdvancedState]] and spec-proving day-2 rows ≡ a full
    * rebuild over standing ∪ v2 ∪ v3 (`CurationIncrementSpec`).
    */
  def curationTrainPipelineIncrement2(spark: SparkSession,
                                      sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    curationTrainPipelineIncrement2From(spark, sfDir, nearDupCorpus(docs),
      curationIncrementCorpus(docs), curationIncrementCorpusV3(docs))
  }

  /** Day-2 under the CDC/budget policy — the advance is policy-generic
    * (every tier above is per-policy state), and cdc's structural
    * freeze makes its day-2 rebuild equivalence as provable as exact's.
    */
  def curationTrainPipelineIncrement2Cdc(spark: SparkSession,
                                         sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    curationTrainPipelineIncrement2From(spark, sfDir, nearDupCorpus(docs),
      curationIncrementCorpus(docs), curationIncrementCorpusV3(docs),
      chrome = "promo2", span = "cdc")
  }

  /** Day-2 under the NEAR-DUP policy. The mechanics are identical (the
    * advance and the one-day kernel are policy-generic) and the oracle
    * gates the VALUES exactly — the two-layer twin replays the
    * incremental ALGORITHM, not a rebuild — but the rebuild-equivalence
    * CLAIM the exact/cdc day-2 specs prove does not exist for this
    * tier: its day-1 freeze is already contractual (near-miss evidence
    * re-cleans standing text under a rebuild by the tier's own
    * definition), so day 2 inherits the same contract. The spec pins
    * the tier-independent invariants instead: the advanced-fill append
    * formula and day-0/1 row immutability.
    */
  def curationTrainPipelineIncrement2NearDup(spark: SparkSession,
                                             sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    curationTrainPipelineIncrement2From(spark, sfDir, nearDupCorpus(docs),
      curationIncrementCorpus(docs), curationIncrementCorpusV3(docs),
      chrome = "tweaked", span = "neardup")
  }

  def curationTrainPipelineIncrement2From(spark: SparkSession,
                                          memoTag: String,
                                          standingRaw: DataFrame,
                                          inc1Raw: DataFrame,
                                          inc2Raw: DataFrame,
                                          chrome: String = "promo",
                                          span: String = "exact")
      : DataFrame = {
    val st0 = curationStandingState(spark, memoTag, standingRaw,
      chrome, span)
    val st1 = curationAdvancedState(spark, memoTag, st0, inc1Raw,
      chrome, span)
    curationIncrementRun(st1, inc2Raw, chrome, span)
  }

  /** The v3 (day-2) crawl fixture: the same three family shapes as the
    * v2 generator over DIFFERENT standing slices, ids all ≥
    * [[Inc2IdFloor]] > every v2 id (the rep-minimum property again),
    * plus the genuinely new day-2 shape — near-dups of DAY-1 content:
    *
    *  - CHANGED pages (every `d % 6 == 5` — a standing slice v2 never
    *    touched): every 7th token AND the last token substituted with
    *    a doc-unique marker (`c3<d>x<pos>`). SUBSTITUTION, not v2's
    *    deletion lattice, because day 2's freeze must be structural
    *    against TWO measured failure modes: (a) a deletion inside a
    *    repeated-token run is locally invisible ("stream stream
    *    stream" minus one still holds the source's verbatim windows —
    *    the rejected lattice form re-cleaned 20 day-0+1 docs), and
    *    (b) chrome-junction tails ([tail tokens + promo head]) collide
    *    with any chromed standing doc sharing the tail — v2's
    *    chrome-parity trick does not transfer, since d ≡ 2 mod 3
    *    makes the INJECTED near-copy 100000+d chrome-bearing (the
    *    rejected `d % 6 == 3` slice hit the same wall from the source
    *    side, 57 docs). Under position-keyed substitution both holes
    *    close by construction: any 8 consecutive positions span a
    *    multiple of 7, and the forced last-position substitution puts
    *    a unique token into every junction window, so NO v3 window is
    *    verbatim-equal to anything outside its own doc. 3-shingle
    *    Jaccard vs the source stays near the 0.5 bar (shingles inside
    *    the 6-token runs survive), keeping the attach lane alive.
    *  - V2-SHAPED pages (every `d % 13 == 0`): the v2 FRESH page's
    *    reversed text under the same substitution rule (marker
    *    `a3<d>x<pos>`) — ~4/7 shingle overlap with the DAY-1 APPENDED
    *    doc, enough to fire the cross-LSH bands against keys that
    *    exist only because the advance unioned day 1's in. Note the
    *    structural ceiling, measured then accepted: with shared runs
    *    capped at 7 tokens (the freeze constraint), distinct-3-shingle
    *    Jaccard tops out ≈ (5/8)/(11/8) ≈ 0.45 < the 0.5 verify bar —
    *    under the exact tier, VERIFIED near-dup attach to unique day-1
    *    text and a structural freeze are mutually exclusive, so this
    *    family proves candidate generation, not verification.
    *  - PAIR-ECHO pages (every `d % 19 == 0`, the v2 pair slice): the
    *    v2 pair-A text's first 12 tokens verbatim plus one doc-unique
    *    tail token (`e3<d>`). The prefix windows already occur TWICE
    *    within day 1 (pair A and pair B agree on their first 12
    *    tokens), so the echo's third occurrence changes no day-0+1
    *    flag (freeze-safe) — while for the ECHO those windows flag
    *    only because the MERGED index carries day-1 counts: a
    *    standing-only index reads occ 1 and keeps them. The family
    *    makes day 2's span tier provably DECISIVE on day-1 state
    *    (asserted in the spec by cleaning the v3 corpus against both
    *    indexes and pinning the difference to the echo docs).
    *  - FRESH + PAIR families (`% 17`, `% 23`): `v3`-token-prefixed —
    *    alien to standing AND to v2's `v2`-prefixed pairs.
    */
  val Inc2IdFloor: Long = 1600000L
  val Inc2ChangedOffset: Long = 1600000L
  val Inc2ChangedRem: Int = 5
  val Inc2AttachOffset: Long = 1800000L
  val Inc2FreshOffset: Long = 1900000L
  val Inc2FreshMod: Int = 17
  val Inc2PairAOffset: Long = 1950000L
  val Inc2PairBOffset: Long = 1970000L
  val Inc2PairMod: Int = 23
  val Inc2Prefix: String = "v3"
  val Inc2SubMark: String = "c3"
  val Inc2AttachMark: String = "a3"
  val Inc2EchoOffset: Long = 1850000L
  val Inc2EchoMark: String = "e3"
  val Inc2EchoLen: Int = 12

  def curationIncrementCorpusV3(docs: DataFrame): DataFrame = {
    // the base id rides a DISTINCT name: the marker expressions below
    // reference it next to a select-list alias also called doc_id, and
    // an unqualified col("doc_id") there resolves to the ALIAS in
    // Spark but to the base column in SQL — a measured twin drift
    // (sf0.01: markers read c3320xxxx vs c3160xxxx)
    // r22 (guide §1.2 per-task work): `sub7`'s lambda reads
    // `size(c)` per ELEMENT, and with `c` the raw `split(normText)`
    // expression the whole tokenize chain re-evaluated per token —
    // O(tokens²) per changed/attach doc, measured as the dominant CPU
    // of the warm v3 increment pass (the generator-barrier class
    // [[TextOps.attrBarrier]] documents). Tokens ride a Generate
    // barrier so the lambdas capture a plain array attribute.
    val base = TextOps.attrBarrier(
      docs.select(col("doc_id").as("_sid"),
        TextOps.normText(col("text")).as("text")),
      Seq("_sid"), "_toks", split(col("text"), " "))
    val toks = col("_toks")
    // family offsets are at least 20 000 apart (PairA vs PairB); a base
    // corpus with doc_id >= that gap would collide ids ACROSS families
    // and silently misattribute docs in the spec's range-classified
    // assertions (r20 advice) — raise per-row instead of paying a
    // separate validation pass (rows already stream through here)
    val minGap = Inc2PairBOffset - Inc2PairAOffset
    val idGuard = coalesce(
      assert_true(col("_sid") < minGap,
        lit(s"v3 fixture: base doc_id >= $minGap collides across " +
          "family offsets")).cast("long"), lit(0L))
    // the marker embeds the v3 doc's OWN (post-offset) id, explicitly
    def sub7(c: Column, id: Column, mark: String): Column = concat_ws(" ",
      transform(c, (t, i) => when(
        (i + 1) % IncChangedDrop === 0 || i + 1 === size(c),
        concat(lit(mark), id.cast("string"), lit("x"),
          (i + 1).cast("string"))).otherwise(t)))
    val pref = transform(toks, t => concat(lit(Inc2Prefix), t))
    base.filter(col("_sid") % IncChangedMod === Inc2ChangedRem).select(
      (col("_sid") + Inc2ChangedOffset + idGuard).as("doc_id"),
      sub7(toks, col("_sid") + Inc2ChangedOffset, Inc2SubMark).as("text"))
    .unionByName(base.filter(col("_sid") % IncFreshMod === 0).select(
      (col("_sid") + Inc2AttachOffset + idGuard).as("doc_id"),
      sub7(reverse(toks), col("_sid") + Inc2AttachOffset,
        Inc2AttachMark).as("text")))
    .unionByName(base.filter(col("_sid") % IncPairMod === 0).select(
      (col("_sid") + Inc2EchoOffset + idGuard).as("doc_id"),
      concat_ws(" ",
        concat(slice(transform(toks,
          t => concat(lit(IncPairPrefix), t)), 1, Inc2EchoLen),
          array(concat(lit(Inc2EchoMark),
            (col("_sid") + Inc2EchoOffset).cast("string")))))
        .as("text")))
    .unionByName(base.filter(col("_sid") % Inc2FreshMod === 0).select(
      (col("_sid") + Inc2FreshOffset + idGuard).as("doc_id"),
      concat_ws(" ", pref).as("text")))
    .unionByName(base.filter(col("_sid") % Inc2PairMod === 0).select(
      (col("_sid") + Inc2PairAOffset + idGuard).as("doc_id"),
      concat_ws(" ", pref).as("text")))
    .unionByName(base.filter(col("_sid") % Inc2PairMod === 0).select(
      (col("_sid") + Inc2PairBOffset + idGuard).as("doc_id"),
      concat_ws(" ", filter(pref,
        (t, i) => (i + 1) % IncPairDrop =!= 0)).as("text")))
  }

  /** Content-defined chunk dedup (t80) over a corpus with a 24-token
    * chrome (the shared promo appended TWICE) on every third doc —
    * long enough that whole content-defined segments land fully
    * inside the chrome and match across docs; the partial chunks at
    * the chrome's boundaries stay (the documented CDC granularity
    * trade vs t77's every-offset windows).
    */
  def cdcSegments(spark: SparkSession, sfDir: String): DataFrame = {
    val promo = TextAnalysis.SpanPromoText
    val docs = Tables.documents(spark, sfDir)
    val withChrome = spread(docs.select(col("doc_id"),
      when(col("doc_id") % 3 === 0,
        concat_ws(" ", col("text"), lit(promo), lit(promo)))
        .otherwise(col("text")).as("text")))
    TextAnalysis.cdcSegmentDedup(withChrome)
  }

  /** Per-source span-duplication pressure (t78):
    * [[TextAnalysis.sourceSpanPressure]] over a SOURCE-gated promo
    * injection — sources whose md5 leads below '8' get the 12-token
    * chrome appended (≈ half the feeds, deterministically in both
    * engines), so the rollup separates chrome-heavy feeds from clean
    * ones instead of smearing t77's doc_id-gated injection evenly.
    */
  def sourceSpanPressure(spark: SparkSession, sfDir: String): DataFrame = {
    val promo = TextAnalysis.SpanPromoText
    val docs = Tables.documents(spark, sfDir)
    val injected = spread(docs.select(col("doc_id"), col("source"),
      when(substring(md5(col("source")), 1, 1) < "8",
        concat_ws(" ", col("text"), lit(promo)))
        .otherwise(col("text")).as("text")))
    TextAnalysis.sourceSpanPressure(injected)
  }

  /** BM25 top-10 retrieval (t29) over four fixed probe queries drawn
    * from the corpus vocabulary — the dataset-search / eval-mining
    * surface. Query strings are literals so both dialects rank the
    * identical query set.
    */
  def bm25Search(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val qs = Seq(
      (1L, "spark join merge"),
      (2L, "window stream batch"),
      (3L, "customer order line"),
      (4L, "vector hash table scan")).toDF("query_id", "qtext")
    Search.bm25TopK(spread(Tables.documents(spark, sfDir)), qs)
  }

  /** Contrastive triplet mining (t65): [[Search.hardNegatives]] over
    * the t29 BM25 ranking — positive, 3 hard negatives from ranks
    * 2–4, one deterministic easy negative outside the retrieved set.
    */
  def hardNegatives(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val qs = Seq(
      (1L, "spark join merge"),
      (2L, "window stream batch"),
      (3L, "customer order line"),
      (4L, "vector hash table scan")).toDF("query_id", "qtext")
    val docs = spread(Tables.documents(spark, sfDir))
    Search.hardNegatives(Search.bm25TopK(docs, qs), docs)
  }

  /** Hybrid retrieval via reciprocal-rank fusion (t54): the t29 BM25
    * lexical top-10 fused with a dense cosine top-10 over the
    * embeddings table ([[Search.rrfFuse]]). The four probe queries
    * reuse t29's literal strings; their dense side uses `vec_id 1..4`
    * as the query embeddings (the fixture's `vec_id = doc_id`
    * alignment stands in for an encoder the container doesn't ship —
    * the fusion kernel is agnostic to where the vectors came from).
    */
  def hybridSearch(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val qs = Seq(
      (1L, "spark join merge"),
      (2L, "window stream batch"),
      (3L, "customer order line"),
      (4L, "vector hash table scan")).toDF("query_id", "qtext")
    val lex = Search.bm25TopK(spread(Tables.documents(spark, sfDir)), qs)
      .select("query_id", "doc_id", "rank")
    val vecs = Tables.embeddings(spark, sfDir)
    val dense = Similarity.bruteForceTopK(
        vecs.filter(col("vec_id").between(1, 4)), vecs, 10)
      .select(col("query_id"), col("neighbor_id").as("doc_id"),
        col("rank"))
    Search.rrfFuse(lex, dense)
  }

  /** Corpus-level duplicated spans (t55): [[TextAnalysis.duplicateSpans]]
    * over the corpus with two injections exercising both duplicate
    * classes — a shared 12-token footer on every 3rd doc (cross-doc
    * boilerplate) and each ≡2-mod-7 doc's own first 10 normalized
    * tokens re-appended (within-doc repeat). Natural 8-gram collisions
    * in the synthetic vocabulary are counted too, on both engines.
    */
  def duplicateSpans(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val footer =
      "all rights reserved contact us at example dot com for details"
    val t0 = when(col("doc_id") % 3 === 0,
      concat(col("text"), lit(" " + footer))).otherwise(col("text"))
    val t1 = when(col("doc_id") % 7 === 2,
      concat(t0, lit(" "),
        concat_ws(" ", slice(TextOps.tokens(t0), 1, 10)))).otherwise(t0)
    TextAnalysis.duplicateSpans(
      spread(docs.select(col("doc_id"), t1.as("text"))))
  }

  /** Temperature-based (α = 0.5) domain resampling plan (t26), the
    * target fraction the twin-shared [[TextAnalysis.TempTargetFrac]].
    */
  def temperatureResample(spark: SparkSession, sfDir: String): DataFrame = {
    TextAnalysis.temperatureResample(
      spread(Tables.documents(spark, sfDir)),
      TextAnalysis.TempTargetFrac)
  }

  /** Full cube (x8): revenue over every subset of {region, brand} —
    * the grouping-sets completion of x4's rollup hierarchy. One pass;
    * `grouping_id` disambiguates rolled-up NULLs from data NULLs.
    *
    * SNAPSHOT SEMANTICS: reads the session's memoized
    * [[graft.queries.Merged.cleanedShared]] frame — data as of its
    * first build per (session, sfDir).
    */
  def cubeSales(spark: SparkSession, sfDir: String): DataFrame = {
    graft.queries.Merged.cleanedShared(spark, sfDir)
      .cube(col("region_desc"), col("brand_desc"))
      .agg(round(sum("total_line_price"), 2).as("revenue"),
        grouping_id().cast("long").as("level_id"))
  }

  /** Set operations (x9): distinct click/purchase user populations
    * combined with INTERSECT / EXCEPT / UNION, reduced to one row of
    * counts. Each set op plans as a distinct-aggregate over a shuffle
    * on user_id; the four 1-row aggregates cross-join for free.
    */
  def setOpsUsers(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val clickers = ev.filter(col("event_type") === "click")
      .select("user_id").distinct()
    val purchasers = ev.filter(col("event_type") === "purchase")
      .select("user_id").distinct()
    val both = clickers.intersect(purchasers)
      .agg(count(lit(1)).as("n_both"))
    val clickOnly = clickers.except(purchasers)
      .agg(count(lit(1)).as("n_click_only"))
    val purchaseOnly = purchasers.except(clickers)
      .agg(count(lit(1)).as("n_purchase_only"))
    val any = clickers.union(purchasers).distinct()
      .agg(count(lit(1)).as("n_any"))
    both.crossJoin(clickOnly).crossJoin(purchaseOnly).crossJoin(any)
  }

  /** Top-3 trending event types per hour (w6). */
  def trendingByWindow(spark: SparkSession, sfDir: String): DataFrame = {
    StreamingOps.trendingByWindow(Tables.events(spark, sfDir))
  }

  // ---- multimodal ----

  /** Binary-payload media dedup (m3): every 4th media file re-uploaded
    * under a new id (+700000, SAME payload bytes) — grouped by content
    * digest like d1, but over binary, with the storage-reclaim bytes a
    * media curator reads off the report. Payloads never shuffle: the
    * group key is the 128-bit digest, byte sizes aggregate map-side.
    */
  def mediaDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val base = Media.synthCorpus(Tables.documents(spark, sfDir))
    val corpus = base.unionByName(
      base.filter(col("doc_id") % 4 === 0)
        .select((col("doc_id") + 700000).as("doc_id"),
          col("payload"), col("meta")))
    corpus.groupBy(md5(col("payload")).as("content_md5"))
      .agg(count(lit(1)).as("n_copies"),
        min(col("doc_id")).as("keeper"),
        sum(length(col("payload")).cast("long")).as("total_bytes"))
  }

  /** Chunk-level media dedup (m4): every 4th media file re-uploaded
    * with an appended tail (+700000 — new whole-file digest, so m3's
    * file-grain dedup reclaims NOTHING from it), chunked at 64 bytes
    * and reference-counted by chunk digest. The shared full prefix
    * chunks surface as `n_refs > 1` — the sub-file win.
    */
  def mediaChunkDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val base = Media.synthCorpus(Tables.documents(spark, sfDir))
    val corpus = base.select(col("doc_id"), col("payload")).unionByName(
      base.filter(col("doc_id") % 4 === 0)
        .select((col("doc_id") + 700000).as("doc_id"),
          concat(col("payload"),
            encode(lit(" v2 reupload tail"), "UTF-8")).as("payload")))
    Media.chunkDedup(spread(corpus), chunkBytes = 64)
  }

  /** Chunk-store savings (m6): [[Media.dedupSavings]] over the m4
    * refcount frame — the one-row capacity answer the m4 detail rows
    * exist to support.
    */
  def mediaDedupSavings(spark: SparkSession, sfDir: String): DataFrame = {
    Media.dedupSavings(mediaChunkDedup(spark, sfDir))
  }

  /** Media near-dup pairs (m5) over the m4 reupload corpus: every
    * (original, +tail-reupload) pair shares all original chunks and
    * surfaces with high Jaccard; unrelated files share none.
    */
  def mediaNearDups(spark: SparkSession, sfDir: String): DataFrame = {
    val base = Media.synthCorpus(Tables.documents(spark, sfDir))
    val corpus = base.select(col("doc_id"), col("payload")).unionByName(
      base.filter(col("doc_id") % 4 === 0)
        .select((col("doc_id") + 700000).as("doc_id"),
          concat(col("payload"),
            encode(lit(" v2 reupload tail"), "UTF-8")).as("payload")))
    Media.nearDupPairs(spread(corpus), chunkBytes = 64, threshold = 0.5)
  }

  def mediaMetadata(spark: SparkSession, sfDir: String): DataFrame = {
    Media.extractMeta(Media.synthCorpus(Tables.documents(spark, sfDir)))
      .withColumn("n_bytes", col("n_bytes").cast("long"))
  }

  /** Perceptual media near-dups (m7): every 7th document re-encoded as
    * its +700000 mirror with EVERY body byte shifted (the a→z…a
    * rotation — the brightness-shift analogue: whole-file and chunk
    * digests all change, cell-vs-global mean bits survive), then
    * [[Media.perceptualDups]] over the combined corpus. Re-encoded
    * pairs surface with `digest_match = false` — the rows the m3–m5
    * digest tier is blind to by construction.
    */
  def mediaPerceptualDups(spark: SparkSession, sfDir: String)
      : DataFrame = {
    Media.perceptualDups(rotatedMirrorCorpus(spark, sfDir))
  }

  /** Gradient-hash near-dups (m10): [[Media.gradientDups]] over the
    * m7 rotated-mirror corpus — the dHash bucket key next to m7's
    * aHash (run both, union the pairs: the keys collide differently).
    */
  def mediaGradientDups(spark: SparkSession, sfDir: String)
      : DataFrame = {
    Media.gradientDups(rotatedMirrorCorpus(spark, sfDir))
  }

  /** The m7/m10 fixture: every 7th document re-uploaded under a
    * +700000 id with its letters rotated one place (the
    * brightness-shift re-encode stand-in — every digest changes, no
    * mean-order bit does).
    */
  private def rotatedMirrorCorpus(spark: SparkSession,
                                  sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
    val mirrors = docs.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 700000).as("doc_id"),
        translate(coalesce(col("text"), lit("")),
          "abcdefghijklmnopqrstuvwxyz",
          "bcdefghijklmnopqrstuvwxyza").as("text"))
    Media.synthCorpus(spread(docs.unionByName(mirrors)))
  }

  /** Temporal media alignment (m8): every 7th document re-uploaded as
    * its +700000 mirror TRIMMED by one 32-byte frame AND re-encoded
    * (the m7 byte rotation) — whole-file digests, chunk sets, and the
    * whole-file perceptual signature all change, but the frame-local
    * signatures still align at frame offset −1.
    * [[Media.temporalAlignment]] over the combined corpus.
    */
  def mediaTemporalAlignment(spark: SparkSession, sfDir: String)
      : DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
    val mirrors = docs.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 700000).as("doc_id"),
        translate(
          substring(coalesce(col("text"), lit("")), 33, Int.MaxValue),
          "abcdefghijklmnopqrstuvwxyz",
          "bcdefghijklmnopqrstuvwxyza").as("text"))
    Media.temporalAlignment(
      Media.synthCorpus(spread(docs.unionByName(mirrors))))
  }

  /** Scene-cut detection (m9): [[Media.sceneCuts]] over the plain
    * synthetic media corpus — per-asset signature-transition
    * boundaries and scene numbering, the keyframe-sampling input.
    */
  def mediaSceneCuts(spark: SparkSession, sfDir: String): DataFrame = {
    // spread: the sf parquet is one row group and the per-frame hash
    // kernel is the expensive part — without it the whole corpus
    // hashes in ONE task (measured 29 s vs 2.5 s at sf0.1)
    Media.sceneCuts(
      Media.synthCorpus(spread(Tables.documents(spark, sfDir))))
  }

  /** Frame sampling rollup: per doc, how many 32-byte frames the payload
    * splits into and their reassembled size (proves the binary chunking
    * covers the payload exactly).
    */
  def mediaFrames(spark: SparkSession, sfDir: String): DataFrame = {
    val media = Media.synthCorpus(Tables.documents(spark, sfDir))
    Media.sampleFrames(media, chunkBytes = 32)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_frames"),
        sum(length(col("frame"))).as("total_bytes"))
  }

  // ---- stream windows (batch-equivalent forms; the streaming variants
  //      run the same functions after readStream — see StreamingSpec) ----

  def hourlyByType(spark: SparkSession, sfDir: String): DataFrame = {
    StreamingOps.hourlyByType(Tables.events(spark, sfDir))
  }

  def slidingHourly(spark: SparkSession, sfDir: String): DataFrame = {
    StreamingOps.slidingHourly(Tables.events(spark, sfDir))
  }

  def userSessions(spark: SparkSession, sfDir: String): DataFrame = {
    StreamingOps.userSessions(Tables.events(spark, sfDir))
  }

  /** Hourly session-concurrency curve (x32): sweep-line over the w3
    * session intervals — +1 at each session start, −1 at each end
    * (end-exclusive: at an equal instant the −1 sorts first), global
    * running sum via [[graft.std.PrefixSum.runningSumRange]], then
    * per-hour min/max of the curve. The load-profile query every
    * capacity planner runs, built WITHOUT the single-partition global
    * window it naively requires: the only global sort touches one row
    * per range bucket. Range buckets (not the earlier hour buckets)
    * are the skew guard — boundaries come from sampling the actual
    * boundary distribution, so a corpus whose sessions concentrate
    * into a few hours still splits into ~4×parallelism even slices
    * instead of degrading toward the one-partition window.
    */
  def concurrency(spark: SparkSession, sfDir: String): DataFrame = {
    val s = StreamingOps.userSessions(Tables.events(spark, sfDir))
    val bounds = s.select(col("session_start").as("ts"),
        lit(1L).as("delta"))
      .unionAll(s.select(col("session_end").as("ts"),
        lit(-1L).as("delta")))
    graft.std.PrefixSum.runningSumRange(bounds,
        Seq(col("ts"), col("delta")), col("delta"),
        spark.sparkContext.defaultParallelism * 4)
      .groupBy(date_trunc("hour", col("ts")).as("hour"))
      .agg(count(lit(1)).as("n_boundaries"),
        min(col("running")).as("min_concurrent"),
        max(col("running")).as("max_concurrent"))
  }

  /** Conversion funnel over the event stream (w4). */
  def clickFunnel(spark: SparkSession, sfDir: String): DataFrame = {
    StreamingOps.clickFunnel(Tables.events(spark, sfDir))
  }

  /** First/last-touch + linear attribution credit (x27) over the w7
    * pair set.
    */
  def attributionCredit(spark: SparkSession, sfDir: String): DataFrame = {
    StreamingOps.attributionCredit(attributionJoin(spark, sfDir))
  }

  /** View→purchase attribution interval join (w7): the stream-stream
    * join's batch run, oracle-gated like w5 — proves the join-
    * condition semantics against SQL; the streaming deployment adds
    * only the watermarks.
    */
  def attributionJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.events(spark, sfDir)
    StreamingOps.attributionJoin(
      e.filter(col("event_type") === "view"),
      e.filter(col("event_type") === "purchase"))
  }

  /** Per-user funnel transitions (w5): the `flatMapGroupsWithState`
    * operator's batch run, oracle-gated — each clicking user emits a
    * `clicked` row and, when a purchase lands within the hour of the
    * first click, a `converted` row. Proves the custom-state path
    * against SQL, not just unit tests.
    */
  def funnelTransitions(spark: SparkSession, sfDir: String): DataFrame = {
    StreamingOps.funnelTransitions(Tables.events(spark, sfDir)).toDF()
  }

  /** Market-basket association rules (x36): [[Basket.associationRules]]
    * over orders-as-baskets of parts. The oracle twin runs the same
    * Apriori-cut pair join in SQL; the fixed-point ratio columns make
    * the support/confidence/lift arithmetic bit-identical cross-engine.
    */
  def basketRules(spark: SparkSession, sfDir: String): DataFrame = {
    Basket.associationRules(Tables.lineitem(spark, sfDir),
      "l_orderkey", "l_partkey", minItemCount = 20L, minPairCount = 2L)
  }

  /** Pareto frontier of parts (x37): cheapest-for-the-size shortlist —
    * minimize `p_retailprice`, maximize `p_size`. The oracle twin runs
    * the quadratic `NOT EXISTS` dominance probe; [[Skyline.paretoFront]]
    * reproduces it with one groupBy and a two-level prefix max, which
    * is the whole point of gating it.
    */
  def paretoParts(spark: SparkSession, sfDir: String): DataFrame = {
    Skyline.paretoFront(
      Tables.part(spark, sfDir)
        .select(col("p_partkey"), col("p_retailprice"), col("p_size")),
      "p_retailprice", "p_size", m => floor(m / lit(100.0)))
  }

  /** Bounded BFS reach (x38): [[Graph.kHopReach]] over the x20
    * co-purchase chain graph from every part key divisible by 101 —
    * seeds outside the graph included, so the zero path is gated too.
    * The oracle unrolls the same three frontier/visited rounds in SQL.
    */
  def kHopReach(spark: SparkSession, sfDir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("l_orderkey").orderBy("l_linenumber", "l_partkey")
    val edges = Tables.lineitem(spark, sfDir)
      .select(col("l_partkey").as("src"),
        lead("l_partkey", 1).over(w).as("dst"))
      .filter(col("dst").isNotNull)
    val seeds = Tables.part(spark, sfDir)
      .select(col("p_partkey").as("seed"))
      .filter(col("seed") % 101 === 0)
    Graph.kHopReach(edges, seeds, hops = 3)
  }

  /** RFM segmentation (x39): [[Features.rfmSegments]] over orders —
    * per-customer recency/frequency/monetary, quintile scores, named
    * segments. The oracle recomputes the quintile boundaries and the
    * CASE ladder in SQL.
    */
  def rfmSegments(spark: SparkSession, sfDir: String): DataFrame = {
    Features.rfmSegments(Tables.orders(spark, sfDir),
      "o_custkey", "o_orderdate", "o_totalprice")
  }

  /** Per-language Zipf fit (t56): [[TextAnalysis.zipfFit]] over the
    * documents corpus — slope/intercept/R² of the rank–frequency
    * log-log regression, oracle-twinned moment for moment.
    */
  def zipfFit(spark: SparkSession, sfDir: String): DataFrame = {
    TextAnalysis.zipfFit(Tables.documents(spark, sfDir))
  }

  /** k-NN label classification (s11): [[Similarity.knnClassify]] on
    * the s1 probe set (vec_id < 20) against the full corpus, k = 5.
    * The oracle reruns the s1 ranking SQL plus the vote window —
    * votes DESC, label ASC pins the prediction.
    */
  def knnClassify(spark: SparkSession, sfDir: String): DataFrame = {
    val vecs = Tables.embeddings(spark, sfDir)
    Similarity.knnClassify(vecs.filter(col("vec_id") < 20), vecs, 5)
  }

  /** A/B readout (x40): [[Experiment.abTest]] over the event stream —
    * arms by user-id parity, conversion on purchase/click/view. The
    * oracle mirrors the z arithmetic expression for expression.
    */
  def abTest(spark: SparkSession, sfDir: String): DataFrame = {
    Experiment.abTest(Tables.events(spark, sfDir), "user_id",
      "event_type", Seq("purchase", "click", "view"),
      u => (u % 2).cast("int"))
  }

  /** Sign-LSH bucket purity (s12): [[Similarity.bucketPurity]] over
    * the labeled embedding corpus at 8 planes (the s4 hyperplane
    * family, literal-array fast path at the schema dimensionality).
    */
  def bucketPurity(spark: SparkSession, sfDir: String): DataFrame = {
    Similarity.bucketPurity(Tables.embeddings(spark, sfDir),
      nPlanes = 8, dims = Some(64))
  }

  /** Top session journeys (x41): [[StreamingOps.topJourneys]] over the
    * event stream — w3's session semantics, first-3 paths, top 20. The
    * oracle re-derives sessions with the lag/gap window and orders
    * events by the same (ts, event_id) total order.
    */
  def topJourneys(spark: SparkSession, sfDir: String): DataFrame = {
    StreamingOps.topJourneys(Tables.events(spark, sfDir))
  }

  /** IVF recall@5 (s13): [[Similarity.recallAtK]] of the s9 IVF
    * retrieval against the s1 exact kernel on the shared probe set —
    * the acceptance metric for the nprobe=2 trade, oracle-gated by
    * composing both queries' SQL.
    */
  def ivfRecall(spark: SparkSession, sfDir: String): DataFrame = {
    Similarity.recallAtK(
      ivfTopK(spark, sfDir), cosineTopK(spark, sfDir), 5)
  }

  /** Binary-code recall@5 (s25): [[Similarity.recallAtK]] of s24's
    * Hamming retrieval against the s1 exact kernel — what the 32×
    * compression costs on the shared probe set, next to s13 (IVF),
    * s17 (IVF-PQ) and s19 (truncation) on the pricing shelf.
    */
  def hammingRecall(spark: SparkSession, sfDir: String): DataFrame = {
    Similarity.recallAtK(
      hammingTopK(spark, sfDir), cosineTopK(spark, sfDir), 5)
  }

  /** k-means elbow sweep (s26): [[Similarity.kmeansElbow]] over the
    * embedding corpus at k ∈ {2,4,8,16} — the |cells| tuning readout
    * the s9/s16 IVF indexes are sized by.
    */
  def kmeansElbow(spark: SparkSession, sfDir: String): DataFrame = {
    // elbow sizing trains on a deterministic quarter sample — the
    // FAISS training contract (codebooks train on samples, never the
    // corpus): the k decision needs the SHAPE of WCSS-vs-k, and the
    // sweep is 4 full trainings, the one place sampling pays 4×
    Similarity.kmeansElbow(
      Tables.embeddings(spark, sfDir).filter(col("vec_id") % 4 === 0))
  }

  /** Benford audit (v6): [[Validation.benford]] over order totals —
    * per-digit observed vs expected share and chi-square terms.
    */
  def benford(spark: SparkSession, sfDir: String): DataFrame = {
    Validation.benford(Tables.orders(spark, sfDir), "o_totalprice")
  }

  /** Cohort LTV curves (x42): [[Timeseries.cohortLtv]] over the event
    * stream — cumulative purchase revenue per acquisition cohort, the
    * monetary sibling of x12's retention matrix.
    */
  def cohortLtv(spark: SparkSession, sfDir: String): DataFrame = {
    Timeseries.cohortLtv(Tables.events(spark, sfDir))
  }

  /** Clamped inventory balance (x43): [[Timeseries.clampedBalance]]
    * over a per-part receipt/issue stream derived from lineitem (even
    * line numbers receive, odd issue). The oracle replays the literal
    * `max(0, prev + delta)` recursion in a recursive CTE — the gate
    * proves the reflection closed form.
    */
  def clampedBalance(spark: SparkSession, sfDir: String): DataFrame = {
    val deltas = Tables.lineitem(spark, sfDir)
      .select(col("l_partkey"), col("l_shipdate"), col("l_orderkey"),
        col("l_linenumber"),
        when(col("l_linenumber") % 2 === 0, col("l_quantity"))
          .otherwise(-col("l_quantity")).as("delta"))
    Timeseries.clampedBalance(deltas, "l_partkey",
        Seq("l_shipdate", "l_orderkey", "l_linenumber"), "delta")
      .select(col("l_partkey"), col("l_orderkey"), col("l_linenumber"),
        col("delta"), col("balance"))
  }

  /** Vocabulary growth (t60): [[TextAnalysis.vocabGrowth]] in
    * 50-doc buckets over ingestion order.
    */
  def vocabGrowth(spark: SparkSession, sfDir: String): DataFrame = {
    TextAnalysis.vocabGrowth(Tables.documents(spark, sfDir))
  }

  /** Quantization error (s14): [[Similarity.quantizationError]] over
    * the labeled corpus — the storage-trade acceptance metric next to
    * s13's recall.
    */
  def quantizationError(spark: SparkSession, sfDir: String): DataFrame = {
    Similarity.quantizationError(Tables.embeddings(spark, sfDir))
  }

  /** Distinctive tokens (t59): [[TextAnalysis.distinctiveTokens]] —
    * per-source top-5 by corpus lift, min count 10.
    */
  def distinctiveTokens(spark: SparkSession, sfDir: String): DataFrame = {
    TextAnalysis.distinctiveTokens(Tables.documents(spark, sfDir))
  }

  /** Contamination attribution by source (t58): the d8 per-doc
    * benchmark-overlap profile rolled up to provenance — WHICH feeds
    * leak benchmark content, the question that decides whether to
    * drop a source or just its flagged docs. Rides the memoized d8
    * profile (no shingle re-pass); flagging uses t23's ≥ 0.2 rounded
    * threshold; the source-level ratio is exact fixed point.
    */
  def contaminationBySource(spark: SparkSession, sfDir: String): DataFrame = {
    val prof = sharedContaminationProfile(spark, sfDir)
    val src = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"))
    prof.join(src, Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum(when(col("contamination_ratio") >= 0.2, 1L)
          .otherwise(0L)), lit(0L)).as("n_flagged_docs"),
        sum(col("n_shingles")).as("n_shingles"),
        sum(col("n_contaminated")).as("n_contaminated"),
        max(col("contamination_ratio")).as("worst_doc_ratio"))
      .select(col("source"), col("n_docs"), col("n_flagged_docs"),
        col("n_shingles"), col("n_contaminated"),
        expr("CAST(CAST(n_contaminated AS DECIMAL(38,0)) * 1000000000 " +
          "div n_shingles AS BIGINT)").as("source_ratio_e9"),
        col("worst_doc_ratio"))
      .withColumn("source_ratio",
        col("source_ratio_e9").cast("double") / lit(1e9))
  }

  /** Weighted PageRank (x46): [[Graph.weightedPageRank]] over the RAW
    * (non-distinct) co-purchase chain — traversal multiplicity is the
    * edge weight; 3 iterations at damping 0.85, same fixed-point
    * discipline as x20.
    */
  def weightedPageRank(spark: SparkSession, sfDir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("l_orderkey").orderBy("l_linenumber", "l_partkey")
    val edges = Tables.lineitem(spark, sfDir)
      .select(col("l_partkey").as("src"),
        lead("l_partkey", 1).over(w).as("dst"))
      .filter(col("dst").isNotNull)
    Graph.weightedPageRank(edges, iterations = 3, dampingPerMille = 850)
  }

  /** Drift timeline (v9): per-month PSI of the order-status mix vs
    * the global mix — TPC-H status correlates with date (F old, O
    * recent), so the series shows real drift localized in time.
    */
  def driftTimeline(spark: SparkSession, sfDir: String): DataFrame = {
    Validation.psiTimeline(
      Tables.orders(spark, sfDir)
        .select(to_date(date_trunc("month", col("o_orderdate")))
          .as("month"), col("o_orderstatus")),
      "month", "o_orderstatus")
  }

  /** FD audit (v7): [[Validation.fdAudit]] over four claimed
    * dependencies — one that holds by schema (nation → region), three
    * that plausibly-but-wrongly get assumed (brand → type, part →
    * supplier, customer → priority).
    */
  def fdAudit(spark: SparkSession, sfDir: String): DataFrame = {
    Validation.fdAudit(Seq(
      Validation.FdCheck("nation_to_region",
        Tables.nation(spark, sfDir), "n_nationkey", "n_regionkey"),
      Validation.FdCheck("brand_to_type",
        Tables.part(spark, sfDir), "p_brand", "p_type"),
      Validation.FdCheck("part_to_supplier",
        Tables.lineitem(spark, sfDir), "l_partkey", "l_suppkey"),
      Validation.FdCheck("customer_to_priority",
        Tables.orders(spark, sfDir), "o_custkey", "o_orderpriority")))
  }

  /** Conversion latency quantiles (x45): seconds from a user's first
    * view to their first subsequent purchase — the funnel-speed
    * readout next to w4's conversion counts; exact interpolated
    * percentiles (the x13 kernel) on floored epoch seconds.
    */
  def conversionLatency(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.events(spark, sfDir)
    val firstView = e.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("_vt"))
    val lat = e.filter(col("event_type") === "purchase")
      .join(firstView, Seq("user_id"))
      .filter(col("ts") >= col("_vt"))
      .groupBy(col("user_id"), col("_vt"))
      .agg(min(col("ts")).as("_pt"))
      .select(lit("all").as("cohort"),
        (unix_timestamp(col("_pt")) - unix_timestamp(col("_vt")))
          .as("latency_s"))
    Validation.quantileReport(lat, "cohort", "latency_s",
      Seq(0.25, 0.5, 0.75, 0.9, 0.99), exact = true)
  }

  /** Kaplan–Meier conversion survival (x52): time from first view to
    * first subsequent purchase, users without a purchase
    * right-censored at the corpus horizon (max event ts) — the
    * censoring-correct complement of x45's converted-only latency
    * quantiles.
    */
  def survivalCurve(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.events(spark, sfDir)
    val firstView = e.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("_vt"))
    val firstPurchase = e.filter(col("event_type") === "purchase")
      .join(firstView, Seq("user_id"))
      .filter(col("ts") >= col("_vt"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("_pt"))
    val horizon = e.agg(max(col("ts")).as("_h"))
    val subjects = firstView
      .join(firstPurchase, Seq("user_id"), "left_outer")
      .crossJoin(broadcast(horizon))
      .select(
        when(col("_pt").isNotNull,
          unix_timestamp(col("_pt")) - unix_timestamp(col("_vt")))
          .otherwise(
            unix_timestamp(col("_h")) - unix_timestamp(col("_vt")))
          .as("duration_s"),
        when(col("_pt").isNotNull, 1).otherwise(0).as("observed"))
    Timeseries.kmSurvival(subjects)
  }

  /** Inter-arrival cadence profile (x51): per-user median/MAD of the
    * gaps between consecutive events in exact milli-units — the
    * timer-regularity bot fingerprint next to x47/x49.
    */
  def cadenceProfile(spark: SparkSession, sfDir: String): DataFrame = {
    Timeseries.cadenceProfile(Tables.events(spark, sfDir))
  }

  /** Stationary event mix (x56): [[Timeseries.stationaryMix]] — the
    * long-run per-type event shares x47's transition matrix implies,
    * 8 fixed-point power-iteration rounds.
    */
  def stationaryMix(spark: SparkSession, sfDir: String): DataFrame = {
    Timeseries.stationaryMix(Tables.events(spark, sfDir))
  }

  /** Seasonality autocorrelation (x57): [[Timeseries.autocorrelation]]
    * of the per-event_type daily value series at lags 1 and 7 —
    * momentum and weekly periodicity, the readout that says whether
    * x10's day-over-day comparisons can be trusted.
    */
  def autocorrelation(spark: SparkSession, sfDir: String): DataFrame = {
    Timeseries.autocorrelation(Tables.events(spark, sfDir))
  }

  /** EWMA forecast baseline (x53): [[Timeseries.ewmaBaseline]] over
    * the per-event_type daily value series — the recency-weighted
    * forecast residual next to x10's trailing z-score, replayed as an
    * exact fixed-point fold (the x52 discipline).
    */
  def ewmaBaseline(spark: SparkSession, sfDir: String): DataFrame = {
    Timeseries.ewmaBaseline(Tables.events(spark, sfDir))
  }

  /** Interval coverage (x44): [[Timeseries.intervalCoverage]] over
    * 30-minute activity windows around each event — per-user uptime
    * islands, covered seconds, longest gap.
    */
  def intervalCoverage(spark: SparkSession, sfDir: String): DataFrame = {
    val iv = Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts"),
        (col("ts") + expr("INTERVAL 30 MINUTES")).as("te"),
        col("event_id"))
    Timeseries.intervalCoverage(iv, "user_id", "ts", "te", "event_id")
  }

  /** IVF-PQ ANN top-k over a TRAINED index (s16): k-means coarse
    * quantizer (8 cells, 4 Lloyd rounds) + per-subspace k-means PQ
    * codebooks (16 subspaces × 32 codewords, 3 rounds), the first 20
    * vectors as queries — the composed production ANN query, now with
    * both quantizers learned from the data (the r12 verdict's one
    * architectural gap: label-assigned cells can't promise a query's
    * neighbors live in its probed cells; trained Voronoi cells do).
    */
  def ivfPqTopK(spark: SparkSession, sfDir: String): DataFrame = {
    val vecs = Tables.embeddings(spark, sfDir)
    Similarity.ivfPqTopKTrained(vecs.filter(col("vec_id") < 20), vecs, 5,
        nprobe = 2, cells = 8, cellIters = 4, subspaces = 16,
        codewords = 32, pqIters = 3, memoTag = Some(s"emb|$sfDir"))
      .select(col("query_id"), col("neighbor_id"),
        col("rank").cast("long").as("rank"), col("adc_dist"))
  }

  /** Deterministic k-means training report (s18): 8 clusters, 4 Lloyd
    * rounds over the embedding corpus — the trainer whose output the
    * s16 index consumes as its coarse quantizer.
    */
  def kmeansTrain(spark: SparkSession, sfDir: String): DataFrame = {
    Similarity.kmeansTrain(Tables.embeddings(spark, sfDir), 8, 4,
      memoTag = Some(s"emb|$sfDir"))
  }

  /** Silhouette report (s30): [[Similarity.silhouette]] over the
    * embedding corpus against the SAME memoized trained quantizer as
    * s18 (train once, gate many) — per-cluster separation quality,
    * the deploy gate between the s26 elbow and the s16 index.
    */
  def silhouette(spark: SparkSession, sfDir: String): DataFrame = {
    Similarity.silhouette(Tables.embeddings(spark, sfDir), 8, 4,
      memoTag = Some(s"emb|$sfDir"))
  }

  /** Top principal component (s21): 6 power-iteration rounds over
    * the centered embedding corpus — per-dim mean + unit PC1, the
    * Rayleigh eigenvalue, and its share of total variance (the
    * all-but-the-top anisotropy readout).
    */
  def topPc(spark: SparkSession, sfDir: String): DataFrame = {
    Similarity.topPrincipalComponent(Tables.embeddings(spark, sfDir))
  }

  /** IVF tuning sweep (s20): the trained 8-cell index probed at
    * widths {1,2,4,8} — recall@5 vs exact and corpus fraction
    * touched per width, the frontier an nprobe choice reads.
    */
  def ivfTuning(spark: SparkSession, sfDir: String): DataFrame = {
    val vecs = Tables.embeddings(spark, sfDir)
    Similarity.ivfTuningReport(vecs.filter(col("vec_id") < 20), vecs,
      5, Seq(1, 2, 4, 8), memoTag = Some(s"emb|$sfDir"))
  }

  /** Truncation-recall readout (s19): recall@5 of the cosine top-5
    * computed on the first {8,16,32,64} dimensions against the
    * full-width exact top-5 for the s1 probe set — what a Matryoshka
    * prefix prefilter costs at each width (64 is the full width, a
    * recall-1.0 sanity row).
    */
  def truncationRecall(spark: SparkSession, sfDir: String): DataFrame = {
    val vecs = Tables.embeddings(spark, sfDir)
    Similarity.truncationRecall(vecs.filter(col("vec_id") < 20), vecs,
      5, Seq(8, 16, 32, 64))
  }

  /** Semantic dedup (d13): SemDeDup over the s2 injected corpus —
    * the trained 8-cell quantizer buckets the vectors, within-cell
    * cosine ≥ 0.95 marks the larger id a drop. The injected +100000
    * perturbed copies are what the threshold is tuned to catch:
    * they land in their source's Voronoi cell (cosine ≈ 0.98 to the
    * original) and are the rows flagged `drop`.
    */
  def semDedup(spark: SparkSession, sfDir: String): DataFrame = {
    Similarity.semDedup(
      nearDupVectors(Tables.embeddings(spark, sfDir)), 8, 4, 0.95,
      memoTag = Some(s"embdup|$sfDir"))
  }

  /** IVF-PQ recall@5 (s17): [[Similarity.recallAtK]] of the s16
    * result against the exact squared-L2 top-5 — prices cell pruning
    * plus PQ approximation in the index's own metric (s13 prices
    * IVF alone against the cosine baseline). With the r13 trained
    * quantizers this measures ~0.33 on the isotropic corpus — above
    * the nprobe/|cells| = 0.25 scan-fraction floor (the label-cell
    * index measured 0.16), against an exact-rerank ceiling of ~0.43.
    */
  def ivfPqRecall(spark: SparkSession, sfDir: String): DataFrame = {
    val vecs = Tables.embeddings(spark, sfDir)
    val exact = Similarity.bruteForceTopKL2(
      vecs.filter(col("vec_id") < 20), vecs, 5)
    Similarity.recallAtK(ivfPqTopK(spark, sfDir), exact, 5)
  }

  /** Residual IVF-PQ top-k (s23): the FAISS IndexIVFPQ encoding — PQ
    * codebooks trained on `x − centroid(cell(x))`, ADC per (query,
    * probed cell) in the residual frame; same index parameters and
    * storage cost as s16.
    */
  def ivfPqResidual(spark: SparkSession, sfDir: String): DataFrame = {
    val vecs = Tables.embeddings(spark, sfDir)
    Similarity.ivfPqResidualTopK(vecs.filter(col("vec_id") < 20), vecs,
      k = 5, nprobe = 2, cells = 8, cellIters = 4, subspaces = 16,
      codewords = 32, pqIters = 3, memoTag = Some(s"emb|$sfDir"))
  }

  /** Two-stage ANN retrieval (s22): the s16 trained IVF-PQ index at a
    * 15-candidate ADC budget, re-ranked to top-5 by exact squared-L2
    * on the full-precision vectors — the production FAISS pattern
    * where PQ error inside the candidate set costs nothing.
    */
  def ivfPqRerank(spark: SparkSession, sfDir: String): DataFrame = {
    val vecs = Tables.embeddings(spark, sfDir)
    Similarity.ivfPqRerank(vecs.filter(col("vec_id") < 20), vecs,
      k = 5, candK = 15, nprobe = 2, cells = 8, cellIters = 4,
      subspaces = 16, codewords = 32, pqIters = 3,
      memoTag = Some(s"emb|$sfDir"))
  }

  /** Sampled-training IVF-PQ top-k (s27):
    * [[Similarity.ivfPqTopKSampled]] — the FAISS train-on-sample /
    * encode-full lifecycle: quantizers trained on the
    * `hash64("s27|" ++ id) % 4 = 0` quarter of the corpus, every
    * vector encoded against the frozen codebooks, queried through
    * the audited s16 path. Training cost is bounded by the sample;
    * encode is the one linear pass (the s27 scale probe pins flat
    * train / linear encode as the corpus grows).
    */
  def ivfPqSampled(spark: SparkSession, sfDir: String): DataFrame = {
    val vecs = Tables.embeddings(spark, sfDir)
    Similarity.ivfPqTopKSampled(vecs.filter(col("vec_id") < 20), vecs,
        5, sampleMod = 4, nprobe = 2, cells = 8, cellIters = 4,
        subspaces = 16, codewords = 32, pqIters = 3,
        memoTag = Some(s"emb|$sfDir"))
      .select(col("query_id"), col("neighbor_id"),
        col("rank").cast("long").as("rank"), col("adc_dist"))
  }

  /** Sampled-training recall@5 (s28): the s27 index priced against
    * exact squared-L2 — what the quarter-corpus training costs vs
    * s17's full-corpus number.
    */
  def ivfPqSampledRecall(spark: SparkSession, sfDir: String)
      : DataFrame = {
    val vecs = Tables.embeddings(spark, sfDir)
    val exact = Similarity.bruteForceTopKL2(
      vecs.filter(col("vec_id") < 20), vecs, 5)
    Similarity.recallAtK(ivfPqSampled(spark, sfDir), exact, 5)
  }

  /** Frozen-index increment assignment (s29):
    * [[Similarity.indexAssign]] — the serving-time lifecycle half:
    * quantizers train on the `vec_id % 5 ≠ 4` corpus (memoized — in
    * production they are write-time artifacts), and the HELD-OUT
    * fifth arrives as the increment, map-assigned to cells and PQ
    * codewords against the frozen codebooks with no retraining and
    * no corpus-side shuffle. The streaming spec pins the identical
    * code running as micro-batches ≡ this batch form.
    */
  def indexAssignIncrement(spark: SparkSession, sfDir: String)
      : DataFrame = {
    val vecs = Tables.embeddings(spark, sfDir)
    val trainSet = vecs.filter(col("vec_id") % 5 =!= 4)
    val memo = Some(s"embtrain|$sfDir")
    def cbOf(df: DataFrame) = df.select(col("cluster_id").as("_cw"),
      col("dim").as("_dim"), col("centroid").as("_c"))
    val cellCb = cbOf(Similarity.kmeansTrain(trainSet, 8, 4,
      subspaces = 1, seedTag = "km", memoTag = memo))
    val pqCb = cbOf(Similarity.kmeansTrain(trainSet, 32, 3,
      subspaces = 16, seedTag = "pq", memoTag = memo))
    Similarity.indexAssign(vecs.filter(col("vec_id") % 5 === 4),
      cellCb, pqCb, 16)
  }

  /** Markov event-transition matrix (x47): per-user successor pairs
    * over the event stream, row-normalized.
    */
  def transitionMatrix(spark: SparkSession, sfDir: String): DataFrame = {
    Timeseries.transitionMatrix(Tables.events(spark, sfDir))
  }

  /** Sequence likelihood (x49): bottom-20 users by average
    * `ln P(next | prev)` under the corpus-fit transition matrix —
    * the order-anomaly readout downstream of x47.
    */
  def sequenceLikelihood(spark: SparkSession, sfDir: String): DataFrame = {
    Timeseries.sequenceLikelihood(Tables.events(spark, sfDir))
  }

  /** Streaming-form transition matrix (w8): the stateful
    * [[graft.streaming.StreamingOps.transitionPairs]] kernel run in
    * batch mode + the downstream rollup — batch ≡ the x47 lead-window
    * form, so they share one oracle; the stream side is pinned in
    * `StreamingSpec`.
    */
  def transitionStream(spark: SparkSession, sfDir: String): DataFrame = {
    graft.streaming.StreamingOps.transitionRollup(
      graft.streaming.StreamingOps.transitionPairs(
        Tables.events(spark, sfDir)).toDF())
  }

  /** Streaming as-of enrichment (w9): [[graft.streaming.StreamingOps
    * .asofPairs]] run in batch mode — each error event stamped with
    * the latest preceding signup of its user from O(1)-per-user
    * state. Shares x3's DuckDB oracle verbatim: the batch execution
    * of the stateful form must reproduce the window form exactly.
    */
  def asofStream(spark: SparkSession, sfDir: String): DataFrame = {
    graft.streaming.StreamingOps.asofPairs(Tables.events(spark, sfDir))
      .toDF()
  }

  /** Streaming cadence feed (w11): [[graft.streaming.StreamingOps
    * .gapPairs]] run in batch mode + the shared
    * [[Timeseries.cadenceRollup]] tail — batch ≡ the x51 lag-window
    * form, so they share one oracle; the stream side is pinned in
    * `StreamingSpec`.
    */
  def cadenceStream(spark: SparkSession, sfDir: String): DataFrame = {
    Timeseries.cadenceRollup(
      graft.streaming.StreamingOps.gapPairs(Tables.events(spark, sfDir))
        .toDF())
  }

  /** Streaming EWMA feed (w12): [[graft.streaming.StreamingOps
    * .ewmaPoints]] run in batch mode over the shared daily collapse,
    * plus the shared [[Timeseries.ewmaVerdicts]] tail — batch ≡ the
    * x53 collect_list fold, so they share one oracle; the stream side
    * is pinned in `StreamingSpec`.
    */
  def ewmaStream(spark: SparkSession, sfDir: String): DataFrame = {
    Timeseries.ewmaVerdicts(
      graft.streaming.StreamingOps.ewmaPoints(
        Timeseries.dailySeries(Tables.events(spark, sfDir))).toDF())
  }

  /** Holt linear-trend forecast (x68): [[Timeseries.holtTrend]] over
    * the events stream — the x53 EWMA with a trend state, α = 0.3,
    * β = 0.2, shared guarded daily collapse.
    */
  def holtTrend(spark: SparkSession, sfDir: String): DataFrame = {
    Timeseries.holtTrend(Tables.events(spark, sfDir))
  }

  /** Streaming Holt feed (w13): [[graft.streaming.StreamingOps
    * .holtPoints]] run in batch mode over the shared guarded daily
    * collapse, plus the shared [[Timeseries.holtDisplay]] tail —
    * batch ≡ the x68 prefix fold, so they share one oracle; the
    * stream side is pinned in `StreamingSpec`.
    */
  def holtStream(spark: SparkSession, sfDir: String): DataFrame = {
    Timeseries.holtDisplay(
      graft.streaming.StreamingOps.holtPoints(
        Timeseries.holtDaily(Tables.events(spark, sfDir))).toDF())
  }

  /** Streaming sequence scorer (w10): [[graft.streaming.StreamingOps
    * .sequenceScoreStream]] in batch mode, scoring against the
    * self-fit transition model published via
    * [[Timeseries.transitionLogprobE9]] — batch output ≡ x49's
    * per-user aggregate before the bottom-k cut.
    */
  def sequenceScore(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    graft.streaming.StreamingOps.sequenceScoreStream(ev,
      Timeseries.transitionLogprobE9(ev)).toDF()
  }

  /** Language-ID confusion matrix (t57): the t4 n-gram predictor
    * evaluated against the corpus's true `lang` column — the
    * eval-the-classifier query every lang-filter pipeline needs before
    * trusting its router (s11's pattern, in the text domain). One
    * (true, predicted) cell per pair with the within-language share in
    * exact fixed point; diagonal cells carry `is_correct`.
    *
    * 100 TB shape: predictions are per-row expressions in the scan;
    * the matrix is one partial-agg shuffle to |langs|² cells.
    */
  def langIdConfusion(spark: SparkSession, sfDir: String): DataFrame = {
    val pred = langId(spark, sfDir).select(col("doc_id"), col("lang_pred"))
    val truth = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"))
    val cells = truth.join(pred, Seq("doc_id"))
      .groupBy(col("lang"), col("lang_pred"))
      .agg(count(lit(1)).as("n_docs"))
    val totals = cells.groupBy(col("lang")).agg(sum(col("n_docs")).as("_t"))
    cells.join(broadcast(totals), Seq("lang"))
      .select(col("lang"), col("lang_pred"), col("n_docs"),
        expr("CAST(CAST(n_docs AS DECIMAL(38,0)) * 1000000000 " +
          "div _t AS BIGINT)").as("share_e9"),
        (col("lang") === col("lang_pred")).as("is_correct"))
      .withColumn("share", col("share_e9").cast("double") / lit(1e9))
  }
}
