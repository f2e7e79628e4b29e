package graft.std

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.sources.Tables

/** Scale-mechanics tests: salted aggregation equivalence, bucketed
  * co-located joins (no exchange), and the native-function SQL surface.
  */
class ScaleSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val sfDir = "/root/testdata/sf0.001"

  test("saltedSum equals the direct groupBy (2-dp money)") {
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_returnflag").as("k"), col("l_extendedprice").as("v"))
    val direct = li.groupBy("k").agg(round(sum("v"), 2).as("s"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val salted = Salt.saltedSum(li, Seq("k"), Seq("v"), buckets = 8)
      .select(col("k"), round(col("v"), 2).as("s"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(salted == direct)
  }

  test("bucketed tables co-locate the join: no shuffle exchange in the plan") {
    import spark.implicits._
    spark.sql("DROP TABLE IF EXISTS li_bucketed")
    spark.sql("DROP TABLE IF EXISTS ord_bucketed")
    Tables.lineitem(spark, sfDir)
      .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").saveAsTable("li_bucketed")
    Tables.orders(spark, sfDir)
      .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable("ord_bucketed")
    val joined = spark.table("li_bucketed")
      .join(spark.table("ord_bucketed"), $"l_orderkey" === $"o_orderkey")
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join still shuffles:\n$plan")
    assert(joined.count() == Tables.lineitem(spark, sfDir).count())
  }

  test("month-partitioned lake layout prunes to the queried partition") {
    import graft.queries.Merged
    import graft.sinks.Sinks
    val dir = java.nio.file.Files.createTempDirectory("lake").resolve("enriched").toString
    Sinks.writePartitionedByMonth(
      Merged.cleaned(spark, sfDir)
        .select("fin_month_label", "total_line_price", "quantity"), dir)
    val q = spark.read.parquet(dir)
      .filter(col("fin_month_label") === "1995-06")
      .agg(sum("total_line_price"))
    val scan = q.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PartitionFilters") &&
      scan.contains("fin_month_label"),
      s"partition filter not pushed:\n$scan")
    // the pruned scan still returns the right answer
    val expected = Merged.cleaned(spark, sfDir)
      .filter(col("fin_month_label") === "1995-06")
      .agg(sum("total_line_price")).head().getDouble(0)
    assert(math.abs(q.head().getDouble(0) - expected) < 1e-6)
  }

  test("top-k plans as TakeOrderedAndProject, never a global sort") {
    import graft.queries.{BiQueries, Merged}
    val plan = BiQueries.topProducts(Merged.cleaned(spark, sfDir))
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k fell back to sort+limit:\n$plan")
  }

  test("link prediction's top-N plans as TakeOrderedAndProject and " +
    "its pairs form only through the capped equi-self-join") {
    val plan = graft.ext.ExtQueries.linkPrediction(spark, sfDir)
      .queryExecution.executedPlan.toString
    graft.std.Materialize.releaseAll()
    assert(plan.contains("TakeOrderedAndProject"),
      s"x67 top-N fell back to a global sort:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"x67 pair generation must never be all-pairs:\n$plan")
  }

  test("skip-gram pairs plan with no window and no cartesian — one " +
    "equi-join plus a partial-agg groupBy") {
    val walks = graft.ext.ExtQueries.randomWalks(spark, sfDir)
    val plan = graft.ext.Graph.skipGramPairs(walks, 2)
      .queryExecution.executedPlan.toString
    graft.std.Materialize.releaseAll()
    assert(!plan.contains("CartesianProduct"),
      s"x72 must join on walk_id, not cross:\n$plan")
    assert(!plan.contains("Window"),
      s"x72 must not use a window function:\n$plan")
    assert(plan.contains("partial_count") || plan.contains("HashAggregate"),
      s"x72 pair counts must partial-aggregate:\n$plan")
  }

  test("span dedup: candidates form only through the window-hash " +
    "equi-join; the island merge windows per doc, never globally") {
    val plan = graft.ext.ExtQueries.spanDedup(spark, sfDir)
      .queryExecution.executedPlan.toString
    graft.std.Materialize.releaseAll()
    assert(!plan.contains("CartesianProduct"),
      s"t77 duplicate windows must pair through the hash join:\n$plan")
    // the island-numbering window must be partitioned by doc_id — an
    // unpartitioned window would drag the whole corpus to one task
    assert("\\], \\[doc_id#\\d+".r.findFirstIn(plan).isDefined,
      s"t77 island merge must window per doc:\n$plan")
  }

  test("leakage split: one shuffle key (cluster_rep), no cartesian") {
    val plan = graft.ext.ExtQueries.leakageSafeSplit(spark, sfDir)
      .queryExecution.executedPlan.toString
    graft.std.Materialize.releaseAll()
    assert(!plan.contains("CartesianProduct"),
      s"d14 must join assignments to leak flags on cluster_rep:\n$plan")
    assert(plan.contains("cluster_rep"),
      s"d14 leak join keys on the cluster representative:\n$plan")
  }

  test("documents scan prunes to the referenced columns") {
    val plan = graft.ext.ExtQueries.tokenStats(spark, sfDir)
      .queryExecution.executedPlan.collectLeaves().map(_.toString).mkString
    // t1 touches doc_id + text; lang/source/n_chars must not be read
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"column pruning lost:\n$plan")
  }

  test("quality scorer tokenizes once (attrBarrier Generate in the plan)") {
    // the t3 defect class: a lambda capturing the raw tokenize chain
    // re-evaluates regex-normalize-split per reference (~4× per row on
    // the full-corpus scoring pass). Barriered, the chain appears in
    // exactly one Generate and every consumer reads the _toks attribute.
    val qe = graft.ext.ExtQueries.qualityScores(spark, sfDir).queryExecution
    val optimized = qe.optimizedPlan.toString
    val splits = "split\\(".r.findAllIn(optimized).length
    assert(splits == 1, s"tokenize chain appears $splits times:\n$optimized")
    assert(optimized.contains("Generate"),
      s"attrBarrier Generate collapsed out of the plan:\n$optimized")
  }

  test("star-join dimensions broadcast (no shuffle on the fact side)") {
    import graft.queries.Merged
    val plan = Merged.cleaned(spark, sfDir).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"dimension join not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"fact side shuffled through a sort-merge join:\n$plan")
  }

  test("row-group predicate pushes down to the parquet scan") {
    val q = Tables.documents(spark, sfDir)
      .filter(col("lang") === "en").select("doc_id")
    val scan = q.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PushedFilters") && scan.contains("EqualTo(lang,en)"),
      s"filter not pushed to the scan:\n$scan")
  }

  test("PQ report plans broadcast codebook joins — no SMJ, no cartesian") {
    val plan = graft.ext.ExtQueries.pqReport(spark, sfDir)
      .queryExecution.executedPlan.toString
    graft.std.Materialize.releaseAll()
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"PQ encode degenerated to all-pairs:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"the |codewords|×dims codebook should broadcast:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"no broadcast join in the PQ plan:\n$plan")
  }

  test("IVF-PQ query path: at most ONE big-big join (candidates ⋈ codes)") {
    // probe cross-join (BNLJ over the broadcast centroid table) is the
    // intended s9 shape; probed cells and ADC tables broadcast; the
    // single allowed shuffle join is the inverted-list read
    val plan = graft.ext.ExtQueries.ivfPqTopK(spark, sfDir)
      .queryExecution.executedPlan.toString
    graft.std.Materialize.releaseAll()
    assert(!plan.contains("CartesianProduct"),
      s"IVF-PQ degenerated to a cartesian:\n$plan")
    val smj = "SortMergeJoin".r.findAllIn(plan).length
    assert(smj <= 1,
      s"IVF-PQ grew $smj shuffle joins — broadcasts regressed:\n$plan")
  }

  test("winnowing sketch plans with no exchange (pure per-row kernel)") {
    // t7's whole point post-rewrite: normalize → hash → sort-in-row;
    // the only allowed exchange is the small-scan spread repartition
    val plan = graft.ext.ExtQueries.winnowingSketch(spark, sfDir)
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange".r.findAllIn(plan).length
    assert(exchanges <= 1, s"per-row sketch grew $exchanges exchanges:\n$plan")
    assert(!plan.contains("SortAggregate") && !plan.contains("HashAggregate"),
      s"per-row sketch should not aggregate:\n$plan")
  }

  test("LSH embedding near-dups join on bucket equality, never cross join") {
    val plan = graft.ext.ExtQueries.lshEmbeddingNearDups(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"bucketed path degenerated to all-pairs:\n$plan")
    graft.std.Materialize.releaseAll()
  }

  test("semDedup compares only within cells: no all-pairs join anywhere") {
    val plan = graft.ext.ExtQueries.semDedup(spark, sfDir)
      .queryExecution.executedPlan.toString
    graft.std.Materialize.releaseAll()
    graft.std.SessionMemo.releaseSession(spark)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"d13 degenerated to all-pairs — the cluster_id equi-join is the " +
        s"whole point:\n$plan")
  }

  test("PMI collocations: top-k is TakeOrderedAndProject, no cartesian") {
    val plan = graft.ext.ExtQueries.pmiCollocations(spark, sfDir)
      .queryExecution.executedPlan.toString
    graft.std.Materialize.releaseAll()
    assert(plan.contains("TakeOrderedAndProject"),
      s"t66 top-k should never global-sort:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"vocab joins degenerated:\n$plan")
  }

  test("sequence likelihood: matrix broadcasts onto pairs, bottom-k bounded") {
    val plan = graft.ext.ExtQueries.sequenceLikelihood(spark, sfDir)
      .queryExecution.executedPlan.toString
    graft.std.Materialize.releaseAll()
    assert(plan.contains("TakeOrderedAndProject"),
      s"x49 bottom-k should never global-sort:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"the |types|² matrix should broadcast back onto the pairs:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("SortMergeJoin"),
      s"x49 grew a corpus-sized join:\n$plan")
  }

  test("stratified sample plans as a pure scan filter: zero exchanges") {
    val plan = graft.ext.ExtQueries.stratifiedSample(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"zero-shuffle sampling grew an exchange:\n$plan")
  }

  test("domain quota pushes the group limit below the shuffle") {
    // row_number ≤ N must plan as WindowGroupLimit (partial top-N per
    // map task BEFORE the exchange) — at 100 TB that is the difference
    // between shuffling N rows per source and shuffling the corpus
    val plan = graft.ext.ExtQueries.domainQuota(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"quota lost the group-limit pushdown:\n$plan")
  }

  test("incremental dedup joins on keys only, never nested-loop") {
    val plan = graft.ext.ExtQueries.incrementalDedup(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"cross-corpus dedup degenerated to all-pairs:\n$plan")
    graft.std.Materialize.releaseAll()
  }

  test("graft_dot is callable from SQL after registration") {
    org.apache.spark.sql.GraftColumns.registerFunctions(spark)
    val r = spark.sql(
      "SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d")
      .head().getDouble(0)
    assert(r == 11.0)
  }

  test("graft_nfc canonicalizes decomposed unicode (e + combining acute)") {
    org.apache.spark.sql.GraftColumns.registerFunctions(spark)
    import spark.implicits._
    val decomposed = "e\u0301"   // 2 codepoints
    val precomposed = "\u00e9"   // 1 codepoint
    val r = Seq(Tuple1(decomposed)).toDF("d")
      .select(
        org.apache.spark.sql.GraftColumns.nfc(col("d")).as("nd"),
        length(col("d")).as("len_raw"),
        length(org.apache.spark.sql.GraftColumns.nfc(col("d"))).as("len_nfc"))
      .head()
    assert(r.getString(0) == precomposed)
    assert(r.getInt(1) == 2 && r.getInt(2) == 1)
    // and through SQL
    val viaSql = spark
      .sql("SELECT graft_nfc('e\u0301') = '\u00e9'").head().getBoolean(0)
    assert(viaSql)
  }

  test("graft_kmv_mins: bounded buffer, duplicate absorption, " +
       "partition-invariant merge, SQL registration") {
    org.apache.spark.sql.GraftColumns.registerFunctions(spark)
    import spark.implicits._
    // 1000 values with duplicates, shuffled deterministically; bottom-8
    // must be 0..7 regardless of partitioning
    val vals = ((0L until 1000L) ++ (0L until 1000L))
      .sortBy(v => (v * 2654435761L) % 1997)
    for (parts <- Seq(1, 7)) {
      val got = vals.toDF("v").repartition(parts)
        .agg(org.apache.spark.sql.GraftColumns.kmvMins(col("v"), 8)
          .as("m"))
        .head().getSeq[Long](0)
      assert(got == (0L until 8L), s"parts=$parts: $got")
    }
    // grouped + via SQL: per-group bottom-2 of interleaved longs
    Seq(("a", 5L), ("a", 1L), ("a", 3L), ("b", 9L), ("b", 2L), ("a", 1L))
      .toDF("g", "v").createOrReplaceTempView("kmv_in")
    val rows = spark.sql(
      "SELECT g, graft_kmv_mins(v, 2) AS m FROM kmv_in GROUP BY g")
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(rows("a") == Seq(1L, 3L) && rows("b") == Seq(2L, 9L))
    // fewer distinct values than k: the sketch IS the distinct set
    val small = Seq(4L, 4L, 2L).toDF("v")
      .agg(org.apache.spark.sql.GraftColumns.kmvMins(col("v"), 8))
      .head().getSeq[Long](0)
    assert(small == Seq(2L, 4L))
  }

  test("SPARK_GRAFT_ONLY rule matches whole keys, and the declarative " +
       "BI path keeps per-query scan pruning") {
    import graft.SparkEntry
    def selectedKeyCount(onlySpec: String): Int =
      SparkEntry.registry.map(_.name).count(SparkEntry.keyMatcher(onlySpec))
    // prefix matches up to an underscore: "q1" selects q1_revenue_by_month
    // but not q1b_gm_join; "t1" must not sweep in t10..t19
    assert(selectedKeyCount("q1") == 1)
    assert(selectedKeyCount("q1,d2") == 2)
    assert(selectedKeyCount("t1") == 1)
    assert(selectedKeyCount("q") == 0)
    // Merged.cleaned, the frame a one-shot library caller plans over,
    // must prune every dimension scan to its join key instead of paying
    // the memo's full ~40-column materialization
    val plan = graft.queries.BiQueries.revenueByMonth(
      graft.queries.Merged.cleaned(spark, sfDir))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("c_acctbal") && !plan.contains("p_brand"),
      s"one-shot q1 lost scan pruning:\n${plan.take(4000)}")
    assert(plan.contains("ReadSchema: struct<p_partkey:bigint>"),
      s"part scan should read only its join key:\n${plan.take(4000)}")
  }

  test("shortest paths: per-relaxation equi-joins, never nested-loop") {
    val plan = graft.ext.ExtQueries.shortestPaths(spark, sfDir)
      .queryExecution.executedPlan.toString
    graft.std.Materialize.releaseAll()
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"x50's dist ⋈ edges must stay an equi-join:\n$plan")
  }

  test("ivfPq rerank: stage 2 broadcasts the query vectors, no " +
    "corpus-vs-query cartesian") {
    val plan = graft.ext.ExtQueries.ivfPqRerank(spark, sfDir)
      .queryExecution.executedPlan.toString
    graft.std.Materialize.releaseAll()
    graft.std.SessionMemo.releaseSession(spark)
    assert(!plan.contains("CartesianProduct"),
      s"s22 degenerated to a cartesian:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"the query-vector side of the re-rank should broadcast:\n$plan")
  }

  test("dup density: shingle text never shuffles — hash-only exchanges") {
    val plan = graft.ext.ExtQueries.dupDensity(spark, sfDir)
      .queryExecution.executedPlan.toString
    graft.std.Materialize.releaseAll()
    assert(!plan.contains("CartesianProduct"),
      s"t68 grew a cartesian:\n$plan")
    // the df join keys on the 64-bit hash: no sort-merge on strings
    assert(!"SortMergeJoin .*sh#".r.findFirstIn(plan).isDefined,
      s"t68 must join on hashes, not shingle strings:\n$plan")
  }

  test("cadence profile: gap windows then partial-agg — no cartesian, " +
    "and the KM survival frame collapses before its windows") {
    val p1 = graft.ext.ExtQueries.cadenceProfile(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!p1.contains("CartesianProduct") &&
      !p1.contains("BroadcastNestedLoopJoin"),
      s"x51 grew a non-equi join:\n$p1")
    val p2 = graft.ext.ExtQueries.survivalCurve(spark, sfDir)
      .queryExecution.executedPlan.toString
    // x52's one intentional broadcast-nested-loop is the 1-row
    // horizon crossJoin; anything beyond that is a regression
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p2).length
    assert(bnlj <= 1 && !p2.contains("CartesianProduct"),
      s"x52 grew $bnlj nested-loop joins (1 allowed: the horizon):\n$p2")
  }

  test("temporal alignment: window keys join equi, heavy keys capped") {
    val plan = graft.ext.ExtQueries.mediaTemporalAlignment(spark, sfDir)
      .queryExecution.executedPlan.toString
    graft.std.Materialize.releaseAll()
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"m8's pair generation must stay an equi-self-join on wkey:\n$plan")
  }

  test("GraftExtensions applies cleanly to a fresh extension set") {
    // the shared test session is already built, so spark.sql.extensions
    // can't be exercised end-to-end here; the SQL surface itself is
    // covered by the registerFunctions test above
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new graft.GraftExtensions().apply(ext)
  }
}
