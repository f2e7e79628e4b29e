package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.Bench.{Env, Record, Timed}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The bench outlier guard and its record. Same-code bench records on a
  * shared host disagree per query by up to 55x (x35 0.42 vs 23.04 s)
  * because min-of-3 still loses when every rep lands in a contended
  * window, so each query's min is graded against the historical minimum
  * and re-run in bounded retries. These tests pin the pure pieces: the
  * baseline parser over the record Bench writes, the anomaly rule's
  * boundaries (3x AND +1 s absolute; failures never retried), and the
  * record's file and stdout forms, read back the way a consumer reads
  * them (a JSON parser, not substrings).
  */
class BenchGuardSpec extends AnyFunSuite {

  private val reader = new ObjectMapper()
  private def tree(json: String): JsonNode = reader.readTree(json)

  /** A record-scale [[Record]] with the defaults a test does not vary. */
  private def record(timed: Seq[Timed], baseline: Map[String, Double],
                     canaryStart: Seq[(String, Double)] = Nil,
                     canaryEnd: Seq[(String, Double)] = Nil,
                     canaryStartMs: Long = 0L, canaryEndMs: Long = 0L,
                     memo: Seq[(String, (Long, Long))] = Nil,
                     full: String = "/x.json",
                     sf: String = "/root/testdata/sf0.1"): Record =
    Record(timed, baseline, canaryStart, canaryEnd, canaryStartMs,
      canaryEndMs, memo, Env(4, 4, "local", "4.1.0"), full, sf, reps = 3)

  test("parseBaseline reads the queries object of a BENCH_FULL record") {
    val json = """{"metric":"total","value":204.7,"unit":"sec",""" +
      """"queries":{"q1_revenue_by_month":0.412,"x35_cdc_apply":0.42,""" +
      """"x58_betweenness":14.22},"flaky":[],"full":"/x.json",""" +
      """"sf":"/root/testdata/sf0.1","reps":3,""" +
      """"samples":{"q1_revenue_by_month":[0.5,0.412,0.6]}}"""
    val b = Bench.parseBaseline(json)
    assert(b === Map("q1_revenue_by_month" -> 0.412,
      "x35_cdc_apply" -> 0.42, "x58_betweenness" -> 14.22))
  }

  test("parseBaseline is tolerant of junk") {
    assert(Bench.parseBaseline("") === Map.empty)
    assert(Bench.parseBaseline("{\"metric\":\"total\"}") === Map.empty)
    assert(Bench.parseBaseline("not json at all") === Map.empty)
    // a non-numeric value drops that key only
    assert(Bench.parseBaseline("""{"queries":{"a":1.5,"b":"oops"}}""") ===
      Map("a" -> 1.5))
    assert(Bench.parseBaseline("""{"queries":{"a":1.5,"b":null}}""") ===
      Map("a" -> 1.5))
  }

  test("anomaly rule: both 3x and +1s absolute must hold") {
    // the x35 case: 23.04 vs 0.42 committed — anomalous
    assert(Bench.isAnomalous(23.04, Some(0.42)))
    // sub-second jitter: 4x ratio but under the +1 s floor — not
    assert(!Bench.isAnomalous(0.4, Some(0.1)))
    // big absolute but under 3x: a 14 s query drifting to 20 s — not
    assert(!Bench.isAnomalous(20.0, Some(14.2)))
    // exactly at the 3x boundary is NOT anomalous (strict >)
    assert(!Bench.isAnomalous(1.26, Some(0.42)))
    // just past both bounds is
    assert(Bench.isAnomalous(1.43, Some(0.42)))
    // r22 heavy tier: the r21 miss — 11.72 s vs a 6.9 s history is
    // 1.7x and +4.8 s: anomalous now (was under the 3x tier)
    assert(Bench.isAnomalous(11.72, Some(6.9)))
    // heavy but under 1.5x (20 vs 14.2 = 1.41x): still not anomalous
    assert(!Bench.isAnomalous(20.0, Some(14.2)))
    // 1.5x+ but under the +3 s floor (2.2 vs 1.2): sub-3s jitter, not
    // anomalous — the tier must never touch small queries
    assert(!Bench.isAnomalous(2.2, Some(1.2)))
  }

  test("anomaly rule: failures and missing baselines never retry") {
    assert(!Bench.isAnomalous(-1.0, Some(0.42)))
    assert(!Bench.isAnomalous(23.04, None))
    assert(!Bench.isAnomalous(23.04, Some(-1.0)))
  }

  test("parseBaseline round-trips the REAL record writer output") {
    // the parser is coupled to the writer's layout; pinning it against a
    // hand-built string would let format drift silently disarm the
    // guard, so this writes a record through Bench's own writer
    val timed = Seq(
      Timed("q1_revenue_by_month", Seq(0.512, 0.412, -1.0), Nil, 1L),
      Timed("x35_cdc_apply", Seq(0.52, 0.42, -1.0), Nil, 2L),
      Timed("x58_betweenness", Seq(14.32, 14.22, -1.0), Seq(15.0, -1.0), 3L))
    val rec = record(timed, baseline = Map("x58_betweenness" -> 4.0),
      canaryStart = Seq("q1_revenue_by_month" -> 0.41),
      canaryEnd = Seq("q1_revenue_by_month" -> 0.83),
      memo = Seq("cleaned:/root/testdata/sf0.1" -> ((11L, 1L)),
        "contamination" -> ((4L, 2L))))
    val json = Bench.toJson(rec.file)
    assert(Bench.parseBaseline(json) === Map("q1_revenue_by_month" -> 0.412,
      "x35_cdc_apply" -> 0.42, "x58_betweenness" -> 14.22))
    val t = tree(json)
    assert(t.path("value").asDouble === 0.412 + 0.42 + 14.22)
    // retries live in their own map: `reps` still describes the samples
    // arrays, and a failed retry rep must not contaminate them
    assert(t.path("reps").asInt === 3)
    assert(t.path("retries") === tree("""{"x58_betweenness":[15.0,-1.0]}"""))
    assert(t.path("samples").path("q1_revenue_by_month") ===
      tree("[0.512,0.412,-1.0]"))
    // a rep that threw beside one that succeeded is flaky; the guard
    // flags the query still over its baseline after its retries
    assert(t.path("flaky") === tree(
      """["q1_revenue_by_month","x35_cdc_apply","x58_betweenness"]"""))
    assert(t.path("anomalous") === tree("""["x58_betweenness"]"""))
    // both canary bookends (a mid-run host step shows as end >> start)
    // and the memo hit/build counters (builds > 1 = eviction/rebuild)
    assert(t.path("canary_start") === tree("""{"q1_revenue_by_month":0.41}"""))
    assert(t.path("canary_end") === tree("""{"q1_revenue_by_month":0.83}"""))
    assert(t.path("memo") === tree(
      """{"cleaned:/root/testdata/sf0.1":{"hits":11,"builds":1},""" +
        """"contamination":{"hits":4,"builds":2}}"""))
    assert(t.path("env") === tree("""{"cpus":4,"shuffle_partitions":4,""" +
      """"materialize_mode":"local","spark_version":"4.1.0"}"""))
    // the committed records' top-level keys, in their order, plus env
    assert(t.fieldNames.asScala.toSeq === Seq("metric", "value", "unit",
      "queries", "flaky", "anomalous", "canary_start", "canary_end", "full",
      "sf", "reps", "samples", "retries", "memo", "started", "drift",
      "canary_start_ms", "canary_end_ms", "anomaly_context", "env"))
  }

  test("record carries per-query wall-clock timestamps and drift") {
    // every query's epoch-millis start plus the canary bookend
    // timestamps place each anomalous flag on the wall clock, and the
    // drift map prices the sub-retry-threshold regime against the
    // historical min, so compounding drift is visible record to record
    // without burning retries on sub-second jitter
    val rec = record(
      Seq(Timed("q1", Seq(0.5), Nil, 1755300000123L),
        Timed("t24", Seq(0.63), Nil, 1755300012456L)),
      baseline = Map("q1" -> 0.5, "t24" -> 0.31),
      canaryStartMs = 1755299990000L, canaryEndMs = 1755300100000L)
    val json = Bench.toJson(rec.file)
    val t = tree(json)
    assert(t.path("started") ===
      tree("""{"q1":1755300000123,"t24":1755300012456}"""))
    // drift is a number rounded to 2 dp (0.63 / 0.31 = 2.032...)
    assert(t.path("drift").path("t24").isNumber)
    assert(t.path("drift").path("t24").asDouble === 2.03)
    assert(t.path("drift").path("q1").asDouble === 1.0)
    assert(t.path("canary_start_ms").asLong === 1755299990000L)
    assert(t.path("canary_end_ms").asLong === 1755300100000L)
    // the extra maps must not confuse the baseline parser
    assert(Bench.parseBaseline(json) === Map("q1" -> 0.5, "t24" -> 0.63))
  }

  test("a disarmed guard marks the record, armed runs stay clean") {
    // a record-scale run with no baseline self-certifies "zero
    // anomalous"; guard_disarmed:true makes that state machine-readable
    val q1 = Seq(Timed("q1", Seq(1.0), Nil, 0L))
    val disarmed = record(q1, baseline = Map.empty)
    for (line <- Seq(disarmed.file, disarmed.summary).map(Bench.toJson))
      assert(tree(line).path("guard_disarmed").asBoolean, line)
    assert(Bench.parseBaseline(Bench.toJson(disarmed.file)) ===
      Map("q1" -> 1.0))
    val armed = record(q1, baseline = Map("q1" -> 1.0))
    val offScale = record(q1, baseline = Map.empty,
      sf = "/root/testdata/sf0.01")
    for (r <- Seq(armed, offScale);
         line <- Seq(r.file, r.summary).map(Bench.toJson))
      assert(tree(line).path("guard_disarmed").isMissingNode, line)
  }

  test("jstr escapes quotes, backslashes, and control characters") {
    // every string of the record is written as a JSON string literal
    // (jstr) by Bench.toJson
    assert(Bench.toJson("plain") === "\"plain\"")
    assert(Bench.toJson("a\"b") === "\"a\\\"b\"")
    assert(Bench.toJson("a\\b") === "\"a\\\\b\"")
    assert(Bench.toJson("a\nb") === "\"a\\nb\"")
    assert(Bench.toJson("a\u0001b") === "\"a\\u0001b\"")
    // a record whose full holds a quote, backslash and newline is one
    // line that parses, and its guard stays armed: invalid JSON would
    // make the tolerant parser silently disarm the next run's guard, and
    // a newline would split the one-line stdout record
    val path = "/tmp/we\"ird\\pa\nth.json"
    val rec = record(Seq(Timed("q1", Seq(1.0), Nil, 0L)),
      baseline = Map("q1" -> 1.0), full = path)
    for (line <- Seq(rec.file, rec.summary).map(Bench.toJson)) {
      assert(!line.contains('\n'), line)
      assert(tree(line).path("full").asText === path)
      assert(tree(line).path("guard_disarmed").isMissingNode)
    }
    assert(Bench.parseBaseline(Bench.toJson(rec.file)) === Map("q1" -> 1.0))
  }

  test("the stdout summary of a 263-query record fits 1,000 bytes; the " +
    "file keeps every query") {
    // the caller keeps only the trailing ~2,000 characters of output,
    // and a line carrying every query's value outgrew it: the summary
    // holds counts, the file under `full` holds the per-query maps
    val names = SparkEntry.registry.map(_.name).take(263)
    assert(names.size === 263)
    val timed = names.zipWithIndex.map { case (n, i) =>
      Timed(n, Seq(12.345678901, 11.234567891, if (i == 0) -1.0 else 10.5),
        Nil, 1755300000000L + i)
    }
    val canary = Bench.canaryKeys.map(_ -> 123.456789)
    val rec = record(timed,
      baseline = names.map(_ -> 10.0).toMap + (names(1) -> 1.0),
      canaryStart = canary, canaryEnd = canary,
      full = s"${Bench.repoRoot}/BENCH_FULL.json")
    val line = Bench.toJson(rec.summary)
    val bytes = line.getBytes("UTF-8").length
    assert(bytes <= 1000, s"summary line is $bytes bytes: $line")
    val s = tree(line)
    assert(s.path("counts") === tree(
      """{"queries":263,"failed":0,"flaky":1,"anomalous":1}"""))
    assert(s.path("value").asDouble === BigDecimal(rec.total)
      .setScale(3, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(s.path("canary_end").size === 4)
    assert(s.path("cpus").asInt === 4)
    for (k <- Seq("queries", "samples", "started", "drift"))
      assert(s.path(k).isMissingNode, k)
    val f = tree(Bench.toJson(rec.file))
    assert(f.path("queries").size === 263)
    assert(f.path("samples").size === 263)
    assert(f.path("full").asText === s.path("full").asText)
  }

  test("parseBaseline reads the committed BENCH_FULL.json and " +
    "BENCH_BASELINE.json") {
    // the same 263-key maps the substring scanner this parser replaced
    // read from both files; rewriting either record moves these pins
    def read(f: String) = Bench.parseBaseline(java.nio.file.Files.readString(
      java.nio.file.Paths.get(Bench.repoRoot, f)))
    val full = read("BENCH_FULL.json")
    assert(full.size === 263)
    assert(full("q1_revenue_by_month") === 0.165613781)
    assert(full("t4_lang_id") === 0.634701138)
    assert(full("x58_betweenness") === 12.899706173)
    val base = read("BENCH_BASELINE.json")
    assert(base.size === 263)
    assert(base("q1_revenue_by_month") === 0.117160649)
    assert(base("t4_lang_id") === 0.416482335)
    assert(base("x58_betweenness") === 6.992261394)
  }

  test("Env reads the session's cores, partitions, materialize mode and " +
    "Spark version") {
    val spark = SparkTestSession.spark
    assert(Env.of(spark) === Env(4, 4, "local", spark.version))
    spark.conf.set("spark.graft.materialize.mode", "disk")
    try assert(Env.of(spark).materializeMode === "disk")
    finally spark.conf.unset("spark.graft.materialize.mode")
  }

  test("record paths derive from the repo root, not a literal") {
    // r17 advice: /root/repo was hardcoded; now both the record and
    // the baseline anchor build from repoRoot (working directory or
    // the graft.repo.root override), and the sf0.1 gate is a boolean
    assert(Bench.isRecordScale("/root/testdata/sf0.1"))
    assert(Bench.isRecordScale("/any/where/sf0.1/"))
    assert(!Bench.isRecordScale("/root/testdata/sf0.01"))
    assert(Bench.defaultOut("/root/testdata/sf0.1") ==
      s"${Bench.repoRoot}/BENCH_FULL.json")
  }

  test("parseBaseline reads the baseline-builder layout too") {
    // tools/build_bench_baseline.py writes {"built_from":..,"queries":{..}}
    val b = Bench.parseBaseline(
      """{"built_from":"git log -- BENCH_FULL.json (16 records)",""" +
        """"queries":{"a":0.7,"b":1.1}}""")
    assert(b === Map("a" -> 0.7, "b" -> 1.1))
  }

  test("only sf0.1 runs default their record into the repo") {
    // committed BENCH_FULL.json is the guard's anchor corpus; sf0.01
    // smoke records committed under the same name poisoned the minima
    // with ~10x-smaller-corpus numbers (the r17 s2 forensics)
    assert(Bench.defaultOut("/root/testdata/sf0.1") ==
      s"${Bench.repoRoot}/BENCH_FULL.json")
    assert(Bench.defaultOut("/root/testdata/sf0.1/") ==
      s"${Bench.repoRoot}/BENCH_FULL.json")
    assert(Bench.defaultOut("/root/testdata/sf0.01") ==
      "/tmp/BENCH_FULL_sf0.01.json")
    assert(Bench.defaultOut("/root/testdata/sf0.001") ==
      "/tmp/BENCH_FULL_sf0.001.json")
  }

  test("every canary key resolves in SparkEntry.queries") {
    // the host-speed witness set must not silently shrink when a
    // query is renamed — Bench logs an ERROR at runtime, and this
    // pins the keys at test time
    val missing = Bench.canaryKeys.filterNot(SparkEntry.queries.contains)
    assert(missing.isEmpty, s"canary keys missing from queries: $missing")
  }

  test("anomalyContext adjudicates shared-window vs isolated at record " +
    "time") {
    // four queries share a wall-clock window [0s, 100s]; a fifth runs
    // alone much later. Ratios: the window's cohabitants are all
    // inflated; the late one's neighbors (none) leave it undecidable;
    // a sixth sits among HEALTHY neighbors — the regression shape.
    val spans = Seq(
      ("a", 0L, 40_000L), ("b", 10_000L, 60_000L),
      ("c", 20_000L, 90_000L), ("d", 50_000L, 100_000L),
      ("late", 500_000L, 520_000L),
      ("lone", 1_000_000L, 1_020_000L),
      ("h1", 990_000L, 1_005_000L), ("h2", 1_010_000L, 1_030_000L))
    val ratios = Map("a" -> 3.2, "b" -> 2.1, "c" -> 4.0, "d" -> 1.9,
      "late" -> 3.5, "lone" -> 5.0, "h1" -> 1.0, "h2" -> 1.1)
    val ctx = Bench.anomalyContext(spans, ratios,
      Seq("a", "late", "lone")).toMap
    assert(ctx("a") === ((3, 3, "shared_slow_window")),
      "every overlapping neighbor inflated -> host window")
    assert(ctx("late") === ((0, 0, "no_neighbors")),
      "nothing overlapped -> undecidable at record time")
    assert(ctx("lone") === ((2, 0, "isolated")),
      "healthy neighbors -> regression candidate")
  }

  test("mergeBaselines anchors to the per-query historical MIN") {
    // the r16 failure mode: two consecutive ~1.7x drifts compound to
    // ~3x invisibly when the anchor ratchets off only the prior record.
    // Anchored to the min across records, the compounded value trips.
    val hist = Map("t24" -> 0.32, "t19" -> 0.34, "new_q" -> -1.0)
    val prior = Map("t24" -> 0.87, "added_q" -> 2.0)
    val m = Bench.mergeBaselines(Seq(hist, prior))
    assert(m === Map("t24" -> 0.32, "t19" -> 0.34, "added_q" -> 2.0))
    // 1.66 s committed at r16 vs 0.32 historical min: flagged now
    assert(Bench.isAnomalous(1.66, m.get("t24")))
    // against only the prior record it slid under the 3x trigger
    assert(!Bench.isAnomalous(1.66, prior.get("t24")))
  }
}
