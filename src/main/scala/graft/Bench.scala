package graft
import org.apache.spark.sql.SparkSession
object Bench {
  /** Per-query minimums of a prior bench record, parsed from the
    * BENCH_FULL.json layout this file writes (`"queries":{"k":v,…}`).
    * Tolerant by design: a missing file, missing `queries` object, or
    * unparseable value yields an empty/partial map and the guard just
    * doesn't fire — a corrupt baseline must never fail the bench.
    * BenchGuardSpec round-trips this parser against the REAL
    * `fileJson` writer below, so a format change breaks a test instead
    * of silently disarming the guard.
    */
  private[graft] def parseBaseline(json: String): Map[String, Double] = {
    val marker = "\"queries\":{"
    val at = json.indexOf(marker)
    if (at < 0) Map.empty
    else {
      val start = at + marker.length
      val end = json.indexOf("}", start)
      if (end < 0) Map.empty
      else json.substring(start, end).split(",").iterator.flatMap { kv =>
        val c = kv.lastIndexOf(':')
        if (c < 0) None
        else {
          val k = kv.substring(0, c).trim
            .stripPrefix("\"").stripSuffix("\"")
          try Some(k -> kv.substring(c + 1).trim.toDouble)
          catch { case _: NumberFormatException => None }
        }
      }.toMap
    }
  }

  /** Merge baseline maps per-query by MIN (ignoring failure marks).
    * The r16 lesson: anchoring the guard to only the immediately-prior
    * record lets compounding drift ratchet past the 3x trigger —
    * t24–t27 reached 3–5x over r15 in two under-threshold steps and the
    * record self-certified clean. The anchor is therefore the per-query
    * minimum across ALL committed records (BENCH_BASELINE.json, built
    * by tools/build_bench_baseline.py from git history) merged with the
    * prior record on disk (which alone guards queries newer than the
    * baseline build).
    */
  private[graft] def mergeBaselines(
      ms: Seq[Map[String, Double]]): Map[String, Double] =
    ms.flatMap(_.iterator).filter(_._2 >= 0)
      .groupMapReduce(_._1)(_._2)(math.min)

  /** Host-noise guard: is this query's min-of-reps anomalous against
    * the historical baseline? Three rounds running, same-code records
    * disagreed per-query by up to 55x (x35 0.42 vs 23.04 s) from host
    * contention alone — min-of-3 is not enough when all three reps land
    * in a contended window. Anomalous = BOTH >3x the baseline min AND
    * >1 s absolute over it (the absolute floor keeps sub-second jitter
    * — 0.1 -> 0.4 s — from triggering retries), OR — the heavy-query
    * tier, r22 — >1.5x AND >3 s absolute: the r21 driver run committed
    * pipeline_curation_increment2_neardup at 11.72 s against a 6.9 s
    * history (1.7x, +4.8 s) without a retry because only the 3x tier
    * existed, and the round's top regression was a one-run artifact
    * the record itself could have retired. The +3 s floor keeps the
    * tier away from every sub-3-second query, where 1.5x is routine
    * jitter. Failed queries (min < 0) are never retried here; -1 must
    * stay visible as a failure, not be retried into a fluke success.
    */
  private[graft] def isAnomalous(minSec: Double,
                                 baseline: Option[Double]): Boolean =
    minSec >= 0 && baseline.exists(b =>
      b >= 0 && ((minSec > 3 * b && minSec > b + 1.0) ||
        (minSec > 1.5 * b && minSec > b + 3.0)))

  /** Fixed canary set, measured at suite START (fresh JVM,
    * post-warmup, pre-suite) AND re-measured at suite END: shape-
    * diverse — a broadcast star join + agg, a per-row text-expression
    * scan, an iterative join-loop, and one memo/IO-bound member
    * (p14_sales_lines reads the cleaned-star-join checkpoint blocks
    * from storage, so disk/storage pressure has a witness). The r17
    * driver run exposed why one start-only CPU-shaped canary is not
    * enough: it read 1.41x the committed total with a HEALTHY start
    * canary while 44 memo-consuming queries read 2–31x committed —
    * a mid-run host step or memo eviction was invisible to a canary
    * that runs once, first, and never touches storage. With bookends,
    * end/start >> 1 on any member = the host degraded mid-suite;
    * p14 inflated while CPU members stay flat = storage-side pressure;
    * both flat while memo builds > 1 per tag (see the `memo` map in
    * the record) = eviction/rebuild.
    */
  private[graft] val canaryKeys: Seq[String] =
    Seq("q1_revenue_by_month", "t4_lang_id", "x20_pagerank",
      "p14_sales_lines")

  /** JSON string literal with escaping: a quote or backslash in
    * SPARK_GRAFT_BENCH_OUT/SF_DIR used to produce invalid JSON, and
    * because parseBaseline is tolerant-by-design the NEXT run's
    * outlier guard silently disarmed (r17 advice). Control characters
    * are \u-escaped so an embedded newline can't split the one-line
    * stdout record either.
    */
  private[graft] def jstr(s: String): String =
    s.flatMap {
      case '"'           => "\\\""
      case '\\'          => "\\\\"
      case c if c < ' '  => f"\\u${c.toInt}%04x"
      case c             => c.toString
    }.mkString("\"", "", "\"")

  /** Repo root for the record/guard paths, derived from the working
    * directory (sbt runs from the checkout root) instead of a
    * hardcoded absolute location (r17 advice: the literal
    * `/root/repo` broke the plumbing silently in any other clone).
    * `graft.repo.root` overrides for tests/tools that run elsewhere.
    */
  private[graft] def repoRoot: String =
    sys.props.getOrElse("graft.repo.root", System.getProperty("user.dir"))

  private[graft] def sfTag(sfDir: String): String =
    sfDir.stripSuffix("/").split('/').last

  /** Is this the committed-record scale? The sf0.1 gate is a boolean
    * on the sf tag, not a string compare against a literal path.
    */
  private[graft] def isRecordScale(sfDir: String): Boolean =
    sfTag(sfDir) == "sf0.1"

  /** Default record path: sf0.1 runs (the committed-record scale)
    * write into the repo; any other scale writes to /tmp under an
    * sf-tagged name. Committed BENCH_FULL.json is the historical
    * anchor corpus for the outlier guard, and sf0.01 smoke records
    * committed under the same filename poisoned the minima with
    * ~10x-smaller-corpus numbers (the r17 s2 forensics).
    * SPARK_GRAFT_BENCH_OUT still overrides explicitly.
    */
  private[graft] def defaultOut(sfDir: String): String =
    if (isRecordScale(sfDir)) s"$repoRoot/BENCH_FULL.json"
    else s"/tmp/BENCH_FULL_${sfTag(sfDir)}.json"

  /** Record-time adjudication context per anomalous query (r19 verdict
    * #3: the record carried per-query time coordinates but only the
    * post-hoc `tools/bench_timeline.py` consumed them — at record time
    * an `anomalous` flag could not say "inside a shared slow window"
    * vs "alone among fast neighbors", which is the analyzer's entire
    * verdict logic). For each anomalous query, look at every OTHER
    * query whose wall-clock span overlaps its own (padded `padMs`): a
    * true host window inflates its cohabitants too, a code regression
    * sits alone among healthy neighbors. Returns
    * name -> (neighbors, inflatedNeighbors, verdict) with verdict one
    * of `shared_slow_window` (half or more neighbors inflated, or 3+),
    * `isolated` (neighbors exist, mostly healthy — treat as a real
    * regression candidate), `no_neighbors` (nothing overlapped —
    * undecidable at record time).
    */
  private[graft] def anomalyContext(
      spans: Seq[(String, Long, Long)],
      ratios: Map[String, Double],
      anomalous: Seq[String],
      padMs: Long = 30000L,
      inflRatio: Double = 1.5): Seq[(String, (Int, Int, String))] =
    anomalous.flatMap { a =>
      spans.find(_._1 == a).map { case (_, s, e) =>
        // only neighbors WITH a baseline ratio can witness host state
        // either way — a query new this round has no drift ratio, and
        // counting it as "healthy" biased verdicts toward `isolated`
        // in rounds that add queries (r20 advice)
        val others = spans.filter { case (n, s2, e2) =>
          n != a && s2 <= e + padMs && e2 >= s - padMs &&
            ratios.contains(n)
        }
        val infl = others.count { case (n, _, _) =>
          ratios.get(n).exists(_ > inflRatio)
        }
        val verdict =
          if (others.isEmpty) "no_neighbors"
          else if (infl * 2 >= others.size || infl >= 3) "shared_slow_window"
          else "isolated"
        a -> ((others.size, infl, verdict))
      }
    }

  /** The one-line record head shared by stdout and the file copy.
    * `canaryStart`/`canaryEnd` are the suite bookends (same keys, same
    * min-of-reps statistic); end/start per key is the mid-run
    * host-drift witness the r17 driver run lacked. `guardDisarmed`
    * marks a record-scale run that found NO baseline (review finding:
    * the guard silently disarmed and the record still self-certified
    * "zero anomalous" — the flag makes a disarmed record
    * machine-distinguishable from a clean one).
    */
  private[graft] def headJson(results: Seq[(String, Double)],
                              canaryStart: Seq[(String, Double)],
                              canaryEnd: Seq[(String, Double)],
                              flaky: Seq[String],
                              anomalous: Seq[String],
                              outPath: String, sfDir: String,
                              fmt: Double => String,
                              guardDisarmed: Boolean = false): String = {
    def numMap(xs: Seq[(String, Double)]): String =
      xs.map { case (k, v) => jstr(k) + ":" + fmt(v) }
        .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    val fl = flaky.map(jstr).mkString("[", ",", "]")
    val anom = anomalous.map(jstr).mkString("[", ",", "]")
    val disarmed = if (guardDisarmed) ""","guard_disarmed":true""" else ""
    s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":${
      numMap(results)},"flaky":$fl,"anomalous":$anom$disarmed,"canary_start":${
      numMap(canaryStart)},"canary_end":${numMap(canaryEnd)},"full":${
      jstr(outPath)},"sf":${jstr(sfDir)}}"""
  }

  /** Full-precision file record: head + reps + every sample. Retry
    * runs live in their own `retries` map (r16 advice: appending them
    * to `samples` broke the `reps`-describes-array-length contract and
    * let a failed RETRY rep mark an otherwise-clean query flaky).
    * `memo` holds per-tag [hits, builds] from SessionMemo at suite end
    * — builds > 1 for a tag means the memoized frame was evicted and
    * rebuilt mid-suite, the one mechanism the r17 record could not
    * distinguish from host slowness.
    *
    * `started` maps each query to the epoch-millis its FIRST rep began
    * (r18 verdict #1: the driver run showed 19 queries >1.5x committed
    * clustered in three contiguous execution-order windows with healthy
    * memo/canary telemetry — transient host slowdown was the obvious
    * read but unprovable without time coordinates; with start
    * timestamps plus the durations already in `samples`, every
    * anomalous flag is plottable against wall time, and
    * `canary_start_ms`/`canary_end_ms` make the bookends the timeline's
    * endpoints).
    *
    * `drift` maps each baselined query to min-of-reps / historical-min
    * (2 dp). The guard policy for the small-query regime (r18
    * observation: t24/t27/x68/m4/t66 drifted ~2x vs r17 without
    * tripping): drifts under the retry trigger (3x AND +1 s) are
    * RECORDED here, not retried — min-of-3 on sub-second queries
    * jitters up to ~2x under host contention, so retrying them would
    * burn the bounded retry budget on noise, while the historical-min
    * anchor never ratchets and successive records' drift maps make a
    * compounding drift monotone and visible instead of silent.
    */
  private[graft] def fileJson(results: Seq[(String, Double)],
                              canaryStart: Seq[(String, Double)],
                              canaryEnd: Seq[(String, Double)],
                              flaky: Seq[String],
                              anomalous: Seq[String],
                              outPath: String, sfDir: String,
                              reps: Int,
                              samples: Seq[(String, Seq[Double])],
                              retries: Seq[(String, Seq[Double])],
                              memo: Seq[(String, (Long, Long))] = Nil,
                              started: Seq[(String, Long)] = Nil,
                              drift: Seq[(String, Double)] = Nil,
                              canaryStartMs: Long = 0L,
                              canaryEndMs: Long = 0L,
                              guardDisarmed: Boolean = false,
                              anomalyCtx: Seq[(String, (Int, Int, String))]
                                = Nil)
      : String = {
    def runsMap(xs: Seq[(String, Seq[Double])]): String =
      xs.map { case (k, runs) =>
        jstr(k) + ":[" + runs.mkString(",") + "]"
      }.mkString("{", ",", "}")
    val memoMap = memo.map { case (tag, (h, b)) =>
      jstr(tag) + s""":{"hits":$h,"builds":$b}"""
    }.mkString("{", ",", "}")
    val startedMap = started.map { case (k, ms) => jstr(k) + ":" + ms }
      .mkString("{", ",", "}")
    val driftMap = drift.map { case (k, r) =>
      jstr(k) + ":" + String.format(java.util.Locale.ROOT, "%.2f",
        Double.box(r))
    }.mkString("{", ",", "}")
    val ctxMap = anomalyCtx.map { case (k, (nb, infl, v)) =>
      jstr(k) + s""":{"neighbors":$nb,"inflated":$infl,"verdict":${jstr(v)}}"""
    }.mkString("{", ",", "}")
    headJson(results, canaryStart, canaryEnd, flaky, anomalous, outPath,
      sfDir, _.toString, guardDisarmed).dropRight(1) +
      s""","reps":$reps,"samples":${runsMap(samples)},"retries":${
        runsMap(retries)},"memo":$memoMap,"started":$startedMap,"drift":${
        driftMap},"canary_start_ms":$canaryStartMs,"canary_end_ms":${
        canaryEndMs},"anomaly_context":$ctxMap}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // n>=3 repeats per query, min reported: rounds 5-7 proved a
    // single-shot bench swings up to 26x on byte-identical code under
    // host contention (t4 0.56->14.7s with zero src diff). The min of
    // n runs is the contention-resistant statistic; all samples go to
    // the JSON file copy so rep-1 warm-up (memo builds, codegen) stays
    // auditable.
    val reps = 3
    val spark = SparkEntry.localSession()
    // untimed warmup: JVM/codegen/parquet-reader startup otherwise lands
    // entirely on the alphabetically-first query (measured ~6s of the
    // first entry's wall time)
    try SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }
    // Guard anchor: per-query MIN across the committed historical
    // baseline (BENCH_BASELINE.json) AND the prior record at this
    // run's own output path, read BEFORE this run overwrites it (the
    // prior record alone covers queries added after the baseline
    // build). The committed baseline holds sf0.1 minima, so it joins
    // the merge ONLY for sf0.1 runs — grading a larger-sf run against
    // 10x-smaller-corpus minima would flag every honest reading and
    // burn the retry budget suite-wide (the same cross-sf poisoning
    // class defaultOut guards the record against).
    // SPARK_GRAFT_BENCH_BASELINE overrides with a single file; point it
    // at an absent path to disable the guard.
    def readBaseline(p: String): Map[String, Double] =
      try parseBaseline(java.nio.file.Files.readString(
        java.nio.file.Paths.get(p)))
      catch { case _: Throwable => Map.empty }
    val priorRecord =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", defaultOut(sfDir))
    val baselinePaths = sys.env.get("SPARK_GRAFT_BENCH_BASELINE")
      .map(Seq(_)).getOrElse(
        if (isRecordScale(sfDir))
          Seq(s"$repoRoot/BENCH_BASELINE.json", priorRecord)
        else Seq(priorRecord))
    val baseline = mergeBaselines(baselinePaths.map(readBaseline))
    // a record-scale run with NO baseline means the outlier guard is
    // disarmed — loud, because every path here is silent by design
    // (tolerant parser, repoRoot from the working directory): a bench
    // launched from the wrong cwd would otherwise write its record
    // outside the repo and self-certify clean (review finding)
    val guardDisarmed = isRecordScale(sfDir) && baseline.isEmpty
    if (guardDisarmed)
      System.err.println(
        s"[bench] ERROR no baseline found at ${baselinePaths.mkString(", ")}"
          + " — outlier guard DISARMED; is the working directory the"
          + " repo root? (record carries guard_disarmed:true)")
    val maxRetries = 2
    def storageUsedMb: Long = {
      val s = spark.sparkContext.getExecutorMemoryStatus.values
        .map { case (max, rem) => max - rem }.sum
      s / (1024 * 1024)
    }
    // key → first error of every query that threw in any run (canary,
    // rep or retry): written to failures.json beside the record, and
    // the bench exits 1 when it is non-empty
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def oneRun(name: String,
               fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : Double = {
      val t0 = System.nanoTime()
      // noop-format write forces full evaluation of every column; a bare
      // count() would let Catalyst prune projection-shaped queries down
      // to the scan (benching the reader, not the operator).
      val t = try {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        if (!failures.contains(name)) failures(name) = e.toString
        // -1 marks a failed query in the JSON; a thrown query must not
        // masquerade as a fast success
        -1.0
      }
      // drop the query's materialize-once pins before the next run —
      // accumulated checkpoint blocks squeeze execution memory and
      // made round-3's late dedup queries nondeterministically 10x
      // slow. Session memos (shared clusters / profile / cleaned
      // frame) are unregistered pins and deliberately survive.
      graft.std.Materialize.releaseAll()
      t
    }
    // Canary bookends: the fixed set runs FIRST (clean-session numbers,
    // before any suite aging) and again LAST (same keys, same
    // statistic) — a mid-run host step shows as end/start >> 1, which
    // a start-only canary structurally cannot see (the r17 driver run:
    // healthy start canary, 44 queries at 2–31x committed). Skipped
    // under SPARK_GRAFT_ONLY (local iteration).
    val canaryEnabled = !sys.env.contains("SPARK_GRAFT_ONLY")
    def runCanary(label: String): Seq[(String, Double)] =
      if (!canaryEnabled) Nil
      else canaryKeys.flatMap { k =>
        val fn = SparkEntry.queries.get(k)
        // a renamed/removed canary key must fail LOUDLY: silently
        // shrinking the host-speed witness set defeats its purpose
        if (fn.isEmpty) System.err.println(
          s"[bench] ERROR canary key $k not in SparkEntry.queries " +
            "— host-speed witness set is incomplete")
        fn.map { f =>
          val runs = (1 to reps).map(_ => oneRun(k, f))
          val ok = runs.filter(_ >= 0)
          val m = if (ok.isEmpty) -1.0 else ok.min
          System.err.println(
            f"[bench] canary($label) $k%-17s min=$m%.3f samples=${
              runs.map(r => f"$r%.3f").mkString(",")}")
          k -> m
        }
      }
    val canaryStartMs = System.currentTimeMillis()
    val canaryStart = runCanary("start")
    // SPARK_GRAFT_ONLY=d2,q1 runs a comma-separated subset (local
    // iteration; SparkEntry.selected holds the shared rule)
    val measured = SparkEntry.selected.sortBy(_.name).map { q =>
      val (name, fn) = (q.name, q.run _)
      val startedMs = System.currentTimeMillis()
      val runs = (1 to reps).map(_ => oneRun(name, fn))
      // outlier guard: a min-of-reps far above the historical baseline
      // means ALL reps landed in a contended window — re-run (bounded)
      // rather than commit a 55x host artifact as if it were a code
      // regression. Queries still anomalous after the retries are
      // flagged in the JSON so the record grades itself.
      def minOk(rs: Seq[Double]): Double = {
        val ok = rs.filter(_ >= 0); if (ok.isEmpty) -1.0 else ok.min
      }
      var retryRuns = Vector.empty[Double]
      while (retryRuns.length < maxRetries &&
          isAnomalous(minOk(runs ++ retryRuns), baseline.get(name))) {
        System.err.println(f"[bench] $name retry ${retryRuns.length + 1}:" +
          f" min=${minOk(runs ++ retryRuns)}%.3f" +
          f" vs baseline=${baseline(name)}%.3f")
        retryRuns :+= oneRun(name, fn)
      }
      // leak telemetry between queries (stderr — the driver's stdout
      // tail budget is ~2.9 KB): registered pins must be 0 here, and
      // storage should hold only the session memos, flat across queries
      System.err.println(f"[bench] $name%-24s samples=${
        runs.map(r => f"$r%.3f").mkString(",")}${
        if (retryRuns.nonEmpty)
          " retries=" + retryRuns.map(r => f"$r%.3f").mkString(",")
        else ""} pins=${
        graft.std.Materialize.pinCount} storageMB=$storageUsedMb")
      (name, runs, retryRuns, startedMs)
    }
    def allMin(runs: Seq[Double], retries: Seq[Double]): Double = {
      val ok = (runs ++ retries).filter(_ >= 0)
      if (ok.isEmpty) -1.0 else ok.min
    }
    val anomalous = measured.collect {
      case (name, runs, rts, _)
        if isAnomalous(allMin(runs, rts), baseline.get(name)) => name
    }
    val results = measured.map { case (name, runs, rts, _) =>
      name -> allMin(runs, rts)
    }
    // min-of-reps must not mask intermittent failures: a query that
    // threw in some ORIGINAL reps but succeeded once is flaky. Retry
    // runs don't count here (r16 advice) — a retry failure stays
    // visible in the `retries` map without tainting a clean rep set.
    val flaky = measured.collect {
      case (name, runs, _, _)
        if runs.contains(-1.0) && runs.exists(_ >= 0) => name
    }
    val retries = measured.collect {
      case (name, _, rts, _) if rts.nonEmpty => (name, rts.toSeq)
    }
    // drift-vs-historical-min per baselined query (see fileJson doc):
    // the record's own readout of the sub-threshold regime the retry
    // guard deliberately leaves alone
    val drift = results.collect {
      case (name, m) if m >= 0 && baseline.get(name).exists(_ > 0) =>
        name -> m / baseline(name)
    }
    // End bookend AFTER the suite, BEFORE the record is written: its
    // divergence from canaryStart is the record's own evidence of
    // mid-run host drift.
    val canaryEndMs = System.currentTimeMillis()
    val canaryEnd = runCanary("end")
    // Memo telemetry: per-tag hits/builds since JVM start. One build
    // per tag is the expected steady state; builds > 1 means the
    // memoized frame (cleaned star join, cluster resolution,
    // contamination profile, IVF corpora) was evicted and rebuilt
    // mid-suite — if q1b ever reads 5 s again, the record itself says
    // whether the star join was rebuilt.
    val memoStats = graft.std.SessionMemo.counters.toSeq.sortBy(_._1)
    memoStats.foreach { case (tag, (h, b)) =>
      System.err.println(s"[bench] memo $tag hits=$h builds=$b")
    }
    // stdout gets 3-dp min values: the driver captures only the last
    // ~2.9 KB of output, and round 4's 76-query full-precision line
    // (~3.3 KB) overflowed that window — its head was cut and the JSON
    // never parsed. 3 dp keeps the line under ~2.2 KB; the file copy
    // keeps full precision plus every sample.
    // full-precision copy with every sample lands INSIDE the repo so the
    // round archives it: the driver keeps only the trailing ~2.9 KB of
    // stdout, which cut 17 of r9's 90 per-query timings off the JSON
    // tail — the stdout line names this path under "full" so the
    // complete per-query record is always recoverable.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      defaultOut(sfDir))
    val samples = measured.map { case (name, runs, _, _) => (name, runs) }
    val started = measured.map { case (name, _, _, ms) => (name, ms) }
    // record-time adjudication of each anomalous flag (see
    // anomalyContext): span = first-rep start + every rep AND retry
    // duration (retries occupy the wall clock too — the r19
    // bench_timeline advice applied at the source)
    val spans = measured.map { case (name, runs, rts, ms) =>
      val dur = (runs ++ rts).filter(_ >= 0).sum
      (name, ms, ms + (dur * 1000).toLong)
    }
    val anomCtx = anomalyContext(spans, drift.toMap, anomalous)
    anomCtx.foreach { case (name, (nb, infl, v)) =>
      System.err.println(
        s"[bench] anomaly $name: $infl/$nb overlapping queries inflated" +
          s" — $v")
    }
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(outPath),
      fileJson(results, canaryStart, canaryEnd, flaky, anomalous,
        outPath, sfDir, reps, samples, retries, memoStats, started,
        drift, canaryStartMs, canaryEndMs, guardDisarmed, anomCtx))
    catch { case _: Throwable => () }
    val failuresPath = java.nio.file.Paths.get(outPath).toAbsolutePath
      .resolveSibling("failures.json")
    Verify.writeJson(failuresPath.toFile, failures.toMap)
    println(headJson(results, canaryStart, canaryEnd, flaky, anomalous,
      outPath, sfDir,
      v => String.format(java.util.Locale.ROOT, "%.3f", Double.box(v)),
      guardDisarmed))
    // free the session memos (cleaned star join, clusters, profile)
    // before stop — keeps the pin lifecycle honest end-to-end
    graft.std.SessionMemo.releaseSession(spark)
    spark.stop()
    if (failures.nonEmpty) {
      System.err.println(s"[bench] ${failures.size} queries failed: " +
        s"see $failuresPath")
      sys.exit(1)
    }
  }
}
