package graft.std

import org.apache.spark.SparkEnv
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.{RDDBlockId, StorageLevel}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.ext.ExtQueries

/** The materialize-once contract must hold under BOTH modes: the
  * single-node local-checkpoint default and the cluster-safe DISK_ONLY
  * mode (lineage kept ⇒ a lost block recomputes instead of failing).
  * Call sites never see the difference — proven by running the pinned
  * pipelines (MinHash→LSH→verify, k-means, connected components)
  * end-to-end under each mode and comparing rows — every pin, plain or
  * keyed, is built once into one RDD behind a one-node plan, and every
  * pin dies with its owner.
  */
class MaterializeModeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val sfDir = "/root/testdata/sf0.001"

  test("dedup pipeline rows identical under local and disk modes") {
    def run(): Set[(Long, Long, Double)] =
      ExtQueries.minHashLshPairs(spark, sfDir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    spark.conf.set("spark.graft.materialize.mode", "local")
    val local = try run() finally Materialize.releaseAll()
    spark.conf.set("spark.graft.materialize.mode", "disk")
    val disk = try run() finally {
      Materialize.releaseAll()
      spark.conf.unset("spark.graft.materialize.mode")
    }
    assert(local.nonEmpty)
    assert(local == disk)
  }

  /** The k-means loop pins its vector frame and (memoized) its final
    * assignment; both must hold under `disk` as under `local`. The
    * training memo is released between modes so each mode trains.
    */
  test("k-means training (s18) and the elbow sweep (s26) rows identical " +
    "under local and disk modes") {
    def run(): (Set[String], Set[String]) = {
      val train = ExtQueries.kmeansTrain(spark, sfDir)
        .collect().map(_.toString).toSet
      val elbow = ExtQueries.kmeansElbow(spark, sfDir)
        .collect().map(_.toString).toSet
      (train, elbow)
    }
    def release(): Unit = {
      Materialize.releaseAll()
      SessionMemo.releaseSession(spark)
    }
    spark.conf.set("spark.graft.materialize.mode", "local")
    val local = try run() finally release()
    spark.conf.set("spark.graft.materialize.mode", "disk")
    val disk = try run() finally {
      release()
      spark.conf.unset("spark.graft.materialize.mode")
    }
    assert(local._1.nonEmpty && local._2.size == 4)
    assert(local == disk)
  }

  /** The partitioned standing-state pin must (a) return the same
    * rows, (b) leave consumers keyed on the pin key exchange-free —
    * the contract the warm curation lookup joins lean on — and
    * (c) free every block it holds on releasePin. Proven under both
    * materialize modes.
    */
  test("pinUnregistered with keys: same rows, key-partitioned consumers " +
    "plan no exchange, releasePin frees the blocks") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val in = (1 to 1000).map(i => (i.toLong % 97, i.toLong)).toDF("k", "v")
    for (mode <- Seq("local", "disk")) {
      spark.conf.set("spark.graft.materialize.mode", mode)
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val p = try Materialize.pinUnregistered(in, col("k"))
      finally spark.conf.unset("spark.graft.materialize.mode")
      assert(p.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
        in.collect().map(r => (r.getLong(0), r.getLong(1))).toSet,
        s"rows must survive the $mode pin")
      // a groupBy on the pin key must satisfy its distribution from
      // the cached repartition — zero shuffle exchanges in the plan
      val agg = p.groupBy(col("k")).agg(count(lit(1)))
      agg.write.format("noop").mode("overwrite").save()
      assert(graft.sources.Bucketing.exchangeCount(agg) == 0,
        s"$mode-mode pin must make key-grouped consumers exchange-free")
      Materialize.releasePin(p)
      assert(spark.sparkContext.getPersistentRDDs.keySet
        .diff(before).isEmpty,
        s"releasePin must free every block the $mode pin created")
    }
  }

  /** Connected components (d5's label propagation, x48's star
    * contraction) pins every superstep, so `disk` mode must cover the
    * whole loop: the same rows as `local`, and no storage level but
    * DISK_ONLY on any RDD a stage touched during the disk run. Each mode
    * runs on its own session, so its memo entries are its own.
    */
  test("connected components (d5, x48): rows identical under local and " +
    "disk modes, every disk-mode pin DISK_ONLY") {
    def run(mode: String): (Set[String], Set[StorageLevel]) = {
      val s = spark.newSession()
      s.conf.set("spark.graft.materialize.mode", mode)
      try {
        val (rows, jobs) = graft.JobCounter(s) {
          ExtQueries.dedupClusters(s, sfDir).collect().map(_.toString)
            .toSet ++
            ExtQueries.components(s, sfDir).collect().map("x48" + _)
        }
        val levels = jobs.flatMap(_.stageInfos.flatMap(_.rddInfos))
          .map(_.storageLevel).filter(_ != StorageLevel.NONE).toSet
        (rows.get, levels)
      } finally {
        Materialize.releaseAll()
        SessionMemo.releaseSession(s)
      }
    }
    val (local, _) = run("local")
    val (disk, diskLevels) = run("disk")
    assert(local.exists(_.startsWith("x48")) &&
      local.exists(!_.startsWith("x48")))
    assert(local == disk)
    assert(diskLevels == Set(StorageLevel.DISK_ONLY),
      s"disk mode persisted at $diskLevels")
  }

  /** x48 and d11 end in connected components; their pins die with the
    * query. Two runs per mode leave exactly the memo's own pins (d11's
    * pair memo) behind — no growth per run — and releaseSession frees
    * those. The context's persistent-RDD map holds weak values, so the
    * checks are on what is NEW since the start.
    */
  test("connected-components queries leave only memo pins after " +
    "releaseAll, and releaseSession frees those, in both modes") {
    val sc = spark.sparkContext
    def persisted: Set[Int] = sc.getPersistentRDDs.keySet.toSet
    for (mode <- Seq("local", "disk")) {
      val s = spark.newSession()
      s.conf.set("spark.graft.materialize.mode", mode)
      val before = persisted
      val held = (1 to 2).map { _ =>
        ExtQueries.components(s, sfDir).collect()
        Materialize.releaseAll()
        ExtQueries.semanticClusters(s, sfDir).collect()
        Materialize.releaseAll()
        persisted -- before
      }
      assert(SessionMemo.entryCount(s) == 1)
      assert(held.head.size == 1,
        s"$mode: ${held.head.size} RDDs held after releaseAll, " +
          "only the memo's one pin expected")
      assert(held(1) == held.head, s"$mode: pins grew across runs")
      SessionMemo.releaseSession(s)
      assert((persisted -- before).isEmpty,
        s"$mode: releaseSession left ${persisted -- before}")
    }
  }

  test("releaseAll drops localCheckpoint blocks") {
    import spark.implicits._
    val rddId = rddOf(Materialize.once(Seq(1, 2, 3).toDF("v")))
    assert(spark.sparkContext.getPersistentRDDs.contains(rddId))
    Materialize.releaseAll()
    assert(!spark.sparkContext.getPersistentRDDs.contains(rddId))
  }

  /** Ownership is per thread: a `once` that a `scoped` block dispatches
    * to a worker thread registers unscoped, so the scope's release
    * leaves it pinned and the next `releaseAll` frees it.
    */
  test("a worker-thread pin inside scoped registers unscoped and " +
    "releaseAll frees it") {
    import spark.implicits._
    var strayId = -1
    Materialize.scoped {
      val t = new Thread(() => {
        strayId = rddOf(Materialize.once(Seq(3, 4).toDF("v")))
      })
      t.start(); t.join()
    }
    assert(spark.sparkContext.getPersistentRDDs.contains(strayId),
      "a worker-thread pin registers outside the scope")
    Materialize.releaseAll()
    assert(!spark.sparkContext.getPersistentRDDs.contains(strayId))
  }

  private def pinIn(mode: String, df: DataFrame, keys: String*): DataFrame = {
    spark.conf.set("spark.graft.materialize.mode", mode)
    try Materialize.pinUnregistered(df,
      keys.map(org.apache.spark.sql.functions.col): _*)
    finally spark.conf.unset("spark.graft.materialize.mode")
  }

  private def rddOf(pinned: DataFrame): Int = pinned.queryExecution.logical
    match {
      case lr: LogicalRDD => lr.rdd.id
      case other => fail(s"expected LogicalRDD, got ${other.getClass}")
    }

  /** A keyed pin of a fresh aggregate is one build: the aggregate's
    * shuffle, the repartition's shuffle and one job that fills one
    * persistent RDD, read through a single `LogicalRDD` that declares
    * the key partitioning — so key-grouped consumers and a self-join
    * plan no exchange, and a join against an unpinned probe exchanges
    * the probe side only.
    */
  test("a keyed pin is built once into one RDD behind a one-node plan " +
    "that keeps its key partitioning, in both modes") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val sc = spark.sparkContext
    for (mode <- Seq("local", "disk")) {
      val agg = (1 to 5000).map(i => (i.toLong % 97, i.toLong)).toDF("k", "v")
        .groupBy("k").agg(sum("v").as("s"))
      val before = sc.getPersistentRDDs.keySet
      val (pinned, jobs) = graft.JobCounter(spark)(pinIn(mode, agg, "k"))
      val p = pinned.get
      info(s"$mode: ${jobs.size} jobs, " +
        s"${(sc.getPersistentRDDs.keySet -- before).size} new RDDs")
      try {
        assert(jobs.size <= 3, s"$mode: ${jobs.size} jobs to build the pin")
        assert((sc.getPersistentRDDs.keySet -- before) == Set(rddOf(p)),
          s"$mode: one new persistent RDD expected")
        assert(p.queryExecution.logical.isInstanceOf[LogicalRDD])
        val grouped = p.groupBy("k").agg(count(lit(1)))
        val selfJoin = p.join(p.select(col("k"), col("s").as("s2")), "k")
        for (q <- Seq(grouped, selfJoin))
          assert(graft.sources.Bucketing.exchangeCount(q) == 0,
            s"$mode: ${q.queryExecution.executedPlan}")
        val key = "spark.sql.autoBroadcastJoinThreshold"
        val prev = spark.conf.getOption(key)
        spark.conf.set(key, "-1")
        try {
          val probe = (0L until 200L).toDF("k")
          val joined = p.join(probe, "k")
          assert(graft.sources.Bucketing.exchangeCount(joined) == 1,
            s"$mode: ${joined.queryExecution.executedPlan}")
          assert(joined.count() == 97)
        } finally prev match {
          case Some(v) => spark.conf.set(key, v)
          case None    => spark.conf.unset(key)
        }
        assert(p.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
          agg.collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
      } finally Materialize.releasePin(p)
    }
  }

  /** Losing a pinned block is what separates the modes: a `disk` pin,
    * plain or keyed, recomputes the block from its lineage and reads the
    * same rows; a `local` pin truncated its lineage and fails loudly.
    */
  test("a lost pin block recomputes under disk mode and fails under " +
    "local mode") {
    import spark.implicits._
    val in = (1 to 1000).map(i => (i.toLong % 97, i.toLong)).toDF("k", "v")
      .repartition(4)
    def rows(df: DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = rows(in)
    def dropBlock0(p: DataFrame): Unit = {
      val _ = SparkEnv.get.blockManager.removeBlock(RDDBlockId(rddOf(p), 0))
    }
    for (keys <- Seq(Nil, Seq("k"))) {
      val p = pinIn("disk", in, keys: _*)
      try {
        assert(rows(p) == expected)
        dropBlock0(p)
        assert(rows(p) == expected, s"disk pin keyed on $keys")
      } finally Materialize.releasePin(p)
    }
    val p = pinIn("local", in)
    try {
      dropBlock0(p)
      val e = intercept[Exception](p.collect())
      def chain(t: Throwable): List[Throwable] =
        if (t == null) Nil else t :: chain(t.getCause)
      assert(chain(e).exists(t => String.valueOf(t.getMessage)
        .contains("CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND")), e.toString)
    } finally Materialize.releasePin(p)
  }

  /** The benchmarked path: a plain `local` pin is Spark's own eager
    * local checkpoint — the same stats, partitioning and ordering on the
    * pinned node, built by the same number of jobs.
    */
  test("a plain local pin matches Dataset.localCheckpoint") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = (1 to 2000).map(i => (i.toLong % 31, i.toLong)).toDF("k", "v")
      .groupBy("k").agg(sum("v").as("s")).orderBy("k")
    // each side plans its own copy, so neither reuses the other's shuffles
    def built(pin: DataFrame => DataFrame): (DataFrame, Int) = {
      val (r, jobs) = graft.JobCounter(spark)(pin(df.select("*")))
      (r.get, jobs.size)
    }
    val (ours, ourJobs) = built(pinIn("local", _))
    val (theirs, theirJobs) = built(_.localCheckpoint(true))
    try {
      assert(ourJobs == theirJobs)
      val (a, b) = (ours.queryExecution.optimizedPlan,
        theirs.queryExecution.optimizedPlan)
      assert(a.stats == b.stats)
      (a, b) match {
        case (x: LogicalRDD, y: LogicalRDD) =>
          assert(x.outputPartitioning == y.outputPartitioning)
          assert(x.outputOrdering == y.outputOrdering)
        case other => fail(s"expected two LogicalRDDs, got $other")
      }
      assert(ours.collect().toSeq == theirs.collect().toSeq)
    } finally Seq(ours, theirs).foreach(Materialize.releasePin)
  }
}
