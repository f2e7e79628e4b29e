package graft.std

import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.ext.ExtQueries

/** The materialize-once contract must hold under BOTH mechanisms: the
  * single-node `localCheckpoint` default and the cluster-safe DISK_ONLY
  * mode (lineage kept ⇒ executor loss recomputes instead of failing). Call sites never see the difference — proven by
  * running the pinned pipelines (MinHash→LSH→verify, k-means, connected
  * components) end-to-end under each mode and comparing rows — and
  * every pin dies with its owner.
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
    * (c) free BOTH its cache entry and the checkpoint RDD under it on
    * releasePin. Proven under both materialize modes (the disk mode
    * skips the checkpoint, so (c)'s RDD half is local-mode-only).
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
    val pinned = Materialize.once(Seq(1, 2, 3).toDF("v"))
    val rddId = pinned.queryExecution.logical match {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
      case other => fail(s"expected LogicalRDD, got ${other.getClass}")
    }
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
        strayId = Materialize.once(Seq(3, 4).toDF("v"))
          .queryExecution.logical match {
          case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
          case other => fail(s"expected LogicalRDD, got ${other.getClass}")
        }
      })
      t.start(); t.join()
    }
    assert(spark.sparkContext.getPersistentRDDs.contains(strayId),
      "a worker-thread pin registers outside the scope")
    Materialize.releaseAll()
    assert(!spark.sparkContext.getPersistentRDDs.contains(strayId))
  }
}
