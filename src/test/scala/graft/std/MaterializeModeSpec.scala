package graft.std

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.ext.ExtQueries

/** The materialize-once contract must hold under BOTH mechanisms: the
  * single-node `localCheckpoint` default and the cluster-safe
  * `persist(DISK_ONLY)` mode (lineage kept ⇒ executor loss recomputes
  * instead of failing). Call sites never see the difference — proven by
  * running the heaviest pinned pipeline (MinHash→LSH→verify, two pins)
  * end-to-end under each mode and comparing rows.
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

  /** r22: the partitioned standing-state pin must (a) return the same
    * rows, (b) leave consumers keyed on the pin key exchange-free —
    * the contract the warm curation lookup joins lean on — and
    * (c) free BOTH its cache entry and the checkpoint RDD under it on
    * releasePin. Proven under both materialize modes (the disk mode
    * skips the checkpoint, so (c)'s RDD half is local-mode-only).
    */
  test("pinUnregisteredBy: same rows, key-partitioned consumers plan " +
    "no exchange, releasePin frees the blocks") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val in = (1 to 1000).map(i => (i.toLong % 97, i.toLong)).toDF("k", "v")
    for (mode <- Seq("local", "disk")) {
      spark.conf.set("spark.graft.materialize.mode", mode)
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val p = try Materialize.pinUnregisteredBy(in, col("k"))
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
