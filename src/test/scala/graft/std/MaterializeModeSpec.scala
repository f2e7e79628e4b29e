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

  /** The r14 ADVICE hazard: a `once` inside `scoped` but dispatched to
    * a worker thread registered UNSCOPED, so the scope's release left
    * it pinned (and a later global releaseAll could drop it under a
    * concurrent query). capturedScope/withScope closes the gap —
    * worker-thread pins adopt the caller's token and release with the
    * scoped block, exactly like same-thread pins.
    */
  test("withScope(capturedScope()) makes worker-thread pins release " +
    "with the enclosing scoped block") {
    import spark.implicits._
    def rddIdOf(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.logical match {
        case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
        case other => fail(s"expected LogicalRDD, got ${other.getClass}")
      }
    var adoptedId = -1
    var strayId = -1
    Materialize.scoped {
      val token = Materialize.capturedScope()
      val t = new Thread(() => {
        // adopted: releases when the scope exits
        adoptedId = rddIdOf(Materialize.withScope(token) {
          Materialize.once(Seq(1, 2).toDF("v"))
        })
        // unadopted control: stays pinned past the scope exit
        strayId = rddIdOf(Materialize.once(Seq(3, 4).toDF("v")))
      })
      t.start(); t.join()
      assert(spark.sparkContext.getPersistentRDDs.contains(adoptedId))
    }
    val live = spark.sparkContext.getPersistentRDDs
    assert(!live.contains(adoptedId),
      "adopted pin must release with its scope")
    assert(live.contains(strayId),
      "the unadopted control registers outside the scope")
    Materialize.releaseAll()
    assert(!spark.sparkContext.getPersistentRDDs.contains(strayId))
  }

  /** The r15 ADVICE hazard: a worker that adopts a scope token but
    * registers AFTER the scoped block exited (an elbow-sweep training
    * Future surviving its Await timeout) used to tag the pin with a
    * dead token that neither the scope (already released) nor
    * releaseAll (skips owner != null) would ever free. Registration
    * now checks token LIVENESS and falls back to an unscoped pin, so
    * the next releaseAll reclaims the straggler.
    */
  test("pins registered under a dead scope token fall back to " +
    "unscoped and releaseAll reclaims them") {
    import spark.implicits._
    var token: AnyRef = null
    Materialize.scoped { token = Materialize.capturedScope() }
    // scope has exited: the token is dead
    val late = Materialize.withScope(token) {
      Materialize.once(Seq(5, 6).toDF("v"))
    }
    val lateId = late.queryExecution.logical match {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
      case other => fail(s"expected LogicalRDD, got ${other.getClass}")
    }
    assert(spark.sparkContext.getPersistentRDDs.contains(lateId))
    Materialize.releaseAll()
    assert(!spark.sparkContext.getPersistentRDDs.contains(lateId),
      "a dead-token pin must be reclaimable by releaseAll")
  }
}
