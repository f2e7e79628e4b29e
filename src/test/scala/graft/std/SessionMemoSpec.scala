package graft.std

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Lifecycle contract of the session-scoped memo: it pins what it
  * stores, releases per session, sweeps stopped sessions, and never
  * leaks a losing racer's pin. Each case keys its entries on a fresh
  * session, so they are its own.
  */
class SessionMemoSpec extends AnyFunSuite {
  private lazy val spark: SparkSession = SparkTestSession.spark

  /** Every checkpoint RDD id reachable in the frame's logical plan. */
  private def checkpointRddIds(df: DataFrame): Seq[Int] = {
    val b = scala.collection.mutable.ArrayBuffer.empty[Int]
    df.queryExecution.logical.foreach {
      case lr: LogicalRDD => b += lr.rdd.id
      case _              => ()
    }
    b.toSeq
  }

  private def persisted(id: Int): Boolean =
    spark.sparkContext.getPersistentRDDs.contains(id)

  test("release drops a session's entries and unpersists its pins") {
    val s2 = spark.newSession()
    val f = SessionMemo.getOrBuild(s2, "a")(s2.range(3).toDF("x"))
    val ids = checkpointRddIds(f)
    assert(ids.nonEmpty && ids.forall(persisted), "pin not materialized")
    assert(SessionMemo.entryCount(s2) == 1)
    SessionMemo.releaseSession(s2)
    assert(SessionMemo.entryCount(s2) == 0)
    assert(ids.forall(!persisted(_)), "release left checkpoint blocks")
  }

  test("the memo pins a projection and releaseSession frees it") {
    val s2 = spark.newSession()
    val f = SessionMemo.getOrBuild(s2, "proj")(
      s2.range(3).toDF("x").select(org.apache.spark.sql.functions.col("x")))
    assert(f.queryExecution.logical.isInstanceOf[LogicalRDD],
      "the stored frame must be the memo's own pin")
    val ids = checkpointRddIds(f)
    assert(ids.nonEmpty && ids.forall(persisted))
    assert(f.collect().map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L))
    SessionMemo.releaseSession(s2)
    assert(ids.forall(!persisted(_)), "releaseSession left the pin")
  }

  test("a local relation is stored as it is, without a pin") {
    val s2 = spark.newSession()
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    // the k-means codebook's shape: rows built on the driver
    val local = s2.createDataFrame(
      java.util.List.of(Row(1), Row(2)),
      StructType(Seq(StructField("v", IntegerType))))
    assert(local.isLocal)
    assert(SessionMemo.getOrBuild(s2, "local")(local) eq local)
    assert(spark.sparkContext.getPersistentRDDs.keySet.toSet == before)
    SessionMemo.releaseSession(s2)
  }

  test("concurrent first calls build twice but keep one pin " +
       "(loser released, both callers get the winner)") {
    val s2 = spark.newSession()
    val gate = new java.util.concurrent.CountDownLatch(2)
    val builds = new java.util.concurrent.atomic.AtomicInteger()
    def build(): DataFrame = {
      gate.countDown()
      // hold until BOTH threads are inside the builder — forces the
      // getOrElseUpdate-style race the memo must not leak on
      assert(gate.await(20, java.util.concurrent.TimeUnit.SECONDS))
      builds.incrementAndGet()
      s2.range(5).toDF("x")
    }
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val futs = (1 to 2).map { _ =>
        pool.submit(new java.util.concurrent.Callable[DataFrame] {
          def call(): DataFrame = SessionMemo.getOrBuild(s2, "race")(build())
        })
      }
      val res = futs.map(_.get(60, java.util.concurrent.TimeUnit.SECONDS))
      assert(builds.get == 2, "latch should have forced a double build")
      assert(res(0) eq res(1), "both callers must converge on the winner")
      assert(SessionMemo.entryCount(s2) == 1)
      val held = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
      assert(held == checkpointRddIds(res(0)).toSet,
        s"only the winner's pin may survive, held $held")
    } finally pool.shutdown()
    SessionMemo.releaseSession(s2)
  }

  test("entries of a stopped session are swept on the next access") {
    // the suite's one local SparkContext can't be stopped mid-run, so
    // "stopped" is an injected predicate; the sweep path under test is
    // the one getOrBuild runs with the real check
    val s1 = spark.newSession()
    val s2 = spark.newSession()
    val f1 = SessionMemo.getOrBuild(s1, "k")(s1.range(3).toDF("x"))
    SessionMemo.getOrBuild(s2, "k")(s2.range(3).toDF("x"))
    val ids = checkpointRddIds(f1)
    assert(SessionMemo.entryCount(s1) == 1)
    SessionMemo.sweep(_ eq s1)
    assert(SessionMemo.entryCount(s1) == 0, "stopped session's key not swept")
    assert(SessionMemo.entryCount(s2) == 1)
    assert(ids.forall(!persisted(_)),
      "sweep should release blocks (belt-and-braces for fake-stopped)")
    SessionMemo.releaseSession(s2)
  }

  test("SessionMemo.releaseSession frees the real memo sites " +
       "(cleanedShared + contamination profile)") {
    val sfDir = "/root/testdata/sf0.001"
    val s = spark.newSession()
    val cleaned = graft.queries.Merged.cleanedShared(s, sfDir)
    val profile = graft.ext.ExtQueries.decontamination(s, sfDir)
    val ids = checkpointRddIds(cleaned) ++ checkpointRddIds(profile)
    assert(ids.nonEmpty && ids.forall(persisted))
    // second call returns the same memoized frame, no second pin
    assert(graft.queries.Merged.cleanedShared(s, sfDir) eq cleaned)
    Materialize.releaseAll() // per-query pins from the builds
    SessionMemo.releaseSession(s)
    assert(ids.forall(!persisted(_)),
      "releaseSession left memoized checkpoint blocks")
    // a later call rebuilds rather than returning the dead frame
    val rebuilt = graft.queries.Merged.cleanedShared(s, sfDir)
    assert(!(rebuilt eq cleaned))
    assert(rebuilt.count() > 0)
    Materialize.releaseAll()
    SessionMemo.releaseSession(s)
  }
}
