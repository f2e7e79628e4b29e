package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.GraftListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** The Spark jobs an action starts, seen by a `SparkListener`: job
  * counts are deterministic where wall-clock is not, so the specs of
  * the job-saving paths assert on them.
  */
object JobCounter {
  /** Run `body`; return its outcome and every job started meanwhile, on
    * any thread, with the bus drained on both sides.
    */
  def apply[T](spark: SparkSession)(
      body: => T): (Try[T], Seq[SparkListenerJobStart]) = {
    val sc = spark.sparkContext
    val jobs = new ConcurrentLinkedQueue[SparkListenerJobStart]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val _ = jobs.add(e)
      }
    }
    GraftListenerBus.drain(sc)
    sc.addSparkListener(l)
    try {
      val r = Try(body)
      GraftListenerBus.drain(sc)
      (r, jobs.asScala.toSeq)
    } finally sc.removeSparkListener(l)
  }

  /** Number of jobs `body` starts; `body` must succeed. */
  def count(spark: SparkSession)(body: => Any): Int = {
    val (r, jobs) = apply(spark)(body)
    r.get
    jobs.size
  }
}
