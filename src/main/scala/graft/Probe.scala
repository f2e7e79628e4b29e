package graft

import java.io.File
import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.GraftListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{ExplainMode, SQLExecution}

import graft.std.{Materialize, SessionMemo}

/** Developer probes over the queries [[SparkEntry.selected]] picks
  * (`SPARK_GRAFT_ONLY` narrows them):
  *
  *  - `profile <sfDir>`: per query, one warm run, then one run under a
  *    stage listener; prints each stage's wall time, task time, task
  *    count and shuffle bytes and rows, most task time first.
  *  - `plans <sfDir> <outDir> <suffix>`: per query, one run, then its
  *    `explain("formatted")` into `<outDir>/<key>_<suffix>.txt`.
  *
  * {{{
  * SPARK_GRAFT_ONLY=x58 sbt "runMain graft.Probe profile <sfDir>"
  * SPARK_GRAFT_ONLY=x20 sbt "runMain graft.Probe plans <sfDir> plans/x20 after"
  * }}}
  */
object Probe {

  /** One stage of a profiled run. */
  private[graft] final case class StageRow(
      id: Int, name: String, wallMs: Long, taskMs: Long, tasks: Int,
      shuffleReadBytes: Long, shuffleWriteBytes: Long,
      shuffleReadRows: Long, shuffleWriteRows: Long)

  /** Run `q` to completion through its own query execution, so that the
    * frame's plan afterwards is the one that ran (AQE's final plan);
    * every output column is computed and nothing is kept. The query's
    * pins are released after.
    */
  private def runOnce(spark: SparkSession, q: QuerySpec,
                      sfDir: String): DataFrame = {
    val df = q.run(spark, sfDir)
    val qe = df.queryExecution
    try SQLExecution.withNewExecutionId(qe, Some(q.name))(
      qe.toRdd.foreach(_ => ()))
    finally Materialize.releaseAll()
    df
  }

  /** One warm run of `q` (codegen and session memos land there), then
    * one run under a stage listener: the stages of the second run, in
    * completion order.
    */
  private[graft] def profile(spark: SparkSession, q: QuerySpec,
                             sfDir: String): Seq[StageRow] = {
    runOnce(spark, q, sfDir)
    val sc = spark.sparkContext
    val stages = new ConcurrentLinkedQueue[StageRow]()
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val m = si.taskMetrics
        val wall = for (s <- si.submissionTime; c <- si.completionTime)
          yield c - s
        val _ = stages.add(StageRow(si.stageId,
          si.name.takeWhile(_ != '\n'), wall.getOrElse(0L),
          m.executorRunTime, si.numTasks,
          m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten,
          m.shuffleReadMetrics.recordsRead,
          m.shuffleWriteMetrics.recordsWritten))
      }
    }
    GraftListenerBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      runOnce(spark, q, sfDir)
      GraftListenerBus.drain(sc)
    } finally sc.removeSparkListener(listener)
    stages.asScala.toSeq
  }

  /** Run each of `specs`, then write its formatted plan to
    * `<outDir>/<key>_<suffix>.txt`; returns the files written.
    */
  private[graft] def plans(spark: SparkSession, specs: Seq[QuerySpec],
                           sfDir: String, outDir: String,
                           suffix: String): Seq[File] =
    specs.map { q =>
      val plan = runOnce(spark, q, sfDir).queryExecution
        .explainString(ExplainMode.fromString("formatted"))
      val file = new File(outDir, s"${q.name}_$suffix.txt")
      Files.createDirectories(file.toPath.getParent)
      Files.writeString(file.toPath, plan)
      file
    }

  private def report(key: String, stages: Seq[StageRow]): Unit = {
    println(f"[probe] $key: ${stages.size} stages, task-ms ${
      stages.map(_.taskMs).sum}")
    println("stageId  wall_ms task_ms tasks  shufR_MB shufW_MB  " +
      "shufR_rows shufW_rows  name")
    stages.sortBy(-_.taskMs).foreach { s =>
      println(f"${s.id}%7d ${s.wallMs}%8d ${s.taskMs}%7d ${s.tasks}%5d ${
        s.shuffleReadBytes / 1e6}%9.2f ${s.shuffleWriteBytes / 1e6}%8.2f ${
        s.shuffleReadRows}%11d ${s.shuffleWriteRows}%10d  ${s.name.take(60)}")
    }
  }

  def main(args: Array[String]): Unit = {
    val run: SparkSession => Unit = args match {
      case Array("profile", sfDir) => spark =>
        SparkEntry.selected.foreach(q =>
          report(q.name, profile(spark, q, sfDir)))
      case Array("plans", sfDir, outDir, suffix) => spark =>
        plans(spark, SparkEntry.selected, sfDir, outDir, suffix)
          .foreach(f => println(s"[probe] wrote $f"))
      case _ =>
        System.err.println("usage: graft.Probe profile <sfDir>\n" +
          "       graft.Probe plans <sfDir> <outDir> <suffix>")
        sys.exit(2)
    }
    val spark = SparkEntry.localSession()
    try run(spark)
    finally {
      SessionMemo.releaseSession(spark)
      spark.stop()
    }
  }
}
