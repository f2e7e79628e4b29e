package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates,
  SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}

/** A timed call into one layer of the engine. `parent` is 0 for a root. */
final case class Span(id: Long, parent: Long, name: String, unit: Int,
                      startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spark work counted at one span boundary. */
final class Counts {
  var jobs, stages, tasks, failedTasks = 0L
  var scanTasks, scanRows, scanBytes, writeTasks = 0L
  var taskMs, gcMs, schedulerDelayMs, pinJobMs = 0L
  var inputRows, inputBytes, outputRows, outputBytes = 0L
  var shuffleReadRecords, shuffleReadBytes = 0L
  var shuffleWriteRecords, shuffleWriteBytes = 0L
  var spillBytes = 0L

  def +=(o: Counts): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    failedTasks += o.failedTasks; scanTasks += o.scanTasks
    scanRows += o.scanRows; scanBytes += o.scanBytes
    writeTasks += o.writeTasks; taskMs += o.taskMs; gcMs += o.gcMs
    schedulerDelayMs += o.schedulerDelayMs; pinJobMs += o.pinJobMs
    inputRows += o.inputRows; inputBytes += o.inputBytes
    outputRows += o.outputRows; outputBytes += o.outputBytes
    shuffleReadRecords += o.shuffleReadRecords
    shuffleReadBytes += o.shuffleReadBytes
    shuffleWriteRecords += o.shuffleWriteRecords
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
  }

  def toMap: Map[String, Long] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "failed_tasks" -> failedTasks, "scan_tasks" -> scanTasks,
    "scan_rows" -> scanRows, "scan_bytes" -> scanBytes,
    "write_tasks" -> writeTasks, "task_ms" -> taskMs, "gc_ms" -> gcMs,
    "scheduler_delay_ms" -> schedulerDelayMs, "pin_job_ms" -> pinJobMs,
    "input_rows" -> inputRows, "input_bytes" -> inputBytes,
    "output_rows" -> outputRows, "output_bytes" -> outputBytes,
    "shuffle_read_records" -> shuffleReadRecords,
    "shuffle_read_bytes" -> shuffleReadBytes,
    "shuffle_write_records" -> shuffleWriteRecords,
    "shuffle_write_bytes" -> shuffleWriteBytes, "spill_bytes" -> spillBytes)
}

/** Span recorder plus the benchmark's own SparkListener.
  *
  * While `on`, [[span]] records name, start, end, parent and unit of each
  * call it wraps, and tags the calling thread's Spark jobs with the span
  * id (a local property, which Spark copies to the threads a query
  * starts). The listener adds each job's tasks to the counts of the span
  * that submitted it. A job without the tag (a pool thread created before
  * the span opened) goes to the innermost span open on the bench's main
  * thread. Spans stay in memory until the run writes them out.
  */
final class Tracer(sc: SparkContext) extends SparkListener {
  private val Prop = "perfbench.span"
  @volatile private var on = false
  @volatile private var unit = 0
  @volatile private var mainOpen: List[Long] = Nil
  private val ids = new AtomicLong(1)
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }
  val spans = new ConcurrentLinkedQueue[Span]()
  private val mainThread = Thread.currentThread()

  // listener state: written on the listener-bus thread, read after a drain
  private val counts = mutable.HashMap.empty[Long, Counts]
  private val stageSpan = mutable.HashMap.empty[Int, Long]
  private val scanStages = mutable.HashSet.empty[Int]
  // input file bytes per SQL execution, attributed to a span through the
  // execution's jobs once the bus is drained: Spark's task input metrics
  // miss parquet's vectored page reads, the scan's own metric does not
  private val filesSizeAccums = mutable.HashSet.empty[Long]
  private val execFilesBytes = mutable.HashMap.empty[Long, Long]
  private val execSpan = mutable.HashMap.empty[Long, Long]
  private val jobStart = mutable.HashMap.empty[Int, (Long, Long, Boolean)]

  def countsOf(id: Long): Counts = synchronized {
    val c = new Counts
    counts.get(id).foreach(c += _)
    c.scanBytes = execSpan.collect { case (ex, `id`) =>
      execFilesBytes.getOrElse(ex, 0L) }.sum
    c
  }

  /** Highest executor storage in use at any span end of the current unit. */
  @volatile var peakStorageBytes = 0L

  private def sampleStorage(): Unit = {
    val used = sc.getExecutorMemoryStatus.values
      .map { case (mx, rem) => mx - rem }.sum
    synchronized { peakStorageBytes = math.max(peakStorageBytes, used) }
  }

  /** Run `body` as traced unit `u`: listener registered, spans on, the
    * bus drained before returning so every count of the unit is in.
    */
  def tracedUnit[T](u: Int)(body: => T): T = {
    sc.addSparkListener(this)
    unit = u; on = true; peakStorageBytes = 0L
    try span("unit")(body)
    finally {
      on = false
      org.apache.spark.PerfbenchBus.drain(sc)
      sc.removeSparkListener(this)
    }
  }

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = ids.getAndIncrement()
      val outer = stack.get
      val prevProp = sc.getLocalProperty(Prop)
      stack.set(id :: outer)
      sc.setLocalProperty(Prop, id.toString)
      val onMain = Thread.currentThread() eq mainThread
      if (onMain) mainOpen = id :: mainOpen
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        sampleStorage()
        spans.add(Span(id, outer.headOption.getOrElse(rootOf), name, unit,
          t0, t1))
        stack.set(outer)
        sc.setLocalProperty(Prop, prevProp)
        if (onMain) mainOpen = mainOpen.drop(1)
      }
    }

  /** A span opened on a client thread hangs under the unit span. */
  private def rootOf: Long =
    if (Thread.currentThread() eq mainThread) 0L
    else mainOpen.lastOption.getOrElse(0L)

  private def spanOf(props: java.util.Properties): Long =
    Option(props).flatMap(p => Option(p.getProperty(Prop)))
      .map(_.toLong).orElse(mainOpen.headOption).getOrElse(0L)

  private def add(id: Long)(f: Counts => Unit): Unit =
    synchronized(f(counts.getOrElseUpdate(id, new Counts)))

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => noteScans(s.sparkPlanInfo)
    case s: SparkListenerSQLAdaptiveExecutionUpdate =>
      noteScans(s.sparkPlanInfo)
    case u: SparkListenerDriverAccumUpdates => synchronized {
      val bytes = u.accumUpdates.collect {
        case (acc, v) if filesSizeAccums(acc) => v }.sum
      if (bytes > 0) execFilesBytes(u.executionId) =
        execFilesBytes.getOrElse(u.executionId, 0L) + bytes
    }
    case _ => ()
  }

  private def noteScans(p: SparkPlanInfo): Unit = {
    synchronized(filesSizeAccums ++= p.metrics
      .filter(_.name == "size of files read").map(_.accumulatorId))
    p.children.foreach(noteScans)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val id = spanOf(e.properties)
    Option(e.properties).flatMap(p => Option(p.getProperty(
      "spark.sql.execution.id"))).foreach(ex =>
      synchronized(execSpan.getOrElseUpdate(ex.toLong, id)))
    e.stageIds.foreach(s => synchronized(stageSpan(s) = id))
    val pin = e.stageInfos.exists(_.details.contains("graft.std.Materialize"))
    synchronized(jobStart(e.jobId) = (id, e.time, pin))
    add(id)(_.jobs += 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    synchronized(jobStart.remove(e.jobId)).foreach { case (id, t0, pin) =>
      if (pin) add(id)(_.pinJobMs += e.time - t0)
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val s = e.stageInfo.stageId
    val id = synchronized {
      // a stage reading input files, as opposed to pinned blocks
      if (e.stageInfo.rddInfos.exists(_.name == "FileScanRDD")) scanStages += s
      stageSpan.getOrElseUpdate(s, spanOf(e.properties))
    }
    add(id)(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val (id, scan) = synchronized(
      (stageSpan.getOrElse(e.stageId, 0L), scanStages(e.stageId)))
    val m = e.taskMetrics
    val info = e.taskInfo
    add(id) { c =>
      c.tasks += 1
      if (info.failed || info.killed) c.failedTasks += 1
      if (m != null) {
        c.taskMs += m.executorRunTime
        c.gcMs += m.jvmGCTime
        c.schedulerDelayMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          info.gettingResultTime)
        val in = m.inputMetrics
        c.inputRows += in.recordsRead; c.inputBytes += in.bytesRead
        if (scan) { c.scanTasks += 1; c.scanRows += in.recordsRead }
        val out = m.outputMetrics
        c.outputRows += out.recordsWritten; c.outputBytes += out.bytesWritten
        if (out.recordsWritten > 0) c.writeTasks += 1
        c.shuffleReadRecords += m.shuffleReadMetrics.recordsRead
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  def spanList: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)
}
