package perfbench

/** Per-layer metrics of a traced run, averaged over its traced units.
  *
  * A layer's time is the wall time of the spans around its public calls;
  * `untraced_s` is the part of a unit's time no layer span covers, so on
  * a sequential unit the layer times plus `untraced_s` add up to
  * `trace.run_s`. Counts come from the listener, per span.
  */
object Layers {

  final case class TracedUnit(i: Int, run: UnitRun, memoHits: Long,
                              memoBuilds: Long, peakStorageBytes: Long)

  private val MB = 1048576.0

  def metrics(units: Seq[TracedUnit], spans: Seq[Span], t: Tracer,
              cpus: Int, untracedSeconds: Seq[Double]): Map[String, Double] = {
    val perUnit = units.map(u => one(u, spans.filter(_.unit == u.i), t, cpus))
    val keys = perUnit.headOption.map(_.keys).getOrElse(Nil)
    val avg = keys.map(k => k -> perUnit.map(_(k)).sum / perUnit.size).toMap
    val tracedMean = units.map(_.run.seconds).sum / units.size
    val untracedMean =
      if (untracedSeconds.isEmpty) tracedMean
      else untracedSeconds.sum / untracedSeconds.size
    avg ++ Map(
      "trace.run_s" -> tracedMean,
      "trace.overhead_s" -> (tracedMean - untracedMean))
  }

  private def one(u: TracedUnit, ss: Seq[Span], t: Tracer,
                  cpus: Int): Map[String, Double] = {
    val root = ss.find(_.name == "unit").map(_.id).getOrElse(-1L)
    def named(p: String => Boolean) = ss.filter(s => p(s.name))
    def secs(name: String) = named(_ == name).map(_.seconds).sum
    def counts(p: String => Boolean): Counts = {
      val c = new Counts
      named(p).foreach(s => c += t.countsOf(s.id))
      c
    }
    val all = counts(_ => true)
    val merged = counts(_ == "merged.build")
    val bi = named(_.startsWith("bi."))
    val biC = counts(_.startsWith("bi."))
    val nBi = math.max(1, bi.size).toDouble
    val export = counts(_ == "sinks.export")
    val kmeans = counts(_ == "similarity.kmeans")
    val graph = counts(_.startsWith("graph."))
    val graphS = secs("graph.pagerank") + secs("graph.betweenness")
    val biOps = u.run.ops.filter(_.name.startsWith("bi."))
    def latencyMs(q: String) = {
      val xs = named(_ == s"bi.$q")
      if (xs.isEmpty) 0.0 else xs.map(_.seconds).sum * 1000 / xs.size
    }
    def ratio(a: Double, b: Double) = if (b > 0) a / b else 0.0
    // union of the root's child intervals: client threads overlap
    val covered = {
      val iv = ss.filter(_.parent == root).map(s => (s.startNs, s.endNs))
        .sortBy(_._1)
      var end = Long.MinValue
      var sum = 0L
      iv.foreach { case (a, b) =>
        val from = math.max(a, end)
        if (b > from) sum += b - from
        end = math.max(end, b)
      }
      sum / 1e9
    }
    Map(
      "sources.scan_tasks" -> all.scanTasks.toDouble,
      "sources.input_rows" -> all.scanRows.toDouble,
      "sources.input_mb" -> all.scanBytes / MB,
      "merged.build_s" -> secs("merged.build"),
      "merged.task_s" -> merged.taskMs / 1000.0,
      "merged.gc_s" -> merged.gcMs / 1000.0,
      "merged.shuffle_write_mb" -> merged.shuffleWriteBytes / MB,
      "merged.stages" -> merged.stages.toDouble,
      "memo.builds" -> u.memoBuilds.toDouble,
      "memo.hits" -> u.memoHits.toDouble,
      "materialize.pinned_mb" -> u.peakStorageBytes / MB,
      "materialize.pin_s" -> all.pinJobMs / 1000.0,
      "bi.q1.latency_ms" -> latencyMs("q1"),
      "bi.q1b.latency_ms" -> latencyMs("q1b"),
      "bi.q2.latency_ms" -> latencyMs("q2"),
      "bi.q3.latency_ms" -> latencyMs("q3"),
      "bi.q4.latency_ms" -> latencyMs("q4"),
      "bi.q5.latency_ms" -> latencyMs("q5"),
      "bi.jobs_per_query" -> (if (bi.isEmpty) 0.0 else biC.jobs / nBi),
      "bi.stages_per_query" -> (if (bi.isEmpty) 0.0 else biC.stages / nBi),
      "bi.tasks_per_query" -> (if (bi.isEmpty) 0.0 else biC.tasks / nBi),
      "bi.rows_out" -> biOps.map(_.rows.length).sum.toDouble,
      "sinks.export_s" -> secs("sinks.export"),
      "sinks.rows_written" -> export.outputRows.toDouble,
      "sinks.bytes_written_mb" -> export.outputBytes / MB,
      "sinks.bytes_per_row" ->
        ratio(export.outputBytes.toDouble, export.outputRows.toDouble),
      "sinks.write_tasks" -> export.writeTasks.toDouble,
      "xlsx.write_s" -> secs("xlsx.write"),
      "xlsx.bytes" -> u.run.extra.get("xlsx_bytes").map {
        case n: Long => n.toDouble; case _ => 0.0 }.getOrElse(0.0),
      "similarity.kmeans_s" -> secs("similarity.kmeans"),
      "similarity.task_s" -> kmeans.taskMs / 1000.0,
      "similarity.gc_s" -> kmeans.gcMs / 1000.0,
      "similarity.gc_share" ->
        ratio(kmeans.gcMs.toDouble, kmeans.taskMs.toDouble),
      "graph.pagerank_s" -> secs("graph.pagerank"),
      "graph.betweenness_s" -> secs("graph.betweenness"),
      "graph.jobs" -> graph.jobs.toDouble,
      "graph.s_per_job" -> ratio(graphS, graph.jobs.toDouble),
      "runtime.busy_share" ->
        ratio(all.taskMs / 1000.0, u.run.seconds * cpus),
      "runtime.scheduler_delay_s" -> all.schedulerDelayMs / 1000.0,
      "runtime.failed_tasks" -> all.failedTasks.toDouble,
      "runtime.jobs" -> all.jobs.toDouble,
      "runtime.stages" -> all.stages.toDouble,
      "runtime.tasks" -> all.tasks.toDouble,
      "runtime.task_s" -> all.taskMs / 1000.0,
      "runtime.gc_s" -> all.gcMs / 1000.0,
      "runtime.shuffle_read_mb" -> all.shuffleReadBytes / MB,
      "runtime.shuffle_write_mb" -> all.shuffleWriteBytes / MB,
      "runtime.spill_mb" -> all.spillBytes / MB,
      "untraced_s" -> (u.run.seconds - covered))
  }
}
