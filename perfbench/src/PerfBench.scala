package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.SparkEntry
import graft.queries.{BiQueries, Merged}
import graft.sinks.{Charts, Sinks}
import graft.std.{Materialize, SessionMemo}

/** One call into the engine inside a unit: its oracle key (if its rows
  * are checked), latency, result rows, and the error it threw, if any.
  */
final case class Op(name: String, key: Option[String], seconds: Double,
                    rows: Array[Row], schema: StructType, error: String)

/** One unit of a workload's work, timed from the first input read to the
  * complete result; `extra` carries facts the output check needs.
  */
final case class UnitRun(seconds: Double, ops: Seq[Op],
                         extra: Map[String, Any] = Map.empty) {
  def failed: Boolean = ops.exists(_.error != null)
}

/** A workload drives the engine's public functions over the generated
  * inputs in `in`. `unit` runs one unit of work; each set-up pass runs
  * one untimed unit.
  */
abstract class Workload(val spark: SparkSession, val in: String,
                        val out: String, val t: Tracer) {
  def unit(i: Int): UnitRun

  protected def call(name: String, key: Option[String])(
      f: => DataFrame): Op = {
    val t0 = System.nanoTime()
    try {
      val (rows, schema) = t.span(name) {
        val df = f
        (df.collect(), df.schema)
      }
      Op(name, key, (System.nanoTime() - t0) / 1e9, rows, schema, null)
    } catch {
      case e: Throwable =>
        Op(name, key, (System.nanoTime() - t0) / 1e9, Array.empty, null,
          s"${e.getClass.getName}: ${e.getMessage}")
    }
  }

  protected def sideEffect(name: String)(f: => Unit): Op =
    call(name, None) { f; spark.emptyDataFrame }
}

/** The ClearVue batch: cold memo, star join + clean + enrich, Q1–Q5 and
  * Q1b collected, the three JSONL collections and the XLSX report
  * written into a fresh directory.
  */
final class ClearvueBatch(s: SparkSession, in: String, out: String,
                          t: Tracer) extends Workload(s, in, out, t) {
  def unit(i: Int): UnitRun = {
    val dir = s"$out/units/u$i"
    Merged.releaseShared(spark)
    val t0 = System.nanoTime()
    var cleaned: DataFrame = null
    val build = sideEffect("merged.build") {
      cleaned = Merged.cleanedShared(spark, in)
    }
    val ops = if (build.error != null) Seq(build) else {
      val bi = ClearvueBatch.BiVisuals.map { case (name, key, q) =>
        call(name, Some(key))(q(cleaned))
      }
      val export = sideEffect("sinks.export") {
        Sinks.exportCollections(cleaned, s"$dir/collections")
      }
      val report = sideEffect("xlsx.write") {
        def local(o: Op) = spark.createDataFrame(o.rows.toList.asJava, o.schema)
        val byName = bi.filter(_.error == null).map(o => o.name -> local(o)).toMap
        Charts.writeReportXlsx(bi.filter(_.error == null).map(o =>
          o.key.get -> byName(o.name)), byName("bi.q1"), byName("bi.q2"),
          s"$dir/report.xlsx")
      }
      build +: bi :+ export :+ report
    }
    val seconds = (System.nanoTime() - t0) / 1e9
    val extra: Map[String, Any] = Map(
      "dir" -> dir,
      "xlsx_bytes" -> new File(s"$dir/report.xlsx").length(),
      "collections" -> ClearvueBatch.Collections)
    UnitRun(seconds, ops, extra)
  }
}

object ClearvueBatch {
  /** The BI queries: layer span name -> (oracle key, query). */
  val BiVisuals: Seq[(String, String, DataFrame => DataFrame)] = Seq(
    ("bi.q1", "q1_revenue_by_month", BiQueries.revenueByMonth),
    ("bi.q1b", "q1b_gm_join", BiQueries.revenueByMonthJoined),
    ("bi.q2", "q2_top_products", df => BiQueries.topProducts(df)),
    ("bi.q3", "q3_sales_region_brand", BiQueries.salesByRegionBrand),
    ("bi.q4", "q4_ar_by_region", BiQueries.arByRegion),
    ("bi.q5", "q5_summary", BiQueries.summary))

  /** JSONL collection directory -> the oracle key of its projection. */
  val Collections: Map[String, String] = Map(
    "sales_lines" -> "p14_sales_lines",
    "receivables" -> "p14_receivables",
    "payments" -> "p14_payments")
}

/** The iterative analytics loops: k-means elbow (s26), PageRank (x20) and
  * betweenness (x58), run one after another; a unit's time is the sum of
  * the three calls, with each call's pins released outside the timing.
  */
final class IterativeAnalytics(s: SparkSession, in: String, out: String,
                               t: Tracer) extends Workload(s, in, out, t) {
  private val loops = Seq(
    ("similarity.kmeans", "s26_kmeans_elbow"),
    ("graph.pagerank", "x20_pagerank"),
    ("graph.betweenness", "x58_betweenness"))

  def unit(i: Int): UnitRun = {
    val ops = loops.map { case (name, key) =>
      val q = SparkEntry.queries(key)
      val op = call(name, Some(key))(q(spark, in))
      Materialize.releaseAll()
      op
    }
    UnitRun(ops.map(_.seconds).sum, ops)
  }
}

object PerfBench {

  private val json = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  private def canonical(rows: Array[Row]): String =
    rows.map(_.toString).sorted.mkString("\n")

  private def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val workload = opt("workload")
    val in = opt("input")
    val out = opt("out")
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val passes = opt("passes").toInt
    val minUnits = opt("min-units").toInt
    val cpus = opt("cpus").toInt
    val seed = opt("seed").toLong

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    graft.sources.Tables.tune(spark)
    spark.sparkContext.setLogLevel("WARN")
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd.MapPartitionsRDD",
      org.apache.logging.log4j.Level.ERROR)
    val readyMs = System.currentTimeMillis()
    val sc = spark.sparkContext
    val tracer = new Tracer(sc)

    val w: Workload = workload match {
      case "clearvue_batch"      => new ClearvueBatch(spark, in, out, tracer)
      case "iterative_analytics" => new IterativeAnalytics(spark, in, out, tracer)
      case other => sys.error(s"unknown workload $other")
    }

    def storageMaxBytes: Long = sc.getExecutorMemoryStatus.values
      .map(_._1).sum
    def memo: (Long, Long) = SessionMemo.counters.values
      .foldLeft((0L, 0L)) { case ((h, b), (h1, b1)) => (h + h1, b + b1) }
    def dropUnitDir(i: Int): Unit =
      deleteTree(new File(s"$out/units/u$i"))

    // set-up passes, one untimed unit each: the first pass carries JIT
    // and codegen warm-up, and its results are the reference the timed
    // units are checked against
    val passSeconds = scala.collection.mutable.ArrayBuffer.empty[Double]
    var reference: UnitRun = null
    var setupError: String = null
    def failure(e: Throwable) = s"${e.getClass.getName}: ${e.getMessage}"
    for (p <- 0 until passes if setupError == null) {
      val t0 = System.nanoTime()
      try {
        val u = -1 - p
        val r = w.unit(u)
        if (r.failed) setupError = r.ops.find(_.error != null).get.error
        if (reference == null) reference = r
        dropUnitDir(u)
        Materialize.releaseAll()
      } catch { case e: Throwable => setupError = failure(e) }
      passSeconds += (System.nanoTime() - t0) / 1e9
    }
    val refHash: Map[String, String] =
      if (reference == null) Map.empty
      else reference.ops.flatMap(o => o.key.map(_ -> md5(canonical(o.rows))))
        .toMap

    // timed window: untraced units, or alternating traced/untraced units
    // in a traced run so the tracing overhead is measured in one JVM
    case class Timed(i: Int, traced: Boolean, run: UnitRun, memoHits: Long,
                     memoBuilds: Long, peakStorage: Long,
                     mismatched: Seq[String])
    val timed = scala.collection.mutable.ArrayBuffer.empty[Timed]
    val windowStart = System.nanoTime()
    if (setupError == null) {
      val need = if (traced) math.max(2, minUnits) else minUnits
      var i = 0
      while (i < need ||
             (System.nanoTime() - windowStart) / 1e9 < seconds) {
        if (i > 0) dropUnitDir(i - 1)
        val tr = traced && i % 2 == 0
        val (h0, b0) = memo
        val r = if (tr) tracer.tracedUnit(i)(w.unit(i)) else w.unit(i)
        val (h1, b1) = memo
        val bad = r.ops.filter(o => o.error == null && o.key.exists(k =>
          !refHash.get(k).contains(md5(canonical(o.rows))))).map(_.name)
        timed += Timed(i, tr, r, h1 - h0, b1 - b0,
          if (tr) tracer.peakStorageBytes else 0L, bad)
        Materialize.releaseAll()
        i += 1
      }
    }
    val windowS = (System.nanoTime() - windowStart) / 1e9

    // output-check material: reference rows as parquet + their oracle SQL
    val checkDir = s"$out/check"
    new File(checkDir).mkdirs()
    if (reference != null) reference.ops.filter(o => o.key.nonEmpty &&
        o.error == null).foreach { o =>
      spark.createDataFrame(o.rows.toList.asJava, o.schema)
        .coalesce(1).write.mode("overwrite").parquet(s"$checkDir/${o.key.get}")
    }
    val oracleKeys = Option(reference).toSeq.flatMap(r =>
      r.ops.flatMap(_.key) ++ (w match {
        case _: ClearvueBatch => ClearvueBatch.Collections.values
        case _                => Nil
      }))
    val oracle = oracleKeys.distinct.map(k => k -> SparkEntry.oracleSql(k))
      .toMap
    Files.writeString(Paths.get(s"$checkDir/oracle_sql.json"),
      json.writeValueAsString(oracle))

    val spans = tracer.spanList
    val layers = if (traced) Layers.metrics(
      timed.filter(_.traced).map(x => Layers.TracedUnit(x.i, x.run,
        x.memoHits, x.memoBuilds, x.peakStorage)).toSeq,
      spans, tracer, cpus, timed.filterNot(_.traced).map(_.run.seconds).toSeq)
      else Map.empty[String, Double]
    if (traced) {
      val lines = spans.map(s => json.writeValueAsString(Map(
        "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "unit" -> s.unit, "run_id" -> s"$workload-$seed",
        "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "counts" -> tracer.countsOf(s.id).toMap)))
      Files.writeString(Paths.get(s"$out/spans.jsonl"), lines.mkString("\n"))
    }

    val lastUnit = timed.lastOption.map(_.run).orElse(Option(reference))
    val record = Map(
      "ready_epoch_ms" -> readyMs,
      "spark_version" -> spark.version,
      "cpus" -> cpus,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "driver_max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "materialize_mode" -> spark.conf.get("spark.graft.materialize.mode",
        "local"),
      "storage_capacity_mb" -> storageMaxBytes / 1048576.0,
      "setup_pass_s" -> passSeconds.toSeq,
      "setup_error" -> setupError,
      "window_s" -> windowS,
      "units" -> timed.map(x => Map(
        "i" -> x.i, "traced" -> x.traced, "seconds" -> x.run.seconds,
        "memo_hits" -> x.memoHits,
        "memo_builds" -> x.memoBuilds,
        "mismatched" -> x.mismatched,
        "ops" -> x.run.ops.map(o => Map(
          "name" -> o.name, "key" -> o.key, "seconds" -> o.seconds,
          "rows" -> o.rows.length,
          "error" -> o.error)))).toSeq,
      "last_unit" -> lastUnit.map(_.extra).getOrElse(Map.empty),
      "peak_rss_kb" -> peakRssKb,
      "layers" -> layers)
    Files.writeString(Paths.get(s"$out/result.json"),
      json.writeValueAsString(record))

    SessionMemo.releaseSession(spark)
    spark.stop()
  }

  /** The process's peak resident set so far (Linux `VmHWM`). */
  private def peakRssKb: Long = {
    val status = scala.io.Source.fromFile("/proc/self/status")
    try status.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toLong).getOrElse(-1L)
    finally status.close()
  }

  private def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }
}
