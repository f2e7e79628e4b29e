package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** [[Probe]]'s two modes on the sf0.001 corpus, called as functions. */
class ProbeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.001"

  private def select(onlySpec: String): Seq[QuerySpec] =
    SparkEntry.registry.filter(q => SparkEntry.keyMatcher(onlySpec)(q.name))

  test("profile reports the stages of the profiled run") {
    val Seq(q1) = select("q1_revenue_by_month")
    val stages = Probe.profile(spark, q1, sfDir)
    assert(stages.nonEmpty)
    assert(stages.forall(s => s.taskMs >= 0 && s.tasks > 0))
  }

  test("plans writes each selected query's formatted physical plan") {
    val dir = Files.createTempDirectory("probe_plans").toFile
    val written = Probe.plans(spark, select("q5_summary"), sfDir,
      dir.getPath, "after")
    val file = new java.io.File(dir, "q5_summary_after.txt")
    assert(written == Seq(file))
    val plan = Files.readString(file.toPath)
    assert(plan.contains("== Physical Plan ==") &&
      plan.contains("isFinalPlan=true"), plan.take(2000))
  }

  test("plans writes no file for a selection that matches nothing") {
    val dir = Files.createTempDirectory("probe_plans").toFile
    val sel = select("no_such_key")
    assert(sel.isEmpty)
    assert(Probe.plans(spark, sel, sfDir, dir.getPath, "after").isEmpty)
    assert(dir.list().isEmpty)
  }
}
