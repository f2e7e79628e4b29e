package graft.queries

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkEntry, SparkTestSession}

/** A `SPARK_GRAFT_ONLY` run of two keys or fewer plans every query over
  * the cleaned star join on the declarative [[Merged.cleaned]]; the full
  * suite plans it on the memoized [[Merged.cleanedShared]]. Only the
  * second plan meets the oracle, so each query must give the same rows
  * on both.
  */
class NarrowedRunSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.001"

  /** Columns by name, rows sorted — the oracle compare's canonical form. */
  private def canonical(df: DataFrame): (Seq[String], Seq[String]) = {
    val cols = df.columns.toSeq.sorted
    (cols, df.select(cols.map(df.col): _*).collect().map(_.toString)
      .toSeq.sorted)
  }

  SparkEntry.overCleaned.foreach { case (name, query, _) =>
    test(s"$name: Merged.cleaned rows equal Merged.cleanedShared rows") {
      val narrowed = canonical(query(Merged.cleaned(spark, sfDir)))
      val shared = canonical(query(Merged.cleanedShared(spark, sfDir)))
      assert(narrowed._2.nonEmpty)
      assert(narrowed == shared)
    }
  }
}
