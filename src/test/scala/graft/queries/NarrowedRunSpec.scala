package graft.queries

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkEntry, SparkTestSession}

/** [[Merged]] offers the cleaned star join two ways: the declarative
  * [[Merged.cleaned]], which a one-shot library caller plans with full
  * scan pruning, and the memoized [[Merged.cleanedShared]], which the
  * registry runs and the oracle checks. Each query over it must give the
  * same rows on both.
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
      val declarative = canonical(query(Merged.cleaned(spark, sfDir)))
      val shared = canonical(query(Merged.cleanedShared(spark, sfDir)))
      assert(declarative._2.nonEmpty)
      assert(declarative == shared)
    }
  }
}
