package graft

import org.scalatest.Suite
import org.scalatest.funsuite.AnyFunSuite

import graft.Oracle.{SpecGated, Sql}

/** The query registry is the single declaration: the views derived from
  * it agree with it, and a spec-gated oracle names a test that exists.
  */
class RegistrySpec extends AnyFunSuite {
  private val names = SparkEntry.registry.map(_.name)

  test("registry keys are distinct") {
    assert(names.diff(names.distinct).isEmpty,
      s"declared twice: ${names.diff(names.distinct).distinct}")
  }

  test("queries holds exactly the registry's keys") {
    assert(SparkEntry.queries.keySet == names.toSet)
  }

  test("oracleSql holds exactly the Sql-oracle keys; t44 alone is " +
       "spec-gated") {
    val sql = SparkEntry.registry.collect {
      case QuerySpec(name, _, Sql(text)) => name -> text
    }
    assert(SparkEntry.oracleSql.keySet == sql.map(_._1).toSet)
    assert(sql.forall(_._2.trim.nonEmpty), "blank oracle SQL")
    assert(names.filterNot(sql.map(_._1).toSet) ==
      Seq("t44_compression_stats"))
  }

  test("every spec-gated oracle names a suite that loads and holds the " +
       "named test") {
    val gated = SparkEntry.registry.collect {
      case QuerySpec(name, _, SpecGated(suite, test)) => (name, suite, test)
    }
    assert(gated.nonEmpty)
    gated.foreach { case (name, suite, test) =>
      val testNames = Class.forName(suite).getDeclaredConstructor()
        .newInstance().asInstanceOf[Suite].testNames
      assert(testNames.contains(test),
        s"$name is gated by '$test', which $suite does not declare")
    }
  }
}
