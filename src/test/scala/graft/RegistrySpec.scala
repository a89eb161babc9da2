package graft

import org.scalatest.funsuite.AnyFunSuite

/** The scored registry is built once from the module tables: each
  * query is declared once, with its oracle, and a name declared by two
  * modules is an error rather than a silent shadow. */
class RegistrySpec extends AnyFunSuite {
  import RegistrySpec._

  private val sketches = Set("q_agg_approx", "q_agg_approx_pct", "q_agg_sketch_merge")

  test("125 queries, each name declared by one module") {
    val declared = SparkEntry.modules.flatMap(_.table.map(_.name))
    assert(declared.size == 125 && declared.distinct.size == 125,
      declared.diff(declared.distinct))
    assert(SparkEntry.queries.keySet == declared.toSet)
  }

  test("122 oracles, each keyed by a query; only the three sketches have none") {
    val oracles = SparkEntry.oracleSql.keySet
    assert(oracles.size == 122)
    assert(oracles.subsetOf(SparkEntry.queries.keySet), oracles -- SparkEntry.queries.keySet)
    assert(SparkEntry.queries.keySet -- oracles == sketches)
  }

  test("two tables that declare one name raise DuplicateQuery naming both modules") {
    val e = intercept[DuplicateQuery](SparkEntry.index(Seq(First, Second)))
    assert(e.getMessage.contains("q_twice"), e.getMessage)
    assert(e.getMessage.contains("RegistrySpec$First") &&
      e.getMessage.contains("RegistrySpec$Second"), e.getMessage)
    assert(SparkEntry.index(Seq(First)).keySet == Set("q_once", "q_twice"))
  }
}

object RegistrySpec {
  private def body(s: org.apache.spark.sql.SparkSession, d: String) = s.range(1).toDF()

  object First extends QueryModule {
    val table = Seq(Query("q_once", body, Some("SELECT 1")), Query("q_twice", body, Some("SELECT 2")))
  }

  object Second extends QueryModule {
    val table = Seq(Query("q_twice", body, None))
  }
}
