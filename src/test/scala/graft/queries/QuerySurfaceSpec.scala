package graft.queries

import graft.{SparkEntry, SparkSpec}

/** Every declared query must build, plan and execute on sf0.001. Value
  * correctness is enforced by the DuckDB oracle gate (tools/
  * oracle_check.py + the driver's CORRECTNESS run); this suite guards
  * compilability/runability and the non-empty flagship contract.
  */
class QuerySurfaceSpec extends SparkSpec {

  // Queries whose correct result set is legitimately empty at sf0.001.
  private val mayBeEmpty = Set("q07_join_anti", "q19_except")

  SparkEntry.allQueries.foreach { q =>
    test(s"${q.name} executes") {
      val n = q.run(spark, sfDir).count()
      if (!mayBeEmpty(q.name)) assert(n > 0, s"${q.name} returned no rows")
    }
  }

  test("entry (flagship) returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle key has a matching query") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("every PLANS.md entry of PlanDump --plans-md is a query") {
    val unknown = graft.PlanDump.PlansMdEntries.toSet -- SparkEntry.queries.keySet
    assert(unknown.isEmpty, s"PLANS.md entries that are not queries: $unknown")
  }

  test("every query is oracle-checked (rows-only entries must be deliberate)") {
    // If a future query legitimately has no SQL-expressible oracle, list
    // it here explicitly instead of silently weakening the gate.
    val rowsOnlyAllowed = Set.empty[String]
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet -- rowsOnlyAllowed
    assert(missing.isEmpty, s"queries without an oracle: $missing")
  }

  test("the surface is exactly the five declared lists, with globally unique names") {
    // allQueries is the driver contract; it must be the concatenation of
    // the declared surfaces with no name claimed twice (a duplicate name
    // would make Verify/Bench silently drop an entry through the Map
    // view).
    val declared: Seq[GraftQuery] =
      RelationalQueries.all ++ PartsuppQueries.all ++ ExtensionQueries.all ++
        IngestGate.all ++ TokenQueries.all
    assert(SparkEntry.allQueries.map(_.name) == declared.map(_.name))
    val dupes = declared.groupBy(_.name).filter(_._2.size > 1).keys
    assert(dupes.isEmpty, s"duplicate query names: $dupes")
    assert(declared.forall(_.name.matches("[a-z][a-z0-9_]+")),
      "entry names are snake_case (driver/oracle file-name safe)")
  }
}
