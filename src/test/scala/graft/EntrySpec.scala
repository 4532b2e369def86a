package graft

/** Driver-contract smoke: entry() yields rows; every queries entry is fully
  * evaluated on sf0.001 and returns a non-degenerate result.
  */
class EntrySpec extends SparkSuite {
  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  // collect(), not count(): a row count lets Catalyst prune every output
  // column it does not need (and the final sort), so a projected column
  // that throws at runtime would pass
  test("every query runs on sf0.001 with rows > 0") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, sfDir).collect().length
      assert(n > 0, s"$name returned no rows")
    }
  }

  test("every oracleSql key has a matching query") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }
}
