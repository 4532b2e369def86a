package graft.plans

import graft.{SparkEntry, SparkSuite}

/** The routed entries q202, q203 and q206 share one route over the events
  * table. Run in one session, q206 first, each entry's rewrite fires and
  * returns rows, and exactly one registered route scans `events.parquet`:
  * no second events tier can answer another entry's query in its place.
  */
class EventsRouteSpec extends SparkSuite {

  test("q206, q202 and q203 in one session share one events route") {
    TierRoute.clear()
    try {
      Seq("q206_route_distinct", "q202_tier_route", "q203_route_pctl").foreach { name =>
        assert(SparkEntry.queries(name)(spark, sfDir).collect().nonEmpty, s"$name returned no rows")
      }
      val onEvents = TierRoute.registered.filter(_.rawPaths.exists(_.endsWith("events.parquet")))
      assert(onEvents.size === 1, s"routes over events.parquet: ${onEvents.map(_.name)}")
    } finally TierRoute.clear()
  }
}
