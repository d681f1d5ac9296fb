package graft

import org.apache.spark.sql.functions._

class ScaleReadPathSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  test("triple set is ZERO joins + single exchange (name attach rides build's endpoint joins)") {
    val ts = graft.pipeline.KgPipeline.runSynthetic(spark, 60).tripleSet
    assert(ts.count() > 0)
    // inspect only the stage's own plan: everything ABOVE the edge-cache
    // scan (the InMemoryRelation string embeds the cache's own build plan,
    // whose endpoint joins are merge_build's cost, not triple_set's)
    val p = ts.queryExecution.executedPlan.toString
    val cut = p.indexOf("InMemoryRelation")
    assert(cut > 0, p.take(2000))
    val above = p.substring(0, cut)
    assert(above.contains("InMemoryTableScan"), above)
    assert(!above.contains("Join"), above)
    val exchanges = "Exchange".r.findAllIn(above).size
    assert(exchanges <= 1, s"expected at most 1 exchange (the distinct), got $exchanges:\n$above")
  }

  test("q49 bucketed node⨝edge attach runs with ZERO Exchange (broadcast disabled)") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val df = Queries.all("q49_bucketed_join")(spark, dir)
      assert(df.count() > 0)
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange"), p.take(3000))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q50 in-degree over the dstId-bucketed dual copy runs with ZERO Exchange") {
    val df = Queries.all("q50_bucketed_indegree")(spark, dir)
    assert(df.count() > 0)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), p.take(3000))
  }
}
