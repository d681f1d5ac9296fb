package graft

import org.apache.spark.sql.functions._
import graft.query.GraphQueryOps
import graft.runtime.DriverPath.withLimit

class FindPathCacheSpec extends SparkSpec {

  test("distributed findPath unpersists every frontier it cached") {
    val g = Fixtures.queryGraph(spark)
    // warm the fixture (its own localCheckpoints register persistent RDDs)
    withLimit(0)(GraphQueryOps.findPath(g, "alice", "project_y")).collect()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val res = withLimit(0)(GraphQueryOps.findPath(g, "alice", "project_y"))
    assert(res.count() > 0)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty,
      s"findPath left ${leaked.size} persisted RDDs behind: $leaked")
  }
}
