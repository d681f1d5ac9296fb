package graft

import graft.query.GraphQueryOps
import graft.runtime.DriverPath.withLimit

class FindPathSpec extends SparkSpec {

  private def rows(df: org.apache.spark.sql.DataFrame): List[(List[String], Int)] =
    df.collect().map(r =>
      (r.getAs[scala.collection.Seq[String]]("path").toList,
        r.getAs[Int]("depth"))).toList

  test("driver fast path ≡ distributed loop on the query fixture") {
    val g = Fixtures.queryGraph(spark)
    val fast = rows(GraphQueryOps.findPath(g, "alice", "project_y"))
    val dist = rows(withLimit(0)(GraphQueryOps.findPath(g, "alice", "project_y")))
    assert(fast.nonEmpty && fast == dist)
    // depth-capped: both paths agree on emptiness too
    assert(rows(withLimit(0)(
      GraphQueryOps.findPath(g, "alice", "project_y", maxDepth = 1))).isEmpty)
    assert(rows(GraphQueryOps.findPath(g, "alice", "project_y", maxDepth = 1)).isEmpty)
  }

  test("dense graph: maxPaths cap + (depth, path) ordering identical across paths") {
    import spark.implicits._
    // complete digraph on 6 nodes: many simple a→f paths, so the
    // early-exit boundary and the deterministic (depth, path) selection
    // are both load-bearing
    val ids = ('a' to 'f').map(_.toString)
    val edges = for (x <- ids; y <- ids if x != y)
      yield graft.model.Triple(s"$x$y", x, y, "", "", "r", None,
        bidirectional = false, 1.0, 1.0, "")
    val nodes = ids.map(i => graft.model.Entity(i, i.toUpperCase, "t", None,
      Map.empty, 1.0, "", "", "", ""))
    val g = graft.graphout.GraphBuilder.Graph(nodes.toDS(), edges.toDS())
    val fast = rows(GraphQueryOps.findPath(g, "a", "f", maxDepth = 4, maxPaths = 7))
    val dist = rows(withLimit(0)(GraphQueryOps.findPath(g, "a", "f", maxDepth = 4, maxPaths = 7)))
    assert(fast.size == 7 && fast == dist)
    // shortest path first, then lexicographic
    assert(fast.head._1 == List("a", "f") && fast.head._2 == 1)
  }
}
