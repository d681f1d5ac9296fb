package graft

import java.nio.file.Files
import graft.GraphGen._
import graft.graphout.{GraphBuilder, Verifier}
import graft.graphout.GraphBuilder.Graph
import graft.model.{Entity, Triple}
import graft.query.GraphQueryOps
import graft.reason.Reasoning
import graft.runtime.{DriverPath, LocalGraph}
import graft.runtime.DriverPath.withLimit

/** `LocalGraph`: one index per graph read whole, shared by every graph
  * op on it; never shared between graphs, never cached for a graph that
  * is not read whole; the limit and the null rule decided per call.
  */
class LocalGraphSpec extends SparkSpec {

  private val edges = Seq(E("e1", "a", "b", "is-a", 0.9), E("e2", "b", "c", "IS-A", 0.95),
    E("e3", "c", "d", "is-a", 1.0), E("e4", "a", "c", "is-not-a", 0.9),
    E("e5", "b", "a", "works-for", 0.9), E("e6", "b", "a", "not-affiliated-with", 0.8),
    E("e7", "d", "ghost", "knows", 0.5))
  private val nodes = Seq("a", "b", "c", "d")

  /** The ten read-pass graph ops, each materialized: sorted rows, doubles
    * to 9 places (the sum order of the two forms may differ in the last bit).
    */
  private def ten(g: Graph): Seq[(String, () => Seq[String])] = {
    def rows(df: => org.apache.spark.sql.DataFrame) = () => df.collect().map(_.toSeq.map {
      case d: Double => f"$d%.9f"
      case o => String.valueOf(o)
    }.mkString("|")).toSeq.sorted
    Seq(
      "traverse" -> rows(GraphQueryOps.traverse(g, "a", maxDepth = 3)),
      "findPath" -> rows(GraphQueryOps.findPath(g, "a", "d", maxDepth = 4, maxPaths = 5)),
      "pagerank" -> rows(GraphQueryOps.pagerank(g, iterations = 5)),
      "connectedComponents" -> rows(GraphQueryOps.connectedComponents(g)),
      "closeness" -> rows(GraphQueryOps.closenessCentrality(g, samples = 8, maxDepth = 4)),
      "topKByDegree" -> rows(GraphQueryOps.topKByDegree(g, k = 3)),
      "inferTransitive" -> rows(Reasoning.inferTransitive(g)),
      "detectContradictory" -> rows(Reasoning.detectContradictory(g)),
      "verify" -> (() => { val v = Verifier.verify(g)
        v.isValid.toString +: v.issues.collect().map(_.toString).toSeq.sorted }),
      "stats" -> rows(GraphBuilder.stats(g)))
  }

  test("ten ops on one Seq-backed graph build the index once, with no job") {
    val g = graphOf(nodes, edges)
    val before = LocalGraph.builds.get()
    val jobs = ten(g).map { case (name, op) => name -> jobsOf(op())._2 }
    assert(jobs.forall(_._2 == 0), jobs)
    assert(LocalGraph.builds.get() - before == 1)
    ten(g).foreach(_._2())
    assert(LocalGraph.builds.get() - before == 1)
  }

  test("a cached graph under withLimit(0) still takes every distributed form, with equal rows") {
    val g = graphOf(nodes, edges)
    val fast = ten(g).map { case (name, op) => name -> op() }.toMap
    ten(g).foreach { case (name, op) =>
      val (dist, jobs) = jobsOf(withLimit(0)(op()))
      assert(jobs > 0, s"$name took a driver path under withLimit(0)")
      assert(dist == fast(name), name)
    }
  }

  test("two graphs over different local relations never share an index") {
    val (g1, g2) = (graphOf(nodes, edges), graphOf(nodes, edges.take(2)))
    val before = LocalGraph.builds.get()
    val (p1, p2) = (GraphQueryOps.findPath(g1, "a", "d"), GraphQueryOps.findPath(g2, "a", "d"))
    assert(LocalGraph.builds.get() - before == 2)
    assert(p1.count() == 2 && p2.count() == 0)
    // the same edges beside other nodes: another index
    val g3 = Graph(graphOf(nodes :+ "e", Nil).nodes, g1.edges)
    assert(GraphQueryOps.pagerank(g3).count() == 5)
    assert(LocalGraph.builds.get() - before == 3)
    assert(GraphQueryOps.pagerank(g1).count() == 4)
  }

  test("a parquet-backed graph is not cached: one probe per table per call, a rewrite seen") {
    import spark.implicits._
    val dir = Files.createTempDirectory("local_graph").toString
    def write(es: Seq[E]): Unit = {
      val g = graphOf(nodes, es)
      g.nodes.write.mode("overwrite").parquet(s"$dir/nodes")
      g.edges.toDF().write.mode("overwrite").parquet(s"$dir/edges")
    }
    def read() = Graph(spark.read.parquet(s"$dir/nodes").as[Entity],
      spark.read.parquet(s"$dir/edges").as[Triple])
    write(edges)
    val g = read()
    val before = LocalGraph.builds.get()
    for (_ <- 0 until 2) {
      val ((tr, pr), execs) = withExecs((GraphQueryOps.traverse(g, "a").count(),
        GraphQueryOps.pagerank(g).count()))
      assert((tr, pr) == (4L, 4L))
      // traverse reads the edges, pagerank the edges and the nodes
      assert(execs.count(_._1 == "probe") == 3, execs.map(_._1))
    }
    assert(LocalGraph.builds.get() - before == 4)
    write(edges.take(1))
    assert(GraphQueryOps.traverse(read(), "a").count() == 1)
  }

  test("a plan serialized with its tags carries no index") {
    val g = graphOf(nodes, edges)
    assert(GraphQueryOps.topKByDegree(g).count() == 4)
    // a physical node's logical link can serialize the tagged relation
    val out = new java.io.ObjectOutputStream(new java.io.ByteArrayOutputStream())
    out.writeObject(g.edges.queryExecution.analyzed)
    out.close()
  }

  /** Whether `op` takes its driver path (no job) on a Seq-backed graph. */
  private def onDriver(op: => Any): Boolean = jobsOf(op match {
    case df: org.apache.spark.sql.DataFrame => df.collect()
    case v: Verifier.Verification => v.issues.collect()
    case o => o
  })._2 == 0

  test("null ids, null endpoints and a non-ASCII type pick the same path as the probes did") {
    val nullNode = graphOf(nodes :+ null, edges)
    // an edge-only mirror ignores a null node id; a node-keyed one does not
    assert(onDriver(GraphQueryOps.traverse(nullNode, "a")))
    assert(onDriver(GraphQueryOps.findPath(nullNode, "a", "d")))
    assert(onDriver(Reasoning.inferTransitive(nullNode)))
    assert(onDriver(Reasoning.detectContradictory(nullNode)))
    assert(onDriver(GraphBuilder.stats(nullNode)))
    assert(!onDriver(GraphQueryOps.pagerank(nullNode)))
    assert(!onDriver(GraphQueryOps.topKByDegree(nullNode)))
    assert(!onDriver(GraphQueryOps.connectedComponents(nullNode)))

    val nullEnd = graphOf(nodes, edges :+ E("n", "a", null, "knows", 0.5))
    assert(!onDriver(GraphQueryOps.traverse(nullEnd, "a")))
    assert(!onDriver(GraphQueryOps.findPath(nullEnd, "a", "d")))
    assert(!onDriver(Reasoning.inferTransitive(nullEnd)))
    assert(!onDriver(GraphQueryOps.closenessCentrality(nullEnd)))
    assert(onDriver(GraphBuilder.stats(nullEnd)))
    // a relTypes-filtered traverse checks only the edges it keeps
    assert(onDriver(GraphQueryOps.traverse(nullEnd, "a", relTypes = Some(Seq("is-a")))))
    assert(!onDriver(GraphQueryOps.traverse(nullEnd, "a", relTypes = Some(Seq("knows")))))

    val nonAscii = graphOf(nodes, edges :+ E("u", "a", "d", NonAscii, 0.9))
    assert(onDriver(GraphQueryOps.traverse(nonAscii, "a")))
    assert(onDriver(GraphQueryOps.pagerank(nonAscii)))
    assert(!onDriver(Reasoning.inferTransitive(nonAscii)))
    assert(!onDriver(Reasoning.detectContradictory(nonAscii)))
    assert(!onDriver(Verifier.cyclicDependencies(nonAscii)))
  }

  test("the undirected mirrors gate on 2·E rows, the directed ones on E") {
    val g = graphOf(nodes, edges)
    val e = edges.length.toLong
    for (lim <- Seq(e, 2 * e - 1)) withLimit(lim) {
      assert(onDriver(GraphQueryOps.pagerank(g)))
      assert(!onDriver(GraphQueryOps.eigenvectorCentrality(g)))
      assert(!onDriver(GraphQueryOps.avgShortestPathSampled(g)))
    }
    withLimit(2 * e)(assert(onDriver(GraphQueryOps.eigenvectorCentrality(g))))
    withLimit(e - 1)(assert(!onDriver(GraphQueryOps.pagerank(g))))
    assert(DriverPath.limit == DriverPath.DriverIterationLimit)
  }
}
