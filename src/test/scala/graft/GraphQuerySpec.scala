package graft

import graft.query.GraphQueryOps
import graft.query.GraphQueryOps.{EntityQuery, RelQuery}
import graft.runtime.DriverPath.withLimit

/** Assertions ported from /root/reference/src/graph_management/
  * test_graph_query.py (FIXTURES.md §3.2).
  */
class GraphQuerySpec extends SparkSpec {
  lazy val g = Fixtures.queryGraph(spark)

  test("find_entities by type / name / attribute / complex / limit (:33-60)") {
    val persons = GraphQueryOps.findEntities(g, EntityQuery(entityType = Some("person")))
      .collect().map(_.name).toSet
    assert(persons == Set("Alice", "Bob"))

    val alice = GraphQueryOps.findEntities(g, EntityQuery(name = Some("Alice"))).collect()
    assert(alice.length == 1 && alice.head.name == "Alice")

    val byAttr = GraphQueryOps.findEntities(g, EntityQuery(attrEquals = Map("age" -> "30"))).collect()
    assert(byAttr.length == 1 && byAttr.head.name == "Alice")

    assert(GraphQueryOps.findEntities(g,
      EntityQuery(entityType = Some("location")), limit = Some(1)).count() == 1)

    val complex = GraphQueryOps.findEntities(g,
      EntityQuery(entityType = Some("person"), attrEquals = Map("role" -> "engineer"))).collect()
    assert(complex.length == 1 && complex.head.name == "Bob")
  }

  test("find_relationships by type / source / target / limit (:62-78)") {
    assert(GraphQueryOps.findRelationships(g, RelQuery(relType = Some("works_at"))).count() == 2)
    assert(GraphQueryOps.findRelationships(g, RelQuery(srcId = Some("alice"))).count() == 2)
    assert(GraphQueryOps.findRelationships(g, RelQuery(dstId = Some("company_x"))).count() == 2)
    assert(GraphQueryOps.findRelationships(g, RelQuery(relType = Some("works_at")), Some(1)).count() == 1)
  }

  test("traverse: depth-1 children, rel-type filter, entity-type filter, incoming (:80-100)") {
    val t1 = GraphQueryOps.traverse(g, "alice", maxDepth = 1).collect()
    assert(t1.length == 2)

    val t2 = GraphQueryOps.traverse(g, "alice", maxDepth = 1,
      relTypes = Some(Seq("works_at"))).collect()
    assert(t2.length == 1 && t2.head.getAs[String]("relType") == "works_at")

    val t3 = GraphQueryOps.traverse(g, "alice", maxDepth = 1,
      entityTypes = Some(Seq("organization"))).collect()
    assert(t3.length == 1 && t3.head.getAs[String]("childId") == "company_x")

    val t4 = GraphQueryOps.traverse(g, "company_x", maxDepth = 3, direction = "incoming").collect()
    assert(t4.nonEmpty && t4.forall(_.getAs[String]("direction") == "incoming"))
  }

  test("G4 full stats: avg clustering coefficient (nx semantics) and connectivity") {
    import spark.implicits._
    import graft.model.{Entity, Triple}
    def ent(id: String) = Entity(id, id, "t", None, Map.empty, 1.0, "", "", "", "")
    def rel(id: String, s: String, d: String) =
      Triple(id, s, d, "", "", "r", None, bidirectional = false, 1.0, 1.0, "")
    // triangle a-b-c plus tail c-d-e:
    // c(a)=1, c(b)=1, c(c)=2T/(deg·(deg-1))=2/(3·2)=1/3, c(d)=0, c(e)=0
    // → avg = (1+1+1/3)/5 = 7/15
    val g = graft.graphout.GraphBuilder.Graph(
      Seq("a", "b", "c", "d", "e").map(ent).toDS(),
      Seq(rel("1", "a", "b"), rel("2", "b", "c"), rel("3", "a", "c"),
        rel("4", "c", "d"), rel("5", "d", "e")).toDS())
    val cc = graft.graphout.GraphBuilder.avgClusteringCoefficient(g)
    assert(math.abs(cc - 7.0 / 15.0) < 1e-9, cc.toString)
    val stats = graft.graphout.GraphBuilder.stats(g, full = true)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(stats("is_connected") == 1.0)
    assert(math.abs(stats("avg_clustering") - 7.0 / 15.0) < 1e-9)
    // undirected pair distances: ab1 ac1 bc1 ad2 bd2 cd1 ae3 be3 ce2 de1
    // → Σ(ordered)=2·17=34, pairs=20 → 1.7
    assert(math.abs(stats("avg_shortest_path") - 1.7) < 1e-9, stats.toString)
    // disconnect: drop the bridge edge c-d → two components
    val g2 = graft.graphout.GraphBuilder.Graph(
      g.nodes, g.edges.where($"id" =!= "4"))
    val stats2 = graft.graphout.GraphBuilder.stats(g2, full = true)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(stats2("is_connected") == 0.0)
  }

  test("clustering wedge build is degree-capped with an observed counter (round-2 item 5)") {
    import spark.implicits._
    import graft.model.{Entity, Triple}
    def ent(id: String) = Entity(id, id, "t", None, Map.empty, 1.0, "", "", "", "")
    def rel(id: String, s: String, d: String) =
      Triple(id, s, d, "", "", "r", None, bidirectional = false, 1.0, 1.0, "")
    // planted hub: one center wired to 500 leaves, leaves chained so the
    // hub's neighborhood has SOME triangles; cap 32 bounds the wedge set
    // to C(32,2) instead of C(500,2)
    val leaves = (0 until 500).map(i => s"leaf$i")
    val spokes = leaves.zipWithIndex.map { case (l, i) => rel(s"s$i", "hub", l) }
    val chain = (0 until 499).map(i => rel(s"c$i", s"leaf$i", s"leaf${i + 1}"))
    val g = graft.graphout.GraphBuilder.Graph(
      ("hub" +: leaves).map(ent).toDS(), (spokes ++ chain).toDS())
    graft.runtime.Observed.clear("clustering_deg_cap")
    val est = graft.graphout.GraphBuilder.avgClusteringCoefficient(g, maxDegree = 32)
    // exact avg clustering: hub c=C(499 chain edges among 500 nbrs)...
    // leaves: leaf0/leaf499 have deg 2 (hub + 1 chain nbr) with the
    // hub-chain triangle → c=1; middle leaves deg 3, 2 triangles of 3
    // possible → 2/3. The sampled-hub estimate stays in [0,1] and the
    // leaf terms are EXACT (deg ≤ maxDegree), so
    // avg ∈ [(2·1 + 498·2/3)/501, (2·1 + 498·2/3 + 1)/501]
    val leafSum = 2.0 + 498.0 * 2.0 / 3.0
    assert(est >= leafSum / 501 - 1e-9 && est <= (leafSum + 1.0) / 501 + 1e-9, est.toString)
    def poll(): Option[Long] =
      graft.runtime.Observed.get("clustering_deg_cap").map(_("dropped"))
    val deadline = System.currentTimeMillis() + 10000
    while (poll().isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(100)
    // hub keeps 32 of 500 neighbors → 468 adjacency rows dropped
    assert(poll().exists(_ >= 468L), s"observed=${poll()}")
  }

  test("filter_visualization: entity-type/rel-type/confidence display filters (graph_visualizer.py:230-302)") {
    val f1 = GraphQueryOps.filterVisualization(g, entityTypes = Some(Seq("person", "organization")))
    assert(f1.nodes.collect().map(_.entityType).toSet == Set("person", "organization"))
    // works_at edges survive (both endpoints kept); lives_in drops (city gone)
    val kept = f1.edges.collect().map(_.relType).toSet
    assert(kept.contains("works_at") && !kept.contains("lives_in"))
    val f2 = GraphQueryOps.filterVisualization(g, relTypes = Some(Seq("works_at")))
    assert(f2.edges.collect().forall(_.relType == "works_at"))
    assert(f2.nodes.count() == g.nodes.count())
    val f3 = GraphQueryOps.filterVisualization(g, minConfidence = Some(0.95))
    assert(f3.edges.count() == 0)
  }

  test("closeness/betweenness centrality: exact (samples ≥ |V|) matches hand-computed nx values") {
    import spark.implicits._
    import graft.model.{Entity, Triple}
    def ent(id: String) = Entity(id, id, "t", None, Map.empty, 1.0, "", "", "", "")
    def rel(id: String, s: String, d: String) =
      Triple(id, s, d, "", "", "r", None, bidirectional = false, 1.0, 1.0, "")
    // directed 4-cycle: every node closeness (incoming) = 3/6 = 0.5,
    // normalized betweenness = 3/((4-1)(4-2)) = 0.5
    val cyc = graft.graphout.GraphBuilder.Graph(
      Seq("a", "b", "c", "d").map(ent).toDS(),
      Seq(rel("1", "a", "b"), rel("2", "b", "c"),
        rel("3", "c", "d"), rel("4", "d", "a")).toDS())
    val cl = GraphQueryOps.closenessCentrality(cyc, samples = 10)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(cl.values.forall(v => math.abs(v - 0.5) < 1e-9), cl.toString)
    val bc = GraphQueryOps.betweennessCentrality(cyc, samples = 10)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(bc.values.forall(v => math.abs(v - 0.5) < 1e-9), bc.toString)

    // directed path a→b→c→d (nx wf_improved closeness, normalized bc):
    //   closeness: a=0, b=1/3, c=(2²)/(3·3)=4/9, d=(3²)/(3·6)=0.5
    //   betweenness: b and c each on 2 of the (s,t) paths → 2/6 = 1/3
    val path = graft.graphout.GraphBuilder.Graph(
      Seq("a", "b", "c", "d").map(ent).toDS(),
      Seq(rel("1", "a", "b"), rel("2", "b", "c"), rel("3", "c", "d")).toDS())
    val cl2 = GraphQueryOps.closenessCentrality(path, samples = 10)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(math.abs(cl2("a") - 0.0) < 1e-9 && math.abs(cl2("b") - 1.0 / 3) < 1e-9 &&
      math.abs(cl2("c") - 4.0 / 9) < 1e-9 && math.abs(cl2("d") - 0.5) < 1e-9, cl2.toString)
    val bc2 = GraphQueryOps.betweennessCentrality(path, samples = 10)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(math.abs(bc2("a")) < 1e-9 && math.abs(bc2("d")) < 1e-9 &&
      math.abs(bc2("b") - 1.0 / 3) < 1e-9 && math.abs(bc2("c") - 1.0 / 3) < 1e-9, bc2.toString)

    // topKByMetric dispatch covers the new metrics
    assert(GraphQueryOps.topKByMetric(cyc, "closeness", 2).count() == 2)
    assert(GraphQueryOps.topKByMetric(cyc, "betweenness", 2).count() == 2)
  }

  test("traverse picks a deterministic parent on multi-parent ties") {
    import spark.implicits._
    import graft.model.{Entity, Triple}
    // s → {a, b} → c: at depth 2 both a and b reach c simultaneously;
    // the winner must be the lexicographic min (parentId, relId) = a,
    // under any partitioning (round-1 dropDuplicates kept an arbitrary row)
    def ent(id: String) = Entity(id, id, "t", None, Map.empty, 1.0, "", "", "", "")
    def rel(id: String, s: String, d: String) =
      Triple(id, s, d, "", "", "r", None, bidirectional = false, 1.0, 1.0, "")
    val g = graft.graphout.GraphBuilder.Graph(
      Seq(ent("s"), ent("a"), ent("b"), ent("c")).toDS(),
      Seq(rel("e1", "s", "a"), rel("e2", "s", "b"),
        rel("e3", "a", "c"), rel("e4", "b", "c")).toDS())
    (1 to 3).foreach { _ =>
      val rows = GraphQueryOps.traverse(g, "s", maxDepth = 2)
        .collect().map(r => (r.getAs[String]("childId"), r.getAs[String]("parentId"))).toMap
      assert(rows("c") == "a", rows.toString)
      assert(rows("a") == "s" && rows("b") == "s")
    }
  }

  test("find_path: alice→company_x exists; alice→project_y needs >1 hops; depth-1 gives none (:102-119)") {
    val p1 = GraphQueryOps.findPath(g, "alice", "company_x").collect()
    assert(p1.nonEmpty)
    val path1 = p1.head.getAs[scala.collection.Seq[String]]("path")
    assert(path1.head == "alice" && path1.last == "company_x")

    val p2 = GraphQueryOps.findPath(g, "alice", "project_y").collect()
    assert(p2.nonEmpty)
    assert(p2.head.getAs[scala.collection.Seq[String]]("path").length > 2)

    assert(GraphQueryOps.findPath(g, "alice", "project_y", maxDepth = 1).count() == 0)
  }

  test("search_text: names, attributes, case sensitivity (:121-149)") {
    val r1 = GraphQueryOps.searchText(g, "Alice").collect()
    assert(r1.length == 1 && r1.head.name == "Alice")

    val r2 = GraphQueryOps.searchText(g, "engineer").collect()
    assert(r2.length == 1 && r2.head.name == "Bob")

    assert(GraphQueryOps.searchText(g, "ALICE", caseSensitive = false).count() == 1)
    assert(GraphQueryOps.searchText(g, "ALICE", caseSensitive = true).count() == 0)
  }

  test("get_subgraph: alone, with neighbors, multiple ids (:151-165)") {
    val s1 = GraphQueryOps.getSubgraph(g, Seq("alice"))
    assert(s1.nodes.count() == 1 && s1.edges.count() == 0)

    val s2 = GraphQueryOps.getSubgraph(g, Seq("alice"), includeNeighbors = true)
    assert(s2.nodes.count() > 1 && s2.edges.count() > 0)

    val s3 = GraphQueryOps.getSubgraph(g, Seq("alice", "bob"))
    assert(s3.nodes.count() == 2)
  }

  test("filter_by_confidence: entities / relationships / both (:167-191)") {
    import spark.implicits._
    // reproduce the reference's confidence rewrite
    val nodes = g.nodes.map(e =>
      e.copy(confidence = if (e.id == "alice") 0.8 else if (e.id == "bob") 0.3 else 0.4))
    val edges = g.edges.map(t =>
      t.copy(confidence = if (t.srcId == "alice" && t.dstId == "company_x") 0.9 else 0.4))
    val g2 = graft.graphout.GraphBuilder.Graph(nodes, edges)

    val fe = GraphQueryOps.filterByConfidence(g2, 0.5, "entities")
    assert(fe.nodes.collect().map(_.name).toSeq == Seq("Alice"))

    val fr = GraphQueryOps.filterByConfidence(g2, 0.5, "relationships")
    assert(fr.edges.count() == 1)

    val fb = GraphQueryOps.filterByConfidence(g2, 0.5, "both")
    assert(fb.nodes.count() == 1 && fb.edges.count() == 0)
  }

  test("connected components: disconnected subgraph splits (:197-230)") {
    import spark.implicits._
    val extraNodes = Seq(
      graft.model.Entity("charlie", "Charlie", "person", None, Map.empty, 0.9, "", "", "", ""),
      graft.model.Entity("company_z", "Company Z", "organization", None, Map.empty, 0.9, "", "", "", ""))
    val extraEdges = Seq(
      graft.model.Triple("charlie_works_at_z", "charlie", "company_z", "", "", "works_at",
        None, false, 1.0, 0.9, ""))
    val g2 = graft.graphout.GraphBuilder.Graph(
      g.nodes.union(extraNodes.toDS()), g.edges.union(extraEdges.toDS()))
    val comps = GraphQueryOps.connectedComponents(g2)
      .groupBy("comp").count().collect().map(_.getLong(1)).sorted.toSeq
    assert(comps == Seq(2L, 5L))
  }

  test("sort by degree: descending, limit (:232-247)") {
    val top = GraphQueryOps.topKByDegree(g, 10).collect()
    assert(top.nonEmpty)
    val degrees = top.map(_.getAs[Long]("degree")).toSeq
    assert(degrees == degrees.sorted.reverse)
    assert(GraphQueryOps.topKByDegree(g, 2).count() == 2)
    // company_x and alice have the highest degrees (3 and 2...)
    assert(top.head.getAs[String]("id") == "company_x")
  }

  test("pagerank: converges to a probability distribution") {
    val pr = GraphQueryOps.pagerank(g, iterations = 8)
    val total = pr.agg(org.apache.spark.sql.functions.sum("rank")).head().getDouble(0)
    assert(math.abs(total - 1.0) < 1e-6, s"sum=$total")
  }

  /** The centrality fixture: 40 nodes, hubs + a dangling tail,
    * deterministic pseudo-random wiring — PLUS edges through a ghost id
    * absent from the node table (the distributed BFS frontier traverses
    * through unknown endpoints; the driver fast path must replicate that).
    */
  private def centralityGraph: graft.graphout.GraphBuilder.Graph = {
    import spark.implicits._
    import graft.model.{Entity, Triple}
    def ent(id: String) = Entity(id, id, "t", None, Map.empty, 1.0, "", "", "", "")
    def rel(id: String, s: String, d: String) =
      Triple(id, s, d, "", "", "r", None, bidirectional = false, 1.0, 1.0, "")
    val nodes = (0 until 40).map(i => ent(f"n$i%02d"))
    val edges = (0 until 120).map { i =>
      rel(s"e$i", f"n${i * 7 % 40}%02d", f"n${(i * 13 + 3) % 37}%02d")
    } ++ Seq(rel("gx1", "n00", "zz_ghost"), rel("gx2", "zz_ghost", "n05"),
      rel("gx3", "n11", "zz_ghost"))
    graft.graphout.GraphBuilder.Graph(nodes.toDS(), edges.toDS())
  }

  private def toMap(df: org.apache.spark.sql.DataFrame, col: String) =
    df.collect().map(r => r.getAs[String]("id") -> r.getAs[Double](col)).toMap

  test("distributed betweenness checkpoints its edge set once, for both passes") {
    val gg = centralityGraph
    val (dist, execs) = withExecs(toMap(withLimit(0)(
      GraphQueryOps.betweennessCentrality(gg, samples = 16, maxDepth = 8)), "betweenness"))
    // counted as checkpoint executions, not jobs: the job count of one
    // call varies by one from run to run
    val edgeSets = execs.count { case (f, qe) =>
      f == "localCheckpoint" && qe.analyzed.output.map(_.name) == Seq("from", "to") }
    assert(edgeSets == 1, execs.map(_._1))
    val fast = toMap(GraphQueryOps.betweennessCentrality(gg, samples = 16, maxDepth = 8), "betweenness")
    assert(fast.keySet == dist.keySet)
    fast.foreach { case (k, v) => assert(math.abs(v - dist(k)) < 1e-9, s"$k: $v vs ${dist(k)}") }
  }

  test("centrality driver fast path ≡ distributed join-aggregate loop") {
    val gg = centralityGraph

    val prFast = toMap(GraphQueryOps.pagerank(gg, iterations = 10), "rank")
    val prDist = toMap(withLimit(0)(GraphQueryOps.pagerank(gg, iterations = 10)), "rank")
    assert(prFast.keySet == prDist.keySet)
    prFast.foreach { case (k, v) =>
      assert(math.abs(v - prDist(k)) < 1e-9, s"$k: $v vs ${prDist(k)}") }

    val evFast = toMap(GraphQueryOps.eigenvectorCentrality(gg, iterations = 20), "score")
    val evDist = toMap(withLimit(0)(GraphQueryOps.eigenvectorCentrality(gg, iterations = 20)),
      "score")
    assert(evFast.keySet == evDist.keySet)
    evFast.foreach { case (k, v) =>
      assert(math.abs(v - evDist(k)) < 1e-9, s"$k: $v vs ${evDist(k)}") }

    // sampled BFS family (round-4 fast paths): sampled sources, σ path
    // counts, depth cutoffs, and the estimator arithmetic must all agree
    val clFast = toMap(GraphQueryOps.closenessCentrality(gg, samples = 16, maxDepth = 8), "closeness")
    val clDist = toMap(withLimit(0)(
      GraphQueryOps.closenessCentrality(gg, samples = 16, maxDepth = 8)), "closeness")
    assert(clFast.keySet == clDist.keySet)
    clFast.foreach { case (k, v) =>
      assert(math.abs(v - clDist(k)) < 1e-12, s"$k: $v vs ${clDist(k)}") }

    val bcFast = toMap(GraphQueryOps.betweennessCentrality(gg, samples = 16, maxDepth = 8), "betweenness")
    val bcDist = toMap(withLimit(0)(
      GraphQueryOps.betweennessCentrality(gg, samples = 16, maxDepth = 8)), "betweenness")
    assert(bcFast.keySet == bcDist.keySet)
    bcFast.foreach { case (k, v) =>
      assert(math.abs(v - bcDist(k)) < 1e-9, s"$k: $v vs ${bcDist(k)}") }

    val apFast = GraphQueryOps.avgShortestPathSampled(gg, samples = 16)
    val apDist = withLimit(0)(GraphQueryOps.avgShortestPathSampled(gg, samples = 16))
    assert(math.abs(apFast - apDist) < 1e-12, s"$apFast vs $apDist")

    // depth-cutoff parity: maxDepth below the graph's reach — both paths
    // must cut the SAME frontier and agree on the truncated estimates
    val clCutF = toMap(GraphQueryOps.closenessCentrality(gg, samples = 16, maxDepth = 2), "closeness")
    val clCutD = toMap(withLimit(0)(
      GraphQueryOps.closenessCentrality(gg, samples = 16, maxDepth = 2)), "closeness")
    clCutF.foreach { case (k, v) =>
      assert(math.abs(v - clCutD(k)) < 1e-12, s"cutoff $k: $v vs ${clCutD(k)}") }
    val bcCutF = toMap(GraphQueryOps.betweennessCentrality(gg, samples = 16, maxDepth = 2), "betweenness")
    val bcCutD = toMap(withLimit(0)(
      GraphQueryOps.betweennessCentrality(gg, samples = 16, maxDepth = 2)), "betweenness")
    bcCutF.foreach { case (k, v) =>
      assert(math.abs(v - bcCutD(k)) < 1e-9, s"cutoff $k: $v vs ${bcCutD(k)}") }
  }

  test("relationships between pair / of entity (graph.py:218-281)") {
    assert(GraphQueryOps.relationshipsBetween(g, "alice", "company_x").count() == 1)
    assert(GraphQueryOps.relationshipsOf(g, "company_x").count() == 4)
  }
}
