package graft

import org.apache.spark.sql.functions._
import graft.graphout.{GraphBuilder, Verifier}
import graft.query.GraphQueryOps

/** Round-7 (optimization round) pins: every operator whose internals were
  * restructured for job-count/shuffle wins keeps identical results —
  * driver fast paths ≡ distributed loops, and the q06 per-group pair
  * generation ≡ the self-join form it replaced.
  */
class Round7Spec extends SparkSpec {
  import graft.model.{Entity, Triple}

  private def ent(id: String) =
    Entity(id, id.toUpperCase, "t", None, Map.empty, 1.0, "", "", "", "")
  private def rel(id: String, s: String, d: String, rt: String = "r") =
    Triple(id, s, d, "", "", rt, None, bidirectional = false, 1.0, 1.0, "")

  private def gOf(nodes: Seq[Entity], edges: Seq[Triple]): GraphBuilder.Graph = {
    import spark.implicits._
    GraphBuilder.Graph(nodes.toDS(), edges.toDS())
  }

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  test("traverse driver fast path ≡ distributed loop (all directions)") {
    // deterministic wiring incl. a ghost endpoint, parallel edges to the
    // same child (winner rule must pick the same min struct), and a node
    // reachable at two depths (visited-once must keep the first)
    val nodes = (0 until 12).map(i => ent(f"n$i%02d"))
    val edges = Seq(
      rel("e1", "n00", "n01"), rel("e2", "n00", "n02"), rel("e0", "n00", "n01"),
      rel("e3", "n01", "n03"), rel("e4", "n02", "n03"), rel("e5", "n03", "n04"),
      rel("e6", "n04", "n00"), rel("e7", "n02", "n05", "s"),
      rel("e8", "n05", "ghost"), rel("e9", "ghost", "n06"))
    val g = gOf(nodes, edges)
    for (dir <- Seq("outgoing", "incoming", "both")) {
      val fast = rowsOf(GraphQueryOps.traverse(g, "n00", maxDepth = 4, direction = dir))
      val dist = rowsOf(GraphQueryOps.traverse(g, "n00", maxDepth = 4, direction = dir,
        driverLimit = 0))
      assert(fast == dist, s"direction=$dir")
    }
    // relTypes filter parity
    val fastF = rowsOf(GraphQueryOps.traverse(g, "n00", maxDepth = 4,
      relTypes = Some(Seq("r"))))
    val distF = rowsOf(GraphQueryOps.traverse(g, "n00", maxDepth = 4,
      relTypes = Some(Seq("r")), driverLimit = 0))
    assert(fastF == distF)
    // entityTypes filter parity (exercises the reordered-column join path)
    val typed = nodes.map(e => if (e.id < "n06") e.copy(entityType = "x") else e)
    val g2 = gOf(typed, edges)
    val fastT = rowsOf(GraphQueryOps.traverse(g2, "n00", maxDepth = 4,
      entityTypes = Some(Seq("x"))))
    val distT = rowsOf(GraphQueryOps.traverse(g2, "n00", maxDepth = 4,
      entityTypes = Some(Seq("x")), driverLimit = 0))
    assert(fastT == distT)
  }

  test("traverse driver fast path ≡ distributed loop on parallel edges with null fields") {
    // min(struct(...)) orders a null field first: the null-relId edge wins
    // n01, and on the shared relId the null-relType edge wins n02
    val nodes = Seq("n00", "n01", "n02", "n03").map(ent)
    val edges = Seq(
      rel("e1", "n00", "n01"), rel(null, "n00", "n01"),
      rel("e2", "n00", "n02", "r"), rel("e2", "n00", "n02", null),
      rel("e3", "n01", "n03", null), rel(null, "n02", "n03", null))
    val g = gOf(nodes, edges)
    for (dir <- Seq("outgoing", "incoming", "both")) {
      val fast = rowsOf(GraphQueryOps.traverse(g, "n00", maxDepth = 3, direction = dir))
      val dist = rowsOf(GraphQueryOps.traverse(g, "n00", maxDepth = 3, direction = dir,
        driverLimit = 0))
      assert(fast == dist, s"direction=$dir")
    }
    val won = GraphQueryOps.traverse(g, "n00", maxDepth = 2).collect()
      .map(r => r.getAs[String]("childId") ->
        (r.getAs[String]("parentId"), r.getAs[String]("relId"), r.getAs[String]("relType")))
      .toMap
    assert(won == Map("n01" -> ("n00", null, "r"), "n02" -> ("n00", "e2", null),
      "n03" -> ("n01", "e3", null)))
  }

  test("cyclicDependencies driver mirror ≡ distributed walk") {
    val nodes = (0 until 16).map(i => ent(f"c$i%02d"))
    val edges = Seq(
      // 3-cycle, self-loop, chain out, and a 12-cycle that exceeds the
      // default maxDepth=10 (must be flagged by NEITHER path)
      rel("h1", "c00", "c01", "is-a"), rel("h2", "c01", "c02", "is-a"),
      rel("h3", "c02", "c00", "is-a"), rel("h4", "c02", "c03", "is-a"),
      rel("h5", "c04", "c04", "part-of"),
      rel("nh", "c03", "c00", "unrelated-to")) ++
      (0 until 12).map(i => rel(s"L$i", f"L${i}%02d", f"L${(i + 1) % 12}%02d", "contains"))
    val g = gOf(nodes, edges)
    val fast = rowsOf(Verifier.cyclicDependencies(g).toDF())
    val dist = rowsOf(Verifier.cyclicDependencies(g, driverLimit = 0).toDF())
    assert(fast == dist)
    // the long cycle IS found once maxDepth covers it — both paths
    val fast12 = rowsOf(Verifier.cyclicDependencies(g, maxDepth = 12).toDF())
    val dist12 = rowsOf(Verifier.cyclicDependencies(g, maxDepth = 12, driverLimit = 0).toDF())
    assert(fast12 == dist12)
    assert(fast12.size > fast.size)
  }

  test("semanticContradictions driver mirror ≡ distributed seeded walk") {
    val nodes = (0 until 10).map(i => ent(f"s$i%02d"))
    val edges = Seq(
      // is-a chain s0→s1→s2→s3 with a direct negation s0→s2 (2 hops, hit)
      // and s0→s3 (3 hops, hit); part-of chain with negation beyond
      // maxHops; a negation with no chain; a chain with no negation
      rel("t1", "s00", "s01", "is-a"), rel("t2", "s01", "s02", "is-a"),
      rel("t3", "s02", "s03", "is-a"),
      rel("n1", "s00", "s02", "is-not-a"), rel("n2", "s00", "s03", "different-from"),
      rel("p1", "s04", "s05", "part-of"), rel("p2", "s05", "s06", "part-of"),
      rel("n3", "s07", "s08", "separate-from"),
      rel("t4", "s08", "s09", "subclass-of"))
    val g = gOf(nodes, edges)
    val fast = rowsOf(Verifier.semanticContradictions(g).toDF())
    val dist = rowsOf(Verifier.semanticContradictions(g, driverLimit = 0).toDF())
    assert(fast == dist)
    assert(fast.nonEmpty)
    // no negation edges at all → empty on both paths
    val g2 = gOf(nodes, edges.filter(e => !Verifier.NegationTypes.contains(e.relType)))
    assert(rowsOf(Verifier.semanticContradictions(g2).toDF()) ==
      rowsOf(Verifier.semanticContradictions(g2, driverLimit = 0).toDF()))
  }

  test("q06 per-group pair generation ≡ the self-join form (sf0.001)") {
    val d = "/root/testdata/sf0.001"
    val li = spark.read.parquet(s"$d/lineitem.parquet")
      .select("l_orderkey", "l_suppkey").distinct()
    val a = li.select(col("l_orderkey"), col("l_suppkey").as("supp_a"))
    val b = li.select(col("l_orderkey"), col("l_suppkey").as("supp_b"))
    val old = a.join(b, Seq("l_orderkey"))
      .where(col("supp_a") < col("supp_b"))
      .groupBy("supp_a", "supp_b").agg(count(lit(1)).as("n_shared_orders"))
    val neu = Queries.all("q06_self_join_pairs")(spark, d)
    assert(rowsOf(neu) == rowsOf(old))
    assert(neu.columns.toSeq == old.columns.toSeq)
  }

  test("avgClusteringCoefficient driver mirror ≡ distributed (incl. deg cap)") {
    // dense-ish wiring so triangles and the maxDegree cap both engage
    val nodes = (0 until 30).map(i => ent(f"v$i%02d"))
    val edges = (0 until 150).map { i =>
      rel(s"c$i", f"v${i * 7 % 30}%02d", f"v${(i * 11 + 2) % 29}%02d")
    } ++ Seq(rel("self", "v03", "v03"), rel("gx", "v00", "ghost"))
    val g = gOf(nodes, edges)
    for (cap <- Seq(256, 4)) {
      val fast = GraphBuilder.avgClusteringCoefficient(g, maxDegree = cap)
      val dist = GraphBuilder.avgClusteringCoefficient(g, maxDegree = cap,
        driverLimit = 0)
      assert(math.abs(fast - dist) < 1e-12, s"cap=$cap: $fast vs $dist")
    }
  }

  test("stats single-action restructure: identical row set, null types kept") {
    import spark.implicits._
    val nodes = Seq(ent("a1"), ent("a2"), ent("b1").copy(entityType = "u"),
      ent("n1").copy(entityType = null))
    val edges = Seq(rel("e1", "a1", "a2"), rel("e2", "a2", "b1", "x"),
      rel("en", "a1", "b1", null))
    val g = gOf(nodes, edges)
    val rowArr = GraphBuilder.stats(g).collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    val rows = rowArr.toSet
    assert(rows.contains(("nodes", 4.0)) && rows.contains(("edges", 3.0)))
    assert(rows.contains(("entity:t", 2.0)) && rows.contains(("entity:u", 1.0)))
    assert(rows.contains(("rel:r", 1.0)) && rows.contains(("rel:x", 1.0)))
    // null entityType/relType → null key rows (the concat-null semantics),
    // one from each side
    assert(rowArr.count(_ == ((null, 1.0))) == 2)
    assert(rowArr.length == 9) // 3 scalars + 3 entity + 3 rel groups
    val density = rows.toMap.apply("density")
    assert(math.abs(density - 3.0 / (4.0 * 3.0)) < 1e-15)
  }

  test("withIsolated driver fast path ≡ distributed anti-join union") {
    import spark.implicits._
    import graft.link.ConnectedComponents
    val edges = Seq(("a", "b"), ("b", "c"), ("x", "y"), ("a", "a"), ("b", "a"))
      .toDF("src", "dst")
    // duplicate isolated ids and an id that also appears in an edge
    val ids = Seq("a", "b", "c", "x", "y", "iso1", "iso2", "iso1").toDF("id")
    val fast = ConnectedComponents.withIsolated(edges, ids)
      .collect().map(r => (r.getString(0), r.getString(1))).sorted.toSeq
    val dist = ConnectedComponents.withIsolated(edges, ids, driverThreshold = 0)
      .collect().map(r => (r.getString(0), r.getString(1))).sorted.toSeq
    assert(fast == dist)
    assert(fast.count(_ == (("iso1", "iso1"))) == 2) // dup rows preserved
  }

  test("findPath driver probe (pre-distinct collect) ≡ distributed") {
    val nodes = (0 until 8).map(i => ent(f"p$i%02d"))
    val edges = Seq(
      rel("f1", "p00", "p01"), rel("f1b", "p00", "p01", "r2"), // dup pair
      rel("f2", "p01", "p02"), rel("f3", "p00", "p02"),
      rel("f4", "p02", "p03"), rel("f5", "p03", "p00"))
    val g = gOf(nodes, edges)
    val fast = rowsOf(GraphQueryOps.findPath(g, "p00", "p03").toDF())
    val dist = rowsOf(GraphQueryOps.findPath(g, "p00", "p03", driverLimit = 0).toDF())
    assert(fast == dist && fast.nonEmpty)
  }
}
