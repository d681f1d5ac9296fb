package graft

import org.apache.spark.sql.functions._
import graft.reason.Reasoning
import graft.graphout.Verifier

/** Assertions ported from /root/reference/src/graph_management/
  * test_graph_reasoning.py (FIXTURES.md §3.3) plus verifier checks.
  */
class ReasoningSpec extends SparkSpec {
  lazy val g = Fixtures.reasoningGraph(spark)
  lazy val gContra = Fixtures.reasoningGraph(spark, withContradictions = true)

  test("qualified-for inference: person1 has-skill→required-for ⇒ conf min×0.9 (:57-81)") {
    val inf = Reasoning.inferQualifiedFor(g).collect()
    assert(inf.length == 1)
    val r = inf.head
    assert(r.getAs[String]("srcId") == "person1")
    assert(r.getAs[String]("dstId") == "job1")
    assert(r.getAs[String]("relType") == "qualified-for")
    // min(0.9, 0.8) * 0.9 = 0.72
    assert(math.abs(r.getAs[Double]("confidence") - 0.72) < 1e-9)
  }

  test("contradictions detected: works-for vs not-affiliated-with (:83-95)") {
    val conflicts = Reasoning.detectContradictory(gContra).collect()
    assert(conflicts.nonEmpty)
    val c = conflicts.head
    assert(Set(c.getAs[String]("rtA"), c.getAs[String]("rtB")) ==
      Set("works-for", "not-affiliated-with"))
  }

  test("resolution keeps the higher-confidence edge, shrinking edge count (:97-117)") {
    val before = gContra.edges.count()
    val resolved = Reasoning.resolveContradictory(gContra)
    assert(resolved.count() < before)
    // the 0.7-confidence not-affiliated-with edge is the loser
    assert(resolved.filter(_.id == "rel_contradictory2").count() == 0)
    assert(resolved.filter(_.relType == "works-for").count() == 2)
  }

  test("symmetric inference: similar-to reversed at conf×0.95 (:140-159)") {
    import spark.implicits._
    val extra = Seq(graft.model.Triple("rel_symmetric", "person1", "person2", "", "",
      "similar-to", None, false, 1.0, 0.9, "")).toDS()
    val g2 = graft.graphout.GraphBuilder.Graph(g.nodes, g.edges.union(extra))
    val inf = Reasoning.inferSymmetric(g2).collect()
    assert(inf.length == 1)
    assert(inf.head.getAs[String]("srcId") == "person2")
    assert(inf.head.getAs[String]("dstId") == "person1")
    assert(math.abs(inf.head.getAs[Double]("confidence") - 0.9 * 0.95) < 1e-9)
  }

  test("inverse inference: contains ⇒ part-of (:161-182)") {
    import spark.implicits._
    val extra = Seq(graft.model.Triple("rel_inverse", "company1", "person1", "", "",
      "contains", None, false, 1.0, 0.9, "")).toDS()
    val g2 = graft.graphout.GraphBuilder.Graph(g.nodes, g.edges.union(extra))
    val inf = Reasoning.inferInverse(g2).collect()
    val partOf = inf.filter(_.getAs[String]("relType") == "part-of")
    assert(partOf.nonEmpty)
    assert(partOf.head.getAs[String]("srcId") == "person1")
    assert(partOf.head.getAs[String]("dstId") == "company1")
  }

  test("property conflicts on same-name entities (:196-223)") {
    import spark.implicits._
    val extra = Seq(
      graft.model.Entity("conflicting1", "ConflictEntity", "test", None,
        Map("size" -> "large", "color" -> "red"), 0.8, "", "", "", ""),
      graft.model.Entity("conflicting2", "ConflictEntity", "test", None,
        Map("size" -> "small", "color" -> "red"), 0.7, "", "", "", "")).toDS()
    val g2 = graft.graphout.GraphBuilder.Graph(g.nodes.union(extra), g.edges)
    val conflicts = Reasoning.detectPropertyConflicts(g2).collect()
    assert(conflicts.length == 1) // only `size` differs, `color` agrees
    assert(conflicts.head.getAs[String]("attrKey") == "size")
  }

  test("X1 reason_over_path: person1→job1 yields qualified-for inference (:27-81)") {
    val inf = Reasoning.reasonOverPath(g, "person1", "job1").collect()
    assert(inf.exists(r => r.getAs[String]("relType") == "qualified-for" &&
      r.getAs[String]("srcId") == "person1" && r.getAs[String]("dstId") == "job1"))
    // unreachable target ⇒ no inferences (reference :38-45)
    assert(Reasoning.reasonOverPath(g, "person1", "nonexistent").count() == 0)
  }

  test("X7 resolve_conflicts shrinks the edge set and keeps nodes (:97-117)") {
    val resolved = Reasoning.resolveConflicts(gContra)
    assert(resolved.edges.count() < gContra.edges.count())
    assert(resolved.nodes.count() == gContra.nodes.count())
  }

  test("G5 removeEntities cascades to touching edges (graph.py:136-164)") {
    val g2 = graft.graphout.GraphBuilder.removeEntities(g, Seq("person1"))
    assert(g2.nodes.count() == g.nodes.count() - 1)
    assert(g2.edges.filter(t => t.srcId == "person1" || t.dstId == "person1").count() == 0)
  }

  test("infer_new_relationships yields inferences on the base fixture (:119-129)") {
    // min_confidence 0.7 as the reference default
    val all = Reasoning.inferNewRelationships(g, 0.7)
    assert(all.count() > 0)
    // qualified-for must be among them
    assert(all.where(col("relType") === "qualified-for").count() == 1)
  }

  test("X10 resolveCircular drops exactly the weakest edge of each cycle") {
    import spark.implicits._
    import graft.graphout.GraphBuilder.Graph
    import graft.model.{Entity, Triple}
    def ent(id: String) = Entity(id, id, "Test", None, Map.empty, 0.9, "", "", "", "")
    def rel(id: String, s: String, d: String, conf: Double) =
      Triple(id, s, d, "", "", "is-a", None, false, 1.0, conf, "")
    // two disjoint cycles + one acyclic chain edge:
    //   a→b (0.9) → c (0.8) → a (0.7)   weakest = c→a
    //   x→y (0.6) → x (0.95)            weakest = x→y
    //   p→q (0.1)                       not on any cycle — must survive
    val g = Graph(
      Seq("a", "b", "c", "x", "y", "p", "q").map(ent).toDS(),
      Seq(rel("ab", "a", "b", 0.9), rel("bc", "b", "c", 0.8), rel("ca", "c", "a", 0.7),
        rel("xy", "x", "y", 0.6), rel("yx", "y", "x", 0.95),
        rel("pq", "p", "q", 0.1)).toDS())
    val kept = Reasoning.resolveCircular(g).collect().map(_.id).toSet
    // round-1's per-flagged-node heuristic would also have dropped ab or bc
    assert(kept == Set("ab", "bc", "yx", "pq"), kept.toString)
  }
}

class VerifierSpec extends SparkSpec {
  import graft.graphout.GraphBuilder.Graph
  import graft.model.{Entity, Triple}

  private def ent(id: String) =
    Entity(id, id, "Test", None, Map.empty, 0.9, "", "", "", "")
  private def rel(id: String, s: String, d: String, rt: String) =
    Triple(id, s, d, "", "", rt, None, false, 1.0, 0.9, "")

  test("V1 cyclic dependencies: is-a cycle A→B→C→A flagged critical") {
    import spark.implicits._
    val g = Graph(
      Seq(ent("a"), ent("b"), ent("c"), ent("d")).toDS(),
      Seq(rel("e1", "a", "b", "is-a"), rel("e2", "b", "c", "is-a"),
        rel("e3", "c", "a", "is-a"), rel("e4", "c", "d", "is-a")).toDS())
    val issues = Verifier.cyclicDependencies(g).collect()
    assert(issues.map(_.involvedElements.head).toSet == Set("a", "b", "c"))
    assert(issues.forall(_.severity == "critical"))
  }

  test("V2 dangling references: missing endpoint flagged") {
    import spark.implicits._
    val g = Graph(Seq(ent("a")).toDS(),
      Seq(rel("e1", "a", "ghost", "knows")).toDS())
    val issues = Verifier.danglingReferences(g).collect()
    assert(issues.length == 1 && issues.head.involvedElements.contains("ghost"))
  }

  test("V3 contradictory: causes vs prevents on same pair flagged medium") {
    import spark.implicits._
    val g = Graph(Seq(ent("x"), ent("y")).toDS(),
      Seq(rel("e1", "x", "y", "causes"), rel("e2", "x", "y", "prevents")).toDS())
    val issues = Verifier.contradictoryRelationships(g).collect()
    assert(issues.length == 1 && issues.head.severity == "medium")
  }

  test("V4 transitive contradiction: 2-hop is-a chain vs direct is-not-a") {
    import spark.implicits._
    val g = Graph(Seq(ent("a"), ent("b"), ent("c")).toDS(),
      Seq(rel("e1", "a", "b", "is-a"), rel("e2", "b", "c", "is-a"),
        rel("e3", "a", "c", "is-not-a")).toDS())
    val issues = Verifier.semanticContradictions(g).collect()
    assert(issues.exists(i => i.involvedElements == Seq("a", "c")))
  }

  test("verify(): critical issues make the graph invalid") {
    import spark.implicits._
    val bad = Graph(Seq(ent("a")).toDS(), Seq(rel("e1", "a", "ghost", "knows")).toDS())
    assert(!Verifier.verify(bad).isValid)
    val good = Graph(Seq(ent("a"), ent("b")).toDS(), Seq(rel("e1", "a", "b", "knows")).toDS())
    assert(Verifier.verify(good).isValid)
  }

  test("verify(): validity follows the critical issues alone (V1/V2), not V3/V4") {
    import spark.implicits._
    def check(g: Graph, valid: Boolean): Unit = {
      val v = Verifier.verify(g)
      val issues = v.issues.collect()
      assert(v.isValid == valid && issues.nonEmpty, issues.toSeq)
      assert(v.isValid == !issues.exists(_.severity == "critical"), issues.toSeq)
    }
    // a hierarchical cycle and nothing else wrong: critical, invalid
    check(Graph(Seq(ent("a"), ent("b")).toDS(),
      Seq(rel("e1", "a", "b", "is-a"), rel("e2", "b", "a", "is-a")).toDS()), valid = false)
    // a V3 contradiction and a V4 transitive contradiction, every endpoint
    // a node and no cycle: medium issues only, valid
    check(Graph(Seq(ent("a"), ent("b"), ent("c")).toDS(),
      Seq(rel("e1", "a", "b", "is-a"), rel("e2", "b", "c", "is-a"),
        rel("e3", "a", "c", "is-not-a"), rel("e4", "a", "b", "different-from"))
        .toDS()), valid = true)
  }
}
