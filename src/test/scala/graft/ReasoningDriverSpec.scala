package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Lower
import org.apache.spark.sql.execution.QueryExecution
import graft.GraphGen._
import graft.graphout.GraphBuilder.Graph
import graft.graphout.Verifier
import graft.model.{Entity, Triple}
import graft.reason.Reasoning
import graft.runtime.DriverPath.withLimit

/** The driver paths of `Reasoning.inferTransitive`,
  * `Reasoning.detectContradictory` and `Verifier.verify` equal their
  * distributed forms (`DriverPath.withLimit(0)`) on adversarial small graphs, take
  * one probe job each (two for verify) and never evaluate Spark's `lower`;
  * nor do the standalone V1/V4 checks (`cyclicDependencies`,
  * `semanticContradictions`).
  */
class ReasoningDriverSpec extends SparkSpec {

  // 40, not 24: a null endpoint now also leaves the driver, and the
  // coverage asserts below need graphs on it (19 of the 40 are)
  private val GraphCount = 40

  private lazy val graphs: Seq[(Seq[String], Seq[E])] = GraphGen.graphs(GraphCount)

  /** Graphs every driver path takes: a non-ASCII type or a null endpoint
    * sends all three calls to the distributed form, a null node id sends
    * verify there.
    */
  private def onDriver(g: (Seq[String], Seq[E])): Boolean =
    !g._2.exists(_.rt == NonAscii) && !nullEnd(g._2) && !g._1.contains(null)

  // ------------------------------------------------------------- parity

  test("the generator reaches every adversarial case") {
    val edges = graphs.flatMap(_._2)
    val driven = graphs.filter(onDriver)
    assert(graphs.length == GraphCount)
    assert(driven.length >= 14, driven.length)
    assert(graphs.exists(_._2.exists(_.rt == NonAscii)) && graphs.exists(_._1.contains(null)))
    assert(Seq[E => Boolean](_.id == null, _.src == null, _.dst == null, _.rt == null,
      _.conf == null, e => e.conf != null && e.conf.isNaN,
      e => e.conf != null && e.conf.doubleValue == 0.0 && 1 / e.conf.doubleValue < 0,
      e => e.src != null && e.src == e.dst, _.src == "ghost", _.dst == "ghost",
      e => e.rt != null && e.rt != e.rt.toLowerCase && e.rt != NonAscii)
      .forall(edges.exists))
    // on the driver path: a chain and a shortcut through a null
    // confidence, a NaN twin, a 3-hop chain back to its start, an
    // opposite pair sharing one id, tied parallel edges
    def has(p: E => Boolean) = driven.exists(_._2.exists(p))
    assert(has(e => e.id != null && e.id.matches("c\\d") && e.conf == null))
    assert(has(e => e.id == "sc" && e.conf == null))
    assert(has(e => e.id == "tw" && e.conf != null && e.conf.isNaN))
    assert(has(e => e.id == "c2" && e.dst == "n0"))
    assert(driven.exists(_._2.count(_.id == "x1") == 2))
    assert(driven.exists { case (_, es) =>
      es.groupBy(e => (e.src, e.dst, e.rt, e.conf)).values.exists(_.size > 1) })
  }

  test("inferTransitive: the driver path ≡ the distributed form (sorted rows)") {
    // max over paths may keep either of two tied -0.0 / 0.0 products in
    // the distributed form (Spark orders them equal), so the sign of a
    // zero is not compared
    def rows(df: DataFrame) = sortedRows(df, unsignedZero = true)
    var nonEmpty = 0
    graphs.foreach { case (ns, es) =>
      val g = graphOf(ns, es)
      for (mc <- Seq(0.7, 0.0)) {
        val fast = rows(Reasoning.inferTransitive(g, mc))
        assert(fast == rows(withLimit(0)(Reasoning.inferTransitive(g, mc))),
          s"minConfidence=$mc edges=$es")
        if (fast.nonEmpty && !es.exists(_.rt == NonAscii)) nonEmpty += 1
      }
    }
    assert(nonEmpty >= 8, nonEmpty)
  }

  test("detectContradictory: the driver path ≡ the distributed form (sorted rows)") {
    var nonEmpty = 0
    graphs.foreach { case (ns, es) =>
      val g = graphOf(ns, es)
      for (t <- Seq(0.5, 0.0)) {
        val fast = sortedRows(Reasoning.detectContradictory(g, t))
        assert(fast == sortedRows(withLimit(0)(Reasoning.detectContradictory(g, t))),
          s"threshold=$t edges=$es")
        if (fast.nonEmpty && !es.exists(_.rt == NonAscii)) nonEmpty += 1
      }
    }
    assert(nonEmpty >= 8, nonEmpty)
  }

  test("verify: the driver path ≡ the distributed form (issue multiset and isValid)") {
    val seen = scala.collection.mutable.Set.empty[String]
    val validity = scala.collection.mutable.Set.empty[Boolean]
    graphs.foreach { case (ns, es) =>
      val g = graphOf(ns, es)
      val fast = Verifier.verify(g)
      val dist = withLimit(0)(Verifier.verify(g))
      val issues = fast.issues.collect()
      assert(issues.map(_.toString).toSeq.sorted ==
        dist.issues.collect().map(_.toString).toSeq.sorted, s"edges=$es")
      assert(fast.isValid == dist.isValid, s"edges=$es")
      if (onDriver((ns, es))) {
        seen ++= issues.map(_.issueType.takeWhile(_ != '_'))
        validity += fast.isValid
        // a dangling-only graph is invalid without a cycle
        if (issues.exists(_.issueType == "dangling_reference") &&
          !issues.exists(_.issueType == "cyclic_dependency")) seen += "dangling-only"
      }
    }
    assert(Set("cyclic", "dangling", "dangling-only", "contradictory", "transitive")
      .subsetOf(seen), seen)
    assert(validity == Set(true, false))
  }

  // --------------------------------------------------- jobs and plans

  /** A parquet-backed copy of the graph: scans keep their plans, where a
    * Seq-backed frame would fold into a local relation.
    */
  private def stored(ns: Seq[String], es: Seq[E]): Graph = {
    import spark.implicits._
    val dir = Files.createTempDirectory("reason_driver").toString
    val g = graphOf(ns, es)
    g.nodes.write.parquet(s"$dir/nodes")
    g.edges.toDF().write.parquet(s"$dir/edges")
    Graph(spark.read.parquet(s"$dir/nodes").as[Entity], spark.read.parquet(s"$dir/edges").as[Triple])
  }

  private val pinned = (Seq("a", "b", "c", "d"), Seq(
    E("e1", "a", "b", "Is-A", 0.95), E("e2", "b", "c", "is-a", 0.95),
    E("e3", "c", "d", "IS-A", 1.0), E("e4", "a", "c", "is-not-a", 0.9),
    E("e5", "c", "a", "Part-Of", 0.8), E("e6", "a", "c", "part-of", 0.9),
    E("e7", "b", "a", "works-for", 0.9), E("e8", "b", "a", "Not-Affiliated-With", 0.7),
    E("e9", "d", "ghost", "knows", 0.5)))

  /** Jobs and SQL executions of the three calls, results collected. */
  private def run(g: Graph): (Int, Int, Int, Seq[(String, QueryExecution)]) = {
    val ((j1, j2, j3), execs) = withExecs {
      val (it, j1) = jobsOf(Reasoning.inferTransitive(g).collect())
      val (dc, j2) = jobsOf(Reasoning.detectContradictory(g).collect())
      val (v, j3) = jobsOf { val v = Verifier.verify(g); (v.isValid, v.issues.collect()) }
      assert(it.nonEmpty && dc.nonEmpty && !v._1 && v._2.nonEmpty)
      (j1, j2, j3)
    }
    (j1, j2, j3, execs)
  }

  private def hasLower(qe: QueryExecution): Boolean =
    qe.optimizedPlan.exists(_.expressions.exists(_.exists(_.isInstanceOf[Lower])))

  test("small graph: one probe job per reasoning call, two for verify, and no lower()") {
    val (it, dc, v, execs) = run(stored(pinned._1, pinned._2))
    assert((it, dc, v) == (1, 1, 2), s"jobs: inferTransitive=$it detectContradictory=$dc verify=$v")
    assert(execs.count(_._1 == "probe") == 4, execs.map(_._1))
    assert(!execs.exists(e => hasLower(e._2)), execs.map(_._1))
  }

  test("a non-ASCII relation type takes the distributed form (the pin sees its lower())") {
    val (ns, es) = pinned
    val (it, dc, v, execs) = run(stored(ns, es :+ E("u", "a", "d", NonAscii, 0.9)))
    assert(it > 1 && dc > 1 && v > 2, s"jobs: $it $dc $v")
    assert(execs.exists(e => hasLower(e._2)))
  }

  test("a graph over the limit takes the distributed form with equal results") {
    val g = stored(pinned._1, pinned._2)
    for (lim <- Seq(0L, 3L)) {
      val (it, dc) = (withLimit(lim)(Reasoning.inferTransitive(g)),
        withLimit(lim)(Reasoning.detectContradictory(g)))
      assert(sortedRows(it) == sortedRows(Reasoning.inferTransitive(g)))
      assert(it.schema == Reasoning.inferTransitive(g).schema)
      assert(sortedRows(dc) == sortedRows(Reasoning.detectContradictory(g)))
      assert(dc.schema == Reasoning.detectContradictory(g).schema)
    }
  }

  test("verify over the limit probes the edges once: V1 and V4 skip their own probes") {
    val g = stored(pinned._1, pinned._2)
    val (issues, execs) = withExecs(withLimit(3)(Verifier.verify(g)).issues.collect())
    assert(execs.count(_._1 == "probe") == 1, execs.map(_._1))
    assert(issues.map(_.toString).sorted.toSeq ==
      Verifier.verify(g).issues.collect().map(_.toString).sorted.toSeq)
  }

  test("standalone V1 and V4: one probe job each and no lower(), ≡ the distributed form") {
    def issues(ds: org.apache.spark.sql.Dataset[graft.model.Issue]) = ds.collect().map(_.toString).sorted.toSeq
    for ((es, onDriver) <- Seq(pinned._2 -> true, (pinned._2 :+ E("u", "a", "d", NonAscii, 0.9)) -> false)) {
      val g = stored(pinned._1, es)
      val (((v1, j1), (v4, j4)), execs) = withExecs((
        jobsOf(issues(Verifier.cyclicDependencies(g))),
        jobsOf(issues(Verifier.semanticContradictions(g)))))
      assert(v1.nonEmpty && v4.nonEmpty)
      assert(v1 == issues(withLimit(0)(Verifier.cyclicDependencies(g))))
      assert(v4 == issues(withLimit(0)(Verifier.semanticContradictions(g))))
      if (onDriver) {
        assert((j1, j4) == (1, 1), s"jobs: cyclicDependencies=$j1 semanticContradictions=$j4")
        assert(!execs.exists(e => hasLower(e._2)), execs.map(_._1))
      } else assert(j1 > 1 && j4 > 1 && execs.exists(e => hasLower(e._2)), s"jobs: $j1 $j4")
    }
  }
}
