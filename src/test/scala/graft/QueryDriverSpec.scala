package graft

import org.apache.spark.sql.DataFrame
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.GraphGen._
import graft.graphout.{GraphBuilder, Verifier}
import graft.graphout.GraphBuilder.Graph
import graft.link.Linker
import graft.model.Entity
import graft.query.GraphQueryOps
import graft.runtime.DriverPath.withLimit

/** The query, centrality, degree top-k, stats, clustering, connected
  * components, standalone V1/V4 and linker mirrors equal their distributed
  * forms (`DriverPath.withLimit(0)`) on generated inputs, and take the
  * driver path exactly when no probed id or endpoint is null (the
  * `DriverPath` null rule).
  */
class QueryDriverSpec extends SparkSpec {

  // the first 16 of ReasoningDriverSpec's graphs: 10 take every mirror's
  // driver path, 13 the edge-only mirrors'
  private val GraphCount = 16

  private lazy val graphs: Seq[(Seq[String], Seq[E])] = GraphGen.graphs(GraphCount)

  /** One mirror: whether its probes read the node ids and the relation
    * types, the call, and whether it keys the edge endpoints.
    */
  private final case class Mirror(name: String, readsNodes: Boolean, readsTypes: Boolean,
                                  run: Graph => Either[DataFrame, Double],
                                  readsEnds: Boolean = true)

  private val mirrors = Seq(
    Mirror("traverse outgoing", false, false,
      g => Left(GraphQueryOps.traverse(g, "n0", 3, "outgoing"))),
    Mirror("traverse incoming", false, false,
      g => Left(GraphQueryOps.traverse(g, "n0", 3, "incoming"))),
    Mirror("traverse both", false, false,
      g => Left(GraphQueryOps.traverse(g, "n0", 3, "both"))),
    Mirror("findPath", false, false,
      g => Left(GraphQueryOps.findPath(g, "n0", "n2", maxDepth = 4))),
    Mirror("pagerank", true, false,
      g => Left(GraphQueryOps.pagerank(g, iterations = 2))),
    // 9 iterations: the every-8th normalization runs once
    Mirror("eigenvector", true, false,
      g => Left(GraphQueryOps.eigenvectorCentrality(g, iterations = 9))),
    Mirror("closeness", true, false,
      g => Left(GraphQueryOps.closenessCentrality(g))),
    Mirror("betweenness", true, false,
      g => Left(GraphQueryOps.betweennessCentrality(g))),
    Mirror("avgShortestPathSampled", true, false,
      g => Right(GraphQueryOps.avgShortestPathSampled(g))),
    Mirror("avgClusteringCoefficient", true, false,
      g => Right(GraphBuilder.avgClusteringCoefficient(g))),
    Mirror("cyclicDependencies", false, true,
      g => Left(Verifier.cyclicDependencies(g).toDF())),
    Mirror("semanticContradictions", false, true,
      g => Left(Verifier.semanticContradictions(g).toDF())),
    // the withIsolated composite: its edge and node-id probes key src/dst and id
    Mirror("connectedComponents", true, false, g => Left(GraphQueryOps.connectedComponents(g))),
    // k = 4 cuts through degree ties on most graphs
    Mirror("topKByDegree", true, false,
      g => Left(GraphQueryOps.topKByDegree(g, k = 4))),
    // no key column: a null id or endpoint leaves the tally on the driver
    Mirror("stats", false, false,
      g => Left(GraphBuilder.stats(g)), readsEnds = false))

  /** Whether the null rule (and, for the V1/V4 case fold, ASCII types)
    * keeps `m` on the driver for graph `g`.
    */
  private def expectDriver(m: Mirror, g: (Seq[String], Seq[E])): Boolean =
    !(m.readsEnds && nullEnd(g._2)) && !(m.readsNodes && g._1.contains(null)) &&
      !(m.readsTypes && g._2.exists(_.rt == NonAscii))

  /** Rows in a canonical order: by their non-double fields, then by their
    * doubles; arrays printed as lists.
    */
  private def rows(df: DataFrame): Seq[Seq[Any]] = {
    val rs = df.collect().toSeq.map(_.toSeq.map {
      case a: scala.collection.Seq[_] => a.mkString("[", ",", "]")
      case o => o
    })
    def key(r: Seq[Any]) = r.filterNot(_.isInstanceOf[Double]).map(String.valueOf).mkString("|")
    def dbls(r: Seq[Any]) = r.collect { case d: Double => d }
    rs.sortWith { (a, b) =>
      if (key(a) != key(b)) key(a) < key(b)
      else dbls(a).zip(dbls(b)).map { case (x, y) => java.lang.Double.compare(x, y) }
        .find(_ != 0).exists(_ < 0)
    }
  }

  /** Equal values, doubles to 1e-9 (as GraphQuerySpec compares them). */
  private def same(x: Any, y: Any): Boolean = (x, y) match {
    case (p: Double, q: Double) => p.isNaN && q.isNaN || math.abs(p - q) <= 1e-9
    case _ => x == y
  }

  private def sameRows(a: Seq[Seq[Any]], b: Seq[Seq[Any]]): Boolean =
    a.length == b.length && a.zip(b).forall { case (x, y) =>
      x.length == y.length && x.zip(y).forall { case (p, q) => same(p, q) }
    }

  /** The result of a call, materialized, and whether it took the driver
    * path: on a Seq-backed graph every probe reads a local relation, so
    * the driver path runs no job, its result included, and a distributed
    * form runs some.
    */
  private def call(m: Mirror, g: Graph, limit: Long): (Either[Seq[Seq[Any]], Double], Boolean) = {
    val (r, jobs) = jobsOf(withLimit(limit)(m.run(g).left.map(rows)))
    (r, jobs == 0)
  }

  test("every query mirror ≡ its distributed form; the null rule picks the path") {
    val driven = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    graphs.foreach { case (ns, es) =>
      val g = graphOf(ns, es)
      mirrors.foreach { m =>
        val (fast, onDriver) = call(m, g, graft.runtime.DriverPath.DriverIterationLimit)
        // off the driver, `fast` already is the distributed form
        val (dist, offDriver) = if (onDriver) call(m, g, 0L) else (fast, false)
        // Spark folds a plan that inner-joins an empty node table into an
        // empty local relation: that distributed form runs no job either,
        // and only there is a job-free limit-0 call not the driver path
        val folded = m.readsNodes && ns.isEmpty && offDriver && dist == Left(Nil)
        assert(onDriver == expectDriver(m, (ns, es)) || folded, s"${m.name}: nodes=$ns edges=$es")
        assert(!offDriver || folded,
          s"${m.name}: withLimit(0) took the driver path; nodes=$ns edges=$es")
        val equal = (fast, dist) match {
          case (Left(a), Left(b)) => sameRows(a, b)
          case (Right(a), Right(b)) => same(a, b)
          case _ => false
        }
        assert(equal, s"${m.name}: $fast vs $dist; nodes=$ns edges=$es")
        if (onDriver) driven(m.name) += 1
      }
    }
    mirrors.foreach(m => assert(2 * driven(m.name) >= graphs.length, s"${m.name}: $driven"))
  }

  test("findPath's mirror finds an n0 → n2 path over tied parallel edges") {
    // the driver path dedups the probed endpoints in memory: some graph
    // on it has a found path through a repeated (src, dst) pair
    val hits = graphs.count { case (ns, es) =>
      val tied = es.groupBy(e => (e.src, e.dst)).collect { case (p, copies) if copies.size > 1 => p }
        .toSet
      !nullEnd(es) && GraphQueryOps.findPath(graphOf(ns, es), "n0", "n2", maxDepth = 4).collect()
        .exists(_.getSeq[String](0).sliding(2).exists(p => tied((p.head, p.last))))
    }
    assert(hits >= 1, hits)
  }

  // ------------------------------------------------------ null endpoints

  private def ent(id: String, name: String = "n", etype: String = "class") =
    Entity(id, name, etype, None, Map.empty, 0.9, "s", "r", "p", "c")

  /** a, b, c with edges a→null and null→b: on the driver the null was a
    * node id, so findPath(a, b) found [a, null, b]; SQL's
    * `array_contains(path, null)` is null and drops the hop.
    */
  private def g1 = graphOf(Seq("a", "b", "c"), Seq(E("e1", "a", null, "r", 1.0),
    E("e2", null, "b", "r", 1.0)))

  /** a, b, c with edges a→null, a→c, c→b: sorting a neighbour list or the
    * BFS index with a null in it threw on the driver.
    */
  private def g2 = graphOf(Seq("a", "b", "c"), Seq(E("e1", "a", null, "r", 1.0),
    E("e2", "a", "c", "r", 1.0), E("e3", "c", "b", "r", 1.0)))

  private def paths(df: DataFrame) =
    df.collect().map(r => (r.getSeq[String](0).toList, r.getInt(1))).toList

  test("findPath across a null endpoint: no path on either form") {
    assert(paths(GraphQueryOps.findPath(g1, "a", "b")).isEmpty)
    assert(paths(withLimit(0)(GraphQueryOps.findPath(g1, "a", "b"))).isEmpty)
  }

  test("findPath beside a null endpoint: the distributed form's path, no NPE") {
    assert(paths(GraphQueryOps.findPath(g2, "a", "b")) == List((List("a", "c", "b"), 2)))
    assert(paths(withLimit(0)(GraphQueryOps.findPath(g2, "a", "b"))) ==
      List((List("a", "c", "b"), 2)))
  }

  private def byId(df: DataFrame) = df.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap

  test("closeness beside a null endpoint: the distributed values, no NPE") {
    val cl = byId(GraphQueryOps.closenessCentrality(g2))
    assert(math.abs(cl("b") - 2.0 / 3) < 1e-9 && math.abs(cl("c") - 0.5) < 1e-9 && cl("a") == 0.0, cl)
    assert(cl == byId(withLimit(0)(GraphQueryOps.closenessCentrality(g2))))
  }

  test("betweenness beside a null endpoint: the distributed values, no NPE") {
    val bc = byId(GraphQueryOps.betweennessCentrality(g2))
    assert(math.abs(bc("c") - 0.5) < 1e-9, bc)
    assert(bc == byId(withLimit(0)(GraphQueryOps.betweennessCentrality(g2))))
  }

  test("avgShortestPathSampled beside a null endpoint: the distributed value, no NPE") {
    val ap = GraphQueryOps.avgShortestPathSampled(g2)
    assert(ap > 0.0 && ap == withLimit(0)(GraphQueryOps.avgShortestPathSampled(g2)))
  }

  test("a repeated node id or no node at all: the driver values ≡ the distributed ones") {
    // each copy of b is a row of the distributed joins: it holds a rank
    // and a score, contributes them, and is sampled as a source once per copy
    val dup = graphOf(Seq("a", "b", "b", "c"), Seq(E("e1", "a", "b", "r", 1.0),
      E("e2", "b", "c", "r", 1.0), E("e3", "c", "a", "r", 1.0)))
    val empty = graphOf(Nil, Seq(E("e1", "a", "b", "r", 1.0)))
    for (g <- Seq(dup, empty); (name, run) <- Seq[(String, () => DataFrame)](
        "pagerank" -> (() => GraphQueryOps.pagerank(g, iterations = 3)),
        "eigenvector" -> (() => GraphQueryOps.eigenvectorCentrality(g, iterations = 9)),
        "closeness" -> (() => GraphQueryOps.closenessCentrality(g)),
        "betweenness" -> (() => GraphQueryOps.betweennessCentrality(g)))) {
      val (fast, dist) = (rows(run()), rows(withLimit(0)(run())))
      assert(sameRows(fast, dist), s"$name: $fast vs $dist")
    }
  }

  test("topKByDegree breaks degree ties in UTF-8 order; stats tallies null types") {
    import spark.implicits._
    // U+FFFD sorts before U+1F600 in UTF-8, after it in UTF-16; the
    // self-loop on a counts twice
    val (bmp, supp) = ("\uFFFD", "\uD83D\uDE00")
    val es = graphOf(Nil, Seq(E("e1", supp, "a", "r", 1.0), E("e2", bmp, "a", null, 1.0),
      E("e3", "a", "a", "r", 1.0), E(null, supp, bmp, "r", 1.0))).edges
    val g = Graph(Seq(ent("a"), ent(supp, etype = null), ent(bmp), ent("b", etype = null)).toDS(), es)
    def top(l: Long) = withLimit(l)(GraphQueryOps.topKByDegree(g, k = 2))
    val (fast, jobs) = jobsOf(top(graft.runtime.DriverPath.DriverIterationLimit))
    assert(jobs == 0)
    assert(fast.schema == top(0L).schema && !fast.schema("degree").nullable)
    assert(fast.collect().toSeq == top(0L).collect().toSeq)
    assert(fast.collect().map(r => (r.getString(0), r.getLong(1))).toSeq == Seq(("a", 4L), (bmp, 2L)))

    def stats(l: Long) = withLimit(l)(GraphBuilder.stats(g)).collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSet
    val st = stats(graft.runtime.DriverPath.DriverIterationLimit)
    assert(st == stats(0L))
    assert(st.contains(("nodes", 4.0)) && st.contains(("edges", 4.0)) &&
      st.contains(("entity:class", 2.0)) && st.contains(("rel:r", 3.0)), st)
    // one null key per side: 2 entities, 1 relation
    assert(st.filter(_._1 == null).map(_._2) == Set(1.0, 2.0), st)
  }

  // -------------------------------------------------------------- linker

  private def canon(r: Linker.LinkResult): (Seq[String], Seq[String]) = (
    r.canonical.collect().map(e => s"${e.id}|${e.name}|${e.entityType}").toSeq.sorted,
    r.rewrite.collect().map(x => s"${x.getString(0)}->${x.getString(1)}").toSeq.sorted)

  test("Linker.link with a null entity id: the distributed rewrite, no NPE") {
    import spark.implicits._
    val ents = Seq(ent("a1", "FooBar"), ent(null, "foo_bar"), ent("a3", "Foo-Bar"),
      ent("b1", "Other")).toDS()
    val fast = canon(Linker.link(ents))
    assert(fast._2 == Seq("a3->a1"), fast)
    assert(fast == canon(withLimit(0)(Linker.link(ents))))
  }

  test("Linker.link under withLimit(0) solves its pair graph with CC's star rounds") {
    import spark.implicits._
    val ents = Seq(ent("a1", "FooBar"), ent("a2", "Foo-Bar"), ent("b1", "Other")).toDS()
    graft.runtime.Observed.clear("cc_iterations")
    val r = withLimit(0)(Linker.link(ents))
    assert(canon(r)._2 == Seq("a2->a1"))
    val rounds = graft.runtime.Observed.get("cc_iterations").flatMap(_.get("rounds"))
    assert(rounds.exists(_ >= 1), s"expected star rounds, observed $rounds")
  }

  /** Entities over ids a0..a7 (some null, some repeated) named from two
    * alias families and a loner, of two types.
    */
  private val genEntities: Gen[Seq[Entity]] = {
    val names = Seq("FooBar", "foo_bar", "Foo-Bar", "FB", "foo bar",
      "DataStore", "data store", "data-store", "DS", "Other")
    val genEnt = for {
      id <- Gen.frequency(10 -> Gen.choose(0, 7).map(i => s"a$i"), 1 -> Gen.const[String](null))
      name <- Gen.oneOf(names)
      etype <- Gen.frequency(4 -> Gen.const("class"), 1 -> Gen.const("function"))
    } yield ent(id, name, etype)
    Gen.choose(2, 10).flatMap(Gen.listOfN(_, genEnt))
  }

  test("Linker.link: the driver path ≡ the distributed form; a null id takes the latter") {
    import spark.implicits._
    val sets = (0 until GraphCount).flatMap(i => genEntities(Gen.Parameters.default, Seed(i.toLong)))
    var driven = 0
    var linked = 0
    sets.foreach { es =>
      val ents = es.toDS()
      val fast = canon(Linker.link(ents))
      assert(fast == canon(withLimit(0)(Linker.link(ents))), s"entities=$es")
      // the driver path probes a local relation and runs no job
      val onDriver = jobsOf(Linker.link(ents))._2 == 0
      assert(onDriver == !es.exists(_.id == null), s"entities=$es")
      if (onDriver) driven += 1
      if (onDriver && fast._2.nonEmpty) linked += 1
    }
    assert(sets.exists(_.exists(_.id == null)))
    assert(2 * driven >= sets.length && linked >= 4, s"driven=$driven linked=$linked")
  }
}
