package graft

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.apache.spark.graftshim.GraftCore
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.Lower
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.graphout.GraphBuilder.Graph
import graft.graphout.Verifier
import graft.model.{Entity, Triple}
import graft.reason.Reasoning

/** The driver paths of `Reasoning.inferTransitive`,
  * `Reasoning.detectContradictory` and `Verifier.verify` equal their
  * distributed forms (`driverLimit = 0`) on adversarial small graphs, take
  * one probe job each (two for verify) and never evaluate Spark's `lower`;
  * nor do the standalone V1/V4 checks (`cyclicDependencies`,
  * `semanticContradictions`).
  */
class ReasoningDriverSpec extends SparkSpec {

  private final case class E(id: String, src: String, dst: String, rt: String,
                             conf: java.lang.Double)

  private val NonAscii = "İs-a"

  /** Edges with nullable confidence: `Triple.confidence` is a primitive,
    * so nulls are only reachable through the DataFrame the operators read.
    */
  private val edgeSchema = {
    val s = org.apache.spark.sql.Encoders.product[Triple].schema
    StructType(s.map(f => if (f.name == "confidence") f.copy(nullable = true) else f))
  }

  private def graphOf(nodes: Seq[String], edges: Seq[E]): Graph = {
    import spark.implicits._
    val ns = nodes.map(id => Entity(id, "n", "t", None, Map.empty, 1.0, "", "", "", "")).toDS()
    val es = spark.createDataFrame(edges.map(e => Row(e.id, e.src, e.dst, "", "", e.rt, null,
      false, 1.0, e.conf, "", Map.empty[String, String])).asJava, edgeSchema).as[Triple]
    Graph(ns, es)
  }

  // ---------------------------------------------------------- generator

  private val types = Seq("is-a", "IS-A", "Is-A", "part-of", "Part-Of", "contains",
    "implies", "causes", "subclass-of", "is-not-a", "Is-Not-A", "different-from",
    "separate-from", "prevents", "works-for", "not-affiliated-with", "unrelated-to", "knows")

  private val genConf: Gen[java.lang.Double] = Gen.frequency(
    6 -> Gen.oneOf(1.0, 0.95, 0.9, 0.8, 0.75, 0.6, 0.5, 0.3).map(Double.box),
    1 -> Gen.const(Double.box(Double.NaN)), 1 -> Gen.const(Double.box(-0.0)),
    1 -> Gen.const(Double.box(0.0)), 1 -> Gen.const[java.lang.Double](null))

  /** A small graph: random edges over a handful of nodes (self-loops,
    * tied parallel edges, null ids/endpoints/types/confidences, dangling
    * endpoints), a planted 2- or 3-hop chain of one mixed-case type (on
    * two or three nodes it closes on itself) with an optional parallel
    * twin of its first edge, an optional direct shortcut and a negation
    * edge across it, a
    * same-endpoint pair of opposite types (equal, null and unordered ids
    * included), an optional hierarchical 2-cycle, optional missing,
    * duplicate or null node ids and, in some graphs, one non-ASCII
    * relation type.
    */
  private val genGraph: Gen[(Seq[String], Seq[E])] = for {
    k <- Gen.choose(2, 6)
    pool = (0 until k).map(i => s"n$i")
    genEnd = Gen.frequency(30 -> Gen.oneOf(pool), 1 -> Gen.const("ghost"),
      1 -> Gen.const[String](null))
    genId = Gen.frequency(12 -> Gen.choose(0, 40).map(i => s"e$i"), 1 -> Gen.const[String](null))
    genType = Gen.frequency(20 -> Gen.oneOf(types), 1 -> Gen.const[String](null))
    genEdge = for (id <- genId; s <- genEnd; d <- genEnd; rt <- genType; c <- genConf)
      yield E(id, s, d, rt, c)
    random <- Gen.choose(0, 14).flatMap(Gen.listOfN(_, genEdge))
    tied <- Gen.someOf(random).flatMap(es => Gen.listOfN(es.size, genId)
      .map(ids => es.toSeq.zip(ids).map { case (e, id) => e.copy(id = id) }))
    chainType <- Gen.oneOf("is-a", "Part-Of", "contains", "IS-A", "subclass-of")
    hops <- Gen.choose(2, 3)
    chain <- Gen.listOfN(hops, Gen.frequency(
      1 -> Gen.oneOf(1.0, 0.95, 0.9).map(Double.box), 1 -> genConf))
    planted = chain.zipWithIndex.map { case (c, i) =>
      E(s"c$i", pool(i % k), pool((i + 1) % k), chainType, c) }
    // a NaN path listed after a finite one: max must still pick NaN
    twin <- Gen.frequency(1 -> Gen.const(None), 2 -> Gen.frequency(
      1 -> Gen.const(Double.box(Double.NaN)), 1 -> genConf).map(Some(_)))
    shortcut <- Gen.option(for (to <- Gen.choose(2, hops); c <- genConf)
      yield E("sc", pool(0), pool(to % k), chainType.toUpperCase, c))
    negation <- Gen.oneOf("is-not-a", "Different-From", "separate-from", "not-affiliated-with")
    negated = E("neg", pool(0), pool(hops % k), negation, Double.box(0.9))
    // opposite in both Reasoning.Opposites and Verifier.Opposites, and
    // not hierarchical, so the pair adds no cycle
    opposite <- Gen.oneOf(("causes", "Prevents"), ("Before", "after"), ("before", "simultaneous-with"))
    ids <- Gen.oneOf(("x1", "x2"), ("x2", "x1"), ("x1", "x1"), ("x1", null), ("x10", "x9"))
    confs <- Gen.zip(genConf, genConf)
    opposed = Seq(E(ids._1, pool(k - 1), pool(k - 2), opposite._1, confs._1),
      E(ids._2, pool(k - 1), pool(k - 2), opposite._2, confs._2))
    twinned = twin.map(c => E("tw", pool(0), pool(1), chainType, c))
    cycle <- Gen.frequency(2 -> Gen.const(Nil), 1 -> Gen.const(Seq(
      E("cy0", pool(0), pool(1), "contains", 0.8), E("cy1", pool(1), pool(0), "Contains", 0.7))))
    nonAscii <- Gen.frequency(5 -> Gen.const(Nil),
      1 -> Gen.const(Seq(E("u", pool(0), pool(1), NonAscii, 0.9))))
    nodes <- Gen.frequency(3 -> Gen.const(pool), 1 -> Gen.someOf(pool).map(_.toSeq))
    extraNodes <- Gen.frequency(6 -> Gen.const(Nil), 1 -> Gen.const(Seq[String](null)),
      1 -> Gen.oneOf(pool).map(Seq(_)))
  } yield (nodes ++ extraNodes, random ++ tied ++ planted ++ twinned ++ shortcut ++
    (negated +: opposed) ++ cycle ++ nonAscii)

  private lazy val graphs: Seq[(Seq[String], Seq[E])] =
    (0 until 24).flatMap(i => genGraph(Gen.Parameters.default, Seed(i.toLong)))

  /** Graphs every driver path takes: a non-ASCII type sends all three
    * calls to the distributed form, a null node id sends verify there.
    */
  private def onDriver(g: (Seq[String], Seq[E])): Boolean =
    !g._2.exists(_.rt == NonAscii) && !g._1.contains(null)

  // ------------------------------------------------------------- parity

  /** Rows as sorted strings; `unsignedZero` prints -0.0 as 0.0. */
  private def sortedRows(df: DataFrame, unsignedZero: Boolean = false): Seq[String] =
    df.collect().map(_.toSeq.map {
      case null => "null"
      case d: Double if unsignedZero && d == 0.0 => "0.0"
      case o => o.toString
    }.mkString("|")).toSeq.sorted

  test("the generator reaches every adversarial case") {
    val edges = graphs.flatMap(_._2)
    val driven = graphs.filter(onDriver)
    assert(graphs.length == 24)
    assert(driven.length >= 14)
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
        assert(fast == rows(Reasoning.inferTransitive(g, mc, driverLimit = 0)),
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
        assert(fast == sortedRows(Reasoning.detectContradictory(g, t, driverLimit = 0)),
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
      val dist = Verifier.verify(g, driverLimit = 0)
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

  /** `body`'s result and the SQL executions it ran. */
  private def withExecs[T](body: => T): (T, Seq[(String, QueryExecution)]) = {
    val execs = new java.util.concurrent.ConcurrentLinkedQueue[(String, QueryExecution)]()
    val l = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = execs.add(f -> qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = execs.add(f -> qe)
    }
    assert(GraftCore.drainListenerBus(spark.sparkContext, 30000))
    spark.listenerManager.register(l)
    try {
      val r = body
      assert(GraftCore.drainListenerBus(spark.sparkContext, 30000))
      (r, execs.asScala.toSeq)
    } finally spark.listenerManager.unregister(l)
  }

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
      val (it, dc) = (Reasoning.inferTransitive(g, driverLimit = lim),
        Reasoning.detectContradictory(g, driverLimit = lim))
      assert(sortedRows(it) == sortedRows(Reasoning.inferTransitive(g)))
      assert(it.schema == Reasoning.inferTransitive(g).schema)
      assert(sortedRows(dc) == sortedRows(Reasoning.detectContradictory(g)))
      assert(dc.schema == Reasoning.detectContradictory(g).schema)
    }
  }

  test("standalone V1 and V4: one probe job each and no lower(), ≡ the distributed form") {
    def issues(ds: org.apache.spark.sql.Dataset[graft.model.Issue]) = ds.collect().map(_.toString).sorted.toSeq
    for ((es, onDriver) <- Seq(pinned._2 -> true, (pinned._2 :+ E("u", "a", "d", NonAscii, 0.9)) -> false)) {
      val g = stored(pinned._1, es)
      val (((v1, j1), (v4, j4)), execs) = withExecs((
        jobsOf(issues(Verifier.cyclicDependencies(g))),
        jobsOf(issues(Verifier.semanticContradictions(g)))))
      assert(v1.nonEmpty && v4.nonEmpty)
      assert(v1 == issues(Verifier.cyclicDependencies(g, driverLimit = 0)))
      assert(v4 == issues(Verifier.semanticContradictions(g, driverLimit = 0)))
      if (onDriver) {
        assert((j1, j4) == (1, 1), s"jobs: cyclicDependencies=$j1 semanticContradictions=$j4")
        assert(!execs.exists(e => hasLower(e._2)), execs.map(_._1))
      } else assert(j1 > 1 && j4 > 1 && execs.exists(e => hasLower(e._2)), s"jobs: $j1 $j4")
    }
  }
}
