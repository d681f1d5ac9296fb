package graft

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.StructType
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.graphout.GraphBuilder.Graph
import graft.model.{Entity, Triple}

/** The adversarial small graphs of the driver-mirror parity suites
  * (ReasoningDriverSpec, QueryDriverSpec): every mirror is run against its
  * distributed form (`DriverPath.withLimit(0)`) on the same generated graphs.
  */
object GraphGen {

  final case class E(id: String, src: String, dst: String, rt: String,
                     conf: java.lang.Double)

  val NonAscii = "İs-a"

  /** Edges with nullable confidence: `Triple.confidence` is a primitive,
    * so nulls are only reachable through the DataFrame the operators read.
    */
  private val edgeSchema = {
    val s = org.apache.spark.sql.Encoders.product[Triple].schema
    StructType(s.map(f => if (f.name == "confidence") f.copy(nullable = true) else f))
  }

  def graphOf(nodes: Seq[String], edges: Seq[E]): Graph = {
    val spark = TestSpark.spark
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
  val genGraph: Gen[(Seq[String], Seq[E])] = for {
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

  /** The first `n` graphs of [[genGraph]], seeds 0 until n. */
  def graphs(n: Int): Seq[(Seq[String], Seq[E])] =
    (0 until n).flatMap(i => genGraph(Gen.Parameters.default, Seed(i.toLong)))

  /** Whether an edge has a null endpoint: a probe key, so every mirror that
    * reads the edges takes its distributed form.
    */
  def nullEnd(es: Seq[E]): Boolean = es.exists(e => e.src == null || e.dst == null)

  /** Rows as sorted strings; `unsignedZero` prints -0.0 as 0.0. */
  def sortedRows(df: DataFrame, unsignedZero: Boolean = false): Seq[String] =
    df.collect().map(_.toSeq.map {
      case null => "null"
      case d: Double if unsignedZero && d == 0.0 => "0.0"
      case o => o.toString
    }.mkString("|")).toSeq.sorted
}
