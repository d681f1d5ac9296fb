package graft.graphout

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import graft.graphout.GraphBuilder.Graph
import graft.model.{Issue, Severity}
import graft.runtime.{DriverPath, Utf8Order}

/**
 * Rule-based graph verification V1-V4 (SURVEY.md §2.6; reference
 * src/knowledge/knowledge_verifier.py) as DataFrame jobs. The reference's
 * whole-graph LLM pass (V5) is out of scope at 10^12 scale — the
 * deterministic checks plus counters are the verification contract.
 *
 * A graph is valid iff no critical issue (knowledge_verifier.py:78-82).
 *
 * Graphs under [[DriverPath.limit]] edges run the V1/V4 walks
 * (and, in [[verify]], all four checks) in memory on the driver, from one
 * DriverPath.probe (round-7 measurement: the distributed loops are 20-34
 * driver-blocking jobs of ~50 ms fixed latency each for <0.3 s of actual
 * task time on the planted catalog graphs). The driver mirrors replicate
 * the distributed pair-set iteration literally (same extension, same
 * dedup, same prune), so the result set is identical by construction;
 * Round7Spec and ReasoningDriverSpec pin it.
 */
object Verifier {

  /** Hierarchical relation types whose directed graph must be acyclic
    * (knowledge_verifier.py:198-205).
    */
  val HierarchicalTypes: Seq[String] =
    Seq("is-a", "part-of", "subclass-of", "contains", "includes")

  /** Transitive types scanned for semantic contradictions
    * (knowledge_verifier.py:424-437).
    */
  val TransitiveTypes: Seq[String] = Seq("is-a", "part-of", "subclass-of")

  /** Direct-contradiction edge types for V4 (knowledge_verifier.py:445-450). */
  val NegationTypes: Seq[String] = Seq("is-not-a", "different-from", "separate-from")

  /** Opposites table (knowledge_verifier.py:320-328), symmetrized as the
    * reference does at :331-335.
    */
  val Opposites: Seq[(String, String)] = {
    val base = Seq(
      "is-a" -> Seq("is-not-a", "different-from"),
      "part-of" -> Seq("separate-from", "unrelated-to"),
      "causes" -> Seq("prevents", "unrelated-to"),
      "depends-on" -> Seq("independent-of"),
      "similar-to" -> Seq("different-from", "opposite-of"),
      "greater-than" -> Seq("less-than", "equal-to"),
      "before" -> Seq("after", "simultaneous-with")
    )
    val fwd = base.flatMap { case (k, vs) => vs.map(v => (k, v)) }
    (fwd ++ fwd.map(_.swap)).distinct
  }

  /** Default walk lengths of V1 and V4, shared by [[verify]]. */
  private val CycleDepth = 10
  private val ContradictionHops = 4

  private val OppositeSet: Set[(String, String)] = Opposites.toSet

  private def cycleIssue(origin: String) = Issue(
    issueType = "cyclic_dependency",
    involvedElements = Seq(origin),
    proposedSolution = "Remove one edge of the hierarchical cycle",
    severity = Severity.Critical)

  private def danglingIssue(edgeId: String, missing: String) = Issue(
    issueType = "dangling_reference",
    involvedElements = Seq(edgeId, missing),
    proposedSolution = "Remove the relationship or add the missing entity",
    severity = Severity.Critical)

  private def contradictionIssue(idA: String, idB: String) = Issue(
    issueType = "contradictory_relationships",
    involvedElements = Seq(idA, idB),
    proposedSolution = "Keep the higher-confidence relationship",
    severity = Severity.Medium)

  private def transitiveIssue(tt: String, origin: String, last: String) = Issue(
    issueType = s"transitive_contradiction_$tt",
    involvedElements = Seq(origin, last),
    proposedSolution = s"Resolve conflict between $tt chain and direct negation",
    severity = Severity.Medium)

  /** V1 cyclic-dependency check: nodes on a hierarchical-type cycle.
    * DFS in the reference (knowledge_verifier.py:184-271); here a bounded
    * iterated frontier-join: propagate reachability up to maxDepth hops
    * and flag nodes that reach themselves. CRITICAL.
    */
  def cyclicDependencies(g: Graph, maxDepth: Int = CycleDepth): Dataset[Issue] = {
    val spark = g.nodes.sparkSession
    import spark.implicits._
    // ---- driver fast path: one probe job, then the identical pair-set
    // iteration in memory (the type filter runs on the driver too)
    walkEdges(g).flatMap(driverCycles(_, maxDepth)).fold(distributedCycles(g, maxDepth))(_.toDS())
  }

  private def distributedCycles(g: Graph, maxDepth: Int): Dataset[Issue] = {
    val spark = g.nodes.sparkSession
    import spark.implicits._
    val h = g.edges.toDF()
      .where(lower($"relType").isin(HierarchicalTypes: _*))
      .select($"srcId".as("src"), $"dstId".as("dst")).distinct()
      .localCheckpoint(true)
    // paths(origin, last); a cycle exists when last == origin after ≥1 hop
    var reach = h.select($"src".as("origin"), $"dst".as("last"))
    var cycles = reach.where($"origin" === $"last")
    var depth = 1
    while (depth < maxDepth && !reach.isEmpty) {
      reach = reach.join(h.withColumnRenamed("src", "last"), Seq("last"))
        .select($"origin", $"dst".as("last"))
        .distinct()
        .localCheckpoint(true)
      cycles = cycles.union(reach.where($"origin" === $"last"))
      // prune: only keep paths that could still close a new cycle
      reach = reach.where($"origin" =!= $"last")
      depth += 1
    }
    cycles.select($"origin").distinct().map(r => cycleIssue(r.getString(0)))
  }

  /** V1 on the driver from the [[walkEdges]], of which it keeps the
    * hierarchical ones: the distributed pair-set iteration with Set ≡
    * distinct, same closure and prune order. None when the walk outgrows
    * [[DriverPath.PairBound]].
    */
  private def driverCycles(edges: Seq[(String, String, String)],
                           maxDepth: Int): Option[Seq[Issue]] = {
    val dedup = edges.collect { case (s, d, rt) if HierarchicalTypes.contains(rt) => (s, d) }.distinct
    val adj = dedup.groupBy(_._1).map { case (k, ps) => k -> ps.map(_._2) }
    var reach = dedup.toSet
    val cycles = scala.collection.mutable.HashSet.empty[String]
    cycles ++= reach.collect { case (o, l) if o == l => o }
    var depth = 1
    while (depth < maxDepth && reach.nonEmpty) {
      reach = reach.flatMap { case (o, l) => adj.getOrElse(l, Nil).map(d2 => (o, d2)) }
      if (reach.size > DriverPath.PairBound) return None
      cycles ++= reach.collect { case (o, l) if o == l => o }
      reach = reach.filterNot(p => p._1 == p._2)
      depth += 1
    }
    Some(cycles.toSeq.sorted.map(cycleIssue))
  }

  /** V2 dangling references: edges whose src/dst id is not a node —
    * two anti joins (knowledge_verifier.py:273-305). CRITICAL.
    */
  def danglingReferences(g: Graph): Dataset[Issue] = {
    val spark = g.nodes.sparkSession
    import spark.implicits._
    val ids = g.nodes.toDF().select($"id").distinct()
    val badSrc = g.edges.toDF()
      .join(ids.withColumnRenamed("id", "srcId"), Seq("srcId"), "left_anti")
      .select($"id", $"srcId".as("missing"))
    val badDst = g.edges.toDF()
      .join(ids.withColumnRenamed("id", "dstId"), Seq("dstId"), "left_anti")
      .select($"id", $"dstId".as("missing"))
    badSrc.union(badDst).map(r => danglingIssue(r.getString(0), r.getString(1)))
  }

  /** V3 contradictory relationships: same (src,dst) pair carrying opposite
    * types — self-join + broadcast opposites (knowledge_verifier.py:307-394).
    * MEDIUM.
    */
  def contradictoryRelationships(g: Graph): Dataset[Issue] = {
    val spark = g.nodes.sparkSession
    import spark.implicits._
    val opp = broadcast(Opposites.toDF("typeA", "typeB"))
    val e = g.edges.toDF().select($"id", $"srcId", $"dstId", lower($"relType").as("rt"))
    val a = e.select($"srcId", $"dstId", $"id".as("idA"), $"rt".as("typeA"))
    val b = e.select($"srcId", $"dstId", $"id".as("idB"), $"rt".as("typeB"))
    a.join(b, Seq("srcId", "dstId"))
      .where($"idA" < $"idB")
      .join(opp, Seq("typeA", "typeB"), "left_semi")
      .map(r => contradictionIssue(r.getAs[String]("idA"), r.getAs[String]("idB")))
  }

  /** The driver form of the same-endpoint self-join behind V3 and
    * `Reasoning.detectContradictory`: the index pairs (i, j) of `edges`
    * (id, srcId, dstId, lowered relType) that share (srcId, dstId), with
    * id_i < id_j in Spark's string order and (rt_i, rt_j) in `opposites`,
    * each as often as the join emits it. As in SQL, a null id or type
    * never passes a filter (the endpoints are probe keys, never null).
    * None when the join would enumerate more than [[DriverPath.PairBound]]
    * pairs.
    */
  private[graft] def driverOppositePairs(edges: IndexedSeq[(String, String, String, String)],
                                         opposites: Set[(String, String)])
      : Option[Seq[(Int, Int)]] = {
    val groups = edges.indices.groupBy(i => (edges(i)._2, edges(i)._3)).values.toSeq
    if (groups.map(grp => grp.size.toLong * grp.size).sum > DriverPath.PairBound) None
    else Some(for {
      grp <- groups; i <- grp; j <- grp
      if edges(i)._1 != null && edges(j)._1 != null &&
        Utf8Order.compare(edges(i)._1, edges(j)._1) < 0 && opposites((edges(i)._4, edges(j)._4))
    } yield (i, j))
  }

  /** V4 transitive contradictions: endpoints reachable via ≥2 hops of one
    * transitive type, with a direct negation edge between them
    * (knowledge_verifier.py:396-477). MEDIUM.
    */
  def semanticContradictions(g: Graph, maxHops: Int = ContradictionHops): Dataset[Issue] = {
    val spark = g.nodes.sparkSession
    import spark.implicits._
    // ---- driver fast path (round-7): one probe job replaces the
    // 30-odd driver-blocking jobs of the seeded distributed walk on small
    // graphs; driverContradictions picks both edge classes out itself
    walkEdges(g).flatMap(driverContradictions(_, maxHops))
      .fold(distributedContradictions(g, maxHops))(_.toDS())
  }

  private def distributedContradictions(g: Graph, maxHops: Int): Dataset[Issue] = {
    val spark = g.nodes.sparkSession
    import spark.implicits._
    val neg = g.edges.toDF()
      .where(lower($"relType").isin(NegationTypes: _*))
      .select($"srcId".as("origin"), $"dstId".as("last"))
      .distinct()
      .localCheckpoint(true)
    // An issue needs BOTH a ≥2-hop transitive chain AND a direct negation
    // edge between its endpoints, so only origins that source a negation
    // edge can ever produce one. Seeding the walk from those origins
    // prunes the frontier before iterating (round-2 verdict item 4: the
    // unseeded walk materialized the full bounded transitive closure —
    // the product of reachability, not of contradictions, at scale).
    val negOrigins = neg.select($"origin".as("src")).distinct()
    if (negOrigins.isEmpty) return spark.emptyDataset[Issue]

    // all transitive types walk TOGETHER, keyed by a type column — chains
    // stay within one type via the (tt, last=src) join key, but the
    // driver loop runs once instead of once per type (each hop of each
    // per-type loop was a driver-blocking job; fused: one job per hop)
    val h = g.edges.toDF()
      .where(lower($"relType").isin(TransitiveTypes: _*))
      .select(lower($"relType").as("tt"), $"srcId".as("src"), $"dstId".as("dst"))
      .distinct()
      .localCheckpoint(true)
    // reachable in [2, maxHops] hops, origins pre-pruned to neg sources
    var paths = h.join(negOrigins, Seq("src"), "left_semi")
      .select($"tt", $"src".as("origin"), $"dst".as("last"))
    var hop = 1
    var acc: DataFrame = null
    while (hop < maxHops && !paths.isEmpty) {
      paths = paths.join(h.withColumnRenamed("src", "last"), Seq("tt", "last"))
        .select($"tt", $"origin", $"dst".as("last")).distinct().localCheckpoint(true)
      acc = if (acc == null) paths else acc.union(paths)
      hop += 1
    }
    if (acc == null) spark.emptyDataset[Issue]
    else acc.distinct()
      .join(neg, Seq("origin", "last"), "left_semi")
      .map(r => transitiveIssue(r.getAs[String]("tt"), r.getAs[String]("origin"),
        r.getAs[String]("last")))
  }

  /** V4 on the driver from the [[walkEdges]] of any type: the distributed
    * (tt, origin, last) set iteration literally — same seed pruning, same
    * per-hop distinct, same 2..maxHops accumulation, same final negation
    * semi-join. None when the walk outgrows [[DriverPath.PairBound]].
    */
  private def driverContradictions(edges: Seq[(String, String, String)],
                                   maxHops: Int): Option[Seq[Issue]] = {
    val negSet = edges.collect { case (s2, d2, rt) if NegationTypes.contains(rt) => (s2, d2) }.toSet
    if (negSet.isEmpty) return Some(Nil)
    val hRows = edges.collect { case (s2, d2, rt) if TransitiveTypes.contains(rt) => (rt, s2, d2) }
      .distinct
    val negOrigins = negSet.map(_._1)
    val adj = hRows.groupBy(t => (t._1, t._2)).map { case (k, ts) => k -> ts.map(_._3) }
    var paths = hRows.filter(t => negOrigins(t._2)).toSet
    val acc = scala.collection.mutable.HashSet.empty[(String, String, String)]
    var hop = 1
    while (hop < maxHops && paths.nonEmpty) {
      paths = paths.flatMap { case (tt, o, l) => adj.getOrElse((tt, l), Nil).map(d2 => (tt, o, d2)) }
      if (paths.size > DriverPath.PairBound) return None
      acc ++= paths
      hop += 1
    }
    Some(acc.toSeq.filter { case (_, o, l) => negSet((o, l)) }.sorted.map {
      case (tt, o, l) => transitiveIssue(tt, o, l)
    })
  }

  final case class Verification(issues: Dataset[Issue], isValid: Boolean)

  /** Runs V1–V4.
    *
    * Under [[DriverPath.limit]] edges and nodes, all four checks run on the
    * driver from one snapshot: one probe of the edge columns they read
    * (id, srcId, dstId, relType, case-folded by [[DriverPath.lowerAscii]])
    * and one of the node ids for V2, so each check runs once, `issues` is
    * a local relation and `isValid` is read from that same issue set. A
    * check the driver cannot run takes its distributed form: V2 and V3 when
    * the node ids are refused or V3's pairs outgrow [[DriverPath.PairBound]],
    * V1 or V4 when its walk does, all four on a non-ASCII relation type or
    * an edge table over the limit. V1 and V4 walk the rows the edge probe
    * fetched, so they never probe again. Then validity reads only the two
    * checks that emit critical issues (V1, V2): they run eagerly for
    * `isValid` and again when the caller reads `issues`, while the V3
    * self-join runs once, with `issues`.
    */
  def verify(g: Graph): Verification = {
    val spark = g.nodes.sparkSession
    import spark.implicits._
    val es = foldedEdges(g.edges.toDF().select("id", "srcId", "dstId", "relType")).map {
      case (raw, rts) =>
        raw.indices.map(i => (raw(i).getString(0), raw(i).getString(1), raw(i).getString(2), rts(i)))
    }
    val walks = es.map(_.map { case (_, s, d, rt) => (s, d, rt) })
    val v1 = walks.flatMap(driverCycles(_, CycleDepth))
    val v4 = walks.flatMap(driverContradictions(_, ContradictionHops))
    (v1, es.flatMap(driverV2V3(g, _)), v4) match {
      case (Some(cycles), Some(v2v3), Some(transitive)) =>
        val issues = cycles ++ v2v3 ++ transitive
        Verification(issues.toDS(), !issues.exists(_.severity == Severity.Critical))
      case _ =>
        val critical = v1.fold(distributedCycles(g, CycleDepth))(_.toDS())
          .union(danglingReferences(g))
        val all = critical
          .union(contradictoryRelationships(g))
          .union(v4.fold(distributedContradictions(g, ContradictionHops))(_.toDS()))
        Verification(all, critical.limit(1).count() == 0)
    }
  }

  /** The rows of `edges`, an edge projection whose last column is
    * relType, and that column case-folded by [[DriverPath.lowerAscii]]:
    * one probe with no Spark `lower` in its plan, keyed on the endpoints.
    * None over `DriverPath.limit` rows, on a null endpoint or on a non-ASCII
    * type, which take the distributed forms.
    */
  private def foldedEdges(edges: DataFrame): Option[(Array[Row], Array[String])] =
    DriverPath.probe(edges, "srcId", "dstId").flatMap { raw =>
      DriverPath.lowerAscii(raw.map(_.getString(edges.columns.length - 1))).map(raw -> _)
    }

  /** (srcId, dstId, case-folded relType) of every edge, the input of the
    * standalone V1 and V4 driver walks, or None (their distributed forms).
    */
  private def walkEdges(g: Graph): Option[IndexedSeq[(String, String, String)]] =
    foldedEdges(g.edges.toDF().select("srcId", "dstId", "relType")).map { case (raw, rts) =>
      raw.indices.map(i => (raw(i).getString(0), raw(i).getString(1), rts(i)))
    }

  /** V2 then V3 of [[verify]] on the driver from its (id, srcId, dstId,
    * folded relType) edges, in the distributed union's order (V2 by source
    * then by destination), or None when the node ids or V3's pairs refuse.
    */
  private def driverV2V3(g: Graph, es: IndexedSeq[(String, String, String, String)])
      : Option[Seq[Issue]] = {
    val ids = graft.query.GraphQueryOps.driverNodeIds(g).getOrElse(return None).toSet
    // V2 is two anti-joins: an endpoint missing from the node ids is reported
    def dangling(end: ((String, String, String, String)) => String) =
      es.collect { case e if !ids(end(e)) => danglingIssue(e._1, end(e)) }
    driverOppositePairs(es, OppositeSet).map(v3 => dangling(_._2) ++ dangling(_._3) ++
      v3.map { case (i, j) => contradictionIssue(es(i)._1, es(j)._1) })
  }
}
