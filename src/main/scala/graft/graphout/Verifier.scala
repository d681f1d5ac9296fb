package graft.graphout

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.graphout.GraphBuilder.Graph
import graft.model.{Issue, Severity}
import graft.runtime.DriverPath

/**
 * Rule-based graph verification V1-V4 (SURVEY.md §2.6; reference
 * src/knowledge/knowledge_verifier.py) as DataFrame jobs. The reference's
 * whole-graph LLM pass (V5) is out of scope at 10^12 scale — the
 * deterministic checks plus counters are the verification contract.
 *
 * A graph is valid iff no critical issue (knowledge_verifier.py:78-82).
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

  import graft.model.Issue

  /** Small graphs run the V1/V4 walks as an in-memory driver loop, gated
    * by one DriverPath.probe (the GraphQueryOps.DriverIterationLimit
    * pattern — round-7 measurement: the distributed loops are 20-34
    * driver-blocking jobs of ~50 ms fixed latency each for <0.3 s of
    * actual task time on the planted catalog graphs). The driver mirrors
    * replicate the distributed pair-set iteration literally (same
    * extension, same dedup, same prune), so the result set is identical
    * by construction; VerifierSpec pins it.
    */
  private[graphout] def driverLimit: Long = graft.query.GraphQueryOps.DriverIterationLimit

  /** In-flight pair-set bound for the driver mirrors: past this the walk
    * falls back to the distributed loop (a dense closure can hold up to
    * V² pairs regardless of edge count).
    */
  private val DriverPairBound = 2000000

  /** V1 cyclic-dependency check: nodes on a hierarchical-type cycle.
    * DFS in the reference (knowledge_verifier.py:184-271); here a bounded
    * iterated frontier-join: propagate reachability up to maxDepth hops
    * and flag nodes that reach themselves. CRITICAL.
    */
  def cyclicDependencies(g: Graph, maxDepth: Int = 10,
                         driverLimit: Long = Verifier.driverLimit): Dataset[Issue] = {
    val spark = g.nodes.sparkSession
    import spark.implicits._
    val hDf = g.edges.toDF()
      .where(lower($"relType").isin(HierarchicalTypes: _*))
      .select($"srcId".as("src"), $"dstId".as("dst")).distinct()

    // ---- driver fast path: one probe job, then the identical pair-set
    // iteration in memory (Set ≡ distinct, same closure/prune order).
    // The probe reads the PRE-distinct projection — the in-memory Set
    // dedups anyway, and skipping distinct keeps the probe a pure scan
    // (no exchange to materialize before the first row arrives).
    locally {
      val esOpt = DriverPath.probe(g.edges.toDF()
        .where(lower($"relType").isin(HierarchicalTypes: _*))
        .select($"srcId", $"dstId"), driverLimit)
      esOpt.foreach { rows =>
        // null-endpoint rows are output-inert in the distributed form
        // (a null join key never matches, a null === comparison is never
        // true) but a Scala HashMap would treat null as a real key —
        // drop them so the mirror cannot diverge on malformed input
        val es = rows.map(r => (r.getString(0), r.getString(1)))
          .filter(p => p._1 != null && p._2 != null)
        val dedup = es.distinct
        val adj = dedup.groupBy(_._1).map { case (k, ps) => k -> ps.map(_._2) }
        var reach = dedup.toSet
        val cycles = scala.collection.mutable.HashSet.empty[String]
        cycles ++= reach.collect { case (o, l) if o == l => o }
        var depth = 1
        var blown = false
        while (depth < maxDepth && reach.nonEmpty && !blown) {
          reach = reach.flatMap { case (o, l) =>
            adj.getOrElse(l, Array.empty[String]).map(d2 => (o, d2)) }
          if (reach.size > DriverPairBound) blown = true
          else {
            cycles ++= reach.collect { case (o, l) if o == l => o }
            reach = reach.filterNot(p => p._1 == p._2)
            depth += 1
          }
        }
        if (!blown)
          return spark.createDataset(cycles.toSeq.sorted.map(o => Issue(
            issueType = "cyclic_dependency",
            involvedElements = Seq(o),
            proposedSolution = "Remove one edge of the hierarchical cycle",
            severity = Severity.Critical)))
      }
    }

    val h = hDf.localCheckpoint(true)
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
    cycles.select($"origin").distinct()
      .map(r => Issue(
        issueType = "cyclic_dependency",
        involvedElements = Seq(r.getString(0)),
        proposedSolution = "Remove one edge of the hierarchical cycle",
        severity = Severity.Critical))
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
    badSrc.union(badDst)
      .map(r => Issue(
        issueType = "dangling_reference",
        involvedElements = Seq(r.getString(0), r.getString(1)),
        proposedSolution = "Remove the relationship or add the missing entity",
        severity = Severity.Critical))
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
      .map(r => Issue(
        issueType = "contradictory_relationships",
        involvedElements = Seq(r.getAs[String]("idA"), r.getAs[String]("idB")),
        proposedSolution = "Keep the higher-confidence relationship",
        severity = Severity.Medium))
  }

  /** V4 transitive contradictions: endpoints reachable via ≥2 hops of one
    * transitive type, with a direct negation edge between them
    * (knowledge_verifier.py:396-477). MEDIUM.
    */
  def semanticContradictions(g: Graph, maxHops: Int = 4,
                             driverLimit: Long = Verifier.driverLimit): Dataset[Issue] = {
    val spark = g.nodes.sparkSession
    import spark.implicits._

    // ---- driver fast path (round-7): one probe job replaces the
    // 30-odd driver-blocking jobs of the seeded distributed walk on small
    // graphs; the in-memory loop replicates the distributed (tt, origin,
    // last) set iteration literally — same seed pruning, same per-hop
    // distinct, same 2..maxHops accumulation, same final neg semi-join.
    locally {
      // ONE probe for both edge classes (pre-distinct — the in-memory
      // Sets dedup, and the unioned predicate keeps the probe a single
      // scan with no exchange)
      val rowsOpt = DriverPath.probe(g.edges.toDF()
        .where(lower($"relType").isin((NegationTypes ++ TransitiveTypes): _*))
        .select(lower($"relType").as("rt"), $"srcId", $"dstId"), driverLimit)
      rowsOpt.foreach { raw =>
        // null endpoints dropped — output-inert distributed (see
        // cyclicDependencies), key-colliding in Scala sets
        val rows = raw.map(r => (r.getString(0), r.getString(1), r.getString(2)))
          .filter(t => t._2 != null && t._3 != null)
        val negSet = rows.collect {
          case (rt, s2, d2) if NegationTypes.contains(rt) => (s2, d2) }.toSet
        if (negSet.isEmpty) return spark.emptyDataset[Issue]
        val hRows = rows.collect {
          case (rt, s2, d2) if TransitiveTypes.contains(rt) => (rt, s2, d2) }.distinct
        locally {
          val negOrigins = negSet.map(_._1)
          val adj = hRows.groupBy(t => (t._1, t._2))
            .map { case (k, ts) => k -> ts.map(_._3) }
          var paths = hRows.collect {
            case (tt, src, dst) if negOrigins(src) => (tt, src, dst) }.toSet
          val acc = scala.collection.mutable.HashSet.empty[(String, String, String)]
          var hop = 1
          var blown = false
          while (hop < maxHops && paths.nonEmpty && !blown) {
            paths = paths.flatMap { case (tt, o, l) =>
              adj.getOrElse((tt, l), Array.empty[String]).map(d2 => (tt, o, d2)) }
            if (paths.size > DriverPairBound) blown = true
            else { acc ++= paths; hop += 1 }
          }
          if (!blown)
            return spark.createDataset(
              acc.toSeq.filter { case (_, o, l) => negSet((o, l)) }.sorted.map {
                case (tt, o, l) => Issue(
                  issueType = s"transitive_contradiction_$tt",
                  involvedElements = Seq(o, l),
                  proposedSolution =
                    s"Resolve conflict between $tt chain and direct negation",
                  severity = Severity.Medium)
              })
        }
      }
    }

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
      .map { r =>
        val tt = r.getAs[String]("tt")
        Issue(
          issueType = s"transitive_contradiction_$tt",
          involvedElements = Seq(r.getAs[String]("origin"), r.getAs[String]("last")),
          proposedSolution = s"Resolve conflict between $tt chain and direct negation",
          severity = Severity.Medium)
      }
  }

  final case class Verification(issues: Dataset[Issue], isValid: Boolean)

  /** Runs V1–V4. Validity reads only the two checks that emit critical
    * issues (V1, V2), so the V3 self-join runs once, when the caller
    * reads `issues`.
    */
  def verify(g: Graph): Verification = {
    val critical = cyclicDependencies(g).union(danglingReferences(g))
    val all = critical
      .union(contradictoryRelationships(g))
      .union(semanticContradictions(g))
    Verification(all, critical.limit(1).count() == 0)
  }
}
