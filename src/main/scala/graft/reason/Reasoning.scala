package graft.reason

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType}
import graft.graphout.GraphBuilder.Graph
import graft.graphout.Verifier
import graft.model.Triple
import graft.runtime.DriverPath

/**
 * Inference & conflict operators X2-X13 (SURVEY.md §2.9; reference
 * src/graph_management/graph_reasoning.py). All the reference's O(E²)
 * Python loops become self-joins / anti-joins / window ranks.
 */
object Reasoning {

  /** Transitive relation types (graph_reasoning.py:654). */
  val TransitiveTypes: Seq[String] = Seq("is-a", "part-of", "contains", "implies", "causes")

  /** Symmetric relation types (graph_reasoning.py:827). */
  val SymmetricTypes: Seq[String] = Seq("similar-to", "related-to", "connected-with", "interacts-with")

  /** Inverse pairs (graph_reasoning.py:876-883), symmetrized. */
  val InversePairs: Seq[(String, String)] = {
    val base = Seq(
      "contains" -> "part-of", "broader-than" -> "narrower-than",
      "causes" -> "caused-by", "precedes" -> "follows",
      "parent-of" -> "child-of", "works-for" -> "employs")
    base ++ base.map(_.swap)
  }

  /** Opposites table for conflict detection (graph_reasoning.py:209-225),
    * symmetrized.
    */
  val Opposites: Seq[(String, String)] = {
    val base = Seq(
      "works-for" -> Seq("not-affiliated-with", "unrelated-to"),
      "is-a" -> Seq("is-not-a", "different-from"),
      "part-of" -> Seq("separate-from", "not-part-of"),
      "contains" -> Seq("does-not-contain", "excludes"),
      "causes" -> Seq("prevents", "unrelated-to"),
      "before" -> Seq("after", "simultaneous-with"),
      "implies" -> Seq("contradicts", "unrelated-to"))
    val fwd = base.flatMap { case (k, vs) => vs.map(v => (k, v)) }
    (fwd ++ fwd.map(_.swap)).distinct
  }

  private def lowered(g: Graph): DataFrame =
    g.edges.toDF().withColumn("rt", lower(col("relType")))

  // ------------------------------------------------------------- inference

  /** X2/X11 special case: has-skill ∘ required-for ⇒ qualified-for with
    * conf = min(c1,c2) × 0.9 (graph_reasoning.py:122-134, 657-723).
    * 2-hop self-join.
    */
  def inferQualifiedFor(g: Graph, minConfidence: Double = 0.7): DataFrame = {
    val e = lowered(g)
    val skills = e.where(col("rt") === "has-skill")
      .select(col("srcId").as("person"), col("dstId").as("skill"),
        col("confidence").as("c1"))
    val jobs = e.where(col("rt") === "required-for")
      .select(col("srcId").as("skill"), col("dstId").as("job"),
        col("confidence").as("c2"))
    skills.join(jobs, Seq("skill"))
      .select(col("person").as("srcId"), col("job").as("dstId"),
        lit("qualified-for").as("relType"),
        (least(col("c1"), col("c2")) * 0.9).as("confidence"))
      .where(col("confidence") >= minConfidence)
      .groupBy("srcId", "dstId", "relType")
      .agg(max("confidence").as("confidence"))
  }

  /** X11 transitive inference: 2- and 3-hop chains of one transitive type,
    * conf = Π(edge conf) × 0.9^(hops-1), max over paths, skip existing
    * direct edges (graph_reasoning.py:641-812, cutoff 3 at :763).
    *
    * Under `DriverPath.limit` edges the chains are walked on the driver from
    * one probe of the four edge columns read ([[driverTransitive]]); the
    * self-joins below are the distributed form.
    */
  def inferTransitive(g: Graph, minConfidence: Double = 0.7): DataFrame = {
    driverTransitive(g, minConfidence).foreach(df => return df)
    val spark = g.nodes.sparkSession
    import spark.implicits._
    val e = lowered(g).where($"rt".isin(TransitiveTypes: _*))
      .select($"srcId", $"dstId", $"rt", $"confidence")
      .localCheckpoint(true)

    val h1 = e.select($"srcId".as("a"), $"dstId".as("b"), $"rt", $"confidence".as("cab"))
    val h2 = e.select($"srcId".as("b"), $"dstId".as("c"), $"rt", $"confidence".as("cbc"))
    val two = h1.join(h2, Seq("b", "rt"))
      .where($"a" =!= $"c")
      .select($"a", $"c", $"rt", ($"cab" * $"cbc" * 0.9).as("pconf"))
    val h3 = e.select($"srcId".as("c"), $"dstId".as("d"), $"rt", $"confidence".as("ccd"))
    val three = two.withColumnRenamed("c", "mid").withColumnRenamed("pconf", "p2")
      .join(h3.withColumnRenamed("c", "mid"), Seq("mid", "rt"))
      .where($"a" =!= $"d")
      .select($"a", $"d".as("c"), $"rt", ($"p2" * $"ccd" * 0.9).as("pconf"))

    val existing = e.select($"srcId".as("a"), $"dstId".as("c"), $"rt")
    two.union(three)
      .groupBy($"a", $"c", $"rt").agg(max($"pconf").as("confidence"))
      .where($"confidence" >= minConfidence)
      .join(existing, Seq("a", "c", "rt"), "left_anti")
      .select($"a".as("srcId"), $"c".as("dstId"), $"rt".as("relType"), $"confidence")
  }

  private val TransitiveSchema = StructType(Seq(StructField("srcId", StringType),
    StructField("dstId", StringType), StructField("relType", StringType),
    StructField("confidence", DoubleType)))

  /** [[inferTransitive]] on the driver, the distributed form step for
    * step: the same 2-hop (a ≠ c) and 3-hop (a ≠ d) chains within one
    * type, the same products in the same order, `max` over paths and
    * `>= minConfidence` in Spark's double order, and the anti-join against
    * every direct edge of the type. A path through a null confidence has
    * a null product, which `max` skips. None (the distributed form) over
    * the limit, on a null endpoint or a non-ASCII relation type, or past
    * [[DriverPath.PairBound]] paths.
    */
  private def driverTransitive(g: Graph, minConfidence: Double): Option[DataFrame] = {
    val raw = DriverPath.probe(g.edges.toDF().select("srcId", "dstId", "relType", "confidence"),
      "srcId", "dstId").getOrElse(return None)
    val rts = DriverPath.lowerAscii(raw.map(_.getString(2))).getOrElse(return None)
    val es = raw.indices.collect { case i if TransitiveTypes.contains(rts(i)) =>
      (raw(i).getString(0), raw(i).getString(1), rts(i), raw(i).get(3))
    }
    val existing = es.map(e => (e._1, e._2, e._3)).toSet
    val weighted = es.collect { case (s, d, rt, c: java.lang.Double) => (s, d, rt, c.doubleValue) }
    val out = weighted.groupBy(e => (e._3, e._1)).withDefaultValue(Nil)
    val best = scala.collection.mutable.HashMap.empty[(String, String, String), Double]
    var paths = 0L
    def offer(a: String, c: String, rt: String, p: Double): Unit = {
      paths += 1
      if (best.get((a, c, rt)).forall(DriverPath.compareDoubles(p, _) > 0)) best((a, c, rt)) = p
    }
    for ((a, b, rt, cab) <- weighted; (_, c, _, cbc) <- out((rt, b)) if a != c) {
      val p2 = cab * cbc * 0.9
      offer(a, c, rt, p2)
      for ((_, d, _, ccd) <- out((rt, c)) if a != d) offer(a, d, rt, p2 * ccd * 0.9)
      if (paths > DriverPath.PairBound) return None
    }
    val rows = best.toSeq.collect { case ((a, c, rt), p)
      if DriverPath.compareDoubles(p, minConfidence) >= 0 && !existing((a, c, rt)) => Row(a, c, rt, p)
    }
    Some(g.nodes.sparkSession.createDataFrame(rows.asJava, TransitiveSchema))
  }

  /** X12 symmetric inference: symmetric-type edge with no reverse ⇒
    * suggest reverse at conf × 0.95 (graph_reasoning.py:814-861).
    */
  def inferSymmetric(g: Graph, minConfidence: Double = 0.7): DataFrame = {
    val e = lowered(g)
    val sym = e.where(col("rt").isin(SymmetricTypes: _*) &&
      col("confidence") >= minConfidence)
    val reversed = e.select(col("dstId").as("srcId"), col("srcId").as("dstId"), col("rt"))
    sym.join(reversed, Seq("srcId", "dstId", "rt"), "left_anti")
      .select(col("dstId").as("srcId"), col("srcId").as("dstId"),
        col("rt").as("relType"), (col("confidence") * 0.95).as("confidence"))
  }

  /** X13 inverse inference: missing inverse-pair edge ⇒ suggest at
    * conf × 0.95 (graph_reasoning.py:863-925). Broadcast inverse map.
    */
  def inferInverse(g: Graph, minConfidence: Double = 0.7): DataFrame = {
    val spark = g.nodes.sparkSession
    import spark.implicits._
    val inv = broadcast(InversePairs.toDF("rt", "invType"))
    val e = lowered(g).where($"confidence" >= minConfidence)
    val withInv = e.join(inv, Seq("rt"))
    val existingRev = lowered(g)
      .select($"dstId".as("srcId"), $"srcId".as("dstId"), $"rt".as("invType"))
    withInv.join(existingRev, Seq("srcId", "dstId", "invType"), "left_anti")
      .select($"dstId".as("srcId"), $"srcId".as("dstId"),
        $"invType".as("relType"), ($"confidence" * 0.95).as("confidence"))
  }

  /** X11+X12+X13 union (graph_reasoning.py:614-639). */
  def inferNewRelationships(g: Graph, minConfidence: Double = 0.7): DataFrame = {
    val t = inferTransitive(g, minConfidence)
      .withColumn("inference", lit("transitive"))
    val q = inferQualifiedFor(g, minConfidence)
      .withColumn("inference", lit("transitive"))
      .select("srcId", "dstId", "relType", "confidence", "inference")
    val s = inferSymmetric(g, minConfidence)
      .withColumn("inference", lit("symmetric"))
    val i = inferInverse(g, minConfidence)
      .withColumn("inference", lit("inverse"))
    t.unionByName(q).unionByName(s).unionByName(i)
  }

  /** X1/X2 reason_over_path (graph_reasoning.py:44-167): BFS paths plus
    * per-path inferences — the 2-hop transitive rules (same-type chains ⇒
    * same type at min(conf)×0.9; has-skill∘required-for ⇒ qualified-for)
    * and the circular-reasoning flag when a path revisits its start
    * (conf 0.7, graph_reasoning.py:154-165).
    */
  def reasonOverPath(g: Graph, srcId: String, dstId: String,
                     maxDepth: Int = 5): DataFrame = {
    val spark = g.nodes.sparkSession
    import spark.implicits._
    val paths = graft.query.GraphQueryOps.findPath(g, srcId, dstId, maxDepth)
    val e = lowered(g).select($"srcId".as("a"), $"dstId".as("b"), $"rt", $"confidence")
    // decompose each path into consecutive hop pairs and join edge types
    val hops = paths
      .select($"path", posexplode(slice($"path", 1, 10000)).as(Seq("i", "a")))
      .withColumn("b", expr("try_element_at(path, i + 2)"))
      .where($"b".isNotNull)
    val twoHop = hops.alias("h1")
      .join(hops.alias("h2"),
        col("h1.path") === col("h2.path") && col("h2.i") === col("h1.i") + 1)
      .join(e.alias("e1"), col("h1.a") === col("e1.a") && col("h1.b") === col("e1.b"))
      .join(e.alias("e2"), col("h2.a") === col("e2.a") && col("h2.b") === col("e2.b"))
    val transitive = twoHop
      .where(col("e1.rt") === col("e2.rt") &&
        col("e1.rt").isin(TransitiveTypes: _*))
      .select(col("h1.a").as("srcId"), col("h2.b").as("dstId"),
        col("e1.rt").as("relType"),
        (least(col("e1.confidence"), col("e2.confidence")) * 0.9).as("confidence"),
        lit("transitive_relation").as("inference"))
    val qualified = twoHop
      .where(col("e1.rt") === "has-skill" && col("e2.rt") === "required-for")
      .select(col("h1.a").as("srcId"), col("h2.b").as("dstId"),
        lit("qualified-for").as("relType"),
        (least(col("e1.confidence"), col("e2.confidence")) * 0.9).as("confidence"),
        lit("transitive_relation").as("inference"))
    val circular = paths
      .where(element_at($"path", 1) === element_at($"path", size($"path")) &&
        size($"path") > 3)
      .select(element_at($"path", 1).as("srcId"),
        element_at($"path", 1).as("dstId"),
        lit("circular").as("relType"), lit(0.7).as("confidence"),
        lit("circular_reasoning").as("inference"))
    transitive.union(qualified).union(circular).distinct()
  }

  // ------------------------------------------------------------- conflicts

  /** X4 contradictory relationships: same (src,dst) pair with opposite
    * types (graph_reasoning.py:196-268). severity high, conf = min.
    *
    * Under `DriverPath.limit` edges the pairs are found on the driver from one
    * probe of the five edge columns read; the self-join is the
    * distributed form.
    */
  def detectContradictory(g: Graph, confidenceThreshold: Double = 0.5): DataFrame = {
    val spark = g.nodes.sparkSession
    import spark.implicits._
    val distributed = oppositePairs(g, confidenceThreshold)
      .select($"srcId", $"dstId", $"idA", $"idB", $"rtA", $"rtB",
        least($"confA", $"confB").as("confidence"),
        lit("contradictory_relationships").as("conflictType"),
        lit("high").as("severity"))
    driverContradictory(g, confidenceThreshold, distributed.schema)
      .getOrElse(distributed)
  }

  /** The same-endpoint self-join behind X4 and X8: edge pairs A, B with
    * lowered types rtA, rtB opposite, both confidences at least
    * `confidenceThreshold`, and idA < idB.
    */
  private def oppositePairs(g: Graph, confidenceThreshold: Double): DataFrame = {
    val spark = g.nodes.sparkSession
    import spark.implicits._
    val e = lowered(g).where($"confidence" >= confidenceThreshold)
    val a = e.select($"srcId", $"dstId", $"id".as("idA"), $"rt".as("rtA"), $"confidence".as("confA"))
    val b = e.select($"srcId", $"dstId", $"id".as("idB"), $"rt".as("rtB"), $"confidence".as("confB"))
    a.join(b, Seq("srcId", "dstId")).where($"idA" < $"idB")
      .join(broadcast(Opposites.toDF("rtA", "rtB")), Seq("rtA", "rtB"), "left_semi")
  }

  private val OppositeSet: Set[(String, String)] = Opposites.toSet

  /** [[detectContradictory]] on the driver: the edges with
    * `confidence >= confidenceThreshold` in Spark's double order (a null
    * confidence fails it), paired by `Verifier.driverOppositePairs`, with
    * `least` keeping the first side on a tie as Spark's does. None (the
    * distributed form) over the limit, on a non-ASCII relation type, or
    * past [[DriverPath.PairBound]] pairs.
    */
  private def driverContradictory(g: Graph, confidenceThreshold: Double,
                                  schema: StructType): Option[DataFrame] = {
    val raw = DriverPath.probe(
      g.edges.toDF().select("id", "srcId", "dstId", "relType", "confidence"),
      "srcId", "dstId").getOrElse(return None)
    val rts = DriverPath.lowerAscii(raw.map(_.getString(3))).getOrElse(return None)
    val kept = raw.indices.filter(i => !raw(i).isNullAt(4) &&
      DriverPath.compareDoubles(raw(i).getDouble(4), confidenceThreshold) >= 0)
    val es = kept.map(i => (raw(i).getString(0), raw(i).getString(1), raw(i).getString(2), rts(i)))
    val pairs = Verifier.driverOppositePairs(es, OppositeSet).getOrElse(return None)
    val rows = pairs.map { case (x, y) =>
      val (ca, cb) = (raw(kept(x)).getDouble(4), raw(kept(y)).getDouble(4))
      Row(es(x)._2, es(x)._3, es(x)._1, es(y)._1, es(x)._4, es(y)._4,
        if (DriverPath.compareDoubles(cb, ca) < 0) cb else ca,
        "contradictory_relationships", "high")
    }
    Some(g.nodes.sparkSession.createDataFrame(rows.asJava, schema))
  }

  /** X5 property conflicts: same-(name,type) entity pairs disagreeing on a
    * shared attribute key (graph_reasoning.py:270-334). severity medium.
    */
  def detectPropertyConflicts(g: Graph): DataFrame = {
    val spark = g.nodes.sparkSession
    import spark.implicits._
    val n = g.nodes.toDF()
      .select($"id", $"name", $"entityType", explode($"attributes").as(Seq("attrKey", "attrVal")))
    val a = n.select($"name", $"entityType", $"attrKey",
      $"id".as("idA"), $"attrVal".as("valA"))
    val b = n.select($"name", $"entityType", $"attrKey",
      $"id".as("idB"), $"attrVal".as("valB"))
    a.join(b, Seq("name", "entityType", "attrKey"))
      .where($"idA" < $"idB" && $"valA" =!= $"valB")
      .select($"name", $"entityType", $"attrKey", $"idA", $"idB", $"valA", $"valB",
        lit("property_conflict").as("conflictType"), lit("medium").as("severity"))
  }

  /** X6 circular hierarchies per type ∈ {is-a, part-of, contains}: nodes on
    * a cycle, via bounded iterated self-join (graph_reasoning.py:336-393).
    */
  def detectCircularHierarchies(g: Graph, maxLen: Int = 6): DataFrame = {
    val spark = g.nodes.sparkSession
    import spark.implicits._
    val types = Seq("is-a", "part-of", "contains")
    types.map { tt =>
      val h = lowered(g).where($"rt" === tt)
        .select($"srcId".as("src"), $"dstId".as("dst")).distinct()
        .localCheckpoint(true)
      var reach = h.select($"src".as("origin"), $"dst".as("last"))
      var cyc = reach.where($"origin" === $"last")
      var i = 1
      while (i < maxLen && !reach.isEmpty) {
        reach = reach.join(h.withColumnRenamed("src", "last"), Seq("last"))
          .select($"origin", $"dst".as("last")).distinct().localCheckpoint(true)
        cyc = cyc.union(reach.where($"origin" === $"last"))
        reach = reach.where($"origin" =!= $"last")
        i += 1
      }
      cyc.select($"origin".as("id")).distinct()
        .withColumn("relType", lit(tt))
        .withColumn("conflictType", lit("circular_hierarchy"))
        .withColumn("severity", lit("high"))
        .withColumn("confidence", lit(0.9))
    }.reduce(_ union _)
  }

  /** X3 detect_conflicts: union of X4+X5+X6 (graph_reasoning.py:169-194). */
  def detectConflicts(g: Graph, confidenceThreshold: Double = 0.5): DataFrame = {
    val c1 = detectContradictory(g, confidenceThreshold)
      .select(col("conflictType"), col("severity"),
        array(col("idA"), col("idB")).as("involved"))
    val c2 = detectPropertyConflicts(g)
      .select(col("conflictType"), col("severity"),
        array(col("idA"), col("idB")).as("involved"))
    val c3 = detectCircularHierarchies(g)
      .select(col("conflictType"), col("severity"), array(col("id")).as("involved"))
    c1.union(c2).union(c3)
  }

  // ------------------------------------------------------------ resolution

  /** X7 resolve_conflicts (graph_reasoning.py:395-438): apply all three
    * resolution strategies, producing a corrected graph — contradictory
    * edges keep the max-confidence side, circular-hierarchy cycles drop
    * their weakest edge, property conflicts adopt the highest-confidence
    * entity's attribute values.
    */
  def resolveConflicts(g: Graph, confidenceThreshold: Double = 0.5): Graph = {
    val spark = g.nodes.sparkSession
    import spark.implicits._
    val edges1 = resolveContradictory(g, confidenceThreshold)
    val edges2 = resolveCircular(Graph(g.nodes, edges1))
    val nodes2 = resolvePropertyConflicts(g)
      .select(g.nodes.columns.map(col): _*).as[graft.model.Entity]
    Graph(nodes2, edges2)
  }

  // ------------------------------------------------------------ resolution2

  /** X8 resolve contradictory: within each contradiction group keep the
    * max-confidence edge (graph_reasoning.py:465-506) — window ranking
    * dedup over the conflict pairs.
    */
  def resolveContradictory(g: Graph, confidenceThreshold: Double = 0.5): Dataset[Triple] = {
    val spark = g.nodes.sparkSession
    import spark.implicits._
    g.edges.join(loserIds(g, confidenceThreshold), Seq("id"), "left_anti").as[Triple]
  }

  private def loserIds(g: Graph, confidenceThreshold: Double): DataFrame =
    oppositePairs(g, confidenceThreshold)
      .select(when(col("confA") >= col("confB"), col("idB")).otherwise(col("idA")).as("id"))
      .distinct()

  /** X9 resolve property conflicts: highest-confidence same-name entity's
    * attribute values win (graph_reasoning.py:508-559) — keep-max window +
    * map overwrite. Returns corrected nodes.
    */
  def resolvePropertyConflicts(g: Graph): DataFrame = {
    val spark = g.nodes.sparkSession
    import spark.implicits._
    val w = Window.partitionBy($"name", $"entityType")
      .orderBy(desc("confidence"), asc("id"))
    val winners = g.nodes.toDF()
      .withColumn("rn", row_number().over(w))
      .where($"rn" === 1)
      .select($"name", $"entityType", $"attributes".as("winnerAttrs"))
    g.nodes.toDF().join(winners, Seq("name", "entityType"), "left")
      .withColumn("attributes",
        when($"winnerAttrs".isNotNull, map_concat_safe($"attributes", $"winnerAttrs"))
          .otherwise($"attributes"))
      .drop("winnerAttrs")
  }

  // map_concat with right-bias overwrite (winner's values win)
  private def map_concat_safe(base: org.apache.spark.sql.Column,
                              winner: org.apache.spark.sql.Column) =
    map_zip_with(
      base, winner,
      (_, bv, wv) => coalesce(wv, bv))

  /** X10 resolve circular hierarchy: remove the lowest-confidence edge on
    * each cycle (graph_reasoning.py:561-612, which walks nx.simple_cycles
    * and removes the weakest edge per cycle).
    *
    * Set-oriented form: iterate bounded walk extension tracking, per
    * (origin, last) pair, the weakest edge struct (confidence, edgeId) on
    * one real walk between them (the per-pair min aggregate keeps state
    * linear in reachable pairs, not walks). When a walk closes
    * (origin = last) its tracked weakest edge is dropped. Any edge of a
    * closed directed walk lies on a directed cycle of the walk's edge set,
    * so every dropped edge is genuinely on a cycle — unlike round-1's
    * approximation, which dropped the min outgoing edge of EVERY flagged
    * node and could delete more edges than the reference.
    * Cycles longer than maxLen hops are not resolved (bounded iteration;
    * the reference's simple_cycles is likewise practically bounded).
    */
  def resolveCircular(g: Graph, maxLen: Int = 6): Dataset[Triple] = {
    val spark = g.nodes.sparkSession
    import spark.implicits._
    val types = Seq("is-a", "part-of", "contains")
    val dropIds = types.map { tt =>
      val h = lowered(g).where($"rt" === tt)
        .select($"srcId".as("src"), $"dstId".as("dst"),
          struct($"confidence", $"id").as("e"))
        .localCheckpoint(true)
      var paths = h.select($"src".as("origin"), $"dst".as("last"), $"e".as("minE"))
      var drops = paths.where($"origin" === $"last").select($"minE.id".as("id"))
      var i = 1
      while (i < maxLen && !paths.isEmpty) {
        paths = paths.join(h.withColumnRenamed("src", "last"), Seq("last"))
          .select($"origin", $"dst".as("last"), least($"minE", $"e").as("minE"))
          .groupBy($"origin", $"last").agg(min($"minE").as("minE"))
          .localCheckpoint(true)
        drops = drops.union(paths.where($"origin" === $"last").select($"minE.id".as("id")))
        paths = paths.where($"origin" =!= $"last")
        i += 1
      }
      drops
    }.reduce(_ union _).distinct()
    g.edges.join(dropIds, Seq("id"), "left_anti").as[Triple]
  }
}
