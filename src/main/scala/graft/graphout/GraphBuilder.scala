package graft.graphout

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import graft.model.{Entity, Triple}
import graft.runtime.DriverPath

/**
 * Graph materialization (SURVEY.md §2.7; reference
 * src/graph_management/graph_creator.py:43-88, graph.py:58-134).
 *
 *  - edges referencing a missing endpoint are dropped (reference skips
 *    them with a warning, graph.py:92-98) — expressed as two left-semi
 *    joins against the node set; drop counts surface via `danglingCount`.
 *  - bidirectional relationships materialize a reverse row with id suffix
 *    `_reverse`, exactly as graph.py:116-129.
 *  - duplicate (srcId, relType, dstId) edges collapse keeping the max
 *    confidence row (deterministic tiebreak by id).
 */
object GraphBuilder {

  final case class Graph(nodes: Dataset[Entity], edges: Dataset[Triple])

  /** CONTRACT: `triples.id` must be row-unique — the keep-max winner
    * fetch is an id-keyed semi join, so duplicate-id rows would pass
    * through with their multiplicity. Guarantors at every call site: the
    * extractor collapses duplicate ids per segment
    * (Extractor.extractSegment); importJson collapses user-supplied
    * duplicates keeping max confidence; StreamingIngest writes each
    * micro-batch to an idempotent batch=<id> dir (replays rewrite, never
    * append duplicates).
    */
  def build(entities: Dataset[Entity], triples: Dataset[Triple]): Graph = {
    val spark = entities.sparkSession
    import spark.implicits._

    // keep-max dedup per (srcId, relType, dstId) FIRST: a single
    // aggregate whose map-side partial combine collapses the cross-file
    // duplicate mass (3-5x on template-heavy corpora) BEFORE any join
    // shuffles move rows; every downstream exchange then ships the
    // distinct set only. Dedup and endpoint filtering commute:
    // dangling-ness is a property of (srcId, dstId), shared by every
    // member of a dedup group. A window row_number would sort every
    // partition instead; column ops only (a typed filter/map here
    // deserializes every Triple object — measured as the pipeline's
    // biggest stage cost).
    //
    // Keep-max SHAPE (round 6): winner selection runs on a 5-column
    // NARROW projection (keys + id + confidence), then the winning rows
    // are fetched by a shuffle_hash LEFT SEMI on (keys, id = winId).
    // Rationale, measured at the 1.28M-file size (StageProbe,
    // BASELINE.md round 6): a direct min_by(struct(all cols)) — like
    // every declarative keep-row form — has a non-primitive buffer and
    // compiles to SortAggregateExec, i.e. a full O(n log n) sort of the
    // WIDE raw-triple rows on both map and final sides whose concurrent
    // external merges are memory-bandwidth-bound (5.2x CPU inflation at
    // 8 threads vs 2 for identical work); a TypedImperativeAggregate
    // carrying the wide row (ObjectHashAggregate) swaps that for a
    // per-task object map with millions of long-lived entries and dies
    // in GC instead (12.9 s → 1038 s task GC time). The narrow split
    // keeps the unavoidable sort-agg but on ~50-byte rows (8-10x less
    // sort bandwidth, primitive-only payload), and the wide rows take
    // exactly ONE linear shuffle (to the group keys, same as before)
    // plus a streamed hash-semi probe — no wide sort, no object state.
    // The semi build side (one id per distinct group) does NOT reuse the
    // aggregate's (srcId, relType, dstId) partitioning: a shuffled join
    // must co-partition on all its keys, so that side takes its own
    // Exchange hashpartitioning(_ws, _wr, _wd, _wid) (seen in the 6,000-
    // file build plan) — a shuffle of the narrow winner rows only.
    val cols = triples.toDF().columns
    val raw = triples.toDF()
    val winners = raw
      .select(col("srcId").as("_ws"), col("relType").as("_wr"),
        col("dstId").as("_wd"), col("id"), col("confidence"))
      .groupBy("_ws", "_wr", "_wd")
      .agg(min_by(col("id"),
        struct((-col("confidence")).as("nc"), col("id").as("tid"))).as("_wid"))
    // No bloom prefilter: at 19.6% loser rows it lost at every size (BASELINE.md round 6).
    val deduped = raw.join(
      winners.hint("shuffle_hash"),
      raw("srcId") === winners("_ws") && raw("relType") === winners("_wr") &&
        raw("dstId") === winners("_wd") && raw("id") === winners("_wid"),
      "left_semi")

    // endpoint existence: two joins against the node (id, name) projection
    // (the inverse of verifier V2). These double as CANONICAL NAME
    // ATTACHMENT (round-4 verdict item 2): the inner join that proves the
    // endpoint exists carries the canonical node name into
    // srcName/dstName, so the triple-set projection downstream is a pure
    // scan + distinct — the dstId re-shuffle that was the pipeline's last
    // read-path exchange is gone, absorbed into joins that already
    // existed here. (Extraction-time surface names are a pre-redirect
    // concept; post-build edges carry the canonical spelling, which is
    // what the reference's resolved graph stores too.)
    // SHUFFLE_HASH, not broadcast: the node table is the one dimension
    // that grows with the corpus (at 100 TB it can never broadcast), and
    // a broadcast build here is a serial driver-side hash of every node.
    // Ordered dstId THEN srcId so the validated table leaves its last
    // exchange hash-partitioned on srcId — the key every downstream
    // traversal join consumes (zero-exchange when nodes are cached hashed
    // by id; see KgPipeline). Names deduped by id defensively (duplicate
    // node ids are an upstream invariant violation; min keeps this
    // deterministic instead of row-order-dependent).
    // KeepRowBy, not min(name): a string min buffer also lands in
    // SortAggregateExec (sorts the node table twice per join side).
    // min(name) SKIPS nulls (a null name wins only if the whole group is
    // null), so null-name rows are pushed LAST via ordD=1 and the payload
    // keeps the original (possibly null) name — exactly min's semantics
    // (round-6 review: a nulls-first argmin would attach a null name to a
    // duplicate-id group that also has a real one, e.g. from importJson).
    val names = entities.toDF().groupBy($"id")
      .agg(graft.functions.KeepRowBy.minRow(
        when($"name".isNull, lit(1.0)).otherwise(lit(0.0)),
        coalesce($"name", lit("")), struct($"name")).as("w"))
      .select($"id", $"w.name".as("name"))
    val valid = deduped
      .drop("dstName")
      .join(names.hint("shuffle_hash")
        .select($"id".as("dstId"), $"name".as("dstName")), Seq("dstId"))
      .drop("srcName")
      .join(names.hint("shuffle_hash")
        .select($"id".as("srcId"), $"name".as("srcName")), Seq("srcId"))

    // bidirectional expansion (graph.py:116-129)
    val reversed = valid.where(col("bidirectional"))
      .withColumn("id", concat(col("id"), lit("_reverse")))
      .withColumn("tmpS", col("srcId")).withColumn("tmpSN", col("srcName"))
      .withColumn("srcId", col("dstId")).withColumn("srcName", col("dstName"))
      .withColumn("dstId", col("tmpS")).withColumn("dstName", col("tmpSN"))
      .drop("tmpS", "tmpSN")
    Graph(entities,
      valid.select(cols.map(col): _*).union(reversed.select(cols.map(col): _*)).as[Triple])
  }

  /** Count of dropped dangling edges (for the metrics table). */
  def danglingCount(entities: Dataset[Entity], triples: Dataset[Triple]): Long = {
    val nodeIds = entities.select(col("id")).distinct()
    triples.toDF()
      .join(nodeIds.withColumnRenamed("id", "srcId"), Seq("srcId"), "left_anti")
      .union(
        triples.toDF()
          .join(nodeIds.withColumnRenamed("id", "srcId"), Seq("srcId"), "left_semi")
          .join(nodeIds.withColumnRenamed("id", "dstId"), Seq("dstId"), "left_anti"))
      .count()
  }

  /** G5 remove entity with cascade delete of touching edges
    * (graph.py:136-164) — anti-join form for batch removal.
    */
  def removeEntities(g: Graph, ids: Seq[String]): Graph = {
    val spark = g.nodes.sparkSession
    import spark.implicits._
    val idDf = broadcast(ids.toDF("rmId"))
    val nodes = g.nodes.join(idDf, g.nodes("id") === col("rmId"), "left_anti").as[Entity]
    val edges = g.edges
      .join(idDf, g.edges("srcId") === col("rmId"), "left_anti")
      .join(idDf, col("dstId") === col("rmId"), "left_anti")
      .as[Triple]
    Graph(nodes, edges)
  }

  /** G4 graph stats: counts by type + density (reference graph.py:483-524).
    * `full = true` adds the expensive metrics the reference computes under
    * try/except (graph.py:503-509): average clustering coefficient
    * (triangle counting over the undirected simple graph — two self-joins,
    * no adjacency materialization per node), the connectivity flag
    * (exactly one connected component), and — when connected, matching the
    * reference's guard — the SAMPLED average shortest path length
    * (multi-source BFS; exact when samples ≥ |V|).
    *
    * Under `DriverPath.limit` the type counts are tallied from one probe of the
    * entity types and one of the relation types (no keys: a null type is
    * a group of its own, as in the groupBy); the `full` metrics keep their
    * own driver paths.
    */
  def stats(g: Graph, full: Boolean = false): DataFrame = {
    val spark = g.nodes.sparkSession
    import spark.implicits._
    def tally(side: String, rows: Array[Row]) =
      rows.groupMapReduce(r => if (r.isNullAt(0)) null else r.getString(0))(_ => 1L)(_ + _)
        .toSeq.map { case (t, c) => (side, t, c) }
    // ONE action computes both per-type breakdowns AND the node/edge
    // totals (round-7: this was two count jobs plus a full recompute of
    // both groupBys when the caller's own action ran the returned union).
    // Side tags, not key prefixes, drive the local sums: a null
    // entityType/relType produces a null key (exactly like the previous
    // concat form) but must still count toward its side's total.
    val typed = (for (ns <- DriverPath.probe(g.nodes.select($"entityType"));
                      es <- DriverPath.probe(g.edges.select($"relType")))
      yield tally("E", ns) ++ tally("R", es)).getOrElse(
      g.nodes.groupBy($"entityType").count()
          .select(lit("E").as("side"), $"entityType".as("t"), $"count")
        .union(g.edges.groupBy($"relType").count()
          .select(lit("R").as("side"), $"relType".as("t"), $"count"))
        .collect().toSeq
        .map(r => (r.getString(0), if (r.isNullAt(1)) null else r.getString(1),
          r.getLong(2))))
    val n = typed.collect { case ("E", _, c) => c }.sum.toDouble
    val e = typed.collect { case ("R", _, c) => c }.sum.toDouble
    val density = if (n > 1) e / (n * (n - 1)) else 0.0
    val typeRows = typed.map { case (side, t, c) =>
      val prefix = if (side == "E") "entity:" else "rel:"
      (if (t == null) null else prefix + t, c.toDouble)
    }
    val extra =
      if (!full) Nil
      else {
        val connected = graft.query.GraphQueryOps.connectedComponents(g)
          .select("comp").distinct().count() == 1
        Seq(
          ("avg_clustering", avgClusteringCoefficient(g)),
          ("is_connected", if (connected) 1.0 else 0.0)) ++
          // reference computes avg path only when connected (graph.py:506-509)
          (if (connected)
            Seq(("avg_shortest_path",
              graft.query.GraphQueryOps.avgShortestPathSampled(g)))
          else Nil)
      }
    // a LOCAL result relation: the row set is identical to the previous
    // lazy union (scalars ++ entity breakdown ++ rel breakdown), already
    // materialized — a caller's count()/collect() re-runs nothing
    (Seq(("nodes", n), ("edges", e), ("density", density)) ++ extra ++ typeRows)
      .toDF("key", "value")
  }

  /** Average local clustering coefficient over the undirected simple graph
    * (nx.average_clustering semantics, reference graph.py:503-505):
    * c(v) = 2·T(v) / (deg(v)·(deg(v)−1)), averaged over ALL nodes with
    * c(v)=0 when deg<2. Triangles per node via a wedge join: for each
    * wedge a−v−b (a<b) check edge a−b; every hit is one triangle at v.
    *
    * Scale guard (round-2 verdict item 5): the wedge join is O(Σ deg²) —
    * a celebrity vertex with 10⁶ neighbors alone yields 10¹² wedges. Each
    * center's neighbor list is therefore sampled down to `maxDegree`
    * (deterministic pseudo-random order by xxhash64, so the sample is
    * unbiased w.r.t. id structure), with the sampled-away adjacency rows
    * counted via observe. For a capped center the estimate is the
    * clustering coefficient OF THE SAMPLED NEIGHBORHOOD — the standard
    * neighborhood-sampling estimator; EXACT whenever deg(v) ≤ maxDegree
    * (every node of the small-graph parity tests).
    */
  def avgClusteringCoefficient(g: Graph, maxDegree: Int = 256): Double = {
    val spark = g.nodes.sparkSession
    import spark.implicits._

    // ---- driver fast path (round-7): the distributed form is 2 eager
    // localCheckpoints + head + count — ~8 driver-blocking jobs on tiny
    // graphs. The mirror replicates the estimator literally: same
    // undirected simple view, same (xxhash64, id)-ordered neighborhood
    // sample at maxDegree, same wedge membership test, same k(v)(k−1)
    // denominator; the cap counter lands in the same Observed registry.
    graft.query.GraphQueryOps.driverNodeIds(g).foreach { nodeIds =>
      graft.runtime.DriverPath.probe(
          g.edges.toDF().select($"srcId", $"dstId"), "srcId", "dstId").foreach { raw =>
        val und = raw.map(r => (r.getString(0), r.getString(1))).filter(p => p._1 != p._2)
          .flatMap(p => Seq(p, p.swap)).distinct
        val undSet = und.toSet
        // sampled adjacency: per center, neighbors ordered by
        // (xxhash64(x), x) — the exact window order of the distributed
        // form (XXH64 seed 42, ties by UTF-8 binary id order)
        def xxh(sv: String): Long =
          org.apache.spark.sql.catalyst.expressions.XXH64.hashUTF8String(
            org.apache.spark.unsafe.types.UTF8String.fromString(sv), 42L)
        var dropped = 0L
        val adj = und.groupBy(_._1).map { case (v, ps) =>
          // hash order, ties in UTF-8 binary id order (NOT String.<,
          // which is UTF-16 — same rule as the distributed window)
          val ordered = ps.map(_._2).sortWith { (x, y) =>
            val hx = xxh(x); val hy = xxh(y)
            if (hx != hy) hx < hy else graft.runtime.Utf8Order.lt(x, y)
          }
          if (ordered.length > maxDegree) dropped += ordered.length - maxDegree
          v -> ordered.take(maxDegree)
        }
        // recorded even at 0, as the distributed observe reports it
        graft.runtime.Observed.record("clustering_deg_cap",
          Map("dropped" -> dropped))
        if (nodeIds.isEmpty) return 0.0
        // coefficient sum in sorted-center order (distributed partial-sum
        // order is arbitrary; ≡ to fp ulp, GraphQuerySpec-pinned)
        var coef = 0.0
        adj.toSeq.sortBy(_._1).foreach { case (_, ns) =>
          val k = ns.length
          if (k >= 2) {
            var tri = 0L
            var i = 0
            while (i < k) {
              var j = i + 1
              while (j < k) {
                // wedge (x, y) with x < y in UTF-8 order; membership in
                // the FULL undirected edge set (the distributed semi join
                // probes und, not the capped adjacency)
                val (x, y) = if (graft.runtime.Utf8Order.lt(ns(i), ns(j)))
                  (ns(i), ns(j)) else (ns(j), ns(i))
                if (undSet((x, y))) tri += 1
                j += 1
              }
              i += 1
            }
            coef += tri * 2.0 / (k.toDouble * (k - 1))
          }
        }
        return coef / nodeIds.length
      }
    }

    val dir = g.edges.toDF().select($"srcId".as("a"), $"dstId".as("b"))
      .where($"a" =!= $"b")
    val und = dir.union(dir.select($"b".as("a"), $"a".as("b"))).distinct()
      .localCheckpoint(true)
    graft.runtime.Observed.install(spark)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("v").orderBy(xxhash64($"x"), $"x")
    val adj = und.select($"a".as("v"), $"b".as("x"))
      .withColumn("rn", row_number().over(w))
      .observe(graft.runtime.Observed.name("clustering_deg_cap"),
        sum(when($"rn" > maxDegree, 1L).otherwise(0L)).as("dropped"))
      .where($"rn" <= maxDegree)
      .drop("rn")
      .localCheckpoint(true) // read three times below
    // sampled degree k(v) = min(deg, maxDegree); the estimator divides by
    // k·(k−1), not deg·(deg−1), so capped centers stay unbiased
    val deg = adj.groupBy($"v".as("id")).agg(count(lit(1)).as("deg"))
    // wedges centered at v: (v, x) ⋈ (v, y), x < y; triangle iff und(x, y)
    val wedges = adj
      .join(adj.select($"v", $"x".as("y")), Seq("v"))
      .where($"x" < $"y")
    val tri = wedges
      .join(und.select($"a".as("x"), $"b".as("y")), Seq("x", "y"), "left_semi")
      .groupBy($"v".as("id")).agg(count(lit(1)).as("tri"))
    val coef = deg.join(tri, Seq("id"), "left")
      .select(
        when($"deg" >= 2,
          coalesce($"tri", lit(0L)) * 2.0 / ($"deg" * ($"deg" - 1)))
          .otherwise(0.0).as("c"))
      .agg(coalesce(sum($"c"), lit(0.0))).head().getDouble(0)
    val n = g.nodes.count()
    if (n == 0) 0.0 else coef / n
  }
}
