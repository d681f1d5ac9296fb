package graft.runtime

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

/**
 * The driver-side index of a small graph, which every graph mirror reads
 * instead of probing, converting and re-keying the rows of its own
 * projection. Every id (node id or edge endpoint) is interned to a vertex
 * in Spark's binary string order, so vertex order is [[Utf8Order]]; a
 * null id is vertex -1. It holds the node rows (repeated ids kept), the
 * edge columns the mirrors read, int adjacency lists and the case-folded
 * relation types, the last two built on first use. Strings stay Spark's
 * `UTF8String`s, so a mirror's result rows reuse them as they are.
 *
 * A graph whose node and edge plans are both local relations (a small
 * stage `Checkpoint.readBucketed` read whole, a Seq-backed graph) builds
 * its index once: it is kept on the edge relation and shared by every op
 * on that graph while both relations are the same objects. Any other
 * graph builds one per call from one [[DriverPath]] probe per table it
 * reads, so a rewrite of its files between two calls is seen. What is
 * decided per call, never cached: the size gate ([[DriverPath.limit]]),
 * the null rule (each mirror reads [[nodeNull]] / [[endNull]] for the
 * halves it reads), the non-ASCII case fold and [[DriverPath.PairBound]].
 */
final class LocalGraph private (
    val spark: SparkSession,
    /** Vertex v's id. */
    val ids: Array[UTF8String],
    /** Per node row: its vertex, name and entity type. */
    val node: Array[Int], val nodeName: Array[UTF8String], val nodeType: Array[UTF8String],
    /** The node table was not read, or a probe refused it. */
    nodesRefused: Boolean,
    /** Per edge row: its id, endpoints, relation type and confidence. */
    val edgeId: Array[UTF8String], val src: Array[Int], val dst: Array[Int],
    val relType: Array[UTF8String], val conf: Array[Double], val confNull: Array[Boolean]) {

  def vertices: Int = ids.length
  def edgeCount: Int = src.length
  def nodeCount: Int = node.length

  /** Whether the node table was read and fits [[DriverPath.limit]]. */
  def nodesFit: Boolean = !nodesRefused && nodeCount <= DriverPath.limit

  /** Whether `rows` rows fit [[DriverPath.limit]] (the undirected mirrors
    * read 2·E rows, as their distributed union does).
    */
  def fits(rows: Long): Boolean = rows <= DriverPath.limit

  /** A null node id; a null edge endpoint. */
  val nodeNull: Boolean = node.contains(-1)
  val endNull: Boolean = src.contains(-1) || dst.contains(-1)

  /** The vertex of `id`, or -1 when it is no node id nor endpoint. */
  def vertex(id: String): Int =
    if (id == null) -1
    else math.max(-1, java.util.Arrays.binarySearch(
      ids.asInstanceOf[Array[AnyRef]], UTF8String.fromString(id)))

  /** Edge rows with both endpoints, per source and per destination vertex. */
  lazy val outEdges: Array[Array[Int]] = lists(src, dst, distinct = false)
  lazy val inEdges: Array[Array[Int]] = lists(dst, src, distinct = false)
  /** Sorted int adjacency: distinct successors (the distinct pair list),
    * predecessors and undirected neighbours (a self-loop is its own).
    */
  lazy val succ: Array[Array[Int]] = lists(src, dst, distinct = true)
  lazy val pred: Array[Array[Int]] = lists(dst, src, distinct = true)
  lazy val nbr: Array[Array[Int]] = lists(src ++ dst, dst ++ src, distinct = true)
  /** The node rows of each vertex, in row order. */
  lazy val rowsOf: Array[Array[Int]] = lists(node, node, distinct = false)

  /** Each row i with `keys(i) >= 0` and `ends(i) >= 0` listed under
    * `keys(i)`: i itself in row order, or with `distinct` its `ends(i)`,
    * ascending and once.
    */
  private def lists(keys: Array[Int], ends: Array[Int], distinct: Boolean): Array[Array[Int]] = {
    val size = new Array[Int](vertices)
    val kept = keys.indices.filter(i => keys(i) >= 0 && ends(i) >= 0).toArray
    kept.foreach(i => size(keys(i)) += 1)
    val ls = size.map(new Array[Int](_))
    java.util.Arrays.fill(size, 0)
    for (i <- kept) { ls(keys(i))(size(keys(i))) = if (distinct) ends(i) else i; size(keys(i)) += 1 }
    if (distinct) ls.foreach(java.util.Arrays.sort)
    if (distinct) ls.map(l => if (l.length < 2) l else l.distinct) else ls
  }

  /** `DriverPath.lowerAscii` of the relation types, once. */
  lazy val foldedTypes: Option[Array[String]] =
    DriverPath.lowerAscii(relType.map(u => if (u == null) null else u.toString))

  /** XXH64 (seed 42) of each vertex's id, Spark's `xxhash64`. */
  lazy val xxh: Array[Long] = ids.map(XXH64.hashUTF8String(_, 42L))
}

object LocalGraph {

  /** Indexes built in this JVM (a test hook). */
  private[graft] val builds = new AtomicLong()

  /** The index of a graph read whole, kept on its edge relation with the
    * rows of both relations as its key. Transient: a plan serialized with
    * its tags (a physical node's logical link) carries none of it.
    */
  private final class Cached(@transient val nodeRows: AnyRef, @transient val edgeRows: AnyRef,
                             @transient val lg: LocalGraph) extends Serializable
  private val CachedTag = TreeNodeTag[Cached]("graft.localGraph")

  private val NodeCols = Seq("id", "name", "entityType").map(col)
  private val EdgeCols = Seq("id", "srcId", "dstId", "relType", "confidence").map(col)

  /** The index of the graph (`nodes`, `edges`), or None when its edge
    * table is over [[DriverPath.limit]]. A graph not read whole probes its
    * edges, then (when `readNodes`) its nodes; a refused node probe leaves
    * `nodesFit` false.
    */
  def of(nodes: Dataset[_], edges: Dataset[_], readNodes: Boolean): Option[LocalGraph] =
    (nodes.queryExecution.analyzed, edges.queryExecution.analyzed) match {
      // both created over local relations (Seqs, stages read whole): the
      // analyzed plans Spark holds already, so the check costs no optimizer pass
      case (n: LocalRelation, e: LocalRelation) =>
        if (e.data.length > DriverPath.limit) None
        else Some(e.synchronized {
          e.getTagValue(CachedTag).filter(c => (c.nodeRows eq n.data) && (c.edgeRows eq e.data))
            .fold {
              val lg = build(edges.sparkSession, n.schema, n.data, refused = false, e.schema, e.data)
              e.setTagValue(CachedTag, new Cached(n.data, e.data, lg))
              lg
            }(_.lg)
        })
      case _ =>
        val es = edges.toDF().select(EdgeCols: _*)
        DriverPath.rows(es).map { eRows =>
          val ns = nodes.toDF().select(NodeCols: _*)
          val nRows = if (readNodes) DriverPath.rows(ns) else None
          build(edges.sparkSession, ns.schema, nRows.getOrElse(Array.empty[InternalRow]).toSeq,
            nRows.isEmpty, es.schema, eRows.toSeq)
        }
    }

  /** The index for a mirror that keys both tables (node ids and edge
    * endpoints): None when either is over the limit (the edges counted
    * twice when `undirected`, as the distributed union reads them) or has a
    * null key.
    */
  def keyed(nodes: Dataset[_], edges: Dataset[_], undirected: Boolean = false): Option[LocalGraph] =
    of(nodes, edges, readNodes = true).filter(lg => lg.nodesFit && !lg.nodeNull && !lg.endNull &&
      lg.fits(if (undirected) 2L * lg.edgeCount else lg.edgeCount))

  /** The index for a mirror that keys only the edge endpoints: a null node
    * id does not matter to it.
    */
  def edgeKeyed(nodes: Dataset[_], edges: Dataset[_]): Option[LocalGraph] =
    of(nodes, edges, readNodes = false).filter(!_.endNull)

  private def build(spark: SparkSession, nSchema: StructType, nRows: Seq[InternalRow],
                    refused: Boolean, eSchema: StructType, eRows: Seq[InternalRow]): LocalGraph = {
    val t0 = System.nanoTime()
    def strings(schema: StructType, rows: Seq[InternalRow], name: String): Array[UTF8String] = {
      val k = schema.fieldIndex(name)
      rows.iterator.map(r => if (r.isNullAt(k)) null else r.getUTF8String(k)).toArray
    }
    val nodeIds = strings(nSchema, nRows, "id")
    val srcIds = strings(eSchema, eRows, "srcId")
    val dstIds = strings(eSchema, eRows, "dstId")
    val vertex = new java.util.HashMap[UTF8String, Integer]()
    for (us <- Seq(nodeIds, srcIds, dstIds); u <- us if u != null) vertex.put(u, 0)
    val ids = vertex.keySet.toArray(new Array[UTF8String](0)).sorted
    for (v <- ids.indices) vertex.put(ids(v), v)
    def intern(us: Array[UTF8String]) = us.map(u => if (u == null) -1 else vertex.get(u).intValue)
    val k = eSchema.fieldIndex("confidence")
    val lg = new LocalGraph(spark, ids, intern(nodeIds), strings(nSchema, nRows, "name"),
      strings(nSchema, nRows, "entityType"), refused, strings(eSchema, eRows, "id"),
      intern(srcIds), intern(dstIds), strings(eSchema, eRows, "relType"),
      eRows.iterator.map(r => if (r.isNullAt(k)) 0.0 else r.getDouble(k)).toArray,
      eRows.iterator.map(_.isNullAt(k)).toArray)
    builds.incrementAndGet()
    org.slf4j.LoggerFactory.getLogger(classOf[LocalGraph]).info(
      f"graft LocalGraph: ${lg.nodeCount} node rows, ${lg.edgeCount} edge rows, " +
        f"${lg.vertices} ids in ${(System.nanoTime() - t0) / 1e6}%.1f ms")
    lg
  }
}
