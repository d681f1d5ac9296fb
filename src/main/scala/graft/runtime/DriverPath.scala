package graft.runtime

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.execution.SQLExecution

/**
 * The size gate of every driver fast path (traverse, findPath, the
 * centralities, connected components, the linker, the verifier,
 * transitive inference, contradiction detection, clustering, the MinHash
 * candidates and the n-gram Jaccard verify): fetch a
 * small input to the driver, or learn that it is too large, in ONE
 * early-stopping job. The mirrors also share the policies below (the
 * working-set bound, the case fold, the order of doubles).
 *
 * Not count + collect (three jobs: a count is two under AQE) nor
 * `head(lim + 1)` (Spark's incremental take escalates through up to four
 * jobs, each re-running the lineage): both read every row of an input
 * far over the limit, while this probe reads at most `lim + 1` rows per
 * partition.
 */
object DriverPath {

  /** Below this many nodes AND edges, the query, centrality and
    * verification operators run as an in-memory driver loop, and
    * ConnectedComponents takes its union-find fast path: a 10-40-iteration
    * join-aggregate loop on a tiny graph is pure fixed job latency —
    * dozens of driver-blocking rounds to move a few kilobytes. Each input
    * is gated and fetched by one [[probe]] job, which stops
    * reading a partition after `limit + 1` rows, so a graph far over the
    * limit costs O(partitions · limit) to reject. The driver loops are
    * deterministic (contributions summed in sorted-source order), and the
    * distributed path remains the one answer at scale; PropertySpec and
    * the `driverLimit = 0` parity pins hold the two paths equal.
    */
  val DriverIterationLimit: Long =
    sys.env.get("GRAFT_CENTRALITY_DRIVER_LIMIT").map(_.toLong).getOrElse(200000L)

  /** `Some(df.collect())` when `df` has at most `lim` rows, else `None`.
    *
    * One `runJob` over the plan's RDD, inside a SQL execution (so SQL
    * listeners and `observe` see it): each partition iterates at most
    * `lim + 1` rows and reports `min(n, lim + 1)`, plus its copied rows
    * when `n ≤ lim / nParts` (its share). The capped counts sum past
    * `lim` exactly when the true total does, so the gate is exact; when
    * every partition kept its share the rows come back in `collect()`
    * order from the same pass, and the driver never holds more than
    * `lim` of them. A small but skewed input (one partition over its
    * share) pays one fallback `collect()`, whose length is re-checked.
    * `lim` is clamped to the largest array the driver can hold. An
    * `observe` on a rejected input counts only the rows the probe read.
    *
    * A plan that optimizes to a local relation (a driver mirror's result,
    * a filter or projection of one, an empty relation) is answered from
    * its rows with no job and no SQL execution, under the same limit: so
    * one mirror reads another's result for free.
    */
  def probe(df: DataFrame, lim: Long): Option[Array[Row]] = {
    val cap = math.min(lim, Int.MaxValue - 2L)
    if (cap < 0) return None
    val qe = df.queryExecution
    qe.optimizedPlan match {
      case l: LocalRelation =>
        if (l.data.length > cap) return None
        val toRow = CatalystTypeConverters.createToScalaConverter(df.schema)
        return Some(l.data.map(toRow(_).asInstanceOf[Row]).toArray)
      case _ =>
    }
    val parts = SQLExecution.withNewExecutionId(qe, Some("probe")) {
      val rdd = qe.toRdd
      val share = cap / math.max(rdd.getNumPartitions, 1)
      qe.sparkSession.sparkContext.runJob(rdd, (it: Iterator[InternalRow]) => {
        val kept = Array.newBuilder[InternalRow]
        var n = 0L
        while (n <= cap && it.hasNext) {
          val r = it.next()
          if (n < share) kept += r.copy()
          n += 1
        }
        (n, if (n <= share) kept.result() else null)
      })
    }
    if (parts.iterator.map(_._1).sum > cap) None
    else if (parts.forall(_._2 != null)) {
      val toRow = CatalystTypeConverters.createToScalaConverter(df.schema)
      Some(parts.flatMap(_._2).map(toRow(_).asInstanceOf[Row]))
    } else Some(df.collect()).filter(_.length <= cap)
  }

  /** Whether `df`'s plan optimizes to a local relation, as a driver
    * mirror's result does: [[probe]] reads it with no job, and caching it
    * would only copy rows the driver already holds.
    */
  def isLocal(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]

  /** In-flight bound of a driver mirror's working set (walk pairs, chain
    * paths, same-endpoint edge pairs, findPath's partial paths): past it
    * the mirror falls back to its distributed form before the working set
    * outgrows the heap, since a dense closure can hold up to V² pairs, and
    * a dense graph exponentially many simple paths, whatever the edge
    * count.
    */
  val PairBound: Long = 2000000L

  /** The case fold of the driver mirrors: Spark's `lower` of every value,
    * computed on the driver, or None when any value is not ASCII (the
    * caller then takes its distributed form). On ASCII text `lower` is
    * ASCII lower-casing; beyond ASCII Spark maps case through ICU, which
    * is not replicated here. Nulls stay null. Folding on the driver also
    * keeps the first Spark `lower` of a JVM, and its one-time ICU
    * case-mapping initialisation, off the small-graph path.
    */
  def lowerAscii(values: Array[String]): Option[Array[String]] =
    if (values.exists(s => s != null && s.exists(_ > '\u007f'))) None
    else Some(values.map(s => if (s == null) null else s.toLowerCase(java.util.Locale.ROOT)))

  /** Spark's order of doubles, which the mirrors' `>=`, `max` and `least`
    * follow: NaN above every double and equal to itself, -0.0 equal to
    * 0.0 (IEEE comparison disagrees on both).
    */
  def compareDoubles(x: Double, y: Double): Int = SQLOrderingUtil.compareDoubles(x, y)
}
