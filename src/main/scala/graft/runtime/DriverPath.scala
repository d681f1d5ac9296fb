package graft.runtime

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.graftshim.GraftSql
import org.apache.spark.sql.types.{DataType, NumericType, StructField, StructType}

/**
 * The size gate of every driver fast path (traverse, findPath, the
 * centralities, the degree top-k, connected components, the graph stats,
 * the linker, the verifier, transitive inference, contradiction
 * detection, clustering, the MinHash candidates and the n-gram Jaccard
 * verify): fetch a small input to the driver, or learn that it is too
 * large, in ONE early-stopping job, or in none when the input is
 * already local. The mirrors also share the policies below (the
 * working-set bound, the case fold, the order of doubles).
 *
 * Not count + collect (three jobs: a count is two under AQE) nor
 * `head(lim + 1)` (Spark's incremental take escalates through up to four
 * jobs, each re-running the lineage): both read every row of an input
 * far over the limit, while this probe reads at most `lim + 1` rows per
 * partition.
 *
 * The graph mirrors read their input through [[LocalGraph]], one index
 * per graph: it caches what the rows ARE (interned ids, node rows, edge
 * columns, adjacency lists, the case-folded types, the null facts), built once
 * for a graph read whole into local relations; what each call DECIDES
 * stays per call: [[limit]] (read on every call), the null rule on the
 * halves the mirror reads, the non-ASCII fallback of [[lowerAscii]] and
 * [[PairBound]]. A mirror's result is built by [[local]].
 *
 * The null rule of every mirror: a null in a key column — a node or
 * entity id, an edge endpoint — sends the call to its distributed form.
 * SQL never joins or groups a null the way a Scala map keys it, so no
 * mirror replicates it; each names its key columns to [[probe]], which
 * answers None for them. Payload columns (an edge id, a relation type, a
 * confidence, a name) stay on the driver: a null there sorts first, as in
 * `min(struct(...))`, and fails `<` and `>=`, as in SQL.
 */
object DriverPath {

  /** The one size limit of every driver fast path. Below this many nodes
    * AND edges, the query, centrality and verification operators run as an
    * in-memory driver loop, and ConnectedComponents takes its union-find
    * fast path: a 10-40-iteration join-aggregate loop on a tiny graph is
    * pure fixed job latency — dozens of driver-blocking rounds to move a
    * few kilobytes. Below this many canonical mentions the linker blocks,
    * scores and clusters on the driver: its distributed blocking join is
    * ~1-1.4 s of plan/exchange/job latency for a 25k-row table with 3
    * accepted pairs (320k files, BASELINE.md round 5: link_cc stage
    * efficiency 0.24-0.31, the same latency at every parallelism level).
    * Each input is gated and fetched by one [[probe]] job, which stops
    * reading a partition after `limit + 1` rows, so an input far over the
    * limit costs O(partitions · limit) to reject. The driver loops are
    * deterministic (contributions summed in sorted-source order), and the
    * distributed path remains the one answer at scale; PropertySpec and
    * the `withLimit(0)` parity pins hold the two paths equal.
    *
    * `GRAFT_CENTRALITY_DRIVER_LIMIT` sets it for the whole JVM; `0` forces
    * every distributed form at once (measuring each mirror's win on a
    * benchmark workload needs the distributed forms of the same build).
    * It is only the initial value of [[limit]]: no operator takes the
    * limit as a parameter, [[withLimit]] scopes another value.
    */
  val DriverIterationLimit: Long =
    sys.env.get("GRAFT_CENTRALITY_DRIVER_LIMIT").map(_.toLong).getOrElse(200000L)

  private val scoped = new scala.util.DynamicVariable[Long](DriverIterationLimit)

  /** The size limit in force on this thread: [[DriverIterationLimit]]
    * unless a [[withLimit]] scope set another. [[probe]] and
    * [[Checkpoint.readBucketed]] read it; nothing else does.
    */
  def limit: Long = scoped.value

  /** Runs `body` with [[limit]] at `n`, restoring the outer value when it
    * returns or throws; `withLimit(0)` forces every distributed form the
    * body reaches (the parity pins' reference).
    */
  def withLimit[T](n: Long)(body: => T): T = scoped.withValue(n)(body)

  /** `Some(df.collect())` when `df` has at most `lim` = [[limit]] rows,
    * else `None`.
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
    * `lim` is clamped to the largest array the driver can hold; a negative
    * `lim` refuses with no job. An `observe` on a rejected input counts
    * only the rows the probe read.
    *
    * A plan that optimizes to a local relation (a driver mirror's result,
    * a filter or projection of one, an empty relation, a small committed
    * stage [[Checkpoint.readBucketed]] read whole) is answered from its
    * rows with no job and no SQL execution, under the same limit: so one mirror
    * reads another's result, or a small checkpointed graph, for free.
    *
    * None also when a fetched row has a null in one of the `keys` columns
    * (the null rule above), from the same rows and with no further job.
    */
  def probe(df: DataFrame, keys: String*): Option[Array[Row]] = {
    val ks = keys.map(df.schema.fieldIndex)
    rows(df).filterNot(_.exists(r => ks.exists(r.isNullAt))).map { rs =>
      val toRow = CatalystTypeConverters.createToScalaConverter(df.schema)
      rs.map(toRow(_).asInstanceOf[Row])
    }
  }

  /** [[probe]]'s rows as Catalyst rows, with no key: [[LocalGraph]] reads
    * them without converting each to a `Row`.
    */
  private[runtime] def rows(df: DataFrame): Option[Array[InternalRow]] = {
    val cap = math.min(limit, Int.MaxValue - 2L)
    if (cap < 0) return None
    val qe = df.queryExecution
    localRelation(df).foreach { l =>
      return if (l.data.length > cap) None else Some(l.data.toArray)
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
    else if (parts.forall(_._2 != null)) Some(parts.flatMap(_._2))
    else Some(SQLExecution.withNewExecutionId(qe, Some("collect"))(qe.executedPlan.executeCollect()))
      .filter(_.length <= cap)
  }

  /** The local relation `ds`'s plan optimizes to, rows the driver already
    * holds (Spark folds a projection or filter of a local relation into one).
    */
  private[runtime] def localRelation(ds: Dataset[_]): Option[LocalRelation] =
    ds.queryExecution.optimizedPlan match {
      case l: LocalRelation => Some(l)
      case _ => None
    }

  /** Whether `df`'s plan optimizes to a local relation, as a driver
    * mirror's result does: [[probe]] reads it with no job, and
    * caching it would only copy rows the driver already holds.
    */
  def isLocal(df: DataFrame): Boolean = localCount(df).isDefined

  /** The row count of a plan [[isLocal]] holds, counted with no job. */
  def localCount(df: DataFrame): Option[Int] = localRelation(df).map(_.data.length)

  /** A driver mirror's result: `rows` (Catalyst rows of `schema`) as a
    * local relation, with no encoder and no conversion of each value.
    * [[probe]] reads it back with no job.
    */
  def local(spark: SparkSession, schema: StructType, rows: Seq[InternalRow]): DataFrame =
    GraftSql.ofRows(spark, LocalRelation(DataTypeUtils.toAttributes(schema), rows))

  /** A mirror's declared result schema: strings and arrays nullable,
    * numbers not, as Spark's tuple encoders type them.
    */
  def schema(fields: (String, DataType)*): StructType = StructType(fields.map { case (n, t) =>
    StructField(n, t, nullable = !t.isInstanceOf[NumericType]) })

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
