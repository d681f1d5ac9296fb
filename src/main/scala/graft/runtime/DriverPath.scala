package graft.runtime

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.execution.SQLExecution

/**
 * The size gate of every driver fast path (traverse, findPath, the
 * centralities, connected components, the linker, the verifier walks,
 * clustering): fetch a small input to the driver, or learn that it is
 * too large, in ONE early-stopping job.
 *
 * Not count + collect (three jobs: a count is two under AQE) nor
 * `head(lim + 1)` (Spark's incremental take escalates through up to four
 * jobs, each re-running the lineage): both read every row of an input
 * far over the limit, while this probe reads at most `lim + 1` rows per
 * partition.
 */
object DriverPath {

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
    */
  def probe(df: DataFrame, lim: Long): Option[Array[Row]] = {
    val cap = math.min(lim, Int.MaxValue - 2L)
    if (cap < 0) return None
    val qe = df.queryExecution
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
}
