package graft.link

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.runtime.DriverPath

/**
 * Iterative large-star / small-star connected components over an edge list
 * (Kiveris et al., "Connected Components in MapReduce and Beyond",
 * SoCC'14) — the scalable replacement for the reference's in-memory
 * `nx.connected_components` (src/graph_management/graph_query.py:400-434)
 * and the greedy first-claim coref grouping
 * (src/knowledge/coreference_resolver.py:259-284); see SURVEY.md §2.5 C4.
 *
 * Input: DataFrame with string columns `src`, `dst`. Output: (id, comp)
 * where comp is the minimum id in the node's component.
 *
 * Both star operations are expressed with groupBy-min + join — no
 * collect_list, so a celebrity node with 10^8 neighbors never has to fit
 * its adjacency in one task's memory. `localCheckpoint` per iteration
 * truncates lineage; convergence in O(log n) rounds.
 */
object ConnectedComponents {

  private def largeStar(edges: DataFrame): DataFrame = {
    val dir = edges.union(edges.select(col("dst").as("src"), col("src").as("dst")))
    // m(u) = min(Γ(u) ∪ {u})
    val m = dir.groupBy("src").agg(min("dst").as("minNbr"))
      .select(col("src").as("u"), least(col("src"), col("minNbr")).as("m"))
    // connect strictly-larger neighbors to m(u)
    dir.join(m, dir("src") === m("u"))
      .where(col("dst") > col("src"))
      .select(col("dst").as("src"), col("m").as("dst"))
      .distinct()
  }

  private def smallStar(edges: DataFrame): DataFrame = {
    // orient edges large→small so Γ(u) here = smaller neighbors
    val dir = edges.select(
      greatest(col("src"), col("dst")).as("src"),
      least(col("src"), col("dst")).as("dst")
    ).where(col("src") =!= col("dst"))
    val m = dir.groupBy("src").agg(min("dst").as("m"))
    // connect u and all its smaller neighbors to m(u)
    val nbrToMin = dir.join(m, Seq("src"))
      .where(col("dst") =!= col("m"))
      .select(col("dst").as("src"), col("m").as("dst"))
    val selfToMin = m.select(col("src"), col("m").as("dst"))
    nbrToMin.union(selfToMin).distinct()
  }

  /** Convergence signature (row count + order-independent hash sum) RIDDEN
    * on the iteration's own materialization job via `observe` — round-4
    * verdict item 3: a separate signature action per iteration doubled the
    * driver-blocking job count of every CC round, pure fixed latency that
    * is identical at every parallelism level.
    */
  private def signatureMetrics: Seq[org.apache.spark.sql.Column] = Seq(
    count(lit(1)).as("n"),
    coalesce(sum(hash(col("src"), col("dst")).cast("long")), lit(0L)).as("h"))

  /** Pair graphs of at most `DriverPath.limit` edges are solved with a
    * driver-side union-find (one probe job) instead of iterated star
    * rounds: ~10 shuffle rounds of near-empty data are pure fixed cost.
    * The limit is a driver-heap bound (200k edges × two ~32-char ids at
    * ≈ 150 B/id ≈ 60 MB), the same one the graph query operators use.
    *
    * @return DataFrame(id, comp)
    */
  def run(edges: DataFrame, maxIter: Int = 30): DataFrame = {
    import org.apache.spark.sql.Observation
    import org.apache.spark.storage.StorageLevel
    // ONE probe (round-4 verdict item 3): persist the normalized pair
    // set, then DriverPath.probe both materializes the cache and fetches
    // the rows for the driver fast path. persist (not localCheckpoint)
    // keeps the iteration base resident without a second scan; lineage
    // above a hot cache is free.
    var e = edges.select(col("src").cast("string"), col("dst").cast("string"))
      .where(col("src") =!= col("dst"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    DriverPath.probe(e).foreach { taken =>
      val out = unionFindLocal(e.sparkSession,
        taken.map(r => (r.getString(0), r.getString(1))))
      e.unpersist(blocking = false)
      return out
    }
    // seed with the INPUT signature so an already-converged pair graph is
    // detected after ONE star round instead of two: one shuffle-free
    // aggregate over the probe-hot cache, run once up front — unlike the
    // pre-round-5 per-iteration signature actions, it does not scale with
    // iteration count (a null seed can never match round 1's signature,
    // which costs every pre-starred input two extra full-shuffle rounds)
    var sig: (Long, Long) = {
      val r = e.select(signatureMetrics: _*).head()
      (r.getLong(0), r.getLong(1))
    }
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      // ONE job per iteration (round-4 verdict item 3): the convergence
      // signature rides the eager localCheckpoint's own materialization
      // via observe (probed: Observation fires on the checkpoint action)
      // instead of a separate signature scan. The localCheckpoint is
      // load-bearing beyond caching: each star round references its input
      // plan TWICE (self-join shape), so without lineage truncation the
      // logical plan grows 4^k with iterations and Catalyst analysis
      // explodes long before the data does.
      val prev = e
      val obs = Observation()
      e = smallStar(largeStar(e))
        .observe(obs, signatureMetrics.head, signatureMetrics.tail: _*)
        .localCheckpoint(true)
      val m = graft.runtime.Observed.await(obs)
      val s2 = (m.getAs[Long]("n"), m.getAs[Long]("h"))
      if (iter == 0) prev.unpersist(blocking = false) // the probe cache
      converged = s2 == sig
      sig = s2
      iter += 1
    }
    // diagnostics counter (no-silent-anything): lets tests and run
    // manifests see how many star rounds THIS graph took — last-value
    // semantics (recordLast), since a prefix-sum across several CC runs
    // in one process would attribute the total to no graph. The
    // input-signature seed above is pinned by a 1-round assertion on a
    // pre-starred graph (Round5Spec).
    graft.runtime.Observed.recordLast("cc_iterations", Map("rounds" -> iter.toLong))
    // stars: every src points at its component min; minima map to themselves
    val members = e.select(col("src").as("id"), col("dst").as("comp"))
    val roots = e.select(col("dst").as("id")).distinct()
      .join(members.select(col("id")), Seq("id"), "left_anti")
      .withColumn("comp", col("id"))
    members.union(roots).distinct()
  }

  /** Driver-side union-find for small pair graphs (path-compressed,
    * union-by-rank; component label = min member id to match the
    * distributed algorithm exactly).
    */
  private[link] def unionFindLocal(spark: org.apache.spark.sql.SparkSession,
                             pairs: Array[(String, String)]): DataFrame = {
    import spark.implicits._
    unionFindRows(pairs).toDF("id", "comp")
  }

  /** The union-find core of [[unionFindLocal]], returning rows so callers
    * composing further local rows (withIsolated's fast path) can build
    * ONE local relation instead of unioning DataFrames.
    */
  private def unionFindRows(pairs: Array[(String, String)]): Seq[(String, String)] = {
    val parent = scala.collection.mutable.HashMap.empty[String, String]
    def find(x: String): String = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    pairs.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      // UTF-8 order, not String.< (UTF-16): the distributed min() labels
      // components in Spark's binary order — see graft.runtime.Utf8Order
      if (ra != rb) {
        if (graft.runtime.Utf8Order.lt(ra, rb)) parent(rb) = ra else parent(ra) = rb
      }
    }
    // min-id labeling: find-root with a<b union keeps the min as root
    parent.keys.toSeq.map(k => (k, find(k)))
  }

  /** run() plus passthrough for isolated ids not present in any edge. */
  def withIsolated(edges: DataFrame, allIds: DataFrame): DataFrame = {
    // ---- driver fast path (round-7): when BOTH the pair set and the id
    // universe fit the driver limit, the union-find (already the
    // small-graph CC path) AND the isolated-id passthrough run in memory
    // as one local relation — the anti-join + union otherwise costs ~6
    // distributed jobs to append ids the driver has already seen.
    // Normalization mirrors run(): cast-to-string, self-loops dropped,
    // Set ≡ distinct.
    locally {
      val spark = edges.sparkSession
      import spark.implicits._
      DriverPath.probe(edges.select(col("src").cast("string"), col("dst").cast("string")),
        "src", "dst").foreach { raw =>
        DriverPath.probe(allIds.select(col("id").cast("string")), "id").foreach { idRows =>
          val pairs = raw.map(r => (r.getString(0), r.getString(1))).filter(p => p._1 != p._2).distinct
          val ccRows = unionFindRows(pairs)
          val ccIds = ccRows.map(_._1).toSet
          val isolated = idRows.map(_.getString(0)).toSeq.filterNot(ccIds).map(id => (id, id))
          return (ccRows ++ isolated).toDF("id", "comp")
        }
      }
    }
    val cc = run(edges)
    // string ids like run()'s: an integer id column would widen the union to bigint
    val isolated = allIds.select(col("id").cast("string"))
      .join(cc.select("id"), Seq("id"), "left_anti")
      .withColumn("comp", col("id"))
    cc.union(isolated)
  }
}
