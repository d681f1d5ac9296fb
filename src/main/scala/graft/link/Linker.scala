package graft.link

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.model.{Entity, Triple}
import graft.runtime.DriverPath

/**
 * Entity linking / coreference resolution / canonicalization
 * (SURVEY.md §2.5; reference src/knowledge/coreference_resolver.py).
 *
 * The reference does all-pairs SequenceMatcher.ratio() within each
 * entity_type (O(n²), coreference_resolver.py:244-286) and greedy
 * first-claim grouping; at 10^12 scale we instead:
 *
 *  1. BLOCK: each canonical (name, type) emits deterministic blocking
 *     keys — the squashed name (separators removed: "KnowledgeGraph" and
 *     "knowledge_graph" collide) and the acronym/initials key ("KG"
 *     collides with both). Blocking keys are (key, entityType) pairs so
 *     types never merge across (C1 type gating).
 *  2. SCORE: pairs within a block are scored with the ported
 *     Ratcliff-Obershelp ratio + acronym rule (Similarity.score), τ=0.7
 *     (reference default, coreference_resolver.py:146). Block sizes are
 *     capped to keep the self-join bounded (skew backstop).
 *  3. GROUP: accepted pairs → large-star/small-star connected components
 *     (ConnectedComponents) — the set-oriented equivalent of the greedy
 *     groups (superset; divergence documented in SURVEY.md §7.4 risk 2).
 *  4. MERGE: members fold with EntityMerge (reference Entity.merge
 *     semantics); canonical name = highest-confidence member's.
 *  5. REDIRECT: edges re-point srcId/dstId through the broadcast rewrite
 *     map (reference graph.py:283-333), then duplicate edges collapse.
 */
object Linker {

  val DefaultThreshold = 0.7
  val MaxBlockSize = 64

  /** Squash separators + case: primary blocking key. */
  def squash(name: String): String =
    name.toLowerCase.replaceAll("[_\\-./\\s]+", "")

  def acronymKey(name: String): Option[String] = {
    val ws = Similarity.words(name)
    if (ws.length >= 2) Some(ws.map(_.charAt(0).toLower).mkString)
    else if (name.length <= 4) Some(name.toLowerCase)
    else None
  }

  /** Candidate same-entity pairs (id1 < id2), scored ≥ threshold. */
  def candidatePairs(entities: Dataset[Entity], threshold: Double = DefaultThreshold): DataFrame = {
    val spark = entities.sparkSession
    import spark.implicits._

    val keyed = entities
      .flatMap { e =>
        val ks = Seq(squash(e.name)) ++ acronymKey(e.name)
        ks.distinct.map(k => (k, e.entityType, e.id, e.name))
      }
      .toDF("bkey", "etype", "id", "name")
      .dropDuplicates("bkey", "etype", "id")

    // cap block size: rank members within a block, keep first MaxBlockSize
    // (deterministic order by id) — the skew backstop for stop-word names.
    // Capped-away members are COUNTED via observe (Observed WARN-logs >0;
    // checkpoint manifests snapshot it): entities beyond the cap are never
    // linked, and that recall loss must be visible, not silent.
    graft.runtime.Observed.install(spark)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("bkey", "etype").orderBy("id")
    val capped = keyed
      .withColumn("rn", row_number().over(w))
      .observe(graft.runtime.Observed.name("linker_block_cap"),
        sum(when($"rn" > MaxBlockSize, 1L).otherwise(0L)).as("dropped"))
      .where($"rn" <= MaxBlockSize)
      .drop("rn")

    val a = capped.select($"bkey", $"etype", $"id".as("id1"), $"name".as("name1"))
    val b = capped.select($"bkey", $"etype", $"id".as("id2"), $"name".as("name2"))
    // two-phase like the reference: candidate threshold (blocking, τ=0.7)
    // then deterministic adjudication (the LLM stand-in). Both scored with
    // native codegen'd Catalyst expressions — no ScalaUDF in the pair hot
    // path (PlanSpec pins this).
    a.join(b, Seq("bkey", "etype"))
      .where($"id1" < $"id2")
      .select($"id1", $"id2", $"name1", $"name2")
      .distinct()
      .withColumn("score", graft.functions.SimilarityScore($"name1", $"name2"))
      .where($"score" >= threshold &&
        graft.functions.SimilarityAccept($"name1", $"name2"))
  }

  /** Driver-side mirror of [[candidatePairs]] + connected components:
    * SAME blocking keys, SAME deterministic per-block cap (ordered by id,
    * counted via the Observed registry — the no-silent-caps rule doesn't
    * care which side of the fast path drops rows), SAME score/accept
    * functions ([[Similarity.score]]/[[Similarity.accept]] — the native
    * SimilarityScore/SimilarityAccept expressions are parity-tested
    * against exactly these), then path-compressed union-find with min-id
    * component labels to match the distributed large/small-star output.
    */
  private[link] def driverComps(spark: org.apache.spark.sql.SparkSession,
                                rows: Array[(String, String, String)],
                                threshold: Double): DataFrame = {
    val blocks = scala.collection.mutable.HashMap
      .empty[(String, String), scala.collection.mutable.TreeMap[String, String]]
    rows.foreach { case (id, name, etype) =>
      (Seq(squash(name)) ++ acronymKey(name)).distinct.foreach { k =>
        blocks.getOrElseUpdate((k, etype),
          // UTF-8 id order: the window cap's ORDER BY id is Spark binary
          // order, and the TreeMap's iteration order IS the cap rule here
          scala.collection.mutable.TreeMap.empty[String, String](
            graft.runtime.Utf8Order))
          .update(id, name)
      }
    }
    var capDropped = 0L
    val accepted = scala.collection.mutable.HashSet.empty[(String, String)]
    blocks.valuesIterator.foreach { members =>
      // TreeMap iterates id-ascending = the window's ORDER BY id cap rule
      val kept = members.iterator.take(MaxBlockSize).toArray
      capDropped += members.size - kept.length
      var i = 0
      while (i < kept.length - 1) {
        var j = i + 1
        while (j < kept.length) {
          val (id1, n1) = kept(i); val (id2, n2) = kept(j)
          if (!accepted.contains((id1, id2)) &&
              Similarity.score(n1, n2) >= threshold && Similarity.accept(n1, n2))
            accepted += ((id1, id2))
          j += 1
        }
        i += 1
      }
    }
    graft.runtime.Observed.record("linker_block_cap", Map("dropped" -> capDropped))
    ConnectedComponents.unionFindLocal(spark, accepted.toArray)
  }

  final case class LinkResult(
      canonical: Dataset[Entity],
      /** id → canonicalId for every input entity (identity rows included). */
      rewrite: DataFrame
  )

  /** Canonical-mention tables of at most `DriverPath.limit` rows link on the
    * driver: one narrow probe of 3 string columns (cache-hot in the
    * pipeline, where extract_dedup materialized the mentions), then
    * [[driverComps]]. The distributed blocking join remains the path at
    * scale; QueryDriverSpec pins the two identical.
    */
  def link(entities: Dataset[Entity], threshold: Double = DefaultThreshold): LinkResult = {
    val spark = entities.sparkSession
    import spark.implicits._

    val comps: DataFrame =
      DriverPath.probe(entities.select($"id", $"name", $"entityType"), "id") match {
        case Some(rows) => driverComps(spark,
          rows.map(r => (r.getString(0), r.getString(1), r.getString(2))), threshold)
        case None => ConnectedComponents.run(
          candidatePairs(entities, threshold)
            .select($"id1".as("src"), $"id2".as("dst")))
      } // (id, comp) — only linked ids

    val withComp = entities
      .join(comps.withColumnRenamed("id", "eid"), entities("id") === col("eid"), "left")
      .withColumn("comp", coalesce($"comp", entities("id")))
      .drop("eid")

    val typed = withComp.select(
      $"comp",
      struct($"id", $"name", $"entityType", $"context", $"attributes",
        $"confidence", $"segId", $"repo", $"path", $"contentSha").as("e"))
      .as[(String, Entity)]

    val merged = typed
      .groupByKey(_._1)
      .mapGroups { (comp, it) =>
        // deterministic fold: EntityMerge.merge2 order-normalizes internally
        val members = it.map(_._2)
        val folded = members.reduce(EntityMerge.merge2)
        // canonical id = component id (min member id) so rewrites are stable
        folded.copy(id = comp)
      }

    // non-identity rewrites only (tiny). Derived from `comps` DIRECTLY —
    // not from the entities join: comps already holds exactly the linked
    // ids with their component minima, so id ≠ comp there IS the rewrite
    // map. The old withComp-based form forced a localCheckpoint job over
    // a full entities scan (round-4 verdict item 3: link_cc was fixed
    // driver latency); when CC took its driver fast path, comps is a
    // LocalRelation and this plan stays driver-local — zero jobs.
    val rewrite = comps.where(col("id") =!= col("comp"))
      .select(col("id"), col("comp").as("canonicalId"))
    LinkResult(merged, rewrite)
  }

  /** Rewrite maps up to this many rows broadcast (≈100-char rows → low
    * hundreds of MB worst case, inside the raised 64MB-per-side local
    * threshold after compression at typical alias rates); bigger maps —
    * alias storms at web scale — fall back to SALTED shuffle joins, since
    * canonical targets of giant alias families are exactly the celebrity
    * hot keys AQE skew-splitting may miss on the probe side.
    */
  val BroadcastRewriteLimit: Long = 2000000L

  /** C5 edge redirection: re-point both endpoints through the rewrite map
    * (broadcast when small; salted shuffle join beyond
    * [[BroadcastRewriteLimit]]), then duplicates collapse downstream
    * keeping max confidence.
    */
  def redirectEdges(triples: Dataset[Triple], rewrite: DataFrame,
                    broadcastLimit: Long = BroadcastRewriteLimit): Dataset[Triple] = {
    val spark = triples.sparkSession
    import spark.implicits._
    // only non-identity rewrites matter — keep the join side minimal.
    // A local rewrite map (the linker's driver path, the common case for
    // alias-scale pair graphs) is sized from its rows with ZERO jobs and
    // needs no checkpoint; a distributed map is materialized before the
    // path-choosing count so its CC lineage runs once, not twice
    // (round-2 advice; round-4 verdict item 3 removed the two driver
    // actions this cost on every small-corpus run).
    val filtered = rewrite.where(col("id") =!= col("canonicalId"))
    val (rw, big) = DriverPath.localCount(filtered) match {
      case Some(n) => (filtered, n > broadcastLimit)
      case None =>
        val m = filtered.localCheckpoint(true)
        (m, m.count() > broadcastLimit)
    }
    val redirected =
      if (!big) {
        val srcMap = broadcast(rw.select(col("id").as("_sid"), col("canonicalId").as("_scan")))
        val dstMap = broadcast(rw.select(col("id").as("_did"), col("canonicalId").as("_dcan")))
        triples.toDF()
          .join(srcMap, col("srcId") === col("_sid"), "left")
          .join(dstMap, col("dstId") === col("_did"), "left")
      } else {
        // salted left joins: edge side salted by its unique triple id,
        // map side exploded — hot canonical ids spread over NSalt reducers
        val srcSalted = graft.runtime.Skew.saltedJoin(
          triples.toDF().withColumn("_sid", col("srcId")),
          rw.select(col("id").as("_sid"), col("canonicalId").as("_scan")),
          Seq("_sid"), uniqueCol = "id", nSalts = 16, joinType = "left")
        graft.runtime.Skew.saltedJoin(
          srcSalted.withColumn("_did", col("dstId")),
          rw.select(col("id").as("_did"), col("canonicalId").as("_dcan")),
          Seq("_did"), uniqueCol = "id", nSalts = 16, joinType = "left")
      }
    redirected
      .withColumn("srcId", coalesce(col("_scan"), col("srcId")))
      .withColumn("dstId", coalesce(col("_dcan"), col("dstId")))
      .drop("_sid", "_scan", "_did", "_dcan")
      .as[Triple]
  }
}
