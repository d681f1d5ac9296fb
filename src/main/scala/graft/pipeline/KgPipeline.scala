package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.corpus.CorpusGen
import graft.extract.Extractor
import graft.graphout.GraphBuilder
import graft.link.Linker
import graft.model.{CodeFile, Entity, Segment, Triple}
import graft.segment.CodeSegmenter

/**
 * The flagship segment → extract → link → build flow (reference
 * KnowledgeExtractionPipeline, src/knowledge/pipeline.py:71-210), as lazy
 * Dataset stages. Unlike the reference (§3.1 note in SURVEY.md), edges ARE
 * re-pointed to merged entities (C5) before materialization, and dangling
 * edges are counted rather than silently dropped.
 *
 * Shuffle census for the full run (what matters at 100 TB — round-4
 * shape: duplicate mass collapses BEFORE any join, and the two cached
 * tables carry join-aligned hash partitioning so downstream joins are
 * exchange-free on the cached sides):
 *   segment+extract: ZERO shuffles (flatMap/mapPartitions chains)
 *   mention dedup:   1 shuffle (hash agg on deterministic entityId,
 *                    partial agg map-side via commutative Aggregator)
 *   linking:         blocking shuffle + O(log n) CC iterations (alias
 *                    pair graph is tiny relative to corpus)
 *   edge redirect:   0 shuffles (broadcast rewrite map)
 *   graph build:     keep-max dedup agg (map-side combined, FIRST) +
 *                    2 edge-side semi-join exchanges; node build sides
 *                    read the id-partitioned cache (no exchange)
 *   tripleSet:       ZERO joins — canonical names ride the edge rows from
 *                    build's endpoint joins; one distinct aggregate
 *                    (map-side partial) is the stage's only exchange
 */
object KgPipeline {

  final case class Result(
      files: Dataset[CodeFile],
      segments: Dataset[Segment],
      mentions: Dataset[Entity],
      canonicalEntities: Dataset[Entity],
      graph: GraphBuilder.Graph,
      /** The P/R-scored projection: distinct (subjName, relType, objName). */
      tripleSet: DataFrame
  )

  /** Per-stage wall-clock laps from [[runStaged]] (bench evidence for the
    * two-cluster-size scaling rule — stage-attributed, not argued).
    * Stage names: extract_dedup (segmentation + extraction fused into the
    * mention-dedup action — the narrow chain has no cheaper observable
    * boundary), link_cc (pair scoring + connected components + rewrite
    * map), merge_build (entity merge + graph materialization + edge
    * redirect), triple_set (name attachment + distinct).
    */
  final case class Staged(result: Result, tripleCount: Long,
                          stageSec: Seq[(String, Double)])

  def run(spark: SparkSession, files: Dataset[CodeFile],
          linkThreshold: Double = Linker.DefaultThreshold): Result =
    assemble(spark, files, linkThreshold, force = false)._1

  /** [[run]] with each stage FORCED at its natural persist boundary and
    * timed — the bench's per-stage scaling instrument. The forced actions
    * are materializations the lazy run performs anyway on first downstream
    * use; only their attribution changes.
    */
  def runStaged(spark: SparkSession, files: Dataset[CodeFile],
                linkThreshold: Double = Linker.DefaultThreshold): Staged = {
    val (res, n, laps) = assemble(spark, files, linkThreshold, force = true)
    Staged(res, n, laps)
  }

  private def assemble(spark: SparkSession, files: Dataset[CodeFile],
                       linkThreshold: Double, force: Boolean)
      : (Result, Long, Seq[(String, Double)]) = {
    val segments = CodeSegmenter.windows(files)
    // Two lazy extraction passes (mentions, triples), not the checkpointed
    // run's one pass: extractCombinedSafe + explodes measured slower here
    // (kg_build build_s 5.2 → 6.0 s; cached, 7.1 s and +30% peak memory).
    val (mentions, rawTriples) = Extractor.extract(segments)
    val keep = new InMemoryKeep(spark.sessionState.conf.numShufflePartitions, force)
    val out = KgStages.run(mentions, rawTriples, keep, linkThreshold)
    import spark.implicits._
    val graph = GraphBuilder.Graph(out.nodes.as[Entity], out.edges.as[Triple])
    (Result(files, segments, mentions, graph.nodes, graph, out.tripleSet),
      keep.tripleCount, keep.laps.toSeq)
  }

  /** The in-memory keep: persists 04, and hash-partitions and persists the
    * keyed stages — 05 on id (explicit partition count, so AQE cannot
    * coalesce it away from the join requirement: GraphBuilder.build's node
    * side and every downstream id join read it co-partitioned) and 07 on
    * srcId (the union with reversed rows erases the semi-join's
    * partitioning, so the srcId joins downstream start co-located). 06 and
    * 08 stay lazy.
    * With `force`, 04, 05, 07 and the triple set are counted on the spot,
    * and the time between stage ends is lapped under the [[Staged]] names.
    */
  private final class InMemoryKeep(parts: Int, force: Boolean) extends KgStages.Keep {
    import KgStages._
    val laps = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    var tripleCount = 0L
    private var mark = System.nanoTime()
    private def lap(name: String): Unit = {
      val now = System.nanoTime()
      laps(name) = laps.getOrElse(name, 0.0) + (now - mark) / 1e9
      mark = now
    }
    private def persist(df: DataFrame) =
      df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    def apply(stage: Stage)(body: => DataFrame): DataFrame = {
      val out = stage match {
        case CanonicalMentions => persist(body)
        case Stage(_, _, Some(key)) => persist(body.repartition(parts, col(key)))
        case _ => body
      }
      if (force && stage != Rewrite) {
        val n = out.count()
        if (stage == TripleSet) tripleCount = n
      }
      lap(stage match {
        case CanonicalMentions => "extract_dedup"
        case TripleSet => "triple_set"
        case _ => "merge_build"
      })
      out
    }

    override def link(body: => Linker.LinkResult): Linker.LinkResult = {
      val linked = body
      lap("link_cc")
      linked
    }
  }

  def runSynthetic(spark: SparkSession, n: Long, seed: Long = 42L): Result =
    run(spark, CorpusGen.generate(spark, n, seed))

  def runSyntheticStaged(spark: SparkSession, n: Long, seed: Long = 42L): Staged =
    runStaged(spark, CorpusGen.generate(spark, n, seed))
}
