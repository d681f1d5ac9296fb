package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions.col
import graft.graphout.GraphBuilder
import graft.link.{EntityMerge, Linker}
import graft.model.{Entity, Triple}

/**
 * Stages 04–08 of the KG build, defined once for the in-memory
 * ([[KgPipeline]]) and the checkpointed ([[CheckpointedPipeline]]) run:
 *
 *   04_canonical_mentions → link → 05_nodes / 06_rewrite → 07_edges
 *     → 08_triple_set
 *
 * Each stage declares its name, its lineage inputs and its key column (the
 * column its consumers join on). A run supplies only a [[KgStages.Keep]]
 * policy — how a stage's output is kept: persisted in memory, or committed
 * as a checkpoint table. Extraction (stages 00–03) stays with each run.
 */
object KgStages {

  final case class Stage(name: String, inputs: Seq[String], key: Option[String] = None)

  val CanonicalMentions = Stage("04_canonical_mentions", Seq("02_mentions"))
  val Nodes = Stage("05_nodes", Seq("04_canonical_mentions"), key = Some("id"))
  val Rewrite = Stage("06_rewrite", Seq("04_canonical_mentions"))
  val Edges = Stage("07_edges", Seq("03_triples", "05_nodes", "06_rewrite"), key = Some("srcId"))
  val TripleSet = Stage("08_triple_set", Seq("07_edges"))

  /** How a run keeps stage outputs: `apply` returns what downstream stages
    * read in place of `body`. `link` wraps the linking step behind 05 and
    * 06, which runs lazily — not at all when both are already kept.
    */
  trait Keep {
    def apply(stage: Stage)(body: => DataFrame): DataFrame
    def link(body: => Linker.LinkResult): Linker.LinkResult = body
  }

  final case class Output(nodes: DataFrame, edges: DataFrame, tripleSet: DataFrame)

  def run(mentions: Dataset[Entity], triples: Dataset[Triple], keep: Keep,
          linkThreshold: Double = Linker.DefaultThreshold): Output = {
    import mentions.sparkSession.implicits._
    // exact-identity dedup first (deterministic id = sha(normName|type)):
    // one shuffle, map-side combined; the canonical mention table is small
    // (distinct (name,type) pairs) and read 3+ times downstream
    val canonical = keep(CanonicalMentions)(EntityMerge.dedupeMentionsFast(mentions).toDF())
    // fuzzy linking over the deduped canonical mentions; the CC and the
    // rewrite map are eager (localCheckpoint) inside
    lazy val linked = keep.link(Linker.link(canonical.as[Entity], linkThreshold))
    val nodes = keep(Nodes)(linked.canonical.toDF())
    val rewrite = keep(Rewrite)(linked.rewrite)
    val edges = keep(Edges) {
      GraphBuilder.build(nodes.as[Entity], Linker.redirectEdges(triples, rewrite)).edges.toDF()
    }
    // ZERO-join triple set: build attaches canonical srcName/dstName inside
    // its endpoint joins, so this stage is a scan + one distinct aggregate
    // whose map-side partial collapses duplicate name-triples before the
    // single exchange
    val tripleSet = keep(TripleSet) {
      edges.select(col("srcName").as("subjName"), col("relType"), col("dstName").as("objName"))
        .distinct()
    }
    Output(nodes, edges, tripleSet)
  }
}
