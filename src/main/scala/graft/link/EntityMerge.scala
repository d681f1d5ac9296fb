package graft.link

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import graft.model.Entity

/**
 * Entity merge semantics — a port of `Entity.merge`
 * (/root/reference/src/knowledge/entity.py:39-85):
 *  - name: higher-confidence side wins; ties prefer the left/self side
 *  - confidence: max
 *  - context: concatenated with '\n' when both present and different
 *  - attributes: union; equal keys with different values → JSON list of
 *    both (the reference's scalar→list-on-conflict rule, entity.py:66-72;
 *    we keep values JSON-encoded strings so list-append semantics are
 *    preserved in a Map[String,String] column)
 *
 * The reference's fold is order-sensitive (SURVEY.md §7.4 risk 1): on
 * equal confidence the left name wins, and metadata precedence is
 * left-biased. To be deterministic under ANY partitioning we impose a
 * canonical total order — (confidence DESC, id ASC, segId ASC) — and make
 * `merge2` always fold the canonically-greater element onto the left.
 * The resulting Aggregator is commutative and associative, so Spark's
 * partial (map-side) + final aggregation is safe.
 */
object EntityMerge {

  private def quote(s: String): String =
    if (s.startsWith("\"")) s
    else "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  /** Split a JSON-encoded conflict list into its element strings. Quote-
    * aware: a bare `split(",")` corrupts values that themselves contain
    * commas (e.g. `"a,b"` — the scalar→list-on-conflict port of
    * entity.py:66-72 must round-trip such values losslessly).
    */
  private[link] def elems(s: String): Seq[String] = {
    if (!s.startsWith("[")) return Seq(quote(s))
    val body = s.substring(1, s.length - 1)
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var inQ = false
    var esc = false
    body.foreach { c =>
      if (esc) { cur += c; esc = false }
      else c match {
        case '\\' if inQ => cur += c; esc = true
        case '"' => cur += c; inQ = !inQ
        case ',' if !inQ =>
          if (cur.nonEmpty) { out += cur.toString; cur.clear() }
        case _ => cur += c
      }
    }
    if (cur.nonEmpty) out += cur.toString
    out.toSeq
  }

  /** Canonical priority: true iff a should be treated as the 'self' side. */
  private[link] def leftWins(a: Entity, b: Entity): Boolean =
    if (a.confidence != b.confidence) a.confidence > b.confidence
    else if (a.id != b.id) a.id < b.id
    else a.segId <= b.segId

  /** Order-normalized merge of two entities (same canonical identity). */
  def merge2(x: Entity, y: Entity): Entity = {
    val (a, b) = if (leftWins(x, y)) (x, y) else (y, x)
    val name = if (a.confidence >= b.confidence) a.name else b.name
    val conf = math.max(a.confidence, b.confidence)
    // context union (reference concatenates with '\n' when different,
    // entity.py:55-59); sorted-distinct lines keep the fold associative
    val context = (a.context, b.context) match {
      case (Some(ca), Some(cb)) if ca != cb =>
        Some((ca.split("\n") ++ cb.split("\n")).toSeq.distinct.sorted.mkString("\n"))
      case (ca, cb) => ca.orElse(cb)
    }
    // Conflict lists are SORTED, DEDUPED sets — a deliberate divergence
    // from the reference (entity.py:66-72 keeps insertion order and can
    // nest), because order-dependent lists make the fold non-associative
    // and the merged output partitioning-dependent. The reference never
    // notices (single-threaded); a distributed partial aggregation must.
    val attrs = b.attributes.foldLeft(a.attributes) { case (acc, (k, v)) =>
      acc.get(k) match {
        case None => acc + (k -> v)
        case Some(existing) if existing == v => acc
        case Some(existing) =>
          acc + (k -> (elems(existing) ++ elems(v)).distinct.sorted.mkString("[", ",", "]"))
      }
    }
    a.copy(name = name, confidence = conf, context = context, attributes = attrs)
  }

  /** Typed Aggregator: commutative+associative thanks to the canonical
    * ordering inside merge2 — safe for partial aggregation (map-side
    * combine), which is what makes entity dedup a single shuffle at scale.
    */
  val aggregator: Aggregator[Entity, Entity, Entity] =
    new Aggregator[Entity, Entity, Entity] {
      private val zero_ = Entity("", "", "", None, Map.empty, -1.0, "", "", "", "")
      override def zero: Entity = zero_
      override def reduce(b: Entity, a: Entity): Entity =
        if (b.confidence < 0) a else merge2(b, a)
      override def merge(b1: Entity, b2: Entity): Entity =
        if (b1.confidence < 0) b2 else if (b2.confidence < 0) b1 else merge2(b1, b2)
      override def finish(r: Entity): Entity = r
      override def bufferEncoder: Encoder[Entity] = Encoders.product[Entity]
      override def outputEncoder: Encoder[Entity] = Encoders.product[Entity]
    }

  /** Dedup mentions into canonical entities: one hash-aggregate shuffle on
    * the deterministic entity id (= sha(normName|type), SURVEY.md §1.3).
    *
    * General path — full E4 semantics including attribute-conflict lists,
    * via the typed Aggregator. NOTE: typed aggregators execute as
    * ObjectHashAggregate, which falls back to sort-based aggregation with
    * per-row object (de)serialization past 128 distinct keys — fine for
    * small/attribute-bearing inputs, ruinous for the per-mention hot path.
    * The pipeline uses [[dedupeMentionsFast]] instead.
    */
  def dedupeMentions(mentions: Dataset[Entity]): Dataset[Entity] = {
    import mentions.sparkSession.implicits._
    mentions.groupByKey(_.id).agg(aggregator.toColumn).map(_._2)
  }

  /** Codegen-native dedup with semantics equal to the Aggregator WHEN
    * mentions carry no attributes (true for every extractor output —
    * asserted equivalent in EntityMergeSpec):
    *  - winner fields from the canonical-min element (confidence DESC,
    *    segId ASC tiebreak; id constant within a group),
    *  - confidence = max,
    *  - context = sorted-distinct union joined with '\n'.
    * Pure hash aggregate (partial+final, whole-stage codegen), no object
    * serialization — the difference is >10x on 10^6+ mention groups.
    */
  def dedupeMentionsFast(mentions: Dataset[Entity]): Dataset[Entity] = {
    import mentions.sparkSession.implicits._
    import org.apache.spark.sql.functions._
    mentions.toDF()
      .groupBy($"id")
      .agg(
        min(struct((-$"confidence").as("nc"), $"segId", $"name", $"entityType",
          $"repo", $"path", $"contentSha")).as("w"),
        max($"confidence").as("confidence"),
        // contexts may already be '\n'-joined unions (map-side combine) —
        // flatten to lines, dedup, sort: exactly merge2's context algebra
        array_sort(array_distinct(flatten(
          transform(collect_set($"context"), c => split(c, "\n"))))).as("ctxs"))
      .select(
        $"id",
        $"w.name".as("name"),
        $"w.entityType".as("entityType"),
        when(size($"ctxs") > 0, array_join($"ctxs", "\n"))
          .otherwise(lit(null).cast("string")).as("context"),
        map().cast("map<string,string>").as("attributes"),
        $"confidence",
        $"w.segId".as("segId"),
        $"w.repo".as("repo"),
        $"w.path".as("path"),
        $"w.contentSha".as("contentSha"))
      .as[Entity]
  }
}
