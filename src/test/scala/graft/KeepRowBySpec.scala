package graft

/** Round-6 scale fix: the edge keep-max dedup must never sort wide rows —
  * winner selection runs on a narrow 5-column projection (the one
  * permitted SortAggregate) and winning rows are fetched by an id-keyed
  * hash semi join; the node-name attach rides the native KeepRowBy
  * (ObjectHashAggregate). The declarative min_by(struct)/min(string)
  * forms sort the full raw-triple table on both map and final sides, and
  * the concurrent external-sort merges are what collapsed 2→8-core
  * merge_build scaling to 0.27 at the 1.28M-file size (StageProbe,
  * BASELINE.md round 6).
  */
class KeepRowBySpec extends SparkSpec {
  import graft.functions.KeepRowBy
  import org.apache.spark.sql.functions._

  private def fuzzedTriples(n: Int, seed: Long) = {
    val rnd = new scala.util.Random(seed)
    import spark.implicits._
    (1 to n).map { i =>
      val src = s"e${rnd.nextInt(8)}"
      val dst = s"e${rnd.nextInt(8)}"
      val rel = Seq("calls", "imports", "extends")(rnd.nextInt(3))
      graft.model.Triple(
        id = f"t$i%05d",
        srcId = src, dstId = dst,
        srcName = s"N$src", dstName = s"N$dst",
        relType = rel,
        context = if (rnd.nextBoolean()) Some(s"ctx${rnd.nextInt(4)}") else None,
        bidirectional = rnd.nextBoolean(),
        strength = rnd.nextInt(3) * 0.5,
        // coarse confidence grid → plenty of exact ties; tiebreak = min id
        confidence = rnd.nextInt(4) * 0.25,
        segId = s"s${rnd.nextInt(5)}",
        attributes = if (rnd.nextBoolean()) Map("k" -> s"v${rnd.nextInt(3)}") else Map.empty)
    }.toDS().repartition(7) // >1 partition: partial/merge/serialize all run
  }

  test("KeepRowBy ≡ min_by(struct(cols), struct(-conf, id)) on fuzzed triples") {
    val ds = fuzzedTriples(4000, seed = 1206L)
    val cols = ds.toDF().columns
    // reference: the pre-round-6 declarative form (SortAggregate path) —
    // note min_by's VALUE struct may carry the map; only its ORDER key
    // needs orderability
    val expected = ds.toDF()
      .groupBy("srcId", "relType", "dstId")
      .agg(min_by(struct(cols.map(col): _*),
        struct((-col("confidence")).as("nc"), col("id").as("tid"))).as("row"))
      .select(col("row.*"))
    val actual = ds.toDF()
      .groupBy("srcId", "relType", "dstId")
      .agg(KeepRowBy.minRow(-col("confidence"), col("id"),
        struct(cols.map(col): _*)).as("row"))
      .select(col("row.*"))
    // exceptAll rejects MAP columns — compare via their JSON encoding
    def comparable(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("attributes", to_json(col("attributes")))
    assert(comparable(actual).exceptAll(comparable(expected)).count() == 0)
    assert(comparable(expected).exceptAll(comparable(actual)).count() == 0)
    assert(actual.count() == expected.count())
  }

  test("KeepRowBy(0.0, name, struct(name)) ≡ min(name)") {
    import spark.implicits._
    val df = Seq(("a", "zeta"), ("a", "Alpha"), ("a", "alpha"), ("b", "é"),
      ("b", "e"), ("c", new String(Character.toChars(0x1F600))), ("c", "z"))
      .toDF("id", "name").repartition(5)
    val expected = df.groupBy("id").agg(min($"name").as("name"))
    val actual = df.groupBy("id")
      .agg(KeepRowBy.minRow(lit(0.0), $"name", struct($"name")).as("w"))
      .select($"id", $"w.name".as("name"))
    assert(actual.exceptAll(expected).count() == 0)
    assert(expected.exceptAll(actual).count() == 0)
  }

  test("graph build plan: no wide-row sort, narrow winner agg + hash semi") {
    import spark.implicits._
    val ents = fuzzedTriples(200, seed = 7L).collect()
      .flatMap(t => Seq(t.srcId, t.dstId)).distinct.map { id =>
        graft.model.Entity(id, s"N$id", "class", None, Map.empty, 0.9,
          "s0", "r", "p", "sha")
      }.toSeq.toDS()
    val g = graft.graphout.GraphBuilder.build(ents, fuzzedTriples(200, seed = 7L))
    g.edges.toDF().collect()
    val p = g.edges.queryExecution.executedPlan.toString
    // names agg rides ObjectHashAggregate (KeepRowBy), winner fetch is a
    // shuffled hash semi join
    assert(p.contains("ObjectHashAggregate"), p.take(1500))
    assert(p.contains("ShuffledHashJoin") && p.contains("LeftSemi"), p.take(1500))
    // the only SortAggregate allowed is the NARROW winner selection:
    // no wide payload column (context/attributes/names) may appear in
    // any SortAggregate node — a wide-row sort is the 1.28M-file
    // scale-killer this pin exists to prevent
    val sortAggs = p.linesIterator.filter(_.contains("SortAggregate")).toList
    assert(sortAggs.nonEmpty, "expected the narrow winner SortAggregate")
    sortAggs.foreach { l =>
      assert(!l.contains("context") && !l.contains("attributes") &&
        !l.contains("srcName") && !l.contains("dstName"), l.take(300))
    }
  }
}
