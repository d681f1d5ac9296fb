package graft

import org.apache.spark.sql.functions._
import graft.query.GraphQueryOps

/** Round-6 pins: UTF-8 binary ordering in the driver fast paths ≡ Spark's
  * own string order (incl. supplementary code points, where UTF-16
  * `String.compareTo` diverges); findPath's distributed loop releases its
  * frontier caches; the bench compact summary line is machine-parsable.
  */
class Utf8OrderSpec extends SparkSpec {

  // U+1F600 (supplementary: UTF-16 surrogate pair D83D DE00) vs U+F000
  // (private-use BMP char): UTF-16 code-unit order puts the surrogate
  // FIRST, UTF-8/code-point order puts the supplementary char LAST —
  // the exact divergence class round-5 advice flagged
  private val Supp = new String(Character.toChars(0x1F600))
  private val Pua = new String(Character.toChars(0xF000))

  test("Utf8Order ≡ Spark string sort including supplementary code points") {
    import spark.implicits._
    val ids = Seq(Supp, Pua, "a", "z", "é", "�",
      "ab", "a" + Supp, "a" + Pua, "")
    val sparkOrder = ids.toDF("s").orderBy("s").as[String].collect().toList
    val utf8Order = ids.sorted(graft.runtime.Utf8Order).toList
    val utf16Order = ids.sorted.toList
    assert(utf8Order == sparkOrder)
    assert(utf16Order != sparkOrder,
      "fixture must actually exercise the UTF-16/UTF-8 divergence")
  }

  test("Utf8Order ≡ Spark string sort on UNPAIRED surrogates (malformed UTF-16)") {
    import spark.implicits._
    // Spark's UTF8String.fromString goes through String.getBytes(UTF_8),
    // which substitutes '?' (0x3F) for a lone surrogate; codePointAt
    // returns the raw D800+ value, so the pre-fix comparator sorted
    // "X\uD800" AFTER "Xz" while Spark sorts it ("X?") before. Spark also
    // REWRITES the value at ingestion, so parity is asserted on the
    // UTF-8 encodings of the sorted sequences (all encodings distinct —
    // no tie whose output order a sort could legitimately flip).
    val lone = "X" + "\uD800"
    val ids = Seq(lone + "a", "Xz", "X", "X?b", "\uDC00" + "q", Supp, Pua)
    def enc(s: String) = s.getBytes(java.nio.charset.StandardCharsets.UTF_8).toList
    val sparkOrder = ids.toDF("s").orderBy("s").as[String].collect().toList
    val utf8Order = ids.sorted(graft.runtime.Utf8Order).toList
    assert(utf8Order.map(enc) == sparkOrder.map(enc))
    assert(ids.sorted.map(enc) != sparkOrder.map(enc),
      "fixture must actually exercise the lone-surrogate divergence")
  }

  test("CC driver union-find min-id labels ≡ distributed on supplementary ids") {
    import spark.implicits._
    // the Supp/Pua component contains ONLY non-ASCII ids, so its min-id
    // label is decided exactly where UTF-16 and UTF-8 orders disagree
    val df = Seq((Supp, Pua), (Supp, Supp + "x"), ("b", "a")).toDF("src", "dst")
    def m(res: org.apache.spark.sql.DataFrame) =
      res.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val driver = m(graft.link.ConnectedComponents.run(df))
    val dist = m(graft.link.ConnectedComponents.run(df, driverThreshold = 0))
    assert(driver == dist)
    // the component min under UTF-8 order is the PUA char, NOT the
    // surrogate-encoded supplementary one (UTF-16 would pick the latter)
    assert(driver(Supp) == Pua && driver(Supp + "x") == Pua)
  }

  test("findPath driver ≡ distributed when path order hinges on supplementary ids") {
    import spark.implicits._
    val ids = Seq("s", Supp, Pua, "t")
    val nodes = ids.map(i => graft.model.Entity(i, i, "t", None,
      Map.empty, 1.0, "", "", "", "")).toDS()
    val edges = Seq(("e1", "s", Supp), ("e2", "s", Pua),
      ("e3", Supp, "t"), ("e4", Pua, "t"))
      .map { case (id, a, b) => graft.model.Triple(id, a, b, "", "", "r",
        None, bidirectional = false, 1.0, 1.0, "") }.toDS()
    val g = graft.graphout.GraphBuilder.Graph(nodes, edges)
    def one(driverLimit: Long) =
      GraphQueryOps.findPath(g, "s", "t", maxPaths = 1, driverLimit = driverLimit)
        .collect().map(_.getAs[scala.collection.Seq[String]]("path").toList).toList
    val fast = one(Long.MaxValue)
    val dist = one(0)
    assert(fast == dist)
    // UTF-8 order picks the PUA route (the supplementary path sorts later)
    assert(fast == List(List("s", Pua, "t")))
  }
}

class FindPathCacheSpec extends SparkSpec {

  test("distributed findPath unpersists every frontier it cached") {
    val g = Fixtures.queryGraph(spark)
    // warm the fixture (its own localCheckpoints register persistent RDDs)
    GraphQueryOps.findPath(g, "alice", "project_y", driverLimit = 0).collect()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val res = GraphQueryOps.findPath(g, "alice", "project_y", driverLimit = 0)
    assert(res.count() > 0)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty,
      s"findPath left ${leaked.size} persisted RDDs behind: $leaked")
  }
}

class ShufflePartitionContractSpec extends org.scalatest.funsuite.AnyFunSuite {
  import graft.runtime.Sessions.shufflePartitionsFor

  test("partitions grow with the corpus, never below 2x cores") {
    // official protocol (320k, high=8): unchanged from the fixed 2*high
    assert(shufflePartitionsFor(8, 320000L) == 16)
    assert(shufflePartitionsFor(8, 1280000L) == 32)
    // the 2.56M regime that measured 671 MB/task at parts=16 gets 64
    // (40k files/task — the measured cache-locality knee)
    assert(shufflePartitionsFor(8, 2560000L) == 64)
    assert(shufflePartitionsFor(8, 2560001L) == 65) // ceil, not floor
    // core floor dominates small corpora at high parallelism
    assert(shufflePartitionsFor(32, 40000L) == 64)
  }
}

class CompactSummarySpec extends org.scalatest.funsuite.AnyFunSuite {

  test("compact summary extracts the headline fields from a full bench line") {
    val full =
      """{"metric":"total","value":56.700,"unit":"sec","queries":{"q1":1.430,"q2":2.930},""" +
        """"queriesHost":{"q1":{"stealPermille":0,"calMBs":1338,"runs":2}},""" +
        """"failed":["qx"],"skipped":["qy","qz"],"sf":"/root/testdata/sf0.1",""" +
        """"kg":{"files":320000,"triples":3912190,"wallSecHigh":21.990,""" +
        """"abortedRounds":{"high":1,"low":0},""" +
        """"roundsHigh":[{"sec":21.99,"calMBs":1274,"stealPermille":0}],""" +
        """"roundsLow":[{"sec":67.30,"calMBs":1075,"stealPermille":0}],""" +
        """"scaling":{"cpusLow":2,"cpusHigh":8,"shufflePartitions":16,""" +
        """"triplesPerSecLow":58132.8,"triplesPerSecHigh":177908.0,"efficiency":0.838,""" +
        """"stages":{"extract_dedup":{"secHigh":4.8,"secLow":16.2,"efficiency":0.841}}}}}"""
    val s = Bench.compactSummary(full)
    assert(s.contains("\"metric\":\"summary\""))
    assert(s.contains("\"value\":56.700"))
    assert(s.contains("\"efficiency\":0.838"), s)
    assert(s.contains("\"triplesPerSecHigh\":177908.0"))
    assert(s.contains("\"triplesPerSecLow\":58132.8"))
    assert(s.contains("\"files\":320000") && s.contains("\"triples\":3912190"))
    assert(s.contains("\"queriesTimed\":2"))
    assert(s.contains("\"failedCount\":1") && s.contains("\"skippedCount\":2"))
    assert(s.contains("\"abortedRounds\":{\"high\":1,\"low\":0}"))
    assert(s.length < 600, s"summary must stay tail-capture-small: ${s.length}")
  }

  test("compact summary degrades to nulls on a partial line, never crashes") {
    val partial =
      """{"metric":"total","value":-1.0,"unit":"sec","queries":{},"sf":"/x","kg":null}"""
    val s = Bench.compactSummary(partial)
    assert(s.contains("\"efficiency\":null"))
    assert(s.contains("\"queriesTimed\":0"))
    assert(s.contains("\"abortedRounds\":null"))
  }
}

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

  test("bloom prefilter: forced ≡ off (edges bit-identical), filter below the wide exchange") {
    import spark.implicits._
    val ents = fuzzedTriples(600, seed = 11L).collect()
      .flatMap(t => Seq(t.srcId, t.dstId)).distinct.map { id =>
        graft.model.Entity(id, s"N$id", "class", None, Map.empty, 0.9,
          "s0", "r", "p", "sha")
      }.toSeq.toDS()
    def edgesJson(mode: String) = {
      spark.conf.set("spark.graft.dedup.bloom", mode)
      // tiny bits budget: the default 64M bits would embed an 8 MB binary
      // literal in the plan (and its hex render in the plan STRING below)
      // for ~70 winner groups — identical code path, none of the cost
      spark.conf.set("spark.graft.dedup.bloom.bits", "1024")
      try {
        val g = graft.graphout.GraphBuilder.build(ents, fuzzedTriples(600, seed = 11L))
        val df = g.edges.toDF().withColumn("attributes", to_json(col("attributes")))
        (df, df.collect().map(_.toString).sorted.toSeq)
      } finally {
        spark.conf.unset("spark.graft.dedup.bloom")
        spark.conf.unset("spark.graft.dedup.bloom.bits")
      }
    }
    val (dfOff, off) = edgesJson("off")
    val (dfOn, on) = edgesJson("force")
    assert(on == off && on.nonEmpty)
    val pOn = dfOn.queryExecution.executedPlan.toString
    val pOff = dfOff.queryExecution.executedPlan.toString
    assert(pOn.contains("might_contain"), pOn.take(2000))
    assert(!pOff.contains("might_contain"), pOff.take(2000))
    // the prefilter must sit BELOW the semi join's exchange: the filter's
    // whole point is that loser rows die before the wide shuffle. In the
    // plan string the Exchange feeding the LeftSemi stream side must
    // appear ABOVE (before) the might_contain filter line.
    val lines = pOn.linesIterator.toVector
    val filterIdx = lines.indexWhere(_.contains("might_contain"))
    val semiIdx = lines.indexWhere(l => l.contains("ShuffledHashJoin") && l.contains("LeftSemi"))
    assert(semiIdx >= 0 && filterIdx > semiIdx,
      s"might_contain at $filterIdx, semi join at $semiIdx\n" + pOn.take(2000))
  }

  test("bloom prefilter: an unknown mode throws instead of silently acting as auto") {
    import spark.implicits._
    val ents = Seq(graft.model.Entity("e1", "N1", "class", None, Map.empty,
      0.9, "s0", "r", "p", "sha")).toDS()
    spark.conf.set("spark.graft.dedup.bloom", "bloom")  // typo'd mode
    try {
      val ex = intercept[IllegalArgumentException] {
        graft.graphout.GraphBuilder.build(ents, fuzzedTriples(10, seed = 3L))
      }
      assert(ex.getMessage.contains("off|auto|force"))
    } finally spark.conf.unset("spark.graft.dedup.bloom")
  }
}

/** Round-6 review regressions: null-name groups must behave like
  * min(name) (nulls lose unless the whole group is null); KeepRowBy's
  * double order must treat -0.0 = 0.0 like Spark's; importJson must keep
  * the MAX-CONFIDENCE row among duplicate-id edges deterministically.
  */
class Round6ReviewSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  test("name attach skips nulls like min(name); all-null stays null") {
    import spark.implicits._
    val ents = Seq(
      graft.model.Entity("n1", null, "class", None, Map.empty, 0.9, "s", "r", "p", "h"),
      graft.model.Entity("n1", "Real", "class", None, Map.empty, 0.9, "s", "r", "p", "h"),
      graft.model.Entity("n2", null, "class", None, Map.empty, 0.9, "s", "r", "p", "h")
    ).toDS()
    val t = Seq(
      graft.model.Triple("t1", "n1", "n1", "x", "x", "self", None, false, 1.0, 1.0, "s"),
      graft.model.Triple("t2", "n2", "n2", "x", "x", "self", None, false, 1.0, 1.0, "s")
    ).toDS()
    val edges = graft.graphout.GraphBuilder.build(ents, t).edges.collect()
    val byId = edges.map(e => e.id -> e.srcName).toMap
    assert(byId("t1") == "Real") // null name lost to the real one
    assert(byId("t2") == null)   // all-null group stays null, as min(name)
  }

  test("KeepRowBy orders -0.0 = 0.0 like Spark (string tiebreak decides)") {
    import spark.implicits._
    import graft.functions.KeepRowBy
    val df = Seq(("g", -0.0, "b", "P1"), ("g", 0.0, "a", "P2"))
      .toDF("k", "d", "s", "p").repartition(3)
    val viaKeepRow = df.groupBy("k")
      .agg(KeepRowBy.minRow(col("d"), col("s"), struct(col("p"))).as("w"))
      .select(col("w.p")).as[String].collect().head
    val viaMinBy = df.groupBy("k")
      .agg(min_by(col("p"), struct(col("d"), col("s"))).as("p"))
      .select("p").as[String].collect().head
    assert(viaKeepRow == viaMinBy && viaKeepRow == "P2")
  }

  test("importJson keeps the max-confidence row among duplicate edge ids") {
    val nodes = spark.read.json(spark.createDataset(Seq(
      """{"name":"a"}""", """{"name":"b"}"""))(org.apache.spark.sql.Encoders.STRING))
    val edges = spark.read.json(spark.createDataset(Seq(
      """{"source":"a","target":"b","type":"calls","confidence":0.2,"context":"weak"}""",
      """{"source":"a","target":"b","type":"calls","confidence":0.9,"context":"strong"}"""))(
      org.apache.spark.sql.Encoders.STRING))
    val g = graft.graphout.GraphStorage.importJson(spark, nodes, edges)
    val e = g.edges.collect()
    assert(e.length == 1)
    assert(e.head.confidence == 0.9 && e.head.context.contains("strong"))
  }
}
