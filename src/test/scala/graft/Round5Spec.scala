package graft

import org.apache.spark.sql.functions._
import graft.query.GraphQueryOps
import graft.runtime.DriverPath.withLimit

/** Round-5 pins: distributed CC star rounds with observed-signature
  * convergence ≡ driver union-find; findPath driver fast path ≡
  * distributed loop; zero-join triple set; bucketed-read-path driver
  * entries run exchange-free; _TABLE.json escaping round-trips.
  */
class CcDistributedSpec extends SparkSpec {

  test("distributed star rounds (observed-signature convergence) ≡ driver union-find") {
    import spark.implicits._
    // deterministic tangle: pseudo-random pairs + a planted cycle + an
    // isolated pair; cross-family collisions force several merge rounds
    val pairs = (0 until 400).map { i =>
      (s"n${(i * 7919) % 97}", s"n${(i * 104729) % 89}")
    } ++ Seq(("c0", "c1"), ("c1", "c2"), ("c2", "c0"), ("x1", "x2"))
    val df = pairs.toDF("src", "dst")
    def collect(res: org.apache.spark.sql.DataFrame): Map[String, String] =
      res.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val driver = collect(graft.link.ConnectedComponents.run(df))
    val dist = collect(withLimit(0)(graft.link.ConnectedComponents.run(df)))
    assert(dist.nonEmpty && dist == driver)
  }

  test("pre-starred input converges after ONE round (input-signature seed)") {
    import spark.implicits._
    // edges already in the converged orientation (larger → component
    // min): one star round reproduces them bit-identically, and the
    // input-signature seed must detect that — a null seed would force a
    // second full-shuffle round to get two equal consecutive signatures
    val df = Seq(("b", "a"), ("c", "a"), ("d", "a"), ("y", "x"))
      .toDF("src", "dst")
    graft.runtime.Observed.clear("cc_iterations")
    val res = withLimit(0)(graft.link.ConnectedComponents.run(df))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(res == Map("a" -> "a", "b" -> "a", "c" -> "a", "d" -> "a",
      "x" -> "x", "y" -> "x"))
    val rounds = graft.runtime.Observed.get("cc_iterations")
      .flatMap(_.get("rounds"))
    assert(rounds.contains(1L), s"expected 1 star round, observed $rounds")
  }
}

class FindPathSpec extends SparkSpec {

  private def rows(df: org.apache.spark.sql.DataFrame): List[(List[String], Int)] =
    df.collect().map(r =>
      (r.getAs[scala.collection.Seq[String]]("path").toList,
        r.getAs[Int]("depth"))).toList

  test("driver fast path ≡ distributed loop on the query fixture") {
    val g = Fixtures.queryGraph(spark)
    val fast = rows(GraphQueryOps.findPath(g, "alice", "project_y"))
    val dist = rows(withLimit(0)(GraphQueryOps.findPath(g, "alice", "project_y")))
    assert(fast.nonEmpty && fast == dist)
    // depth-capped: both paths agree on emptiness too
    assert(rows(withLimit(0)(
      GraphQueryOps.findPath(g, "alice", "project_y", maxDepth = 1))).isEmpty)
    assert(rows(GraphQueryOps.findPath(g, "alice", "project_y", maxDepth = 1)).isEmpty)
  }

  test("dense graph: maxPaths cap + (depth, path) ordering identical across paths") {
    import spark.implicits._
    // complete digraph on 6 nodes: many simple a→f paths, so the
    // early-exit boundary and the deterministic (depth, path) selection
    // are both load-bearing
    val ids = ('a' to 'f').map(_.toString)
    val edges = for (x <- ids; y <- ids if x != y)
      yield graft.model.Triple(s"$x$y", x, y, "", "", "r", None,
        bidirectional = false, 1.0, 1.0, "")
    val nodes = ids.map(i => graft.model.Entity(i, i.toUpperCase, "t", None,
      Map.empty, 1.0, "", "", "", ""))
    val g = graft.graphout.GraphBuilder.Graph(nodes.toDS(), edges.toDS())
    val fast = rows(GraphQueryOps.findPath(g, "a", "f", maxDepth = 4, maxPaths = 7))
    val dist = rows(withLimit(0)(GraphQueryOps.findPath(g, "a", "f", maxDepth = 4, maxPaths = 7)))
    assert(fast.size == 7 && fast == dist)
    // shortest path first, then lexicographic
    assert(fast.head._1 == List("a", "f") && fast.head._2 == 1)
  }
}

class ScaleReadPathSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  test("triple set is ZERO joins + single exchange (name attach rides build's endpoint joins)") {
    val ts = graft.pipeline.KgPipeline.runSynthetic(spark, 60).tripleSet
    assert(ts.count() > 0)
    // inspect only the stage's own plan: everything ABOVE the edge-cache
    // scan (the InMemoryRelation string embeds the cache's own build plan,
    // whose endpoint joins are merge_build's cost, not triple_set's)
    val p = ts.queryExecution.executedPlan.toString
    val cut = p.indexOf("InMemoryRelation")
    assert(cut > 0, p.take(2000))
    val above = p.substring(0, cut)
    assert(above.contains("InMemoryTableScan"), above)
    assert(!above.contains("Join"), above)
    val exchanges = "Exchange".r.findAllIn(above).size
    assert(exchanges <= 1, s"expected at most 1 exchange (the distinct), got $exchanges:\n$above")
  }

  test("q49 bucketed node⨝edge attach runs with ZERO Exchange (broadcast disabled)") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val df = Queries.all("q49_bucketed_join")(spark, dir)
      assert(df.count() > 0)
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange"), p.take(3000))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q50 in-degree over the dstId-bucketed dual copy runs with ZERO Exchange") {
    val df = Queries.all("q50_bucketed_indegree")(spark, dir)
    assert(df.count() > 0)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), p.take(3000))
  }
}

class LinkerDriverSpec extends SparkSpec {

  private def ent(id: String, name: String, etype: String = "class") =
    graft.model.Entity(id, name, etype, None, Map.empty, 0.9, "s", "r", "p", "c")

  test("driver fast path ≡ distributed blocking join (aliases, type gate, cap)") {
    import spark.implicits._
    // alias family (squash + acronym collisions), a cross-TYPE name clash
    // that must NOT merge, digit-bearing near-names that must NOT merge,
    // and one block pushed past MaxBlockSize to exercise the cap on both
    // paths identically
    val base = Seq(
      ent("e1", "KnowledgeGraph"), ent("e2", "knowledge_graph"),
      ent("e3", "KG"), ent("e4", "KnowledgeGraph", etype = "function"),
      ent("e5", "fn12"), ent("e6", "fn13"),
      ent("e7", "DataStore"), ent("e8", "data store"), ent("e9", "data-store"))
    val flood = (0 until graft.link.Linker.MaxBlockSize + 20)
      .map(i => ent(f"f$i%03d", "same_name"))
    val ents = (base ++ flood).toDS()

    def canon(r: graft.link.Linker.LinkResult): (Set[String], Map[String, String]) = (
      r.canonical.collect().map(e => s"${e.id}|${e.name}|${e.entityType}").toSet,
      r.rewrite.collect().map(x => x.getString(0) -> x.getString(1)).toMap)

    val fast = canon(graft.link.Linker.link(ents))
    val dist = canon(withLimit(0)(graft.link.Linker.link(ents)))
    assert(fast == dist)
    // the alias family actually merged (to min id e1), the type gate held
    assert(fast._2.get("e2").contains("e1") && fast._2.get("e3").contains("e1"))
    assert(!fast._2.contains("e4"), "type gate must block cross-type merges")
    assert(!fast._2.contains("e6") || fast._2("e6") != "e5",
      "digit-bearing near-names must not merge")
  }

  test("driver fast path records the block-cap drop counter (no silent caps)") {
    import spark.implicits._
    graft.runtime.Observed.install(spark)
    val flood = (0 until graft.link.Linker.MaxBlockSize + 7)
      .map(i => ent(f"f$i%03d", "same_name")).toDS()
    graft.link.Linker.link(flood)
    val snap = graft.runtime.Observed.snapshot()
    val dropped = snap.get("linker_block_cap").map(_.values.sum).getOrElse(0L)
    assert(dropped >= 7, s"expected >=7 cap-dropped rows recorded, got $dropped ($snap)")
  }
}

class TableSpecEscapingSpec extends SparkSpec {

  test("_TABLE.json round-trips schema DDL containing backslashes and quotes") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("ckpt_esc").toString
    val cp = new graft.runtime.Checkpoint(spark, root)
    // column names that need JSON escaping in the committed spec
    val df = spark.range(50).select(
      concat(lit("k"), col("id")).as("key"),
      col("id").as("""path\with\backslash"""),
      col("id").as("""quo"ted"""))
    cp.runStageBucketed("esc_stage", Nil, bucketCol = "key") { df }
    // fresh-JVM resume simulation: drop the catalog entry, re-register
    // from the committed _TABLE.json
    val spec = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$root/esc_stage/_TABLE.json"))
    val table = "\"table\":\"([^\"]+)\"".r.findFirstMatchIn(spec).get.group(1)
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val back = cp.readBucketed("esc_stage")
    assert(back.count() == 50)
    assert(back.columns.toSet ==
      Set("key", """path\with\backslash""", """quo"ted"""))
  }

  test("jsonEscape/jsonUnescape are inverse on hostile strings") {
    val hostile = Seq("""a\""", """a\"b""", """\\""", "plain", """q"q""", """end\""")
    hostile.foreach { s =>
      assert(graft.runtime.Checkpoint.jsonUnescape(
        graft.runtime.Checkpoint.jsonEscape(s)) == s, s"round-trip failed for <$s>")
    }
  }
}
