package graft

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
