package graft

import org.apache.spark.sql.functions._

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
