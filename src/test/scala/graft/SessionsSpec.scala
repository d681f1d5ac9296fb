package graft

/** The session settings `Sessions.configure` fixes as constants, each with
  * a measured reason at its definition: a change to any of them has to be
  * made here too.
  */
class SessionsSpec extends SparkSpec {

  test("the session keeps AQE, the OHA fallback threshold, the zstd codec and the 32k shuffle buffer") {
    val conf = spark.sparkContext.getConf
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(spark.conf.get("spark.sql.objectHashAggregate.sortBased.fallbackThreshold") == "524288")
    assert(conf.get("spark.io.compression.codec") == "zstd")
    assert(conf.get("spark.shuffle.file.buffer") == "32k")
  }
}
