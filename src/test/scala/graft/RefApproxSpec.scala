package graft

import graft.tools.RefApprox

/** Round-6 fixture-oracle backing: the independent serial reimplementations
  * (RefApprox, ClosedFormGraph) that FixtureGen pins the committed
  * approximate-family/kg_stats fixtures against must track the Spark
  * operators exactly — these specs re-assert the differential in `sbt
  * test` so a divergence is caught before a fixture regeneration freezes
  * a wrong answer (or a driver run fails a hash mysteriously).
  */
class RefApproxSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private lazy val docs: Seq[(Long, String)] =
    spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq

  private lazy val embs: Seq[(Long, Array[Double])] =
    spark.read.parquet(s"$dir/embeddings.parquet")
      .selectExpr("vec_id", "cast(embedding as array<double>)").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toSeq

  test("serial q24 MinHash+LSH reference ≡ Spark pipeline (sf0.001)") {
    val serial = RefApprox.q24MinhashDedup(docs).toSet
    // the catalog entry takes the driver paths; driverLimit 0 forces the
    // distributed forms
    val driver = Queries.all("q24_minhash_dedup")(spark, dir)
    val dist = Queries.minhashDedup(spark, spark.read.parquet(s"$dir/documents.parquet"),
      driverLimit = 0)
    for (df <- Seq(driver, dist))
      assert(serial == df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet)
    assert(serial.nonEmpty)
  }

  test("serial q25 SimHash banding reference ≡ Spark pipeline (sf0.001)") {
    val serial = RefApprox.q25SimhashDedup(docs).toSet
    val dist = Queries.all("q25_simhash_dedup")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(serial == dist && serial.nonEmpty)
  }

  test("serial q27 hyperplane-LSH reference ≡ Spark pipeline (sf0.001)") {
    val serial = RefApprox.q27EmbedNearDup(embs).toSet
    val dist = Queries.all("q27_embed_neardup_lsh")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(serial == dist)
  }

  test("serial q28 IVF reference ≡ Spark pipeline (sf0.001)") {
    val serial = RefApprox.q28IvfTopK(embs, embs.map(_._1).filter(_ < 4)).toSet
    val dist = Queries.all("q28_ann_ivf")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(serial == dist && serial.nonEmpty)
  }

  test("ClosedFormGraph serial stats replay ≡ pipeline stats (120 files)") {
    val serial = graft.corpus.ClosedFormGraph.expectedStats(120L)
    val res = graft.pipeline.KgPipeline.runSynthetic(spark, 120)
    val dist = graft.graphout.GraphBuilder.stats(res.graph).collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSet
    assert(serial == dist)
    // sanity: the planted families surface in the breakdowns
    assert(serial.exists(_._1 == "entity:concept"))
    assert(serial.exists(_._1 == "rel:is-a"))
  }
}
