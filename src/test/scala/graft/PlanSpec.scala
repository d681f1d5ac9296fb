package graft

import graft.functions.SimilarityScore
import graft.runtime.Skew
import org.apache.spark.sql.functions._
import graft.runtime.DriverPath.withLimit

/** Physical-plan shape assertions: the optimizations the engine relies on
  * must actually appear in `explain` output (pushdown regressions are
  * silent otherwise), plus specs for the custom expression and salting.
  */
class PlanSpec extends SparkSpec {
  val dir = "/root/testdata/sf0.001"

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("filters are pushed to the parquet scan (q02)") {
    val p = plan(Queries.q02_filter_project(spark, dir))
    assert(p.contains("PushedFilters") && p.contains("l_discount"), p.take(800))
  }

  test("projection pruning: scan reads only needed columns (q02)") {
    val p = plan(Queries.q02_filter_project(spark, dir))
    val readSchema = p.split("ReadSchema:")(1).split("\n")(0)
    assert(!readSchema.contains("l_comment") && !readSchema.contains("l_tax"),
      readSchema)
    assert(readSchema.contains("l_orderkey"))
  }

  test("catalog tables take their parquet footer schema: no job, the inferred schema") {
    import org.apache.spark.sql.execution.datasources.parquet.GraftParquet.footerSchema
    val tables = new java.io.File(dir).list().filter(_.endsWith(".parquet")).sorted
    assert(tables.length == 10)
    tables.foreach { f =>
      val (schema, jobs) = jobsOf(footerSchema(spark, s"$dir/$f"))
      assert(jobs == 0 && schema.contains(spark.read.parquet(s"$dir/$f").schema), s"$f: $schema")
    }
    // so building a catalog entry's frame runs no job
    assert(jobsOf(Queries.q06_self_join_pairs(spark, dir))._2 == 0)
    // a Spark-written directory reads its first data file; a partitioned
    // one is left to inference, which adds the partition column
    val out = java.nio.file.Files.createTempDirectory("footer").toString
    spark.range(5).selectExpr("id", "cast(id as string) s").write.parquet(s"$out/flat")
    spark.range(5).selectExpr("id", "id % 2 p").write.partitionBy("p").parquet(s"$out/parted")
    assert(footerSchema(spark, s"$out/flat").contains(spark.read.parquet(s"$out/flat").schema))
    assert(footerSchema(spark, s"$out/parted").isEmpty)
    // inference reads a summary file first, merges under mergeSchema, and
    // owns the missing-path error: all three are left to it
    spark.range(5).write.parquet(s"$out/summarized")
    java.nio.file.Files.createFile(java.nio.file.Paths.get(s"$out/summarized/_common_metadata"))
    assert(footerSchema(spark, s"$out/summarized").isEmpty)
    assert(footerSchema(spark, s"$out/missing").isEmpty)
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try assert(footerSchema(spark, s"$out/flat").isEmpty)
    finally spark.conf.unset("spark.sql.parquet.mergeSchema")
  }

  test("small dim join broadcasts (q03)") {
    val p = plan(Queries.q03_broadcast_join(spark, dir))
    assert(p.contains("BroadcastHashJoin"), p.take(800))
  }

  test("aggregates are hash-based with map-side partial aggregation (q01)") {
    val p = plan(Queries.q01_agg(spark, dir))
    assert(p.contains("HashAggregate"))
    assert(p.contains("partial_sum"), p.take(800)) // map-side combine before the exchange
    // whole-stage codegen boundaries only materialize in the final AQE
    // plan; force execution and check the final plan has codegen spans
    val df = Queries.q01_agg(spark, dir)
    df.collect()
    val finalPlan = df.queryExecution.executedPlan.toString
    // `*(n)` prefixes mark whole-stage-codegen spans in the final plan
    assert("\\*\\(\\d+\\)".r.findFirstIn(finalPlan).isDefined, finalPlan.take(800))
  }

  test("mention dedup is a hash aggregate, not object/sort aggregation") {
    import spark.implicits._
    val segs = graft.segment.CodeSegmenter.windows(graft.corpus.CorpusGen.generate(spark, 50))
    val (mentions, _) = graft.extract.Extractor.extract(segs)
    val p = plan(graft.link.EntityMerge.dedupeMentionsFast(mentions).toDF())
    assert(p.contains("HashAggregate") || p.contains("ObjectHashAggregate"))
    assert(!p.contains("SortAggregate"), p.take(1200))
  }

  test("SimilarityScore expression evaluates and registers for SQL") {
    import spark.implicits._
    val df = Seq(("KnowledgeGraph", "knowledge_graph"), ("KG", "KnowledgeGraph"),
      ("alpha", "omega")).toDF("a", "b")
    val out = df.select(SimilarityScore(col("a"), col("b")).as("s"))
      .collect().map(_.getDouble(0))
    assert(out(0) >= 0.9 && out(1) == 1.0 && out(2) < 0.5)

    // SQL registration via extensions-style injection on the live session
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_similarity",
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        graft.functions.SimilarityScore(children(0), children(1)),
      "scala_udf")
    val viaSql = spark.sql("SELECT graft_similarity('KG', 'KnowledgeGraph')")
      .head().getDouble(0)
    assert(viaSql == 1.0)
  }

  test("linker pair scoring runs on native expressions — no ScalaUDF in the plan") {
    import spark.implicits._
    val ents = Seq(
      graft.model.Entity("e1", "KnowledgeGraph", "class", None, Map.empty, 1.0, "", "", "", ""),
      graft.model.Entity("e2", "knowledge_graph", "class", None, Map.empty, 1.0, "", "", "", ""),
      graft.model.Entity("e3", "Unrelated", "class", None, Map.empty, 1.0, "", "", "", "")
    ).toDS()
    val pairs = graft.link.Linker.candidatePairs(ents)
    val p = pairs.queryExecution.executedPlan.toString
    assert(!p.contains("ScalaUDF"), p.take(1500))
    assert(p.contains("graft_similarity"), p.take(1500))
    val got = pairs.collect()
    assert(got.length == 1 &&
      got.head.getAs[String]("id1") == "e1" && got.head.getAs[String]("id2") == "e2")
  }

  test("IVF cell assignment is a pure projection — no Exchange, matches brute-force argmax") {
    import spark.implicits._
    def vec(seed: Int): Seq[Float] =
      (0 until 8).map(i => math.sin(seed * 3.7 + i).toFloat)
    val corpus = (0 until 60).map(i => (i.toLong, vec(i % 7))).toDF("vec_id", "embedding")
    val centroids = graft.ops.Ann.seedCentroids(corpus, 4)
    val cells = graft.ops.Ann.assignCells(corpus, centroids)
    // plan shape: zero shuffles (round-1 did crossJoin + window = exchange)
    val p = cells.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), p.take(1200))
    // native argmax ≡ the declarative literal-fold spec, row for row
    val viaSpec = graft.ops.Ann.assignCellsSpec(corpus, centroids)
      .select("id", "cell").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaNative = cells.select("id", "cell").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaNative == viaSpec)
    // semantics: every vector lands on its true argmax-cosine centroid
    val cents = centroids.collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).sortBy(_._1)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val vecs = corpus.select($"vec_id", $"embedding".cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    cells.collect().foreach { r =>
      val (id, cell) = (r.getAs[Long]("id"), r.getAs[Long]("cell"))
      val expected = cents.maxBy { case (_, cv) => cos(vecs(id), cv) }._1
      assert(cell == expected, s"vec $id assigned $cell expected $expected")
    }
  }

  test("every graft kernel is callable from pure SQL after registration") {
    graft.functions.GraftFunctions.register(spark)
    val r = spark.sql(
      """SELECT graft_simhash64('alpha beta gamma') AS sh,
        |  graft_minhash('a b c d e', 8, 3) AS mh,
        |  size(graft_shingle_hashes('a b c d e', 3)) AS nsh,
        |  graft_regex_any(array('foo', 'bar42'), 'r4\\d') AS anym,
        |  graft_hyperplane_sigs(array(CAST(0.3 AS DOUBLE), -0.7, 0.2), 8, 8) AS hp,
        |  graft_dot(array(1, 2), array(3, 4)) AS d,
        |  graft_array_eq_count(array(1, 2, 3), array(1, 9, 3)) AS eq,
        |  graft_lang_guess('the cat and the dog in the house').lang AS lg,
        |  graft_similarity('KnowledgeGraph', 'knowledge_graph') AS sim,
        |  graft_token_chain_hash('alpha beta', 42) AS tch,
        |  graft_token_stats('the quick, brown fox!').n_stopwords AS tst
        |""".stripMargin).head()
    assert(r.getAs[Long]("sh") != 0L)
    assert(r.getAs[scala.collection.Seq[Long]]("mh").length == 8)
    assert(r.getAs[Int]("nsh") == 3)
    assert(r.getAs[Boolean]("anym"))
    assert(r.getAs[scala.collection.Seq[Int]]("hp").length == 8)
    assert(r.getAs[Double]("d") == 11.0)
    assert(r.getAs[Int]("eq") == 2)
    assert(r.getAs[String]("lg") == "en")
    assert(r.getAs[Double]("sim") >= 0.9)
    assert(r.getAs[Long]("tch") != 0L)
    assert(r.getAs[Int]("tst") == 1)
  }

  test("text search filters stay in whole-stage codegen — no HOF fallback (round-2 item 3)") {
    import spark.implicits._
    val nodes = spark.range(200).select(
      concat(lit("e"), $"id").as("id"), concat(lit("name"), $"id").as("name"),
      lit("t").as("entityType"), lit(null).cast("string").as("context"),
      map(lit("k"), concat(lit("v"), $"id")).as("attributes"),
      lit(1.0).as("confidence"), lit("").as("segId"), lit("").as("repo"),
      lit("").as("path"), lit("").as("contentSha")).as[graft.model.Entity]
    val g = graft.graphout.GraphBuilder.Graph(nodes, spark.emptyDataset[graft.model.Triple])

    val byName = graft.query.GraphQueryOps.searchText(g, "name1\\d")
    // name10..19 and name100..199 contain "name1<digit>"
    assert(byName.count() == 110)
    val p = byName.queryExecution.executedPlan.toString
    assert(!p.contains("exists("), p.take(1500))
    assert(p.contains("graft_regex_any"), p.take(1500))
    // the Filter must sit inside a codegen span (`*(n) Filter`): the HOF
    // form dragged it into CodegenFallback
    assert("\\*\\(\\d+\\) Filter".r.findFirstIn(p).isDefined, p.take(1500))

    // attribute-only hit still matches (map clause semantics preserved)
    assert(graft.query.GraphQueryOps.searchText(g, "^v42$").count() == 1)

    val edges = spark.range(100).select(
      concat(lit("r"), $"id").as("id"), lit("a").as("srcId"), lit("b").as("dstId"),
      lit("").as("srcName"), lit("").as("dstName"),
      concat(lit("rel"), $"id").as("relType"), lit(null).cast("string").as("context"),
      lit(false).as("bidirectional"), lit(1.0).as("strength"),
      lit(1.0).as("confidence"), lit("").as("segId"),
      map(lit("k"), concat(lit("w"), $"id")).as("attributes")).as[graft.model.Triple]
    val ge = graft.graphout.GraphBuilder.Graph(nodes, edges)
    val byRel = graft.query.GraphQueryOps.searchTextRelationships(ge, "rel1\\d")
    assert(byRel.count() == 10)
    val pe = byRel.queryExecution.executedPlan.toString
    assert(!pe.contains("exists(") && pe.contains("graft_regex_any"), pe.take(1500))
    assert(graft.query.GraphQueryOps.searchTextRelationships(ge, "^w7$").count() == 1)
  }

  test("fingerprint scan stays in whole-stage codegen — no aggregate-HOF fallback (round-3 item 2)") {
    val df = Queries.q30_fingerprint(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("graft_token_chain_hash"), p.take(1200))
    assert(!p.contains("aggregate("), p.take(1200))
    // the Project must sit inside a codegen span — the HOF form dragged
    // the whole scan-project into CodegenFallback
    assert("\\*\\(\\d+\\) Project".r.findFirstIn(p).isDefined, p.take(1200))
  }

  test("capped operators report drop counters via observe (no silent caps)") {
    import spark.implicits._
    val docs = (0 until 30)
      .map(i => (i.toLong, "identical boilerplate text shared by every document row"))
      .toDF("doc_id", "text")
    // the driver path records its drops directly, the distributed form
    // through observe
    for (lim <- Seq(graft.runtime.DriverPath.DriverIterationLimit, 0L)) {
      graft.runtime.Observed.clear("minhash_band_cap") // earlier suites also report here
      withLimit(lim)(graft.ops.Dedup.minhashLshPairs(docs, maxBucket = 4)).count()
      // QueryExecutionListener callbacks are delivered asynchronously
      def poll(): Option[Long] =
        graft.runtime.Observed.get("minhash_band_cap").map(_("dropped"))
      val deadline = System.currentTimeMillis() + 10000
      while (poll().isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(100)
      // 30 identical docs × 8 bands, cap 4 → 26 dropped per band = 208
      assert(poll().contains(208L), s"limit=$lim observed=${poll()}")
    }
  }

  test("edge redirect: salted fallback path ≡ broadcast path") {
    import spark.implicits._
    import graft.model.Triple
    def tr(id: String, s: String, d: String) =
      Triple(id, s, d, "", "", "r", None, bidirectional = false, 1.0, 1.0, "")
    val triples = ((1 to 200).map(i => tr(s"t$i", s"alias${i % 7}", s"e$i")) :+
      tr("tx", "keep", "alias3")).toDS()
    val rewrite = (0 until 7).map(i => (s"alias$i", "canon")).toDF("id", "canonicalId")
    val viaBroadcast = graft.link.Linker.redirectEdges(triples, rewrite)
      .collect().map(t => (t.id, t.srcId, t.dstId)).toSet
    val viaSalted = graft.link.Linker.redirectEdges(triples, rewrite, broadcastLimit = 0)
      .collect().map(t => (t.id, t.srcId, t.dstId)).toSet
    assert(viaSalted == viaBroadcast)
    assert(viaBroadcast.forall { case (_, s, d) => !s.startsWith("alias") && !d.startsWith("alias") })
    assert(viaBroadcast.contains(("tx", "keep", "canon")))
  }

  test("salted join equals unsalted join; salted count equals plain count") {
    import spark.implicits._
    val big = (1 to 1000).map(i => (if (i % 3 == 0) "hot" else s"k$i", i))
      .toDF("key", "v")
    val dim = Seq(("hot", "H"), ("k1", "A"), ("k2", "B")).toDF("key", "label")
    val plainJoin = big.join(dim, Seq("key")).count()
    val salted = Skew.saltedJoin(big, dim, Seq("key"), "v", nSalts = 8).count()
    assert(salted == plainJoin)

    val plainCount = big.groupBy("key").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val saltedCnt = Skew.saltedCount(big, Seq("key"), "v", nSalts = 8)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(saltedCnt == plainCount)
  }
}
