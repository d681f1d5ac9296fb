package graft

import java.nio.file.{Files, Paths}
import graft.pipeline.CheckpointedPipeline

class CheckpointSpec extends SparkSpec {

  test("checkpointed run commits all stages with manifests and resumes without recompute") {
    import spark.implicits._
    val root = Files.createTempDirectory("ckpt").toString
    graft.runtime.Observed.install(spark)

    val t0 = System.nanoTime()
    val first = CheckpointedPipeline.run(spark, root, 150).count()
    val firstSec = (System.nanoTime() - t0) / 1e9
    assert(first > 0)

    // every stage committed with a manifest carrying rows + lineage
    val cp = new graft.runtime.Checkpoint(spark, root)
    val manifests = cp.manifests()
    // the full stage graph: name → (lineage inputs, bucket column). The
    // bench harness and the manifests' readers depend on it; single-pass
    // extraction shows as mentions/triples deriving from 02_extracted
    def field(m: String, re: String) = re.r.findFirstMatchIn(m).map(_.group(1))
    val graph = manifests.map { m =>
      field(m, "\"stage\":\"([^\"]+)\"").get ->
        (field(m, "\"inputs\":\\[([^\\]]*)\\]").get.replace("\"", "").split(",")
          .filter(_.nonEmpty).toSeq, field(m, "\"bucketedBy\":\"([^\"]+)\""))
    }.toMap
    assert(graph == Map(
      "00_corpus" -> (Nil, None),
      "01_segments" -> (Seq("00_corpus"), None),
      "02_extracted" -> (Seq("01_segments"), None),
      "02_errors" -> (Seq("02_extracted"), None),
      "02_mentions" -> (Seq("02_extracted"), None),
      "03_triples" -> (Seq("02_extracted"), None),
      "04_canonical_mentions" -> (Seq("02_mentions"), None),
      "05_nodes" -> (Seq("04_canonical_mentions"), Some("id")),
      "06_rewrite" -> (Seq("04_canonical_mentions"), None),
      "07_edges" -> (Seq("03_triples", "05_nodes", "06_rewrite"), Some("srcId")),
      "08_triple_set" -> (Seq("07_edges"), None)), graph)
    // error side-output stage committed with zero failures on this corpus
    assert(manifests.exists(m => m.contains("\"02_errors\"") && m.contains("\"rows\":0")))
    assert(manifests.forall(_.contains("\"rows\":")))
    // observed cap counters are part of the lineage record, and only they
    // are: a commit's own row-count observation (unnamed columns, b<i> per
    // bucket, under an Observation's UUID name) must not leak into it
    val observed = manifests.map(m =>
      "\"observed\":(\\{.*\\}),\"ts\"".r.findFirstMatchIn(m).map(_.group(1)).getOrElse(fail(m)))
    val observedKeys = observed.flatMap(o => "\"([^\"]+)\":".r.findAllMatchIn(o).map(_.group(1)))
    assert(observedKeys.forall(_.matches("[a-z_]+")) &&
      !observedKeys.exists(k => k == "rows" || k.matches("b\\d+")), observed)

    // resume: a second run must read committed outputs (much faster, same rows)
    val t1 = System.nanoTime()
    val second = CheckpointedPipeline.run(spark, root, 150).count()
    val secondSec = (System.nanoTime() - t1) / 1e9
    assert(second == first)
    assert(secondSec < firstSec / 2, f"resume took $secondSec%.1fs vs fresh $firstSec%.1fs")
  }

  test("per-partition commits: mid-stage kill resumes without recomputing committed buckets") {
    import org.apache.spark.sql.functions._
    val root = Files.createTempDirectory("ckpt3").toString
    val cp = new graft.runtime.Checkpoint(spark, root)
    val nB = 8
    def compute = graft.corpus.CorpusGen.generate(spark, 120).toDF()

    val full = cp.runStagePartitioned("00_corpus_p", Nil, "path", nB)(compute)
      .orderBy("path").collect().map(_.getAs[String]("path")).toSeq
    assert(full.size == 120)
    assert((0 until nB).forall(b => Files.exists(Paths.get(s"$root/00_corpus_p/_BUCKET_$b.json"))))

    // simulate a kill after 5 of 8 bucket commits: stage manifest and the
    // last 3 bucket commits never happened
    Files.delete(Paths.get(s"$root/00_corpus_p/_MANIFEST.json"))
    def rmr(p: java.nio.file.Path): Unit = {
      if (Files.isDirectory(p)) {
        val s = Files.list(p)
        try { import scala.jdk.CollectionConverters._; s.iterator().asScala.toSeq.foreach(rmr) }
        finally s.close()
      }
      Files.deleteIfExists(p)
    }
    (5 until nB).foreach { b =>
      Files.delete(Paths.get(s"$root/00_corpus_p/_BUCKET_$b.json"))
      rmr(Paths.get(s"$root/00_corpus_p/data/bucket=$b"))
    }
    // survivors' data files must NOT be rewritten on resume — record mtimes
    def dataFiles(b: Int): Map[String, java.nio.file.attribute.FileTime] = {
      val dir = Paths.get(s"$root/00_corpus_p/data/bucket=$b")
      val s = Files.walk(dir)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(p => p.toString.endsWith(".parquet"))
          .map(p => p.toString -> Files.getLastModifiedTime(p)).toMap
      } finally s.close()
    }
    val before = (0 until 5).map(dataFiles)

    val resumed = cp.runStagePartitioned("00_corpus_p", Nil, "path", nB)(compute)
      .orderBy("path").collect().map(_.getAs[String]("path")).toSeq
    assert(resumed == full)
    assert(cp.isCommitted("00_corpus_p"))
    val after = (0 until 5).map(dataFiles)
    assert(before == after, "committed buckets were rewritten on resume")
    // the stage manifest records how many buckets were resumed vs recomputed
    assert(Files.readString(Paths.get(s"$root/00_corpus_p/_MANIFEST.json"))
      .contains("\"resumedBuckets\":5"))
  }

  test("a partitioned commit runs the same number of jobs at nB = 4 and nB = 16") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.graftshim.GraftCore
    import graft.runtime.Observed
    val sc = spark.sparkContext
    Observed.install(spark)
    def jobsFor(nB: Int): Int = {
      val cp = new graft.runtime.Checkpoint(spark, Files.createTempDirectory("ckpt6").toString)
      val jobs = new java.util.concurrent.atomic.AtomicInteger()
      val l = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      }
      assert(GraftCore.drainListenerBus(sc, 30000))
      val registered = Observed.snapshot().keySet
      sc.addSparkListener(l)
      try {
        cp.runStagePartitioned("00_corpus_p", Nil, "path", nB) {
          graft.corpus.CorpusGen.generate(spark, 120).toDF()
        }
        assert(GraftCore.drainListenerBus(sc, 30000))
      } finally sc.removeSparkListener(l)
      // the commit's per-bucket row counts stay out of the drop-counter registry
      assert(Observed.snapshot().keySet == registered)
      jobs.get
    }
    val (j4, j16) = (jobsFor(4), jobsFor(16))
    assert(j4 == j16 && j16 >= 1 && j16 <= 2, s"jobs at nB=4: $j4, at nB=16: $j16")
  }

  test("a bucket dir left without a manifest is replaced on resume, not appended to") {
    val root = Files.createTempDirectory("ckpt7").toString
    val cp = new graft.runtime.Checkpoint(spark, root)
    val nB = 8
    def compute = graft.corpus.CorpusGen.generate(spark, 120).toDF()
    val fresh = cp.runStagePartitioned("00_corpus_p", Nil, "path", nB)(compute)
      .collect().map(_.getAs[String]("path")).sorted.toSeq
    // a kill after the write job committed but before the bucket manifests
    // of buckets 6 and 7 landed, plus a writer temp dir of a later attempt
    Files.delete(Paths.get(s"$root/00_corpus_p/_MANIFEST.json"))
    (6 until nB).foreach(b => Files.delete(Paths.get(s"$root/00_corpus_p/_BUCKET_$b.json")))
    Files.createDirectories(Paths.get(s"$root/00_corpus_p/data/_temporary/0"))
    assert(Files.exists(Paths.get(s"$root/00_corpus_p/data/bucket=6")))
    val resumed = cp.runStagePartitioned("00_corpus_p", Nil, "path", nB)(compute)
      .collect().map(_.getAs[String]("path")).sorted.toSeq
    assert(resumed == fresh && resumed.size == 120)
    assert(!Files.exists(Paths.get(s"$root/00_corpus_p/data/_temporary")))
    val manifest = Files.readString(Paths.get(s"$root/00_corpus_p/_MANIFEST.json"))
    assert(manifest.contains("\"rows\":120,") && manifest.contains("\"resumedBuckets\":6"), manifest)
  }

  test("a stage with empty output commits and resumes as an empty frame with its schema") {
    import org.apache.spark.sql.functions._
    val root = Files.createTempDirectory("ckpt8").toString
    def compute = graft.corpus.CorpusGen.generate(spark, 40).toDF().where(lit(false))
    def shape(df: org.apache.spark.sql.DataFrame) = df.schema.map(f => f.name -> f.dataType)
    val out = new graft.runtime.Checkpoint(spark, root)
      .runStagePartitioned("00_corpus_p", Nil, "path", 4)(compute)
    assert(out.count() == 0 && shape(out) == shape(compute))
    assert(Files.readString(Paths.get(s"$root/00_corpus_p/_MANIFEST.json")).contains("\"rows\":0,"))
    // resume in a fresh Checkpoint: no data file exists to infer from
    val back = new graft.runtime.Checkpoint(spark, root)
      .runStagePartitioned("00_corpus_p", Nil, "path", 4) { fail("must not recompute"); null }
    assert(back.count() == 0 && shape(back) == shape(compute))
  }

  test("a committed runStage stage resumes with no job, an empty one with its columns") {
    import org.apache.spark.sql.functions._
    val root = Files.createTempDirectory("ckpt9").toString
    def compute = graft.corpus.CorpusGen.generate(spark, 40).toDF()
    def shape(df: org.apache.spark.sql.DataFrame) = df.schema.map(f => f.name -> f.dataType)
    val cp = new graft.runtime.Checkpoint(spark, root)
    cp.runStage("01_full", Nil)(compute)
    cp.runStage("01_empty", Nil)(compute.where(lit(false)))
    // resume in a fresh Checkpoint: the manifest's schema replaces the
    // parquet footer read that schema inference would run as a job
    val ((full, empty), jobs) = jobsOf {
      val back = new graft.runtime.Checkpoint(spark, root)
      (back.runStage("01_full", Nil) { fail("must not recompute") },
        back.runStage("01_empty", Nil) { fail("must not recompute") })
    }
    assert(jobs == 0, s"resume ran $jobs jobs")
    assert(shape(full) == shape(compute) && full.count() == 40)
    assert(shape(empty) == shape(compute) && empty.count() == 0)
    // a manifest that records no schema is refused, not inferred from
    val m = Paths.get(s"$root/01_full/_MANIFEST.json")
    val json = Files.readString(m)
    Files.writeString(m, json.take(json.indexOf(",\"schema\":")) + json.drop(json.indexOf(",\"inputs\":")))
    assert(!Files.readString(m).contains("schema"))
    intercept[IllegalStateException](cp.read("01_full"))
  }

  test("bucketed node/edge stages join exchange-free and re-register after a fresh-JVM resume") {
    import org.apache.spark.sql.functions._
    val root = Files.createTempDirectory("ckpt4").toString
    CheckpointedPipeline.run(spark, root, 100).count()
    val cp = new graft.runtime.Checkpoint(spark, root)
    val bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val nodes = cp.readBucketed("05_nodes")
      val edges = cp.readBucketed("07_edges")
      // the 100 TB join: edges bucketed on srcId ⨝ nodes bucketed on id —
      // pre-partitioned AND pre-sorted, so the plan has NO Exchange and
      // (bucketed sortBy) no Sort on the scan sides
      val joined = edges.join(
        nodes.select(col("id").as("srcId"), col("name").as("subjName")), Seq("srcId"))
      assert(joined.count() > 0)
      val p = joined.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange"), p.take(2000))

      // fresh-JVM resume: the in-memory catalog forgets the table; drop it
      // and readBucketed must re-register over the committed files with
      // bucket metadata intact (join stays exchange-free)
      val spec = Files.readString(Paths.get(s"$root/05_nodes/_TABLE.json"))
      val table = "\"table\":\"([^\"]+)\"".r.findFirstMatchIn(spec).get.group(1)
      spark.sql(s"DROP TABLE $table")
      val again = cp.readBucketed("05_nodes")
      assert(again.count() == nodes.count())
      val j2 = edges.join(
        again.select(col("id").as("srcId"), col("name").as("subjName")), Seq("srcId"))
      assert(j2.count() > 0)
      assert(!j2.queryExecution.executedPlan.toString.contains("Exchange"))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcast)
  }

  /** A 100-file graph committed by the checkpointed pipeline. */
  private lazy val smallRoot = {
    val root = Files.createTempDirectory("ckpt5").toString
    CheckpointedPipeline.run(spark, root, 100).count()
    root
  }

  test("a small committed stage reads as a local relation; without broadcast, and on resume, it stays bucketed") {
    val cp = new graft.runtime.Checkpoint(spark, smallRoot)
    // the gate reads the manifest and the file sizes: the one job collects
    val (local, jobs) = jobsOf(cp.readBucketed("05_nodes"))
    assert(jobs == 1 && graft.runtime.DriverPath.isLocal(local))
    def bucketCols(df: org.apache.spark.sql.DataFrame) = df.queryExecution.optimizedPlan.collectFirst {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation => l.relation
    }.collect { case r: org.apache.spark.sql.execution.datasources.HadoopFsRelation => r.bucketSpec }
      .flatten.map(_.bucketColumnNames)
    val bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val bucketed = try cp.readBucketed("05_nodes")
    finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcast)
    assert(bucketCols(bucketed) == Some(Seq("id")))
    assert(local.schema == bucketed.schema)
    assert(local.collect().toSeq.map(_.toString).sorted == bucketed.collect().toSeq.map(_.toString).sorted)
    // a resumed construction stage hands downstream stages the bucketed
    // table, as a fresh commit does
    val resumed = cp.runStageBucketed("05_nodes", Nil, bucketCol = "id")(sys.error("recomputed"))
    assert(bucketCols(resumed) == Some(Seq("id")))
  }

  test("on a small checkpointed graph read back whole, the ten read-pass graph ops run no job") {
    import spark.implicits._
    import graft.graphout.{GraphBuilder, Verifier}
    import graft.query.GraphQueryOps
    import graft.reason.Reasoning
    val cp = new graft.runtime.Checkpoint(spark, smallRoot)
    val g = GraphBuilder.Graph(cp.readBucketed("05_nodes").as[graft.model.Entity],
      cp.readBucketed("07_edges").as[graft.model.Triple])
    val (src, dst) = g.edges.select("srcId", "dstId").as[(String, String)].collect().head
    val ops = Seq[(String, () => Any)](
      "traverse" -> (() => GraphQueryOps.traverse(g, src, maxDepth = 3).collect()),
      "findPath" -> (() => GraphQueryOps.findPath(g, src, dst, maxDepth = 4, maxPaths = 5).collect()),
      "pagerank" -> (() => GraphQueryOps.pagerank(g, iterations = 5).collect()),
      "connectedComponents" -> (() => GraphQueryOps.connectedComponents(g).collect()),
      "closenessCentrality" -> (() =>
        GraphQueryOps.closenessCentrality(g, samples = 8, maxDepth = 4).collect()),
      "topKByDegree" -> (() => GraphQueryOps.topKByDegree(g, k = 10).collect()),
      "inferTransitive" -> (() => Reasoning.inferTransitive(g).collect()),
      "detectContradictory" -> (() => Reasoning.detectContradictory(g).collect()),
      "verify" -> (() => { val v = Verifier.verify(g); (v.isValid, v.issues.collect()) }),
      "stats" -> (() => GraphBuilder.stats(g).collect()))
    val jobs = ops.map { case (name, op) => name -> jobsOf(op())._2 }
    assert(jobs.forall(_._2 == 0), jobs)
  }

  test("a killed run resumes from the last committed stage") {
    val root = Files.createTempDirectory("ckpt2").toString
    // simulate a partial run: commit only the first two stages
    val cp = new graft.runtime.Checkpoint(spark, root)
    import spark.implicits._
    cp.runStagePartitioned("00_corpus", Nil, bucketCol = "path") {
      graft.corpus.CorpusGen.generate(spark, 80).toDF()
        .withColumn("content_sha", org.apache.spark.sql.functions.sha2(
          org.apache.spark.sql.functions.col("content"), 256))
    }
    assert(cp.isCommitted("00_corpus") && !cp.isCommitted("01_segments"))

    // full run picks up from the committed corpus (same seed ⇒ same rows)
    val out = CheckpointedPipeline.run(spark, root, 80)
    assert(out.count() > 0)
    assert(cp.isCommitted("08_triple_set"))

    // an uncheckpointed run on the same corpus builds the same graph — the
    // node and edge rows, not only the triple set — since both runs share
    // one definition of stages 04–08
    val inMemory = graft.pipeline.KgPipeline.runSynthetic(spark, 80)
    val expected = inMemory.tripleSet.as[(String, String, String)].collect().toSet
    val actual = out.as[(String, String, String)].collect().toSet
    assert(actual == expected)
    assert(cp.readBucketed("05_nodes").as[graft.model.Entity].collect().toSet ==
      inMemory.graph.nodes.collect().toSet)
    assert(cp.readBucketed("07_edges").as[graft.model.Triple].collect().toSet ==
      inMemory.graph.edges.collect().toSet)
  }
}
