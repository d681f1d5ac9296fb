package graft

import scala.jdk.CollectionConverters._
import org.apache.spark.graftshim.GraftCore
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.ops.Dedup
import graft.runtime.{DriverPath, Observed}
import graft.tools.RefApprox
import graft.runtime.DriverPath.withLimit

/** The driver paths of `Dedup.minhashLshPairs` and `Dedup.ngramJaccard`
  * equal their distributed forms (`DriverPath.withLimit(0)`) on adversarial
  * document sets, cap drops included, and return local relations; inputs
  * the mirrors do not replicate take the distributed form. q24 composes
  * the two in a handful of jobs and keeps its recall gate on both paths.
  */
class DedupDriverSpec extends SparkSpec {
  import DedupDriverSpec.Case

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  private def docsOf(docs: Seq[(java.lang.Long, String)]): DataFrame =
    spark.createDataFrame(docs.map { case (id, t) => Row(id, t) }.asJava, docSchema)

  // ---------------------------------------------------------- generator

  private val vocab = Vector("the", "quick", "brown", "fox", "jumps", "over", "lazy",
    "dog", "spark", "sql", "café", "北京", "naïve", "и")

  private val genSep = Gen.frequency(6 -> " ", 1 -> "  ", 1 -> "\t", 1 -> " \n ")

  /** Words joined by a separator, with optional leading and trailing
    * whitespace (the `-1` split turns both into empty tokens).
    */
  private def render(ws: Seq[String]): Gen[String] = for {
    sep <- genSep
    lead <- Gen.frequency(5 -> "", 1 -> " ", 1 -> "\t")
    trail <- Gen.frequency(5 -> "", 1 -> " ", 1 -> "\n")
  } yield lead + ws.mkString(sep) + trail

  /** A document set: a long base text with near-duplicate one-word edits
    * and identical copies, a repeated-shingle text, random texts, empty
    * and under-3-token texts, optional boilerplate copies under a small
    * `maxBucket`, and in some sets a null id, a null text or a duplicate
    * id (which must take the distributed form).
    */
  private val genCase: Gen[Case] = for {
    base <- Gen.choose(8, 14).flatMap(Gen.listOfN(_, Gen.oneOf(vocab)))
    edits <- Gen.choose(1, 4).flatMap(Gen.listOfN(_, for {
      at <- Gen.choose(0, base.length - 1); w <- Gen.oneOf(vocab)
    } yield base.updated(at, w)))
    copies <- Gen.choose(0, 2)
    repeated <- Gen.option(Gen.const(Seq.fill(4)(base.take(3)).flatten))
    randoms <- Gen.choose(0, 6).flatMap(Gen.listOfN(_,
      Gen.choose(0, 12).flatMap(Gen.listOfN(_, Gen.oneOf(vocab)))))
    short <- Gen.someOf(Seq("", "a b", "c d", "x", " ", "\t\n"))
    boiler <- Gen.frequency(2 -> Gen.const(0), 1 -> Gen.choose(4, 8))
    wordLists = (base +: edits) ++ Seq.fill(copies)(base) ++ repeated ++ randoms ++
      Seq.fill(boiler)("identical boilerplate text shared by every row".split(" ").toSeq)
    rendered <- Gen.sequence[List[String], String](wordLists.map(render))
    texts = rendered ++ short
    ids <- Gen.pick(texts.length, 0L until 100L)
    bad <- Gen.frequency(5 -> Gen.const(None), 1 -> Gen.const(Some("nullId")),
      1 -> Gen.const(Some("nullText")), 1 -> Gen.const(Some("dupId")))
  } yield {
    val docs: Seq[(java.lang.Long, String)] = ids.toSeq.zip(texts).map { case (i, t) => (Long.box(i), t) }
    val broken = bad match {
      case Some("nullId") => docs.updated(0, (null: java.lang.Long, docs.head._2))
      case Some("nullText") => docs.updated(0, (docs.head._1, null: String))
      case Some("dupId") => docs.updated(1, (docs.head._1, docs(1)._2))
      case _ => docs
    }
    Case(broken, if (boiler > 0) 3 else 256, bad)
  }

  private lazy val cases: Seq[Case] =
    (0 until 24).flatMap(i => genCase(Gen.Parameters.default, Seed(i.toLong)))

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map(v => if (v == null) "null" else v.toString).mkString("|"))
      .toSeq.sorted

  /** Rows and cap drops of one `minhashLshPairs` call. */
  private def minhash(c: Case, lim: Long): (DataFrame, Seq[String], Long) = {
    assert(GraftCore.drainListenerBus(spark.sparkContext, 30000))
    Observed.clear("minhash_band_cap")
    val df = withLimit(lim)(Dedup.minhashLshPairs(docsOf(c.docs), maxBucket = c.maxBucket))
    val rows = sortedRows(df)
    assert(GraftCore.drainListenerBus(spark.sparkContext, 30000))
    (df, rows, Observed.get("minhash_band_cap").map(_("dropped")).getOrElse(-1L))
  }

  test("the generator reaches every adversarial case") {
    val texts = cases.flatMap(_.docs.map(_._2)).filter(_ != null)
    assert(cases.length == 24)
    assert(cases.count(_.bad.isEmpty) >= 12)
    assert(Set("nullId", "nullText", "dupId").subsetOf(cases.flatMap(_.bad).toSet))
    assert(texts.contains("") && texts.exists(t => t.trim.nonEmpty && t.trim.split("\\s+").length < 3))
    assert(Seq[String => Boolean](_.startsWith(" "), _.startsWith("\t"), _.endsWith("\n"),
      _.contains("\t"), _.contains("\n"), _.exists(_ > '\u007f')).forall(texts.exists))
    assert(cases.exists(c => c.maxBucket == 3 && c.bad.isEmpty))
    assert(cases.exists(c => c.docs.map(_._2).distinct.length < c.docs.length))
  }

  test("minhashLshPairs: the driver path ≡ the distributed form, cap drops included") {
    var paired, capped = 0
    cases.foreach { c =>
      val (fast, rows, drops) = minhash(c, DriverPath.DriverIterationLimit)
      val (dist, want, wantDrops) = minhash(c, 0)
      assert(rows == want, s"case=$c")
      assert(drops == wantDrops, s"drops $drops vs $wantDrops case=$c")
      assert(fast.schema == dist.schema)
      assert(DriverPath.isLocal(fast) == c.bad.isEmpty, s"case=$c")
      if (c.bad.isEmpty && rows.nonEmpty) paired += 1
      if (c.bad.isEmpty && drops > 0) capped += 1
    }
    assert(paired >= 12 && capped >= 2, s"paired=$paired capped=$capped")
  }

  test("ngramJaccard: the driver path ≡ the distributed form (sorted rows)") {
    val pairSchema = StructType(Seq(StructField("idA", LongType), StructField("idB", LongType)))
    var nullJaccard = 0
    cases.foreach { c =>
      val docs = docsOf(c.docs)
      // every pair of ids (and a missing id), a self pair and a null id
      val ids = (c.docs.map(_._1).filter(_ != null).map(_.longValue) :+ 999L).distinct.sorted
      val rows = (for (a <- ids; b <- ids if a < b) yield Row(a, b)) ++
        Seq(Row(ids.head, ids.head), Row(null, ids.head))
      val pairs = spark.createDataFrame(rows.asJava, pairSchema)
      val fast = Dedup.ngramJaccard(docs, pairs)
      val dist = withLimit(0)(Dedup.ngramJaccard(docs, pairs))
      val got = sortedRows(fast)
      assert(got == sortedRows(dist), s"case=$c")
      assert(fast.schema == dist.schema)
      assert(DriverPath.isLocal(fast) == c.bad.isEmpty, s"case=$c")
      if (c.bad.isEmpty && got.exists(_.endsWith("|null"))) nullJaccard += 1
    }
    assert(nullJaccard >= 10, nullJaccard)
  }

  private val fourDocs: Seq[(java.lang.Long, String)] = Seq((1L, "a b"), (2L, "c d"),
    (3L, "x y z w v u t"), (4L, "x y z w v u t s")).map { case (i, t) => (Long.box(i), t) }

  test("two documents with no shingle: estimate 1.0, null Jaccard, no DIVIDE_BY_ZERO") {
    val docs = docsOf(fourDocs)
    for (lim <- Seq(DriverPath.DriverIterationLimit, 0L)) {
      val pairs = withLimit(lim)(Dedup.minhashLshPairs(docs))
      val est = pairs.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      assert(est.get((1L, 2L)).contains(1.0) && est.contains((3L, 4L)), s"lim=$lim $est")
      val j = withLimit(lim)(Dedup.ngramJaccard(docs, pairs.select("idA", "idB")))
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.get(2)).toMap
      assert(j((1L, 2L)) == null && j((3L, 4L)) == 5.0 / 6, s"lim=$lim $j")
      val q24 = withLimit(lim)(Queries.minhashDedup(spark, docs)).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      assert(q24 == RefApprox.q24MinhashDedup(fourDocs.map(d => (d._1.longValue, d._2))),
        s"lim=$lim")
    }
  }

  // ---------------------------------------------------------- q24

  private val dir = "/root/testdata/sf0.001"

  test("q24's recall gate throws on both paths when estFloor admits no candidate") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    for (lim <- Seq(DriverPath.DriverIterationLimit, 0L)) {
      val e = intercept[IllegalStateException](
        withLimit(lim)(Queries.minhashDedup(spark, docs, estFloor = 1.01)))
      assert(e.getMessage.contains("q24_minhash recall collapsed"), s"lim=$lim")
    }
  }

  test("q24 takes a handful of jobs on the driver paths, with equal rows") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    Queries.minhashDedup(spark, docs).count() // warm-up: file listing, codegen
    val (fast, jf) = jobsOf(sortedRows(Queries.minhashDedup(spark, docs)))
    val (dist, jd) = jobsOf(sortedRows(withLimit(0)(Queries.minhashDedup(spark, docs))))
    assert(fast == dist && fast.nonEmpty)
    // the recall gate counts two local relations on the driver: no job
    assert(jf <= 6 && jd > 2 * jf, s"jobs: driver=$jf distributed=$jd")
  }
}

object DedupDriverSpec {
  private final case class Case(docs: Seq[(java.lang.Long, String)], maxBucket: Int,
                                bad: Option[String])
}
