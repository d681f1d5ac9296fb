package graft

import scala.concurrent.Await
import scala.concurrent.duration._
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Observation, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.runtime.DriverPath
import graft.runtime.DriverPath.withLimit

/** The size gate every driver fast path takes: `DriverPath.probe(df)` is
  * `Some(df.collect())` (same rows, same order) exactly when `df` has at
  * most `DriverPath.limit` rows, in one early-stopping job; and None when a
  * row has a null in one of the key columns it is given. `withLimit` scopes
  * that limit.
  */
class DriverPathSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("p", IntegerType), StructField("i", IntegerType),
    StructField("s", StringType)))

  /** A scan-only input with exactly `sizes(p)` rows in partition p (every
    * third `s` null), each row read reported to `reads` when given.
    */
  private def input(sizes: Seq[Int],
                    reads: Option[org.apache.spark.util.CollectionAccumulator[Int]] = None)
      : DataFrame = {
    val sc = spark.sparkContext
    val sz = sizes.toArray
    val rdd =
      if (sz.isEmpty) sc.emptyRDD[Row]
      else sc.parallelize(sz.indices, sz.length).flatMap { p =>
        (0 until sz(p)).iterator.map { i =>
          reads.foreach(_.add(TaskContext.getPartitionId()))
          Row(p, i, if (i % 3 == 2) null else s"r$p.$i")
        }
      }
    spark.createDataFrame(rdd, schema)
  }

  // partition sizes: even spreads, everything in one partition, more
  // partitions than rows (share 0 at small limits), and empty inputs
  private val genSizes: Gen[Seq[Int]] = Gen.oneOf(
    Gen.choose(1, 6).flatMap(k => Gen.listOfN(k, Gen.choose(0, 7))),
    for { k <- Gen.choose(2, 6); at <- Gen.choose(0, k - 1); n <- Gen.choose(1, 30) }
      yield Seq.tabulate(k)(p => if (p == at) n else 0),
    Gen.choose(6, 14).flatMap(k => Gen.listOfN(k, Gen.choose(0, 1))),
    Gen.choose(0, 3).map(k => Seq.fill(k)(0)))

  test("probe ≡ (n ≤ lim ? Some(collect) : None), rows in collect() order") {
    val cases = (0 until 40).flatMap(i => genSizes(Gen.Parameters.default, Seed(i.toLong)))
    assert(cases.exists(_.isEmpty) && cases.exists(s => s.nonEmpty && s.forall(_ == 0)))
    cases.foreach { sizes =>
      val df = input(sizes)
      val n = sizes.sum.toLong
      val all = df.collect().map(_.toSeq)
      for (lim <- Seq(0L, n - 1, n, n + 1).distinct) {
        val got = withLimit(lim)(DriverPath.probe(df)).map(_.map(_.toSeq).toSeq)
        val want = if (n <= lim) Some(all.toSeq) else None
        assert(got == want, s"sizes=$sizes lim=$lim")
      }
    }
  }

  test("one job gates and fetches; a skewed small input pays one fallback collect") {
    // 4 partitions × 3 rows, lim 20: every partition within its share of 5
    val (small, j1) = jobsOf(withLimit(20)(DriverPath.probe(input(Seq(3, 3, 3, 3)))))
    assert(small.map(_.length).contains(12) && j1 == 1, s"jobs=$j1")
    // far over the limit: rejected by the same single job
    val (over, j2) = jobsOf(withLimit(20)(DriverPath.probe(input(Seq(50, 50, 50, 50)))))
    assert(over.isEmpty && j2 == 1, s"jobs=$j2")
    // 12 rows in one partition, lim 20: within the limit, over the share
    val (skew, j3) = jobsOf(withLimit(20)(DriverPath.probe(input(Seq(0, 12, 0, 0)))))
    assert(skew.map(_.length).contains(12) && j3 == 2, s"jobs=$j3")
  }

  test("no partition reads past lim + 1 rows") {
    val reads = spark.sparkContext.collectionAccumulator[Int]("probe_reads")
    assert(withLimit(5)(DriverPath.probe(input(Seq(100, 40, 0, 7), Some(reads)))).isEmpty)
    import scala.jdk.CollectionConverters._
    val perPart = reads.value.asScala.groupBy(identity).map { case (p, rs) => p -> rs.size }
    assert(perPart.values.forall(_ <= 6) && perPart.getOrElse(0, 0) == 6, perPart.toString)
  }

  test("the probe is a SQL execution: observe fires on it") {
    val obs = Observation()
    val df = input(Seq(2, 2)).observe(obs, count(lit(1)).as("rows"))
    assert(withLimit(10)(DriverPath.probe(df)).map(_.length).contains(4))
    assert(Await.result(obs.future, 30.seconds).getAs[Long]("rows") == 4L)
  }

  test("the driver mirrors' gate at its boundary: n rows refused at n − 1, taken at n") {
    import spark.implicits._
    import graft.model.Triple
    val edges = (0 until 9).map(i =>
      Triple(s"e$i", s"n$i", s"n${i + 1}", "", "", "is-a", None, false, 1.0, 1.0, "")).toDS()
    val probe = edges.toDF()
    val n = probe.count()
    assert(withLimit(n - 1)(DriverPath.probe(probe)).isEmpty)
    assert(withLimit(n)(DriverPath.probe(probe)).map(_.length.toLong).contains(n))
  }

  test("a plan that optimizes to a local relation: no job, rows in order, same limit") {
    import spark.implicits._
    val local = (0 until 9).map(i => (i, s"r$i")).toDF("i", "s")
    // a filter and projection of a local relation fold into one, and so
    // does a scan filtered to nothing
    val derived = local.where($"i" % 2 === 0).select($"s", ($"i" * 10).as("j"))
    val empty = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").where(lit(false))
    for ((df, n) <- Seq(local -> 9, derived -> 5, empty -> 0)) {
      assert(DriverPath.isLocal(df))
      val (taken, j1) = jobsOf(withLimit(n)(DriverPath.probe(df)))
      assert(taken.map(_.map(_.toSeq).toSeq).contains(df.collect().map(_.toSeq).toSeq) && j1 == 0)
      val (refused, j2) = jobsOf(withLimit(n - 1)(DriverPath.probe(df)))
      assert(refused.isEmpty && j2 == 0, s"n=$n")
    }
    assert(!DriverPath.isLocal(input(Seq(1, 2))))
  }

  test("the null rule: a null key refuses from the same job; a null payload comes back") {
    import spark.implicits._
    // 4 partitions × 3 rows: row i = 2 of every partition has a null s
    val df = input(Seq(3, 3, 3, 3))
    val (keyed, j1) = jobsOf(withLimit(20)(DriverPath.probe(df, "p", "s")))
    assert(keyed.isEmpty && j1 == 1, s"jobs=$j1")
    val (payload, j2) = jobsOf(withLimit(20)(DriverPath.probe(df, "p", "i")))
    assert(payload.map(_.map(_.toSeq).toSeq).contains(df.collect().map(_.toSeq).toSeq) && j2 == 1)
    assert(payload.exists(_.exists(_.isNullAt(2))))
    // no keys: the rows, nulls included, as before
    assert(withLimit(20)(DriverPath.probe(df)).map(_.length).contains(12))
    // a local relation with a null key: refused with no job
    val local = Seq(("a", "x"), (null, "y")).toDF("id", "v")
    val (refused, j3) = jobsOf(withLimit(10)(DriverPath.probe(local, "id")))
    assert(refused.isEmpty && j3 == 0, s"jobs=$j3")
    assert(withLimit(10)(DriverPath.probe(local, "v")).map(_.length).contains(2))
  }

  test("withLimit scopes the limit: nested, restored on return and on throw") {
    import spark.implicits._
    val outer = DriverPath.limit
    assert(outer == DriverPath.DriverIterationLimit)
    assert(withLimit(7)(DriverPath.limit) == 7 && DriverPath.limit == outer)
    withLimit(5) {
      assert(withLimit(0)(DriverPath.limit) == 0)
      assert(DriverPath.limit == 5)
      intercept[IllegalStateException](withLimit(3)(throw new IllegalStateException("inner")))
      assert(DriverPath.limit == 5)
    }
    intercept[IllegalStateException](withLimit(1)(throw new IllegalStateException("outer")))
    assert(DriverPath.limit == outer)
    // the probe reads the innermost scope
    val two = Seq(1, 2).toDF("i")
    assert(withLimit(1)(DriverPath.probe(two)).isEmpty)
    assert(withLimit(1)(withLimit(2)(DriverPath.probe(two))).map(_.length).contains(2))
    assert(withLimit(2)(withLimit(1)(DriverPath.probe(two))).isEmpty)
  }
}
