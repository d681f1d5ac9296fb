package graft

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{DataType, IntegerType, StringType, StructField, StructType}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.link.ConnectedComponents
import graft.runtime.Observed
import graft.runtime.DriverPath.withLimit

/** The driver union-find paths of `ConnectedComponents.run` and
  * `ConnectedComponents.withIsolated` equal their distributed star rounds
  * (`DriverPath.withLimit(0)`) on adversarial pair graphs, and
  * `withIsolated` under that scope reaches `run`'s star rounds.
  */
class CcDriverSpec extends SparkSpec {

  /** Endpoints and isolated ids are indexes into [[Names]] or [[Ints]]
    * (null stays null): `ints` cases hand the operators integer columns,
    * which both paths cast to string.
    */
  private final case class Case(ints: Boolean, edges: Seq[(Integer, Integer)], ids: Seq[Integer])

  // a pool of 12 (UTF-8 and UTF-16 orders disagree on the supplementary
  // and private-use ids; "" is a real id), then 3 ids on no edge
  private val Names = Vector("a", "b", "B", "ab", "é", "n10", "n9", "", "a ",
    new String(Character.toChars(0x1F600)), "\uE000", "z", "x1", "x2", "x3")
  // string order is not numeric order: "-1" < "0" < "10" < "9"
  private val Ints = Vector(0, 1, 2, 9, 10, 11, -1, 100, 7, 3, 4, 5, 6, 8, 12)

  private def value(c: Case, i: Integer): Any =
    if (i == null) null else if (c.ints) Ints(i) else Names(i)

  private def frame(c: Case, cols: Seq[String], rows: Seq[Seq[Integer]]): DataFrame = {
    val t: DataType = if (c.ints) IntegerType else StringType
    spark.createDataFrame(rows.map(r => Row(r.map(value(c, _)): _*)).asJava,
      StructType(cols.map(StructField(_, t))))
  }

  private def edgesOf(c: Case) = frame(c, Seq("src", "dst"), c.edges.map(p => Seq(p._1, p._2)))
  private def idsOf(c: Case) = frame(c, Seq("id"), c.ids.map(Seq(_)))

  // ---------------------------------------------------------- generator

  /** Random pairs over a pool of up to 12 ids (null endpoints included),
    * self-loops, repeated and reversed copies of some pairs, and isolated
    * ids: fresh ones, some repeated, ids that are also on an edge and,
    * in some cases, nulls.
    */
  private val genCase: Gen[Case] = for {
    ints <- Gen.frequency(3 -> false, 1 -> true)
    k <- Gen.choose(2, 12)
    genEnd = Gen.frequency(20 -> Gen.choose(0, k - 1).map(Int.box), 1 -> Gen.const[Integer](null))
    random <- Gen.choose(0, 16).flatMap(Gen.listOfN(_, Gen.zip(genEnd, genEnd)))
    loops <- Gen.choose(0, 2).flatMap(Gen.listOfN(_, Gen.choose(0, k - 1)))
    repeated <- Gen.someOf(random).map(_.toSeq.flatMap(p => Seq(p, p.swap)))
    fresh <- Gen.choose(0, 3).map(n => (12 until 12 + n).map(Int.box))
    onEdge <- Gen.someOf(random.flatMap(p => Seq(p._1, p._2)).filter(_ != null))
    twice <- Gen.oneOf(true, false)
    nulls <- Gen.frequency(3 -> Gen.const(Nil), 1 -> Gen.const(Seq[Integer](null, null)))
  } yield Case(ints, random ++ loops.map(i => (Int.box(i), Int.box(i))) ++ repeated,
    fresh ++ onEdge ++ (if (twice) fresh.take(1) ++ onEdge.take(1) else Nil) ++ nulls)

  private lazy val cases: Seq[Case] =
    (0 until 24).flatMap(i => genCase(Gen.Parameters.default, Seed(i.toLong)))

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map(v => if (v == null) "null" else v.toString).mkString("|"))
      .toSeq.sorted

  test("the generator reaches every adversarial case") {
    val edges = cases.flatMap(_.edges)
    assert(cases.length == 24)
    assert(cases.exists(_.ints) && cases.exists(!_.ints))
    assert(edges.exists(_._1 == null) && edges.exists(_._2 == null))
    assert(edges.exists(p => p._1 != null && p._1 == p._2))
    assert(cases.exists(c => c.edges.distinct.length < c.edges.length))
    assert(cases.exists(_.edges.isEmpty) && cases.exists(_.edges.length >= 12))
    assert(cases.exists(_.ids.contains(null)))
    assert(cases.exists(c => c.ids.filter(_ != null).distinct.length < c.ids.count(_ != null)))
    assert(cases.exists(c => c.ids.exists(i => i != null && i >= 12)))
    assert(cases.exists(c => c.ids.exists(i => i != null && c.edges.exists(p => p._1 == i || p._2 == i))))
    assert(cases.exists(c => c.ints && c.ids.nonEmpty && c.edges.exists(p => p._1 != null && p._2 != null)))
  }

  test("run: the driver union-find ≡ the distributed star rounds (sorted rows)") {
    var linked = 0
    cases.foreach { c =>
      val fast = sortedRows(ConnectedComponents.run(edgesOf(c)))
      assert(fast == sortedRows(withLimit(0)(ConnectedComponents.run(edgesOf(c)))), s"case=$c")
      if (fast.nonEmpty) linked += 1
    }
    assert(linked >= 16, linked)
  }

  test("withIsolated: the driver path ≡ the distributed form (sorted rows, schema)") {
    var repeated = 0
    cases.foreach { c =>
      val fast = ConnectedComponents.withIsolated(edgesOf(c), idsOf(c))
      val dist = withLimit(0)(ConnectedComponents.withIsolated(edgesOf(c), idsOf(c)))
      assert(sortedRows(fast) == sortedRows(dist), s"case=$c")
      assert(fast.schema == dist.schema, s"case=$c")
      // an isolated id listed twice keeps both rows, as the anti-join does
      c.ids.filter(i => i != null && i >= 12).groupBy(identity).foreach { case (i, copies) =>
        val v = value(c, i)
        assert(sortedRows(fast).count(_ == s"$v|$v") == copies.length, s"case=$c")
        if (copies.length > 1) repeated += 1
      }
    }
    assert(repeated >= 1, repeated)
  }

  test("withIsolated at driverLimit = 0 runs the star rounds (records cc_iterations)") {
    import spark.implicits._
    Observed.clear("cc_iterations")
    val rows = withLimit(0)(ConnectedComponents.withIsolated(
      Seq(("a", "b"), ("b", "c")).toDF("src", "dst"), Seq("a", "d").toDF("id"))).collect()
    assert(rows.length == 4)
    val rounds = Observed.get("cc_iterations").flatMap(_.get("rounds"))
    assert(rounds.exists(_ >= 1), s"expected star rounds, observed $rounds")
  }
}
