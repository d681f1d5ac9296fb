package graft

import graft.query.GraphQueryOps
import graft.runtime.DriverPath.withLimit

/** UTF-8 binary ordering in the driver fast paths ≡ Spark's own string
  * order (incl. supplementary code points and unpaired surrogates, where
  * UTF-16 `String.compareTo` diverges).
  */
class Utf8OrderSpec extends SparkSpec {

  // U+1F600 (supplementary: UTF-16 surrogate pair D83D DE00) vs U+F000
  // (private-use BMP char): UTF-16 code-unit order puts the surrogate
  // FIRST, UTF-8/code-point order puts the supplementary char LAST —
  // the exact divergence class round-5 advice flagged
  private val Supp = new String(Character.toChars(0x1F600))
  private val Pua = new String(Character.toChars(0xF000))

  test("Utf8Order ≡ Spark string sort including supplementary code points") {
    import spark.implicits._
    val ids = Seq(Supp, Pua, "a", "z", "é", "�",
      "ab", "a" + Supp, "a" + Pua, "")
    val sparkOrder = ids.toDF("s").orderBy("s").as[String].collect().toList
    val utf8Order = ids.sorted(graft.runtime.Utf8Order).toList
    val utf16Order = ids.sorted.toList
    assert(utf8Order == sparkOrder)
    assert(utf16Order != sparkOrder,
      "fixture must actually exercise the UTF-16/UTF-8 divergence")
  }

  test("Utf8Order ≡ Spark string sort on UNPAIRED surrogates (malformed UTF-16)") {
    import spark.implicits._
    // Spark's UTF8String.fromString goes through String.getBytes(UTF_8),
    // which substitutes '?' (0x3F) for a lone surrogate; codePointAt
    // returns the raw D800+ value, so the pre-fix comparator sorted
    // "X\uD800" AFTER "Xz" while Spark sorts it ("X?") before. Spark also
    // REWRITES the value at ingestion, so parity is asserted on the
    // UTF-8 encodings of the sorted sequences (all encodings distinct —
    // no tie whose output order a sort could legitimately flip).
    val lone = "X" + "\uD800"
    val ids = Seq(lone + "a", "Xz", "X", "X?b", "\uDC00" + "q", Supp, Pua)
    def enc(s: String) = s.getBytes(java.nio.charset.StandardCharsets.UTF_8).toList
    val sparkOrder = ids.toDF("s").orderBy("s").as[String].collect().toList
    val utf8Order = ids.sorted(graft.runtime.Utf8Order).toList
    assert(utf8Order.map(enc) == sparkOrder.map(enc))
    assert(ids.sorted.map(enc) != sparkOrder.map(enc),
      "fixture must actually exercise the lone-surrogate divergence")
  }

  test("CC driver union-find min-id labels ≡ distributed on supplementary ids") {
    import spark.implicits._
    // the Supp/Pua component contains ONLY non-ASCII ids, so its min-id
    // label is decided exactly where UTF-16 and UTF-8 orders disagree
    val df = Seq((Supp, Pua), (Supp, Supp + "x"), ("b", "a")).toDF("src", "dst")
    def m(res: org.apache.spark.sql.DataFrame) =
      res.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val driver = m(graft.link.ConnectedComponents.run(df))
    val dist = m(withLimit(0)(graft.link.ConnectedComponents.run(df)))
    assert(driver == dist)
    // the component min under UTF-8 order is the PUA char, NOT the
    // surrogate-encoded supplementary one (UTF-16 would pick the latter)
    assert(driver(Supp) == Pua && driver(Supp + "x") == Pua)
  }

  test("findPath driver ≡ distributed when path order hinges on supplementary ids") {
    import spark.implicits._
    val ids = Seq("s", Supp, Pua, "t")
    val nodes = ids.map(i => graft.model.Entity(i, i, "t", None,
      Map.empty, 1.0, "", "", "", "")).toDS()
    val edges = Seq(("e1", "s", Supp), ("e2", "s", Pua),
      ("e3", Supp, "t"), ("e4", Pua, "t"))
      .map { case (id, a, b) => graft.model.Triple(id, a, b, "", "", "r",
        None, bidirectional = false, 1.0, 1.0, "") }.toDS()
    val g = graft.graphout.GraphBuilder.Graph(nodes, edges)
    def one(lim: Long) =
      withLimit(lim)(GraphQueryOps.findPath(g, "s", "t", maxPaths = 1))
        .collect().map(_.getAs[scala.collection.Seq[String]]("path").toList).toList
    val fast = one(Long.MaxValue)
    val dist = one(0)
    assert(fast == dist)
    // UTF-8 order picks the PUA route (the supplementary path sorts later)
    assert(fast == List(List("s", Pua, "t")))
  }
}
