package graft

import graft.runtime.DriverPath.withLimit

class LinkerDriverSpec extends SparkSpec {

  private def ent(id: String, name: String, etype: String = "class") =
    graft.model.Entity(id, name, etype, None, Map.empty, 0.9, "s", "r", "p", "c")

  test("driver fast path ≡ distributed blocking join (aliases, type gate, cap)") {
    import spark.implicits._
    // alias family (squash + acronym collisions), a cross-TYPE name clash
    // that must NOT merge, digit-bearing near-names that must NOT merge,
    // and one block pushed past MaxBlockSize to exercise the cap on both
    // paths identically
    val base = Seq(
      ent("e1", "KnowledgeGraph"), ent("e2", "knowledge_graph"),
      ent("e3", "KG"), ent("e4", "KnowledgeGraph", etype = "function"),
      ent("e5", "fn12"), ent("e6", "fn13"),
      ent("e7", "DataStore"), ent("e8", "data store"), ent("e9", "data-store"))
    val flood = (0 until graft.link.Linker.MaxBlockSize + 20)
      .map(i => ent(f"f$i%03d", "same_name"))
    val ents = (base ++ flood).toDS()

    def canon(r: graft.link.Linker.LinkResult): (Set[String], Map[String, String]) = (
      r.canonical.collect().map(e => s"${e.id}|${e.name}|${e.entityType}").toSet,
      r.rewrite.collect().map(x => x.getString(0) -> x.getString(1)).toMap)

    val fast = canon(graft.link.Linker.link(ents))
    val dist = canon(withLimit(0)(graft.link.Linker.link(ents)))
    assert(fast == dist)
    // the alias family actually merged (to min id e1), the type gate held
    assert(fast._2.get("e2").contains("e1") && fast._2.get("e3").contains("e1"))
    assert(!fast._2.contains("e4"), "type gate must block cross-type merges")
    assert(!fast._2.contains("e6") || fast._2("e6") != "e5",
      "digit-bearing near-names must not merge")
  }

  test("driver fast path records the block-cap drop counter (no silent caps)") {
    import spark.implicits._
    graft.runtime.Observed.install(spark)
    val flood = (0 until graft.link.Linker.MaxBlockSize + 7)
      .map(i => ent(f"f$i%03d", "same_name")).toDS()
    graft.link.Linker.link(flood)
    val snap = graft.runtime.Observed.snapshot()
    val dropped = snap.get("linker_block_cap").map(_.values.sum).getOrElse(0L)
    assert(dropped >= 7, s"expected >=7 cap-dropped rows recorded, got $dropped ($snap)")
  }
}
