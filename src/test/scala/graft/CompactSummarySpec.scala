package graft

class CompactSummarySpec extends org.scalatest.funsuite.AnyFunSuite {

  test("compact summary extracts the headline fields from a full bench line") {
    val full =
      """{"metric":"total","value":56.700,"unit":"sec","queries":{"q1":1.430,"q2":2.930},""" +
        """"queriesHost":{"q1":{"stealPermille":0,"calMBs":1338,"runs":2}},""" +
        """"failed":["qx"],"skipped":["qy","qz"],"sf":"/root/testdata/sf0.1",""" +
        """"kg":{"files":320000,"triples":3912190,"wallSecHigh":21.990,""" +
        """"abortedRounds":{"high":1,"low":0},""" +
        """"roundsHigh":[{"sec":21.99,"calMBs":1274,"stealPermille":0}],""" +
        """"roundsLow":[{"sec":67.30,"calMBs":1075,"stealPermille":0}],""" +
        """"scaling":{"cpusLow":2,"cpusHigh":8,"shufflePartitions":16,""" +
        """"triplesPerSecLow":58132.8,"triplesPerSecHigh":177908.0,"efficiency":0.838,""" +
        """"stages":{"extract_dedup":{"secHigh":4.8,"secLow":16.2,"efficiency":0.841}}}}}"""
    val s = Bench.compactSummary(full)
    assert(s.contains("\"metric\":\"summary\""))
    assert(s.contains("\"value\":56.700"))
    assert(s.contains("\"efficiency\":0.838"), s)
    assert(s.contains("\"triplesPerSecHigh\":177908.0"))
    assert(s.contains("\"triplesPerSecLow\":58132.8"))
    assert(s.contains("\"files\":320000") && s.contains("\"triples\":3912190"))
    assert(s.contains("\"queriesTimed\":2"))
    assert(s.contains("\"failedCount\":1") && s.contains("\"skippedCount\":2"))
    assert(s.contains("\"abortedRounds\":{\"high\":1,\"low\":0}"))
    assert(s.length < 600, s"summary must stay tail-capture-small: ${s.length}")
  }

  test("compact summary degrades to nulls on a partial line, never crashes") {
    val partial =
      """{"metric":"total","value":-1.0,"unit":"sec","queries":{},"sf":"/x","kg":null}"""
    val s = Bench.compactSummary(partial)
    assert(s.contains("\"efficiency\":null"))
    assert(s.contains("\"queriesTimed\":0"))
    assert(s.contains("\"abortedRounds\":null"))
  }
}
