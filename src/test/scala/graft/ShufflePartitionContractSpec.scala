package graft

class ShufflePartitionContractSpec extends org.scalatest.funsuite.AnyFunSuite {
  import graft.runtime.Sessions.shufflePartitionsFor

  test("partitions grow with the corpus, never below 2x cores") {
    // official protocol (320k, high=8): unchanged from the fixed 2*high
    assert(shufflePartitionsFor(8, 320000L) == 16)
    assert(shufflePartitionsFor(8, 1280000L) == 32)
    // the 2.56M regime that measured 671 MB/task at parts=16 gets 64
    // (40k files/task — the measured cache-locality knee)
    assert(shufflePartitionsFor(8, 2560000L) == 64)
    assert(shufflePartitionsFor(8, 2560001L) == 65) // ceil, not floor
    // core floor dominates small corpora at high parallelism
    assert(shufflePartitionsFor(32, 40000L) == 64)
  }
}
