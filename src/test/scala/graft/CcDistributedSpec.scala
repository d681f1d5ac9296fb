package graft

import graft.runtime.DriverPath.withLimit

/** Distributed CC star rounds with observed-signature convergence ≡ the
  * driver union-find; a pre-starred input converges after one round.
  */
class CcDistributedSpec extends SparkSpec {

  test("distributed star rounds (observed-signature convergence) ≡ driver union-find") {
    import spark.implicits._
    // deterministic tangle: pseudo-random pairs + a planted cycle + an
    // isolated pair; cross-family collisions force several merge rounds
    val pairs = (0 until 400).map { i =>
      (s"n${(i * 7919) % 97}", s"n${(i * 104729) % 89}")
    } ++ Seq(("c0", "c1"), ("c1", "c2"), ("c2", "c0"), ("x1", "x2"))
    val df = pairs.toDF("src", "dst")
    def collect(res: org.apache.spark.sql.DataFrame): Map[String, String] =
      res.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val driver = collect(graft.link.ConnectedComponents.run(df))
    val dist = collect(withLimit(0)(graft.link.ConnectedComponents.run(df)))
    assert(dist.nonEmpty && dist == driver)
  }

  test("pre-starred input converges after ONE round (input-signature seed)") {
    import spark.implicits._
    // edges already in the converged orientation (larger → component
    // min): one star round reproduces them bit-identically, and the
    // input-signature seed must detect that — a null seed would force a
    // second full-shuffle round to get two equal consecutive signatures
    val df = Seq(("b", "a"), ("c", "a"), ("d", "a"), ("y", "x"))
      .toDF("src", "dst")
    graft.runtime.Observed.clear("cc_iterations")
    val res = withLimit(0)(graft.link.ConnectedComponents.run(df))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(res == Map("a" -> "a", "b" -> "a", "c" -> "a", "d" -> "a",
      "x" -> "x", "y" -> "x"))
    val rounds = graft.runtime.Observed.get("cc_iterations")
      .flatMap(_.get("rounds"))
    assert(rounds.contains(1L), s"expected 1 star round, observed $rounds")
  }
}
