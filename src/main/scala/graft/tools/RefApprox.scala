package graft.tools

import java.nio.charset.StandardCharsets.UTF_8
import scala.collection.mutable

/**
 * Independent SERIAL reimplementation of the approximate-dedup/ANN family
 * (q24 MinHash+LSH, q25 SimHash banding, q27 hyperplane-LSH, q28 IVF) —
 * the round-5 q30/q31 fixture pattern applied to the last rows-only
 * entries: the banding/probing algorithms are fully deterministic (only
 * their relation to exact similarity is approximate), so their outputs on
 * a frozen corpus can be pinned by a committed fixture that FixtureGen
 * refuses to write unless THIS independent computation matches the Spark
 * pipeline exactly.
 *
 * Independence boundary (the q31 compromise, documented):
 *  - hashing goes through [[RefXxh64]] (public-spec XXH64, never Spark's
 *    `XxHash64`/`XXH64` classes);
 *  - bucket equality is computed on the RAW band values (minhash slice
 *    tuples / simhash 16-bit bands / hyperplane sign bits) instead of
 *    Spark's hash-of-slice bucket keys — the semantic spec of banding;
 *  - exact n-gram Jaccard intersects DISTINCT SHINGLE STRINGS rather than
 *    the ShingleHashes kernel's hash sets;
 *  - everything else (splitting, vote rules, fold order of the float
 *    dot products, HALF_UP rounding) is re-derived from the operators'
 *    documented semantics in plain Scala loops with no Spark imports.
 *
 * Reference contract: the blocking stage these operators stand in for —
 * /root/reference/src/knowledge/coreference_resolver.py:244-286.
 */
object RefApprox {

  // ------------------------------------------------------------ q24 minhash

  /** k-minhash signature over word n-gram shingles: XXH64(shingle, seed=j)
    * per row j (MinHashSignature's documented semantics; < n tokens →
    * Long.MaxValue rows).
    */
  def minhashSig(text: String, k: Int = 32, n: Int = 3): Array[Long] = {
    val toks = text.split("\\s+", -1)
    val mins = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i + n <= toks.length) {
      val sh = toks.slice(i, i + n).mkString(" ").getBytes(UTF_8)
      var s = 0
      while (s < k) {
        val h = RefXxh64.hashBytes(sh, s.toLong)
        if (h < mins(s)) mins(s) = h
        s += 1
      }
      i += 1
    }
    mins
  }

  /** Distinct word n-gram shingle STRINGS (the exact-Jaccard verifier's
    * semantic set — the pipeline intersects their xxhash64 images).
    */
  def shingleSet(text: String, n: Int = 3): Set[String] = {
    val toks = text.split("\\s+", -1)
    val out = mutable.HashSet.empty[String]
    var i = 0
    while (i + n <= toks.length) {
      out += toks.slice(i, i + n).mkString(" ")
      i += 1
    }
    out.toSet
  }

  /** Banded candidate pairs: per band, docs sharing the band's r-value
    * minhash slice form a bucket; buckets keep the first `maxBucket` ids
    * ascending (the skew cap); pairs are idA < idB within a bucket.
    */
  private def bandedPairs[K](ids: Seq[Long], bands: Int, maxBucket: Int)(
      key: (Long, Int) => K): Set[(Long, Long)] = {
    val pairs = mutable.HashSet.empty[(Long, Long)]
    var b = 0
    while (b < bands) {
      val buckets = mutable.HashMap.empty[K, mutable.ArrayBuffer[Long]]
      ids.foreach(id => buckets.getOrElseUpdate(key(id, b), mutable.ArrayBuffer.empty) += id)
      buckets.valuesIterator.foreach { members =>
        val kept = members.sorted.take(maxBucket)
        var i = 0
        while (i < kept.length - 1) {
          var j = i + 1
          while (j < kept.length) {
            pairs += ((kept(i), kept(j)))
            j += 1
          }
          i += 1
        }
      }
      b += 1
    }
    pairs.toSet
  }

  /** Full q24 semantics: LSH candidates → estimate filter (≥ estFloor) →
    * exact n-gram Jaccard ≥ jacFloor. Returns (idA, idB, jaccard).
    */
  def q24MinhashDedup(docs: Seq[(Long, String)], k: Int = 32, bands: Int = 8,
                      maxBucket: Int = 256, estFloor: Double = 0.5,
                      jacFloor: Double = 0.8): Seq[(Long, Long, Double)] = {
    val r = k / bands
    val sig = docs.map { case (id, t) => id -> minhashSig(t, k, 3) }.toMap
    val cand = bandedPairs(docs.map(_._1), bands, maxBucket) { (id, b) =>
      sig(id).slice(b * r, b * r + r).toSeq
    }
    val est = cand.filter { case (a, b) =>
      val (sa, sb) = (sig(a), sig(b))
      var eq = 0
      var i = 0
      while (i < k) { if (sa(i) == sb(i)) eq += 1; i += 1 }
      eq.toDouble / k >= estFloor
    }
    val sh = docs.map { case (id, t) => id -> shingleSet(t) }.toMap
    est.toSeq.flatMap { case (a, b) =>
      val (ga, gb) = (sh(a), sh(b))
      val ni = ga.count(gb.contains)
      val denom = ga.size.toLong + gb.size - ni
      // an empty shingle union has a null Jaccard in the pipeline — filtered by >= jacFloor
      if (denom == 0) None
      else {
        val j = ni.toDouble / denom.toDouble
        if (j >= jacFloor) Some((a, b, j)) else None
      }
    }.sortBy(p => (p._1, p._2))
  }

  // ------------------------------------------------------------ q25 simhash

  /** 64-bit SimHash: distinct whitespace tokens, XXH64(token, 42) bit
    * votes, bit set iff strictly more than half the tokens vote.
    */
  def simhash64(text: String): Long = {
    val seen = mutable.HashSet.empty[String]
    val votes = new Array[Int](64)
    var n = 0
    text.split("\\s+", -1).foreach { t =>
      if (seen.add(t)) {
        n += 1
        val h = RefXxh64.hashBytes(t.getBytes(UTF_8), 42L)
        var b = 0
        while (b < 64) { if (((h >>> b) & 1L) != 0L) votes(b) += 1; b += 1 }
      }
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (votes(b) * 2 > n) out |= (1L << b); b += 1 }
    out
  }

  /** Full q25 semantics: 4×16-bit pigeonhole banding (capped buckets) →
    * Hamming ≤ maxHamming. Returns (idA, idB, hamming).
    */
  def q25SimhashDedup(docs: Seq[(Long, String)], maxHamming: Int = 3,
                      maxBucket: Int = 256): Seq[(Long, Long, Int)] = {
    val sh = docs.map { case (id, t) => id -> simhash64(t) }.toMap
    val cand = bandedPairs(docs.map(_._1), 4, maxBucket) { (id, b) =>
      (sh(id) >> (b * 16)) & 0xFFFFL
    }
    cand.toSeq.flatMap { case (a, b) =>
      val h = java.lang.Long.bitCount(sh(a) ^ sh(b))
      if (h <= maxHamming) Some((a, b, h)) else None
    }.sortBy(p => (p._1, p._2))
  }

  // -------------------------------------------------------- q27 hyperplanes

  private def dotSerial(a: Array[Double], b: Array[Double]): Double = {
    val n = math.min(a.length, b.length)
    var acc = 0.0
    var i = 0
    while (i < n) { acc += a(i) * b(i); i += 1 }
    acc
  }

  /** Hyperplane band signatures: plane p = band·rBits + bit has component
    * sin((p+1)·12.9898 + dim·78.233); dot folds from 0.0 in element order;
    * bit set iff dot > 0 (the HyperplaneSignatures documented semantics,
    * re-derived as a plain loop).
    */
  def hyperplaneSigs(v: Array[Double], nBands: Int = 8, rBits: Int = 8): Array[Int] = {
    Array.tabulate(nBands) { band =>
      var s = 0
      var bit = 0
      while (bit < rBits) {
        val p = band * rBits + bit
        val c = (p + 1).toDouble * 12.9898
        var acc = 0.0
        var i = 0
        while (i < v.length) { acc += v(i) * Math.sin(c + i * 78.233); i += 1 }
        if (acc > 0) s += (1 << bit)
        bit += 1
      }
      s
    }
  }

  /** Full q27 semantics: banded signatures (capped buckets, 1024) →
    * cosine ≥ threshold. Returns (idA, idB, cosine).
    */
  def q27EmbedNearDup(embs: Seq[(Long, Array[Double])], threshold: Double = 0.4,
                      nBands: Int = 8, rBits: Int = 8,
                      maxBucket: Int = 1024): Seq[(Long, Long, Double)] = {
    val v = embs.toMap
    val sigs = embs.map { case (id, x) => id -> hyperplaneSigs(x, nBands, rBits) }.toMap
    val norm = embs.map { case (id, x) => id -> math.sqrt(dotSerial(x, x)) }.toMap
    val cand = bandedPairs(embs.map(_._1), nBands, maxBucket)((id, b) => sigs(id)(b))
    cand.toSeq.flatMap { case (a, b) =>
      val cos = dotSerial(v(a), v(b)) / (norm(a) * norm(b))
      if (cos >= threshold) Some((a, b, cos)) else None
    }.sortBy(p => (p._1, p._2))
  }

  // --------------------------------------------------------------- q28 IVF

  /** Spark `round(x, 4)`: HALF_UP decimal rounding via the double's
    * shortest decimal representation.
    */
  def round4(x: Double): Double =
    BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Full q28 semantics: hash-seeded centroids (smallest XXH64(id, 42)),
    * nearest-centroid cell assignment (strict argmax, cid order), nProbe
    * closest cells per query (cosine desc, cell asc), exact cosine top-k
    * within the probed cells. Returns (qid, id, cos_sim, rank).
    */
  def q28IvfTopK(embs: Seq[(Long, Array[Double])], queryIds: Seq[Long],
                 c: Int = 16, nProbe: Int = 4, k: Int = 10): Seq[(Long, Long, Double, Int)] = {
    val v = embs.toMap
    def cosine(a: Array[Double], b: Array[Double]): Double =
      dotSerial(a, b) / (math.sqrt(dotSerial(a, a)) * math.sqrt(dotSerial(b, b)))
    // seeding: the c vectors with the smallest xxhash64(vec_id) (signed)
    val seeds = embs.map(_._1).sortBy(id => RefXxh64.hashLong(id, 42L)).take(c)
    // centroid table sorted by cid; norms via sum-of-squares in id order
    val cents = seeds.sorted.map { cid =>
      (cid, v(cid), math.sqrt(v(cid).map(x => x * x).sum))
    }
    // cell assignment: strict > keeps the earlier (smaller-cid) centroid
    val cellOf = embs.map { case (id, x) =>
      var bestScore = Double.MinValue
      var bestCell = -1L
      cents.foreach { case (cid, cv, nrm) =>
        val score = dotSerial(x, cv) / nrm
        if (score > bestScore) { bestScore = score; bestCell = cid }
      }
      id -> bestCell
    }.toMap
    val byCell = embs.map(_._1).groupBy(cellOf)
    queryIds.sorted.flatMap { qid =>
      val qv = v(qid)
      val probed = cents.map { case (cid, cv, _) => (cid, cosine(qv, cv)) }
        .sortBy { case (cid, csim) => (-csim, cid) }.take(nProbe).map(_._1)
      val cand = probed.flatMap(cell => byCell.getOrElse(cell, Nil)).filter(_ != qid)
      cand.map(id => (id, round4(cosine(v(id), qv))))
        .sortBy { case (id, cs) => (-cs, id) }
        .take(k).zipWithIndex
        .map { case ((id, cs), i) => (qid, id, cs, i + 1) }
    }
  }
}
