package graft.dedup

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Banded hamming-radius SimHash: with bands >= maxHamming + 1 the band
  * stage has PERFECT recall at the radius (pigeonhole), so — uncapped —
  * the operator's output must equal the brute-force all-pairs set.
  */
class SimhashPairsSpec extends SparkSpec {

  test("uncapped simhashPairs == brute-force hamming <= 3 over all pairs") {
    val df = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
      .limit(200)
    val sigs = Dedup.simhashSignatures(df, col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val expected = (for {
      i <- sigs.indices.iterator
      j <- (i + 1) until sigs.length
      h = java.lang.Long.bitCount(sigs(i)._2 ^ sigs(j)._2)
      if h <= 3
    } yield (sigs(i)._1, sigs(j)._1, h)).toSet

    val got = Dedup.simhashPairs(df, col("doc_id"), col("text"),
        maxHamming = 3, bands = 4, maxBucketSize = Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == expected)
    // the fixture must actually exercise the radius, not just exact matches
    assert(expected.exists(_._3 > 0) || expected.isEmpty)
  }

  test("over-cap bucket emits the deterministic (min,max) representative") {
    import spark.implicits._
    // 50 identical docs: every band bucket holds all 50 ids, far over cap
    val df = (1L to 50L).map(i => (i, "alpha beta gamma delta"))
      .toDF("doc_id", "text")
    val out = Dedup.simhashPairs(df, col("doc_id"), col("text"),
        maxHamming = 3, bands = 4, maxBucketSize = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    // identical text -> identical simhash -> hamming 0; the only surviving
    // pair is the representative, never the capped arrival-ordered sample
    assert(out.toSeq == Seq((1L, 50L, 0)))
  }

  test("under-cap identical docs pair exhaustively at hamming 0") {
    import spark.implicits._
    val df = (1L to 5L).map(i => (i, "alpha beta gamma delta"))
      .toDF("doc_id", "text")
    val out = Dedup.simhashPairs(df, col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val expected = (for {
      i <- 1L to 5L; j <- (i + 1) to 5L
    } yield (i, j, 0)).toSet
    assert(out == expected)
  }

  test("construction guards: band divisibility and radius coverage") {
    import spark.implicits._
    val df = Seq((1L, "a")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      Dedup.simhashPairs(df, col("doc_id"), col("text"), bands = 5)
    }
    intercept[IllegalArgumentException] {
      Dedup.simhashPairs(df, col("doc_id"), col("text"),
        maxHamming = 4, bands = 4)
    }
  }
}
