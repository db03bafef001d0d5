package graft.dedup

import graft.SparkSpec
import org.apache.spark.sql.functions._

class WinnowSpec extends SparkSpec {

  /** Driver-side md5Mod twin: first 15 hex digits of md5 as a long,
    * mod 1e9+7 — must match Hashing.md5Mod exactly.
    */
  private def md5Mod(s: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
    java.lang.Long.parseLong(hex.substring(0, 15), 16) % 1000000007L
  }

  /** Naive winnowing reference. */
  private def naive(text: String, k: Int, w: Int): Set[Long] = {
    if (text.length < k) return Set.empty
    val comb = (0 to text.length - k)
      .map(i => md5Mod(text.substring(i, i + k)) * (1L << 20) + i)
    if (comb.length < w) Set(comb.min)
    else (0 to comb.length - w).map(s => comb.slice(s, s + w).min).toSet
  }

  test("winnowSelect matches the naive reference on random strings " +
      "(incl. shorter-than-window and shorter-than-k docs)") {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    val docs = (1L to 30L).map { i =>
      val len = rng.nextInt(120) // 0..119: exercises both short arms
      (i, (0 until len).map(_ => ('a' + rng.nextInt(4)).toChar).mkString)
    }
    val out = docs.toDF("id", "text")
      .select(col("id"), Dedup.winnowSelect(col("text"), 10, 4).as("fps"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    docs.foreach { case (id, text) =>
      assert(out(id) == naive(text, 10, 4), s"doc $id, len ${text.length}")
    }
  }

  test("winnowDocs kernel == winnowSelect Column form (distinct hash " +
      "sets, both short arms)") {
    import spark.implicits._
    val rng = new scala.util.Random(13)
    val docs = (1L to 40L).map { i =>
      val len = rng.nextInt(200)
      (i, (0 until len).map(_ => ('a' + rng.nextInt(5)).toChar).mkString)
    }
    val df = docs.toDF("id", "text")
    val kernel = Dedup.winnowDocs(df, col("id"), col("text"), 10, 4)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    val column = df
      .select(col("id"), Dedup.winnowSelect(col("text"), 10, 4).as("fps"))
      .filter(size(col("fps")) > 0)
      .collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Long](1).map(_ / (1L << 20)).toSet).toMap
    assert(kernel == column)
  }

  test("kernel == naive across random (k, w) parameter combinations") {
    import spark.implicits._
    val rng = new scala.util.Random(29)
    val docs = (1L to 15L).map { i =>
      val len = rng.nextInt(80)
      (i, (0 until len).map(_ => ('a' + rng.nextInt(3)).toChar).mkString)
    }
    val df = docs.toDF("id", "text")
    for ((k, w) <- Seq((3, 2), (5, 9), (12, 4), (25, 3))) {
      val kernel = Dedup.winnowDocs(df, col("id"), col("text"), k, w)
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
      docs.foreach { case (id, text) =>
        val expect = naive(text, k, w).map(_ / (1L << 20))
        assert(kernel.getOrElse(id, Set.empty[Long]) == expect,
          s"doc $id len ${text.length} k=$k w=$w")
      }
    }
  }

  test("winnowPairs: a shared substring of length >= k + w - 1 is always " +
      "detected; unrelated docs are not") {
    import spark.implicits._
    val shared = "the quick brown fox jumps over the lazy dog again"
    val docs = Seq(
      (1L, s"prefix one $shared suffix alpha"),
      (2L, s"completely different lead-in $shared and another tail"),
      (3L, "nothing in common with anybody here at all, not a bit"),
      (4L, "and this one is also entirely unlike the others, yes"))
    // k=20, w=8: shared run of 49 chars >= 20+8-1=27 -> guaranteed hit
    val pairs = Dedup.winnowPairs(docs.toDF("id", "text"),
        col("id"), col("text"), k = 20, w = 8, minShared = 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("winnowContamination flags a verbatim quote of length >= k+w-1 " +
      "and scores clean docs zero; broadcast and shuffle arms agree") {
    import spark.implicits._
    val quote = "for score and seven years ago our fathers brought forth"
    val test = Seq((900L, s"benchmark question: $quote end"))
      .toDF("id", "text")
    val docs = Seq(
      (1L, s"some training text that quotes $quote in the middle of it"),
      (2L, "completely original content with no overlap whatsoever here"),
      (3L, "ab")) // shorter than k: absent
      .toDF("id", "text")
    val out = Dedup.winnowContamination(
        docs, col("id"), col("text"), test, col("id"), col("text"),
        k = 20, w = 8)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out(1L)._2 >= 1L, s"quote not detected: $out")
    assert(out(2L)._2 == 0L)
    assert(!out.contains(3L))
  }

  test("winnowPairs counts shared fingerprints and enforces minShared") {
    import spark.implicits._
    val a = "aaaaaaaaaaaaaaaaaaaaaaaaaaaaaa"
    val docs = Seq((1L, a + "xyzzy"), (2L, a + "qwert"))
    val withCounts = Dedup.winnowPairs(docs.toDF("id", "text"),
        col("id"), col("text"), k = 10, w = 4, minShared = 1L)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2)))
      .toMap
    assert(withCounts.contains((1L, 2L)) && withCounts((1L, 2L)) >= 1L)
    val strict = Dedup.winnowPairs(docs.toDF("id", "text"),
        col("id"), col("text"), k = 10, w = 4,
        minShared = withCounts((1L, 2L)) + 1)
      .count()
    assert(strict == 0L)
  }
}
