package graft.dedup

import graft.SparkSpec
import graft.functions.Hashing
import org.apache.spark.sql.functions._

class DecontaminateSpec extends SparkSpec {

  // plain-Scala model of the gram hash (first 15 md5 hex digits mod P)
  private def hashGram(g: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val d = md.digest(g.getBytes("UTF-8"))
    (java.nio.ByteBuffer.wrap(d, 0, 8).getLong >>> 4) % Hashing.MinhashP
  }

  test("tokenShingleDocs == plain-Scala n-gram model") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b c d e f"),     // 4 distinct 3-grams
      (2L, "x y x y x y x"),   // repeated grams dedupe: "x y x", "y x y"
      (3L, "one two"),         // < n tokens: emits nothing
      (4L, "p  q\tr   s")      // mixed whitespace
    ).toDF("doc_id", "text")
    val got = Decontaminate.tokenShingleDocs(df, col("doc_id"), col("text"), 3)
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toSeq)).toMap
    def model(toks: String*): Seq[Long] =
      toks.sliding(3).map(_.mkString(" ")).toSeq.distinct
        .map(hashGram).distinct.sorted
    assert(got == Map(
      1L -> model("a", "b", "c", "d", "e", "f"),
      2L -> model("x", "y", "x", "y", "x", "y", "x"),
      4L -> model("p", "q", "r", "s")))
  }

  test("contamination flags the leaked doc and only the leaked doc") {
    import spark.implicits._
    val leakedSpan = "the quick brown fox jumps over the lazy dog again"
    val docs = Seq(
      (1L, s"intro words here $leakedSpan trailing content words"),
      (2L, "completely clean document with its own distinct wording here ok")
    ).toDF("doc_id", "text")
    val test = Seq(
      (100L, s"benchmark question text $leakedSpan answer choice")
    ).toDF("doc_id", "text")
    val out = Decontaminate.contamination(
        docs, col("doc_id"), col("text"),
        test, col("doc_id"), col("text"), n = 10)
      .collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    // doc 1: the 10-token leaked span yields exactly one common 10-gram
    val (n1, c1, f1) = out(1L)
    assert(c1 == 1 && f1 == 1.0 / n1)
    // doc 2: zero overlap
    val (_, c2, f2) = out(2L)
    assert(c2 == 0L && f2 == 0.0)
  }

  test("contamination counts distinct grams once each") {
    import spark.implicits._
    // training doc repeats the leaked trigram; distinct-gram semantics
    // count it once in both n_shingles and n_contaminated
    val docs = Seq((1L, "s t u s t u s t u")).toDF("doc_id", "text")
    val test = Seq((9L, "s t u")).toDF("doc_id", "text")
    val out = Decontaminate.contamination(
        docs, col("doc_id"), col("text"),
        test, col("doc_id"), col("text"), n = 3)
      .collect().map(r => (r.getLong(1), r.getLong(2))).head
    // grams of doc 1: "s t u","t u s","u s t" (each repeated, deduped)
    assert(out == ((3L, 1L)))
  }
}
