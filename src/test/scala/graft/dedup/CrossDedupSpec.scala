package graft.dedup

import graft.SparkSpec
import graft.util.Observed
import org.apache.spark.sql.functions._

class CrossDedupSpec extends SparkSpec {

  private def long(s: String, n: Int): String = Seq.fill(n)(s).mkString(" ")

  test("minhashLshAgainst finds increment-vs-corpus dups and NEVER " +
      "within-side pairs") {
    import spark.implicits._
    val a = long("alpha beta gamma delta epsilon zeta", 10)
    val b = long("one two three four five six seven", 10)
    val inc = Seq(
      (101L, a),                             // dup of corpus 1
      (102L, a + " tail"),                   // near-dup of corpus 1
      (103L, long("unrelated words here now", 10))).toDF("doc_id", "text")
    val corp = Seq(
      (1L, a),
      (2L, b),
      (3L, b + " extra")).toDF("doc_id", "text") // corpus-internal near-dups
    val out = Dedup.minhashLshAgainst(
        inc, col("doc_id"), col("text"),
        corp, col("doc_id"), col("text"),
        shingleK = 8, numHashes = 12, bands = 3, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // cross dups found; id1 is always an increment id, id2 a corpus id
    assert(out.contains((101L, 1L)))
    assert(out.contains((102L, 1L)))
    assert(out.forall { case (i, c) => i >= 100L && c < 100L })
    // the corpus-internal near-dup pair (2,3) must NOT surface
    assert(!out.exists { case (i, c) => c == 2L || c == 3L })
  }

  test("over-cap bucket (either side) yields the (min_i, min_c) " +
      "representative only") {
    import spark.implicits._
    val txt = long("repeat me endlessly", 12)
    val inc = (101L to 105L).map(i => (i, txt)).toDF("doc_id", "text")
    val corp = (1L to 5L).map(i => (i, txt)).toDF("doc_id", "text")
    val out = Dedup.minhashLshAgainst(
        inc, col("doc_id"), col("text"),
        corp, col("doc_id"), col("text"),
        shingleK = 8, numHashes = 12, bands = 3, threshold = 0.3,
        maxBucketSide = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == Set((101L, 1L)))
  }

  test("mismatched id types fail at plan time, not inside a task") {
    import spark.implicits._
    val inc = Seq((1L, "some text here")).toDF("doc_id", "text")
    val corp = Seq(("a", "some text here")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      Dedup.minhashLshAgainst(
        inc, col("doc_id"), col("text"),
        corp, col("doc_id"), col("text"))
    }
  }

  test("capped-bucket counts are observable via graft.minhash_against") {
    import spark.implicits._
    val txt = long("observe this bucket please", 12)
    val inc = (101L to 105L).map(i => (i, txt)).toDF("doc_id", "text")
    val corp = (1L to 5L).map(i => (i, txt)).toDF("doc_id", "text")
    val df = Dedup.minhashLshAgainst(
      inc, col("doc_id"), col("text"),
      corp, col("doc_id"), col("text"),
      shingleK = 8, numHashes = 12, bands = 3, threshold = 0.3,
      maxBucketSide = 3)
    df.collect()
    val m = Observed.metric(df, "graft.minhash_against")
    assert(m.getAs[Long]("capped_buckets") >= 1L)
    assert(m.getAs[Long]("active_buckets") >= m.getAs[Long]("capped_buckets"))
  }
}
