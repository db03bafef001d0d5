package graft.plans

import graft.{InGroupVerifyReference, SparkSpec}
import graft.dedup.Dedup
import graft.util.Observed
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Differential spec: `Dedup.minhashLsh`'s Catalyst-row pipeline
  * (`minhash_shingles`, `minhash_band_keys`, `BucketPairs`) against
  * the external-`Row` reference it replaced ([[InGroupVerifyReference]]).
  * Rows, `jaccard` bits, the `graft.minhash` metric and the output schema
  * (nullability included) must all be equal.
  */
class MinhashKernelsSpec extends SparkSpec {

  private val (shingleK, numHashes, bands) = (8, 12, 3)
  private val clusterText =
    "the quick brown fox jumps over the lazy dog again and again"

  private def fixture: DataFrame =
    spark.read.parquet(sf("sf0.001") + "/documents.parquet")
      .select(col("doc_id"), col("text"))

  /** Pair rows with their jaccard as raw bits, in a stable order. */
  private def bits(df: DataFrame): Seq[(Any, Any, Long)] = df.collect().toSeq
    .map(r => (r.get(0), r.get(1),
      java.lang.Double.doubleToRawLongBits(r.getDouble(2))))
    .sortBy(t => (t._1.toString, t._2.toString, t._3))

  /** The library and the reference agree at 1 and 7 grouping
    * partitions, and the library's own sizing gives the same rows. */
  private def agree(df: DataFrame, threshold: Double,
      maxBucketSize: Int): Seq[(Any, Any, Long)] = {
    val docs = Dedup.shingleDocs(df, col("doc_id"), col("text"), shingleK)
    val results = Seq(1, 7).map { parts =>
      val got = Dedup.bucketPairs(docs, numHashes, bands, threshold,
        maxBucketSize, parts)
      val want = InGroupVerifyReference.minhashLsh(df, col("doc_id"),
        col("text"), shingleK, numHashes, bands, threshold, maxBucketSize,
        parts)
      val rows = bits(got)
      assert(rows == bits(want), s"rows differ at $parts partitions")
      assert(got.schema == want.schema)
      assert(Observed.metric(got, "graft.minhash") ==
        Observed.metric(want, "graft.minhash"),
        s"graft.minhash differs at $parts partitions")
      rows
    }
    assert(results.distinct.size == 1)
    assert(bits(Dedup.minhashLsh(df, col("doc_id"), col("text"), shingleK,
      numHashes, bands, threshold, maxBucketSize)) == results.head)
    results.head
  }

  test("minhashLsh == the in-group reference on fixture docs plus an " +
      "over-cap cluster") {
    import spark.implicits._
    val cluster = (1L to 15L)
      .map(i => (1000000L + i, clusterText)).toDF("doc_id", "text")
    val rows = agree(fixture.unionByName(cluster), 0.3, 10)
    assert(rows.exists(_._1 != 1000001L))
    assert(rows.exists(r => r._1 == 1000001L && r._2 == 1000015L))
    // every bucket under the cap: no representative pairs
    val uncapped = agree(fixture, 0.3, Int.MaxValue)
    assert(uncapped.nonEmpty)
  }

  test("String ids order pairs in UTF-16 order and pick over-cap " +
      "representatives in byte order") {
    import spark.implicits._
    // U+1F600 is a surrogate pair (D83D DE00) in UTF-16, so it sorts
    // below U+E000..U+FFFF there, but its UTF-8 bytes (F0 ..) sort above
    // theirs (EE .., EF ..)
    val prefixes = Seq("\uD83D\uDE00", "\uE000", "\uFFFF", "a", "\uFFFD")
    val docs = fixture.select(
      concat(element_at(array(prefixes.map(lit): _*),
        (col("doc_id") % prefixes.size + 1).cast("int")),
        col("doc_id").cast("string")).as("doc_id"),
      col("text"))
    val cluster = Seq("\uE000x", "\uD83D\uDE00y", "az", "\uFFFFw",
      "\uD83D\uDE00\uD83D\uDE01", "\uFFFDq")
      .map(id => (id, clusterText)).toDF("doc_id", "text")
    val rows = agree(docs.unionByName(cluster), 0.3, 4)
    // the cluster's buckets are over the cap: min and max by bytes
    assert(rows.contains(("az", "\uD83D\uDE00\uD83D\uDE01",
      java.lang.Double.doubleToRawLongBits(1.0))))
    assert(rows.forall { case (a, b, _) =>
      a.asInstanceOf[String].compareTo(b.asInstanceOf[String]) <= 0 })
    // under the cap, every pair of the cluster in UTF-16 order
    val all = agree(cluster, 0.3, 10)
    assert(all.length == 15)
    assert(all.contains(("\uD83D\uDE00y", "\uE000x",
      java.lang.Double.doubleToRawLongBits(1.0))))
  }

  test("duplicate ids, null, short and empty texts, and an empty input") {
    import spark.implicits._
    val edge = Seq[(java.lang.Long, String)](
      (1L, clusterText), (1L, clusterText + " and more"), (2L, clusterText),
      (3L, null), (4L, "short"), (5L, ""), (6L, clusterText.take(8)),
      (7L, clusterText.take(8))).toDF("doc_id", "text")
    val rows = agree(edge, 0.3, 10)
    assert(rows.exists(r => r._1 == 1L && r._2 == 1L))
    assert(rows.exists(r => r._1 == 6L && r._2 == 7L))
    assert(agree(edge.filter(lit(false)), 0.3, 10).isEmpty)
    assert(agree(edge.filter(col("doc_id") >= 3L), 0.3, 10)
      .forall(r => r._1 == 6L && r._2 == 7L))
  }

  test("corpusMinhashTable and shingleDocs == the external-Row kernels") {
    val df = fixture.limit(80)
    val docs = Dedup.shingleDocs(df, col("doc_id"), col("text"), shingleK)
    def same(got: DataFrame, want: DataFrame): Unit = {
      assert(got.schema == want.schema)
      val (g, w) = (got.collect().toSeq, want.collect().toSeq)
      def key(r: Row) = r.toSeq.map(String.valueOf).mkString("|")
      assert(g.nonEmpty && g.sortBy(key).map(key) == w.sortBy(key).map(key))
    }
    same(Dedup.corpusMinhashTable(df, col("doc_id"), col("text"), shingleK,
        numHashes, bands),
      InGroupVerifyReference.corpusMinhashTable(df, col("doc_id"),
        col("text"), shingleK, numHashes, bands))
    same(docs, InGroupVerifyReference.shingleDocs(df, col("doc_id"),
      col("text"), shingleK))
  }
}
