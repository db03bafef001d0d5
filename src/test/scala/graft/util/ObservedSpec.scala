package graft.util

import graft.SparkSpec
import graft.dedup.{Components, Dedup}
import graft.ops.KCore
import org.apache.spark.sql.functions._

/** `Observed.metric` under adaptive execution, whose empty-relation
  * propagation can drop an observed metric when the result is empty. */
class ObservedSpec extends SparkSpec {

  private def long(s: String, n: Int): String = Seq.fill(n)(s).mkString(" ")

  test("a minhashLshAgainst with no cross pair reads its bucket counts " +
      "over no rows: active 0, capped null") {
    import spark.implicits._
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    val inc = Seq((101L, long("alpha beta gamma delta epsilon", 10)))
      .toDF("doc_id", "text")
    val corp = Seq((1L, long("one two three four five six", 10)),
      (2L, long("seven eight nine ten eleven", 10))).toDF("doc_id", "text")
    val out = Dedup.minhashLshAgainst(inc, col("doc_id"), col("text"),
      corp, col("doc_id"), col("text"),
      shingleK = 8, numHashes = 12, bands = 3, threshold = 0.3)
    assert(out.collect().isEmpty)
    val m = Observed.metric(out, "graft.minhash_against")
    assert(m.getAs[Long]("active_buckets") == 0L)
    assert(m.isNullAt(m.fieldIndex("capped_buckets")))
    intercept[NoSuchElementException](Observed.metric(out, "graft.nothing"))
  }

  test("a kCore round with no edge left and a connectedComponents loop " +
      "over no pair run to their fixed point") {
    import spark.implicits._
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    // the 2-core of a path is empty: round 1 keeps node 2, its induced
    // edge set is empty, and rounds 2 and 3 count an empty keep set
    val path = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst").repartition(3)
    assert(KCore.kCore(path, col("src"), col("dst"), k = 2).collect().isEmpty)
    // maxDriverEdges -1 skips the driver fast path: the label loop runs
    val none = Seq((1L, 2L)).toDF("id1", "id2").filter(lit(false))
    assert(Components.connectedComponents(none, maxDriverEdges = -1L)
      .collect().isEmpty)
  }
}
