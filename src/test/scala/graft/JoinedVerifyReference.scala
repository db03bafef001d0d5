package graft

import graft.dedup.Dedup
import graft.similarity.Similarity
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The exploded-pair + payload re-join pipelines that `Dedup.minhashLsh`
  * and `Similarity.nearDupPairs` verify against: every candidate pair is
  * emitted, distinct'ed, and re-joined to both members' payloads before
  * the exact check. The operators verify inside each bucket group
  * instead; both shapes must emit the same rows, scores included. Built
  * only from pieces the library itself uses elsewhere, so the reference
  * keeps no code of its own: test use only.
  */
object JoinedVerifyReference {

  /** (id1, id2, jaccard) — the same contract as `Dedup.minhashLsh`. */
  def minhashLsh(
      df: DataFrame, idCol: Column, textCol: Column,
      shingleK: Int, numHashes: Int, bands: Int,
      threshold: Double, maxBucketSize: Int): DataFrame = {
    val docs = Dedup.shingleDocs(df, idCol, textCol, shingleK)
      .select(col("id"), col("vms"))
    val grouped = Dedup.cappedBucketGroups(
      Dedup.bandBuckets(docs, numHashes, bands), maxBucketSize,
      "graft.minhash")
    val pairs = Dedup.emitPairs(grouped, docs.schema("id").dataType)
      .distinct()
    Dedup.verifyJaccard(pairs, docs, docs, threshold,
      Dedup.jaccardBuildParts(df.count(), df.sparkSession))
  }

  /** (id1, id2, sim) — the same contract as `Similarity.nearDupPairs`
    * at an explicit (bits, tables). */
  def nearDupPairs(
      corpus: DataFrame, idCol: String, vecCol: String, dim: Int,
      threshold: Double, bits: Int, tables: Int,
      maxBucketSize: Int): DataFrame = {
    val c = corpus.select(col(idCol).as("id"), col(vecCol).as("v"))
      .repartition(corpus.sparkSession.sparkContext.defaultParallelism,
        col("id"))
    val buckets = Similarity.withBucketsKernel(c, "v", tables, bits, dim)
      .select(col("id"), col("bucket"))
    val grouped = Dedup.cappedBucketGroups(
      buckets, maxBucketSize, "graft.neardup")
    val pairs = Dedup.emitPairs(grouped, c.schema("id").dataType)
      .distinct()
    Similarity.withCosineKernel(pairs
      .join(c.select(col("id").as("id1"), col("v").as("v1"))
        .hint("shuffle_hash"), "id1")
      .join(c.select(col("id").as("id2"), col("v").as("v2"))
        .hint("shuffle_hash"), "id2"),
      "v1", "v2", "sim")
      .filter(col("sim") >= threshold)
      .select("id1", "id2", "sim")
  }
}
