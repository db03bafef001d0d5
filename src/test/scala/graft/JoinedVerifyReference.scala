package graft

import graft.dedup.Dedup
import graft.similarity.Similarity
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Reference pipelines, test use only: the capped-aggregate + exploded
  * pair shape that the bucket walk (`graft.plans.BucketPairs`) replaced.
  * Each bucket's ids are gathered by a `collect_list_capped` aggregate
  * ([[cappedBucketGroups]]), every candidate pair is emitted
  * ([[emitPairs]]), and the exact check re-joins both members' payloads.
  * `minhashLsh` and `nearDupPairs` are checked against the joined shape;
  * `simhashPairs`, `winnowPairs` and `semDedupPairs` against exactly
  * the pipelines they ran before the walk. These copies of the old
  * helpers are references, not library code.
  */
object JoinedVerifyReference {

  /** One grouping shuffle of (bucket, id) rows: each bucket of two or
    * more rows as its capped id list, or as `[min id, max id]` when it
    * has more than `maxBucketSize` rows. Null ids count toward the size
    * but are not collected. Capped and active bucket counts are
    * observed as `metricName`. */
  def cappedBucketGroups(
      banded: DataFrame, maxBucketSize: Int, metricName: String): DataFrame =
    banded.groupBy("bucket")
      .agg(
        call_function("collect_list_capped", col("id"),
          lit(maxBucketSize)).as("ids"),
        count(lit(1)).as("n"),
        min(col("id")).as("min_id"),
        max(col("id")).as("max_id"))
      .filter(col("n") >= 2)
      .observe(metricName,
        sum(when(col("n") > maxBucketSize, 1L).otherwise(0L))
          .as("capped_buckets"),
        count(lit(1)).as("active_buckets"))
      .select(
        when(col("n") <= maxBucketSize, col("ids"))
          .otherwise(array(col("min_id"), col("max_id"))).as("ids"))

  /** All (id1 <= id2) pairs of each group's id list, ids sorted by their
    * external `Comparable` order. */
  def emitPairs(groups: DataFrame, idType: DataType): DataFrame = {
    Dedup.requireOrderableId(idType, "emitPairs")
    val pairSchema = StructType(Seq(
      StructField("id1", idType, false), StructField("id2", idType, false)))
    implicit val anyOrd: Ordering[Any] =
      (a: Any, b: Any) => a.asInstanceOf[Comparable[Any]].compareTo(b)
    groups.select(col("ids")).mapPartitions { rows =>
      rows.flatMap { r =>
        val ids = r.getSeq[Any](0).sorted
        for {
          i <- ids.indices.iterator
          j <- (i + 1) until ids.length
        } yield Row(ids(i), ids(j))
      }
    }(RowEncoder.encoderFor(pairSchema))
  }

  /** (id1, id2, jaccard) — the same contract as `Dedup.minhashLsh`. */
  def minhashLsh(
      df: DataFrame, idCol: Column, textCol: Column,
      shingleK: Int, numHashes: Int, bands: Int,
      threshold: Double, maxBucketSize: Int): DataFrame = {
    val docs = Dedup.shingleDocs(df, idCol, textCol, shingleK)
      .select(col("id"), col("vms"))
    val grouped = cappedBucketGroups(
      Dedup.bandBuckets(docs, numHashes, bands), maxBucketSize,
      "graft.minhash")
    val pairs = emitPairs(grouped, docs.schema("id").dataType)
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
    val grouped = cappedBucketGroups(
      buckets, maxBucketSize, "graft.neardup")
    val pairs = emitPairs(grouped, c.schema("id").dataType)
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

  /** (id1, id2, hamming) — `Dedup.simhashPairs` as it ran before the
    * walk: the banded ids grouped, the distinct pairs re-joined to the
    * (id, sh) table twice (cached there; not here, where the table
    * would stay pinned in the shared test session). An id with several
    * signatures is joined with each of them. */
  def simhashPairs(
      df: DataFrame, idCol: Column, textCol: Column,
      maxHamming: Int, bands: Int, maxBucketSize: Int): DataFrame = {
    val width = 64 / bands
    val sigs = Dedup.simhashSignatures(df, idCol, textCol)
    val bandCols = (0 until bands).map { b =>
      lit(b.toLong << 32) +
        shiftrightunsigned(col("sh"), (bands - 1 - b) * width)
          .bitwiseAND(lit((1L << width) - 1))
    }
    val banded = sigs.select(col("id"), explode(array(bandCols: _*)).as("bucket"))
    val grouped = cappedBucketGroups(banded, maxBucketSize, "graft.simhash")
    val pairs = emitPairs(grouped, sigs.schema("id").dataType).distinct()
    pairs
      .join(sigs.select(col("id").as("id1"), col("sh").as("sh1")), "id1")
      .join(sigs.select(col("id").as("id2"), col("sh").as("sh2")), "id2")
      .withColumn("hamming", bit_count(col("sh1").bitwiseXOR(col("sh2"))))
      .filter(col("hamming") <= maxHamming)
      .select("id1", "id2", "hamming")
  }

  /** (id1, id2, n_shared) — `Dedup.winnowPairs` as it ran before the
    * walk. */
  def winnowPairs(
      df: DataFrame, idCol: Column, textCol: Column,
      k: Int, w: Int, minShared: Long, maxBucketSize: Int): DataFrame = {
    val sel = Dedup.winnowDocs(df, idCol, textCol, k, w)
    val buckets = sel.select(col("id"), explode(col("fhs")).as("bucket"))
    val grouped = cappedBucketGroups(buckets, maxBucketSize, "graft.winnow")
    emitPairs(grouped, sel.schema("id").dataType)
      .groupBy("id1", "id2")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** (id1, id2, sim) — `Similarity.semDedupPairs` as it ran before the
    * walk, at an explicit `nlist`. */
  def semDedupPairs(
      corpus: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nlist: Int, trainIters: Int,
      maxClusterSize: Int): DataFrame = {
    val spark = corpus.sparkSession
    val c = corpus.select(col(idCol).as("id"), col(vecCol).as("v"))
      .repartition(spark.sparkContext.defaultParallelism, col("id"))
    val cents = Similarity.trainKmeans(corpus, idCol, vecCol, nlist, trainIters)
    val buckets = Similarity.assignNearest(c, cents, 1, 1)
      .select(col("id"), col("cent_id").as("bucket"))
    val grouped = cappedBucketGroups(buckets, maxClusterSize, "graft.semdedup")
    val pairs = emitPairs(grouped, c.schema("id").dataType)
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
