package graft

import graft.dedup.Dedup
import graft.functions.Hashing
import graft.similarity.Similarity
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Reference pipelines, test use only: the capped member-struct
  * aggregate that the bucket walk (`graft.plans.BucketPairs`) replaced.
  * Each band bucket's `(id, payload)` members are gathered by a
  * `collect_list_capped` aggregate ([[cappedMemberGroups]]) and every
  * pair is verified over the collected list.
  *  - `minhashLsh`: typed `mapPartitions` kernels for the shingle sets
  *    and band keys, which `Dedup.minhashLsh` and
  *    `Dedup.corpusMinhashTable` run as Catalyst expressions;
  *  - `nearDupPairs`: `Similarity.nearDupPairs` as it ran before the
  *    walk, its cosine verify ([[verifyCosineGroups]]) included.
  * Both must emit the same rows, scores and metrics as the library.
  * These copies of the old helpers are references, not library code;
  * they share only the hash, signature, band-key and bucketing
  * definitions with the library.
  */
object InGroupVerifyReference {

  /** (id, vms): the distinct md5-mod shingle hashes, ascending. */
  def shingleDocs(
      df: DataFrame, idCol: Column, textCol: Column, k: Int): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    val base = df.select(idCol.as("id"), textCol.cast("string").as("__text"))
      .repartition(par, col("id"))
    val schema = StructType(Seq(
      base.schema("id"),
      StructField("vms", ArrayType(LongType, false), false)))
    base.mapPartitions { rows =>
      val md = java.security.MessageDigest.getInstance("MD5")
      rows.flatMap { r =>
        val text = r.getString(1)
        if (text == null || text.length < k) Iterator.empty
        else {
          val seen = new java.util.LinkedHashSet[String]()
          var i = 0
          while (i <= text.length - k) { seen.add(text.substring(i, i + k)); i += 1 }
          Iterator(Row(r.get(0), Hashing.hashGramSet(seen, md).toIndexedSeq))
        }
      }
    }(RowEncoder.encoderFor(schema))
  }

  private def bandKeys(vms: Seq[Long], numHashes: Int, bands: Int): Seq[String] = {
    val sig = Dedup.minhashSignature(vms.toArray, numHashes)
    (0 until bands).map(b => Dedup.bandKey(sig, b, numHashes / bands))
  }

  /** (id, vms, bucket): `bands` rows per doc. */
  def bandBucketsWide(
      docs: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    val in = docs.select(col("id"), col("vms"))
    val schema = StructType(Seq(
      in.schema("id"),
      StructField("vms", ArrayType(LongType, false), false),
      StructField("bucket", StringType, false)))
    in.mapPartitions { rows =>
      rows.flatMap { r =>
        val vms = r.getSeq[Long](1)
        bandKeys(vms, numHashes, bands).iterator.map(Row(r.get(0), vms, _))
      }
    }(RowEncoder.encoderFor(schema))
  }

  /** (id, vms, buckets): one row per corpus doc. */
  def corpusMinhashTable(
      corpus: DataFrame, corpId: Column, corpText: Column,
      shingleK: Int, numHashes: Int, bands: Int): DataFrame = {
    val sigs = shingleDocs(corpus, corpId, corpText, shingleK)
    val schema = StructType(Seq(
      sigs.schema("id"),
      StructField("vms", ArrayType(LongType, false), false),
      StructField("buckets", ArrayType(StringType, false), false)))
    sigs.mapPartitions { rows =>
      rows.map { r =>
        val vms = r.getSeq[Long](1)
        Row(r.get(0), vms, bandKeys(vms, numHashes, bands))
      }
    }(RowEncoder.encoderFor(schema))
  }

  /** (id1, id2, jaccard) — the same contract as `Dedup.minhashLsh`, with
    * the same `graft.minhash` metric. */
  def minhashLsh(
      df: DataFrame, idCol: Column, textCol: Column,
      shingleK: Int, numHashes: Int, bands: Int,
      threshold: Double, maxBucketSize: Int, parts: Int): DataFrame = {
    val docs = shingleDocs(df, idCol, textCol, shingleK)
    val banded = bandBucketsWide(docs, numHashes, bands)
      .repartition(parts, col("bucket"))
    val grouped = cappedMemberGroups(
      banded, struct(col("id"), col("vms")), col("id"),
      maxBucketSize, "graft.minhash")
    verifyGroups(grouped, docs.schema("id").dataType, threshold).distinct()
  }

  /** One grouping shuffle of (bucket, ...) rows: each bucket of two or
    * more rows as its capped `member` list, or as the `[argmin, argmax]`
    * members by `idOrder` when it has more than `maxBucketSize` rows.
    * Capped and active bucket counts are observed as `metricName`. */
  def cappedMemberGroups(
      banded: DataFrame, member: Column, idOrder: Column,
      maxBucketSize: Int, metricName: String): DataFrame =
    banded.groupBy("bucket")
      .agg(
        call_function("collect_list_capped", member,
          lit(maxBucketSize)).as("ids"),
        count(lit(1)).as("n"),
        min_by(member, idOrder).as("minm"),
        max_by(member, idOrder).as("maxm"))
      .filter(col("n") >= 2)
      .observe(metricName,
        sum(when(col("n") > maxBucketSize, 1L).otherwise(0L))
          .as("capped_buckets"),
        count(lit(1)).as("active_buckets"))
      .select(
        when(col("n") <= maxBucketSize, col("ids"))
          .otherwise(array(col("minm"), col("maxm"))).as("ids"))

  /** (id1, id2, sim) — `Similarity.nearDupPairs` as it ran before the
    * walk, at an explicit (bits, tables) and `parts` grouping
    * partitions. */
  def nearDupPairs(
      corpus: DataFrame, idCol: String, vecCol: String, dim: Int,
      threshold: Double, bits: Int, tables: Int,
      maxBucketSize: Int, parts: Int): DataFrame = {
    val c = corpus.select(col(idCol).as("id"), col(vecCol).as("v"))
      .repartition(corpus.sparkSession.sparkContext.defaultParallelism,
        col("id"))
    val banded = Similarity.withBucketsKernel(c, "v", tables, bits, dim)
      .select(col("id"), col("v"), col("bucket"))
      .repartition(parts, col("bucket"))
    val grouped = cappedMemberGroups(banded, struct(col("id"), col("v")),
      col("id"), maxBucketSize, "graft.neardup")
    verifyCosineGroups(grouped, c.schema("id").dataType, threshold)
      .distinct()
  }

  /** Per bucket: sort the (id, v) members by id, compute each member's
    * norm once and emit every pair whose cosine is at least `threshold`,
    * with `Similarity.withCosineKernel`'s arithmetic. */
  private def verifyCosineGroups(
      groups: DataFrame, idType: DataType, threshold: Double): DataFrame = {
    Dedup.requireOrderableId(idType, "nearDupPairs in-group verify")
    val outSchema = StructType(Seq(
      StructField("id1", idType, false),
      StructField("id2", idType, false),
      StructField("sim", DoubleType, false)))
    implicit val anyOrd: Ordering[Any] =
      (a: Any, b: Any) => a.asInstanceOf[Comparable[Any]].compareTo(b)
    groups.select(col("ids")).mapPartitions { rows =>
      rows.flatMap { r =>
        val ms = r.getSeq[Row](0).sortBy(_.get(0))
        val ids = ms.map(_.get(0))
        val vecs = ms.map(_.getSeq[Float](1))
        val norms = vecs.map { a =>
          var na = 0.0; var t = 0
          while (t < a.length) { val x = a(t).toDouble; na += x * x; t += 1 }
          math.sqrt(na)
        }
        for {
          i <- ids.indices.iterator
          j <- (i + 1) until ids.length
          sim = {
            val a = vecs(i); val b = vecs(j)
            val n = math.min(a.length, b.length)
            var dot = 0.0; var t = 0
            while (t < n) { dot += a(t).toDouble * b(t).toDouble; t += 1 }
            dot / (norms(i) * norms(j))
          }
          if sim >= threshold
        } yield Row(ids(i), ids(j), sim)
      }
    }(RowEncoder.encoderFor(outSchema))
  }

  /** Per bucket: sort the (id, vms) members by id and emit every pair at
    * or above `threshold`. */
  private def verifyGroups(
      groups: DataFrame, idType: DataType, threshold: Double): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("id1", idType, false),
      StructField("id2", idType, false),
      StructField("jaccard", DoubleType, false)))
    implicit val anyOrd: Ordering[Any] =
      (a: Any, b: Any) => a.asInstanceOf[Comparable[Any]].compareTo(b)
    groups.select(col("ids")).mapPartitions { rows =>
      rows.flatMap { r =>
        val ms = r.getSeq[Row](0).sortBy(_.get(0))
        val ids = ms.map(_.get(0))
        val sets = ms.map(_.getSeq[Long](1))
        for {
          i <- ids.indices.iterator
          j <- (i + 1) until ids.length
          jac = jaccard(sets(i), sets(j))
          if jac >= threshold
        } yield Row(ids(i), ids(j), jac)
      }
    }(RowEncoder.encoderFor(outSchema))
  }

  private def jaccard(a: Seq[Long], b: Seq[Long]): Double = {
    var p = 0; var q = 0; var common = 0
    while (p < a.length && q < b.length) {
      val xa = a(p); val yb = b(q)
      if (xa == yb) { common += 1; p += 1; q += 1 }
      else if (xa < yb) p += 1
      else q += 1
    }
    common.toDouble / (a.length + b.length - common)
  }
}
