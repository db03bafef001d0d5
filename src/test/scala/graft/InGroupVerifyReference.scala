package graft

import graft.dedup.Dedup
import graft.functions.Hashing
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The external-`Row` MinHash-LSH pipeline that `Dedup.minhashLsh`,
  * `Dedup.bandBuckets` and `Dedup.corpusMinhashTable` are checked
  * against: typed `mapPartitions` kernels for the shingle sets and band
  * keys, a `cappedMemberGroups` aggregate per band bucket and a verify
  * over each bucket's collected `(id, vms)` members. The library runs
  * the same steps as Catalyst expressions and a sort-based bucket walk;
  * both must emit the same rows, scores and metrics. It shares only the
  * hash, signature and band-key definitions with the library: test use
  * only.
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

  /** (id, bucket): `bands` rows per doc. */
  def bandBuckets(docs: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    val in = docs.select(col("id"), col("vms"))
    val schema = StructType(Seq(
      in.schema("id"), StructField("bucket", StringType, false)))
    in.mapPartitions { rows =>
      rows.flatMap { r =>
        bandKeys(r.getSeq[Long](1), numHashes, bands).iterator.map(Row(r.get(0), _))
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
    val grouped = Dedup.cappedMemberGroups(
      banded, struct(col("id"), col("vms")), col("id"),
      maxBucketSize, "graft.minhash")
    verifyGroups(grouped, docs.schema("id").dataType, threshold).distinct()
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
