package graft

import graft.dedup.Dedup
import graft.ops.Sizing
import graft.similarity.Similarity
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Reference pipelines, test use only: the capped-aggregate + exploded
  * pair shape that the bucket walk (`graft.plans.BucketPairs`) replaced.
  * Each bucket's ids are gathered by a `collect_list_capped` aggregate
  * ([[cappedBucketGroups]], or [[crossSideGroups]] per side), every
  * candidate pair is emitted ([[emitPairs]], [[emitCrossPairs]]), and
  * the exact check re-joins both members' payloads ([[verifyJaccard]]
  * for MinHash). `minhashLsh` and `nearDupPairs` are checked against the
  * joined shape; `simhashPairs`, `winnowPairs`, `semDedupPairs`,
  * `minhashLshAgainst`, `minhashLshAgainstPrepared` and
  * `semDedupAgainst` against exactly the pipelines they ran before the
  * walk. These copies of the old helpers are references, not library
  * code.
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
      bandBuckets(docs, numHashes, bands), maxBucketSize,
      "graft.minhash")
    val pairs = emitPairs(grouped, docs.schema("id").dataType)
      .distinct()
    verifyJaccard(pairs, docs, docs, threshold,
      jaccardBuildParts(df.count(), df.sparkSession))
  }

  /** (id, bucket): the `bands` LSH band keys of each (id, vms) row. */
  def bandBuckets(docs: DataFrame, numHashes: Int, bands: Int): DataFrame =
    docs.select(col("id"), explode(call_function("minhash_band_keys",
      col("vms"), lit(numHashes), lit(bands))).as("bucket"))

  /** Build-side partition count of [[verifyJaccard]]'s joins: 8 KB per
    * document row at 64 MB per task, floored at the session parallelism. */
  def jaccardBuildParts(docRows: Long, spark: SparkSession): Int =
    Sizing.groupingPartitions(docRows, 8L * 1024,
      spark.sparkContext.defaultParallelism, targetBytesPerTask = 64L << 20)

  /** (id1, id2, jaccard) of each candidate pair at or over `threshold`:
    * id1's hash set joined from `docs1`, id2's from `docs2`, each by a
    * `shuffle_hash` join `buildParts` wide. An id with several rows is
    * joined with each of them. */
  def verifyJaccard(pairs: DataFrame, docs1: DataFrame, docs2: DataFrame,
      threshold: Double, buildParts: Int): DataFrame = {
    val joined = pairs
      .join(docs1.select(col("id").as("id1"), col("vms").as("sh1"))
        .repartition(buildParts, col("id1"))
        .hint("shuffle_hash"), "id1")
      .join(docs2.select(col("id").as("id2"), col("vms").as("sh2"))
        .repartition(buildParts, col("id2"))
        .hint("shuffle_hash"), "id2")
      .select("id1", "id2", "sh1", "sh2")
    val schema = StructType(Seq(
      joined.schema("id1"), joined.schema("id2"),
      StructField("jaccard", DoubleType, false)))
    joined.mapPartitions { rows =>
      rows.flatMap { r =>
        val a = r.getSeq[Long](2)
        val b = r.getSeq[Long](3)
        var i = 0; var j = 0; var common = 0
        while (i < a.length && j < b.length) {
          val x = a(i); val y = b(j)
          if (x == y) { common += 1; i += 1; j += 1 }
          else if (x < y) i += 1
          else j += 1
        }
        val jac = common.toDouble / (a.length + b.length - common)
        if (jac >= threshold) Iterator(Row(r.get(0), r.get(1), jac))
        else Iterator.empty
      }
    }(RowEncoder.encoderFor(schema))
  }

  /** One grouping shuffle of the `increment` side's and the corpus
    * side's (bucket, id) rows: each bucket with a non-null id on both
    * sides as its two capped id lists, or as `[min id]` each when either
    * side has more than `maxBucketSide` non-null ids. Capped and active
    * bucket counts are observed as `metricName`. */
  def crossSideGroups(
      incBanded: DataFrame, corpBanded: DataFrame, maxBucketSide: Int,
      metricName: String): DataFrame = {
    val tagged = incBanded.select(col("bucket"), col("id"))
      .withColumn("side", lit("i"))
      .unionByName(corpBanded.select(col("bucket"), col("id"))
        .withColumn("side", lit("c")))
    val iId = when(col("side") === "i", col("id"))
    val cId = when(col("side") === "c", col("id"))
    tagged.groupBy("bucket")
      .agg(
        call_function("collect_list_capped", iId, lit(maxBucketSide))
          .as("i_ids"),
        call_function("collect_list_capped", cId, lit(maxBucketSide))
          .as("c_ids"),
        count(iId).as("ni"),
        count(cId).as("nc"),
        min(iId).as("min_i"),
        min(cId).as("min_c"))
      .filter(col("ni") >= 1 && col("nc") >= 1)
      .observe(metricName,
        sum(when(col("ni") > maxBucketSide || col("nc") > maxBucketSide,
          1L).otherwise(0L)).as("capped_buckets"),
        count(lit(1)).as("active_buckets"))
      .select(
        when(col("ni") <= maxBucketSide && col("nc") <= maxBucketSide,
          col("i_ids")).otherwise(array(col("min_i"))).as("i_ids"),
        when(col("ni") <= maxBucketSide && col("nc") <= maxBucketSide,
          col("c_ids")).otherwise(array(col("min_c"))).as("c_ids"))
  }

  /** Cross product of each bucket's two id lists: (id1, id2) per pair. */
  def emitCrossPairs(groups: DataFrame, idType: DataType): DataFrame = {
    val pairSchema = StructType(Seq(
      StructField("id1", idType, false), StructField("id2", idType, false)))
    groups.select(col("i_ids"), col("c_ids")).mapPartitions { rows =>
      rows.flatMap { r =>
        val as = r.getSeq[Any](0)
        val bs = r.getSeq[Any](1)
        for { a <- as.iterator; b <- bs.iterator } yield Row(a, b)
      }
    }(RowEncoder.encoderFor(pairSchema))
  }

  /** The shared tail of the two `minhashLshAgainst` forms before the walk:
    * per-side groups, distinct cross pairs, the joined Jaccard verify. */
  private def crossSidePairs(
      incSigs: DataFrame, corpBanded: DataFrame, corpSigs: DataFrame,
      numHashes: Int, bands: Int, threshold: Double, maxBucketSide: Int,
      buildParts: Int): DataFrame = {
    val grouped = crossSideGroups(bandBuckets(incSigs, numHashes, bands),
      corpBanded, maxBucketSide, "graft.minhash_against")
    val pairs = emitCrossPairs(grouped, incSigs.schema("id").dataType)
      .distinct()
    verifyJaccard(pairs, incSigs, corpSigs, threshold, buildParts)
  }

  /** (id1 = increment id, id2 = corpus id, jaccard) —
    * `Dedup.minhashLshAgainst` as it ran before the walk, at an explicit
    * row count for its sizing. */
  def minhashLshAgainst(
      increment: DataFrame, incId: Column, incText: Column,
      corpus: DataFrame, corpId: Column, corpText: Column,
      shingleK: Int, numHashes: Int, bands: Int, threshold: Double,
      maxBucketSide: Int, rows: Long): DataFrame = {
    val inc = Dedup.shingleDocs(increment, incId, incText, shingleK)
      .select(col("id"), col("vms"))
    val corp = Dedup.shingleDocs(corpus, corpId, corpText, shingleK)
      .select(col("id"), col("vms"))
    crossSidePairs(inc, bandBuckets(corp, numHashes, bands), corp,
      numHashes, bands, threshold, maxBucketSide,
      jaccardBuildParts(rows, increment.sparkSession))
  }

  /** (id1, id2, jaccard) — `Dedup.minhashLshAgainstPrepared` as it ran
    * before the walk, at an explicit row count for its sizing. */
  def minhashLshAgainstPrepared(
      increment: DataFrame, incId: Column, incText: Column,
      prepared: DataFrame,
      shingleK: Int, numHashes: Int, bands: Int, threshold: Double,
      maxBucketSide: Int, rows: Long): DataFrame = {
    val inc = Dedup.shingleDocs(increment, incId, incText, shingleK)
      .select(col("id"), col("vms"))
    crossSidePairs(inc,
      prepared.select(col("id"), explode(col("buckets")).as("bucket")),
      prepared.select(col("id"), col("vms")),
      numHashes, bands, threshold, maxBucketSide,
      jaccardBuildParts(rows, increment.sparkSession))
  }

  /** (id, dup_of, sim) — `Similarity.semDedupAgainst` as it ran before
    * the walk, at an explicit `nlist`. */
  def semDedupAgainst(
      increment: DataFrame, base: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nlist: Int, trainIters: Int,
      maxCellSide: Int): DataFrame = {
    val par = base.sparkSession.sparkContext.defaultParallelism
    val cents = Similarity.trainKmeans(base, idCol, vecCol, nlist, trainIters)
    val inc = increment.select(col(idCol).as("id"), col(vecCol).as("v"))
      .repartition(par, col("id"))
    val bs = base.select(col(idCol).as("id"), col(vecCol).as("v"))
      .repartition(par, col("id"))
    def cells(side: DataFrame): DataFrame =
      Similarity.assignNearest(side, cents, 1, 1)
        .select(col("cent_id").as("bucket"), col("id"))
    val grouped = crossSideGroups(cells(inc), cells(bs), maxCellSide,
      "graft.semdedup_against")
    val pairs = emitCrossPairs(grouped, inc.schema("id").dataType)
    Similarity.withCosineKernel(pairs
      .join(inc.select(col("id").as("id1"), col("v").as("v1")), "id1")
      .join(bs.select(col("id").as("id2"), col("v").as("v2")), "id2"),
      "v1", "v2", "sim")
      .filter(col("sim") >= threshold)
      .groupBy(col("id1").as("id"))
      .agg(
        min(col("id2")).as("dup_of"),
        min_by(col("sim"), col("id2")).as("sim"))
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
