package graft.similarity

import graft.SparkSpec
import graft.multimodal.Multimodal
import graft.util.Observed
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {

  private lazy val emb = spark.read
    .parquet(sf("sf0.001") + "/embeddings.parquet")

  test("bruteForceTopK returns k ranked neighbors per query") {
    val q = emb.filter(col("vec_id") < 3)
    val out = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", 5)
      .collect()
    assert(out.length == 15)
    val perQuery = out.groupBy(_.getLong(0))
    perQuery.foreach { case (_, rows) =>
      val sims = rows.sortBy(_.getInt(3)).map(_.getDouble(2)).toSeq
      assert(sims == sims.sorted.reverse) // rank order = similarity order
    }
  }

  test("lshTopK neighbors are a subset-quality approximation of brute force") {
    val q = emb.filter(col("vec_id") < 5)
    val exact = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.lshTopK(emb, q, "vec_id", "embedding", 10,
      dim = 64, bits = 6, tables = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // sanity: produces results and overlaps exact top-k. The fixture
    // vectors are near-random (uniform similarity spectrum) — LSH's worst
    // case — so the bound is deliberately loose; real clustered embeddings
    // give far higher recall.
    assert(approx.nonEmpty)
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.05, s"LSH recall too low: $recall")
  }

  test("bucket kernel == Column signature formulation (all tables)") {
    val c = emb.select(col("vec_id"), col("embedding"))
    val kernel = Similarity.withBucketsKernel(c, "embedding", 3, 8, 64)
      .select("vec_id", "bucket")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val column = (0 until 3).map { t =>
      c.select(col("vec_id"),
        concat(lit(s"$t|"),
          Similarity.signature(col("embedding"), t, 8, 64)).as("bucket"))
    }.reduce(_ union _)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(kernel == column)
  }

  test("ivfTopK recall vs brute force; every result within probed lists") {
    val q = emb.filter(col("vec_id") < 5)
    val exact = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.ivfTopK(emb, q, "vec_id", "embedding", 10,
      nlist = 8, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(approx.nonEmpty)
    // probing half the lists (nprobe=4 of nlist=8) on near-random vectors
    // should still recover a solid fraction of true neighbors
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.3, s"IVF recall too low: $recall")
  }

  test("ivfTopK: k-means quantizer strictly beats the lowest-id sample") {
    // 100 queries for a stable recall estimate; nprobe=2 of nlist=8 so
    // quantizer quality (not probe breadth) dominates the measurement
    val q = emb.filter(col("vec_id") % 5 === 0)
    val exact = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallAt(iters: Int): Double = {
      val approx = Similarity.ivfTopK(emb, q, "vec_id", "embedding", 10,
        nlist = 8, nprobe = 2, trainIters = iters)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (exact intersect approx).size.toDouble / exact.size
    }
    val untrained = recallAt(0)
    val trained = recallAt(2)
    // measured on this fixture: 0.435 -> 0.467; the Lloyd iterations move
    // inverted lists onto the data's density instead of id order
    assert(trained > untrained,
      s"k-means quantizer did not improve recall: $trained <= $untrained")
    assert(trained >= 0.4, s"trained recall too low: $trained")
  }

  test("pqTopK: product-quantized recall vs exact, vs int8, and " +
      "trained-vs-seeded codebooks") {
    val q = emb.filter(col("vec_id") % 5 === 0) // 100 queries: stable recall
    val exact = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallOf(rows: Set[(Long, Long)]): Double =
      (exact intersect rows).size.toDouble / exact.size
    val int8 = recallOf(
      Similarity.quantizedTopK(emb, q, "vec_id", "embedding", 10)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    def pqAt(iters: Int): Double = recallOf(
      Similarity.pqTopK(emb, q, "vec_id", "embedding", 10,
        m = 8, ksub = 16, trainIters = iters)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    val seeded = pqAt(0)
    val trained = pqAt(2)
    info(f"recall@10 — int8: $int8%.3f, pq seeded: $seeded%.3f, " +
      f"pq trained: $trained%.3f")
    // PQ compresses 8x beyond int8 (8 B vs 64 B per vector): its recall
    // must be below int8's near-exact codes but far above chance
    // (10 of 500 random ids ≈ 0.02)
    assert(int8 > trained,
      s"int8 should out-recall the 8x-lossier PQ: $int8 <= $trained")
    assert(trained >= 0.2, s"trained PQ recall too low: $trained")
    // Lloyd refinement moves codebooks onto the data's density
    assert(trained > seeded,
      s"PQ training did not improve recall: $trained <= $seeded")
  }

  test("quantizedTopK: int8 codes keep high recall vs exact cosine") {
    val q = emb.filter(col("vec_id") < 5)
    val exact = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val quant = Similarity.quantizedTopK(emb, q, "vec_id", "embedding", 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(quant.size == exact.size)
    // int8 noise only swaps ranks where exact sims are nearly tied;
    // top-10 membership should survive almost untouched
    val recall = (exact intersect quant).size.toDouble / exact.size
    assert(recall >= 0.8, s"quantized recall too low: $recall")
  }

  test("nearDupPairs finds planted near-duplicates") {
    import spark.implicits._
    // two planted duplicate pairs among unrelated vectors
    def vec(seed: Int): Array[Float] =
      Array.tabulate(64)(i => math.sin(seed * 97 + i * 13).toFloat)
    val rows = Seq(
      (1L, vec(1)), (2L, vec(1)),                    // exact dup pair
      (3L, vec(3)), (4L, vec(3).updated(0, vec(3)(0) + 0.01f)), // near dup
      (5L, vec(5)), (6L, vec(6)), (7L, vec(7)))
    val df = rows.toDF("vec_id", "embedding")
    val pairs = Similarity.nearDupPairs(df, "vec_id", "embedding",
      dim = 64, threshold = 0.9, bits = 4, tables = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((3L, 4L)))
  }

  test("nearDupPairs caps hot buckets to a representative pair " +
      "(quadratic pair stage suppressed, cluster still surfaces)") {
    import spark.implicits._
    // 50 identical vectors: one dense bucket in every table. With the cap
    // below the bucket size, no per-pair work happens for the bucket —
    // but the cluster is NOT silently lost: each over-cap bucket emits
    // the deterministic (min id, max id) representative, which passes
    // cosine verify. With a permissive cap all C(50,2) pairs verify.
    val hot = Array.tabulate(64)(i => (i + 1).toFloat)
    val df = (1L to 50L).map(i => (i, hot)).toDF("vec_id", "embedding")
    val cappedDf = Similarity.nearDupPairs(df, "vec_id", "embedding",
      dim = 64, threshold = 0.9, bits = 4, tables = 2, maxBucketSize = 10)
    val capped = cappedDf
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == Set((1L, 50L))) // both tables' buckets agree on (min,max)
    // the recall loss is observable: one hot bucket per table was capped
    val metrics = Observed.metric(cappedDf, "graft.neardup")
    assert(metrics.getAs[Long]("capped_buckets") == 2L)
    val uncapped = Similarity.nearDupPairs(df, "vec_id", "embedding",
      dim = 64, threshold = 0.9, bits = 4, tables = 2, maxBucketSize = 1000)
    assert(uncapped.count() == 50L * 49 / 2)
  }

  test("nearDupPairs in-group verify is row-identical — sims included — " +
      "to the exploded-pair pipeline, over-cap buckets included") {
    import spark.implicits._
    // planted dup pairs + noise + a 31-member hot cluster that overflows
    // the cap: exercises both the capped-list pair arm and the
    // [min,max]-representative arm through BOTH pipelines
    def vec(seed: Int): Array[Float] =
      Array.tabulate(64)(i => math.sin(seed * 97 + i * 13).toFloat)
    val hot = Array.tabulate(64)(i => (i + 1).toFloat)
    val rows = Seq(
      (1L, vec(1)), (2L, vec(1)),
      (3L, vec(3)), (4L, vec(3).updated(0, vec(3)(0) + 0.01f)),
      (5L, vec(5)), (6L, vec(6)), (7L, vec(7))) ++
      (100L to 130L).map(i => (i, hot))
    val df = rows.toDF("vec_id", "embedding")
    def triples(out: org.apache.spark.sql.DataFrame) = out
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    val a = triples(Similarity.nearDupPairs(
      df, "vec_id", "embedding", dim = 64, threshold = 0.9,
      bits = 4, tables = 3, maxBucketSize = 10))
    val b = triples(graft.JoinedVerifyReference.nearDupPairs(
      df, "vec_id", "embedding", dim = 64, threshold = 0.9,
      bits = 4, tables = 3, maxBucketSize = 10))
    // exact double equality on sims — the kernels must be bit-identical
    assert(a == b)
    assert(a.exists(p => p._1 == 1L && p._2 == 2L))
    assert(a.exists(p => p._1 == 100L && p._2 == 130L)) // over-cap rep
  }

  test("nearDupPairs fails fast — at plan time, with the operator " +
      "named — on an id type with no natural order") {
    import spark.implicits._
    // binary ids: the external value is Array[Byte], which is not
    // Comparable — without the guard this surfaces as a task-time
    // ClassCastException inside the id1 < id2 sort. The in-group
    // verify and emitPairs (through the joined reference) each guard.
    val df = Seq((Array[Byte](1), Array.fill(8)(1.0f)),
                 (Array[Byte](2), Array.fill(8)(1.0f)))
      .toDF("vec_id", "embedding")
    val builds: Seq[() => org.apache.spark.sql.DataFrame] = Seq(
      () => Similarity.nearDupPairs(df, "vec_id", "embedding",
        dim = 8, threshold = 0.9, bits = 4, tables = 2),
      () => graft.JoinedVerifyReference.nearDupPairs(df, "vec_id",
        "embedding", dim = 8, threshold = 0.9, bits = 4, tables = 2,
        maxBucketSize = 1000))
    for (build <- builds) {
      val e = intercept[IllegalArgumentException](build())
      assert(e.getMessage.contains("binary"), e.getMessage)
      assert(e.getMessage.contains("id1 < id2"), e.getMessage)
    }
    // decimal ids DO have a natural order (BigDecimal is Comparable):
    // the guard must admit them and the pipeline must run
    val dec = Seq((BigDecimal(1), Array.fill(8)(1.0f)),
                  (BigDecimal(2), Array.fill(8)(1.0f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.nearDupPairs(dec, "vec_id", "embedding",
      dim = 8, threshold = 0.9, bits = 4, tables = 2).collect()
    assert(got.length == 1 && got.head.getDecimal(0).intValue == 1)
  }

  test("semDedup removes higher-id members of planted duplicate groups " +
      "and keeps everything else") {
    import spark.implicits._
    def vec(seed: Int): Array[Float] =
      Array.tabulate(64)(i => math.sin(seed * 97 + i * 13).toFloat)
    val rows = Seq(
      (1L, vec(1)), (2L, vec(1)),                    // exact dup pair
      (3L, vec(3)), (4L, vec(3).updated(0, vec(3)(0) + 0.01f)), // near dup
      (5L, vec(5)), (6L, vec(6)), (7L, vec(7)))
    val out = Similarity.semDedup(rows.toDF("vec_id", "embedding"),
      "vec_id", "embedding", threshold = 0.9, nlist = 2, trainIters = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out == Map(2L -> 1L, 4L -> 3L))
  }

  test("prototypicality: per-cell drop of the most-prototypical exact " +
      "rational fraction matches a brute-force model (nlist=1)") {
    import spark.implicits._
    def vec(seed: Int): Array[Float] =
      Array.tabulate(64)(i => math.sin(seed * 97 + i * 13).toFloat)
    val rows = (1 to 11).map(i => (i.toLong, vec(i)))
    val df = rows.toDF("vec_id", "embedding")
    // model: one Lloyd pass at nlist=1 -> centroid = exact fixed-point
    // mean of EVERY vector (trainKmeans's half-away-from-zero rounding
    // at 2^20, sum.toDouble / cnt / 2^20), then the same
    // float->double-per-term cosine fold as the assignment scan
    def fx(x: Double): Long =
      (if (x >= 0) math.floor(x * 1048576.0 + 0.5)
       else math.ceil(x * 1048576.0 - 0.5)).toLong
    val ce = Array.tabulate(64) { i =>
      rows.map(r => fx(r._2(i).toDouble)).sum.toDouble /
        rows.length / 1048576.0 }
    def cos(v: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < 64) {
        dot += v(i).toDouble * ce(i)
        na += v(i).toDouble * v(i); nb += ce(i) * ce(i); i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val ranked = rows.map { case (id, v) => (id, cos(v)) }
      .sortBy { case (id, s) => (-s, id) }
      .zipWithIndex.map { case ((id, s), i) => (id, 0L, s, i + 1L, 11L) }
    def run(num: Int, den: Int) = Similarity.prototypicality(
        df, "vec_id", "embedding", dropNum = num, dropDen = den,
        nlist = 1, trainIters = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getLong(3), r.getLong(4))).toSet
    // 11 * 1 div 4 = 2 dropped — exact integer rational, never a
    // float-times-count; sims/ranks bit-equal to the model
    assert(run(1, 4) == ranked.filter(_._4 > 2).toSet)
    // degenerate rationals: 0/1 keeps everything (full ranking), 1/1
    // drops every row
    assert(run(0, 1) == ranked.toSet)
    assert(run(1, 1).isEmpty)
  }

  test("prototypicality multi-cell: ranks are a 1..n_cell permutation " +
      "per cell and the drop count is per-cell exact") {
    import spark.implicits._
    def vec(seed: Int): Array[Float] =
      Array.tabulate(64)(i => math.sin(seed * 97 + i * 13).toFloat)
    val rows = (1 to 20).map(i => (i.toLong, vec(i % 5))) // 5 tight groups
    val out = Similarity.prototypicality(
        rows.toDF("vec_id", "embedding"), "vec_id", "embedding",
        dropNum = 1, dropDen = 3, nlist = 4, trainIters = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3),
        r.getLong(4)))
    assert(out.nonEmpty)
    out.groupBy(_._2).foreach { case (cell, members) =>
      val nCell = members.head._4
      assert(members.forall(_._4 == nCell), s"n_cell disagrees in $cell")
      val drop = nCell * 1 / 3
      assert(members.length == (nCell - drop).toInt,
        s"cell $cell kept ${members.length} of $nCell (drop $drop)")
      assert(members.map(_._3).sorted.toSeq ==
        ((drop + 1) to nCell).toSeq, s"cell $cell ranks not contiguous")
    }
  }

  test("clusterBalancedSample: hash-order membership matches a brute " +
      "model at nlist=1, under-cap cells keep everything, and the " +
      "sample is partitioning-invariant") {
    import spark.implicits._
    def vec(seed: Int): Array[Float] =
      Array.tabulate(64)(i => math.sin(seed * 97 + i * 13).toFloat)
    val rows = (1 to 17).map(i => (i.toLong, vec(i)))
    // model: one cell (nlist=1), keep the 6 smallest md5("id:cbs")
    // 13-hex unit hashes, rank in (hash asc, id asc) order
    def uh(id: Long): BigInt = {
      val d = java.security.MessageDigest.getInstance("MD5")
      val hex = d.digest(s"$id:cbs".getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
      BigInt(hex.take(13), 16)
    }
    val expected = rows.map(_._1).sortBy(id => (uh(id), id)).take(6)
      .zipWithIndex.map { case (id, i) => (0L, id, i + 1L, 17L) }.toSet
    for (parts <- Seq(1, 4)) {
      val got = Similarity.clusterBalancedSample(
          rows.toDF("vec_id", "embedding").repartition(parts),
          "vec_id", "embedding", perCell = 6, nlist = 1, trainIters = 1)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      assert(got == expected, s"parts=$parts")
    }
    // perCell >= n degenerates to the full corpus, every rank present
    val all = Similarity.clusterBalancedSample(
        rows.toDF("vec_id", "embedding"), "vec_id", "embedding",
        perCell = 100, nlist = 1, trainIters = 1)
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(all.map(_._1).toSet == rows.map(_._1).toSet)
    assert(all.map(_._2).sorted.toSeq == (1L to 17L).toSeq)
    // multi-cell: per-cell cap holds and under-cap cells keep all
    val grouped = (1 to 20).map(i => (i.toLong, vec(i % 5)))
    val out = Similarity.clusterBalancedSample(
        grouped.toDF("vec_id", "embedding"), "vec_id", "embedding",
        perCell = 3, nlist = 4, trainIters = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    out.groupBy(_._1).foreach { case (cell, members) =>
      val nCell = members.head._3
      assert(members.length == math.min(3L, nCell).toInt,
        s"cell $cell kept ${members.length} of $nCell")
    }
  }

  test("semDedup keep rule is single-hop min-id, not transitive " +
      "(a chain removes every non-head link, each blaming its neighbor)") {
    import spark.implicits._
    // unit-circle chain at 20 deg steps: cos(20) = 0.94 >= 0.9 links
    // neighbors, cos(40) = 0.77 < 0.9 does NOT link A-C directly
    def at(deg: Double): Array[Float] = {
      val r = math.toRadians(deg)
      Array.tabulate(64)(i =>
        if (i == 0) math.cos(r).toFloat
        else if (i == 1) math.sin(r).toFloat else 0f)
    }
    val df = Seq((1L, at(0)), (2L, at(20)), (3L, at(40)))
      .toDF("vec_id", "embedding")
    val out = Similarity.semDedup(df, "vec_id", "embedding",
      threshold = 0.9, nlist = 1, trainIters = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // 2 dups to 1; 3 is NOT within threshold of 1, so it blames 2 —
    // which is itself removed. Transitive semantics = Components'.
    assert(out == Map(2L -> 1L, 3L -> 2L))
  }

  test("semDedup caps hot cells to the representative pair; the loss " +
      "is observable") {
    import spark.implicits._
    val hot = Array.tabulate(64)(i => (i + 1).toFloat)
    val df = (1L to 50L).map(i => (i, hot)).toDF("vec_id", "embedding")
    val capped = Similarity.semDedup(df, "vec_id", "embedding",
      threshold = 0.9, nlist = 1, trainIters = 1, maxClusterSize = 10)
    val rows = capped.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(rows == Map(50L -> 1L)) // (min,max) representative only
    val m = Observed.metric(capped, "graft.semdedup")
    assert(m.getAs[Long]("capped_buckets") == 1L)
    val full = Similarity.semDedup(df, "vec_id", "embedding",
      threshold = 0.9, nlist = 1, trainIters = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(full == (2L to 50L).map(i => i -> 1L).toMap) // all blame id 1
  }

  test("ivfPqTopK with a single cell degenerates to pqTopK exactly " +
      "(ids and sims); with cells, results come from probed cells only") {
    val q = emb.filter(col("vec_id") < 5)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSet
    val flat = rows(Similarity.pqTopK(emb, q, "vec_id", "embedding", 10,
      m = 8, ksub = 16))
    val oneCell = rows(Similarity.ivfPqTopK(emb, q, "vec_id", "embedding",
      10, nlist = 1, nprobe = 1, m = 8, ksub = 16))
    assert(oneCell == flat)
    val probed = Similarity.ivfPqTopK(emb, q, "vec_id", "embedding", 10,
      nlist = 8, nprobe = 2, m = 8, ksub = 16)
    assert(probed.count() > 0)
    // probing ALL cells restores the flat scan's candidate space:
    // identical codes + ADC => identical top-k
    val all = rows(Similarity.ivfPqTopK(emb, q, "vec_id", "embedding", 10,
      nlist = 8, nprobe = 8, m = 8, ksub = 16))
      .map(t => (t._1, t._2))
    assert(all == flat.map(t => (t._1, t._2)))
  }

  test("residual IVF-PQ: deterministic across invocations; recall vs " +
      "exact is sane and at least flat-PQ-competitive on the fixture") {
    val q = emb.filter(col("vec_id") < 5)
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Similarity.bruteForceTopK(emb, q,
      "vec_id", "embedding", 10))
    val flat = pairs(Similarity.ivfPqTopK(emb, q, "vec_id", "embedding",
      10, nlist = 4, nprobe = 4, m = 8, ksub = 16))
    val res1 = pairs(Similarity.ivfPqTopK(emb, q, "vec_id", "embedding",
      10, nlist = 4, nprobe = 4, m = 8, ksub = 16, residual = true))
    val res2 = pairs(Similarity.ivfPqTopK(emb, q, "vec_id", "embedding",
      10, nlist = 4, nprobe = 4, m = 8, ksub = 16, residual = true))
    assert(res1 == res2) // bit-determinism across runs
    def recall(a: Set[(Long, Long)]) =
      (a intersect exact).size.toDouble / exact.size
    assert(recall(res1) >= 0.05, s"residual recall ${recall(res1)}")
    // residuals are smaller than raw vectors, so the same 16-entry
    // codebook quantizes them at least as well in practice; allow a
    // small fixture-noise slack rather than pinning superiority
    assert(recall(res1) >= recall(flat) - 0.15,
      s"residual ${recall(res1)} far below flat ${recall(flat)}")
  }

  test("semDedupAgainst flags increment vectors near base members only " +
      "(increment-internal duplicates are not compared)") {
    import spark.implicits._
    def vec(seed: Int): Array[Float] =
      Array.tabulate(64)(i => math.sin(seed * 97 + i * 13).toFloat)
    val base = Seq((10L, vec(1)), (20L, vec(2)), (30L, vec(3)))
      .toDF("vec_id", "embedding")
    val inc = Seq(
      (101L, vec(1)),   // dup of base 10
      (102L, vec(4)),   // clean
      (103L, vec(4)))   // clean vs BASE (dup of 102 must NOT flag it)
      .toDF("vec_id", "embedding")
    val out = Similarity.semDedupAgainst(inc, base,
        "vec_id", "embedding", threshold = 0.9, nlist = 2, trainIters = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out == Map(101L -> 10L))
  }

  test("semDedupAgainst caps a hot cell to one cross pair; the loss is " +
      "observable") {
    import spark.implicits._
    val hot = Array.tabulate(64)(i => (i + 1).toFloat)
    val base = (1L to 30L).map(i => (i, hot)).toDF("vec_id", "embedding")
    val inc = (101L to 130L).map(i => (i, hot)).toDF("vec_id", "embedding")
    val capped = Similarity.semDedupAgainst(inc, base,
      "vec_id", "embedding", threshold = 0.9, nlist = 1, trainIters = 1,
      maxCellSide = 5)
    val rows = capped.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(rows == Map(101L -> 1L)) // (min_i, min_c) representative
    val m = Observed.metric(capped, "graft.semdedup_against")
    assert(m.getAs[Long]("capped_buckets") == 1L)
  }

  test("semanticContamination flags corpus vectors near a test vector, " +
      "with the nearest test id as evidence; clean vectors pass") {
    import spark.implicits._
    def vec(seed: Int): Array[Float] =
      Array.tabulate(64)(i => math.sin(seed * 97 + i * 13).toFloat)
    val test = Seq((100L, vec(1)), (200L, vec(2)))
      .toDF("vec_id", "embedding")
    // clean docs are one-hot: cosine to any dense sin-vector is ~1/8
    def oneHot(d: Int): Array[Float] =
      Array.tabulate(64)(i => if (i == d) 1f else 0f)
    val corpus = Seq(
      (1L, vec(1)),                                   // exact copy of test 100
      (2L, vec(2).updated(0, vec(2)(0) + 0.01f)),     // near test 200
      (3L, oneHot(5)), (4L, oneHot(40)))              // clean
    val out = Similarity.semanticContamination(
        corpus.toDF("vec_id", "embedding"), "vec_id", "embedding",
        test, "vec_id", "embedding", threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out == Map(1L -> 100L, 2L -> 200L))
  }

  test("semanticContamination join arm emits exactly the broadcast arm's " +
      "rows, including sims and lower-test-id tie-breaks") {
    import spark.implicits._
    def vec(seed: Int): Array[Float] =
      Array.tabulate(16)(i => math.sin(seed * 97 + i * 13).toFloat)
    // test ids 5 and 7 share ONE vector: every corpus row nearest to it
    // ties exactly and must resolve to id 5 in both arms. Id 11 is a
    // zero-norm test vector: all its sims are NaN, so it must flag
    // nothing in either arm (the cell-routed arm drops it up-front).
    val test = Seq((5L, vec(3)), (7L, vec(3)), (9L, vec(4)),
        (11L, Array.fill(16)(0f)))
      .toDF("vec_id", "embedding")
    // corpus row 41 is zero-norm: NaN sims, must never appear
    val corpus = ((1L to 40L)
      .map(i => (i, vec((i % 6).toInt))) :+ (41L, Array.fill(16)(0f)))
      .toDF("vec_id", "embedding")
    def run(maxBroadcast: Long, thr: Double) =
      Similarity.semanticContamination(
        corpus, "vec_id", "embedding", test, "vec_id", "embedding",
        threshold = thr, maxBroadcastTest = maxBroadcast)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    val broadcastArm = run(maxBroadcast = 1000000L, thr = 0.2)
    val joinArm = run(maxBroadcast = 0L, thr = 0.2)
    assert(broadcastArm == joinArm) // bit-identical sims: same kernel
    assert(broadcastArm.nonEmpty)
    assert(broadcastArm.filter(_._3 > 0.999).forall(_._2 != 7L))
    assert(broadcastArm.forall(t => t._1 != 41L && t._2 != 11L))
    // tight threshold: the cell-routed arm prunes most cells and must
    // still equal the closure arm exactly
    assert(run(1000000L, 0.98) == run(0L, 0.98))
    // permissive threshold: nothing prunable, still exact
    assert(run(1000000L, -1.0) == run(0L, -1.0))
  }

  test("semanticContamination: cell-join arm AND chunked arm each equal " +
      "the broadcast arm exactly — the public router picks between them " +
      "by a fan-out estimate, so both are pinned directly") {
    import spark.implicits._
    def vec(seed: Int): Array[Float] =
      Array.tabulate(16)(i => math.sin(seed * 97 + i * 13).toFloat)
    // ids 5 and 7 share a vector (lowest-id tie-break must hold even
    // when the chunked arm hash-routes them to DIFFERENT chunks and
    // the tie resolves in the cross-chunk fold, not the kernel)
    val test = Seq((5L, vec(3)), (7L, vec(3)), (9L, vec(4)),
        (12L, vec(5)), (15L, vec(1)))
      .toDF("vec_id", "embedding")
    val corpus = (1L to 40L).map(i => (i, vec((i % 6).toInt)))
      .toDF("vec_id", "embedding")
    val c = corpus.select(col("vec_id").as("id"),
      col("embedding").as("v"))
    val tdf = test.select(col("vec_id").cast("long").as("test_id"),
      col("embedding").as("tv"))
    def norm(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    for (thr <- Seq(0.2, 0.98, -1.0)) {
      val bcast = norm(Similarity.semanticContamination(
        corpus, "vec_id", "embedding", test, "vec_id", "embedding", thr))
      val (a, cand, cells) =
        Similarity.contaminationRouting(c, tdf, thr, 5L)
      assert(cells.nonEmpty)
      val cell = norm(Similarity.cellArmScore(a, cand, thr))
      a.unpersist()
      // maxBroadcastTest=2 over 5 test rows -> 3 hash chunks
      val chunked = norm(
        Similarity.contaminationChunked(c, tdf, 5L, 2L, thr))
      assert(cell == bcast, s"cell arm diverged at thr=$thr")
      assert(chunked == bcast, s"chunked arm diverged at thr=$thr")
      assert(thr > 0.9 || bcast.nonEmpty)
    }
  }

  test("assignNearest pruned branch-and-bound scan is bit-identical to " +
      "the flat argmax — valid sims, cid tie-breaks, NaN rows, " +
      "degenerate centroids, n=1 and n=4") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    // 96 centroids (>= the 64-centroid pruning gate), including a
    // zero-norm one and an exact duplicate pair (cid tie-break bait)
    val base = Array.tabulate(94)(i =>
      (i.toLong, Array.fill(8)(rnd.nextGaussian())))
    val dup = (94L, base(3)._2.clone())
    val zero = (95L, Array.fill(8)(0.0))
    val cents = base ++ Array(dup, zero)
    // rows: random, exact centroid copies (ties), and one zero-norm
    val rows = (Array.tabulate(200)(i =>
        (i.toLong, Array.fill(8)(rnd.nextGaussian().toFloat))) ++
      Array((200L, base(3)._2.map(_.toFloat)),
            (201L, Array.fill(8)(0f))))
      .toSeq.toDF("id", "v")
    for (n <- Seq(1, 4)) {
      val flat = Similarity.assignNearest(rows, cents, 1, n,
          prune = false)
        .collect().map(r => (r.getLong(0), r.getLong(2))).sorted.toSeq
      val pruned = Similarity.assignNearest(rows, cents, 1, n,
          prune = true)
        .collect().map(r => (r.getLong(0), r.getLong(2))).sorted.toSeq
      assert(pruned == flat, s"pruned scan diverged at n=$n")
      assert(flat.length == rows.count() * n)
    }
  }

  test("semanticContamination ROUTER: a clustered test set takes the " +
      "cell-join arm, a uniform one the chunked arm — observable from " +
      "the returned plan (cell arm is eagerly checkpointed to a " +
      "LogicalRDD; the chunked arm's plan carries the chunk Union)") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    def unit(seed: Int): Array[Float] = {
      val r = new scala.util.Random(seed)
      Array.fill(16)(r.nextGaussian().toFloat)
    }
    val corpus = (1L to 50L).map(i => (i, unit(i.toInt)))
      .toDF("vec_id", "embedding")
    // clustered: every test row is a tiny perturbation of ONE corpus
    // vector — cell radii are tiny, the sampled fan-out prunes
    val anchor = unit(7)
    val clustered = (1L to 300L).map { i =>
      (i, anchor.map(x => x + 0.001f * rnd.nextGaussian().toFloat))
    }.toDF("vec_id", "embedding")
    // uniform: isotropic — radii near pi/2, nothing prunes
    val uniform = (1L to 300L).map(i => (i, unit(1000 + i.toInt)))
      .toDF("vec_id", "embedding")
    def run(test: org.apache.spark.sql.DataFrame) =
      Similarity.semanticContamination(
        corpus, "vec_id", "embedding", test, "vec_id", "embedding",
        threshold = 0.9, maxBroadcastTest = 100L)
    val cellPlan = run(clustered).queryExecution.logical.toString
    val chunkedPlan = run(uniform).queryExecution.logical.toString
    assert(cellPlan.contains("LogicalRDD") && !cellPlan.contains("Union"),
      s"clustered set should take the (checkpointed) cell arm:\n$cellPlan")
    assert(chunkedPlan.contains("Union"),
      s"uniform set should take the chunked arm:\n$chunkedPlan")
    // and both arms still answer correctly through the router
    assert(run(clustered).collect().map(_.getLong(0)).toSet == Set(7L))
  }

  test("combinePartialsDistributed equals the driver fold — the k-means " +
      "cluster-scale combine path (element-wise associative long sums, " +
      "absent centroids stay zero)") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("cent", IntegerType, false),
      StructField("sums", ArrayType(LongType, false), false),
      StructField("cnt", LongType, false)))
    val rnd = new scala.util.Random(3)
    // 5 simulated partitions × sparse centroid hits over nlist=6;
    // centroid 4 never appears
    val rows = for {
      _ <- 1 to 5
      c <- Seq(0, 1, 2, 3, 5) if rnd.nextBoolean()
    } yield org.apache.spark.sql.Row(
      c, (1 to 4).map(_ => rnd.nextLong() % 1000000L).toIndexedSeq,
      (rnd.nextInt(50) + 1).toLong)
    val pdf = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toSeq, 3), schema)
    val (dSums, dCnts) = Similarity.combinePartialsDistributed(pdf, 6)
    // hand fold
    val eSums = Array.fill(6)(new Array[Long](4))
    val eCnts = new Array[Long](6)
    var seen = Array.fill(6)(false)
    rows.foreach { r =>
      val c = r.getInt(0)
      seen(c) = true
      r.getSeq[Long](1).zipWithIndex.foreach { case (s, i) =>
        eSums(c)(i) += s }
      eCnts(c) += r.getLong(2)
    }
    assert(dCnts.toSeq == eCnts.toSeq)
    (0 until 6).foreach { c =>
      if (seen(c)) assert(dSums(c).toSeq == eSums(c).toSeq, s"cent $c")
      else assert(dSums(c) == null && dCnts(c) == 0L)
    }
  }

  test("nearestIndexScanner pruned scan matches the flat strict-greater " +
      "index loop — duplicate centroids tie to the lowest index, " +
      "zero-norm rows return -1, degenerate centroids never win") {
    val rnd = new scala.util.Random(7)
    val cents = Array.tabulate(96)(i =>
      if (i == 50) Array.fill(8)(0.0) // degenerate: NaN to everything
      else Array.fill(8)(rnd.nextGaussian()))
    cents(70) = cents(10).clone() // exact duplicate: tie bait
    val pruned = Similarity.nearestIndexScanner(cents, prune = true)
    val flat = Similarity.nearestIndexScanner(cents, prune = false)
    val rows: Seq[Seq[Float]] =
      (1 to 300).map(_ => Seq.fill(8)(rnd.nextGaussian().toFloat)) ++
      Seq(cents(10).map(_.toFloat).toSeq, // exact hit on the dup pair
          Seq.fill(8)(0f))                // zero-norm: all sims NaN
    rows.foreach { v =>
      assert(pruned(v) == flat(v), s"diverged on $v")
    }
    assert(flat(cents(10).map(_.toFloat).toSeq) == 10) // lowest index
    assert(flat(Seq.fill(8)(0f)) == -1)
  }

  test("TIER-2 pruned scan (16384 centroids — past the HierMinNtop " +
      "gate, so the super-cells themselves are grouped and pruned) " +
      "stays bit-identical to the flat scan for both kernels: " +
      "nearestIndexScanner index ties and NaN rows, assignNearest " +
      "cid ties at n=1 and n=3") {
    import spark.implicits._
    val rnd = new scala.util.Random(19)
    // 16384 leaves -> ntop = 128 >= HierMinNtop = 96: past the
    // measured break-even, so the second tier engages; clustered
    // structure (32 true modes + noise) so tier-2 pruning actually
    // fires, plus the degenerate baits (zero-norm centroid, exact
    // duplicate pair)
    val modes = Array.fill(32)(Array.fill(8)(rnd.nextGaussian()))
    val cents = Array.tabulate(16384) { i =>
      if (i == 1000) Array.fill(8)(0.0)
      else {
        val m = modes(i % 32)
        m.map(_ + 0.05 * rnd.nextGaussian())
      }
    }
    cents(2070) = cents(17).clone() // duplicate: index/cid tie bait
    val prunedIdx = Similarity.nearestIndexScanner(cents, prune = true)
    val flatIdx = Similarity.nearestIndexScanner(cents, prune = false)
    val probes: Seq[Seq[Float]] =
      (1 to 100).map { _ =>
        val m = modes(rnd.nextInt(32))
        m.map(x => (x + 0.05 * rnd.nextGaussian()).toFloat).toSeq } ++
      Seq(cents(17).map(_.toFloat).toSeq, Seq.fill(8)(0f))
    probes.foreach { v =>
      assert(prunedIdx(v) == flatIdx(v), s"tier-2 scanner diverged on $v")
    }
    assert(flatIdx(cents(17).map(_.toFloat).toSeq) == 17)
    val centsT = cents.zipWithIndex.map { case (ce, i) => (i.toLong, ce) }
    val rows = probes.zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
    for (n <- Seq(1, 3)) {
      val flat = Similarity.assignNearest(rows, centsT, 1, n,
          prune = false)
        .collect().map(r => (r.getLong(0), r.getLong(2))).sorted.toSeq
      val pruned = Similarity.assignNearest(rows, centsT, 1, n,
          prune = true)
        .collect().map(r => (r.getLong(0), r.getLong(2))).sorted.toSeq
      assert(pruned == flat, s"tier-2 assign diverged at n=$n")
    }
  }

  test("job shape: ivfPqTopK trains each quantizer exactly once — " +
      "coarse seed + iters, PQ seed + iters; a refactor that doubles a " +
      "training pass fails here (the LangModel cache-pin's counterpart " +
      "for driver-collected models)") {
    import spark.implicits._
    def vec(seed: Int): Array[Float] =
      Array.tabulate(16)(i => math.sin(seed * 31 + i * 7).toFloat)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfpq-pin")
    (1L to 64L).map(i => (i, vec(i.toInt))).toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(dir.toString + "/corpus")
    val corpus = spark.read.parquet(dir.toString + "/corpus")
    val queries = (101L to 104L).map(i => (i, vec(i.toInt)))
      .toDF("vec_id", "embedding")
    val sc = spark.sparkContext
    sc.setJobGroup("ivfpq-train-pin", "training-pass pin", false)
    val df =
      try Similarity.ivfPqTopK(corpus, queries, "vec_id", "embedding",
        k = 3, nlist = 4, nprobe = 2, m = 4, ksub = 8,
        coarseTrainIters = 2, pqTrainIters = 2, residual = true)
      finally sc.clearJobGroup()
    val trainJobs = sc.statusTracker.getJobIdsForGroup("ivfpq-train-pin")
      .length
    // construction-time jobs ARE the training passes: coarse = 1 md5-seed
    // collect + 2 Lloyd iterations, PQ = 1 seed collect + 2 iterations.
    // The absolute count (13, not 6) includes executeTake's incremental
    // scale-up sub-jobs inside the two seed collects, plus one AQE
    // shuffle-materialization job per Lloyd iteration (the round-9
    // off-scan-parallelism repartition in both training passes: 2
    // coarse + 2 PQ) — a pinned snapshot like the InMemoryTableScan
    // counts: an accidentally doubled training pass adds at least one
    // corpus-scan job and fails here.
    assert(trainJobs == 13, s"training pass count drifted: $trainJobs")
    assert(df.collect().nonEmpty)
  }

  test("binaryTopK with rerank >= corpus degenerates to bruteForceTopK " +
    "exactly (every candidate survives the Hamming cut)") {
    val q = emb.filter(col("vec_id") % 25 === 0)
    val n = emb.count().toInt
    val exact = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getInt(3))).toSet
    val full = Similarity.binaryTopK(emb, q, "vec_id", "embedding", 10,
      rerank = n)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getInt(3))).toSet
    assert(full == exact) // ids, sims (bit-exact), AND ranks
  }

  test("binaryTopK rerank=k candidate cut follows Hamming distance, " +
    "not cosine: a sign-matched far vector beats a sign-flipped near one") {
    import spark.implicits._
    // query signs ++++; c1 matches all signs but tiny magnitudes (low
    // cosine vs q); c2 is q with one sign flipped (hamming 1, high
    // cosine). With rerank=1 only the hamming-0 candidate c1 survives
    // to the re-rank, so the (approximate) answer is c1 — the
    // deliberate error this operator trades for 32x density.
    val rows = Seq(
      (0L, Array(1f, 1f, 1f, 1f)),
      (1L, Array(0.01f, 0.01f, 0.01f, 0.9f)), // hamming 0, cos ~0.52
      (2L, Array(1f, 1f, 1f, -1f))) //            hamming 1, cos 0.5
    val df = rows.toDF("vec_id", "embedding")
    val out = Similarity.binaryTopK(df, df.filter(col("vec_id") === 0),
      "vec_id", "embedding", k = 1, rerank = 1).collect()
    assert(out.length == 1)
    assert(out.head.getLong(1) == 1L)
    // and with rerank=2 the exact re-rank sees both and picks the
    // true-best by cosine — c1 (0.516) still beats c2 (0.5) here, so
    // tighten: query 3 = near-parallel to c2's subspace not needed;
    // instead assert rank-2 exists and ordering is by exact cosine
    val out2 = Similarity.binaryTopK(df, df.filter(col("vec_id") === 0),
      "vec_id", "embedding", k = 2, rerank = 2).collect()
      .sortBy(_.getInt(3))
    assert(out2.map(_.getLong(1)).toSeq == Seq(1L, 2L))
    assert(out2.map(_.getDouble(2)).toSeq == out2.map(_.getDouble(2))
      .sortBy(-(_: Double)).toSeq)
  }

  test("binaryTopK Hamming ties break by ascending corpus id " +
    "(the family's determinism contract)") {
    import spark.implicits._
    // c1 and c2 are sign-identical (hamming 0 from q, tie) — rerank=1
    // must keep the SMALLER id
    val df = Seq(
      (0L, Array(1f, -1f, 1f, -1f)),
      (7L, Array(2f, -3f, 4f, -5f)),
      (3L, Array(5f, -4f, 3f, -2f))).toDF("vec_id", "embedding")
    val out = Similarity.binaryTopK(df, df.filter(col("vec_id") === 0),
      "vec_id", "embedding", k = 1, rerank = 1).collect()
    assert(out.head.getLong(1) == 3L)
  }

  test("binaryTopK plan: broadcast joins only — the corpus is never " +
    "sort-merge shuffled for candidates or the re-rank fetch") {
    val q = emb.filter(col("vec_id") < 3)
    val plan = Similarity.binaryTopK(emb, q, "vec_id", "embedding", 5,
      rerank = 10).queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin"), plan)
    // Hamming pass: non-equi broadcast(queries); re-rank fetch:
    // equi broadcast(candidate ids) back over the corpus scan
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("recallAtK: self-recall 1.0; disjoint 0.0; missing-query scores " +
    "0; extra approx queries ignored") {
    import spark.implicits._
    def res(rows: (Long, Long, Int)*) =
      rows.toDF("query_id", "corpus_id", "rank")
    val exact = res((1L, 10L, 1), (1L, 11L, 2), (2L, 20L, 1), (2L, 21L, 2),
      (3L, 30L, 1))
    // q1 full match, q2 half (one hit one miss), q3 absent from approx,
    // q9 only in approx (no ground truth)
    val approx = res((1L, 10L, 1), (1L, 11L, 2), (2L, 20L, 1), (2L, 99L, 2),
      (9L, 90L, 1))
    val out = Similarity.recallAtK(approx, exact, k = 2)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out.keySet == Set(1L, 2L, 3L))
    assert(out(1L) == ((2L, 2L, 1.0)))
    assert(out(2L) == ((2L, 1L, 0.5)))
    assert(out(3L) == ((1L, 0L, 0.0)))
    // rank > k rows ignored on both sides
    val deep = res((1L, 10L, 1), (1L, 12L, 3))
    val out2 = Similarity.recallAtK(deep, deep, k = 2).collect()
    assert(out2.length == 1 && out2.head.getLong(1) == 1L)
  }

  test("marginScores matches the exact fixed-point model, penalizes " +
    "hubs past raw cosine, and drops asymmetric/non-positive pairs") {
    import spark.implicits._
    def fx(s: Double): Long = math.round(s * 1048576.0)
    def nn(rows: (Long, Long, Double, Int)*) =
      rows.toDF("query_id", "corpus_id", "sim", "rank")
    // query 1's RAW best is the hub (sim .90 vs .88), but the hub's
    // own neighborhood is dense (sums high) while the non-hub's is
    // sparse — the margin must flip the pick to the non-hub.
    val hub = 7L; val non = 8L
    val table = nn(
      (1L, hub, 0.90, 1), (1L, non, 0.88, 2),
      (hub, 2L, 0.99, 1), (hub, 3L, 0.99, 2),
      (non, 2L, 0.10, 1), (non, 3L, 0.10, 2),
      (2L, 3L, 0.50, 1), (2L, hub, 0.40, 2),
      (3L, 2L, 0.50, 1), (3L, hub, 0.40, 2))
    val out = Similarity.marginScores(table, k = 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    // exact model of the documented formula
    val sums = Map(
      1L -> (fx(0.90) + fx(0.88)), hub -> (fx(0.99) + fx(0.99)),
      non -> (fx(0.10) + fx(0.10)), 2L -> (fx(0.50) + fx(0.40)),
      3L -> (fx(0.50) + fx(0.40)))
    def margin(q: Long, c: Long, s: Double): Long =
      (BigInt(4) * fx(s) * 1048576L / (sums(q) + sums(c))).toLong
    assert(out(1L)._1 == non) // hub penalized despite higher cosine
    assert(out(1L)._2 == margin(1L, non, 0.88))
    assert(margin(1L, non, 0.88) > margin(1L, hub, 0.90))
    assert(out(hub) == ((2L, margin(hub, 2L, 0.99))))
    // corpus ids with no neighborhood row (asymmetric set) drop: a
    // query whose ONLY candidates are unknown yields no output row
    val asym = nn((1L, 2L, 0.9, 1), (1L, 99L, 0.95, 1),
      (2L, 1L, 0.9, 1))
    val out2 = Similarity.marginScores(asym, k = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out2 == Map(1L -> 2L, 2L -> 1L)) // 99 dropped, not picked
    // non-positive sims never mined
    val neg = nn((1L, 2L, -0.5, 1), (2L, 1L, -0.5, 1))
    assert(Similarity.marginScores(neg, k = 2).count() == 0L)
  }

  test("hardNegatives: every result has a different, non-null label; " +
    "equals bruteForceTopK restricted to label-mismatched pairs") {
    import spark.implicits._
    val labeled = emb.withColumn("label",
      when(col("vec_id") % 3 === 0, lit(null).cast("int"))
        .otherwise((col("vec_id") % 2).cast("int")))
    val q = labeled.filter(col("vec_id") < 4)
    val out = Similarity.hardNegatives(labeled, q, "vec_id", "embedding",
      "label", 5).collect()
    val labels = labeled.collect()
      .map(r => r.getLong(0) -> Option(r.get(2)).map(_.toString)).toMap
    // no self, labels differ, never null on either side
    out.foreach { r =>
      val (qi, ci) = (r.getLong(0), r.getLong(1))
      assert(qi != ci)
      assert(labels(qi).isDefined && labels(ci).isDefined)
      assert(labels(qi) != labels(ci))
    }
    // null-label queries emit nothing
    assert(!out.map(_.getLong(0)).contains(0L) &&
      !out.map(_.getLong(0)).contains(3L))
    // model: brute force over the pre-filtered opposite-label corpus
    val expect = q.filter(col("label").isNotNull).collect()
      .map(_.getLong(0)).flatMap { qi =>
        val opp = labeled.filter(col("label").isNotNull &&
          col("label") =!= lit(labels(qi).get.toInt))
        Similarity.bruteForceTopK(opp,
            labeled.filter(col("vec_id") === qi), "vec_id", "embedding", 5)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
            r.getInt(3)))
      }.toSet
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
      r.getInt(3))).toSet == expect)
  }

  test("labelAgreement grades neighbor label overlap; unlabeled " +
    "neighbors drop from both sides of the fraction") {
    import spark.implicits._
    val neighbors = Seq(
      (1L, 10L, 1), (1L, 11L, 2), (1L, 12L, 3), // 12 unlabeled
      (2L, 10L, 1), (2L, 20L, 2),
      (3L, 12L, 1) //                              all neighbors unlabeled
    ).toDF("query_id", "corpus_id", "rank")
    val labels = Seq(1L -> "a", 2L -> "b", 3L -> "a",
      10L -> "a", 11L -> "b", 20L -> "b").toDF("vec_id", "label")
    val out = Similarity.labelAgreement(neighbors, labels, "vec_id",
        "label", k = 3)
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
      .toMap
    assert(out(1L) == (("a", 2L, 1L, 0.5))) // 10 agrees, 11 not, 12 gone
    assert(out(2L) == (("b", 2L, 1L, 0.5)))
    assert(!out.contains(3L)) // no labeled neighbors -> no row
    // rank > k ignored
    val out2 = Similarity.labelAgreement(
      neighbors, labels, "vec_id", "label", k = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(out2(1L) == 1L && out2(2L) == 1L)
  }

  test("mmrRerank: λ=8 is pure relevance order, λ=4 flips a near-twin " +
      "to the diverse candidate, short groups emit all, ties break by " +
      "id, and a plain-Scala greedy model reproduces every row") {
    import spark.implicits._
    def unit(theta: Double): Array[Float] = {
      val v = new Array[Float](64)
      v(0) = math.cos(theta).toFloat; v(1) = math.sin(theta).toFloat
      v
    }
    def cosD(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
        i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    def fx(s: Double): Long = {
      val x = s * 1048576.0
      (if (x >= 0) math.floor(x + 0.5) else math.ceil(x - 0.5)).toLong
    }
    // candidates: two near-twins at +0.30/+0.32 rad (pair angle 0.02 →
    // redundancy ~1.0) and a diverse candidate at −0.35 (same relevance
    // class: Δsim vs the twin ≈ 0.010, but Δredundancy ≈ 0.204 — at
    // λ=4 the twin's tiny relevance edge loses to its redundancy), plus
    // one far vector
    val vecs = Map(
      11L -> unit(0.30), 12L -> unit(0.32),
      13L -> unit(-0.35), 14L -> unit(1.30))
    val corpus = vecs.toSeq.toDF("vec_id", "embedding")
    val qv = unit(0.0)
    val nn = vecs.toSeq.map { case (id, v) => (1L, id, cosD(qv, v)) }
      .toDF("query_id", "corpus_id", "sim")

    // a plain-Scala replay of the documented greedy
    def model(lNum: Long, select: Int): Seq[(Long, Long, Long, Long)] = {
      val ids = vecs.keys.toArray.sorted
      val sfx = ids.map(id => fx(cosD(qv, vecs(id))))
      val n = ids.length
      val picked = Array.fill(n)(false)
      val maxDiv = new Array[Long](n)
      var have = false
      val out = Seq.newBuilder[(Long, Long, Long, Long)]
      for (rank <- 1 to math.min(select, n)) {
        var best = -1; var bestObj = 0L
        for (i <- 0 until n if !picked(i)) {
          val obj =
            if (!have) lNum * sfx(i)
            else lNum * sfx(i) - (8L - lNum) * maxDiv(i)
          if (best < 0 || obj > bestObj) { best = i; bestObj = obj }
        }
        out += ((ids(best), rank.toLong, bestObj, sfx(best)))
        picked(best) = true
        for (i <- 0 until n if !picked(i)) {
          val p = fx(cosD(vecs(ids(i)), vecs(ids(best))))
          if (!have || p > maxDiv(i)) maxDiv(i) = p
        }
        have = true
      }
      out.result()
    }
    def run(lNum: Int, select: Int): Seq[(Long, Long, Long, Long)] =
      Similarity.mmrRerank(nn, corpus, "vec_id", "embedding",
          select = select, lambdaEighths = lNum)
        .collect()
        .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .sortBy(_._2).toSeq

    // λ=8: pure relevance — picks in (sim desc, id asc) order
    val rel = run(8, 3)
    val bySim = vecs.keys.toSeq
      .sortBy(id => (-fx(cosD(qv, vecs(id))), id)).take(3)
    assert(rel.map(_._1) == bySim)
    assert(rel == model(8, 3))
    // λ=4: rank 1 is still the best (11), but rank 2 flips from the
    // near-twin 12 (relevance order) to the diverse 13
    val div = run(4, 3)
    assert(div.head._1 == 11L)
    assert(div(1)._1 == 13L, s"expected diversity flip, got $div")
    assert(div == model(4, 3))
    // short group: select past the candidate count emits everything
    assert(run(4, 10).map(_._2) == (1L to 4L))
    assert(run(4, 10) == model(4, 10))
    // objective ties break toward the smaller id: identical vectors
    val twinVecs = Seq((21L, unit(0.3)), (22L, unit(0.3)),
      (23L, unit(0.9))).toDF("vec_id", "embedding")
    val twinNn = Seq((1L, 21L, cosD(qv, unit(0.3))),
      (1L, 22L, cosD(qv, unit(0.3))), (1L, 23L, cosD(qv, unit(0.9))))
      .toDF("query_id", "corpus_id", "sim")
    val twins = Similarity.mmrRerank(twinNn, twinVecs, "vec_id",
        "embedding", select = 3, lambdaEighths = 8)
      .collect().map(r => (r.getLong(2), r.getLong(1))).sorted.toSeq
    assert(twins == Seq((1L, 21L), (2L, 22L), (3L, 23L)))
  }

  test("mmrRerank fails fast on non-orderable ids and bad λ") {
    import spark.implicits._
    val nn = Seq((1L, 2L, 0.5)).toDF("query_id", "corpus_id", "sim")
    val corpus = Seq((2L, Array.fill(4)(0.1f))).toDF("vec_id", "embedding")
    intercept[IllegalArgumentException] {
      Similarity.mmrRerank(nn, corpus, "vec_id", "embedding",
        select = 1, lambdaEighths = 0)
    }
    intercept[IllegalArgumentException] {
      val badNn = Seq((1L, Array(2L), 0.5)).toDF("query_id", "corpus_id", "sim")
      val badCorpus = Seq((Array(2L), Array.fill(4)(0.1f)))
        .toDF("vec_id", "embedding")
      Similarity.mmrRerank(badNn, badCorpus, "vec_id", "embedding",
        select = 1, lambdaEighths = 4)
    }
  }

  test("multimodal stub pipeline: features have the declared shape") {
    import spark.implicits._
    val df = Seq(
      ("f1", Array[Byte](1, 2, 3)),
      ("f2", Array[Byte](4, 5))).toDF("path", "content")
    val out = Multimodal.extractFeatures(df, "content", dim = 4)
    assert(out.schema.fieldNames.contains("features"))
    val feats = out.collect().map(_.getSeq[Float](2))
    assert(feats.forall(_.length == 4))
    // deterministic: same payload -> same features
    val again = Multimodal.extractFeatures(df, "content", dim = 4)
      .collect().map(_.getSeq[Float](2))
    assert(feats.toSeq == again.toSeq)
  }

  // ---- maxSimTopK ----------------------------------------------------

  test("maxSimTopK matches a plain-Scala MaxSim model: per-position " +
      "best doc vector, left-associated position sum, (score desc, " +
      "doc asc) rank; a doc bag containing the query bag scores " +
      "exactly `positions`; missing positions contribute 0") {
    import spark.implicits._
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      a.indices.foreach { i =>
        d += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i)
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    // 3 docs x 2 vectors, 2 queries (doc 0's own bag + a 1-position bag)
    val vecs: Map[(Long, Int), Seq[Float]] = Map(
      (0L, 0) -> Seq(1f, 0f, 0f), (0L, 1) -> Seq(0f, 1f, 0f),
      (1L, 0) -> Seq(1f, 1f, 0f), (1L, 1) -> Seq(0f, 0f, 1f),
      (2L, 0) -> Seq(-1f, 0f, 0f), (2L, 1) -> Seq(0f, -1f, 1f))
    val corpus = vecs.toSeq.map { case ((d, p), v) => (d, p, v) }
      .toDF("doc", "pos", "vec")
    val queries = Seq(
      (10L, 0, Seq(1f, 0f, 0f)), (10L, 1, Seq(0f, 1f, 0f)),
      (11L, 0, Seq(0f, 0f, 1f)))
      .toDF("doc", "pos", "vec")
    val got = Similarity.maxSimTopK(corpus, queries.toDF("doc", "pos", "vec"),
        "doc", "pos", "vec", k = 3, positions = 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    val qs = Map(
      10L -> Seq(Seq(1f, 0f, 0f), Seq(0f, 1f, 0f)),
      11L -> Seq(Seq(0f, 0f, 1f)))
    val want = (for {
      (qid, qvs) <- qs.toSeq
      doc <- Seq(0L, 1L, 2L)
      dvs = vecs.collect { case ((d, _), v) if d == doc => v }.toSeq
      score = qvs.map(qv => dvs.map(dv => cos(qv, dv)).max)
        .foldLeft(0.0)(_ + _)
    } yield (qid, doc, score))
      .groupBy(_._1).toSeq.flatMap { case (qid, rows) =>
        rows.sortBy(t => (-t._3, t._2)).zipWithIndex
          .map { case ((q, d, s), i) => (q, d, s, i + 1) }
      }.toSet
    assert(got.toSet == want)
    // doc 0 contains query 10's exact bag: maxsim == positions == 2
    assert(got.exists { case (q, d, s, r) =>
      q == 10L && d == 0L && s == 2.0 && r == 1 })
    intercept[IllegalArgumentException](Similarity.maxSimTopK(
      corpus, queries, "doc", "pos", "vec", k = 1, positions = 0))
  }
}
