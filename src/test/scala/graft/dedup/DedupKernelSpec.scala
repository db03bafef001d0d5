package graft.dedup

import graft.SparkSpec
import graft.functions.{Hashing, Text}
import graft.util.Observed
import org.apache.spark.sql.functions._

/** The typed shingle/hash kernel must be bit-identical to the Column
  * formulation it replaces (the oracle SQL mirrors the Column semantics).
  */
class DedupKernelSpec extends SparkSpec {

  test("shingleDocs kernel == Column formulation (hashed-shingle sets)") {
    val df = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
      .limit(50)
    val kernel = Dedup.shingleDocs(df, col("doc_id"), col("text"), 8)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toSet))
      .sortBy(_._1)
    val column = df.select(col("doc_id"),
        array_distinct(Text.charShingles(col("text"), 8)).as("sh"))
      .filter(size(col("sh")) > 0)
      .withColumn("vms", transform(col("sh"), s => Hashing.md5Mod(s)))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](2).toSet))
      .sortBy(_._1)
    assert(kernel.length == column.length)
    kernel.zip(column).foreach { case (k, c) => assert(k == c) }
  }

  test("fused kernel: tiny flush threshold changes nothing (mid-stream drain path)") {
    import spark.implicits._
    val groups = Seq(
      Seq(3L, 1L, 2L), Seq(1L, 2L), Seq(2L, 3L), Seq(5L, 1L))
      .toDF("ids").repartition(2)
    def counts(flushAt: Int) =
      Dedup.emitPairAndSizeCounts(groups,
          org.apache.spark.sql.types.LongType, flushAt)
        .filter(col("id2").isNotNull)
        .groupBy("id1", "id2").sum("cnt")
        .collect()
        .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    val expected = Map(
      (1L, 2L) -> 2L, (1L, 3L) -> 1L, (2L, 3L) -> 2L, (1L, 5L) -> 1L)
    assert(counts(flushAt = 1 << 22) == expected) // single final drain
    assert(counts(flushAt = 1) == expected)       // drain after every group
  }

  test("fused kernel: primitive (long) and generic (string) paths " +
      "produce identical pair counts") {
    import spark.implicits._
    // 40 groups over 30 ids with heavy co-occurrence; long ids take the
    // open-addressing LongPairCounter, string ids the boxed HashMap
    val rng = new scala.util.Random(7)
    val groupsRaw = Seq.fill(40) {
      rng.shuffle((1L to 30L).toList).take(2 + rng.nextInt(8))
    }
    val longGroups = groupsRaw.toDF("ids").repartition(3)
    val strGroups = groupsRaw.map(_.map(i => f"d$i%03d")).toDF("ids")
      .repartition(3)
    val fromLong =
      Dedup.emitPairAndSizeCounts(longGroups,
          org.apache.spark.sql.types.LongType)
        .filter(col("id2").isNotNull)
        .groupBy("id1", "id2").sum("cnt").collect()
        .map(r => ((f"d${r.getLong(0)}%03d", f"d${r.getLong(1)}%03d"),
          r.getLong(2))).toMap
    val fromStr =
      Dedup.emitPairAndSizeCounts(strGroups,
          org.apache.spark.sql.types.StringType)
        .filter(col("id2").isNotNull)
        .groupBy("id1", "id2").sum("cnt").collect()
        .map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    assert(fromLong.nonEmpty && fromLong == fromStr)
  }

  test("fused kernel: int ids round-trip the primitive path with the " +
      "declared int schema") {
    import spark.implicits._
    val groups = Seq(Seq(3, 1, 2), Seq(1, 2)).toDF("ids")
    val out = Dedup.emitPairAndSizeCounts(groups,
      org.apache.spark.sql.types.IntegerType)
      .filter(col("id2").isNotNull)
      .groupBy("id1", "id2").sum("cnt").collect()
      .map(r => ((r.getInt(0), r.getInt(1)), r.getLong(2))).toMap
    assert(out == Map((1, 2) -> 2L, (1, 3) -> 1L, (2, 3) -> 1L))
  }

  test("fused kernel: primitive path survives growth past many " +
      "doublings (large distinct-pair working set)") {
    import spark.implicits._
    // one group of 120 ids = 7140 distinct pairs + 120 size rows —
    // forces LongPairCounter through ~4 grow() rehashes from its 1024
    // starting capacity
    val groups = Seq((1L to 120L).toSeq).toDF("ids").coalesce(1)
    val out = Dedup.emitPairAndSizeCounts(groups,
      org.apache.spark.sql.types.LongType)
      .collect()
    assert(out.count(_.isNullAt(1)) == 120)          // size rows
    assert(out.count(!_.isNullAt(1)) == 120 * 119 / 2) // pair rows
    assert(out.forall(_.getLong(2) == 1L))
  }

  test("emitPairAndSizeCounts == separate size/pair computations, both " +
      "id types (fused single-pass kernel behind ngramJaccard)") {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    val groupsRaw = Seq.fill(30) {
      rng.shuffle((1L to 20L).toList).take(1 + rng.nextInt(6))
    }
    def check(df: org.apache.spark.sql.DataFrame,
        idType: org.apache.spark.sql.types.DataType,
        getId: org.apache.spark.sql.Row => Long): Unit = {
      val unified = Dedup.emitPairAndSizeCounts(df, idType)
        .groupBy("id1", "id2").sum("cnt").collect()
      val sizes = unified.filter(_.isNullAt(1))
        .map(r => getId(r) -> r.getLong(2)).toMap
      val pairs = unified.filterNot(_.isNullAt(1))
        .map(r => (getId(r), r.getAs[Any](1) match {
          case l: Long => l; case i: Int => i.toLong
        }) -> r.getLong(2)).toMap
      // oracle: brute-force recount from the raw groups
      val expSizes = groupsRaw.flatten.groupBy(identity)
        .map { case (k, v) => k -> v.size.toLong }
      val expPairs = groupsRaw.flatMap { g =>
        val s = g.sorted
        for (i <- s.indices; j <- (i + 1) until s.length) yield (s(i), s(j))
      }.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      assert(sizes == expSizes)
      assert(pairs == expPairs)
    }
    check(groupsRaw.toDF("ids").repartition(3),
      org.apache.spark.sql.types.LongType, _.getLong(0))
    // generic path: same groups as strings, mapped back to longs
    val strUnified = Dedup.emitPairAndSizeCounts(
      groupsRaw.map(_.map(i => f"d$i%03d")).toDF("ids"),
      org.apache.spark.sql.types.StringType)
      .groupBy("id1", "id2").sum("cnt").collect()
    val strSizes = strUnified.filter(_.isNullAt(1))
      .map(r => r.getString(0).drop(1).toLong -> r.getLong(2)).toMap
    assert(strSizes == groupsRaw.flatten.groupBy(identity)
      .map { case (k, v) => k -> v.size.toLong })
  }

  test("ngramJaccard plan: posting-list grouping appears once (fused " +
      "single-pass shape — sizes and pairs share the same subtree)") {
    val df = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
    val plan = Dedup.ngramJaccard(df, col("doc_id"), col("text"),
      8, 0.5, 500).queryExecution.executedPlan.toString
    // the fused `unified` table is cached and referenced three times
    // (sizes x2 + common); every capped-agg occurrence in the plan must
    // therefore sit under an InMemoryTableScan (2 agg nodes per cached
    // reference = partial + final). An UNCACHED extra consumer — the
    // shape that recomputes the posting-list shuffle per consumer —
    // shows up as capped-agg occurrences exceeding that 2:1 ratio.
    val aggNodes = "collect_list_capped".r.findAllIn(plan).size
    val cachedRefs = "InMemoryTableScan".r.findAllIn(plan).size
    assert(cachedRefs >= 1, s"unified cache missing from plan:\n$plan")
    assert(aggNodes <= 2 * cachedRefs,
      s"posting-list grouping duplicated outside the cache:\n$plan")
  }

  test("ngramContainment scores the asymmetric dup Jaccard misses, and " +
      "matches a brute-force overlap-coefficient model") {
    import spark.implicits._
    val long = ("The quick brown fox jumps over the lazy dog while " +
      "seventeen further unrelated sentences pad this document out " +
      "with plenty of distinct shingle material to dilute any overlap")
    val short = "The quick brown fox jumps over the lazy dog"
    val docs = Seq(
      (1L, long), (2L, short), (3L, "completely different text here"))
      .toDF("doc_id", "text")
    val out = Dedup.ngramContainment(docs, col("doc_id"), col("text"),
        shingleK = 8, threshold = 0.9, maxDf = 500)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getLong(3), r.getLong(4)))
    // the quote pair survives at 0.9 containment...
    assert(out.map(p => (p._1, p._2)).toSet == Set((1L, 2L)))
    val (_, _, c, n1, n2) = out.head
    assert(c == 1.0) // every shingle of the short doc occurs in the long
    // ...where Jaccard rejects it even at a LOW bar
    val jac = Dedup.ngramJaccard(docs, col("doc_id"), col("text"),
      shingleK = 8, threshold = 0.5, maxDf = 500).collect()
    assert(jac.isEmpty)
    // brute-force model over the same hashed-shingle space
    def hs(t: String): Set[Long] = Dedup
      .shingleDocs(Seq((9L, t)).toDF("doc_id", "text"),
        col("doc_id"), col("text"), 8)
      .collect().head.getSeq[Long](1).toSet
    val (s1, s2) = (hs(long), hs(short))
    assert(n1 == s1.size && n2 == s2.size)
    assert(c == (s1 & s2).size.toDouble / math.min(s1.size, s2.size))
  }

  test("minhashLsh caps hot band buckets to a representative pair " +
      "(cluster still surfaces; cacheSignatures lever changes nothing)") {
    import spark.implicits._
    // 30 identical docs: every band bucket holds all 30 ids. With the cap
    // below the bucket size no per-pair work happens — but the cluster is
    // NOT silently lost: each over-cap bucket emits the deterministic
    // (min id, max id) representative, which passes the Jaccard verify
    // at exactly 1.0. Same contract as nearDupPairs (SimilaritySpec).
    val text = "the quick brown fox jumps over the lazy dog again and again"
    val df = (1L to 30L).map(i => (i, text)).toDF("doc_id", "text")
    val cappedDf = Dedup.minhashLsh(df, col("doc_id"), col("text"),
      shingleK = 8, numHashes = 12, bands = 3, threshold = 0.3,
      maxBucketSize = 10)
    val capped = cappedDf.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(capped == Set((1L, 30L, 1.0)))
    // the recall loss is observable: all 3 band buckets were capped
    val m = Observed.metric(cappedDf, "graft.minhash")
    assert(m.getAs[Long]("capped_buckets") == 3L)
  }

  test("minhashLsh in-group and joined verify arms are row-identical " +
      "including jaccard values (fixture docs + an over-cap cluster)") {
    import spark.implicits._
    // real fixture docs (organic partial-overlap pairs at threshold 0.3)
    // UNION an over-cap duplicate cluster, so the equality covers the
    // representative-pair path too — the nearDupPairs spec discipline
    val fixture = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
      .select(col("doc_id"), col("text"))
    val clusterText =
      "the quick brown fox jumps over the lazy dog again and again"
    val cluster = (1L to 15L)
      .map(i => (1000000L + i, clusterText)).toDF("doc_id", "text")
    val df = fixture.unionByName(cluster)
    def rows(out: org.apache.spark.sql.DataFrame) = out.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val inGroup = rows(Dedup.minhashLsh(df, col("doc_id"), col("text"),
      shingleK = 8, numHashes = 12, bands = 3, threshold = 0.3,
      maxBucketSize = 10))
    val joined = rows(graft.JoinedVerifyReference.minhashLsh(
      df, col("doc_id"), col("text"),
      shingleK = 8, numHashes = 12, bands = 3, threshold = 0.3,
      maxBucketSize = 10))
    assert(inGroup.nonEmpty)
    // the over-cap cluster's representative pair is present in both
    assert(inGroup.contains((1000001L, 1000015L, 1.0)))
    assert(inGroup == joined)
  }

  test("minhashLsh rowsHint skips the sizing count; cacheSignatures " +
      "makes it materialize the cache — upstream runs once either way") {
    import spark.implicits._
    // an instrumented upstream plan: every full execution of it adds
    // |rows| to the accumulator, so acc.value / |rows| = executions
    val base = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
      .select(col("doc_id"), col("text")).limit(60).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val n = base.length
    def instrumented() = {
      val acc = spark.sparkContext.longAccumulator("upstream")
      val df = spark.createDataset(base)
        .map { t => acc.add(1); t }.toDF("doc_id", "text")
      (df, acc)
    }
    def run(df: org.apache.spark.sql.DataFrame, hint: Long) =
      Dedup.minhashLsh(df, col("doc_id"), col("text"),
        shingleK = 8, numHashes = 12, bands = 3, threshold = 0.3,
        rowsHint = hint)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // rowsHint set: the banding pass is the ONLY execution
    val (d1, a1) = instrumented()
    val hinted = run(d1, hint = n.toLong)
    assert(a1.value == n.toLong, s"rowsHint arm ran upstream ${a1.value / n}x")
    // no hint (round 15): plan statistics carry the sizing
    // cardinality (a LocalRelation-rooted plan knows its bytes), so
    // upstream STILL runs exactly once — no sizing count() job
    val (d2, a2) = instrumented()
    val bare = run(d2, hint = -1L)
    assert(a2.value == n.toLong, s"bare arm ran upstream ${a2.value / n}x")
    // an RDD-rooted plan reports the unknown-size sentinel — the
    // sizing count() is the LAST resort and re-executes upstream once
    // (the round-13 ADVICE case rowsHint exists for)
    val accR = spark.sparkContext.longAccumulator("upstreamRdd")
    val dfR = spark.createDataFrame(
      spark.sparkContext.parallelize(base.toSeq, 2)
        .map { t => accR.add(1); org.apache.spark.sql.Row(t._1, t._2) },
      new org.apache.spark.sql.types.StructType()
        .add("doc_id", org.apache.spark.sql.types.LongType)
        .add("text", org.apache.spark.sql.types.StringType))
    val bareRdd = run(dfR, hint = -1L)
    assert(accR.value == 2L * n,
      s"rdd arm ran upstream ${accR.value / n}x, expected 2x")
    assert(hinted == bare && bare == bareRdd && bare.nonEmpty)
  }

  test("ngramNovelty == a plain-Scala df model over the (verified) " +
      "shingle kernel; planted clones score 0, a unique doc scores 2^20, " +
      "short docs are absent") {
    import spark.implicits._
    val corpus = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
      .select(col("doc_id"), col("text")).limit(40)
      .as[(Long, String)].collect()
    val planted = corpus ++ Seq(
      (9000001L, corpus.head._2),            // exact clone of doc 0
      (9000002L, "zq" * 50),                 // unique alphabet: all-novel
      (9000003L, "short"))                   // < 8 chars: no shingles
    val df = planted.toSeq.toDF("doc_id", "text").repartition(3)
    val got = Dedup.ngramNovelty(df, col("doc_id"), col("text"), 8)
      .collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    // model: df counts over the kernel's own (spec-verified) hashes
    val sigs = Dedup.shingleDocs(df, col("doc_id"), col("text"), 8)
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toSet))
    val dfCount = sigs.flatMap(_._2).groupBy(identity).map {
      case (g, occ) => g -> occ.length }
    val model = sigs.map { case (id, vms) =>
      val novel = vms.count(g => dfCount(g) == 1).toLong
      id -> ((vms.size.toLong, novel, novel * 1048576L / vms.size))
    }.toMap
    assert(got == model)
    assert(!got.contains(9000003L), "sub-k docs have no shingles")
    assert(got(9000001L)._2 == 0L && got(corpus.head._1)._2 == 0L,
      "clones share every shingle — zero novel grams on both sides")
    assert(got(9000002L)._3 == 1048576L, "unique alphabet is all-novel")
  }

  test("ngramWeightedJaccard == a plain-Scala idf model; planted clones " +
      "score 1.0 exactly; docs sharing only ubiquitous content score " +
      "below docs sharing rare content at equal raw overlap") {
    import spark.implicits._
    val corpus = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
      .select(col("doc_id"), col("text")).limit(30)
      .as[(Long, String)].collect()
    // ~300 distinct shared 8-grams (a periodic block would collapse to
    // its period's worth of distinct shingles — measured the hard way)
    val rnd = new scala.util.Random(42)
    val rare = Seq.fill(300)(('a' + rnd.nextInt(26)).toChar).mkString
    val planted = corpus ++ Seq(
      (9000001L, corpus.head._2),          // exact clone of doc 0
      (9000002L, rare + " alpha beta"),    // rare-sharing pair...
      (9000003L, rare + " gamma delta"))   // ...different boilerplate
    val df = planted.toSeq.toDF("doc_id", "text").repartition(3)
    val got = Dedup.ngramWeightedJaccard(df, col("doc_id"), col("text"),
        shingleK = 8, threshold = 0.0, maxDf = 100)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))))
      .toMap
    // plain-Scala model over the kernel's own (spec-verified) hashes
    val sigs = Dedup.shingleDocs(df, col("doc_id"), col("text"), 8)
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toSet))
    val n = sigs.length.toLong
    val dfc = sigs.flatMap(_._2).groupBy(identity)
      .map { case (g, o) => g -> o.length.toLong }
    def w(g: Long): Long =
      graft.functions.Dsir.ilog2Fx(n) - graft.functions.Dsir.ilog2Fx(dfc(g))
    val kept = dfc.filter(_._2 <= 100).keySet
    val model = (for {
      (ia, va) <- sigs; (ib, vb) <- sigs if ia < ib
      shared = (va intersect vb).filter(kept) if shared.nonEmpty
      inter = shared.toSeq.map(w).sum
      wa = va.filter(kept).toSeq.map(w).sum
      wb = vb.filter(kept).toSeq.map(w).sum
      den = wa + wb - inter if den > 0
    } yield (ia, ib) -> ((inter, wa, wb, inter.toDouble / den.toDouble)))
      .toMap
    // threshold 0 keeps every pair co-occurring in a kept (df ≤ maxDf)
    // group — exactly the model's shared.nonEmpty condition
    assert(got == model)
    val clone = got((corpus.head._1, 9000001L))
    assert(clone._4 == 1.0, s"clone pair must score exactly 1, got $clone")
    val rarePair = got((9000002L, 9000003L))
    assert(rarePair._4 > 0.5,
      s"rare-content pair must dominate its boilerplate, got $rarePair")
  }

  test("minhashLsh over a parquet scan runs NO Spark job at " +
      "plan-build time (sizing comes from plan statistics)") {
    val df = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
    df.schema // force any read-side inference OUTSIDE the probe group
    val group = "graft-minhash-planbuild-probe"
    spark.sparkContext.setJobGroup(group, "plan-build job probe")
    try {
      val out = Dedup.minhashLsh(df, col("doc_id"), col("text"),
        shingleK = 8, numHashes = 12, bands = 3, threshold = 0.3)
      val jobs =
        spark.sparkContext.statusTracker.getJobIdsForGroup(group)
      assert(jobs.isEmpty,
        s"plan build ran ${jobs.length} Spark job(s) on the default " +
          "parquet path — the round-15 sizing contract is zero")
      assert(out.count() >= 0) // the plan still executes fine
    } finally spark.sparkContext.clearJobGroup()
  }

  test("n-gram kernel family over parquet scans runs NO Spark job at " +
      "plan-build time (chars/rows sizing from plan statistics, " +
      "ilog2Fx(N) in-plan)") {
    val df = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
    df.schema // read-side inference outside the probe group
    val group = "graft-ngram-planbuild-probe"
    spark.sparkContext.setJobGroup(group, "plan-build job probe")
    try {
      val plans = Seq(
        Dedup.ngramJaccard(df, col("doc_id"), col("text"),
          shingleK = 8, threshold = 0.3, maxDf = 50),
        Dedup.ngramContainment(df, col("doc_id"), col("text"),
          shingleK = 8, threshold = 0.5, maxDf = 50),
        Dedup.ngramNovelty(df, col("doc_id"), col("text"), shingleK = 8),
        Dedup.ngramWeightedJaccard(df, col("doc_id"), col("text"),
          shingleK = 8, threshold = 0.1, maxDf = 50),
        Dedup.duplicateSpans(df, col("doc_id"), col("text"), k = 20),
        Dedup.minhashLshAgainst(df.limit(20), col("doc_id"), col("text"),
          df, col("doc_id"), col("text")))
      val jobs =
        spark.sparkContext.statusTracker.getJobIdsForGroup(group)
      assert(jobs.isEmpty,
        s"plan build ran ${jobs.length} Spark job(s) on the default " +
          "parquet path — the sizing contract is zero (round 16)")
      plans.foreach(p => assert(p.count() >= 0)) // plans still execute
    } finally spark.sparkContext.clearJobGroup()
  }

  test("sortedNeighborhoodPairs == brute (key, id)-sorted window model; " +
      "volume exactly n*w bounded; guards loud") {
    import spark.implicits._
    val rows = Seq(
      (3L, "apple"), (1L, "apple"), (7L, "applf"), (2L, "banana"),
      (9L, ""), (5L, "apricot"), (8L, "banan"))
    val df = rows.toDF("id", "k")
    def brute(w: Int): Set[(Long, Long, String, String, Long)] = {
      val sorted = rows.sortBy { case (id, k) => (k, id) }
      (for {
        i <- sorted.indices
        j <- (i + 1) to math.min(i + w, sorted.length - 1)
      } yield (sorted(i)._1, sorted(j)._1, sorted(i)._2, sorted(j)._2,
        (j - i).toLong)).toSet
    }
    for (w <- Seq(1, 2, 5)) {
      val got = Dedup.sortedNeighborhoodPairs(df, col("id"), col("k"), w)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
          r.getString(3), r.getLong(4))).toSet
      assert(got == brute(w), s"window=$w")
      assert(got.size == (0 until rows.length)
        .map(i => math.min(w, rows.length - 1 - i)).sum)
    }
    intercept[IllegalArgumentException](
      Dedup.sortedNeighborhoodPairs(df, col("id"), col("k"), 0))
    val negId = Seq((-1L, "x")).toDF("id", "k")
    intercept[Exception](
      Dedup.sortedNeighborhoodPairs(negId, col("id"), col("k"), 2)
        .collect())
    // a key embedding U+0000 would silently reorder vs the oracle's
    // ORDER BY key, id (a NUL-bearing key encodes before its own
    // prefix but sorts after it in plain key order) — must raise,
    // not diverge
    val nulKey = Seq((1L, "a\u0000b"), (2L, "a")).toDF("id", "k")
    intercept[Exception](
      Dedup.sortedNeighborhoodPairs(nulKey, col("id"), col("k"), 2)
        .collect())
  }

  test("ngramNovelty/ngramWeightedJaccard plan pin: ONE shingle-kernel " +
      "pass (window df / unified emission — GramReuseProbe winners: " +
      "x100 11.3 vs 14.3 s and 92.5 vs 143.6 s)") {
    val df = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
    val nov = Dedup.ngramNovelty(df, col("doc_id"), col("text"),
      shingleK = 8)
    val novPlan = nov.queryExecution.executedPlan.toString
    def c(plan: String, pat: String) = pat.r.findAllIn(plan).length
    // window form: one corpus scan, one kernel pass, a Window node,
    // no join-back
    assert(c(novPlan, "Scan parquet") == 1,
      s"novelty re-scans the corpus:\n$novPlan")
    assert(c(novPlan, "Generate minhash_shingles") == 1,
      s"novelty runs the kernel more than once:\n$novPlan")
    assert(c(novPlan, "(?m)^\\s*\\S*\\s*\\+?-? ?Window ") >= 1 ||
      novPlan.contains("Window"), "df window missing")
    assert(c(novPlan, "Join") == 0,
      s"novelty grew a join back:\n$novPlan")
    val wj = Dedup.ngramWeightedJaccard(df, col("doc_id"), col("text"),
      shingleK = 8, threshold = 0.3, maxDf = 100)
    val wjPlan = wj.queryExecution.executedPlan.toString
    // unified emission: ONE cached pair+total table serves all three
    // consumers (pair arm + the two doc-total join sides). The cached
    // lineage prints under each InMemoryTableScan, so kernel nodes in
    // the STRING equal the scan count — runtime execution is pinned
    // by the accumulator test below, not by string counting.
    assert(c(wjPlan, "InMemoryTableScan") == 3,
      s"weightedJaccard unified cache not serving 3 consumers:\n$wjPlan")

    // runtime ground truth: upstream visits = kernel pass + the
    // pruned ilog2Fx(N) aggregate = exactly 2n (the old three-branch
    // form visited 4n)
    import spark.implicits._
    val rows = df.select(col("doc_id"), col("text")).limit(40).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val acc = spark.sparkContext.longAccumulator("wj-upstream")
    val inst = spark.createDataset(rows)
      .map { t => acc.add(1); t }.toDF("doc_id", "text")
    spark.catalog.clearCache() // isolate this run's cache
    Dedup.ngramWeightedJaccard(inst, col("doc_id"), col("text"),
      shingleK = 8, threshold = 0.0, maxDf = 100).collect()
    assert(acc.value == 2L * rows.length,
      s"upstream visited ${acc.value}x for n=${rows.length} — kernel " +
        "pass count drifted")
  }

  test("ngramJaccard/ngramContainment: hinted AND statistics-sized " +
      "arms run upstream exactly once; any upper bound gives " +
      "identical output") {
    import spark.implicits._
    val base = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
      .select(col("doc_id"), col("text")).limit(60).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val n = base.length
    def instrumented() = {
      val acc = spark.sparkContext.longAccumulator("upstream")
      val df = spark.createDataset(base)
        .map { t => acc.add(1); t }.toDF("doc_id", "text")
      (df, acc)
    }
    def run(df: org.apache.spark.sql.DataFrame, hint: Long) =
      Dedup.ngramJaccard(df, col("doc_id"), col("text"),
        shingleK = 8, threshold = 0.3, maxDf = 100, charsHint = hint)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // hint set: the cached pair-count materialization is the ONLY
    // execution of the upstream plan
    val (d1, a1) = instrumented()
    val exact = run(d1, base.map(_._2.length.toLong).sum)
    assert(a1.value == n.toLong, s"hinted arm ran upstream ${a1.value / n}x")
    // no hint: round 16 — plan statistics size it (this local plan
    // knows its bytes), so the bare arm ALSO runs upstream exactly
    // once; the length-sum second pass only fires on size-less plans
    val (d2, a2) = instrumented()
    val bare = run(d2, -1L)
    assert(a2.value == n.toLong, s"bare arm ran upstream ${a2.value / n}x")
    // charsHint is an UPPER BOUND: a loose hint (1000x the corpus — a
    // few hundred partitions, not the 2^18 cap a TB-scale hint would
    // schedule) only widens the exchange, never changes rows
    val (d3, _) = instrumented()
    val loose = run(d3, 1000L * base.map(_._2.length.toLong).sum)
    assert(exact == bare && bare == loose && exact.nonEmpty)
    // containment shares the kernel; pin its hint arm output too
    def runC(df: org.apache.spark.sql.DataFrame, hint: Long) =
      Dedup.ngramContainment(df, col("doc_id"), col("text"),
        shingleK = 8, threshold = 0.5, maxDf = 100, charsHint = hint)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(runC(instrumented()._1, base.map(_._2.length.toLong).sum) ==
      runC(instrumented()._1, -1L))
  }

  test("minhashLsh plan pin: Catalyst rows from shingles to pairs, one " +
      "bucket exchange feeding a Sort, the shingle Generate above the id " +
      "exchange") {
    import org.apache.spark.sql.execution.{GenerateExec, SortExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val df = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
    val out = Dedup.minhashLsh(df, col("doc_id"), col("text"),
      shingleK = 8, numHashes = 12, bands = 3, threshold = 0.3)
    val plan = out.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    val text = plan.toString
    assert(!text.contains("ObjectHashAggregate"), text)
    assert(!text.contains("DeserializeToObject"), text)
    assert("Exchange hashpartitioning\\(bucket#".r.findAllIn(text).size == 1,
      text)
    val walks = plan.collect { case w: graft.plans.BucketPairsExec => w }
    assert(walks.size == 1, text)
    walks.head.child match {
      case s: SortExec =>
        assert(s.sortOrder.map(_.child.semanticHash()) ==
          Seq(walks.head.bucket.semanticHash()), text)
        s.child match {
          case ex: ShuffleExchangeExec => assert(ex.outputPartitioning
            .toString.startsWith("hashpartitioning(bucket#"), text)
          case other => fail(s"the Sort is not over the exchange:\n$other")
        }
      case other => fail(s"bucket walk is not over a Sort:\n$other")
    }
    val gens = plan.collect {
      case g: GenerateExec
          if g.generator.isInstanceOf[graft.plans.MinhashShingles] => g
    }
    assert(gens.size == 1, text)
    def exchanges(p: SparkPlan) =
      p.collect { case e: ShuffleExchangeExec => e.outputPartitioning.toString }
    assert(exchanges(gens.head).exists(_.startsWith("hashpartitioning(id#")),
      text)
    // no `!` missing-input marker, logical or physical
    assert(!out.queryExecution.optimizedPlan.toString.contains("!BucketPairs"))
    assert(!text.contains("!BucketPairs"), text)
  }

  test("minhashLsh finds the fixture's planted near-duplicates") {
    val df = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
    val out = Dedup.minhashLsh(df, col("doc_id"), col("text"),
      shingleK = 8, numHashes = 12, bands = 3, threshold = 0.3,
      maxBucketSize = Int.MaxValue)
    val pairs = out.collect()
    assert(pairs.nonEmpty)
    assert(pairs.forall(_.getDouble(2) >= 0.3))
    // with an unbounded cap no bucket is dropped, and the metric says so
    val m = Observed.metric(out, "graft.minhash")
    assert(m.getAs[Long]("capped_buckets") == 0L)
    assert(m.getAs[Long]("active_buckets") > 0L)
  }

  test("gradePairs: exact integer counts and bp floors, duplicate rows " +
      "de-duplicated, empty sides yield NULL ratios not fake zeros") {
    import spark.implicits._
    def pairs(ps: (Long, Long)*) = ps.toDF("id1", "id2")
    // pred {AB, AC, AD}, truth {AB, AC, AE, AF}: tp=2, fp=1, fn=2
    val pred = pairs((1L, 2L), (1L, 3L), (1L, 4L), (1L, 2L)) // dup row
    val truth = pairs((1L, 2L), (1L, 3L), (1L, 5L), (1L, 6L))
    val r = Dedup.gradePairs(pred, truth).collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getLong(row.fieldIndex("n_pred")) == 3L)
    assert(row.getLong(row.fieldIndex("n_truth")) == 4L)
    assert(row.getLong(row.fieldIndex("tp")) == 2L)
    assert(row.getLong(row.fieldIndex("fp")) == 1L)
    assert(row.getLong(row.fieldIndex("fn")) == 2L)
    // floors: 2/3 → 6666 bp, 2/4 → 5000 bp, F1 = 4/7 → 5714 bp
    assert(row.getLong(row.fieldIndex("precision_bp")) == 6666L)
    assert(row.getLong(row.fieldIndex("recall_bp")) == 5000L)
    assert(row.getLong(row.fieldIndex("f1_bp")) == 5714L)
    // empty prediction: precision undefined (NULL), recall 0
    val r2 = Dedup.gradePairs(pairs().limit(0), truth).collect().head
    assert(r2.isNullAt(r2.fieldIndex("precision_bp")))
    assert(r2.getLong(r2.fieldIndex("recall_bp")) == 0L)
    assert(r2.getLong(r2.fieldIndex("tp")) == 0L)
    // both empty: every ratio NULL
    val r3 = Dedup.gradePairs(pairs().limit(0), pairs().limit(0))
      .collect().head
    assert(r3.isNullAt(r3.fieldIndex("precision_bp")))
    assert(r3.isNullAt(r3.fieldIndex("recall_bp")))
    assert(r3.isNullAt(r3.fieldIndex("f1_bp")))
  }

  test("frequencyWeightedLinkage == brute SNM + self-information " +
      "model; a field everyone shares scores 0; rarer agreement " +
      "outweighs common agreement; NULL never agrees") {
    import spark.implicits._
    import graft.functions.Dsir
    // keys cluster aa*/ab*; fields: brand (rare values), kind
    // (constant — must contribute 0), size (one NULL)
    val rows = Seq(
      (1L, "aaa", "b1", "k", "10"),
      (2L, "aab", "b1", "k", "10"),
      (3L, "aac", "b2", "k", null),
      (4L, "aba", "b2", "k", "20"),
      (5L, "abb", "b3", "k", "10"))
    val df = rows.toDF("id", "k", "brand", "kind", "size")
    val n = rows.length.toLong
    def weight(vals: Seq[String], v: String): Long =
      if (v == null) 0L
      else Dsir.ilog2Fx(math.max(1L,
        n / vals.count(x => x != null && x == v)))
    val brands = rows.map(_._3); val kinds = rows.map(_._4)
    val sizes = rows.map(_._5)
    def brute(w: Int): Set[(Long, Long, Long, Long, Long)] = {
      val sorted = rows.sortBy { case (id, k, _, _, _) => (k, id) }
      (for {
        i <- sorted.indices
        j <- (i + 1) to math.min(i + w, sorted.length - 1)
      } yield {
        val (a, b) = (sorted(i), sorted(j))
        val fs = Seq(
          (brands, a._3, b._3), (kinds, a._4, b._4),
          (sizes, a._5, b._5))
        val agree = fs.filter { case (_, x, y) =>
          x != null && y != null && x == y }
        val score = agree.map { case (vs, x, _) => weight(vs, x) }.sum
        (a._1, b._1, (j - i).toLong, agree.size.toLong, score)
      }).filter(_._5 >= 1L).toSet
    }
    val got = Dedup.frequencyWeightedLinkage(df, col("id"), col("k"),
        Seq("brand" -> col("brand"), "kind" -> col("kind"),
          "size" -> col("size")), window = 2, minScoreFx = 1L)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(got == brute(2))
    // the constant field scores 0: every surviving pair's score is
    // explained by brand/size alone, and ilog2Fx(n/n)=ilog2Fx(1)=0
    assert(weight(kinds, "k") == 0L)
    // rarer agreement outweighs common: brand b1 (f=2, w=ilog2(2))
    // vs size 10 (f=3, w=ilog2(1)=0 since 5 div 3 = 1)
    assert(weight(brands, "b1") > weight(sizes, "10"))
    intercept[IllegalArgumentException](Dedup.frequencyWeightedLinkage(
      df, col("id"), col("k"), Seq.empty))
    intercept[IllegalArgumentException](Dedup.frequencyWeightedLinkage(
      df, col("id"), col("k"),
      Seq("a" -> col("brand"), "a" -> col("kind"))))
  }

  test("survivorship == modal-election model with (count DESC, value " +
      "ASC) ties; NULLs never vote; all-NULL fields survive NULL; " +
      "canonical id is the smallest member") {
    import spark.implicits._
    val clusters = Seq(
      (1L, 10L), (2L, 10L), (3L, 10L),   // cluster 10: members 1,2,3
      (5L, 50L), (6L, 50L))              // cluster 50: members 5,6
    val records = Seq(
      // cluster 10: lang en,en,de -> en; src a,b,NULL -> tie a/b -> a
      (1L, "en", "a"), (2L, "en", "b"), (3L, "de", null),
      // cluster 50: lang NULL,NULL -> NULL; src z,z -> z
      (5L, null, "z"), (6L, null, "z"),
      (9L, "xx", "yy"))                  // not in any cluster
    val got = Dedup.survivorship(
        clusters.toDF("id", "component"),
        records.toDF("doc_id", "lang", "source"),
        col("id"), col("component"), col("doc_id"),
        Seq("lang" -> col("lang"), "source" -> col("source")))
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        Option(r.getString(3)), Option(r.getString(4)))).toMap
    assert(got.size == 2)
    assert(got(10L) == (1L, 3L, Some("en"), Some("a")))
    assert(got(50L) == (5L, 2L, None, Some("z")))
    // a three-way modal tie elects the lexicographically smallest
    val tieClusters = Seq((1L, 7L), (2L, 7L), (3L, 7L))
    val tieRecs = Seq((1L, "c"), (2L, "b"), (3L, "d"))
    val tie = Dedup.survivorship(tieClusters.toDF("id", "component"),
        tieRecs.toDF("doc_id", "f"),
        col("id"), col("component"), col("doc_id"),
        Seq("f" -> col("f")))
      .collect()(0)
    assert(tie.getString(3) == "b")
    intercept[IllegalArgumentException](Dedup.survivorship(
      clusters.toDF("id", "component"),
      records.toDF("doc_id", "lang", "source"),
      col("id"), col("component"), col("doc_id"), Seq.empty))
  }
}
