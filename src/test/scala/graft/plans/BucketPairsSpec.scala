package graft.plans

import graft.{InGroupVerifyReference, JoinedVerifyReference, SparkSpec}
import graft.dedup.Dedup
import graft.similarity.Similarity
import graft.util.Observed
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** The bucket walk ([[BucketPairs]]) behind every capped-bucket pair
  * generator: its null-id rule, its plan shape, and row identity of each
  * ported operator with the aggregate pipeline it replaced
  * ([[JoinedVerifyReference]], [[InGroupVerifyReference]]).
  */
class BucketPairsSpec extends SparkSpec {

  private val clusterText =
    "the quick brown fox jumps over the lazy dog again and again"
  private val hot = Array.tabulate(64)(i => (i + 1).toFloat)

  /** One operator: its metric, whether it reads `(doc_id, text)` (else
    * `(vec_id, embedding)`), and its call at a bucket cap. */
  private case class Op(name: String, metric: String, text: Boolean,
      run: (DataFrame, Int) => DataFrame)

  private val minhash = Op("minhashLsh", "graft.minhash", text = true,
    (df, cap) => Dedup.minhashLsh(df, col("doc_id"), col("text"),
      shingleK = 8, numHashes = 12, bands = 3, threshold = 0.3,
      maxBucketSize = cap))
  private val nearDup = Op("nearDupPairs", "graft.neardup", text = false,
    (df, cap) => Similarity.nearDupPairs(df, "vec_id", "embedding",
      dim = 64, threshold = 0.9, bits = 4, tables = 3, maxBucketSize = cap))
  private val simhash = Op("simhashPairs", "graft.simhash", text = true,
    (df, cap) => Dedup.simhashPairs(df, col("doc_id"), col("text"),
      maxHamming = 3, bands = 4, maxBucketSize = cap))
  private val winnow = Op("winnowPairs", "graft.winnow", text = true,
    (df, cap) => Dedup.winnowPairs(df, col("doc_id"), col("text"),
      k = 20, w = 8, minShared = 1L, maxBucketSize = cap))
  private val semDedup = Op("semDedupPairs", "graft.semdedup", text = false,
    (df, cap) => Similarity.semDedupPairs(df, "vec_id", "embedding",
      threshold = 0.9, nlist = 4, trainIters = 1, maxClusterSize = cap))
  private val ops = Seq(minhash, nearDup, simhash, winnow, semDedup)

  /** One cross-side operator: its call on (increment, corpus) at a bucket
    * cap; the same call through an explicit bucket-partition count, at
    * the session's shuffle width otherwise; and the pipeline it replaced. */
  private case class CrossOp(name: String, metric: String, text: Boolean,
      run: (DataFrame, DataFrame, Int) => DataFrame,
      at: (DataFrame, DataFrame, Int, Int) => DataFrame,
      parent: (DataFrame, DataFrame, Int) => DataFrame)

  private val (shingleK, numHashes, bands) = (8, 12, 3)
  private def shingled(df: DataFrame): DataFrame =
    Dedup.shingleDocs(df, col("doc_id"), col("text"), shingleK)
  private def prepared(corp: DataFrame): DataFrame = Dedup.corpusMinhashTable(
    corp, col("doc_id"), col("text"), shingleK, numHashes, bands)
  private def banded(corp: DataFrame): DataFrame = shingled(corp)
    .select(col("id"), col("vms"), explode(call_function("minhash_band_keys",
      col("vms"), lit(numHashes), lit(bands))).as("bucket"))
  private def fromPrepared(corp: DataFrame): DataFrame = prepared(corp)
    .select(col("id"), col("vms"), explode(col("buckets")).as("bucket"))

  private val against = CrossOp(
    "minhashLshAgainst", "graft.minhash_against", text = true,
    (inc, corp, cap) => Dedup.minhashLshAgainst(inc, col("doc_id"),
      col("text"), corp, col("doc_id"), col("text"), shingleK, numHashes,
      bands, threshold = 0.3, maxBucketSide = cap),
    (inc, corp, cap, parts) => Dedup.againstPairs(shingled(inc), banded(corp),
      numHashes, bands, 0.3, cap, parts),
    (inc, corp, cap) => JoinedVerifyReference.minhashLshAgainst(inc,
      col("doc_id"), col("text"), corp, col("doc_id"), col("text"), shingleK,
      numHashes, bands, 0.3, cap, rows = 1000L))
  private val againstPrepared = CrossOp(
    "minhashLshAgainstPrepared", "graft.minhash_against", text = true,
    (inc, corp, cap) => Dedup.minhashLshAgainstPrepared(inc, col("doc_id"),
      col("text"), prepared(corp), shingleK, numHashes, bands,
      threshold = 0.3, maxBucketSide = cap),
    (inc, corp, cap, parts) => Dedup.againstPairs(shingled(inc),
      fromPrepared(corp), numHashes, bands, 0.3, cap, parts),
    (inc, corp, cap) => JoinedVerifyReference.minhashLshAgainstPrepared(inc,
      col("doc_id"), col("text"), prepared(corp), shingleK, numHashes, bands,
      0.3, cap, rows = 1000L))
  private val semAgainst = {
    def run(inc: DataFrame, corp: DataFrame, cap: Int): DataFrame =
      Similarity.semDedupAgainst(inc, corp, "vec_id", "embedding",
        threshold = 0.9, nlist = 4, trainIters = 1, maxCellSide = cap)
    CrossOp(
      "semDedupAgainst", "graft.semdedup_against", text = false,
      run, (inc, corp, cap, _) => run(inc, corp, cap),
      (inc, corp, cap) => JoinedVerifyReference.semDedupAgainst(inc, corp,
        "vec_id", "embedding", 0.9, 4, 1, cap))
  }
  private val crossOps = Seq(against, againstPrepared, semAgainst)

  /** Rows with doubles as raw bits, in a stable order. */
  private def rows(df: DataFrame): Seq[Seq[Any]] = df.collect().toSeq
    .map(_.toSeq.map {
      case d: Double => java.lang.Double.doubleToRawLongBits(d)
      case x => x
    })
    .sortBy(_.mkString("|"))

  private def metric(df: DataFrame, name: String): Row =
    Observed.metric(df, name)

  /** One row per id in `ids`, all with the same content. */
  private def sameContent(op: Op, ids: Seq[java.lang.Long]): DataFrame = {
    import spark.implicits._
    if (op.text) ids.map(i => (i, clusterText)).toDF("doc_id", "text")
    else ids.map(i => (i, hot)).toDF("vec_id", "embedding")
  }

  test("a null id counts toward its bucket's size but is never paired, " +
      "in every bucket-pair operator") {
    for (op <- ops; cap <- Seq(1000, 2)) {
      val withNull = op.run(sameContent(op, Seq(null, 5L, 7L)), cap)
      val without = op.run(sameContent(op, Seq(5L, 7L)), cap)
      val got = rows(withNull)
      assert(got.nonEmpty && got.forall(!_.contains(null)), s"${op.name}: $got")
      assert(got == rows(without), s"${op.name} at cap $cap")
      val (m, m0) = (metric(withNull, op.metric), metric(without, op.metric))
      assert(m.getAs[Long]("active_buckets") == m0.getAs[Long]("active_buckets"),
        s"${op.name}: $m vs $m0")
      if (cap == 2) {
        // three rows in each bucket: over the cap only with the null
        assert(m.getAs[Long]("capped_buckets") == m.getAs[Long]("active_buckets"),
          s"${op.name}: $m")
        assert(m0.getAs[Long]("capped_buckets") == 0L, s"${op.name}: $m0")
      }
    }
    // a null and one id: an active bucket without a pair. Adaptive
    // execution drops the metric of a plan whose result is empty (its
    // empty-relation propagation replaces the observed subtree), so this
    // case runs without it
    spark.conf.set("spark.sql.adaptive.enabled", false)
    try for (op <- ops) {
      val out = op.run(sameContent(op, Seq(null, 5L)), 1000)
      assert(out.collect().isEmpty, op.name)
      assert(metric(out, op.metric).getAs[Long]("active_buckets") > 0L,
        s"${op.name}: ${metric(out, op.metric)}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", true)
  }

  /** Asserts each named plan has one bucket hash exchange feeding one
    * bucket walk over its sort, no capped aggregate, and (simhashPairs)
    * no join and no cache. */
  private def assertOneBucketWalk(runs: Seq[(String, DataFrame)]): Unit = {
    import org.apache.spark.sql.execution.{SortExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    for ((name, out) <- runs) {
      val plan: SparkPlan = out.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.initialPlan
        case p => p
      }
      val text = plan.toString
      assert(!text.contains("ObjectHashAggregate"), s"$name:\n$text")
      assert(!text.contains("collect_list_capped"), s"$name:\n$text")
      assert("Exchange hashpartitioning\\(bucket#".r.findAllIn(text).size == 1,
        s"$name:\n$text")
      val walks = plan.collect { case w: BucketPairsExec => w }
      assert(walks.size == 1, s"$name:\n$text")
      walks.head.child match {
        case SortExec(_, _, ex: ShuffleExchangeExec, _) =>
          assert(ex.outputPartitioning.toString
            .startsWith("hashpartitioning(bucket#"), s"$name:\n$text")
        case other => fail(s"$name: the walk is not over a sorted " +
          s"bucket exchange:\n$other")
      }
      if (name == simhash.name) {
        assert(plan.collect { case j: BaseJoinExec => j }.isEmpty, text)
        assert(!text.contains("InMemoryTableScan"), text)
      }
    }
  }

  test("plan pin: one bucket hash exchange feeds one bucket walk, with no " +
      "capped aggregate; simhashPairs has no join and no cache") {
    val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
    val emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
    assertOneBucketWalk(
      ops.map(op => op.name -> op.run(if (op.text) docs else emb, 1000)))
  }

  test("plan pin: every cross-side pair generator has one bucket hash " +
      "exchange feeding one bucket walk, with no capped aggregate") {
    val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
    val emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
    val (incDocs, incEmb) = (docs.filter(col("doc_id") % 10 === 0),
      emb.filter(col("vec_id") % 10 === 0))
    assertOneBucketWalk(crossOps.map(op => op.name -> op.run(
      if (op.text) incDocs else incEmb, if (op.text) docs else emb, 1000)))
  }

  /** Runs `body` with `n` shuffle partitions, none coalesced. */
  private def withPartitions[T](n: Int)(body: => T): T = {
    val keys = Seq("spark.sql.shuffle.partitions",
      "spark.sql.adaptive.coalescePartitions.enabled")
    val old = keys.map(k => spark.conf.getOption(k))
    spark.conf.set(keys(0), n.toLong)
    spark.conf.set(keys(1), false)
    try body
    finally keys.zip(old).foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** `id % 5` picks a prefix: U+1F600 is a surrogate pair (D83D DE00) in
    * UTF-16, so it sorts below U+E000..U+FFFF there, but its UTF-8 bytes
    * (F0 ..) sort above theirs (EE .., EF ..). */
  private def stringIds(df: DataFrame, id: String): DataFrame = {
    val prefixes = Seq("\uD83D\uDE00", "\uE000", "\uFFFF", "a", "\uFFFD")
    df.withColumn(id, concat(element_at(array(prefixes.map(lit): _*),
      (col(id) % prefixes.size + 1).cast("int")), col(id).cast("string")))
  }

  /** Fixture rows, three of them repeated under their own ids, plus a
    * cluster of `clusterSize` identical members. */
  private def fixture(text: Boolean, clusterSize: Int): DataFrame = {
    import spark.implicits._
    val (name, id, payload) =
      if (text) ("documents", "doc_id", "text") else ("embeddings", "vec_id", "embedding")
    val base = spark.read.parquet(sf("sf0.001") + s"/$name.parquet")
      .select(col(id), col(payload)).orderBy(col(id)).limit(200)
    val cluster =
      if (text) (1L to clusterSize.toLong).map(i => (3000000L + i, clusterText)).toDF(id, payload)
      else (1L to clusterSize.toLong).map(i => (3000000L + i, hot)).toDF(id, payload)
    base.unionByName(base.orderBy(col(id)).limit(3)).unionByName(cluster)
  }

  test("each ported operator is row-identical to the pipeline it replaced: " +
      "scores, schema and metric, over-cap buckets, string and duplicate " +
      "ids, empty input, at 1 and 7 grouping partitions") {
    val defaultPar = spark.sparkContext.defaultParallelism
    def parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    // (library, parent) at the session's shuffle width; nearDupPairs
    // sizes its own grouping exchange, so both sides take it explicitly
    val cases: Seq[(Op, Int, (DataFrame, Int) => DataFrame,
        (DataFrame, Int) => DataFrame)] = Seq(
      (nearDup, 10,
        (df, cap) => Similarity.bucketPairs(
          df.select(col("vec_id").as("id"), col("embedding").as("v"))
            .repartition(defaultPar, col("id")),
          64, 0.9, 4, 3, cap, parts),
        (df, cap) => InGroupVerifyReference.nearDupPairs(df, "vec_id",
          "embedding", 64, 0.9, 4, 3, cap, parts)),
      // the parent re-joined each pair to every signature of its ids, so
      // a repeated id repeated its rows: compared as a set
      (simhash, 10, simhash.run,
        (df, cap) => JoinedVerifyReference.simhashPairs(df, col("doc_id"),
          col("text"), 3, 4, cap).distinct()),
      (winnow, 10, winnow.run,
        (df, cap) => JoinedVerifyReference.winnowPairs(df, col("doc_id"),
          col("text"), 20, 8, 1L, cap)),
      (semDedup, 100, semDedup.run,
        (df, cap) => JoinedVerifyReference.semDedupPairs(df, "vec_id",
          "embedding", 0.9, 4, 1, cap)))
    for ((op, cap, lib, parent) <- cases) {
      val longIds = fixture(op.text, clusterSize = cap + 20)
      val id = if (op.text) "doc_id" else "vec_id"
      val fixtures = Seq("long ids" -> longIds,
        "string ids" -> stringIds(longIds, id),
        "empty" -> longIds.filter(lit(false)))
      for ((fx, df) <- fixtures) {
        val results = Seq(1, 7).map { n =>
          withPartitions(n) {
            val (got, want) = (lib(df, cap), parent(df, cap))
            val at = s"${op.name}, $fx, $n partitions"
            val rs = rows(got)
            assert(rs == rows(want), at)
            assert(got.schema.map(f => (f.name, f.dataType)) ==
              want.schema.map(f => (f.name, f.dataType)), at)
            assert(metric(got, op.metric) == metric(want, op.metric), at)
            if (fx != "empty") {
              assert(rs.nonEmpty, at)
              assert(metric(got, op.metric)
                .getAs[Long]("capped_buckets") > 0L, at)
            }
            rs
          }
        }
        assert(results.distinct.size == 1, s"${op.name}, $fx")
        assert(rows(op.run(df, cap)) == results.head, s"${op.name}, $fx")
      }
    }
  }

  /** (increment, corpus): the fixture rows split by id, three of each
    * side's rows repeated, the increment's three also in the corpus, and
    * two clusters of identical members: the
    * first with `clusterSize` members on the `incBig` side, two on the
    * other and a null id on each side; the second with two corpus
    * members and only a null increment id. */
  private def crossFixture(text: Boolean, clusterSize: Int,
      incBig: Boolean): (DataFrame, DataFrame) = {
    import spark.implicits._
    val (name, id, payload) =
      if (text) ("documents", "doc_id", "text") else ("embeddings", "vec_id", "embedding")
    val base = spark.read.parquet(sf("sf0.001") + s"/$name.parquet")
      .select(col(id), col(payload)).orderBy(col(id)).limit(200)
    def firstThree(rows: DataFrame): DataFrame = rows.orderBy(col(id)).limit(3)
    val (incBase, corpBase) =
      (base.filter(col(id) % 4 === 0), base.filter(col(id) % 4 =!= 0))
    def cluster(which: Int, ids: Seq[java.lang.Long]): DataFrame =
      if (text) {
        val t = Seq(clusterText, "a second cluster of words, whose only " +
          "increment id is null, said twice over")(which)
        ids.map(i => (i, t)).toDF(id, payload)
      } else {
        val v = Seq(hot, Array.tabulate(64)(i => if (i % 2 == 0) 1f else -1f))(which)
        ids.map(i => (i, v)).toDF(id, payload)
      }
    val big = (1L to clusterSize.toLong).map(i => java.lang.Long.valueOf(3000000L + i))
    val two = Seq[java.lang.Long](4000001L, 4000002L)
    val (incIds, corpIds) = if (incBig) (big, two) else (two, big)
    (incBase.unionByName(firstThree(incBase))
        .unionByName(cluster(0, incIds :+ null))
        .unionByName(cluster(1, Seq(null))),
      corpBase.unionByName(firstThree(corpBase)).unionByName(firstThree(incBase))
        .unionByName(cluster(0, corpIds :+ null))
        .unionByName(cluster(1, Seq[java.lang.Long](5000001L, 5000002L))))
  }

  test("each cross-side operator is row-identical to the pipeline it " +
      "replaced: scores, schema and metric, an over-cap bucket on either " +
      "side, null, string and duplicate ids, an empty side, at 1 and 7 " +
      "bucket partitions") {
    for (op <- crossOps) {
      val cap = if (op.text) 10 else 150
      val id = if (op.text) "doc_id" else "vec_id"
      val sided = for {
        (over, incBig) <- Seq("increment" -> true, "corpus" -> false)
        (ids, f) <- Seq[(String, DataFrame => DataFrame)](
          "long ids" -> identity, "string ids" -> (stringIds(_, id)))
      } yield {
        val (inc, corp) = crossFixture(op.text, cap + 20, incBig)
        s"$over over the cap, $ids" -> (f(inc), f(corp))
      }
      val (inc0, corp0) = sided.head._2
      val fixtures = sided ++ Seq(
        "empty increment" -> (inc0.filter(lit(false)), corp0),
        "empty corpus" -> (inc0, corp0.filter(lit(false))))
      for ((fx, (inc, corp)) <- fixtures) {
        val results = Seq(1, 7).map { n =>
          withPartitions(n) {
            val (got, want) = (op.at(inc, corp, cap, n), op.parent(inc, corp, cap))
            val at = s"${op.name}, $fx, $n partitions"
            val rs = rows(got)
            // the parent's verify joins repeat a MinHash pair once per
            // duplicate signature of its ids: compared as a set
            val ws = rows(want)
            assert(rs == (if (op.text) ws.distinct else ws), at)
            assert(rs.distinct == rs, at)
            assert(got.schema.map(f => (f.name, f.dataType)) ==
              want.schema.map(f => (f.name, f.dataType)), at)
            assert(metric(got, op.metric) == metric(want, op.metric), at)
            if (!fx.startsWith("empty")) {
              assert(rs.nonEmpty, at)
              assert(metric(got, op.metric).getAs[Long]("capped_buckets") > 0L, at)
            }
            rs
          }
        }
        assert(results.distinct.size == 1, s"${op.name}, $fx")
        assert(rows(op.run(inc, corp, cap)) == results.head, s"${op.name}, $fx")
      }
    }
  }
}
