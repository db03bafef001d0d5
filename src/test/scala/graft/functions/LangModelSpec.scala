package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

class LangModelSpec extends SparkSpec {

  /** Naive driver-side reference model: exact longs, same formula. */
  private def naive(
      train: Seq[(Long, String)], score: Seq[(Long, String)],
      minCount: Long = 1L): Map[Long, (Long, Long, Double)] = {
    def toks(s: String) = s.split("\\s+").filter(_.nonEmpty).toSeq
    def bis(s: String) = { val t = toks(s); t.zip(t.drop(1)) }
    val c12 = train.flatMap(d => bis(d._2))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val c1 = c12.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val v = train.flatMap(d => toks(d._2)).distinct.size.toLong
    score.flatMap { case (id, text) =>
      val bs = bis(text)
      if (bs.isEmpty) None
      else {
        val fxs = bs.map { b =>
          val n12 = c12.getOrElse(b, 0L)
          val kept = if (n12 >= minCount) n12 else 0L
          ((kept + 1L) * (1L << 20)) / (c1.getOrElse(b._1, 0L) + v)
        }
        val sum = fxs.sum
        Some(id -> ((bs.size.toLong, sum,
          sum.toDouble / bs.size / (1L << 20).toDouble)))
      }
    }.toMap
  }

  private def run(
      train: Seq[(Long, String)], score: Seq[(Long, String)],
      minCount: Long = 1L): Map[Long, (Long, Long, Double)] = {
    import spark.implicits._
    LangModel.bigramLmScore(
        train.toDF("id", "text"), col("id"), col("text"),
        score.toDF("id", "text"), col("id"), col("text"),
        minBigramCount = minCount)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
  }

  test("hand-checked smoothed probabilities on a two-doc corpus") {
    // train: "a b a b" -> bigrams (a,b)x2, (b,a)x1; V = 2
    // c1: a->2, b->1
    val train = Seq((1L, "a b a b"))
    // score "a b": fx = (2+1)*2^20 / (2+2) = 786432; score = 0.75
    val out = run(train, Seq((10L, "a b")))
    assert(out(10L) == ((1L, 786432L, 0.75)))
    // unseen bigram, seen context: "a a" -> (0+1)*2^20 / (2+2) = 262144
    assert(run(train, Seq((11L, "a a")))(11L) == ((1L, 262144L, 0.25)))
    // unseen context: "z q" -> (0+1)*2^20 / (0+2) = 524288
    assert(run(train, Seq((12L, "z q")))(12L) == ((1L, 524288L, 0.5)))
  }

  test("matches the naive model on an adversarial corpus, self-scored " +
      "(shuffle-join and broadcast arms agree)") {
    val docs = (1L to 40L).map { i =>
      val words = (0 until (i % 7 + 1).toInt)
        .map(j => s"w${(i * 31 + j * 17) % 11}")
      (i, words.mkString(" "))
    }
    val expected = naive(docs, docs)
    assert(run(docs, docs) == expected)
  }

  test("minBigramCount prunes numerators but never denominators") {
    val train = Seq((1L, "a b a b a c"))
    // c12: (a,b)=2, (b,a)=2, (a,c)=1; c1: a=3, b=2; V=3
    // prune at 2: (a,c) becomes unseen -> (0+1)*2^20/(3+3)=174762,
    // but (a,b) keeps its full denominator c1(a)=3: (2+1)*2^20/(3+3)
    val out = run(train, Seq((10L, "a c"), (11L, "a b")), minCount = 2L)
    assert(out(10L)._2 == (1L << 20) / 6)
    assert(out(11L)._2 == 3L * (1L << 20) / 6)
    assert(run(train, Seq((10L, "a c"), (11L, "a b"))) ==
      naive(train, Seq((10L, "a c"), (11L, "a b"))))
  }

  test("plan shape: the bigram model aggregates once — every consumer " +
      "reads the cache (dropping the persist re-runs the train explode)") {
    import spark.implicits._
    val docs = (1L to 20L).map(i => (i, s"a b c d$i e")).toSeq
    try {
      val plan = LangModel.bigramLmScore(
          docs.toDF("id", "text"), col("id"), col("text"),
          docs.toDF("id", "text"), col("id"), col("text"))
        .queryExecution.executedPlan.toString
      val cacheReads = "InMemoryTableScan".r.findAllIn(plan).size
      assert(cacheReads >= 2, s"model cache not shared:\n$plan")
    } finally spark.catalog.clearCache()
  }

  test("plan shape: the trigram backoff's bi/uni tables each serve two " +
      "joins from the cache (uncached they would re-explode the corpus)") {
    import spark.implicits._
    val docs = (1L to 20L).map(i => (i, s"a b c d$i e f")).toSeq
    try {
      val plan = LangModel.trigramLmScore(
          docs.toDF("id", "text"), col("id"), col("text"),
          docs.toDF("id", "text"), col("id"), col("text"))
        .queryExecution.executedPlan.toString
      // tri x1 + bi x2 (c12, c23) + uni x2 (c2, c3) + N derivation = 6+
      val cacheReads = "InMemoryTableScan".r.findAllIn(plan).size
      assert(cacheReads >= 6, s"model caches not shared:\n$plan")
    } finally spark.catalog.clearCache()
  }

  /** Naive stupid-backoff reference: exact longs, same arms. */
  private def naive3(
      train: Seq[(Long, String)], score: Seq[(Long, String)])
      : Map[Long, (Long, Long, Double)] = {
    val S = 1L << 20
    def toks(s: String) = s.split("\\s+").filter(_.nonEmpty).toSeq
    def tris(s: String) = { val t = toks(s); t.lazyZip(t.drop(1)).lazyZip(t.drop(2)).toSeq }
    def bis(s: String) = { val t = toks(s); t.zip(t.drop(1)) }
    val c123 = train.flatMap(d => tris(d._2))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val cb = train.flatMap(d => bis(d._2))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val cu = train.flatMap(d => toks(d._2))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val n = cu.values.sum
    score.flatMap { case (id, text) =>
      val ts = tris(text)
      if (ts.isEmpty) None
      else {
        val fxs = ts.map { case (w1, w2, w3) =>
          val t = c123.getOrElse((w1, w2, w3), 0L)
          val b12 = cb.getOrElse((w1, w2), 0L)
          val b23 = cb.getOrElse((w2, w3), 0L)
          val u2 = cu.getOrElse(w2, 0L)
          val u3 = cu.getOrElse(w3, 0L)
          if (t > 0 && b12 > 0) (t * S) / b12
          else if (b23 > 0 && u2 > 0) (2 * ((b23 * S) / u2)) / 5
          else if (u3 > 0) (4 * ((u3 * S) / n)) / 25
          else 0L
        }
        Some(id -> ((ts.size.toLong, fxs.sum,
          fxs.sum.toDouble / ts.size / S.toDouble)))
      }
    }.toMap
  }

  private def run3(
      train: Seq[(Long, String)], score: Seq[(Long, String)])
      : Map[Long, (Long, Long, Double)] = {
    import spark.implicits._
    try LangModel.trigramLmScore(
        train.toDF("id", "text"), col("id"), col("text"),
        score.toDF("id", "text"), col("id"), col("text"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    finally spark.catalog.clearCache()
  }

  test("stupid backoff hits every arm: trigram, bigram, unigram, unseen") {
    // train: "a b c a b d" -> tri (a,b,c),(b,c,a),(c,a,b),(a,b,d)
    val train = Seq((1L, "a b c a b d"))
    // "a b c": trigram hit -> (1 * 2^20) / c12(a,b)=2
    assert(run3(train, Seq((10L, "a b c")))(10L)._2 == (1L << 20) / 2)
    // "x b c": trigram miss, bigram (b,c)=1 hit, c2=cu(b)=2
    //   -> (2 * ((1 * 2^20) / 2)) / 5
    assert(run3(train, Seq((11L, "x b c")))(11L)._2 ==
      (2L * ((1L << 20) / 2)) / 5)
    // "x y d": both miss, unigram d=1, N=6 -> (4 * (2^20 / 6)) / 25
    assert(run3(train, Seq((12L, "x y d")))(12L)._2 ==
      (4L * ((1L << 20) / 6)) / 25)
    // "x y z": fully unseen -> 0
    assert(run3(train, Seq((13L, "x y z")))(13L)._2 == 0L)
  }

  test("trigram backoff matches the naive model on an adversarial " +
      "corpus, both join arms") {
    val docs = (1L to 35L).map { i =>
      val words = (0 until (i % 8 + 1).toInt)
        .map(j => s"w${(i * 29 + j * 13) % 9}")
      (i, words.mkString(" "))
    }
    val expected = naive3(docs, docs)
    assert(run3(docs, docs) == expected)
  }

  test("documents with fewer than two tokens are absent from the output") {
    val train = Seq((1L, "a b"))
    val out = run(train, Seq((10L, "solo"), (11L, ""), (12L, "a b")))
    assert(out.keySet == Set(12L))
  }
}
