package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-trained n-gram language-model quality scoring — the CCNet /
  * RedPajama filter shape (Wenzek et al. 2020 train a KenLM on clean text
  * and rank web documents by perplexity; the reference's analog is any
  * per-record scoring conduit, /root/reference/src/Hadron/Basic.hs
  * mapper stage).
  *
  * graft's variant is a bigram model with add-one smoothing, scored in
  * EXACT fixed-point arithmetic: each bigram contributes
  *
  *   fx(w1 w2) = floor((c(w1 w2) + 1) * 2^20 / (c(w1 ·) + V))
  *
  * (integer division, all longs), and a document's score is the mean fx
  * over its bigrams, divided back by 2^20. A log-space perplexity would
  * be a float fold in corpus order — unreproducible across engines and
  * partitionings — while this sum is order-independent and bit-exact, so
  * the whole operator is oracle-able. Per-bigram monotonicity vs the
  * true smoothed probability is preserved (fx is a monotone function of
  * p), so threshold-style filtering ranks documents the same way.
  */
object LangModel {

  private val Scale = 1L << 20

  /** (id, w1, w2) bigram stream of a corpus — adjacent `Text.tokens`
    * pairs; documents with fewer than two tokens contribute nothing.
    */
  private def bigrams(df: DataFrame, id: Column, text: Column): DataFrame = {
    val tk = Text.tokens(text)
    df.select(id.as("id"), tk.as("tk"))
      .filter(size(col("tk")) >= 2)
      .select(col("id"), explode(zip_with(
        slice(col("tk"), lit(1), size(col("tk")) - 1),
        slice(col("tk"), lit(2), size(col("tk")) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("b"))
      .select(col("id"), col("b.w1"), col("b.w2"))
  }

  /** (id, w1, w2, w3) trigram stream — adjacent token triples. */
  private def trigrams(df: DataFrame, id: Column, text: Column): DataFrame = {
    val tk = Text.tokens(text)
    df.select(id.as("id"), tk.as("tk"))
      .filter(size(col("tk")) >= 3)
      .select(col("id"), explode(zip_with(
        slice(col("tk"), lit(1), size(col("tk")) - 2),
        zip_with(
          slice(col("tk"), lit(2), size(col("tk")) - 2),
          slice(col("tk"), lit(3), size(col("tk")) - 2),
          (b, c) => struct(b.as("w2"), c.as("w3"))),
        (a, bc) => struct(a.as("w1"), bc("w2").as("w2"), bc("w3").as("w3"))))
        .as("t"))
      .select(col("id"), col("t.w1"), col("t.w2"), col("t.w3"))
  }

  /** Trigram language-model scoring with STUPID BACKOFF (Brants et al.
    * 2007 — the web-scale LM that skips normalized discounting):
    *
    *   S(w3 | w1 w2) = c123/c12          if the trigram was seen
    *                 = 0.4 · c23/c2      else if the bigram was seen
    *                 = 0.16 · c3/N       else if the unigram was seen
    *                 = 0                 otherwise
    *
    * in exact 2^20 fixed point: each arm is integer division (0.4 = 2/5
    * and 0.16 = 4/25 as integer multiply-then-divide), so the score is
    * order-independent and engine-reproducible like [[bigramLmScore]].
    * Returns (id, n_trigrams, lm_fx_sum, score); documents with fewer
    * than three tokens are absent.
    *
    * Scale shape: three persisted count tables (tri/bi/uni — the model,
    * bounded aggregates far smaller than the corpus; same cache
    * lifecycle as [[bigramLmScore]]); N rides a 1-row broadcast. The
    * score-side trigram stream takes FIVE narrow model joins (c123,
    * c12, c23, c2, c3), with no hint — Spark's size-based join
    * selection picks each strategy.
    */
  def trigramLmScore(
      train: DataFrame, trainId: Column, trainText: Column,
      score: DataFrame, scoreId: Column, scoreText: Column): DataFrame = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val tri = trigrams(train, trainId, trainText)
      .groupBy("w1", "w2", "w3").agg(count(lit(1)).as("c123"))
      .persist(lvl)
    val bi = bigrams(train, trainId, trainText)
      .groupBy("w1", "w2").agg(count(lit(1)).as("cb"))
      .persist(lvl)
    val uni = train
      .select(explode(Text.tokens(trainText)).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cu"))
      .persist(lvl)
    val n = broadcast(uni.agg(sum(col("cu")).as("n")))

    trigrams(score, scoreId, scoreText)
      .join(tri, Seq("w1", "w2", "w3"), "left")
      .join(bi.select(col("w1"), col("w2"), col("cb").as("c12")),
        Seq("w1", "w2"), "left")
      .join(bi.select(col("w1").as("w2"), col("w2").as("w3"),
        col("cb").as("c23")), Seq("w2", "w3"), "left")
      .join(uni.select(col("w").as("w2"), col("cu").as("c2")),
        Seq("w2"), "left")
      .join(uni.select(col("w").as("w3"), col("cu").as("c3")),
        Seq("w3"), "left")
      .crossJoin(n)
      .select(col("id"),
        coalesce(col("c123"), lit(0L)).as("c123"),
        coalesce(col("c12"), lit(0L)).as("c12"),
        coalesce(col("c23"), lit(0L)).as("c23"),
        coalesce(col("c2"), lit(0L)).as("c2"),
        coalesce(col("c3"), lit(0L)).as("c3"),
        col("n"))
      .withColumn("fx", expr(s"""CASE
        WHEN c123 > 0 AND c12 > 0 THEN (c123 * ${Scale}L) div c12
        WHEN c23 > 0 AND c2 > 0 THEN (2 * ((c23 * ${Scale}L) div c2)) div 5
        WHEN c3 > 0 THEN (4 * ((c3 * ${Scale}L) div n)) div 25
        ELSE 0 END"""))
      .groupBy(col("id"))
      .agg(
        count(lit(1)).as("n_trigrams"),
        sum(col("fx")).as("lm_fx_sum"))
      .withColumn("score",
        col("lm_fx_sum").cast("double") / col("n_trigrams") / Scale.toDouble)
  }

  /** Score every `score` document by the mean smoothed bigram probability
    * under a model trained on `train` (which may be the same DataFrame —
    * self-scoring — or a clean reference corpus, the CCNet setup).
    * Returns (id, n_bigrams, lm_fx_sum, score): the exact fixed-point sum,
    * its bigram count, and score = sum / n / 2^20 as a double (one
    * division order, mirrored by any oracle). Documents with fewer than
    * two tokens have no bigrams and are absent from the output.
    *
    * Unseen bigrams smooth to fx = floor(2^20 / (c(w1 ·) + V)) — unseen
    * CONTEXTS to floor(2^20 / V) — so cross-corpus scoring is total.
    *
    * Scale shape: the bigram-count table is ONE aggregation of the
    * TRAIN bigram stream (map-side partial agg), PERSISTED — it is the
    * model, a bounded statistic far smaller than the corpus, and both
    * its consumers (the score join and the context-total derivation)
    * read the cache instead of re-running the corpus explode (verified:
    * uncached, Catalyst re-evaluates the aggregate per consumer because
    * their pruned schemas differ, so the train corpus exploded twice).
    * The vocabulary count is the one remaining extra train pass
    * (explode → count_distinct, map-side partial): the true token vocab
    * is not derivable from the bigram table; swap in `Sketch.kmvDistinct`
    * when an approximate V is acceptable at scale. V rides a 1-row
    * broadcast — never a driver action. Scoring is one join of the
    * score-side bigram stream against the model, with no hint — Spark's
    * size-based join selection picks the strategy; `minBigramCount`
    * prunes the model's long tail (hapax bigrams are
    * most of a web-scale model's rows and smoothing already handles
    * them as unseen), the same df-cap discipline as the Jaccard posting
    * index.
    *
    * CACHE LIFECYCLE: the persisted model is pinned by the returned
    * plan; a loop should `spark.catalog.clearCache()` between corpora,
    * or pre-materialize the model to a tap.
    */
  def bigramLmScore(
      train: DataFrame, trainId: Column, trainText: Column,
      score: DataFrame, scoreId: Column, scoreText: Column,
      minBigramCount: Long = 1L): DataFrame = {
    require(minBigramCount >= 1, s"minBigramCount must be >= 1")
    val tbi = bigrams(train, trainId, trainText)
    val c12 = tbi.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // context totals BEFORE pruning: the denominator stays the true
    // bigram-start count, so pruning only zeroes numerators (= unseen)
    val c1 = c12.groupBy("w1").agg(sum(col("c12")).as("c1"))
    val model = if (minBigramCount > 1L)
      c12.filter(col("c12") >= minBigramCount) else c12
    val vocab = broadcast(
      train.select(explode(Text.tokens(trainText)).as("w"))
        .agg(count_distinct(col("w")).as("v")))

    bigrams(score, scoreId, scoreText)
      .join(model, Seq("w1", "w2"), "left")
      // every bigram needs its context total (unseen bigrams included),
      // so c1 rides a separate narrow join, never the model rows
      .join(c1, Seq("w1"), "left")
      .crossJoin(vocab)
      .select(col("id"),
        ((coalesce(col("c12"), lit(0L)) + 1L) * Scale).as("num"),
        (coalesce(col("c1"), lit(0L)) + col("v")).as("den"))
      .withColumn("fx", expr("num div den"))
      .groupBy(col("id"))
      .agg(
        count(lit(1)).as("n_bigrams"),
        sum(col("fx")).as("lm_fx_sum"))
      .withColumn("score",
        col("lm_fx_sum").cast("double") / col("n_bigrams") / Scale.toDouble)
  }
}
