package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-trained text classification — the quality/language classifier
  * slot of a training-data pipeline (GPT-3/LLaMA-style pipelines gate
  * documents behind a linear text classifier; the reference's analog is
  * a per-record scoring conduit, /root/reference/src/Hadron/Basic.hs
  * mapper stage).
  *
  * The model is a LINEAR scorer with naive-Bayes-flavored weights:
  * class score = Σ over tokens of w(token, class), with
  *
  *   w(t, l) = floor((c(t,l) + 1) * 2^20 / (T_l + V))
  *
  * — the add-one-smoothed class-conditional token probability in exact
  * 2^20 fixed point (same discipline as `LangModel`). True multinomial
  * NB ranks by the PRODUCT of probabilities; a log-space sum would
  * reproduce that ordering but `ln` is not bit-portable across engines,
  * so this operator deliberately scores by the SUM — a legitimate
  * linear scoring rule (the fastText shape) whose integer weights make
  * every prediction reproducible in any engine, hash-exact. Swap the
  * weight table for externally trained logistic-regression weights and
  * the serving plan is unchanged.
  */
object Classifier {

  private val Scale = 1L << 20

  /** Train on (label, text), predict for every `score` document:
    * (id, pred_label, score_fx, n_scored_tokens). Prediction is
    * argmax by (score desc, label asc) — deterministic. The weight
    * table is DENSE over vocab × classes, so every in-vocabulary token
    * contributes to every class (n_scored_tokens is identical across a
    * document's classes); tokens unseen in ANY training class are
    * DROPPED — note this differs from strict add-one NB, where an OOV
    * token would add the class-DEPENDENT floor 2^20/(T_l+V) (favoring
    * classes with less training mass); dropping them is part of this
    * scorer's definition, chosen so the score depends only on
    * in-vocabulary evidence. Documents with zero in-vocabulary tokens
    * are absent from the output.
    *
    * Scale shape: token counts are ONE aggregation of the train token
    * stream, persisted (the model statistic — its four consumers read
    * the cache, same contract as `LangModel`'s model). The dense table
    * is |vocab| × |classes| rows; scoring joins the score-side token
    * stream on token, with no hint — Spark's size-based join selection
    * picks the strategy. The argmax is `topk_by` (bounded,
    * map-side partial), not a window. CACHE LIFECYCLE: the persisted
    * model is pinned by the returned plan — clearCache() between
    * corpora.
    */
  def nbLinear(
      train: DataFrame, trainLabel: Column, trainText: Column,
      score: DataFrame, scoreId: Column, scoreText: Column): DataFrame = {
    val counts = train
      .select(trainLabel.as("l"), explode(Text.tokens(trainText)).as("t"))
      .filter(col("l").isNotNull) // an unlabeled row is not a class
      .groupBy("l", "t").agg(count(lit(1)).as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val totals = counts.groupBy("l").agg(sum(col("c")).as("tot"))
    val vocab = counts.select("t").distinct()
    val v1 = broadcast(counts.agg(count_distinct(col("t")).as("v")))
    val dense = vocab.crossJoin(totals)
      .join(counts, Seq("l", "t"), "left")
      .crossJoin(v1)
      .select(col("t"), col("l"),
        expr(s"((coalesce(c, 0L) + 1L) * ${Scale}L) div (tot + v)").as("w"))

    score.select(scoreId.as("id"), explode(Text.tokens(scoreText)).as("t"))
      .join(dense, Seq("t"))
      .groupBy(col("id"), col("l"))
      .agg(sum(col("w")).as("fx"), count(lit(1)).as("n"))
      .groupBy(col("id"))
      .agg(
        call_function("topk_by",
          col("l"), col("fx").cast("double"), lit(1)).as("top"),
        max(col("n")).as("n_scored_tokens"))
      .select(col("id"),
        col("top")(0)("id").as("pred_label"),
        // fx sums stay far below 2^53, so the double round-trip through
        // topk_by's score slot is exact
        col("top")(0)("score").cast("long").as("score_fx"),
        col("n_scored_tokens"))
  }
}
