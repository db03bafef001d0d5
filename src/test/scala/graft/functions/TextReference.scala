package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The Column compositions that `Text.tokenCount`, `stopwordRatio`,
  * `langId`, `gopherRules` and `c4Rules` were before they became
  * `graft.plans.TextKernels` kernels, kept verbatim as the semantic
  * reference the kernels are checked against. They evaluate through
  * higher-order-function lambdas, so they are slow and keep a `Filter`
  * out of whole-stage codegen: test use only.
  */
object TextReference {

  def tokens(c: Column): Column =
    filter(split(c, "\\s+"), t => t =!= "")

  def tokenCount(c: Column): Column = size(tokens(c))

  private val enStop =
    Seq("the", "of", "and", "to", "in", "a", "is", "that", "it", "for")
  private val deStop =
    Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "von", "zu")
  private val frStop =
    Seq("le", "la", "les", "de", "et", "est", "un", "une", "dans", "que")

  private def stopHits(toks: Column, stops: Seq[String]): Column =
    size(filter(toks, t => lower(t).isInCollection(stops)))

  def stopwordRatio(c: Column): Column = {
    val t = tokens(c)
    when(size(t) > 0, stopHits(t, enStop).cast("double") / size(t).cast("double"))
      .otherwise(lit(0.0))
  }

  def langId(c: Column): Column = {
    val t = tokens(c)
    val en = stopHits(t, enStop)
    val de = stopHits(t, deStop)
    val fr = stopHits(t, frStop)
    when(en === 0 && de === 0 && fr === 0, lit("und"))
      .when(en >= de && en >= fr, lit("en"))
      .when(de >= fr, lit("de"))
      .otherwise(lit("fr"))
  }

  def qualityScore(c: Column): Column = {
    val lenScore = least(length(c).cast("double") / lit(500.0), lit(1.0))
    val punctScore = greatest(lit(1.0) - Text.punctRatio(c) * 4, lit(0.0))
    val stopScore = least(stopwordRatio(c) * 5, lit(1.0))
    lenScore * 0.4 + punctScore * 0.3 + stopScore * 0.3
  }

  private val gopherStops =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  def gopherRules(
      c: Column,
      minWords: Int = 50,
      maxWords: Int = 100000,
      minMeanWordLen: Int = 3,
      maxMeanWordLen: Int = 10,
      maxSymbolRatio: (Int, Int) = (1, 10),
      maxBulletRatio: (Int, Int) = (9, 10),
      maxEllipsisRatio: (Int, Int) = (3, 10),
      minAlphaRatio: (Int, Int) = (4, 5),
      minStopwordHits: Int = 2): Column = {
    val ws = tokens(c)
    val n = size(ws).cast("long")
    val sumLen = aggregate(ws, lit(0L), (acc, w) => acc + length(w))
    val nHash = (length(c) - length(translate(c, "#", ""))).cast("long")
    val nEllRuns =
      ((length(c) - length(replace(c, lit("..."), lit("")))) / 3).cast("long")
    val lines = split(c, "\n")
    val nLines = size(lines).cast("long")
    val bullets = size(filter(lines, l =>
      startswith(ltrim(l), lit("-")) || startswith(ltrim(l), lit("*"))))
      .cast("long")
    val ellLines = size(filter(lines, l =>
      endswith(rtrim(l), lit("...")))).cast("long")
    val alphaWords = size(filter(ws, w => w.rlike("[A-Za-z]"))).cast("long")
    val stopHitsDistinct = size(array_intersect(
      transform(ws, w => lower(w)), typedLit(gopherStops))).cast("long")
    val okWords = n >= minWords && n <= maxWords
    val okMean = sumLen >= n * minMeanWordLen && sumLen <= n * maxMeanWordLen
    val okSymbol =
      (nHash + nEllRuns) * maxSymbolRatio._2 <= n * maxSymbolRatio._1
    val okBullet = bullets * maxBulletRatio._2 <= nLines * maxBulletRatio._1
    val okEll =
      ellLines * maxEllipsisRatio._2 <= nLines * maxEllipsisRatio._1
    val okAlpha = alphaWords * minAlphaRatio._2 >= n * minAlphaRatio._1
    val okStop = stopHitsDistinct >= minStopwordHits
    struct(
      n.as("n_words"),
      okWords.as("ok_words"),
      okMean.as("ok_mean_word_len"),
      okSymbol.as("ok_symbol_ratio"),
      okBullet.as("ok_bullet_lines"),
      okEll.as("ok_ellipsis_lines"),
      okAlpha.as("ok_alpha_words"),
      okStop.as("ok_stopwords"),
      (okWords && okMean && okSymbol && okBullet && okEll && okAlpha &&
        okStop).as("pass"))
  }

  def c4Rules(
      c: Column,
      minLineWords: Int = 5,
      minSentences: Int = 3): Column = {
    val lines = split(c, "\n")
    val kept = filter(lines, { l =>
      val r = rtrim(l)
      size(tokens(l)) >= minLineWords &&
        (endswith(r, lit(".")) || endswith(r, lit("!")) ||
          endswith(r, lit("?")) || endswith(r, lit("\""))) &&
        !contains(lower(l), lit("javascript"))
    })
    val clean = array_join(kept, "\n")
    val nSentences =
      (length(clean) - length(translate(clean, ".!?", ""))).cast("long")
    val okSentences = nSentences >= minSentences
    val okLorem = !contains(lower(c), lit("lorem ipsum"))
    val okBrace = !contains(c, lit("{"))
    struct(
      size(lines).cast("long").as("n_lines"),
      size(kept).cast("long").as("n_lines_kept"),
      nSentences.as("n_sentences"),
      okSentences.as("ok_sentences"),
      okLorem.as("ok_lorem"),
      okBrace.as("ok_brace"),
      (okSentences && okLorem && okBrace && size(kept) >= 1).as("pass"),
      clean.as("clean_text"))
  }
}
