package graft.plans

import graft.SparkSpec
import graft.functions.{Text, TextReference}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Test => SCTest}
import org.scalacheck.Prop.{forAll, propBoolean}

/** Differential spec: every field of every text-quality kernel
  * (`token_count`, `stopword_ratio`, `lang_id`, `gopher_rules`,
  * `c4_rules`, and `qualityScore` through `stopword_ratio`) equals the
  * Column composition it replaced ([[TextReference]]), value and nullness
  * both, under this session's settings, with generated code and with
  * interpreted evaluation.
  */
class TextKernelsSpec extends SparkSpec {
  import TextKernelsSpec._

  /** Kernel and reference column for each function, by name. */
  private def pairs(t: Column, g: GopherArgs, c: C4Args)
      : Seq[(String, Column, Column)] = Seq(
    ("tokenCount", Text.tokenCount(t), TextReference.tokenCount(t)),
    ("stopwordRatio", Text.stopwordRatio(t), TextReference.stopwordRatio(t)),
    ("langId", Text.langId(t), TextReference.langId(t)),
    ("qualityScore", Text.qualityScore(t), TextReference.qualityScore(t)),
    ("gopherRules", g(Text.gopherRules), g(TextReference.gopherRules)),
    ("gopherRules.isNull", g(Text.gopherRules).isNull,
      g(TextReference.gopherRules).isNull),
    ("c4Rules", c(Text.c4Rules), c(TextReference.c4Rules)),
    ("c4Rules.isNull", c(Text.c4Rules).isNull, c(TextReference.c4Rules).isNull))

  /** The mismatches between kernel and reference over `texts`. */
  private def mismatches(texts: Seq[String], g: GopherArgs, c: C4Args,
      codegen: Boolean): Seq[String] = {
    import spark.implicits._
    val ps = pairs(col("text"), g, c)
    val rows = withCodegen(codegen) {
      texts.toDF("text")
        .select(col("text") +: ps.flatMap { case (_, k, r) => Seq(k, r) }: _*)
        .collect().toSeq
    }
    for {
      row <- rows
      ((name, _, _), i) <- ps.zipWithIndex
      (k, r) = (row.get(1 + 2 * i), row.get(2 + 2 * i))
      if k != r
    } yield s"$name on ${show(row.getString(0))} ($g, $c, codegen=$codegen): " +
      s"kernel $k, reference $r"
  }

  private def withCodegen[A](on: Boolean)(body: => A): A = {
    val keys = Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")
    val prev = keys.map(k => spark.conf.getOption(k))
    spark.conf.set(keys(0), on.toString)
    spark.conf.set(keys(1), if (on) "CODEGEN_ONLY" else "NO_CODEGEN")
    try body
    finally keys.zip(prev).foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("named edge cases: whitespace class, bullets, dot runs, mixed-case " +
      "markers, non-ASCII letters, empty, blank and null texts") {
    for (codegen <- Seq(true, false); (g, c) <- FixedArgs) {
      val bad = mismatches(EdgeCases, g, c, codegen)
      assert(bad.isEmpty, bad.take(5).mkString("\n"))
    }
  }

  test("generated texts and thresholds: kernels equal the reference " +
      "compositions field for field") {
    val gen = for {
      texts <- Gen.listOfN(120, textGen)
      g <- gopherArgsGen
      c <- c4ArgsGen
      codegen <- Gen.oneOf(true, false)
    } yield (texts, g, c, codegen)
    val prop = forAll(gen) { case (texts, g, c, codegen) =>
      val bad = mismatches(texts, g, c, codegen)
      bad.isEmpty :| bad.take(3).mkString("\n")
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(16), prop)
    assert(res.passed, res.status.toString)
  }

  test("the generator reaches every rule's both outcomes") {
    // a differential spec over texts that never pass (or never fail) a
    // rule would not test that rule
    import spark.implicits._
    val texts = Gen.listOfN(400, textGen)
      .pureApply(Gen.Parameters.default, org.scalacheck.rng.Seed(7L))
    val g = GopherArgs(minWords = 5, maxWords = 60, minStopwordHits = 1)
    val c = C4Args(minLineWords = 2, minSentences = 1)
    val df = texts.toDF("text")
      .select(g(Text.gopherRules).as("g"), c(Text.c4Rules).as("c"),
        Text.langId(col("text")).as("lang"))
    val outcomes = Seq("g.ok_words", "g.ok_mean_word_len", "g.ok_symbol_ratio",
      "g.ok_bullet_lines", "g.ok_ellipsis_lines", "g.ok_alpha_words",
      "g.ok_stopwords", "g.pass", "c.ok_sentences", "c.ok_lorem",
      "c.ok_brace", "c.pass")
      .map(f => f -> df.select(col(f)).distinct().collect().map(_.get(0)).toSet)
    for ((f, seen) <- outcomes)
      assert(seen.contains(true) && seen.contains(false), s"$f saw only $seen")
    val langs = df.select("lang").distinct().collect().map(_.getString(0)).toSet
    assert(langs == Set("en", "de", "fr", "und"), langs)
  }
}

object TextKernelsSpec {
  final case class GopherArgs(
      minWords: Int = 50, maxWords: Int = 100000,
      minMeanWordLen: Int = 3, maxMeanWordLen: Int = 10,
      maxSymbolRatio: (Int, Int) = (1, 10),
      maxBulletRatio: (Int, Int) = (9, 10),
      maxEllipsisRatio: (Int, Int) = (3, 10),
      minAlphaRatio: (Int, Int) = (4, 5),
      minStopwordHits: Int = 2) {
    def apply(f: (Column, Int, Int, Int, Int, (Int, Int), (Int, Int),
        (Int, Int), (Int, Int), Int) => Column): Column =
      f(col("text"), minWords, maxWords, minMeanWordLen, maxMeanWordLen,
        maxSymbolRatio, maxBulletRatio, maxEllipsisRatio, minAlphaRatio,
        minStopwordHits)
  }

  final case class C4Args(minLineWords: Int = 5, minSentences: Int = 3) {
    def apply(f: (Column, Int, Int) => Column): Column =
      f(col("text"), minLineWords, minSentences)
  }

  val FixedArgs: Seq[(GopherArgs, C4Args)] = Seq(
    (GopherArgs(), C4Args()),
    (GopherArgs(minWords = 1, maxWords = 12, minMeanWordLen = 2,
      maxMeanWordLen = 5, maxSymbolRatio = (1, 3), maxBulletRatio = (1, 2),
      maxEllipsisRatio = (1, 4), minAlphaRatio = (1, 2), minStopwordHits = 1),
      C4Args(minLineWords = 1, minSentences = 1)))

  /** Every `\s` character alone, in runs, leading and trailing. */
  private val JavaSpaces = Seq(" ", "\t", "\n", "\u000b", "\f", "\r")

  val EdgeCases: Seq[String] = Seq(
    null, "", " ", "\n", "\n\n", " \t\n\u000b\f\r ",
    "\u00a0", "a\u00a0b", // no-break space is not `\s`
    "- item\n* item\n  - spaced\n\t- tabbed\n\t* tabbed\n -\n*\n-x\n \n",
    "....", ".....", "......", ". ..", "a....\nb.....\nc...\nd.. .\n",
    "ends ...", "ends ...   ", "ends ...\t", "ends...\r", "...\n...",
    "#", "# ## ###", "x{y}", "{", "LoReM IpSuM", "lorem\tipsum",
    "lorem  ipsum", "prefix lorem ipsum suffix.", "Lorem ipsuM!",
    "enable JavaScript now.", "JAVASCRIPT is off.", "javascr ipt.",
    "Enable JAVASCRİPT today please now.",
    "Äpfel und Birnen sind nicht die Äpfel.",
    "wİth the İt İS THİS",
    "e\u0301te\u0301 the cafe\u0301 is a cafe\u0301.",
    "\u212aelvin THE Kelvin of AND",
    "ß straße ǅ 日本語 😀 the.",
    "THE The tHe of OF Of And AND THAT that have HAVE with WiTh be Be to",
    "der DIE das UND ist NICHT ein mit von zu le LA les de et est un une dans que",
    "the cat sat on the mat today.\nwe walked to the store and back!\n" +
      "is this the right question to ask?\n\"a quoted line ends here\"") ++
    JavaSpaces.flatMap(s => Seq(s * 3 + "a" + s + "b" + s * 2,
      "the" + s + "of" + s + s + "and.", s + "- bullet" + s + "line..." + s))

  private val wordGen: Gen[String] = Gen.oneOf(
    "the", "The", "THE", "be", "to", "of", "And", "that", "have", "with",
    "WITH", "wİth", "İt", "Is", "in", "a", "for", "it",
    "der", "Die", "das", "und", "ist", "nicht", "ein", "mit", "von", "zu",
    "le", "La", "les", "de", "et", "est", "un", "une", "dans", "que",
    "cat", "sat", "mat", "quickly", "antidisestablishment", "x", "ok",
    "Äpfel", "über", "naïve", "e\u0301", "İstanbul",
    "\u212aelvin", "ß", "日本語", "😀",
    "42", "3.14", "#", "#tag", "{", "x{y}", "lorem", "Lorem", "ipsum",
    "IPSUM", "javascript", "JavaScript", "JAVASCRİPT", "javascr",
    "..", "...", "....", ".....", "wait..", "wait...", "end.", "why?",
    "wow!", "\"q\"",
    "-", "*")

  private val sepGen: Gen[String] = Gen.frequency(
    12 -> " ", 2 -> "  ", 1 -> "\t", 3 -> "\n", 1 -> "\u000b", 1 -> "\f",
    1 -> "\r", 1 -> "\r\n", 1 -> " \n ", 1 -> "\n\n", 1 -> "\t\t",
    1 -> " . ", 1 -> "...", 1 -> "\u00a0")

  private val lineGen: Gen[String] = for {
    prefix <- Gen.frequency(6 -> "", 1 -> "- ", 1 -> "* ", 1 -> "  - ",
      1 -> "   * ", 1 -> "\t- ", 1 -> "\t* ", 1 -> " -", 1 -> "*x ")
    n <- Gen.choose(0, 12)
    words <- Gen.listOfN(n, wordGen)
    seps <- Gen.listOfN(n, sepGen)
    end <- Gen.oneOf("", ".", "!", "?", "\"", "..", ".. ", "...", "... ",
      "...  ", "....", ".....", ". .", " .", "\t", ".\t", "?\r",
      " lorem ipsum.", " Lorem Ipsum!")
  } yield prefix + words.zip(seps).map { case (w, s) => w + s }.mkString + end

  private val docGen: Gen[String] = for {
    k <- Gen.choose(1, 8)
    lines <- Gen.listOfN(k, lineGen)
    lead <- Gen.oneOf("", "", " ", "\n", "\t ", "  ", "\r\n")
    trail <- Gen.oneOf("", "", " ", "\n", "\t", "  \n", "\f")
  } yield lead + lines.mkString("\n") + trail

  val textGen: Gen[String] = Gen.frequency(
    16 -> docGen,
    2 -> Gen.oneOf("", " ", " \t\n\u000b\f\r", "\n\n\n", "...", "{", "#"),
    1 -> Gen.const(null))

  private val ratioGen: Gen[(Int, Int)] =
    for { d <- Gen.choose(1, 10); n <- Gen.choose(0, 10) } yield (n, d)

  val gopherArgsGen: Gen[GopherArgs] = for {
    minWords <- Gen.choose(0, 20)
    maxWords <- Gen.choose(minWords, 80)
    minMean <- Gen.choose(0, 5)
    maxMean <- Gen.choose(minMean, 12)
    sym <- ratioGen; bul <- ratioGen; ell <- ratioGen; alpha <- ratioGen
    minStop <- Gen.choose(0, 4)
  } yield GopherArgs(minWords, maxWords, minMean, maxMean, sym, bul, ell,
    alpha, minStop)

  val c4ArgsGen: Gen[C4Args] = for {
    minLineWords <- Gen.choose(0, 7)
    minSentences <- Gen.choose(0, 5)
  } yield C4Args(minLineWords, minSentences)

  /** `s` with every non-printable-ASCII character escaped. */
  def show(s: String): String =
    if (s == null) "null"
    else s.flatMap {
      case ch if ch >= ' ' && ch < 0x7f && ch != '\\' => ch.toString
      case ch => f"\\u${ch.toInt}%04x"
    }.mkString("\"", "", "\"")
}
