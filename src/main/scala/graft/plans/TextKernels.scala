package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionDescription, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{CollationFactory, CollationSupport}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** One-pass text-quality kernels: the static functions behind the
  * `token_count`, `stopword_ratio`, `lang_id`, `gopher_rules` and
  * `c4_rules` expressions (`graft.functions.Text`'s `tokenCount`,
  * `stopwordRatio`, `langId`, `gopherRules` and `c4Rules`).
  *
  * Each call reads the document's UTF-8 bytes once and returns exactly
  * what the function's former Column composition returned, under the
  * default (ANSI) session settings. The Spark primitives those
  * compositions used, and how the kernels reproduce them:
  *  - `split(text, "\\s+")` minus empty tokens: a token is a maximal run
  *    of bytes outside Java's `\s` class `[ \t\n\x0B\f\r]` (all ASCII,
  *    so never inside a multi-byte sequence);
  *  - `length`: code points, i.e. bytes that are not UTF-8 continuation
  *    bytes;
  *  - `split(text, "\n")`: one more line than there are `\n` bytes;
  *  - `ltrim`/`rtrim`: U+0020 only, so a tab-indented `-` is no bullet;
  *  - `lower`: ASCII text is lowered byte by byte. Text holding non-ASCII
  *    bytes goes through Spark's own `lower` (`CollationSupport.Lower`,
  *    ICU or JVM case mapping as `spark.sql.icu.caseMappings.enabled`
  *    says), but only when a match is still possible: lowering never
  *    shortens a string in code points, and the only non-ASCII code points
  *    that lower to ASCII letters lower to `i` or `k`. So a lowered token
  *    of more code points than the longest stopword never matches, and
  *    `lower(line)` can contain `javascript` only if the line holds
  *    `javascr` in ASCII, in any case (`lorem ` for `lorem ipsum`);
  *  - `array_intersect` with the Gopher list: distinct stopwords seen;
  *  - `replace(text, "...", "")`: leftmost non-overlapping matches, so a
  *    run of k dots holds k / 3 of them.
  *
  * A null document gives what the compositions gave under ANSI `size`
  * (null for a null array): null `token_count`, 0.0 `stopword_ratio`,
  * `"fr"` from `lang_id` (its fall-through branch), and a non-null
  * struct with every field null from the two rule sets.
  *
  * Strings are taken to be valid UTF-8, as every string Spark builds is.
  */
object TextKernels {

  val EnStop: Seq[String] =
    Seq("the", "of", "and", "to", "in", "a", "is", "that", "it", "for")
  val DeStop: Seq[String] =
    Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "von", "zu")
  val FrStop: Seq[String] =
    Seq("le", "la", "les", "de", "et", "est", "un", "une", "dans", "que")
  /** The Gopher rule-set stopword list (Rae et al. 2021, §A1.1). */
  val GopherStops: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  val GopherSchema: StructType = StructType(Seq(
    "n_words" -> LongType, "ok_words" -> BooleanType,
    "ok_mean_word_len" -> BooleanType, "ok_symbol_ratio" -> BooleanType,
    "ok_bullet_lines" -> BooleanType, "ok_ellipsis_lines" -> BooleanType,
    "ok_alpha_words" -> BooleanType, "ok_stopwords" -> BooleanType,
    "pass" -> BooleanType).map { case (n, t) => StructField(n, t) })

  val C4Schema: StructType = StructType(Seq(
    "n_lines" -> LongType, "n_lines_kept" -> LongType,
    "n_sentences" -> LongType, "ok_sentences" -> BooleanType,
    "ok_lorem" -> BooleanType, "ok_brace" -> BooleanType,
    "pass" -> BooleanType, "clean_text" -> StringType)
    .map { case (n, t) => StructField(n, t) })

  /** Longest byte string a Long key packs, with its length. */
  private val MaxPacked = 7

  /** Stopword lists keyed by their words' bytes packed into a Long. A key
    * maps to a bitmask of the lists holding the word. */
  private final class StopTable(lists: Seq[Seq[String]]) {
    require(lists.flatten.forall(w => w.length <= MaxPacked && w.forall(_ < 0x80)),
      "stopwords must be ASCII and pack into a Long key")
    private val entries = lists.zipWithIndex
      .flatMap { case (ws, i) => ws.map(w => pack(w.getBytes("UTF-8")) -> (1 << i)) }
      .groupMapReduce(_._1)(_._2)(_ | _).toArray.sortBy(_._1)
    private val keys = entries.map(_._1)
    private val bits = entries.map(_._2)
    val maxChars: Int = lists.flatten.map(_.length).max
    def apply(key: Long): Int = {
      val i = java.util.Arrays.binarySearch(keys, key)
      if (i >= 0) bits(i) else 0
    }
  }

  private val Lang = new StopTable(Seq(EnStop, DeStop, FrStop))
  /** One list per word, so the mask's bit count is the distinct hits. */
  private val Gopher = new StopTable(GopherStops.map(Seq(_)))

  private def pack(bs: Array[Byte]): Long =
    packAt(bs, Platform.BYTE_ARRAY_OFFSET, bs.length, lower = false)

  /** `len` (<= 7) bytes at `base + at`, optionally ASCII-lowered, packed
    * with their length. */
  private def packAt(base: AnyRef, at: Long, len: Int, lower: Boolean): Long = {
    var k = len.toLong << 56
    var j = 0
    while (j < len) {
      val b = Platform.getByte(base, at + j).toInt
      k = (k << 8) | (if (lower) lowerAscii(b) else b & 0xff)
      j += 1
    }
    k
  }

  @inline private def isSpace(b: Int): Boolean =
    b == ' ' || (b >= '\t' && b <= '\r')

  @inline private def lowerAscii(b: Int): Int =
    if (b >= 'A' && b <= 'Z') b + 32 else b & 0xff

  /** Spark's `lower` for a UTF8_BINARY string. */
  private def lower(s: UTF8String, useICU: Boolean): UTF8String =
    CollationSupport.Lower.exec(s, CollationFactory.UTF8_BINARY_COLLATION_ID, useICU)

  /** The list bitmask of the token of `chars` code points at
    * `[from, until)`: `t(lower(token))`. */
  private def stopBits(t: StopTable, base: AnyRef, off: Long, from: Int,
      until: Int, chars: Int, ascii: Boolean, useICU: Boolean): Int =
    if (chars > t.maxChars) 0
    else if (ascii) t(packAt(base, off + from, until - from, lower = true))
    else {
      val l = lower(UTF8String.fromAddress(base, off + from, until - from), useICU)
      if (l.numBytes <= MaxPacked && l.isFullAscii)
        t(packAt(l.getBaseObject, l.getBaseOffset, l.numBytes, lower = false))
      else 0
    }

  /** Whether the ASCII-lowered bytes at `at` start with `pat` (lowercase
    * ASCII). */
  private def startsWithCi(base: AnyRef, off: Long, at: Int, n: Int,
      pat: Array[Byte]): Boolean = {
    if (at + pat.length > n) return false
    var j = 0
    while (j < pat.length) {
      if (lowerAscii(Platform.getByte(base, off + at + j)) != pat(j)) return false
      j += 1
    }
    true
  }

  private val Javascript = "javascript".getBytes("UTF-8")
  private val JavascriptPrefix = "javascr".getBytes("UTF-8")
  private val Lorem = "lorem ipsum".getBytes("UTF-8")
  private val LoremPrefix = "lorem ".getBytes("UTF-8")
  private val JavascriptU = UTF8String.fromString("javascript")
  private val LoremU = UTF8String.fromString("lorem ipsum")

  /** `size(filter(split(s, "\\s+"), _ != ""))` for a non-null `s`. */
  def tokenCount(s: UTF8String): Int = {
    val base = s.getBaseObject; val off = s.getBaseOffset; val n = s.numBytes
    var count = 0
    var inToken = false
    var i = 0
    while (i < n) {
      val space = isSpace(Platform.getByte(base, off + i))
      if (!space && !inToken) count += 1
      inToken = !space
      i += 1
    }
    count
  }

  /** Tokens of `s`, with each list's hits of `t` added into `hits`. */
  private def countHits(s: UTF8String, t: StopTable, useICU: Boolean,
      hits: Array[Long]): Long = {
    val base = s.getBaseObject; val off = s.getBaseOffset; val n = s.numBytes
    var words = 0L
    var tok = -1
    var chars = 0
    var ascii = true
    var i = 0
    while (i <= n) {
      val b = if (i < n) Platform.getByte(base, off + i).toInt else ' '
      if (isSpace(b)) {
        if (tok >= 0) {
          words += 1
          var m = stopBits(t, base, off, tok, i, chars, ascii, useICU)
          var k = 0
          while (m != 0) {
            if ((m & 1) != 0) hits(k) += 1
            m >>>= 1; k += 1
          }
          tok = -1
        }
      } else {
        if (tok < 0) { tok = i; chars = 0; ascii = true }
        if ((b & 0xc0) != 0x80) chars += 1
        if (b < 0) ascii = false
      }
      i += 1
    }
    words
  }

  /** English stopword tokens over all tokens; 0.0 without tokens. */
  def stopwordRatio(s: UTF8String, useICU: Boolean): Double =
    if (s == null) 0.0
    else {
      val hits = new Array[Long](3)
      val words = countHits(s, Lang, useICU, hits)
      if (words > 0) hits(0).toDouble / words.toDouble else 0.0
    }

  private val Und = UTF8String.fromString("und")
  private val En = UTF8String.fromString("en")
  private val De = UTF8String.fromString("de")
  private val Fr = UTF8String.fromString("fr")

  /** Most stopword hits among en, de, fr, ties in that order; `und`
    * without hits. */
  def langId(s: UTF8String, useICU: Boolean): UTF8String =
    if (s == null) Fr
    else {
      val hits = new Array[Long](3)
      countHits(s, Lang, useICU, hits)
      val (en, de, fr) = (hits(0), hits(1), hits(2))
      if (en == 0 && de == 0 && fr == 0) Und
      else if (en >= de && en >= fr) En
      else if (de >= fr) De
      else Fr
    }

  /** The Gopher rule set as a [[GopherSchema]] row. */
  def gopher(s: UTF8String, p: GopherParams, useICU: Boolean): InternalRow = {
    if (s == null) return new GenericInternalRow(GopherSchema.length)
    val base = s.getBaseObject; val off = s.getBaseOffset; val n = s.numBytes
    var words, sumChars, alphaWords = 0L
    var stopSeen = 0
    var symbols = 0L     // '#' bytes plus '...' matches
    var lines = 1L
    var bullets, ellipsisLines = 0L
    var dots = 0         // the '.' run ending at the current byte
    var lineStart = true // no byte but U+0020 yet on this line
    var tailDots = 0     // the '.' run ending at the line's last non-space byte
    var tok = -1         // start of the open token, -1 between tokens
    var chars = 0
    var ascii, alpha = false
    var i = 0
    // i == n is a virtual '\n' that closes the last token and line
    while (i <= n) {
      val b = if (i < n) Platform.getByte(base, off + i).toInt else '\n'
      if (b == '.') dots += 1
      else { symbols += dots / 3; dots = 0 }
      if (b == '#') symbols += 1
      if (b == '\n') {
        if (tailDots >= 3) ellipsisLines += 1
        if (i < n) lines += 1
        lineStart = true; tailDots = 0
      } else if (b != ' ') {
        if (lineStart && (b == '-' || b == '*')) bullets += 1
        lineStart = false; tailDots = dots
      }
      if (isSpace(b)) {
        if (tok >= 0) {
          words += 1; sumChars += chars
          if (alpha) alphaWords += 1
          stopSeen |= stopBits(Gopher, base, off, tok, i, chars, ascii, useICU)
          tok = -1
        }
      } else {
        if (tok < 0) { tok = i; chars = 0; ascii = true; alpha = false }
        if ((b & 0xc0) != 0x80) chars += 1
        if (b < 0) ascii = false
        else if ((b | 0x20) >= 'a' && (b | 0x20) <= 'z') alpha = true
      }
      i += 1
    }
    val okWords = words >= p.minWords && words <= p.maxWords
    val okMean = sumChars >= words * p.minMeanWordLen &&
      sumChars <= words * p.maxMeanWordLen
    val okSymbol = symbols * p.symbolDen <= words * p.symbolNum
    val okBullet = bullets * p.bulletDen <= lines * p.bulletNum
    val okEllipsis = ellipsisLines * p.ellipsisDen <= lines * p.ellipsisNum
    val okAlpha = alphaWords * p.alphaDen >= words * p.alphaNum
    val okStop = Integer.bitCount(stopSeen) >= p.minStopwordHits
    new GenericInternalRow(Array[Any](words, okWords, okMean, okSymbol,
      okBullet, okEllipsis, okAlpha, okStop,
      okWords && okMean && okSymbol && okBullet && okEllipsis && okAlpha &&
        okStop))
  }

  /** The C4 rule set as a [[C4Schema]] row. */
  def c4(s: UTF8String, minLineWords: Int, minSentences: Int,
      useICU: Boolean): InternalRow = {
    if (s == null) return new GenericInternalRow(C4Schema.length)
    val base = s.getBaseObject; val off = s.getBaseOffset; val n = s.numBytes
    var lines = 1L
    var kept, sentences = 0L
    var brace = false
    var docAscii = true
    var loremPrefix, lorem = false
    var out: Array[Byte] = null
    var outLen = 0
    var from = 0         // the line's first byte
    var words = 0
    var inToken = false
    var last = 0         // the line's last byte but U+0020, 0 if none
    var ascii = true
    var lineSentences = 0
    var jsPrefix, js = false
    var i = 0
    while (i <= n) {
      val b = if (i < n) Platform.getByte(base, off + i).toInt else '\n'
      if (b == '\n') {
        val keep = words >= minLineWords &&
          (last == '.' || last == '!' || last == '?' || last == '"') &&
          !(if (ascii) js else jsPrefix &&
            lower(UTF8String.fromAddress(base, off + from, i - from), useICU)
              .contains(JavascriptU))
        if (keep) {
          if (out == null) out = new Array[Byte](n)
          else { out(outLen) = '\n'; outLen += 1 }
          Platform.copyMemory(base, off + from, out,
            Platform.BYTE_ARRAY_OFFSET + outLen, i - from)
          outLen += i - from
          kept += 1; sentences += lineSentences
        }
        if (i < n) lines += 1
        docAscii &&= ascii
        from = i + 1; words = 0; inToken = false; last = 0; ascii = true
        lineSentences = 0; jsPrefix = false; js = false
      } else {
        if (isSpace(b)) inToken = false
        else if (!inToken) { inToken = true; words += 1 }
        if (b != ' ') last = b
        if (b < 0) ascii = false
        else if (b == '.' || b == '!' || b == '?') lineSentences += 1
        else if (b == '{') brace = true
        else if ((b | 0x20) == 'j' && startsWithCi(base, off, i, n, JavascriptPrefix)) {
          jsPrefix = true
          js ||= startsWithCi(base, off, i, n, Javascript)
        } else if ((b | 0x20) == 'l' && startsWithCi(base, off, i, n, LoremPrefix)) {
          loremPrefix = true
          lorem ||= startsWithCi(base, off, i, n, Lorem)
        }
      }
      i += 1
    }
    val okLorem = !(if (docAscii) lorem
      else loremPrefix && lower(s, useICU).contains(LoremU))
    val okSentences = sentences >= minSentences
    val clean = if (out == null) UTF8String.EMPTY_UTF8
      else UTF8String.fromBytes(out, 0, outLen)
    new GenericInternalRow(Array[Any](lines, kept, sentences, okSentences,
      okLorem, !brace, okSentences && okLorem && !brace && kept >= 1, clean))
  }
}

/** `Text.gopherRules`' thresholds; ratios are exact `num/den`. */
final case class GopherParams(
    minWords: Int, maxWords: Int, minMeanWordLen: Int, maxMeanWordLen: Int,
    symbolNum: Int, symbolDen: Int, bulletNum: Int, bulletDen: Int,
    ellipsisNum: Int, ellipsisDen: Int, alphaNum: Int, alphaDen: Int,
    minStopwordHits: Int)

/** A text kernel over one string argument: one static [[TextKernels]]
  * call serves interpreted and generated evaluation. A null argument goes
  * to the kernel, which returns the value its former Column composition
  * gave for null. */
trait TextKernelExpression extends UnaryExpression {
  /** The kernel over a possibly null string. */
  protected def kernel(s: UTF8String): Any
  /** Java code calling the kernel on `s`, a possibly null string. */
  protected def kernelCode(ctx: CodegenContext, s: String): String

  /** Spark's case-mapping choice, read where `Lower` reads it. */
  protected lazy val useICU: Boolean =
    SQLConf.get.getConf(SQLConf.ICU_CASE_MAPPINGS_ENABLED)

  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult =
    TextKernelExpression.checkString(prettyName, child)

  override def eval(input: InternalRow): Any =
    kernel(child.eval(input).asInstanceOf[UTF8String])

  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val call = kernelCode(ctx, s"(${c.isNull} ? null : ${c.value})")
    ev.copy(code = code"""
      ${c.code}
      ${CodeGenerator.javaType(dataType)} ${ev.value} = $call;""",
      isNull = FalseLiteral)
  }
}

object TextKernelExpression {
  /** Manual check (the TopKByScore pattern): a UTF8_BINARY string, the
    * collation whose `split`/`lower` the kernels reproduce. */
  def checkString(fn: String, child: Expression): TypeCheckResult =
    child.dataType match {
      case st: StringType
          if st.collationId == CollationFactory.UTF8_BINARY_COLLATION_ID =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$fn argument must be a UTF8_BINARY string, got ${other.catalogString}")
    }
}

@ExpressionDescription(
  usage = "_FUNC_(str) - Returns the number of whitespace-separated tokens.")
case class TokenCount(child: Expression) extends UnaryExpression {
  override def prettyName: String = "token_count"
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    TextKernelExpression.checkString(prettyName, child)
  override def nullSafeEval(input: Any): Any =
    TextKernels.tokenCount(input.asInstanceOf[UTF8String])
  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.TextKernels.tokenCount($c)")
  override protected def withNewChildInternal(c: Expression): TokenCount =
    copy(child = c)
}

@ExpressionDescription(
  usage = "_FUNC_(str) - Returns the share of tokens that are English stopwords.")
case class StopwordRatio(child: Expression) extends TextKernelExpression {
  override def prettyName: String = "stopword_ratio"
  override def dataType: DataType = DoubleType
  protected def kernel(s: UTF8String): Any = TextKernels.stopwordRatio(s, useICU)
  protected def kernelCode(ctx: CodegenContext, s: String): String =
    s"graft.plans.TextKernels.stopwordRatio($s, $useICU)"
  override protected def withNewChildInternal(c: Expression): StopwordRatio =
    copy(child = c)
}

@ExpressionDescription(
  usage = "_FUNC_(str) - Returns en, de, fr or und by stopword hits.")
case class LangId(child: Expression) extends TextKernelExpression {
  override def prettyName: String = "lang_id"
  override def dataType: DataType = StringType
  protected def kernel(s: UTF8String): Any = TextKernels.langId(s, useICU)
  protected def kernelCode(ctx: CodegenContext, s: String): String =
    s"graft.plans.TextKernels.langId($s, $useICU)"
  override protected def withNewChildInternal(c: Expression): LangId =
    copy(child = c)
}

@ExpressionDescription(
  usage = "_FUNC_(str, minWords, maxWords, minMeanWordLen, maxMeanWordLen, " +
    "symbolNum, symbolDen, bulletNum, bulletDen, ellipsisNum, ellipsisDen, " +
    "alphaNum, alphaDen, minStopwordHits) - Returns the Gopher rule struct.")
case class GopherRules(child: Expression, params: GopherParams)
    extends TextKernelExpression {
  override def prettyName: String = "gopher_rules"
  override def dataType: DataType = TextKernels.GopherSchema
  protected def kernel(s: UTF8String): Any =
    TextKernels.gopher(s, params, useICU)
  protected def kernelCode(ctx: CodegenContext, s: String): String = {
    val p = ctx.addReferenceObj("gopherParams", params)
    s"graft.plans.TextKernels.gopher($s, $p, $useICU)"
  }
  override protected def withNewChildInternal(c: Expression): GopherRules =
    copy(child = c)
}

@ExpressionDescription(
  usage = "_FUNC_(str, minLineWords, minSentences) - Returns the C4 rule struct.")
case class C4Rules(child: Expression, minLineWords: Int, minSentences: Int)
    extends TextKernelExpression {
  override def prettyName: String = "c4_rules"
  override def dataType: DataType = TextKernels.C4Schema
  protected def kernel(s: UTF8String): Any =
    TextKernels.c4(s, minLineWords, minSentences, useICU)
  protected def kernelCode(ctx: CodegenContext, s: String): String =
    s"graft.plans.TextKernels.c4($s, $minLineWords, $minSentences, $useICU)"
  override protected def withNewChildInternal(c: Expression): C4Rules =
    copy(child = c)
}
