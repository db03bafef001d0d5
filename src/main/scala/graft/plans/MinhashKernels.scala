package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionDescription, Generator, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The MinHash-LSH kernels behind `Dedup.minhashLsh` and its siblings,
  * all on Catalyst's row format:
  *  - `minhash_shingles(text, k)` ([[MinhashShingles]]): a generator
  *    giving a document's hashed k-char shingle set;
  *  - `minhash_band_keys(vms, numHashes, bands)` ([[MinhashBandKeys]]):
  *    the LSH band keys of a hashed shingle set;
  *  - [[jaccard]]: the exact Jaccard that [[BucketPairs]] verifies each
  *    band bucket's pairs with ([[PairCheck.Jaccard]]).
  *
  * The shingle hash, signature fold and band-key format are the ones
  * `Dedup.minhashSignature`/`bandKey` and `Hashing.hashGramSet` define,
  * so `Streaming.nearDupStream` stays bit-identical with the batch path.
  */
object MinhashKernels {

  /** The distinct hashes of `text`'s k-char shingles, ascending: shingles
    * are Java `String` substrings (UTF-16 units) deduplicated as strings
    * first (the oracle's `list_distinct`; hash collisions then fold as in
    * its md5-mod space), then hashed by `Hashing.hashGramSet`. Empty when
    * the text is shorter than `k`. */
  def shingleHashes(
      text: String, k: Int, md: java.security.MessageDigest): Array[Long] = {
    val seen = new java.util.LinkedHashSet[String]()
    var i = 0
    while (i <= text.length - k) { seen.add(text.substring(i, i + k)); i += 1 }
    graft.functions.Hashing.hashGramSet(seen, md)
  }

  /** The `bands` band keys (`"b|s,s,..."`) of a hashed shingle set. */
  def bandKeys(vms: ArrayData, numHashes: Int, bands: Int): ArrayData = {
    val sig = graft.dedup.Dedup.minhashSignature(vms.toLongArray(), numHashes)
    val rowsPerBand = numHashes / bands
    val keys = new Array[Any](bands)
    var b = 0
    while (b < bands) {
      keys(b) = UTF8String.fromString(
        graft.dedup.Dedup.bandKey(sig, b, rowsPerBand))
      b += 1
    }
    new GenericArrayData(keys)
  }

  /** Exact Jaccard of two ascending hash sets: the two-pointer common
    * count over `common / (|a| + |b| - common)`. */
  def jaccard(a: Array[Long], b: Array[Long]): Double = {
    var p = 0; var q = 0; var common = 0
    while (p < a.length && q < b.length) {
      val x = a(p); val y = b(q)
      if (x == y) { common += 1; p += 1; q += 1 }
      else if (x < y) p += 1
      else q += 1
    }
    common.toDouble / (a.length + b.length - common)
  }
}

/** `minhash_shingles(text, k)`: one row `(vms array<bigint>)` holding
  * [[MinhashKernels.shingleHashes]] of the text, or no row when the text
  * is null or shorter than `k`.
  *
  * A generator, not a scalar with an `isNotNull` filter: Catalyst pushes
  * such a filter below a `repartition`, onto the scan's tasks, and the
  * kernel would run there (and again in the projection). A `Generate`
  * stays where it is built, above the id exchange.
  */
@ExpressionDescription(
  usage = "_FUNC_(text, k) - Returns the distinct hashed k-char shingles of text.")
case class MinhashShingles(child: Expression, k: Int)
    extends UnaryExpression with Generator with CodegenFallback {
  require(k > 0, s"minhash_shingles k must be positive, got $k")

  override def prettyName: String = "minhash_shingles"

  override def elementSchema: StructType = StructType(Seq(
    StructField("vms", ArrayType(LongType, containsNull = false), nullable = false)))

  override def checkInputDataTypes(): TypeCheckResult =
    TextKernelExpression.checkString(prettyName, child)

  @transient private lazy val md = java.security.MessageDigest.getInstance("MD5")

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val s = child.eval(input).asInstanceOf[UTF8String]
    if (s == null) Nil
    else {
      val text = s.toString
      if (text.length < k) Nil
      else Iterator.single(InternalRow(UnsafeArrayData.fromPrimitiveArray(
        MinhashKernels.shingleHashes(text, k, md))))
    }
  }

  override protected def withNewChildInternal(c: Expression): MinhashShingles =
    copy(child = c)
}

/** `minhash_band_keys(vms, numHashes, bands)`: the `bands` LSH band keys
  * of a hashed shingle set, as `array<string>` ([[MinhashKernels.bandKeys]]). */
@ExpressionDescription(
  usage = "_FUNC_(vms, numHashes, bands) - Returns the LSH band keys of a hashed shingle set.")
case class MinhashBandKeys(child: Expression, numHashes: Int, bands: Int)
    extends UnaryExpression {
  require(bands > 0 && numHashes >= bands,
    s"minhash_band_keys needs 0 < bands <= numHashes, got $bands and $numHashes")

  override def prettyName: String = "minhash_band_keys"
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName argument must be array<bigint>, got ${other.catalogString}")
  }

  override def nullSafeEval(input: Any): Any =
    MinhashKernels.bandKeys(input.asInstanceOf[ArrayData], numHashes, bands)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.plans.MinhashKernels.bandKeys($c, $numHashes, $bands)")

  override protected def withNewChildInternal(c: Expression): MinhashBandKeys =
    copy(child = c)
}
