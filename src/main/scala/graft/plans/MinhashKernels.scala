package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, AttributeSet, Expression, ExpressionDescription, Generator, GenericInternalRow, SortOrder, UnaryExpression, UnsafeArrayData, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning, SinglePartition, UnknownPartitioning}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, TypeUtils}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import scala.collection.mutable

/** The MinHash-LSH kernels behind `Dedup.minhashLsh` and its siblings,
  * all on Catalyst's row format:
  *  - `minhash_shingles(text, k)` ([[MinhashShingles]]): a generator
  *    giving a document's hashed k-char shingle set;
  *  - `minhash_band_keys(vms, numHashes, bands)` ([[MinhashBandKeys]]):
  *    the LSH band keys of a hashed shingle set;
  *  - [[BucketJaccardPairs]]: the verified pairs of each band bucket,
  *    walked over bucket-sorted rows.
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

/** The verified pairs of every LSH band bucket of `child`'s
  * `(bucket, id, vms)` rows, one bucket at a time.
  *
  * Output `(id1, id2, jaccard, bucket_size)`, two kinds of row:
  *  - a pair row (`bucket_size` 0) for every two members of a bucket
  *    whose [[MinhashKernels.jaccard]] is at least `threshold`, with
  *    `id1 < id2` in the id's external `Comparable` order (UTF-16 order
  *    for strings) and duplicate ids paired like distinct ones;
  *  - a bucket row for every bucket of two or more members:
  *    `bucket_size` is its member count, `id1` = `id2` one of its ids and
  *    `jaccard` 0.
  *
  * A bucket of more than `maxBucketSize` members is verified through two
  * representatives only, its least and greatest ids in the id's internal
  * (Catalyst) order, as `min_by`/`max_by` pick them. A pair found in
  * several buckets comes out once per bucket.
  */
case class BucketJaccardPairs(
    bucket: Attribute,
    docId: Attribute,
    vms: Attribute,
    threshold: Double,
    maxBucketSize: Int,
    output: Seq[Attribute],
    child: LogicalPlan) extends UnaryNode {
  override def producedAttributes: AttributeSet = AttributeSet(output)
  override protected def withNewChildInternal(c: LogicalPlan): BucketJaccardPairs =
    copy(child = c)
}

object BucketJaccardPairs {
  /** Over `child`'s columns named `bucket`, `id` and `vms`. */
  def apply(child: LogicalPlan, threshold: Double,
      maxBucketSize: Int): BucketJaccardPairs = {
    def attr(name: String): Attribute = child.output.find(_.name == name)
      .getOrElse(throw new IllegalArgumentException(
        s"BucketJaccardPairs needs a '$name' column, got ${child.output}"))
    val id = attr("id")
    BucketJaccardPairs(attr("bucket"), id, attr("vms"), threshold,
      maxBucketSize, Seq(
        AttributeReference("id1", id.dataType, nullable = false)(),
        AttributeReference("id2", id.dataType, nullable = false)(),
        AttributeReference("jaccard", DoubleType, nullable = false)(),
        AttributeReference("bucket_size", LongType, nullable = false)()),
      child)
  }
}

/** Plans [[BucketJaccardPairs]] (registered by `Sessions.registerExtensions`). */
object BucketJaccardPairsStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case p: BucketJaccardPairs =>
      BucketJaccardPairsExec(p.bucket, p.docId, p.vms, p.threshold,
        p.maxBucketSize, p.output, planLater(p.child)) :: Nil
    case _ => Nil
  }
}

/** [[BucketJaccardPairs]] over child rows clustered and sorted by bucket:
  * a hash-partitioned child gets only a `Sort`, which spills. Holds at
  * most `maxBucketSize` members of one bucket, plus its two
  * representatives once it runs over. */
case class BucketJaccardPairsExec(
    bucket: Attribute,
    docId: Attribute,
    vms: Attribute,
    threshold: Double,
    maxBucketSize: Int,
    output: Seq[Attribute],
    child: SparkPlan) extends UnaryExecNode {

  override def producedAttributes: AttributeSet = AttributeSet(output)

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(bucket)) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(Seq(SortOrder(bucket, Ascending)))

  /** One partition stays one partition; the pairs of several are not
    * partitioned by any of their own columns. */
  override def outputPartitioning: Partitioning = child.outputPartitioning match {
    case SinglePartition => SinglePartition
    case p => UnknownPartitioning(p.numPartitions)
  }

  override protected def doExecute(): RDD[InternalRow] = {
    def ordinal(a: Attribute): Int = child.output.indexWhere(_.exprId == a.exprId)
    val (b, i, v) = (ordinal(bucket), ordinal(docId), ordinal(vms))
    val width = child.output.length
    val (idType, thr, cap) = (docId.dataType, threshold, maxBucketSize)
    child.execute().mapPartitions { rows =>
      new BucketWalk(rows, width, b, i, v, idType, thr, cap)
    }
  }

  override protected def withNewChildInternal(c: SparkPlan): BucketJaccardPairsExec =
    copy(child = c)
}

/** The per-partition walk of [[BucketJaccardPairsExec]]: reads one bucket
  * run, then emits its rows. A bucket's first member is kept in a reused
  * buffer, so a single-member bucket costs one copy into it. */
private final class BucketWalk(
    in: Iterator[InternalRow],
    width: Int,
    b: Int,
    i: Int,
    v: Int,
    idType: DataType,
    threshold: Double,
    cap: Int) extends Iterator[InternalRow] {

  private val idOrd = TypeUtils.getInterpretedOrdering(idType)
  private val toExternal = CatalystTypeConverters.createToScalaConverter(idType)
  private val proj = UnsafeProjection.create(
    Array[DataType](idType, idType, DoubleType, LongType))

  private val buffer = {
    val r = new UnsafeRow(width)
    r.pointTo(new Array[Byte](0), 0) // copyFrom grows the array
    r
  }
  private var first: InternalRow = _
  private var key: UTF8String = _
  private var n = 0L
  private var overCap = false
  private val members = mutable.ArrayBuffer.empty[InternalRow]
  private var minRow: InternalRow = _
  private var maxRow: InternalRow = _
  private var started = false
  private var out: Iterator[InternalRow] = Iterator.empty

  override def hasNext: Boolean = {
    while (!out.hasNext && advance()) {}
    out.hasNext
  }

  override def next(): InternalRow = {
    if (!hasNext) throw new NoSuchElementException
    out.next()
  }

  /** Reads the rest of the current bucket run and sets `out` to its rows;
    * false once the input is exhausted. */
  private def advance(): Boolean = {
    if (!started) {
      if (!in.hasNext) return false
      start(in.next())
      started = true
    } else if (n == 0) return false
    while (in.hasNext) {
      val r = in.next()
      if (r.getUTF8String(b) == key) add(r)
      else {
        out = finish()
        start(r)
        return true
      }
    }
    out = finish()
    n = 0
    true
  }

  private def start(r: InternalRow): Unit = {
    first = r match {
      case u: UnsafeRow => buffer.copyFrom(u); buffer
      case other => other.copy()
    }
    key = first.getUTF8String(b)
    n = 1
    overCap = false
    members.clear()
    minRow = null; maxRow = null
  }

  private def add(r: InternalRow): Unit = {
    n += 1
    if (overCap) consider(r, owned = false)
    else if (n <= cap) {
      if (n == 2) members += first.copy()
      members += r.copy()
    } else {
      // the first member past the cap: only the representatives remain
      overCap = true
      if (members.isEmpty) consider(first, owned = false)
      else members.foreach(m => consider(m, owned = true))
      consider(r, owned = false)
      members.clear()
    }
  }

  /** `min_by`/`max_by` over the id's internal order: the first of equal
    * ids is kept, null ids are skipped. */
  private def consider(r: InternalRow, owned: Boolean): Unit =
    if (!r.isNullAt(i)) {
      val x = r.get(i, idType)
      if (minRow == null || idOrd.lt(x, minRow.get(i, idType)))
        minRow = if (owned) r else r.copy()
      if (maxRow == null || idOrd.gt(x, maxRow.get(i, idType)))
        maxRow = if (owned) r else r.copy()
    }

  private def row(a: Any, c: Any, jac: Double, size: Long): InternalRow =
    proj(new GenericInternalRow(Array[Any](a, c, jac, size)))

  private def finish(): Iterator[InternalRow] = {
    if (n < 2) return Iterator.empty
    val ms: Seq[InternalRow] =
      if (overCap) Seq(minRow, maxRow).filter(_ != null) else members.toSeq
    // id1 < id2 in the external order; the sort is stable for equal ids
    val sorted = ms.map(m => (toExternal(m.get(i, idType)), m))
      .sortBy(_._1)(BucketWalk.externalOrder).map(_._2)
    val ids = sorted.map(_.get(i, idType)).toArray
    val sets = sorted.map(_.getArray(v).toLongArray()).toArray
    val size = n
    val some = if (ids.isEmpty) null else ids(0)
    val pairs = for {
      p <- (0 until ids.length).iterator
      q <- ((p + 1) until ids.length).iterator
      jac = MinhashKernels.jaccard(sets(p), sets(q))
      if jac >= threshold
    } yield (p, q, jac)
    // projected in next(), never in hasNext(): each output row reuses the
    // projection's buffer
    Iterator.single(()).map(_ => row(some, some, 0.0, size)) ++
      pairs.map { case (p, q, jac) => row(ids(p), ids(q), jac, 0L) }
  }
}

private object BucketWalk {
  /** The external values' own `compareTo`, as `Dedup.emitPairs` sorts. */
  val externalOrder: Ordering[Any] =
    (a: Any, b: Any) => a.asInstanceOf[Comparable[Any]].compareTo(b)
}
