package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftRows}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, AttributeSet, GenericInternalRow, Literal, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning, SinglePartition, UnknownPartitioning}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import scala.collection.mutable

/** The check [[BucketPairs]] runs on every pair of a bucket's members,
  * fixed by the calling operator: the payload column it reads and the
  * score column a passing pair carries (neither for
  * [[PairCheck.EveryPair]]).
  */
sealed abstract class PairCheck(
    val payload: Option[String],
    val score: Option[(String, DataType)]) extends Serializable {

  /** The passing pairs `(p, q, score)`, `p < q`, of `members`, whose
    * payload is at ordinal `v`. */
  def pairs(members: Array[InternalRow], v: Int): Iterator[(Int, Int, Any)]

  /** Every `p < q` whose `score(p, q)` is not null. */
  protected def scored(k: Int)(score: (Int, Int) => Any): Iterator[(Int, Int, Any)] =
    for {
      p <- (0 until k).iterator
      q <- ((p + 1) until k).iterator
      s = score(p, q)
      if s != null
    } yield (p, q, s)
}

object PairCheck {

  /** `minhashLsh`: [[MinhashKernels.jaccard]] of the ascending
    * `vms: array<bigint>` hash sets, at least `threshold`. */
  final case class Jaccard(threshold: Double) extends PairCheck(
      Some("vms"), Some("jaccard" -> DoubleType)) {
    def pairs(members: Array[InternalRow], v: Int): Iterator[(Int, Int, Any)] = {
      val sets = members.map(_.getArray(v).toLongArray())
      scored(sets.length) { (p, q) =>
        val jac = MinhashKernels.jaccard(sets(p), sets(q))
        if (jac >= threshold) jac else null
      }
    }
  }

  /** `nearDupPairs`: cosine of the `v: array<float>` vectors, at least
    * `threshold`. Bit-identical to `Similarity.withCosineKernel`: the dot
    * product over the shorter length and full-length norms, each summed
    * in index order over float-to-double promotions, then
    * `dot / (‖a‖·‖b‖)`. A member's norm is computed once per bucket. */
  final case class Cosine(threshold: Double) extends PairCheck(
      Some("v"), Some("sim" -> DoubleType)) {
    def pairs(members: Array[InternalRow], v: Int): Iterator[(Int, Int, Any)] = {
      val vecs = members.map(_.getArray(v).toFloatArray())
      val norms = vecs.map { a =>
        var na = 0.0; var t = 0
        while (t < a.length) { val x = a(t).toDouble; na += x * x; t += 1 }
        math.sqrt(na)
      }
      scored(vecs.length) { (p, q) =>
        val a = vecs(p); val b = vecs(q)
        val n = math.min(a.length, b.length)
        var dot = 0.0; var t = 0
        while (t < n) { dot += a(t).toDouble * b(t).toDouble; t += 1 }
        val sim = dot / (norms(p) * norms(q))
        if (sim >= threshold) sim else null
      }
    }
  }

  /** `simhashPairs`: Hamming distance of the `sh: bigint` signatures, at
    * most `maxHamming`. */
  final case class Hamming(maxHamming: Int) extends PairCheck(
      Some("sh"), Some("hamming" -> IntegerType)) {
    def pairs(members: Array[InternalRow], v: Int): Iterator[(Int, Int, Any)] = {
      val sigs = members.map(_.getLong(v))
      scored(sigs.length) { (p, q) =>
        val h = java.lang.Long.bitCount(sigs(p) ^ sigs(q))
        if (h <= maxHamming) h else null
      }
    }
  }

  /** `winnowPairs` and `semDedupPairs`: every pair, no payload. */
  case object EveryPair extends PairCheck(None, None) {
    def pairs(members: Array[InternalRow], v: Int): Iterator[(Int, Int, Any)] =
      scored(members.length)((_, _) => ())
  }
}

/** The checked pairs of every bucket of `child`'s `(bucket, id[,
  * payload])` rows, one bucket at a time: the key-grouped reduce behind
  * `minhashLsh`, `nearDupPairs`, `simhashPairs`, `winnowPairs` and
  * `semDedupPairs`. The bucket is a `string` or `bigint` column.
  *
  * Output `(id1, id2[, score], bucket_size)`, two kinds of row:
  *  - a pair row (`bucket_size` 0) for every two members of a bucket that
  *    pass `check`, with `id1 <= id2` in the id's external `Comparable`
  *    order (UTF-16 order for strings) and duplicate ids paired like
  *    distinct ones;
  *  - a bucket row for every bucket of two or more rows: `bucket_size` is
  *    its row count, `id1` = `id2` one of its non-null ids (null if it has
  *    none) and the score 0.
  *
  * A bucket of more than `maxBucketSize` rows is checked through two
  * representatives only, its least and greatest ids in the id's internal
  * (Catalyst) order, as `min_by`/`max_by` pick them. A null id counts
  * toward its bucket's size but is never paired. A pair found in several
  * buckets comes out once per bucket.
  */
case class BucketPairs(
    bucket: Attribute,
    docId: Attribute,
    payload: Option[Attribute],
    check: PairCheck,
    maxBucketSize: Int,
    output: Seq[Attribute],
    child: LogicalPlan) extends UnaryNode {
  override def producedAttributes: AttributeSet = AttributeSet(output)
  override protected def withNewChildInternal(c: LogicalPlan): BucketPairs =
    copy(child = c)
}

object BucketPairs {
  /** Over `child`'s columns named `bucket`, `id` and the check's payload. */
  def apply(child: LogicalPlan, check: PairCheck, maxBucketSize: Int): BucketPairs = {
    def attr(name: String): Attribute = child.output.find(_.name == name)
      .getOrElse(throw new IllegalArgumentException(
        s"BucketPairs needs a '$name' column, got ${child.output}"))
    val (bucket, id) = (attr("bucket"), attr("id"))
    require(bucket.dataType == StringType || bucket.dataType == LongType,
      s"BucketPairs needs a string or bigint bucket, got ${bucket.dataType.catalogString}")
    val score = check.score.map { case (name, t) =>
      AttributeReference(name, t, nullable = false)() }
    BucketPairs(bucket, id, check.payload.map(attr), check, maxBucketSize,
      Seq(AttributeReference("id1", id.dataType, nullable = false)(),
        AttributeReference("id2", id.dataType, nullable = false)()) ++ score :+
        AttributeReference("bucket_size", LongType, nullable = false)(),
      child)
  }

  /** `(id1, id2[, score])`: the pair rows of [[BucketPairs]] over
    * `banded`, whose capped and active (two or more rows) bucket counts
    * are observable as `queryExecution.observedMetrics(metric)` after an
    * action. Fails at plan time on an id type with no natural order. */
  def pairs(banded: DataFrame, check: PairCheck, maxBucketSize: Int,
      metric: String): DataFrame = {
    graft.dedup.Dedup.requireOrderableId(banded.schema("id").dataType,
      s"the $metric bucket walk")
    GraftRows.ofRows(banded.sparkSession,
        BucketPairs(banded.queryExecution.analyzed, check, maxBucketSize))
      .observe(metric,
        sum(when(col("bucket_size") > maxBucketSize, 1L).otherwise(0L))
          .as("capped_buckets"),
        count(when(col("bucket_size") > 0, 1)).as("active_buckets"))
      .filter(col("bucket_size") === 0)
      .drop("bucket_size")
  }
}

/** Plans [[BucketPairs]] (registered by `Sessions.registerExtensions`). */
object BucketPairsStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case p: BucketPairs =>
      BucketPairsExec(p.bucket, p.docId, p.payload, p.check, p.maxBucketSize,
        p.output, planLater(p.child)) :: Nil
    case _ => Nil
  }
}

/** [[BucketPairs]] over child rows clustered and sorted by bucket: a
  * hash-partitioned child gets only a `Sort`, which spills. Holds at most
  * `maxBucketSize` members of one bucket, plus its two representatives
  * once it runs over. */
case class BucketPairsExec(
    bucket: Attribute,
    docId: Attribute,
    payload: Option[Attribute],
    check: PairCheck,
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
    val (b, i, v) = (ordinal(bucket), ordinal(docId), payload.fold(-1)(ordinal))
    val width = child.output.length
    val (longKeys, outTypes) = (bucket.dataType == LongType, output.map(_.dataType))
    val (idType, chk, cap) = (docId.dataType, check, maxBucketSize)
    child.execute().mapPartitions { rows =>
      new BucketWalk(rows, width, b, longKeys, i, idType, v, chk, cap, outTypes)
    }
  }

  override protected def withNewChildInternal(c: SparkPlan): BucketPairsExec =
    copy(child = c)
}

/** The per-partition walk of [[BucketPairsExec]]: reads one bucket run,
  * then emits its rows. A bucket's first row is kept in a reused buffer,
  * so a single-row bucket costs one copy into it. */
private final class BucketWalk(
    in: Iterator[InternalRow],
    width: Int,
    b: Int,
    longKeys: Boolean,
    i: Int,
    idType: DataType,
    v: Int,
    check: PairCheck,
    cap: Int,
    outTypes: Seq[DataType]) extends Iterator[InternalRow] {

  private val idOrd = TypeUtils.getInterpretedOrdering(idType)
  private val toExternal = CatalystTypeConverters.createToScalaConverter(idType)
  private val proj = UnsafeProjection.create(outTypes.toArray)
  private val zero = check.score.map { case (_, t) => Literal.default(t).value }

  private val buffer = {
    val r = new UnsafeRow(width)
    r.pointTo(new Array[Byte](0), 0) // copyFrom grows the array
    r
  }
  private var first: InternalRow = _
  private var stringKey: UTF8String = _
  private var longKey = 0L
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
      val same =
        if (longKeys) r.getLong(b) == longKey else r.getUTF8String(b) == stringKey
      if (same) add(r)
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
    if (longKeys) longKey = first.getLong(b) else stringKey = first.getUTF8String(b)
    n = 1
    overCap = false
    members.clear()
    minRow = null; maxRow = null
  }

  private def add(r: InternalRow): Unit = {
    n += 1
    if (overCap) consider(r, owned = false)
    else if (n <= cap) {
      if (n == 2 && !first.isNullAt(i)) members += first.copy()
      if (!r.isNullAt(i)) members += r.copy()
    } else {
      // the first row past the cap: only the representatives remain
      overCap = true
      if (n == 2) consider(first, owned = false)
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

  private def row(a: Any, c: Any, score: Any, size: Long): InternalRow =
    proj(new GenericInternalRow(
      if (zero.isEmpty) Array[Any](a, c, size) else Array[Any](a, c, score, size)))

  private def finish(): Iterator[InternalRow] = {
    if (n < 2) return Iterator.empty
    val ms: Seq[InternalRow] =
      if (overCap) Seq(minRow, maxRow).filter(_ != null) else members.toSeq
    // id1 <= id2 in the external order; the sort is stable for equal ids
    val sorted = ms.map(m => (toExternal(m.get(i, idType)), m))
      .sortBy(_._1)(BucketWalk.externalOrder).map(_._2).toArray
    val ids = sorted.map(_.get(i, idType))
    val size = n
    val some = ids.headOption.orNull
    // projected in next(), never in hasNext(): each output row reuses the
    // projection's buffer
    Iterator.single(()).map(_ => row(some, some, zero.orNull, size)) ++
      check.pairs(sorted, v).map { case (p, q, s) => row(ids(p), ids(q), s, 0L) }
  }
}

private object BucketWalk {
  /** The external values' own `compareTo`. */
  val externalOrder: Ordering[Any] =
    (a: Any, b: Any) => a.asInstanceOf[Comparable[Any]].compareTo(b)
}
