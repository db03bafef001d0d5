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

  /** The score of members `p` and `q` of `members`, whose payload is at
    * ordinal `v`, or null when the pair fails. Per-member work is done
    * once, when the scorer is made. */
  def scorer(members: Array[InternalRow], v: Int): (Int, Int) => Any
}

object PairCheck {

  /** `minhashLsh` and `minhashLshAgainst`: [[MinhashKernels.jaccard]] of
    * the ascending `vms: array<bigint>` hash sets, at least `threshold`. */
  final case class Jaccard(threshold: Double) extends PairCheck(
      Some("vms"), Some("jaccard" -> DoubleType)) {
    def scorer(members: Array[InternalRow], v: Int): (Int, Int) => Any = {
      val sets = members.map(_.getArray(v).toLongArray())
      (p, q) => {
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
    def scorer(members: Array[InternalRow], v: Int): (Int, Int) => Any = {
      val vecs = members.map(_.getArray(v).toFloatArray())
      val norms = vecs.map { a =>
        var na = 0.0; var t = 0
        while (t < a.length) { val x = a(t).toDouble; na += x * x; t += 1 }
        math.sqrt(na)
      }
      (p, q) => {
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
    def scorer(members: Array[InternalRow], v: Int): (Int, Int) => Any = {
      val sigs = members.map(_.getLong(v))
      (p, q) => {
        val h = java.lang.Long.bitCount(sigs(p) ^ sigs(q))
        if (h <= maxHamming) h else null
      }
    }
  }

  /** `winnowPairs`, `semDedupPairs` and `semDedupAgainst`: every pair,
    * no payload. */
  case object EveryPair extends PairCheck(None, None) {
    def scorer(members: Array[InternalRow], v: Int): (Int, Int) => Any =
      (_, _) => ()
  }
}

/** The checked pairs of every bucket of `child`'s `(bucket, id[,
  * increment][, payload])` rows, one bucket at a time: the key-grouped
  * reduce behind `minhashLsh`, `nearDupPairs`, `simhashPairs`,
  * `winnowPairs` and `semDedupPairs` (the self form, no `increment`
  * column) and behind `minhashLshAgainst`, `minhashLshAgainstPrepared`
  * and `semDedupAgainst` (the cross form: a boolean `increment` column
  * names each row's side). The calling operator fixes the form. The
  * bucket is a `string` or `bigint` column.
  *
  * Output `(id1, id2[, score], bucket_size)`, two kinds of row: a pair
  * row (`bucket_size` 0) for every checked pair that passes `check`, and
  * one bucket row (score 0) for every active bucket.
  *
  * Self form: a pair is two members of a bucket, with `id1 <= id2` in
  * the id's external `Comparable` order (UTF-16 order for strings) and
  * duplicate ids paired like distinct ones. A bucket of two or more rows
  * is active; its `bucket_size` is its row count and `id1` = `id2` one of
  * its non-null ids (null if it has none). A bucket of more than
  * `maxBucketSize` rows is checked through two representatives only, its
  * least and greatest ids in the id's internal (Catalyst) order, as
  * `min_by`/`max_by` pick them. A null id counts toward its bucket's size
  * but is never paired.
  *
  * Cross form: a pair is an increment member and a corpus member, as
  * `(id1 = increment id, id2 = corpus id)`. A side's size counts its
  * non-null ids only, and a null id is never paired. A bucket is active
  * when each side has a non-null id; its `bucket_size` is the larger
  * side's size, and `(id1, id2)` its two least ids. A bucket with more
  * than `maxBucketSize` ids on either side is checked through one pair,
  * the least non-null id of each side in the id's internal order, as
  * `min` picks it.
  *
  * A pair found in several buckets comes out once per bucket.
  */
case class BucketPairs(
    bucket: Attribute,
    docId: Attribute,
    side: Option[Attribute],
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
  /** Over `child`'s columns named `bucket`, `id`, the check's payload
    * and, in the cross form, `increment`. */
  def apply(child: LogicalPlan, check: PairCheck, maxBucketSize: Int,
      cross: Boolean): BucketPairs = {
    def attr(name: String): Attribute = child.output.find(_.name == name)
      .getOrElse(throw new IllegalArgumentException(
        s"BucketPairs needs a '$name' column, got ${child.output}"))
    val (bucket, id) = (attr("bucket"), attr("id"))
    require(bucket.dataType == StringType || bucket.dataType == LongType,
      s"BucketPairs needs a string or bigint bucket, got ${bucket.dataType.catalogString}")
    val side = if (cross) Some(attr("increment")) else None
    side.foreach(s => require(s.dataType == BooleanType,
      s"BucketPairs needs a boolean side, got ${s.dataType.catalogString}"))
    val score = check.score.map { case (name, t) =>
      AttributeReference(name, t, nullable = false)() }
    BucketPairs(bucket, id, side, check.payload.map(attr), check, maxBucketSize,
      Seq(AttributeReference("id1", id.dataType, nullable = false)(),
        AttributeReference("id2", id.dataType, nullable = false)()) ++ score :+
        AttributeReference("bucket_size", LongType, nullable = false)(),
      child)
  }

  /** `(id1, id2[, score])`: the pair rows of the self form of
    * [[BucketPairs]] over `banded`, whose capped and active bucket counts
    * are observable as `queryExecution.observedMetrics(metric)` after an
    * action. Fails at plan time on an id type with no natural order. */
  def pairs(banded: DataFrame, check: PairCheck, maxBucketSize: Int,
      metric: String): DataFrame = {
    graft.dedup.Dedup.requireOrderableId(banded.schema("id").dataType,
      s"the $metric bucket walk")
    walk(banded, check, maxBucketSize, metric, cross = false)
  }

  /** `(id1 = increment id, id2 = corpus id[, score])`: the pair rows of
    * the cross form of [[BucketPairs]] over `banded`, whose boolean
    * `increment` column names each row's side. A bucket is capped when
    * either side has more than `maxBucketSide` ids; the capped and active
    * bucket counts are observed as in [[pairs]]. */
  def crossPairs(banded: DataFrame, check: PairCheck, maxBucketSide: Int,
      metric: String): DataFrame =
    walk(banded, check, maxBucketSide, metric, cross = true)

  private def walk(banded: DataFrame, check: PairCheck, cap: Int,
      metric: String, cross: Boolean): DataFrame =
    GraftRows.ofRows(banded.sparkSession,
        BucketPairs(banded.queryExecution.analyzed, check, cap, cross))
      .observe(metric,
        sum(when(col("bucket_size") > cap, 1L).otherwise(0L))
          .as("capped_buckets"),
        count(when(col("bucket_size") > 0, 1)).as("active_buckets"))
      .filter(col("bucket_size") === 0)
      .drop("bucket_size")
}

/** Plans [[BucketPairs]] (registered by `Sessions.registerExtensions`). */
object BucketPairsStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case p: BucketPairs =>
      BucketPairsExec(p.bucket, p.docId, p.side, p.payload, p.check,
        p.maxBucketSize, p.output, planLater(p.child)) :: Nil
    case _ => Nil
  }
}

/** [[BucketPairs]] over child rows clustered and sorted by bucket: a
  * hash-partitioned child gets only a `Sort`, which spills. Holds at most
  * `maxBucketSize` members of one bucket (of each side, in the cross
  * form), plus two representatives once it runs over. */
case class BucketPairsExec(
    bucket: Attribute,
    docId: Attribute,
    side: Option[Attribute],
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
    val (b, i) = (ordinal(bucket), ordinal(docId))
    val (s, v) = (side.fold(-1)(ordinal), payload.fold(-1)(ordinal))
    val width = child.output.length
    val (longKeys, outTypes) = (bucket.dataType == LongType, output.map(_.dataType))
    val (idType, chk, cap) = (docId.dataType, check, maxBucketSize)
    child.execute().mapPartitions { rows =>
      new BucketWalk(rows, width, b, longKeys, i, idType, s, v, chk, cap, outTypes)
    }
  }

  override protected def withNewChildInternal(c: SparkPlan): BucketPairsExec =
    copy(child = c)
}

/** The per-partition walk of [[BucketPairsExec]]: reads one bucket run,
  * then emits its rows. A bucket's first row is kept in a reused buffer,
  * so a single-row bucket costs one copy into it. `s` is the ordinal of
  * the side column in the cross form, -1 in the self form. */
private final class BucketWalk(
    in: Iterator[InternalRow],
    width: Int,
    b: Int,
    longKeys: Boolean,
    i: Int,
    idType: DataType,
    s: Int,
    v: Int,
    check: PairCheck,
    cap: Int,
    outTypes: Seq[DataType]) extends Iterator[InternalRow] {

  private val cross = s >= 0
  private val idOrd = TypeUtils.getInterpretedOrdering(idType)
  private val toExternal = CatalystTypeConverters.createToScalaConverter(idType)
  private val proj = UnsafeProjection.create(outTypes.toArray)
  private val zero = check.score.map { case (_, t) => Literal.default(t).value }

  /** One side's rows of the current bucket: its size toward the cap, its
    * non-null-id members while under the cap, and once over it only its
    * least and greatest ids (the first of equal ids, nulls skipped). */
  private final class Side {
    var n = 0L
    var over = false
    val members = mutable.ArrayBuffer.empty[InternalRow]
    var minRow: InternalRow = _
    var maxRow: InternalRow = _

    def reset(): Unit = {
      n = 0; over = false; members.clear(); minRow = null; maxRow = null
    }

    def add(r: InternalRow): Unit = {
      val nullId = r.isNullAt(i)
      // the self form counts every row, as count(lit(1)) did; a cross
      // side its non-null ids, as count(id) did
      if (!cross || !nullId) n += 1
      if (over) consider(r, owned = false)
      else if (n > cap) {
        // the first row past the cap: only the representatives remain
        over = true
        members.foreach(consider(_, owned = true))
        members.clear()
        consider(r, owned = false)
      } else if (!nullId) members += r.copy()
    }

    private def consider(r: InternalRow, owned: Boolean): Unit =
      if (!r.isNullAt(i)) {
        val x = r.get(i, idType)
        if (minRow == null || idOrd.lt(x, minRow.get(i, idType)))
          minRow = if (owned) r else r.copy()
        if (maxRow == null || idOrd.gt(x, maxRow.get(i, idType)))
          maxRow = if (owned) r else r.copy()
      }

    /** The member with the least id, the first of equal ids. */
    def least: InternalRow =
      if (over) minRow
      else members.reduceLeft((m, r) =>
        if (idOrd.lt(r.get(i, idType), m.get(i, idType))) r else m)
  }

  private val buffer = {
    val r = new UnsafeRow(width)
    r.pointTo(new Array[Byte](0), 0) // copyFrom grows the array
    r
  }
  private var first: InternalRow = _
  private var stringKey: UTF8String = _
  private var longKey = 0L
  private var n = 0L
  // the self form's one side, or the increment and corpus sides
  private val sides = Array.fill(if (cross) 2 else 1)(new Side)
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
    sides.foreach(_.reset())
  }

  private def add(r: InternalRow): Unit = {
    if (n == 1) sideOf(first).add(first)
    n += 1
    sideOf(r).add(r)
  }

  private def sideOf(r: InternalRow): Side =
    if (cross && !r.getBoolean(s)) sides(1) else sides(0)

  private def row(a: Any, c: Any, score: Any, size: Long): InternalRow =
    proj(new GenericInternalRow(
      if (zero.isEmpty) Array[Any](a, c, size) else Array[Any](a, c, score, size)))

  /** The bucket row, then the passing pairs `(p, q)` of `ms`. Projected
    * in next(), never in hasNext(): each output row reuses the
    * projection's buffer. */
  private def emit(a: Any, c: Any, size: Long, ms: Array[InternalRow],
      pairs: Iterator[(Int, Int)]): Iterator[InternalRow] = {
    val ids = ms.map(_.get(i, idType))
    val score = check.scorer(ms, v)
    Iterator.single(()).map(_ => row(a, c, zero.orNull, size)) ++
      pairs.map { case (p, q) => (p, q, score(p, q)) }.filter(_._3 != null)
        .map { case (p, q, sc) => row(ids(p), ids(q), sc, 0L) }
  }

  private def finish(): Iterator[InternalRow] = {
    if (n < 2) return Iterator.empty
    if (cross) {
      val (inc, corp) = (sides(0), sides(1))
      if (inc.n == 0 || corp.n == 0) return Iterator.empty
      val (li, lc) = (inc.least, corp.least)
      val (is, cs) =
        if (inc.over || corp.over) (Seq(li), Seq(lc))
        else (inc.members.toSeq, corp.members.toSeq)
      val ms = (is ++ cs).toArray
      val k = is.length
      emit(li.get(i, idType), lc.get(i, idType), math.max(inc.n, corp.n), ms,
        for (p <- (0 until k).iterator; q <- (k until ms.length).iterator) yield (p, q))
    } else {
      val one = sides(0)
      val ms: Seq[InternalRow] =
        if (one.over) Seq(one.minRow, one.maxRow).filter(_ != null) else one.members.toSeq
      // id1 <= id2 in the external order; the sort is stable for equal ids
      val sorted = ms.map(m => (toExternal(m.get(i, idType)), m))
        .sortBy(_._1)(BucketWalk.externalOrder).map(_._2).toArray
      val some = sorted.headOption.map(_.get(i, idType)).orNull
      emit(some, some, n, sorted,
        for (p <- sorted.indices.iterator; q <- ((p + 1) until sorted.length).iterator)
          yield (p, q))
    }
  }
}

private object BucketWalk {
  /** The external values' own `compareTo`. */
  val externalOrder: Ordering[Any] =
    (a: Any, b: Any) => a.asInstanceOf[Comparable[Any]].compareTo(b)
}
