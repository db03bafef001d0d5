package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{Hashing, Text}

/** Document-deduplication operators for training-data pipelines. All are
  * relational plans (scan → project → shuffle-on-key → join), so they
  * scale by partitioning on the dedup key: at 100 TB the cost profile is
  * one scan plus one shuffle of (key, id) pairs, never a driver
  * materialization or an O(n²) comparison.
  *
  * Conventions: `idCol` is a unique document id; "keep" = the minimum id in
  * a duplicate group (deterministic winner).
  */
object Dedup {

  /** Shingle + base-hash kernel: the `minhash_shingles` generator
    * ([[graft.plans.MinhashShingles]]) after an exchange on the id.
    *
    * The Column formulation (Text.charShingles + Hashing.md5Mod inside
    * nested `transform`s) is semantically identical but runs interpreted —
    * Spark does not codegen lambda bodies of higher-order functions, and
    * profiling showed ~29 ms/document of expression-tree overhead. The
    * kernel does the same work in ~0.1 ms/doc, on Catalyst's row format
    * (no external `Row`, no boxed longs). Equivalence with the Column
    * version is asserted by DedupKernelSpec.
    *
    * Output schema: (id <input type>, vms array<bigint>) — the DISTINCT
    * md5-mod hashes of the doc's k-char shingles, ascending; no row for a
    * null text or one shorter than `k`. The string shingles themselves
    * are never emitted: every consumer (LSH banding, jaccard verify,
    * posting lists) operates on the hashed-shingle set, and serializing
    * ~300 strings/doc was the single biggest cost of the old shape.
    */
  private[graft] def shingleDocs(
      df: DataFrame,
      idCol: Column,
      textCol: Column,
      k: Int): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    df.select(idCol.as("id"), textCol.cast("string").as("__text"))
      .repartition(par, col("id")) // kernel runs post-exchange, not at scan parallelism
      .select(col("id"),
        call_function("minhash_shingles", col("__text"), lit(k)).as("vms"))
  }

  /** Minhash signature of a hashed-gram set — THE scalar permutation
    * fold (`Hashing.permute`'s arithmetic) shared by the band-key
    * kernel and `Streaming.nearDupStream`, whose contract is
    * bit-identity with the batch operator. One definition so the
    * constants can never drift between batch and stream.
    */
  private[graft] def minhashSignature(
      vms: Array[Long], numHashes: Int): Array[Long] = {
    val sig = new Array[Long](numHashes)
    var i = 0
    while (i < numHashes) {
      var min = Long.MaxValue
      var j = 0
      while (j < vms.length) {
        val h = (vms(j) * (i + 1) + 40503L * i) % Hashing.MinhashP
        if (h < min) min = h
        j += 1
      }
      sig(i) = min; i += 1
    }
    sig
  }

  /** LSH band key `"b|s,s,..."` for band `b` of a signature — the one
    * wire format for band buckets, shared batch/stream like
    * [[minhashSignature]].
    */
  private[graft] def bandKey(
      sig: Array[Long], b: Int, rowsPerBand: Int): String = {
    val sb = new StringBuilder().append(b).append('|')
    var j = b * rowsPerBand
    val end = j + rowsPerBand
    while (j < end) {
      if (j > b * rowsPerBand) sb.append(',')
      sb.append(sig(j)); j += 1
    }
    sb.toString
  }

  /** The `bands` LSH band keys of a hashed-shingle set column, as
    * `array<string>`: the `minhash_band_keys` expression
    * ([[graft.plans.MinhashBandKeys]], [[minhashSignature]] then
    * [[bandKey]]), which runs inside whole-stage codegen. */
  private def bandKeys(vms: Column, numHashes: Int, bands: Int): Column =
    call_function("minhash_band_keys", vms, lit(numHashes), lit(bands))

  /** Open-addressing (id1, id2) → count map over primitive long arrays —
    * the pair buffer of `emitPairCounts` for integral id types. The
    * generic HashMap[(Any, Any), Long] spends the q19 hot loop boxing two
    * ids and a tuple per probe and chasing entry pointers; this keeps the
    * whole table in three flat long arrays (cnt == 0 marks an empty slot;
    * real counts are always >= 1), ~7x less memory and no allocation on
    * the add path. Grows by doubling at 50% load; the caller drains and
    * reuses it, so growth stops at the flush threshold's working set.
    */
  private final class LongPairCounter(initialCapacity: Int = 1 << 10) {
    private var cap = Integer.highestOneBit(math.max(initialCapacity, 16))
    private var k1s = new Array[Long](cap)
    private var k2s = new Array[Long](cap)
    private var cnts = new Array[Long](cap)
    private var n = 0
    private var draining = false
    def size: Int = n

    private def slot(a: Long, b: Long, k1: Array[Long], k2: Array[Long],
        cs: Array[Long], mask: Int): Int = {
      // 128->64 bit mix (splitmix64 finalizer over a golden-ratio fold)
      var h = a * 0x9e3779b97f4a7c15L + b
      h ^= h >>> 30; h *= 0xbf58476d1ce4e5b9L
      h ^= h >>> 27; h *= 0x94d049bb133111ebL
      h ^= h >>> 31
      var i = (h & mask).toInt
      while (cs(i) != 0 && (k1(i) != a || k2(i) != b)) i = (i + 1) & mask
      i
    }

    def add(a: Long, b: Long): Unit = {
      // mid-drain adds would probe past already-zeroed slots and
      // silently duplicate or miscount a still-undrained key; fail
      // loudly instead of relying on the call-pattern comment alone
      if (draining) throw new IllegalStateException(
        "LongPairCounter.add during an unexhausted drainIterator")
      val i = slot(a, b, k1s, k2s, cnts, cap - 1)
      if (cnts(i) == 0) { k1s(i) = a; k2s(i) = b; n += 1 }
      cnts(i) += 1
      // strict >: at exactly 50% load no grow happens, so a counter that
      // reaches a power-of-two flush threshold drains at the intended
      // capacity instead of doubling (and keeping) a table it is about
      // to empty. grow() runs after the count so it never skips the new
      // entry (cnt==0 slots are treated as empty when rehashing).
      if (n * 2 > cap) grow()
    }

    private def grow(): Unit = {
      val oldK1 = k1s; val oldK2 = k2s; val oldC = cnts; val oldCap = cap
      cap <<= 1
      k1s = new Array[Long](cap); k2s = new Array[Long](cap)
      cnts = new Array[Long](cap)
      val mask = cap - 1
      var i = 0
      while (i < oldCap) {
        if (oldC(i) != 0) {
          val j = slot(oldK1(i), oldK2(i), k1s, k2s, cnts, mask)
          k1s(j) = oldK1(i); k2s(j) = oldK2(i); cnts(j) = oldC(i)
        }
        i += 1
      }
    }

    /** Visit every entry, then reset to empty (capacity retained). */
    def drainInto(f: (Long, Long, Long) => Unit): Unit = {
      var i = 0
      while (i < cap) {
        if (cnts(i) != 0) f(k1s(i), k2s(i), cnts(i))
        i += 1
      }
      java.util.Arrays.fill(cnts, 0L)
      n = 0
    }

    /** LAZY drain: stream entries one at a time, resetting as it goes —
      * no caller-side buffer of the whole table. The x30 q19 ladder
      * OOM'd 32 concurrent tasks because each eager drain materialized
      * ~flushAt Row objects at once on top of the counter arrays; this
      * keeps per-task transient memory at ONE row. The counter must not
      * be `add`ed to until the iterator is exhausted (flatMap consumes
      * each sub-iterator fully before the next input row, which is
      * exactly the emitPairAndSizeCounts call pattern); exhaustion
      * leaves the counter empty with capacity retained. The invariant
      * is ENFORCED, not just documented: a `draining` flag set here
      * makes any mid-drain add() throw instead of silently
      * miscounting. */
    def drainIterator[T](f: (Long, Long, Long) => T): Iterator[T] = {
      draining = true
      new Iterator[T] {
        private var i = 0
        private def advance(): Unit = {
          while (i < cap && cnts(i) == 0) i += 1
          if (i >= cap) draining = false // exhausted: adds legal again
        }
        advance()
        def hasNext: Boolean = i < cap
        def next(): T = {
          val r = f(k1s(i), k2s(i), cnts(i))
          cnts(i) = 0; n -= 1
          i += 1; advance()
          r
        }
      }
    }
  }

  /** One-pass fused pair-count + per-doc size count for the
    * inverted-index jaccard: per group, every id gains a size increment
    * AND every (id1 < id2) pair a co-occurrence increment, accumulated in
    * the SAME bounded counter — size entries ride as the diagonal key
    * (id, id), which a strict id1 < id2 pair key can never produce.
    * Output rows mark sizes with a NULL id2, so ONE downstream groupBy
    * finishes both aggregations and the big posting-list table is
    * consumed exactly once (no cache, no second pass, no second shuffle —
    * the shape that made q19's `groups` cache + `sizes` pass redundant).
    *
    * Pair counting is PRE-aggregated inside the kernel: near-duplicate
    * docs co-occur in many groups, so combining before the encoder
    * boundary shrinks the serialized pair stream by the mean
    * co-occurrence factor (50x on the fixture corpus). The local counter
    * flushes at a bounded size, so memory stays constant; the downstream
    * sum finishes the aggregation. Replaces a posting-list self-join:
    * one grouping shuffle instead of join-build + probe + pair shuffle.
    *
    * `flushAt` is a PER-TASK memory budget, and every core runs a task:
    * counter arrays cost ~48 B per entry at the 50% load ceiling, so
    * peak ~ flushAt * 48 B * concurrent tasks (the drain itself is
    * LAZY — one transient Row — see LongPairCounter.drainIterator).
    * The original 2^22 default OOM'd 32 tasks in an 8 GiB driver the
    * first time a rung's true pair count exceeded the threshold (x30
    * docs ladder, round 9; 2^20 with an eager drain still OOM'd
    * intermittently). 2^19 bounds the stage at ~0.8 GiB for 32 cores
    * while still pre-combining everything smaller than a
    * half-million-pair working set.
    *
    * Integral id types (long/int) run on `LongPairCounter` — flat
    * primitive arrays, no boxing in the quadratic loop; everything else
    * takes the generic boxed path. DedupKernelSpec pins both paths to
    * the same counts.
    */
  private[graft] def emitPairAndSizeCounts(
      groups: DataFrame,
      idType: org.apache.spark.sql.types.DataType,
      flushAt: Int = 1 << 19): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id1", idType, false),
      StructField("id2", idType, true), // null = per-doc size row
      StructField("cnt", LongType, false)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(schema)
    val ids = groups.select(col("ids"))
    idType match {
      case LongType | IntegerType =>
        val isInt = idType == IntegerType
        ids.mapPartitions { rows =>
          val acc = new LongPairCounter()
          // lazy: one transient Row at a time — an eager ArrayBuffer of
          // ~flushAt rows here OOM'd 32 concurrent tasks on the x30
          // ladder (see drainIterator's scaladoc)
          def drain(): Iterator[org.apache.spark.sql.Row] =
            acc.drainIterator { (a, b, c) =>
              if (a == b)
                org.apache.spark.sql.Row(if (isInt) a.toInt else a, null, c)
              else if (isInt)
                org.apache.spark.sql.Row(a.toInt, b.toInt, c)
              else org.apache.spark.sql.Row(a, b, c)
            }
          val flushed = rows.flatMap { r =>
            val s = r.getSeq[Any](0)
            val arr = new Array[Long](s.length)
            var i = 0
            val it = s.iterator
            while (it.hasNext) {
              arr(i) = it.next() match {
                case l: java.lang.Long => l.longValue()
                case n: java.lang.Integer => n.longValue()
              }
              i += 1
            }
            java.util.Arrays.sort(arr)
            i = 0
            while (i < arr.length) {
              acc.add(arr(i), arr(i)) // size increment (diagonal key)
              var j = i + 1
              while (j < arr.length) { acc.add(arr(i), arr(j)); j += 1 }
              i += 1
            }
            if (acc.size >= flushAt) drain() else Iterator.empty
          }
          flushed ++ new Iterator[org.apache.spark.sql.Row] {
            private var buf: Iterator[org.apache.spark.sql.Row] = _
            def hasNext: Boolean = { if (buf == null) buf = drain(); buf.hasNext }
            def next(): org.apache.spark.sql.Row = { if (buf == null) buf = drain(); buf.next() }
          }
        }(enc)
      case _ =>
        implicit val anyOrd: Ordering[Any] =
          (a: Any, b: Any) => a.asInstanceOf[Comparable[Any]].compareTo(b)
        ids.mapPartitions { rows =>
          val acc = new java.util.HashMap[(Any, Any), Long]()
          def drain(): Array[org.apache.spark.sql.Row] = {
            val out = new Array[org.apache.spark.sql.Row](acc.size)
            val it = acc.entrySet().iterator(); var n = 0
            while (it.hasNext) {
              val e = it.next()
              val (a, b) = e.getKey
              out(n) = org.apache.spark.sql.Row(
                a, if (a == b) null else b, e.getValue)
              n += 1
            }
            acc.clear(); out
          }
          val flushed = rows.flatMap { r =>
            val ids = r.getSeq[Any](0).sorted
            var i = 0
            while (i < ids.length) {
              acc.merge((ids(i), ids(i)), 1L, (a, b) => a + b)
              var j = i + 1
              while (j < ids.length) {
                acc.merge((ids(i), ids(j)), 1L, (a, b) => a + b); j += 1
              }
              i += 1
            }
            if (acc.size >= flushAt) drain().iterator else Iterator.empty
          }
          flushed ++ new Iterator[org.apache.spark.sql.Row] {
            private var buf: Array[org.apache.spark.sql.Row] = _
            private var k = 0
            def hasNext: Boolean = { if (buf == null) buf = drain(); k < buf.length }
            def next(): org.apache.spark.sql.Row = { val r = buf(k); k += 1; r }
          }
        }(enc)
    }
  }

  /** Fail fast (at plan-construction time, with the operator named)
    * when an id column's external type has no natural `Comparable`
    * order — the bucket walk ([[graft.plans.BucketPairs]]) and the other
    * pair emitters sort ids with `a.asInstanceOf[Comparable[Any]]`
    * inside tasks to emit the id1 < id2 convention, and a
    * binary/array/struct id would otherwise surface as a mid-job
    * ClassCastException. The whitelist
    * is exactly the atomic Catalyst types whose external row values
    * implement Comparable (boxed numerics, BigDecimal, String,
    * Boolean, java.sql.Date/Timestamp, LocalDateTime). */
  private[graft] def requireOrderableId(
      dt: org.apache.spark.sql.types.DataType, op: String): Unit = {
    import org.apache.spark.sql.types._
    dt match {
      case _: NumericType | StringType | BooleanType | DateType |
           TimestampType | TimestampNTZType => ()
      case other => throw new IllegalArgumentException(
        s"$op orders ids by their natural order to emit id1 < id2 pairs; " +
        s"id column type ${other.simpleString} has none — map the id to a " +
        "numeric/string/decimal/date/timestamp key first")
    }
  }

  /** Exact dedup via content hash: one row per distinct content with the
    * kept id and the duplicate count. groupBy on a 128-bit hash instead of
    * the full text keeps shuffle rows narrow (16 B + id vs whole documents).
    */
  def exact(df: DataFrame, idCol: Column, textCol: Column): DataFrame =
    df.groupBy(Hashing.md5Hex(textCol).as("content_hash"))
      .agg(min(idCol).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Near-exact dedup on the normalized fingerprint (case/whitespace/punct
    * folded) — catches trivially-mutated copies exact dedup misses.
    */
  def fingerprint(df: DataFrame, idCol: Column, textCol: Column): DataFrame =
    df.groupBy(Text.fingerprint(textCol).as("fp"))
      .agg(min(idCol).as("keep_id"), count(lit(1)).as("n_dups"))

  /** MinHash + LSH near-duplicate candidate pairs.
    *
    * Plan shape (the standard web-scale pipeline):
    *   shingle → k-min-hash signature → band keys → explode(bands) →
    *   group on band key → exact-Jaccard verify of every in-bucket pair
    *   (id1 < id2) on the shingle sets → distinct pairs.
    *
    * What runs where, all on Catalyst's row format (no external `Row`):
    *  - after an exchange on the id, the `minhash_shingles` generator
    *    hashes each document's shingle set ([[shingleDocs]]);
    *  - `minhash_band_keys` (inside whole-stage codegen) and an explode
    *    give `bands` rows of (id, vms, bucket) per document, the ONE
    *    shuffle hash-partitions them on the bucket;
    *  - a `Sort` on the bucket (which spills) feeds
    *    [[graft.plans.BucketPairs]], which walks one bucket run at a
    *    time and verifies its pairs with the two-pointer intersect over
    *    the ascending hash sets ([[graft.plans.PairCheck.Jaccard]]) — the
    *    quadratic work is confined to real near-duplicate buckets;
    *  - a pair found in several buckets comes out of each, and the final
    *    `distinct()` folds the identical triples.
    * Memory: the walk holds at most `maxBucketSize` members of one bucket
    * (their hash sets), plus the two representatives below.
    *
    * An over-cap band bucket (boilerplate text) is NOT dropped silently:
    * it contributes one deterministic representative pair, (min id,
    * max id) — exact aggregates over the whole bucket in the id's
    * internal order, as `min_by`/`max_by` pick them, reproducible in
    * any engine — which then passes through the same Jaccard verify. A
    * cluster of >maxBucketSize near-identical documents (the
    * highest-value dedup target) therefore still surfaces instead of
    * yielding zero rows; recall within such a bucket is intentionally
    * partial (full recall is the quadratic blowup the cap exists to
    * prevent). A null id counts toward its bucket's size but is never
    * paired. The walk defines this rule for every bucket-pair operator
    * (`nearDupPairs`, `simhashPairs`, `winnowPairs`, `semDedupPairs`);
    * mirror both arms in any oracle: `HAVING COUNT(*) <= maxBucketSize`
    * for the pair arm, `UNION SELECT min(id), max(id) ... HAVING
    * COUNT(*) > maxBucketSize` for the representative arm. Capped and active
    * (two or more members) bucket counts are observable as
    * `queryExecution.observedMetrics("graft.minhash")` after an action.
    *
    * SIZING (round 15, closing the round-14 ADVICE wart): the
    * grouping-partition count (Sizing.groupingPartitions) needs the
    * corpus cardinality before the plan exists. Resolution order:
    * `rowsHint >= 0` (authoritative) →
    * [[graft.ops.Sizing.planRowsEstimate]] (NO Spark job — plan
    * rowCount or sizeInBytes/256, magnitude-right which is all
    * partition sizing needs) → a pruned count() job ONLY when the
    * plan carries no usable statistic. The path over a parquet scan
    * therefore runs zero jobs at plan-build time (DedupKernelSpec pins
    * this with a job-counting listener). Callers with an EXPENSIVE
    * upstream plan (a prior join/agg/kernel) whose plan stats are
    * degenerate should pass `rowsHint`.
    *
    * The (id, hashed-shingle set) signatures are never cached:
    * columnar-encoding the ~300-long `vms` array per doc costs more
    * than re-running the shingle+md5 kernel over the pruned 2-column
    * scan (sf0.1 quiet-box A/B, 3 paired runs: q18 uncached wins 2/3
    * with larger margins, q37's iterative consumer uncached 2.5-2.8 s
    * vs cached 3.7-3.9 s — disjoint spreads twice; NOTES.md). At
    * cluster scale a cached table is corpus-sized anyway — persist to
    * a tap between pipeline stages if reuse across jobs is wanted.
    *
    * @param rowsHint known (approximate) row count of `df`; `>= 0`
    *   skips the sizing estimate entirely. Default -1 = estimate.
    * @return (id1, id2, jaccard) for candidate pairs with jaccard >= threshold
    */
  def minhashLsh(
      df: DataFrame,
      idCol: Column,
      textCol: Column,
      shingleK: Int = 8,
      numHashes: Int = 16,
      bands: Int = 4,
      threshold: Double = 0.5,
      maxBucketSize: Int = 1000,
      rowsHint: Long = -1L): DataFrame = {
    bucketPairs(shingleDocs(df, idCol, textCol, shingleK), numHashes, bands,
      threshold, maxBucketSize, bandPartitions(bands, rowsHint, df -> idCol))
  }

  /** Grouping partitions of a band-row shuffle over the documents of
    * `sides` (each with its id column), sized from the banded VOLUME
    * (Sizing.groupingPartitions — the nearDupPairs discipline) at a
    * 64 MB/task target (not the 128 MB default): the hash sets ride the
    * shuffle with every band row, and halving the target doubles the
    * task count for the same total work. Cardinality: `rowsHint >= 0`
    * pins it; else the largest side's plan statistics (round 15: NO job
    * — parquet scans know their bytes driver-side; sizing only needs the
    * magnitude), with a pruned count() only for a side whose plan
    * carries no usable size. */
  private def bandPartitions(
      bands: Int, rowsHint: Long, sides: (DataFrame, Column)*): Int = {
    val nRows =
      if (rowsHint >= 0) rowsHint
      else sides.map { case (df, id) =>
        graft.ops.Sizing.planRowsEstimate(df).getOrElse(df.select(id).count())
      }.max
    graft.ops.Sizing.groupingPartitions(
      bands.toLong * nRows, 8L * 1024,
      sides.head._1.sparkSession.sparkContext.defaultParallelism,
      targetBytesPerTask = 64L << 20)
  }

  /** [[minhashLsh]] from its shingle sets on: band rows of (id, vms,
    * bucket) hash-partitioned `parts` ways on the bucket, the bucket
    * walk with its `graft.minhash` metric, distinct pairs. */
  private[graft] def bucketPairs(
      docs: DataFrame,
      numHashes: Int,
      bands: Int,
      threshold: Double,
      maxBucketSize: Int,
      parts: Int): DataFrame = {
    val banded = docs
      .select(col("id"), col("vms"),
        explode(bandKeys(col("vms"), numHashes, bands)).as("bucket"))
      .repartition(parts, col("bucket"))
    graft.plans.BucketPairs.pairs(banded,
        graft.plans.PairCheck.Jaccard(threshold), maxBucketSize, "graft.minhash")
      .distinct()
  }

  /** Cross-corpus (incremental) MinHash-LSH near-dup pairs: candidates
    * are (increment doc, corpus doc) — never increment x increment or
    * corpus x corpus. THE daily-ingestion shape at 100 TB: a new crawl
    * increment dedupes against the standing training corpus without
    * re-pairing the corpus against itself (`minhashLsh` over the union
    * would burn the whole pair budget on known corpus-internal dups).
    *
    * The [[minhashLsh]] plan with both sides in it: each side's band
    * rows of (id, vms, bucket), tagged with their side, share ONE
    * shuffle on the bucket, and the cross form of the bucket walk
    * ([[graft.plans.BucketPairs]]) verifies each bucket's (increment
    * member, corpus member) pairs in place; the final `distinct()`
    * folds a pair found in several buckets. The walk owns the
    * cross-side rules: a bucket counts only when each side has a
    * non-null id, a side's size counts its non-null ids, and a bucket
    * over `maxBucketSide` on either side contributes the one
    * deterministic (min increment id, min corpus id) representative
    * pair — exact per-side aggregates, oracle-mirrorable as a UNION arm
    * like q30's. Capped and active bucket counts are observable via
    * `graft.minhash_against`.
    *
    * At deployment scale the corpus side's banding is the expensive arm;
    * persist it once with a `Tap` and re-read per increment (the
    * RSSkip staged-pipeline idiom — [[corpusMinhashTable]] +
    * [[minhashLshAgainstPrepared]]) — the plan here recomputes it,
    * which is the right default for a one-shot call.
    *
    * Sizing cascade (the [[minhashLsh]] rowsHint contract): `rowsHint
    * >= 0` pins it; unset, plan statistics size both sides with NO
    * Spark job ([[graft.ops.Sizing.planRowsEstimate]]); only a side
    * whose plan carries no usable size falls back to one pruned
    * count() job — over an expensive size-less upstream plan, pass
    * the hint (an upper bound of max(|increment|, |corpus|); it only
    * sizes partitions).
    *
    * @return (id1 = increment id, id2 = corpus id, jaccard) with
    *   jaccard >= threshold
    */
  def minhashLshAgainst(
      increment: DataFrame, incId: Column, incText: Column,
      corpus: DataFrame, corpId: Column, corpText: Column,
      shingleK: Int = 8,
      numHashes: Int = 16,
      bands: Int = 4,
      threshold: Double = 0.5,
      maxBucketSide: Int = 1000,
      rowsHint: Long = -1L): DataFrame = {
    val inc = shingleDocs(increment, incId, incText, shingleK)
      .select(col("id"), col("vms"))
    val corp = shingleDocs(corpus, corpId, corpText, shingleK)
      .select(col("id"), col("vms"))
    // fail at plan time: the walk types both sides from the increment's
    // id — a mismatched corpus id type would otherwise surface inside a
    // task
    require(inc.schema("id").dataType == corp.schema("id").dataType,
      s"increment and corpus id types differ: " +
        s"${inc.schema("id").dataType.catalogString} vs " +
        s"${corp.schema("id").dataType.catalogString}")
    againstPairs(inc,
      corp.select(col("id"), col("vms"),
        explode(bandKeys(col("vms"), numHashes, bands)).as("bucket")),
      numHashes, bands, threshold, maxBucketSide,
      bandPartitions(bands, rowsHint, increment -> incId, corpus -> corpId))
  }

  /** The corpus arm of [[minhashLshAgainst]] as ONE materializable table
    * — the "persist it once with a Tap and re-read per increment"
    * lever above, made code. Row per corpus doc: (id, vms, buckets),
    * buckets = the `bands` LSH band keys. Write this through a
    * `Stage` with `RSSkip` and feed it to [[minhashLshAgainstPrepared]]
    * for each increment: the corpus-side shingle+md5+signature pass
    * (the expensive arm at deployment scale) runs once per corpus
    * epoch, not once per increment. One projection emits the hash set
    * and its band keys together — no second pass, no groupBy to
    * reassemble.
    */
  def corpusMinhashTable(
      corpus: DataFrame, corpId: Column, corpText: Column,
      shingleK: Int = 8,
      numHashes: Int = 16,
      bands: Int = 4): DataFrame =
    shingleDocs(corpus, corpId, corpText, shingleK)
      .select(col("id"), col("vms"),
        bandKeys(col("vms"), numHashes, bands).as("buckets"))

  /** [[minhashLshAgainst]] against a PREPARED corpus table (from
    * [[corpusMinhashTable]], usually re-read from a tap): only the
    * increment is shingled and banded; the corpus side streams straight
    * out of the materialized (id, vms, buckets) rows, read once. `numHashes`/
    * `bands` apply to the increment and MUST match the values the
    * corpus table was built with — band keys embed the band index and
    * row width, so a mismatch yields empty buckets, not wrong pairs.
    */
  def minhashLshAgainstPrepared(
      increment: DataFrame, incId: Column, incText: Column,
      prepared: DataFrame,
      shingleK: Int = 8,
      numHashes: Int = 16,
      bands: Int = 4,
      threshold: Double = 0.5,
      maxBucketSide: Int = 1000,
      rowsHint: Long = -1L): DataFrame = {
    val inc = shingleDocs(increment, incId, incText, shingleK)
      .select(col("id"), col("vms"))
    require(inc.schema("id").dataType == prepared.schema("id").dataType,
      s"increment and prepared-corpus id types differ: " +
        s"${inc.schema("id").dataType.catalogString} vs " +
        s"${prepared.schema("id").dataType.catalogString}")
    // prepared is normally a materialized tap read, so its parquet scan
    // knows its bytes: no sizing job
    againstPairs(inc,
      prepared.select(col("id"), col("vms"), explode(col("buckets")).as("bucket")),
      numHashes, bands, threshold, maxBucketSide,
      bandPartitions(bands, rowsHint, increment -> incId, prepared -> col("id")))
  }

  /** Shared tail of the two `minhashLshAgainst` forms: the increment's
    * (freshly banded) and the corpus's (id, vms, bucket) rows, tagged by
    * side and hash-partitioned `parts` ways on the bucket, the cross-side
    * bucket walk with its `graft.minhash_against` metric, distinct pairs.
    */
  private[graft] def againstPairs(
      inc: DataFrame,
      corpBanded: DataFrame,
      numHashes: Int,
      bands: Int,
      threshold: Double,
      maxBucketSide: Int,
      parts: Int): DataFrame = {
    val banded = inc
      .select(col("id"), col("vms"),
        explode(bandKeys(col("vms"), numHashes, bands)).as("bucket"),
        lit(true).as("increment"))
      .unionByName(corpBanded.withColumn("increment", lit(false)))
      .repartition(parts, col("bucket"))
    graft.plans.BucketPairs.crossPairs(banded,
        graft.plans.PairCheck.Jaccard(threshold), maxBucketSide,
        "graft.minhash_against")
      .distinct()
  }

  /** Exact n-gram Jaccard dedup via inverted index (no LSH approximation):
    * doc→distinct shingles → explode → self-join on shingle → common counts
    * → jaccard = common / (|a| + |b| − common). The `minDf`/`maxDf` filter
    * drops ubiquitous shingles so the inverted-index join doesn't explode
    * on stop-shingles — the standard trick that keeps this near-linear.
    */
  def ngramJaccard(
      df: DataFrame,
      idCol: Column,
      textCol: Column,
      shingleK: Int = 8,
      threshold: Double = 0.5,
      maxDf: Int = 500,
      charsHint: Long = -1L): DataFrame = {
    // Posting list over the HASHED shingle set (8-byte keys — the
    // groupBys shuffle longs, not strings; hash collisions fold
    // identically in the oracle, which computes the same md5-mod space).
    //
    // Shape: ONE scan, ONE wide shuffle, ONE pass over the posting
    // list. The posting list groups by shingle with
    // `collect_list_capped` (graft's Catalyst aggregate) + an exact
    // count: a stop-shingle with df in the millions never buffers more
    // than maxDf ids — map-side partials and the merge alike — and its
    // (truncated, never-observed) group is dropped by the df filter
    // before any pair materializes. The fused kernel then emits BOTH
    // per-doc size partials and pair co-occurrence partials from that
    // single pass (size rows carry a NULL id2), so the posting list is
    // never cached or re-read and one groupBy finishes both
    // aggregations. The `unified` result is one row per surviving pair
    // plus one per doc — small — and feeds the final jaccard via two
    // self-joins that AQE broadcasts when small.
    ngramPairCounts(df, idCol, textCol, shingleK, maxDf, charsHint)
      .withColumn("jaccard",
        col("common").cast("double") / (col("n1") + col("n2") - col("common")))
      .filter(col("jaccard") >= threshold)
      .select("id1", "id2", "jaccard")
  }

  /** Shared counting pass behind [[ngramJaccard]] and
    * [[ngramContainment]]: one row per co-occurring pair with the
    * intersection size and both docs' (df-filtered) shingle-set sizes —
    * (id1, id2, common, n1, n2). See ngramJaccard's scaladoc for the
    * single-scan, capped-posting-list plan shape.
    *
    * Both wide exchanges are VOLUME-sized (the minhashLsh /
    * duplicateSpans discipline): the posting stream is ~one row per
    * distinct shingle occurrence (≈ total chars) and at the 32-partition
    * session default a deep corpus puts GB-scale posting-list agg state
    * on every task — the round-15 containment x300 rung (445M chars)
    * died exactly there (GCLocker thrash at 8 g) before this sizing;
    * post-fix the same rung runs at 8 g in 268 s (x100 92.4 -> 78.3 s,
    * pair volume bit-identical — NOTES round-15 ladder). The pair
    * exchange reuses the same width via a repartition the following
    * groupBy's requirement is satisfied by (no second exchange).
    * charsHint follows the duplicateSpans contract: pass an upper
    * bound on total text chars to pin the sizing; unset, plan
    * statistics size it with NO Spark job ([[graft.ops.Sizing
    * .charsEstimate]]), falling back to a pruned length-sum only when
    * the plan carries no size.
    */
  private def ngramPairCounts(
      df: DataFrame,
      idCol: Column,
      textCol: Column,
      shingleK: Int,
      maxDf: Int,
      charsHint: Long = -1L): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    val totalChars =
      if (charsHint >= 0) charsHint
      // plan statistics first (no Spark job — the minhashLsh sizing
      // contract); the pruned length-sum only as last resort
      else graft.ops.Sizing.charsEstimate(df).getOrElse(
        df.agg(coalesce(sum(length(coalesce(textCol, lit("")))), lit(0L))
          .cast("long")).head.getLong(0))
    // ~24 B per posting row in exchange form (8-byte hashed shingle +
    // id + overhead); 64 MB/task keeps the capped posting-list buffers
    // in memory at any corpus size
    val parts = graft.ops.Sizing.groupingPartitions(
      totalChars, 24L, par, targetBytesPerTask = 64L << 20)
    val docs = shingleDocs(df, idCol, textCol, shingleK)

    val groups = docs
      .select(col("id"), explode(col("vms")).as("sh"))
      .repartition(parts, col("sh"))
      .groupBy("sh")
      .agg(
        call_function("collect_list_capped", col("id"), lit(maxDf)).as("ids"),
        count(lit(1)).as("df"))
      .filter(col("df") <= maxDf)

    val unified = emitPairAndSizeCounts(groups, docs.schema("id").dataType)
      .repartition(parts, col("id1"), col("id2"))
      .groupBy("id1", "id2").agg(sum(col("cnt")).as("cnt"))
      .cache() // small: one row per co-occurring pair + one per doc

    val sizes = unified.filter(col("id2").isNull)
      .select(col("id1").as("id"), col("cnt").as("nsh"))
    val common = unified.filter(col("id2").isNotNull)
      .select(col("id1"), col("id2"), col("cnt").as("common"))

    common
      .join(sizes.withColumnRenamed("id", "id1")
        .withColumnRenamed("nsh", "n1"), "id1")
      .join(sizes.withColumnRenamed("id", "id2")
        .withColumnRenamed("nsh", "n2"), "id2")
  }

  /** Asymmetric near-dup pairs by the OVERLAP COEFFICIENT
    * |A∩B| / min(|A|, |B|) over the same df-filtered shingle space as
    * [[ngramJaccard]] — the duplication mode Jaccard structurally
    * misses: a short document quoted verbatim inside a long one scores
    * containment 1.0 but Jaccard ≈ |short|/|long| (arbitrarily small).
    * The standard screen for wrapper pages, quote farms, and
    * excerpt-expansion dups (Broder's containment, resemblance's
    * sibling). Same single-scan counting pass and capped posting lists;
    * only the final score differs, so the scale shape is q19's.
    *
    * min (the symmetric overlap coefficient), not a directional
    * |A∩B|/|A|: pairs emit once as (min id, max id) and "either side
    * mostly contained" is the dedup-relevant predicate; the n1/n2
    * columns let a caller recover direction when needed.
    *
    * @return (id1, id2, containment, n1, n2), containment >= threshold
    */
  def ngramContainment(
      df: DataFrame,
      idCol: Column,
      textCol: Column,
      shingleK: Int = 8,
      threshold: Double = 0.8,
      maxDf: Int = 500,
      charsHint: Long = -1L): DataFrame =
    ngramPairCounts(df, idCol, textCol, shingleK, maxDf, charsHint)
      .withColumn("containment",
        col("common").cast("double") / least(col("n1"), col("n2")))
      .filter(col("containment") >= threshold)
      .select("id1", "id2", "containment", "n1", "n2")

  /** 64-bit simhash per document as a typed kernel (same rationale as
    * shingleDocs: the Column simhash, Hashing.simhash, runs interpreted
    * inside HOF lambdas). Identical output: per-token md5 -> 64-bit value
    * (first 8 digest bytes) -> majority vote per bit; token-less docs
    * hash to 0. 64 bits, NOT 32: banding cuts the fingerprint into
    * `bands` segments, and segment-value RANDOM collisions scale as
    * n²/2^width — 8-bit segments (32/4) made candidate volume quadratic
    * from ~50k docs (measured: the round-7 scale ladder caught q41/q51
    * at exponent ~1.5); 16-bit segments push that knee out 256×, the
    * classic 64-bit fingerprint choice (Manku, Jain & Das Sarma 2007).
    * Output schema: (id <input type>, sh bigint, bit 63 = MSB of the
    * digest — sh is SIGNED; consumers compare bits, never magnitudes).
    */
  private[graft] def simhashSignatures(
      df: DataFrame,
      idCol: Column,
      textCol: Column): DataFrame = {
    import org.apache.spark.sql.types._
    val base = df.select(idCol.as("id"), textCol.cast("string").as("__text"))
      .repartition(df.sparkSession.sparkContext.defaultParallelism, col("id"))
    val schema = StructType(Seq(
      base.schema("id"), StructField("sh", LongType, false)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(schema)
    base.mapPartitions { rows =>
      val md = java.security.MessageDigest.getInstance("MD5")
      rows.map { r =>
        val text = r.getString(1)
        val toks =
          if (text == null) Array.empty[String]
          else text.split("\\s+").filter(_.nonEmpty)
        val counts = new Array[Int](64)
        toks.foreach { t =>
          val d = md.digest(t.getBytes("UTF-8"))
          var v = 0L
          var k = 0
          while (k < 8) { v = (v << 8) | (d(k) & 0xffL); k += 1 }
          var b = 0
          while (b < 64) { counts(b) += ((v >>> (63 - b)) & 1L).toInt; b += 1 }
        }
        var sh = 0L
        if (toks.nonEmpty) {
          var b = 0
          while (b < 64) {
            if (2 * counts(b) >= toks.length) sh |= 1L << (63 - b)
            b += 1
          }
        }
        org.apache.spark.sql.Row(r.get(0), sh)
      }
    }(enc)
  }

  /** SimHash near-dup: docs whose 64-bit simhash match exactly (tight
    * near-dup band). For a wider radius see `simhashPairs`.
    */
  def simhashGroups(
      df: DataFrame,
      idCol: Column,
      textCol: Column): DataFrame =
    simhashSignatures(df, idCol, textCol)
      .groupBy("sh")
      .agg(min(col("id")).as("keep_id"), count(lit(1)).as("n_dups"))
      .filter(col("n_dups") > 1)

  /** Banded hamming-radius SimHash near-dup pairs: the wider-radius
    * variant `simhashGroups`' scaladoc promises. The 64-bit simhash is
    * cut into `bands` contiguous segments; by pigeonhole, two signatures
    * within hamming distance `maxHamming` agree EXACTLY on at least one
    * band whenever `bands >= maxHamming + 1` (the distance can corrupt at
    * most `maxHamming` bands) — so grouping on (band index, band value)
    * has perfect recall at radius `maxHamming` before any cap, and the
    * exact `bit_count(xor)` verify removes the false positives.
    *
    * The pair stage is `minhashLsh`'s bucket walk
    * ([[graft.plans.BucketPairs]] with [[graft.plans.PairCheck.Hamming]]):
    * ONE grouping shuffle of (id, sh, bucket) rows at the session's
    * shuffle width, then each bucket's pairs are checked by
    * `bit_count(xor)` in place — the signature rides the shuffle, so
    * there is no verify join and nothing is cached. An over-cap bucket
    * is checked through its deterministic (min id, max id)
    * representative, and the capped count is observable via the
    * `graft.simhash` metric. Mirror both arms in any oracle exactly as
    * for minhashLsh. A pair sharing several bands comes out once.
    *
    * Band keys are packed into one long — band index in the high 32 bits,
    * band value in the low — so the shuffle key is 8 bytes (vs the ~40 B
    * string keys of minhash bands, whose values don't fit a word).
    *
    * @return (id1, id2, hamming int) for candidate pairs with
    *   hamming <= maxHamming, id1 < id2
    */
  def simhashPairs(
      df: DataFrame,
      idCol: Column,
      textCol: Column,
      maxHamming: Int = 3,
      bands: Int = graft.ops.Sizing.Auto,
      maxBucketSize: Int = 1000): DataFrame = {
    // Auto-sizing (default): the FEWEST bands that still give the
    // pigeonhole recall guarantee — every extra band narrows the
    // segments and pulls the 2^(64/bands) random-collision ceiling
    // closer (Sizing.simhashBands; the round-7 8-bit-segment lesson).
    val bandsN =
      if (bands == graft.ops.Sizing.Auto)
        graft.ops.Sizing.simhashBands(maxHamming)
      else bands
    require(bandsN >= 1 && 64 % bandsN == 0,
      s"bands must divide 64, got $bandsN")
    require(maxHamming >= 0 && maxHamming < bandsN,
      s"radius guarantee needs bands >= maxHamming + 1 " +
        s"(got bands=$bandsN, maxHamming=$maxHamming)")
    val width = 64 / bandsN
    val bandCols = (0 until bandsN).map { b =>
      lit(b.toLong << 32) +
        shiftrightunsigned(col("sh"), (bandsN - 1 - b) * width)
          .bitwiseAND(lit((1L << width) - 1))
    }
    val banded = simhashSignatures(df, idCol, textCol)
      .select(col("id"), col("sh"), explode(array(bandCols: _*)).as("bucket"))
    graft.plans.BucketPairs.pairs(banded,
        graft.plans.PairCheck.Hamming(maxHamming), maxBucketSize, "graft.simhash")
      .distinct()
  }

  /** Line-level exact dedup (the C4/RefinedWeb boilerplate-removal step):
    * strip every line whose normalized form occurs more than
    * `maxOccurrences` times ACROSS THE CORPUS, and reassemble each
    * document from its surviving lines in original order. This is the
    * duplication mode document-level dedup (`exact`/`fingerprint`/LSH)
    * cannot see — navigation chrome, cookie banners, boilerplate headers
    * repeated across otherwise-distinct pages — and it is the most
    * faithful extension of the reference's data model, whose record unit
    * IS the line (`/root/reference/src/Hadron/Protocol.hs:235-242,
    * parseLine/linesConduit`).
    *
    * Normalization = `lower(trim(line))` (space-trim only — both engines
    * agree); lines whose normalized form is shorter than `minLineChars`
    * (blank lines, stray separators) are document STRUCTURE, not
    * content: they never enter the count and are always kept.
    *
    * Plan shape, built for 100 TB:
    *   1. posexplode lines → md5(norm) → groupBy(hash).count — the count
    *      pass shuffles 16-byte hashes with map-side partial aggregation,
    *      never line text;
    *   2. `HAVING count > maxOccurrences` leaves only the boilerplate
    *      hash set (small: boilerplate is by definition the repeated
    *      tail), which the line stream LEFT-joins — AQE converts this to
    *      a broadcast join at runtime when the set is small enough;
    *   3. reassembly groups by document id; the `collect_list(when(keep,
    *      struct(pos, line)))` buffer is bounded by a single document's
    *      own line count, never by corpus cardinality.
    * The text column is scanned twice (count pass + strip pass) — the
    * standard two-pass C4 shape; a narrow double-scan beats one
    * corpus-wide shuffle of full line text, and a staged pipeline can
    * persist the exploded lines between the passes via a `Tap`.
    *
    * Every document survives, including one whose every line is stripped
    * (`text_clean = ""`, `n_kept = 0`) — silently dropping emptied docs
    * would corrupt downstream joins keyed on document id.
    *
    * @param maxOccurrences keep lines occurring at most this many times
    *   corpus-wide (occurrences WITHIN one document count too)
    * @param lineSep literal line separator (split and rejoin)
    * @param scopeCol count occurrences within this group instead of
    *   corpus-wide (None = corpus-wide, the C4 rule). Per-source scope
    *   is the site-template variant: a navigation line repeated across
    *   one site's pages is boilerplate THERE even if globally rare,
    *   and a licence line shared by two sites twice each stays below a
    *   per-site threshold a global count would breach. NULL scopes
    *   form their own group. The count exchange gains the scope key;
    *   everything else (broadcast-able boilerplate set, doc-bounded
    *   reassembly buffers) keeps its shape.
    * @return (id, n_lines, n_kept, text_clean)
    */
  def stripDuplicateLines(
      df: DataFrame,
      idCol: Column,
      textCol: Column,
      maxOccurrences: Long = 1,
      lineSep: String = "\n",
      minLineChars: Int = 1,
      scopeCol: Option[Column] = None): DataFrame = {
    val sep = java.util.regex.Pattern.quote(lineSep) // Spark split is regex
    val par = df.sparkSession.sparkContext.defaultParallelism
    val lines = df
      // same discipline as shingleDocs: the explode/md5/collect kernel
      // must run post-exchange, not at scan parallelism — a corpus
      // that arrives as one parquet split would otherwise serialize
      // the whole pipeline into a single task whenever the
      // boilerplate side broadcasts (measured: the q55 x30-vs-x100
      // inversion, NOTES.md "line-dedup scan-parallelism trap").
      // Partitioning by id also pre-positions the final groupBy(id).
      .repartition(par, idCol)
      .select((Seq(idCol.as("id")) ++
          scopeCol.map(_.as("scope")).toSeq :+
          posexplode(split(coalesce(textCol, lit("")), sep))
            .as(Seq("pos", "line"))): _*)
      .withColumn("norm", lower(trim(col("line"))))
      .withColumn("lh", md5(col("norm").cast("binary")))
    val scopeKeys = scopeCol.map(_ => col("scope")).toSeq
    val boilerplate = lines
      .filter(length(col("norm")) >= minLineChars)
      .groupBy(scopeKeys :+ col("lh").as("h"): _*)
      .agg(count(lit(1)).as("n"))
      .filter(col("n") > maxOccurrences)
      .select(scopeKeys.map(_.as("bscope")) :+ col("h"): _*)
    val joinCond = scopeCol match {
      case Some(_) => lines("lh") === boilerplate("h") &&
        lines("scope") <=> boilerplate("bscope")
      case None => lines("lh") === boilerplate("h")
    }
    lines
      .join(boilerplate, joinCond, "left")
      .groupBy("id")
      .agg(
        count(lit(1)).as("n_lines"),
        // collect_list drops the null branch of `when`: only kept lines
        // buffer, but every doc keeps its group row
        collect_list(when(col("h").isNull, struct(col("pos"), col("line"))))
          .as("ks"),
        count(col("h")).as("n_stripped"))
      .select(
        col("id"),
        col("n_lines"),
        (col("n_lines") - col("n_stripped")).as("n_kept"),
        array_join(
          transform(array_sort(col("ks")), x => x("line")), lineSep)
          .as("text_clean"))
  }

  /** Exact duplicated-substring SPANS — the character-granular exact
    * dedup layer (the ExactSubstr idea of Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better",
    * re-expressed as relational passes instead of a suffix array): a
    * maximal character range of a document is reported when every
    * k-char window inside it occurs more than `maxOccurrences` times
    * in the whole corpus (within- OR cross-document — a verbatim
    * boilerplate block repeated inside one page is the same training
    * pathology as one shared across pages). Spans are the actionable
    * artifact: feed them to a downstream `substring`-splice removal
    * pass, or threshold on `span_len` for audit queries.
    *
    * Three passes, all linear in total characters (the suffix-array
    * cost class, in shuffle form):
    *   1. position inventory: (id, pos, md5(substr(pos, k))) — one
    *      generate + project per doc;
    *   2. duplicated-gram keys: groupBy(hash) count over a
    *      volume-sized exchange (Sizing.groupingPartitions from
    *      total chars — see charsHint), map-side combinable;
    *      `> maxOccurrences` survivors join back to
    *   3. the position stream as the BUILD of a shuffled-hash
    *      semi-join at the same width (duplicated keys measure
    *      5-15% of distinct grams on boilerplate-heavy corpora —
    *      far past any broadcast threshold, and a sort-merge join
    *      would sort the full position stream); the per-doc
    *      interval merge is then one window over (id, pos) —
    *      doc-sized state, never corpus-sized.
    * The gram pipeline is instantiated twice — Catalyst prunes each
    * copy to its consumer (an h-only aggregation arm, an (id, pos, h)
    * probe arm; plan-verified) — the recompute-over-cache discipline
    * every text kernel here follows: regenerating grams from the
    * pruned 2-column scan is cheaper than columnar-encoding an
    * O(total chars) row stream.
    *
    * Determinism: spans are a pure function of the corpus's gram
    * multiset (no sampling, no hash seeds beyond md5). The 128-bit
    * gram hash stands in for the substring itself — any engine
    * replaying md5-over-substr reproduces the byte-identical span
    * table. The key stays the md5 HEX STRING deliberately: a 60-bit
    * integer key (conv of the 15-digit md5 prefix, the md5Mod shape;
    * 8 exchange bytes vs ~40) was
    * A/B-measured 25% SLOWER on the x100 docs rung (interleaved:
    * 54.5/53.0 s int vs 42.2 s hex, control-clean) — the per-gram
    * conv() hex parse costs more CPU than the narrower rows save
    * while the gram shuffles fit page cache; do not re-narrow this
    * key without re-measuring at a rung whose shuffle exceeds RAM.
    * Merge rule: windows whose [pos, pos+k-1] char ranges
    * touch or overlap (next.pos <= furthest_end + 1) fuse into one
    * span, so a duplicated region of length L >= k yields exactly one
    * row, not L-k+1.
    *
    * @param k window width in characters; a span is reported only
    *   where a full k-window duplicates, so k is the minimum
    *   reportable span length (Lee et al.'s 50-token threshold maps
    *   to k ~ a few hundred chars; the default 20 suits the test
    *   corpus's sentence-scale duplicates)
    * @param maxOccurrences grams occurring at most this often are
    *   normal text (1 = report any repetition, the paper's setting)
    * @param keepFirst false (default) = AUDIT semantics: every
    *   occurrence of a duplicated window is spanned. true = REMOVAL
    *   semantics (the paper's "all but one occurrence"): the
    *   corpus-wide first occurrence of each window — min (id, pos),
    *   a deterministic total order — is exempt, so the canonical
    *   copy of a repeated region survives a downstream
    *   [[spliceSpans]] while every other copy is spanned. The
    *   canonical (id, pos) rides the SAME counting aggregation as a
    *   min-struct (still map-side combinable); the join back
    *   carries it as payload instead of being a bare semi-join —
    *   same cardinality, same join shape.
    * @param charsHint known (approximate) total character count of
    *   the corpus; `>= 0` pins the sizing. Unset, plan statistics
    *   volume-size the gram exchanges with NO Spark job
    *   ([[graft.ops.Sizing.charsEstimate]] — parquet file bytes x3,
    *   a magnitude-right over-estimate, the safe direction); only a
    *   plan with no usable size falls back to one eager pruned
    *   length-sum job — over an expensive size-less upstream plan,
    *   pass the hint. Sizing matters here MORE than in the shingle
    *   family: the gram stream is O(total chars) rows, and at the
    *   docs x300 rung (411M grams) the session-default 32-partition
    *   exchanges put ~GB-scale agg/sort state on every task —
    *   measured 47.8 s (x100) -> ~251-302 s (x300, heap-insensitive:
    *   8 g and 24 g within noise), exponent ~1.5. Volume-sized
    *   widths + a shuffled-hash build on the (always
    *   over-broadcast-threshold) duplicated-key side keep every task
    *   at the 64 MB target instead (A/B in NOTES round 14).
    * @return (id, span_start, span_len) — 1-based char offset,
    *   length >= k
    */
  def duplicateSpans(
      df: DataFrame,
      idCol: Column,
      textCol: Column,
      k: Int = 20,
      maxOccurrences: Long = 1,
      keepFirst: Boolean = false,
      charsHint: Long = -1L): DataFrame = {
    require(k >= 1, s"window width k must be >= 1, got $k")
    require(maxOccurrences >= 1, s"maxOccurrences must be >= 1")
    val par = df.sparkSession.sparkContext.defaultParallelism
    val totalChars =
      if (charsHint >= 0) charsHint
      // plan statistics first (no Spark job — the minhashLsh sizing
      // contract); the pruned length-sum only as last resort
      else graft.ops.Sizing.charsEstimate(df).getOrElse(
        df.agg(coalesce(sum(length(coalesce(textCol, lit("")))), lit(0L))
          .cast("long")).head.getLong(0))
    // ~40 B per gram row in exchange form (32-hex h + id + pos);
    // 64 MB/task keeps the count aggregation's hash state and the
    // verify join's build in memory at any corpus size
    val parts = graft.ops.Sizing.groupingPartitions(
      totalChars, 40L, par, targetBytesPerTask = 64L << 20)
    def positions = gramPositions(df, idCol, textCol, k, par)
    // both gram-keyed exchanges (count aggregation + verify join) run
    // at the volume-derived width; the duplicated-key side is the
    // hash build — it is ~5-15% of distinct grams on boilerplate-
    // heavy corpora (measured 95k keys / 1.37M grams at sf0.1), far
    // past any broadcast threshold, and a sort-merge join would SORT
    // the full position stream instead
    val posParted = positions.repartition(parts, col("h"))
    val dupPos =
      if (keepFirst) {
        requireOrderableId(df.select(idCol).schema.head.dataType,
          "duplicateSpans keepFirst")
        val dupKeys = posParted
          .groupBy("h").agg(count(lit(1)).as("n"),
            min(struct(col("id"), col("pos"))).as("can"))
          .filter(col("n") > maxOccurrences)
          .select(col("h"), col("can"))
        // null-SAFE equality: with === a null id makes the predicate
        // three-valued and SILENTLY DROPS (wrongly exempts) the row;
        // <=> keeps the exclusion total. (Null ids sort first in
        // Spark's min-struct, so a null-id doc wins the canonical —
        // orderable-keyed corpora should not carry null ids, but the
        // operator must not mis-classify if they do.)
        posParted.join(dupKeys.hint("shuffle_hash"), Seq("h"))
          .filter(!(col("id") <=> col("can.id") &&
            col("pos") <=> col("can.pos")))
          .select("id", "pos")
      } else {
        val dupKeys = posParted
          .groupBy("h").agg(count(lit(1)).as("n"))
          .filter(col("n") > maxOccurrences)
          .select("h")
        posParted.join(dupKeys.hint("shuffle_hash"), Seq("h"), "left_semi")
      }
    mergeWindowSpans(dupPos, k)
  }

  /** Shared position kernel of the ExactSubstr family: one row per
    * k-char window, (id, pos, md5-of-window). Runs post-exchange,
    * never at scan parallelism — the stripDuplicateLines discipline.
    */
  private def gramPositions(
      df: DataFrame, idCol: Column, textCol: Column,
      k: Int, par: Int): DataFrame = df
    .repartition(par, idCol)
    .select(idCol.as("id"), coalesce(textCol, lit("")).as("t"))
    .filter(length(col("t")) >= k)
    .select(col("id"),
      explode(sequence(lit(1), length(col("t")) - (k - 1))).as("pos"),
      col("t"))
    .select(col("id"), col("pos"),
      md5(col("t").substr(col("pos"), lit(k)).cast("binary")).as("h"))

  /** Shared span-merge tail: fuse flagged window positions whose
    * [pos, pos+k-1] ranges touch or overlap into maximal spans — one
    * window over (id, pos), doc-sized state. */
  private def mergeWindowSpans(flagged: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("id").orderBy("pos")
    val furthestEnd = max(col("pos") + (k - 1))
      .over(w.rowsBetween(Window.unboundedPreceding, -1))
    flagged
      .withColumn("brk",
        when(col("pos") > coalesce(furthestEnd + 1, lit(0L)), 1L)
          .otherwise(0L))
      .withColumn("sid",
        sum(col("brk")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("id"), col("sid"))
      .agg(
        min(col("pos")).as("span_start"),
        (max(col("pos")) + k - min(col("pos"))).as("span_len"))
      .select("id", "span_start", "span_len")
  }

  /** Exact substring CONTAMINATION spans: maximal character ranges of
    * corpus documents every k-char window of which also occurs in a
    * benchmark/test set — the precision instrument next to
    * [[winnowContamination]] (which trades ~2/(w+1) posting volume
    * for window-sampled positions and guarantees only quotes >=
    * k+w-1): here EVERY shared k-window is found and the exact char
    * offsets come back, so the spans can drive [[spliceSpans]]
    * surgery instead of doc-level drops.
    *
    * Plan shape — deliberately NOT [[duplicateSpans]]'s: the corpus
    * side never exchanges on grams at all. The test set's distinct
    * window hashes (test sets are benchmark-sized by definition)
    * broadcast as the build of a map-side semi-join over the
    * position stream; the only corpus exchanges are the kernel's
    * id-repartition and the doc-keyed merge window. At 100 TB the
    * corpus cost is one scan + one narrow (id, pos) shuffle of the
    * HITS only. For a test side too large to broadcast, band it
    * through [[duplicateSpans]]-style volume-sized joins instead —
    * the explicit broadcast here fails loudly past Spark's
    * broadcast-size ceiling rather than silently degrading.
    *
    * @return (id, span_start, span_len) — contaminated ranges,
    *   1-based char offsets, length >= k
    */
  def contaminationSpans(
      df: DataFrame,
      idCol: Column,
      textCol: Column,
      test: DataFrame,
      testTextCol: Column,
      k: Int = 20): DataFrame = {
    require(k >= 1, s"window width k must be >= 1, got $k")
    val par = df.sparkSession.sparkContext.defaultParallelism
    val testGrams = test
      .select(coalesce(testTextCol, lit("")).as("t"))
      .filter(length(col("t")) >= k)
      .select(explode(sequence(lit(1), length(col("t")) - (k - 1)))
        .as("pos"), col("t"))
      .select(md5(col("t").substr(col("pos"), lit(k)).cast("binary"))
        .as("h"))
      .distinct()
    val hits = gramPositions(df, idCol, textCol, k, par)
      .join(broadcast(testGrams), Seq("h"), "left_semi")
    mergeWindowSpans(hits, k)
  }

  /** Cut [[duplicateSpans]] spans out of the documents — the removal
    * half of the ExactSubstr pipeline (pair it with
    * `keepFirst = true` spans for the paper's "all but one
    * occurrence" semantics). Per doc: the complement segments of its
    * (non-overlapping, by construction) spans are computed with one
    * lag window over the SPAN table — rows ∝ spans, never ∝ text —
    * then one join attaches the document text and a codegen'd
    * substr/concat projection reassembles the kept characters in
    * order. Docs with no spans pass through byte-identical via the
    * left join's null arm.
    *
    * Scale shape: the span table is the small side (duplicated
    * regions, not the corpus); the only full-corpus stage is the
    * final equi-join on id, which AQE broadcast-resolves when spans
    * are few. Nothing buffers more than one doc's span list.
    *
    * @param spans (id, span_start, span_len) — 1-based, disjoint,
    *   sorted-mergeable (exactly [[duplicateSpans]]'s contract)
    * @return (id, text_clean)
    */
  def spliceSpans(
      df: DataFrame,
      idCol: Column,
      textCol: Column,
      spans: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = df.select(idCol.as("id"), coalesce(textCol, lit("")).as("t"))
    val w = Window.partitionBy("id").orderBy("s")
    // kept segment BEFORE each span: [prev span end + 1, span_start)
    val segs = spans
      .select(col("id"), col("span_start").cast("long").as("s"),
        col("span_len").cast("long").as("l"))
      .withColumn("seg_start",
        coalesce(lag(col("s") + col("l"), 1).over(w), lit(1L)))
      .withColumn("seg_len", col("s") - col("seg_start"))
    val byDoc = segs.groupBy("id").agg(
      sort_array(collect_list(struct(col("seg_start"), col("seg_len"))))
        .as("pre"),
      max(col("s") + col("l")).as("tail_from"))
    docs.join(byDoc, Seq("id"), "left")
      .select(col("id"),
        when(col("pre").isNull, col("t")).otherwise(concat(
          array_join(transform(col("pre"), seg =>
            col("t").substr(seg("seg_start").cast("int"),
              seg("seg_len").cast("int"))), ""),
          col("t").substr(col("tail_from").cast("int"), length(col("t")))))
          .as("text_clean"))
  }

  /** Positions are packed into the low 20 bits of a winnowing
    * fingerprint, hashes into the bits above — min over a window then
    * picks (smallest hash, smallest position), one comparison.
    */
  private val WinnowPosCap = 1L << 20

  /** Winnowing fingerprint selection (Schleimer, Wilkerson & Aiken 2003 —
    * the MOSS algorithm): hash every char k-gram in position order, slide
    * a `w`-hash window, keep each window's minimum (ties to the earliest
    * position), dedupe. Guarantees: any shared substring of length
    * ≥ k + w - 1 yields at least one shared selected hash, while only
    * ~2/(w+1) of gram hashes are kept — an order-of-magnitude smaller
    * posting volume than the full n-gram inverted index for the same
    * detection floor. Documents shorter than one window keep their
    * global minimum; shorter than k select nothing.
    *
    * Pure Column expressions (hash = `Hashing.md5Mod`, engine-portable),
    * packed as (hash << 20 | pos) so window-min is ONE `array_min`.
    * Position capacity is [[WinnowPosCap]] grams per document — beyond
    * that, chunk the document first. The production kernel
    * ([[winnowDocs]]) enforces the cap with a loud per-doc error; this
    * Column form does not (it is the SPECIFICATION any SQL oracle
    * mirrors, and `when`-expressible guards cannot throw) — keep inputs
    * within capacity when using it directly.
    *
    * [[winnowDocs]] is also the performance path — interpreted HOFs
    * re-evaluate the `comb` subtree per window, making this form
    * O(grams × windows) digests. WinnowSpec pins kernel == Column.
    */
  private[graft] def winnowSelect(text: Column, k: Int, w: Int): Column = {
    val comb = transform(Text.charShingles(text, k),
      (g, i) => Hashing.md5Mod(g) * WinnowPosCap + i)
    when(size(comb) >= w,
      array_distinct(transform(
        sequence(lit(0), size(comb) - w),
        s => array_min(slice(comb, s + 1, lit(w))))))
      .otherwise(when(size(comb) >= 1, array(array_min(comb)))
        .otherwise(array().cast("array<bigint>")))
  }

  /** Kernel twin of [[winnowSelect]], emitting each document's DISTINCT
    * selected hashes (positions dropped — matching keys on hash only).
    * Two reasons it exists (WinnowSpec pins kernel == Column):
    *
    *  1. The Column form's `slice(comb, …)` re-evaluates the WHOLE
    *     `comb` subtree per window — interpreted HOFs get no
    *     subexpression elimination, so the Column arm is
    *     O(grams × windows) md5 calls: a quadratic blowup that turns a
    *     300-char doc into ~600k digests. The kernel hashes each gram
    *     once.
    *  2. Window minima use a monotonic deque — O(grams) amortized
    *     total, vs O(grams × w) comparisons even for a CSE'd Column
    *     plan.
    */
  private[graft] def winnowDocs(
      df: DataFrame, idCol: Column, textCol: Column,
      k: Int, w: Int): DataFrame = {
    import org.apache.spark.sql.types._
    val par = df.sparkSession.sparkContext.defaultParallelism
    val base = df.select(idCol.as("id"), textCol.cast("string").as("__text"))
      .repartition(par, col("id"))
    val schema = StructType(Seq(
      base.schema("id"),
      StructField("fhs", ArrayType(LongType, false), false)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(schema)
    base.mapPartitions { rows =>
      val md = java.security.MessageDigest.getInstance("MD5")
      rows.flatMap { r =>
        val text = r.getString(1)
        if (text == null || text.length < k) Iterator.empty
        else {
          val n = text.length - k + 1
          // positions ride the low 20 bits: past WinnowPosCap they would
          // silently corrupt the hash field — fail loudly naming the doc
          // (the sessionize discipline); chunk oversized docs upstream
          if (n > WinnowPosCap) throw new IllegalArgumentException(
            s"winnowDocs: document ${r.get(0)} has $n grams, over the " +
              s"position capacity $WinnowPosCap — chunk it first")
          // combined (hash << 20 | pos): one digest per gram
          val comb = new Array[Long](n)
          var i = 0
          while (i < n) {
            val d = md.digest(text.substring(i, i + k).getBytes("UTF-8"))
            val v = java.nio.ByteBuffer.wrap(d, 0, 8).getLong >>> 4
            comb(i) = (v % Hashing.MinhashP) * WinnowPosCap + i
            i += 1
          }
          val sel = new java.util.LinkedHashSet[java.lang.Long]()
          if (n < w) {
            var min = comb(0); i = 1
            while (i < n) { if (comb(i) < min) min = comb(i); i += 1 }
            sel.add(min / WinnowPosCap)
          } else {
            // monotonic ascending deque of indices into comb
            val dq = new java.util.ArrayDeque[Int]()
            i = 0
            while (i < n) {
              while (!dq.isEmpty && comb(dq.peekLast) >= comb(i))
                dq.pollLast()
              dq.addLast(i)
              if (dq.peekFirst <= i - w) dq.pollFirst()
              if (i >= w - 1) sel.add(comb(dq.peekFirst) / WinnowPosCap)
              i += 1
            }
          }
          val out = new Array[Long](sel.size)
          val it = sel.iterator(); i = 0
          while (it.hasNext) { out(i) = it.next(); i += 1 }
          Iterator(org.apache.spark.sql.Row(r.get(0), out.toIndexedSeq))
        }
      }
    }(enc)
  }

  /** Near-duplicate candidate pairs by shared winnowing fingerprints:
    * (id1 < id2, n_shared) for every pair sharing at least `minShared`
    * selected hashes. The substring-level detector of the dedup family —
    * catches documents sharing long literal runs (boilerplate, quoted
    * text, plagiarized passages) that whole-document MinHash dilutes
    * below its threshold.
    *
    * Scale shape: selection is the map-only [[winnowDocs]] kernel (one
    * digest per gram, deque window minima); the posting stream is the
    * winnowed ~2/(w+1) fraction of grams; grouping is the bucket walk
    * every pair generator shares ([[graft.plans.BucketPairs]] with
    * [[graft.plans.PairCheck.EveryPair]], metric "graft.winnow") — a
    * fingerprint shared by a corpus-wide boilerplate string is exactly
    * the hot bucket the cap bounds, contributing its (min,max)
    * representative (counted as ONE shared hash) instead of a quadratic
    * pair set.
    * Mirror both arms in any oracle when the cap can bind.
    */
  def winnowPairs(
      df: DataFrame, idCol: Column, textCol: Column,
      k: Int = 20, w: Int = 8,
      minShared: Long = 2L,
      maxBucketSize: Int = 1000): DataFrame = {
    require(k >= 1 && w >= 1, s"k and w must be >= 1, got k=$k w=$w")
    val sel = winnowDocs(df, idCol, textCol, k, w)
    val buckets = sel.select(col("id"), explode(col("fhs")).as("bucket"))
    graft.plans.BucketPairs.pairs(buckets, graft.plans.PairCheck.EveryPair,
        maxBucketSize, "graft.winnow")
      .groupBy("id1", "id2")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Substring-level benchmark decontamination via winnowing — the third
    * leg of the decontamination family (exact token n-grams:
    * `Decontaminate.contamination`; embedding space:
    * `Similarity.semanticContamination`): per corpus document, the
    * fraction of its selected winnow hashes that also appear in the
    * test set. By the winnowing guarantee, any test substring of length
    * ≥ k + w - 1 quoted verbatim in a corpus document shares at least
    * one selected hash, at ~2/(w+1) of the n-gram index's posting
    * volume — quoted-benchmark leakage detection that token-gram
    * overlap pays w× more to find.
    *
    * Returns (id, n_fp, n_matched, contamination) per corpus document
    * with at least one gram; documents shorter than k select nothing
    * and are absent (undetectable at this k).
    *
    * Scale shape: the `Decontaminate` restructure — the test-side hash
    * set broadcasts (benchmarks are small by definition);
    * only HITS flow through the join and the per-doc aggregation; the
    * per-doc totals come map-side from the selection, joined back at
    * the end.
    */
  def winnowContamination(
      docs: DataFrame, docId: Column, docText: Column,
      testSet: DataFrame, testId: Column, testText: Column,
      k: Int = 20, w: Int = 8): DataFrame = {
    val d = winnowDocs(docs, docId, docText, k, w)
    val t = broadcast(winnowDocs(testSet, testId, testText, k, w)
      .select(explode(col("fhs")).as("fh")).distinct())
    val hits = d.select(col("id"), explode(col("fhs")).as("fh"))
      .join(t, "fh")
      .groupBy("id").agg(count(lit(1)).as("n_matched"))
    d.select(col("id"), size(col("fhs")).cast("long").as("n_fp"))
      .join(hits, Seq("id"), "left")
      .select(col("id"), col("n_fp"),
        coalesce(col("n_matched"), lit(0L)).as("n_matched"))
      .withColumn("contamination",
        col("n_matched").cast("double") / col("n_fp"))
  }

  /** Grade a predicted near-dup pair set against a ground-truth pair
    * set — precision/recall/F1 in exact integer basis points. The
    * dedup counterpart of [[graft.similarity.Similarity.recallAtK]]:
    * approximations (banded MinHash, SimHash radius, containment at a
    * different threshold) become MEASURABLE as first-class relational
    * results instead of anecdotes, so a pipeline can regression-gate
    * its recall the same way it gates row counts.
    *
    * Both inputs are (id1, id2) with the house id1 < id2 convention
    * (every pair emitter in this file guarantees it); rows are
    * de-duplicated defensively. tp counts the pair-set intersection;
    * fp/fn are set differences by subtraction. The bp scores are
    * integer floors (positive operands, so Spark `div` ≡ DuckDB `//`);
    * an empty prediction or truth set yields NULL for the undefined
    * ratio rather than a fake zero.
    *
    * Scale shape: two distincts + one pair-keyed join — every exchange
    * is pair-volume-bounded (the sets being graded, not the corpus);
    * the three 1-row totals attach by broadcast cross join, the house
    * totals pattern.
    */
  /** Per-document n-gram NOVELTY — the memorization-risk / curation
    * dual of the dedup family: for each document, the fraction of its
    * distinct k-char shingles that appear in NO other document
    * (corpus df = 1). A high-novelty document contributes genuinely
    * new text; a low-novelty one is assembled from corpus-common
    * fragments even when no single pair-wise near-dup exists — which
    * is exactly the case Jaccard/containment miss (many sources, each
    * below any pair threshold). The inverse signal prioritizes
    * boilerplate for removal; the forward signal weights novel docs
    * up in mixture sampling.
    *
    * Shape: the q18/q19 shingle kernel ([[shingleDocs]] — per-doc
    * DISTINCT string shingles, then md5-mod hashes, so the DuckDB
    * oracle replays bit-for-bit), explode to the (hash, id) incidence
    * stream through a SIZED exchange, then df attached as
    * `count(*) OVER (PARTITION BY g)` ON that same exchange — ONE
    * kernel pass, ONE corpus-wide exchange, NO join (round 16: the
    * previous count-then-join-back form re-ran the kernel for the
    * broadcast df branch; a sort-merge pin did NOT restore exchange
    * reuse because the df branch column-prunes to bare `g` rows —
    * GramReuseProbe measured the window form at x100: 13.1 s vs
    * 17.7 s broadcast / 18.8 s merge, shuffle 1.40 vs 2.00 GB, sigs
    * equal). Every exchanged row is a (long, long) pair — volume
    * linear in total distinct grams; the window buffers one gram's
    * occurrence list at a time (spills past memory, never collects
    * corpus-wide). Known trade: a MEGA-df boilerplate gram (present
    * in a large fraction of all docs) makes its window group one
    * slow spilling task — the count-aggregate form never buffered,
    * but paid the kernel twice; on corpora dominated by such grams,
    * strip boilerplate first (lineLevelDedup / the C4 rules) — df=1
    * novelty is meaningless under that skew anyway. Sizing follows the ngramPairCounts contract:
    * `charsHint` (any magnitude-right upper bound; the pruned
    * n_chars metadata sum is the cheap source) pins the sizing;
    * unset, plan statistics size it with NO Spark job
    * ([[graft.ops.Sizing.charsEstimate]]), length-sum fallback only
    * on a size-less plan. The unsized 32-partition form measured
    * DEGRADING run-over-run at the docs x100 rung (18 → 53 s across
    * three iterations — per-task sort state at the heap edge); sized,
    * it holds steady.
    *
    * @return (id, n_shingles, n_novel, novelty_fx) with novelty_fx =
    *   n_novel·2^20 div n_shingles (exact fixed point, floor)
    */
  def ngramNovelty(
      df: DataFrame,
      idCol: Column,
      textCol: Column,
      shingleK: Int = 8,
      charsHint: Long = -1L): DataFrame = {
    require(shingleK >= 2, s"shingleK must be >= 2, got $shingleK")
    val par = df.sparkSession.sparkContext.defaultParallelism
    val totalChars =
      if (charsHint >= 0) charsHint
      // plan statistics first (no Spark job — the minhashLsh sizing
      // contract); the pruned length-sum only as last resort
      else graft.ops.Sizing.charsEstimate(df).getOrElse(
        df.agg(coalesce(sum(length(coalesce(textCol, lit("")))), lit(0L))
          .cast("long")).head.getLong(0))
    val parts = graft.ops.Sizing.groupingPartitions(
      totalChars, 24L, par, targetBytesPerTask = 64L << 20)
    val grams = shingleDocs(df, idCol, textCol, shingleK)
      .select(col("id"), explode(col("vms")).as("g"))
      .repartition(parts, col("g"))
    // vms is per-doc distinct, so count(*) per hash IS the document
    // frequency — no pre-distinct pass needed; the window/grouping
    // rides the repartition's partitioning (no second exchange)
    grams
      .withColumn("df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("g")))
      .groupBy("id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("df") === 1L, 1L).otherwise(0L)).as("n_novel"))
      .select(col("id"), col("n_shingles"), col("n_novel"),
        expr("(n_novel * 1048576L) div n_shingles").as("novelty_fx"))
  }

  /** IDF-WEIGHTED n-gram Jaccard near-dup pairs — [[ngramJaccard]]
    * where every shingle counts by its rarity instead of 1:
    *
    *   J_w(A,B) = Σ_{g∈A∩B} w(g) / Σ_{g∈A∪B} w(g),
    *   w(g) = ilog2Fx(N) − ilog2Fx(df(g))   (exact fixed-point
    *   log2(N/df) up to two engine-identical floors)
    *
    * The plain Jaccard treats "the quick brown fox" and a shared rare
    * passage as equal evidence; the weighted form makes two docs
    * sharing RARE content score high even when their boilerplate
    * differs, and two docs sharing only ubiquitous fragments score
    * near zero (df = N ⇒ w = 0 exactly). The df > maxDf window drops
    * ubiquitous grams entirely — the same recall trade as
    * [[ngramJaccard]], and principled here: past the window the idf
    * weight is near floor anyway. Weights and totals live in the
    * df-FILTERED shingle space (mirror the HAVING in any oracle).
    *
    * Shape: the q19 grouped inverted index (sized exchange, capped
    * collect, df window), then the ≤ df²/2 pair emission carries ONE
    * weight long per pair — the df→ilog2Fx(df) half of the dictionary
    * is ≤ maxDf driver-side rows from the pure
    * [[graft.functions.Dsir.ilog2Fx]] kernel (no data needed), and
    * the ilog2Fx(N) term arrives as a 1-row broadcast from an IN-PLAN
    * pruned count aggregate — NO Spark job runs at plan-build time
    * (the minhashLsh sizing contract; the N ≥ 1 domain guard fires at
    * execution). Pair rows and per-doc total rows emit in the SAME
    * pass over the grouped table (doc totals ride as (id, NULL) — the
    * ngramPairCounts unified-emission shape; round 16: the separate
    * branches re-ran the kernel+grouping three times), land in one
    * candidate-volume-sized aggregation, and the small unified result
    * is cached for the pair/total split. The only corpus-wide
    * exchange is the gram grouping.
    *
    * @return (id1, id2, inter_w, w1, w2, wjaccard) for pairs with
    *   wjaccard ≥ threshold; inter_w/w1/w2 are exact 2^20 fixed point,
    *   wjaccard is their engine-identical double division
    */
  def ngramWeightedJaccard(
      df: DataFrame,
      idCol: Column,
      textCol: Column,
      shingleK: Int = 8,
      threshold: Double = 0.3,
      maxDf: Int = 100,
      charsHint: Long = -1L): DataFrame = {
    require(shingleK >= 2, s"shingleK must be >= 2, got $shingleK")
    require(maxDf >= 2, s"maxDf must be >= 2, got $maxDf")
    require(threshold >= 0.0 && threshold <= 1.0,
      s"threshold must be in [0,1], got $threshold")
    val spark = df.sparkSession
    val par = spark.sparkContext.defaultParallelism
    val totalChars =
      if (charsHint >= 0) charsHint
      // plan statistics first (no Spark job — the minhashLsh sizing
      // contract); the pruned length-sum only as last resort
      else graft.ops.Sizing.charsEstimate(df).getOrElse(
        df.agg(coalesce(sum(length(coalesce(textCol, lit("")))), lit(0L))
          .cast("long")).head.getLong(0))
    val parts = graft.ops.Sizing.groupingPartitions(
      totalChars, 24L, par, targetBytesPerTask = 64L << 20)
    // N = docs that contribute shingles (the kernel's own domain).
    // IN-PLAN, not a driver count (the minhashLsh no-job-at-plan-build
    // contract): a 1-row pruned aggregate carries ilog2Fx(N) through a
    // typed map, and the <= maxDf df->weight dictionary (a pure
    // driver-side table — ilog2Fx needs no data) picks it up via a
    // 1-row broadcast cross join. The domain guard (N >= 1) moves to
    // execution time — still loud, now a task failure with the same
    // message instead of a plan-build require.
    import spark.implicits._
    val lNDf = df
      .filter(textCol.isNotNull && length(textCol) >= shingleK)
      .agg(count(lit(1)).as("n")).as[Long]
      .map { n =>
        if (n < 1) throw new IllegalArgumentException(
          s"ngramWeightedJaccard: no document reaches shingleK=$shingleK")
        graft.functions.Dsir.ilog2Fx(n)
      }.toDF("lN")
    val wdf = (1 to maxDf)
      .map(d => (d.toLong, graft.functions.Dsir.ilog2Fx(d.toLong)))
      .toDF("df", "ldf")
      .crossJoin(broadcast(lNDf))
      .select(col("df"), (col("lN") - col("ldf")).as("w"))
    val grams = shingleDocs(df, idCol, textCol, shingleK)
      .select(col("id"), explode(col("vms")).as("sh"))
      .repartition(parts, col("sh"))
    val groups = grams.groupBy("sh")
      .agg(call_function("collect_list_capped",
        col("id"), lit(maxDf)).as("ids"), count(lit(1)).as("df"))
      .filter(col("df") <= maxDf) // surviving lists are complete
      .join(broadcast(wdf), Seq("df"))
    // pairs AND per-doc totals from ONE pass over the grouped table
    // (the ngramPairCounts unified-emission shape — round 16: the
    // separate pairsW/docW branches re-ran the kernel+grouping three
    // times, GramReuseProbe measured it): doc-total rows ride along
    // as (id, NULL) — `IF(false, x, NULL)` types the NULL from the id
    // element itself, so the emission stays generic over id types.
    val emitExpr = explode(expr(
      """concat(
           flatten(transform(ids, x ->
             filter(transform(ids, y ->
               IF(x < y, struct(x AS id1, y AS id2), NULL)),
             z -> z IS NOT NULL))),
           transform(ids, x ->
             struct(x AS id1, IF(false, x, NULL) AS id2)))""")).as("e")
    val unified = groups
      .select(emitExpr, col("w").as("__w"))
      .select(col("e.id1").as("id1"), col("e.id2").as("id2"), col("__w"))
      .repartition(parts, col("id1"), col("id2"))
      .groupBy("id1", "id2").agg(sum(col("__w")).as("w"))
      .cache() // small: one row per co-occurring pair + one per doc
    val pairsW = unified.filter(col("id2").isNotNull)
      .select(col("id1"), col("id2"), col("w").as("inter_w"))
    val docW = unified.filter(col("id2").isNull)
      .select(col("id1").as("id"), col("w").as("tw"))
    pairsW
      .join(docW.select(col("id").as("id1"), col("tw").as("w1")), Seq("id1"))
      .join(docW.select(col("id").as("id2"), col("tw").as("w2")), Seq("id2"))
      .withColumn("__den", col("w1") + col("w2") - col("inter_w"))
      .filter(col("__den") > 0L)
      .withColumn("wjaccard",
        col("inter_w").cast("double") / col("__den").cast("double"))
      .filter(col("wjaccard") >= threshold)
      .select("id1", "id2", "inter_w", "w1", "w2", "wjaccard")
  }

  def gradePairs(pred: DataFrame, truth: DataFrame): DataFrame = {
    // Each side feeds TWO consumers (the tp join + its own count);
    // without an eager cut the upstream candidate pipeline is PLANNED
    // once per consumer (q139 carried both dedup pipelines' subtrees
    // twice — 57-Exchange plan) and re-executes wherever the operator
    // lacks an internal cache. GradeABProbe (same-JVM interleaved,
    // round 17) measured sf0.1 a WASH (A uncut 4.34 s vs B cut
    // 4.33 s medians, arms hash-equal) because q18/q19's internal
    // caches absorb most of the duplication at working-set scale; the
    // cut is kept for the structural guarantee — each pipeline runs
    // exactly once whatever the upstream is, and the pair tables are
    // candidate-volume-sized (bounded by the upstream caps).
    val p = pred.select(col("id1"), col("id2")).distinct().localCheckpoint()
    val t = truth.select(col("id1"), col("id2")).distinct().localCheckpoint()
    val tp = p.join(t, Seq("id1", "id2")).agg(count(lit(1)).as("tp"))
    val np = p.agg(count(lit(1)).as("n_pred"))
    val nt = t.agg(count(lit(1)).as("n_truth"))
    tp.crossJoin(broadcast(np)).crossJoin(broadcast(nt))
      .select(col("n_pred"), col("n_truth"), col("tp"),
        (col("n_pred") - col("tp")).as("fp"),
        (col("n_truth") - col("tp")).as("fn"),
        expr("CASE WHEN n_pred > 0 THEN (tp * 10000) div n_pred END")
          .as("precision_bp"),
        expr("CASE WHEN n_truth > 0 THEN (tp * 10000) div n_truth END")
          .as("recall_bp"),
        expr("CASE WHEN n_pred + n_truth > 0 THEN (2 * tp * 10000) div (n_pred + n_truth) END")
          .as("f1_bp"))
  }

  /** Sorted-neighborhood candidate pairs (Hernández & Stolfo 1997's
    * SNM, the record-linkage classic): sort the corpus by a blocking
    * KEY, pair each row with its next `window` neighbors in that
    * global order. The blocking family's third shape next to hashing
    * (LSH buckets) and banding: where bucket blocking needs equal
    * keys, the sorted neighborhood catches near-MISSES of the key
    * itself (typos in a name, a shifted prefix) as long as they sort
    * nearby — at the cost that candidate volume is EXACTLY n·window,
    * data-independent (no hot-bucket bombs, no caps needed).
    *
    * Total order = (key, id) — ties cannot reorder between engines
    * (an oracle replays it as ORDER BY key, id; keys must not
    * contain U+0000, the internal order-encoding separator —
    * enforced with raise_error, never a silent reorder). Verification is the
    * caller's: this emits the candidate pairs with both keys and the
    * rank gap; compose with a similarity predicate (levenshtein,
    * shingle Jaccard) for the near-dup decision.
    *
    * Shape: global ranks through [[graft.ops.Prefix.runningTotal]]'s
    * two-pass RANGE exchange (never a one-partition window), a
    * window-fold explode (n·window narrow rows), one rank-keyed
    * equi-join. Nothing buffers a block; skew-free by construction
    * (ranks are unique).
    *
    * @param idCol non-negative long id (fixed-width order encoding,
    *   the spearman convention)
    * @return (id1, id2, key1, key2, gap) — id1 sorts before id2,
    *   gap = rank distance in [1, window]
    */
  def sortedNeighborhoodPairs(
      df: DataFrame,
      idCol: Column,
      keyCol: Column,
      window: Int = 5): DataFrame = {
    require(window >= 1 && window <= 1000,
      s"window must be in [1, 1000], got $window")
    val base = df.select(idCol.cast("long").as("id"),
        keyCol.cast("string").as("k"))
      .filter(col("id").isNotNull && col("k").isNotNull)
      .withColumn("id", when(col("id") >= 0, col("id"))
        .otherwise(raise_error(concat(
          lit("sortedNeighborhoodPairs ids must be non-negative, got "),
          col("id")))))
      // loud, not silent: a key containing the order-encoding
      // separator would sort differently in the encoded order than
      // under the oracle's plain ORDER BY key, id
      .withColumn("k", when(!col("k").contains("\u0000"), col("k"))
        .otherwise(raise_error(concat(
          lit("sortedNeighborhoodPairs keys must not contain U+0000 " +
            "(the order-encoding separator), got "), col("k")))))
      .withColumn("__one", lit(1L))
      // (key, id) lexicographic total order: NUL separates so a key
      // that is a strict prefix of another sorts first, and the
      // fixed-width id tail breaks key ties deterministically
      .withColumn("__ord",
        concat(col("k"), lit("\u0000"), format_string("%019d", col("id"))))
    val ranked = graft.ops.Prefix.runningTotal(base,
        orderCol = "__ord", valueCol = "__one", outCol = "rank")
      .select(col("id"), col("k"), col("rank"))
    val probes = ranked
      .withColumn("gap", explode(sequence(lit(1L), lit(window.toLong))))
      .select(col("id").as("id1"), col("k").as("key1"),
        (col("rank") + col("gap")).as("rank"), col("gap"))
    probes.join(
        ranked.select(col("id").as("id2"), col("k").as("key2"),
          col("rank")),
        Seq("rank"))
      .select(col("id1"), col("id2"), col("key1"), col("key2"),
        col("gap"))
  }

  /** FREQUENCY-WEIGHTED record-linkage scores over the sorted
    * neighborhood — the Fellegi–Sunter idea with the deterministic,
    * replayable weight the literature's EM step cannot give:
    * agreeing on a RARE field value is strong evidence, agreeing on
    * a common one is weak, so an agreeing field contributes
    *
    *   w_fx = ilog2Fx( max(1, N div f(v)) )          (2^20 scale)
    *
    * — the self-information of the shared value (N corpus rows,
    * f(v) the value's frequency; a field where everyone agrees
    * scores 0 by construction). Candidates come from
    * [[sortedNeighborhoodPairs]] on the blocking key; the score is
    * the sum over agreeing fields (NULL never agrees), n_agree
    * counts them.
    *
    * Scale shape: candidate volume is SNM's exact n·window; field
    * values ride two id-keyed joins onto the pairs; each field's
    * weight dictionary is its value-distinct count — LOUD ≤ 2^16 cap
    * per field (linkage fields are categorical; free text belongs in
    * the key, not here) so every dictionary broadcasts, with the
    * exact log kernel a typed map over the dictionary only.
    * Parallelism source: the SNM range exchange and the id-keyed
    * joins.
    *
    * @param fields (name, column) categorical agreement fields
    * @return (id1, id2, gap, n_agree, score_fx), score_fx >= minScoreFx
    */
  def frequencyWeightedLinkage(
      df: DataFrame,
      idCol: Column,
      keyCol: Column,
      fields: Seq[(String, Column)],
      window: Int = 5,
      minScoreFx: Long = 1L,
      maxDistinct: Int = 1 << 16): DataFrame = {
    require(fields.nonEmpty, "frequencyWeightedLinkage needs >= 1 field")
    require(fields.map(_._1).distinct.size == fields.size,
      s"duplicate field names: ${fields.map(_._1)}")
    val spark = df.sparkSession
    val base = df.select((idCol.cast("long").as("id") +:
        keyCol.cast("string").as("k") +:
        fields.map { case (n, c) => c.cast("string").as(s"f_$n") }): _*)
      .filter(col("id").isNotNull && col("k").isNotNull)
      .localCheckpoint(true)
    val n1 = base.agg(count(lit(1)).as("N")).localCheckpoint(true)
    // per-field weight dictionary: (value, w_fx), value-distinct-sized,
    // loudly capped, exact log kernel over the dictionary only
    val dicts: Map[String, DataFrame] = fields.map { case (name, _) =>
      val freq = base.filter(col(s"f_$name").isNotNull)
        .groupBy(col(s"f_$name").as("v"))
        .agg(count(lit(1)).as("f"))
      val capped = freq.crossJoin(broadcast(n1))
        .withColumn("__nd", count(lit(1))
          .over(org.apache.spark.sql.expressions.Window
            .partitionBy(lit(1))))
        .withColumn("__nd", when(col("__nd") <= maxDistinct, col("__nd"))
          .otherwise(raise_error(concat(lit(
            s"frequencyWeightedLinkage field $name distinct cap " +
            s"$maxDistinct exceeded (categorical fields only), got "),
            col("__nd")))))
        .withColumn("q", expr("greatest(1L, N div f)"))
        .select(col("v"), col("q"))
      import org.apache.spark.sql.types._
      val schema = StructType(Seq(capped.schema("v"),
        StructField("w_fx", LongType, false)))
      val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
        .encoderFor(schema)
      name -> capped.mapPartitions { rows =>
        rows.map { r =>
          org.apache.spark.sql.Row(r.getString(0),
            graft.functions.Dsir.ilog2Fx(r.getLong(1)))
        }
      }(enc).localCheckpoint(true)
    }.toMap
    val pairs = sortedNeighborhoodPairs(base, col("id"), col("k"), window)
      .select(col("id1"), col("id2"), col("gap"))
    val fcols = fields.map { case (n, _) => s"f_$n" }
    val withF = pairs
      .join(base.select((col("id").as("id1") +:
        fcols.map(c => col(c).as(s"${c}_1"))): _*), Seq("id1"))
      .join(base.select((col("id").as("id2") +:
        fcols.map(c => col(c).as(s"${c}_2"))): _*), Seq("id2"))
    val scored = fields.foldLeft(withF) { case (acc, (name, _)) =>
      val d = dicts(name)
        .select(col("v").as(s"__v_$name"), col("w_fx").as(s"__w_$name"))
      acc.join(broadcast(d),
          acc(s"f_${name}_1") === d(s"__v_$name") &&
          acc(s"f_${name}_2") === d(s"__v_$name"), "left")
        .drop(s"__v_$name")
    }
    val wCols = fields.map { case (n, _) => coalesce(col(s"__w_$n"), lit(0L)) }
    val aCols = fields.map { case (n, _) =>
      when(col(s"__w_$n").isNotNull, 1L).otherwise(0L) }
    scored
      .withColumn("score_fx", wCols.reduce(_ + _))
      .withColumn("n_agree", aCols.reduce(_ + _))
      .filter(col("score_fx") >= minScoreFx)
      .select(col("id1"), col("id2"), col("gap"), col("n_agree"),
        col("score_fx"))
  }

  /** SURVIVORSHIP — the canonical-record election that finishes the
    * entity-resolution chain (blocking → linkage →
    * [[Components.connectedComponents]] → THIS): per duplicate
    * cluster, each field independently takes its MODAL value with a
    * total tie order (count DESC, value ASC), the master-data
    * "majority vote" rule — deterministic, so two runs (or two
    * engines) elect identical masters. NULLs never vote; a field
    * whose cluster is all-NULL survives as NULL (the honest answer).
    * The canonical id is the cluster's smallest member id — stable
    * under member reordering and the convention components already
    * uses for cluster labels.
    *
    * Scale shape: one melt (member × field rows), one
    * (cluster, field, value) count, the per-(cluster, field) modal
    * pick through a max_by-style struct aggregate (ordered struct
    * comparison — no rank window), one pivot-back via conditional
    * aggregation over the FIXED field list. Every exchange is keyed
    * by cluster; nothing buffers a cluster in memory beyond its
    * distinct (field, value) cells. Parallelism source: the
    * cluster-keyed counts.
    *
    * @param clusters (idCol → clusterCol) membership, e.g.
    *   connectedComponents output
    * @param records (idCol, fields...) source records
    * @param fields (name, column) fields to elect
    * @return (cluster, canonical_id, n_members, <name>... elected
    *   values as strings)
    */
  def survivorship(
      clusters: DataFrame,
      records: DataFrame,
      clusterIdCol: Column,
      clusterLabelCol: Column,
      recordIdCol: Column,
      fields: Seq[(String, Column)]): DataFrame = {
    require(fields.nonEmpty, "survivorship needs >= 1 field")
    require(fields.map(_._1).distinct.size == fields.size,
      s"duplicate field names: ${fields.map(_._1)}")
    val mem = clusters.select(clusterIdCol.cast("long").as("id"),
        clusterLabelCol.cast("long").as("cl"))
      .filter(col("id").isNotNull && col("cl").isNotNull)
    val rec = records.select((recordIdCol.cast("long").as("rid") +:
      fields.map { case (n, c) => c.cast("string").as(s"f_$n") }): _*)
    val joined = mem.join(rec, col("id") === col("rid"))
      .localCheckpoint(true)
    val head = joined.groupBy(col("cl"))
      .agg(min(col("id")).as("canonical_id"),
        count(lit(1)).as("n_members"))
    // melt to (cl, field, value); NULLs never vote
    val melted = fields.map { case (n, _) =>
      joined.select(col("cl"), lit(n).as("fld"),
        col(s"f_$n").as("v")).filter(col("v").isNotNull)
    }.reduce(_ unionAll _)
    // modal value per (cl, field) with the (count DESC, value ASC)
    // tie order, as two cell-sized aggregations — max count, then
    // min value among the tied — no rank window, no fragile
    // order-inversion encodings
    val counted = melted.groupBy("cl", "fld", "v")
      .agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    val cmax = counted.groupBy(col("cl").as("__cl"), col("fld").as("__fld"))
      .agg(max(col("c")).as("__cmax"))
    // (cluster × field)-sized on both sides — a cluster-keyed shuffle
    // join, deliberately NOT broadcast (clusters scale with the corpus)
    val elected = counted.join(cmax,
        col("cl") === col("__cl") && col("fld") === col("__fld") &&
        col("c") === col("__cmax"))
      .groupBy("cl", "fld")
      .agg(min(col("v")).as("win"))
    // pivot back over the FIXED field list in ONE conditional
    // aggregation (never a per-field join chain), then a single
    // cluster-keyed join onto the head
    val aggs = fields.map { case (n, _) =>
      max(when(col("fld") === n, col("win"))).as(n) }
    val wide = elected.groupBy(col("cl").as("__cl"))
      .agg(aggs.head, aggs.tail: _*)
    head.join(wide, col("cl") === col("__cl"), "left")
      .select((col("cl").as("cluster") +:
        col("canonical_id") +: col("n_members") +:
        fields.map { case (n, _) => col(n) }): _*)
  }
}
