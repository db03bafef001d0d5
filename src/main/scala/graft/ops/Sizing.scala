package graft.ops

/** Corpus-aware default sizing for the banded/bucketed candidate
  * generators — the round-7 scale-ladder lessons turned into code.
  *
  * Why this exists: a banded sketch's scale ceiling is structural, not
  * data-dependent. Each hyperplane-LSH table has 2^bits buckets, so
  * RANDOM co-bucketing alone contributes ~tables*n^2/2^(bits+1)
  * candidate pairs whatever the data looks like; the round-7 ladder
  * measured the old fixed 6-bit default at scaling exponent ~1.5 by
  * 20k vectors, and the fixed 8-bit simhash band at ~1.5 by 50k docs
  * (NOTES.md "Scale ladder (round 7)"). Both fixes were the same move:
  * re-derive the width from log2(corpus), not from the test fixture.
  * These helpers make that derivation the DEFAULT, so the next corpus
  * at a new scale does not have to rediscover the knob: callers pass
  * `Sizing.Auto` (the parameter default) and the operator sizes itself
  * from a cheap corpus count; oracle/bench queries keep pinning
  * explicit values, so published results never shift under them.
  *
  * The same input-derived rule sizes partition counts: the grouping
  * shuffles of the pair and n-gram kernels ([[groupingPartitions]])
  * and the stateful width of every catalog stream
  * (`SparkEntry.runStream`, from [[streamSourceBytes]] through
  * [[streamWidth]]).
  *
  * All rules are pure integer arithmetic on an APPROXIMATE count —
  * sizing needs the right power of two, so a count that is off by 2x
  * moves the answer by at most one bit.
  */
object Sizing {

  /** Sentinel default for auto-sized Int parameters ("derive from the
    * corpus"). Negative so no explicit legal value collides with it. */
  val Auto: Int = -1

  /** Best-effort row-count estimate from Catalyst plan statistics —
    * NO Spark job. Prefers the plan's own `rowCount` (present for
    * cached relations and CBO-analyzed tables), else divides the
    * plan's `sizeInBytes` (for a parquet scan: the compressed file
    * bytes, known from the driver-side file listing) by
    * `assumedBytesPerRow`. Returns None when the plan carries no
    * usable size (e.g. a pure LocalRelation after pruning, or the
    * unknown-size sentinel) — callers fall back to a count() job.
    *
    * For SIZING consumers only (partition counts, band widths): the
    * bytes-derived arm is magnitude-accurate, not exact — a corpus of
    * unusually large rows underestimates partition counts by the same
    * factor, so pick `assumedBytesPerRow` at or BELOW the plausible
    * per-row floor (over-estimating rows over-partitions, the safe
    * direction for memory-bounded groupings). */
  def planRowsEstimate(df: org.apache.spark.sql.DataFrame,
      assumedBytesPerRow: Long = 256L): Option[Long] = {
    require(assumedBytesPerRow >= 1,
      s"assumedBytesPerRow $assumedBytesPerRow")
    val stats = df.queryExecution.optimizedPlan.stats
    stats.rowCount.map(_.toLong).orElse {
      val sz = stats.sizeInBytes
      // sizeInBytes unknown ⇒ Spark plugs in defaultSizeInBytes
      // (Long.MaxValue by default) — treat anything astronomically
      // large as "unknown", not as a 2^53-row corpus.
      if (sz <= 0 || sz >= BigInt(1L << 50)) None
      else Some(math.max(1L, (sz / assumedBytesPerRow).toLong))
    }
  }

  /** EXACT row-count UPPER BOUND from parquet FOOTERS — still a
    * driver-side metadata read, NO Spark job: when every leaf of the
    * optimized plan is a parquet V1 relation and every node above the
    * leaves is row-preserving or row-reducing (project/filter/union/
    * aggregate/limit/sort/repartition), the sum of footer record
    * counts bounds the plan's rows from above.
    *
    * Why next to [[planRowsEstimate]]: the bytes arm divides the
    * SOURCE's sizeInBytes by an assumed row width, and Catalyst's
    * default-width column scaling cannot see that a narrow projection
    * DERIVES from a wide column — a 2-column `get_json_object`
    * projection over a json-blob table keeps the blob's bytes, so
    * bytes/8 overshoots rows ~50x and the derived partition count
    * with it (the q171 regression, round 16). Footers count ROWS —
    * immune to row width, exact for the scan, an over-count only by
    * the filters above it (the safe direction for memory sizing).
    *
    * Returns None — callers fall back to the bytes arm — when a leaf
    * is not parquet V1, any node could EXPAND rows (join, generate/
    * explode), or the listing exceeds `maxFooterFiles` (each footer
    * is one driver IO round-trip; past a few hundred files the bytes
    * arm is cheaper than the metadata sweep).
    */
  def parquetRowsUpperBound(df: org.apache.spark.sql.DataFrame,
      maxFooterFiles: Int = 256): Option[Long] = {
    import org.apache.spark.sql.catalyst.plans.logical._
    import org.apache.spark.sql.execution.datasources.{
      HadoopFsRelation, LogicalRelation}
    import org.apache.spark.sql.execution.datasources.parquet.
      ParquetFileFormat
    require(maxFooterFiles >= 1, s"maxFooterFiles $maxFooterFiles")
    val plan = df.queryExecution.optimizedPlan
    val safe = plan.collect {
      case p @ (_: Project | _: Filter | _: SubqueryAlias | _: Union |
          _: Distinct | _: Aggregate | _: GlobalLimit | _: LocalLimit |
          _: Sort | _: RepartitionOperation | _: LogicalRelation) => p
    }.size == plan.collect { case p => p }.size
    if (!safe) return None
    val leaves = plan.collectLeaves()
    val conf = df.sparkSession.sessionState.newHadoopConf()
    val perLeaf: Seq[Option[Long]] = leaves.map {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation
            if fs.fileFormat.isInstanceOf[ParquetFileFormat] =>
          val files = fs.location.inputFiles
          if (files.length > maxFooterFiles) None
          else Some(files.map { f =>
            val in = org.apache.parquet.hadoop.util.HadoopInputFile
              .fromPath(new org.apache.hadoop.fs.Path(f), conf)
            val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
            try r.getRecordCount finally r.close()
          }.sum)
        case _ => None
      }
      case _ => None
    }
    if (perLeaf.forall(_.isDefined)) Some(perLeaf.flatten.sum) else None
  }

  /** Best-effort TOTAL-CHARACTER estimate for a text relation from
    * Catalyst plan statistics — NO Spark job; [[planRowsEstimate]]'s
    * sibling for char-volume sizing (the n-gram kernels' gram streams
    * are O(total chars) rows, so their exchange widths size from
    * chars, not rows). Uses the optimized plan's `sizeInBytes` (for a
    * parquet scan: compressed file bytes from the driver-side file
    * listing) times `charsPerByte`: parquet compresses natural text
    * ~2-4x, so 3 is a magnitude-right UPPER bound for text-dominated
    * relations — and over-estimating chars over-partitions, the safe
    * direction for memory-bounded gram groupings (the
    * assumedBytesPerRow reasoning, mirrored). Returns None when the
    * plan carries no usable size (unknown-size sentinel, empty local
    * relation) — callers fall back to the pruned length-sum job.
    *
    * For SIZING consumers only: a relation whose bytes are mostly
    * NON-text columns over-estimates text chars — more partitions
    * than needed, never fewer than the data could fill. */
  def charsEstimate(df: org.apache.spark.sql.DataFrame,
      charsPerByte: Long = 3L): Option[Long] = {
    require(charsPerByte >= 1, s"charsPerByte $charsPerByte")
    val sz = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (sz <= 0 || sz >= BigInt(1L << 50)) None
    else Some(math.max(1L, (sz * charsPerByte).toLong))
  }

  /** ceil(log2(n)) for n >= 1; 0 for n <= 1. */
  def log2Ceil(n: Long): Int = {
    require(n >= 0, s"log2Ceil of negative $n")
    if (n <= 1L) 0 else 64 - java.lang.Long.numberOfLeadingZeros(n - 1L)
  }

  /** Hyperplane-LSH signature width for an `approxCorpus`-vector table:
    * smallest `bits` with 2^bits >= corpus / targetBucketSize, clamped
    * to [8, 24]. Expected RANDOM bucket population is then at most
    * ~targetBucketSize, so the pair stage's random-collision term is
    * ~tables * n * targetBucketSize / 2 — linear in n. The floor keeps
    * tiny fixtures from degenerating to 1-bucket tables; the cap stops
    * signature cost growth where buckets are already single-digit
    * (2^24 buckets holds a 250M-vector table at the default target).
    * At the round-7 knee point (20k vectors) this yields 11 bits —
    * past the measured 6-bit knee without hand-tuning. */
  def lshBits(approxCorpus: Long, targetBucketSize: Int = 16): Int = {
    require(targetBucketSize >= 1, s"targetBucketSize $targetBucketSize")
    val raw = log2Ceil(math.max(1L, approxCorpus / targetBucketSize))
    math.min(24, math.max(8, raw))
  }

  /** Table count recovering `targetRecall` at cosine `threshold` for a
    * given signature width: hyperplane LSH collides a pair on one bit
    * with p = 1 - acos(threshold)/pi, on a whole table with p^bits, and
    * misses all `tables` tables with (1-p^bits)^tables — solve for the
    * smallest integer tables with miss <= 1-targetRecall, clamped to
    * [2, 64]. This is the other half of the (bits, tables) trade: wider
    * tables (from [[lshBits]]) cost recall, and recall is bought back
    * with MORE tables, never wider buckets. */
  def lshTables(bits: Int, threshold: Double,
      targetRecall: Double = 0.9): Int = {
    require(bits >= 1 && targetRecall > 0.0 && targetRecall < 1.0,
      s"lshTables($bits, $threshold, $targetRecall)")
    // Cosine thresholds live in [-1, 1]; the endpoints are legal
    // degenerate cases (exact-duplicate / keep-everything), so clamp
    // rather than crash — acos is defined on the closed interval.
    val t = math.max(-1.0, math.min(1.0, threshold))
    val p = 1.0 - math.acos(t) / math.Pi
    val pTable = math.pow(p, bits.toDouble)
    if (pTable <= 0.0) 64
    else if (pTable >= 1.0) 2 // threshold 1: any table catches the pair
    else {
      val t = math.log(1.0 - targetRecall) / math.log1p(-pTable)
      math.min(64, math.max(2, math.ceil(t).toInt))
    }
  }

  /** Partition count for a payload-carrying grouping shuffle: enough
    * partitions that one task's post-shuffle aggregation state —
    * `rows/partitions` deserialized rows at `bytesPerRow` — fits a
    * `targetBytesPerTask` budget, floored at the session parallelism.
    *
    * Why this exists (round 13): the in-group near-dup verify ships
    * tables×n WIDE member rows (id + dim-float vector) into a
    * per-bucket object aggregation. With the partition count pinned to
    * the session default (32 on the bench box), per-task state grows
    * LINEARLY with corpus size — the x300 embeddings rung (37M banded
    * rows, ~840 B deserialized each) put ~1 GB of aggregation objects
    * on every task: OOM at 16 g, and a 23× wall-clock blowup for 3×
    * data at 48 g (GC thrash + sort-fallback spill), measured with the
    * stage ladder. On a cluster the same applies per executor core —
    * partitions must be sized from BYTES, not core count. `bytesPerRow`
    * should estimate the DESERIALIZED (object) form; ~3× the encoded
    * width is an honest default for small structs. Capped at 2^18
    * partitions (a 32 TB grouping at the default budget) — past that,
    * revisit the budget rather than drown the scheduler. */
  def groupingPartitions(rows: Long, bytesPerRow: Long, floor: Int,
      targetBytesPerTask: Long = 128L << 20): Int = {
    require(rows >= 0 && bytesPerRow > 0 && floor >= 1 &&
      targetBytesPerTask > 0,
      s"groupingPartitions($rows, $bytesPerRow, $floor, $targetBytesPerTask)")
    val need = math.ceil(
      rows.toDouble * bytesPerRow / targetBytesPerTask).toLong
    math.max(floor, math.min(need, 1L << 18).toInt)
  }

  /** On-disk bytes of a streaming Dataset's file sources — NO Spark
    * job, one driver-side listing per source path: the sum over the
    * plan's `StreamingRelation` leaves of the data files under each
    * source path (globs expanded; names starting with `_` or `.`
    * skipped, as the file source's own listing skips them). Static
    * leaves (the dimension side of a stream-static join) are not
    * counted: they hold no streaming state. Returns None — callers run
    * at the session width — when the Dataset is not streaming or any
    * streaming leaf is not a path-backed file source (a `MemoryStream`,
    * Kafka, a rate source): its size is unknown, and an unknown share
    * of the input must not shrink the width. */
  def streamSourceBytes(df: org.apache.spark.sql.Dataset[_]): Option[Long] = {
    import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
    import org.apache.spark.sql.execution.datasources.FileFormat
    import org.apache.spark.sql.execution.streaming.runtime.StreamingRelation
    val leaves = df.queryExecution.analyzed.collectLeaves().filter(_.isStreaming)
    val conf = df.sparkSession.sessionState.newHadoopConf()
    def hidden(p: Path) = p.getName.startsWith("_") || p.getName.startsWith(".")
    def bytes(fs: FileSystem, st: FileStatus): Long =
      if (!st.isDirectory) st.getLen
      else fs.listStatus(st.getPath).filterNot(c => hidden(c.getPath))
        .map(bytes(fs, _)).sum
    val perLeaf = leaves.map {
      case r: StreamingRelation
          if classOf[FileFormat].isAssignableFrom(r.dataSource.providingClass) =>
        val paths = r.dataSource.paths ++ r.dataSource.options.get("path")
        if (paths.isEmpty) None
        else Some(paths.map { p =>
          val path = new Path(p)
          val fs = path.getFileSystem(conf)
          Option(fs.globStatus(path)).toSeq.flatten.map(bytes(fs, _)).sum
        }.sum)
      case _ => None
    }
    if (perLeaf.nonEmpty && perLeaf.forall(_.isDefined))
      Some(perLeaf.flatten.sum)
    else None
  }

  /** Shuffle width of a streaming query's stateful operators, from its
    * sources' on-disk bytes ([[streamSourceBytes]]): the
    * [[groupingPartitions]] rule at 8 state bytes per source byte,
    * floored at 1 and clamped to `sessionWidth` (the
    * session's `spark.sql.shuffle.partitions`); unknown bytes run at
    * `sessionWidth`. With nothing evicted (an effectively infinite
    * watermark, a Complete-mode aggregate) the state holds at most the
    * whole input, so the source bytes bound it; the factor of 8 covers
    * parquet's ~3-4x compression and the two state versions the
    * HDFS-backed provider keeps in memory. Every partition of a
    * stateful operator loads and commits its state stores on every
    * micro-batch, needed or not — a stream-stream join holds four per
    * partition — so a width past what the state needs is pure
    * per-batch cost (NOTES.md "Streaming stateful width"). */
  def streamWidth(sourceBytes: Option[Long], sessionWidth: Int): Int = {
    require(sessionWidth >= 1, s"sessionWidth $sessionWidth")
    sourceBytes.fold(sessionWidth) { b =>
      math.min(sessionWidth, groupingPartitions(b, 8L, 1))
    }
  }

  /** SemDeDup cell count: cells hold ~targetCellSize vectors so the
    * in-cell all-pairs work stays ~n*targetCellSize — linear in n, the
    * Abbas et al. 2023 lever the round-7 CellScaleProbe measured
    * (nlist 8 -> 80 at 20k vectors: 21.0 -> 3.46 s; NOTES.md). Clamped
    * below at 8 (tiny corpora should still exercise the cell routing)
    * and above at 2^20 (a 1M-centroid quantizer stops being a bounded
    * driver statistic — past that, shard the corpus first). */
  def semDedupNlist(approxCorpus: Long, targetCellSize: Int = 250): Int = {
    require(targetCellSize >= 1, s"targetCellSize $targetCellSize")
    val cells = (approxCorpus + targetCellSize - 1) / targetCellSize
    math.min(1 << 20, math.max(8, cells)).toInt
  }

  /** IVF coarse-quantizer cell count: the classic ~4*sqrt(n) rule
    * (FAISS's guideline for IVF index training). With a FIXED nlist the
    * per-query candidate set is nprobe*n/nlist — linear in n, so
    * query-set-proportional workloads go quadratic (the round-9
    * embedding ladder measured the pinned nlist=16 bench shapes at
    * exponent ~1.5 by 60k vectors); with nlist ~ sqrt(n) it is
    * ~nprobe*sqrt(n)/4 — sublinear per query. Floor 16 keeps tiny
    * corpora at the old default; cap 2^14 bounds the driver-collected
    * centroid table (16384 x dim doubles = 8 MB at dim 64) — past
    * ~17M vectors raise it knowingly or shard the corpus. */
  def ivfNlist(approxCorpus: Long): Int = {
    require(approxCorpus >= 0, s"ivfNlist of negative $approxCorpus")
    val raw = 4.0 * math.sqrt(approxCorpus.toDouble)
    math.min(1 << 14, math.max(16, math.ceil(raw).toInt))
  }

  /** SimHash band count for hamming radius `maxHamming` over a 64-bit
    * fingerprint: the SMALLEST divisor of 64 that is >= maxHamming+1.
    * Pigeonhole needs bands >= maxHamming+1 for perfect pre-verify
    * recall; every EXTRA band past that only narrows the segments and
    * pulls the random-collision ceiling 2^(64/bands) closer (the 8-bit
    * segment mistake). Fewest-bands-that-recall is therefore also the
    * widest-segment, furthest-knee choice — for the classic radius 3
    * this is 4 bands of 16 bits (Manku, Jain & Das Sarma 2007), with
    * ceiling ~2^16 docs per band-value before random collisions rival
    * true near-dups; radius 1 gets 2 bands of 32 bits (ceiling ~4e9). */
  def simhashBands(maxHamming: Int = 3): Int = {
    require(maxHamming >= 0 && maxHamming < 64,
      s"maxHamming $maxHamming out of [0, 64)")
    Seq(1, 2, 4, 8, 16, 32, 64).find(_ >= maxHamming + 1).get
  }
}
