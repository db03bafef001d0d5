package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.Fixpoint

/** Connected components over a near-duplicate pair list — the step
  * between pairwise dedup output and "keep ONE document per duplicate
  * CLUSTER". Removing `id2` of every pair (the q34 idiom) over- or
  * under-keeps whenever the pair graph is not transitively closed
  * (chain a-b, b-c plus pair b-c alone keeps both a and b); components
  * give the exact cluster and its deterministic representative (min id).
  * No reference analog: hadron stops at pairs.
  *
  * Algorithm: iterative min-label propagation, with OPT-IN pointer
  * doubling — each round every node takes the min of its own and its
  * neighbors' labels and (if `pointerDoubling`) then jumps to that
  * label's own label (path compression, the Hash-to-Min idea). The jump
  * roughly squares the propagation reach per round, so rounds become
  * O(log diameter) instead of diameter — but it costs an extra shuffle
  * and a second materialization per round, and near-dup graphs are
  * usually star-shaped (diameter 2-3), where that overhead buys no
  * round at all. MEASURED (sf0.1, NOTES.md): doubling made the
  * star-ish minhash graph (q37) ~35% SLOWER and the chain-y
  * radius-banded hamming graph (q51, diameter ~12) mildly faster —
  * hence opt-in, for graphs known to chain (banded radius candidates:
  * a-b and b-c within radius without a-c) or whenever diameter
  * approaches maxIter. Converged when a round changes nothing. Labels
  * are one id + one label wide; at corpus scale the edge table is the
  * candidate-pair output, orders of magnitude smaller than the corpus.
  * Lineage is cut every round ([[graft.ops.Fixpoint.cutObserved]]), the
  * standard Spark idiom for iterative plans (an unbounded plan chain
  * re-analyzes and re-optimizes quadratically).
  */
object Components {

  /** Id orderings guaranteed to match Spark's `min()` on the driver:
    * integral types (natural order) and String (Spark compares
    * UTF8String BYTES — java's String.compareTo differs on supplementary
    * characters, so Strings compare by their UTF-8 encoding here). Any
    * other id type skips the fast path rather than risking a
    * path-dependent component label.
    */
  private def driverOrdering(
      dt: org.apache.spark.sql.types.DataType): Option[Ordering[Any]] = {
    import org.apache.spark.sql.types._
    dt match {
      case LongType | IntegerType | ShortType | ByteType =>
        Some((a: Any, b: Any) => java.lang.Long.compare(
          a.asInstanceOf[Number].longValue, b.asInstanceOf[Number].longValue))
      case StringType =>
        Some((a: Any, b: Any) => {
          val x = a.asInstanceOf[String].getBytes("UTF-8")
          val y = b.asInstanceOf[String].getBytes("UTF-8")
          val n = math.min(x.length, y.length)
          var i = 0; var c = 0
          while (c == 0 && i < n) {
            c = java.lang.Integer.compare(x(i) & 0xff, y(i) & 0xff); i += 1
          }
          if (c != 0) c else java.lang.Integer.compare(x.length, y.length)
        })
      case _ => None
    }
  }

  /** @param pairs (id1, id2) rows, undirected, any extra columns ignored
    * @param maxDriverEdges fast-path bound: a pair graph at or under
    *   this many (distinct, directed) edges is collected and solved
    *   with driver union-find — two jobs (the gate's aggregate, then
    *   the collect of the raw pair rows, persisted by the first so
    *   `pairs` runs once) instead of one-per-round. The
    *   pair graph is the dedup output, orders of magnitude smaller
    *   than the corpus, so at test scale it is a bounded driver
    *   statistic (the runOnce idiom); at 100 TB it can still be huge,
    *   so an edge-count bound (2 x the raw pair rows, never below the
    *   distinct directed edges) gates the collect and anything
    *   larger takes the label-propagation path unchanged. The gate is
    *   a row count backed by a byte gate (`maxDriverBytes`): String
    *   ids are measured by actual total length in the same job that
    *   counts the rows, so a million long-URL ids cannot
    *   blow the driver heap just because the row count looked small.
    *   Only integral and String ids take the fast path (see
    *   [[driverOrdering]]); other types go distributed regardless.
    *   `maxIter` is NOT applicable on the fast path — union-find
    *   reaches the exact fixed point in one pass, so no convergence
    *   check exists to fail. MEASURED (sf0.1, NOTES.md round 6): q37
    *   1.63→1.32 s, q51 4.62→2.69 s, q70 4.39→1.15 s — the rounds
    *   were job-overhead-bound, not data-bound. Set 0 to force the
    *   distributed path.
    * @param maxDriverBytes fast-path byte gate: estimated id payload
    *   (sum of UTF-8 lengths for String ids; 16 bytes/edge for
    *   integral ids) must also fit under this bound before edges are
    *   collected. Driver-side boxing overhead multiplies this several
    *   times over, hence a default well under typical driver heaps.
    * @return (id, component) for every id in `pairs`; component = min id
    *         of the connected component. Throws if `maxIter` rounds do
    *         not converge — a partial labeling is wrong data, not a
    *         degraded answer.
    */
  def connectedComponents(
      pairs: DataFrame,
      maxIter: Int = 25,
      pointerDoubling: Boolean = false,
      maxDriverEdges: Long = 1000000L,
      maxDriverBytes: Long = 256L << 20): DataFrame = {
    require(maxIter >= 1, s"maxIter must be >= 1, got $maxIter")
    import org.apache.spark.sql.types._
    val spark = pairs.sparkSession
    val raw = pairs.select(col("id1"), col("id2"))
    val idType = raw.schema("id1").dataType
    val idOrd = driverOrdering(idType)
    val isString = idType == StringType
    // The raw pair rows, computed once: the fast path's gate and collect
    // and the distributed path's edge table all read them.
    val rawRows = raw.rdd.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // Fast-path gate over the raw rows: the distinct directed edges
      // number at most 2 x the rows (each row gives both directions,
      // repeats and reversals only fold), so both bounds below only ever
      // overestimate the edge table's. One job: per-task partial (rows,
      // id bytes) sums, folded on the driver.
      lazy val (nEdges, estBytes) = {
        val (n, b) = rawRows.mapPartitions { rows =>
          def len(v: Any): Long =
            if (v == null) 0L else v.asInstanceOf[String].length.toLong
          var n = 0L; var b = 0L
          rows.foreach { r =>
            n += 1
            b += (if (isString) len(r.get(0)) + len(r.get(1)) else 16L)
          }
          Iterator.single((n, b))
        }.fold((0L, 0L))((x, y) => (x._1 + y._1, x._2 + y._2))
        (2L * n, 2L * b)
      }
      if (idOrd.isDefined && nEdges <= maxDriverEdges && estBytes <= maxDriverBytes) {
        // driver union-find (min-root) over the raw rows, a second job:
        // identical fixed point as the label propagation — component =
        // min id reachable
        val ord = idOrd.get
        val es = rawRows.collect()
        val parent = new java.util.HashMap[Any, Any]()
        def find(x: Any): Any = {
          var r = x
          while (parent.get(r) != r) r = parent.get(r)
          var c = x // path compression
          while (parent.get(c) != r) { val n = parent.get(c); parent.put(c, r); c = n }
          r
        }
        es.foreach { r =>
          val a = r.get(0); val b = r.get(1)
          if (!parent.containsKey(a)) parent.put(a, a)
          if (!parent.containsKey(b)) parent.put(b, b)
          val ra = find(a); val rb = find(b)
          if (ra != rb) { // min id becomes the root
            if (ord.lt(ra, rb)) parent.put(rb, ra) else parent.put(ra, rb)
          }
        }
        val outSchema = StructType(Seq(
          StructField("id", idType, false),
          StructField("component", idType, false)))
        val rows = new java.util.ArrayList[org.apache.spark.sql.Row]()
        val it = parent.keySet().iterator()
        while (it.hasNext) {
          val id = it.next()
          rows.add(org.apache.spark.sql.Row(id, find(id)))
        }
        return spark.createDataFrame(rows, outSchema)
      }
      val rawDf = spark.createDataFrame(rawRows, raw.schema)
      val edges = rawDf.select(col("id1").as("src"), col("id2").as("dst"))
        .union(rawDf.select(col("id2").as("src"), col("id1").as("dst")))
        .distinct()
        .cache() // probed every round
      var labels = Fixpoint.cut(edges.select(col("src").as("id")).distinct()
        .withColumn("lbl", col("id")))
      var iter = 0
      var converged = false
      while (!converged && iter < maxIter) {
        // One action per round (two with doubling) — the convergence
        // probe rides the final cut's job as an OBSERVED metric
        // (rounds are job-overhead bound at small label counts), read
        // only as zero vs nonzero. The round-17 form: CollectMetrics in
        // the codegen'd plan replaces the earlier typed mapPartitions +
        // accumulator, which paid an external-Row round-trip over every
        // label row per round.
        val nbrMin = edges
          .join(labels.select(col("id").as("dst"), col("lbl")), "dst")
          .select(col("src").as("id"), col("lbl"))
        // `own` tags each node's current-label row, so ONE groupBy yields
        // both the gathered label (min over own + neighbors) and the
        // previous one (min over the single own row) — no join back to
        // the prior labels, which would be an extra shuffle every round.
        val gathered0 = labels.withColumn("own", lit(true))
          .union(nbrMin.withColumn("own", lit(false)))
          .groupBy("id")
          .agg(
            min(col("lbl")).as("lbl"),
            min(when(col("own"), col("lbl"))).as("prev"))
        val jumped =
          if (!pointerDoubling) gathered0
          else {
            // pointer doubling: follow the gathered label to ITS gathered
            // label. Monotone (gathered.lbl(y) <= y for every node y, own
            // row included) and component-preserving (labels are always
            // member ids), so the fixed point is unchanged. Cut first:
            // the jump consumes the gather twice. Labels are
            // always node ids, so the left join's fallback never actually
            // fires; coalesce keeps it total.
            val gathered = Fixpoint.cut(gathered0)
            gathered
              .join(gathered.select(col("id").as("lbl"), col("lbl").as("lbl2")),
                Seq("lbl"), "left")
              .select(col("id"),
                coalesce(col("lbl2"), col("lbl")).as("lbl"), col("prev"))
          }
        val (next, changed) = Fixpoint.cutObserved(jumped,
          s"graft.cc_changed_$iter", // null-safe: exact parity with a Java !=
          count(when(not(col("lbl") <=> col("prev")), lit(1))).as("n"),
          col("id"), col("lbl"))
        converged = changed.getLong(0) == 0L
        labels = next
        iter += 1
      }
      edges.unpersist()
      if (!converged)
        throw new IllegalStateException(
          s"connectedComponents did not converge in $maxIter rounds — " +
            "graph diameter exceeds maxIter; raise it")
      labels.select(col("id"), col("lbl").as("component"))
    } finally rawRows.unpersist()
  }

  /** Keep exactly one document per duplicate cluster: the min-id
    * representative survives, every other cluster member is dropped.
    * Rows never mentioned in `pairs` pass through untouched. The
    * left_anti against the (small) non-representative id set is the
    * same corpus-scale shape as q34's pair-based removal, but
    * cluster-exact.
    */
  def keepOnePerCluster(
      df: DataFrame,
      idCol: org.apache.spark.sql.Column,
      pairs: DataFrame,
      maxIter: Int = 25,
      pointerDoubling: Boolean = false): DataFrame = {
    val drop = connectedComponents(pairs, maxIter, pointerDoubling)
      .filter(col("id") =!= col("component"))
      .select(col("id").as("__drop_id"))
    df.join(drop, idCol === col("__drop_id"), "left_anti")
  }
}
