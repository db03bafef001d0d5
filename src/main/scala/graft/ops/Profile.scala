package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Column-level data profiling — the "what is actually in this table"
  * pass a pipeline runs on unfamiliar corpus drops before trusting
  * them: null counts, exact distinct counts, min/max per column.
  */
object Profile {

  final case class ColumnProfile(
      col_name: String, n_nulls: Long, n_distinct: Long,
      min_value: String, max_value: String)

  /** One `ColumnProfile` row per (selected) column.
    *
    * Shape: ONE aggregation pass over the table computes every
    * column's stats together (Catalyst expands the multi-distinct into
    * one plan with map-side partials); exactly one row reaches the
    * driver, which pivots it into the per-column rows — the bounded
    * collect idiom. min/max surface as strings so the profile schema
    * is column-type-agnostic (binary/string ordering, matching any
    * engine's default collation for ASCII).
    *
    * Exact distincts are the expensive arm at corpus scale (a
    * distinct-expand shuffle per column); profile a column subset via
    * `cols`, or use `Sketch.kmvDistinct` per column when an estimate
    * is enough.
    */
  def describe(df: DataFrame, cols: Seq[String] = Seq.empty): DataFrame = {
    val names = if (cols.isEmpty) df.columns.toSeq else cols
    require(names.nonEmpty, "no columns to profile")
    names.foreach(c => require(df.columns.contains(c), s"no such column: $c"))
    val aggs = names.flatMap { c =>
      Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__n_$c"),
        count_distinct(col(c)).as(s"__d_$c"),
        min(col(c)).cast("string").as(s"__min_$c"),
        max(col(c)).cast("string").as(s"__max_$c"))
    }
    val r = df.agg(aggs.head, aggs.tail: _*).collect().head
    val spark = df.sparkSession
    import spark.implicits._
    names.map { c =>
      ColumnProfile(c,
        r.getAs[Long](s"__n_$c"),
        r.getAs[Long](s"__d_$c"),
        r.getAs[String](s"__min_$c"),
        r.getAs[String](s"__max_$c"))
    }.toDF()
  }

  /** Deterministic approximate quantiles via a fixed histogram: bin the
    * values on a caller-chosen [lo, hi) grid, cumulate the (≤ bins)
    * counts, and report each quantile as the UPPER EDGE of the first
    * bin whose cumulative count reaches `ceil(q · total)`.
    *
    * Why not `approx_percentile` / t-digest / Greenwald-Khanna: their
    * merge results depend on partition boundaries, so two runs of the
    * same job can disagree — unverifiable against an independent
    * oracle (the KMV-over-HLL argument, [[Sketch.kmvDistinct]]). The
    * histogram's integer bin counts are sums — order-independent, so
    * the answer is bit-identical everywhere; accuracy is the grid
    * resolution (hi − lo)/bins, the caller's explicit knob.
    *
    * Shape: one map-side-combined groupBy over ≤ `bins` keys; the
    * cumulative walk and quantile probe run on the ≤ bins aggregated
    * rows (single-partition window — bounded by construction, the
    * Prefix.scala discipline). Values outside [lo, hi) clamp to the
    * edge bins, so a mis-estimated range degrades accuracy, never
    * correctness of the cumulative counts. Null values are ignored.
    *
    * @param lo inclusive grid start; @param hi exclusive grid end.
    * @return (quantile double, approx_value double = bin upper edge,
    *   n_le long = cumulative count through that bin), one row per
    *   requested quantile; empty input yields no rows.
    */
  def histogramQuantiles(
      df: DataFrame,
      valueCol: org.apache.spark.sql.Column,
      lo: Double,
      hi: Double,
      bins: Int,
      quantiles: Seq[Double]): DataFrame =
    histogramQuantilesByGroup(df, Seq.empty, valueCol, lo, hi, bins,
      quantiles)

  /** Per-group [[histogramQuantiles]] — "p99 per source" on one shared
    * grid. Same plan with the group keys threaded through every stage;
    * the cumulative window partitions by group (≤ bins rows each), so
    * no stage ever holds more than a group's bin counts.
    *
    * @return groupCols ++ (quantile, approx_value, n_le) per group.
    */
  def histogramQuantilesByGroup(
      df: DataFrame,
      groupCols: Seq[String],
      valueCol: org.apache.spark.sql.Column,
      lo: Double,
      hi: Double,
      bins: Int,
      quantiles: Seq[Double]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(bins >= 1, "bins must be positive")
    require(hi > lo, s"empty value range [$lo, $hi)")
    require(quantiles.nonEmpty && quantiles.forall(q => q > 0 && q <= 1),
      s"quantiles must lie in (0, 1], got $quantiles")
    val w = (hi - lo) / bins
    val binCol = least(greatest(
      floor((valueCol - lo) / w), lit(0.0)), lit((bins - 1).toDouble))
      .cast("long")
    val gcols = groupCols.map(col)
    val counts = df.filter(valueCol.isNotNull)
      .groupBy(gcols :+ binCol.as("bin"): _*).agg(count(lit(1)).as("n"))
    val byGroup = Window.partitionBy(gcols: _*)
    val cum = counts
      .withColumn("cum", sum("n").over(byGroup.orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("total", sum("n").over(byGroup
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
    val spark = df.sparkSession
    import spark.implicits._
    val qs = quantiles.toDF("quantile")
    qs.crossJoin(cum)
      .filter(col("cum") >= ceil(col("quantile") * col("total")))
      .groupBy(gcols :+ col("quantile"): _*)
      .agg(min("bin").as("bin"),
        min_by(col("cum"), col("bin")).as("n_le"))
      .select(gcols ++ Seq(
        col("quantile"),
        (lit(lo) + (col("bin") + 1) * lit(w)).as("approx_value"),
        col("n_le")): _*)
  }

  /** Vocabulary growth curve (Heaps'/Herdan's law diagnostic): how many
    * NEW unit types (tokens, shingles — any exploded unit) each slice
    * of the corpus contributes, in ingest order. The canonical corpus-
    * health read: a healthy diverse corpus keeps minting types
    * (cum_types ~ cum_units^beta, beta in [0.4, 0.6] for natural text);
    * a curve that flattens early means the tail of the crawl is
    * re-crawled/templated content that dedup should remove, and a
    * post-dedup curve that STILL flattens means the corpus is
    * saturated — more data buys no more diversity.
    *
    * Slices are `buckets` equal-WIDTH windows of the id range (bounds
    * from a 1-row aggregate attached by broadcast) — never a global
    * row_number, so nothing sorts N rows; with ids as ingest sequence
    * numbers the windows are ingest deciles. A type's bucket is its
    * FIRST appearance: `min(bucket)` per unit, exact because the
    * bucket is monotone in id.
    *
    * Shape at scale: ONE map-side-combinable (bucket, unit)
    * aggregation over the exploded units (the same exchange class as
    * every n-gram op — the key space is vocabulary × buckets, not the
    * corpus), persisted for its two bounded rollups, then a window
    * over `buckets` rows. No sort of data-sized input, no driver
    * state.
    *
    * @param idCol   numeric ingest id (bucket key)
    * @param unitCol ARRAY column of unit strings per row
    * @return (bucket 1..buckets, n_units, cum_units, new_types,
    *         cum_types) — buckets with zero unit occurrences are absent
    */
  def vocabGrowth(
      df: DataFrame,
      idCol: org.apache.spark.sql.Column,
      unitCol: org.apache.spark.sql.Column,
      buckets: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(buckets >= 1, "buckets must be positive")
    val base = df.select(idCol.cast("long").as("gid"),
      explode(unitCol).as("unit"))
    val bounds = df.agg(min(idCol).cast("long").as("lo"),
      (max(idCol).cast("long") + 1L).as("hi"))
    // integer `div`: exact at any id magnitude (no double rounding);
    // gid < hi so the quotient lands in [0, buckets-1]
    val withB = base.crossJoin(broadcast(bounds))
      .withColumn("bucket",
        expr(s"CAST((gid - lo) * $buckets DIV (hi - lo) AS INT) + 1"))
    // ONE scan over the exploded grams: the (bucket, unit) partial
    // aggregate is map-side combined down to ≤ vocab×buckets rows, and
    // both reports derive from it — the old two-consumer shape paid the
    // explode + gram build twice (A/B in the r16ops ladder, NOTES)
    val g1 = withB.groupBy("bucket", "unit").agg(count(lit(1)).as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val occ = g1.groupBy("bucket").agg(sum("c").as("n_units"))
    val nt = g1.groupBy("unit").agg(min("bucket").as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("new_types"))
    val w = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, 0)
    occ.join(nt, Seq("bucket"), "left")
      .na.fill(0L, Seq("new_types"))
      .withColumn("cum_units", sum("n_units").over(w))
      .withColumn("cum_types", sum("new_types").over(w))
      .select(col("bucket").cast("long").as("bucket"), col("n_units"),
        col("cum_units"), col("new_types"), col("cum_types"))
  }

  /** Cross-corpus unit-distribution drift — the top-k units most
    * OVERREPRESENTED in corpus A relative to corpus B, scored by their
    * exact-integer KL(P_A‖P_B) contribution. The "did this month's
    * crawl change under me / does my train mix match my eval mix"
    * diagnostic; run with (b, a) swapped for the other direction.
    *
    * With add-one smoothing over the union vocabulary V (so units
    * absent on one side stay finite):
    *   p_t = (a_t+1)/(n_A+V),  q_t = (b_t+1)/(n_B+V)
    *   contrib_fx(t) = (a_t+1) · (ilog2Fx(a_t+1) − ilog2Fx(n_A+V)
    *                             − ilog2Fx(b_t+1) + ilog2Fx(n_B+V))
    * i.e. (n_A+V)·2^20 × p_t·log2(p_t/q_t), kept as the UNdivided
    * integer numerator — no division anywhere, so there is no
    * truncate-vs-floor cross-engine hazard on the negative
    * contributions, and Σ contrib_fx / (n_A+V) recovers the total KL
    * in fixed-point bits ([[graft.functions.Dsir.ilog2Fx]] — exact
    * integer binary log, same kernel as q94's entropy).
    *
    * Scale shape: two map-side-combined unit counts (key space = the
    * vocabulary, the n-gram-op exchange class), one vocab-keyed
    * full-outer join persisted for its two consumers (a 3-scalar
    * totals read — the bounded-collect idiom — and the scoring pass),
    * a map-only ilog2 kernel, then [[Sampling.capPerGroup]]'s bounded
    * topk_by fold for the rank — never a vocab-wide sort. Ranking
    * compares contributions as doubles: exact while |contrib_fx| <
    * 2^53 (n_A ≲ 8e9 tokens per 64 log-bits); past that, near-ties may
    * swap — the rank dial, not the scores, which stay exact integers.
    *
    * @param a       corpus A rows (the direction being reported)
    * @param b       corpus B rows (the baseline)
    * @param unitCol ARRAY column of unit strings per row (same
    *                expression must apply to both inputs)
    * @param k       report size
    * @return (unit, a_cnt, b_cnt, contrib_fx, drift_rank 1..k,
    *         n_vocab, n_a, n_b)
    */
  def distributionDrift(
      a: DataFrame, b: DataFrame,
      unitCol: org.apache.spark.sql.Column,
      k: Int = 50): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    val ac = a.select(explode(unitCol).as("unit"))
      .groupBy("unit").agg(count(lit(1)).as("a_cnt"))
    val bc = b.select(explode(unitCol).as("unit"))
      .groupBy("unit").agg(count(lit(1)).as("b_cnt"))
    val joined = ac.join(bc, Seq("unit"), "full_outer")
      .select(col("unit"),
        coalesce(col("a_cnt"), lit(0L)).as("a_cnt"),
        coalesce(col("b_cnt"), lit(0L)).as("b_cnt"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // three bounded scalars (the runOnce idiom): corpus masses + vocab
    val tot = joined.agg(sum("a_cnt").as("na"), sum("b_cnt").as("nb"),
      count(lit(1)).as("v")).collect()(0)
    val nA = tot.getLong(0); val nB = tot.getLong(1); val v = tot.getLong(2)
    val logDenA = graft.functions.Dsir.ilog2Fx(nA + v)
    val logDenB = graft.functions.Dsir.ilog2Fx(nB + v)
    import org.apache.spark.sql.types._
    val schema = joined.schema.add(StructField("contrib_fx", LongType, false))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(schema)
    val scored = joined.mapPartitions { rows =>
      rows.map { r =>
        val ai = r.getLong(1); val bi = r.getLong(2)
        val c = (ai + 1L) * (graft.functions.Dsir.ilog2Fx(ai + 1L) - logDenA
          - graft.functions.Dsir.ilog2Fx(bi + 1L) + logDenB)
        org.apache.spark.sql.Row(r.get(0), ai, bi, c)
      }
    }(enc)
    Sampling.capPerGroup(scored, lit(0), col("unit"), col("contrib_fx"), k)
      .select(col("unit"), col("a_cnt"), col("b_cnt"), col("contrib_fx"),
        col("rank").as("drift_rank"),
        col("n_group").as("n_vocab"),
        lit(nA).as("n_a"), lit(nB).as("n_b"))
  }

  /** Exact Spearman rank correlation between two integer-valued scores
    * — "are my two quality signals redundant or complementary?" (e.g.
    * length vs token entropy before spending a second filter stage).
    *
    * Ranks are dense global positions under the TOTAL order
    * (score asc, id asc) — ties are broken by id, never averaged, so
    * the result is a pure function of the data (the house determinism
    * rule; the oracle replays the same order as a window). With
    * d_i = rank_x(i) − rank_y(i):
    *   rho_fx = 2^20 − (6·Σd²·2^20) div (n·(n²−1))
    * computed in DECIMAL(38,0), one positive÷positive floor division
    * (truncate ≡ floor), so rho_fx ∈ [−2^20, 2^20] is bit-identical
    * cross-engine. n must stay ≤ 3e6 so Σd² fits a long — past that a
    * content-addressed sample upstream ([[Sampling]]) is the right
    * tool anyway (the estimate saturates long before millions of
    * rows); the guard is loud, never silent.
    *
    * Scale shape: each rank pass is [[Prefix.runningTotal]]'s
    * two-linear-pass machinery over a range exchange (NEVER a
    * single-partition window): the order key is an encoded
    * fixed-width hex/decimal string so one range column carries the
    * (score, id) total order. The y pass ranks the x pass's output
    * rows, so the input is read once by the exchanges (plus the
    * guard's scalar read) and no join pairs the ranks; then a 1-row
    * aggregate.
    *
    * @param idCol non-negative long id (fixed-width-encodable)
    * @param xCol,yCol long-valued scores > −2^62
    * @return one row: (n, sum_d2, rho_fx)
    */
  def spearman(
      df: DataFrame,
      idCol: org.apache.spark.sql.Column,
      xCol: org.apache.spark.sql.Column,
      yCol: org.apache.spark.sql.Column): DataFrame = {
    val base = df.select(idCol.cast("long").as("id"),
        xCol.cast("long").as("x"), yCol.cast("long").as("y"))
    // loud domain guards: encoding and Σd² bounds (3-scalar read)
    val g = base.agg(min("id").as("mi"), max("x").as("mx"),
      min("x").as("nx"), max("y").as("my"), min("y").as("ny"),
      count(lit(1)).as("n")).collect()(0)
    if (!g.isNullAt(0)) {
      require(g.getLong(0) >= 0L, "spearman ids must be non-negative")
      val bound = 1L << 62
      Seq(g.getLong(1), g.getLong(2), g.getLong(3), g.getLong(4))
        .foreach(v => require(math.abs(v) < bound,
          s"spearman scores must be in (−2^62, 2^62), got $v"))
      require(g.getLong(5) <= 3000000L,
        s"spearman domain is n <= 3e6 (sum d^2 must fit a long), got " +
        s"${g.getLong(5)} — sample upstream (Sampling.sampleByHash)")
    }
    val bias = 1L << 62
    def ranked(in: DataFrame, score: String, out: String): DataFrame =
      Prefix.runningTotal(
          in.withColumn("__ord",
            concat(format_string("%016x", col(score) + bias),
              format_string("%019d", col("id")))),
          orderCol = "__ord", valueCol = "__one", outCol = out)
        .drop("__ord")
    ranked(ranked(base.withColumn("__one", lit(1L)), "x", "rx"), "y", "ry")
      // rows with a NULL id are ranked but not counted as pairs
      .filter(col("id").isNotNull)
      .agg(count(lit(1)).as("n"),
        sum((col("rx") - col("ry")) * (col("rx") - col("ry")))
          .as("sum_d2"))
      .select(col("n"), col("sum_d2"),
        expr("""CASE WHEN n >= 2 THEN CAST(
                  1048576 - (6 * CAST(sum_d2 AS DECIMAL(38,0)) * 1048576)
                    div (CAST(n AS DECIMAL(38,0)) * n * n - n)
                AS BIGINT) END""").as("rho_fx"))
  }

  /** Cohen's kappa between two boolean judgments (Cohen 1960) —
    * chance-corrected agreement between two FILTERS (rule sets,
    * classifiers, detectors) over the same corpus: raw agreement is
    * inflated whenever both filters pass (or fail) almost everything,
    * and kappa is the standard correction.
    *
    * One map-side-combined conditional aggregation emits the full 2×2
    * confusion matrix plus kappa as an exact integer
    * numerator/denominator pair:
    *   kappa_num = n·(n_pp + n_ff) − pe,  kappa_den = n² − pe,
    *   pe = (n_pp+n_pf)·(n_pp+n_fp) + (n_fp+n_ff)·(n_pf+n_ff)
    * kappa = num/den ∈ [−1, 1]. The division is deliberately NOT
    * performed: the numerator is signed, and signed integer division
    * is a cross-engine hazard (floor vs truncate conventions differ
    * by engine and version; DuckDB's `//` truncates like Spark's
    * `div`, Python's `//` floors) — consumers divide in their own
    * engine's float space.
    * Rows where either judgment is NULL are excluded from every count
    * (an unjudged row is not a disagreement).
    *
    * Scale shape: map-only filter + one 1-row aggregation; n² needs
    * n < 3e9 to fit the long products (loud on overflow by ANSI
    * arithmetic, never silent).
    */
  def cohenKappa(
      df: DataFrame,
      aCol: org.apache.spark.sql.Column,
      bCol: org.apache.spark.sql.Column): DataFrame =
    df.filter(aCol.isNotNull && bCol.isNotNull)
      .agg(
        count(lit(1)).as("n"),
        coalesce(sum(when(aCol && bCol, 1L)), lit(0L)).as("n_pp"),
        coalesce(sum(when(aCol && !bCol, 1L)), lit(0L)).as("n_pf"),
        coalesce(sum(when(!aCol && bCol, 1L)), lit(0L)).as("n_fp"),
        coalesce(sum(when(!aCol && !bCol, 1L)), lit(0L)).as("n_ff"))
      .select(col("n"), col("n_pp"), col("n_pf"), col("n_fp"), col("n_ff"),
        (col("n") * (col("n_pp") + col("n_ff")) -
          ((col("n_pp") + col("n_pf")) * (col("n_pp") + col("n_fp")) +
           (col("n_fp") + col("n_ff")) * (col("n_pf") + col("n_ff"))))
          .as("kappa_num"),
        (col("n") * col("n") -
          ((col("n_pp") + col("n_pf")) * (col("n_pp") + col("n_fp")) +
           (col("n_fp") + col("n_ff")) * (col("n_pf") + col("n_ff"))))
          .as("kappa_den"))

  /** Exact ROC AUC of an integer score against a boolean label — "is
    * my quality/classifier score actually ranking the positives above
    * the negatives?", the standard grading for every scorer in the
    * curation stack ([[graft.functions.Classifier]], quality signals,
    * perplexity filters) before its threshold is trusted.
    *
    * AUC here is the Mann-Whitney statistic with the standard
    * tie-average convention, kept EXACT as an integer pair instead of
    * a float: with the scores grouped (pos_s, neg_s counts per
    * distinct score value, negBelow_s = negatives with strictly
    * smaller score),
    *   auc_num = Σ_s pos_s · (2·negBelow_s + neg_s)
    *   auc_den = 2 · n_pos · n_neg
    * auc = num/den ∈ [0,1]; ties contribute the usual ½. The division
    * is deliberately not performed (same engine-neutrality rule as
    * [[cohenKappa]]). Rows with a NULL label or score are excluded.
    *
    * Scale shape: one map-side-combined groupBy down to DISTINCT
    * SCORES, then [[Prefix.runningTotal]]'s two-linear-pass range
    * exchange over that (already reduced) table for the
    * negatives-below prefix — never a single-partition window — and a
    * 1-row aggregate. n must stay < 3·10⁹ so auc_num ≤ 2·n_pos·n_neg
    * fits a long; the guard is loud, never silent.
    *
    * @param labelCol boolean (or castable) — true = positive
    * @param scoreCol long-valued score (fix floats upstream, e.g.
    *   `(value·100)::long` — exactness needs integer scores)
    * @return one row: (n_pos, n_neg, auc_num, auc_den)
    */
  def aucExact(
      df: DataFrame,
      labelCol: org.apache.spark.sql.Column,
      scoreCol: org.apache.spark.sql.Column): DataFrame = {
    val base = df.select(labelCol.cast("boolean").as("y"),
        scoreCol.cast("long").as("s"))
      .filter(col("y").isNotNull && col("s").isNotNull)
    val g = base.groupBy("s").agg(
      coalesce(sum(when(col("y"), 1L)), lit(0L)).as("pos"),
      coalesce(sum(when(!col("y"), 1L)), lit(0L)).as("neg"))
    // distinct scores under a total order: bias to unsigned, fixed-width
    // hex so ONE string column carries the range-exchange order (the
    // spearman encoding); uniqueness is free — the groupBy deduplicated.
    val bias = 1L << 62
    val guarded = g.withColumn("s",
      when(abs(col("s")) < lit(bias), col("s")).otherwise(raise_error(
        concat(lit("aucExact scores must be in (-2^62, 2^62), got "),
          col("s")))))
    val ranked = Prefix.runningTotal(
      guarded.withColumn("__ord", format_string("%016x", col("s") + bias)),
      orderCol = "__ord", valueCol = "neg", outCol = "negCum")
    ranked
      .select(col("pos"), col("neg"), (col("negCum") - col("neg")).as("below"))
      .agg(
        coalesce(sum("pos"), lit(0L)).as("n_pos"),
        coalesce(sum("neg"), lit(0L)).as("n_neg"),
        coalesce(sum(col("pos") * (lit(2L) * col("below") + col("neg"))),
          lit(0L)).as("auc_num"))
      .select(col("n_pos"), col("n_neg"),
        when(col("n_pos") + col("n_neg") <= 3000000000L, col("auc_num"))
          .otherwise(raise_error(lit(
            "aucExact domain is n <= 3e9 (auc_num must fit a long) — " +
            "sample upstream (Sampling.sampleByHash)"))).as("auc_num"),
        (lit(2L) * col("n_pos") * col("n_neg")).as("auc_den"))
  }

  /** Per-group [[aucExact]] — the same exact Mann-Whitney pair, one
    * row per group ("does my quality score rank well within EVERY
    * source/language, or only on average?" — Simpson's-paradox
    * insurance for scorer rollouts). Identical arithmetic; the
    * negatives-below prefix runs as a window PARTITIONED BY GROUP over
    * the (group, distinct score) table — bounded by a group's distinct
    * scores, so no range exchange is needed (the global form uses
    * [[Prefix.runningTotal]] precisely because it has ONE partition's
    * worth of order; here the grouping provides the parallelism).
    * Groups need n_pos·n_neg > 0 for a defined AUC; degenerate groups
    * still emit their counts with auc_den = 0 (consumers skip them —
    * dropping them silently would hide single-class segments).
    */
  def aucExactByGroup(
      df: DataFrame,
      groupCol: org.apache.spark.sql.Column,
      labelCol: org.apache.spark.sql.Column,
      scoreCol: org.apache.spark.sql.Column): DataFrame = {
    val base = df.select(groupCol.as("g"),
        labelCol.cast("boolean").as("y"), scoreCol.cast("long").as("s"))
      .filter(col("y").isNotNull && col("s").isNotNull)
    val grouped = base.groupBy("g", "s").agg(
      coalesce(sum(when(col("y"), 1L)), lit(0L)).as("pos"),
      coalesce(sum(when(!col("y"), 1L)), lit(0L)).as("neg"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("g")).orderBy(col("s").asc)
      .rowsBetween(Long.MinValue, -1)
    grouped
      .withColumn("below", coalesce(sum(col("neg")).over(w), lit(0L)))
      .groupBy("g")
      .agg(sum("pos").as("n_pos"), sum("neg").as("n_neg"),
        sum(col("pos") * (lit(2L) * col("below") + col("neg")))
          .as("auc_num"))
      .select(col("g"), col("n_pos"), col("n_neg"),
        when(col("n_pos") + col("n_neg") <= 3000000000L, col("auc_num"))
          .otherwise(raise_error(lit(
            "aucExactByGroup domain is n <= 3e9 per group — sample " +
            "upstream (Sampling.sampleByHash)"))).as("auc_num"),
        (lit(2L) * col("n_pos") * col("n_neg")).as("auc_den"))
  }

  /** Profile a semi-structured JSON column — per top-level key: how
    * often it appears, how often its value is JSON null, how many
    * values look numeric, the exact distinct-value count, and the
    * numeric min/max — the first look every pipeline takes at an
    * event-properties / metadata blob before deciding what to promote
    * to real columns. Values are compared as their JSON scalar string
    * forms (engine-neutral: numbers print bare, strings unquoted).
    *
    * Scale shape: one map-only `from_json` to map<string,string> +
    * explode (no schema inference pass over the corpus — the map
    * decode is per-row), then ONE map-side-combined groupBy over the
    * KEY VOCABULARY. The exact distinct count is the one
    * corpus-sized term (count-distinct shuffles the distinct (key,
    * value) stream); swap in [[graft.ops.Sketch.kmvDistinctByGroup]]
    * upstream when values are high-cardinality at scale. Malformed
    * JSON rows decode to null maps and profile as absent (Spark's
    * PERMISSIVE read) — validate upstream if that must be loud.
    *
    * @return (key, n, n_null, n_numeric, n_distinct, min_num, max_num)
    */
  def jsonProfile(
      df: DataFrame,
      jsonCol: org.apache.spark.sql.Column): DataFrame = {
    import org.apache.spark.sql.types.{MapType, StringType}
    val numRe = "^-?[0-9]+(\\.[0-9]+)?$"
    df.filter(jsonCol.isNotNull)
      .select(explode(from_json(jsonCol, MapType(StringType, StringType)))
        .as(Seq("key", "val")))
      .groupBy("key")
      .agg(count(lit(1)).as("n"),
        coalesce(sum(when(col("val").isNull, 1L)), lit(0L)).as("n_null"),
        coalesce(sum(when(col("val").rlike(numRe), 1L)), lit(0L))
          .as("n_numeric"),
        countDistinct(col("val")).as("n_distinct"),
        min(when(col("val").rlike(numRe),
          col("val").cast("decimal(18,4)"))).cast("double").as("min_num"),
        max(when(col("val").rlike(numRe),
          col("val").cast("decimal(18,4)"))).cast("double").as("max_num"))
  }

  /** Global percentile (rank) normalization of an integer score —
    * the cross-source calibration step before mixing corpora scored
    * by different models: raw scores are incomparable, their ranks
    * are. Every row gets its dense global position under the TOTAL
    * order (score asc, id asc — the house tie rule; no averaging) and
    * the exact fixed-point percentile `pct_fx = (rank−1)·2^20 div
    * (n−1)` ∈ [0, 2^20] (single-row inputs emit 0).
    *
    * Scale shape: [[Prefix.runningTotal]]'s two-linear-pass range
    * exchange over the (score, id)-encoded order — NEVER a
    * one-partition window — plus one count and a map-only kernel.
    * Same domain guards as `spearman` (non-negative ids, |score| <
    * 2^62), loud.
    *
    * @return (id, s, rank 1-based, pct_fx)
    */
  def percentileNormalize(
      df: DataFrame,
      idCol: org.apache.spark.sql.Column,
      scoreCol: org.apache.spark.sql.Column): DataFrame = {
    val base = df.select(idCol.cast("long").as("id"),
        scoreCol.cast("long").as("s"))
      .filter(col("id").isNotNull && col("s").isNotNull)
    val g = base.agg(min("id").as("mi"), max(abs(col("s"))).as("ms"),
      count(lit(1)).as("n")).collect()(0)
    val n = if (g.isNullAt(2)) 0L else g.getLong(2)
    if (n > 0) {
      require(g.getLong(0) >= 0L, "percentileNormalize ids must be " +
        "non-negative (fixed-width order encoding)")
      require(g.getLong(1) < (1L << 62),
        s"percentileNormalize scores must be in (−2^62, 2^62)")
    }
    val bias = 1L << 62
    val one = base.withColumn("__one", lit(1L))
      .withColumn("__ord",
        concat(format_string("%016x", col("s") + bias),
          format_string("%019d", col("id"))))
    val den = math.max(n - 1, 1L)
    Prefix.runningTotal(one, orderCol = "__ord", valueCol = "__one",
        outCol = "rank")
      .select(col("id"), col("s"), col("rank"),
        expr(s"((rank - 1) * 1048576L) div ${den}L").as("pct_fx"))
  }

  /** Calibration (reliability) bins for a scorer against a boolean
    * outcome — [[aucExact]] grades RANKING; this grades whether the
    * score's MAGNITUDE means what it claims (a well-calibrated quality
    * score's 0.8-bin should contain ~80% positives). Fixed-WIDTH score
    * bins (`bin = score div binWidth` — a map-only integer, deliberately
    * not quantile bins: quantile edges depend on the distribution, so
    * two corpora's curves would not be comparable, and computing them
    * needs an extra pass), one map-side-combined aggregation, output
    * per non-empty bin: count, positives, exact score mass, and the
    * fixed-point positive rate `pos_fx = n_pos·2^20 div n` (positive ÷
    * positive — engine-neutral floor). Scores must be non-negative
    * (truncating div ≡ floor only there; shift upstream) — loud, never
    * silent. NULL label or score rows are excluded.
    */
  def calibrationBins(
      df: DataFrame,
      labelCol: org.apache.spark.sql.Column,
      scoreCol: org.apache.spark.sql.Column,
      binWidth: Long): DataFrame = {
    require(binWidth > 0, s"binWidth must be positive, got $binWidth")
    val base = df.select(labelCol.cast("boolean").as("y"),
        scoreCol.cast("long").as("s"))
      .filter(col("y").isNotNull && col("s").isNotNull)
      .withColumn("s", when(col("s") >= 0, col("s"))
        .otherwise(raise_error(concat(
          lit("calibrationBins scores must be non-negative, got "),
          col("s")))))
    base.groupBy(expr(s"s div ${binWidth}L").as("bin"))
      .agg(count(lit(1)).as("n"),
        coalesce(sum(when(col("y"), 1L)), lit(0L)).as("n_pos"),
        sum(col("s")).as("sum_score"))
      .select(col("bin"), (col("bin") * binWidth).as("bin_lo"),
        col("n"), col("n_pos"),
        expr("n_pos * 1048576L div n").as("pos_fx"),
        col("sum_score"))
  }

  /** Functional-dependency check, lhs → rhs: per distinct lhs key, is
    * the rhs single-valued? The schema-contract half of data-quality
    * profiling (q173's referential integrity checks BETWEEN tables;
    * this checks WITHIN one): "event_id determines user_id" is a
    * candidate-key claim, "user_id determines event_type" is (usually)
    * false — both are one row here, with the violating-key count and
    * the worst key's distinct-value width. Rows with a NULL lhs or
    * rhs are excluded (SQL FD semantics treat NULL as no claim;
    * profile nulls with [[describe]]).
    *
    * Shape: one exact count-distinct aggregation keyed on lhs (Spark
    * expands it to two map-side-combined hash aggregates over (lhs,
    * rhs) pairs — linear shuffle, no buffering), then a 1-row rollup.
    * At 100 TB both exchanges carry only the key columns.
    *
    * @return one row: (relation, n_keys, n_violating, max_distinct,
    *   violation_fx = n_violating·2^20 div n_keys)
    */
  def fdProfile(
      df: DataFrame,
      lhs: org.apache.spark.sql.Column,
      rhs: org.apache.spark.sql.Column,
      relation: String): DataFrame =
    df.select(lhs.as("k"), rhs.as("v"))
      .filter(col("k").isNotNull && col("v").isNotNull)
      .groupBy("k").agg(countDistinct(col("v")).as("nd"))
      .agg(count(lit(1)).as("n_keys"),
        coalesce(sum(when(col("nd") > 1L, 1L)), lit(0L))
          .as("n_violating"),
        coalesce(max(col("nd")), lit(0L)).as("max_distinct"))
      .select(lit(relation).as("relation"), col("n_keys"),
        col("n_violating"), col("max_distinct"),
        expr("CASE WHEN n_keys > 0 " +
          "THEN (n_violating * 1048576L) div n_keys ELSE 0L END")
          .as("violation_fx"))

  /** Key-skew profile: the pre-join / pre-groupBy answer to "how hot
    * is the hottest key, and how unequal is the whole distribution?"
    * — the statistic that decides between a plain shuffle join,
    * [[Partitioning.saltedJoin]], and AQE skew splitting BEFORE the
    * job runs, not after it stalls. Per key-column: distinct keys,
    * total rows, the top key's row share (exact 2^20 fixed point),
    * and the exact Gini coefficient of the key-frequency distribution
    * as the integer pair
    *
    *   gini_num = 2·Σ rankᵢ·cᵢ − (n+1)·Σc,   gini_den = n·Σc
    *
    * (ranks ascending by count; ties order-irrelevant — equal counts
    * contribute the same Σ under any permutation of their ranks, so
    * the statistic is deterministic without a tie-break). G = num/den
    * ∈ [0, 1): 0 = perfectly uniform keys, →1 = one key owns the
    * table. Division left to the consumer (the assortativity/
    * cohenKappa discipline).
    *
    * Shape: one map-side-combined count per key, then the GLOBAL rank
    * of the (much smaller) counts table through
    * [[Prefix.runningTotal]]'s range exchange — never a one-partition
    * window, so a billion-key profile ranks in parallel — and a 1-row
    * moment aggregation in DECIMAL(38,0) (cast back to long, ANSI-loud
    * past 2^63). NULL keys are excluded (profile them with
    * [[describe]]).
    *
    * @return one row: (relation, n_keys, total, top_share_fx,
    *   gini_num, gini_den)
    */
  def keySkew(
      df: DataFrame,
      keyCol: org.apache.spark.sql.Column,
      relation: String): DataFrame = {
    val counts = df.select(keyCol.as("k")).filter(col("k").isNotNull)
      .groupBy("k").agg(count(lit(1)).as("c"))
      .withColumn("__one", lit(1L))
      // fixed-width count prefix + key string: lexicographic order =
      // (count, key) order; the key tail only pins determinism (ties
      // in c cannot change the Gini sum)
      .withColumn("__ord",
        concat(format_string("%019d", col("c")), col("k").cast("string")))
    val ranked = Prefix.runningTotal(counts, orderCol = "__ord",
      valueCol = "__one", outCol = "rank")
    def dec(s: String): org.apache.spark.sql.Column =
      expr(s"cast($s as decimal(38,0))")
    ranked
      .agg(count(lit(1)).as("n_keys"), sum(col("c")).as("total"),
        max(col("c")).as("max_c"),
        sum(dec("rank") * dec("c")).as("src"))
      .select(lit(relation).as("relation"),
        col("n_keys"), col("total"),
        expr("(max_c * 1048576L) div total").as("top_share_fx"),
        (lit(2) * col("src") -
          (dec("n_keys") + lit(1)) * dec("total")).cast("long")
          .as("gini_num"),
        (dec("n_keys") * dec("total")).cast("long").as("gini_den"))
  }

  /** Exact equi-DEPTH histogram — `buckets` bins holding (as near as
    * integer arithmetic allows) equal ROW counts, with each bin's
    * exact [min, max] value range: the distribution summary
    * [[histogramQuantiles]]' fixed value grid can't give on skewed
    * data (one hot value range swallows every fixed-width bin; depth
    * bins instead show WHERE the mass sits). Bin rule: a row of
    * global rank r (1-based, (value, arbitrary-within-ties) order)
    * lands in bin (r−1)·buckets div n — deterministic even though tie
    * ranks are arbitrary, because tied rows are interchangeable: any
    * permutation within a tie block puts the same VALUE multiset in
    * every bin, and only (count, min, max) are emitted.
    *
    * Shape: global ranks through [[Prefix.runningTotal]]'s range
    * exchange (never a one-partition window), the row count attached
    * by broadcast (house totals pattern), one map-side-combined
    * group-by-bin. NULL values excluded.
    *
    * @return (bucket, n, min_v, max_v) — bucket 0-based, ≤ `buckets`
    *   rows
    */
  def equiDepthHistogram(
      df: DataFrame,
      valueCol: org.apache.spark.sql.Column,
      buckets: Int): DataFrame = {
    require(buckets >= 1 && buckets <= 100000,
      s"buckets must be in [1, 100000], got $buckets")
    val bias = 1L << 62
    val base = df.select(valueCol.cast("long").as("v"))
      .filter(col("v").isNotNull)
      // same domain guard as aucExact/percentileNormalize: the biased
      // hex encoding below mis-orders values outside (−2^62, 2^62)
      .withColumn("v",
        when(abs(col("v")) < lit(bias), col("v")).otherwise(raise_error(
          concat(lit("equiDepthHistogram values must be in " +
            "(-2^62, 2^62), got "), col("v")))))
      .withColumn("__one", lit(1L))
      // fixed-width encode with a 2^62 bias so negative values sort
      // correctly as strings (the percentileNormalize trick)
      .withColumn("__ord",
        format_string("%016x", col("v") + lit(bias)))
    val ranked = Prefix.runningTotal(base, orderCol = "__ord",
      valueCol = "__one", outCol = "rank")
    val n = ranked.agg(count(lit(1)).as("__n"))
    ranked.crossJoin(broadcast(n))
      .withColumn("bucket", expr(s"((rank - 1) * ${buckets}L) div __n"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"), min(col("v")).as("min_v"),
        max(col("v")).as("max_v"))
  }

  /** Half-life-decayed activity score per key — "how active is this
    * key RECENTLY", the recency-weighted aggregate a freshness-aware
    * sampler or source-health dashboard wants where a plain sum
    * counts five-year-old rows equally. EXACT by construction: each
    * row contributes floor(v·2^20 / 2^(age/halfLife)) via a right
    * shift — per-element floors then an integer SUM, so the result is
    * order-independent and map-side combinable (contrast a float
    * exp(−λ·age) sum, which is neither). "Now" is the corpus max
    * timestamp (deterministic replay — wall clock would unfix the
    * output); age buckets are whole half-lives, shifts ≥ 63 clamp to
    * 0 (they are 0 mathematically; the clamp keeps JVM shift
    * semantics, which wrap at 64, out of the result). Values must be
    * non-negative (shift is floor only there) — loud, never silent.
    *
    * Shape: one 1-row max-ts aggregate broadcast back (the house
    * totals pattern), then a single map-side-combined groupBy — two
    * narrow exchanges at any scale.
    *
    * @return (key, n_events, raw_sum, score_fx) — score_fx 2^20-scaled
    */
  def halfLifeScore(
      df: DataFrame,
      keyCol: org.apache.spark.sql.Column,
      tsCol: org.apache.spark.sql.Column,
      valueCol: org.apache.spark.sql.Column,
      halfLifeDays: Int = 7): DataFrame = {
    require(halfLifeDays >= 1, s"halfLifeDays must be >= 1, got $halfLifeDays")
    val base = df.select(keyCol.as("key"), tsCol.as("__ts"),
        valueCol.cast("long").as("v"))
      .filter(col("key").isNotNull && col("__ts").isNotNull &&
        col("v").isNotNull)
      .withColumn("v", when(col("v") >= 0, col("v"))
        .otherwise(raise_error(concat(
          lit("halfLifeScore values must be non-negative, got "),
          col("v")))))
      .withColumn("__us", expr("unix_micros(__ts)"))
    val now = base.agg(max(col("__us")).as("__mx"))
    base.crossJoin(broadcast(now))
      .withColumn("__age",
        expr(s"(__mx - __us) div ${86400000000L * halfLifeDays}L"))
      .withColumn("__w", when(col("__age") >= 63, 0L)
        .otherwise(expr("shiftright(v * 1048576L, cast(__age AS INT))")))
      .groupBy("key")
      .agg(count(lit(1)).as("n_events"), sum(col("v")).as("raw_sum"),
        sum(col("__w")).as("score_fx"))
  }

  /** Per-group percentile (rank) normalization —
    * [[percentileNormalize]]'s exact (rank−1)·2^20 div (n−1) statistic
    * computed WITHIN each group: the cross-source score calibration
    * ("is this doc good *for its source*?") that a global percentile
    * erases when sources have different score distributions. Grouping
    * supplies the parallelism the global form gets from the range
    * exchange (the aucExactByGroup discipline): ONE window shuffle on
    * the group key, each group's sorted run scanned once for both the
    * rank and the group size. A single hot group costs its sorted run
    * — for a single giant group use the global form's range exchange.
    * Single-member groups emit pct_fx = 0 (den floors at 1).
    *
    * @return (g, id, s, rank, pct_fx), rank 1-based within group under
    *   the (s, id) total order
    */
  def percentileNormalizeByGroup(
      df: DataFrame,
      groupCol: org.apache.spark.sql.Column,
      idCol: org.apache.spark.sql.Column,
      scoreCol: org.apache.spark.sql.Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = df.select(groupCol.as("g"), idCol.cast("long").as("id"),
        scoreCol.cast("long").as("s"))
      .filter(col("g").isNotNull && col("id").isNotNull &&
        col("s").isNotNull)
    val w = Window.partitionBy(col("g"))
      .orderBy(col("s").asc, col("id").asc)
    base
      .withColumn("rank", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(Window.partitionBy(col("g"))))
      .select(col("g"), col("id"), col("s"), col("rank").cast("long")
          .as("rank"),
        expr("((rank - 1) * 1048576L) div greatest(__n - 1, 1L)")
          .as("pct_fx"))
  }

  /** EXACT robust location/scale per group — lower median and MAD
    * (median absolute deviation), the outlier-proof complement of
    * mean/stddev profiling: one fat-finger value moves a mean
    * arbitrarily but moves the median at most one order statistic,
    * and robust-z = (x − median)/MAD is the standard screen for
    * sensor glitches and price-feed spikes. Exact by construction:
    * "median" is the LOWER median — the element of rank
    * (n+1) div 2 under the value order — a kth order statistic, so
    * tie permutations cannot change it (no float interpolation, the
    * equiDepthHistogram argument); MAD is the same statistic over
    * |v − median|.
    *
    * Shape: per-group ranks through [[Prefix.rankByGroup]]'s
    * (group, value) RANGE exchange — NEVER a
    * `partitionBy(g).orderBy(v)` window, whose per-group single-task
    * sort caps parallelism at the group count (5 event types = 5
    * tasks on a 1000-executor cluster). Two range exchanges (value
    * order, then deviation order), group-sized broadcast joins for
    * the target ranks, and the median/MAD read off as the rank-k row
    * directly (rank is unique within a group, so `rn = k` selects
    * exactly the k-th order statistic — tie permutations can move
    * WHICH row carries rank k but not the value at it). The group
    * table must broadcast — with millions of small groups use the
    * window form instead (grouping then supplies the parallelism).
    *
    * @return (g, n, median, mad) — all longs, exact
    */
  def robustStatsByGroup(
      df: DataFrame,
      groupCol: org.apache.spark.sql.Column,
      valueCol: org.apache.spark.sql.Column): DataFrame = {
    val base = df.select(groupCol.as("g"),
        valueCol.cast("long").as("v"))
      .filter(col("g").isNotNull && col("v").isNotNull)
    val r1 = Prefix.rankByGroup(base, "g", "v", "__rn")
    // group-sized (eager, so the corpus-sized ranked table is
    // scanned once per derived table, not once per plan reference)
    val cnt = r1.groupBy(col("g")).agg(count(lit(1)).as("n"))
      .withColumn("__k", expr("(n + 1) div 2"))
      .localCheckpoint(true)
    val med = r1.join(broadcast(cnt), Seq("g"))
      .filter(col("__rn") === col("__k"))
      .select(col("g"), col("v").as("median"))
      .localCheckpoint(true)
    val dev = r1.join(broadcast(med), Seq("g"))
      .select(col("g"), abs(col("v") - col("median")).as("d"))
    val r2 = Prefix.rankByGroup(dev, "g", "d", "__rnd")
    val mad = r2.join(broadcast(cnt), Seq("g"))
      .filter(col("__rnd") === col("__k"))
      .select(col("g"), col("d").as("mad"))
    cnt.select(col("g"), col("n"))
      .join(med, Seq("g")).join(mad, Seq("g"))
      .select(col("g"), col("n"), col("median"), col("mad"))
  }

  /** EXACT two-sample Kolmogorov–Smirnov statistic — the UNBINNED
    * companion of [[psiBins]]: D = max over the joint support of
    * |F̂_a(v) − F̂_b(v)|, the CDF distance that needs no bin-width
    * choice and catches shape shifts PSI's bins can wash out. Kept
    * exact as the integer fraction
    *
    *   ks_num = max_v |cum_a(v)·N_b − cum_b(v)·N_a|,  ks_den = N_a·N_b
    *
    * (division left to the consumer — the assortativity/keySkew
    * discipline). Values must be in (−2^62, 2^62) (the biased hex
    * order encoding, loud) and N_a·N_b must fit a long — ~3e9 rows
    * per side before sampling upstream, checked loudly at runtime.
    *
    * Degenerate shapes match the SQL replay exactly: both sides
    * empty → ZERO rows (the oracle's `FROM c, t` over an empty
    * support); one side empty → one (n_a, n_b, 0, 0) row — ks_den =
    * 0 is the in-data signal that D is undefined, loud to any
    * consumer that divides.
    *
    * Shape: one map-side-combined distinct-value count per side, a
    * value-keyed full outer join of the two (distinct-value-sized)
    * tables, then BOTH cumulative sums riding ONE
    * [[Prefix.runningTotals]] range exchange — never a one-partition
    * window, never a second pass — and a 1-row max. Nothing after
    * the counting passes scales with row count, only with distinct
    * values.
    *
    * @return one row (n_a, n_b, ks_num, ks_den); zero rows when both
    *   sides are empty
    */
  def ksStatistic(
      a: DataFrame,
      aScore: org.apache.spark.sql.Column,
      b: DataFrame,
      bScore: org.apache.spark.sql.Column): DataFrame = {
    val bias = 1L << 62
    def side(df: DataFrame, c: org.apache.spark.sql.Column,
        out: String): DataFrame =
      df.select(c.cast("long").as("v"))
        .filter(col("v").isNotNull)
        .withColumn("v",
          when(abs(col("v")) < lit(bias), col("v"))
            .otherwise(raise_error(concat(
              lit("ksStatistic values must be in (-2^62, 2^62), got "),
              col("v")))))
        .groupBy("v").agg(count(lit(1)).as(out))
    val joined = side(a, aScore, "na")
      .join(side(b, bScore, "nb"), Seq("v"), "full_outer")
      .select(col("v"), coalesce(col("na"), lit(0L)).as("na"),
        coalesce(col("nb"), lit(0L)).as("nb"))
      .withColumn("__ord", format_string("%016x", col("v") + lit(bias)))
    val c2 = Prefix.runningTotals(joined, orderCol = "__ord",
      valueCols = Seq("na" -> "cum_a", "nb" -> "cum_b"))
    val totals = c2.agg(sum(col("na")).as("ta"), sum(col("nb")).as("tb"))
    c2.crossJoin(broadcast(totals))
      .select(col("cum_a"), col("cum_b"),
        // loud domain guard: cum·total products must fit a long —
        // 2^62/max(total) bounds the other side. An EMPTY side is
        // not an error (cum_empty = 0, so ks_num = ks_den = 0 falls
        // out, matching the SQL replay); only an overflowing pair is.
        when(col("ta") < 1L || col("tb") < 1L ||
            col("ta").cast("decimal(38,0)") * col("tb") < lit(bias),
          col("ta")).otherwise(raise_error(concat(
            lit("ksStatistic domain: N_a*N_b < 2^62 required, got "),
            col("ta"), lit(" x "), col("tb")))).as("ta"),
        col("tb"))
      .agg(coalesce(max(col("ta")), lit(0L)).as("n_a"),
        coalesce(max(col("tb")), lit(0L)).as("n_b"),
        coalesce(max(abs(col("cum_a") * col("tb") -
          col("cum_b") * col("ta"))), lit(0L)).as("ks_num"),
        coalesce(max(col("ta") * col("tb")), lit(0L)).as("ks_den"))
      // both-sides-empty: the joint support is empty, so the oracle's
      // cumulative CTE emits no rows — mirror that, don't fabricate
      // an all-zero row out of the aggregate-over-nothing
      .filter(col("n_a") + col("n_b") > 0L)
  }

  /** EXACT trimmed mean per group — [[robustStatsByGroup]]'s
    * companion when a robust LOCATION with mean-like efficiency is
    * wanted: drop the lowest and highest `trimBp` basis points by
    * ORDER STATISTIC (lo = n·trimBp div 10⁴ rows off each end — an
    * integer rank rule, so tie permutations cannot change the kept
    * multiset) and average the rest. The metric-pipeline standard for
    * latency/value dashboards where p50 is too crude and the raw
    * mean follows one outlier.
    *
    * Exact: kept sum in DECIMAL(38,0), mean as the 2^20 fixed-point
    * TRUE FLOOR division — quotient minus one when the product is
    * negative with a remainder, so negative trimmed sums replay
    * bit-identically against engines whose `//` floors (Spark's
    * `div` alone truncates toward zero). Groups where trimming would
    * drop everything (n ≤ 2·lo) emit n_kept = 0 and mean_fx = 0 —
    * visible, not silently untrimmed.
    *
    * Shape: per-group ranks through [[Prefix.rankByGroup]]'s
    * (group, value) RANGE exchange — NEVER a
    * `partitionBy(g).orderBy(v)` window, whose single-task group
    * sort caps parallelism at the group count — then one group-sized
    * broadcast join for the cut ranks and one map-side-combined
    * aggregation. The group table must broadcast — with millions of
    * small groups use a window form instead (grouping then supplies
    * the parallelism).
    *
    * @return (g, n, n_kept, sum_kept, mean_fx = floor(sum_kept·2^20
    *   / n_kept))
    */
  def trimmedMeanByGroup(
      df: DataFrame,
      groupCol: org.apache.spark.sql.Column,
      valueCol: org.apache.spark.sql.Column,
      trimBp: Int = 500): DataFrame = {
    require(trimBp >= 0 && trimBp < 5000,
      s"trimBp must be in [0, 5000) basis points, got $trimBp")
    val base = df.select(groupCol.as("g"),
        valueCol.cast("long").as("v"))
      .filter(col("g").isNotNull && col("v").isNotNull)
    // ties in v get an arbitrary rank — harmless: the kept multiset
    // is identical under any tie permutation (the rank rule keeps a
    // count, and tied rows are interchangeable by value)
    val r1 = Prefix.rankByGroup(base, "g", "v", "__rn")
    val cnt = r1.groupBy(col("g")).agg(count(lit(1)).as("n"))
      .withColumn("__lo", expr(s"(n * ${trimBp}L) div 10000L"))
      .localCheckpoint(true)
    r1.join(broadcast(cnt), Seq("g"))
      .groupBy(col("g"))
      .agg(max(col("n")).as("n"),
        coalesce(sum(when(col("__rn") > col("__lo") &&
          col("__rn") <= col("n") - col("__lo"), 1L)), lit(0L))
          .as("n_kept"),
        coalesce(sum(when(col("__rn") > col("__lo") &&
          col("__rn") <= col("n") - col("__lo"),
          col("v").cast("decimal(38,0)"))),
          lit(0L).cast("decimal(38,0)"))
          .as("__sum"))
      .select(col("g"), col("n"), col("n_kept"),
        col("__sum").cast("long").as("sum_kept"),
        // floor, not truncate: negative product with remainder
        // rounds one further down (n_kept > 0, so the product's
        // sign is __sum's sign)
        expr("CASE WHEN n_kept > 0 THEN " +
          "CAST((__sum * 1048576) div n_kept - " +
          "(CASE WHEN __sum < 0 AND " +
          "(__sum * 1048576) % n_kept != 0 THEN 1 ELSE 0 END) " +
          "AS BIGINT) ELSE 0L END")
          .as("mean_fx"))
  }

  /** Population Stability Index between two score samples, per
    * fixed-width bin — the distribution-shift monitor that answers
    * "did this score's SHAPE move between snapshot A and snapshot B"
    * where [[RankFusion]]-style rank metrics need labels and the
    * unit-drift report ([[graft.ops.Sketch]] family) tracks token
    * sets, not numeric shape. Classic gate: PSI < 0.1 stable, > 0.25
    * shifted — computed here in base-2 (log2, not ln: exact via
    * [[graft.functions.Dsir.ilog2Fx]]; multiply by ln 2 ≈ 0.693 to
    * compare against the classic thresholds).
    *
    * EXACT integer form with add-one smoothing (the standard fix for
    * empty-on-one-side bins, and deterministic where an epsilon is
    * float-fragile). With B = number of occupied bins (either side),
    * per-side smoothed counts nas = na+1, nbs = nb+1 and totals
    * NA = Na+B, NB = Nb+B:
    *
    *   delta  = nas·NB − nbs·NA              (sign of pa − pb)
    *   lr_fx  = ilog2Fx(nas·NB) − ilog2Fx(nbs·NA)   (2^20-scaled
    *            log2(pa/pb); same sign as delta, so the product is
    *            non-negative and floor division is exact floor)
    *   contrib_fx = (delta · lr_fx) div (NA·NB)     (2^20-scaled
    *            PSI₂ contribution; Σ over bins = PSI₂_fx)
    *
    * Scores must be non-negative (integer `div` binning truncates
    * toward zero — the calibrationBins guard); ilog2Fx's 2^43 domain
    * bounds each side at ~2^21 smoothed rows — sample upstream
    * ([[Sampling.sampleByHash]]) past ~2M rows per side. Both guards
    * loud.
    *
    * Shape: one map-side-combined bin count per side, a bin-keyed
    * full outer join of two bin-sized tables, 1-row totals broadcast
    * back (the house totals pattern), then a typed map over the
    * BIN-SIZED result for the exact log kernel (post-aggregation, so
    * codegen loss is irrelevant). Nothing scales with row count after
    * the two counting passes.
    *
    * @return (bin, bin_lo, n_a, n_b, delta, lr_fx, contrib_fx) —
    *   one row per bin occupied on either side
    */
  def psiBins(
      a: DataFrame,
      aScore: org.apache.spark.sql.Column,
      b: DataFrame,
      bScore: org.apache.spark.sql.Column,
      binWidth: Long): DataFrame = {
    require(binWidth > 0, s"binWidth must be positive, got $binWidth")
    def side(df: DataFrame, c: org.apache.spark.sql.Column,
        out: String): DataFrame =
      df.select(c.cast("long").as("s"))
        .filter(col("s").isNotNull)
        .withColumn("s", when(col("s") >= 0, col("s"))
          .otherwise(raise_error(concat(
            lit("psiBins scores must be non-negative, got "), col("s")))))
        .groupBy(expr(s"s div ${binWidth}L").as("bin"))
        .agg(count(lit(1)).as(out))
    val joined = side(a, aScore, "n_a")
      .join(side(b, bScore, "n_b"), Seq("bin"), "full_outer")
      .select(col("bin"), coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"))
      // bin-sized — materialized eagerly so the totals aggregate and
      // the scored select share ONE counting pass per side (lazy,
      // both corpus scans ran twice). localCheckpoint, not .cache():
      // the ContextCleaner frees the blocks once the result is
      // dropped, where a .cache() entry pins the session cache until
      // someone remembers to unpersist
      .localCheckpoint(true)
    val totals = joined.agg(count(lit(1)).as("nbins"),
      sum(col("n_a")).as("ta"), sum(col("n_b")).as("tb"))
    val spark = a.sparkSession
    import spark.implicits._
    joined.crossJoin(broadcast(totals))
      .select(col("bin"), col("n_a"), col("n_b"),
        col("nbins"), col("ta"), col("tb"))
      .as[(Long, Long, Long, Long, Long, Long)]
      .map { case (bin, na, nb, nbins, ta, tb) =>
        import graft.functions.Dsir.ilog2Fx
        val (nas, nbs) = (na + 1L, nb + 1L)
        val (tA, tB) = (ta + nbins, tb + nbins)
        val x = Math.multiplyExact(nas, tB)
        val y = Math.multiplyExact(nbs, tA)
        require(x < (1L << 43) && y < (1L << 43),
          s"psiBins domain: smoothed count x total must stay under " +
            s"2^43 (got $x, $y) — sample each side under ~2M rows")
        val delta = Math.subtractExact(x, y)
        val lr = ilog2Fx(x) - ilog2Fx(y)
        val contrib = (BigInt(delta) * BigInt(lr) /
          (BigInt(tA) * BigInt(tB))).toLong
        (bin, bin * binWidth, na, nb, delta, lr, contrib)
      }
      .toDF("bin", "bin_lo", "n_a", "n_b", "delta", "lr_fx",
        "contrib_fx")
  }

  /** EXACT Benford leading-digit profile per group — the classic
    * fabricated-numbers / broken-extraction detector: naturally
    * occurring magnitudes (prices, populations, file sizes) put
    * leading digit d on a share of log10(1 + 1/d), while generated,
    * truncated, or unit-mangled columns do not. Per (group, digit
    * 1..9), observed count n_d against the Benford expectation, the
    * deviation kept as ONE exact integer:
    *
    *   dev_fx = n_d·L(10) − n·(L(d+1) − L(d))       L = ilog2Fx
    *
    * — observed-minus-expected scaled by log2(10)·2^20, positive =
    * over-represented; a group's total-variation distance from
    * Benford is Σ_d |dev_fx| / (2·n·L(10)) in the consumer's float
    * space (the no-division-in-data [[cohenKappa]] precedent). The
    * log constants are [[graft.functions.Dsir.ilog2Fx]] values of
    * the integers 1..10 — pure driver arithmetic, no Spark job, and
    * the oracle recomputes them with the same squaring loop. In-data
    * invariant: Σ_d dev_fx = 0 EXACTLY per group (the deltas
    * telescope to L(10) − L(1) = L(10)) — a checksum any consumer
    * can assert.
    *
    * Rows with v < 1 are excluded (Benford is about positive
    * magnitudes; zero/negative have no leading digit). Every (group,
    * digit) cell is emitted — absent digits appear with n_d = 0 via
    * the digit spine (a missing digit IS the anomaly). Loud domain:
    * per-group n < 2^39 keeps n_d·L(10) ≤ 2^39·2^21.8 inside a long.
    *
    * Shape: one map-side-combined (g, digit) count, a group-sized
    * spine cross join, pure column arithmetic — nothing past the
    * count scales with row volume. Parallelism source: the map-side
    * count.
    *
    * @return (g, d, n_d, n, dev_fx) — 9 rows per group
    */
  def benfordDigits(
      df: DataFrame,
      groupCol: org.apache.spark.sql.Column,
      valueCol: org.apache.spark.sql.Column): DataFrame = {
    val L = (1 to 10).map(d => graft.functions.Dsir.ilog2Fx(d.toLong))
    val l10 = L(9)
    // delta(d) = L(d+1) − L(d) for d = 1..9, as a CASE column
    val deltas = (1 to 9).map(d => (d, L(d) - L(d - 1)))
    val counts = df
      .select(groupCol.as("g"), valueCol.cast("long").as("v"))
      .filter(col("g").isNotNull && col("v").isNotNull && col("v") >= 1L)
      .withColumn("d", substring(col("v").cast("string"), 1, 1)
        .cast("int"))
      .groupBy("g", "d").agg(count(lit(1)).as("n_d"))
    val totals = counts.groupBy("g").agg(sum(col("n_d")).as("n"))
      .withColumn("n", when(col("n") < lit(1L << 39), col("n"))
        .otherwise(raise_error(concat(
          lit("benfordDigits domain is n < 2^39 per group, got "),
          col("n")))))
    val spine = totals.withColumn("d",
      explode(array((1 to 9).map(d => lit(d)): _*)))
    spine.join(counts, Seq("g", "d"), "left")
      .withColumn("n_d", coalesce(col("n_d"), lit(0L)))
      .withColumn("__delta",
        deltas.tail.foldLeft(when(col("d") === deltas.head._1,
            lit(deltas.head._2))) { case (acc, (d, dl)) =>
          acc.when(col("d") === d, lit(dl))
        })
      .select(col("g"), col("d"), col("n_d"), col("n"),
        (col("n_d") * lit(l10) - col("n") * col("__delta"))
          .as("dev_fx"))
  }

  /** EXACT Fleiss kappa — [[cohenKappa]]'s multi-rater
    * generalization: chance-corrected agreement when EVERY item gets
    * the same number n of categorical judgments (n raters, or n
    * model/heuristic judges — the LLM-judge ensemble case). With
    * per-(item, category) counts n_ij, N items, S1 = Σ n_ij²,
    * category totals C_j and S2 = Σ C_j²:
    *
    *   kappa_num = (S1 − N·n)·N·n − S2·(n − 1)
    *   kappa_den = (n − 1)·(N²·n² − S2)
    *
    * (the closed form of (P̄ − P̄e)/(1 − P̄e) with both sides
    * multiplied through — the division is deliberately NOT performed,
    * the [[cohenKappa]] precedent; perfect universal agreement on one
    * category makes den 0, the visible "undefined" signal).
    *
    * Loud domains: every item must carry exactly the same judgment
    * count (a missing judgment silently biases P̄ — raise instead),
    * and N·n < 2^31 keeps N²n² inside a long. One judgment per
    * (item, rater) is the caller's contract (duplicates count twice).
    *
    * Shape: one (item, category) count (map-side combined), one
    * item-sized rollup, one category-sized rollup, a 1-row join.
    * Parallelism source: the counting passes.
    *
    * @return one row (n_items, n_raters, s1, s2, kappa_num, kappa_den);
    *   zero rows on empty input
    */
  def fleissKappa(
      df: DataFrame,
      itemCol: org.apache.spark.sql.Column,
      raterCol: org.apache.spark.sql.Column,
      categoryCol: org.apache.spark.sql.Column): DataFrame = {
    val r = df.select(itemCol.as("i"), raterCol.as("r"),
        categoryCol.cast("string").as("c"))
      .filter(col("i").isNotNull && col("r").isNotNull &&
        col("c").isNotNull)
    val nij = r.groupBy("i", "c").agg(count(lit(1)).as("m"))
      .localCheckpoint(true)
    val per = nij.groupBy("i")
      .agg(sum(col("m")).as("ri"),
        sum(col("m") * col("m")).as("s1i"))
    val head = per.agg(count(lit(1)).as("n_items"),
        min(col("ri")).as("__rmin"), max(col("ri")).as("__rmax"),
        sum(col("s1i")).as("s1"))
      .filter(col("n_items") > 0L)
      .withColumn("n_raters",
        when(col("__rmin") === col("__rmax"), col("__rmin"))
          .otherwise(raise_error(concat(
            lit("fleissKappa needs an equal judgment count per item, " +
              "got min "), col("__rmin"), lit(" max "), col("__rmax")))))
      .withColumn("n_raters",
        when(col("n_items") * col("n_raters") < lit(1L << 31),
          col("n_raters"))
        .otherwise(raise_error(concat(
          lit("fleissKappa domain is N*n < 2^31, got "),
          col("n_items") * col("n_raters")))))
    val s2 = nij.groupBy("c").agg(sum(col("m")).as("cj"))
      .agg(coalesce(sum((col("cj") * col("cj")).cast("decimal(38,0)")),
        lit(0L).cast("decimal(38,0)")).as("s2"))
    // num/den ride DECIMAL(38,0) (N²n³ can pass 2^63 inside the N·n <
    // 2^31 domain); the final long cast throws loudly on overflow
    head.crossJoin(s2)
      .withColumn("__nn",
        (col("n_items") * col("n_raters")).cast("decimal(38,0)"))
      .select(col("n_items"), col("n_raters"), col("s1"),
        col("s2").cast("long").as("s2"),
        ((col("s1").cast("decimal(38,0)") - col("__nn")) * col("__nn")
          - col("s2") * (col("n_raters") - 1L))
          .cast("long").as("kappa_num"),
        ((col("n_raters") - 1L).cast("decimal(38,0)") *
          (col("__nn") * col("__nn") - col("s2")))
          .cast("long").as("kappa_den"))
  }
}
