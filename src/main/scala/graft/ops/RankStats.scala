package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Exact per-group ORDER-STATISTIC profiling — the family
  * [[Profile.robustStatsByGroup]] and [[Profile.trimmedMeanByGroup]]
  * started, completed: quantile vectors, winsorized means, Gini
  * concentration, Tukey-fence outlier counts. Every operator here
  * states its parallelism source (the round-16 lesson): per-group
  * ranks come from [[Prefix.rankByGroup]]'s (group, value) RANGE
  * exchange — a handful of giant groups still spreads over the whole
  * cluster — and the group-summary tables ride group-sized broadcast
  * joins. With millions of tiny groups use window forms instead
  * (grouping then supplies the parallelism); these are the
  * few-giant-groups shapes. The ranked table is a plain DataFrame:
  * every read of it re-reads the one range shuffle (no second
  * exchange, no persist to release), and only the group-sized tables
  * derived from it are checkpointed.
  *
  * All statistics are exact-integer (rank rules + decimal sums +
  * explicit floor division), so a SQL engine replays them
  * bit-for-bit — the repo-wide oracle discipline.
  */
object RankStats {

  private def basePairs(df: DataFrame, groupCol: Column,
      valueCol: Column): DataFrame =
    df.select(groupCol.as("g"), valueCol.cast("long").as("v"))
      .filter(col("g").isNotNull && col("v").isNotNull)

  /** EXACT quantile vector per group — the value at rank
    * ceil(n·q/10⁴), floored at 1, for each requested q (basis
    * points, 0..10000) — the inverse-CDF (type-1) convention, so
    * q=5000 is the lower median ((n+1) div 2) and q=10000 the max.
    * The per-group generalization of [[Profile.equiDepthHistogram]]'s
    * rank discipline: order statistics, never float interpolation,
    * so the oracle replays each cell exactly.
    *
    * Shape: ONE [[Prefix.rankByGroup]] range exchange over (g, v);
    * the (group × quantile)-sized target-rank table broadcasts back
    * onto the ranked stream ("rank = k" selects exactly one row per
    * cell). Parallelism source: the range exchange — never a
    * per-group window sort.
    *
    * @return (g, q_bp, n, value) — one row per (group, quantile)
    */
  def quantilesByGroup(
      df: DataFrame,
      groupCol: Column,
      valueCol: Column,
      qsBp: Seq[Int]): DataFrame = {
    require(qsBp.nonEmpty, "quantilesByGroup needs >= 1 quantile")
    require(qsBp.forall(q => q >= 0 && q <= 10000),
      s"quantiles are basis points in [0, 10000], got $qsBp")
    require(qsBp.distinct.size == qsBp.size,
      s"duplicate quantiles: $qsBp")
    val base = basePairs(df, groupCol, valueCol)
    val r1 = Prefix.rankByGroup(base, "g", "v", "__rn")
    val ks = r1.groupBy(col("g")).agg(count(lit(1)).as("n"))
      .withColumn("q_bp",
        explode(array(qsBp.map(q => lit(q.toLong)): _*)))
      .withColumn("__k", expr(
        "greatest(1L, (n * q_bp + 9999L) div 10000L)"))
      .select(col("g").as("__gk"), col("q_bp"), col("n"), col("__k"))
      .localCheckpoint(true)
    r1.join(broadcast(ks),
        r1("g") === ks("__gk") && r1("__rn") === ks("__k"))
      .select(col("g"), col("q_bp"), col("n"), col("v").as("value"))
  }

  /** EXACT winsorized mean per group — [[Profile.trimmedMeanByGroup]]'s
    * sibling that CLAMPS instead of dropping: the lowest `trimBp`
    * basis points of rows (lo = n·trimBp div 10⁴ of them) take the
    * value at rank lo+1, the highest lo take the value at rank n−lo,
    * and the mean runs over all n rows — the robust location that
    * keeps sample size (and so pairs with variance-style downstreams
    * where the trimmed form changes n). Integer rank rules
    * throughout; sum in DECIMAL(38,0); mean as the 2^20 fixed-point
    * TRUE FLOOR division (negative sums replay bit-identically).
    *
    * Shape: ONE [[Prefix.rankByGroup]] range exchange; the clamp
    * values come off the ranked stream by rank equality and broadcast
    * back group-sized; one map-side-combined aggregation finishes.
    * Parallelism source: the range exchange.
    *
    * @return (g, n, lo, v_lo, v_hi, sum_w, mean_fx =
    *   floor(sum_w·2^20 / n))
    */
  def winsorizedMeanByGroup(
      df: DataFrame,
      groupCol: Column,
      valueCol: Column,
      trimBp: Int = 500): DataFrame = {
    require(trimBp >= 0 && trimBp < 5000,
      s"trimBp must be in [0, 5000) basis points, got $trimBp")
    val base = basePairs(df, groupCol, valueCol)
    val r1 = Prefix.rankByGroup(base, "g", "v", "__rn")
    val cnt = r1.groupBy(col("g")).agg(count(lit(1)).as("n"))
      .withColumn("__lo", expr(s"(n * ${trimBp}L) div 10000L"))
      .localCheckpoint(true)
    // clamp values: rank lo+1 (low fence) and rank n-lo (high
    // fence); trimBp < 5000 guarantees lo+1 <= n-lo, both exist
    val fences = r1.join(broadcast(cnt), Seq("g"))
      .filter(col("__rn") === col("__lo") + 1L ||
        col("__rn") === col("n") - col("__lo"))
      .groupBy(col("g"))
      .agg(max(when(col("__rn") === col("__lo") + 1L, col("v")))
          .as("v_lo"),
        max(when(col("__rn") === col("n") - col("__lo"), col("v")))
          .as("v_hi"))
      .localCheckpoint(true)
    r1.join(broadcast(cnt), Seq("g"))
      .join(broadcast(fences), Seq("g"))
      .groupBy(col("g"))
      .agg(max(col("n")).as("n"), max(col("__lo")).as("lo"),
        max(col("v_lo")).as("v_lo"), max(col("v_hi")).as("v_hi"),
        sum(greatest(least(col("v"), col("v_hi")), col("v_lo"))
          .cast("decimal(38,0)")).as("__sum"))
      .select(col("g"), col("n"), col("lo"), col("v_lo"), col("v_hi"),
        col("__sum").cast("long").as("sum_w"),
        // TRUE floor (n > 0 by construction): negative sums round
        // toward -inf; the oracle replays the same floor correction
        // explicitly (DuckDB's // truncates like Spark's div)
        expr("CAST((__sum * 1048576) div n - " +
          "(CASE WHEN __sum < 0 AND (__sum * 1048576) % n != 0 " +
          "THEN 1 ELSE 0 END) AS BIGINT)").as("mean_fx"))
  }

  /** EXACT two-sample Mann–Whitney U — the RANK-based companion of
    * [[Profile.ksStatistic]]: where KS asks "did the CDF move
    * anywhere", U asks "does one sample stochastically dominate",
    * the standard nonparametric location test when normality is off
    * the table. Midranks handle ties, kept exact by DOUBLING: with
    * per-distinct-value counts (na_v, nb_v) and cum-before c_v,
    * 2·midrank = 2·c_v + (na_v + nb_v) + 1, so
    *
    *   u2_a = Σ_v na_v·(2·c_v + na_v + nb_v + 1) − n_a·(n_a+1)
    *
    * is exactly 2·U_a (and u2_a + u2_b = 2·n_a·n_b — the classic
    * identity, an in-data invariant). Values must be in (−2^62,
    * 2^62) (the ksStatistic order-encoding guard) and n_a + n_b <
    * 2^31 so every doubled rank product fits a long — both loud.
    *
    * Degenerate shapes mirror the SQL replay: both sides empty →
    * ZERO rows; one side empty → u2 = 0 on both sides (U over an
    * empty comparison set), n columns telling the caller which.
    *
    * Shape: one map-side-combined distinct-value count per side, a
    * value-keyed full outer join (distinct-value-sized), both
    * cumulative sums on ONE [[Prefix.runningTotals]] range exchange,
    * a 1-row aggregate. Nothing after the counting passes scales
    * with row count.
    *
    * @return one row (n_a, n_b, u2_a, u2_b); zero rows when both
    *   sides are empty
    */
  def mannWhitneyU(
      a: DataFrame,
      aScore: Column,
      b: DataFrame,
      bScore: Column): DataFrame = {
    val bias = 1L << 62
    def side(df: DataFrame, c: Column, out: String): DataFrame =
      df.select(c.cast("long").as("v"))
        .filter(col("v").isNotNull)
        .withColumn("v",
          when(abs(col("v")) < lit(bias), col("v"))
            .otherwise(raise_error(concat(
              lit("mannWhitneyU values must be in (-2^62, 2^62), got "),
              col("v")))))
        .groupBy("v").agg(count(lit(1)).as(out))
    val joined = side(a, aScore, "na")
      .join(side(b, bScore, "nb"), Seq("v"), "full_outer")
      .select(col("v"), coalesce(col("na"), lit(0L)).as("na"),
        coalesce(col("nb"), lit(0L)).as("nb"))
      .withColumn("__ord", format_string("%016x", col("v") + lit(bias)))
    val c = Prefix.runningTotals(joined, orderCol = "__ord",
      valueCols = Seq("na" -> "cum_a", "nb" -> "cum_b"))
    val totals = c.agg(sum(col("na")).as("ta"), sum(col("nb")).as("tb"))
    c.crossJoin(broadcast(totals))
      .select(col("na"), col("nb"),
        // cum BEFORE this value, both sides pooled
        (col("cum_a") + col("cum_b") - col("na") - col("nb")).as("cb"),
        // loud domain guard: pooled n < 2^31 keeps every doubled
        // rank product (≤ n·(2n+1)) inside a long
        when(coalesce(col("ta"), lit(0L)) +
            coalesce(col("tb"), lit(0L)) < lit(1L << 31), col("ta"))
          .otherwise(raise_error(concat(
            lit("mannWhitneyU domain: n_a + n_b < 2^31 required, got "),
            col("ta"), lit(" + "), col("tb")))).as("ta"),
        col("tb"))
      .agg(coalesce(max(col("ta")), lit(0L)).as("n_a"),
        coalesce(max(col("tb")), lit(0L)).as("n_b"),
        coalesce(sum(col("na") * (lit(2L) * col("cb") + col("na") +
          col("nb") + lit(1L))), lit(0L)).as("__r2a"),
        coalesce(sum(col("nb") * (lit(2L) * col("cb") + col("na") +
          col("nb") + lit(1L))), lit(0L)).as("__r2b"))
      .select(col("n_a"), col("n_b"),
        (col("__r2a") - col("n_a") * (col("n_a") + 1L)).as("u2_a"),
        (col("__r2b") - col("n_b") * (col("n_b") + 1L)).as("u2_b"))
      // both-sides-empty: empty joint support → zero rows, like the
      // oracle's FROM c, t over an empty c
      .filter(col("n_a") + col("n_b") > 0L)
  }

  /** EXACT WEIGHTED quantiles per group — the value where the
    * group's cumulative WEIGHT first reaches q of the total, for
    * each requested q (basis points): "the p50 document length
    * weighted by tokens", "the latency below which half the traffic
    * volume sits" — the statistic unweighted quantiles misstate
    * whenever rows carry unequal mass. Threshold = ceil(W·q/10⁴)
    * (floored at 1 weight unit), and the answer is the value of the
    * CROSSING row (cum ≥ thresh, cum − w < thresh): weights are
    * required positive, so exactly one row crosses each threshold,
    * and because ties in v share a value, the crossing VALUE is
    * deterministic whatever order ties accumulate in — the oracle
    * replays it with any per-row cumulative order.
    *
    * Loud domains: w > 0 (zero-weight rows could never be selected
    * and would make "the" crossing row ambiguous); group total
    * W < 2^49 so W·10⁴ stays inside a long (aggregate upstream or
    * scale weights down past that).
    *
    * Shape: per-group running weights through
    * [[Prefix.runningTotalsByGroup]]'s (group, value) range
    * exchange; the (group × quantile)-sized threshold table
    * broadcasts back; the crossing filter selects one row per cell.
    * Parallelism source: the range exchange.
    *
    * @return (g, q_bp, n, w_total, value)
    */
  def weightedQuantilesByGroup(
      df: DataFrame,
      groupCol: Column,
      valueCol: Column,
      weightCol: Column,
      qsBp: Seq[Int]): DataFrame = {
    require(qsBp.nonEmpty, "weightedQuantilesByGroup needs >= 1 quantile")
    require(qsBp.forall(q => q >= 0 && q <= 10000),
      s"quantiles are basis points in [0, 10000], got $qsBp")
    require(qsBp.distinct.size == qsBp.size, s"duplicate quantiles: $qsBp")
    val base = df.select(groupCol.as("g"), valueCol.cast("long").as("v"),
        weightCol.cast("long").as("w"))
      .filter(col("g").isNotNull && col("v").isNotNull &&
        col("w").isNotNull)
      .withColumn("w", when(col("w") > 0L, col("w"))
        .otherwise(raise_error(concat(
          lit("weightedQuantilesByGroup weights must be positive, got "),
          col("w")))))
    val r1 = Prefix.runningTotalsByGroup(base, "g", "v",
        Seq("w" -> "__cumw"))
    val ks = r1.groupBy(col("g"))
      .agg(count(lit(1)).as("n"), sum(col("w")).as("w_total"))
      .withColumn("w_total",
        when(col("w_total") < lit(1L << 49), col("w_total"))
          .otherwise(raise_error(concat(
            lit("weightedQuantilesByGroup group weight must stay " +
              "under 2^49, got "), col("w_total")))))
      .withColumn("q_bp",
        explode(array(qsBp.map(q => lit(q.toLong)): _*)))
      .withColumn("__thresh", expr(
        "greatest(1L, (w_total * q_bp + 9999L) div 10000L)"))
      .select(col("g").as("__gk"), col("q_bp"), col("n"),
        col("w_total"), col("__thresh"))
      .localCheckpoint(true)
    r1.join(broadcast(ks), r1("g") === ks("__gk") &&
        r1("__cumw") >= ks("__thresh") &&
        r1("__cumw") - r1("w") < ks("__thresh"))
      .select(col("g"), col("q_bp"), col("n"), col("w_total"),
        col("v").as("value"))
  }

  /** EXACT Gini concentration per group — "how unequal are the
    * values" for non-negative quantities (token counts per host,
    * revenue per user): with per-group ascending rank i over n rows
    * summing to S,
    *
    *   G = (2·Σ i·v_i − (n+1)·S) / (n·S)
    *
    * kept as the integer fraction (gini_num, gini_den) — division
    * left to the consumer, the assortativity/keySkew discipline.
    * Tie-safe by construction: tied values are interchangeable, and
    * Σ i·v over a tie run is v·Σi whatever the permutation. Values
    * must be NON-NEGATIVE (Gini is undefined below zero — loud);
    * all-zero groups emit gini_den = 0, the in-data "undefined"
    * signal. Sums ride DECIMAL(38,0) and cast back loudly (ANSI).
    *
    * Shape: ONE [[Prefix.rankByGroup]] range exchange, one
    * map-side-combined aggregation. Parallelism source: the range
    * exchange.
    *
    * @return (g, n, sum_v, gini_num, gini_den)
    */
  def giniByGroup(
      df: DataFrame,
      groupCol: Column,
      valueCol: Column): DataFrame = {
    val base = basePairs(df, groupCol, valueCol)
      .withColumn("v", when(col("v") >= 0L, col("v"))
        .otherwise(raise_error(concat(
          lit("giniByGroup values must be non-negative, got "),
          col("v")))))
    val r1 = Prefix.rankByGroup(base, "g", "v", "__rn")
    r1.groupBy(col("g"))
      .agg(count(lit(1)).as("n"),
        sum(col("v").cast("decimal(38,0)")).as("__s"),
        sum((col("__rn") * col("v")).cast("decimal(38,0)")).as("__t"))
      .select(col("g"), col("n"), col("__s").cast("long").as("sum_v"),
        (lit(2).cast("decimal(38,0)") * col("__t") -
          (col("n") + lit(1)).cast("decimal(38,0)") * col("__s"))
          .cast("long").as("gini_num"),
        ((col("n")).cast("decimal(38,0)") * col("__s"))
          .cast("long").as("gini_den"))
  }

  /** Tukey-fence outlier counts per group — the box-plot rule run
    * exactly: q1 = value at rank ceil(n/4), q3 at rank ceil(3n/4)
    * (the [[quantilesByGroup]] rank convention), and a row is an
    * outlier when it falls more than 1.5·IQR outside the box. Kept
    * integer by DOUBLING the comparison (2·v < 2·q1 − 3·IQR), so no
    * engine disagrees on a .5 boundary. The robust-profiling screen
    * that reads a distribution's tails without a bin-width choice.
    *
    * Shape: ONE [[Prefix.rankByGroup]] range exchange; the (q1, q3)
    * table broadcasts back group-sized; one aggregation counts the
    * fence crossings. Parallelism source: the range exchange.
    *
    * @return (g, n, q1, q3, n_low, n_high)
    */
  def tukeyOutliersByGroup(
      df: DataFrame,
      groupCol: Column,
      valueCol: Column): DataFrame = {
    val base = basePairs(df, groupCol, valueCol)
    val r1 = Prefix.rankByGroup(base, "g", "v", "__rn")
    val cnt = r1.groupBy(col("g")).agg(count(lit(1)).as("n"))
      .withColumn("__k1", expr("greatest(1L, (n * 2500L + 9999L) div 10000L)"))
      .withColumn("__k3", expr("greatest(1L, (n * 7500L + 9999L) div 10000L)"))
      .localCheckpoint(true)
    val quarts = r1.join(broadcast(cnt), Seq("g"))
      .filter(col("__rn") === col("__k1") ||
        col("__rn") === col("__k3"))
      .groupBy(col("g"))
      .agg(max(when(col("__rn") === col("__k1"), col("v"))).as("q1"),
        max(when(col("__rn") === col("__k3"), col("v"))).as("q3"))
      .localCheckpoint(true)
    r1.join(broadcast(cnt.select(col("g"), col("n"))), Seq("g"))
      .join(broadcast(quarts), Seq("g"))
      .groupBy(col("g"))
      .agg(max(col("n")).as("n"), max(col("q1")).as("q1"),
        max(col("q3")).as("q3"),
        coalesce(sum(when(lit(2L) * col("v") <
          lit(2L) * col("q1") - lit(3L) * (col("q3") - col("q1")),
          1L)), lit(0L)).as("n_low"),
        coalesce(sum(when(lit(2L) * col("v") >
          lit(2L) * col("q3") + lit(3L) * (col("q3") - col("q1")),
          1L)), lit(0L)).as("n_high"))
  }

  /** EXACT Kendall tau-b pair counts — the concordance companion of
    * [[Profile.spearman]]: where Spearman correlates RANKS (one
    * outlying rank distance can dominate), tau counts PAIR
    * agreements, the statistic of choice for ordinal scales and
    * heavy ties. Over distinct (x, y) CELLS with multiplicities
    * (ties are the whole point of the cell form — a corpus of
    * quantized scores has few cells however many rows):
    *
    *   conc2 = Σ_{i≠j, sgn(xi−xj)·sgn(yi−yj) = +1} c_i·c_j   (= 2C)
    *   disc2 = likewise −1                                    (= 2D)
    *   denx2 = n(n−1) − Σ_x cx(cx−1),  deny2 = likewise over y
    *
    * and tau_b = (C−D)/√((n0−n1)(n0−n2)) = (conc2−disc2) /
    * √(denx2·deny2) — every count DOUBLED (ordered pairs), so no
    * halving ever divides an odd number. The division/√ is
    * deliberately NOT performed (the [[Profile.cohenKappa]]
    * precedent): consumers divide in their own float space; the four
    * integer counts replay bit-for-bit in any engine.
    *
    * Scale shape: the cell table (≤ `maxCells`, LOUD in-data guard)
    * is the only thing that grows past the map-side count — the
    * classifier is a broadcast nested-loop self-join over cells,
    * O(cells²) with a map-side aggregate, never an all-pairs join
    * over rows. Callers quantize x/y upstream to bound cells (the
    * documented knob); n < 2^31 keeps every doubled product inside
    * DECIMAL(38,0) headroom. Parallelism source: the map-side cell
    * count; the cell self-join is bounded work by construction.
    *
    * @return one row (n, n_cells, conc2, disc2, denx2, deny2); zero
    *   rows when the input is empty
    */
  def kendallTau(
      df: DataFrame,
      xCol: Column,
      yCol: Column,
      maxCells: Int = 1 << 13): DataFrame = {
    require(maxCells >= 1 && maxCells <= (1 << 16),
      s"maxCells must be in [1, 2^16], got $maxCells")
    val cells0 = df.select(xCol.cast("long").as("x"),
        yCol.cast("long").as("y"))
      .filter(col("x").isNotNull && col("y").isNotNull)
      .groupBy("x", "y").agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    val tot = cells0.agg(count(lit(1)).as("nc"),
        coalesce(sum(col("c")), lit(0L)).as("n"))
      .withColumn("nc", when(col("nc") <= maxCells, col("nc"))
        .otherwise(raise_error(concat(lit(
          s"kendallTau cell cap $maxCells exceeded (quantize x/y " +
          "upstream), got "), col("nc")))))
      .withColumn("n", when(col("n") < lit(1L << 31), col("n"))
        .otherwise(raise_error(concat(
          lit("kendallTau domain is n < 2^31, got "), col("n")))))
      .localCheckpoint(true)
    val a = cells0.select(col("x").as("xa"), col("y").as("ya"),
      col("c").as("ca"))
    val b = cells0.select(col("x").as("xb"), col("y").as("yb"),
      col("c").as("cb"))
    val pairs = a.crossJoin(broadcast(b))
      .filter(col("xa") =!= col("xb") || col("ya") =!= col("yb"))
      .withColumn("__s", signum(col("xa") - col("xb")) *
        signum(col("ya") - col("yb")))
      .agg(
        coalesce(sum(when(col("__s") === 1.0,
          (col("ca") * col("cb")).cast("decimal(38,0)"))), lit(0L))
          .cast("decimal(38,0)").as("conc2"),
        coalesce(sum(when(col("__s") === -1.0,
          (col("ca") * col("cb")).cast("decimal(38,0)"))), lit(0L))
          .cast("decimal(38,0)").as("disc2"))
    val tiesX = cells0.groupBy("x").agg(sum(col("c")).as("cx"))
      .agg(coalesce(sum((col("cx") * (col("cx") - 1L))
        .cast("decimal(38,0)")), lit(0L)).cast("decimal(38,0)")
        .as("tx2"))
    val tiesY = cells0.groupBy("y").agg(sum(col("c")).as("cy"))
      .agg(coalesce(sum((col("cy") * (col("cy") - 1L))
        .cast("decimal(38,0)")), lit(0L)).cast("decimal(38,0)")
        .as("ty2"))
    tot.filter(col("n") > 0L)
      .crossJoin(pairs).crossJoin(tiesX).crossJoin(tiesY)
      .select(col("n"), col("nc").as("n_cells"),
        col("conc2").cast("long").as("conc2"),
        col("disc2").cast("long").as("disc2"),
        (col("n").cast("decimal(38,0)") * (col("n") - 1L) - col("tx2"))
          .cast("long").as("denx2"),
        (col("n").cast("decimal(38,0)") * (col("n") - 1L) - col("ty2"))
          .cast("long").as("deny2"))
  }

  /** Cross-group QUANTILE MAPPING — align every group's value
    * distribution onto the POOLED distribution (the rank-based
    * "batch-effect correction" / quantile-normalization move): each
    * distinct (g, v) cell gets its within-group percentile pct_bp =
    * floor(cum·10⁴ / n) (cum = rank of the LAST tie — tie-invariant
    * by construction, since ties share one cell), and maps to the
    * pooled value at rank ceil(N·pct_bp/10⁴) (the type-1 inverse
    * CDF, [[quantilesByGroup]]'s convention). A downstream selecting
    * on `mapped_value` instead of `v` compares documents/events
    * across sources whose raw scales drifted apart.
    *
    * Scale shape: one distinct-cell count (map-side combined), cells'
    * per-group cumulatives through [[Prefix.runningTotalsByGroup]]'s
    * (g, v) range exchange, the pooled cumulative through ONE
    * [[Prefix.runningTotal]] range exchange over the value-distinct
    * table, and the pct → pooled-value dictionary is ≤ 10⁴ rows BY
    * CONSTRUCTION (percentiles are basis points) — it broadcasts
    * whatever the corpus size. Parallelism source: the two range
    * exchanges. Loud domain: pooled N < 2^49 (N·10⁴ in a long).
    *
    * @return (g, v, c, n, pct_bp, mapped_value) — one row per
    *   distinct (group, value) cell
    */
  def quantileMapByGroup(
      df: DataFrame,
      groupCol: Column,
      valueCol: Column): DataFrame = {
    val cells = basePairs(df, groupCol, valueCol)
      .groupBy("g", "v").agg(count(lit(1)).as("c"))
    val withCum =
      Prefix.runningTotalsByGroup(cells, "g", "v", Seq("c" -> "__cum"))
    val ns = withCum.groupBy(col("g"))
      .agg(sum(col("c")).as("n")).localCheckpoint(true)
    val scored = withCum.join(broadcast(ns), Seq("g"))
      .withColumn("pct_bp", expr("(__cum * 10000L) div n"))
    val pooled0 = withCum.groupBy(col("v"))
      .agg(sum(col("c")).as("pc"))
    val pooledN = ns.agg(sum(col("n")).as("N"))
      .withColumn("N", when(col("N") < lit(1L << 49), col("N"))
        .otherwise(raise_error(concat(lit(
          "quantileMapByGroup pooled count must stay under 2^49, " +
          "got "), col("N")))))
      .localCheckpoint(true)
    // the pooled cumulative rides [[Prefix.runningTotal]]'s own
    // distinct-value-sized range exchange; the mapping extracted from
    // it is ≤ 10⁴ rows and checkpointed
    val gcum = Prefix.runningTotal(pooled0, orderCol = "v",
      valueCol = "pc", outCol = "__gcum")
    val pcts = scored.select(col("pct_bp")).distinct()
      .crossJoin(pooledN)
      .withColumn("__k", expr(
        "greatest(1L, (N * pct_bp + 9999L) div 10000L)"))
      .localCheckpoint(true)
    val mapping = gcum.join(broadcast(pcts),
        gcum("__gcum") >= pcts("__k") &&
        gcum("__gcum") - gcum("pc") < pcts("__k"))
      .select(col("pct_bp").as("__pb"), col("v").as("mapped_value"))
      .localCheckpoint(true)
    scored.join(broadcast(mapping), col("pct_bp") === col("__pb"))
      .select(col("g"), col("v"), col("c"), col("n"),
        col("pct_bp"), col("mapped_value"))
  }
}
