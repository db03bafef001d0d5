package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sampling/splitting for training-data pipelines (no
  * reference analog — hadron's only randomness is operational, random tap
  * paths; but any corpus pipeline needs a REPRODUCIBLE train/val/test
  * split, and `df.randomSplit` is seed-and-partitioning dependent, so a
  * re-run or a repartition reshuffles examples across splits).
  *
  * The splitter here is content-addressed: each id hashes to a unit-
  * interval position via md5, so membership is a pure function of
  * (id, salt) — stable across runs, cluster sizes, partitionings and
  * engines (md5 everywhere; the hash uses 13 hex digits = 52 bits, which
  * a double represents EXACTLY, so the division and threshold compares
  * are identical IEEE operations in any engine — the determinism rule
  * every graft operator follows). Changing `salt` draws an independent
  * split. All pure Column expressions: codegen'd, no UDF, no shuffle —
  * the split is a map-only stage that fuses into the scan.
  */
object Sampling {

  private val TwoPow52 = 4503599627370496.0 // 16^13, exact in a double

  /** Deterministic position of an id in [0, 1): md5 of "id:salt", first
    * 13 hex digits scaled. Uniform enough for split assignment (md5
    * avalanche); NOT for cryptographic use.
    */
  def unitHash(id: Column, salt: String): Column =
    conv(substring(md5(concat(id.cast("string"), lit(":" + salt))), 1, 13),
      16, 10).cast("double") / TwoPow52

  /** Rendezvous (highest-random-weight) shard assignment: shard =
    * argmax over s ∈ [0, nShards) of the 52-bit integer
    * md5("id#s:salt") — Thaler & Ravishankar 1996, the consistent
    * sharding rule for INCREMENTAL corpora: growing nShards → N+1
    * moves only the ~1/(N+1) of ids whose new argmax IS the new shard
    * (everything else keeps its winner — no mod-N full reshuffle), so
    * downstream per-shard dedup/stats stay valid for N shards of N+1.
    *
    * Map-only expression (one md5 per candidate shard, fused into the
    * scan); exact integer comparison with ties (astronomically rare)
    * to the smaller shard index, so assignment is a pure function of
    * (id, nShards, salt) — partitioning- and engine-invariant.
    * nShards is bounded loud: the expression is O(nShards) per row —
    * for thousands of shards compose two levels instead.
    */
  def rendezvousShard(id: Column, nShards: Int, salt: String): Column = {
    require(nShards >= 1 && nShards <= 4096,
      s"nShards must be in [1, 4096] (O(nShards) per row; compose two " +
      s"levels past that), got $nShards")
    val scores = transform(sequence(lit(0), lit(nShards - 1)), s =>
      struct(
        conv(substring(md5(concat(id.cast("string"), lit("#"),
          s.cast("string"), lit(":" + salt))), 1, 13), 16, 10)
          .cast("long").as("h"),
        (-s).cast("long").as("ns")))
    (-array_max(scores).getField("ns")).cast("long")
  }

  /** Assign each row a split label by cumulative fraction. Fractions
    * must sum to <= 1; any remainder falls to the LAST label (so
    * (train 0.8, val 0.1, test 0.1) and (train 0.8, val 0.1, test
    * "rest") agree). Example:
    * {{{
    * splitLabel(col("doc_id"), "s1",
    *   Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    * }}}
    */
  def splitLabel(
      id: Column,
      salt: String,
      fractions: Seq[(String, Double)]): Column = {
    require(fractions.nonEmpty, "at least one split label required")
    require(fractions.forall(_._2 >= 0), "fractions must be non-negative")
    val total = fractions.map(_._2).sum
    require(total <= 1.0 + 1e-9, s"fractions sum to $total > 1")
    val u = unitHash(id, salt)
    val cuts = fractions.scanLeft(0.0)(_ + _._2).tail
    // when(u < c1, l1).when(u < c2, l2)....otherwise(lastLabel)
    val guarded = fractions.init.map(_._1).zip(cuts.init)
    guarded.foldLeft(Option.empty[Column]) { case (acc, (label, cut)) =>
      Some(acc.fold(when(u < cut, label))(_.when(u < cut, label)))
    }.fold(lit(fractions.last._1))(_.otherwise(fractions.last._1))
  }

  /** Deterministic fraction-of-corpus sample: keep a row iff its hash
    * lands below `fraction`. Same id set every run; downsampling a
    * corpus for a pilot training run stays reproducible.
    */
  def sampleByHash(
      df: DataFrame, id: Column, salt: String, fraction: Double): DataFrame = {
    require(fraction >= 0 && fraction <= 1, s"bad fraction $fraction")
    df.filter(unitHash(id, salt) < fraction)
  }

  /** Corpus MIXING: each source is kept at its own rate — the standard
    * training-mix lever ("web at 30%, books at 100%"). Sources not in
    * `fractions` keep `defaultFraction`. Same content-addressed
    * membership as `sampleByHash` (and nested the same way: lowering a
    * source's rate yields a subset of its higher-rate sample), still
    * map-only — the when-chain and hash fuse into the scan.
    */
  def mixtureSample(
      df: DataFrame,
      id: Column,
      salt: String,
      source: Column,
      fractions: Map[String, Double],
      defaultFraction: Double = 1.0): DataFrame = {
    require((fractions.values ++ Seq(defaultFraction)).forall(f =>
      f >= 0 && f <= 1), s"fractions must be in [0,1]: $fractions")
    val rate = fractions.toSeq.sortBy(_._1)
      .foldLeft(lit(defaultFraction)) { case (acc, (src, f)) =>
        when(source === src, f).otherwise(acc)
      }
    df.filter(unitHash(id, salt) < rate)
  }

  /** Fractional-epoch REPEAT — the up-sampling half of corpus mixing,
    * where `mixtureSample` is the down-sampling half: a source slated
    * for e > 1 epochs (the published LLM-training recipes repeat
    * high-quality sources: e.g. several epochs of an encyclopedia vs a
    * fraction of one epoch of crawl) emits each row floor(e) times,
    * plus one extra copy iff unitHash(id, salt) < frac(e). Expected
    * copies per row = e exactly; the realized multiset is a pure
    * function of (id, salt) — re-runs, repartitioning, and other
    * engines reproduce the identical corpus, and e < 1 degenerates to
    * `sampleByHash`'s membership rule (same hash, same salt semantics,
    * so mixing code can move a source across the e = 1 boundary
    * without resampling it).
    *
    * Each emitted row carries `copyCol` in [1, copies] so downstream
    * shuffling/sharding can separate copies (shuffle on (id, copy)).
    * Map-only: the when-chain, hash, and sequence-explode fuse into
    * the scan — no shuffle, no state.
    *
    * @param epochs target epochs as a Column (join a per-source plan
    *   table or build a when-chain over the source column); values
    *   must be >= 0 and are capped at `maxEpochs` to bound the
    *   fan-out of a fat-fingered plan (cap breaches fail loudly via
    *   `raise_error`, never silently clip)
    */
  def epochRepeat(
      df: DataFrame,
      id: Column,
      salt: String,
      epochs: Column,
      copyCol: String = "copy_idx",
      maxEpochs: Int = 100): DataFrame = {
    require(maxEpochs >= 1, s"maxEpochs must be >= 1, got $maxEpochs")
    val e = when(epochs.isNull || epochs < 0 || epochs > maxEpochs,
        raise_error(concat(lit(s"epochRepeat: epochs outside [0, $maxEpochs]: "),
          epochs.cast("string"))))
      .otherwise(epochs)
    val copies = (floor(e).cast("long") +
      when(unitHash(id, salt) < (e - floor(e)), 1L).otherwise(0L))
    // sequence(1, 0) would DESCEND ([1, 0]) — guard the zero-copy case
    df.withColumn(copyCol,
        explode(when(copies >= 1, sequence(lit(1L), copies))
          .otherwise(array().cast("array<long>"))))
  }

  /** Deterministic stratified sample: the EXACTLY-n ids with the
    * smallest content-addressed hash per stratum (vs `mixtureSample`,
    * which keeps a *fraction* per source — this keeps a *count*, the
    * "equal-sized eval slice per domain" shape). Returns the narrow
    * (stratum, id, rank) pick list — semi-join it back to materialize
    * rows; shipping whole rows through the ranking would shuffle every
    * column of the corpus.
    *
    * Scale shape: ONE narrow grouping shuffle of (stratum, id, score)
    * triples into `topk_by` (graft's bounded Catalyst aggregate, same as
    * the ANN top-k path) — map-side partials keep at most n entries per
    * (task, stratum), so a billion-row stratum costs the same buffer as
    * a thousand-row one. A window `row_number` formulation (what the
    * oracle deliberately uses) would sort entire strata instead.
    *
    * Determinism: rank order is (unitHash asc, id asc) — a pure function
    * of (id, salt), so the sample survives re-runs, repartitioning, and
    * engine changes; strata smaller than n return all their ids.
    */
  def stratifiedSample(
      df: DataFrame,
      strata: Column,
      id: Column,
      salt: String,
      n: Int): DataFrame = {
    require(n >= 1, s"sample size must be >= 1, got $n")
    df.select(strata.as("stratum"), id.as("id"))
      .withColumn("score", -unitHash(col("id"), salt))
      .groupBy("stratum")
      .agg(call_function("topk_by", col("id"), col("score"), lit(n)).as("top"))
      .select(col("stratum"), posexplode(col("top")))
      .select(
        col("stratum"),
        col("col.id").as("id"),
        (col("pos") + 1).as("rank"))
  }

  /** Leakage-safe train/val/test split: near-duplicate documents MUST
    * land on the same side, or evaluation scores are inflated by
    * memorized twins of training rows — the canonical contamination
    * bug dedup pipelines exist to prevent. Pairs (id1, id2) from any
    * near-dup detector are closed into connected components
    * ([[graft.dedup.Components]]), every row's split key becomes its
    * component representative (its own id when unpaired), and
    * [[splitLabel]] assigns the side content-addressed on THAT key —
    * so both ends of every pair, and transitively every member of a
    * dup cluster, share one side. Same determinism contract as
    * splitLabel: a pure function of (pairs, salt).
    *
    * Scale shape: the CC shuffles only the PAIR graph (tiny next to
    * the corpus); the component table joins back as a broadcast when
    * small (AQE), and the split itself stays map-only.
    *
    * Output: df's columns + `split_key` + `split`.
    */
  def leakageSafeSplit(
      df: DataFrame,
      id: Column,
      pairs: DataFrame,
      salt: String,
      fractions: Seq[(String, Double)]): DataFrame = {
    val comp = graft.dedup.Components.connectedComponents(pairs)
      .withColumnRenamed("id", "__cc_id")
    df.join(comp, id === col("__cc_id"), "left")
      .withColumn("split_key", coalesce(col("component"), id))
      .drop("__cc_id", "component")
      .withColumn("split", splitLabel(col("split_key"), salt, fractions))
  }

  /** Target-mixture down-sampling by exact waterfilling: keep the
    * LARGEST corpus whose group proportions equal integer `weights`
    * (the "web 30 / books 30 / code 40" curation lever, solved rather
    * than hand-tuned). The binding group g* maximizes w/N — it is kept
    * whole, and every other group keeps rate
    * `w_g·N_{g*} / (w_{g*}·N_g)` ≤ 1.
    *
    * Exact end to end: g* is chosen by cross-multiplied BigInt
    * comparison (no float ratios; ties on the ratio break to the
    * smaller group value as a string), and membership compares the raw
    * 52-bit unit hash against the EXACT rational —
    * `h·w_{g*}·N_g < w_g·N_{g*}·2^52` in decimal(38,0) — so the kept
    * set is a pure function of (data, weights, salt) that an oracle
    * replays in HUGEINT. Same nesting property as [[sampleByHash]]:
    * raising a group's weight only ADDS rows of that group.
    *
    * Groups without a weight (or weight 0) are dropped. Group counts
    * are a bounded driver statistic (one map-side-combined groupBy,
    * ≤ #groups rows — the k-means-training collect contract); the kept
    * filter itself is map-only.
    */
  def targetMixture(
      df: DataFrame,
      id: Column,
      salt: String,
      group: Column,
      weights: Map[String, Long]): DataFrame = {
    require(weights.nonEmpty, "at least one group weight required")
    require(weights.values.forall(_ >= 0), "weights must be non-negative")
    require(weights.values.exists(_ > 0), "at least one positive weight")
    val counts = df.select(group.cast("string").as("g"))
      .groupBy("g").agg(count(lit(1)).as("n"))
      .collect() // bounded: one row per group
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val active = weights.filter { case (g, w) =>
      w > 0 && counts.getOrElse(g, 0L) > 0 }
    require(active.nonEmpty, "no weighted group has any rows")
    // binding group: maximal w/N ⇔ minimal N/w, exact via cross-mult
    val gStar = active.keys.reduce { (a, b) =>
      val cmp = (BigInt(counts(a)) * active(b))
        .compare(BigInt(counts(b)) * active(a))
      if (cmp < 0 || (cmp == 0 && a <= b)) a else b
    }
    val nStar = counts(gStar); val wStar = active(gStar)
    // membership: h·(w*·N_g) < (w_g·N*)·2^52 — the products are
    // driver-side BigInts shipped as decimal literals (a long product
    // would overflow before any cast), the per-row side is one
    // decimal multiply of the 52-bit hash
    val h = conv(substring(md5(concat(id.cast("string"),
      lit(":" + salt))), 1, 13), 16, 10).cast("long")
      .cast("decimal(38,0)")
    val gs = group.cast("string")
    def bd(v: BigInt): Column = lit(new java.math.BigDecimal(v.bigInteger))
    val keep = active.foldLeft(lit(false)) { case (acc, (g, w)) =>
      when(gs === g,
        h * bd(BigInt(wStar) * counts(g)) <
          bd(BigInt(w) * nStar << 52))
        .otherwise(acc)
    }
    df.filter(keep)
  }

  /** n^(eighths/8) via repeated square roots — the determinism trick:
    * IEEE requires sqrt and multiply correctly rounded, so every engine
    * that evaluates THIS factorization in THIS order (factors multiplied
    * in descending-exponent order) produces the bit-identical double.
    * A libm `pow(n, alpha)` carries no such guarantee — its last ulp is
    * implementation-defined, and one ulp is exactly what flips a floor()
    * on a boundary.
    */
  private[ops] def powEighths(n: Long, eighths: Int): Double = {
    val r1 = math.sqrt(n.toDouble) // n^(4/8)
    val r2 = math.sqrt(r1) //          n^(2/8)
    val r3 = math.sqrt(r2) //          n^(1/8)
    var x = 1.0
    if ((eighths & 8) != 0) x *= n.toDouble
    if ((eighths & 4) != 0) x *= r1
    if ((eighths & 2) != 0) x *= r2
    if ((eighths & 1) != 0) x *= r3
    x
  }

  /** Temperature-weighted corpus assembly (the multilingual-LM sampling
    * rule, XLM-R/mT5 style): group g receives target rows proportional
    * to n_g^alpha — alpha = 1 reproduces the natural distribution,
    * alpha -> 0 approaches uniform per group, the usual 0.3–0.7 band
    * up-weights tail domains without flattening the head. Complements
    * [[targetMixture]] (exact down-sample to hand-picked integer
    * weights) by DERIVING the weights from corpus statistics, and
    * up-samples through the same copy semantics as [[epochRepeat]]
    * (copyCol in [1, copies], content-addressed fractional copy).
    *
    * Exactness: alpha is a dyadic rational `alphaEighths`/8 so the
    * weight w_g = floor(n_g^alpha * 2^16) is computed from
    * correctly-rounded sqrt/multiply only ([[powEighths]]) — identical
    * in any IEEE engine; everything after is integer arithmetic
    * (driver-side BigInt): epochs e_g = targetRows*w_g / (SUM(w)*n_g)
    * as exact rationals, the fractional copy admitted when the row's
    * 52-bit unit hash < floor(frac(e_g)*2^52). Same determinism
    * contract as every sampler here: a pure function of (data, salt,
    * targetRows, alpha).
    *
    * Scale shape: group counts are a bounded driver statistic (one
    * map-side-combined groupBy, <= #groups rows — the targetMixture
    * contract); the expansion itself is map-only (when-chain + hash +
    * sequence-explode fused into the scan). Rows with a NULL group are
    * dropped, like targetMixture's unweighted groups.
    *
    * @param targetRows total corpus size to assemble (expected rows out;
    *   the realized count differs only by per-group fractional-hash
    *   binomial noise)
    * @param alphaEighths temperature exponent in eighths: 8 = natural,
    *   4 = sqrt (the common default), 0 = uniform across groups
    * @param maxEpochs loud cap on any group's epochs — a tiny group
    *   under a big budget otherwise fans out unboundedly (fails at PLAN
    *   time, driver-side, since counts are already on the driver)
    * @param maxWhenChainGroups few groups (the common case) ship the
    *   per-group (copies, thresh) plan as a when-chain — pure map-only,
    *   no join node; past this many groups the chain becomes a
    *   pathological expression tree (analyzer cost is quadratic-ish in
    *   nesting, and a 50k-domain corpus is a legitimate input — unlike
    *   [[targetMixture]], whose weights are a hand-typed Map, THIS
    *   operator derives its groups from data), so the plan ships as a
    *   broadcast-joined table instead: still no shuffle of the corpus,
    *   one BroadcastExchange of <= #groups rows
    */
  def temperatureMixture(
      df: DataFrame,
      id: Column,
      salt: String,
      group: Column,
      targetRows: Long,
      alphaEighths: Int = 4,
      copyCol: String = "copy_idx",
      maxEpochs: Int = 100,
      maxWhenChainGroups: Int = 64): DataFrame = {
    require(targetRows >= 1, s"targetRows must be >= 1, got $targetRows")
    require(alphaEighths >= 0 && alphaEighths <= 8,
      s"alphaEighths must be in [0, 8], got $alphaEighths")
    require(maxEpochs >= 1, s"maxEpochs must be >= 1, got $maxEpochs")
    val counts = df.select(group.cast("string").as("g"))
      .groupBy("g").agg(count(lit(1)).as("n"))
      .collect() // bounded: one row per group
      .flatMap(r => Option(r.getString(0)).map(_ -> r.getLong(1))).toMap
    require(counts.nonEmpty, "no non-null group has any rows")
    val w = counts.map { case (g, n) =>
      g -> BigInt(math.floor(powEighths(n, alphaEighths) * 65536.0).toLong)
    }
    val sumW = w.values.sum
    val plan = counts.map { case (g, n) =>
      val num = BigInt(targetRows) * w(g)
      val den = sumW * n
      val copies = (num / den).toLong
      val thresh = (((num % den) << 52) / den).toLong
      require(copies < maxEpochs || (copies == maxEpochs && thresh == 0L),
        s"temperatureMixture: group '$g' (n=$n) needs ~${copies + 1} " +
          s"epochs > maxEpochs=$maxEpochs; raise the cap or lower " +
          "targetRows/alpha")
      g -> (copies, thresh)
    }
    expandByPlan(df, id, salt, group, plan.toMap, copyCol,
      maxWhenChainGroups)
  }

  /** Shared expansion kernel for the derived-epoch samplers
    * ([[temperatureMixture]], [[uniMax]]): ship a per-group
    * (copies, 52-bit fractional threshold) plan and explode each row
    * to `copies + [unit hash < thresh]` copies. Few groups ride a
    * when-chain (map-only, no join node); past `maxWhenChainGroups`
    * the identical plan ships as a broadcast-joined table — the
    * corpus side never shuffles in either arm (arm equality is
    * spec-pinned bit-for-bit in SamplingSpec).
    */
  private def expandByPlan(
      df: DataFrame,
      id: Column,
      salt: String,
      group: Column,
      plan: Map[String, (Long, Long)],
      copyCol: String,
      maxWhenChainGroups: Int): DataFrame = {
    val gs = group.cast("string")
    val h = conv(substring(md5(concat(id.cast("string"), lit(":" + salt))),
      1, 13), 16, 10).cast("long")
    def expand(base: DataFrame, copiesCol: Column, threshCol: Column) = {
      val total = copiesCol + when(h < threshCol, 1L).otherwise(0L)
      base.withColumn(copyCol,
        explode(when(total >= 1, sequence(lit(1L), total))
          .otherwise(array().cast("array<long>"))))
    }
    if (plan.size <= maxWhenChainGroups) {
      val copiesCol = plan.foldLeft(lit(0L)) { case (acc, (g, (c, _))) =>
        when(gs === g, lit(c)).otherwise(acc) }
      val threshCol = plan.foldLeft(lit(0L)) { case (acc, (g, (_, t))) =>
        when(gs === g, lit(t)).otherwise(acc) }
      expand(df, copiesCol, threshCol)
    } else {
      // many-group arm: the identical plan, shipped as a broadcast
      // table instead of an expression tree. Inner join = the same
      // "null/unknown groups contribute nothing" rule as the chain's
      // otherwise(0) arm (every non-null group IS in the plan — counts
      // came from df itself).
      val sess = df.sparkSession
      import scala.jdk.CollectionConverters._
      val planDf = sess.createDataFrame(
        plan.toSeq.map { case (g, (c, t)) =>
          org.apache.spark.sql.Row(g, c, t) }.asJava,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("__tm_g",
            org.apache.spark.sql.types.StringType, false),
          org.apache.spark.sql.types.StructField("__tm_copies",
            org.apache.spark.sql.types.LongType, false),
          org.apache.spark.sql.types.StructField("__tm_thresh",
            org.apache.spark.sql.types.LongType, false))))
      expand(
        df.join(broadcast(planDf), gs === col("__tm_g")),
        col("__tm_copies"), col("__tm_thresh"))
        .drop("__tm_g", "__tm_copies", "__tm_thresh")
    }
  }

  /** UniMax corpus assembly (Chung et al. 2023): allocate a total row
    * budget across groups by FAIR SHARES WITH AN EPOCH CAP rather than
    * a temperature curve — the closed-form answer to "give every
    * language as equal a share as possible without repeating any
    * language more than `maxEpochs` times". Groups are visited in
    * ASCENDING size order; each receives
    * `min(maxEpochs * n_g, floor(budget_remaining / groups_remaining))`
    * rows — a small group that can't absorb its fair share (the cap
    * binds) returns the surplus to the pool, which re-splits evenly
    * over the remaining larger groups. Complements
    * [[temperatureMixture]] (same expansion semantics, different
    * allocation rule): temperature over-samples the tail smoothly but
    * has no repetition bound; UniMax bounds repetition explicitly,
    * which is what the paper shows matters at scale.
    *
    * Exactness: the allocation loop is pure integer arithmetic over
    * the bounded driver-side group counts (ascending (n, g) order
    * makes it deterministic; floor division each step keeps every
    * intermediate an integer — replayable as a recursive CTE in any
    * engine). Per-group epochs e_g = alloc_g / n_g as exact rationals;
    * fractional copies through the shared 52-bit content-addressed
    * hash rule. Same determinism contract as every sampler here.
    *
    * Scale shape: identical to temperatureMixture — one bounded
    * groupBy for counts, then a map-only expansion (when-chain or
    * broadcast plan table past `maxWhenChainGroups`); the corpus
    * never shuffles. NULL groups drop.
    *
    * @param budgetRows total corpus size to assemble (expected rows
    *   out, up to per-group fractional-hash binomial noise; when the
    *   cap binds on EVERY group the realized total is the capped
    *   maximum `maxEpochs * n` instead, and the surplus budget is
    *   simply unspent — that is UniMax's contract, not an error)
    * @param maxEpochs the repetition bound (epochs per group, the
    *   paper's N); unlike temperatureMixture's loud overflow cap this
    *   is a semantic input, so it silently BINDS rather than throws
    */
  def uniMax(
      df: DataFrame,
      id: Column,
      salt: String,
      group: Column,
      budgetRows: Long,
      maxEpochs: Int = 4,
      copyCol: String = "copy_idx",
      maxWhenChainGroups: Int = 64): DataFrame = {
    require(budgetRows >= 0, s"budgetRows must be >= 0, got $budgetRows")
    require(maxEpochs >= 1, s"maxEpochs must be >= 1, got $maxEpochs")
    val counts = df.select(group.cast("string").as("g"))
      .groupBy("g").agg(count(lit(1)).as("n"))
      .collect() // bounded: one row per group
      .flatMap(r => Option(r.getString(0)).map(_ -> r.getLong(1))).toSeq
    require(counts.nonEmpty, "no non-null group has any rows")
    val ordered = counts.sortBy { case (g, n) => (n, g) }
    val l = ordered.size
    var bRem = BigInt(budgetRows)
    val plan = ordered.zipWithIndex.map { case ((g, n), i) =>
      val share = bRem / (l - i)
      val alloc = (BigInt(maxEpochs) * n).min(share)
      bRem -= alloc
      val copies = (alloc / n).toLong
      val thresh = (((alloc % n) << 52) / n).toLong
      g -> (copies, thresh)
    }.toMap
    expandByPlan(df, id, salt, group, plan, copyCol, maxWhenChainGroups)
  }

  /** Weighted sample without replacement (Efraimidis–Spirakis A-Res,
    * 2006): k rows with inclusion biased toward high `weight`, as the
    * k smallest of key = −log2(u) / w with u a content-addressed
    * uniform. The textbook algorithm ranks by u^(1/w); −log2(u)/w
    * ascending is the same total order, and taking it through
    * [[graft.functions.Dsir.ilog2Fx]] (exact integer binary log) makes
    * the keys bit-identical across engines — same discipline as every
    * other sampler here: membership is a pure function of (id, salt),
    * so the sample survives re-runs, repartitioning, and engine
    * changes, unlike `rand()`-seeded sampling which is
    * partitioning-dependent.
    *
    * u = (v+1)/2^32 with v the first 8 md5 hex digits of "id:salt", so
    * key_fp = ((32·2^20 − ilog2Fx(v+1)) << 20) / w, floor division,
    * ties broken by id. Rows with null or non-positive weight are
    * excluded (weight 0 = never sampled). Weights are read as longs —
    * scale fractional weights up front.
    *
    * Scale shape: map-only key computation fused into the scan, then
    * orderBy+limit → TakeOrderedAndProject (per-partition k-heaps, no
    * global sort shuffle).
    *
    * Output: (id, w, key_fp), the k sampled rows.
    */
  def weightedSample(
      df: DataFrame,
      id: Column,
      weight: Column,
      k: Int,
      salt: String = "wsample"): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    require(k >= 1, s"sample size must be >= 1, got $k")
    val base = df.select(
      id.as("id"), weight.cast("long").as("w"),
      conv(substring(
        md5(concat(id.cast("string"), lit(":" + salt))), 1, 8), 16, 10)
        .cast("long").as("v"))
      .filter(col("w").isNotNull && col("w") >= 1)
    val schema = StructType(Seq(
      base.schema("id"),
      StructField("w", LongType, false),
      StructField("key_fp", LongType, false)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(schema)
    base.mapPartitions { rows =>
      rows.map { r =>
        val w = r.getLong(1)
        val l = 32L * graft.functions.Dsir.Scale -
          graft.functions.Dsir.ilog2Fx(r.getLong(2) + 1)
        org.apache.spark.sql.Row(r.get(0), w, (l << 20) / w)
      }
    }(enc)
      .orderBy(col("key_fp").asc, col("id").asc)
      .limit(k)
  }

  /** Deterministic token-budget head sample: "give me ~`budget` tokens
    * of this corpus, reproducibly". Rows are ordered by the
    * content-addressed md5 key (the house unit-hash convention — a
    * shuffle-proof uniform "random" order; `salt` draws an independent
    * sample) and kept while the running weight total stays within
    * `budget` (inclusive: the first row whose cumulative total exceeds
    * the budget is dropped, as is everything after it in hash order).
    * Unlike a fraction-based `sampleByHash`, the budget is in WEIGHT
    * units (tokens, bytes), the quantity training runs are actually
    * provisioned in — and unlike `weightedSample(k)`, weight here is
    * cost, not sampling propensity.
    *
    * Membership is a pure function of (id, weight, salt, budget) —
    * stable across runs, partitionings, and engines. Null weights
    * count as 0 (the row is kept for free if reached).
    *
    * Scale shape: one range exchange + two linear passes
    * over [[Prefix.runningTotal]]'s one shuffle (see its scaladoc for
    * why both passes read the same exchange); the driver sees
    * O(partitions) longs. The order key ends with the id, so ties are
    * impossible and the cut is total.
    *
    * @return (id, w, cum) for kept rows — `cum` the inclusive running
    *   total in hash order, ≤ `budget`.
    */
  def budgetSample(
      df: DataFrame,
      idCol: Column,
      weightCol: Column,
      budget: Long,
      salt: String = "budget"): DataFrame = {
    require(budget >= 0, s"budget must be >= 0, got $budget")
    val keyed = df.select(
      concat(md5(concat(idCol.cast("string"), lit(":" + salt))),
        lit(":"), idCol.cast("string")).as("ord"),
      idCol.as("id"),
      weightCol.cast("long").as("w"))
    Prefix.runningTotal(keyed, "ord", "w", "cum")
      .filter(col("cum") <= budget)
      .select(col("id"), col("w"), col("cum"))
  }

  /** Per-group frequency cap: keep at most `k` rows per group, best
    * `scoreCol` first (ties by id ascending) — the host/source capping
    * stage of web-corpus curation (RefinedWeb caps documents per
    * domain; crawl pipelines cap per host so one boilerplate-heavy
    * site cannot dominate a language's token budget).
    *
    * Scale shape: the rank never runs as a row_number window (that
    * would shuffle EVERY row to its group's partition — the corpus is
    * the job); instead the bounded `topk_by` aggregate folds map-side
    * partials of ≤k entries per (partition, group), so the exchange
    * carries k-row partials, and the resulting keeper set (≤ k·groups
    * rows, the join key + rank only) joins back to fetch the full
    * rows — broadcastable whenever k·groups is dimension-sized, which
    * AQE decides from the aggregate's actual output size.
    *
    * Determinism: (score DESC, id ASC) is a total order when ids are
    * unique; null scores are skipped by the aggregate (a null-quality
    * row can never be a keeper). Rows whose group key is null form
    * their own group, like SQL GROUP BY.
    *
    * @return the kept input rows + `rank` (1 = best) + `n_group`
    *         (pre-cap group size)
    */
  def capPerGroup(
      df: DataFrame,
      groupCol: Column,
      idCol: Column,
      scoreCol: Column,
      k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val keepers = df
      .select(groupCol.as("gk"), idCol.as("gid"),
        scoreCol.cast("double").as("gs"))
      .groupBy(col("gk"))
      .agg(call_function("topk_by", col("gid"), col("gs"), lit(k))
          .as("top"),
        count(lit(1)).as("n_group"))
      .select(col("gk"), col("n_group"), posexplode(col("top")))
      .select(col("gk"), col("col.id").as("gid"),
        (col("pos") + 1).cast("long").as("rank"), col("n_group"))
    df.join(keepers,
        groupCol <=> col("gk") && idCol === col("gid"))
      .drop("gk", "gid")
  }

  /** DETERMINISTIC bootstrap confidence interval for the per-group
    * mean — uncertainty quantification with the content-addressed
    * discipline of [[unitHash]]: replicate b (b = 0..reps−1) is the
    * half-sample of rows whose first md5 hex digit of
    * "id:salt:b" is < 8 (an exact integer test — no float
    * thresholds), each replicate's mean is the 2^20 fixed-point TRUE
    * FLOOR, and the CI is the [q_lo, q_hi] order statistics of the
    * replicate means (ceil-rank, [[graft.ops.RankStats
    * .quantilesByGroup]]'s type-1 convention). Pure function of
    * (ids, salt, reps): reshuffle-proof, engine-replayable, and
    * incremental corpora keep prior rows' replicate membership — the
    * same reasons every sampler here is hash-addressed instead of
    * RNG-seeded.
    *
    * Half-sampling (m = n/2 out of n without replacement) estimates
    * the sampling distribution's spread like the m-out-of-n
    * bootstrap — the hash-replayable stand-in for multinomial
    * resampling, whose per-row draw counts no SQL engine replays
    * deterministically. Replicates that draw no rows (vanishing
    * probability past tiny groups) simply contribute no mean.
    *
    * Shape: one `reps`-fold row expansion fused into the scan
    * (explode over the rep spine — the shuffle after the map-side
    * combine carries only groups × reps rows), one
    * (group × rep)-sized aggregate, and the CI runs through
    * quantilesByGroup's range exchange on that tiny table.
    * Parallelism source: the map-side count. The scan-side compute
    * is reps × the base scan — the documented price of B replicates.
    *
    * @return (g, n, mean_fx, n_reps, ci_lo_fx, ci_hi_fx)
    */
  def hashBootstrapMean(
      df: DataFrame,
      groupCol: Column,
      idCol: Column,
      valueCol: Column,
      reps: Int = 32,
      loBp: Int = 500,
      hiBp: Int = 9500,
      salt: String = "bs"): DataFrame = {
    require(reps >= 2 && reps <= 64, s"reps must be in [2, 64], got $reps")
    require(loBp >= 0 && hiBp <= 10000 && loBp < hiBp,
      s"CI bounds must satisfy 0 <= loBp < hiBp <= 10000, got $loBp/$hiBp")
    // one eager narrow materialization feeds the full-mean pass AND
    // every replicate block (ceil(reps/8)+1 consumers — uncut, each
    // would re-scan the source)
    val base = df.select(groupCol.as("g"), idCol.cast("string").as("id"),
        valueCol.cast("long").as("v"))
      .filter(col("g").isNotNull && col("id").isNotNull &&
        col("v").isNotNull)
      .localCheckpoint(true)
    // TRUE-FLOOR 2^20 fixed-point mean (negative sums replay
    // bit-identically — the trimmedMeanByGroup convention)
    def meanFx(sumName: String, nName: String): Column =
      expr(s"CAST(($sumName * 1048576) div $nName - " +
        s"(CASE WHEN $sumName < 0 AND ($sumName * 1048576) % $nName " +
        "!= 0 THEN 1 ELSE 0 END) AS BIGINT)")
    val full = base.groupBy(col("g"))
      .agg(count(lit(1)).as("n"),
        sum(col("v").cast("decimal(38,0)")).as("__s"))
      .select(col("g"), col("n"),
        meanFx("__s", "n").as("mean_fx"))
      .localCheckpoint(true)
    // Replicate pass as ≤8-replicate BLOCKS of conditional aggregates
    // over the un-exploded base — not explode ×reps + filter + group:
    // the explode form streams reps× the row count through the
    // aggregate (32M row-visits at sf0.1) where each pass here visits
    // the 1M base rows once with 8 membership tests. 16 aggregate
    // buffer columns per pass stays inside the codegen sweet spot —
    // the r17 single-pass 64-wide fusion measured SLOWER; the 16-wide
    // blocks measure 1.9× FASTER (Q207ABProbe, same-JVM interleaved,
    // arms result-equal: A explode 2.33–4.07 s vs B blocks
    // 1.17–1.92 s vs C explode+simplified-predicate 1.83–2.30 s).
    // Membership simplifies to one string compare: md5's lowercase-hex
    // output < '8' ⇔ first hex digit ∈ 0..7 ('0'..'7' < '8' < 'a'),
    // the same bit the oracle's strpos form reads, without the
    // substring+conv+cast chain per (row, replicate). The md5-per-
    // (row, replicate) count itself is the declared contract, unchanged.
    val repMeans = (0 until reps).grouped(8).toSeq.map { block =>
      val aggs = block.toSeq.flatMap { rep =>
        val member =
          md5(concat(col("id"), lit(":" + salt + ":" + rep))) < "8"
        Seq(sum(when(member, 1L).otherwise(0L)).as(s"__nb_$rep"),
          sum(when(member, col("v").cast("decimal(38,0)")))
            .as(s"__sb_$rep"))
      }
      val wide = base.groupBy(col("g")).agg(aggs.head, aggs.tail: _*)
      val stackExpr = block.map(rep => s"${rep}L, __nb_$rep, __sb_$rep")
        .mkString(s"stack(${block.size}, ", ", ", ") as (b, nb, __sb)")
      // a replicate with no members in a group emits NO row — the
      // explode form's semantics (its filter dropped those upstream)
      wide.select(col("g"), expr(stackExpr)).filter(col("nb") > 0)
    }.reduce(_ unionAll _)
      .select(col("g"), col("b"),
        meanFx("__sb", "nb").as("rep_mean_fx"))
    val ci = graft.ops.RankStats.quantilesByGroup(repMeans,
        col("g"), col("rep_mean_fx"), Seq(loBp, hiBp))
      .groupBy(col("g").as("__gq"))
      .agg(max(col("n")).as("n_reps"),
        max(when(col("q_bp") === loBp.toLong, col("value")))
          .as("ci_lo_fx"),
        max(when(col("q_bp") === hiBp.toLong, col("value")))
          .as("ci_hi_fx"))
    full.join(ci, col("g") === col("__gq"))
      .select(col("g"), col("n"), col("mean_fx"), col("n_reps"),
        col("ci_lo_fx"), col("ci_hi_fx"))
  }
}
