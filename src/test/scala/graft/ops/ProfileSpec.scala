package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ProfileSpec extends SparkSpec {

  test("robustStatsByGroup == plain-Scala lower-median/MAD model; an " +
      "outlier moves the mean but not the median; ties are " +
      "permutation-safe") {
    import spark.implicits._
    val rows = Seq(
      ("a", 1L), ("a", 2L), ("a", 3L), ("a", 4L), ("a", 1000000L),
      ("b", 5L), ("b", 5L), ("b", 5L), ("b", 7L),
      ("c", 42L))
    def model: Map[String, (Long, Long, Long)] =
      rows.groupBy(_._1).map { case (g, rs) =>
        val vs = rs.map(_._2).sorted
        val k = (vs.length + 1) / 2
        val med = vs(k - 1)
        val devs = vs.map(v => math.abs(v - med)).sorted
        g -> (vs.length.toLong, med, devs(k - 1))
      }
    val got = Profile.robustStatsByGroup(
        rows.toDF("g", "v"), col("g"), col("v"))
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3))).toMap
    assert(got == model)
    // the outlier group: median 3, MAD 1 — a mean/stddev pair would
    // read ~200k/~450k
    assert(got("a") == (5L, 3L, 1L))
    // all-tie group: median 5, MAD 0... with n=4 lower median rank 2
    assert(got("b") == (4L, 5L, 0L))
    assert(got("c") == (1L, 42L, 0L))
  }

  test("trimmedMeanByGroup == plain-Scala order-statistic model; " +
      "trim 0 is the plain mean; over-trimmed groups emit 0 loud-ly " +
      "visible; outlier immunity") {
    import spark.implicits._
    val rows = Seq(
      ("a", 1L), ("a", 2L), ("a", 3L), ("a", 4L), ("a", 5L),
      ("a", 6L), ("a", 7L), ("a", 8L), ("a", 9L), ("a", 1000000L),
      ("b", 10L), ("b", 20L),
      ("c", 7L))
    def model(trimBp: Int): Map[String, (Long, Long, Long, Long)] =
      rows.groupBy(_._1).map { case (g, rs) =>
        val vs = rs.map(_._2).sorted
        val n = vs.length.toLong
        val lo = (n * trimBp / 10000L).toInt
        val kept = vs.slice(lo, vs.length - lo)
        val sum = kept.sum
        g -> (n, kept.length.toLong, sum,
          if (kept.nonEmpty) sum * 1048576L / kept.length else 0L)
      }
    def run(trimBp: Int): Map[String, (Long, Long, Long, Long)] =
      Profile.trimmedMeanByGroup(rows.toDF("g", "v"), col("g"),
          col("v"), trimBp)
        .collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toMap
    for (bp <- Seq(0, 500, 1000, 2500, 4999))
      assert(run(bp) == model(bp), s"trimBp=$bp")
    // 10% trim on group a drops the 1e6 outlier AND the 1 — mean of
    // 2..9 = 5.5; untrimmed mean would be ~100k
    assert(run(1000)("a") == (10L, 8L, 44L, 44L * 1048576L / 8L))
    // c (n=1) at 4999 bp: lo=0, keeps itself
    assert(run(4999)("c") == (1L, 1L, 7L, 7L * 1048576L))
    intercept[IllegalArgumentException](
      Profile.trimmedMeanByGroup(rows.toDF("g", "v"), col("g"),
        col("v"), 5000))
  }

  test("ksStatistic == plain-Scala max-CDF-distance model; identical " +
      "samples score 0; disjoint supports score ks_num = ks_den; " +
      "degenerate shapes mirror the SQL replay") {
    import spark.implicits._
    def model(xa: Seq[Long], xb: Seq[Long]): (Long, Long, Long, Long) = {
      val support = (xa ++ xb).distinct.sorted
      val (na, nb) = (xa.length.toLong, xb.length.toLong)
      val num = support.map { v =>
        math.abs(xa.count(_ <= v) * nb - xb.count(_ <= v) * na)
      }.max
      (na, nb, num, na * nb)
    }
    def run(xa: Seq[Long], xb: Seq[Long]): (Long, Long, Long, Long) = {
      val r = Profile.ksStatistic(xa.toDF("s"), col("s"),
        xb.toDF("s"), col("s")).collect()(0)
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    }
    val xa = Seq(1L, 2L, 2L, 5L, 9L, -3L)
    val xb = Seq(2L, 4L, 4L, 7L)
    assert(run(xa, xb) == model(xa, xb))
    assert(run(xa, xa)._3 == 0L, "identical samples must score 0")
    // disjoint: at the boundary, F_a = 1 and F_b = 0 → D = 1 exactly
    val lo = Seq(1L, 2L, 3L); val hi = Seq(10L, 11L)
    val d = run(lo, hi)
    assert(d._3 == d._4 && d._4 == 6L)
    // one side empty → the oracle's shape: one row, ks_den = 0 (the
    // in-data "D undefined" signal), not an exception
    assert(run(xa, Seq.empty[Long]) == (6L, 0L, 0L, 0L))
    assert(run(Seq.empty[Long], xb) == (0L, 4L, 0L, 0L))
    // both sides empty → empty joint support → ZERO rows (the
    // oracle's FROM c, t over an empty c)
    assert(Profile.ksStatistic(Seq.empty[Long].toDF("s"), col("s"),
      Seq.empty[Long].toDF("s"), col("s")).count() == 0L)
  }

  test("ksStatistic builds through ONE runningTotals pass: exactly one " +
      "ranged persist appears at plan build (the chained form pinned " +
      "two)") {
    import spark.implicits._
    // the persistent-RDD map holds its values weakly, so an earlier
    // suite's unreferenced persist can be collected mid-test: count
    // only the RDDs made after this marker, not the map's size
    val marker = spark.sparkContext.emptyRDD[Int].id
    val ks = Profile.ksStatistic(
      Seq(1L, 2L, 5L).toDF("s"), col("s"),
      Seq(2L, 4L).toDF("s"), col("s"))
    // every runningTotal(s) pass pins its mandatory two-pass
    // materialization; both cumulative columns riding one exchange
    // means exactly ONE new pinned table
    val fresh = spark.sparkContext.getPersistentRDDs.keys.count(_ > marker)
    assert(fresh == 1,
      s"expected exactly 1 new ranged persist, got $fresh")
    assert(ks.schema.fieldNames.contains("ks_num"))
  }

  test("trimmedMeanByGroup mean_fx is TRUE floor division — negative " +
      "trimmed sums round toward -inf, matching a floor-dividing " +
      "oracle bit-for-bit") {
    import spark.implicits._
    // group n: kept sum = -5 over 3 kept values -> -5*2^20/3 =
    // -1747626.67 -> floor = -1747627 (truncation would say -1747626)
    val rows = Seq(("n", -1L), ("n", -2L), ("n", -2L))
    val got = Profile.trimmedMeanByGroup(rows.toDF("g", "v"), col("g"),
        col("v"), trimBp = 0)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).head
    assert(got == (3L, 3L, -5L,
      Math.floorDiv(-5L * 1048576L, 3L)))
    assert(got._4 == -1747627L)
  }

  test("psiBins: identical samples score 0 in every bin; a known shift " +
      "matches the plain-Scala model; one-sided bins are smoothed; " +
      "negative scores are loud") {
    import spark.implicits._
    val a = Seq(100L, 150L, 250L, 250L, 900L).toDF("s")
    // identical distribution → every delta, lr, contrib exactly 0
    Profile.psiBins(a, col("s"), a, col("s"), binWidth = 100L)
      .collect().foreach { r =>
        assert(r.getLong(4) == 0L && r.getLong(5) == 0L &&
          r.getLong(6) == 0L, s"identical samples must score 0: $r")
      }
    // shifted: b has mass in bin 9 a lacks, and misses bin 2
    val b = Seq(100L, 150L, 900L, 950L, 920L).toDF("s")
    val got = Profile.psiBins(a, col("s"), b, col("s"), binWidth = 100L)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    def model(na: Long, nb: Long, nbins: Long, ta: Long, tb: Long) = {
      import graft.functions.Dsir.ilog2Fx
      val x = (na + 1) * (tb + nbins); val y = (nb + 1) * (ta + nbins)
      val delta = x - y
      val lr = ilog2Fx(x) - ilog2Fx(y)
      (delta, lr,
        (BigInt(delta) * BigInt(lr) /
          (BigInt(ta + nbins) * BigInt(tb + nbins))).toLong)
    }
    // bins: 1 (both 2), 2 (a only 2), 9 (a 1, b 3)
    val (nbins, ta, tb) = (3L, 5L, 5L)
    assert(got.keySet == Set(1L, 2L, 9L))
    assert(got(1L) == ((2L, 2L) match { case (na, nb) =>
      val m = model(na, nb, nbins, ta, tb); (na, nb, m._1, m._2, m._3) }))
    assert(got(2L) == ((2L, 0L) match { case (na, nb) =>
      val m = model(na, nb, nbins, ta, tb); (na, nb, m._1, m._2, m._3) }))
    assert(got(9L) == ((1L, 3L) match { case (na, nb) =>
      val m = model(na, nb, nbins, ta, tb); (na, nb, m._1, m._2, m._3) }))
    // contributions are non-negative (sign of delta and lr agree)
    assert(got.values.forall(_._5 >= 0L))
    val neg = Seq(-1L).toDF("s")
    intercept[Exception](
      Profile.psiBins(neg, col("s"), a, col("s"), 100L).collect())
    intercept[IllegalArgumentException](
      Profile.psiBins(a, col("s"), a, col("s"), 0L))
  }

  test("describe: nulls, distincts, min/max per column in one pass") {
    import spark.implicits._
    val df = Seq(
      (1L, Some("b"), 10),
      (2L, None, 10),
      (3L, Some("a"), 30)).toDF("id", "s", "v")
    val out = Profile.describe(df)
      .collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3), r.getString(4))))
      .toMap
    assert(out("id") == ((0L, 3L, "1", "3")))
    assert(out("s") == ((1L, 2L, "a", "b")))
    assert(out("v") == ((0L, 2L, "10", "30")))
  }

  test("histogramQuantiles: exact-reference agreement within one bin") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val vals = (1 to 10000).map(_ => rnd.nextDouble() * 100.0)
    val df = vals.toDF("v").repartition(7)
    val out = Profile.histogramQuantiles(df, col("v"),
        lo = 0.0, hi = 100.0, bins = 200, quantiles = Seq(0.25, 0.5, 0.95))
      .collect()
      .map(r => r.getDouble(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    val sorted = vals.sorted
    for (q <- Seq(0.25, 0.5, 0.95)) {
      val exact = sorted(math.ceil(q * vals.size).toInt - 1)
      val (approx, nLe) = out(q)
      assert(math.abs(approx - exact) <= 0.5 + 1e-9, // one bin width
        s"q=$q approx=$approx exact=$exact")
      // n_le really is the count <= the reported edge
      assert(nLe == vals.count(_ < approx) ||
        nLe == vals.count(_ <= approx))
      // and reaches the quantile threshold
      assert(nLe >= math.ceil(q * vals.size).toLong)
    }
  }

  test("histogramQuantiles: clamping, determinism across partitionings, " +
      "empty input") {
    import spark.implicits._
    // values beyond [lo, hi) clamp into the edge bins
    val df = Seq(-5.0, 0.0, 1.0, 9.0, 99.0).toDF("v")
    val out = Profile.histogramQuantiles(df, col("v"), 0.0, 10.0, 10,
        Seq(0.2, 1.0))
      .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    // ceil(0.2*5)=1: first bin (holds -5 clamped and 0) -> edge 1.0
    assert(out(0.2) == 1.0)
    // q=1.0 needs all 5: the 99.0 clamps into the LAST bin -> edge 10.0
    assert(out(1.0) == 10.0)

    val big = (1 to 5000).map(i => (i % 997).toDouble).toDF("v")
    def run(parts: Int) = Profile.histogramQuantiles(
        big.repartition(parts), col("v"), 0.0, 1000.0, 128, Seq(0.5))
      .collect().map(r => (r.getDouble(0), r.getDouble(1), r.getLong(2)))
      .toSet
    assert(run(2) == run(13))

    val empty = Profile.histogramQuantiles(
      Seq.empty[Double].toDF("v"), col("v"), 0.0, 1.0, 4, Seq(0.5))
    assert(empty.collect().isEmpty)
  }

  test("histogramQuantilesByGroup matches the global form per group") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val rows = (1 to 3000).map(_ => ("a", rnd.nextDouble() * 50)) ++
      (1 to 1000).map(_ => ("b", 50 + rnd.nextDouble() * 50))
    val df = rows.toDF("g", "v").repartition(6)
    val grouped = Profile.histogramQuantilesByGroup(df, Seq("g"),
        col("v"), 0.0, 100.0, 128, Seq(0.5, 0.9))
      .collect()
      .map(r => (r.getString(0), r.getDouble(1)) ->
        ((r.getDouble(2), r.getLong(3)))).toMap
    for (g <- Seq("a", "b"); q <- Seq(0.5, 0.9)) {
      val solo = Profile.histogramQuantiles(df.filter(col("g") === g),
          col("v"), 0.0, 100.0, 128, Seq(q))
        .collect().map(r => (r.getDouble(1), r.getLong(2))).head
      assert(grouped((g, q)) == solo, s"group $g q $q")
    }
  }

  test("column subset and unknown-column guard") {
    import spark.implicits._
    val df = Seq((1L, "x")).toDF("id", "s")
    val out = Profile.describe(df, Seq("s")).collect()
    assert(out.length == 1 && out.head.getString(0) == "s")
    intercept[IllegalArgumentException] {
      Profile.describe(df, Seq("nope"))
    }
  }

  private def growthRows(df: org.apache.spark.sql.DataFrame, buckets: Int)
      : Map[Long, (Long, Long, Long, Long)] =
    Profile.vocabGrowth(df, col("id"), col("units"), buckets)
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap

  test("vocabGrowth: first-appearance buckets, zero-new-type buckets, " +
      "and cumulative sums against a hand model") {
    import spark.implicits._
    // ids 0..9 at 2 buckets: bucket 1 = ids 0..4, bucket 2 = ids 5..9
    val df = (0L to 9L).map { i =>
      val units =
        if (i < 5) Seq("a", "b") // bucket 1: types a, b; 10 occurrences
        else Seq("a", "c")       // bucket 2: only c is NEW
      (i, units)
    }.toDF("id", "units").repartition(3)
    val out = growthRows(df, 2)
    assert(out(1L) == ((10L, 10L, 2L, 2L)))
    assert(out(2L) == ((10L, 20L, 1L, 3L)))
    // all types seen early: later bucket has occurrences, ZERO new types
    val sat = (0L to 9L).map(i => (i, Seq("x"))).toDF("id", "units")
    val satOut = growthRows(sat, 2)
    assert(satOut(1L) == ((5L, 5L, 1L, 1L)))
    assert(satOut(2L) == ((5L, 10L, 0L, 1L)))
  }

  test("vocabGrowth buckets are equal-WIDTH id windows (gap-invariant, " +
      "no global sort of the units)") {
    import spark.implicits._
    // ids 0 and 100: lo=0, hi=101 — id 0 -> bucket 1, id 100 -> bucket 10
    val gappy = Seq((0L, Seq("a")), (100L, Seq("b"))).toDF("id", "units")
    val out = growthRows(gappy, 10)
    assert(out.keySet == Set(1L, 10L))
    assert(out(1L) == ((1L, 1L, 1L, 1L)))
    assert(out(10L) == ((1L, 2L, 1L, 2L)))
    // the executed plan never globally sorts the exploded unit stream:
    // no range partitioning anywhere — the only single-partition
    // exchange is the cumulative window's, which sees <= buckets
    // aggregated rows
    val big = spark.range(1000).select(col("id"),
      array(concat(lit("u"), (col("id") % 37).cast("string"))).as("units"))
    val vg = Profile.vocabGrowth(big, col("id"), col("units"), 10)
    vg.collect() // finalize the adaptive plan
    val plan = vg.queryExecution.executedPlan.toString
    assert(!plan.contains("rangepartitioning"), plan)
    assert(plan.contains("SinglePartition"), plan)
  }

  test("distributionDrift matches a plain-Scala exact model: add-one " +
      "smoothing on one-sided units, negative contributions for " +
      "B-heavy units, (contrib desc, unit asc) rank, k cap") {
    import spark.implicits._
    import graft.functions.Dsir.ilog2Fx
    // A: 'x' heavy, 'y' light, 'az' absent in B; B: 'y' heavy, 'bz' only here
    val a = Seq(Seq("x", "x", "x", "x", "y", "az"),
      Seq("x", "x", "y")).toDF("units")
    val b = Seq(Seq("y", "y", "y", "x", "bz"),
      Seq("y", "y", "bz")).toDF("units")
    val aCnt = Map("x" -> 6L, "y" -> 2L, "az" -> 1L)
    val bCnt = Map("x" -> 1L, "y" -> 5L, "bz" -> 2L)
    val vocab = (aCnt.keySet ++ bCnt.keySet).toSeq.sorted
    val nA = aCnt.values.sum; val nB = bCnt.values.sum
    val v = vocab.size.toLong
    def contrib(u: String): Long = {
      val ai = aCnt.getOrElse(u, 0L); val bi = bCnt.getOrElse(u, 0L)
      (ai + 1L) * (ilog2Fx(ai + 1L) - ilog2Fx(nA + v)
        - ilog2Fx(bi + 1L) + ilog2Fx(nB + v))
    }
    val expected = vocab.sortBy(u => (-contrib(u), u)).zipWithIndex
      .map { case (u, i) =>
        (u, aCnt.getOrElse(u, 0L), bCnt.getOrElse(u, 0L), contrib(u),
          i + 1L, v, nA, nB)
      }
    val got = Profile.distributionDrift(a, b, col("units"), k = 10)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
      .sortBy(_._5).toSeq
    assert(got == expected)
    // direction: 'x' (A-heavy) ranks first with positive contribution,
    // 'y'/'bz' (B-heavy) carry negative contributions
    assert(got.head._1 == "x" && got.head._4 > 0)
    assert(got.filter(r => r._1 == "y" || r._1 == "bz").forall(_._4 < 0))
    // k caps the report
    val capped = Profile.distributionDrift(a, b, col("units"), k = 2)
      .collect().map(_.getString(0)).toSet
    assert(capped == expected.take(2).map(_._1).toSet)
  }

  test("spearman: ±2^20 at perfect (anti-)correlation, exact hand model " +
      "with id tie-breaks, partitioning-invariant, loud domain guards") {
    import spark.implicits._
    def run(rows: Seq[(Long, Long, Long)], parts: Int = 1) = {
      val r = Profile.spearman(
          rows.toDF("id", "x", "y").repartition(parts),
          col("id"), col("x"), col("y")).collect().head
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    // monotone agreement: every d = 0, rho exactly 2^20
    val mono = (1L to 7L).map(i => (i, i * 10L, i * 100L - 5L))
    assert(run(mono) == ((7L, 0L, 1048576L)))
    // perfect reversal: sum d2 = n(n^2-1)/3, rho exactly -2^20
    val anti = (1L to 7L).map(i => (i, i, 8L - i))
    assert(run(anti) == ((7L, 112L, -1048576L)))
    // hand model incl. an x tie (ids 2 and 3 share x=5 — id breaks it)
    val rows = Seq((1L, 1L, 9L), (2L, 5L, 3L), (3L, 5L, 7L), (4L, 2L, 1L))
    // rx by (x, id): 1->1, 4->2, 2->3, 3->4 ; ry by (y, id): 4->1, 2->2, 3->3, 1->4
    // d: id1 1-4=-3, id2 3-2=1, id3 4-3=1, id4 2-1=1 ; sum d2 = 12
    val n = 4L; val sumD2 = 12L
    val rho = 1048576L - (6L * sumD2 * 1048576L) / (n * n * n - n)
    assert(run(rows) == ((n, sumD2, rho)))
    assert(run(rows, parts = 4) == ((n, sumD2, rho)))
    // guards fire loudly
    intercept[IllegalArgumentException] {
      run(Seq((-1L, 1L, 1L), (2L, 2L, 2L)))
    }
    intercept[IllegalArgumentException] {
      run(Seq((1L, 1L << 62, 1L), (2L, 2L, 2L)))
    }
  }

  test("cohenKappa: hand 2x2 model, zero at independence, num==den at " +
      "perfect agreement, negative at systematic disagreement, NULL " +
      "judgments excluded from every count") {
    import spark.implicits._
    def run(rows: Seq[(Option[Boolean], Option[Boolean])]) = {
      val r = Profile.cohenKappa(rows.toDF("a", "b"), col("a"), col("b"))
        .collect().head
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))
    }
    def s(b: Boolean) = Some(b)
    // hand case: pp=3 pf=1 fp=2 ff=4, n=10
    // po=7, pe=(4*5)+(6*5)=50, num=70-50=20, den=100-50=50 (kappa 0.4)
    val hand = Seq.fill(3)((s(true), s(true))) ++ Seq((s(true), s(false))) ++
      Seq.fill(2)((s(false), s(true))) ++ Seq.fill(4)((s(false), s(false)))
    assert(run(hand) == ((10L, 3L, 1L, 2L, 4L, 20L, 50L)))
    // independence: balanced 2x2 -> kappa numerator exactly 0
    val indep = Seq((s(true), s(true)), (s(true), s(false)),
      (s(false), s(true)), (s(false), s(false)))
    assert(run(indep)._6 == 0L)
    // perfect agreement: num == den (kappa exactly 1)
    val perfect = Seq((s(true), s(true)), (s(false), s(false)),
      (s(true), s(true)))
    val p = run(perfect)
    assert(p._6 == p._7 && p._7 > 0L)
    // systematic disagreement: negative numerator
    val dis = Seq((s(true), s(false)), (s(false), s(true)),
      (s(true), s(false)), (s(false), s(true)))
    assert(run(dis)._6 < 0L)
    // nulls drop from n and every cell
    val withNull = hand ++ Seq((None, s(true)), (s(true), None),
      (None: Option[Boolean], None: Option[Boolean]))
    assert(run(withNull) == ((10L, 3L, 1L, 2L, 4L, 20L, 50L)))
  }

  test("aucExact: brute-force pairwise Mann-Whitney model (wins x2 + " +
      "ties x1), endpoints 1 and 0 at perfect (anti-)separation, " +
      "all-tied scores give exactly 1/2, NULLs excluded, " +
      "partitioning-invariant") {
    import spark.implicits._
    def run(rows: Seq[(Option[Boolean], Option[Long])], parts: Int = 4) = {
      val r = Profile.aucExact(
        rows.toDF("y", "s").repartition(parts), col("y"), col("s"))
        .collect().head
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    }
    def brute(rows: Seq[(Boolean, Long)]): (Long, Long) = {
      val pos = rows.filter(_._1).map(_._2)
      val neg = rows.filterNot(_._1).map(_._2)
      val num = (for (p <- pos; n <- neg) yield
        if (p > n) 2L else if (p == n) 1L else 0L).sum
      (num, 2L * pos.size * neg.size)
    }
    def s(b: Boolean, v: Long) = (Some(b), Some(v))
    // mixed case with ties on both sides
    val mixed = Seq(s(true, 5), s(true, 3), s(true, 3), s(false, 3),
      s(false, 2), s(false, 5), s(true, 1), s(false, -7))
    val (bn, bd) = brute(mixed.map(r => (r._1.get, r._2.get)))
    val got = run(mixed)
    assert((got._3, got._4) == ((bn, bd)))
    assert(got._1 == 4L && got._2 == 4L)
    // partitioning-invariant (range exchange, not partition order)
    assert(run(mixed, parts = 1) == got && run(mixed, parts = 7) == got)
    // perfect separation → num == den; reversed → num == 0
    val sep = Seq(s(true, 10), s(true, 9), s(false, 1), s(false, 0))
    val gs = run(sep); assert(gs._3 == gs._4 && gs._4 == 8L)
    val rev = Seq(s(true, 0), s(false, 10))
    assert(run(rev)._3 == 0L)
    // every score tied → exactly half the denominator
    val tied = Seq(s(true, 7), s(true, 7), s(false, 7), s(false, 7))
    val gt = run(tied); assert(2L * gt._3 == gt._4)
    // NULL label or score drops the row
    val withNull = mixed ++ Seq((None, Some(99L)), (Some(true), None))
    assert(run(withNull) == got)
    // negative scores ride the biased encoding (covered in `mixed` via
    // -7); a score at the guard boundary raises
    val huge = Seq(s(true, 1L << 62), s(false, 0))
    intercept[Exception](run(huge))
  }

  test("jsonProfile: per-key presence/null/numeric/distinct/min-max " +
      "over heterogeneous JSON — string values unquoted, JSON nulls " +
      "counted not typed, negatives and decimals numeric, malformed " +
      "and NULL rows profile as absent") {
    import spark.implicits._
    val rows = Seq(
      """{"a": 1, "b": "x"}""",
      """{"a": -2.5, "b": "x", "c": null}""",
      """{"a": 7}""",
      """{"b": "1"}""", // numeric-LOOKING string: counts as numeric
      "not json at all",
      null.asInstanceOf[String])
    val got = Profile.jsonProfile(rows.toDF("j"), col("j"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          Option(r.get(5)).map(_.asInstanceOf[Double]),
          Option(r.get(6)).map(_.asInstanceOf[Double])))).toMap
    assert(got("a") == ((3L, 0L, 3L, 3L, Some(-2.5), Some(7.0))))
    assert(got("b") == ((3L, 0L, 1L, 2L, Some(1.0), Some(1.0))))
    assert(got("c") == ((1L, 1L, 0L, 0L, None, None)))
    assert(got.size == 3)
  }

  test("percentileNormalize: exact rank percentiles under the (score, " +
      "id) total order — endpoints 0 and 2^20, ties ordered by id, " +
      "partitioning-invariant, single row emits 0, guards loud") {
    import spark.implicits._
    def run(rows: Seq[(Long, Long)], parts: Int = 4) =
      Profile.percentileNormalize(
        rows.toDF("id", "s").repartition(parts), col("id"), col("s"))
        .collect()
        .map(r => (r.getLong(0), (r.getLong(2), r.getLong(3)))).toMap
    val rows = Seq((10L, 5L), (11L, -3L), (12L, 5L), (13L, 99L), (14L, 0L))
    val got = run(rows)
    val S = 1L << 20
    // order: -3(11) < 0(14) < 5(10) < 5(12) < 99(13)
    assert(got == Map(
      11L -> ((1L, 0L)), 14L -> ((2L, S / 4)), 10L -> ((3L, 2 * S / 4)),
      12L -> ((4L, 3 * S / 4)), 13L -> ((5L, S))))
    assert(run(rows, parts = 1) == got && run(rows, parts = 7) == got)
    assert(run(Seq((1L, 42L))) == Map(1L -> ((1L, 0L))))
    intercept[IllegalArgumentException](run(Seq((-1L, 0L))))
  }

  test("aucExactByGroup matches per-group brute Mann-Whitney, emits " +
      "single-class groups with auc_den = 0, and agrees with the " +
      "global form on a one-group input") {
    import spark.implicits._
    def brute(rows: Seq[(Boolean, Long)]): (Long, Long) = {
      val pos = rows.filter(_._1).map(_._2)
      val neg = rows.filterNot(_._1).map(_._2)
      val num = (for (p <- pos; n <- neg) yield
        if (p > n) 2L else if (p == n) 1L else 0L).sum
      (num, 2L * pos.size * neg.size)
    }
    val gA = Seq((true, 5L), (true, 3L), (false, 3L), (false, 1L))
    val gB = Seq((true, 1L), (false, 9L), (false, 9L), (true, 2L))
    val gC = Seq((true, 4L), (true, 7L)) // single-class
    val df = (gA.map(("a", _)) ++ gB.map(("b", _)) ++ gC.map(("c", _)))
      .map { case (g, (y, s)) => (g, y, s) }.toDF("g", "y", "s")
      .repartition(4)
    val got = Profile.aucExactByGroup(df, col("g"), col("y"), col("s"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got("a") == ((2L, 2L) match {
      case (np, nn) => (np, nn, brute(gA)._1, brute(gA)._2) }))
    assert(got("b") == ((2L, 2L, brute(gB)._1, brute(gB)._2)))
    assert(got("c") == ((2L, 0L, 0L, 0L)))
    // one-group input ≡ the global operator
    val one = gA.map { case (y, s) => (y, s) }.toDF("y", "s")
    val glob = Profile.aucExact(one, col("y"), col("s")).collect().head
    assert((glob.getLong(0), glob.getLong(1), glob.getLong(2),
      glob.getLong(3)) == got("a"))
  }

  test("calibrationBins: hand-computed bins — counts, positives, floor " +
      "pos_fx, exact score mass; empty bins absent; NULLs excluded; " +
      "negative score raises; zero width rejected") {
    import spark.implicits._
    def run(rows: Seq[(Option[Boolean], Option[Long])], w: Long = 10L) =
      Profile.calibrationBins(rows.toDF("y", "s").repartition(3),
          col("y"), col("s"), binWidth = w)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5))).toSet
    def s(b: Boolean, v: Long) = (Some(b), Some(v))
    // bin 0: scores 3,7 (1 pos) → pos_fx = 2^20 div 2; bin 2: 25 pos,
    // 29 pos → pos_fx = 2^20; bin 9: 99 neg → 0. bin 1 empty → absent.
    val rows = Seq(s(true, 3), s(false, 7), s(true, 25), s(true, 29),
      s(false, 99), (None, Some(5L)), (Some(true), None))
    val S = 1L << 20
    assert(run(rows) == Set(
      (0L, 0L, 2L, 1L, S / 2, 10L),
      (2L, 20L, 2L, 2L, S, 54L),
      (9L, 90L, 1L, 0L, 0L, 99L)))
    intercept[Exception](run(Seq(s(true, -1))))
    intercept[IllegalArgumentException](run(Seq(s(true, 1)), w = 0L))
  }

  test("fdProfile: a holding FD reports zero violations, a violated one " +
      "counts exactly the multi-valued keys and the widest key; NULL " +
      "lhs or rhs rows are excluded; empty input emits a zero row") {
    import spark.implicits._
    val rows = Seq(
      (Some(1L), Some("a")), (Some(1L), Some("a")), // key 1: single-valued
      (Some(2L), Some("a")), (Some(2L), Some("b")), (Some(2L), Some("c")),
      (Some(3L), Some("x")), (Some(3L), Some("y")),
      (Some(4L), None), (None, Some("z"))) // excluded rows
      .toDF("k", "v").repartition(3)
    val got = Profile.fdProfile(rows, col("k"), col("v"), "t.k->v")
      .collect().head
    // keys 1,2,3 survive the null filter (key 4's only row has NULL v)
    assert((got.getString(0), got.getLong(1), got.getLong(2),
      got.getLong(3), got.getLong(4)) ==
      ("t.k->v", 3L, 2L, 3L, 2L * 1048576L / 3L))
    val hold = Profile.fdProfile(
      Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("k", "v"),
      col("k"), col("v"), "h").collect().head
    assert((hold.getLong(1), hold.getLong(2), hold.getLong(3),
      hold.getLong(4)) == (3L, 0L, 1L, 0L))
    val empty = Profile.fdProfile(
      Seq.empty[(Long, String)].toDF("k", "v"),
      col("k"), col("v"), "e").collect().head
    assert((empty.getLong(1), empty.getLong(2), empty.getLong(3),
      empty.getLong(4)) == (0L, 0L, 0L, 0L))
  }

  test("keySkew: uniform keys score gini_num 0, a one-hot table " +
      "approaches den, and a mixed table matches the brute " +
      "sorted-rank formula; top share exact; NULL keys excluded") {
    import spark.implicits._
    def run(keys: Seq[Option[Long]]) = {
      val r = Profile.keySkew(keys.toDF("k").repartition(3), col("k"), "t")
        .collect().head
      (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5))
    }
    def brute(keys: Seq[Long]): (Long, Long) = {
      val cs = keys.groupBy(identity).values.map(_.length.toLong)
        .toSeq.sorted
      val n = cs.length.toLong; val t = cs.sum
      val src = cs.zipWithIndex.map { case (c, i) => (i + 1) * c }.sum
      (2 * src - (n + 1) * t, n * t)
    }
    // uniform: every key twice → gini 0
    val u = run(Seq(1L, 1L, 2L, 2L, 3L, 3L).map(Some(_)))
    assert(u == (3L, 6L, 2L * 1048576L / 6L, 0L, 18L))
    // skewed: one key owns 8 of 11 rows (+ a NULL row, excluded)
    val keys = Seq.fill(8)(7L) ++ Seq(1L, 2L, 3L)
    val g = run(keys.map(Some(_)) :+ None)
    val (bn, bd) = brute(keys)
    assert(g == (4L, 11L, 8L * 1048576L / 11L, bn, bd))
    assert(bn > 0 && bn < bd, "skew must land strictly inside (0, den)")
  }

  test("halfLifeScore: hand-computed decay — same-bucket rows undecayed, " +
      "each half-life halves (floor), ancient rows clamp to 0; " +
      "negative values raise; 'now' is the corpus max ts") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(daysAgo: Int) = // relative to a fixed anchor
      new Timestamp(1700000000000L - daysAgo * 86400000L)
    val rows = Seq(
      (1L, ts(0), 100L),    // age 0 half-lives → 100·2^20
      (1L, ts(7), 100L),    // 1 half-life → 50·2^20
      (1L, ts(15), 101L),   // 2 half-lives → floor(101·2^20/4)
      (2L, ts(7 * 70), 5L)) // 70 half-lives ≥ 63 → clamps to 0
      .toDF("k", "t", "v").repartition(3)
    val got = Profile.halfLifeScore(rows, col("k"), col("t"), col("v"),
        halfLifeDays = 7)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    val S = 1L << 20
    assert(got(1L) == ((3L, 301L, 100L * S + 50L * S + (101L * S) / 4)))
    assert(got(2L) == ((1L, 5L, 0L)))
    intercept[Exception] {
      Profile.halfLifeScore(Seq((1L, ts(0), -1L)).toDF("k", "t", "v"),
        col("k"), col("t"), col("v")).collect()
    }
    intercept[IllegalArgumentException] {
      Profile.halfLifeScore(rows, col("k"), col("t"), col("v"),
        halfLifeDays = 0)
    }
  }

  test("equiDepthHistogram: bins match the brute (rank-1)*B div n rule " +
      "on a skewed distribution, counts sum to n, ranges chain " +
      "non-overlapping, tie blocks straddle deterministically, " +
      "negatives sort correctly") {
    import spark.implicits._
    val vals = Seq.fill(10)(5L) ++ Seq(-3L, -1L, 0L, 7L, 9L, 100L)
    val got = Profile.equiDepthHistogram(
        vals.map(Some(_)).toDF("v").repartition(3), col("v"), 4)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    val sorted = vals.sorted
    val n = sorted.length
    val brute = sorted.zipWithIndex
      .groupBy { case (_, i) => i.toLong * 4 / n }
      .map { case (b, xs) =>
        b -> ((xs.length.toLong, xs.map(_._1).min, xs.map(_._1).max)) }
    assert(got == brute)
    assert(got.values.map(_._1).sum == n.toLong)
    val byBucket = got.toSeq.sortBy(_._1).map(_._2)
    byBucket.sliding(2).foreach {
      case Seq(a, b) => assert(a._3 <= b._2, s"ranges overlap: $a $b")
      case _ =>
    }
    intercept[IllegalArgumentException](
      Profile.equiDepthHistogram(vals.toDF("v"), col("v"), 0))
  }

  test("percentileNormalizeByGroup: exact within-group ranks and pct_fx " +
      "under the (s, id) total order; single-member group emits 0; " +
      "groups are independent; NULLs excluded") {
    import spark.implicits._
    val rows = Seq(
      ("a", 1L, 30L), ("a", 2L, 10L), ("a", 3L, 20L), ("a", 4L, 10L),
      ("b", 9L, 5L),
      (null.asInstanceOf[String], 7L, 1L))
      .toDF("g", "id", "s").repartition(3)
    val got = Profile.percentileNormalizeByGroup(rows,
        col("g"), col("id"), col("s"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(3), r.getLong(4)))
      .toSet
    val S = 1L << 20
    // group a order: (10,2) (10,4) (20,3) (30,1) — ties broken by id
    assert(got == Set(
      ("a", 2L, 1L, 0L), ("a", 4L, 2L, S / 3),
      ("a", 3L, 3L, 2L * S / 3), ("a", 1L, 4L, S),
      ("b", 9L, 1L, 0L)))
    // one group ≡ the global operator's statistic on the same rows
    val grouped = Profile.percentileNormalizeByGroup(
        Seq(("x", 1L, 7L), ("x", 2L, 3L), ("x", 3L, 9L)).toDF("g", "id", "s"),
        col("g"), col("id"), col("s"))
      .collect().map(r => (r.getLong(1), r.getLong(4))).toSet
    val global = Profile.percentileNormalize(
        Seq((1L, 7L), (2L, 3L), (3L, 9L)).toDF("id", "s"),
        col("id"), col("s"))
      .collect().map(r => (r.getLong(0), r.getLong(3))).toSet
    assert(grouped == global)
  }

  test("benfordDigits == hand model; every group emits 9 digit rows " +
      "(absent digits as 0); per-group dev_fx sums to EXACTLY 0 " +
      "(telescoping deltas); v < 1 excluded; n guard documented") {
    import spark.implicits._
    import graft.functions.Dsir
    val l = (1 to 10).map(d => Dsir.ilog2Fx(d.toLong))
    val l10 = l(9)
    // group "a": leading digits of 123, 19, 2000, 95, 1 -> d=1,1,2,9,1
    // group "b": 7, 70, 0 (dropped), -5 (dropped) -> d=7,7
    val data = Seq(("a", 123L), ("a", 19L), ("a", 2000L), ("a", 95L),
      ("a", 1L), ("b", 7L), ("b", 70L), ("b", 0L), ("b", -5L))
    val got = Profile.benfordDigits(data.toDF("g", "v"),
        col("g"), col("v"))
      .collect()
      .map(r => (r.getString(0), r.getInt(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got.size == 18)
    def dev(nd: Long, n: Long, d: Int): Long =
      nd * l10 - n * (l(d) - l(d - 1))
    assert(got(("a", 1)) == (3L, 5L, dev(3, 5, 1)))
    assert(got(("a", 2)) == (1L, 5L, dev(1, 5, 2)))
    assert(got(("a", 9)) == (1L, 5L, dev(1, 5, 9)))
    assert(got(("a", 5)) == (0L, 5L, dev(0, 5, 5)))
    assert(got(("b", 7)) == (2L, 2L, dev(2, 2, 7)))
    assert(got(("b", 1)) == (0L, 2L, dev(0, 2, 1)))
    // the telescoping checksum: sum of dev_fx per group is exactly 0
    Seq("a", "b").foreach { g =>
      val s = (1 to 9).map(d => got((g, d))._3).sum
      assert(s == 0L, s"group $g dev sum = $s")
    }
    // empty input -> zero rows
    assert(Profile.benfordDigits(
      Seq.empty[(String, Long)].toDF("g", "v"),
      col("g"), col("v")).collect().isEmpty)
  }

  test("fleissKappa == hand model; perfect cross-category agreement " +
      "gives num == den; universal one-category agreement signals " +
      "den 0; unequal judgment counts raise loudly") {
    import spark.implicits._
    // 4 items x 3 raters, 2 categories — the worked-example shape
    val ratings = Seq(
      (1L, "r1", "x"), (1L, "r2", "x"), (1L, "r3", "y"),
      (2L, "r1", "y"), (2L, "r2", "y"), (2L, "r3", "y"),
      (3L, "r1", "x"), (3L, "r2", "y"), (3L, "r3", "x"),
      (4L, "r1", "x"), (4L, "r2", "x"), (4L, "r3", "x"))
    def model(rs: Seq[(Long, String, String)]) = {
      val nij = rs.groupBy(r => (r._1, r._3)).map(_._2.size.toLong)
      val items = rs.map(_._1).distinct.size.toLong
      val n = 3L
      val s1 = nij.map(m => m * m).sum
      val s2 = rs.groupBy(_._3).map(_._2.size.toLong)
        .map(c => c * c).sum
      ((s1 - items * n) * items * n - s2 * (n - 1),
        (n - 1) * (items * items * n * n - s2), items, s1, s2)
    }
    val (mn, md, mi, ms1, ms2) = model(ratings)
    val got = Profile.fleissKappa(ratings.toDF("i", "r", "c"),
      col("i"), col("r"), col("c")).collect()
    assert(got.length == 1)
    val r = got(0)
    assert(r.getLong(0) == mi && r.getLong(1) == 3L)
    assert(r.getLong(2) == ms1 && r.getLong(3) == ms2)
    assert(r.getLong(4) == mn && r.getLong(5) == md)
    // perfect agreement with BOTH categories used: kappa = 1 exactly
    val perfect = Seq(
      (1L, "r1", "x"), (1L, "r2", "x"),
      (2L, "r1", "y"), (2L, "r2", "y"))
    val p = Profile.fleissKappa(perfect.toDF("i", "r", "c"),
      col("i"), col("r"), col("c")).collect()(0)
    assert(p.getLong(4) == p.getLong(5) && p.getLong(5) != 0L)
    // universal agreement on ONE category: den 0 (undefined, visible)
    val uni = Seq((1L, "r1", "x"), (1L, "r2", "x"),
      (2L, "r1", "x"), (2L, "r2", "x"))
    val u = Profile.fleissKappa(uni.toDF("i", "r", "c"),
      col("i"), col("r"), col("c")).collect()(0)
    assert(u.getLong(5) == 0L)
    // ragged judgment counts raise loudly
    intercept[Exception](Profile.fleissKappa(
      (ratings :+ ((4L, "r4", "x"))).toDF("i", "r", "c"),
      col("i"), col("r"), col("c")).collect())
    // empty input -> zero rows
    assert(Profile.fleissKappa(
      Seq.empty[(Long, String, String)].toDF("i", "r", "c"),
      col("i"), col("r"), col("c")).collect().isEmpty)
  }
}
