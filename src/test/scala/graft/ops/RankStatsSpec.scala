package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Grouped order statistics vs plain-Scala models — every operator
  * exact-integer, so equality is bitwise, not approximate.
  */
class RankStatsSpec extends SparkSpec {

  private val rows = Seq(
    ("a", 1L), ("a", 2L), ("a", 3L), ("a", 4L), ("a", 1000000L),
    ("b", 5L), ("b", 5L), ("b", 7L), ("b", 9L),
    ("c", 42L))

  test("quantilesByGroup == ceil-rank model at every requested q; " +
      "q=5000 is the lower median, 0/10000 are min/max") {
    import spark.implicits._
    val qs = Seq(0, 2500, 5000, 7500, 10000)
    def model: Map[(String, Long), (Long, Long)] =
      rows.groupBy(_._1).flatMap { case (g, rs) =>
        val vs = rs.map(_._2).sorted
        val n = vs.length.toLong
        qs.map { q =>
          val k = math.max(1L, (n * q + 9999L) / 10000L)
          (g, q.toLong) -> (n, vs((k - 1).toInt))
        }
      }
    val got = RankStats.quantilesByGroup(rows.toDF("g", "v"),
        col("g"), col("v"), qs)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    assert(got == model)
    assert(got(("a", 5000L)) == (5L, 3L)) // lower median
    assert(got(("a", 0L)) == (5L, 1L))
    assert(got(("a", 10000L)) == (5L, 1000000L))
    intercept[IllegalArgumentException](RankStats.quantilesByGroup(
      rows.toDF("g", "v"), col("g"), col("v"), Seq(10001)))
    intercept[IllegalArgumentException](RankStats.quantilesByGroup(
      rows.toDF("g", "v"), col("g"), col("v"), Seq(5000, 5000)))
  }

  test("winsorizedMeanByGroup == clamp model; keeps n; true floor on " +
      "negative sums; trim 0 is the plain mean") {
    import spark.implicits._
    def model(trimBp: Int): Map[String, (Long, Long, Long, Long, Long, Long)] =
      rows.groupBy(_._1).map { case (g, rs) =>
        val vs = rs.map(_._2).sorted
        val n = vs.length.toLong
        val lo = n * trimBp / 10000L
        val vLo = vs(lo.toInt)
        val vHi = vs((n - lo - 1).toInt)
        val sum = vs.map(v => math.min(math.max(v, vLo), vHi)).sum
        g -> (n, lo, vLo, vHi, sum,
          Math.floorDiv(sum * 1048576L, n))
      }
    def run(trimBp: Int) =
      RankStats.winsorizedMeanByGroup(rows.toDF("g", "v"), col("g"),
          col("v"), trimBp)
        .collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
        .toMap
    for (bp <- Seq(0, 500, 2000, 4999))
      assert(run(bp) == model(bp), s"trimBp=$bp")
    // 20% of 5 rows = 1 row clamped each end: the 1e6 outlier becomes
    // 4, the 1 becomes 2 -> sum 2+2+3+4+4 = 15, mean 3
    assert(run(2000)("a") == (5L, 1L, 2L, 4L, 15L, 15L * 1048576L / 5L))
    // negative sums floor toward -inf (DuckDB // parity)
    val neg = Seq(("n", -1L), ("n", -2L), ("n", -2L)).toDF("g", "v")
    val gotNeg = RankStats.winsorizedMeanByGroup(neg, col("g"),
      col("v"), 0).collect().head
    assert(gotNeg.getLong(5) == -5L)
    assert(gotNeg.getLong(6) == Math.floorDiv(-5L * 1048576L, 3L))
    intercept[IllegalArgumentException](RankStats.winsorizedMeanByGroup(
      neg, col("g"), col("v"), 5000))
  }

  test("mannWhitneyU == midrank model under heavy ties; the 2*Ua+2*Ub " +
      "= 2*na*nb identity holds; degenerate shapes mirror the SQL " +
      "replay") {
    import spark.implicits._
    def model(xa: Seq[Long], xb: Seq[Long]): (Long, Long, Long, Long) = {
      val pooled = (xa ++ xb).sorted
      // doubled midrank of value v: 2*(#less) + (#equal) + 1
      def mr2(v: Long): Long =
        2L * pooled.count(_ < v) + pooled.count(_ == v) + 1L
      val (na, nb) = (xa.length.toLong, xb.length.toLong)
      val r2a = xa.map(mr2).sum
      val r2b = xb.map(mr2).sum
      (na, nb, r2a - na * (na + 1), r2b - nb * (nb + 1))
    }
    def run(xa: Seq[Long], xb: Seq[Long]) = {
      val out = RankStats.mannWhitneyU(xa.toDF("s"), col("s"),
        xb.toDF("s"), col("s")).collect()
      assert(out.length == 1)
      val r = out.head
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    }
    val xa = Seq(1L, 2L, 2L, 2L, 5L, 9L, -3L)
    val xb = Seq(2L, 2L, 4L, 7L, 9L)
    val got = run(xa, xb)
    assert(got == model(xa, xb))
    assert(got._3 + got._4 == 2L * got._1 * got._2, "2Ua+2Ub identity")
    // identical samples: stochastic tie -> u2_a == u2_b == na*nb
    val same = run(xa, xa)
    assert(same._3 == same._4 && same._3 == same._1 * same._2)
    // complete separation: dominated side scores 0
    val sep = run(Seq(1L, 2L), Seq(10L, 11L, 12L))
    assert(sep._3 == 0L && sep._4 == 2L * 2L * 3L)
    // one side empty -> one row, u2 = 0 both; both empty -> zero rows
    assert(run(xa, Seq.empty[Long]) == (7L, 0L, 0L, 0L))
    assert(RankStats.mannWhitneyU(Seq.empty[Long].toDF("s"), col("s"),
      Seq.empty[Long].toDF("s"), col("s")).count() == 0L)
  }

  test("giniByGroup == rank model; uniform group scores 0; all-zero " +
      "group emits den 0; negative values loud") {
    import spark.implicits._
    val g = Seq(
      ("u", 5L), ("u", 5L), ("u", 5L), // uniform -> G = 0
      ("k", 0L), ("k", 0L), ("k", 10L), // concentrated
      ("z", 0L), ("z", 0L)) // all zero -> den 0
    def model: Map[String, (Long, Long, Long, Long)] =
      g.groupBy(_._1).map { case (grp, rs) =>
        val vs = rs.map(_._2).sorted
        val n = vs.length.toLong
        val s = vs.sum
        val t = vs.zipWithIndex.map { case (v, i) => (i + 1) * v }.sum
        grp -> (n, s, 2 * t - (n + 1) * s, n * s)
      }
    val got = RankStats.giniByGroup(g.toDF("g", "v"), col("g"), col("v"))
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toMap
    assert(got == model)
    assert(got("u")._3 == 0L, "uniform group must score num 0")
    assert(got("z")._4 == 0L, "all-zero group signals den 0")
    // k: sorted (0,0,10), num = 2*30 - 4*10 = 20, den = 30 -> G = 2/3
    assert(got("k") == (3L, 10L, 20L, 30L))
    intercept[Exception](RankStats.giniByGroup(
      Seq(("x", -1L)).toDF("g", "v"), col("g"), col("v")).collect())
  }

  test("tukeyOutliersByGroup == fence model; a far outlier is counted " +
      "high, a tight cluster counts none") {
    import spark.implicits._
    def model: Map[String, (Long, Long, Long, Long, Long)] =
      rows.groupBy(_._1).map { case (g, rs) =>
        val vs = rs.map(_._2).sorted
        val n = vs.length.toLong
        def at(qbp: Long) =
          vs((math.max(1L, (n * qbp + 9999L) / 10000L) - 1L).toInt)
        val (q1, q3) = (at(2500), at(7500))
        val iqr = q3 - q1
        val nl = vs.count(v => 2 * v < 2 * q1 - 3 * iqr).toLong
        val nh = vs.count(v => 2 * v > 2 * q3 + 3 * iqr).toLong
        g -> (n, q1, q3, nl, nh)
      }
    val got = RankStats.tukeyOutliersByGroup(rows.toDF("g", "v"),
        col("g"), col("v"))
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(got == model)
    // a: q1=2, q3=4, IQR=2 -> high fence 7 -> the 1e6 row is the one
    // high outlier, nothing low
    assert(got("a") == (5L, 2L, 4L, 0L, 1L))
    assert(got("b") == (4L, 5L, 7L, 0L, 0L))
  }

  test("weightedQuantilesByGroup == cumulative-weight crossing model; " +
      "unit weights reduce to plain quantiles; heavy rows pull the " +
      "weighted median; guards loud") {
    import spark.implicits._
    val wrows = Seq(
      ("a", 1L, 1L), ("a", 2L, 1L), ("a", 3L, 1L), ("a", 4L, 1L),
      ("a", 5L, 96L), // one heavy row: 96% of the weight at v=5
      ("b", 10L, 3L), ("b", 20L, 1L))
    val qs = Seq(2500, 5000, 7500, 10000)
    def model: Map[(String, Long), (Long, Long, Long)] =
      wrows.groupBy(_._1).flatMap { case (g, rs) =>
        val sorted = rs.map(r => (r._2, r._3)).sortBy(_._1)
        val n = rs.length.toLong
        val tw = rs.map(_._3).sum
        qs.map { q =>
          val thresh = math.max(1L, (tw * q + 9999L) / 10000L)
          var cum = 0L
          val v = sorted.find { case (_, w) =>
            cum += w; cum >= thresh && cum - w < thresh
          }.get._1
          (g, q.toLong) -> (n, tw, v)
        }
      }
    val got = RankStats.weightedQuantilesByGroup(
        wrows.toDF("g", "v", "w"), col("g"), col("v"), col("w"), qs)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got == model)
    // the heavy row owns everything from p5 up: weighted median is 5
    assert(got(("a", 5000L))._3 == 5L)
    assert(got(("a", 2500L))._3 == 5L)
    // unit weights == plain quantiles
    val unit = RankStats.weightedQuantilesByGroup(
        rows.toDF("g", "v").withColumn("w", lit(1L)),
        col("g"), col("v"), col("w"), qs)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(4)).toMap
    val plain = RankStats.quantilesByGroup(rows.toDF("g", "v"),
        col("g"), col("v"), qs)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(3)).toMap
    assert(unit == plain)
    intercept[Exception](RankStats.weightedQuantilesByGroup(
      Seq(("x", 1L, 0L)).toDF("g", "v", "w"), col("g"), col("v"),
      col("w"), Seq(5000)).collect())
  }

  test("runningTotalsByGroup == per-group window cumsum over two " +
      "columns, giant groups spanning partitions") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val rng = new scala.util.Random(41)
    val data = rng.shuffle(
      (1L to 2000L).map(i => ("g1", i, (i % 7) + 1, i % 3)) ++
      (1L to 1500L).map(i => ("g2", i, (i % 5) + 1, i % 2)))
    val df = data.toDF("g", "ord", "a", "b").repartition(13)
    val got = graft.ops.Prefix.runningTotalsByGroup(df, "g", "ord",
        Seq("a" -> "ca", "b" -> "cb"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(4), r.getLong(5))).toMap
    val w = Window.partitionBy("g").orderBy("ord")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val want = df
      .withColumn("ca", sum(col("a")).over(w))
      .withColumn("cb", sum(col("b")).over(w))
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(4), r.getLong(5))).toMap
    assert(got == want)
  }

  test("rank-stats operators leave no range-exchange persist or cache " +
      "entry — only their group-sized checkpoints") {
    import spark.implicits._
    import org.apache.spark.sql.GraftProbe
    val df = rows.toDF("g", "v")
    // count only the RDDs made after this marker (the persistent-RDD
    // map holds its values weakly)
    val marker = spark.sparkContext.emptyRDD[Int].id
    val cached = GraftProbe.cachedEntries(spark)
    val q = RankStats.quantilesByGroup(df, col("g"), col("v"), Seq(5000))
    val gini = RankStats.giniByGroup(df, col("g"), col("v"))
    assert(q.count() > 0L && gini.count() > 0L)
    // quantilesByGroup checkpoints its one (group x quantile) target
    // table; a range-exchange persist or a checkpointed result would
    // add more
    val fresh = spark.sparkContext.getPersistentRDDs.keys.count(_ > marker)
    assert(fresh <= 1, s"rank-stats left $fresh persistent RDDs")
    assert(GraftProbe.cachedEntries(spark) == cached,
      s"cache entries $cached -> ${GraftProbe.cachedEntries(spark)}")
  }

  test("kendallTau == brute-force ordered-pair model; doubled counts " +
      "obey conc2+disc2 <= denx2 and the perfect-order / reversed " +
      "pins; cell cap and n guard raise loudly") {
    import spark.implicits._
    val xy = Seq((1L, 10L), (2L, 20L), (2L, 20L), (3L, 15L), (4L, 40L),
      (5L, 5L), (5L, 35L), (6L, 35L))
    def brute(ps: Seq[(Long, Long)]) = {
      val n = ps.length.toLong
      var conc2 = 0L; var disc2 = 0L
      for (i <- ps.indices; j <- ps.indices if i != j) {
        val s = math.signum(ps(i)._1 - ps(j)._1) *
          math.signum(ps(i)._2 - ps(j)._2)
        if (s > 0) conc2 += 1 else if (s < 0) disc2 += 1
      }
      val tx2 = ps.groupBy(_._1).values
        .map(g => g.size.toLong * (g.size - 1)).sum
      val ty2 = ps.groupBy(_._2).values
        .map(g => g.size.toLong * (g.size - 1)).sum
      (n, conc2, disc2, n * (n - 1) - tx2, n * (n - 1) - ty2)
    }
    val r = RankStats.kendallTau(xy.toDF("x", "y"), col("x"), col("y"))
      .collect()
    assert(r.length == 1)
    val row = r(0)
    val (n, c2, d2, dx2, dy2) = brute(xy)
    assert(row.getLong(0) == n)
    assert(row.getLong(2) == c2 && row.getLong(3) == d2)
    assert(row.getLong(4) == dx2 && row.getLong(5) == dy2)
    assert(c2 + d2 <= dx2 && c2 + d2 <= dy2)
    // perfectly ordered: disc2 = 0, conc2 = denx2 = deny2 (tau = +1)
    val perfect = Seq((1L, 1L), (2L, 2L), (3L, 3L), (4L, 4L))
    val p = RankStats.kendallTau(perfect.toDF("x", "y"),
      col("x"), col("y")).collect()(0)
    assert(p.getLong(3) == 0L && p.getLong(2) == p.getLong(4) &&
      p.getLong(2) == p.getLong(5))
    // reversed: conc2 = 0 (tau = -1)
    val rev = RankStats.kendallTau(
      perfect.map { case (x, y) => (x, -y) }.toDF("x", "y"),
      col("x"), col("y")).collect()(0)
    assert(rev.getLong(2) == 0L && rev.getLong(3) == rev.getLong(4))
    // empty input -> zero rows
    assert(RankStats.kendallTau(Seq.empty[(Long, Long)].toDF("x", "y"),
      col("x"), col("y")).collect().isEmpty)
    // cell cap raises loudly
    val many = (1L to 40L).flatMap(x => (1L to 40L).map(y => (x, y)))
    intercept[Exception](RankStats.kendallTau(many.toDF("x", "y"),
      col("x"), col("y"), maxCells = 100).collect())
    intercept[IllegalArgumentException](RankStats.kendallTau(
      xy.toDF("x", "y"), col("x"), col("y"), maxCells = 0))
  }

  test("quantileMapByGroup == plain-Scala model; a lone group maps " +
      "onto itself when ranks hit the bp grid; mapped values are " +
      "drawn from the pooled value set") {
    import spark.implicits._
    val data = Seq(
      ("a", 10L), ("a", 20L), ("a", 20L), ("a", 30L),
      ("b", 100L), ("b", 200L), ("b", 300L), ("b", 400L), ("b", 500L))
    def model: Set[(String, Long, Long, Long, Long, Long)] = {
      val cells = data.groupBy(identity).map { case ((g, v), rs) =>
        (g, v, rs.size.toLong) }.toSeq
      val ns = cells.groupBy(_._1).map { case (g, cs) =>
        g -> cs.map(_._3).sum }
      val pooled = cells.groupBy(_._2).map { case (v, cs) =>
        (v, cs.map(_._3).sum) }.toSeq.sortBy(_._1)
      val bigN = pooled.map(_._2).sum
      val gcum = pooled.scanLeft((0L, 0L, 0L)) {
        case ((_, _, acc), (v, pc)) => (v, pc, acc + pc) }.tail
      cells.groupBy(_._1).flatMap { case (g, cs) =>
        val sorted = cs.sortBy(_._2)
        val cums = sorted.scanLeft(0L)(_ + _._3).tail
        sorted.zip(cums).map { case ((_, v, c), cum) =>
          val pct = cum * 10000L / ns(g)
          val k = math.max(1L, (bigN * pct + 9999L) / 10000L)
          val mapped = gcum.find { case (_, pc, gc) =>
            gc >= k && gc - pc < k }.get._1
          (g, v, c, ns(g), pct, mapped)
        }
      }.toSet
    }
    val got = RankStats.quantileMapByGroup(data.toDF("g", "v"),
        col("g"), col("v"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSet
    assert(got == model)
    // a lone group with n distinct values, n | 10^4: identity map
    val lone = Seq(("s", 1L), ("s", 2L), ("s", 3L), ("s", 4L))
    val li = RankStats.quantileMapByGroup(lone.toDF("g", "v"),
        col("g"), col("v"))
      .collect().map(r => (r.getLong(1), r.getLong(5))).toSet
    assert(li == Set((1L, 1L), (2L, 2L), (3L, 3L), (4L, 4L)))
    // mapped values come from the pooled distinct-value set
    val vs = data.map(_._2).toSet
    assert(got.forall { case (_, _, _, _, _, m) => vs.contains(m) })
  }
}
