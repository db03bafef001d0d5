package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed two-pass prefix sum vs the single-partition window it
  * replaces: same numbers, scalable plan.
  */
class PrefixSpec extends SparkSpec {

  test("runningTotal == single-partition window cumsum on shuffled input") {
    import spark.implicits._
    val rng = new scala.util.Random(3)
    val rows = rng.shuffle((1L to 500L).toList).map(i => (i, (i % 7) + 1))
    val df = rows.toDF("id", "v").repartition(13) // deliberately scattered
    val distributed = Prefix.runningTotal(df, "id", "v", "run")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val window = df.withColumn("run",
        sum(col("v")).over(Window.orderBy("id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(distributed == window)
  }

  test("runningTotals: two cumulative columns on ONE range exchange == " +
      "two chained runningTotal calls") {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    val rows = rng.shuffle((1L to 400L).toList)
      .map(i => (i, (i % 5) + 1, (i % 3)))
    val df = rows.toDF("id", "x", "y").repartition(11)
    val onePass = Prefix.runningTotals(df, "id",
        Seq("x" -> "cx", "y" -> "cy"))
      .collect().map(r => r.getLong(0) -> (r.getLong(3), r.getLong(4)))
      .toMap
    val chained = Prefix.runningTotal(
        Prefix.runningTotal(df, "id", "x", "cx"), "id", "y", "cy")
      .collect().map(r => r.getLong(0) -> (r.getLong(3), r.getLong(4)))
      .toMap
    assert(onePass == chained)
    assert(onePass(400L) == (rows.map(_._2).sum, rows.map(_._3).sum))
  }

  test("rankByGroup == per-group window row_number on unique values, " +
      "including a giant group spanning many range partitions") {
    import spark.implicits._
    val rng = new scala.util.Random(13)
    // 2 giant groups + 1 singleton: on local[4] each giant group spans
    // several range partitions, exercising the cross-partition offsets
    val rows = rng.shuffle(
      (1L to 3000L).map(i => ("big_a", i * 7L)) ++
      (1L to 2500L).map(i => ("big_b", i * 3L + 1L)) ++
      Seq(("solo", 99L)))
    val df = rows.toDF("g", "v").repartition(17)
    val got = Prefix.rankByGroup(df, "g", "v", "rk")
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    val want = df.withColumn("rk", row_number().over(
        Window.partitionBy("g").orderBy("v")))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getInt(2)
        .toLong).toMap
    assert(got == want)
    assert(got(("solo", 99L)) == 1L)
  }

  test("rankByGroup under ties: ranks are a permutation of 1..n per " +
      "group and value order is respected (tied values interchangeable)") {
    import spark.implicits._
    val rng = new scala.util.Random(29)
    val rows = rng.shuffle(
      (1L to 800L).map(i => ("a", i % 10)) ++ // heavy ties
      (1L to 500L).map(i => ("b", i % 3)))
    val out = Prefix.rankByGroup(rows.toDF("g", "v"), "g", "v", "rk")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    out.groupBy(_._1).foreach { case (g, rs) =>
      val n = rs.length
      assert(rs.map(_._3).sorted.toSeq == (1L to n.toLong),
        s"group $g ranks must be a permutation of 1..$n")
      // sorted by rank, values must be non-decreasing
      val byRank = rs.sortBy(_._3).map(_._2)
      assert(byRank.zip(byRank.tail).forall { case (x, y) => x <= y },
        s"group $g values out of order along ranks")
    }
  }

  test("rankByGroup compares binary groups by value: a group spanning " +
      "several partitions keeps one 1..n rank run") {
    import spark.implicits._
    val rows = scala.util.Random.shuffle(
      (1L to 600L).map(i => (Array[Byte](1, 2), i)) ++
      (1L to 400L).map(i => (Array[Byte](3), i)))
    val out = Prefix.rankByGroup(rows.toDF("g", "v").repartition(9),
        "g", "v", "rk")
      .collect().map(r => (r.getAs[Array[Byte]](0).toSeq, r.getLong(1),
        r.getLong(2)))
    out.groupBy(_._1).foreach { case (g, rs) =>
      assert(rs.forall(r => r._2 == r._3), s"group $g ranks != values")
    }
    assert(out.length == 1000)
  }

  /** Every Prefix form over one small local input (no exchange of its
    * own), so each call's only shuffle is its range exchange. */
  private def forms = {
    import spark.implicits._
    val df = Seq(("a", 1L, 3L), ("a", 2L, 4L), ("b", 3L, 5L), ("b", 4L, 0L))
      .toDF("g", "id", "tok")
    Seq[(String, () => org.apache.spark.sql.DataFrame)](
      "runningTotal" -> (() => Prefix.runningTotal(df, "id", "tok")),
      "runningTotals" -> (() =>
        Prefix.runningTotals(df, "id", Seq("tok" -> "c1", "id" -> "c2"))),
      "rankByGroup" -> (() => Prefix.rankByGroup(df, "g", "id")),
      "runningTotalsByGroup" -> (() =>
        Prefix.runningTotalsByGroup(df, "g", "id", Seq("tok" -> "c"))),
      "packIntoShards" -> (() =>
        Prefix.packIntoShards(df, "id", "tok", budget = 4L)),
      "packSequences" -> (() =>
        Prefix.packSequences(df, "id", "tok", seqLen = 4L)))
  }

  test("no Prefix form leaves a persistent RDD or a cache entry, and an " +
      "empty input yields an empty result") {
    import spark.implicits._
    import org.apache.spark.sql.GraftProbe
    // the persistent-RDD map holds its values weakly, so an earlier
    // suite's unreferenced persist can be collected mid-test: count
    // only the RDDs made after this marker, not the map's size
    val marker = spark.sparkContext.emptyRDD[Int].id
    val cached = GraftProbe.cachedEntries(spark)
    // the results stay referenced until the counts are read
    val outs = forms.map { case (name, build) =>
      val out = build()
      assert(out.collect().nonEmpty, name)
      name -> out
    }
    val maxRank = outs.toMap.apply("rankByGroup")
      .groupBy("g").agg(max("rank")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(maxRank == Map("a" -> 2L, "b" -> 2L))
    val empty = Prefix.rankByGroup(
      Seq(("a", 1L)).toDF("g", "v").filter(col("v") < 0L), "g", "v", "rk")
    assert(empty.count() == 0L)
    val fresh = spark.sparkContext.getPersistentRDDs.keys.count(_ > marker)
    assert(fresh == 0, s"${outs.map(_._1)} left $fresh persistent RDD(s)")
    assert(GraftProbe.cachedEntries(spark) == cached,
      s"cache entries $cached -> ${GraftProbe.cachedEntries(spark)}")
  }

  test("each Prefix form runs ONE range shuffle-map stage over plan build " +
      "and an action, and the action's pass 2 skips it") {
    import org.apache.spark.sql.GraftProbe
    forms.foreach { case (name, build) =>
      val (out, buildJobs) = GraftProbe.jobs(spark, s"prefix-build-$name")(
        build())
      val (_, actionJobs) = GraftProbe.jobs(spark, s"prefix-action-$name")(
        out.collect())
      // plan build: the range sampling job, the shuffle-map job and
      // pass 1
      assert(buildJobs.size == 3, s"$name build ran $buildJobs")
      val mapStages = (buildJobs ++ actionJobs).flatMap(_.shuffleMap).toSet
      assert(mapStages.size == 1,
        s"$name ran ${mapStages.size} shuffle-map stages: " +
          s"build $buildJobs, action $actionJobs")
      assert(actionJobs.size == 1 && actionJobs.head.submitted.size == 1 &&
        actionJobs.head.skipped == 1,
        s"$name action must run pass 2 alone over the written shuffle: " +
          s"$actionJobs")
    }
  }

  test("packIntoShards cuts contiguous shards at budget multiples, " +
      "overflowing by at most the boundary document") {
    import spark.implicits._
    // tokens: 60, 60, 60 with budget 100 -> starts at 0, 60, 120 ->
    // shards 0, 0, 1 (shard 0 holds 120 tokens: boundary doc overflows)
    val df = Seq((1L, 60L), (2L, 60L), (3L, 60L)).toDF("doc_id", "tok")
    val shards = Prefix.packIntoShards(df, "doc_id", "tok", budget = 100)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(shards == Map(1L -> 0L, 2L -> 0L, 3L -> 1L))
  }

  test("a document bigger than the budget still lands in exactly one shard") {
    import spark.implicits._
    val df = Seq((1L, 50L), (2L, 500L), (3L, 50L)).toDF("doc_id", "tok")
    val out = Prefix.packIntoShards(df, "doc_id", "tok", budget = 100)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(out(1L) == 0L)
    assert(out(2L) == 0L) // starts at offset 50, inside shard 0
    assert(out(3L) == 5L) // starts at 550
  }

  test("packSequences chops the concatenated corpus into exactly full " +
      "sequences (model equivalence vs a sequential packer)") {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    val docs = (1L to 120L).map(i => (i, rng.nextInt(40))) // incl. len 0
    val L = 32L
    val out = Prefix.packSequences(
        rng.shuffle(docs).toDF("id", "tok").repartition(9), "id", "tok", L)
      .select("id", "seq_id", "tok_from", "tok_to", "seq_off")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))

    // sequential reference: walk docs in id order, chop at L boundaries
    var pos = 0L
    val expected = docs.sortBy(_._1).flatMap { case (id, tok) =>
      val spans = scala.collection.mutable.Buffer
        .empty[(Long, Long, Long, Long, Long)]
      var off = 0L
      while (off < tok) {
        val seq = (pos + off) / L
        val take = math.min(tok - off, (seq + 1) * L - (pos + off))
        spans += ((id, seq, off, off + take, (pos + off) % L))
        off += take
      }
      pos += tok
      spans
    }
    assert(out.sortBy(r => (r._1, r._2)).toSeq == expected)
    // every sequence except the last is exactly full
    val bySeq = out.groupBy(_._2).view
      .mapValues(_.map(s => s._4 - s._3).sum).toMap
    val last = bySeq.keys.max
    assert(bySeq.filter(_._1 != last).values.forall(_ == L))
  }

  test("non-integral token values are rejected") {
    import spark.implicits._
    val df = Seq((1L, 1.5)).toDF("doc_id", "tok")
    val e = intercept[Exception] {
      Prefix.runningTotal(df, "doc_id", "tok").collect()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(e).exists(c => Option(c.getMessage)
      .exists(_.contains("must be integral"))))
  }

  test("packBinsFfd matches a plain-Scala FFD model per segment, is " +
      "partitioning-invariant, gives oversize docs their own bin, and " +
      "packs null/zero tokens deterministically") {
    import spark.implicits._
    def hash52(id: Long, salt: String): BigInt = {
      val d = java.security.MessageDigest.getInstance("MD5")
      val hex = d.digest(s"$id:$salt".getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
      BigInt(hex.take(13), 16)
    }
    // plain-Scala replay of the documented rule
    def model(rows: Seq[(Long, Long)], budget: Long, segments: Int)
        : Set[(Long, Long, Long, Long, Long)] = {
      rows.groupBy { case (id, _) =>
        (hash52(id, "ffd") % segments).toLong
      }.flatMap { case (seg, members) =>
        val ordered = members.sortBy { case (id, tok) => (-tok, id) }
        val rem = scala.collection.mutable.ArrayBuffer[Long]()
        ordered.zipWithIndex.map { case ((id, tok), i) =>
          val fit = rem.indexWhere(_ >= tok)
          val bin =
            if (fit < 0) { rem += (budget - tok); rem.length - 1 }
            else { rem(fit) -= tok; fit }
          (seg, id, tok, bin + 1L, i + 1L)
        }
      }.toSet
    }
    val rows = Seq(
      (1L, 900L), (2L, 800L), (3L, 700L), (4L, 600L), (5L, 500L),
      (6L, 400L), (7L, 300L), (8L, 200L), (9L, 100L), (10L, 1000L),
      (11L, 950L), (12L, 50L), (13L, 0L), (14L, 999L), (15L, 1L))
    val expected = model(rows, budget = 1000L, segments = 2)
    for (parts <- Seq(1, 7)) {
      val got = graft.ops.Prefix.packBinsFfd(
          rows.toDF("id", "tok").repartition(parts),
          col("id"), col("tok"), budget = 1000L, segments = 2,
          salt = "ffd")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSet
      assert(got == expected, s"parts=$parts")
    }
    // fill <= budget for every bin without an oversize member
    expected.groupBy(t => (t._1, t._4)).foreach { case (k, members) =>
      val fill = members.toSeq.map(_._3).sum
      if (members.forall(_._3 <= 1000L))
        assert(fill <= 1000L, s"bin $k overfilled: $fill")
    }
    // oversize doc: own bin, loud in the data (fill > budget), and the
    // segment's other docs still pack
    val over = Seq((1L, 5000L), (2L, 400L), (3L, 300L))
    val seg0 = graft.ops.Prefix.packBinsFfd(
        over.toDF("id", "tok"), col("id"), col("tok"),
        budget = 1000L, segments = 1, salt = "ffd")
      .collect().map(r => (r.getLong(1), r.getLong(3))).toMap
    assert(seg0(1L) != seg0(2L)) // the giant is alone
    assert(seg0(2L) == seg0(3L)) // 400+300 share a bin
    // null token packs as 0
    val withNull = Seq((1L, Some(500L)), (2L, None)).toDF("id", "tok")
    val n = graft.ops.Prefix.packBinsFfd(withNull, col("id"), col("tok"),
        budget = 1000L, segments = 1, salt = "ffd")
      .collect().map(r => (r.getLong(1), r.getLong(2))).toMap
    assert(n(2L) == 0L)
    intercept[IllegalArgumentException] {
      graft.ops.Prefix.packBinsFfd(withNull, col("id"), col("tok"),
        budget = 0L, segments = 1, salt = "ffd")
    }
  }
}
