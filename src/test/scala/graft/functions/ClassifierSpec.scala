package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ClassifierSpec extends SparkSpec {

  /** Naive driver-side twin: exact longs, same weights and argmax. */
  private def naive(
      train: Seq[(String, String)], score: Seq[(Long, String)])
      : Map[Long, (String, Long, Long)] = {
    def toks(s: String) = s.split("\\s+").filter(_.nonEmpty).toSeq
    val counts = train.flatMap { case (l, x) => toks(x).map((l, _)) }
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val totals = counts.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val vocab = counts.keys.map(_._2).toSet
    val v = vocab.size.toLong
    val labels = totals.keys.toSeq.sorted
    score.flatMap { case (id, x) =>
      val ts = toks(x).filter(vocab)
      if (ts.isEmpty) None
      else {
        val scored = labels.map { l =>
          val fx = ts.map(t =>
            ((counts.getOrElse((l, t), 0L) + 1L) * (1L << 20)) /
              (totals(l) + v)).sum
          (l, fx)
        }
        val best = scored.sortBy { case (l, fx) => (-fx, l) }.head
        Some(id -> ((best._1, best._2, ts.size.toLong)))
      }
    }.toMap
  }

  private def run(
      train: Seq[(String, String)], score: Seq[(Long, String)])
      : Map[Long, (String, Long, Long)] = {
    import spark.implicits._
    Classifier.nbLinear(
        train.toDF("label", "text"), col("label"), col("text"),
        score.toDF("id", "text"), col("id"), col("text"))
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3))))
      .toMap
  }

  test("separable classes classify correctly; ties break to the " +
      "lexicographically smaller label") {
    val train = Seq(
      ("sport", "goal match team goal win"),
      ("sport", "team match stadium"),
      ("tech", "code compiler bug code"),
      ("tech", "kernel compiler stack"))
    val out = run(train, Seq(
      (1L, "goal team match"), (2L, "compiler code stack"),
      (3L, "never seen words only")))
    assert(out(1L)._1 == "sport")
    assert(out(2L)._1 == "tech")
    assert(!out.contains(3L)) // zero in-vocabulary tokens -> absent
  }

  test("matches the naive model exactly on an adversarial corpus " +
      "(shuffle and broadcast arms agree)") {
    val rng = new scala.util.Random(17)
    val labels = Seq("a", "b", "c")
    val train = (1 to 60).map { i =>
      val l = labels(i % 3)
      val words = (0 until (i % 9 + 1))
        .map(j => s"w${(i * 13 + j * 7 + l.hashCode) % 23}")
      (l, words.mkString(" "))
    }
    val docs = (1L to 40L).map { i =>
      (i, (0 until (i % 6 + 1).toInt)
        .map(j => s"w${(i * 31 + j * 11) % 29}").mkString(" "))
    }
    val expected = naive(train, docs)
    assert(run(train, docs) == expected)
  }

  test("plan shape: token counts aggregate once — the model's consumers " +
      "all read the cache") {
    import spark.implicits._
    val train = Seq(("x", "alpha beta"), ("y", "alpha gamma"))
    val docs = Seq((1L, "alpha beta gamma"))
    try {
      val plan = Classifier.nbLinear(
          train.toDF("label", "text"), col("label"), col("text"),
          docs.toDF("id", "text"), col("id"), col("text"))
        .queryExecution.executedPlan.toString
      val cacheReads = "InMemoryTableScan".r.findAllIn(plan).size
      assert(cacheReads >= 3, s"model cache not shared:\n$plan")
    } finally spark.catalog.clearCache()
  }

  test("n_scored_tokens counts in-vocabulary occurrences with " +
      "multiplicity, identically across classes") {
    val train = Seq(("x", "alpha beta"), ("y", "alpha gamma"))
    val out = run(train, Seq((1L, "alpha alpha beta zzz")))
    assert(out(1L)._3 == 3L) // alpha x2 + beta; zzz out of vocab
  }
}
