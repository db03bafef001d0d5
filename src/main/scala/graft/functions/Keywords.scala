package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** TF-IDF keyword extraction over a document corpus — the standard
  * "what is this document about" signal a training-data pipeline uses
  * for topic filtering, domain tagging and mixture construction.
  *
  * The idf here is the LINEAR variant (N+1)/(df+1), not log((N+1)/(df+1)):
  * ranking per document is what matters, the linear form preserves the
  * df-ordering of the log form for fixed tf, and — the deciding reason —
  * it is an exact IEEE quotient of two small integers, so scores are
  * bit-identical in any engine (log's last-ulp behavior is libm-specific,
  * which would break hash-exact verification; the repo's determinism
  * rule, NOTES.md).
  */
object Keywords {

  /** Top-k terms per document by tf * (N+1)/(df+1).
    *
    * Plan shape at corpus scale: token explode feeds ONE wide grouping
    * shuffle keyed (id, term) for tf (map-side combined); document
    * frequencies aggregate from the tf rows (narrow, vocab-sized) and
    * BROADCAST back (vocabulary ≪ corpus); the per-doc ranking is `topk_by`'s
    * bounded aggregate, so partials carry at most k terms per (task,
    * doc) into the final narrow shuffle. N rides a 1-row broadcast
    * cross join — no separate driver action.
    *
    * @return (id, term, score, rank) — rank by (score desc, term asc)
    */
  def tfidfTopTerms(
      df: DataFrame,
      idCol: Column,
      textCol: Column,
      k: Int = 5): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val tf = df
      .select(idCol.as("id"),
        explode(Text.tokens(textCol.cast("string"))).as("term"))
      .groupBy("id", "term")
      .agg(count(lit(1)).as("tf"))
    // tf rows are distinct (id, term) pairs, so counting them per term
    // IS the document frequency — no second pass over the token stream.
    // count(when(tf > 0, 1)), NOT count(1): the values are identical
    // (tf >= 1 by construction), but count(1) lets the optimizer prune
    // the tf column and rewrite this consumer's copy of the aggregate
    // into a distinct-only shape — a DIFFERENT subtree below the
    // (id, term) exchange, which kills exchange reuse and runs the token
    // explode + shuffle TWICE (a plain count(tf) gets normalized back to
    // count(1) for never-null columns, so the dependency must be one
    // Catalyst cannot see through). KeywordsSpec pins the reuse.
    val dfreq = broadcast(tf.groupBy("term")
      .agg(count(when(col("tf") > 0, 1)).as("df")))
    val n = broadcast(df.agg(count_distinct(idCol).as("n")))
    tf.join(dfreq, "term")
      .crossJoin(n)
      .withColumn("score",
        col("tf").cast("double") *
          ((col("n") + 1).cast("double") / (col("df") + 1).cast("double")))
      .groupBy("id")
      .agg(call_function("topk_by", col("term"), col("score"), lit(k))
        .as("top"))
      .select(col("id"), posexplode(col("top")))
      .select(
        col("id"),
        col("col.id").as("term"),
        col("col.score").as("score"),
        (col("pos") + 1).as("rank"))
  }

  /** Multi-pattern dictionary tagging via a broadcast Aho-Corasick
    * automaton — the scale-correct form of "which blocklist /
    * taxonomy / PII-lexicon terms appear in each document, how many
    * times". A per-term `contains` loop is O(chars × terms) and dies
    * at real dictionary sizes; the automaton walks each document ONCE
    * (O(chars) transitions; matches surface through suffix links), so
    * a 100k-term lexicon costs the same scan as a 10-term one.
    *
    * Semantics: counts EVERY occurrence of every dictionary term as a
    * raw substring — overlapping occurrences and terms nested inside
    * other terms (or inside words) all count, the classic AC output.
    * Word-boundary or longest-match-only policies are dictionary-prep
    * concerns (pad terms with spaces / prune nested entries upstream),
    * not automaton variants. Case-sensitive; normalize upstream
    * ([[Text.normalizeText]]) for case-folded matching. NULL text
    * tags nothing.
    *
    * Scale shape: the automaton is built ONCE on the driver (O(dict
    * chars) nodes, loud 10⁷-char bound — a 10⁷-char automaton is tens
    * of MB, broadcast territory, same ceiling as a broadcast dim) and
    * broadcast; the scan is map-only over a pruned (id, text)
    * projection — no shuffle at all in the operator (downstream aggs
    * shuffle ≤ matched (doc, term) pairs, not text).
    *
    * @param dict non-empty distinct terms, each non-empty
    * @return (id, term, n_matches) for terms with ≥ 1 occurrence
    */
  def dictionaryTag(
      df: DataFrame,
      idCol: Column,
      textCol: Column,
      dict: Seq[String]): DataFrame = {
    require(dict.nonEmpty, "dictionaryTag needs at least one term")
    require(dict.forall(_.nonEmpty), "dictionary terms must be non-empty")
    require(dict.distinct.size == dict.size,
      "dictionary terms must be distinct")
    require(dict.map(_.length.toLong).sum <= 10L * 1000 * 1000,
      "dictionary exceeds 1e7 chars — shard the dictionary and union " +
      "the tag runs")
    val spark = df.sparkSession
    val auto = spark.sparkContext.broadcast(AhoCorasick.build(dict))
    val terms = dict.toArray
    val base = df.select(idCol.cast("long").as("id"),
        textCol.cast("string").as("text"))
      .filter(col("id").isNotNull && col("text").isNotNull)
    import org.apache.spark.sql.{Encoder, Encoders}
    implicit val enc: Encoder[(Long, String, Long)] = Encoders.tuple(
      Encoders.scalaLong, Encoders.STRING, Encoders.scalaLong)
    base.mapPartitions { rows =>
      val a = auto.value
      rows.flatMap { r =>
        val counts = a.countMatches(r.getString(1))
        counts.iterator.zipWithIndex.collect { case (cnt, ti) if cnt > 0 =>
          (r.getLong(0), terms(ti), cnt)
        }
      }
    }.toDF("id", "term", "n_matches")
  }
}

/** Classic Aho-Corasick automaton (goto + fail + output links), built
  * driver-side and broadcast. Flat-array node storage (children as
  * per-node HashMap — dictionary alphabets are unbounded unicode) so
  * the broadcast payload is compact and the scan allocation-free.
  */
private[functions] object AhoCorasick {
  final class Automaton(
      val children: Array[java.util.HashMap[Char, Int]],
      val fail: Array[Int],
      // per node: term indices ending here (own + via suffix links)
      val out: Array[Array[Int]],
      val nTerms: Int) extends Serializable {

    /** Occurrence count per term index for one text. */
    def countMatches(text: String): Array[Long] = {
      val counts = new Array[Long](nTerms)
      var s = 0
      var i = 0
      while (i < text.length) {
        val c = text.charAt(i)
        var n = children(s).getOrDefault(c, -1)
        while (n == -1 && s != 0) {
          s = fail(s)
          n = children(s).getOrDefault(c, -1)
        }
        s = if (n == -1) 0 else n
        val o = out(s)
        var j = 0
        while (j < o.length) { counts(o(j)) += 1L; j += 1 }
        i += 1
      }
      counts
    }
  }

  def build(dict: Seq[String]): Automaton = {
    val children = scala.collection.mutable.ArrayBuffer(
      new java.util.HashMap[Char, Int]())
    val ownOut = scala.collection.mutable.ArrayBuffer(
      List.empty[Int])
    dict.zipWithIndex.foreach { case (term, ti) =>
      var s = 0
      term.foreach { c =>
        val nxt = children(s).getOrDefault(c, -1)
        s = if (nxt != -1) nxt else {
          children += new java.util.HashMap[Char, Int]()
          ownOut += Nil
          children(s).put(c, children.size - 1)
          children.size - 1
        }
      }
      ownOut(s) = ti :: ownOut(s)
    }
    val n = children.size
    val fail = new Array[Int](n)
    val out = new Array[List[Int]](n)
    var i = 0
    while (i < n) { out(i) = ownOut(i); i += 1 }
    // BFS: fail(child) = deepest proper suffix state; outputs inherit
    val queue = new java.util.ArrayDeque[Int]()
    children(0).forEach { (_, c) => fail(c) = 0; queue.add(c) }
    while (!queue.isEmpty) {
      val s = queue.poll()
      children(s).forEach { (ch, c) =>
        var f = fail(s)
        var nxt = children(f).getOrDefault(ch, -1)
        while (nxt == -1 && f != 0) {
          f = fail(f)
          nxt = children(f).getOrDefault(ch, -1)
        }
        fail(c) = if (nxt != -1 && nxt != c) nxt else 0
        out(c) = out(c) ++ out(fail(c))
        queue.add(c)
      }
    }
    new Automaton(children.toArray, fail, out.map(_.toArray), dict.size)
  }
}
