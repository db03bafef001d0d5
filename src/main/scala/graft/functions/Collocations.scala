package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** PMI collocation extraction (Church & Hanks 1990) — the corpus-level
  * "which word pairs belong together" tool (multi-word expressions,
  * named entities, domain phrases) that complements [[LangModel]]'s
  * per-document scoring with a corpus-wide ranked vocabulary of
  * adjacent pairs.
  *
  *   pmi(x,y) = log2( p(x,y) / (p(x)·p(y)) )
  *            = log2 c_xy + 2·log2 T − log2 B − log2 c_x − log2 c_y
  *
  * with c_xy adjacent-bigram counts, c_x unigram counts, T total
  * tokens, B total bigrams. All five logs run through [[Dsir.ilog2Fx]]
  * (exact integer binary log at 2^20 scale), so scores are
  * bit-identical across engines and the oracle replays the loop.
  * `minCount` drops the hapax noise PMI is notorious for (rare pairs
  * max the ratio); the published mitigation, kept as part of the
  * definition.
  *
  * Scale shape: one groupBy over the exploded bigram stream and one
  * over tokens — both map-side combined, shuffling at most the vocab
  * per partition. The two 1-row totals are broadcast via crossJoin
  * (the [[graft.ops.Hits]] normalize idiom — no driver round-trip),
  * unigram counts join the bigram table twice (x then y arm, each a
  * plain equi-join AQE broadcasts when the kept vocab is small), and
  * the per-row PMI is a map-only kernel. Top-k is orderBy+limit →
  * TakeOrderedAndProject.
  */
object Collocations extends Serializable {

  /** Output: the k highest-PMI adjacent pairs with c_xy ≥ minCount,
    * (w1, w2, n bigint, pmi_fx bigint), ties broken (w1, w2) asc.
    */
  def topPmi(
      df: DataFrame,
      id: Column,
      text: Column,
      minCount: Long,
      k: Int): DataFrame = {
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    require(k >= 1, s"k must be positive, got $k")
    val tk = Text.tokens(text)
    val toks = df.select(id.as("id"), tk.as("tk"))
    val uni = toks.select(explode(col("tk")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    val biAll = toks.filter(size(col("tk")) >= 2)
      .select(explode(zip_with(
        slice(col("tk"), lit(1), size(col("tk")) - 1),
        slice(col("tk"), lit(2), size(col("tk")) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("b"))
      .select(col("b.w1"), col("b.w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("n"))
    // B is the PRE-filter occurrence total: p(x,y) = c_xy / B is a
    // probability over all adjacent pairs, not over the kept vocab
    val bTot = broadcast(biAll.agg(sum(col("n")).as("b_tot")))
    val bi = biAll.filter(col("n") >= minCount)
    val tTot = broadcast(uni.agg(sum(col("c")).as("t_tot")))
    val joined = bi
      .join(uni.select(col("w").as("w1"), col("c").as("cx")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("c").as("cy")), Seq("w2"))
      .crossJoin(tTot).crossJoin(bTot)
      .select(col("w1"), col("w2"), col("n"), col("cx"), col("cy"),
        col("t_tot"), col("b_tot"))
    scorePmi(joined, k)
  }

  /** Windowed skip-gram PMI — [[topPmi]]'s association measure over
    * UNORDERED pairs within token distance 1..`window` (the word2vec/
    * GloVe co-occurrence statistic, window > 1 catching associations
    * adjacency misses: "neural … network" across an adjective).
    * Pairs are canonicalized (w1 ≤ w2 lexicographically) so "a b" and
    * "b a" pool; a token pairs with each of its ≤ window right
    * neighbors, so the pair stream is ≤ window·T rows — emitted
    * MAP-SIDE from the per-document token array (window zip_withs,
    * one per distance — no positional self-join), then the same
    * vocab-sized count shuffle, unigram joins, and exact-integer
    * [[Dsir.ilog2Fx]] kernel as topPmi, with P = total pair
    * occurrences in the denominator's place of B.
    */
  def skipgramPmi(
      df: DataFrame,
      id: Column,
      text: Column,
      window: Int,
      minCount: Long,
      k: Int): DataFrame = {
    require(window >= 1 && window <= 16,
      s"window must be in [1, 16], got $window")
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    require(k >= 1, s"k must be positive, got $k")
    val tk = Text.tokens(text)
    val toks = df.select(id.as("id"), tk.as("tk"))
    val uni = toks.select(explode(col("tk")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    val emptyPairs =
      "CAST(array() AS array<struct<w1:string,w2:string>>)"
    val arms = (1 to window).map { d =>
      when(size(col("tk")) > d, zip_with(
        slice(col("tk"), lit(1), size(col("tk")) - d),
        slice(col("tk"), lit(1 + d), size(col("tk")) - d),
        (a, b) => struct(least(a, b).as("w1"), greatest(a, b).as("w2"))))
        .otherwise(expr(emptyPairs))
    }
    val pairAll = toks
      .select(explode(flatten(array(arms: _*))).as("b"))
      .select(col("b.w1"), col("b.w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("n"))
    // P is the PRE-filter pair-occurrence total (topPmi's B rule)
    val pTot = broadcast(pairAll.agg(sum(col("n")).as("p_tot")))
    val pairs = pairAll.filter(col("n") >= minCount)
    val tTot = broadcast(uni.agg(sum(col("c")).as("t_tot")))
    val joined = pairs
      .join(uni.select(col("w").as("w1"), col("c").as("cx")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("c").as("cy")), Seq("w2"))
      .crossJoin(tTot).crossJoin(pTot)
      .select(col("w1"), col("w2"), col("n"), col("cx"), col("cy"),
        col("t_tot"), col("p_tot"))
    scorePmi(joined, k)
  }

  /** Shared exact-PMI kernel over (w1, w2, n, cx, cy, t_tot, x_tot):
    * pmi_fx = log2 n + 2·log2 T − log2 X − log2 cx − log2 cy, every
    * log [[Dsir.ilog2Fx]]; (pmi desc, w1, w2) top-k.
    */
  private def scorePmi(joined: DataFrame, k: Int): DataFrame = {
    val schema = StructType(Seq(
      StructField("w1", StringType, true),
      StructField("w2", StringType, true),
      StructField("n", LongType, false),
      StructField("pmi_fx", LongType, false)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(schema)
    joined.mapPartitions { rows =>
      rows.map { r =>
        val n = r.getLong(2)
        val pmi = Dsir.ilog2Fx(n) + 2L * Dsir.ilog2Fx(r.getLong(5)) -
          Dsir.ilog2Fx(r.getLong(6)) - Dsir.ilog2Fx(r.getLong(3)) -
          Dsir.ilog2Fx(r.getLong(4))
        org.apache.spark.sql.Row(r.getString(0), r.getString(1), n, pmi)
      }
    }(enc)
      .orderBy(col("pmi_fx").desc, col("w1").asc, col("w2").asc)
      .limit(k)
  }

  /** Per-source DISTINGUISHING terms by Dirichlet-smoothed log-odds
    * (Monroe, Colaresi & Quinn 2008's "fightin' words", the
    * source-vs-rest form) — the source-fingerprinting complement of
    * [[topPmi]]'s corpus-wide pairs: which terms does THIS source
    * over-use relative to everything else? The statistic behind
    * "this feed turned into SEO spam" alerts and per-source
    * curation rules, robust where raw tf-idf rank is hijacked by
    * hapax terms.
    *
    * Exact base-2, α = 1 smoothing over the PRE-filter vocabulary V
    * (the topPmi B rule):
    *
    *   δ_fx(s, w) = [ilog2Fx(y_sw+1) − ilog2Fx(n_s+V−y_sw−1)]
    *              − [ilog2Fx(y_rw+1) − ilog2Fx(n_r+V−y_rw−1)]
    *
    * with y = term counts, n = token totals, r = corpus minus s.
    * Unstandardized (the paper's variance z-division is irrational;
    * exactness is this engine's contract — consumers wanting the
    * z-form can divide downstream). `minCount` drops corpus-rare
    * terms (y_w < minCount) AFTER V and the totals are fixed.
    *
    * Shape: one map-side-combined (source, term) count, two bounded
    * rollups (per-term, per-source), two 1-row broadcasts, the exact
    * log kernel as a map over the vocab-sized joined table, then the
    * bounded per-source top-k fold ([[graft.ops.Sampling
    * .capPerGroup]] — map-side k-heaps, never a vocab-wide rank
    * window).
    *
    * @return (src, term, y_sw, y_w, delta_fx, rank 1..k) — the k
    *   most source-distinguishing terms per source, ties (delta
    *   desc, term asc)
    */
  def logOddsTerms(
      df: DataFrame,
      sourceCol: Column,
      textCol: Column,
      minCount: Long = 5L,
      k: Int = 20): DataFrame = {
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    require(k >= 1, s"k must be positive, got $k")
    val sw = df.select(sourceCol.as("src"), Text.tokens(textCol).as("tk"))
      .filter(col("src").isNotNull)
      .select(col("src"), explode(col("tk")).as("w"))
      .groupBy("src", "w").agg(count(lit(1)).as("ysw"))
      // (source x term)-sized — cached so the three consumers (term
      // rollup, source rollup, the scored join) and capPerGroup's
      // two passes share ONE tokenize+count of the corpus (plan
      // audit: uncached, the explode+count lineage re-ran per
      // consumer — 6.5 s for 200 output rows at sf0.1, 3.1 s cached)
      .cache()
    val wTot = sw.groupBy("w").agg(sum(col("ysw")).as("yw"))
    val sTot = sw.groupBy("src").agg(sum(col("ysw")).as("ns"))
    val totals = broadcast(wTot.agg(count(lit(1)).as("v"),
      sum(col("yw")).as("nn")))
    val joined = sw
      .join(wTot.filter(col("yw") >= minCount), Seq("w"))
      .join(sTot, Seq("src"))
      .crossJoin(totals)
      .select(col("src"), col("w"), col("ysw"), col("yw"), col("ns"),
        col("v"), col("nn"))
    val schema = StructType(Seq(
      StructField("src", joined.schema("src").dataType, true),
      StructField("term", StringType, true),
      StructField("y_sw", LongType, false),
      StructField("y_w", LongType, false),
      StructField("delta_fx", LongType, false)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(schema)
    val scored = joined.mapPartitions { rows =>
      rows.map { r =>
        val (ysw, yw, ns) = (r.getLong(2), r.getLong(3), r.getLong(4))
        val (v, nn) = (r.getLong(5), r.getLong(6))
        val yrw = yw - ysw
        val nr = nn - ns
        val args = Seq(ysw + 1, ns + v - ysw - 1, yrw + 1,
          nr + v - yrw - 1)
        args.foreach(a => require(a >= 1 && a < (1L << 43),
          s"logOddsTerms ilog2Fx domain: smoothed arg $a out of " +
            "[1, 2^43) — vocabulary must have >= 2 terms and the " +
            "corpus under ~8e12 tokens"))
        val delta = (Dsir.ilog2Fx(args(0)) - Dsir.ilog2Fx(args(1))) -
          (Dsir.ilog2Fx(args(2)) - Dsir.ilog2Fx(args(3)))
        org.apache.spark.sql.Row(r.get(0), r.getString(1), ysw, yw, delta)
      }
    }(enc)
    graft.ops.Sampling.capPerGroup(scored, col("src"), col("term"),
        col("delta_fx"), k)
      .select(col("src"), col("term"), col("y_sw"), col("y_w"),
        col("delta_fx"), col("rank"))
  }

  /** EXACT Zipf slope per source — the log-log least-squares slope of
    * the term frequency-rank curve, the one-number "is this corpus
    * natural text" diagnostic (clean prose sits near −1; boilerplate
    * and template farms flatten the head, OCR noise fattens the
    * tail) and the companion of [[graft.ops.Profile.vocabGrowth]]'s
    * Heaps curve. With per-source ranks r (by freq DESC, term ASC —
    * a total order) and x = ilog2Fx(r) >> 10, y = ilog2Fx(freq) >> 10
    * (2^10-scaled base-2 logs — the coarser grid keeps every
    * regression sum inside DECIMAL(38,0) at any realistic
    * vocabulary; the scales cancel in the slope ratio):
    *
    *   slope_fx = floor( (n·Σxy − Σx·Σy) · 2^20 / (n·Σx² − (Σx)²) )
    *
    * TRUE floor (slopes are negative — replayable in any engine via
    * an explicit floor correction; DuckDB's // truncates like
    * Spark's div). Single-term sources have fit denominator 0 and
    * emit
    * slope_fx = 0 with n_terms = 1, the visible "undefined" signal.
    *
    * Shape: one tokenize + (source, term) count (map-side combined),
    * per-source ranks through [[graft.ops.Prefix.rankByGroup]]'s
    * range exchange (an open vocabulary can dwarf any fixed group
    * count — never a per-source window sort), the exact log kernel
    * as a typed map over the vocab-sized ranked table, one
    * aggregation. Parallelism source: the range exchange.
    *
    * @param minCount drop terms rarer than this before ranking (the
    *   tail below minCount is frequency-quantized noise that biases
    *   the fit; 1 keeps everything)
    * @return (src, n_terms, slope_fx)
    */
  def zipfSlopeBySource(
      df: DataFrame,
      sourceCol: Column,
      textCol: Column,
      minCount: Long = 2L): DataFrame = {
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    val bias = 1L << 62
    val sw = df.select(sourceCol.as("src"), Text.tokens(textCol).as("tk"))
      .filter(col("src").isNotNull)
      .select(col("src"), explode(col("tk")).as("w"))
      .groupBy("src", "w").agg(count(lit(1)).as("freq"))
      .filter(col("freq") >= minCount)
      // (freq DESC, term ASC) as ONE order string: fixed-width hex of
      // (2^62 − freq) then the term — the constant-width prefix makes
      // the concatenation's order exactly the composite order, and
      // (src, term) uniqueness makes ranks deterministic
      .withColumn("__ord", concat(
        format_string("%016x", lit(bias) - col("freq")), col("w")))
    val ranked = graft.ops.Prefix.rankByGroup(sw, "src", "__ord", "__rk")
    val spark = df.sparkSession
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      ranked.schema("src"),
      StructField("x", LongType, false),
      StructField("y", LongType, false)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(schema)
    val rkIdx = ranked.schema.fieldIndex("__rk")
    val fIdx = ranked.schema.fieldIndex("freq")
    val srcIdx = ranked.schema.fieldIndex("src")
    val xy = ranked.mapPartitions { rows =>
      rows.map { r =>
        val rk = r.getLong(rkIdx)
        val f = r.getLong(fIdx)
        require(f < (1L << 43),
          s"zipfSlopeBySource ilog2Fx domain: freq $f >= 2^43")
        org.apache.spark.sql.Row(r.get(srcIdx),
          Dsir.ilog2Fx(rk) >> 10, Dsir.ilog2Fx(f) >> 10)
      }
    }(enc)
    xy.groupBy(col("src"))
      .agg(count(lit(1)).as("n_terms"),
        sum(col("x").cast("decimal(38,0)")).as("__sx"),
        sum(col("y").cast("decimal(38,0)")).as("__sy"),
        sum((col("x") * col("y")).cast("decimal(38,0)")).as("__sxy"),
        sum((col("x") * col("x")).cast("decimal(38,0)")).as("__sxx"))
      .withColumn("__num",
        col("n_terms") * col("__sxy") - col("__sx") * col("__sy"))
      .withColumn("__den",
        col("n_terms") * col("__sxx") - col("__sx") * col("__sx"))
      .select(col("src"), col("n_terms"),
        // TRUE floor on the (negative-num, positive-den) ratio
        expr("CASE WHEN __den = 0 THEN 0L ELSE " +
          "CAST((__num * 1048576) div __den - " +
          "(CASE WHEN __num < 0 AND (__num * 1048576) % __den != 0 " +
          "THEN 1 ELSE 0 END) AS BIGINT) END").as("slope_fx"))
  }

  /** EXACT term burstiness — the Fano factor (variance-to-mean
    * ratio) of each term's per-document count over the WHOLE corpus,
    * zeros included (Church & Gale 1995: content words are bursty —
    * they arrive in clumps where the document is "about" them —
    * while function words are near-Poisson): with per-document
    * counts c_i over all N documents, S = Σc_i, Q = Σc_i²,
    *
    *   fano_fx = floor( (N·Q − S²) · 2^20 / (N·S) )
    *
    * (Var/Mean in 2^20 fixed point; N·Q − S² ≥ 0 always, so floor =
    * truncation and every engine agrees). fano_fx ≈ 2^20 is
    * Poisson-like; far above it marks topical/bursty terms — a
    * quality-filter feature (boilerplate tokens are uniform, content
    * is bursty) and a keyword signal that needs no document
    * frequency heuristics.
    *
    * Shape: one tokenize + (doc, term) count, one term-keyed rollup
    * (vocab-sized), a 1-row N broadcast; all sums DECIMAL(38,0),
    * loud domains N < 2^31 and S < 2^31. Parallelism source: the
    * map-side (doc, term) count; the rollup shuffle carries one row
    * per (doc, distinct-term).
    *
    * @param minTotal drop terms with corpus count below this (the
    *   quantized-noise tail; Fano over 2 occurrences is not a
    *   statistic)
    * @return (term, df_docs, total, fano_fx)
    */
  def termBurstiness(
      df: DataFrame,
      idCol: Column,
      textCol: Column,
      minTotal: Long = 5L): DataFrame = {
    require(minTotal >= 1L, s"minTotal must be >= 1, got $minTotal")
    val docs = df.select(idCol.as("id"), textCol.as("tx"))
      .filter(col("id").isNotNull && col("tx").isNotNull)
    val nDocs = docs.agg(count(lit(1)).as("N"))
      .withColumn("N", when(col("N") < lit(1L << 31), col("N"))
        .otherwise(raise_error(concat(
          lit("termBurstiness domain is N < 2^31 docs, got "),
          col("N")))))
      .localCheckpoint(true)
    val perDoc = docs
      .select(col("id"), explode(Text.tokens(col("tx"))).as("w"))
      .groupBy("id", "w").agg(count(lit(1)).as("c"))
    perDoc.groupBy(col("w").as("term"))
      .agg(count(lit(1)).as("df_docs"),
        sum(col("c")).as("s"),
        sum((col("c") * col("c")).cast("decimal(38,0)")).as("q"))
      .filter(col("s") >= minTotal)
      .withColumn("s", when(col("s") < lit(1L << 31), col("s"))
        .otherwise(raise_error(concat(
          lit("termBurstiness domain is term total < 2^31, got "),
          col("s")))))
      .crossJoin(broadcast(nDocs))
      .select(col("term"), col("df_docs"), col("s").as("total"),
        expr("CAST(((N * q - CAST(s AS DECIMAL(38,0)) * s) * 1048576)" +
          " div (N * CAST(s AS DECIMAL(38,0))) AS BIGINT)")
          .as("fano_fx"))
  }
}
