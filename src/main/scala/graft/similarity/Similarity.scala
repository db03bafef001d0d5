package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{Hashing, Vectors}

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`). Two paths:
  *
  *  - `bruteForceTopK`: exact cosine top-k, query-side broadcast. The
  *    baseline and the verifier for the approximate path. Scales linearly
  *    in corpus size — correct choice when |queries| is small (the common
  *    "probe a 100 TB corpus with a few thousand queries" shape).
  *  - `lshTopK`: sign-random-projection (hyperplane) LSH — corpus and
  *    queries bucketed by an m-bit signature; candidates = same-bucket
  *    pairs (multi-probe over `tables` independent signatures); exact
  *    re-rank within candidates. Sub-linear per query at scale; planes are
  *    derived deterministically from md5, so no fit/driver state and runs
  *    are reproducible across clusters.
  */
object Similarity extends Serializable {

  /** Append a cosine-similarity column computed by a typed kernel.
    * Bit-identical to `Vectors.cosine` (same left-fold order, elements
    * widened to double before multiply) but ~100x faster — Column HOF
    * lambdas evaluate interpreted, and the dot product is the hot loop of
    * every similarity operator here.
    */
  private[graft] def withCosineKernel(
      df: DataFrame, aCol: String, bCol: String, out: String): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = df.schema.add(StructField(out, DoubleType, false))
    val ai = df.schema.fieldIndex(aCol)
    val bi = df.schema.fieldIndex(bCol)
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(schema)
    df.mapPartitions { rows =>
      rows.map { r =>
        val a = r.getSeq[Float](ai)
        val b = r.getSeq[Float](bi)
        val n = math.min(a.length, b.length)
        var dot = 0.0; var na = 0.0; var nb = 0.0
        var i = 0
        while (i < n) {
          val x = a(i).toDouble; val y = b(i).toDouble
          dot += x * y; i += 1
        }
        i = 0
        while (i < a.length) { val x = a(i).toDouble; na += x * x; i += 1 }
        i = 0
        while (i < b.length) { val y = b(i).toDouble; nb += y * y; i += 1 }
        val sim = dot / (math.sqrt(na) * math.sqrt(nb))
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ sim)
      }
    }(enc)
  }

  /** Rank scored (query_id, corpus_id, sim) rows per query and keep the k
    * best by (sim desc, corpus_id asc) — via graft's `topk_by` bounded
    * aggregate, NOT a window `row_number`: the window would shuffle every
    * scored pair to its query's rank partition (at a 100 TB corpus the
    * score stream IS the job), while the aggregate folds map-side first
    * so only k-row partials per (task, query) reach the exchange.
    * `topk_by`'s distinct-by-id fold also absorbs duplicate candidates
    * from multi-table LSH (identical deterministic sims), replacing the
    * pre-rank DISTINCT shuffle.
    */
  private def topKPerQuery(scored: DataFrame, k: Int): DataFrame =
    scored
      .groupBy("query_id")
      .agg(call_function("topk_by", col("corpus_id"), col("sim"), lit(k))
        .as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(
        col("query_id"),
        col("col.id").as("corpus_id"),
        col("col.score").as("sim"),
        (col("pos") + 1).as("rank"))

  /** Exact cosine top-k for each query vector.
    * @param corpus  (idCol, vecCol) table — the big side
    * @param queries (idCol, vecCol) table — the small side (broadcast)
    */
  def bruteForceTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    val c = corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("cv"))
      .repartition(corpus.sparkSession.sparkContext.defaultParallelism,
        col("corpus_id")) // spread the dot-product stage beyond scan splits
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val scored = withCosineKernel(
      c.join(broadcast(q), col("query_id") =!= col("corpus_id")),
      "qv", "cv", "sim")
    topKPerQuery(scored.select("query_id", "corpus_id", "sim"), k)
  }

  /** ColBERT-style late-interaction (MaxSim) retrieval over
    * MULTI-VECTOR documents (Khattab & Zaharia 2020): each document
    * and each query is a bag of vectors (per-passage/per-token
    * embeddings), and the score is Σ over query vectors of the MAX
    * cosine against any document vector — the retrieval quality of
    * fine-grained matching without giving up the "one score per
    * (query, doc)" output shape.
    *
    * Determinism at double precision without decimals: the per-pair
    * cosine is the sequential [[withCosineKernel]] loop (fixed
    * evaluation order), `max` is order-free, and the final Σ over
    * query positions is an UNROLLED left-associated add over the
    * per-position max columns — ((m₀+m₁)+m₂)+… in both engines — so
    * an oracle reproduces the doubles bit-for-bit (the q26/q33
    * discipline, extended to the summed form). A query position with
    * no vector contributes exactly 0 (coalesce, both engines).
    *
    * Scale shape: query vectors broadcast (queries × positions rows —
    * the small side by construction); the corpus explodes only against
    * that broadcast, so corpus vectors never shuffle for scoring; the
    * per-position max and the final score are ONE map-side-combined
    * aggregation over (query, doc) — group count bounded by
    * queries × candidate docs; ranking reuses the bounded `topk_by`
    * fold, never a corpus-wide window.
    *
    * @param corpus  (docCol, vecCol) — multiple rows per doc
    * @param queries (docCol, posCol int in [0, positions), vecCol)
    * @param positions query bag size (the unroll width; ≤ 64)
    * @return (query_id, corpus_id, maxsim, rank 1..k) per query
    */
  def maxSimTopK(
      corpus: DataFrame,
      queries: DataFrame,
      docCol: String,
      posCol: String,
      vecCol: String,
      k: Int,
      positions: Int): DataFrame = {
    require(positions >= 1 && positions <= 64,
      s"positions must be in [1, 64], got $positions")
    require(k >= 1, s"k must be positive, got $k")
    val c = corpus.select(col(docCol).as("corpus_id"), col(vecCol).as("cv"))
      .repartition(corpus.sparkSession.sparkContext.defaultParallelism,
        col("corpus_id"))
    val q = queries.select(col(docCol).as("query_id"),
      col(posCol).cast("int").as("qpos"), col(vecCol).as("qv"))
    val scored = withCosineKernel(
      c.crossJoin(broadcast(q)), "qv", "cv", "sim")
    val maxes = (0 until positions).map(i =>
      max(when(col("qpos") === i, col("sim"))).as(s"m$i"))
    val perPos = scored
      .groupBy(col("query_id"), col("corpus_id"))
      .agg(maxes.head, maxes.tail: _*)
    val score = (0 until positions)
      .map(i => coalesce(col(s"m$i"), lit(0.0)))
      .reduce(_ + _) // left-associated — the engine-neutral sum order
    topKPerQuery(
      perPos.select(col("query_id"), col("corpus_id"), score.as("sim")),
      k)
      .withColumnRenamed("sim", "maxsim")
  }

  /** Int8 scalar quantization: per-vector max-abs scaling maps each
    * float to a code in [-127, 127]. A 64-dim float vector (256 B)
    * becomes 64 bytes — 4x more corpus per executor, integer dot
    * products at score time, and since cosine is scale-invariant the
    * per-vector scale never needs to be carried at all. Rounding is
    * half-away-from-zero, the repo's cross-engine determinism
    * convention (NOTES.md), so an oracle reproduces the codes exactly.
    */
  private def withQuantKernel(
      df: DataFrame, vecCol: String, out: String): DataFrame = {
    import org.apache.spark.sql.types._
    val vi = df.schema.fieldIndex(vecCol)
    val schema = df.schema
      .add(StructField(out, ArrayType(ByteType, false), false))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(schema)
    df.mapPartitions { rows =>
      rows.map { r =>
        val v = r.getSeq[Float](vi)
        var maxAbs = 0.0
        var i = 0
        while (i < v.length) {
          val a = math.abs(v(i).toDouble); if (a > maxAbs) maxAbs = a
          i += 1
        }
        val scale = if (maxAbs > 0) 127.0 / maxAbs else 0.0
        val codes = new Array[Byte](v.length)
        i = 0
        while (i < v.length) {
          val x = v(i).toDouble * scale
          codes(i) =
            (if (x >= 0) math.floor(x + 0.5) else math.ceil(x - 0.5)).toByte
          i += 1
        }
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ codes.toIndexedSeq)
      }
    }(enc)
  }

  /** Cosine over int8 code arrays: exact integer dot/norm sums, one
    * IEEE division at the end — deterministic in any engine that
    * produced the same codes.
    */
  private def withQuantCosine(
      df: DataFrame, aCol: String, bCol: String, out: String): DataFrame = {
    import org.apache.spark.sql.types._
    val ai = df.schema.fieldIndex(aCol)
    val bi = df.schema.fieldIndex(bCol)
    val schema = df.schema.add(StructField(out, DoubleType, false))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(schema)
    df.mapPartitions { rows =>
      rows.map { r =>
        val a = r.getSeq[Byte](ai)
        val b = r.getSeq[Byte](bi)
        val n = math.min(a.length, b.length)
        var dot = 0L; var na = 0L; var nb = 0L
        var i = 0
        while (i < n) { dot += a(i).toLong * b(i); i += 1 }
        i = 0
        while (i < a.length) { na += a(i).toLong * a(i); i += 1 }
        i = 0
        while (i < b.length) { nb += b(i).toLong * b(i); i += 1 }
        val sim =
          if (na > 0 && nb > 0)
            dot.toDouble / (math.sqrt(na.toDouble) * math.sqrt(nb.toDouble))
          else 0.0
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ sim)
      }
    }(enc)
  }

  /** Cosine top-k over the int8-quantized space — `bruteForceTopK`'s
    * memory-lever variant: the corpus scan carries byte codes instead of
    * floats (4x density), scoring is integer arithmetic, and ranking
    * runs through the same bounded `topk_by` fold. Approximation error
    * is the usual int8 story: ranks can swap where exact sims differ by
    * less than the quantization noise (SimilaritySpec pins recall vs
    * exact on the fixture).
    */
  def quantizedTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    val c = withQuantKernel(
      corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("cv"))
        .repartition(corpus.sparkSession.sparkContext.defaultParallelism,
          col("corpus_id")),
      "cv", "cc").select("corpus_id", "cc")
    val q = withQuantKernel(
      queries.select(col(idCol).as("query_id"), col(vecCol).as("qv")),
      "qv", "qc").select("query_id", "qc")
    val scored = withQuantCosine(
      c.join(broadcast(q), col("query_id") =!= col("corpus_id")),
      "qc", "cc", "sim")
    topKPerQuery(scored.select("query_id", "corpus_id", "sim"), k)
  }

  /** Sign-bit (1-bit) quantization: bit d is set iff element d >= 0,
    * packed LSB-first into `ceil(dim/64)` longs. A 64-dim float vector
    * (256 B) becomes ONE long (8 B) — 32x more corpus per executor than
    * floats, 8x denser than the int8 codes, and Hamming distance between
    * codes is a handful of XOR+popcount instructions. The packed layout
    * is an executor-side detail only: equality of SIGNS is the semantic
    * contract (the oracle compares per-dimension signs, never bits).
    * Assumes the family's data contract: fixed dimensionality, no NaN
    * elements (a NaN would sign as 0 here but as 1 under DuckDB's
    * NaN-is-largest ordering — the cosine kernels reject NaN corpora
    * the same way, by producing NaN sims).
    */
  private def withSignBitsKernel(
      df: DataFrame, vecCol: String, out: String): DataFrame = {
    import org.apache.spark.sql.types._
    val vi = df.schema.fieldIndex(vecCol)
    val schema = df.schema
      .add(StructField(out, ArrayType(LongType, false), false))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(schema)
    df.mapPartitions { rows =>
      rows.map { r =>
        val v = r.getSeq[Float](vi)
        val words = new Array[Long]((v.length + 63) >>> 6)
        var i = 0
        while (i < v.length) {
          // -0.0f >= 0 is true in both Java and SQL numeric comparison,
          // so the zero sign convention is engine-independent
          if (v(i) >= 0f) words(i >>> 6) |= 1L << (i & 63)
          i += 1
        }
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ words.toIndexedSeq)
      }
    }(enc)
  }

  /** Hamming distance between packed sign codes: XOR + popcount per
    * word. Emitted as double so it feeds `topk_by` directly (distances
    * are small integers — exact in a double in any engine).
    */
  private def withHammingKernel(
      df: DataFrame, aCol: String, bCol: String, out: String): DataFrame = {
    import org.apache.spark.sql.types._
    val ai = df.schema.fieldIndex(aCol)
    val bi = df.schema.fieldIndex(bCol)
    val schema = df.schema.add(StructField(out, DoubleType, false))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(schema)
    df.mapPartitions { rows =>
      rows.map { r =>
        val a = r.getSeq[Long](ai)
        val b = r.getSeq[Long](bi)
        val n = math.min(a.length, b.length)
        var d = 0
        var i = 0
        while (i < n) { d += java.lang.Long.bitCount(a(i) ^ b(i)); i += 1 }
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ d.toDouble)
      }
    }(enc)
  }

  /** Binary-quantized ANN: rank the corpus per query by Hamming distance
    * between sign codes, keep the `rerank` closest as candidates, then
    * re-rank candidates by EXACT cosine and keep k. The deepest point on
    * the ANN memory ladder (float 256 B -> int8 64 B -> PQ ~8-16 B ->
    * sign code 8 B for 64 dims): the distance pass touches 8 bytes per
    * corpus vector, so ~32x more index fits in executor memory than
    * brute force, and the full-precision vectors are fetched afterwards
    * for only |queries| x rerank rows.
    *
    * Scale shape: the Hamming pass is a broadcast(query-codes) map over
    * the corpus-code scan feeding the bounded `topk_by` fold (shuffle =
    * |tasks| x |queries| x rerank partial rows, never the score stream);
    * the re-rank fetch broadcasts the candidate id list back over the
    * corpus scan — at 100 TB the code table would be a persisted 1/32
    * projection and the fetch a storage lookup, same two-pass shape.
    *
    * Determinism: Hamming is integer-exact; candidate ties break by
    * (distance asc, corpus_id asc) — `topk_by` on score = -distance;
    * final order (sim desc, corpus_id asc) as everywhere in the family.
    *
    * @param rerank Hamming candidates per query re-ranked exactly
    *   ([[graft.ops.Sizing.Auto]] = 4k); recall improves monotonically
    *   in `rerank` at linear re-rank cost
    */
  def binaryTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      rerank: Int = graft.ops.Sizing.Auto): DataFrame = {
    val r = if (rerank == graft.ops.Sizing.Auto) 4 * k else rerank
    require(r >= k, s"rerank $r must be >= k $k")
    val c = corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("cv"))
      .repartition(corpus.sparkSession.sparkContext.defaultParallelism,
        col("corpus_id")) // spread the distance stage beyond scan splits
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val cCodes = withSignBitsKernel(c, "cv", "cb").select("corpus_id", "cb")
    val qCodes = withSignBitsKernel(q, "qv", "qb").select("query_id", "qb")
    val ham = withHammingKernel(
      cCodes.join(broadcast(qCodes), col("query_id") =!= col("corpus_id")),
      "qb", "cb", "hd")
    val cands = ham
      .select(col("query_id"), col("corpus_id"), (-col("hd")).as("negd"))
      .groupBy("query_id")
      .agg(call_function("topk_by", col("corpus_id"), col("negd"), lit(r))
        .as("top"))
      .select(col("query_id"), explode(col("top.id")).as("corpus_id"))
    val scored = withCosineKernel(
      c.join(broadcast(cands), Seq("corpus_id"))
        .join(broadcast(q), Seq("query_id")),
      "qv", "cv", "sim")
    topKPerQuery(scored.select("query_id", "corpus_id", "sim"), k)
  }

  /** Hard-negative mining for contrastive training: per query, the k
    * most-similar corpus vectors with a DIFFERENT label — the
    * highest-value negatives a contrastive loss can see (similar enough
    * to be confused, labeled different enough to be informative).
    * Rows with a NULL label never pair (a negative must be KNOWN
    * different, not unknown).
    *
    * Scale shape: bruteForceTopK's exact plan — query side broadcast,
    * scoring fused into the corpus scan, bounded `topk_by` fold (the
    * label filter rides the same join, so mismatched pairs never reach
    * the kernel). For corpora past the exact path, generate candidates
    * with any approximate family member first and anti-filter labels on
    * its (small) output instead.
    *
    * Output: (query_id, corpus_id, sim, rank) — rank within the
    * query's negatives.
    */
  def hardNegatives(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, labelCol: String, k: Int): DataFrame = {
    val c = corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("cv"),
        col(labelCol).as("clabel"))
      .repartition(corpus.sparkSession.sparkContext.defaultParallelism,
        col("corpus_id"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      col(labelCol).as("qlabel"))
    val scored = withCosineKernel(
      c.join(broadcast(q),
        col("query_id") =!= col("corpus_id") &&
          col("clabel") =!= col("qlabel")), // <> is null-REJECTING, so a
      // null label on either side drops the pair — the documented
      // "negatives must be KNOWN different" rule (oracle: `label <> ql`)
      "qv", "cv", "sim")
    topKPerQuery(scored.select("query_id", "corpus_id", "sim"), k)
  }

  /** kNN label agreement — label-noise screening (the Confident-
    * Learning signal): for each graded id, the fraction of its k
    * nearest neighbors that share its label. Low agreement flags
    * suspected mislabels; per-label mean agreement flags confusable
    * class pairs.
    *
    * Deliberately decoupled from the search: `neighbors` is ANY result
    * in the family's output shape (query_id, corpus_id, rank — brute
    * force for exactness, IVF/LSH/binary at scale), graded against a
    * (id, label) table. Neighbors whose corpus_id has no label row are
    * dropped from both numerator and denominator (unknown can neither
    * agree nor disagree); queries with no labeled neighbors left emit
    * no row. `labels` must be unique per id — duplicate label rows
    * would fan the joins out and inflate the counts.
    *
    * Scale shape: the neighbor table is |queries| x k narrow rows;
    * both label joins broadcast whenever the label table does (AQE),
    * and the agreement aggregation is map-side combined. Nothing here
    * touches the vectors.
    *
    * Output: (query_id, label, n_neighbors, n_agree, agree_frac).
    */
  def labelAgreement(
      neighbors: DataFrame, labels: DataFrame,
      idCol: String, labelCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val lab = labels.select(col(idCol).as("__id"), col(labelCol).as("__l"))
    val n = neighbors.filter(col("rank") <= k)
      .select(col("query_id"), col("corpus_id"))
      .join(lab, col("query_id") === col("__id"))
      .withColumnRenamed("__l", "label").drop("__id")
      .join(lab, col("corpus_id") === col("__id"))
      .withColumnRenamed("__l", "nlabel").drop("__id")
    n.groupBy("query_id", "label")
      .agg(
        count(lit(1)).as("n_neighbors"),
        sum(when(col("nlabel") <=> col("label"), 1L).otherwise(0L))
          .as("n_agree"))
      .withColumn("agree_frac",
        col("n_agree").cast("double") / col("n_neighbors").cast("double"))
  }

  /** Per-query recall@k of an approximate ANN result against an exact
    * reference — the quality dial every approximate operator in this
    * family trades against cost (lshTopK bits/tables, ivfTopK nprobe,
    * binaryTopK rerank, quantizedTopK/pqTopK code width). Inputs are
    * any two results in the family's output shape (query_id, corpus_id,
    * rank, ...); rows with rank > k are ignored, so full results pass
    * directly.
    *
    * recall = |approx@k ∩ exact@k| / |exact@k| per query (the
    * denominator is the exact side's row count — below k only when the
    * corpus itself offers fewer than k candidates). Queries in `exact`
    * with no `approx` rows score 0; queries only in `approx` are
    * dropped (no ground truth to grade against). Inputs are assumed
    * distinct per (query_id, corpus_id) within rank <= k — the shape
    * every family operator emits; duplicated pairs would double-count.
    *
    * Scale shape: both inputs are |queries| x k rows — nothing here
    * touches the corpus; the pair join broadcasts whenever the query
    * set is small (AQE) and the groupBy is map-side combined.
    *
    * Output: (query_id, expected, hits, recall).
    */
  def recallAtK(approx: DataFrame, exact: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val a = approx.filter(col("rank") <= k)
      .select(col("query_id"), col("corpus_id"))
      .withColumn("hit", lit(1L))
    val e = exact.filter(col("rank") <= k)
      .select(col("query_id"), col("corpus_id"))
    e.join(a, Seq("query_id", "corpus_id"), "left")
      .groupBy("query_id")
      .agg(
        count(lit(1)).as("expected"),
        coalesce(sum(col("hit")), lit(0L)).as("hits"))
      .withColumn("recall",
        col("hits").cast("double") / col("expected").cast("double"))
  }

  /** Margin-based neighbor mining (the Artetxe & Schwenk 2019 ratio
    * margin, the standard bitext/paraphrase mining score): a raw
    * cosine threshold is miscalibrated because "hubs" are near
    * EVERYTHING — the margin renormalizes each pair's similarity by
    * both endpoints' neighborhood densities,
    * `margin(x,y) = 2k·cos(x,y) / (Σ NN_k(x) + Σ NN_k(y))`, and keeps
    * each query's best match by margin rather than by cosine.
    *
    * Deliberately DECOUPLED from the search backend (the
    * [[recallAtK]] design): takes any family's (query_id, corpus_id,
    * sim, rank) result computed over a SYMMETRIC query set (every
    * corpus_id that should contribute a neighborhood term must also
    * appear as a query_id — pairs whose corpus side has no
    * neighborhood row drop via the inner join). At scale the NN table
    * comes from the ANN family, never from an all-pairs pass.
    *
    * Exactness: sims enter as `round(sim·2^20)` fixed point (the
    * repo's half-away-from-zero convention), neighborhood sums are
    * exact integer sums, and the margin is one integer floor division
    * `(2k·sim_fx·2^20) // (sx+sy)` — bit-identical in any engine (no
    * overflow: ≤ 2^45 at k ≤ 16). Contract: only pairs with
    * `sim_fx > 0` and positive denominator are mined (a
    * negative-cosine "best match" is noise, and truncation ≠ floor on
    * negatives across engines); ties break corpus_id-ascending inside
    * the bounded `topk_by` fold.
    *
    * Scale shape: two shuffles over the n·k NN table (neighborhood
    * sums + the corpus-side sum join) and one bounded top-1
    * aggregation — the corpus vectors themselves never move.
    *
    * Output: (query_id, match_id, margin_fp, n_neighbors).
    */
  def marginScores(nn: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val t = nn.filter(col("rank") <= k)
      .select(col("query_id"), col("corpus_id"),
        round(col("sim") * FixedScale).cast("long").as("sim_fx"))
    val sums = t.groupBy("query_id")
      .agg(sum(col("sim_fx")).as("s"), count(lit(1)).as("n"))
    val withSums = t
      .join(sums.select(col("query_id"), col("s").as("sx"),
        col("n").as("n_neighbors")), "query_id")
      .join(sums.select(col("query_id").as("corpus_id"),
        col("s").as("sy")), "corpus_id")
      .filter(col("sim_fx") > 0 && col("sx") + col("sy") > 0)
      .withColumn("margin_fp",
        expr(s"(${2L * k} * sim_fx * ${FixedScale}) div (sx + sy)"))
    // margin_fp ≤ 2^45 < 2^53: exact as topk_by's double score, so the
    // score slot carries it out and the (score desc, id asc) order IS
    // the mining rule
    withSums.groupBy("query_id")
      .agg(
        call_function("topk_by", col("corpus_id"),
          col("margin_fp").cast("double"), lit(1)).as("top"),
        min(col("n_neighbors")).as("n_neighbors"))
      .select(col("query_id"),
        col("top")(0)("id").as("match_id"),
        col("top")(0)("score").cast("long").as("margin_fp"),
        col("n_neighbors"))
  }

  /** Deterministic hyperplane weights: integer values derived from md5 of
    * "t<table>:p<plane>:d<dim>" (first 8 hex digits, re-centered around 0).
    * Integer weights + fixed-point vector elements make every projection
    * EXACT integer arithmetic — order-independent and reproducible in any
    * engine, where a float dot-product's sign could flip with summation
    * order for near-orthogonal vectors. Computed driver-side (a few KB — a
    * deterministic "model" needing no fit and no storage) and shipped as
    * literals in the plan.
    */
  private[similarity] def planeWeight(t: Int, p: Int, d: Int): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(s"t$t:p$p:d$d".getBytes("UTF-8"))
    val hex = md.map("%02x".format(_)).mkString.take(8)
    java.lang.Long.parseLong(hex, 16) - 2147483648L
  }

  /** Fixed-point scale for vector elements: x -> round(x * 2^20). Products
    * with 32-bit weights stay far inside signed-64 for dims into the
    * thousands.
    */
  private val FixedScale = 1048576L

  /** m-bit sign signature of a vector under table t's hyperplanes — the
    * Column reference formulation, kept as the spec's ground truth for
    * `withBucketsKernel` (SimilaritySpec asserts kernel == Column).
    */
  private[similarity] def signature(vec: Column, t: Int, bits: Int, dim: Int): Column =
    concat_ws("", (0 until bits).map { p =>
      val w = typedLit((0 until dim).map(d => planeWeight(t, p, d)))
      val proj = aggregate(
        zip_with(
          transform(vec, x => round(x.cast("double") * FixedScale).cast("long")),
          w, (x, wi) => x * wi),
        lit(0L), (acc, v) => acc + v)
      when(proj >= 0, lit("1")).otherwise(lit("0"))
    }: _*)

  /** All `tables` bucket keys per row as one typed kernel — identical
    * output to `signature` (SignatureKernelSpec asserts it), evaluated
    * compiled instead of interpreted HOF-per-plane. Emits one row per
    * (input row x table): (passthrough cols..., bucket).
    *
    * The fixed-point rounding is half-away-from-zero, matching BOTH the
    * Column `round` and the oracle's `round(x)`: vector floats are
    * dyadic rationals, so x*2^20 lands exactly on .5 routinely and the
    * rounding mode is semantics, not noise.
    */
  private[graft] def withBucketsKernel(
      df: DataFrame, vecCol: String, tables: Int, bits: Int, dim: Int): DataFrame = {
    import org.apache.spark.sql.types._
    val weights = Array.tabulate(tables, bits, dim)(planeWeight)
    val vecIdx = df.schema.fieldIndex(vecCol)
    val schema = df.schema.add(StructField("bucket", StringType, false))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(schema)
    df.mapPartitions { rows =>
      rows.flatMap { r =>
        val v = r.getSeq[Float](vecIdx)
        val x = new Array[Long](math.min(v.length, dim))
        var d = 0
        while (d < x.length) {
          val scaled = v(d).toDouble * FixedScale
          x(d) =
            if (scaled >= 0) math.floor(scaled + 0.5).toLong
            else math.ceil(scaled - 0.5).toLong
          d += 1
        }
        (0 until tables).iterator.map { t =>
          val sb = new StringBuilder().append(t).append('|')
          var p = 0
          while (p < bits) {
            val w = weights(t)(p)
            var s = 0L
            var i = 0
            while (i < x.length) { s += x(i) * w(i); i += 1 }
            sb.append(if (s >= 0) '1' else '0')
            p += 1
          }
          org.apache.spark.sql.Row.fromSeq(r.toSeq :+ sb.toString)
        }
      }
    }(enc)
  }

  /** LSH ANN: bucket by signature across `tables` independent tables,
    * union candidates, exact cosine re-rank, top-k.
    *
    * Auto-sizing (default): `bits` from the corpus count via
    * `Sizing.lshBits` — a FIXED bit width is the family's quadratic
    * knee (2^bits buckets, so candidates grow ~n²/2^bits once random
    * collisions dominate; the x100 ladder measured pinned 8-bit q27 at
    * a hard knee where x1–x30 had been flat). `tables` stays an
    * explicit recall lever (retrieval has no threshold for the
    * `lshTables` closed form to target). Bench/oracle queries keep
    * pinning explicit values.
    *
    * @param dim vector dimensionality (plane weights are per-dimension)
    */
  def lshTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, dim: Int,
      bits: Int = graft.ops.Sizing.Auto, tables: Int = 4): DataFrame = {
    val c = corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("cv"))
      .repartition(corpus.sparkSession.sparkContext.defaultParallelism,
        col("corpus_id")) // spread signature compute beyond scan splits
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val bitsN =
      if (bits == graft.ops.Sizing.Auto)
        graft.ops.Sizing.lshBits(
          corpus.select(col(idCol)).count())
      else bits

    val cBuckets = withBucketsKernel(c, "cv", tables, bitsN, dim)
    val qBuckets = withBucketsKernel(q, "qv", tables, bitsN, dim)

    // A (query, corpus) pair surfacing in several hash tables is scored
    // once per table — identical deterministic sims that topk_by's
    // distinct-by-id fold collapses. Re-scoring ≤`tables`× beats the
    // alternative (a DISTINCT shuffle over candidate rows carrying both
    // float vectors, then a re-join to recover them).
    val candidates = cBuckets
      .join(broadcast(qBuckets), Seq("bucket"))
      .filter(col("query_id") =!= col("corpus_id"))
      .select("query_id", "qv", "corpus_id", "cv")

    topKPerQuery(
      withCosineKernel(candidates, "qv", "cv", "sim")
        .select("query_id", "corpus_id", "sim"), k)
  }

  /** IVF (inverted-file) ANN: a coarse quantizer of `nlist` centroids
    * partitions the corpus into inverted lists; each query probes its
    * `nprobe` nearest lists and re-ranks exactly within them. The scan
    * cost drops from |corpus| to ~|corpus|*nprobe/nlist per query — the
    * classic trade against LSH (lshTopK): IVF adapts to the data's
    * density, LSH needs no assignment pass.
    *
    * Two coarse quantizers, same plan shape either way (centroids are
    * collected to the driver and shipped in the task closure: an IVF
    * coarse quantizer is small BY DESIGN, nlist ~ sqrt(corpus), exactly
    * hadron's runOnce-then-broadcast idiom,
    * /root/reference/src/Hadron/Controller.hs:724-725):
    *
    *  - `trainIters = 0` (default): a deterministic sample — the `nlist`
    *    lowest-id corpus vectors. Zero training passes; fine when ids
    *    are uncorrelated with embedding geometry.
    *  - `trainIters > 0`: that many Lloyd iterations of spherical
    *    k-means from an md5-seeded sample (`trainKmeans`) — one
    *    shuffle-free corpus pass per iteration, exact fixed-point
    *    centroid sums so the result is engine-reproducible. Better
    *    recall on clustered corpora: inverted lists follow the data's
    *    density instead of whichever vectors got the lowest ids.
    *
    * Assignment/probing run in one typed kernel per side — argmax over
    * the closure's centroid array, no corpus x nlist shuffle. All cosine
    * arithmetic is the same left-fold double sequence as the oracle's,
    * ties broken on ascending centroid id.
    */
  // cosine with the exact operation order of withCosineKernel/oracle
  private def cosFD(a: Seq[Float], c: Array[Double]): Double = {
    val n = math.min(a.length, c.length)
    var dot = 0.0; var na = 0.0; var nc = 0.0
    var i = 0
    while (i < n) { dot += a(i).toDouble * c(i); i += 1 }
    i = 0
    while (i < a.length) { val x = a(i).toDouble; na += x * x; i += 1 }
    i = 0
    while (i < c.length) { nc += c(i) * c(i); i += 1 }
    dot / (math.sqrt(na) * math.sqrt(nc))
  }

  /** Split-out pieces of cosFD for the big-fanout scan kernels (one
    * row against MANY vectors): cosFD recomputes BOTH norms on every
    * call, so a scan against m vectors spends 2/3 of its flops on
    * norms it already knew. Callers hoist normF(row) once per row and
    * normD(each target) once per table; `dotFD(v,c) / (na * nc)` is
    * then BIT-IDENTICAL to `cosFD(v,c)` — same min-length dot loop,
    * same full-length norm loops, same single-division order — so
    * every oracle and tie-break argument carries over unchanged
    * (SizingProbe KIND=assign measured the flat scan 1.9x faster
    * before this, with the norm caching compounding on top). */
  private def dotFD(a: Seq[Float], c: Array[Double]): Double = {
    val n = math.min(a.length, c.length)
    var dot = 0.0; var i = 0
    while (i < n) { dot += a(i).toDouble * c(i); i += 1 }
    dot
  }
  private def normF(a: Seq[Float]): Double = {
    var na = 0.0; var i = 0
    while (i < a.length) { val x = a(i).toDouble; na += x * x; i += 1 }
    math.sqrt(na)
  }
  private def normD(c: Array[Double]): Double = {
    var nc = 0.0; var i = 0
    while (i < c.length) { nc += c(i) * c(i); i += 1 }
    math.sqrt(nc)
  }

  /** Fixed-point scale for exact centroid sums: 2^20 keeps |corpus| *
    * max|x| * 2^20 far inside a long for unit-scale embeddings while
    * preserving ~6 decimal digits of each float.
    */
  private val KmeansScale = 1L << 20

  /** A few Lloyd iterations of spherical k-means (cosine assignment,
    * unnormalized mean update — cosine is scale-invariant so the mean
    * needs no normalization), built for cross-engine determinism:
    *
    *  - SEED: the `nlist` vectors with lexicographically smallest
    *    (md5(id-as-string), id) — the repo's content-addressed sampling
    *    discipline (`Sampling.unitHash`), so the seed is reproducible
    *    across runs, partitionings, and engines, and is not biased by id
    *    order the way the lowest-id sample is.
    *  - UPDATE: each vector's coordinates are quantized to 2^20
    *    fixed-point longs (half-away-from-zero, the NOTES.md convention)
    *    and summed as longs — exact and ORDER-INDEPENDENT, where a
    *    double sum would vary with partitioning and break any oracle.
    *    New centroid = (sum / count) / 2^20 in doubles (one division
    *    order, mirrored by the oracle). Empty centroids keep their
    *    previous position.
    *
    * Each iteration is ONE shuffle-free pass: the kernel pre-aggregates
    * per partition (nlist sum-vectors + counts held in task memory) and
    * emits one row per non-empty centroid per partition, so the driver
    * combines O(partitions * nlist) rows — the same bounded-collect
    * idiom as `Prefix`'s offsets (hadron's runOnce,
    * /root/reference/src/Hadron/Controller.hs:724-725). For very large
    * nlist * partitions, swap the collect for a groupBy(cent) — the
    * kernel's partials are already the map-side combine.
    */
  private[graft] def trainKmeans(
      corpus: DataFrame, idCol: String, vecCol: String,
      nlist: Int, iters: Int): Array[(Long, Array[Double])] = {
    import org.apache.spark.sql.types._
    val seed: Array[Array[Double]] = corpus
      .select(col(idCol).as("oid"), col(vecCol).as("ce"))
      .orderBy(md5(col("oid").cast("string")), col("oid"))
      .limit(nlist)
      .collect()
      .map(r => r.getSeq[Float](1).map(_.toDouble).toArray)

    // nlist * dim flops per row per pass: off scan parallelism, like
    // every heavy kernel (the round-9 discipline; partials stay
    // bounded at partitions * nlist rows either way)
    val proj = corpus.select(col(vecCol).as("v"))
      .repartition(corpus.sparkSession.sparkContext.defaultParallelism)
    val partialSchema = StructType(Seq(
      StructField("cent", IntegerType, false),
      StructField("sums", ArrayType(LongType, false), false),
      StructField("cnt", LongType, false)))
    val penc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(partialSchema)

    var cents = seed
    var it = 0
    while (it < iters) {
      val cur = cents // stable closure for this pass
      // pruned nearest-index scan (flat below the gate) — per-pass
      // regrouping is driver-cheap and the result is loop-identical
      val scan = nearestIndexScanner(cur)
      val partials = proj.mapPartitions { rows =>
        val sums = new Array[Array[Long]](cur.length)
        val cnts = new Array[Long](cur.length)
        rows.foreach { r =>
          val v = r.getSeq[Float](0)
          val best = scan(v)
          if (best >= 0) {
            if (sums(best) == null) sums(best) = new Array[Long](v.length)
            val acc = sums(best)
            var i = 0
            val n = math.min(v.length, acc.length)
            while (i < n) {
              val x = v(i).toDouble * KmeansScale
              acc(i) +=
                (if (x >= 0) math.floor(x + 0.5) else math.ceil(x - 0.5)).toLong
              i += 1
            }
            cnts(best) += 1
          }
        }
        (0 until cur.length).iterator
          .filter(c => cnts(c) > 0)
          .map(c => org.apache.spark.sql.Row(
            c, sums(c).toIndexedSeq, cnts(c)))
      }(penc)

      // The driver combine is O(partitions × nlist) rows of dim-long
      // arrays — fine at local[k] parallelism, a driver flood at
      // cluster scale (defaultParallelism in the thousands × nlist up
      // to 2^14). Past ~2^20 expected partial rows the combine runs
      // DISTRIBUTED (element-wise (cent, pos) long sums — associative,
      // so totals are bit-identical for fixed-dim corpora; only the
      // degenerate ragged-dim case resolves lengths differently, where
      // the driver fold's first-seen-length truncation is itself
      // arbitrary) and the collect shrinks to ≤ nlist rows.
      // proj is repartitioned to defaultParallelism above, so that IS
      // its partition count — never proj.rdd.getNumPartitions, which
      // under AQE materializes the exchange as an extra job (the
      // ivfPqTopK job-shape pin caught exactly that)
      val est = corpus.sparkSession.sparkContext
        .defaultParallelism.toLong * cur.length
      val (totSums, totCnts) =
        if (est <= (1L << 20))
          combinePartialsDriver(partials.collect(), cur.length)
        else combinePartialsDistributed(partials, cur.length)
      cents = Array.tabulate(cur.length) { c =>
        if (totCnts(c) == 0) cur(c)
        else totSums(c).map(_.toDouble / totCnts(c) / KmeansScale.toDouble)
      }
      it += 1
    }
    cents.zipWithIndex.map { case (ce, i) => (i.toLong, ce) }
  }

  private def combinePartialsDriver(
      partials: Array[org.apache.spark.sql.Row],
      nlist: Int): (Array[Array[Long]], Array[Long]) = {
    val totSums = new Array[Array[Long]](nlist)
    val totCnts = new Array[Long](nlist)
    partials.foreach { r =>
      val c = r.getInt(0); val s = r.getSeq[Long](1); val n = r.getLong(2)
      if (totSums(c) == null) totSums(c) = new Array[Long](s.length)
      // min-length fold, same ragged-dim tolerance as the kernel's acc
      var i = 0
      val lim = math.min(s.length, totSums(c).length)
      while (i < lim) { totSums(c)(i) += s(i); i += 1 }
      totCnts(c) += n
    }
    (totSums, totCnts)
  }

  /** Cluster-scale partials combine: one (cent, pos)-keyed aggregation
    * of the exploded fixed-point sums plus a (cent)-keyed count sum —
    * both collect ≤ nlist rows. Long sums are associative, so the
    * totals match [[combinePartialsDriver]] exactly on fixed-dim
    * corpora (SimilaritySpec pins it). The partials input is persisted
    * across its two consumers and released before returning. */
  private[graft] def combinePartialsDistributed(
      pdf: DataFrame, nlist: Int): (Array[Array[Long]], Array[Long]) = {
    val p = pdf.persist()
    try {
      val totCnts = new Array[Long](nlist)
      p.groupBy("cent").agg(sum(col("cnt")).as("n")).collect()
        .foreach(r => totCnts(r.getInt(0)) = r.getLong(1))
      val totSums = new Array[Array[Long]](nlist)
      p.select(col("cent"), posexplode(col("sums")).as(Seq("pos", "s")))
        .groupBy("cent", "pos").agg(sum(col("s")).as("s"))
        .groupBy("cent")
        .agg(sort_array(collect_list(struct(col("pos"), col("s"))))
          .as("ps"))
        .collect()
        .foreach { r =>
          totSums(r.getInt(0)) = r.getSeq[org.apache.spark.sql.Row](1)
            .map(_.getLong(1)).toArray
        }
      (totSums, totCnts)
    } finally p.unpersist()
  }

  // driver-side cosine between two double vectors (centroid grouping
  // only — row kernels stay on cosFD's exact operation order)
  private def cosDD(a: Array[Double], b: Array[Double]): Double = {
    val n = math.min(a.length, b.length)
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) { dot += a(i) * b(i); i += 1 }
    i = 0; while (i < a.length) { na += a(i) * a(i); i += 1 }
    i = 0; while (i < b.length) { nb += b(i) * b(i); i += 1 }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Groups the centroid table into ~sqrt(nlist) super-cells for the
    * pruned assignment scan: a PURE-DRIVER k-means over the centroids
    * themselves (nlist is a bounded driver statistic; 3 Lloyd rounds,
    * cosine assignment, evenly-spaced-index seed — deterministic
    * function of `cents`), each group summarized by (super-centroid,
    * max member angle, member indices). Grouping quality affects only
    * SPEED — the scan's branch-and-bound bound is exact — so the
    * heuristic needs no tuning discipline beyond determinism. */
  private def centroidScanGroups(cents: Array[(Long, Array[Double])]):
      Array[(Array[Double], Double, Array[Int])] = {
    val nlist = cents.length
    val ntop = math.max(1, math.ceil(math.sqrt(nlist.toDouble)).toInt)
    val dim = cents.head._2.length
    var tops = Array.tabulate(ntop)(g =>
      cents((g.toLong * nlist / ntop).toInt)._2)
    val assign = new Array[Int](nlist)
    // the assignment pass is O(nlist * ntop * dim) = O(nlist^1.5 * dim)
    // — trivial at IVF's 2^14 nlist cap, but semDedup's auto nlist
    // reaches 2^20 where a single driver core would stall for minutes.
    // Norms are hoisted (the dotFD discipline) and the pass fans out
    // over a bounded local pool; each task writes a disjoint index
    // range, so the result is order-independent and deterministic.
    val memberNorms = cents.map { case (_, ce) => normD(ce) }
    val nThreads = math.max(1, math.min(32,
      Runtime.getRuntime.availableProcessors))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(nThreads)
    def assignAll(curTops: Array[Array[Double]]): Unit = {
      val topNorms = curTops.map(normD)
      val chunk = math.max(1, (nlist + nThreads - 1) / nThreads)
      val tasks = new java.util.ArrayList[java.util.concurrent.Callable[Unit]]()
      var lo = 0
      while (lo < nlist) {
        val from = lo; val until = math.min(nlist, lo + chunk)
        tasks.add(() => {
          var i = from
          while (i < until) {
            val ce = cents(i)._2
            val na = memberNorms(i)
            var best = 0; var bestS = Double.NegativeInfinity
            var g = 0
            while (g < curTops.length) {
              val t = curTops(g)
              val n2 = math.min(ce.length, t.length)
              var dot = 0.0; var j = 0
              while (j < n2) { dot += ce(j) * t(j); j += 1 }
              val s = dot / (na * topNorms(g))
              if (s > bestS) { bestS = s; best = g }
              g += 1
            }
            assign(i) = best
            i += 1
          }
        })
        lo += chunk
      }
      pool.invokeAll(tasks).forEach(_.get()) // propagate task failures
    }
    try {
      var round = 0
      while (round < 4) { // 3 refinement rounds + the final assignment
        assignAll(tops)
        if (round < 3) {
          val sums = Array.fill(ntop)(new Array[Double](dim))
          val cnt = new Array[Int](ntop)
          var i = 0
          while (i < nlist) {
            val s = sums(assign(i)); val ce = cents(i)._2
            var d = 0
            val lim = math.min(dim, ce.length)
            while (d < lim) { s(d) += ce(d); d += 1 }
            cnt(assign(i)) += 1
            i += 1
          }
          tops = Array.tabulate(ntop) { g =>
            if (cnt(g) == 0) tops(g) else sums(g) // cosine: no normalize
          }
        }
        round += 1
      }
    } finally pool.shutdown()
    (0 until ntop).flatMap { g =>
      val members = (0 until nlist).filter(assign(_) == g).toArray
      if (members.isEmpty) None
      else {
        val rad = members.map { i =>
          val s = cosDD(cents(i)._2, tops(g))
          if (s.isNaN) math.Pi // zero-norm member: never prune its group
          else math.acos(math.max(-1.0, math.min(1.0, s)))
        }.max
        Some((tops(g), rad, members))
      }
    }.toArray
  }

  /** Centroid counts at or above this run the pruned scan; below it
    * the flat argmax is already trivial and the per-row group ordering
    * would cost more than it saves. */
  private val PrunedScanMinNlist = 64

  /** Super-cell counts at or above this get a SECOND pruning tier
    * (round-12 stretch): past it the per-row linear scan over the
    * ~sqrt(nlist) super-cells is itself a dominant term — at
    * nlist = 2^16 it is 256 sims/row while effective pruning leaves
    * far fewer leaf survivors — so the supers are grouped once more
    * into ~nlist^(1/4) tier-2 cells and pruned wholesale. 96 is the
    * MEASURED break-even (SizingProbe KIND=assign, 200k-row x100
    * rung, back-to-back flat controls equal to 0.03%): at 64 supers
    * (nlist 4096) the tier is a 3.6% LOSS (6.93 vs 6.69 s — the ~8
    * extra sims/row save almost nothing), at 128 supers (nlist
    * 16384) an 18% win (26.4 vs 32.2 s) — so the gate sits between. */
  private val HierMinNtop = 96

  /** The shared branch-and-bound walk of [[nearestIndexScanner]] and
    * [[assignNearest]] over [[centroidScanGroups]]'s super-cells, with
    * an optional second pruning tier for large nlist (the round-12
    * 100-TB shape: auto nlist ~ 4*sqrt(n) reaches 2^16+ at
    * billion-row corpora, where the flat sqrt(nlist) super scan is
    * itself the per-row bottleneck).
    *
    * Tier 2 reuses the same driver k-means over the SUPER tops; its
    * radius must cover every LEAF centroid, so it widens by the
    * member super's own radius via the spherical triangle inequality:
    * rad2 = max over member supers s of (angle(top_s, top2) + rad_s)
    * — then cos(max(0, angle(v, top2) − rad2)) upper-bounds the
    * similarity of v to ANY leaf under that tier-2 cell, and a cell
    * whose bound falls strictly below the current n-th best (+1e-9
    * slack) is skipped before its supers' sims are even computed.
    *
    * Exactness is VISIT-ORDER INDEPENDENT: pruning only ever skips a
    * cell when no member could beat or tie the already-found n-th
    * best (a strictly smaller sim never ties, and ties resolve by id,
    * which pruning never touches), so grouping the supers by tier-2
    * cell instead of walking them in global sim-desc order changes
    * which bounds happen to prune, never the result — the flat-scan
    * bit-identity the specs pin holds for both tiers. NaN discipline
    * is inherited: a NaN bound (zero-norm row or degenerate top)
    * never prunes at either tier, so NaN rows still see every leaf.
    * Below [[HierMinNtop]] supers, tier 2 is skipped and the walk is
    * the round-10 single-tier order exactly. */
  private[graft] final class CentroidScan(
      cents: Array[(Long, Array[Double])]) extends Serializable {
    val groups: Array[(Array[Double], Double, Array[Int])] =
      centroidScanGroups(cents)
    val topNorms: Array[Double] = groups.map(g => normD(g._1))
    private val allGroupIdx: Array[Int] = groups.indices.toArray
    // tier-2 cells over the super tops, or null below the gate
    private val tier2: Array[(Array[Double], Double, Array[Int])] =
      if (groups.length < HierMinNtop) null
      else centroidScanGroups(
        groups.zipWithIndex.map { case ((t, _, _), i) => (i.toLong, t) })
        .map { case (top2, _, sIdxs) =>
          val rad2 = sIdxs.map { s =>
            val (ts, rs, _) = groups(s)
            val c = cosDD(ts, top2)
            val a =
              if (c.isNaN) math.Pi // zero-norm top: never prune it
              else math.acos(math.max(-1.0, math.min(1.0, c)))
            a + rs
          }.max
          (top2, rad2, sIdxs)
        }
    private val tier2Norms: Array[Double] =
      if (tier2 == null) null else tier2.map(g => normD(g._1))

    /** Walks the super-cells in pruned order for one row: `visit(g)`
      * must scan group g's members (updating the caller's running
      * best), `nth()` must return the current prunable threshold —
      * the worst similarity that still must not be beaten or tied —
      * or NaN when nothing can be pruned yet. */
    def walk(v: Seq[Float], na: Double,
        nth: () => Double, visit: Int => Unit): Unit = {
      def skip(sim: Double, rad: Double): Boolean = {
        val t = nth()
        !t.isNaN && {
          val ang = math.acos(math.max(-1.0, math.min(1.0, sim)))
          math.cos(math.max(0.0, ang - rad)) + 1e-9 < t
        }
      }
      def walkGroups(idxs: Array[Int]): Unit = {
        val gs = idxs.map(g => dotFD(v, groups(g)._1) / (na * topNorms(g)))
        idxs.indices.sortBy(j => -gs(j)).foreach { j =>
          if (!skip(gs(j), groups(idxs(j))._2)) visit(idxs(j))
        }
      }
      if (tier2 == null) walkGroups(allGroupIdx)
      else {
        val s2 = Array.tabulate(tier2.length)(g =>
          dotFD(v, tier2(g)._1) / (na * tier2Norms(g)))
        tier2.indices.sortBy(g => -s2(g)).foreach { g =>
          if (!skip(s2(g), tier2(g)._2)) walkGroups(tier2(g)._3)
        }
      }
    }
  }

  /** Per-row nearest-centroid INDEX scanner (cos desc, index asc; -1
    * when every similarity is NaN — trainKmeans's skip-row
    * convention), branch-and-bound via [[CentroidScan]] (tiered past
    * [[HierMinNtop]] supers) for large tables, flat otherwise. Same
    * exactness argument as
    * [[assignNearest]]'s pruned scan: the bound is a true upper bound
    * and pruning needs strictly-below (+1e-9 slack), so ties — which
    * the flat index-order loop resolves to the LOWEST index via its
    * strict `>` — resolve identically through the explicit
    * `(s, index)` comparator. SimilaritySpec pins scanner ≡ flat loop
    * on duplicate centroids, zero-norm rows and NaN cases. Returned
    * closure is serializable (captures only double arrays), so the
    * k-means kernel ships it per stage like any task closure. */
  private[graft] def nearestIndexScanner(
      cents: Array[Array[Double]],
      prune: Boolean = true): Seq[Float] => Int = {
    val norms = cents.map(normD)
    if (!prune || cents.length < PrunedScanMinNlist) { v =>
      val na = normF(v)
      var best = -1; var bestS = Double.NegativeInfinity
      var c = 0
      while (c < cents.length) {
        val s = dotFD(v, cents(c)) / (na * norms(c))
        if (s > bestS) { bestS = s; best = c }
        c += 1
      }
      best
    } else {
      val scan = new CentroidScan(
        cents.zipWithIndex.map { case (ce, i) => (i.toLong, ce) })
      v => {
        val na = normF(v)
        var best = -1; var bestS = Double.NegativeInfinity
        scan.walk(v, na,
          () => if (best >= 0) bestS else Double.NaN,
          g => {
            val members = scan.groups(g)._3
            var m = 0
            while (m < members.length) {
              val i = members(m)
              val s = dotFD(v, cents(i)) / (na * norms(i))
              if (s > bestS || (s == bestS && i < best)) {
                bestS = s; best = i
              }
              m += 1
            }
          })
        best
      }
    }
  }

  /** Tag each row with its `n` nearest centroids by (cosine desc,
    * cent_id asc) — the shared assignment kernel of `ivfTopK` and
    * `semDedup`. Map-only: centroids ride the task closure (a bounded
    * driver statistic), no corpus×nlist shuffle ever materializes.
    *
    * For nlist ≥ [[PrunedScanMinNlist]] the scan is branch-and-bound
    * via [[CentroidScan]] over [[centroidScanGroups]]'s ~sqrt(nlist)
    * super-cells (plus a second pruning tier past [[HierMinNtop]]
    * supers): groups are visited in descending super-similarity order
    * within their tier and a group is skipped wholesale once the
    * spherical triangle-inequality upper bound
    * cos(max(0, angle(v, super) − radius)) (+1e-9 float slack)
    * falls strictly below the current n-th best VALID similarity — no
    * member could then beat OR tie it (ties resolve by cid, and a
    * strictly smaller sim never ties), so the result is BIT-IDENTICAL
    * to the flat argmax, including cid tie-breaks and NaN placement,
    * regardless of visit order (SimilaritySpec pins equality, incl. a
    * tier-2-sized centroid table; `prune = false` forces the flat
    * scan). Typical per-row cost falls from nlist to
    * ~2·sqrt(nlist) + survivors — the difference between n·nlist and
    * ~n^1.25 for the auto-sized nlist ~ 4·sqrt(n) — and the tier-2
    * cut trims the sqrt(nlist) super term toward nlist^(1/4) at the
    * 2^14+ nlist a 100-TB corpus implies. NaN similarities
    * (zero-norm rows or degenerate centroids) order LAST with cid
    * ties, exactly like the flat scan's Double total order, and a NaN
    * bound is never pruned on. */
  private[graft] def assignNearest(
      df: DataFrame, cents: Array[(Long, Array[Double])],
      vecIdx: Int, n: Int, prune: Boolean = true): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = df.schema.add(StructField("cent_id", LongType, false))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(schema)
    val norms = cents.map { case (_, ce) => normD(ce) }
    if (!prune || cents.length < PrunedScanMinNlist) {
      return df.mapPartitions { rows =>
        rows.flatMap { r =>
          val v = r.getSeq[Float](vecIdx)
          val na = normF(v)
          cents.zipWithIndex
            .map { case ((cid, ce), i) =>
              (cid, dotFD(v, ce) / (na * norms(i))) }
            .sortBy { case (cid, s) => (-s, cid) }
            .take(n)
            .map { case (cid, _) =>
              org.apache.spark.sql.Row.fromSeq(r.toSeq :+ cid) }
        }
      }(enc)
    }
    val scan = new CentroidScan(cents)
    df.mapPartitions { rows =>
      rows.flatMap { r =>
        val v = r.getSeq[Float](vecIdx)
        val na = normF(v)
        // bounded top-n kept sorted by the SAME total order as the
        // flat scan's sortBy((-s, cid)): valid sims desc, NaN last,
        // ties by ascending cid (java.lang.Double.compare is total)
        val topS = new Array[Double](n)
        val topC = new Array[Long](n)
        var filled = 0
        def offer(s: Double, cid: Long): Unit = {
          var pos = filled
          while (pos > 0 && {
            val c = java.lang.Double.compare(-s, -topS(pos - 1))
            c < 0 || (c == 0 && cid < topC(pos - 1))
          }) pos -= 1
          if (pos < n) {
            val last = math.min(filled, n - 1)
            var j = last
            while (j > pos) { topS(j) = topS(j - 1); topC(j) = topC(j - 1); j -= 1 }
            topS(pos) = s; topC(pos) = cid
            if (filled < n) filled += 1
          }
        }
        scan.walk(v, na,
          // prune only past a FULL list with a valid n-th sim: the
          // bound must beat it strictly (a NaN nth never prunes)
          () => if (filled == n) topS(n - 1) else Double.NaN,
          g => {
            val members = scan.groups(g)._3
            var m = 0
            while (m < members.length) {
              val i = members(m)
              offer(dotFD(v, cents(i)._2) / (na * norms(i)),
                cents(i)._1)
              m += 1
            }
          })
        (0 until filled).iterator.map { j =>
          org.apache.spark.sql.Row.fromSeq(r.toSeq :+ topC(j)) }
      }
    }(enc)
  }

  def ivfTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nlist: Int = graft.ops.Sizing.Auto, nprobe: Int = 4,
      trainIters: Int = 0): DataFrame = {
    val spark = corpus.sparkSession
    // Auto-sizing (default): nlist ~ 4*sqrt(corpus) so the per-query
    // candidate set is ~nprobe*sqrt(n)/4 — with a FIXED nlist it is
    // nprobe*n/nlist, which the round-9 embedding ladder measured at
    // exponent ~1.5 on query-proportional workloads (Sizing.ivfNlist).
    // Bench/oracle queries keep pinning explicit values.
    val nlistN =
      if (nlist == graft.ops.Sizing.Auto)
        graft.ops.Sizing.ivfNlist(corpus.select(col(idCol)).count())
      else nlist
    val cents: Array[(Long, Array[Double])] =
      if (trainIters > 0)
        trainKmeans(corpus, idCol, vecCol, nlistN, trainIters)
      else corpus
        .select(col(idCol).cast("long").as("cent_id"), col(vecCol).as("ce"))
        .orderBy(col("cent_id")).limit(nlistN)
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))

    val par = spark.sparkContext.defaultParallelism
    val assigned = assignNearest(
      corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("cv"))
        .repartition(par, col("corpus_id")), cents, 1, 1)
    val probes = assignNearest(
      queries.select(col(idCol).as("query_id"), col(vecCol).as("qv")),
      cents, 1, nprobe)

    val candidates = assigned.join(broadcast(probes), Seq("cent_id"))
      .filter(col("query_id") =!= col("corpus_id"))
    topKPerQuery(
      withCosineKernel(candidates, "qv", "cv", "sim")
        .select("query_id", "corpus_id", "sim"), k)
  }

  /** Product-quantization codebooks: `m` subspaces × `ksub` centroids
    * each, every centroid a `dsub = dim/m`-dim vector. Seeded from the
    * `ksub` corpus vectors with lexicographically smallest
    * (md5(id), id) — the same content-addressed discipline as
    * `trainKmeans`, one seed ROW shared by all subspaces — then
    * optionally refined with Lloyd iterations over ALL subspaces in ONE
    * corpus pass per iteration: the kernel assigns each vector's m
    * subvectors to their nearest (L2, ties to the lower index) centroids
    * and accumulates 2^20 fixed-point sums per (subspace, centroid) —
    * exact, order-independent, the NOTES.md convention — so the driver
    * combines O(partitions * m * ksub) bounded rows per iteration and
    * an oracle can reproduce the training bit-for-bit.
    */
  private def trainPqCodebooks(
      corpus: DataFrame, idCol: String, vecCol: String,
      m: Int, ksub: Int, iters: Int): Array[Array[Array[Double]]] = {
    import org.apache.spark.sql.types._
    val seeds: Array[Array[Double]] = corpus
      .select(col(idCol).as("oid"), col(vecCol).as("ce"))
      .orderBy(md5(col("oid").cast("string")), col("oid"))
      .limit(ksub)
      .collect()
      .map(r => r.getSeq[Float](1).map(_.toDouble).toArray)
    require(seeds.length == ksub,
      s"corpus has fewer than ksub=$ksub vectors")
    val dim = seeds.head.length
    require(dim % m == 0, s"dim $dim not divisible by m=$m subspaces")
    val dsub = dim / m

    // codebooks(s)(c) = centroid c of subspace s
    var cbs: Array[Array[Array[Double]]] = Array.tabulate(m, ksub) {
      (s, c) => seeds(c).slice(s * dsub, (s + 1) * dsub)
    }

    // ksub * dim flops per row per pass: off scan parallelism, like
    // every heavy kernel (the round-9 discipline; partials stay
    // bounded at partitions * m * ksub rows either way)
    val proj = corpus.select(col(vecCol).as("v"))
      .repartition(corpus.sparkSession.sparkContext.defaultParallelism)
    val partialSchema = StructType(Seq(
      StructField("sub", IntegerType, false),
      StructField("cent", IntegerType, false),
      StructField("sums", ArrayType(LongType, false), false),
      StructField("cnt", LongType, false)))
    val penc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(partialSchema)

    var it = 0
    while (it < iters) {
      val cur = cbs
      val partials = proj.mapPartitions { rows =>
        val sums = Array.fill(m, ksub)(null: Array[Long])
        val cnts = Array.fill(m, ksub)(0L)
        rows.foreach { r =>
          val v = r.getSeq[Float](0)
          if (v.length == dim) {
            var s = 0
            while (s < m) {
              val best = nearestSubCentroid(v, s * dsub, dsub, cur(s))
              if (sums(s)(best) == null) sums(s)(best) = new Array[Long](dsub)
              val acc = sums(s)(best)
              var j = 0
              while (j < dsub) {
                val x = v(s * dsub + j).toDouble * KmeansScale
                acc(j) +=
                  (if (x >= 0) math.floor(x + 0.5)
                   else math.ceil(x - 0.5)).toLong
                j += 1
              }
              cnts(s)(best) += 1
              s += 1
            }
          }
        }
        for {
          s <- (0 until m).iterator
          c <- (0 until ksub).iterator
          if cnts(s)(c) > 0
        } yield org.apache.spark.sql.Row(
          s, c, sums(s)(c).toIndexedSeq, cnts(s)(c))
      }(penc)

      // same cluster-scale gate as trainKmeans: the (sub, cent) key
      // flattens to sub*ksub + cent so both combine paths are the
      // shared ones (driver fold locally; distributed element-wise
      // sums once partitions × m × ksub would flood the driver)
      val flat = partials.select(
        (col("sub") * ksub + col("cent")).cast("int").as("cent"),
        col("sums"), col("cnt"))
      val est = corpus.sparkSession.sparkContext
        .defaultParallelism.toLong * m * ksub
      val (totSums, totCnts) =
        if (est <= (1L << 20))
          combinePartialsDriver(flat.collect(), m * ksub)
        else combinePartialsDistributed(flat, m * ksub)
      cbs = Array.tabulate(m, ksub) { (s, c) =>
        val f = s * ksub + c
        if (totCnts(f) == 0) cur(s)(c)
        else totSums(f).map(_.toDouble / totCnts(f) / KmeansScale.toDouble)
      }
      it += 1
    }
    cbs
  }

  /** Nearest centroid of one subspace slice by L2 distance (left-fold
    * double sum — the order every engine reproduces), ties to the lower
    * centroid index.
    */
  private def nearestSubCentroid(
      v: Seq[Float], off: Int, dsub: Int,
      cb: Array[Array[Double]]): Int = {
    var best = 0; var bestD = Double.PositiveInfinity
    var c = 0
    while (c < cb.length) {
      val ent = cb(c)
      var d = 0.0; var j = 0
      while (j < dsub) {
        val diff = v(off + j).toDouble - ent(j)
        d += diff * diff; j += 1
      }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** Cosine top-k over the product-quantized space — the next memory
    * lever after `quantizedTopK`'s int8: a 64-dim float vector (256 B)
    * becomes `m` byte codes (8 B at m=8) — 32x more corpus per
    * executor — and scoring is an O(m) table lookup per candidate
    * (asymmetric distance: the query stays full-precision, the corpus
    * side is its reconstruction from per-subspace codebooks).
    *
    * sim(q, x) ≈ cos(q, x̂) where x̂ concatenates the chosen codebook
    * entries: dot(q, x̂) and |x̂|² both decompose per subspace, so the
    * kernel folds m table entries IN SUBSPACE ORDER (and each table
    * entry is a dsub-element left fold) — the nested summation an
    * oracle mirrors term for term. Per-query lookup tables build once
    * per (partition, query) and cost m*ksub*dsub multiplies — amortized
    * over the partition's corpus rows.
    *
    * Coarse pruning is deliberately NOT fused in here: compose with
    * `ivfTopK`'s assignment when the corpus outgrows even the PQ codes
    * (probe-then-rerank); this operator is the `quantizedTopK`
    * counterpart, same broadcast-queries brute-scan shape, 8x denser.
    * Residual encoding (PQ over v - coarse_centroid) is the classic
    * next refinement; it needs the per-(centroid, subspace, code) cross
    * tables documented in the IVF-PQ literature and is left until a
    * corpus needs it.
    *
    * @param m    number of subspaces (dim % m == 0)
    * @param ksub codebook size per subspace (<= 127: codes ride signed
    *             bytes)
    * @param trainIters Lloyd refinement passes over the corpus (0 =
    *   md5-seeded codebooks only — the deterministic, oracle-friendly
    *   default; training improves recall, see SimilaritySpec)
    */
  def pqTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      m: Int = 8, ksub: Int = 16,
      trainIters: Int = 0): DataFrame = {
    import org.apache.spark.sql.types._
    require(ksub >= 1 && ksub <= 127, s"ksub must be in [1, 127], got $ksub")
    require(m >= 1, s"m must be >= 1, got $m")
    val spark = corpus.sparkSession
    val cbs = trainPqCodebooks(corpus, idCol, vecCol, m, ksub, trainIters)
    val dsub = cbs(0)(0).length
    val dim = m * dsub
    // |codebook entry|^2 per (s, c): left fold, driver-side once
    val normTab: Array[Array[Double]] = Array.tabulate(m, ksub) { (s, c) =>
      val ent = cbs(s)(c)
      var acc = 0.0; var j = 0
      while (j < dsub) { acc += ent(j) * ent(j); j += 1 }
      acc
    }

    // encode: map-only kernel, m byte codes per corpus vector
    val cIn = corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("cv"))
      .repartition(spark.sparkContext.defaultParallelism, col("corpus_id"))
    val encSchema = StructType(Seq(
      cIn.schema("corpus_id"),
      StructField("codes", ArrayType(ByteType, false), false)))
    val enc0 = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(encSchema)
    val encoded = cIn.mapPartitions { rows =>
      rows.flatMap { r =>
        val v = r.getSeq[Float](1)
        if (v.length != dim) Iterator.empty
        else {
          val codes = new Array[Byte](m)
          var s = 0
          while (s < m) {
            codes(s) = nearestSubCentroid(v, s * dsub, dsub, cbs(s)).toByte
            s += 1
          }
          Iterator(org.apache.spark.sql.Row(r.get(0), codes.toIndexedSeq))
        }
      }
    }(enc0)

    // wrong-dim queries are skipped like wrong-dim corpus rows (the
    // encode kernel's guard) — not a task-killing index error in the
    // ADC lookup-table build
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .filter(size(col("qv")) === dim)
    val joined = encoded.join(broadcast(q),
      col("query_id") =!= col("corpus_id"))
    topKPerQuery(adcScore(joined, cbs, normTab, m, dsub), k)
  }

  /** ADC scoring over a joined stream carrying (query_id, qv, corpus_id,
    * codes): per-query lookup tables built once per (partition, query) —
    * dotTab(s)(c) = dot(q_sub[s], codebook[s][c]), a dsub left fold —
    * then each candidate costs m table lookups, folded in subspace
    * order (the oracle's list_sum over s-ordered per-subspace values).
    * Shared by `pqTopK` (brute scan) and `ivfPqTopK` (probed cells).
    */
  private def adcScore(
      joined: DataFrame, cbs: Array[Array[Array[Double]]],
      normTab: Array[Array[Double]], m: Int, dsub: Int): DataFrame = {
    import org.apache.spark.sql.types._
    val ksub = cbs(0).length
    val ci = joined.schema.fieldIndex("corpus_id")
    val cdi = joined.schema.fieldIndex("codes")
    val qi = joined.schema.fieldIndex("query_id")
    val qvi = joined.schema.fieldIndex("qv")
    val scoredSchema = StructType(Seq(
      joined.schema("query_id"), joined.schema("corpus_id"),
      StructField("sim", DoubleType, false)))
    val senc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(scoredSchema)
    joined.mapPartitions { rows =>
      val luts = new java.util.HashMap[Any, (Array[Array[Double]], Double)]()
      rows.map { r =>
        val qid = r.get(qi)
        var lut = luts.get(qid)
        if (lut == null) {
          val qv = r.getSeq[Float](qvi)
          val dotTab = Array.tabulate(m, ksub) { (s, c) =>
            val ent = cbs(s)(c)
            var acc = 0.0; var j = 0
            while (j < dsub) { acc += qv(s * dsub + j).toDouble * ent(j); j += 1 }
            acc
          }
          var qn = 0.0; var i = 0
          while (i < qv.length) {
            val x = qv(i).toDouble; qn += x * x; i += 1
          }
          lut = (dotTab, math.sqrt(qn))
          luts.put(qid, lut)
        }
        val codes = r.getSeq[Byte](cdi)
        var dot = 0.0; var rn2 = 0.0
        var s = 0
        while (s < m) {
          val c = codes(s).toInt
          dot += lut._1(s)(c)
          rn2 += normTab(s)(c)
          s += 1
        }
        // zero-norm guard mirrors withQuantCosine (and the oracle's CASE)
        val sim =
          if (rn2 > 0 && lut._2 > 0) dot / (lut._2 * math.sqrt(rn2))
          else 0.0
        org.apache.spark.sql.Row(qid, r.get(ci), sim)
      }
    }(senc)
  }

  /** IVF-PQ: coarse cells route the search (only ~nprobe/nlist of the
    * corpus is scored per query), PQ codes compress what's stored in
    * them (8 B at m=8 vs 256 B float) — the FAISS-style at-scale ANN
    * default, composed from the same two trained, oracle-reproducible
    * quantizers as `ivfTopK` and `pqTopK`. One fused map-only corpus
    * pass assigns each vector's cell AND its m byte codes; queries
    * probe their `nprobe` nearest cells and ADC-score only co-celled
    * codes. Codes quantize the RAW vector (not the cell residual —
    * the same simplification `pqTopK` documents; residual encoding is
    * the classic refinement and slots into the encode kernel when a
    * corpus needs it).
    *
    * Scale: the corpus never leaves its partitions at full precision —
    * the candidate join moves (cent_id, id, 8 B codes) for the probed
    * fraction only; queries broadcast; the final rank is the bounded
    * `topk_by` fold. Everything deterministic: both quantizers are
    * md5-seeded (optionally Lloyd-refined in exact fixed point), ADC
    * folds are order-pinned, so an oracle reproduces every score.
    */
  def ivfPqTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nlist: Int = graft.ops.Sizing.Auto, nprobe: Int = 4,
      m: Int = 8, ksub: Int = 16,
      coarseTrainIters: Int = 0, pqTrainIters: Int = 0,
      residual: Boolean = false): DataFrame = {
    import org.apache.spark.sql.types._
    require(ksub >= 1 && ksub <= 127, s"ksub must be in [1, 127], got $ksub")
    require(m >= 1, s"m must be >= 1, got $m")
    val spark = corpus.sparkSession
    val par = spark.sparkContext.defaultParallelism
    // Auto-sizing: same sqrt rule as ivfTopK (Sizing.ivfNlist)
    val nlistN =
      if (nlist == graft.ops.Sizing.Auto)
        graft.ops.Sizing.ivfNlist(corpus.select(col(idCol)).count())
      else nlist
    val cents: Array[(Long, Array[Double])] =
      if (coarseTrainIters > 0)
        trainKmeans(corpus, idCol, vecCol, nlistN, coarseTrainIters)
      else corpus
        .select(col(idCol).cast("long").as("cent_id"), col(vecCol).as("ce"))
        .orderBy(col("cent_id")).limit(nlistN)
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))

    /** cell of v by (cosine desc, iteration order asc) — cents are
      * id-ascending, so the scanner's lowest-index tie rule matches
      * assignNearest's; returns the INDEX into cents. Pruned
      * branch-and-bound above the nlist gate, identical result. */
    val cellIdx: Seq[Float] => Int = nearestIndexScanner(cents.map(_._2))

    /** residual = v − cell centroid, materialized as FLOATS (one
      * deterministic rounding both the codebook trainer's Seq[Float]
      * contract and any oracle's CAST AS FLOAT reproduce). */
    def residOf(v: Seq[Float], ci: Int): Array[Float] = {
      val ce = cents(ci)._2
      Array.tabulate(v.length)(i => (v(i).toDouble - ce(i)).toFloat)
    }

    val cIn = corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("cv"))
      .repartition(par, col("corpus_id"))

    // codebooks train on raw vectors (flat PQ) or on cell residuals
    // (classic IVF-PQ): the residual table is a map-only derivation —
    // recomputed per training pass, the family's no-cache default
    val pqInput =
      if (!residual) corpus.select(col(idCol).as("pid"), col(vecCol).as("pv"))
      else {
        val rSchema = StructType(Seq(
          cIn.schema("corpus_id").copy(name = "pid"),
          StructField("pv", ArrayType(FloatType, false), false)))
        val rEnc = org.apache.spark.sql.catalyst.encoders.RowEncoder
          .encoderFor(rSchema)
        cIn.mapPartitions { rows =>
          rows.flatMap { r =>
            val v = r.getSeq[Float](1)
            val ci = cellIdx(v)
            // wrong-dim rows are skipped here exactly like the encode
            // pass below — not an index error inside residOf
            if (ci < 0 || v.length != cents(ci)._2.length) Iterator.empty
            else Iterator(org.apache.spark.sql.Row(
              r.get(0), residOf(v, ci).toIndexedSeq))
          }
        }(rEnc)
      }
    val cbs = trainPqCodebooks(pqInput, "pid", "pv", m, ksub, pqTrainIters)
    val dsub = cbs(0)(0).length
    val dim = m * dsub
    val normTab: Array[Array[Double]] = Array.tabulate(m, ksub) { (s, c) =>
      val ent = cbs(s)(c)
      var acc = 0.0; var j = 0
      while (j < dsub) { acc += ent(j) * ent(j); j += 1 }
      acc
    }

    // fused corpus pass: coarse cell + m byte codes (of the raw vector
    // or of its residual)
    val encSchema = StructType(Seq(
      cIn.schema("corpus_id"),
      StructField("cent_id", LongType, false),
      StructField("codes", ArrayType(ByteType, false), false)))
    val enc0 = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(encSchema)
    val encoded = cIn.mapPartitions { rows =>
      rows.flatMap { r =>
        val v = r.getSeq[Float](1)
        if (v.length != dim) Iterator.empty
        else {
          val ci = cellIdx(v)
          val enc: Seq[Float] = if (residual) residOf(v, ci).toIndexedSeq else v
          val codes = new Array[Byte](m)
          var s = 0
          while (s < m) {
            codes(s) = nearestSubCentroid(enc, s * dsub, dsub, cbs(s)).toByte
            s += 1
          }
          Iterator(org.apache.spark.sql.Row(
            r.get(0), cents(ci)._1, codes.toIndexedSeq))
        }
      }
    }(enc0)

    // wrong-dim queries are skipped like wrong-dim corpus rows — not a
    // task-killing index error in the ADC lookup-table build
    val probes = assignNearest(
      queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
        .filter(size(col("qv")) === dim),
      cents, 1, nprobe)
    val joined = encoded.join(broadcast(probes), Seq("cent_id"))
      .filter(col("query_id") =!= col("corpus_id"))
    val scored =
      if (!residual) adcScore(joined, cbs, normTab, m, dsub)
      else adcScoreResidual(joined, cents, cbs, normTab, m, dsub)
    topKPerQuery(scored, k)
  }

  /** Residual-ADC scoring: the reconstruction is x̂ = ce + dec(codes),
    * so dot(q, x̂) = dot(q, ce) + Σ_s dotTab and
    * |x̂|² = |ce|² + 2·Σ_s dot(ce_s, ent) + Σ_s |ent|². The cell cross
    * tables are bounded driver statistics (nlist × m × ksub doubles).
    * Accumulation order is pinned for the oracle: each Σ_s is its own
    * s-ordered fold, then combined left-to-right — mirror as
    * `dotqc + list_sum(...)` and `cen2 + 2*list_sum(...) +
    * list_sum(...)`.
    */
  private def adcScoreResidual(
      joined: DataFrame,
      cents: Array[(Long, Array[Double])],
      cbs: Array[Array[Array[Double]]],
      normTab: Array[Array[Double]],
      m: Int, dsub: Int): DataFrame = {
    import org.apache.spark.sql.types._
    val ksub = cbs(0).length
    val dim = m * dsub
    val idxOfCell: Map[Long, Int] =
      cents.zipWithIndex.map { case ((cid, _), i) => cid -> i }.toMap
    val ceNorm2: Array[Double] = cents.map { case (_, ce) =>
      var acc = 0.0; var i = 0
      while (i < ce.length) { acc += ce(i) * ce(i); i += 1 }
      acc
    }
    // crossTab(cell)(s)(c) = dot(ce_sub[s], codebook[s][c]) — dsub fold
    val crossTab: Array[Array[Array[Double]]] =
      Array.tabulate(cents.length, m, ksub) { (ci, s, c) =>
        val ce = cents(ci)._2; val ent = cbs(s)(c)
        var acc = 0.0; var j = 0
        while (j < dsub) { acc += ce(s * dsub + j) * ent(j); j += 1 }
        acc
      }
    val ci0 = joined.schema.fieldIndex("corpus_id")
    val cdi = joined.schema.fieldIndex("codes")
    val cli = joined.schema.fieldIndex("cent_id")
    val qi = joined.schema.fieldIndex("query_id")
    val qvi = joined.schema.fieldIndex("qv")
    val scoredSchema = StructType(Seq(
      joined.schema("query_id"), joined.schema("corpus_id"),
      StructField("sim", DoubleType, false)))
    val senc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(scoredSchema)
    joined.mapPartitions { rows =>
      // per-query: subspace dot tables + norm; per (query, cell): dot(q, ce)
      val qluts = new java.util.HashMap[Any, (Array[Array[Double]], Double)]()
      val qcDots = new java.util.HashMap[(Any, Int), java.lang.Double]()
      rows.map { r =>
        val qid = r.get(qi)
        var lut = qluts.get(qid)
        val qv = r.getSeq[Float](qvi)
        if (lut == null) {
          val dotTab = Array.tabulate(m, ksub) { (s, c) =>
            val ent = cbs(s)(c)
            var acc = 0.0; var j = 0
            while (j < dsub) { acc += qv(s * dsub + j).toDouble * ent(j); j += 1 }
            acc
          }
          var qn = 0.0; var i = 0
          while (i < qv.length) { val x = qv(i).toDouble; qn += x * x; i += 1 }
          lut = (dotTab, math.sqrt(qn))
          qluts.put(qid, lut)
        }
        val cell = idxOfCell(r.getLong(cli))
        var dotQC = qcDots.get((qid, cell))
        if (dotQC == null) {
          val ce = cents(cell)._2
          var acc = 0.0; var i = 0
          while (i < dim) { acc += qv(i).toDouble * ce(i); i += 1 }
          dotQC = acc
          qcDots.put((qid, cell), dotQC)
        }
        val codes = r.getSeq[Byte](cdi)
        var partsDot = 0.0; var crossSum = 0.0; var entSum = 0.0
        var s = 0
        while (s < m) {
          val c = codes(s).toInt
          partsDot += lut._1(s)(c)
          crossSum += crossTab(cell)(s)(c)
          entSum += normTab(s)(c)
          s += 1
        }
        val dot = dotQC + partsDot
        val rn2 = ceNorm2(cell) + 2.0 * crossSum + entSum
        val sim =
          if (rn2 > 0 && lut._2 > 0) dot / (lut._2 * math.sqrt(rn2))
          else 0.0
        org.apache.spark.sql.Row(qid, r.get(ci0), sim)
      }
    }(senc)
  }

  /** Embedding-cosine near-duplicate pairs via LSH bucketing: bucket every
    * vector across `tables` signatures, pair within buckets (id1 < id2),
    * verify exact cosine ≥ threshold. The LSH stage keeps the pair space
    * sub-quadratic at corpus scale; recall rises with `tables` and falls
    * with `bits` (tune per corpus duplicate profile).
    *
    * SIZE `bits` TO THE CORPUS, not to the recall target alone: each
    * table has 2^bits buckets, so RANDOM co-bucketing alone contributes
    * ~tables·n²/2^(bits+1) candidate pairs whatever the data looks like.
    * The round-7 scale ladder measured the old 6-bit default (64
    * buckets/table) at scaling exponent ~1.5 by 20k vectors (NOTES.md);
    * 12 bits pushes that knee out 64×, and recall is recovered by
    * raising `tables` (the standard hyperplane-LSH (bits, tables)
    * trade — more, narrower tables). Rule of thumb: bits ≳
    * log2(n / desired-bucket-size), then pick tables for recall at
    * your threshold: recall ≈ 1 − (1 − p^bits)^tables with
    * p = 1 − θ/π.
    *
    * Pair generation is `Dedup.minhashLsh`'s bucket walk
    * ([[graft.plans.BucketPairs]] with
    * [[graft.plans.PairCheck.Cosine]]): the vectors ride the ONE
    * grouping shuffle with their bucket key, a `Sort` on the bucket
    * (which spills) feeds the walk, and each bucket's pairs are
    * cosine-checked in place, so the candidate pair stream — measured
    * 24M rows for 57k survivors at the x30 rung, 99.8% random
    * collisions — is never materialized, distinct'ed, or re-joined
    * against the corpus for payloads. The walk holds at most
    * `maxBucketSize` members of one bucket; without the cap a single hot
    * bucket — near-zero vectors all share a signature — makes the pair
    * stage quadratic, and the cap is the skew guard that lets this run
    * on a 100 TB corpus. The sims are bit-identical to
    * `withCosineKernel` on the same pair (each member's norm is computed
    * once per bucket), so the output is row-identical to an
    * exploded-pair + payload re-join pipeline; that pipeline moves less
    * only when vectors are so wide relative to bucket occupancy that
    * tables × |corpus| × vecBytes exceeds the pair-stream traffic — at
    * expected bucket size b̄ the join moves ~b̄× more bytes, so that
    * regime means bucket occupancy ≈ 1 (bits oversized for n).
    *
    * An over-cap bucket is NOT dropped silently: it contributes one
    * deterministic representative pair, (min id, max id) — exact
    * aggregates, so reproducible in any engine — which then passes
    * through the same cosine verify. A cluster of >maxBucketSize true
    * duplicates (the highest-value near-dup target) therefore still
    * surfaces in the output instead of yielding zero rows; recall within
    * such a cluster is intentionally partial (full recall is the
    * quadratic blowup the cap exists to prevent). A null id counts
    * toward its bucket's size but is never paired. Mirror both arms in
    * any oracle: `HAVING COUNT(*) <= maxBucketSize` for the pair arm,
    * `UNION SELECT min(id), max(id) ... HAVING COUNT(*) > maxBucketSize`
    * for the representative arm.
    *
    * The (id, vector) projection is not cached: at corpus scale a cache
    * is a full materialization of the input, and recomputing the pruned
    * two-column scan is the cheaper default (same measured tradeoff as
    * q34's uncached filter chain, NOTES.md).
    */
  def nearDupPairs(
      corpus: DataFrame,
      idCol: String, vecCol: String, dim: Int,
      threshold: Double,
      bits: Int = graft.ops.Sizing.Auto,
      tables: Int = graft.ops.Sizing.Auto,
      maxBucketSize: Int = 1000): DataFrame = {
    val c = corpus.select(col(idCol).as("id"), col(vecCol).as("v"))
      .repartition(corpus.sparkSession.sparkContext.defaultParallelism,
        col("id"))
    // Auto-sizing (default): derive the (bits, tables) pair from a
    // cheap pruned count so the random-collision knee tracks THIS
    // corpus, not a fixture (Sizing scaladoc has the rules + the
    // measured round-7 knee). The grouping partitions need the same
    // count (they are sized from the banded VOLUME, see below), so it
    // is computed once off the raw corpus — a pruned single-column
    // scan, metadata-cheap on parquet.
    val nRows: Long = corpus.select(col(idCol)).count()
    val bitsN =
      if (bits == graft.ops.Sizing.Auto) graft.ops.Sizing.lshBits(nRows)
      else bits
    val tablesN =
      if (tables == graft.ops.Sizing.Auto)
        graft.ops.Sizing.lshTables(bitsN, threshold)
      else tables
    // The grouping exchange's width must track the banded VOLUME
    // (tables × n wide rows), not the session's partition default:
    // pinned at 32 partitions, the x300 embeddings rung put ~1 GB of
    // deserialized aggregation state on every task — OOM at 16 g and
    // a 23× wall-clock blowup for 3× data at 48 g (round-13 stage
    // ladder; Sizing.groupingPartitions scaladoc). ~12 bytes per
    // float dim + struct/id overhead estimates the OBJECT form of a
    // member row; the floor keeps fixture-scale plans unchanged.
    val parts = graft.ops.Sizing.groupingPartitions(
      nRows * tablesN, 12L * dim + 72,
      corpus.sparkSession.sparkContext.defaultParallelism)
    bucketPairs(c, dim, threshold, bitsN, tablesN, maxBucketSize, parts)
  }

  /** [[nearDupPairs]] from its (id, v) rows and sizing on: band rows of
    * (id, v, bucket) hash-partitioned `parts` ways on the bucket, the
    * bucket walk with its `graft.neardup` metric, distinct pairs. */
  private[graft] def bucketPairs(
      c: DataFrame, dim: Int, threshold: Double, bits: Int, tables: Int,
      maxBucketSize: Int, parts: Int): DataFrame = {
    val banded = withBucketsKernel(c, "v", tables, bits, dim)
      .select(col("id"), col("v"), col("bucket"))
      .repartition(parts, col("bucket"))
    graft.plans.BucketPairs.pairs(banded,
        graft.plans.PairCheck.Cosine(threshold), maxBucketSize, "graft.neardup")
      .distinct()
  }

  /** Semantic benchmark decontamination — the embedding-space twin of
    * `Decontaminate.contamination` (which matches token n-grams):
    * flag every corpus vector whose cosine to ANY test-set vector
    * reaches `threshold`, with the nearest test id as evidence.
    * Catches paraphrased leakage that exact n-gram overlap misses.
    *
    * Scale shape, three arms behind one contract (identical output —
    * SimilaritySpec pins arm equality including tie-breaks):
    *
    *  - test row count ≤ `maxBroadcastTest`: the test set is a bounded
    *    driver statistic (the same assumption as Decontaminate's
    *    broadcast test side — test sets are benchmark-sized), shipped
    *    in the task closure; the corpus is scanned ONCE map-only — no
    *    join, no shuffle, output only the contaminated rows.
    *  - larger, test set CLUSTERED (the benchmark shape — routing
    *    sample prunes ≥90% of cells): a distributed CELL-ROUTED arm
    *    that keeps the exact contract while shrinking the
    *    |corpus|×|test| product. The test
    *    side is clustered into `nlist` spherical-k-means cells (the
    *    semDedup quantizer — a bounded driver statistic), each cell
    *    summarized by (centroid, max member angle r). For a corpus
    *    vector v, the spherical triangle inequality gives a TRUE upper
    *    bound on its cosine to ANY member of a cell:
    *        angle(v, t) >= angle(v, c) - r
    *        => cos(v, t) <= cos(max(0, angle(v, c) - r))
    *    so a cell whose bound (+1e-9 float slack) misses `threshold`
    *    is skipped WHOLESALE — no pair from it could pass the filter
    *    anyway, so pruning cannot change the output. Candidates route
    *    through a cell-keyed equi-join (never a cross join), and on a
    *    benchmark-shaped test set (clustered by task) most cells prune
    *    for most corpus rows: compute falls from |corpus|×|test| to
    *    |corpus|×nlist bound checks + the surviving cells' pairs.
    *    Zero-norm test vectors are dropped up-front: every sim they
    *    produce is NaN, which can never pass `sim >= threshold` in
    *    any arm.
    *  - larger, test set UNIFORM-ish (cell radii huge, a sampled
    *    corpus probe finds >10% of cells unprunable): the cell join
    *    would materialize ~the full product as join rows — measured
    *    9× more expensive per pair than the closure kernel
    *    (ContaminationProbe) — so the CHUNKED arm iterates
    *    `maxBroadcastTest`-sized test chunks through the map-only
    *    kernel, folding per-chunk winners; same exact output, driver
    *    memory bounded by one chunk ([[contaminationChunked]]).
    *    Chunk count is capped at 256 (1 chunk = 1 corpus scan), so
    *    for nTest > 256 × `maxBroadcastTest` the per-chunk driver
    *    footprint EXCEEDS the `maxBroadcastTest` bound — past 256
    *    scans of the corpus that trade wins; a stderr warning names
    *    the overage when it happens. `maxBroadcastTest` is the
    *    driver-memory lever only up to that point.
    *
    * Ties go to the lower test id (strict-greater fold over ids in
    * ascending order / max over (sim, -test_id) structs — identical
    * because both arms share cosFD's operation order bit-for-bit), so
    * the result is deterministic and one SQL window reproduces it.
    *
    * EXECUTION SEMANTICS: the small-test arm returns a lazy
    * DataFrame as usual. Both LARGE-test arms execute EAGERLY inside
    * the call and return a materialized (checkpointed) result — that
    * is what lets the cell arm release its |test|-row assignment
    * cache instead of pinning it for the session (round-9 advice),
    * and what bounds the chunked arm's driver memory to one chunk.
    * The result is ≤ |corpus| narrow rows, so materializing it is
    * never the expensive part; compose filters AFTER the call knowing
    * they prune the materialized rows, not the scan. The TEST
    * projection is persisted across the large-test path (bounded —
    * test-set sized) and released before returning, so its lineage
    * runs once. The CORPUS-side arm-choice sample reads a few rows
    * from up to 64 partitions via `.rdd` — on a corpus carrying an
    * un-persisted shuffle lineage (a join, a wide aggregation), AQE
    * materializes that exchange as an EXTRA JOB just to finalize the
    * partitioning for the sample, and the lineage then re-runs in
    * full for the chosen arm. Persist such corpora first; the call
    * emits a stderr warning when it detects this shape (plan
    * inspection only — no job). */
  def semanticContamination(
      corpus: DataFrame, corpusId: String, corpusVec: String,
      test: DataFrame, testId: String, testVec: String,
      threshold: Double,
      maxBroadcastTest: Long = 1000000L): DataFrame = {
    val c = corpus.select(col(corpusId).as("id"), col(corpusVec).as("v"))
    val tdf = test.select(col(testId).cast("long").as("test_id"),
      col(testVec).as("tv"))
    val nTest = tdf.count()
    if (nTest > maxBroadcastTest) {
      if (hasUnpersistedShuffle(c))
        System.err.println(
          "[graft] semanticContamination: corpus lineage contains an " +
          "un-cached shuffle — the arm-choice sample's .rdd will " +
          "materialize that exchange as an extra AQE job and the " +
          "chosen arm re-runs the lineage in full; persist the " +
          "corpus first.")
      // Persist the test projection once for the whole large-test
      // path: the cell seed job, the k-means pass, the radii sample
      // and the chosen arm all re-scan it otherwise (round-10 advice:
      // the sampled lineage must not re-run for the chosen arm).
      val t = tdf.persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        // Two-phase arm choice: train the cell geometry, estimate the
        // pruning fan-out from SAMPLED radii, and only pay the full
        // |test|-row assignment pass when the cell arm is actually
        // chosen — the chunked arm never needs it.
        val cents = contaminationCells(t, nTest)
        val fanout = estimateCellFanout(c,
          sampleCellRadii(t, cents), threshold)
        if (fanout <= CellArmMaxFanout) {
          // Pruning holds: the cell join materializes ~fanout × product
          // pairs. Eagerly computed (localCheckpoint — bounded: at most
          // |corpus| rows of (id, test_id, sim)) so `assigned`'s cache
          // is released HERE rather than pinning |test| rows of vectors
          // for the session's lifetime; checkpoint blocks are reclaimed
          // by the ContextCleaner once the result is unreferenced.
          val (assigned, candidates, _) =
            contaminationRouting(c, t, threshold, nTest, cents)
          val res = cellArmScore(assigned, candidates, threshold)
            .localCheckpoint(true)
          assigned.unpersist(false)
          return res
        }
        // Pruning fails (uniform-ish test geometry): the join would
        // materialize ~the full |corpus|×|test| product as rows —
        // measured 9× more expensive per pair than the closure kernel
        // (ContaminationProbe). Same flops through the chunked kernel
        // instead, driver memory bounded by one chunk.
        return contaminationChunked(c, t, nTest, maxBroadcastTest,
          threshold)
      } finally t.unpersist(false)
    }
    broadcastMaxCosine(c, collectTestVecs(tdf), threshold)
  }

  /** Test vectors as a sorted driver array — the broadcast-arm bounded
    * statistic, ascending id so the kernel's strict-greater fold ties
    * to the LOWEST test id. */
  private def collectTestVecs(
      tdf: DataFrame): Array[(Long, Array[Double])] = tdf
    .collect()
    .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
    .sortBy(_._1)

  /** The closure arm's kernel: one map-only corpus scan, per row the
    * running max cosine over `testVecs` (strict-greater fold over
    * ascending ids → lowest-id tie-break), emitting only rows at or
    * above `threshold`. Shared by the small-test arm and the chunked
    * large-test arm. */
  private def broadcastMaxCosine(c: DataFrame,
      testVecs: Array[(Long, Array[Double])],
      threshold: Double): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      c.schema("id"),
      StructField("test_id", LongType, false),
      StructField("sim", DoubleType, false)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(schema)
    // per-row work is |test| * dim flops — the heaviest map kernel in
    // the library, so never leave it at scan parallelism (a one-split
    // corpus file would serialize it; ContaminationProbe measured the
    // single-task arm at ~319 s where 32-way took ~13). Gated on test
    // size: below ~1k test vectors the kernel is light enough that
    // the repartition's fixed shuffle would cost more than it buys
    // (measured +0.16 s on q64's benchmark-sized test at sf0.1).
    val cPar =
      if (testVecs.length >= 1000)
        c.repartition(c.sparkSession.sparkContext.defaultParallelism)
      else c
    // test-side norms once per call, row norm once per row (the dotFD
    // hoist — bit-identical sims, 1/3 the flops of per-pair cosFD)
    val tNorms = testVecs.map { case (_, tv) => normD(tv) }
    cPar.mapPartitions { rows =>
      rows.flatMap { r =>
        val v = r.getSeq[Float](1)
        val na = normF(v)
        var bestId = -1L; var bestSim = Double.NegativeInfinity
        var i = 0
        while (i < testVecs.length) {
          val s = dotFD(v, testVecs(i)._2) / (na * tNorms(i))
          if (s > bestSim) { bestSim = s; bestId = testVecs(i)._1 }
          i += 1
        }
        if (bestId >= 0 && bestSim >= threshold)
          Iterator(org.apache.spark.sql.Row(r.get(0), bestId, bestSim))
        else Iterator.empty
      }
    }(enc)
  }

  /** Fan-out cutoff for the cell-routed arm. Per surviving pair the
    * cell join costs ~9× the closure kernel (ContaminationProbe,
    * 50k-uniform set: 111 s as join rows vs 12.7 s through the
    * kernel), so the join only wins when pruning removes ≳8/9 of the
    * product; 0.1 sits just under the 1/9 crossover, preferring the
    * bounded-memory chunked arm near the boundary. */
  private val CellArmMaxFanout = 0.1

  /** The cell-pruning bound check, shared VERBATIM by the candidates
    * kernel and the arm-choice estimator (so the estimate can never
    * drift from the bound the join actually applies): TRUE when the
    * spherical triangle-inequality upper bound on cos(v, any member of
    * the cell) could still reach `threshold`. NaN-safe: a NaN bound
    * (zero-norm v or degenerate centroid) fails the `<` and routes
    * through — such rows die at the exact sim filter anyway. */
  private def cellBoundPasses(v: Seq[Float], ce: Array[Double],
      rad: Double, threshold: Double): Boolean = {
    val ang = math.acos(math.max(-1.0, math.min(1.0, cosFD(v, ce))))
    val bound = math.cos(math.max(0.0, ang - rad))
    !(bound + 1e-9 < threshold)
  }

  /** True when `df`'s physical plan contains a shuffle exchange —
    * the shape where the probes' `.rdd` partition-spread sample makes
    * AQE materialize the exchange as an extra job (the trainKmeans
    * comment's hazard). Plan inspection only, runs no job. A cached
    * upstream shows as an InMemoryTableScan leaf (no exchange in this
    * plan), so persisting the corpus first silences it naturally. */
  private def hasUnpersistedShuffle(df: DataFrame): Boolean =
    df.queryExecution.sparkPlan.exists(
      _.isInstanceOf[
        org.apache.spark.sql.execution.exchange.ShuffleExchangeLike])

  /** Sampled mean fraction of cells the bound fails to prune, over up
    * to 64 evenly spaced corpus partitions × 32 head rows (runJob on
    * just those partitions — the arm decision needs one number, not a
    * corpus pass; evenly spaced so a corpus file sorted by topic
    * can't bias the sample to one region). Zero-norm rows skipped
    * (dead in both arms). A wrong estimate costs time, never rows —
    * both arms are exact. */
  private def estimateCellFanout(c: DataFrame,
      cells: Array[(Long, Array[Double], Double)],
      threshold: Double): Double = {
    if (cells.isEmpty) return 0.0
    val rdd = c.select(col("v")).rdd
    val nP = rdd.getNumPartitions
    if (nP == 0) return 0.0
    val k = math.min(64, nP)
    val picks = (0 until k).map(i => i * nP / k).distinct
    val sample: Array[Seq[Float]] = c.sparkSession.sparkContext
      .runJob(rdd,
        (it: Iterator[org.apache.spark.sql.Row]) =>
          it.take(32).map(_.getSeq[Float](0)).toArray,
        picks)
      .flatten
    val live = sample.filter(_.exists(_ != 0f))
    if (live.isEmpty) return 0.0
    live.map { v =>
      cells.count { case (_, ce, rad) =>
        cellBoundPasses(v, ce, rad, threshold) }.toDouble / cells.length
    }.sum / live.length
  }

  /** The cell arm's scoring tail: exact cosine over the routed
    * candidates, then the (sim, -test_id) struct-max fold that
    * reproduces the closure kernel's lowest-id tie-break.
    * Package-private so the spec can pin THIS arm specifically
    * (the public method routes by the fan-out estimate). */
  private[graft] def cellArmScore(assigned: DataFrame, candidates: DataFrame,
      threshold: Double): DataFrame =
    withCosineKernel(
      candidates.join(assigned.select(col("test_id"), col("tv"),
        col("cell")), "cell"),
      "v", "tv", "sim")
      .filter(col("sim") >= threshold)
      .groupBy("id")
      .agg(max(struct(col("sim"), (-col("test_id")).as("nid"),
        col("test_id"))).as("b"))
      .select(col("id"), col("b.test_id").as("test_id"),
        col("b.sim").as("sim"))

  /** The uniform-regime large-test arm: when cell pruning fails,
    * iterate the test set through [[broadcastMaxCosine]] in
    * `maxBroadcastTest`-sized chunks — the same total flops as the
    * full product, but through the tight map-only loop (9× cheaper per
    * pair than join-row materialization, ContaminationProbe) with
    * driver memory bounded by ONE chunk's vectors. Chunks are
    * murmur3-hash partitions of test_id (deterministic); each chunk's
    * winners are EAGERLY materialized (localCheckpoint, ≤ |corpus|
    * narrow rows) so the previous chunk's array is garbage before the
    * next collects, and the test input is persisted across the chunk
    * scans then released. Per-chunk threshold filtering is lossless —
    * the global winner is its own chunk's winner, so it survives iff
    * it passes — and the final max(sim, -test_id) fold over chunk
    * winners reproduces the single-pass lowest-id tie-break. Chunk
    * count is capped at 256 (1 chunk = 1 corpus scan): past that the
    * per-chunk driver footprint exceeding `maxBroadcastTest` beats
    * 256+ scans of the corpus. */
  private[graft] def contaminationChunked(c: DataFrame, tdf: DataFrame,
      nTest: Long, maxBroadcastTest: Long,
      threshold: Double): DataFrame = {
    val maxB = math.max(1L, maxBroadcastTest)
    val nChunks = math.min(256L,
      math.max(2L, (nTest + maxB - 1) / maxB)).toInt
    if (nChunks == 256 && nTest > 256L * maxB)
      System.err.println(
        s"[graft] semanticContamination: chunk count capped at 256, " +
        s"so per-chunk driver memory (~${nTest / 256} test vectors) " +
        s"exceeds maxBroadcastTest=$maxB — past 256 corpus scans the " +
        s"cap beats more scans; raise driver memory or pre-filter " +
        s"the test set.")
    val t = tdf.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val winners = (0 until nChunks).map { i =>
      val chunk = collectTestVecs(
        t.filter(pmod(hash(col("test_id")), lit(nChunks)) === i))
      broadcastMaxCosine(c, chunk, threshold).localCheckpoint(true)
    }
    t.unpersist(false)
    winners.reduce(_.unionByName(_))
      .groupBy("id")
      .agg(max(struct(col("sim"), (-col("test_id")).as("nid"),
        col("test_id"))).as("b"))
      .select(col("id"), col("b.test_id").as("test_id"),
        col("b.sim").as("sim"))
  }

  /** The large-test arms' shared cell geometry: ~4k test vectors per
    * cell, capped so the centroid table stays a small driver statistic
    * (≤ 256 × dim doubles). */
  private def contaminationCells(tdf: DataFrame,
      nTest: Long): Array[(Long, Array[Double])] = {
    val nlist = math.max(8L, math.min(256L, nTest / 4096L)).toInt
    trainKmeans(tdf, "test_id", "tv", nlist, 1)
  }

  /** APPROXIMATE per-cell radii from a bounded test sample (runJob on
    * up to 64 evenly spaced partitions × 32 head rows, assigned to
    * their nearest cell on the driver) — just enough geometry for the
    * ARM DECISION without paying the full |test|-row assignment pass
    * that only the cell arm needs (the round-9 probe measured that
    * pass as real money on a 1M-row test set). Sampled radii
    * under-estimate the true max (max over a sample), which biases the
    * estimate TOWARD the cell arm; on clustered sets — the cell arm's
    * regime — radii are tiny and the sample is exact enough, while on
    * uniform sets even a small sample reaches near-max angles. Cells
    * with no sampled member borrow the largest observed radius. A
    * wrong estimate costs time, never rows. */
  private def sampleCellRadii(tdf: DataFrame,
      cents: Array[(Long, Array[Double])]):
      Array[(Long, Array[Double], Double)] = {
    val rdd = tdf.select(col("tv")).rdd
    val nP = rdd.getNumPartitions
    if (nP == 0) return cents.map { case (cid, ce) => (cid, ce, 0.0) }
    val k = math.min(64, nP)
    val picks = (0 until k).map(i => i * nP / k).distinct
    val sample: Array[Seq[Float]] = tdf.sparkSession.sparkContext
      .runJob(rdd,
        (it: Iterator[org.apache.spark.sql.Row]) =>
          it.take(32).map(_.getSeq[Float](0)).toArray,
        picks)
      .flatten
    val centNorms = cents.map { case (_, ce) => normD(ce) }
    val maxAng = new Array[Double](cents.length)
    val seen = new Array[Boolean](cents.length)
    sample.foreach { tv =>
      val na = normF(tv)
      if (na != 0.0) {
        var best = -1; var bestS = Double.NegativeInfinity
        var i = 0
        while (i < cents.length) {
          val s = dotFD(tv, cents(i)._2) / (na * centNorms(i))
          // same (-sim, cid) preference as the exact assignment
          if (s > bestS) { bestS = s; best = i }
          i += 1
        }
        if (best >= 0) {
          seen(best) = true
          val ang = math.acos(math.max(-1.0, math.min(1.0, bestS)))
          if (ang > maxAng(best)) maxAng(best) = ang
        }
      }
    }
    // `seen`, not `maxAng > 0`: a cell whose sampled members sit at
    // EXACTLY angle 0 (duplicate/quantized embeddings — the cell
    // arm's own best regime) is a legitimately tight cell, and
    // handing it the fallback radius would misroute clustered test
    // sets to the chunked arm
    val fallback =
      if (seen.exists(identity))
        maxAng.zipWithIndex.collect { case (a, i) if seen(i) => a }.max
      else 0.0
    cents.zipWithIndex.map { case ((cid, ce), i) =>
      (cid, ce, if (seen(i)) maxAng(i) else fallback) }
  }

  /** The cell-routed arm's candidate generation, extracted so the
    * spec can count routing
    * survivors with the SAME bound math the operator ships — never a
    * re-derivation that could drift. Returns (assigned test rows with
    * their cell + angle, corpus candidate rows fanned to the cells
    * whose cosine upper bound reaches `threshold`, the driver-side
    * cell stats (cid, centroid, radius) the arm-choice estimator
    * reads). Inputs must already carry the canonical column names
    * (`id`/`v`, `test_id`/`tv`) and `nTest` their already-counted test
    * cardinality — the caller counted it to pick the arm; recounting a
    * >1M-row set here would add a full extra scan per call.
    * `centsPre` skips retraining when the router already built the
    * cell geometry. See [[semanticContamination]]'s scaladoc for the
    * spherical triangle-inequality bound this implements.
    *
    * CALLER CONTRACT: the returned `assigned` is persisted
    * (MEMORY_AND_DISK — it feeds both the radii collect and the scored
    * join); the caller MUST unpersist it once the result is
    * materialized ([[semanticContamination]] does). */
  private[graft] def contaminationRouting(
      c: DataFrame, tdf: DataFrame, threshold: Double, nTest: Long,
      centsPre: Array[(Long, Array[Double])] = null):
      (DataFrame, DataFrame, Array[(Long, Array[Double], Double)]) = {
    import org.apache.spark.sql.types._
    val cents =
      if (centsPre != null) centsPre
      else contaminationCells(tdf, nTest)

    def clamp(s: Double) = math.max(-1.0, math.min(1.0, s))
    // (test_id, tv, cell, angle-to-centroid) — one map-only kernel;
    // same nearest-cell tie-break as assignNearest ((-sim, cid))
    val tSchema = StructType(tdf.schema.fields ++ Seq(
      StructField("cell", LongType, false),
      StructField("ang", DoubleType, false)))
    val tEnc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(tSchema)
    val par = tdf.sparkSession.sparkContext.defaultParallelism
    // nlist * dim flops per row on both kernels below: force them off
    // scan parallelism (same justification as the broadcast arm's
    // repartition), and PERSIST the assignment — it feeds the radii
    // collect AND the scored join, and recomputing a |test| * nlist
    // assignment pass costs far more than caching |test| rows of
    // (id, vec, cell, ang). Bounded by the test side, never the
    // corpus; evicted LRU like any cache.
    val centNorms = cents.map { case (_, ce) => normD(ce) }
    val assigned = tdf.repartition(par).mapPartitions { rows =>
      rows.flatMap { r =>
        val tv = r.getSeq[Float](1)
        val na = normF(tv) // hoisted once per row (dotFD discipline)
        if (na == 0.0) Iterator.empty // NaN sims: dead in both arms
        else {
          val (cid, s) = cents.iterator.zipWithIndex
            .map { case ((cid, ce), i) =>
              (cid, dotFD(tv, ce) / (na * centNorms(i))) }
            .minBy { case (cid, s) => (-s, cid) }
          Iterator(org.apache.spark.sql.Row(
            r.get(0), r.get(1), cid, math.acos(clamp(s))))
        }
      }
    }(tEnc).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // per-cell radius: a bounded (nlist-row) driver statistic
    // (this collect also materializes the `assigned` cache)
    val radii: Map[Long, Double] = assigned
      .groupBy("cell").agg(max(col("ang")).as("r"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val cells: Array[(Long, Array[Double], Double)] =
      cents.collect { case (cid, ce) if radii.contains(cid) =>
        (cid, ce, radii(cid)) }

    // corpus side: emit (id, v, cell) only for cells whose cosine
    // upper bound reaches the threshold — sound pruning, see scaladoc
    val cSchema = StructType(c.schema.fields :+
      StructField("cell", LongType, false))
    val cEnc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(cSchema)
    val candidates = c.repartition(par).mapPartitions { rows =>
      rows.flatMap { r =>
        val v = r.getSeq[Float](1)
        var vNorm = 0.0
        v.foreach(x => vNorm += x.toDouble * x.toDouble)
        if (vNorm == 0.0) Iterator.empty // all its sims are NaN: dead
        // prune only when PROVABLY below threshold (cellBoundPasses —
        // the same check the arm-choice estimator samples)
        else cells.iterator.flatMap { case (cid, ce, rad) =>
          if (cellBoundPasses(v, ce, rad, threshold))
            Iterator(org.apache.spark.sql.Row(r.get(0), r.get(1), cid))
          else Iterator.empty
        }
      }
    }(cEnc)

    (assigned, candidates, cells)
  }

  /** Cross-corpus incremental SemDeDup — `semDedup`'s semantics for the
    * daily-increment shape (the `Dedup.minhashLshAgainst` counterpart):
    * flag every INCREMENT vector with a base-corpus vector at cosine ≥
    * `threshold` in its k-means cell. Increment-internal pairs are NOT
    * compared (run `semDedup` on the increment separately when wanted).
    * Centroids train on the BASE — the standing corpus defines the cell
    * geometry and increments route into it, so a base processed once
    * keeps its assignment across increments.
    *
    * Returns flagged increment rows: (id, dup_of, sim), dup_of = the
    * smallest qualifying base id (ties by id — deterministic).
    *
    * Scale shape: both sides' (cell, id) rows, tagged by side, feed the
    * cross form of the bucket walk ([[graft.plans.BucketPairs]], metric
    * "graft.semdedup_against", the minhashLshAgainst walk), which pairs
    * ids only: a cell may hold 100,000 members, too many to buffer their
    * vectors per task. Only CROSS-side pairs materialize: |inc| ×
    * cell-fraction work, not |base|². A cell with more than
    * `maxCellSide` ids on either side yields the one pair of each
    * side's min id.
    */
  def semDedupAgainst(
      increment: DataFrame, base: DataFrame,
      idCol: String, vecCol: String,
      threshold: Double,
      nlist: Int = graft.ops.Sizing.Auto,
      trainIters: Int = 1,
      maxCellSide: Int = 100000): DataFrame = {
    require(nlist >= 1 || nlist == graft.ops.Sizing.Auto,
      s"nlist must be >= 1 (or Sizing.Auto), got $nlist")
    val spark = base.sparkSession
    val par = spark.sparkContext.defaultParallelism
    // Auto-sizing keys off the BASE side — it defines the cell geometry
    // the increment is routed through (Sizing.semDedupNlist).
    val nlistN =
      if (nlist == graft.ops.Sizing.Auto)
        graft.ops.Sizing.semDedupNlist(
          base.select(col(idCol)).count())
      else nlist
    val cents = trainKmeans(base, idCol, vecCol, nlistN, trainIters)
    val inc = increment.select(col(idCol).as("id"), col(vecCol).as("v"))
      .repartition(par, col("id"))
    val bs = base.select(col(idCol).as("id"), col(vecCol).as("v"))
      .repartition(par, col("id"))
    val tagged = assignNearest(inc, cents, 1, 1)
      .select(col("cent_id").as("bucket"), col("id"), lit(true).as("increment"))
      .unionByName(assignNearest(bs, cents, 1, 1)
        .select(col("cent_id").as("bucket"), col("id"), lit(false).as("increment")))
    // one cell per id -> the cross-pair stream is duplicate-free
    val pairs = graft.plans.BucketPairs.crossPairs(tagged,
      graft.plans.PairCheck.EveryPair, maxCellSide, "graft.semdedup_against")
    withCosineKernel(pairs
      .join(inc.select(col("id").as("id1"), col("v").as("v1")), "id1")
      .join(bs.select(col("id").as("id2"), col("v").as("v2")), "id2"),
      "v1", "v2", "sim")
      .filter(col("sim") >= threshold)
      .groupBy(col("id1").as("id"))
      .agg(
        min(col("id2")).as("dup_of"),
        min_by(col("sim"), col("id2")).as("sim"))
  }

  /** The verified in-cell similarity pair stream `semDedup` reduces —
    * exposed so `Components.connectedComponents` can cluster it
    * transitively (the q37/q51 composition for the semantic family).
    * Same cell/cap/verify machinery; (id1 < id2, sim) rows.
    */
  def semDedupPairs(
      corpus: DataFrame,
      idCol: String, vecCol: String,
      threshold: Double,
      nlist: Int = graft.ops.Sizing.Auto,
      trainIters: Int = 1,
      maxClusterSize: Int = 100000): DataFrame = {
    require(nlist >= 1 || nlist == graft.ops.Sizing.Auto,
      s"nlist must be >= 1 (or Sizing.Auto), got $nlist")
    val spark = corpus.sparkSession
    val c = corpus.select(col(idCol).as("id"), col(vecCol).as("v"))
      .repartition(spark.sparkContext.defaultParallelism, col("id"))
    // Auto-sizing (default): nlist ~ n/targetCellSize keeps cell
    // population — and so the in-cell all-pairs work per vector —
    // constant as the corpus grows (the CellScaleProbe-measured lever;
    // Sizing.semDedupNlist). Explicit nlist skips the count pass.
    val nlistN =
      if (nlist == graft.ops.Sizing.Auto)
        graft.ops.Sizing.semDedupNlist(c.select(col("id")).count())
      else nlist
    val cents = trainKmeans(corpus, idCol, vecCol, nlistN, trainIters)
    val buckets = assignNearest(c, cents, 1, 1)
      .select(col("id"), col("cent_id").as("bucket"))
    // each id lives in exactly ONE cell (n=1 assignment), so the pair
    // stream is duplicate-free by construction — no DISTINCT shuffle.
    // The walk pairs ids only: a cell holds up to maxClusterSize
    // members, too many to buffer their vectors per task
    val pairs = graft.plans.BucketPairs.pairs(buckets,
      graft.plans.PairCheck.EveryPair, maxClusterSize, "graft.semdedup")
    // shuffle_hash on the corpus sides: never sort the pair stream once
    // the vector payload attaches (NOTES.md "verify-join A/B")
    withCosineKernel(pairs
      .join(c.select(col("id").as("id1"), col("v").as("v1"))
        .hint("shuffle_hash"), "id1")
      .join(c.select(col("id").as("id2"), col("v").as("v2"))
        .hint("shuffle_hash"), "id2"),
      "v1", "v2", "sim")
      .filter(col("sim") >= threshold)
      .select("id1", "id2", "sim")
  }

  /** SemDeDup-style semantic near-duplicate removal (Abbas et al. 2023,
    * arXiv:2303.09540) over an embedding column: spherical k-means
    * partitions the corpus into `nlist` cells (trained by `trainKmeans`'s
    * exact fixed-point Lloyd pass, so every centroid — and therefore the
    * whole removal set — is reproducible in any engine), then within each
    * cell a document is REMOVED iff some LOWER-ID cell member sits at
    * cosine ≥ `threshold`. That single-hop min-id keep rule is
    * deliberately NOT transitive: removal never cascades through chains
    * of barely-similar documents, and the removal set is expressible as
    * one SQL self-join (oracle-able). A removed row's `dup_of` — the
    * smallest qualifying keeper — may itself be removed; feed the pair
    * stream to `Components.connectedComponents` when transitive cluster
    * semantics are wanted instead.
    *
    * Returns removed rows only: (id, dup_of, sim), `sim` = cosine of the
    * (dup_of, id) pair.
    *
    * Scale shape: the pair space is confined to k-means cells — size
    * `nlist` like sqrt(corpus) or finer and cells stay bounded — and
    * the bucket walk ([[graft.plans.BucketPairs]]) buffers the ids of
    * at most `maxClusterSize` members of one cell regardless (metric
    * "graft.semdedup"): an over-cap cell collapses to its
    * deterministic (min,max) representative pair, so a giant cluster of
    * true duplicates still surfaces its max-id member rather than
    * silently vanishing. Centroids are a bounded driver statistic
    * (hadron's runOnce idiom, /root/reference/src/Hadron/
    * Controller.hs:724-725); assignment is map-only; the only shuffles
    * are the ONE cell grouping and the two narrow (id, vec) verify
    * joins. The two-column (id, vec) projection is not cached, for the
    * same reason as in `nearDupPairs`: at corpus scale a cache is a
    * full materialization of the input.
    */
  def semDedup(
      corpus: DataFrame,
      idCol: String, vecCol: String,
      threshold: Double,
      nlist: Int = graft.ops.Sizing.Auto,
      trainIters: Int = 1,
      maxClusterSize: Int = 100000): DataFrame =
    semDedupPairs(corpus, idCol, vecCol, threshold, nlist, trainIters,
        maxClusterSize)
      .groupBy(col("id2").as("id"))
      .agg(
        min(col("id1")).as("dup_of"),
        min_by(col("sim"), col("id1")).as("sim"))

  /** Prototypicality pruning (the "SSL Prototypes" metric of Sorscher
    * et al. 2022, arXiv:2206.14486, applied to LLM data as stage 2 of
    * D4, Tirumala et al. 2023, arXiv:2308.12284): rank every vector by
    * cosine to its own trained k-means centroid and DROP the
    * most-prototypical `dropNum/dropDen` fraction of each cell — the
    * easy, over-represented core of a cluster contributes least to
    * training once the cluster is represented at all; the informative
    * boundary examples stay. Complements [[semDedup]] (which removes
    * pairwise near-duplicates; this thins cluster cores wholesale) —
    * run semDedup first and this second for the full D4 recipe.
    *
    * The drop fraction is an exact rational (`n_drop = n_cell *
    * dropNum div dropDen`, integer arithmetic — never a float times a
    * count), and ranking is the total order (cosine desc, id asc), so
    * the kept set is deterministic and engine-reproducible; centroids
    * come from [[trainKmeans]]'s exact fixed-point Lloyd pass like
    * every k-means consumer here (reference runOnce idiom:
    * /root/reference/src/Hadron/Controller.hs:724-725).
    *
    * Scale shape: centroids are a bounded driver statistic; assignment
    * and the cosine-to-own-centroid score are one map-only pass over
    * the corpus (same pruned [[CentroidScan]] as IVF past the tier
    * gate); the ONLY shuffle is the per-cell rank window over three
    * narrow columns (id, cell, sim) — vectors never exchange. Cell
    * populations are ~`Sizing.semDedupNlist`'s target regardless of n,
    * so the window's per-group sort state is bounded.
    *
    * @return one row per KEPT vector: (id, cell, sim, rank, n_cell) —
    *   `sim` = cosine to the cell centroid, `rank` 1-based from most
    *   prototypical, rows with `rank <= n_cell * dropNum div dropDen`
    *   are removed.
    */
  def prototypicality(
      corpus: DataFrame,
      idCol: String, vecCol: String,
      dropNum: Int, dropDen: Int,
      nlist: Int = graft.ops.Sizing.Auto,
      trainIters: Int = 1): DataFrame = {
    require(dropDen >= 1 && dropNum >= 0 && dropNum <= dropDen,
      s"drop fraction must be a rational in [0, 1], got $dropNum/$dropDen")
    require(nlist >= 1 || nlist == graft.ops.Sizing.Auto,
      s"nlist must be >= 1 (or Sizing.Auto), got $nlist")
    val spark = corpus.sparkSession
    val c = corpus.select(col(idCol).as("id"), col(vecCol).as("v"))
    val nlistN =
      if (nlist == graft.ops.Sizing.Auto)
        graft.ops.Sizing.semDedupNlist(c.select(col("id")).count())
      else nlist
    val cents = trainKmeans(corpus, idCol, vecCol, nlistN, trainIters)
    val assigned = assignNearest(c, cents, 1, 1)
    // cosine to the OWN centroid: closure-shipped centroid lookup,
    // float->double promotion per term — bit-identical to the
    // assignment scan's score for the winning centroid
    val byId = cents.toMap
    val norms = cents.map { case (cid, ce) => (cid, normD(ce)) }.toMap
    val schema = assigned.schema
      .add(org.apache.spark.sql.types.StructField(
        "sim", org.apache.spark.sql.types.DoubleType, false))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(schema)
    val vi = assigned.schema.fieldIndex("v")
    val ci = assigned.schema.fieldIndex("cent_id")
    val scored = assigned.mapPartitions { rows =>
      rows.map { r =>
        val v = r.getSeq[Float](vi)
        val cid = r.getLong(ci)
        val ce = byId(cid)
        val sim = dotFD(v, ce) / (normF(v) * norms(cid))
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ sim)
      }
    }(enc)
    val byCell = Window.partitionBy("cell")
    scored
      .select(col("id"), col("cent_id").as("cell"), col("sim"))
      .withColumn("rank",
        row_number().over(byCell.orderBy(col("sim").desc, col("id").asc))
          .cast("long"))
      .withColumn("n_cell", count(lit(1)).over(byCell))
      .filter(col("rank") > expr(s"n_cell * $dropNum div $dropDen"))
  }

  /** Cluster-balanced subset selection (the D4/DataComp-style
    * "diversity sample"): train k-means on the embeddings, assign every
    * vector to its nearest cell, then keep at most `perCell` vectors
    * PER CELL — so the sample covers every region of embedding space
    * instead of letting the corpus's head clusters (boilerplate,
    * near-dups, one dominant domain) fill a uniform sample. The
    * complement of [[prototypicality]]'s within-cell pruning: this op
    * equalizes ACROSS cells.
    *
    * Within a cell, membership is content-addressed — rank by
    * `Sampling.unitHash(id)` ascending (ties impossible in practice,
    * broken by id) — so the sample is a pure function of (ids, salt,
    * centroids): stable across runs, partitionings, and engines, like
    * every sampler in [[graft.ops.Sampling]].
    *
    * Scale shape: centroid training/assignment are the shared k-means
    * kernels (bounded driver statistic + map-only pruned CentroidScan
    * past the tier gates); the per-cell cap is
    * [[graft.ops.Sampling.capPerGroup]]'s bounded `topk_by` fold —
    * map-side ≤perCell partials per (partition, cell), never a
    * row_number window over the corpus. Vectors never exchange: only
    * (id, cell, hash) reaches the aggregation.
    *
    * @return (cell, id, samp_rank 1..perCell in hash order, n_cell
    *         pre-cap cell population)
    */
  def clusterBalancedSample(
      corpus: DataFrame,
      idCol: String, vecCol: String,
      perCell: Int,
      salt: String = "cbs",
      nlist: Int = graft.ops.Sizing.Auto,
      trainIters: Int = 1): DataFrame = {
    require(perCell > 0, s"perCell must be positive, got $perCell")
    require(nlist >= 1 || nlist == graft.ops.Sizing.Auto,
      s"nlist must be >= 1 (or Sizing.Auto), got $nlist")
    val c = corpus.select(col(idCol).as("id"), col(vecCol).as("v"))
    val nlistN =
      if (nlist == graft.ops.Sizing.Auto)
        graft.ops.Sizing.semDedupNlist(c.select(col("id")).count())
      else nlist
    val cents = trainKmeans(corpus, idCol, vecCol, nlistN, trainIters)
    val assigned = assignNearest(c, cents, 1, 1)
    graft.ops.Sampling.capPerGroup(
        assigned.select(col("id"), col("cent_id").as("cell")),
        col("cell"), col("id"),
        -graft.ops.Sampling.unitHash(col("id"), salt), perCell)
      .select(col("cell"), col("id"),
        col("rank").as("samp_rank"), col("n_group").as("n_cell"))
  }

  /** Cosine of two float vectors at the house 2^20 fixed point —
    * the [[withCosineKernel]] double arithmetic (index-ordered dot and
    * norm folds, one IEEE division) followed by half-away-from-zero
    * rounding, so a DuckDB replay of
    * `round(list_sum(products)/(sqrt·sqrt) * 1048576)` reproduces the
    * value bit-for-bit. */
  private def cosineFx(a: Array[Float], b: Array[Float]): Long = {
    val n = math.min(a.length, b.length)
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) { dot += a(i).toDouble * b(i).toDouble; i += 1 }
    i = 0
    while (i < a.length) { val x = a(i).toDouble; na += x * x; i += 1 }
    i = 0
    while (i < b.length) { val y = b(i).toDouble; nb += y * y; i += 1 }
    val sim = dot / (math.sqrt(na) * math.sqrt(nb))
    val x = sim * FixedScale
    (if (x >= 0) math.floor(x + 0.5) else math.ceil(x - 0.5)).toLong
  }

  /** Maximal-marginal-relevance diversified re-rank (Carbonell &
    * Goldstein 1998) — greedily pick `select` results per query that
    * trade relevance against redundancy:
    * `argmax  λ·sim(q,d) − (1−λ)·max_{s∈picked} sim(d,s)`
    * (first pick: pure relevance). The eval-set/retrieval stage that
    * keeps a near-dup-heavy corpus from filling all k slots with one
    * cluster.
    *
    * Backend-decoupled like [[recallAtK]]/[[marginScores]]: `nn` is ANY
    * family's (query_id, corpus_id, sim) table; this op only re-orders
    * within each query's candidate set (never searches), so its cost is
    * queries × k', not the corpus.
    *
    * Exactness: λ is restricted to eighths (`lambdaEighths`/8) and sims
    * enter at the house round(·2^20) fixed point, so the greedy
    * objective `lNum·sim_fx − (8−lNum)·maxdiv_fx` is pure integer
    * arithmetic — ties break by id ascending, and a DuckDB oracle
    * replays the selection as unrolled argmax steps bit-for-bit.
    * Candidate-to-candidate cosines use [[cosineFx]] (same double
    * kernel as every cosine in this file, then the same rounding).
    *
    * Scale shape: the vector fetch joins only candidate rows (queries ×
    * k', never the corpus); the per-query fold is the loud-capped
    * `collect_list_capped` aggregate (group state ≤ `maxCandidates`
    * vectors, a hard error beyond — never a silent truncation); the
    * greedy is O(select · k') cosines inside one task. Queries are
    * independent — embarrassingly parallel at any corpus size.
    *
    * @param nn     (query_id, corpus_id, sim) candidate table
    * @param corpus (idCol, vecCol) — vectors for the candidate ids
    * @param select number of results to keep per query (fewer if the
    *               query has fewer candidates)
    * @param lambdaEighths λ·8 ∈ [1, 8]; 8 = pure relevance
    * @return (query_id, corpus_id, mmr_rank 1.., obj_fx, sim_fx) —
    *         obj_fx is the picked objective at 8·2^20 scale
    */
  def mmrRerank(
      nn: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String,
      select: Int, lambdaEighths: Int,
      maxCandidates: Int = 4096): DataFrame = {
    require(select > 0, s"select must be positive, got $select")
    require(lambdaEighths >= 1 && lambdaEighths <= 8,
      s"lambdaEighths must be in [1, 8], got $lambdaEighths")
    val idType = nn.schema("corpus_id").dataType
    graft.dedup.Dedup.requireOrderableId(idType, "mmrRerank")
    val lNum = lambdaEighths.toLong
    val cand = nn.select(col("query_id"), col("corpus_id"),
        round(col("sim") * FixedScale).cast("long").as("sim_fx"))
      .join(corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("cv")),
        Seq("corpus_id"))
    val grouped = cand.groupBy("query_id")
      .agg(call_function("collect_list_capped",
        struct(col("corpus_id"), col("sim_fx"), col("cv")),
        lit(maxCandidates)).as("cands"))
    import org.apache.spark.sql.types._
    val outSchema = StructType(Seq(
      grouped.schema("query_id"),
      StructField("corpus_id", idType, false),
      StructField("mmr_rank", LongType, false),
      StructField("obj_fx", LongType, false),
      StructField("sim_fx", LongType, false)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(outSchema)
    grouped.mapPartitions { rows =>
      rows.flatMap { gr =>
        val qid = gr.get(0)
        // id-ascending candidate order: collect order is
        // partition-dependent, and the strict-> scan below relies on
        // ascending ids to break objective ties toward the smaller id
        implicit val anyOrd: Ordering[Any] =
          (a: Any, b: Any) => a.asInstanceOf[Comparable[Any]].compareTo(b)
        val cands = gr.getSeq[org.apache.spark.sql.Row](1).sortBy(_.get(0))
        val n = cands.length
        val ids = Array.tabulate[Any](n)(i => cands(i).get(0))
        val sfx = Array.tabulate(n)(i => cands(i).getLong(1))
        val vecs = Array.tabulate(n)(i => cands(i).getSeq[Float](2).toArray)
        val picked = new Array[Boolean](n)
        val maxDiv = new Array[Long](n)
        var havePick = false
        val nOut = math.min(select, n)
        val out = new scala.collection.mutable.ArrayBuffer[
          org.apache.spark.sql.Row](nOut)
        var rank = 1
        while (rank <= nOut) {
          var best = -1; var bestObj = 0L
          var i = 0
          while (i < n) {
            if (!picked(i)) {
              val obj =
                if (!havePick) lNum * sfx(i)
                else lNum * sfx(i) - (8L - lNum) * maxDiv(i)
              if (best < 0 || obj > bestObj) { best = i; bestObj = obj }
            }
            i += 1
          }
          out += org.apache.spark.sql.Row(
            qid, ids(best), rank.toLong, bestObj, sfx(best))
          picked(best) = true
          // fold the new pick into every survivor's redundancy term:
          // true max over picked (negative pair sims stay negative)
          i = 0
          while (i < n) {
            if (!picked(i)) {
              val p = cosineFx(vecs(i), vecs(best))
              if (!havePick || p > maxDiv(i)) maxDiv(i) = p
            }
            i += 1
          }
          havePick = true
          rank += 1
        }
        out
      }
    }(enc)
  }
}
