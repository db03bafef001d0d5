package graft.oracle

/** DuckDB SQL text for the pieces that recur across the catalog's oracle
  * queries (`SparkEntry`'s `qNNSql` strings): the md5-derived integers,
  * shingle and token lists, the MinHash signature and its LSH banding,
  * the fixed-point binary logarithm, the embedding cosine and k-means
  * steps, the URL normalizer. Each function returns SQL text that an
  * oracle splices in; each piece is defined here once, so a change to
  * one (a new MinHash hash family, say) is one edit on the oracle side.
  *
  * The oracle is the independent half of the correctness contract, so
  * these fragments are written directly in DuckDB SQL from each
  * operator's specification: nothing here imports or calls graft code,
  * and only the oracle strings use it.
  *
  * Texts are built with `raw` interpolation: several hold a regex
  * `'\s+'`, whose backslash an `s` interpolator would consume.
  */
object Fragments {

  // ---- md5-derived integers ----------------------------------------

  /** Value 0..15 of hex digit `pos` (a 1-based SQL expression) of the
    * lowercase hex string `hex`. Every md5-derived integer is built from
    * this digit read, which is exact in any engine. */
  def hexDigit(hex: String, pos: String): String =
    raw"strpos('0123456789abcdef', substr($hex, $pos, 1)) - 1"

  /** Hex digits `from..to` of `hex` as an un-cast integer sum. */
  def hexInt(hex: String, from: Int, to: Int): String =
    raw"list_sum([(${hexDigit(hex, "j")}) * CAST(pow(16, $to - j) AS BIGINT) for j in range($from, ${to + 1})])"

  /** [[hexInt]] as a BIGINT, reduced `% mod` before the cast when
    * `mod > 0`. */
  def hexBigint(hex: String, from: Int, to: Int, mod: Long = 0): String =
    if (mod > 0) raw"CAST(${hexInt(hex, from, to)} % $mod AS BIGINT)"
    else raw"CAST(${hexInt(hex, from, to)} AS BIGINT)"

  /** The first `digits` hex digits of `md5(expr)` as a BIGINT (`% mod`
    * first when `mod > 0`). 13 digits = 52 bits, 15 digits = 60 bits. */
  def md5Bigint(expr: String, digits: Int, mod: Long = 0): String =
    hexBigint(raw"md5($expr)", 1, digits, mod)

  /** The shingle / gram hash: 15 md5 hex digits `% 1000000007`. */
  def md5Mod(expr: String): String = md5Bigint(expr, 15, 1000000007L)

  /** A uniform draw in [0, 1): 13 md5 hex digits over 2^52. */
  def md5Unit(expr: String): String =
    md5Bigint(expr, 13) + " / 4503599627370496.0"

  // ---- tokens and shingles -----------------------------------------

  /** Whitespace tokens of `text`, empty tokens dropped. */
  def wsTokens(text: String): String =
    raw"list_filter(regexp_split_to_array($text, '\s+'), x -> x <> '')"

  /** The distinct `k`-character shingles of `text`. */
  def shingles(text: String, k: Int): String =
    raw"list_distinct([substr($text, i, $k) for i in range(1, len($text)-$k+2)])"

  /** CTE `docs(id, shingles)` over the rows of `from` with at least `k`
    * characters; `suffix` is appended to the CTE name. */
  def shingleDocs(k: Int, from: String = "documents", suffix: String = ""): String =
    raw"""docs$suffix AS (
         SELECT doc_id AS id,
           ${shingles("text", k)} AS shingles
         FROM $from WHERE len(text) >= $k)"""

  /** The distinct [[md5Mod]] hashes of the strings in list `list`. */
  def hashSet(list: String, v: String = "sh"): String =
    raw"list_distinct([${md5Mod(v)} for $v in $list])"

  // ---- MinHash-LSH -------------------------------------------------

  /** The `n`-hash MinHash signature of the hash list `vms`: hash `i` is
    * `((i + 1)·v + 40503·i) mod 1000000007`. */
  def minhashSig(n: Int): String =
    raw"[list_min([(v * (i + 1) + 40503 * i) % 1000000007 for v in vms]) for i in range(0, $n)]"

  /** CTEs `based(id, vms)` — the shingle hashes of `docs` — and
    * `sigs(id, vms, sig)`; `suffix` is appended to every CTE name. */
  def minhashSigs(numHashes: Int, suffix: String = ""): String =
    raw"""based$suffix AS (
         SELECT id,
           ${hashSet("shingles")} AS vms
         FROM docs$suffix),
       sigs$suffix AS (
         SELECT id, vms,
           ${minhashSig(numHashes)} AS sig
         FROM based$suffix)"""

  /** The LSH key of band `b` of signature `sig`: `b|h1,h2,…` over its
    * `rows` hashes. */
  def bandKey(rows: Int): String =
    raw"CAST(b AS VARCHAR) || '|' || array_to_string(sig[b*$rows+1 : b*$rows+$rows], ',')"

  /** The band numbers `0 until bands` as a relation `t(b)`. */
  def bandIds(bands: Int): String =
    raw"(VALUES ${(0 until bands).map(b => s"($b)").mkString(",")}) AS t(b)"

  /** CTE `bands(id, bucket)`: the [[bandKey]] of every band of
    * `sigs.sig`, `numHashes / bands` rows each; `suffix` is appended to
    * both CTE names. */
  def bandKeys(numHashes: Int, bands: Int, suffix: String = ""): String =
    raw"""bands$suffix AS (
         SELECT id, ${bandKey(numHashes / bands)} AS bucket
         FROM sigs$suffix CROSS JOIN ${bandIds(bands)})"""

  /** [[shingleDocs]], [[minhashSigs]] and [[bandKeys]] in one chain,
    * `suffix` appended to every CTE name. */
  def minhashBands(k: Int, numHashes: Int, bands: Int,
      from: String = "documents", suffix: String = ""): String =
    Seq(shingleDocs(k, from, suffix), minhashSigs(numHashes, suffix),
      bandKeys(numHashes, bands, suffix)).mkString(",\n       ")

  /** CTEs `ok` and `name(id1, id2)`: every `id1 < id2` pair of ids
    * sharing a bucket of `buckets` with at most `cap` members, and one
    * (min, max) representative pair per larger bucket. `minSize`
    * restricts `ok` to buckets of at least that many members. */
  def cappedPairs(name: String, cap: Int, buckets: String = "bands",
      id: String = "id", minSize: Int = 0, ok: String = "ok_buckets"): String = {
    val having =
      if (minSize > 0) s"\n         HAVING COUNT(*) BETWEEN $minSize AND $cap"
      else s" HAVING COUNT(*) <= $cap"
    raw"""$ok AS (
         SELECT bucket FROM $buckets GROUP BY bucket$having),
       $name AS (
         SELECT a.$id AS id1, b.$id AS id2
         FROM $buckets a JOIN $buckets b ON a.bucket = b.bucket AND a.$id < b.$id
         JOIN $ok c ON a.bucket = c.bucket
         UNION
         SELECT min($id) AS id1, max($id) AS id2
         FROM $buckets GROUP BY bucket HAVING COUNT(*) > $cap)"""
  }

  // ---- fixed-point binary logarithm --------------------------------

  /** CTEs `powers`, `init`, `lg` and `lgf(col, fx)`: `fx` is
    * log2(col) in 20-bit fixed point (`>> shift` when `shift > 0`) for
    * every positive BIGINT `col` of CTE `vals`: the integer part is the
    * highest set bit, the fraction 20 rounds of squaring the mantissa in
    * a recursive CTE (the query needs `WITH RECURSIVE`). */
  def ilog2Fx(col: String = "v", shift: Int = 0): String = {
    val fx =
      if (shift > 0) raw"(init.ipart * 1048576 + lg.acc) >> $shift"
      else "init.ipart * 1048576 + lg.acc"
    raw"""powers AS (SELECT unnest(range(0,43)) AS e),
       init AS (SELECT $col, max(e) AS ipart FROM vals
                JOIN powers ON (CAST(1 AS BIGINT) << e) <= $col GROUP BY $col),
       lg AS (
         SELECT $col, (($col << 20) >> ipart) AS x, CAST(0 AS BIGINT) AS acc,
           0 AS i FROM init
         UNION ALL
         SELECT $col,
           CASE WHEN x2 >= 2097152 THEN x2 >> 1 ELSE x2 END,
           CASE WHEN x2 >= 2097152 THEN (acc << 1) | 1 ELSE acc << 1 END,
           i + 1
         FROM (SELECT $col, (x*x) >> 20 AS x2, acc, i FROM lg WHERE i < 20)),
       lgf AS (SELECT lg.$col, $fx AS fx
               FROM lg JOIN init USING ($col) WHERE i = 20)"""
  }

  /** CTE `verified(id1, id2, common, n1, n2)`: the shingle-hash overlap
    * and set sizes of every candidate pair in `pairs`. */
  val pairOverlap: String =
    """verified AS (
         SELECT id1, id2,
           len(list_intersect(d1.vms, d2.vms)) AS common,
           len(d1.vms) AS n1, len(d2.vms) AS n2
         FROM pairs JOIN sigs d1 ON id1 = d1.id JOIN sigs d2 ON id2 = d2.id)"""

  /** Exact Jaccard similarity of the hash lists `d1.vms` and `d2.vms`. */
  val jaccard: String =
    """CAST(len(list_intersect(d1.vms, d2.vms)) AS DOUBLE) /
             (len(d1.vms) + len(d2.vms) - len(list_intersect(d1.vms, d2.vms)))"""

  /** CTEs `edges`, `reach` and `comp(id, component)`: the connected
    * components of the undirected graph of `verified(id1, id2)`, each
    * labelled by its least id (a recursive CTE). */
  val components: String =
    """edges AS (
         SELECT id1 AS a, id2 AS b FROM verified
         UNION SELECT id2, id1 FROM verified),
       reach(a, b) AS (
         SELECT a, b FROM edges
         UNION
         SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
       comp AS (
         SELECT a AS id, LEAST(a, MIN(b)) AS component
         FROM reach GROUP BY a)"""

  // ---- text quality ------------------------------------------------

  private val stopwords = Seq(
    "en" -> "'the','of','and','to','in','a','is','that','it','for'",
    "de" -> "'der','die','das','und','ist','nicht','ein','mit','von','zu'",
    "fr" -> "'le','la','les','de','et','est','un','une','dans','que'")

  /** How many tokens of list `tk` are `lang` stopwords. */
  private def stopwordCount(tk: String, lang: String): String =
    raw"len(list_filter($tk, t -> list_contains([${stopwords.toMap.apply(lang)}], lower(t))))"

  /** The `en`, `de` and `fr` stopword counts of `tk`, as those columns. */
  def langCounts(tk: String): String =
    stopwords.map { case (lang, _) => raw"${stopwordCount(tk, lang)} AS $lang" }
      .mkString(",\n           ")

  /** The language guess from [[langCounts]]: `und` without a stopword,
    * else the language with the most, ties to en, then de. */
  val langGuess: String =
    """CASE WHEN en = 0 AND de = 0 AND fr = 0 THEN 'und'
                WHEN en >= de AND en >= fr THEN 'en'
                WHEN de >= fr THEN 'de'
                ELSE 'fr' END"""

  /** The share of ASCII punctuation characters in non-empty `text`. */
  val punctRatio: String =
    raw"CAST(len(text) - len(regexp_replace(text, '[!-/:-@\[-`{-~]', '', 'g')) AS DOUBLE) / CAST(len(text) AS DOUBLE)"

  /** The share of English stopwords in the non-empty token list `tk`. */
  val stopwordRatio: String =
    raw"CAST(${stopwordCount("tk", "en")} AS DOUBLE) / CAST(len(tk) AS DOUBLE)"

  /** The quality score in [0, 1] of `text` and its tokens `tk`:
    * 0.4·length + 0.3·(1 − 4·punctuation) + 0.3·5·stopwords, each term
    * clamped. */
  val qualityScore: String =
    raw"""least(CAST(len(text) AS DOUBLE) / 500.0, 1.0) * 0.4 +
           greatest(1.0 - (CASE WHEN len(text) > 0 THEN
             $punctRatio
             ELSE 0.0 END) * 4, 0.0) * 0.3 +
           least((CASE WHEN len(tk) > 0 THEN
             $stopwordRatio
             ELSE 0.0 END) * 5, 1.0) * 0.3"""

  // ---- embeddings --------------------------------------------------

  /** CTE `v(vec_id, e)`: the embeddings of `from` as DOUBLE lists. */
  def embeddingVecs(from: String = "embeddings"): String =
    raw"v AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS e FROM $from)"

  /** CTE `fx(vec_id, e, f)`: `v` plus its 20-bit fixed-point elements. */
  val fixedPointVecs: String =
    "fx AS (SELECT vec_id, e, [CAST(round(x * 1048576.0) AS BIGINT) for x in e] AS f FROM v)"

  /** Cosine similarity of the 64-d lists `a` and `b`. */
  def cosine64(a: String, b: String): String =
    raw"""list_sum([$a[i] * $b[i] for i in range(1, 65)]) /
                 (sqrt(list_sum([$a[i] * $a[i] for i in range(1, 65)])) *
                  sqrt(list_sum([$b[i] * $b[i] for i in range(1, 65)])))"""

  /** Cosine similarity of the equal-length lists `a` and `b`. */
  def cosine(a: String, b: String): String =
    raw"""list_sum([$a[i] * $b[i] for i in range(1, len($b)+1)]) /
             (sqrt(list_sum([$a[i] * $a[i] for i in range(1, len($a)+1)])) *
              sqrt(list_sum([$b[i] * $b[i] for i in range(1, len($b)+1)])))"""

  /** Column `r`: the rank of centroid `c` (alias of a `(cent_id, ce)`
    * relation) by cosine to vector `x` within partition `part`, ties to
    * the lower `cent_id`. */
  def centroidRank(part: String, x: String, c: String): String =
    raw"""ROW_NUMBER() OVER (PARTITION BY $part ORDER BY
               ${cosine64(x, raw"$c.ce")} DESC,
               $c.cent_id ASC) AS r"""

  /** CTE `seed(cent_id, ce)`: the first `k` rows of `from` in md5 order of
    * `vec_id`, numbered from 0. */
  def md5Seeds(k: Int, from: String = "v"): String =
    raw"""seed AS (
         SELECT CAST(row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS BIGINT) AS cent_id, e AS ce
         FROM $from ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $k)"""

  /** Lloyd iteration `n` of spherical k-means over `fx` from centroids
    * `prev(cent_id, ce)`: CTE `a<n>` assigns each vector its nearest
    * centroid, `u<n>`..`m<n>` average the fixed-point members exactly,
    * and `c<n>(cent_id, ce)` keeps an empty centroid where it was. */
  def lloydStep(n: Int, prev: String): String = {
    val (p, from) = if (prev == "seed") ("sd", "seed sd") else (prev, prev)
    raw"""a$n AS (
         SELECT vec_id, f, cent_id FROM (
           SELECT fx.vec_id, fx.f, s.cent_id,
             ${centroidRank("fx.vec_id", "fx.e", "s")}
           FROM fx CROSS JOIN $prev s) WHERE r = 1),
       u$n AS (SELECT cent_id, unnest(f) AS xf, unnest(range(1, 65)) AS i FROM a$n),
       s$n AS (SELECT cent_id, i, SUM(xf) AS sf FROM u$n GROUP BY cent_id, i),
       n$n AS (SELECT cent_id, COUNT(*) AS cnt FROM a$n GROUP BY cent_id),
       m$n AS (SELECT s$n.cent_id, list(CAST(sf AS DOUBLE) / cnt / 1048576.0 ORDER BY i) AS ce
              FROM s$n JOIN n$n USING (cent_id) GROUP BY s$n.cent_id),
       c$n AS (SELECT $p.cent_id, COALESCE(m$n.ce, $p.ce) AS ce FROM $from LEFT JOIN m$n USING (cent_id))"""
  }

  /** The final top-`k` by `sim` per `query_id` of `scored`, ties to the
    * lower `corpus_id`. */
  def topBySim(k: Int): String =
    raw"""SELECT query_id, corpus_id, sim, rank FROM (
         SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, corpus_id ASC) AS rank
         FROM scored) WHERE rank <= $k"""

  // ---- near-duplicate and repetition blocks ------------------------

  /** CTEs `toks(doc_id, tk)`, `hashes(doc_id, hs)` — the first 16 md5
    * hex digits of each token — and `simhashed(doc_id, hi, lo)` for the
    * documents with a token: their 64-bit SimHash as two signed BIGINT
    * halves (bits 0..31, 32..63), a bit set when at least half of the
    * token hashes have it. */
  val simhashDocs: String = {
    val halves = Seq("hi" -> 0, "lo" -> 32).map { case (name, lo) =>
      raw"""CAST(list_sum([
             CASE WHEN 2 * list_sum([
                 (${hexDigit("h", "b//4 + 1")}) // CAST(pow(2, 3 - (b % 4)) AS INTEGER) % 2
               for h in hs]) >= len(hs)
             THEN CAST(pow(2, ${lo + 31} - b) AS BIGINT) ELSE 0 END
           for b in range($lo, ${lo + 32})]) AS BIGINT) AS $name"""
    }
    raw"""toks AS (
         SELECT doc_id, ${wsTokens("text")} AS tk FROM documents),
       hashes AS (
         SELECT doc_id, [substr(md5(t), 1, 16) for t in tk] AS hs FROM toks WHERE len(tk) > 0),
       simhashed AS (
         SELECT doc_id,
           ${halves.mkString(",\n           ")}
         FROM hashes)"""
  }

  /** CTEs `zerosh`, `sigs(doc_id, hi, lo)` — [[simhashDocs]] plus a zero
    * fingerprint for token-less documents — and `bands(doc_id, bucket)`:
    * four 16-bit bands, each key tagged with its band number. */
  val simhashBands: String =
    """zerosh AS (
         SELECT doc_id, CAST(0 AS BIGINT) AS hi, CAST(0 AS BIGINT) AS lo
         FROM toks WHERE len(tk) = 0),
       sigs AS (SELECT * FROM simhashed UNION ALL SELECT * FROM zerosh),
       bands AS (
         SELECT doc_id, unnest([
             0 * 4294967296 + hi // 65536,
             1 * 4294967296 + hi % 65536,
             2 * 4294967296 + lo // 65536,
             3 * 4294967296 + lo % 65536]) AS bucket
         FROM sigs)"""

  /** CTEs `tagged`, `bk` and `cand(id1, id2)` for LSH against a corpus:
    * `bands` rows where `incTest` holds are the increment (side `i`),
    * the rest the corpus (`c`); every (increment, corpus) pair sharing a
    * bucket with at most `cap` members per side, else one (min, min)
    * representative pair per bucket. */
  def sidedPairs(incTest: String, cap: Int): String =
    raw"""tagged AS (
         SELECT id, bucket, CASE WHEN $incTest THEN 'i' ELSE 'c' END AS side
         FROM bands),
       bk AS (
         SELECT bucket,
           COUNT(CASE WHEN side = 'i' THEN 1 END) AS ni,
           COUNT(CASE WHEN side = 'c' THEN 1 END) AS nc,
           MIN(CASE WHEN side = 'i' THEN id END) AS min_i,
           MIN(CASE WHEN side = 'c' THEN id END) AS min_c
         FROM tagged GROUP BY bucket
         HAVING COUNT(CASE WHEN side = 'i' THEN 1 END) >= 1
            AND COUNT(CASE WHEN side = 'c' THEN 1 END) >= 1),
       cand AS (
         SELECT a.id AS id1, b.id AS id2
         FROM tagged a JOIN tagged b ON a.bucket = b.bucket
           AND a.side = 'i' AND b.side = 'c'
         JOIN bk ON a.bucket = bk.bucket
         WHERE bk.ni <= $cap AND bk.nc <= $cap
         UNION
         SELECT min_i AS id1, min_c AS id2 FROM bk
         WHERE ni > $cap OR nc > $cap)"""

  /** CTEs `g`, `c`, `sel` and `fh(doc_id, fh)`: the winnowing
    * fingerprints of each document — the minimum of every window of `w`
    * consecutive [[md5Mod]] hashes of its `k`-character substrings. */
  def winnowHashes(k: Int, w: Int): String =
    raw"""g AS (SELECT doc_id, coalesce(text, '') AS t FROM documents),
       c AS (
         SELECT doc_id,
           [ ${md5Mod(raw"substr(t, i, $k)")} * 1048576 + (i - 1)
             for i in range(1, len(t) - $k + 2) ] AS comb
         FROM g WHERE len(t) >= $k),
       sel AS (
         SELECT doc_id, CASE WHEN len(comb) >= $w
           THEN list_distinct([ list_min(comb[s:s+${w - 1}])
                                for s in range(1, len(comb) - $w + 2) ])
           ELSE [list_min(comb)] END AS fps
         FROM c),
       fh AS (
         SELECT DISTINCT doc_id, unnest(fps) // 1048576 AS fh FROM sel)"""

  /** CTE `pos(doc_id, pos, h)`: the md5 of every `w`-character window of
    * the documents (`and` further restricts them). */
  def windowHashes(w: Int, and: String = ""): String =
    raw"""pos AS (
         SELECT doc_id,
           unnest(range(1, len(text)-$w+2)) AS pos,
           unnest([md5(substr(text, i, $w))
                   for i in range(1, len(text)-$w+2)]) AS h
         FROM documents WHERE len(text) >= $w${if (and.isEmpty) "" else " AND " + and})"""

  /** CTEs `b` and `sp(doc_id, pos, sid)`: the duplicated window starts of
    * `dp(doc_id, pos)` grouped into spans `sid` of overlapping or
    * adjacent `w`-character windows. */
  def windowSpans(w: Int): String =
    raw"""b AS (SELECT doc_id, pos,
               CASE WHEN pos > coalesce(max(pos + ${w - 1}) OVER (
                      PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN UNBOUNDED PRECEDING
                      AND 1 PRECEDING) + 1, 0)
                    THEN 1 ELSE 0 END AS brk
             FROM dp),
       sp AS (SELECT doc_id, pos,
                sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS sid
              FROM b)"""

  /** CTEs `tc(doc_id, t, c)`, `nd(doc_id, n)`, `vals`, the [[ilog2Fx]]
    * chain and `sc(doc_id, s)` with `s = Σ c·log2(c)` in fixed point,
    * over the tokens `toks(doc_id, t)`: the parts of each document's
    * token entropy `log2(n) − s/n`. */
  val tokenLogCounts: String =
    raw"""tc AS (SELECT doc_id, t, count(*) AS c FROM toks GROUP BY 1, 2),
       nd AS (SELECT doc_id, sum(c) AS n FROM tc GROUP BY 1),
       vals(v) AS (
         SELECT DISTINCT c FROM tc UNION SELECT DISTINCT n FROM nd),
       ${ilog2Fx()},
       sc AS (SELECT tc.doc_id, sum(tc.c * lgf.fx) AS s
              FROM tc JOIN lgf ON lgf.v = tc.c GROUP BY 1)"""

  /** CTEs `c<i>` and `r<i>`, `i = 1..rounds`: fixed-point PageRank rounds
    * with damping 0.85 over edges `e(u, v)` from ranks `r0(id, r)`. Each
    * node's rank is split evenly over its edges (`deg(u, d)`), or by
    * edge weight `e.w` over `sw(u, s)` when `weighted`; `teleport` is
    * the restart term and `ctx` the one-row relation it reads. */
  def pageRankRounds(rounds: Int, teleport: String, ctx: String = "nn",
      weighted: Boolean = false): String =
    (1 to rounds).map { n =>
      val p = n - 1
      val (share, norm) =
        if (weighted) (raw"(r$p.r * e.w) // sw.s", "sw") else (raw"r$p.r // deg.d", "deg")
      raw"""c$n AS (SELECT e.v AS id, sum($share) AS cs
              FROM e JOIN r$p ON e.u = r$p.id
              JOIN $norm ON $norm.u = e.u GROUP BY 1),
       r$n AS (SELECT nodes.id,
                $teleport
                  + (85 * coalesce(c$n.cs, 0)) // 100 AS r
              FROM nodes LEFT JOIN c$n ON nodes.id = c$n.id, $ctx)"""
    }.mkString(",\n       ")

  /** CTEs `toks`, `tf(doc_id, tok, tf)`, `dl`, `corpus`, `q(query_id,
    * tok)` — the three fixed keyword queries — `df` and `scored`: each
    * (query, doc, term)'s BM25 (k1 = 1.2, b = 0.75) idf and tf factors
    * in 2^20 fixed point, rounded half-up exactly. */
  val bm25Terms: String =
    raw"""toks AS (
         SELECT doc_id,
           unnest(list_filter(string_split_regex(lower(coalesce(text, '')),
             '\s+'), x -> x <> '')) AS tok
         FROM documents),
       tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
       dl AS (
         SELECT doc_id,
           len(list_filter(string_split_regex(lower(coalesce(text, '')),
             '\s+'), x -> x <> '')) AS dl
         FROM documents),
       corpus AS (SELECT count(*) AS n, sum(dl) AS sum_dl FROM dl),
       q(query_id, tok) AS (VALUES
         ('hash_join', 'hash'), ('hash_join', 'join'),
         ('window_stream', 'window'), ('window_stream', 'agg'),
         ('window_stream', 'stream'),
         ('slow_scan', 'slow'), ('slow_scan', 'scan')),
       df AS (
         SELECT tf.tok, count(*) AS df FROM tf
         WHERE tf.tok IN (SELECT tok FROM q) GROUP BY 1),
       scored AS (
         SELECT q.query_id, tf.doc_id,
           (2*(2*c.n - 2*df.df + 1)*1048576 + (2*df.df + 1))
             // (2*(2*df.df + 1)) AS idf_fp,
           (2*(44*tf.tf*c.sum_dl)*1048576
              + (20*tf.tf*c.sum_dl + 6*c.sum_dl + 18*dl.dl*c.n))
             // (2*(20*tf.tf*c.sum_dl + 6*c.sum_dl + 18*dl.dl*c.n)) AS tfc_fp
         FROM q JOIN tf ON q.tok = tf.tok
         JOIN df ON q.tok = df.tok
         JOIN dl ON tf.doc_id = dl.doc_id
         CROSS JOIN corpus c)"""

  /** CTEs `tk`, `bi(doc_id, w1, w2)`, `c12`, `c1`, `vv` and `sc(doc_id,
    * fx)`: each document's word bigrams scored by an add-one bigram model
    * trained on the `doc_id % 10 < 8` split, in 2^20 fixed point. */
  val bigramLm: String =
    raw"""tk AS (
         SELECT doc_id,
           ${wsTokens("coalesce(text, '')")} AS tk
         FROM documents),
       bi AS (
         SELECT doc_id, unnest(tk[1:len(tk)-1]) AS w1,
           unnest(tk[2:len(tk)]) AS w2
         FROM tk WHERE len(tk) >= 2),
       c12 AS (
         SELECT w1, w2, COUNT(*) AS c12 FROM bi
         WHERE doc_id % 10 < 8 GROUP BY w1, w2),
       c1 AS (SELECT w1, SUM(c12) AS c1 FROM c12 GROUP BY w1),
       vv AS (
         SELECT COUNT(DISTINCT w) AS v FROM
           (SELECT unnest(tk) AS w FROM tk WHERE doc_id % 10 < 8)),
       sc AS (
         SELECT b.doc_id,
           ((COALESCE(m.c12, 0) + 1) * 1048576)
             // (COALESCE(c.c1, 0) + (SELECT v FROM vv)) AS fx
         FROM bi b
         LEFT JOIN c12 m ON b.w1 = m.w1 AND b.w2 = m.w2
         LEFT JOIN c1 c ON b.w1 = c.w1)"""

  /** `(id, vec, cent_id)` of each row of relation `rel`: its nearest
    * centroid of `cents(cent_id, ce)` by cosine, or its `top` nearest. */
  def nearestCentroids(rel: String, id: String, vec: String, cents: String,
      top: Int = 1): String =
    raw"""SELECT $id, $vec, cent_id FROM (
           SELECT $rel.$id, $rel.$vec, c.cent_id,
             ${centroidRank(raw"$rel.$id", raw"$rel.$vec", "c")}
           FROM $rel CROSS JOIN $cents c) WHERE ${if (top == 1) "r = 1" else raw"r <= $top"}"""

  /** CTEs `seed(c, ce)` — 16 md5-sampled vectors of `v` — and `cb(s, c,
    * ent)`: the product-quantizer codebook, entry `c` of each of the 8
    * sub-spaces `s` of 8 dimensions. */
  val pqCodebook: String =
    """seed AS (
         SELECT CAST(row_number() OVER (
             ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS INT) AS c,
           e AS ce
         FROM v ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
       cb AS (
         SELECT t.s, seed.c,
           [ce[t.s*8 + j] for j in range(1, 9)] AS ent
         FROM seed CROSS JOIN range(0, 8) t(s))"""

  /** CTE `enc(vec_id, s, ent)`: each `v` vector's nearest codebook entry
    * per sub-space (squared L2, ties to the lower entry). */
  val pqEncode: String =
    """enc AS (
         SELECT vec_id, s, ent FROM (
           SELECT v.vec_id, cb.s, cb.c, cb.ent,
             ROW_NUMBER() OVER (PARTITION BY v.vec_id, cb.s ORDER BY
               list_sum([(v.e[cb.s*8 + j] - cb.ent[j]) *
                         (v.e[cb.s*8 + j] - cb.ent[j])
                         for j in range(1, 9)]) ASC, cb.c ASC) AS r
           FROM v CROSS JOIN cb) WHERE r = 1)"""

  /** CTEs `agg`, `qn` and `scored(query_id, corpus_id, sim)`: the
    * asymmetric cosine of each query to each encoded vector from the
    * per-sub-space `parts(query_id, corpus_id, s, sdot, snorm)`. */
  val pqScores: String =
    """agg AS (
         SELECT query_id, corpus_id,
           list_sum(list(sdot ORDER BY s)) AS dot,
           list_sum(list(snorm ORDER BY s)) AS rnorm2
         FROM parts GROUP BY query_id, corpus_id),
       qn AS (
         SELECT query_id,
           sqrt(list_sum([qe[i]*qe[i] for i in range(1, 65)])) AS qnorm
         FROM q),
       scored AS (
         SELECT a.query_id, a.corpus_id,
           CASE WHEN a.rnorm2 > 0 AND qn.qnorm > 0
                THEN a.dot / (qn.qnorm * sqrt(a.rnorm2)) ELSE 0.0 END AS sim
         FROM agg a JOIN qn USING (query_id))"""

  /** CTEs `planes`, `vx`, `proj` and `sigs(vec_id, t, bucket)`: the
    * sign-random-projection bucket of each 64-d embedding of `from` in
    * each of `tables` tables of `bits` md5-derived integer hyperplanes,
    * on 20-bit fixed-point elements. */
  def srpBuckets(tables: Int, bits: Int, from: String = "embeddings"): String =
    raw"""planes AS (
         SELECT t.t, p.p, d.d,
           ${md5Bigint("'t' || t.t || ':p' || p.p || ':d' || d.d", 8)} - 2147483648 AS w
         FROM (SELECT range AS t FROM range(0,$tables)) t
         CROSS JOIN (SELECT range AS p FROM range(0,$bits)) p
         CROSS JOIN (SELECT range AS d FROM range(0,64)) d),
       vx AS (
         SELECT vec_id, dd.d,
           CAST(round(CAST(embedding[dd.d + 1] AS DOUBLE) * 1048576) AS BIGINT) AS xi
         FROM $from CROSS JOIN (SELECT range AS d FROM range(0,64)) dd),
       proj AS (
         SELECT vec_id, pl.t, pl.p, SUM(vx.xi * pl.w) AS s
         FROM vx JOIN planes pl ON vx.d = pl.d
         GROUP BY vec_id, pl.t, pl.p),
       sigs AS (
         SELECT vec_id, t,
           CAST(t AS VARCHAR) || '|' || string_agg(CASE WHEN s >= 0 THEN '1' ELSE '0' END, '' ORDER BY p) AS bucket
         FROM proj GROUP BY vec_id, t)"""

  // ---- exact value distributions -----------------------------------

  /** CTE `b(g, v)`: each event's value in integer cents, by event type. */
  val eventCents: String =
    """b AS (
         SELECT event_type AS g,
           CAST(CAST(value AS DECIMAL(18,4)) * 100 AS BIGINT) AS v
         FROM events
         WHERE event_type IS NOT NULL AND value IS NOT NULL)"""

  /** CTE `r(g, v, rn, n)`: the 1-based rank of each `b` value within its
    * group and the group size. */
  val rankedCents: String =
    """r AS (
         SELECT g, v,
           ROW_NUMBER() OVER (PARTITION BY g ORDER BY v) AS rn,
           count(*) OVER (PARTITION BY g) AS n
         FROM b)"""

  /** CTEs `va(v, na)`, `vb(v, nb)`, `j(v, na, nb)` and `t(ta, tb)`: the
    * value-in-cents counts of the click and purchase samples on one
    * value axis, with their totals. */
  val clickPurchaseCents: String =
    """va AS (
         SELECT CAST(CAST(value AS DECIMAL(18,4)) * 100 AS BIGINT) AS v,
           count(*) AS na
         FROM events WHERE event_type = 'click' AND value IS NOT NULL
         GROUP BY 1),
       vb AS (
         SELECT CAST(CAST(value AS DECIMAL(18,4)) * 100 AS BIGINT) AS v,
           count(*) AS nb
         FROM events WHERE event_type = 'purchase' AND value IS NOT NULL
         GROUP BY 1),
       j AS (
         SELECT COALESCE(va.v, vb.v) AS v, COALESCE(na, 0) AS na,
           COALESCE(nb, 0) AS nb
         FROM va FULL OUTER JOIN vb ON va.v = vb.v),
       t AS (SELECT sum(na) AS ta, sum(nb) AS tb FROM j)"""

  /** CTEs `posting`, `rare`, `fp`, `sizes(id, nsh)` and
    * `common(id1, id2, common)`: shingle-hash overlaps of the `(id, vms)`
    * CTE `hashed`, counted over the hashes held by at most `maxDf`
    * documents; `suffix` is appended to these CTE names. Without
    * `hashed`, a CTE `hdocs` hashes the shingles of `docs` first. */
  def rareShingleOverlap(maxDf: Int, suffix: String = "",
      hashed: String = ""): String = {
    val (hdocs, from) =
      if (hashed.nonEmpty) ("", hashed)
      else (raw"""hdocs AS (
         SELECT id,
           ${hashSet("shingles")} AS vms
         FROM docs),
       """, "hdocs")
    hdocs + raw"""posting$suffix AS (SELECT id, unnest(vms) AS sh FROM $from),
       rare$suffix AS (SELECT sh FROM posting$suffix GROUP BY sh HAVING COUNT(*) <= $maxDf),
       fp$suffix AS (SELECT id, p.sh FROM posting$suffix p JOIN rare$suffix r ON p.sh = r.sh),
       sizes$suffix AS (SELECT id, COUNT(*) AS nsh FROM fp$suffix GROUP BY id),
       common$suffix AS (
         SELECT a.id AS id1, b.id AS id2, COUNT(*) AS common
         FROM fp$suffix a JOIN fp$suffix b ON a.sh = b.sh AND a.id < b.id
         GROUP BY a.id, b.id)"""
  }

  // ---- URL normalization -------------------------------------------

  /** A synthetic messy URL per document: mixed-case scheme and host,
    * optional `www.`, default port, trailing slash, tracking
    * parameters and fragment, all chosen by `doc_id`. */
  val syntheticUrl: String =
    """'HTTP://' ||
           CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END ||
           source || '.Example.COM' ||
           CASE WHEN doc_id % 2 = 0 THEN ':80' ELSE '' END ||
           '/Docs/' || CAST(doc_id % 56 AS VARCHAR) ||
           CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END ||
           '?utm_source=feed&b=2&a=1' ||
           CASE WHEN doc_id % 5 = 0 THEN '&utm_campaign=x' ELSE '' END ||
           CASE WHEN doc_id % 7 = 0 THEN '#sec-2' ELSE '' END"""

  /** CTEs `p` and `h(<carry>, scheme, hp, pq)` over `u(<carry>, url)`:
    * the lowercased scheme, the lowercased host:port without `www.`, and
    * path + query without the fragment. */
  def urlParts(carry: String): String =
    raw"""p AS (
         SELECT $carry,
           lower(regexp_extract(trim(url),
             '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
           regexp_replace(trim(url),
             '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest
         FROM u),
       h AS (
         SELECT $carry, scheme,
           regexp_replace(lower(regexp_extract(rest, '^([^/?#]*)', 1)),
             '^www\.', '') AS hp,
           regexp_replace(regexp_replace(rest, '^[^/?#]*', ''),
             '#.*$$', '') AS pq
         FROM p)"""

  /** `h` plus `qs`: the query parameters without tracking ones
    * (`utm_*`, `fbclid`, `gclid`, `msclkid`, `ref`), sorted. */
  val urlQuery: String =
    raw"""SELECT *, array_to_string(list_sort(list_filter(
               string_split(regexp_extract(pq, '\?(.*)$$', 1), '&'),
               x -> x <> '' AND NOT regexp_matches(x,
                 '^(utm_[^=]*|fbclid|gclid|msclkid|ref)(=|$$)'))),
             '&') AS qs
           FROM h"""

  /** The canonical URL from `scheme`, `hp`, `pq` and `qs`: default port
    * and trailing slashes dropped. */
  val canonicalUrl: String =
    raw"""scheme || '://' ||
           CASE WHEN scheme = 'http' THEN regexp_replace(hp, ':80$$', '')
                WHEN scheme = 'https' THEN regexp_replace(hp, ':443$$', '')
                ELSE hp END ||
           regexp_replace(regexp_extract(pq, '^([^?]*)', 1), '/+$$', '') ||
           CASE WHEN qs = '' THEN '' ELSE '?' || qs END"""
}
