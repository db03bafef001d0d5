package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.IntegerType

/** Shared SparkSession defaults for all entry points (Verify, Bench,
  * tests). Centralized so the scan/shuffle configuration that queries rely
  * on (UTC, nanos handling, AQE) is identical everywhere, and so graft's
  * custom Catalyst functions are registered in every session.
  */
object Sessions {

  private def intLit(e: Expression, fn: String, arg: String): Int = e match {
    case Literal(i: Int, IntegerType) => i
    case other => throw new IllegalArgumentException(
      s"$fn '$arg' argument must be an int literal, got $other")
  }

  /** graft's native Catalyst extensions, registered the supported way
    * (SparkSessionExtensions): functions usable from `call_function` and
    * SQL, and the planner strategy of graft's own logical nodes.
    */
  def registerExtensions(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    def inject(name: String, cls: Class[_], arity: Int, signature: String)(
        build: Seq[Expression] => Expression): Unit =
      ext.injectFunction((
        new FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name),
        (children: Seq[Expression]) => {
          require(children.length == arity,
            s"$signature takes exactly $arity argument${if (arity == 1) "" else "s"}")
          build(children)
        }))
    def ints(fn: String, args: Seq[Expression], names: String*): Seq[Int] =
      args.zip(names).map { case (e, n) => intLit(e, fn, n) }

    inject("token_count", classOf[graft.plans.TokenCount], 1,
      "token_count(str)")(c => graft.plans.TokenCount(c.head))
    inject("stopword_ratio", classOf[graft.plans.StopwordRatio], 1,
      "stopword_ratio(str)")(c => graft.plans.StopwordRatio(c.head))
    inject("lang_id", classOf[graft.plans.LangId], 1,
      "lang_id(str)")(c => graft.plans.LangId(c.head))
    inject("c4_rules", classOf[graft.plans.C4Rules], 3,
      "c4_rules(str, minLineWords, minSentences)") { c =>
      val Seq(minLineWords, minSentences) =
        ints("c4_rules", c.tail, "minLineWords", "minSentences")
      graft.plans.C4Rules(c.head, minLineWords, minSentences)
    }
    val gopherArgs = Seq("minWords", "maxWords", "minMeanWordLen",
      "maxMeanWordLen", "symbolNum", "symbolDen", "bulletNum", "bulletDen",
      "ellipsisNum", "ellipsisDen", "alphaNum", "alphaDen", "minStopwordHits")
    inject("gopher_rules", classOf[graft.plans.GopherRules],
      1 + gopherArgs.length,
      gopherArgs.mkString("gopher_rules(str, ", ", ", ")")) { c =>
      val p = ints("gopher_rules", c.tail, gopherArgs: _*)
      graft.plans.GopherRules(c.head, graft.plans.GopherParams(
        p(0), p(1), p(2), p(3), p(4), p(5), p(6), p(7), p(8), p(9), p(10),
        p(11), p(12)))
    }
    inject("collect_list_capped", classOf[graft.plans.CollectListCapped], 2,
      "collect_list_capped(expr, cap)") { c =>
      graft.plans.CollectListCapped(
        c.head, intLit(c(1), "collect_list_capped", "cap"))
    }
    inject("nfc_normalize", classOf[graft.plans.NfcNormalize], 1,
      "nfc_normalize(str)")(c => graft.plans.NfcNormalize(c.head))
    inject("topk_by", classOf[graft.plans.TopKByScore], 3,
      "topk_by(id, score, k)") { c =>
      graft.plans.TopKByScore(
        c(0),
        org.apache.spark.sql.catalyst.expressions.Cast(
          c(1), org.apache.spark.sql.types.DoubleType),
        intLit(c(2), "topk_by", "k"))
    }
    inject("minhash_shingles", classOf[graft.plans.MinhashShingles], 2,
      "minhash_shingles(text, k)") { c =>
      graft.plans.MinhashShingles(c.head, intLit(c(1), "minhash_shingles", "k"))
    }
    inject("minhash_band_keys", classOf[graft.plans.MinhashBandKeys], 3,
      "minhash_band_keys(vms, numHashes, bands)") { c =>
      val Seq(numHashes, bands) =
        ints("minhash_band_keys", c.tail, "numHashes", "bands")
      graft.plans.MinhashBandKeys(c.head, numHashes, bands)
    }
    ext.injectPlannerStrategy(_ => graft.plans.BucketPairsStrategy)
  }

  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      // events.ts is parquet TIMESTAMP(NANOS); Spark 4 otherwise refuses it
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // bucketed tables (Tap.writeBucketed) land here, not in the cwd
      .config("spark.sql.warehouse.dir",
        sys.props.getOrElse("java.io.tmpdir", "/tmp") + "/graft-warehouse")
      // ObjectHashAggregate (collect_list/_capped, typed buffers) falls
      // back to SORT-based aggregation after this many distinct keys per
      // partition; the default (128) turns every posting-list grouping
      // into a full sort. This is a PER-TASK heap budget and every core
      // runs a task: a posting-list buffer costs ~200 B of object
      // overhead even at df=1, so 2^18 keys ~ 50 MB/task ~ 1.6 GiB at
      // 32 cores. The earlier 2^20 setting OOM'd the x100 ladder's
      // 35M-distinct-shingle grouping (ObjectAggregationIterator
      // allocates the WHOLE map before the fallback check fires) —
      // past the threshold, sort-based aggregation spills properly,
      // which is the correct regime for key counts that outgrow memory.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        (1 << 18).toString)
      // A terminated streaming query's state-store providers (and their
      // in-heap version maps — the stream-stream join holds both sides)
      // are only unloaded by the maintenance sweep, default every 60 s:
      // in a session that runs many short streaming queries (the bench
      // suite, any orchestrated pipeline), up to a minute of DEAD state
      // stays pinned per query, charged as GC pressure to whatever runs
      // next. 15 s bounds that lingering 4× tighter; for the queries
      // themselves the sweep is a no-op (they run seconds, snapshots
      // barely ever fire mid-run).
      .config("spark.sql.streaming.stateStore.maintenanceInterval", "15s")
      // `file:` paths through Hadoop's local filesystem minus its chmod/
      // readlink/ls forks (graft.tap.ForkFreeRawLocalFileSystem), for
      // FileSystem and FileContext callers alike. Hadoop caches one
      // FileSystem per scheme and user, whatever the conf: a `file:`
      // instance created in this JVM before the session keeps serving.
      .config("spark.hadoop.fs.file.impl",
        classOf[graft.tap.ForkFreeLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        classOf[graft.tap.ForkFreeLocalFs].getName)
      .withExtensions(registerExtensions)
}
