package graft

import org.scalatest.funsuite.AnyFunSuite

/** Driver-contract invariants that would otherwise fail silently: a
  * mistyped oracle key records a rows-only check instead of a hash
  * check, and an oracle without a query is dead SQL.
  */
class ContractSpec extends AnyFunSuite {

  // queries that intentionally have no DuckDB oracle — empty since round
  // 3 (q32's decode stubs became md5-derived, so even the multimodal
  // pipeline is hash-checked); keep the escape hatch for future ops
  private val rowsOnly = Set.empty[String]

  test("every query has an oracle unless explicitly rows-only") {
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(missing == rowsOnly, s"queries without oracle: $missing")
  }

  test("no orphaned oracle SQL") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles without queries: $orphans")
  }

  test("catalog names are unique") {
    // a Seq keeps a duplicate name that a Map literal silently dropped
    val dups = SparkEntry.catalog.groupBy(_.name).collect {
      case (name, qs) if qs.size > 1 => name
    }
    assert(dups.isEmpty, s"duplicate catalog names: $dups")
  }

  /** `pattern` matches in the library packages' sources, as
    * "file: match" strings. */
  private def librarySourceHits(pattern: scala.util.matching.Regex)
      : List[String] = {
    import java.nio.file.{Files, Path, Paths}
    import scala.jdk.CollectionConverters._
    val pkgs = Seq("ops", "dedup", "similarity", "streaming", "functions",
      "plans", "pipeline", "tap")
    pkgs.flatMap { pkg =>
      val root = Paths.get("src/main/scala/graft", pkg)
      assert(Files.isDirectory(root), s"missing source dir $root")
      val walk = Files.walk(root)
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala"))
        .flatMap { f: Path =>
          pattern.findAllIn(Files.readString(f)).map(m => s"$f: $m")
        }.toList
      finally walk.close()
    }.toList
  }

  test("library packages read no environment variables") {
    // tuning belongs in explicit parameters; only the Bench/Verify
    // driver contract and SparkEntry's deployment paths read the env
    val offenders = librarySourceHits("sys\\.env|System\\.getenv".r)
    assert(offenders.isEmpty, s"env reads in library code: $offenders")
  }

  test("library operators take no cache/broadcast plan-choice flags") {
    // one plan per operator call: a physical choice is either fixed or
    // made by code that measures its input (Sizing, Spark's size-based
    // join selection), never by a per-caller Boolean
    val offenders = librarySourceHits(
      "\\b(cache|broadcast)[A-Z]\\w*\\s*:\\s*Boolean".r)
    assert(offenders.isEmpty, s"cache/broadcast levers: $offenders")
  }

  /** Text that only the oracle fragment library may hold: each is the
    * signature of one recurring DuckDB piece of `graft.oracle.Fragments`
    * (the md5 hex-digit read, the MinHash hash family, the fixed-point
    * log's squaring step and its integer part). */
  private val fragmentSignatures = Seq(
    "strpos('0123456789abcdef'", "40503 * i", "(x*x) >> 20", "<< e) <=")

  private def source(path: String): String =
    java.nio.file.Files.readString(java.nio.file.Paths.get(path))

  test("oracle fragments are not inlined outside Fragments.scala") {
    val lib = source("src/main/scala/graft/oracle/Fragments.scala")
    val missing = fragmentSignatures.filterNot(lib.contains)
    assert(missing.isEmpty, s"signatures not in Fragments.scala: $missing")
    val entry = source("src/main/scala/graft/SparkEntry.scala")
    val inlined = fragmentSignatures.filter(entry.contains)
    assert(inlined.isEmpty,
      s"SparkEntry.scala inlines oracle fragments (splice graft.oracle." +
        s"Fragments instead): $inlined")
  }

  test("oracle fragments stay independent of graft") {
    import java.nio.file.{Files, Path, Paths}
    import scala.jdk.CollectionConverters._
    def sources(root: String): List[Path] = {
      val walk = Files.walk(Paths.get(root))
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }
    val oracleDir = Paths.get("src/main/scala/graft/oracle")
    val oracleFiles = sources(oracleDir.toString)
    assert(oracleFiles.nonEmpty, s"no sources under $oracleDir")
    // the package clause names graft.oracle itself; any other graft
    // symbol would make the oracle depend on the engine it checks
    val graftRefs = oracleFiles.flatMap { f =>
      "\\bgraft\\.(?!oracle\\b)[A-Za-z_]\\w*".r
        .findAllIn(Files.readString(f)).map(m => s"$f: $m")
    }
    assert(graftRefs.isEmpty, s"oracle code references graft: $graftRefs")
    val users = sources("src/main/scala")
      .filterNot(_.startsWith(oracleDir))
      .filterNot(_.endsWith("SparkEntry.scala"))
      .filter(f => "\\bgraft\\.oracle\\b|\\boracle\\.Fragments\\b".r
        .findFirstIn(Files.readString(f)).isDefined)
    assert(users.isEmpty, s"only SparkEntry may use graft.oracle: $users")
  }

  test("one bucket walk: the capped-aggregate pair helpers stay deleted") {
    // graft.plans.BucketPairs holds the over-cap rule and the bucket
    // metrics of every capped-bucket pair generator; a second grouping
    // path would let them drift apart again
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val helpers = Seq("cappedBucketGroups", "cappedMemberGroups",
      "emitPairs(", "verifyGroupsKernel", "crossSidePairs", "emitCrossPairs",
      "verifyJaccard(", "jaccardBuildParts", "bandBuckets(")
    val walk = Files.walk(Paths.get("src/main/scala"))
    val offenders =
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
        .flatMap { f =>
          val src = Files.readString(f)
          helpers.filter(src.contains).map(h => s"$f: $h")
        }
      finally walk.close()
    assert(offenders.isEmpty, s"deleted pair helpers are back: $offenders")
  }

  test("one fixpoint driver: the graph loops cut and observe only " +
      "through Fixpoint, and their cadence knobs stay deleted") {
    // graft.ops.Fixpoint holds the cut, its cadence and the
    // observe-then-cut read; a loop that cuts on its own drifts from
    // the one cadence and the one exactness note again
    val banned = Seq("localCheckpoint", ".observe(", "lineageCutEvery",
      "cutEveryHalfRounds")
    val offenders = Seq("PageRank", "Hits", "LabelProp", "KCore").flatMap {
      op =>
        val f = s"src/main/scala/graft/ops/$op.scala"
        val src = source(f)
        banned.filter(src.contains).map(b => s"$f: $b")
    }
    assert(offenders.isEmpty, s"loop mechanism outside Fixpoint: $offenders")
  }

  test("one prefix-scan engine: Prefix keeps no persist, cache, " +
      "localCheckpoint or storage level") {
    // both passes read one toRdd of the range exchange, so its one
    // ShuffleDependency is the layout agreement; a materialization
    // here would be a second copy of the data that no caller releases
    val banned = Seq(".persist(", ".cache()", "localCheckpoint",
      "StorageLevel")
    val src = source("src/main/scala/graft/ops/Prefix.scala")
    val offenders = banned.filter(src.contains)
    assert(offenders.isEmpty, s"Prefix materializes its scan: $offenders")
  }

  test("only Sessions.builder sets the shuffle width; nothing pins it " +
      "to a literal") {
    // the session's spark.sql.shuffle.partitions is the one width
    // setting (sized from the cores, or per stream from its input by
    // SparkEntry.runStream); a pinned literal ignores both
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val pinned = ("(?:\"spark\\.sql\\.shuffle\\.partitions\"|" +
      "SHUFFLE_PARTITIONS\\.key)\\s*,\\s*\"?\\d").r
    val walk = Files.walk(Paths.get("src/main/scala"))
    val offenders =
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
        .flatMap { f =>
          pinned.findAllIn(Files.readString(f)).map(m => s"$f: $m")
        }
      finally walk.close()
    assert(offenders.isEmpty, s"shuffle width pinned to a literal: $offenders")
  }

  test("oracle SQL only references fixture tables") {
    val tables = Set("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings",
      "range") // DuckDB's generator table function
    SparkEntry.oracleSql.foreach { case (name, sql) =>
      // the lookbehind skips the null-safe comparison phrase
      // "[IS [NOT]] DISTINCT FROM x" — its FROM is an operator, not a
      // table reference (q185 tripped this)
      val froms = "(?i)(?<!DISTINCT\\s)(?:FROM|JOIN)\\s+([a-z_][a-z0-9_]*)".r
        .findAllMatchIn(sql).map(_.group(1).toLowerCase).toSet
      val unknown = froms -- tables -- extractCteNames(sql)
      assert(unknown.isEmpty, s"$name references unknown tables: $unknown")
    }
  }

  private def extractCteNames(sql: String): Set[String] =
    // WITH [RECURSIVE] name[(col, ...)] AS [MATERIALIZED] (   — and
    // later ", name AS ("; MATERIALIZED is DuckDB's inlining override
    // (q152's 12-round unroll needs it)
    ("(?i)(?:WITH(?:\\s+RECURSIVE)?|,)\\s*([a-z_][a-z0-9_]*)\\s*" +
      "(?:\\([^)]*\\))?\\s+AS\\s*(?:MATERIALIZED\\s*)?\\(").r
      .findAllMatchIn(sql).map(_.group(1).toLowerCase).toSet ++
      // subquery aliases: ") alias" and ") AS alias(cols)"
      "(?i)\\)\\s+(?:AS\\s+)?([a-z_][a-z0-9_]*)".r
        .findAllMatchIn(sql).map(_.group(1).toLowerCase).toSet
}
