package graft.tap

import graft.SparkSpec
import graft.pipeline.Fs
import java.net.URI
import java.nio.file.{Files, Paths}
import java.util.EnumSet
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileStatus, FileSystem, LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._
import scala.util.Try

/** [[ForkFreeRawLocalFileSystem]] against Hadoop's stock `LocalFileSystem`
  * / `LocalFs`: every test runs the same operations once on each, in its
  * own fresh temp dir, and compares what lands on disk and what the API
  * returns (paths normalized to the dir, times left out).
  */
class LocalFsSpec extends SparkSpec {

  private val localRoot = URI.create("file:///")
  private val implKeys = Seq("fs.file.impl", "fs.AbstractFileSystem.file.impl")

  /** Hadoop's stock local classes, or the ones the session is wired with.
    * (Stock is named explicitly: left to the service loader, `file:`
    * resolves to whichever jar registers it last — with Spark's Hive
    * jars on the classpath, Hive's `ProxyLocalFileSystem`.) */
  private def conf(forkFree: Boolean, umask: String): Configuration = {
    val c = new Configuration()
    c.set("fs.permissions.umask-mode", umask)
    val impls =
      if (forkFree) implKeys.map(spark.sparkContext.hadoopConfiguration.get)
      else Seq(classOf[LocalFileSystem].getName, "org.apache.hadoop.fs.local.LocalFs")
    implKeys.zip(impls).foreach { case (k, v) => c.set(k, v) }
    c
  }

  private def deleteTree(p: java.nio.file.Path): Unit = {
    val walk = Files.walk(p)
    try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
      .forEach(f => Files.deleteIfExists(f))
    finally walk.close()
  }

  /** `op(fs, fc, dir, path)` on stock Hadoop, then fork-free; `path(n)` is
    * `n` under the run's own temp dir `dir`. Every string in the result
    * has `dir` replaced by "<dir>". */
  private def both[A](umask: String = "022")(
      op: (FileSystem, FileContext, java.nio.file.Path, String => Path) => A)
      : (String, String) = {
    def run(forkFree: Boolean): String = {
      val c = conf(forkFree, umask)
      val dir = Files.createTempDirectory("graft-localfs")
      val fs = FileSystem.newInstance(localRoot, c)
      val fc = FileContext.getFileContext(localRoot, c)
      try op(fs, fc, dir, n => new Path(dir.toString, n)).toString
        .replace(dir.toString, "<dir>")
      finally { fs.close(); deleteTree(dir) }
    }
    (run(forkFree = false), run(forkFree = true))
  }

  private def mode(p: java.nio.file.Path): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  /** Octal mode of every entry under `dir`, by relative path. */
  private def modes(dir: java.nio.file.Path): Seq[String] = {
    val walk = Files.walk(dir)
    try walk.iterator().asScala.filter(_ != dir).toSeq
      .map(p => f"${dir.relativize(p)} ${mode(p)}%o").sorted
    finally walk.close()
  }

  private def describe(s: FileStatus): String =
    Seq(s.getPath.getName, s.isFile, s.isDirectory, s.isSymlink,
      if (s.isSymlink) s.getSymlink else "-", s.getLen, s.getPermission,
      s.getPermission.getStickyBit, s.getOwner, s.getGroup).mkString(" ")

  private def outcome[A](a: => A): String =
    Try(a).fold(e => "threw " + e.getClass.getSimpleName, _.toString)

  test("sessions resolve file: to the fork-free classes, for FileSystem " +
      "and FileContext alike") {
    val hc = spark.sparkContext.hadoopConfiguration
    assert(new Path("file:/tmp").getFileSystem(hc)
      .isInstanceOf[ForkFreeLocalFileSystem])
    assert(FileContext.getFileContext(localRoot, hc).getDefaultFileSystem
      .isInstanceOf[ForkFreeLocalFs])
  }

  test("mode bits after create, nested mkdirs, setPermission and " +
      "FileContext create/mkdir equal stock, umask applied") {
    for ((umask, file, dir) <- Seq(("022", "644", "755"), ("077", "600", "700"))) {
      val (stock, ours) = both(umask) { (fs, fc, dir, p) =>
        fs.create(p("f")).close()
        fs.create(p("g"), new FsPermission("777"), true, 4096, 1.toShort,
          1L << 25, null).close()
        assert(fs.mkdirs(p("a/b/c")))
        assert(fs.mkdirs(p("m"), new FsPermission("777")))
        fs.create(p("h")).close()
        fs.setPermission(p("h"), new FsPermission("640"))
        fc.mkdir(p("x/y"), new FsPermission("777"), true)
        fc.create(p("x/y/z"), EnumSet.of(CreateFlag.CREATE),
          Options.CreateOpts.perms(new FsPermission("666"))).close()
        modes(dir)
      }
      assert(ours == stock)
      val got = ours.stripPrefix("List(").stripSuffix(")").split(", ")
        .map(_.split(' ')).map(a => a(0) -> a(1)).toMap
      Seq("f", ".f.crc", "x/y/z").foreach(n => assert(got(n) == file, n))
      // "g" asked for 777, so it ends with a directory's bits
      Seq("g", "a", "a/b", "a/b/c", "m", "x", "x/y").foreach(n => assert(got(n) == dir, n))
      assert(got("h") == "640" && got(".h.crc") == "640")
    }
  }

  test("Fs.chmod sets the same bits on a file and its .crc as stock " +
      "setPermission") {
    val dir = Files.createTempDirectory("graft-localfs-chmod")
    try {
      val stock = FileSystem.newInstance(localRoot, conf(false, "022"))
      Seq("s", "o").foreach(n => Files.writeString(dir.resolve(n), n))
      Seq("s", "o").foreach(n => Files.writeString(dir.resolve(s".$n.crc"), n))
      stock.setPermission(new Path(dir.toString, "s"), new FsPermission("751"))
      Fs.chmod(spark, dir.resolve("o").toString, "751")
      for (n <- Seq("%s", ".%s.crc")) {
        assert(mode(dir.resolve(n.format("o"))) == mode(dir.resolve(n.format("s"))))
        assert(mode(dir.resolve(n.format("o"))) == Integer.parseInt("751", 8))
      }
      stock.close()
    } finally deleteTree(dir)
  }

  test("a mode with the sticky bit falls back to Hadoop's chmod and " +
      "reads back with the sticky bit") {
    val (stock, ours) = both() { (fs, _, dir, p) =>
      assert(fs.mkdirs(p("t")))
      fs.setPermission(p("t"), new FsPermission(Integer.parseInt("1777", 8).toShort))
      val st = fs.getFileStatus(p("t"))
      (f"${mode(dir.resolve("t"))}%o", st.getPermission, st.getPermission.getStickyBit)
    }
    assert(ours == stock)
    assert(ours == "(1777,rwxrwxrwt,true)")
  }

  test("getFileLinkStatus on a file, a directory, a live and a dangling " +
      "symlink equals stock (FileSystem and FileContext, bare and " +
      "qualified paths)") {
    val (stock, ours) = both() { (fs, fc, dir, p) =>
      Files.writeString(dir.resolve("file"), "abc")
      Files.createDirectory(dir.resolve("dir"))
      Files.createSymbolicLink(dir.resolve("live"), dir.resolve("file"))
      Files.createSymbolicLink(dir.resolve("dangling"), dir.resolve("gone"))
      for {
        n <- Seq("file", "dir", "live", "dangling", "absent")
        path <- Seq(p(n), fs.makeQualified(p(n)))
        (api, get) <- Seq[(String, Path => FileStatus)](
          "fs" -> fs.getFileLinkStatus, "fc" -> fc.getFileLinkStatus)
      } yield s"$api $path: ${outcome(describe(get(path)))}"
    }
    assert(ours == stock)
    assert(ours.contains("fs <dir>/file: file true false false - 3"))
    assert(ours.contains("fs <dir>/absent: threw FileNotFoundException"))
  }

  test("FileContext.rename with and without OVERWRITE equals stock, " +
      "including the error on an existing destination, and moves the .crc") {
    val (stock, ours) = both() { (_, fc, dir, p) =>
      def put(n: String, text: String): Unit = {
        val out = fc.create(p(n), EnumSet.of(CreateFlag.CREATE))
        try out.write(text.getBytes("UTF-8")) finally out.close()
      }
      put("src", "one")
      put("dst", "two")
      val steps = Seq(
        outcome(fc.rename(p("src"), p("new"))),
        outcome(fc.rename(p("new"), p("dst"))),
        outcome(fc.rename(p("new"), p("dst"), Options.Rename.NONE)),
        outcome(fc.rename(p("new"), p("dst"), Options.Rename.OVERWRITE)))
      (steps, modes(dir).map(_.split(' ').head),
        Files.readString(dir.resolve("dst")))
    }
    assert(ours == stock)
    assert(ours == "(List((), threw FileAlreadyExistsException, " +
      "threw FileAlreadyExistsException, ()),List(.dst.crc, dst),one)")
  }

  test("permission, owner and group of getFileStatus, listStatus and " +
      "listFiles entries equal stock") {
    val (stock, ours) = both() { (fs, fc, dir, p) =>
      fs.create(p("d/plain")).close()
      fs.create(p("d/private")).close()
      fs.setPermission(p("d/private"), new FsPermission("600"))
      assert(fs.mkdirs(p("d/sub")))
      fs.create(p("d/sub/leaf")).close()
      fs.setPermission(p("d/sub"), new FsPermission(Integer.parseInt("1750", 8).toShort))
      val files = fs.listFiles(p("d"), true)
      val listed = Iterator.continually(files).takeWhile(_.hasNext).map(_.next())
      (Seq("d", "d/plain", "d/private", "d/sub").map(n => describe(fs.getFileStatus(p(n)))) ++
        Seq(describe(fc.getFileStatus(p("d/private")))) ++
        fs.listStatus(p("d")).map(describe).sorted ++
        listed.map(describe).toSeq.sorted).mkString("\n")
    }
    assert(ours == stock)
    val user = System.getProperty("user.name")
    assert(ours.contains(s"private true false false - 0 rw------- false $user"))
    assert(ours.contains(s"sub false true false - "))
    assert(ours.contains("rwxr-x--T true"))
  }

  test(".crc sidecars are still written next to tap data files and " +
      "streaming state deltas") {
    val dir = Files.createTempDirectory("graft-localfs-crc")
    try {
      val t = Tap.parquet(dir.resolve("tap").toString)
      t.write(spark.range(0, 100, 1, 2).toDF())
      val parts = Option(dir.resolve("tap").toFile.list()).toSeq.flatten
      val data = parts.filter(n => n.startsWith("part-") && n.endsWith(".parquet"))
      assert(data.size == 2)
      data.foreach(n => assert(parts.contains(s".$n.crc"), n))

      val in = dir.resolve("in").toString
      spark.range(0, 30).write.parquet(in)
      val ckpt = dir.resolve("ckpt")
      val q = spark.readStream.schema("id BIGINT").parquet(in)
        .groupBy((col("id") % 3).as("k")).count()
        .writeStream.outputMode("complete").format("memory")
        .queryName("localfsspec_state")
        .option("checkpointLocation", ckpt.toString).start()
      try q.processAllAvailable() finally q.stop()
      spark.catalog.dropTempView("localfsspec_state")
      val walk = Files.walk(ckpt)
      val names = try walk.iterator().asScala.map(ckpt.relativize(_).toString).toSeq
        finally walk.close()
      val deltas = names.filter(_.endsWith(".delta"))
      val commits = names.filter(n => n.matches("(offsets|commits)/\\d+"))
      assert(deltas.nonEmpty && commits.nonEmpty)
      (deltas ++ commits).foreach { n =>
        val f = Paths.get(n)
        val sidecar = Option(f.getParent).fold(Paths.get(s".${f.getFileName}.crc"))(
          _.resolve(s".${f.getFileName}.crc")).toString
        assert(names.contains(sidecar), n)
      }
    } finally deleteTree(dir)
  }
}
