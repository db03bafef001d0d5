package graft.tap

import java.io.{DataOutput, File, IOException}
import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.{GroupPrincipal, PosixFilePermissions, UserPrincipal}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw `file:` filesystem minus its process spawns.
  *
  * Without `libhadoop.so`, Hadoop's `RawLocalFileSystem` forks a
  * process for three calls: `chmod` in `setPermission` (so on every
  * `create` and `mkdirs`), `readlink` in `getFileLinkStatus` (both ends
  * of every `FileContext.rename`, which is how Spark commits streaming
  * offsets, commits and state deltas), and `ls -ld` the first time a
  * status's permission, owner or group is read. Each is a fixed
  * per-file cost — a stream-stream join's state store paid thousands of
  * them per run. Only those three change; every other call, and every
  * result, is Hadoop's own:
  *
  *  - `setPermission` sets the (already umasked) nine mode bits with
  *    `Files.setPosixFilePermissions`; a mode with the sticky bit, which
  *    that API cannot express, still goes to `chmod`.
  *  - `getFileLinkStatus` returns `getFileStatus` unless the path is a
  *    symbolic link. Hadoop's `readlink` gets the qualified `file:/…`
  *    string, which names no file, so for every non-link it returned ""
  *    and fell through to `getFileStatus` the same way; real links still
  *    go to Hadoop.
  *  - statuses from `getFileStatus`/`listStatus` load permission (sticky
  *    bit included), owner and group lazily from one `unix:` attribute
  *    read of the link-resolved file, which is what `ls -ld` printed.
  *
  * Pinned against the stock classes by `LocalFsSpec`; `ForkGuardSpec`
  * checks that no `org.apache.hadoop.fs` frame starts a process.
  */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath,
      PosixFilePermissions.fromString(permission.toString))

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)

  override def getFileStatus(f: Path): FileStatus =
    withAttributes(super.getFileStatus(f))

  override def listStatus(f: Path): Array[FileStatus] =
    super.listStatus(f).map(withAttributes)

  private def withAttributes(s: FileStatus): FileStatus = s match {
    case done: UnixAttributeStatus => done
    case _ => new UnixAttributeStatus(s, pathToFile(s.getPath))
  }
}

/** `s` with permission, owner and group read on first use from `file`'s
  * `unix:` attributes — the full st_mode, where the POSIX view would
  * drop the sticky bit — following links as `ls -ld` on the canonical
  * path did; like Hadoop's own status, an unreadable file surfaces as a
  * RuntimeException at that first read. */
private final class UnixAttributeStatus(s: FileStatus, file: File)
    extends FileStatus(s.getLen, s.isDirectory, s.getReplication.toInt,
      s.getBlockSize, s.getModificationTime, s.getAccessTime,
      null, null, null, s.getPath) {

  private var loaded = false

  private def load(): Unit = synchronized {
    if (!loaded) {
      val a = try Files.readAttributes(file.toPath, "unix:mode,owner,group")
        catch {
          case e: IOException => throw new RuntimeException(
            s"Error reading the permissions of $file", e)
        }
      setPermission(new FsPermission(
        (a.get("mode").asInstanceOf[Int] & 0x3ff).toShort))
      setOwner(a.get("owner").asInstanceOf[UserPrincipal].getName)
      setGroup(a.get("group").asInstanceOf[GroupPrincipal].getName)
      loaded = true
    }
  }

  override def getPermission: FsPermission = { load(); super.getPermission }
  override def getOwner: String = { load(); super.getOwner }
  override def getGroup: String = { load(); super.getGroup }
  override def write(out: DataOutput): Unit = { load(); super.write(out) }
}

/** Hadoop's checksummed `LocalFileSystem` (`.crc` sidecars kept) over
  * [[ForkFreeRawLocalFileSystem]]; `Sessions.builder` installs it as
  * `fs.file.impl`. */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** The `FileContext` side (`fs.AbstractFileSystem.file.impl`), through
  * which Spark's `FileContextBasedCheckpointFileManager` writes and
  * renames streaming checkpoints: Hadoop's `LocalFs` — a `ChecksumFs`
  * over `RawLocalFs` — with [[ForkFreeRawLocalFileSystem]] underneath. */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForkFreeRawLocalFs(uri, conf)) {
  def this(conf: Configuration) = this(FsConstants.LOCAL_FS_URI, conf)
}

/** Hadoop's `RawLocalFs` (whose constructors are package-private),
  * delegating to [[ForkFreeRawLocalFileSystem]]. */
private[tap] class ForkFreeRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new ForkFreeRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}
