package graft.sources

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{FileAlreadyExistsException, Files}
import java.nio.file.attribute.PosixFilePermission
import java.util

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults, FSLinkResolver, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The stock local filesystem with the subprocess chmod removed.
  *
  * Hadoop's `RawLocalFileSystem` sets permissions on EVERY created file
  * (data file, its .crc sidecar, every committer temp/manifest/
  * properties write). With the native hadoop library unavailable — this
  * environment, and any stock JVM-only deployment — that call falls
  * back to `Shell.execCommand("chmod", ...)`: one forked subprocess per
  * created file. jstack sampling of the commit path (r17 ledger) put
  * ~25-30% of a zero-data CREATE TABLE commit inside those forks.
  *
  * `Files.setPosixFilePermissions` is the same syscall-level operation
  * through the JDK — bit-identical resulting permissions, no fork. This
  * is exactly what Hadoop's own NativeIO fast path does when the native
  * library IS present; registering it costs one config line
  * (`fs.file.impl`) and changes no on-disk artifact. Falls back to the
  * shell path on any filesystem that refuses POSIX views. */
class FastLocalFileSystem
    extends LocalFileSystem(new FastRawLocalFileSystem) {
  /** Rename REFUSES an existing destination file, as the previously
    * registered local FS on this classpath (hive's
    * ProxyLocalFileSystem) did — bare POSIX renameTo would silently
    * replace it. The check and the rename are two steps, so this is no
    * arbiter between racing writers: the commit point uses
    * [[FastLocalFileSystem.publish]]. */
  override def rename(src: Path, dst: Path): Boolean =
    if (isFile(dst)) false else super.rename(src, dst)
}

object FastLocalFileSystem {

  /** Move file `src` to `dst` only if `dst` does not exist, decided
    * atomically: `dst` is created as a hard link to `src` (the link
    * syscall refuses an existing name), then `src` is dropped and its
    * checksum sidecar follows. Of any number of racing publishers of
    * one `dst` exactly one gets true; the others get false and `dst`
    * keeps the winner's bytes. The lake's manifest and tag commit
    * point, on any local filesystem binding. */
  def publish(fs: LocalFileSystem, src: Path, dst: Path): Boolean = {
    try Files.createLink(fs.pathToFile(dst).toPath, fs.pathToFile(src).toPath)
    catch { case _: FileAlreadyExistsException => return false }
    val raw = fs.getRawFileSystem
    val crc = fs.getChecksumFile(src)
    if (raw.exists(crc)) raw.rename(crc, fs.getChecksumFile(dst))
    raw.delete(src, false)
    true
  }
}

/** `FileContext` binding of [[FastLocalFileSystem]], registered as
  * `fs.AbstractFileSystem.file.impl`: stock `LocalFs` wraps the stock
  * `RawLocalFileSystem`, so everything that goes through `FileContext`
  * (Structured Streaming's checkpoint file manager) would still fork
  * `/bin/chmod` per created file and `readlink` per status lookup.
  * Same checksum layer over the fork-free raw filesystem. */
class FastLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new FastRawLocalFs(uri, conf))

/** The raw half of [[FastLocalFs]] — stock `RawLocalFs` with its
  * delegate swapped for [[FastRawLocalFileSystem]]. */
class FastRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new FastRawLocalFileSystem, conf,
      "file", false) {
  override def getUriDefaultPort: Int = -1
  @deprecated("overrides a deprecated Hadoop API", "")
  override def getServerDefaults: FsServerDefaults =
    LocalConfigKeys.getServerDefaults()
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}

class FastRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val bits: Int = permission.toShort.toInt
    // sticky/setuid/setgid bits can't ride Files.setPosixFilePermissions
    // — defer those (never produced by the engine) to the shell path
    if ((bits & ~0x1ff) != 0) { super.setPermission(p, permission); return }
    try {
      val perms = util.EnumSet.noneOf(classOf[PosixFilePermission])
      // PosixFilePermission.values() is OWNER_READ..OTHERS_EXECUTE,
      // matching the rwxrwxrwx bit order from bit 8 down to bit 0
      val all = PosixFilePermission.values()
      var i = 0
      while (i < 9) {
        if ((bits & (1 << (8 - i))) != 0) perms.add(all(i))
        i += 1
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
      ()
    } catch {
      case _: UnsupportedOperationException | _: java.io.IOException =>
        super.setPermission(p, permission)
    }
  }

  /** Stock semantics without the fork: the stock implementation asks
    * `FileUtil.readLink`, which shells out to `readlink` on every call
    * (FileContext renames make several); the JDK reads the link
    * target with the same syscall. A non-link reports its plain
    * status; a link reports the target's attributes with the link
    * target qualified, or an empty status when it dangles. */
  override def getFileLinkStatus(f: Path): FileStatus = {
    val file = pathToFile(f).toPath
    val target =
      if (Files.isSymbolicLink(file)) Files.readSymbolicLink(file).toString
      else ""
    val st =
      try {
        val fs = getFileStatus(f)
        if (target.isEmpty) return fs
        new FileStatus(fs.getLen, false, fs.getReplication,
          fs.getBlockSize, fs.getModificationTime, fs.getAccessTime,
          fs.getPermission, fs.getOwner, fs.getGroup, new Path(target), f)
      } catch {
        case _: FileNotFoundException if target.nonEmpty =>
          new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault,
            "", "", new Path(target), f)
      }
    st.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, st.getPath,
      st.getSymlink))
    st
  }
}
