package graft

import java.net.URI
import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FileSystem,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO

/** Hadoop's `file:` filesystem without its child processes.
  *
  * Without the native libhadoop (a stock Spark distribution ships none),
  * Hadoop's `RawLocalFileSystem` forks `chmod` for every permission it
  * sets — every create, every `.crc`, every `mkdirs(path, perm)` — and
  * `readlink` for every `getFileLinkStatus`, several of which each
  * `FileContext.rename` makes. Measured on a 4-core host: create with
  * its `.crc` 7.6 ms, `mkdirs(path, perm)` 3.4 ms, `FileContext.rename`
  * 25 ms, against 0.2 ms for the same write through NIO. A streaming
  * micro-batch commits its offset, commit and source logs through
  * `FileContext` renames, so the forks are a large share of a small
  * batch.
  *
  * [[Raw]] overrides the two forking methods with their NIO equivalents;
  * [[Local]] (`fs.file.impl`) and [[Fs]] (`fs.AbstractFileSystem.file.impl`,
  * the layer `FileContext` and Spark's streaming checkpoint manager use)
  * wrap it exactly as Hadoop's `LocalFileSystem` and `LocalFs` wrap the
  * stock one. [[install]] binds both on a Hadoop configuration;
  * [[SessionTuning.tune]] calls it.
  */
object LocalFs {

  /** Whether the NIO paths apply: no native libhadoop (with it, Hadoop
    * sets permissions in-process itself and the stock code runs) and a
    * default filesystem with a POSIX attribute view.
    */
  private lazy val nioPosix: Boolean =
    !NativeIO.isAvailable && FileSystems.getDefault.supportedFileAttributeViews.contains("posix")

  /** `RawLocalFileSystem` with `setPermission` and `getFileLinkStatus`
    * done in-process. Results are Hadoop's: modes beyond 0777 (sticky,
    * setuid) and symbolic links still go to Hadoop's own code.
    */
  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort.toInt
      if (!nioPosix || (mode & ~0x1ff) != 0) super.setPermission(p, permission)
      else {
        // PosixFilePermission lists OWNER_READ (0400) .. OTHERS_EXECUTE (0001).
        val perms = new java.util.HashSet[PosixFilePermission]
        PosixFilePermission.values.foreach { b =>
          if ((mode & (0x100 >> b.ordinal)) != 0) perms.add(b)
        }
        Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
      }
    }

    /** For a path that is not a symbolic link Hadoop returns
      * `getFileStatus(f)` after a `readlink` that found nothing; a missing
      * path throws `FileNotFoundException` from the same call.
      */
    override def getFileLinkStatus(f: Path): FileStatus =
      if (!nioPosix || Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
      else getFileStatus(f)
  }

  /** The checksummed `FileSystem` over [[Raw]], for `fs.file.impl`. */
  class Local extends LocalFileSystem(new Raw)

  /** Hadoop's `RawLocalFs` over [[Raw]]; its constructors are
    * package-private, so its overrides are repeated here.
    */
  private class RawFs(conf: Configuration) extends DelegateToFileSystem(
      FsConstants.LOCAL_FS_URI, new Raw, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }

  /** The checksummed `AbstractFileSystem` over [[RawFs]], for
    * `fs.AbstractFileSystem.file.impl`. Like Hadoop's `LocalFs` it serves
    * `file:///` whatever URI it is asked for.
    */
  class Fs(uri: URI, conf: Configuration) extends ChecksumFs(new RawFs(conf))

  /** Bind `file:` to [[Local]] and [[Fs]] on `conf`. `FileSystem` caches
    * one instance per scheme for the whole JVM, whichever configuration
    * asked first, so a cached instance of another class is closed (which
    * drops it from the cache) and the new one cached in its place. A
    * second call finds [[Local]] cached and keeps it.
    */
  def install(conf: Configuration): Unit = {
    conf.set("fs.file.impl", classOf[Local].getName)
    conf.set("fs.AbstractFileSystem.file.impl", classOf[Fs].getName)
    val cached = FileSystem.getLocal(conf)
    if (!cached.isInstanceOf[Local]) {
      cached.close()
      FileSystem.getLocal(conf)
    }
  }
}
