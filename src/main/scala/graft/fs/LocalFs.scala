package graft.fs

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import java.nio.file.attribute.PosixFilePermission._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local FileSystem without its two shell-outs.
  *
  * Spark ships without `libhadoop`, so the stock `RawLocalFileSystem` forks
  * `chmod` for every `setPermission` (twice per created file: the data file
  * and its `.crc`) and `readlink` for every `getFileLinkStatus` (eight per
  * `FileContext` rename of a streaming checkpoint or state-store commit).
  * A fork costs milliseconds; a partitioned lake write makes hundreds.
  * Both calls are answered here through `java.nio` with the stock
  * semantics, and anything `java.nio` cannot express goes to the stock
  * method.
  */
class RawLocalFs extends RawLocalFileSystem {

  /** The 9 mode bits as `chmod` sets them (following a symlink, as `chmod`
    * does). The sticky bit and non-POSIX stores take the stock path. */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else
      try Files.setPosixFilePermissions(pathToFile(p).toPath,
        RawLocalFs.posix(permission.toShort))
      catch {
        case _: UnsupportedOperationException =>
          super.setPermission(p, permission)
      }

  /** For a path that is not a symlink the stock method's `readlink` finds
    * no target and it returns `getFileStatus(f)`, which this returns
    * directly (a missing path throws `FileNotFoundException` there, as in
    * the stock method). A real symlink takes the stock path. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object RawLocalFs {
  /** `chmod` bit order: bit 0 is others-execute, bit 8 owner-read. */
  private val Bits = Array(OTHERS_EXECUTE, OTHERS_WRITE, OTHERS_READ,
    GROUP_EXECUTE, GROUP_WRITE, GROUP_READ, OWNER_EXECUTE, OWNER_WRITE,
    OWNER_READ)

  private def posix(mode: Short): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    for (i <- Bits.indices if (mode & (1 << i)) != 0) s.add(Bits(i))
    s
  }
}

/** The checksummed local FileSystem (`fs.file.impl`) over [[RawLocalFs]];
  * `.crc` sidecars and checksum verification are the stock ones. */
class LocalFs extends LocalFileSystem(new RawLocalFs)

/** The local `AbstractFileSystem` (`fs.AbstractFileSystem.file.impl`) that
  * `FileContext` uses, over [[RawLocalFs]]. Hadoop's `local.LocalFs`
  * builds its own stock `RawLocalFileSystem`, so `FileContext` needs this
  * class to reach the fork-free one. The delegate carries the four
  * overrides of Hadoop's `local.RawLocalFs`. */
class LocalAfs(uri: URI, conf: Configuration)
    extends ChecksumFs(LocalAfs.raw(uri, conf))

object LocalAfs {
  private def raw(uri: URI, conf: Configuration): AbstractFileSystem =
    new DelegateToFileSystem(uri, new RawLocalFs, conf,
        FsConstants.LOCAL_FS_URI.getScheme, false) {
      override def getUriDefaultPort: Int = -1
      override def getServerDefaults(f: Path): FsServerDefaults =
        LocalConfigKeys.getServerDefaults()
      @deprecated("FileContext calls getServerDefaults(Path)", "Hadoop 2.9")
      override def getServerDefaults(): FsServerDefaults =
        LocalConfigKeys.getServerDefaults()
      override def isValidName(src: String): Boolean = true
    }
}

object LocalFs {
  /** (key, Hadoop's default, graft's class) for the local scheme. */
  private val Keys = Seq(
    ("fs.file.impl", classOf[LocalFileSystem].getName, classOf[LocalFs].getName),
    ("fs.AbstractFileSystem.file.impl",
      classOf[org.apache.hadoop.fs.local.LocalFs].getName,
      classOf[LocalAfs].getName))

  /** Point the local scheme of `conf` at graft's FileSystems, key by key,
    * where the deployment left the key unset or at Hadoop's default. It
    * takes effect for FileSystems created from `conf` afterwards: Hadoop
    * caches the `file://` instance on first use. */
  def install(conf: Configuration): Unit =
    Keys.foreach { case (key, stock, ours) =>
      val cur = conf.get(key)
      if (cur == null || cur == stock) conf.set(key, ours)
    }
}
