package graft.engine

import java.net.URI
import java.nio.file.{Files, attribute}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FileSystem, FsConstants, FsServerDefaults, LocalFileSystem, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession

/** The local filesystem without process launches.
  *
  * Without Hadoop's native library (the `NativeCodeLoader: Unable to load
  * native-hadoop library` WARN), stock [[RawLocalFileSystem]] sets every
  * mode by forking `chmod`: once per file it creates (and once more for
  * the file's `.crc`) and once per directory level `mkdirs` makes. Its
  * `getFileLinkStatus`, which every `FileSystem.rename` with options and
  * every FileContext rename calls on both sides, forks `readlink`. Each
  * launch costs about 4 ms; a `query_mix` pass made about 390 of them, a
  * `star_etl` pass about 230.
  *
  * This subclass sets the same umask-applied bits with
  * `Files.setPosixFilePermissions`, and answers `getFileLinkStatus` of a
  * path that is not a symbolic link with `getFileStatus`, which is what
  * stock returns once its `readlink` reads "not a link" (on the qualified
  * `file:/...` string it is given, `readlink` always fails and reads so,
  * links included). Symbolic links, mode bits
  * NIO cannot express (sticky, setuid, setgid) and file stores without
  * POSIX attributes go to `super`. Bytes, names, modes and `.crc`
  * sidecars are those of stock: the checksummed wrappers below wrap this
  * class exactly as Hadoop's wrap the stock one.
  *
  * [[install]] (run by [[Tables.bootstrap]]) makes it the `file` scheme
  * for both of Hadoop's local entry points. Never construct a stock
  * `RawLocalFileSystem` or `LocalFileSystem` directly. */
class LocalFs extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val bits = permission.toShort.toInt
    if ((bits & ~0x1ff) != 0) super.setPermission(p, permission)
    else try Files.setPosixFilePermissions(pathToFile(p).toPath, LocalFs.posix(bits))
    catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object LocalFs {

  /** `fs.file.impl`: the checksummed `FileSystem` over [[LocalFs]], with
    * the rename rule of the class Spark's jars register for `file` (Hive
    * 2.3's `ProxyLocalFileSystem`, a [[LocalFileSystem]] whose rename onto
    * an existing file returns false instead of replacing it; the
    * VersionedTable manifest publish counts on that refusal). */
  final class Checked extends LocalFileSystem(new LocalFs) {
    override def rename(src: Path, dst: Path): Boolean = {
      val dstIsFile = try getFileStatus(dst).isFile
        catch { case _: java.io.FileNotFoundException => false }
      !dstIsFile && super.rename(src, dst)
    }
  }

  /** `fs.AbstractFileSystem.file.impl`: the FileContext side (Spark's
    * streaming checkpoint manager), as Hadoop's `local.LocalFs` =
    * `ChecksumFs` over `local.RawLocalFs`, whose constructors are
    * package-private and build the stock raw class. Hadoop instantiates
    * it by its (URI, Configuration) constructor; like Hadoop's, it is
    * rooted at `file:///` whatever the URI. One visible difference:
    * Spark's `CheckpointFileManager.isLocal` matches Hadoop's class names
    * and reads false here; nothing in Spark 4.1 acts on it. */
  final class Context(uri: URI, conf: Configuration)
      extends ChecksumFs(new RawContext(conf))

  /** Hadoop's `local.RawLocalFs` over [[LocalFs]]. */
  private final class RawContext(conf: Configuration)
      extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new LocalFs, conf,
        FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getServerDefaults(f: Path): FsServerDefaults =
      LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }

  /** The Hadoop keys [[install]] sets, with the classes it sets them to. */
  val Impls: Seq[(String, String)] = Seq(
    "fs.file.impl" -> classOf[Checked].getName,
    "fs.AbstractFileSystem.file.impl" -> classOf[Context].getName)

  /** Make [[LocalFs]] the `file` scheme of `spark`: both keys on the
    * context's Hadoop conf and on the session conf (which every per-query
    * Hadoop conf, and so every task's, copies), then drop the `file`
    * FileSystem session start already cached and cache the new class in
    * its place. A key the SparkConf names (`spark.hadoop.<key>` or the
    * bare key) is left alone. */
  def install(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    val unnamed = Impls.filterNot { case (k, _) =>
      sc.getConf.contains(k) || sc.getConf.contains(s"spark.hadoop.$k")
    }
    if (unnamed.nonEmpty) {
      for ((k, v) <- unnamed) {
        sc.hadoopConfiguration.set(k, v)
        spark.sessionState.conf.setConfString(k, v)
      }
      FileSystem.getLocal(sc.hadoopConfiguration).close()
      FileSystem.getLocal(sc.hadoopConfiguration)
    }
  }

  private val Perms = {
    import attribute.PosixFilePermission._
    Array(OTHERS_EXECUTE, OTHERS_WRITE, OTHERS_READ, GROUP_EXECUTE,
      GROUP_WRITE, GROUP_READ, OWNER_EXECUTE, OWNER_WRITE, OWNER_READ)
  }

  /** The permission set of the low nine mode bits `bits`. */
  private def posix(bits: Int): java.util.Set[attribute.PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[attribute.PosixFilePermission])
    for (i <- Perms.indices if (bits & (1 << i)) != 0) s.add(Perms(i))
    s
  }
}
