package graft.lake

import java.net.URI
import java.nio.file.{Files, StandardCopyOption}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession

/** The local `file:` file system without child processes.
  *
  * Without libhadoop (`NativeIO.isAvailable() == false`) Hadoop's
  * `RawLocalFileSystem.setPermission` runs `chmod` in a child process, and
  * every `create` and `mkdirs` calls it: 5–12 ms per file on a commit path
  * that touches dozens. This file system sets the same `FsPermission`
  * through `java.nio` instead, so files stay 0644 and directories 0755
  * under the default 022 umask (the sticky bit, which local Hadoop writes
  * never ask for, is not settable this way and is dropped).
  *
  * [[LakeTable]] runs all its own `file:` I/O through it and hands it to the
  * Spark writes it launches, unless the Hadoop conf already names a `file:`
  * file system: an explicitly configured one (an instrumented or
  * fault-injecting file system) keeps seeing every lake operation. */
class LocalFs extends LocalFileSystem(new LocalFs.Raw)

object LocalFs {
  private val Impl = "fs.file.impl"

  /** Keys that map `file:` to [[LocalFs]] in a Hadoop conf. The cache is
    * bypassed because Hadoop caches file systems by scheme, not class: a
    * cached stock `LocalFileSystem` would otherwise be handed back. */
  private val FileSystemKeys = Map(
    Impl -> classOf[LocalFs].getName,
    s"$Impl.disable.cache" -> "true")

  /** Does `conf` name its own `file:` file system? */
  private def named(conf: Configuration): Boolean =
    Option(conf.getTrimmed(Impl)).exists(_.nonEmpty)

  /** `conf`, or a copy of it whose `file:` FileSystem and FileContext both
    * run on [[LocalFs]] when `conf` names no `file:` file system itself. */
  def configure(conf: Configuration): Configuration =
    if (named(conf)) conf
    else {
      val c = new Configuration(conf)
      FileSystemKeys.foreach { case (k, v) => c.set(k, v) }
      c.set("fs.AbstractFileSystem.file.impl", classOf[Afs].getName)
      c
    }

  /** Writer options that put a Spark write's committer and tasks on
    * [[LocalFs]]: Spark merges writer options into the write job's Hadoop
    * conf, so nothing session-wide changes. Empty when the session names
    * its own `file:` file system. */
  def writerOptions(spark: SparkSession): Map[String, String] =
    if (named(spark.sparkContext.hadoopConfiguration) || spark.conf.getOption(Impl).isDefined)
      Map.empty
    else FileSystemKeys

  /** The raw layer: `chmod` through `java.nio`. */
  final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val bits = permission.toShort
      val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      // declared order OWNER_READ … OTHERS_EXECUTE is the mode's bit 8 … bit 0
      PosixFilePermission.values.zipWithIndex.foreach { case (pp, i) =>
        if ((bits & (1 << (8 - i))) != 0) perms.add(pp)
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
    }
  }

  /** `file:` for `FileContext`: checksummed like Hadoop's own local
    * `AbstractFileSystem`, over [[Raw]]. */
  final class Afs(uri: URI, conf: Configuration) extends ChecksumFs(new RawAfs(uri, conf))

  /** An overwrite-rename is one POSIX `rename(2)`: the destination is
    * replaced atomically. The inherited default probes both ends with
    * `getFileLinkStatus` (`readlink` and `ls -ld` child processes) and then
    * deletes the destination before renaming, leaving a window in which it
    * is missing. */
  final class RawAfs(uri: URI, conf: Configuration)
      extends DelegateToFileSystem(uri, new Raw, conf, "file", false) {
    override def renameInternal(src: Path, dst: Path, overwrite: Boolean): Unit =
      if (!overwrite) super.renameInternal(src, dst, overwrite)
      else {
        val raw = fsImpl.asInstanceOf[Raw]
        Files.move(raw.pathToFile(src).toPath, raw.pathToFile(dst).toPath,
          StandardCopyOption.ATOMIC_MOVE)
      }
  }
}
