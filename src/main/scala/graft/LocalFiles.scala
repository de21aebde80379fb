package graft

import java.net.URI
import java.nio.file.{FileSystemException, Files, LinkOption, Paths}
import java.nio.file.StandardCopyOption.{ATOMIC_MOVE, REPLACE_EXISTING}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileAlreadyExistsException, FileStatus, FileSystem, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession

/** The engine's `file:` filesystem: Hadoop's local filesystem without its
  * process forks.
  *
  * Without the native libhadoop, Hadoop's `RawLocalFileSystem` forks
  * `chmod` on every file create and mkdirs, and `readlink` on every
  * FileContext rename — a few ms to ~50 ms a file. Every parquet task
  * commit, store append and streaming checkpoint file pays it. [[Raw]]
  * does those calls with java.nio; the checksummed `LocalFileSystem`
  * ([[Checksummed]]) and `ChecksumFs` ([[Fs]]) over it are Hadoop's, so
  * the `.crc` sidecars are Hadoop's own. Spark's default checkpoint file
  * manager writes through [[Fs]], the FileContext twin.
  *
  * [[install]] makes them a session's `file:` filesystem. Builder confs
  * alone are not enough: with no `fs.file.impl`, Hadoop's service loader
  * resolves `file:` to the last registration on the classpath (Hive's
  * `ProxyLocalFileSystem` here), and the `file:` FileSystem is cached per
  * scheme and user, not per conf, as soon as session state exists.
  */
object LocalFiles {

  private val Root = URI.create("file:///")

  private val Impls = Seq(
    "fs.file.impl" -> classOf[Checksummed].getName,
    "fs.AbstractFileSystem.file.impl" -> classOf[Fs].getName)

  /** Makes [[Checksummed]] and [[Fs]] the `file:` filesystems of `spark`'s
    * session and SparkContext, unless either already names one, and drops
    * a `file:` FileSystem cached before. Idempotent: a later call finds
    * both done.
    */
  def install(spark: SparkSession): Unit = synchronized {
    val hadoop = spark.sparkContext.hadoopConfiguration
    for ((key, impl) <- Impls
         if spark.conf.getOption(key).orElse(userValue(hadoop, key)).isEmpty) {
      spark.conf.set(key, impl)
      hadoop.set(key, impl)
    }
    if (hadoop.get("fs.file.impl") == classOf[Checksummed].getName) {
      val cached = FileSystem.get(Root, hadoop)
      if (!cached.isInstanceOf[Checksummed]) {
        cached.close()
        FileSystem.get(Root, hadoop)
      }
    }
  }

  /** `key`'s value in `conf`, unless only Hadoop's defaults supply it. */
  private def userValue(conf: Configuration, key: String): Option[String] =
    Option(conf.getPropertySources(key))
      .filterNot(_.forall(_ == "core-default.xml"))
      .flatMap(_ => Option(conf.get(key)))

  /** `RawLocalFileSystem` with permissions set, existence checked and
    * links told apart through java.nio.
    */
  class Raw extends RawLocalFileSystem {

    // a new file usually has its mode already: a stat, and a chmod only
    // when the mode differs
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else {
        val (file, mode) = (pathToFile(p).toPath, PosixFilePermissions.fromString(permission.toString))
        try if (Files.getPosixFilePermissions(file) != mode) Files.setPosixFilePermissions(file, mode)
        catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
      }

    // without a FileNotFoundException: every create asks twice
    override def exists(f: Path): Boolean = pathToFile(f).exists()

    // a symlink (the engine makes none) keeps Hadoop's readlink
    override def getFileLinkStatus(f: Path): FileStatus =
      if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
      else getFileStatus(f)
  }

  /** Hadoop's checksummed `LocalFileSystem` over [[Raw]]: `fs.file.impl`. */
  class Checksummed extends LocalFileSystem(new Raw)

  /** `RawLocalFs` over [[Raw]]: Hadoop's hard-codes its raw class. */
  class RawFs(uri: URI, conf: Configuration)
      extends DelegateToFileSystem(uri, new Raw, conf, "file", false) {
    // RawLocalFs's own overrides
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }

  /** Hadoop's `ChecksumFs` over [[RawFs]]: `fs.AbstractFileSystem.file.impl`.
    *
    * A rename of a file publishes the data file first and its `.crc`
    * second, each with one java.nio call. Without overwrite the data file
    * is published by a hard link, which fails atomically when the target
    * exists (Hadoop's rename checks for the target and then renames), and
    * a losing writer's hidden temp file (Spark's checkpoint
    * `.<name>.<uuid>.tmp`) is deleted with its `.crc`. With overwrite it
    * is one atomic replacing move. Anything else (a directory, a missing
    * parent, no hard links) takes Hadoop's rename and its errors.
    */
  class Fs(uri: URI, conf: Configuration) extends ChecksumFs(new RawFs(uri, conf)) {

    private def nio(p: Path) = Paths.get(p.toUri.getPath)

    override def renameInternal(src: Path, dst: Path, overwrite: Boolean): Unit =
      if (!Files.isRegularFile(nio(src), LinkOption.NOFOLLOW_LINKS) || !published(src, dst, overwrite))
        super.renameInternal(src, dst, overwrite)
      else {
        val crc = nio(getChecksumFile(src))
        if (Files.exists(crc))
          Files.move(crc, nio(getChecksumFile(dst)), ATOMIC_MOVE, REPLACE_EXISTING)
      }

    /** Publishes data file `src` at `dst`; false where Hadoop's rename must. */
    private def published(src: Path, dst: Path, overwrite: Boolean): Boolean = {
      val done =
        try {
          if (overwrite) Files.move(nio(src), nio(dst), ATOMIC_MOVE, REPLACE_EXISTING)
          else Files.createLink(nio(dst), nio(src))
          true
        } catch {
          case _: java.nio.file.FileAlreadyExistsException if !overwrite =>
            if (src.getName.startsWith(".") && src.getName.endsWith(".tmp")) delete(src, false)
            throw new FileAlreadyExistsException(s"Rename destination $dst already exists.")
          case _: UnsupportedOperationException | _: FileSystemException => false
        }
      if (done && !overwrite) Files.delete(nio(src))
      done
    }
  }
}
