package graft.streaming

import java.io.{BufferedOutputStream, ByteArrayOutputStream, DataOutputStream, IOException, OutputStream}
import java.nio.file.{Files, FileSystemException, Path => NioPath, Paths, StandardCopyOption, StandardOpenOption}
import java.util.UUID
import java.util.zip.CRC32

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
import org.apache.hadoop.fs.local.LocalFs
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream
import org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager

/** The one owner of the engine's checkpoint-file policy.
  *
  * Every micro-batch writes an offsets file before its epoch and a
  * commits file after it, and a stateful query also writes its state
  * store's delta files. Without the native libhadoop, Hadoop's local
  * filesystem forks `chmod` on every file create and `readlink` on every
  * rename — about 50 ms a checkpoint file, most of a short trigger.
  * [[Manager]] writes those files with java.nio instead; [[install]]
  * makes it the session's checkpoint file manager. Every engine site
  * that starts a query calls [[install]] before `start()`.
  */
object Checkpoints {

  private val ManagerKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** Makes [[Manager]] the checkpoint file manager of every query `spark`
    * starts from now on, unless the session already names one.
    */
  def install(spark: SparkSession): Unit =
    if (spark.conf.getOption(ManagerKey).isEmpty)
      spark.conf.set(ManagerKey, classOf[Manager].getName)

  /** Spark's FileContext-based manager with a fork-free [[createAtomic]]
    * on the checksummed local filesystem. The file and its Hadoop `.crc`
    * sidecar are written to temp names (Spark's `.<name>.<uuid>.tmp`),
    * then published data first and `.crc` second, each by one rename, the
    * order Hadoop's rename uses. The sidecar is the one Hadoop writes for
    * the same bytes, so a reader through Hadoop's `FileSystem` API
    * verifies it. Without `overwriteIfPossible` the data is published by
    * a hard link, which fails atomically when the target exists (on a
    * filesystem without hard links: Hadoop's exists check, then the
    * rename); that throws Hadoop's `FileAlreadyExistsException`, the
    * signal the offset and commit logs read as a concurrent writer.
    * Reads, lists, deletes, mkdirs and every other filesystem stay
    * Spark's code.
    */
  final class Manager(root: Path, conf: Configuration)
      extends FileContextBasedCheckpointFileManager(root, conf) {

    private val checksummedLocal = fc.getDefaultFileSystem.isInstanceOf[LocalFs]

    override def createAtomic(path: Path, overwriteIfPossible: Boolean)
        : CancellableFSDataOutputStream =
      if (!checksummedLocal) super.createAtomic(path, overwriteIfPossible)
      else {
        val target = Paths.get(fc.makeQualified(path).toUri)
        Files.createDirectories(target.getParent)
        val temp = target.resolveSibling(s".${target.getFileName}.${UUID.randomUUID}.tmp")
        new AtomicLocalStream(new ChecksummedFile(temp), target, overwriteIfPossible)
      }
  }

  /** The Hadoop sidecar of `file`: `.<name>.crc` beside it. */
  private def crcOf(file: NioPath): NioPath =
    file.resolveSibling(s".${file.getFileName}.crc")

  /** `file`'s bytes, with the ChecksumFileSystem sidecar kept alongside:
    * `crc\0`, the bytes per sum, then one CRC32 per 512-byte chunk (the
    * last one partial).
    */
  private final class ChecksummedFile(val file: NioPath) extends OutputStream {
    private val BytesPerSum = 512
    private val out = new BufferedOutputStream(
      Files.newOutputStream(file, StandardOpenOption.CREATE_NEW), 65536)
    private val crc = new CRC32
    private var inChunk = 0
    private val sumBytes = new ByteArrayOutputStream
    private val sums = new DataOutputStream(sumBytes)
    sums.writeBytes("crc\u0000")
    sums.writeInt(BytesPerSum)

    override def write(b: Int): Unit = write(Array(b.toByte), 0, 1)

    override def write(b: Array[Byte], off: Int, len: Int): Unit = {
      out.write(b, off, len)
      var at = off
      while (at < off + len) {
        val n = math.min(off + len - at, BytesPerSum - inChunk)
        crc.update(b, at, n)
        at += n
        inChunk += n
        if (inChunk == BytesPerSum) endChunk()
      }
    }

    private def endChunk(): Unit = {
      sums.writeInt(crc.getValue.toInt)
      crc.reset()
      inChunk = 0
    }

    /** Closes the data file and writes its sidecar. */
    override def close(): Unit = {
      out.close()
      if (inChunk > 0) endChunk()
      Files.write(crcOf(file), sumBytes.toByteArray, StandardOpenOption.CREATE_NEW)
    }
  }

  private final class AtomicLocalStream(temp: ChecksummedFile, target: NioPath,
      overwrite: Boolean) extends CancellableFSDataOutputStream(temp) {

    @volatile private var terminated = false

    override def close(): Unit = synchronized {
      if (!terminated) {
        terminated = true
        try {
          temp.close()
          publish()
          Files.move(crcOf(temp.file), crcOf(target),
            StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
        } finally removeTemp()
      }
    }

    private def publish(): Unit =
      if (overwrite)
        Files.move(temp.file, target, StandardCopyOption.ATOMIC_MOVE,
          StandardCopyOption.REPLACE_EXISTING)
      else
        try Files.createLink(target, temp.file)
        catch {
          case _: java.nio.file.FileAlreadyExistsException => exists()
          // no hard links here: Hadoop's own check, then rename
          case _: UnsupportedOperationException | _: FileSystemException =>
            if (Files.exists(target)) exists()
            Files.move(temp.file, target, StandardCopyOption.ATOMIC_MOVE)
        }

    private def exists(): Nothing =
      throw new FileAlreadyExistsException(s"$target already exists")

    override def cancel(): Unit = synchronized {
      if (!terminated) {
        terminated = true
        try temp.close() catch { case _: IOException => () }
        removeTemp()
      }
    }

    private def removeTemp(): Unit = {
      Files.deleteIfExists(temp.file)
      Files.deleteIfExists(crcOf(temp.file))
    }
  }
}
