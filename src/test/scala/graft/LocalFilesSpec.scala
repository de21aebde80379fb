package graft

import java.nio.file.{Files, Path => NioPath}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import graft.operators.Scratch
import graft.sources.Bucketed
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.local.LocalFs
import org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager
import org.scalatest.funsuite.AnyFunSuite

/** [[LocalFiles]]: batch writes on the installed `file:` filesystem start
  * no process, and leave the file and directory modes Hadoop's stock
  * local filesystem leaves.
  */
class LocalFilesSpec extends AnyFunSuite with SparkTestSession {

  test("a scratch flush, a bucketed append and a compaction start no process") {
    LocalFiles.install(spark)
    val table = s"local_files_forks_${System.nanoTime()}"
    val df = spark.range(0, 400).selectExpr("id % 40 as k", "id as v")
    // the table's first write also runs Hadoop's one-off probes
    Bucketed.write(df, table, 4, "k")
    try {
      val forks = ProcessStarts.hadoop {
        assert(Scratch.flush(spark, table, df).count() == 400)
        df.write.bucketBy(4, "k").sortBy("k").mode("append").saveAsTable(table)
        Bucketed.compact(spark, table, 4, "k")
      }
      assert(forks.isEmpty, s"${forks.size} process starts: ${forks.distinct.take(5)}")
      assert(spark.table(table).count() == 800)
    } finally {
      Scratch.release(table)
      Bucketed.dropStale(spark, table)
    }
  }

  /** Relative path (ids masked) -> mode of everything under `root`. */
  private def modes(root: NioPath): Map[String, String] =
    Files.walk(root).iterator().asScala.filter(_ != root).map { p =>
      root.relativize(p).toString.replaceAll("[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}", "<id>") ->
        PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
    }.toMap

  /** A parquet write, a checkpoint file and a mkdirs under a 077 umask,
    * on the `file:` filesystems `impl` and `afs` (uncached, so the conf's
    * umask and classes hold).
    */
  private def written(impl: String, afs: String): Map[String, String] = {
    val root = Files.createTempDirectory("graft-modes-")
    val s = spark.newSession()
    Seq("fs.permissions.umask-mode" -> "077", "fs.file.impl" -> impl,
      "fs.file.impl.disable.cache" -> "true", "fs.AbstractFileSystem.file.impl" -> afs)
      .foreach { case (k, v) => s.conf.set(k, v) }
    s.range(0, 10).write.parquet(root.resolve("parquet").toString)
    val conf = s.sessionState.newHadoopConf()
    val ckpt = new FileContextBasedCheckpointFileManager(new Path(root.toUri), conf)
    ckpt.mkdirs(new Path(root.resolve("offsets").toUri))
    val out = ckpt.createAtomic(new Path(root.resolve("offsets/0").toUri), false)
    out.write(Array[Byte](1, 2, 3))
    out.close()
    val fs = FileSystem.get(root.toUri, conf)
    try {
      assert(fs.getClass.getName == impl)
      fs.mkdirs(new Path(root.resolve("dir/sub").toUri))
    } finally fs.close()
    modes(root)
  }

  test("file and directory modes under a 077 umask match Hadoop's stock filesystem") {
    val stock = written(classOf[LocalFileSystem].getName, classOf[LocalFs].getName)
    val forkFree = written(classOf[LocalFiles.Checksummed].getName, classOf[LocalFiles.Fs].getName)
    assert(forkFree == stock)
    // the umask reached every file and directory (not the JVM's own)
    assert(stock.values.toSet == Set("rw-------", "rwx------"))
    assert(Seq("parquet", "parquet/_SUCCESS", "offsets", "offsets/0", "offsets/.0.crc",
      "dir", "dir/sub").forall(stock.contains))
  }
}
