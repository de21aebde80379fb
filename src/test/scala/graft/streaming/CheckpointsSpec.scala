package graft.streaming

import java.net.URI
import java.nio.file.{Files, Path => NioPath}
import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}

import scala.jdk.CollectionConverters._

import graft.{LocalFiles, ProcessStarts, SparkTestSession}
import graft.streaming.broker.BrokerTopic
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, ChecksumException, FileAlreadyExistsException, LocalFileSystem, Path}
import org.apache.hadoop.fs.local.LocalFs
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.checkpointing.{FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** Checkpoint files on [[LocalFiles]]: Spark's default checkpoint file
  * manager writes every checkpoint and state file without starting a
  * process, keeps Spark's atomic-write contract and Hadoop's checksum
  * sidecar, and shares checkpoints with the stock local filesystem in
  * both directions.
  */
class CheckpointsSpec extends AnyFunSuite with SparkTestSession {

  private val FileKey = "fs.file.impl"
  private val AfsKey = "fs.AbstractFileSystem.file.impl"
  private val Root = URI.create("file:///")

  /** `body` with queries started on the fork-free filesystem or on
    * Hadoop's stock one; the session's settings are restored after.
    * Checkpoint files go through the FileContext filesystem, built per
    * query from the session conf.
    */
  private def under[T](forkFree: Boolean)(body: => T): T = {
    LocalFiles.install(spark)
    val prev = Seq(FileKey, AfsKey).map(k => k -> spark.conf.getOption(k))
    if (!forkFree) {
      spark.conf.set(FileKey, classOf[LocalFileSystem].getName)
      spark.conf.set(AfsKey, classOf[LocalFs].getName)
    }
    val fs = AbstractFileSystem.get(Root, spark.sessionState.newHadoopConf()).getClass
    assert(fs == (if (forkFree) classOf[LocalFiles.Fs] else classOf[LocalFs]))
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Spark's default manager on the session's filesystem. */
  private def sparkDefault(dir: NioPath, conf: Configuration = spark.sessionState.newHadoopConf()) =
    new FileContextBasedCheckpointFileManager(new Path(dir.toUri), conf)

  /** The conf of Hadoop's stock checksummed FileContext filesystem. */
  private def stockConf: Configuration = {
    val conf = spark.sessionState.newHadoopConf()
    conf.set(AfsKey, classOf[LocalFs].getName)
    conf
  }

  /** Spark's FileSystem-based manager: its reads verify the `.crc`
    * sidecar (a FileContext read on the local filesystem does not).
    */
  private def verifying(dir: NioPath) =
    new FileSystemBasedCheckpointFileManager(new Path(dir.toUri),
      spark.sessionState.newHadoopConf())

  private def names(dir: NioPath): Set[String] =
    Files.list(dir).iterator().asScala.map(_.getFileName.toString).toSet

  private def read(dir: NioPath, path: Path): Array[Byte] = {
    val in = verifying(dir).open(path)
    try in.readAllBytes() finally in.close()
  }

  test("a stateful query's triggers write checkpoint and state files without starting a process") {
    import OrderedProcessor.Msg
    import spark.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    under(forkFree = true) {
      val input = MemoryStream[Msg]
      val ckpt = Files.createTempDirectory("graft-ckpt-forks-").toString
      val name = s"ckpt_forks_${System.nanoTime()}"
      val query = OrderedProcessor.run(input.toDS(), (_, _) => false, maxAttempts = 5)
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", ckpt).start()
      def trigger(i: Int): Unit = {
        input.addData((0 until 8).map(j => Msg(s"k${j % 4}", 2L * i + j / 4, s"m$i-$j", 0)))
        query.processAllAvailable()
      }
      try {
        // the first trigger creates the state store's directories
        trigger(0)
        val forks = ProcessStarts.hadoop((1 to 3).foreach(trigger))
        assert(forks.isEmpty, s"${forks.size} process starts: ${forks.distinct.take(5)}")
        assert(spark.table(name).count() == 32)
      } finally query.stop()
    }
  }

  test("atomic writes: no-overwrite throws and keeps the old file, overwrite replaces, cancel leaves nothing") {
    LocalFiles.install(spark)
    val dir = Files.createTempDirectory("graft-ckpt-write-")
    val fm = sparkDefault(dir)
    val f = new Path(dir.resolve("0").toUri)
    def write(path: Path, bytes: Array[Byte], overwrite: Boolean): Unit = {
      val out = fm.createAtomic(path, overwrite)
      out.write(bytes)
      out.close()
    }
    // two full 512-byte chunks and a partial one
    val first = Array.tabulate[Byte](1100)(i => (i * 31).toByte)
    write(f, first, overwrite = false)
    assert(names(dir) == Set("0", ".0.crc"))
    assert(read(dir, f).sameElements(first))
    // the sidecar Hadoop's stock filesystem writes for the same bytes
    val ref = Files.createTempDirectory("graft-ckpt-ref-")
    val out0 = sparkDefault(ref, stockConf).createAtomic(new Path(ref.resolve("0").toUri), false)
    out0.write(first)
    out0.close()
    assert(Files.readAllBytes(dir.resolve(".0.crc"))
      .sameElements(Files.readAllBytes(ref.resolve(".0.crc"))))
    val kept = Seq("0", ".0.crc").map(n => Files.readAllBytes(dir.resolve(n)))

    intercept[FileAlreadyExistsException](write(f, Array[Byte](1, 2, 3), overwrite = false))
    assert(names(dir) == Set("0", ".0.crc"))
    assert(Seq("0", ".0.crc").map(n => Files.readAllBytes(dir.resolve(n)))
      .zip(kept).forall { case (a, b) => a.sameElements(b) })

    write(f, Array[Byte](1, 2, 3), overwrite = true)
    assert(read(dir, f).sameElements(Array[Byte](1, 2, 3)))
    assert(names(dir) == Set("0", ".0.crc"))

    val out = fm.createAtomic(new Path(dir.resolve("1").toUri), overwriteIfPossible = false)
    out.write(first)
    out.cancel()
    assert(names(dir) == Set("0", ".0.crc"))
  }

  test("racing no-overwrite writes: exactly one winner per file, and the file holds its bytes") {
    LocalFiles.install(spark)
    val dir = Files.createTempDirectory("graft-ckpt-race-")
    val (writers, targets) = (4, 50)
    val wins = new ConcurrentLinkedQueue[(Int, Int)]()
    def bytes(writer: Int, target: Int) = Array.fill[Byte](700)((writer * 64 + target).toByte)
    val pool = Executors.newFixedThreadPool(writers)
    try {
      val done = (0 until writers).map { w =>
        pool.submit(new Runnable {
          def run(): Unit = {
            val fm = sparkDefault(dir)
            (0 until targets).foreach { t =>
              val out = fm.createAtomic(new Path(dir.resolve(t.toString).toUri), false)
              out.write(bytes(w, t))
              try { out.close(); wins.add((t, w)) }
              catch { case _: FileAlreadyExistsException => () }
            }
          }
        })
      }
      done.foreach(_.get(5, TimeUnit.MINUTES))
    } finally pool.shutdown()
    val winners = wins.asScala.toSeq.groupBy(_._1)
    assert(winners.keySet == (0 until targets).toSet)
    winners.foreach { case (t, ws) =>
      assert(ws.size == 1, s"target $t: writers ${ws.map(_._2)} all won")
      assert(read(dir, new Path(dir.resolve(t.toString).toUri)).sameElements(bytes(ws.head._2, t)))
    }
    assert(names(dir) ==
      (0 until targets).flatMap(t => Seq(s"$t", s".$t.crc")).toSet)
  }

  test("a byte flipped in a committed offsets file fails a checksummed read") {
    import spark.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ckpt = Files.createTempDirectory("graft-ckpt-crc-")
    under(forkFree = true) {
      val input = MemoryStream[Int]
      val query = input.toDS().writeStream.format("noop")
        .option("checkpointLocation", ckpt.toString).start()
      try {
        input.addData(1, 2, 3)
        query.processAllAvailable()
      } finally query.stop()
    }
    val offsets = ckpt.resolve("offsets")
    val file = new Path(offsets.resolve("0").toUri)
    val bytes = Files.readAllBytes(offsets.resolve("0"))
    assert(read(offsets, file).sameElements(bytes))

    bytes(bytes.length / 2) = (bytes(bytes.length / 2) ^ 1).toByte
    Files.write(offsets.resolve("0"), bytes)
    val corrupt = verifying(offsets).open(file)
    try intercept[ChecksumException](corrupt.readAllBytes()) finally corrupt.close()
  }

  /** BrokerSourceSpec's resume across three restarts that alternate the
    * filesystem under Spark's default checkpoint manager, starting on the
    * fork-free one (`firstForkFree`) or on Hadoop's stock one: each run
    * picks up exactly the entries published while it was down.
    */
  private def resumes(firstForkFree: Boolean): Unit = {
    import spark.implicits._
    val topic = BrokerTopic.create(spark, s"ckpt-resume-${System.nanoTime()}",
      Payloads.payloadSchema)
    val ckpt = Files.createTempDirectory("graft-ckpt-resume-").toString
    val seen = new ConcurrentLinkedQueue[String]()
    def run(forkFree: Boolean): Unit = under(forkFree) {
      val q = topic.readStream(admitPerTrigger = 16)
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batch.select("name").collect().foreach(r => seen.add(r.getString(0)))
        }
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    val published = Seq(Seq("a", "b", "c"), Seq("d", "e"), Seq("f"))
    val forkFree = Seq(firstForkFree, !firstForkFree, firstForkFree)
    published.zip(forkFree).zipWithIndex.foreach { case ((names, ff), i) =>
      topic.publishSeed(names.map((_, 0)).toDF("name", "numPublishes"))
      run(ff)
      assert(seen.asScala.toSeq.sorted == published.take(i + 1).flatten,
        s"run $i must resume from the committed offset without reprocessing")
    }
  }

  // "Spark's default" is the manager on Hadoop's stock local filesystem,
  // "the engine's" the same manager on LocalFiles, as install sets it.
  test("a checkpoint written by Spark's default manager resumes under the engine's") {
    resumes(firstForkFree = false)
  }

  test("a checkpoint written by the engine's manager resumes under Spark's default") {
    resumes(firstForkFree = true)
  }

  test("install keeps a file: filesystem the user set, and is idempotent") {
    val users = Seq(FileKey -> classOf[LocalFileSystem].getName,
      AfsKey -> classOf[LocalFs].getName)
    val s = spark.newSession()
    users.foreach { case (k, v) => s.conf.set(k, v) }
    LocalFiles.install(s)
    users.foreach { case (k, v) => assert(s.conf.get(k) == v) }

    val hadoop = spark.sparkContext.hadoopConfiguration
    val saved = users.map { case (k, _) => k -> hadoop.get(k) }
    try {
      users.foreach { case (k, v) => hadoop.set(k, v) }
      val h = spark.newSession()
      LocalFiles.install(h)
      users.foreach { case (k, v) =>
        assert(h.conf.getOption(k).isEmpty)
        assert(hadoop.get(k) == v)
      }
    } finally saved.foreach { case (k, v) => hadoop.set(k, v) }

    val fresh = spark.newSession()
    LocalFiles.install(fresh)
    LocalFiles.install(fresh)
    val conf = fresh.sessionState.newHadoopConf()
    assert(conf.get(FileKey) == classOf[LocalFiles.Checksummed].getName)
    assert(conf.get(AfsKey) == classOf[LocalFiles.Fs].getName)
    assert(org.apache.hadoop.fs.FileSystem.get(Root, conf).isInstanceOf[LocalFiles.Checksummed])
  }
}
