package graft.streaming

import java.nio.file.{Files, Path => NioPath}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.SparkTestSession
import graft.streaming.broker.BrokerTopic
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.fs.{ChecksumException, FileAlreadyExistsException, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.checkpointing.{FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** [[Checkpoints]]: the engine's checkpoint file manager writes every
  * checkpoint and state file without starting a process, keeps Spark's
  * atomic-write contract and Hadoop's checksum sidecar, and shares
  * checkpoints with Spark's default manager in both directions.
  */
class CheckpointsSpec extends AnyFunSuite with SparkTestSession {

  private val Key = "spark.sql.streaming.checkpointFileManagerClass"

  /** `body` with queries started under the engine's manager (`engine`)
    * or Spark's default one; the session's setting is restored after.
    */
  private def under[T](engine: Boolean)(body: => T): T = {
    val prev = spark.conf.getOption(Key)
    spark.conf.unset(Key)
    if (engine) Checkpoints.install(spark)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(Key, v)
      case None => spark.conf.unset(Key)
    }
  }

  /** The commands of the processes Hadoop started during `body`, from
    * JFR (Spark's one-time page-size probe on the heartbeat thread is not
    * the filesystem's).
    */
  private def hadoopProcessStarts(body: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try body finally rec.stop()
    val dump = Files.createTempFile("graft-ckpt-", ".jfr")
    try {
      rec.dump(dump)
      RecordingFile.readAllEvents(dump).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .filter(_.getStackTrace.getFrames.asScala
          .exists(_.getMethod.getType.getName.startsWith("org.apache.hadoop.")))
        .map(_.getString("command"))
    } finally {
      rec.close()
      Files.deleteIfExists(dump)
    }
  }

  private def manager(dir: NioPath) =
    new Checkpoints.Manager(new Path(dir.toUri), spark.sessionState.newHadoopConf())

  private def sparkDefault(dir: NioPath) =
    new FileContextBasedCheckpointFileManager(new Path(dir.toUri),
      spark.sessionState.newHadoopConf())

  /** Spark's FileSystem-based manager: its reads verify the `.crc`
    * sidecar (a FileContext read on the local filesystem does not).
    */
  private def verifying(dir: NioPath) =
    new FileSystemBasedCheckpointFileManager(new Path(dir.toUri),
      spark.sessionState.newHadoopConf())

  private def names(dir: NioPath): Set[String] =
    Files.list(dir).iterator().asScala.map(_.getFileName.toString).toSet

  test("a stateful query's triggers write checkpoint and state files without starting a process") {
    import OrderedProcessor.Msg
    import spark.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    under(engine = true) {
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
        val forks = hadoopProcessStarts((1 to 3).foreach(trigger))
        assert(forks.isEmpty, s"${forks.size} process starts: ${forks.distinct.take(5)}")
        assert(spark.table(name).count() == 32)
      } finally query.stop()
    }
  }

  test("atomic writes: no-overwrite throws and keeps the old file, overwrite replaces, cancel leaves nothing") {
    val dir = Files.createTempDirectory("graft-ckpt-write-")
    val fm = manager(dir)
    val f = new Path(dir.resolve("0").toUri)
    def write(path: Path, bytes: Array[Byte], overwrite: Boolean): Unit = {
      val out = fm.createAtomic(path, overwrite)
      out.write(bytes)
      out.close()
    }
    def read(path: Path): Array[Byte] = {
      val in = verifying(dir).open(path)
      try in.readAllBytes() finally in.close()
    }
    // two full 512-byte chunks and a partial one
    val first = Array.tabulate[Byte](1100)(i => (i * 31).toByte)
    write(f, first, overwrite = false)
    assert(names(dir) == Set("0", ".0.crc"))
    assert(read(f).sameElements(first))
    // the sidecar Spark's default manager writes for the same bytes
    val ref = Files.createTempDirectory("graft-ckpt-ref-")
    val out0 = sparkDefault(ref).createAtomic(new Path(ref.resolve("0").toUri), false)
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
    assert(read(f).sameElements(Array[Byte](1, 2, 3)))
    assert(names(dir) == Set("0", ".0.crc"))

    val out = fm.createAtomic(new Path(dir.resolve("1").toUri), overwriteIfPossible = false)
    out.write(first)
    out.cancel()
    assert(names(dir) == Set("0", ".0.crc"))
  }

  test("a byte flipped in a committed offsets file fails a checksummed read") {
    import spark.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ckpt = Files.createTempDirectory("graft-ckpt-crc-")
    under(engine = true) {
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
    val in = verifying(offsets).open(file)
    try assert(in.readAllBytes().sameElements(bytes)) finally in.close()

    bytes(bytes.length / 2) = (bytes(bytes.length / 2) ^ 1).toByte
    Files.write(offsets.resolve("0"), bytes)
    val corrupt = verifying(offsets).open(file)
    try intercept[ChecksumException](corrupt.readAllBytes()) finally corrupt.close()
  }

  /** BrokerSourceSpec's resume: the second run, under the other
    * manager, picks up exactly the entries published while it was down.
    */
  private def resumes(firstEngine: Boolean): Unit = {
    import spark.implicits._
    val topic = BrokerTopic.create(spark, s"ckpt-resume-${System.nanoTime()}",
      Payloads.payloadSchema)
    val ckpt = Files.createTempDirectory("graft-ckpt-resume-").toString
    val seen = new ConcurrentLinkedQueue[String]()
    def run(engine: Boolean): Unit = under(engine) {
      val q = topic.readStream(admitPerTrigger = 16)
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batch.select("name").collect().foreach(r => seen.add(r.getString(0)))
        }
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    topic.publishSeed(Seq(("a", 0), ("b", 0), ("c", 0)).toDF("name", "numPublishes"))
    run(firstEngine)
    assert(seen.asScala.toSeq.sorted == Seq("a", "b", "c"))
    topic.publishSeed(Seq(("d", 0), ("e", 0)).toDF("name", "numPublishes"))
    run(!firstEngine)
    assert(seen.asScala.toSeq.sorted == Seq("a", "b", "c", "d", "e"),
      "the restart must resume from the committed offset without reprocessing")
  }

  test("a checkpoint written by Spark's default manager resumes under the engine's") {
    resumes(firstEngine = false)
  }

  test("a checkpoint written by the engine's manager resumes under Spark's default") {
    resumes(firstEngine = true)
  }

  test("install keeps a checkpoint file manager the user set") {
    val user = classOf[FileSystemBasedCheckpointFileManager].getName
    val s = spark.newSession()
    s.conf.set(Key, user)
    Checkpoints.install(s)
    assert(s.conf.get(Key) == user)
    val fresh = spark.newSession()
    Checkpoints.install(fresh)
    assert(fresh.conf.get(Key) == classOf[Checkpoints.Manager].getName)
  }
}
