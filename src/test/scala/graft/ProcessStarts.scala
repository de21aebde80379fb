package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile

/** The processes Hadoop code starts while a body runs, from JFR's
  * `jdk.ProcessStart` events. Processes without a Hadoop frame (Spark's
  * one-time page-size probe on the heartbeat thread) are not counted.
  */
object ProcessStarts {

  /** One `command <- caller` per process Hadoop started during `body`;
    * the caller is the innermost Hadoop frame outside `Shell`.
    */
  def hadoop(body: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try body finally rec.stop()
    val dump = Files.createTempFile("graft-forks-", ".jfr")
    try {
      rec.dump(dump)
      RecordingFile.readAllEvents(dump).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .flatMap { e =>
          val hadoop = e.getStackTrace.getFrames.asScala.map(_.getMethod)
            .filter(_.getType.getName.startsWith("org.apache.hadoop."))
          hadoop.find(!_.getType.getName.startsWith("org.apache.hadoop.util.Shell"))
            .orElse(hadoop.headOption)
            .map(m => s"${e.getString("command")} <- ${m.getType.getName}.${m.getName}")
        }
    } finally {
      rec.close()
      Files.deleteIfExists(dump)
    }
  }
}
