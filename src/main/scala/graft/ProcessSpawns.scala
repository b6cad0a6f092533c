package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.{RecordedEvent, RecordingFile}

/** Records the OS processes this JVM starts, from construction until
  * [[stop]]: JFR `jdk.ProcessStart` events, each with the stack that
  * started it.
  */
private[graft] final class ProcessSpawns {
  private val rec = new Recording()
  rec.enable("jdk.ProcessStart").withStackTrace()
  rec.start()

  def stop(): Seq[RecordedEvent] = {
    rec.stop()
    val f = Files.createTempFile("graft-spawns", ".jfr")
    try {
      rec.dump(f)
      RecordingFile.readAllEvents(f).asScala.toSeq
    } finally { rec.close(); Files.delete(f) }
  }
}

private[graft] object ProcessSpawns {
  /** Whether the process was started from Hadoop's `fs` package. */
  def fromHadoopFs(e: RecordedEvent): Boolean =
    Option(e.getStackTrace).exists(_.getFrames.asScala
      .exists(_.getMethod.getType.getName.startsWith("org.apache.hadoop.fs.")))
}
