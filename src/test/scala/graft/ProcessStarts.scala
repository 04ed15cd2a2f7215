package graft

import java.nio.file.Files

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile

import scala.jdk.CollectionConverters._

/** The processes this JVM started while a block of code ran, for
  * specs: an in-process flight recording of `jdk.ProcessStart` events
  * (JDK 17). Starts made by other threads meanwhile are counted too. */
object ProcessStarts {

  /** The program name (the first word of the command line, without its
    * directory) of every process started while `block` ran. */
  def during(block: => Unit): Seq[String] = {
    val rec = new Recording()
    val out = Files.createTempFile("graft-process-starts", ".jfr")
    try {
      rec.enable("jdk.ProcessStart")
      rec.start()
      try block finally rec.stop()
      rec.dump(out)
      RecordingFile.readAllEvents(out).asScala.toSeq.map(
        _.getString("command").trim.split("\\s+").head.split('/').last)
    } finally {
      rec.close()
      Files.deleteIfExists(out)
    }
  }
}
