package graft.util

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import scala.jdk.CollectionConverters._

/** The child processes this JVM starts while a block runs, read from an
  * in-process JFR recording with only `jdk.ProcessStart` enabled. A
  * per-file fork (Hadoop's `chmod` without libhadoop) shows up here
  * without an external profiler. The recording sees every thread of the
  * JVM, executor task threads included. */
object ProcessStarts {

  /** `body`'s result and the command line of each process started
    * meanwhile, in start order. */
  def during[A](body: => A): (A, Seq[String]) = {
    val rec = new Recording()
    try {
      rec.enable("jdk.ProcessStart")
      rec.start()
      val out = try body finally rec.stop()
      val file = java.nio.file.Files.createTempFile("graft-process-starts", ".jfr")
      try {
        rec.dump(file)
        val starts = RecordingFile.readAllEvents(file).asScala.toSeq
          .filter(_.getEventType.getName == "jdk.ProcessStart")
          .sortBy(_.getStartTime)
          .map(_.getString("command"))
        (out, starts)
      } finally java.nio.file.Files.deleteIfExists(file)
    } finally rec.close()
  }
}
