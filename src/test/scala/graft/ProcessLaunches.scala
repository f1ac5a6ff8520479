package graft

import java.nio.file.{Files, Paths}
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import scala.jdk.CollectionConverters._

/** Process launches seen by JFR's `jdk.ProcessStart` event (JDK 17, no
  * JVM flags needed). The recording is JVM-wide: a launch from any thread
  * while `body` runs is counted.
  */
object ProcessLaunches {

  /** `body`'s result and the command line of every process launched. */
  def during[A](body: => A): (A, Seq[String]) = {
    val rec = new Recording()
    try {
      rec.enable("jdk.ProcessStart")
      rec.start()
      val out = try body finally rec.stop()
      val f = Files.createTempFile("graft_launches", ".jfr")
      try {
        rec.dump(f)
        (out, RecordingFile.readAllEvents(f).asScala.toSeq
          .map(_.getString("command")))
      } finally Files.deleteIfExists(f)
    } finally rec.close()
  }

  /** The launches Hadoop's local filesystem makes in place of a syscall. */
  def chmodOrReadlink(commands: Seq[String]): Seq[String] =
    commands.filter { c =>
      val program = Paths.get(c.takeWhile(_ != ' ')).getFileName.toString
      program == "chmod" || program == "readlink"
    }
}
