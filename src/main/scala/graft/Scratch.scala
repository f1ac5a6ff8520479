package graft

import java.io.File
import java.util.UUID

/** The one lifetime of the files a run writes for itself: every scratch
  * path lives under one per-JVM root, `java.io.tmpdir/graft_scratch_<uuid>`,
  * which one shutdown hook removes at exit. The root's own UUID keeps a
  * concurrent JVM's live files safe, and commons-io's `deleteDirectory`
  * does not follow symlinks. Nothing is deleted per query: returned
  * frames read their files lazily, and memo assets are reused across
  * queries.
  */
object Scratch {

  lazy val root: String = {
    val dir = new File(sys.props("java.io.tmpdir"), s"graft_scratch_${UUID.randomUUID()}")
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      try org.apache.commons.io.FileUtils.deleteDirectory(dir)
      catch { case scala.util.control.NonFatal(_) => () }))
    dir.toString
  }

  /** A fresh `<root>/<kind>/<uuid>`, not yet created: a writer that
    * refuses an existing path can write to it directly. */
  def dir(kind: String): String = s"$root/$kind/${UUID.randomUUID()}"
}
