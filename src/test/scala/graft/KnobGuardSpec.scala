package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Operators size their work through [[Width]], not through per-site
  * overrides: library code under operators/streaming/sources/functions
  * may read only the settings listed here. A new `sys.env` or
  * `spark.graft.*` read there fails this suite until it is either
  * removed or deliberately added to the list. Likewise every stream
  * builder gets its reader from `StreamOps.readStream`, which configures
  * the session first, every drain runs through StreamOps' one runner,
  * every scratch path comes from [[Scratch]], every main gets its
  * session from `Run.session`, and only [[graft.io.LocalFs]] names a
  * `file:` filesystem class.
  */
class KnobGuardSpec extends AnyFunSuite {

  private val allowed = Set(
    "SPARK_GRAFT_STATESTORE",          // RocksDB state-store seam
    "SPARK_GRAFT_BPE_MAX_MERGES",      // BPE training budget
    "spark.graft.points.faultTolerant") // persist fallback for pointsOf

  private val envRead = """sys\.env[^"\n]*(?:"([^"]*)")?""".r
  private val confRead = """spark\.graft\.[A-Za-z0-9_.]+""".r

  /** (file:line, text) for every line of the sources under `names`,
    * relative to src/main/scala. */
  private def lines(names: String*): Seq[(String, String)] =
    names.map(d => Paths.get("src/main/scala", d)).flatMap { d =>
      assert(Files.isDirectory(d), s"$d not found — run from the repo root")
      Files.walk(d).iterator().asScala
        .filter(_.toString.endsWith(".scala")).toSeq
    }.flatMap { f: Path =>
      Files.readAllLines(f).asScala.zipWithIndex.map { case (line, i) =>
        s"$f:${i + 1}" -> line
      }
    }

  /** (file:line, setting) for every env or `spark.graft.` read. */
  private def reads(): Seq[(String, String)] =
    lines("graft/operators", "graft/streaming", "graft/sources",
          "graft/functions").flatMap {
      case (at, line) =>
        val keys =
          envRead.findAllMatchIn(line).map(m => Option(m.group(1))
            .getOrElse("sys.env")) ++
          confRead.findAllMatchIn(line).map(_.matched)
        keys.map(at -> _)
    }

  test("library code reads only the three listed env/spark.graft settings") {
    val found = reads()
    val stray = found.filterNot { case (_, k) => allowed(k) }
    assert(stray.isEmpty, "unlisted setting reads:\n" +
      stray.map { case (at, k) => s"  $at $k" }.mkString("\n"))
    // the scan sees the reads it allows, so it is not scanning nothing
    assert(found.map(_._2).toSet === allowed)
  }

  test("stream builders start from StreamOps.readStream, never a bare " +
       "SparkSession.readStream") {
    // `x.readStream` not followed by `(`: the session member, not the helper
    val bare = """\.readStream\b(?!\s*\()""".r
    val found = lines("graft/streaming", "graft/sources")
      .filter { case (_, line) => bare.findFirstIn(line).isDefined }
      .map(_._1)
    // the one allowed is the helper's own body
    assert(found.size === 1 && found.head.contains("streaming/StreamOps.scala:"),
      "bare readStream (use StreamOps.readStream):\n" + found.mkString("\n"))
  }

  test("streams drain through StreamOps' one runner: streaming/ and " +
       "sources/ hold a single awaitTermination") {
    val found = lines("graft/streaming", "graft/sources")
      .filter { case (_, line) => line.contains(".awaitTermination(") }
      .map(_._1)
    assert(found.size === 1 && found.head.contains("streaming/StreamOps.scala:"),
      "drains outside StreamOps' runner:\n" + found.mkString("\n"))
  }

  test("src/main reads java.io.tmpdir only in Scratch and the two staging " +
       "caches and the BUCKET_NAME fallback") {
    val found = lines("graft", "org")
      .filter { case (_, line) => line.contains("\"java.io.tmpdir\"") }
      .map(_._1)
    val files = found.map(at => at.substring(0, at.indexOf(".scala:")))
    assert(files.sorted === Seq("Scratch", "sources/GraftShards",
        "streaming/StreamConfig", "streaming/StreamOps")
        .map(f => s"src/main/scala/graft/$f"),
      "java.io.tmpdir reads (use Scratch.dir):\n" + found.mkString("\n"))
  }

  test("only graft/io/LocalFs names a file: filesystem implementation " +
       "(fs.file.impl, fs.AbstractFileSystem.file.impl)") {
    val keys = Seq("fs.file.impl", "fs.AbstractFileSystem.file.impl")
    val files = Files.walk(Paths.get("src/main"))
    val found = try files.iterator().asScala.filter(Files.isRegularFile(_)).toSeq
      .filter { f => val text = new String(Files.readAllBytes(f), UTF_8)
        keys.exists(text.contains) }
      .map(_.toString)
    finally files.close()
    assert(found === Seq("src/main/scala/graft/io/LocalFs.scala"),
      "file: filesystem named outside LocalFs (use LocalFs.install or " +
      "LocalFs.writeOptions):\n" + found.mkString("\n"))
  }

  test("every main builds its session through Run.session, the one " +
       "session builder in src/main") {
    val builder = """SparkSession\s*\.\s*builder\b""".r
    val found = lines("graft", "org")
      .filter { case (_, line) => builder.findFirstIn(line).isDefined }
      .map(_._1)
    assert(found.size === 1 && found.head.contains("graft/Run.scala:"),
      "session builders outside Run.session:\n" + found.mkString("\n"))
  }
}
