package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Operators size their work through [[Width]], not through per-site
  * overrides: library code under operators/streaming/sources/functions
  * may read only the settings listed here. A new `sys.env` or
  * `spark.graft.*` read there fails this suite until it is either
  * removed or deliberately added to the list. Likewise every stream
  * builder gets its reader from `StreamOps.readStream`, which configures
  * the session first.
  */
class KnobGuardSpec extends AnyFunSuite {

  private val allowed = Set(
    "SPARK_GRAFT_STATESTORE",          // RocksDB state-store seam
    "SPARK_GRAFT_BPE_MAX_MERGES",      // BPE training budget
    "spark.graft.points.faultTolerant") // persist fallback for pointsOf

  private val envRead = """sys\.env[^"\n]*(?:"([^"]*)")?""".r
  private val confRead = """spark\.graft\.[A-Za-z0-9_.]+""".r

  /** (file:line, text) for every line of the sources under `names`. */
  private def lines(names: String*): Seq[(String, String)] =
    names.map(d => Paths.get("src/main/scala/graft", d)).flatMap { d =>
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
    lines("operators", "streaming", "sources", "functions").flatMap {
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
    val found = lines("streaming", "sources")
      .filter { case (_, line) => bare.findFirstIn(line).isDefined }
      .map(_._1)
    // the one allowed is the helper's own body
    assert(found.size === 1 && found.head.contains("streaming/StreamOps.scala:"),
      "bare readStream (use StreamOps.readStream):\n" + found.mkString("\n"))
  }
}
