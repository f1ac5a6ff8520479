package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Operators size their work through [[Width]], not through per-site
  * overrides: library code under operators/streaming/sources/functions
  * may read only the settings listed here. A new `sys.env` or
  * `spark.graft.*` read there fails this suite until it is either
  * removed or deliberately added to the list.
  */
class KnobGuardSpec extends AnyFunSuite {

  private val allowed = Set(
    "SPARK_GRAFT_STATESTORE",          // RocksDB state-store seam
    "SPARK_GRAFT_BPE_MAX_MERGES",      // BPE training budget
    "spark.graft.points.faultTolerant") // persist fallback for pointsOf

  private val dirs =
    Seq("operators", "streaming", "sources", "functions")
      .map(d => Paths.get("src/main/scala/graft", d))

  private val envRead = """sys\.env[^"\n]*(?:"([^"]*)")?""".r
  private val confRead = """spark\.graft\.[A-Za-z0-9_.]+""".r

  /** (file:line, setting) for every env or `spark.graft.` read. */
  private def reads(): Seq[(String, String)] =
    dirs.flatMap { d =>
      assert(Files.isDirectory(d), s"$d not found — run from the repo root")
      Files.walk(d).iterator().asScala
        .filter(_.toString.endsWith(".scala")).toSeq
    }.flatMap { f: Path =>
      Files.readAllLines(f).asScala.zipWithIndex.flatMap { case (line, i) =>
        val keys =
          envRead.findAllMatchIn(line).map(m => Option(m.group(1))
            .getOrElse("sys.env")) ++
          confRead.findAllMatchIn(line).map(_.matched)
        keys.map(k => s"$f:${i + 1}" -> k)
      }
    }

  test("library code reads only the three listed env/spark.graft settings") {
    val found = reads()
    val stray = found.filterNot { case (_, k) => allowed(k) }
    assert(stray.isEmpty, "unlisted setting reads:\n" +
      stray.map { case (at, k) => s"  $at $k" }.mkString("\n"))
    // the scan sees the reads it allows, so it is not scanning nothing
    assert(found.map(_._2).toSet === allowed)
  }
}
