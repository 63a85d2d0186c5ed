package graft.runtime

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Every environment variable and JVM property the main code reads is
  * listed here: a new knob (or a removed one) fails this spec until the
  * allow-list below changes with it, so it shows up in review as a
  * one-line diff. */
class KnobCensusSpec extends AnyFunSuite {

  /** "file under src/main/scala/graft: knob name" */
  private val allowed = Set(
    "Bench.scala: SPARK_GRAFT_BENCH_ONLY",
    "Bench.scala: SPARK_GRAFT_BENCH_OUT",
    "Bench.scala: SPARK_GRAFT_BENCH_REPS",
    "Bench.scala: SPARK_GRAFT_CPUS",
    "Bench.scala: SPARK_GRAFT_SF_DIR",
    "Verify.scala: SPARK_GRAFT_CPUS",
    "cli/LumpWaysDownMain.scala: SPARK_GRAFT_CPUS",
    "cli/LumpWaysMain.scala: SPARK_GRAFT_CPUS",
    "graph/ConnectedComponents.scala: SPARK_GRAFT_CC_LOCAL_MAX",
    "graph/Local.scala: graft.maxLocalGroupRows",
    "runtime/Sessions.scala: SPARK_GRAFT_LOCAL_DIR",
    "tools/ExplainQuery.scala: SPARK_GRAFT_CPUS",
    "tools/ExplainQuery.scala: SPARK_GRAFT_SF_DIR",
    "tools/ExplainQuery.scala: SPARK_GRAFT_SHUFFLE",
    "tools/MakeFixtureInput.scala: SPARK_GRAFT_SCALE_WAYS")

  test("src/main reads only the allow-listed env vars and JVM properties") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root (cwd ${Paths.get("").toAbsolutePath})")
    // a read, then the first string literal within the next 80 chars
    // (the knob's name); a read with no literal name counts as "?"
    val read = ("sys\\.env|sys\\.props|System\\.getProperty|System\\.getenv").r
    val name = "\"([^\"]*)\"".r
    val found = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList
      .flatMap { p =>
        val src = Files.readString(p)
        val file = p.toString.split("/graft/", 2).last
        read.findAllMatchIn(src).map { m =>
          val knob = name.findFirstMatchIn(src.slice(m.end, m.end + 80))
            .map(_.group(1)).getOrElse("?")
          s"$file: $knob"
        }
      }.toSet
    assert(found.nonEmpty)
    assert((found -- allowed).isEmpty, s"new knobs: ${(found -- allowed).mkString(", ")}")
    assert((allowed -- found).isEmpty, s"stale allow-list lines: ${(allowed -- found).mkString(", ")}")
  }
}
