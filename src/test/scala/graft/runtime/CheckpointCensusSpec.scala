package graft.runtime

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Every eager `localCheckpoint(true)` in the main code is counted here,
  * per file: a new one (or a removed one) fails this spec until its line
  * below changes with it, so it shows up in review as a one-line diff.
  * An eager checkpoint is one driver job; one stays only for a memo
  * entry, a loop generation, a scale fixture materialized before timing,
  * or a frame that two jobs or plan branches read (or whose
  * nondeterministic choice several reads must agree on) — README
  * "Checkpoints". */
class CheckpointCensusSpec extends AnyFunSuite {

  /** file under src/main/scala/graft -> eager checkpoints in it */
  private val allowed = Map(
    "cli/LumpWaysDownMain.scala" -> 13,
    "cli/LumpWaysMain.scala" -> 3,
    "dedup/Dedup.scala" -> 8,
    "dedup/Pq.scala" -> 1,
    "geo/SpatialJoins.scala" -> 3,
    "graph/DistContract.scala" -> 3,
    "graph/DistHull.scala" -> 1,
    "graph/DistLongest.scala" -> 2,
    "graph/DistPeel.scala" -> 2,
    "graph/DownOps.scala" -> 1,
    "graph/Flow.scala" -> 3,
    "graph/GraphBuild.scala" -> 3,
    "graph/RiverRel.scala" -> 1,
    "graph/WaterwayFeatures.scala" -> 10,
    "pipeline/Extras.scala" -> 6,
    "pipeline/LumpWays.scala" -> 4,
    "queries/Derived.scala" -> 1,
    "queries/QueriesExtras.scala" -> 1,
    "queries/QueriesGraph.scala" -> 1,
    "queries/QueriesStream.scala" -> 1,
    "runtime/CheckpointGen.scala" -> 1,
    "runtime/Ranks.scala" -> 3,
    "text/SuffixArray.scala" -> 4,
    "text/TextOps.scala" -> 4,
    "tools/MakeFixtureInput.scala" -> 1,
    "tools/ScaleEvidence.scala" -> 1,
    "web/LinkGraph.scala" -> 6)

  test("src/main has exactly the allow-listed eager checkpoints") {
    val root = Paths.get("src/main/scala/graft")
    assert(Files.isDirectory(root), s"run from the project root (cwd ${Paths.get("").toAbsolutePath})")
    val eager = "localCheckpoint(true)"
    val found = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList
      .map(p => root.relativize(p).toString ->
        Files.readString(p).sliding(eager.length).count(_ == eager))
      .filter(_._2 > 0).toMap
    val changed = (found.keySet ++ allowed.keySet).toList.sorted
      .filter(f => found.getOrElse(f, 0) != allowed.getOrElse(f, 0))
      .map(f => s"$f: ${found.getOrElse(f, 0)} (allow-listed ${allowed.getOrElse(f, 0)})")
    assert(changed.isEmpty, s"eager checkpoint counts changed: ${changed.mkString(", ")}")
  }
}
