package graft.runtime

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Sessions are built in one place: no main-code file but the factory and
  * the driver-default smoke calls the session builder. */
class SessionsSpec extends AnyFunSuite {

  test("the session builder is called only in Sessions.scala and EntrySmoke.scala") {
    // split so this file is not itself a match when the tree is grepped
    val builder = "SparkSession" + ".builder"
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root (cwd ${Paths.get("").toAbsolutePath})")
    val allowed = Set("runtime/Sessions.scala", "EntrySmoke.scala")
    val files = Files.walk(root).iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    val offenders = files.filter { p =>
      !allowed.exists(a => p.toString.endsWith("graft/" + a)) &&
        Files.readString(p).contains(builder)
    }
    assert(files.exists(_.endsWith("runtime/Sessions.scala")))
    assert(offenders.isEmpty, offenders.mkString(", "))
  }
}
