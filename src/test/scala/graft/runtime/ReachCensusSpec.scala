package graft.runtime

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Every `def`/`val`/`var`/`class`/`object`/`trait`/`type` the main code
  * declares must be named again somewhere in `src/main` or
  * `perfbench/src`: a declaration only specs reach fails this spec until
  * it is deleted (or its line below names why it stays), so dead code
  * shows up in review as a one-line diff. `override`, `implicit` and
  * `main` declarations, and the objects that hold a `main`, are entry
  * points and not checked. Comments never count as a reference, nor does
  * a plain string literal; an interpolated one counts by its `$x` and
  * `${...}` parts only. The check is by name, not by symbol: a name
  * declared twice needs one use beyond its declarations. */
class ReachCensusSpec extends AnyFunSuite {
  import ReachCensusSpec._

  /** "file under src/main/scala/graft: name" -> why it stays unreached */
  private val allowed = Map(
    "dedup/Dedup.scala: cosineHof" -> "spec oracle of the codegen'd cosine",
    "dedup/Dedup.scala: lshBucketHof" -> "spec oracle of the codegen'd LSH bucket",
    "dedup/Dedup.scala: minhashSignatureFromHashesHof" -> "spec oracle of MinHashSig",
    "dedup/Dedup.scala: quantArgMin" -> "spec oracle of the codegen'd PQ arg-min",
    "dedup/Dedup.scala: shingleHashesHof" -> "spec oracle of ShingleHashes",
    "dedup/Dedup.scala: simhashFromHashesHof" -> "spec oracle of SimHash63",
    "functions/GraftExtensions.scala: GraftExtensions" -> "named by users in spark.sql.extensions",
    "queries/Derived.scala: claims" -> "test seam of the memo registry",
    "runtime/IterationCheckpointer.scala: IterationCheckpointer" -> "the resume surface (BASELINE.json)",
    "runtime/IterationCheckpointer.scala: allComplete" -> "the resume surface (BASELINE.json)",
    "runtime/IterationCheckpointer.scala: hook" -> "the resume surface (BASELINE.json)",
    "runtime/IterationCheckpointer.scala: latestComplete" -> "the resume surface (BASELINE.json)",
    "text/TextOps.scala: fingerprintHof" -> "spec oracle of the codegen'd fingerprint",
    "text/TextOps.scala: langGuessHof" -> "spec oracle of the codegen'd language guess",
    "text/TextOps.scala: qualityColumnsHof" -> "spec oracle of the codegen'd quality columns",
    "text/TextOps.scala: tokenCountHof" -> "spec oracle of the codegen'd token count")

  private def sources(root: Path): Map[String, String] =
    Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList
      .map(p => root.relativize(p).toString -> Files.readString(p)).toMap

  test("every src/main declaration is reached from src/main or perfbench/src") {
    val root = Paths.get("src/main/scala")
    val bench = Paths.get("perfbench/src")
    assert(Files.isDirectory(root) && Files.isDirectory(bench),
      s"run from the project root (cwd ${Paths.get("").toAbsolutePath})")
    val found = unreached(sources(root), sources(bench).values.toSeq)
      .map(_.stripPrefix("graft/"))
    assert(found.nonEmpty)
    assert((found -- allowed.keySet).isEmpty,
      s"declarations only specs reach: ${(found -- allowed.keySet).toList.sorted.mkString(", ")}")
    assert((allowed.keySet -- found).isEmpty,
      s"stale allow-list lines: ${(allowed.keySet -- found).toList.sorted.mkString(", ")}")
  }

  test("the census sees through comments and strings, and skips entry points") {
    val src =
      """object Tool {
        |  def main(args: Array[String]): Unit = println(s"${Lib.used} $named")
        |  val named = 1
        |}
        |object Lib {
        |  // used() in a comment is no reference, /* neither is unused() */
        |  def used: Int = 1
        |  def unused: Int = 2
        |  def inString: String = "unused, inString"
        |  override def toString: String = "Lib"
        |  implicit val ord: Ordering[Int] = Ordering.Int
        |  final case class Row(a: Int)
        |  val c = '"'
        |  private[graft] def elsewhere = 3
        |}
        |""".stripMargin
    assert(unreached(Map("graft/Lib.scala" -> src), Seq("Lib.elsewhere")) ==
      Set("graft/Lib.scala: unused", "graft/Lib.scala: inString",
        "graft/Lib.scala: Row", "graft/Lib.scala: c"))
  }
}

object ReachCensusSpec {

  private val Ident = "[A-Za-z_][A-Za-z0-9_]*".r
  private val Modifiers =
    "(?:(?:override|implicit|private|protected|final|lazy|sealed|abstract|case)(?:\\[\\w+\\])?\\s+)*"
  private val Decl =
    ("(?<![\\w.])(" + Modifiers + ")\\b(def|val|var|class|object|trait|type)\\s+([A-Za-z_][A-Za-z0-9_]*)").r

  /** `$x` and `${...}` of an interpolated string body, blank-separated. */
  private def interpolated(body: String): String = {
    val out = new StringBuilder
    var i = 0
    while (i < body.length) {
      if (body(i) == '$' && i + 1 < body.length && body(i + 1) == '{') {
        var depth = 0
        var j = i + 1
        while (j < body.length && !(body(j) == '}' && depth == 1)) {
          if (body(j) == '{') depth += 1
          else if (body(j) == '}') depth -= 1
          j += 1
        }
        out.append(' ').append(body.slice(i + 2, j)).append(' ')
        i = j + 1
      } else if (body(i) == '$' && i + 1 < body.length) {
        val name = Ident.findPrefixOf(body.substring(i + 1)).getOrElse("")
        out.append(' ').append(name).append(' ')
        i += 1 + math.max(name.length, 1)
      } else i += 1
    }
    out.toString
  }

  /** `src` with comments and char literals blanked, plain string
    * literals emptied and interpolated ones reduced to their references. */
  def code(src: String): String = {
    val out = new StringBuilder
    var i = 0
    val n = src.length
    def at(s: String) = src.startsWith(s, i)
    while (i < n) {
      if (at("//")) {
        while (i < n && src(i) != '\n') i += 1
      } else if (at("/*")) {
        var depth = 0
        while (i < n && !(at("*/") && depth == 1)) {
          if (at("/*")) { depth += 1; i += 2 }
          else if (at("*/")) { depth -= 1; i += 2 }
          else i += 1
        }
        i += 2
        out.append(' ')
      } else if (src(i) == '"') {
        val interp = out.nonEmpty && (out.last.isLetterOrDigit || out.last == '_')
        val (body, end) =
          if (at("\"\"\"")) {
            var j = src.indexOf("\"\"\"", i + 3)
            if (j < 0) j = n - 3
            while (j + 3 < n && src(j + 3) == '"') j += 1
            (src.slice(i + 3, j), j + 3)
          } else {
            var j = i + 1
            while (j < n && src(j) != '"' && src(j) != '\n') {
              if (src(j) == '\\') j += 1
              j += 1
            }
            (src.slice(i + 1, j), j + 1)
          }
        out.append(" \"").append(if (interp) interpolated(body) else "").append("\" ")
        i = end
      } else if (src(i) == '\'' && i + 3 < n && src(i + 1) == '\\') {
        val j = src.indexOf('\'', i + 3)
        out.append("' '"); i = if (j < 0) n else j + 1
      } else if (src(i) == '\'' && i + 2 < n && src(i + 2) == '\'') {
        out.append("' '"); i += 3
      } else {
        out.append(src(i)); i += 1
      }
    }
    out.toString
  }

  /** The body of the `{...}` block that follows `from`, if the next
    * brace opens the declaration's own body. */
  private def bodyAfter(code: String, from: Int): String = {
    val open = code.indexOf('{', from)
    if (open < 0 || code.slice(from, open).exists(c => c == '}' || c == '=' || c == ';') ||
        "\\b(def|val|var|class|object|trait|type)\\b".r.findFirstIn(code.slice(from, open)).nonEmpty)
      ""
    else {
      var depth = 0
      var j = open
      while (j < code.length && !(code(j) == '}' && depth == 1)) {
        if (code(j) == '{') depth += 1
        else if (code(j) == '}') depth -= 1
        j += 1
      }
      code.slice(open, j)
    }
  }

  /** "file: name" of each declaration in `main` (file -> source) whose
    * name occurs nowhere in `main` or `others` beyond its declarations. */
  def unreached(main: Map[String, String], others: Seq[String]): Set[String] = {
    val codes = main.map { case (f, s) => f -> code(s) }
    val decls = codes.toList.flatMap { case (f, c) =>
      Decl.findAllMatchIn(c).filterNot { m =>
        "\\b(override|implicit)\\b".r.findFirstIn(m.group(1)).nonEmpty ||
          m.group(3) == "main" ||
          (m.group(2) == "object" &&
            "\\bdef\\s+main\\b".r.findFirstIn(bodyAfter(c, m.end)).nonEmpty)
      }.map(m => (f, m.group(3))).toList
    }
    val declared = decls.groupBy(_._2).view.mapValues(_.size).toMap
    val uses = (codes.values ++ others.map(code)).iterator
      .flatMap(Ident.findAllIn).toList
      .groupBy(identity).view.mapValues(_.size).toMap
    decls.collect {
      case (f, name) if uses.getOrElse(name, 0) <= declared(name) => s"$f: $name"
    }.toSet
  }
}
