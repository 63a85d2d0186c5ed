package graft

import org.apache.spark.sql.SparkSession
import java.nio.file.Files

/** One shared local session for all suites (object = JVM-wide). */
object SparkTestBase {
  lazy val spark: SparkSession = graft.runtime.Sessions.local(4, 4)
}

trait SparkTestBase {
  lazy val spark: SparkSession = SparkTestBase.spark

  /** Run `f` on a new temp dir named `prefix…`; the dir and everything in
    * it are deleted when `f` returns or throws. */
  def withTempDir[A](prefix: String)(f: String => A): A = {
    val dir = Files.createTempDirectory(prefix).toFile
    try f(dir.toString)
    finally org.apache.commons.io.FileUtils.deleteQuietly(dir)
  }
}
