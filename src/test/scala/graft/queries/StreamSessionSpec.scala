package graft.queries

import org.scalatest.funsuite.AnyFunSuite
import graft.{SparkEntry, SparkTestBase}

/** The stream queries run in a session scope of their own: the caller's
  * `spark.sql.shuffle.partitions` is the same after each of them, and
  * each returns a frame of the caller's session. */
class StreamSessionSpec extends AnyFunSuite with SparkTestBase {

  // 200 events of 5 users over ~23 hours, one every 7 minutes: each
  // user's events are 35 minutes apart (every session closes), views
  // and purchases interleave (the interval join matches). One parquet
  // file, like the tables: q34 streams the directory it is linked into.
  private def writeEvents(dir: String): Unit = {
    import spark.implicits._
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val part = s"$dir/part"
    (0 until 200).map { i =>
      (i.toLong, (i % 5).toLong, if (i % 3 == 0) "purchase" else "view",
        new java.sql.Timestamp(t0 + i * 420000L), i.toDouble)
    }.toDF("event_id", "user_id", "event_type", "ts", "value")
      .coalesce(1).write.parquet(part)
    val file = new java.io.File(part).listFiles().filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.move(file.toPath, java.nio.file.Paths.get(dir, "events.parquet"))
  }

  test("q34/q53/q60/q62/q79 leave the caller's shuffle partitions unchanged") {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    // not the streams' own 4, so a stream that set and kept it would show
    spark.conf.set(key, "3")
    try withTempDir("streamconf") { dir =>
      writeEvents(dir)
      for (q <- Seq("q34_stream_window", "q53_stream_sessions",
          "q60_stream_dedup", "q62_stream_late", "q79_stream_join")) {
        val out = SparkEntry.queries(q)(spark, dir)
        assert(spark.conf.get(key) == "3", s"$q changed $key")
        assert(out.sparkSession eq spark, s"$q returned a frame of another session")
        assert(out.count() > 0L, s"$q returned no rows")
      }
    } finally {
      spark.conf.set(key, prev)
      Derived.clearMemo()
    }
  }
}
