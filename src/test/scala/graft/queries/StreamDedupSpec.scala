package graft.queries

import org.scalatest.funsuite.AnyFunSuite
import graft.{SparkEntry, SparkTestBase}
import org.apache.spark.sql.functions._

/** q60 (streaming stateful dedup) — proves the cross-micro-batch state
  * is genuinely exercised: every key recurs in every time quartile, so
  * the 4-file replay (one micro-batch per file) only yields the distinct
  * key set if the dedup state survives batch boundaries.
  */
class StreamDedupSpec extends AnyFunSuite with SparkTestBase {

  // 40 events, 4 distinct (user_id, event_type) keys — key i%4 pairs
  // with type t{i%2} and i%2 == (i%4)%2, so the key space is
  // {(0,t0),(1,t1),(2,t0),(3,t1)} and every key recurs every 4 minutes
  // across the whole 40-minute span: present in ALL four quartiles.
  private def writeEvents(dir: String): Unit = {
    import spark.implicits._
    (0 until 40).map { i =>
      (i.toLong, (i % 4).toLong, s"t${i % 2}",
        java.sql.Timestamp.valueOf(f"2024-01-01 00:$i%02d:00"), 1.0)
    }.toDF("event_id", "user_id", "event_type", "ts", "value")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
  }

  test("streaming dedup: later-batch repeats suppressed, key set exact") {
    withTempDir("sdedup_sf") { dir =>
      writeEvents(dir)
      val out = SparkEntry.queries("q60_stream_dedup")(spark, dir)
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      assert(out === Set((0L, "t0"), (1L, "t1"), (2L, "t0"), (3L, "t1")))
    }
  }

  test("testdata events: keys span quartiles (state is exercised there too)") {
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts").cast("timestamp")).as("tus"))
    val qs = ev.selectExpr("percentile(tus, array(0.25, 0.5, 0.75)) AS q")
      .head().getAs[collection.Seq[Double]](0).map(_.toLong)
    val withQ = ev.withColumn("quart",
      when(col("tus") <= qs(0), 0)
        .when(col("tus") <= qs(1), 1)
        .when(col("tus") <= qs(2), 2)
        .otherwise(3))
    val keyQuarts = withQ.select("user_id", "event_type", "quart")
      .distinct().count()
    val keys = withQ.select("user_id", "event_type").distinct().count()
    assert(keyQuarts > keys,
      s"no key spans a quartile boundary (keyQuarts=$keyQuarts keys=$keys)")
  }
}
