package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Structured Streaming suite: the events table replayed through
  * `readStream` → tumbling-window aggregation → memory sink, compared to
  * a batch oracle (the stream is bounded, so complete-mode output equals
  * the batch group-by; SURVEY.md §2.7 notes the reference itself is
  * batch-only — this is the graft's streaming-ingest path).
  */
object QueriesStream {

  @volatile private var counter = 0

  /** Split `ev` (must carry a `tus` epoch-micros column) into four
    * time-ranged parquet files — exact time quartiles — staged in one
    * directory with ascending mod-times, so the file stream source
    * replays them in time order, one per micro-batch.
    */
  private def stageQuartileFiles(ev: DataFrame, tag: String): String = {
    val qs = ev.selectExpr("percentile(tus, array(0.25, 0.5, 0.75)) AS q")
      .head().getAs[collection.Seq[Double]](0).map(_.toLong)
    val dir = java.nio.file.Files.createTempDirectory(s"${tag}_events")
    // ONE partitioned write instead of four filtered scans+writes (the
    // staging cost ran 5 jobs over ev per stream query). Row-set per
    // file is identical to the filtered form; every consumer here is
    // row-order-insensitive (aggregations, keyed state that sorts its
    // own group, set-valued joins/dedup), so in-file order is free.
    val stage = java.nio.file.Files.createTempDirectory(s"${tag}_stage")
    ev.withColumn("__q",
        when(col("tus") <= qs(0), 0).when(col("tus") <= qs(1), 1)
          .when(col("tus") <= qs(2), 2).otherwise(3))
      .repartition(4, col("__q"))
      .write.mode("overwrite").partitionBy("__q").parquet(stage.toString)
    (0 until 4).foreach { i =>
      val pdir = stage.resolve(s"__q=$i")
      val tgt = dir.resolve(f"events_$i%02d.parquet")
      val srcOpt =
        if (java.nio.file.Files.isDirectory(pdir))
          java.nio.file.Files.list(pdir).toArray.map(_.toString)
            .find(_.endsWith(".parquet"))
        else None
      srcOpt match {
        case Some(src) =>
          java.nio.file.Files.move(java.nio.file.Paths.get(src), tgt)
        case None =>
          // an empty quartile (heavy timestamp ties) must still stage a
          // file: the batch count fixes the state-transition boundaries
          val part = java.nio.file.Files.createTempDirectory(s"${tag}_empty$i")
          ev.limit(0).coalesce(1).write.mode("overwrite").parquet(part.toString)
          val src = java.nio.file.Files.list(part).toArray.map(_.toString)
            .filter(_.endsWith(".parquet")).head
          java.nio.file.Files.move(java.nio.file.Paths.get(src), tgt)
          delete(part.toString)
      }
      java.nio.file.Files.setLastModifiedTime(tgt,
        java.nio.file.attribute.FileTime.fromMillis(1700000000000L + i * 60000L))
    }
    delete(stage.toString)
    dir.toString
  }

  private def delete(path: String): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))

  /** The four time-quartile files every stateful stream replay shares:
    * ONE staging pass (events scan + percentile + partitioned write)
    * carrying the superset of columns any consumer projects — q62, q60,
    * q53 and q79 staged the same row set separately before (three
    * redundant full passes + checkpoints per rep). Quartile boundaries
    * and per-file row sets are unchanged, so batch boundaries, state
    * transitions and every output row are identical; each stream
    * projects its own columns after `readStream`. A memo entry per input
    * dir; [[Derived.clearMemo]] deletes the staged files.
    */
  private def sharedQuartileDir(s: SparkSession, d: String): String =
    Derived.computeIfAbsent(s"sharedq:$d", delete) {
      val ev = s.read.parquet(s"$d/events.parquet")
        .select(col("user_id").cast("long").as("user_id"),
          col("event_id").cast("long").as("event_id"),
          col("event_type"),
          unix_micros(col("ts").cast("timestamp")).as("tus"),
          expr(QueriesRelational.centsSql("value")).as("cents"))
        // two consumers (percentile probe + partitioned write): one scan
        .localCheckpoint(true)
      stageQuartileFiles(ev, "sharedq")
    }

  /** Start-and-drain a bounded stateful stream with a SMALL
    * state-partition count and a tmpfs checkpoint, then return the
    * materialized memory-sink table. Stateful operators commit
    * shufflePartitions × store-instances files every micro-batch, so the
    * session default (32) is pure overhead on these bounded small-state
    * replays — q79 measured 20.9 s → 6.6 s min-of-2 at sf0.1 from this
    * alone. `build` receives the checkpoint dir and must `.start()` the
    * query inside the callback (partition count is captured at start).
    */
  private def runSmallStateStream(s: SparkSession, sinkName: String)(
      build: String => org.apache.spark.sql.streaming.StreamingQuery): DataFrame = {
    val base =
      if (new java.io.File("/dev/shm").isDirectory) "/dev/shm" else "/tmp"
    val ckpt = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(base), s"${sinkName}_ckpt").toString
    val prevSp = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "4")
    try {
      val q = build(ckpt)
      q.processAllAvailable()
      graft.runtime.Trace.rounds("stream micro-batches", Option(q.lastProgress).fold(0L)(_.batchId + 1))
      q.stop()
    } finally {
      s.conf.set("spark.sql.shuffle.partitions", prevSp)
      delete(ckpt)
    }
    s.table(sinkName).localCheckpoint(true)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q34_stream_window" -> ((s, d) => {
      val path = s"$d/events.parquet"
      val schema = s.read.parquet(path).schema
      counter += 1
      val sinkName = s"q34_sink_$counter"
      // FileStreamSource wants a directory: stage a symlink to the file
      val dir = java.nio.file.Files.createTempDirectory("q34_events")
      java.nio.file.Files.createSymbolicLink(
        dir.resolve("events.parquet"), java.nio.file.Paths.get(path))
      // small-state run (the q79 fix): the complete-mode agg state store
      // commits session-partition-count files per batch otherwise
      try runSmallStateStream(s, sinkName) { ckpt =>
        s.readStream
          .schema(schema)
          .parquet(dir.toString)
          .groupBy(window(col("ts"), "300 seconds"), col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(expr(QueriesRelational.centsSql("value"))).as("sum_cents"))
          .select(unix_micros(col("window.start").cast("timestamp")).as("bucket_us"),
            col("event_type"), col("n"), col("sum_cents"))
          .writeStream
          .outputMode("complete")
          .format("memory")
          .option("checkpointLocation", ckpt)
          .queryName(sinkName)
          .start()
      } finally delete(dir.toString)
    }),

    // watermarked APPEND-mode windowed aggregation — the third streaming
    // shape beside complete-mode q34 and the stateful q53/q60: a
    // 10-minute event-time watermark over the four time-ordered
    // micro-batches; a window row is emitted only once the watermark
    // passes its end, so windows still open when the bounded stream
    // ends stay in state and are dropped — and the oracle drops them
    // symmetrically (bucket end ≤ final watermark = max ts − 10 min).
    // Deterministic: the quartile files fix the batch boundaries, and
    // watermark progression is a pure function of per-batch max ts.
    "q62_stream_late" -> ((s, d) => {
      val dir = sharedQuartileDir(s, d)
      val schema = s.read.parquet(dir).schema
      counter += 1
      val sinkName = s"q62_sink_$counter"
      runSmallStateStream(s, sinkName) { ckpt =>
        s.readStream
          .schema(schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(dir)
          .select("event_type", "tus", "cents")
          .withColumn("ets", timestamp_micros(col("tus")))
          .withWatermark("ets", "10 minutes")
          .groupBy(window(col("ets"), "300 seconds"), col("event_type"))
          .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
          .select(unix_micros(col("window.start")).as("bucket_us"),
            col("event_type"), col("n"), col("sum_cents"))
          .writeStream
          .outputMode("append")
          .format("memory")
          .option("checkpointLocation", ckpt)
          .queryName(sinkName)
          .start()
      }
    }),

    // stateful streaming dedup: dropDuplicates across micro-batches —
    // the streaming-ingest half of the exact-dedup pair (q26 is the
    // batch half). Events replay as four time-ranged files
    // (maxFilesPerTrigger=1 ⇒ four real micro-batches), so a key first
    // seen in batch 0 MUST be suppressed by the dedup state when it
    // recurs in batches 1-3. Keys-only projection before the dedup
    // keeps the emitted row set deterministic (dropDuplicates keeps an
    // arbitrary first row; the key set is a pure function of the data).
    "q60_stream_dedup" -> ((s, d) => {
      val dir = sharedQuartileDir(s, d)
      val schema = s.read.parquet(dir).schema
      counter += 1
      val sinkName = s"q60_sink_$counter"
      // small-state run: the dedup state store otherwise commits
      // session-partition-count files per micro-batch (the q79 fix)
      runSmallStateStream(s, sinkName) { ckpt =>
        s.readStream
          .schema(schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(dir)
          .select("user_id", "event_type")
          .dropDuplicates("user_id", "event_type")
          .writeStream
          .outputMode("append")
          .format("memory")
          .option("checkpointLocation", ckpt)
          .queryName(sinkName)
          .start()
      }
    }),

    // custom streaming state: per-user SESSIONIZATION via
    // flatMapGroupsWithState (Append mode) — events replayed as four
    // time-ranged files (maxFilesPerTrigger=1 ⇒ real cross-micro-batch
    // state transitions); a session closes after a 300 s inactivity gap;
    // each user's final (still-open) session stays in state by design and
    // the oracle drops it symmetrically.
    "q53_stream_sessions" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
      val dir = sharedQuartileDir(s, d)
      val schema = s.read.parquet(dir).schema
      counter += 1
      val sinkName = s"q53_sink_$counter"
      val GapUs = 300000000L
      // small-state run (the q79 fix): flatMapGroupsWithState commits
      // session-partition-count state files per micro-batch otherwise
      runSmallStateStream(s, sinkName) { ckpt =>
      s.readStream
        .schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(dir)
        .select("user_id", "event_id", "tus", "cents")
        .as[(Long, Long, Long, Long)]
        .groupByKey(_._1)
        .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
          (user: Long, rows: Iterator[(Long, Long, Long, Long)],
           state: GroupState[Seq[(Long, Long, Long)]]) => {
            val all = (state.getOption.getOrElse(Seq.empty) ++
              rows.map(r => (r._3, r._2, r._4))).sortBy(t => (t._1, t._2))
            // split on inactivity gaps
            val sessions = all.foldLeft(Vector.empty[Vector[(Long, Long, Long)]]) {
              case (acc, e) =>
                if (acc.nonEmpty && e._1 - acc.last.last._1 <= GapUs)
                  acc.init :+ (acc.last :+ e)
                else acc :+ Vector(e)
            }
            state.update(sessions.lastOption.map(_.toSeq).getOrElse(Seq.empty))
            sessions.dropRight(1).iterator.map { sess =>
              (user, sess.head._1, sess.last._1,
                sess.length.toLong, sess.map(_._3).sum)
            }
          })
        .toDF("user_id", "session_start_us", "session_end_us",
          "n_events", "sum_cents")
        .writeStream
        .outputMode("append")
        .format("memory")
        .option("checkpointLocation", ckpt)
        .queryName(sinkName)
        .start()
      }
    }),

    // stream-stream INTERVAL JOIN with watermarks on both sides — the
    // remaining core Structured Streaming shape beside windows (q34/q62),
    // dedup (q60) and custom state (q53): view→purchase attribution,
    // each view joined to same-user purchases within the following day.
    // Inner-join output is emitted as soon as both rows arrive (the
    // watermark only drives STATE EVICTION), and the time-quartile file
    // order guarantees no still-matchable row is ever evicted first
    // (a view is dropped only once the watermark — max ts seen − 1 day —
    // passes view_ts + 1 day; later batches hold only purchases > that
    // watermark, outside the join range), so the bounded-stream output
    // equals the batch interval join exactly.
    "q79_stream_join" -> ((s, d) => {
      val dir = sharedQuartileDir(s, d)
      val schema = s.read.parquet(dir).schema
      counter += 1
      val sinkName = s"q79_sink_$counter"
      runSmallStateStream(s, sinkName) { ckpt =>
        val src = s.readStream
          .schema(schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(dir)
          .select("user_id", "event_id", "event_type", "tus")
        val views = src.filter(col("event_type") === "view")
          .select(col("user_id").as("v_user"),
            col("event_id").as("view_event_id"),
            timestamp_micros(col("tus")).as("v_ts"))
          .withWatermark("v_ts", "1 day")
        val buys = src.filter(col("event_type") === "purchase")
          .select(col("user_id").as("b_user"),
            col("event_id").as("purchase_event_id"),
            timestamp_micros(col("tus")).as("b_ts"))
          .withWatermark("b_ts", "1 day")
        views.join(buys,
            col("v_user") === col("b_user") &&
              col("b_ts") >= col("v_ts") &&
              col("b_ts") <= col("v_ts") + expr("INTERVAL 1 DAY"))
          .select(col("v_user").as("user_id"),
            col("view_event_id"), col("purchase_event_id"),
            unix_micros(col("v_ts")).as("view_ts_us"),
            unix_micros(col("b_ts")).as("purchase_ts_us"))
          .writeStream
          .outputMode("append")
          .format("memory")
          .option("checkpointLocation", ckpt)
          .queryName(sinkName)
          .start()
      }
    }))

  val oracles: Map[String, String] = Map(
    // bounded stream + inner interval join ⇒ exactly the batch join
    "q79_stream_join" ->
      """SELECT CAST(a.user_id AS BIGINT) AS user_id,
        |       CAST(a.event_id AS BIGINT) AS view_event_id,
        |       CAST(b.event_id AS BIGINT) AS purchase_event_id,
        |       epoch_us(a.ts) AS view_ts_us,
        |       epoch_us(b.ts) AS purchase_ts_us
        |FROM events a JOIN events b
        |  ON b.user_id = a.user_id
        | AND a.event_type = 'view' AND b.event_type = 'purchase'
        | AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 1 DAY""".stripMargin,

    // append-mode watermarked windows: the batch agg restricted to
    // buckets the FINAL watermark (max ts − 10 min) has closed; the
    // still-open tail buckets died in state when the stream ended.
    // No event is ever late in this replay (time-quartile batching ⇒
    // every event outruns the watermark), so no per-row drop term.
    "q62_stream_late" ->
      s"""WITH e AS (
         |  SELECT event_type, epoch_us(ts) AS tus,
         |    ${QueriesRelational.centsSql("value")} AS cents
         |  FROM events),
         |wm AS (SELECT MAX(tus) - 600000000 AS w FROM e)
         |SELECT (tus - tus % 300000000) AS bucket_us, event_type,
         |  COUNT(*) AS n, CAST(SUM(cents) AS BIGINT) AS sum_cents
         |FROM e, wm
         |WHERE (tus - tus % 300000000) + 300000000 <= wm.w
         |GROUP BY 1, 2""".stripMargin,

    // the streamed keys-only dedup over a bounded stream is exactly the
    // batch distinct of the key columns
    "q60_stream_dedup" ->
      """SELECT DISTINCT CAST(user_id AS BIGINT) AS user_id, event_type
        |FROM events""".stripMargin,

    // gaps-and-islands sessionization; each user's LAST session dropped
    // (it never closes in the bounded stream)
    "q53_stream_sessions" ->
      s"""WITH e AS (
         |  SELECT user_id, event_id, epoch_us(ts) AS tus,
         |    ${QueriesRelational.centsSql("value")} AS cents
         |  FROM events),
         |m AS (
         |  SELECT *, CASE WHEN tus - LAG(tus) OVER
         |      (PARTITION BY user_id ORDER BY tus, event_id) > 300000000
         |    THEN 1 ELSE 0 END AS brk
         |  FROM e),
         |sx AS (
         |  SELECT *, SUM(brk) OVER (PARTITION BY user_id
         |    ORDER BY tus, event_id ROWS UNBOUNDED PRECEDING) AS sid
         |  FROM m),
         |g AS (
         |  SELECT user_id, sid,
         |    MIN(tus) AS session_start_us, MAX(tus) AS session_end_us,
         |    COUNT(*) AS n_events, CAST(SUM(cents) AS BIGINT) AS sum_cents
         |  FROM sx GROUP BY user_id, sid),
         |r AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
         |    ORDER BY session_start_us DESC) AS rn FROM g)
         |SELECT user_id, session_start_us, session_end_us, n_events, sum_cents
         |FROM r WHERE rn > 1""".stripMargin,

    "q34_stream_window" ->
      s"""SELECT (epoch_us(ts) - epoch_us(ts) % 300000000) AS bucket_us,
         |  event_type, COUNT(*) AS n,
         |  CAST(SUM(${QueriesRelational.centsSql("value")}) AS BIGINT) AS sum_cents
         |FROM events GROUP BY 1, 2""".stripMargin)
}
