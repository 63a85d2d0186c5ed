package graft.runtime

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.rdd.GraftBusBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** The one per-run trace: a `SparkListener` plus driver-side hooks that
  * turn one timed unit of work (a bench query, a harness run) into one
  * JSON record: status and error, wall time, jobs, stages, tasks,
  * shuffle and spill bytes, memo hits and builds, gate decisions, loop
  * rounds, and the wall split into memo-build job time, other job time
  * and driver idle.
  *
  * A job is attributed to the innermost `graft.` frame of its own call
  * site. A job that AQE or a broadcast starts on a helper thread has no
  * such frame, so it takes the call site its SQL execution recorded at
  * `SparkListenerSQLExecutionStart`. A job started while
  * `Derived.computeIfAbsent` builds an entry carries that entry's key
  * (a local property, which Spark hands on to helper threads), so a memo
  * build is charged to the memo, the innermost one when builds nest.
  *
  * [[setup]] attaches one trace per `SparkContext`, idempotently.
  * Nothing is recorded outside a [[begin]]/[[end]] window, and with no
  * trace attached each hook ([[gate]], [[rounds]], [[memo]],
  * [[memoHit]]) costs one volatile read.
  *
  * The benchmark's own tracer (`perfbench/src/perfbench/Tracer.scala`)
  * reads the same jobs from their stacks and leans on one code shape:
  * `Tracer.isMemo` matches the frame name `computeIfAbsent`, so
  * `Derived` keeps that name. Its `Tracer.ccRounds` counts in-loop
  * `fingerprint` jobs per SQL execution id; the star rounds are RDD
  * actions, which carry no execution id, so it reads 1 on any forced
  * loop. The [[rounds]] records here carry the true count.
  */
final class Trace private (val sc: SparkContext) extends SparkListener {
  import Trace._

  private final class Job(val start: Long, val site: Option[String], val memo: Option[String]) {
    @volatile var end = -1L
    @volatile var stages, tasks = 0
    @volatile var shuffleBytes, spillBytes = 0L
  }

  @volatile private var open = false
  private var t0 = 0L
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Job]()
  private val execSite = new ConcurrentHashMap[Long, String]()
  private val events = ArrayBuffer.empty[Event]

  // ---- listener (one bus thread) ----

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart if open =>
      graftFrame(s.details).foreach(execSite.put(s.executionId, _))
    case _ => ()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (open) {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    // the job's result stage is the one it created: its own call site
    val own = e.stageInfos.sortBy(_.stageId).lastOption.flatMap(s => graftFrame(s.details))
    val site = own.orElse(prop("spark.sql.execution.id")
      .flatMap(id => Option(execSite.get(id.toLong))))
    val j = new Job(e.time, site, prop(MemoProperty))
    e.stageIds.foreach(stageJob.put(_, j))
    jobs.put(e.jobId, j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageJob.get(e.stageInfo.stageId)).foreach(j => j.stages += 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(e.stageId)).foreach { j =>
      j.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        j.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten
        j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }

  // ---- driver side ----

  private def add(ev: Event): Unit = if (open) synchronized { events += ev }

  /** The memo key being built on this thread, if any. */
  private def building: Option[String] = Option(sc.getLocalProperty(MemoProperty))

  private def build[T](key: String, body: => T): T =
    if (!open) body
    else {
      val outer = sc.getLocalProperty(MemoProperty)
      sc.setLocalProperty(MemoProperty, key)
      val t = System.nanoTime()
      try body
      finally {
        sc.setLocalProperty(MemoProperty, outer)
        add(MemoBuild(key, (System.nanoTime() - t) / 1e6))
      }
    }

  /** Opens a window: what ran before it is not recorded. */
  def begin(): Unit = {
    GraftBusBridge.drain(sc)
    synchronized { jobs.clear(); stageJob.clear(); execSite.clear(); events.clear() }
    t0 = System.currentTimeMillis()
    open = true
  }

  /** Closes the window [[begin]] opened and returns its record. `wallS`
    * and `error` are the caller's timing and outcome of the unit; `label`
    * leads the JSON (query and rep, say). */
  def end(wallS: Double, error: Option[Throwable], label: (String, Any)*): Record = {
    val t1 = System.currentTimeMillis()
    GraftBusBridge.drain(sc)
    open = false
    val js = jobs.values.asScala.toSeq
    val evs = synchronized(events.toList)
    def span(s: Seq[Job]): Double =
      union(s.map(j => (j.start, if (j.end < 0) t1 else j.end)), t0, t1) / 1000.0
    val all = span(js)
    val memoS = span(js.filter(_.memo.isDefined))
    val memoJobs = js.flatMap(_.memo).groupBy(identity).map { case (k, v) => k -> v.size }
    val sites = js.groupBy(_.site.getOrElse("-")).toSeq
      .map { case (s, g) => Site(s, g.size, g.map(j => (if (j.end < 0) t1 else j.end) - j.start).sum) }
      .sortBy(s => (-s.jobMs, s.site))
    Record(
      label = label,
      error = error.map(_.toString),
      wallS = wallS,
      jobs = js.size,
      stages = js.map(_.stages).sum,
      tasks = js.map(_.tasks.toLong).sum,
      shuffleBytes = js.map(_.shuffleBytes).sum,
      spillBytes = js.map(_.spillBytes).sum,
      memoHits = evs.collect { case MemoHit(k) => k },
      memoBuilds = evs.collect { case MemoBuild(k, ms) => (k, ms, memoJobs.getOrElse(k, 0)) },
      gates = evs.collect { case g: GateDecision => g },
      rounds = evs.collect { case r: Rounds => r },
      memoS = memoS,
      jobS = all - memoS,
      idleS = (t1 - t0) / 1000.0 - all,
      unattributedJobs = js.count(_.site.isEmpty),
      sites = sites)
  }
}

object Trace {
  private val MemoProperty = "graft.memo"

  sealed trait Event
  final case class MemoHit(key: String) extends Event
  final case class MemoBuild(key: String, ms: Double) extends Event
  /** `count` is what the gate saw: a held count, a row count read at most
    * `limit + 1` deep, for a split whether any group is over the limit
    * (0 or 1: the check reads one row), and -1 when limit 0 forced the
    * distributed side without counting. `memo` names the entry whose
    * build made the decision. */
  final case class GateDecision(gate: String, count: Long, limit: Long, path: String,
      memo: Option[String]) extends Event
  final case class Rounds(loop: String, rounds: Long, memo: Option[String]) extends Event
  final case class Site(site: String, jobs: Int, jobMs: Long)

  /** One window's figures. `memoBuilds` are (key, build ms, jobs charged
    * to the key); `memoS + jobS + idleS` is the window's length. */
  final case class Record(
      label: Seq[(String, Any)], error: Option[String], wallS: Double,
      jobs: Int, stages: Int, tasks: Long, shuffleBytes: Long, spillBytes: Long,
      memoHits: Seq[String], memoBuilds: Seq[(String, Double, Int)],
      gates: Seq[GateDecision], rounds: Seq[Rounds],
      memoS: Double, jobS: Double, idleS: Double,
      unattributedJobs: Int, sites: Seq[Site]) {
    def status: String = if (error.isEmpty) "ok" else "failed"

    def json: String = {
      def memoOf(m: Option[String]) = m.map(k => s""","memo":${str(k)}""").getOrElse("")
      val fields = label.map { case (k, v) => k -> value(v) } ++ Seq(
        "status" -> str(status),
        "error" -> error.map(str).getOrElse("null"),
        "wall_s" -> secs(wallS),
        "jobs" -> jobs.toString, "stages" -> stages.toString, "tasks" -> tasks.toString,
        "shuffle_bytes" -> shuffleBytes.toString, "spill_bytes" -> spillBytes.toString,
        "memo_hits" -> memoHits.groupBy(identity).toSeq.sortBy(_._1)
          .map { case (k, v) => s"${str(k)}:${v.size}" }.mkString("{", ",", "}"),
        "memo_builds" -> memoBuilds.map { case (k, ms, n) =>
          s"""{"key":${str(k)},"ms":${ms.round},"jobs":$n}""" }.mkString("[", ",", "]"),
        "gates" -> gates.map(g =>
          s"""{"gate":${str(g.gate)},"count":${g.count},"limit":${g.limit},""" +
            s""""path":${str(g.path)}${memoOf(g.memo)}}""").mkString("[", ",", "]"),
        "rounds" -> rounds.map(r =>
          s"""{"loop":${str(r.loop)},"rounds":${r.rounds}${memoOf(r.memo)}}""")
          .mkString("[", ",", "]"),
        "memo_s" -> secs(memoS), "job_s" -> secs(jobS), "idle_s" -> secs(idleS),
        "unattributed_jobs" -> unattributedJobs.toString,
        "sites" -> sites.take(5).map(s =>
          s"""{"site":${str(s.site)},"jobs":${s.jobs},"job_ms":${s.jobMs}}""")
          .mkString("[", ",", "]"))
      fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
    }
  }

  @volatile private var attached: Trace = null

  /** The trace of `spark`'s context, registered on first use. */
  def setup(spark: SparkSession): Trace = synchronized {
    val sc = spark.sparkContext
    if (attached == null || (attached.sc ne sc)) {
      val t = new Trace(sc)
      sc.addSparkListener(t)
      attached = t
    }
    attached
  }

  // ---- hooks ----

  def gate(gate: String, count: Long, limit: Long, local: Boolean): Unit = {
    val t = attached
    if (t != null) t.add(GateDecision(gate, count, limit,
      if (local) "local" else "distributed", t.building))
  }

  def rounds(loop: String, n: Long): Unit = {
    val t = attached
    if (t != null) t.add(Rounds(loop, n, t.building))
  }

  def memoHit(key: String): Unit = {
    val t = attached
    if (t != null) t.add(MemoHit(key))
  }

  /** Runs a memo build, charging its jobs and time to `key`. */
  def memo[T](key: String)(build: => T): T = {
    val t = attached
    if (t == null) build else t.build(key, build)
  }

  // ---- helpers ----

  /** The innermost `graft.` frame of a call-site stack, without the class
    * loader prefix Java may print (`app//`). */
  private def graftFrame(stack: String): Option[String] =
    stack.linesIterator.map(f => f.substring(f.lastIndexOf("//") + 1).stripPrefix("/"))
      .find(_.startsWith("graft."))

  private def secs(s: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, s)

  private def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  private def value(v: Any): String = v match {
    case null      => "null"
    case s: String => str(s)
    case x         => String.valueOf(x)
  }

  /** Length (ms) of the union of `iv`, clipped to [t0, t1]. */
  private def union(iv: Seq[(Long, Long)], t0: Long, t1: Long): Long = {
    var total = 0L
    var cur = (0L, -1L)
    iv.map { case (a, b) => (a.max(t0), b.min(t1)) }.filter { case (a, b) => b > a }
      .sortBy(_._1).foreach { case (a, b) =>
        if (a <= cur._2) cur = (cur._1, cur._2.max(b))
        else { total += (cur._2 - cur._1).max(0L); cur = (a, b) }
      }
    total + (cur._2 - cur._1).max(0L)
  }
}
