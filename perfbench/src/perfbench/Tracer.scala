package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._
import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Records every Spark job with its call site, its tasks' run time,
  * shuffle and spill bytes, and attributes it to a layer (a `graft`
  * module) by the innermost `graft.<module>` frame of its call site.
  *
  * Module code mostly builds lazy frames that run later, from the
  * benchmark's digest action. A job whose call site holds no module frame
  * therefore belongs to the module of the span (job group) it ran in.
  */
final class Tracer extends SparkListener {
  import Tracer._

  final class Job(val id: Int, val start: Long, val group: String,
      val execId: Long, val stack: String) {
    @volatile var end: Long = -1L
    @volatile var tasks, failedTasks = 0
    @volatile var runMs, shuffleBytes, spillBytes = 0L
  }

  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val execStack = new ConcurrentHashMap[Long, String]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    val execId = prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L)
    // the result stage is the one this job created, so it carries the
    // job's own call site; a SQL job started on a helper thread falls
    // back to the call site its SQL execution recorded
    val own = e.stageInfos.sortBy(_.stageId).lastOption.map(_.details).getOrElse("")
    val stack =
      if (own.contains("graft.") || execId < 0) own
      else Option(execStack.get(execId)).getOrElse(own)
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    jobs.put(e.jobId, new Job(e.jobId, e.time, prop("spark.jobGroup.id").orNull,
      execId, stack))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j))).foreach { j =>
      j.synchronized {
        j.tasks += 1
        if (e.reason != Success) j.failedTasks += 1
        Option(e.taskMetrics).foreach { m =>
          j.runMs += m.executorRunTime
          j.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
            m.shuffleWriteMetrics.bytesWritten
          j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => execStack.put(s.executionId, s.details)
    case _                                 => ()
  }

  /** Waits for the bus, then hands over (and forgets) the jobs recorded
    * so far. */
  def take(sc: SparkContext): Seq[Job] = {
    org.apache.spark.perfbench.Bus.drain(sc)
    val out = jobs.values.asScala.toSeq.sortBy(_.id)
    jobs.clear(); stageJob.clear(); execStack.clear()
    out
  }

  private def layer(j: Job, spans: Map[String, String]): String =
    layerOf(j.stack).orElse(Option(j.group).flatMap(spans.get)).getOrElse("unattributed")

  /** One line per span: its jobs, their time and their split by layer. */
  def spanLines(js: Seq[Job], spans: Map[String, String]): Seq[String] =
    js.groupBy(j => Option(j.group).getOrElse("-")).toSeq.sortBy(_._2.head.id).map {
      case (g, gs) =>
        val t0 = gs.map(_.start).min
        val byLayer = gs.groupBy(layer(_, spans)).toSeq.sortBy(_._1)
          .map { case (l, ls) => s"$l=${ls.size}" }.mkString(" ")
        f"span $g module=${spans.getOrElse(g, "-")} jobs=${gs.size} " +
          f"job_s=${union(gs.map(j => (j.start, j.end)), t0, Long.MaxValue) / 1000.0}%.3f $byLayer"
    }

  /** Per-layer figures of one pass that ran from `t0` to `t1` (epoch ms);
    * `spans` maps each job group of the pass to the module it wraps. */
  def summarize(js: Seq[Job], t0: Long, t1: Long, spans: Map[String, String]): Map[String, Double] = {
    val wall = (t1 - t0).max(1L)
    val byLayer = js.groupBy(layer(_, spans))
    val m = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    var layerSum = 0.0
    Layers.foreach { l =>
      val ls = byLayer.getOrElse(l, Nil)
      val jobS = union(ls.map(j => (j.start, j.end)), t0, t1) / 1000.0
      layerSum += jobS
      m(s"$l.jobs") = ls.size
      m(s"$l.tasks") = ls.map(_.tasks).sum
      m(s"$l.failed_tasks") = ls.map(_.failedTasks).sum
      m(s"$l.busy_s") = ls.map(_.runMs).sum / 1000.0
      m(s"$l.job_s") = jobS
      m(s"$l.shuffle_mb") = ls.map(_.shuffleBytes).sum / 1048576.0
      m(s"$l.spill_mb") = ls.map(_.spillBytes).sum / 1048576.0
    }
    val idle = (wall - union(js.map(j => (j.start, j.end)), t0, t1)) / 1000.0
    m("driver.idle_s") = idle
    val memo = js.filter(j => isMemo(j.stack))
    m("queries.memo_jobs") = memo.size
    m("queries.memo_s") = union(memo.map(j => (j.start, j.end)), t0, t1) / 1000.0
    m("graph.cc_rounds") = ccRounds(js)
    m("trace.coverage_err") = math.abs(layerSum + idle - wall / 1000.0) / (wall / 1000.0)
    m.toMap
  }
}

object Tracer {
  /** The modules the benchmark reports, one layer each. */
  val Layers: Seq[String] = Seq("queries", "graph", "pipeline", "geo", "text",
    "dedup", "web", "media", "runtime", "operators", "outputs", "cli")

  /** `pkg.Class$.method(File.scala:12)` → `pkg.Class$`, without the
    * class-loader prefix Java may print (`app//`). */
  private def frameClass(frame: String): String = {
    val f = frame.substring(frame.lastIndexOf("//") + 1).stripPrefix("/")
    val call = f.takeWhile(_ != '(')
    call.substring(0, call.lastIndexOf('.').max(0))
  }

  /** Layer of the innermost frame that sits in a reported module. */
  def layerOf(stack: String): Option[String] =
    stack.linesIterator.map(frameClass).collectFirst {
      case c if c.startsWith("graft.") && Layers.contains(c.split('.')(1)) =>
        c.split('.')(1)
    }

  /** A job built while a memo computed its entry: every graft memo is a
    * `ConcurrentHashMap.computeIfAbsent`. */
  def isMemo(stack: String): Boolean = stack.contains("computeIfAbsent")

  /** Star rounds of the connected-components loop: every round ends in
    * one fingerprint action, and every call fingerprints once before the
    * loop, from an earlier line of `run`. Counted per SQL execution (an
    * action may run several jobs under adaptive execution). */
  def ccRounds(js: Seq[Tracer#Job]): Int = {
    val Fp = "graft.graph.ConnectedComponents$.fingerprint"
    val Run = """graft\.graph\.ConnectedComponents\$\.run\(ConnectedComponents\.scala:(\d+)\)""".r
    val calls = js.filter(_.stack.contains(Fp)).flatMap { j =>
      Run.findFirstMatchIn(j.stack).map(m => (j.execId, m.group(1).toInt))
    }.distinct
    if (calls.isEmpty) 0
    else {
      val firstLine = calls.map(_._2).min
      calls.count(_._2 != firstLine)
    }
  }

  /** Length (ms) of the union of `iv`, clipped to [t0, t1]. */
  def union(iv: Seq[(Long, Long)], t0: Long, t1: Long): Long = {
    val s = iv.map { case (a, b) => (a.max(t0), (if (b < 0) t1 else b).min(t1)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var cur: (Long, Long) = null
    s.foreach { case (a, b) =>
      if (cur == null) cur = (a, b)
      else if (a <= cur._2) cur = (cur._1, cur._2.max(b))
      else { total += cur._2 - cur._1; cur = (a, b) }
    }
    if (cur != null) total += cur._2 - cur._1
    total
  }
}
