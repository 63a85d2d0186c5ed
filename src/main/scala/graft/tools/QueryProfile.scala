package graft.tools

import org.apache.spark.scheduler._

/** Per-query empirical breakdown (guide §1.1): run selected bench queries
  * with a listener that tallies jobs/stages/task-time, so optimization
  * targets the measured bottleneck (driver-round latency vs shuffle vs
  * compute) instead of a guess. Diagnostics only — the driver's Bench
  * surface is untouched.
  *
  * Env: QP_QUERIES=q45_betweenness,q109_suffix_array (default: top cost)
  *      SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS as Bench.
  */
object QueryProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val names = sys.env.getOrElse("QP_QUERIES",
      "q109_suffix_array,q120_betweenness_at_scale,q45_betweenness," +
        "q119_sharded_geom_cover,q18_upstream,q22_knn,q19_scc," +
        "q35_lump_pipeline").split(",").map(_.trim).filter(_.nonEmpty)
    val topN = sys.env.getOrElse("QP_TOP", "14").toInt
    val spark = graft.runtime.Sessions.local(cpus, cpus)

    final case class St(name: String, var n: Int = 0, var wallMs: Long = 0L,
      var taskMs: Long = 0L, var tasks: Int = 0, var shRead: Long = 0L,
      var shWrite: Long = 0L)
    val stages = new java.util.concurrent.ConcurrentHashMap[String, St]()
    final case class Jb(id: Int, var t0: Long = 0L, var t1: Long = 0L,
      var taskMs: Long = 0L, var sites: List[String] = Nil)
    val jobLog = new java.util.concurrent.ConcurrentHashMap[Int, Jb]()
    val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    @volatile var jobs = 0
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs += 1
        val jb = Jb(j.jobId, t0 = j.time)
        jobLog.put(j.jobId, jb)
        j.stageIds.foreach(sid => stageJob.put(sid, j.jobId))
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        Option(jobLog.get(j.jobId)).foreach(_.t1 = j.time)
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val i = sc.stageInfo
        // strip the callsite's line number-free label
        val key = i.name.split(" at ").toSeq match {
          case Seq(op, site) => op + " @ " + site
          case _ => i.name
        }
        val st = stages.computeIfAbsent(key, k => St(k))
        st.synchronized {
          st.n += 1
          st.wallMs += i.completionTime.getOrElse(0L) - i.submissionTime.getOrElse(0L)
          st.taskMs += i.taskMetrics.executorRunTime
          st.tasks += i.numTasks
          st.shRead += i.taskMetrics.shuffleReadMetrics.totalBytesRead
          st.shWrite += i.taskMetrics.shuffleWriteMetrics.bytesWritten
        }
        Option(stageJob.get(i.stageId)).flatMap(j => Option(jobLog.get(j)))
          .foreach { jb => jb.synchronized {
            jb.taskMs += i.taskMetrics.executorRunTime
            val site = key.split(" @ ").lastOption.getOrElse(key)
            if (!jb.sites.contains(site)) jb.sites = site :: jb.sites
          } }
      }
    }
    spark.sparkContext.addSparkListener(listener)

    for (name <- names) {
      graft.queries.Derived.clearMemo()
      stages.clear(); jobLog.clear(); stageJob.clear(); jobs = 0
      spark.sparkContext.setJobDescription(name)
      val t0 = System.nanoTime()
      val cnt = graft.SparkEntry.queries(name)(spark, sfDir).count()
      val dt = (System.nanoTime() - t0) / 1e9
      // drain the async listener bus before reading the tallies
      // (private API; poll until the tallies stop moving instead)
      var lastJobs = -1
      var lastN = -1
      while (jobs != lastJobs || stages.size != lastN) {
        lastJobs = jobs; lastN = stages.size
        Thread.sleep(300L)
      }
      println(f"%n=== $name  wall=$dt%.2f s  rows=$cnt  jobs=$jobs  " +
        f"stages=${stages.size}")
      import scala.jdk.CollectionConverters._
      val top = stages.values.asScala.toSeq.sortBy(-_.wallMs).take(topN)
      for (s <- top)
        println(f"  ${s.wallMs}%6d ms wall ${s.taskMs}%7d ms task " +
          f"n=${s.n}%-3d t=${s.tasks}%-4d shR=${s.shRead / 1024}%7d K " +
          f"shW=${s.shWrite / 1024}%7d K  ${s.name.take(110)}")
      if (sys.env.get("QP_JOBS").exists(_ == "1")) {
        println("  -- jobs (wall ms, task ms, sites) --")
        for (j <- jobLog.values.asScala.toSeq.sortBy(_.id))
          println(f"  job ${j.id}%4d ${j.t1 - j.t0}%6d ms ${j.taskMs}%7d task  " +
            j.sites.reverse.mkString(" | ").take(130))
      }
    }
    spark.stop()
  }
}
