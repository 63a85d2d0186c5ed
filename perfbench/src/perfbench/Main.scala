package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: set up, one cold pass, then warm passes
  * for `--seconds`, in a closed loop with one client. Prints one JSON
  * line with the end-to-end metrics, or with `--trace 1` the per-layer
  * ones. `perfbench/run.py` builds the classes and starts this JVM.
  */
object Main {
  final case class Opts(
      workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: Path, data: Path, digests: Path, master: String,
      injectFail: Option[String], record: Boolean)

  /** Set-up is repeated this many times and its median reported. */
  val SetupReps = 3
  /** Warm passes every run makes, however short the window. The passes
    * get faster for several passes as the JIT warms up; two passes of
    * either workload outlast the 5 s window of BENCHMARK.json, so every
    * run takes its median over the same passes. */
  val MinWarm = 2

  final case class Pass(index: Int, wallS: Double, heapMb: Double, ok: Boolean,
      traced: Boolean, layers: Map[String, Double])

  def main(argv: Array[String]): Unit = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val o = parse(argv)
    val code =
      try run(o, jvmStart)
      catch { case e: Throwable =>
        System.err.println(s"[perfbench] run failed: $e")
        e.printStackTrace(System.err)
        3
      }
    System.exit(code)
  }

  private def parse(argv: Array[String]): Opts = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def req(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    Opts(req("workload"), req("seed").toLong, req("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", Paths.get(req("work")), Paths.get(req("data")),
      Paths.get(req("digests")), m.getOrElse("master", "local[4]"),
      m.get("inject-fail"), m.getOrElse("record", "0") == "1")
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Heap in use right after a forced full GC, read from the collectors'
    * own post-collection figures, which later allocation cannot inflate. */
  private def liveHeapMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
  }

  private def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  def run(o: Opts, jvmStart: Long): Int = {
    val cores = o.master.stripPrefix("local[").stripSuffix("]")
    val spark = SparkSession.builder()
      .master(o.master)
      .appName(s"perfbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", o.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", o.work.resolve("warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", o.work.resolve("hadoop").toString)
      .getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0

    val w = Workloads(o.workload, o.work, o.data)
    val prepS = (1 to SetupReps).map { _ =>
      val t = System.nanoTime(); w.prepare(spark, o.seed); (System.nanoTime() - t) / 1e9
    }
    val setupS = sessionS + median(prepS)
    log(f"setup: session $sessionS%.3f s, prepare ${prepS.map(x => f"$x%.3f").mkString(" ")} s")

    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    def tmpEntries(): Set[Path] = {
      val s = Files.list(tmp)
      try s.toArray.map(_.asInstanceOf[Path]).toSet finally s.close()
    }
    val tmpBase = tmpEntries()
    val recorded = Recorded.load(o.digests)
    val ops = w.ops(spark, o.seed)
    val tracer = if (o.trace) Some(new Tracer) else None

    var attempted, failed = 0
    var mismatches = 0
    var firstDigests: Map[String, Digest] = Map.empty
    val leakedRdds, tmpLeaked = ArrayBuffer.empty[Double]
    val passes = ArrayBuffer.empty[Pass]

    def onePass(p: Int): Unit = {
      // traced runs trace the warm passes in the order T U U T, so the
      // tracing overhead is measured in the same window and the passes
      // getting faster as the JIT warms up cancels out of it
      val traced = tracer.isDefined && (p == 0 || (p - 1) % 4 % 3 == 0)
      tracer.filter(_ => traced).foreach { t => t.take(sc); sc.addSparkListener(t) }
      var ok = true
      val checks = ArrayBuffer.empty[(String, () => Digest)]
      val t0ms = System.currentTimeMillis()
      val t0 = System.nanoTime()
      ops.foreach { op =>
        attempted += 1
        sc.setJobGroup(s"p$p-${op.name}", op.name, interruptOnCancel = false)
        val s = System.nanoTime()
        try {
          if (o.injectFail.contains(op.name) && p == 1)
            throw new IllegalStateException("failure injected by --inject-fail")
          checks += op.name -> op.run()
          log(f"pass $p ${op.name} ${(System.nanoTime() - s) / 1e9}%.3f s")
        } catch { case e: Throwable =>
          failed += 1
          ok = false
          log(s"pass $p ${op.name} FAILED: $e")
          e.printStackTrace(System.err)
        } finally sc.clearJobGroup()
      }
      val wallS = (System.nanoTime() - t0) / 1e9
      val t1ms = System.currentTimeMillis()
      val layers = tracer.filter(_ => traced).map { t =>
        val js = t.take(sc)
        sc.removeSparkListener(t)
        val spans = ops.map(op => s"p$p-${op.name}" -> op.module).toMap
        t.spanLines(js, spans).foreach(log)
        t.summarize(js, t0ms, t1ms, spans)
      }.getOrElse(Map.empty)
      val heapMb = liveHeapMb()

      // untimed output checks
      val digests = checks.map { case (n, c) => n -> c() }.toMap
      if (o.record) digests.toSeq.sortBy(_._1).foreach { case (n, d) =>
        println(s"digest\t${o.workload}\t${o.seed}\t$n\t$d") }
      if (firstDigests.isEmpty) firstDigests = digests
      val bad = digests.collect { case (n, d) if firstDigests.get(n).exists(_ != d) =>
        s"$n digest $d differs from the first pass's ${firstDigests(n)}" } ++
        w.checkPass(digests, recorded, o.seed)
      bad.foreach(b => log(s"pass $p WRONG OUTPUT: $b"))
      if (bad.nonEmpty) { mismatches += 1; ok = false }

      // isolate the next pass: drop the memos, then count and release
      // what the pass left behind
      graft.queries.Derived.clearMemo()
      graft.queries.QueriesGraph.clearMemo()
      val persisted = sc.getPersistentRDDs.values.toSeq
      leakedRdds += persisted.size
      persisted.foreach(_.unpersist(blocking = true))
      val leftover = tmpEntries() -- tmpBase
      tmpLeaked += leftover.size
      leftover.foreach { f => log(s"pass $p left ${tmp.relativize(f)} in the temp dir"); Workloads.rmTree(f) }
      System.gc()

      passes += Pass(p, wallS, heapMb, ok, traced, layers)
      log(f"pass $p wall $wallS%.3f s heap $heapMb%.1f MB rdds ${persisted.size} " +
        f"tmp ${leftover.size}${if (traced) " traced" else ""}${if (ok) "" else " FAILED"}")
    }

    onePass(0)
    val warmStart = System.nanoTime()
    var p = 1
    val minWarm = if (o.trace) 2 * MinWarm else MinWarm
    while ((System.nanoTime() - warmStart) / 1e9 < o.seconds || p <= minWarm) {
      onePass(p); p += 1
    }

    val ok = passes.filter(_.ok)
    val warm = ok.filter(_.index > 0)
    val metrics: Seq[(String, Double, String)] =
      if (!o.trace) {
        Seq(
          ("setup_s", setupS, "s"),
          ("cold_s", ok.find(_.index == 0).map(_.wallS).getOrElse(Double.NaN), "s"),
          ("wall_s", median(warm.map(_.wallS).toSeq), "s"),
          // the heap grows a little every pass, so it is read at the same
          // passes in every run, however many the window holds
          ("heap_mb", median(warm.filter(_.index <= MinWarm).map(_.heapMb).toSeq), "MB"))
      } else {
        val tw = warm.filter(_.traced)
        val keys = tw.headOption.map(_.layers.keys.toSeq.sorted).getOrElse(Nil)
        val cov = tw.map(_.layers("trace.coverage_err"))
        if (cov.exists(_ > 0.10)) {
          log(f"layer coverage off by ${cov.max * 100}%.1f%% of the pass wall time (> 10%%)")
          mismatches += 1
        }
        keys.filter(_ != "trace.coverage_err").map { k =>
          val unit =
            if (k.endsWith("_s")) "s" else if (k.endsWith("_mb")) "MB" else "count"
          (k, median(tw.map(_.layers(k)).toSeq), unit)
        } ++ Seq(
          ("runtime.leaked_rdds", median(leakedRdds.toSeq), "count"),
          ("runtime.tmp_leaked", median(tmpLeaked.toSeq), "count"),
          ("trace.coverage_err", if (cov.isEmpty) Double.NaN else cov.max, "ratio"),
          ("trace.overhead_s", median(tw.map(_.wallS).toSeq) -
            median(warm.filterNot(_.traced).map(_.wallS).toSeq), "s"))
      }
    spark.stop()
    val correct = mismatches == 0 && failed == 0 && metrics.forall(m => !m._2.isNaN)
    val body = metrics.map { case (k, v, u) =>
      s""""$k": {"value": ${if (v.isNaN) "null" else v.toString}, "unit": "$u"}""" }
    println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${body.mkString(", ")}}}""")
    0
  }
}
