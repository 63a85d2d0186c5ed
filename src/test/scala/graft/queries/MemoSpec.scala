package graft.queries

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import graft.{SparkEntry, SparkTestBase}

/** The cross-query memo registry ([[Derived.computeIfAbsent]]): nested
  * builds are legal whatever the keys, a repeat lookup is free, and
  * [[Derived.clearMemo]] releases what the builds left behind —
  * checkpoint blocks and staged temp files.
  */
class MemoSpec extends AnyFunSuite with SparkTestBase {
  private val sf001 = "/root/testdata/sf0.01"
  private val sf0001 = "/root/testdata/sf0.001"

  private def run(q: String, dir: String): Long =
    SparkEntry.queries(q)(spark, dir).count()

  test("q32 as the first query after a clear builds its nested entries") {
    // minhashcand → shinglesets: with these keys a nested
    // ConcurrentHashMap.computeIfAbsent threw "Recursive update"
    Derived.clearMemo()
    assert(run("q32_minhash_lsh", sf001) > 0L)
  }

  test("a nested build claims its RDDs once: no RDD belongs to two entries") {
    Derived.clearMemo()
    Derived.nodesDF(spark, sf0001) // nodes → edges
    val claims = Derived.claims
    assert(claims.keySet == Set(s"edges:$sf0001", s"nodes:$sf0001"))
    val ids = claims.values.flatten.toSeq
    assert(claims.values.forall(_.nonEmpty) && ids.distinct.size == ids.size, claims)
    Derived.clearMemo()
  }

  test("clearMemo unpersists every RDD the builds persisted") {
    Derived.clearMemo()
    val sc = spark.sparkContext
    // by id: the GC may drop unreachable RDDs of earlier suites meanwhile
    def ids() = sc.getPersistentRDDs.keySet.toSet
    val before = ids()
    Seq("q13_cc_labels", "q22_knn", "q32_minhash_lsh").foreach(run(_, sf001))
    assert((ids() -- before).nonEmpty)
    Derived.clearMemo()
    assert(ids() -- before == Set.empty)
  }

  test("a repeat lookup returns the same frame and runs no job") {
    Derived.clearMemo()
    val first = Derived.edgesDF(spark, sf0001)
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val marker = new java.util.concurrent.CountDownLatch(1)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") == "marker"))
          marker.countDown()
        else jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(l)
    try {
      val again = Derived.edgesDF(spark, sf0001)
      // the bus delivers in order: once the marker job is seen, any job
      // the repeat lookup ran has been seen too
      sc.setJobDescription("marker")
      try sc.parallelize(Seq(1)).count() finally sc.setJobDescription(null)
      assert(marker.await(60, java.util.concurrent.TimeUnit.SECONDS))
      assert(again eq first)
      assert(jobs.get == 0)
    } finally sc.removeSparkListener(l)
  }

  test("stream queries leave no staged or checkpoint temp dirs") {
    val roots = Seq(System.getProperty("java.io.tmpdir"), "/dev/shm")
      .map(new java.io.File(_)).filter(_.isDirectory)
    def entries(): Set[String] = roots.flatMap(r => Option(r.list()).toSeq.flatten
      .filter(n => n.startsWith("sharedq_") || n.startsWith("q34_events") ||
        n.contains("_ckpt"))
      .map(n => s"$r/$n")).toSet
    Derived.clearMemo()
    val before = entries()
    assert(run("q34_stream_window", sf0001) > 0L)
    assert(run("q62_stream_late", sf0001) > 0L)
    Derived.clearMemo()
    assert(entries() -- before == Set.empty)
    // q34 staged a symlink to the input: only the link went
    assert(new java.io.File(s"$sf0001/events.parquet").isFile)
  }
}
