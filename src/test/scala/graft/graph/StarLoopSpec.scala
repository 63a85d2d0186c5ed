package graft.graph

import java.util.concurrent.atomic.AtomicInteger
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import graft.SparkTestBase

/** The star loop of [[ConnectedComponents.run]], forced by a gate of 0:
  * its round count on fixed graphs is pinned, so a new way of running the
  * large-star/small-star algorithm must run the same algorithm, and each
  * round costs one Spark job.
  */
class StarLoopSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private val path = (0L until 63L).map(i => (i, i + 1L))
  private val star = (1L to 63L).map(i => (0L, i))
  private val cycles = (0L until 10L).map(i => (i, (i + 1L) % 10L)) ++
    (20L until 27L).map(i => (i, if (i == 26L) 20L else i + 1L))
  private val messy = Seq((5L, 3L), (3L, 5L), (5L, 3L), (3L, 3L), (7L, 7L),
    (9L, 1L), (1L, 9L), (9L, 5L), (2L, 2L), (2L, 8L), (8L, 2L), (8L, 2L))

  private def unionFind(es: Seq[(Long, Long)]): Map[Long, Long] = {
    val uf = new Local.MinUnionFind
    es.foreach { case (a, b) => if (a != b) uf.union(a, b) }
    uf.labels.toMap
  }

  test("pinned rounds on fixed graphs; labels ≡ a min-root union-find") {
    val pinned = Seq(
      "64-node path" -> (path, 7),
      "63-leaf star" -> (star, 2),
      "two disjoint cycles" -> (cycles, 4),
      "duplicates and self-loops" -> (messy, 3),
      "no edges" -> (Seq.empty[(Long, Long)], 1))
    for ((name, (es, rounds)) <- pinned) {
      val r = ConnectedComponents.run(es.toDF("src", "dst"), localMaxEdges = 0L)
      val labels = r.labels.as[(Long, Long)].collect().toMap
      assert(r.rounds == rounds, s"$name: ${r.rounds} rounds")
      assert(labels == unionFind(es), name)
    }
  }

  test("one job per star round, plus one before the loop and one to read the labels") {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    val e = path.toDF("src", "dst")
    org.apache.spark.rdd.GraftBusBridge.drain(sc)
    sc.addSparkListener(l)
    val r = try {
      val r = ConnectedComponents.run(e, localMaxEdges = 0L)
      r.labels.collect()
      org.apache.spark.rdd.GraftBusBridge.drain(sc)
      r
    } finally sc.removeSparkListener(l)
    assert(jobs.get <= r.rounds + 2, s"${jobs.get} jobs for ${r.rounds} rounds")
  }
}
