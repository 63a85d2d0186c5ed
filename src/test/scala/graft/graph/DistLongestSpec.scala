package graft.graph

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase

/** Distributed D17: the topo-DP + binary-lifting path must equal the
  * local per-component Dijkstra flood — same (mouth, source, dist_m) AND
  * the same path under the shared tie rule — on every structural class,
  * including braids, multi-mouth deltas, and equal-distance diamonds.
  */
class DistLongestSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def run(edges: Seq[(Long, Long, Double)], threshold: Long) =
    graft.pipeline.Extras.longestSourceMouth(
      edges.toDF("src", "dst", "len"), spark, sizeThreshold = threshold)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getSeq[Long](3).toList))
      .sortBy(_._1).toList

  private val cases: Seq[(String, Seq[(Long, Long, Double)])] = Seq(
    "single chain" -> Seq((1L, 2L, 5.0), (2L, 3L, 7.0), (3L, 4L, 2.0)),
    "Y confluence" -> Seq(
      (1L, 3L, 5.0), (2L, 3L, 9.0), (3L, 4L, 2.0)),
    "delta (two mouths fed by one source)" -> Seq(
      (1L, 2L, 4.0), (2L, 3L, 1.0), (2L, 4L, 6.0)),
    "diamond, unequal arms" -> Seq(
      (1L, 2L, 1.0), (2L, 3L, 2.0), (2L, 4L, 5.0),
      (3L, 5L, 2.0), (4L, 5L, 2.0), (5L, 6L, 1.0)),
    // both arms total 4.0 from node 5 up to node 2: Local.dijkstra's
    // parent is the min (parent_dist, parent_id) predecessor — the
    // explicit distributed tie rule; paths must match exactly
    "diamond, equal arms" -> Seq(
      (1L, 2L, 1.0), (2L, 3L, 1.0), (2L, 4L, 3.0),
      (3L, 5L, 3.0), (4L, 5L, 1.0), (5L, 6L, 1.0)),
    "two components, multi-mouth" -> Seq(
      (1L, 2L, 5.0), (2L, 3L, 7.0),
      (10L, 11L, 1.0), (11L, 12L, 2.0), (11L, 13L, 8.0), (14L, 11L, 3.0)),
    "mouth with no true source (ring feeding out is acyclic here: star)" ->
      Seq((1L, 5L, 2.0), (2L, 5L, 3.0), (3L, 5L, 4.0), (4L, 5L, 5.0)),
    "long chain (exercises multi-level lifting)" ->
      (1L to 40L).sliding(2).map { case Seq(a, b) =>
        (a, b, (a % 5 + 1).toDouble)
      }.toSeq)

  test("distributed ≡ local on every structural case") {
    for ((name, es) <- cases) {
      val local = run(es, threshold = Long.MaxValue)
      val dist = run(es, threshold = 0L)
      assert(dist == local, s"case '$name': distributed != local")
    }
  }

  test("local pinned values on the equal-arm diamond") {
    // guards the shared tie rule against regressions in EITHER engine
    val local = run(cases.toMap.apply("diamond, equal arms"),
      threshold = Long.MaxValue)
    // d(2)=5 ties via 3 (parent_dist 4) and via 4 (parent_dist 2):
    // min parent_dist wins → the path runs through node 4
    assert(local == List((6L, 1L, 6.0, List(1L, 2L, 4L, 5L, 6L))))
  }

  test("hybrid splits by component: small local, big distributed, one frame") {
    // component A has 3 edges (≤ threshold → local), B has 6 (> → dist)
    val es = Seq(
      (1L, 2L, 5.0), (2L, 3L, 7.0), (3L, 4L, 2.0),
      (10L, 11L, 1.0), (11L, 12L, 2.0), (12L, 15L, 4.0),
      (13L, 11L, 3.0), (14L, 12L, 6.0), (15L, 16L, 1.0))
    val both = run(es, threshold = 4L)
    assert(both == run(es, threshold = Long.MaxValue))
    assert(both == run(es, threshold = 0L))
  }

  test("mouthDistances rejects cycles") {
    val e = Seq((1L, 2L, 1.0), (2L, 3L, 1.0), (3L, 2L, 1.0), (3L, 4L, 1.0))
      .toDF("src", "dst", "len")
    intercept[IllegalStateException] { DistLongest.mouthDistances(e) }
  }

  test("pathPositions unrolls a known chain") {
    val resolved = Seq(
      (5L, 9L, 0.0, None: Option[Long], 0L),
      (4L, 9L, 1.0, Some(5L), 1L),
      (3L, 9L, 2.0, Some(4L), 2L),
      (2L, 9L, 3.0, Some(3L), 3L),
      (1L, 9L, 4.0, Some(2L), 4L))
      .toDF("nid", "mouth", "dist", "parent", "hops")
    val targets = Seq((9L, 1L, 4L)).toDF("mouth", "nid", "hops")
    val pos = DistLongest.pathPositions(resolved, targets, spark)
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1).toList
    assert(pos == List((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)))
  }
}
