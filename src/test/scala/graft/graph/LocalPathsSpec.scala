package graft.graph

import org.scalatest.funsuite.AnyFunSuite

class LocalPathsSpec extends AnyFunSuite {

  // straight line of 5 nodes on the equator + a shortcut
  private val pos: LocalPaths.Pos = Map(
    1L -> (0.0, 0.000), 2L -> (0.0, 0.001), 3L -> (0.0, 0.002),
    4L -> (0.0, 0.003), 5L -> (0.0, 0.004),
    6L -> (0.001, 0.002)) // off-line node

  test("P4 A*: follows the shorter route and reports its length") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (1L, 6L), (6L, 5L))
    val adj = LocalPaths.havAdjacency(edges, pos)
    val Some((path, len)) = LocalPaths.aStar(adj, pos, 1L, 5L)
    // direct chain = 4 segments ≈ 444.8 m; via 6 = 2 diagonals ≈ 497 m
    assert(path == Seq(1L, 2L, 3L, 4L, 5L))
    assert(math.abs(len - 4 * 111.19508) < 0.01)
    assert(LocalPaths.aStar(adj, pos, 1L, 99L).isEmpty)
  }

  test("P2 as-crow-flies: first line spans the farthest pair") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (3L, 6L))
    val lines = LocalPaths.linesAsCrowFlies(edges, pos)
    assert(lines.head == Seq(1L, 2L, 3L, 4L, 5L)) // farthest pair (1,5)
    assert(lines.tail.flatten.toSet == Set(3L, 6L))
    val covered = lines.flatMap(_.sliding(2).map(p =>
      (math.min(p(0), p(1)), math.max(p(0), p(1))))).toSet
    assert(covered == edges.map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).toSet)
  }

  test("P6 frames: hull points connected by shortest paths") {
    // square 1-2-5-6 with interior chain
    val sqPos: LocalPaths.Pos = Map(
      1L -> (0.0, 0.0), 2L -> (0.0, 0.01), 3L -> (0.005, 0.005),
      4L -> (0.01, 0.0), 5L -> (0.01, 0.01))
    val edges = Seq((1L, 2L), (1L, 4L), (2L, 5L), (4L, 5L), (1L, 3L), (3L, 5L))
    val lines = LocalPaths.frames(edges, sqPos)
    assert(lines.nonEmpty)
    val covered = lines.flatMap(_.sliding(2).map(p =>
      (math.min(p(0), p(1)), math.max(p(0), p(1))))).toSet
    // every frame edge must be a real graph edge
    val real = edges.map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).toSet
    assert(covered.subsetOf(real))
    // the hull corners must all appear
    assert(Set(1L, 2L, 4L, 5L).subsetOf(lines.flatten.toSet))
  }

  test("P7 farthest-point sampling is deterministic and spread out") {
    val verts = Seq(1L, 2L, 3L, 4L, 5L)
    val s1 = LocalPaths.farthestPointSample(verts, pos, 3)
    val s2 = LocalPaths.farthestPointSample(verts, pos, 3)
    assert(s1 == s2)
    assert(s1.head == 1L)      // seeded at min nid
    assert(s1(1) == 5L)        // farthest from 1
  }

  test("P8 betweenness: middle edges of a chain score highest") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    val b = LocalPaths.betweenness(edges, pos)
    // middle edge (2,3)/(3,4) lies on more shortest paths than (1,2)
    assert(b((2L, 3L)) > b((1L, 2L)))
    assert(b((3L, 4L)) > b((4L, 5L)))
    assert(b((2L, 3L)) == b((3L, 4L))) // symmetric chain
  }

  test("P8 betweenness: bridge between two cliques dominates") {
    val cliquePos: LocalPaths.Pos = Map(
      1L -> (0.0, 0.0), 2L -> (0.0, 0.001), 3L -> (0.001, 0.0),
      4L -> (0.0, 0.01), 5L -> (0.0, 0.011), 6L -> (0.001, 0.01))
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L), (4L, 6L),
      (3L, 4L))
    val b = LocalPaths.betweenness(edges, cliquePos)
    val bridge = b((3L, 4L))
    assert(edges.map(e => (math.min(e._1, e._2), math.max(e._1, e._2)))
      .filter(_ != (3L, 4L)).forall(e => b.getOrElse(e, 0.0) < bridge))
  }
}
