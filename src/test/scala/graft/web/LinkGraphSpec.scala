package graft.web

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase

/** Distributed integer PageRank ≡ a sequential single-threaded replay
  * (exact equality — every op is integer floor arithmetic).
  */
class LinkGraphSpec extends AnyFunSuite with SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  test("local single-task replay == distributed rounds (all four hybrids)") {
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    // seeded random directed graph WITH ghost endpoints (dst div-ed below
    // the node range) — the adversarial case for the gate parity
    val rng = new scala.util.Random(11)
    val nodes = (1L to 60L).toDF("doc_id")
    val edges = Seq.fill(150)(
      (1L + rng.nextInt(60).toLong, rng.nextInt(75).toLong))
      .filter(e => e._1 != e._2).toDF("src", "dst")
    def m(df: DataFrame) = df.collect()
      .map(r => r.toSeq.head -> r.toSeq.tail).toMap
    // localMaxEdges = 0 forces the distributed loop; default localises
    assert(m(LinkGraph.kcorePeel(nodes, edges, 3, 4)) ==
      m(LinkGraph.kcorePeel(nodes, edges, 3, 4, localMaxEdges = 0L)))
    assert(m(LinkGraph.labelPropagation(nodes, edges, 3)) ==
      m(LinkGraph.labelPropagation(nodes, edges, 3, localMaxEdges = 0L)))
    assert(m(LinkGraph.bfsDepth(nodes, edges, 7L, 3)) ==
      m(LinkGraph.bfsDepth(nodes, edges, 7L, 3, localMaxEdges = 0L)))
    assert(m(LinkGraph.hyperBallRegisters(nodes, edges, 16, 2)) ==
      m(LinkGraph.hyperBallRegisters(nodes, edges, 16, 2,
        localMaxEdges = 0L)))
  }

  test("triangleCounts: K4 + pendant + isolated node, exact counts and cc") {
    import spark.implicits._
    // K4 on {0,1,2,3}, pendant 4-0, isolated 5
    val nodes = (0L to 5L).toDF("doc_id")
    val edges = Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (1L, 3L),
      (2L, 3L), (4L, 0L)).toDF("src", "dst")
    val got = LinkGraph.triangleCounts(nodes, edges)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // node 0: deg 4 (K4 + pendant), 3 triangles, cc = 6/12 = 0.5
    assert(got(0L) == ((4L, 3L, 500000L)))
    // nodes 1-3: deg 3, 3 triangles each, cc = 6/6 = 1.0
    for (v <- 1L to 3L) assert(got(v) == ((3L, 3L, 1000000L)))
    // pendant: deg 1, no triangle; isolated: all zeros
    assert(got(4L) == ((1L, 0L, 0L)))
    assert(got(5L) == ((0L, 0L, 0L)))
    // total triangle count: K4 has exactly 4 (each counted at 3 nodes)
    assert(got.values.map(_._2).sum == 12L)
    // duplicate + reversed edges collapse to the same undirected graph
    val noisy = edges.unionAll(
      Seq((1L, 0L), (3L, 2L), (0L, 1L)).toDF("src", "dst"))
    val got2 = LinkGraph.triangleCounts(nodes, noisy)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got2 == got)
  }

  test("5 rounds over the synthetic link set match a sequential replay exactly") {
    val docs = spark.read.parquet(s"$dir/documents.parquet").select("doc_id")
    val n = docs.count()
    val edges = LinkGraph.syntheticEdges(docs, n)
    val got = LinkGraph.pagerank(docs, edges, n)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    val ids = docs.collect().map(_.getLong(0)).toSeq
    val es = edges.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val outdeg = es.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    assert(outdeg.values.forall(d => d == 2L || d == 3L))
    val tele = 150000000L / n
    var rank = ids.map(_ -> 1000000000L / n).toMap
    for (_ <- 1 to 5) {
      val s = es.groupBy(_._2).view.mapValues(
        _.map { case (src, _) => rank(src) / outdeg(src) }.sum).toMap
      rank = ids.map(u => u -> (tele + 85L * s.getOrElse(u, 0L) / 100L)).toMap
    }
    assert(got == rank)
    // rank mass stays within teleport-truncation loss of 1e9 ppb
    val total = rank.values.sum
    assert(total > 800000000L && total <= 1000000000L)
  }

  test("hostGraph: intra-host links dropped, link/page counts exact") {
    import spark.implicits._
    val docs = Seq((0L, "a.com"), (1L, "a.com"), (2L, "b.com"),
      (3L, "c.com")).toDF("doc_id", "source")
    val edges = Seq((0L, 1L), (0L, 2L), (1L, 2L), (1L, 3L), (2L, 3L),
      (3L, 0L)).toDF("src", "dst")
    val got = LinkGraph.hostGraph(docs, edges)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    assert(got == Map(
      ("a.com", "b.com") -> ((2L, 2L)), // 0→2 and 1→2
      ("a.com", "c.com") -> ((1L, 1L)),
      ("b.com", "c.com") -> ((1L, 1L)),
      ("c.com", "a.com") -> ((1L, 1L)))) // 0→1 intra-host dropped
  }

  test("hyperBall registers = HLL of the exact out-2-ball, per node") {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$dir/documents.parquet").select("doc_id")
    val n = docs.count()
    val edges = LinkGraph.syntheticEdges(docs, n)
    val adj = edges.collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val hs = docs.select(col("doc_id"),
        graft.dedup.Dedup.md5h63(col("doc_id").cast("string")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def jRho(h: Long): (Int, Int) = {
      val w = h / 16
      val bitlen = 64 - java.lang.Long.numberOfLeadingZeros(w)
      ((h % 16).toInt, if (w == 0) 60 else 60 - bitlen)
    }
    val got = LinkGraph.hyperBallRegisters(docs, edges)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got.size == n)
    hs.keys.foreach { v =>
      val b1 = adj.getOrElse(v, Set.empty) + v
      val b2 = b1 ++ b1.flatMap(u => adj.getOrElse(u, Set.empty))
      val regs = Array.fill(16)(0)
      b2.foreach { u =>
        val (j, r) = jRho(hs(u)); if (r > regs(j)) regs(j) = r
      }
      val lo = (0 until 8).map(i => regs(i).toLong << (6 * i)).sum
      val hi = (8 until 16).map(i => regs(i).toLong << (6 * (i - 8))).sum
      assert(got(v) ==
        ((lo, hi, regs.count(_ == 0).toLong, regs.map(_.toLong).sum)),
        s"node $v ball=${b2.size}")
    }
  }

  test("kcorePeel: K4 core survives, pendant layers peel in cascade order") {
    import spark.implicits._
    // K4 on {0,1,2,3}; 4 hangs off 0 and 1 plus a pendant 5; 6,7 isolated
    val nodes = (0L to 7L).toDF("doc_id")
    val edges = Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (1L, 3L),
      (2L, 3L), (0L, 4L), (1L, 4L), (4L, 5L)).toDF("src", "dst")
    val got = LinkGraph.kcorePeel(nodes, edges, k = 3, rounds = 4)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2)))).toMap
    // round 1 removes deg<3: pendant 5 (deg 1) and isolated 6,7 (deg 0);
    // round 2 removes 4 (deg 3 → 2 after losing 5); K4 survives at deg 3
    assert(got == Map(
      0L -> ((0L, 3L)), 1L -> ((0L, 3L)), 2L -> ((0L, 3L)),
      3L -> ((0L, 3L)), 4L -> ((2L, 0L)), 5L -> ((1L, 0L)),
      6L -> ((1L, 0L)), 7L -> ((1L, 0L))))
    // duplicate/reversed edges collapse to the same undirected peel
    val noisy = edges.unionAll(Seq((1L, 0L), (4L, 0L)).toDF("src", "dst"))
    assert(LinkGraph.kcorePeel(nodes, noisy, k = 3, rounds = 4)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2)))).toMap == got)
  }

  test("bfsDepth: chain + branch, first-visit depth wins, unreached = -1") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // seed 0 (seedMod 7 → {0, 7}); directed chain 0→1→2→3, branch 0→2
    // (2 is reached at depth 1, NOT 2), 7→3 (3 at depth 1 beats 0's
    // 3-hop path), island 5→6 never reached from a seed
    val nodes = (0L to 7L).toDF("doc_id")
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (0L, 2L), (7L, 3L),
      (5L, 6L)).toDF("src", "dst")
    val got = LinkGraph.bfsDepth(nodes, edges, seedMod = 7L, rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(0L -> 0L, 1L -> 1L, 2L -> 1L, 3L -> 1L,
      4L -> -1L, 5L -> -1L, 6L -> -1L, 7L -> 0L))
    // depth is directed: in the reversed graph the seeds have no
    // out-edges at all, so only the seeds themselves carry a depth
    val rev = LinkGraph.bfsDepth(nodes,
      edges.select(col("dst").as("src"), col("src").as("dst")),
      seedMod = 7L, rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rev == Map(0L -> 0L, 1L -> -1L, 2L -> -1L, 3L -> -1L,
      4L -> -1L, 5L -> -1L, 6L -> -1L, 7L -> 0L))
  }

  test("labelPropagation: star collapses to hub label, ties break to min") {
    import spark.implicits._
    // star: hub 3 with leaves 0,1,2; separate triangle 4-5-6; isolated 7
    val nodes = (0L to 7L).toDF("doc_id")
    val edges = Seq((3L, 0L), (3L, 1L), (3L, 2L), (4L, 5L), (5L, 6L),
      (6L, 4L)).toDF("src", "dst")
    val r1 = LinkGraph.labelPropagation(nodes, edges, rounds = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // round 1: leaves adopt 3; hub's neighbour labels {0,1,2} tie → 0;
    // triangle nodes adopt min of their two neighbours; isolated keeps 7
    assert(r1 == Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 0L,
      4L -> 5L, 5L -> 4L, 6L -> 4L, 7L -> 7L))
    val r2 = LinkGraph.labelPropagation(nodes, edges, rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // round 2 (synchronous, from r1): leaves see hub's 0 → 0; hub sees
    // {3,3,3} → 3; triangle: 4 sees {4,4}→4, 5 sees {5,4}tie→4, 6 {5,4}→4
    assert(r2 == Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 3L,
      4L -> 4L, 5L -> 4L, 6L -> 4L, 7L -> 7L))
  }

  test("anchorText: deterministic token pick, empty-text sources dropped") {
    import spark.implicits._
    val docs = Seq((0L, "h1", "a b c"), (1L, "h2", "x y"), (2L, "h1", ""))
      .toDF("doc_id", "source", "text")
    val edges = Seq((0L, 1L), (0L, 2L), (1L, 2L), (2L, 0L))
      .toDF("src", "dst")
    val got = LinkGraph.anchorText(docs, edges, "doc_id", "text", "source")
      .collect().map(r => (r.getLong(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    // 0→1: toks(1 + 1%3 = 2) = "b"; 0→2: toks(1 + 2%3 = 3) = "c";
    // 1→2: toks(1 + 2%2 = 1) = "x"; 2→0 dropped (empty source text)
    assert(got == Map(
      (1L, "b") -> ((1L, 1L)),
      (2L, "c") -> ((1L, 1L)),
      (2L, "x") -> ((1L, 1L))))
  }

  test("synthetic edges: no self-links, distinct, deterministic") {
    val docs = spark.read.parquet(s"$dir/documents.parquet").select("doc_id")
    val n = docs.count()
    val e = LinkGraph.syntheticEdges(docs, n).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(e.forall { case (s, d) => s != d && d >= 0 && d < n })
    assert(e.distinct.length == e.length)
  }
}
