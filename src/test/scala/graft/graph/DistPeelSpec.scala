package graft.graph

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestBase

/** Sharded mega-component geometry (SURVEY §7.5.4): the distributed peel
  * must cover every edge exactly once, be a pure function of the data
  * (identical at any partitioning), and its closed-form num_nodes must
  * match `Local.compress` on every structural class.
  */
class DistPeelSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  // --- closed-form num_nodes vs Local.compress ---------------------------

  private def localNumNodes(edges: Seq[(Long, Long)]): Long =
    Local.compress(edges.map(e => (e._1, e._2, Seq.empty[Long])), _ => false)
      .flatMap(e => Seq(e._1, e._2)).distinct.size.toLong

  // localPerCompMax = 0 forces the distributed closed form; the default
  // routes fixture-size components through the hybrid local path — both
  // are asserted against Local.compress below
  private def distNumNodes(edges: Seq[(Long, Long)]): Long = {
    val df = edges.toDF("src", "dst").withColumn("comp", lit(1L))
    val dist = GraphBuild.compressedNumNodes(df, localPerCompMax = 0L)
      .collect().head.getAs[Long]("num_nodes")
    val hybrid = GraphBuild.compressedNumNodes(df)
      .collect().head.getAs[Long]("num_nodes")
    assert(dist == hybrid, "hybrid local path must equal the closed form")
    dist
  }

  private val structuralCases: Seq[(String, Seq[(Long, Long)])] = Seq(
    "chain" -> Seq((1L, 2L), (2L, 3L), (3L, 4L)),
    "Y" -> Seq((1L, 2L), (2L, 3L), (3L, 4L), (3L, 5L)),
    "cycle with pillars" ->
      Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 9L), (3L, 8L)),
    "parallel chains, no direct edge" ->
      Seq((1L, 2L), (2L, 10L), (1L, 3L), (3L, 10L), (1L, 4L), (4L, 10L),
        (1L, 7L), (10L, 8L)),
    "parallel chains + direct edge" ->
      Seq((1L, 2L), (2L, 10L), (1L, 3L), (3L, 10L), (1L, 10L),
        (1L, 7L), (10L, 8L)),
    "pillar loop" ->
      Seq((5L, 6L), (6L, 7L), (7L, 5L), (5L, 1L), (5L, 2L)),
    "pure cycle" -> Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 1L)),
    "two pure cycles sharing nothing" ->
      Seq((1L, 2L), (2L, 3L), (3L, 1L), (11L, 12L), (12L, 13L), (13L, 11L)))

  for ((name, edges) <- structuralCases)
    test(s"compressedNumNodes matches Local.compress: $name") {
      assert(distNumNodes(edges) == localNumNodes(edges), name)
    }

  test("compressedNumNodes matches Local.compress: components sharing chain nids") {
    // component 1: parallel chains 100-1-101 and 100-2-101 plus the direct
    // edge; component 2: the path 50-1-2-51 through the same chain nids
    val comps = Seq(
      1L -> Seq((1L, 100L), (1L, 101L), (2L, 100L), (2L, 101L), (100L, 101L)),
      2L -> Seq((1L, 50L), (1L, 2L), (2L, 51L)))
    val df = comps.flatMap { case (c, es) => es.map(e => (c, e._1, e._2)) }
      .toDF("comp", "src", "dst")
    val want = comps.map { case (c, es) => c -> localNumNodes(es) }.toMap
    for (limit <- Seq(0L, 2000000L)) {
      val got = GraphBuild.compressedNumNodes(df, localPerCompMax = limit)
        .collect().map(r => r.getAs[Long]("comp") -> r.getAs[Long]("num_nodes")).toMap
      assert(got == want, s"localPerCompMax $limit")
    }
  }

  test("compressedNumNodes on a seeded random multi-component graph") {
    val rng = new scala.util.Random(7)
    val edges = (0 until 400).map { _ =>
      val c = rng.nextInt(8) * 1000L
      val a = c + rng.nextInt(40)
      val b = c + rng.nextInt(40)
      (math.min(a, b), math.max(a, b))
    }.distinct.filter(e => e._1 != e._2)
    val labels = ConnectedComponents.run(edges.toDF("src", "dst")).labels
    val byComp = edges.toDF("src", "dst")
      .join(labels.withColumnRenamed("nid", "src"), Seq("src"))
    val got = GraphBuild.compressedNumNodes(byComp.select("comp", "src", "dst"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val gotDist = GraphBuild.compressedNumNodes(
        byComp.select("comp", "src", "dst"), localPerCompMax = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val compOf = labels.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val expected = edges.groupBy(e => compOf(e._1)).view.mapValues(localNumNodes).toMap
    assert(got == expected)
    assert(gotDist == expected)
  }

  // --- multigraph stitcher ------------------------------------------------

  test("peelMultigraph covers every super-edge exactly once (parallels + loops)") {
    val edges = Seq(
      (10L, 1L, 2L), (11L, 1L, 2L), // parallel pair
      (12L, 2L, 3L), (13L, 3L, 3L), // self-loop at 3
      (14L, 3L, 4L))
    val walks = DistPeel.peelMultigraph(edges)
    val used = walks.flatten.map(_._1)
    assert(used.sorted == edges.map(_._1).sorted) // exactly once
    // each walk is a connected trail: consecutive super-edges share the
    // junction vertex implied by the reversed flags
    walks.foreach { walk =>
      var cur = {
        val (eid, rev) = walk.head
        val (a, b) = (edges.find(_._1 == eid).get._2, edges.find(_._1 == eid).get._3)
        if (rev) a else b
      }
      walk.drop(1).foreach { case (eid, rev) =>
        val e = edges.find(_._1 == eid).get
        val (from, to) = if (rev) (e._3, e._2) else (e._2, e._3)
        assert(from == cur, s"walk breaks at $eid")
        cur = to
      }
    }
  }

  // --- distributed peel ----------------------------------------------------

  /** grid graph: (r,c) nodes, right+down edges — one big component. */
  private def gridEdges(n: Int): Seq[(Long, Long)] = {
    def nid(r: Int, c: Int) = (r * 1000 + c + 1).toLong
    val right = for { r <- 0 until n; c <- 0 until n - 1 }
      yield (nid(r, c), nid(r, c + 1))
    val down = for { r <- 0 until n - 1; c <- 0 until n }
      yield (nid(r, c), nid(r + 1, c))
    right ++ down
  }

  private def peelInput(edges: Seq[(Long, Long)], chunkOf: Long => Long) =
    edges.map { case (a, b) =>
      (1L, chunkOf(a), a, b, Seq(a, b),
        Seq(a.toDouble / 1e6, b.toDouble / 1e6),
        Seq(a.toDouble / 1e6, b.toDouble / 1e6))
    }.toDF("comp", "chunk", "src", "dst", "nids", "lats", "lons")

  private def coveredPairs(out: Array[org.apache.spark.sql.Row]): Seq[(Long, Long)] =
    out.toSeq.flatMap { r =>
      val nids = r.getAs[collection.Seq[Long]]("nids")
      nids.sliding(2).collect {
        case collection.Seq(a, b) => (math.min(a, b), math.max(a, b))
      }
    }

  test("peelSegments covers every edge exactly once across chunks") {
    val edges = gridEdges(8).distinct.filter(e => e._1 != e._2)
    val out = DistPeel.peelSegments(
      peelInput(edges, a => a % 5), spark).collect()
    val canon = edges.map(e => (math.min(e._1, e._2), math.max(e._1, e._2)))
    assert(coveredPairs(out).sorted == canon.sorted)
    // segment runs: seg k>0 starts where seg k−1 ended
    out.groupBy(r => r.getLong(1)).foreach { case (_, segs) =>
      val sorted = segs.sortBy(_.getLong(2))
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getAs[collection.Seq[Long]]("nids").last ==
            b.getAs[collection.Seq[Long]]("nids").head)
        case _ =>
      }
    }
  }

  test("peelSegments is a pure function of the data (partitioning-invariant)") {
    val edges = gridEdges(7).distinct.filter(e => e._1 != e._2)
    def run(parts: String) = {
      val old = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", parts)
      try DistPeel.peelSegments(
        peelInput(edges.toSeq, a => a % 4).repartition(parts.toInt), spark)
        .collect().map(_.toString).sorted.toSeq
      finally spark.conf.set("spark.sql.shuffle.partitions", old)
    }
    assert(run("2") == run("7"))
  }

  test("stitch guard fails loudly above maxStitch") {
    val edges = gridEdges(6).distinct.filter(e => e._1 != e._2)
    val ex = intercept[org.apache.spark.SparkException] {
      DistPeel.peelSegments(peelInput(edges, a => a % 7), spark,
        maxStitch = 2).collect()
    }
    assert(ex.getMessage.contains("stitch") ||
      Option(ex.getCause).exists(_.getMessage.contains("stitch")))
  }
}
