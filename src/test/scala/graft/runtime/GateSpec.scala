package graft.runtime

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase
import graft.geo.{CellIndex, Raster}
import graft.graph.{ConnectedComponents, DownOps, Flow, GraphBuild, Local, WaterwayFeatures}
import graft.pipeline.Extras
import graft.text.SuffixArray
import graft.web.LinkGraph

/** Every size gate routes through [[Gate]]: the rule itself, and — as a
  * property over small random graphs with ghost endpoints (edge nids with
  * no node row), plus the empty graph and single-edge components — each
  * gated operator answers the same at its default limit as at limit 0,
  * which forces the distributed side. Left out: the LumpWays shard
  * geometry (one feature per segment above the limit, by design),
  * betweenness on cyclic groups above the limit (a fixed merge order;
  * betweenness is checked on forests) and cosine top-k (its ANN side is
  * approximate).
  */
class GateSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  /** Nodes 1..n have rows (with a position); ids above n are ghosts. */
  private final case class G(n: Int, edges: Seq[(Long, Long)]) {
    def nodes: DataFrame = (1L to n.toLong)
      .map(v => (v, 10.0 + (v * 7919 % 1000) / 997.0, 20.0 + (v * 104729 % 1000) / 991.0))
      .toDF("nid", "lat", "lon")
    /** Acyclic orientation (small id → large id). */
    def dag: Seq[(Long, Long)] =
      edges.map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct
  }

  private val empty = G(0, Nil)
  private val singles = G(8, Seq((1L, 2L), (4L, 3L), (5L, 6L), (7L, 9L)))

  /** Random graphs over 2..24 nodes plus up to 3 ghost ids. */
  private val graphs: Gen[G] = for {
    n <- Gen.choose(2, 24)
    m <- Gen.choose(1, 2 * n)
    es <- Gen.listOfN(m, Gen.zip(Gen.choose(1L, n + 3L), Gen.choose(1L, n + 3L)))
  } yield G(n, es.filter(e => e._1 != e._2).distinct)

  /** Random forests: each node hangs off an earlier one or starts a tree;
    * a few leaves are ghosts. */
  private val forests: Gen[G] = for {
    n <- Gen.choose(2, 24)
    parents <- Gen.listOfN(n - 1, Gen.choose(0, 2))
    picks <- Gen.listOfN(n - 1, Gen.choose(0, 1000))
    ghosts <- Gen.choose(0, 2)
  } yield {
    val es = (2 to n).zip(parents.zip(picks)).collect {
      case (v, (p, r)) if p > 0 => ((r % (v - 1)) + 1).toLong -> v.toLong
    } ++ (1 to ghosts).map(i => i.toLong -> (n + i).toLong)
    G(n, es)
  }

  /** `same(g)` on the fixed graphs and on `samples` random ones. */
  private def holds(gen: Gen[G], fixed: Seq[G], samples: Int = 3)(same: G => Boolean): Unit = {
    fixed.foreach(g => assert(same(g), s"fixed graph $g"))
    val params = Test.Parameters.default.withMinSuccessfulTests(samples)
      .withWorkers(1).withInitialSeed(Seed(20261018L))
    val res = Test.check(params, Prop.forAllNoShrink(gen)(same))
    assert(res.passed, res.status.toString)
  }

  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq.map {
      case s: scala.collection.Seq[_] => s.toList
      case v => v
    }).toSet

  private def labels(g: G): DataFrame = {
    val uf = new Local.MinUnionFind
    g.edges.foreach(e => uf.union(e._1, e._2))
    uf.labels.toSeq.toDF("nid", "comp")
  }

  test("the rule: local iff 0 < n <= limit; 0 forces; negative throws") {
    val g = Gate("t", 3L)
    assert(Seq(0L, 1L, 3L).forall(g.admits) && !g.admits(4L))
    assert(!Gate("t", 0L).admits(0L) && !Gate("t", 0L).admits(1L))
    val e = intercept[IllegalArgumentException](Gate("t", -1L))
    assert(e.getMessage.contains("t"))
    // whole frame: bounded count; limit 0 reads nothing
    assert(g.admits(spark.range(3).toDF()) && !g.admits(spark.range(4).toDF()))
    assert(!Gate("t", 0L).admits(spark.range(0).toDF()))
    // per group: small ∪ big partitions the rows by key
    val df = Seq((1L, 1), (1L, 2), (2L, 3), (3L, 4), (3L, 5), (3L, 6), (3L, 7))
      .toDF("k", "v")
    val s = Gate("t", 2L).split(df, "k")
    assert(s.anyBig)
    assert(s.small(df).as[(Long, Int)].collect().toSet ==
      Set((1L, 1), (1L, 2), (2L, 3)))
    assert(s.big(df).as[(Long, Int)].collect().toSet ==
      Set((3L, 4), (3L, 5), (3L, 6), (3L, 7)))
    assert(!Gate("t", 4L).split(df, "k").anyBig)
    assert(Gate("t", 0L).split(df, "k").small(df).isEmpty)
  }

  test("every gated operator rejects a negative limit") {
    val e = Seq((1L, 2L)).toDF("src", "dst")
    val n = Seq((1L, 0.0, 0.0), (2L, 1.0, 1.0)).toDF("nid", "lat", "lon")
    val calls: Seq[() => Any] = Seq(
      () => ConnectedComponents.run(e, localMaxEdges = -1L),
      () => LinkGraph.kcorePeel(n.select(col("nid").as("doc_id")), e, localMaxEdges = -1L),
      () => GraphBuild.compressedNumNodes(e.withColumn("comp", lit(1L)), localPerCompMax = -1L),
      () => Extras.frames(e, n, spark, sizeThreshold = -1L),
      () => SuffixArray.rankWindows(SuffixArray.windows(
        Seq((1L, "abc")).toDF("doc_id", "text"), "doc_id", "text", 16), 16, directSortMax = -1L),
      () => Raster.vectorize(Seq((0L, 0L, 0L, 1L)).toDF("cell", "x", "y", "v"), 1L, 2,
        driverMaxRes = -1L))
    calls.foreach(c => intercept[IllegalArgumentException](c()))
  }

  test("cc-local: union-find ≡ star loop") {
    holds(graphs, Seq(empty, singles)) { g =>
      val e = g.edges.toDF("src", "dst")
      rows(ConnectedComponents.run(e).labels) ==
        rows(ConnectedComponents.run(e, localMaxEdges = 0L).labels)
    }
  }

  test("web-local: single-task replays ≡ distributed rounds") {
    holds(graphs, Seq(empty, singles)) { g =>
      val nodes = g.nodes.select(col("nid").as("doc_id"))
      val e = g.edges.toDF("src", "dst")
      def both(f: Long => DataFrame) = rows(f(LinkGraph.LocalMaxEdges)) == rows(f(0L))
      both(LinkGraph.kcorePeel(nodes, e, 2, 3, _)) &&
        both(LinkGraph.labelPropagation(nodes, e, 3, _)) &&
        both(LinkGraph.bfsDepth(nodes, e, 5L, 3, _)) &&
        both(LinkGraph.hyperBallRegisters(nodes, e, 16, 2, _))
    }
  }

  test("compress-local: per-component compress ≡ closed form") {
    holds(graphs, Seq(empty, singles)) { g =>
      val e = labels(g).withColumnRenamed("nid", "src")
        .join(g.dag.toDF("src", "dst"), Seq("src"))
      rows(GraphBuild.compressedNumNodes(e)) ==
        rows(GraphBuild.compressedNumNodes(e, localPerCompMax = 0L))
    }
  }

  test("frames-local: exact port ≡ hull + contraction path") {
    holds(graphs, Seq(empty, singles)) { g =>
      val e = g.edges.toDF("src", "dst")
      rows(Extras.frames(e, g.nodes, spark)) ==
        rows(Extras.frames(e, g.nodes, spark, sizeThreshold = 0L))
    }
  }

  test("betweenness-local: exact port ≡ contraction path on forests") {
    holds(forests, Seq(empty, singles)) { g =>
      val e = g.edges.toDF("src", "dst")
      def run(limit: Long) = Extras.betweenness(e, g.nodes, spark, sizeThreshold = limit)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) ->
          (r.getSeq[Long](3).toList, r.getDouble(4))).toMap
      val (local, dist) = (run(Local.MaxLocalGroupRows), run(0L))
      local.keySet == dist.keySet && local.forall { case (k, (chain, v)) =>
        dist(k)._1 == chain && math.abs(dist(k)._2 - v) <= 1e-9 * math.max(1.0, math.abs(v))
      }
    }
  }

  test("tag-cc-local: per-tag union-find ≡ composite-key CC") {
    holds(graphs, Seq(empty, singles)) { g =>
      val e = g.edges.toDF("src", "dst")
        .withColumn("tag", expr("CASE (src + dst) % 3 WHEN 0 THEN 'a' WHEN 1 THEN 'b' END"))
      val wl = Some(labels(g))
      rows(DownOps.tagGroupCC(e, wl)) == rows(DownOps.tagGroupCC(e, wl, sizeThreshold = 0L))
    }
  }

  /** The DAG with dyadic lengths and a two-value tag. */
  private def dagEdges(g: G): DataFrame = g.dag.toDF("src", "dst")
    .withColumn("len", (col("src") * 3 + col("dst")) % 7 * 0.25 + 0.5)
    .withColumn("tag", when(col("src") % 2 === 0, "x").otherwise("y"))

  test("upstream-local and biggest-end-local: local walks ≡ Pregel rounds") {
    holds(graphs, Seq(empty, singles)) { g =>
      val e = dagEdges(g)
      def up(limit: Long) = {
        val r = Flow.upstreamFlowHybrid(e, sizeThreshold = limit)
        (r.nodeUpstream.collect().map(x => x.getLong(0) -> math.round(x.getDouble(1) * 1e6)).toMap,
          r.edgeFlow.collect().map(x => (x.getLong(0), x.getLong(1), x.getString(2)) ->
            math.round(x.getDouble(4) * 1e6)).toMap)
      }
      val ends = Flow.endPoints(e).withColumn("upstream_m", (col("nid") % 5).cast("double"))
        .union(Seq((g.n + 9L, 1.0)).toDF("nid", "upstream_m")) // an end on no edge
      def best(limit: Long) = rows(Flow.biggestEndAssignmentHybrid(
        e.select("src", "dst"), ends, sizeThreshold = limit))
      up(Flow.HybridMaxEdges) == up(0L) && best(Flow.HybridMaxEdges) == best(0L)
    }
  }

  test("d16-local: grouped waterway walk ≡ contraction replay") {
    holds(graphs, Seq(empty, singles)) { g =>
      val e = dagEdges(g)
      val tg = DownOps.tagGroupCC(e.select("src", "dst", "tag"))
      val flows = e.select(col("src"), col("dst"), (col("len") * 2).as("flow_m"))
      def run(limit: Long) = rows(WaterwayFeatures.groupedWaterwayFeatures(
        tg, e.select("src", "dst", "len"), flows, g.nodes, sizeThreshold = limit))
      run(Local.MaxLocalGroupRows) == run(0L)
    }
  }

  test("d17-local: per-basin flood ≡ topo-DP + binary lifting") {
    holds(graphs, Seq(empty, singles), samples = 2) { g =>
      val e = dagEdges(g).select("src", "dst", "len")
      rows(Extras.longestSourceMouth(e, spark)) ==
        rows(Extras.longestSourceMouth(e, spark, sizeThreshold = 0L))
    }
  }

  test("suffix-direct: direct sort ≡ prefix doubling") {
    val texts = Gen.listOfN(6, Gen.stringOfN(12, Gen.oneOf('a', 'b')))
    val params = Test.Parameters.default.withMinSuccessfulTests(3)
      .withWorkers(1).withInitialSeed(Seed(20261018L))
    val res = Test.check(params, Prop.forAllNoShrink(texts) { ts =>
      val w = SuffixArray.windows(ts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text"), "doc_id", "text", 16).localCheckpoint(true)
      rows(SuffixArray.rankWindows(w, 16)) == rows(SuffixArray.rankWindows(w, 16, directSortMax = 0L))
    })
    assert(res.passed, res.status.toString)
  }

  test("raster-driver: driver union-find ≡ tile-adjacency CC") {
    val res = 3
    val grids = Gen.listOfN(30, Gen.zip(Gen.choose(0L, 7L), Gen.choose(0L, 7L), Gen.choose(1L, 3L)))
    val params = Test.Parameters.default.withMinSuccessfulTests(3)
      .withWorkers(1).withInitialSeed(Seed(20261018L))
    val check = Prop.forAllNoShrink(grids) { cs =>
      val cells = cs.distinctBy(c => (c._1, c._2))
        .map { case (x, y, v) => (CellIndex.pack(x, y, res), x, y, v) }
        .toDF("cell", "x", "y", "v")
      rows(Raster.vectorize(cells, 2L, res)) == rows(Raster.vectorize(cells, 2L, res, driverMaxRes = 0L))
    }
    val r = Test.check(params, check)
    assert(r.passed, r.status.toString)
  }
}
