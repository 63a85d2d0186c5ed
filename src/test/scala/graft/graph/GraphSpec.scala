package graft.graph

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.model.Edge

/** Micro-network golden fixtures (FIXTURES.md §3) pinning the
  * order-dependent reference semantics: census weights, contraction cuts,
  * duplicate-edge back-off, ring self-loop drop, CC labels = min nid.
  */
class GraphSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def waysDF(ws: (Long, Seq[Long])*) =
    ws.toSeq.toDF("wid", "nids")

  private def census(ws: (Long, Seq[Long])*): Map[Long, Long] =
    GraphBuild.degreeCensus(waysDF(ws: _*))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap

  private def edges(ws: (Long, Seq[Long])*): Set[(Long, Long, Seq[Long], Long)] =
    GraphBuild.canonicalUndirected(
      GraphBuild.contractedEdges(waysDF(ws: _*), spark))
      .collect().map(e => (e.src, e.dst, e.inter, e.wid)).toSet

  /** No tag on any edge: [[Flow.upstreamFlow]] splits equally. */
  private def untagged(e: org.apache.spark.sql.DataFrame) =
    e.withColumn("tag", lit(null).cast("string"))

  test("fx-chain: census weights match reference formula (first 1, interior 2, last 3)") {
    assert(census(1L -> Seq(1L, 2L, 3L, 4L, 5L)) ==
      Map(1L -> 1L, 2L -> 2L, 3L -> 2L, 4L -> 2L, 5L -> 3L))
  }

  test("fx-chain: contracts to a single pillar-to-pillar edge") {
    assert(edges(1L -> Seq(1L, 2L, 3L, 4L, 5L)) ==
      Set((1L, 5L, Seq(2L, 3L, 4L), 1L)))
  }

  test("fx-split-way: 3 consecutive ways lump into one component") {
    val es = edges(1L -> Seq(1L, 2L), 2L -> Seq(2L, 3L), 3L -> Seq(3L, 4L))
    assert(es.map(e => (e._1, e._2)) == Set((1L, 2L), (2L, 3L), (3L, 4L)))
    val labels = ConnectedComponents
      .run(es.toSeq.toDF("src", "dst", "inter", "wid").select("src", "dst"))
      .labels.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
  }

  test("fx-Y: junction is a pillar; three edges") {
    val c = census(1L -> Seq(1L, 2L), 2L -> Seq(3L, 2L), 3L -> Seq(4L, 2L))
    assert(c(2L) == 9L) // 3 + 3 + 3 (always-pillar last-node rule)
    val es = edges(1L -> Seq(1L, 2L), 2L -> Seq(3L, 2L), 3L -> Seq(4L, 2L))
    assert(es.map(e => (e._1, e._2)) == Set((1L, 2L), (2L, 3L), (2L, 4L)))
  }

  test("fx-dup-node: consecutive duplicate nodes are dropped (down/main.rs:385-393)") {
    assert(GraphBuild.segmentNids(1L, IndexedSeq(1L, 2L, 2L, 3L), _ => false) ==
      Seq(Edge(1L, 3L, Seq(2L), 1L)))
  }

  test("fx-ring: closed way contracts to a self-loop and is dropped (add_edge no-op)") {
    assert(edges(1L -> Seq(1L, 2L, 3L, 1L)).isEmpty)
  }

  test("fx-parallel-banks: duplicate contracted edge splits at its last interior node") {
    val es = edges(1L -> Seq(1L, 2L, 3L), 2L -> Seq(1L, 4L, 3L))
    // reference back-off produces (1,3 via 2), (1,4), (4,3)
    assert(es.map(e => (e._1, e._2, e._3)) ==
      Set((1L, 3L, Seq(2L)), (1L, 4L, Seq()), (3L, 4L, Seq())))
  }

  test("fx-two-comp: labels are component minima; singletons via labelsWithSingletons") {
    val e = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("src", "dst")
    val nodes = Seq(1L, 2L, 3L, 10L, 11L, 99L).toDF("nid")
    val labels = ConnectedComponents.labelsWithSingletons(e, nodes)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 99L -> 99L))
  }

  test("CC matches a local union-find on a seeded random graph; rounds deterministic") {
    val rng = new scala.util.Random(42)
    val es = Seq.fill(300)((rng.nextInt(100).toLong, rng.nextInt(100).toLong))
      .filter(p => p._1 != p._2)
    // local union-find
    val parent = Array.tabulate(100)(identity)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
    es.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = es.flatMap(p => Seq(p._1, p._2)).distinct
      .map(n => n -> {
        // component min over union-find
        val root = find(n.toInt)
        (0 until 100).filter(m => find(m) == root)
          .filter(m => es.exists(e => e._1 == m || e._2 == m)).min.toLong
      }).toMap
    val r1 = ConnectedComponents.run(es.toDF("src", "dst"))
    val r2 = ConnectedComponents.run(es.toDF("src", "dst"))
    val got = r1.labels.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == expected)
    assert(r1.rounds == r2.rounds, "round count must be deterministic")
    // hybrid gate: the single-task union-find path (default at this size)
    // and the star loop (forced via localMaxEdges = 0) emit identical
    // min-nid labels; the loop path reports its real round count
    val iter = ConnectedComponents.run(es.toDF("src", "dst"), localMaxEdges = 0L)
    val gotIter = iter.labels.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(gotIter == expected)
    assert(iter.rounds > 0)
    assert(r1.rounds == 0) // the local path is round-free by construction
  }

  test("CC gate 0 forces the star loop even on an empty edge set") {
    val none = Seq.empty[(Long, Long)].toDF("src", "dst")
    val r = ConnectedComponents.run(none, localMaxEdges = 0L)
    assert(r.rounds >= 1)
    assert(r.labels.count() == 0L)
  }

  test("CC fails loudly when the star loop hits maxRounds") {
    val chain = (1L until 40L).map(i => (i, i + 1)).toDF("src", "dst")
    val err = intercept[IllegalStateException](
      ConnectedComponents.run(chain, maxRounds = 1, localMaxEdges = 0L))
    assert(err.getMessage.contains("1 rounds"), err.getMessage)
  }

  test("fx-confluence: two streams joining (D5 upstream sums)") {
    val e = Seq((1L, 3L, 10.0), (2L, 3L, 20.0), (3L, 4L, 5.0))
      .toDF("src", "dst", "len")
    val up = Flow.upstreamFlow(untagged(e)).nodeUpstream
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(up == Map(1L -> 0.0, 2L -> 0.0, 3L -> 30.0, 4L -> 35.0))
  }

  test("fx-bifurcation: equal flow split over out-edges") {
    val e = Seq((1L, 2L, 10.0), (2L, 3L, 5.0), (2L, 4L, 7.0))
      .toDF("src", "dst", "len")
    val r = Flow.upstreamFlow(untagged(e))
    val up = r.nodeUpstream.collect().map(x => (x.getLong(0), x.getDouble(1))).toMap
    assert(up == Map(1L -> 0.0, 2L -> 10.0, 3L -> 10.0, 4L -> 12.0))
    assert(r.rounds == 3) // DAG depth — parallelism-invariant metric
  }

  test("Flow.upstreamFlow rejects cycles") {
    val e = Seq((1L, 2L, 1.0), (2L, 1L, 1.0)).toDF("src", "dst", "len")
    intercept[IllegalStateException] { Flow.upstreamFlow(untagged(e)) }
  }

  test("fx-delta ends: D7 end points") {
    val e = Seq((1L, 2L), (2L, 3L), (2L, 4L)).toDF("src", "dst")
    assert(Flow.endPoints(e).collect().map(_.getLong(0)).toSet == Set(3L, 4L))
  }

  test("fx-loop-directed: SCC finds the 3-cycle, drops singletons (kosaraju.rs:87)") {
    assert(Scc.tarjanLocal(Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L))) ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    val viaDf = Scc.run(Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L))
        .toDF("src", "dst"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(viaDf == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("SCC: two disjoint cycles get distinct min-nid roots") {
    val es = Seq((1L, 2L), (2L, 1L), (5L, 6L), (6L, 7L), (7L, 5L), (2L, 5L))
    assert(Scc.tarjanLocal(es) ==
      Map(1L -> 1L, 2L -> 1L, 5L -> 5L, 6L -> 5L, 7L -> 5L))
  }

  test("fx-bifurcation with flow-follows-tag: matched group keeps its flow") {
    // 1 -A-> 2; at 2: out A (2->3) and out B (2->4). A-inflow follows A;
    // no B inflow -> B gets 0 (down/main.rs:838-906)
    val e = Seq(
      (1L, 2L, 10.0, "A"), (2L, 3L, 5.0, "A"), (2L, 4L, 7.0, "B"))
      .toDF("src", "dst", "len", "tag")
    val r = Flow.upstreamFlow(e)
    val up = r.nodeUpstream.collect().map(x => (x.getLong(0), x.getDouble(1))).toMap
    assert(up == Map(1L -> 0.0, 2L -> 10.0, 3L -> 15.0, 4L -> 7.0))
    val flows = r.edgeFlow.collect()
      .map(x => ((x.getLong(0), x.getLong(1)), x.getDouble(4))).toMap
    assert(flows((2L, 3L)) == 10.0) // all of A's inflow
    assert(flows((2L, 4L)) == 0.0)  // B had no inflow
  }

  test("fx-bifurcation: unmatched inflow group splits over ALL out edges") {
    // inflow tag C at node 2; outs are A and B -> C splits equally
    val e = Seq(
      (1L, 2L, 10.0, "C"), (2L, 3L, 5.0, "A"), (2L, 4L, 7.0, "B"))
      .toDF("src", "dst", "len", "tag")
    val r = Flow.upstreamFlow(e)
    val flows = r.edgeFlow.collect()
      .map(x => ((x.getLong(0), x.getLong(1)), x.getDouble(4))).toMap
    assert(flows((2L, 3L)) == 5.0 && flows((2L, 4L)) == 5.0)
  }

  test("fx-bifurcation: matched groups + multiple outs per group") {
    // at node 9: in A=30 (3 edges of tag A out? no: outs: two A edges + one B)
    val e = Seq(
      (1L, 9L, 30.0, "A"), (2L, 9L, 6.0, "B"),
      (9L, 10L, 1.0, "A"), (9L, 11L, 1.0, "A"), (9L, 12L, 1.0, "B"))
      .toDF("src", "dst", "len", "tag")
    val r = Flow.upstreamFlow(e)
    val flows = r.edgeFlow.collect()
      .map(x => ((x.getLong(0), x.getLong(1)), x.getDouble(4))).toMap
    assert(flows((9L, 10L)) == 15.0 && flows((9L, 11L)) == 15.0) // A: 30/2
    assert(flows((9L, 12L)) == 6.0) // B: 6/1
  }

  test("D3 contractCycles rewires SCC members onto the min-nid root") {
    val e = Seq(
      (1L, 2L, 1.0, null), (2L, 3L, 1.0, null), (3L, 1L, 1.0, null),
      (3L, 4L, 2.0, null), (0L, 2L, 5.0, null))
      .toDF("src", "dst", "len", "tag")
    val scc = Scc.run(e.select("src", "dst"))
    val contracted = Flow.contractCycles(e, scc)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(contracted == Set((1L, 4L, 2.0), (0L, 1L, 5.0)))
  }

  test("D9 biggest-end assignment: max upstream wins, ties -> smaller end nid") {
    //   1 -> 2 -> 3(end, up=10)
    //        2 -> 4(end, up=50)     => 1,2 assigned to 4
    //   5 -> 6(end, up=10)          => tie vs end 3 impossible (5 only reaches 6)
    val e = Seq((1L, 2L), (2L, 3L), (2L, 4L), (5L, 6L)).toDF("src", "dst")
    val ends = Seq((3L, 10.0), (4L, 50.0), (6L, 10.0)).toDF("nid", "upstream_m")
    val got = Flow.biggestEndAssignment(e, ends)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(1L -> 4L, 2L -> 4L, 3L -> 3L, 4L -> 4L, 5L -> 6L, 6L -> 6L))
  }

  test("D9 tie-break: equal end upstreams -> smaller end nid") {
    val e = Seq((1L, 2L), (1L, 3L)).toDF("src", "dst")
    val ends = Seq((2L, 10.0), (3L, 10.0)).toDF("nid", "upstream_m")
    val got = Flow.biggestEndAssignment(e, ends)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got(1L) == 2L)
  }

  test("hybrid biggest-end == Pregel biggest-end on a seeded random DAG") {
    val rng = new scala.util.Random(7)
    val e = (0 until 400).map { _ =>
      val a = rng.nextInt(120).toLong
      val b = a + 1 + rng.nextInt(30) // ascending => acyclic
      (a, b)
    }.distinct.toDF("src", "dst")
    val ends = Flow.endPoints(e)
      .withColumn("upstream_m",
        org.apache.spark.sql.functions.expr("CAST(nid * 7 % 50 AS DOUBLE)"))
    def m(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2)))).toMap
    val pregel = m(Flow.biggestEndAssignment(e, ends))
    val hybridLocal = m(Flow.biggestEndAssignmentHybrid(e, ends))
    val hybridBig = m(Flow.biggestEndAssignmentHybrid(e, ends, sizeThreshold = 1))
    assert(hybridLocal == pregel) // bit-identical: comparison-only values
    assert(hybridBig == pregel)
  }

  test("deep-chain upstream: append-only delta log survives compaction") {
    // 70-node chain → 69 frontier rounds, crossing the 64-round delta
    // compaction boundary; exact values prove no delta is lost or duped
    val n = 70
    val e = (1 until n).map(i => (i.toLong, (i + 1).toLong, 1.0))
      .toDF("src", "dst", "len")
      .withColumn("tag", org.apache.spark.sql.functions.lit(null).cast("string"))
    val r = Flow.upstreamFlow(e)
    assert(r.rounds == n) // one ready node per round on a pure chain
    val up = r.nodeUpstream.collect().map(x => (x.getLong(0), x.getDouble(1))).toMap
    assert(up(n.toLong) == (n - 1).toDouble)
    assert(up(1L) == 0.0)
    assert(up(35L) == 34.0)
    assert(r.edgeFlow.count() == (n - 1).toLong)
  }

  test("deep-chain upstream: per-round state I/O is frontier-sized") {
    // a chain of n nodes runs n rounds with a 1-node frontier; if any
    // per-round step re-shuffled the PENDING state (as the old `acc`
    // frame semi-join did), total shuffle records would be Ω(n²) — the
    // frontier's only per-round shuffle is its push, so the total must
    // stay O(n) for every operator that runs on it
    val shuffled = new java.util.concurrent.atomic.AtomicLong(0L)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) shuffled.addAndGet(m.shuffleWriteMetrics.recordsWritten)
      }
    }
    val n = 300
    val chain = (1 until n).map(i => (i.toLong, (i + 1).toLong, 1.0))
      .toDF("src", "dst", "len")
    val runs: Seq[(String, () => Unit)] = Seq(
      "upstream" -> { () =>
        val r = Flow.upstreamFlow(chain.withColumn("tag", lit(null).cast("string")))
        r.nodeUpstream.count()
        r.edgeFlow.count()
        assert(r.rounds == n)
      },
      "mouth distances" -> { () =>
        assert(DistLongest.mouthDistances(chain).count() == n)
      },
      "biggest-end" -> { () =>
        val ends = Seq((n.toLong, 42.0)).toDF("nid", "upstream_m")
        assert(Flow.biggestEndAssignment(chain.select("src", "dst"), ends)
          .count() == n)
      })
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try for ((name, run) <- runs) {
      org.apache.spark.rdd.GraftBusBridge.drain(sc)
      shuffled.set(0L)
      run()
      org.apache.spark.rdd.GraftBusBridge.drain(sc)
      // linear bound with slack (setup shuffles + per-round frontier of
      // 1); a pending-state reshuffle would be ≥ n²/2 = 45,000 records
      assert(shuffled.get() < 20L * n,
        s"$name shuffled ${shuffled.get()} records over $n rounds — " +
          "per-round work is no longer frontier-sized")
    } finally sc.removeSparkListener(listener)
  }

  test("biggest-end assignment rejects cycles, like its local twin") {
    val e = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val ends = Seq((1L, 5.0)).toDF("nid", "upstream_m")
    intercept[IllegalArgumentException] {
      Flow.biggestEndLocal(Seq((1L, 2L), (2L, 1L)), Seq((1L, 5.0)))
    }
    intercept[IllegalStateException] { Flow.biggestEndAssignment(e, ends) }
  }

  test("deep-chain biggest-end: long propagation over co-partitioned state") {
    val n = 40
    val e = (1 until n).map(i => (i.toLong, (i + 1).toLong)).toDF("src", "dst")
    val ends = Seq((n.toLong, 42.0)).toDF("nid", "upstream_m")
    val got = Flow.biggestEndAssignment(e, ends)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got.size == n)
    assert((1 to n).forall(i => got(i.toLong) == n.toLong))
  }

  test("hybrid upstream == frontier upstream on a seeded random tagged DAG") {
    val rng = new scala.util.Random(11)
    val es = (0 until 400).map { _ =>
      val a = rng.nextInt(120).toLong
      val b = a + 1 + rng.nextInt(30) // ascending => acyclic
      (a, b, (rng.nextInt(500) + 1).toDouble,
        if (rng.nextBoolean()) "x" else "y")
    }.distinct.toDF("src", "dst", "len", "tag")
    val frontier = Flow.upstreamFlow(es)
    val hybridLocal = Flow.upstreamFlowHybrid(es) // all comps small -> local
    val hybridBig = Flow.upstreamFlowHybrid(es, sizeThreshold = 1) // all big -> frontier
    def nodeMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), math.round(r.getDouble(1) * 1e6))).toMap
    def flowMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => ((r.getLong(0), r.getLong(1), r.getString(2)),
        math.round(r.getDouble(4) * 1e6))).toMap
    assert(nodeMap(hybridLocal.nodeUpstream) == nodeMap(frontier.nodeUpstream))
    assert(flowMap(hybridLocal.edgeFlow) == flowMap(frontier.edgeFlow))
    assert(nodeMap(hybridBig.nodeUpstream) == nodeMap(frontier.nodeUpstream))
    assert(hybridLocal.rounds == 0) // zero driver rounds on the local path
  }

  test("upstreamLocal applies the exact split rule sequentially") {
    val es = Seq(
      (1L, 2L, 10.0, Some("A")), (2L, 3L, 5.0, Some("A")), (2L, 4L, 7.0, Some("B")))
    val (up, flows) = Flow.upstreamLocal(es)
    assert(up == Map(1L -> 0.0, 2L -> 10.0, 3L -> 15.0, 4L -> 7.0))
    val f = flows.map(x => ((x._1, x._2), x._5)).toMap
    assert(f((2L, 3L)) == 10.0 && f((2L, 4L)) == 0.0)
  }
}
