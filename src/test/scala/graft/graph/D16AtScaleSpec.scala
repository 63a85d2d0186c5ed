package graft.graph

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase

/** Pins the D16 grouped-waterways scale path (DistContractDir → pillar
  * replay → distributed expansion) BYTE-IDENTICAL to the single-task walk
  * on topologies exercising every decision the walk makes: flow-ranked
  * junctions, lastSrc tiebreaks on equal flows, braided parallel chains,
  * cycles through a pillar, pure directed cycles (per-edge fallback
  * lines), self loops, and a seeded random DAG. Lengths and flows are
  * dyadic rationals so distributed and sequential sums agree exactly.
  */
class D16AtScaleSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  /** (src, dst, tag, len, flow) edge list. */
  private def fixtureEdges(seed: Long): Seq[(Long, Long, String, Double, Double)] = {
    val rng = new scala.util.Random(seed)
    def dy(i: Int): Double = 1.0 + (i % 7) * 0.25 // dyadic lengths
    val trunk = (1L until 12L).map(i => (i, i + 1, "R", dy(i.toInt), i * 0.5))
    // two tributaries into node 5 with EQUAL flow → lastSrc tiebreak
    val tribA = Seq((101L, 102L, "R", 1.25, 2.0), (102L, 5L, "R", 1.5, 3.0))
    val tribB = Seq((201L, 202L, "R", 1.0, 2.5), (202L, 5L, "R", 2.0, 3.0))
    // tributary into 8 with higher flow than the trunk in-edge
    val tribC = Seq((301L, 302L, "R", 0.75, 9.0), (302L, 8L, "R", 0.5, 9.5))
    // braid: two parallel chains 6→…→7
    val braid = Seq((6L, 401L, "R", 0.25, 1.0), (401L, 7L, "R", 0.25, 1.0),
      (6L, 402L, "R", 0.5, 4.0), (402L, 403L, "R", 0.5, 4.0),
      (403L, 7L, "R", 0.5, 4.0))
    // cycle through a pillar: 502 has through-traffic + a loop back
    val pillarCyc = Seq((501L, 502L, "P", 1.0, 1.0),
      (502L, 503L, "P", 1.0, 2.0), (503L, 504L, "P", 1.0, 2.0),
      (504L, 502L, "P", 1.0, 2.0), (502L, 505L, "P", 1.0, 3.0))
    // pure directed cycle (fallback lines) — own tag so its group is
    // just the cycle
    val pureCyc = Seq((601L, 602L, "C", 1.0, 1.0), (602L, 603L, "C", 1.0, 1.5),
      (603L, 601L, "C", 1.0, 2.0))
    // self loop on a through-node
    val selfLoop = Seq((701L, 702L, "S", 1.0, 1.0), (702L, 702L, "S", 0.5, 2.0),
      (702L, 703L, "S", 1.0, 3.0))
    // seeded random DAG with chain runs
    val dag = (0 until 70).flatMap { i =>
      val a = 800L + i
      val b = 800L + i + 1 + rng.nextInt(4)
      if (a == b) Nil
      else Seq((a, math.min(b, 874L), "D", dy(i), (i % 5) * 0.5))
    }.distinctBy(e => (e._1, e._2)).filter(e => e._1 != e._2)
    trunk ++ tribA ++ tribB ++ tribC ++ braid ++ pillarCyc ++ pureCyc ++
      selfLoop ++ dag
  }

  private def run(seed: Long, threshold: Long): Map[String, String] = {
    val es = fixtureEdges(seed)
    val tg = DownOps.tagGroupCC(
      es.map(e => (e._1, e._2, e._3)).toDF("src", "dst", "tag"))
    val lens = es.map(e => (e._1, e._2, e._4)).toDF("src", "dst", "len")
    val flows = es.map(e => (e._1, e._2, e._5)).toDF("src", "dst", "flow_m")
    val nids = es.flatMap(e => Seq(e._1, e._2)).distinct
    val nodes = nids.map(n => (n, (n % 97) * 0.001, (n % 89) * 0.002))
      .toDF("nid", "lat", "lon")
    WaterwayFeatures
      .groupedWaterwayFeatures(tg, lens, flows, nodes,
        sizeThreshold = threshold)
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
  }

  test("scale path ≡ single-task walk, byte-identical features") {
    for (seed <- Seq(5L, 23L)) {
      val local = run(seed, Long.MaxValue)
      val scale = run(seed, 1L) // every group through the scale path
      assert(local.nonEmpty && local.keySet == scale.keySet, s"seed $seed")
      for ((k, v) <- local)
        assert(scale(k) == v, s"seed $seed group $k:\n${scale(k)}\nvs\n$v")
    }
  }

  test("hybrid gate routes per group; union consistent") {
    // threshold 6: small groups local, the trunk group takes scale
    assert(run(5L, 6L) == run(5L, Long.MaxValue))
  }

  test("scale path is parallelism-invariant") {
    val old = spark.conf.get("spark.sql.shuffle.partitions")
    val a = try {
      spark.conf.set("spark.sql.shuffle.partitions", "1"); run(23L, 1L)
    } finally spark.conf.set("spark.sql.shuffle.partitions", old)
    val b = try {
      spark.conf.set("spark.sql.shuffle.partitions", "7"); run(23L, 1L)
    } finally spark.conf.set("spark.sql.shuffle.partitions", old)
    assert(a == b && a.nonEmpty)
  }

  test("minLengthM filters identically on both paths") {
    val local = runMin(5L, Long.MaxValue, Some(8.0))
    val scale = runMin(5L, 1L, Some(8.0))
    assert(local == scale && local.nonEmpty)
  }

  private def runMin(seed: Long, threshold: Long, minLen: Option[Double])
      : Map[String, String] = {
    val es = fixtureEdges(seed)
    val tg = DownOps.tagGroupCC(
      es.map(e => (e._1, e._2, e._3)).toDF("src", "dst", "tag"))
    val lens = es.map(e => (e._1, e._2, e._4)).toDF("src", "dst", "len")
    val flows = es.map(e => (e._1, e._2, e._5)).toDF("src", "dst", "flow_m")
    val nids = es.flatMap(e => Seq(e._1, e._2)).distinct
    val nodes = nids.map(n => (n, (n % 97) * 0.001, (n % 89) * 0.002))
      .toDF("nid", "lat", "lon")
    WaterwayFeatures
      .groupedWaterwayFeatures(tg, lens, flows, nodes, minLengthM = minLen,
        sizeThreshold = threshold)
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
  }

  test("DistContractDir: chains, braids, cycles, self loops") {
    val es = Seq(
      // chain 1→2→3→4 (2,3 contract)
      (0L, 1L, 2L, 1.0, 1.0), (0L, 2L, 3L, 2.0, 2.0), (0L, 3L, 4L, 4.0, 3.0),
      // branch at 4 keeps 4 a pillar
      (0L, 4L, 5L, 1.0, 4.0), (0L, 4L, 6L, 1.0, 5.0),
      // pure cycle 10→11→12→10
      (0L, 10L, 11L, 1.0, 1.0), (0L, 11L, 12L, 1.0, 2.0),
      (0L, 12L, 10L, 1.0, 3.0),
      // self loop keeps 20 a pillar
      (0L, 19L, 20L, 1.0, 1.0), (0L, 20L, 20L, 0.5, 2.0),
      (0L, 20L, 21L, 1.0, 3.0),
      // same nids, different group: contract independently
      (1L, 2L, 3L, 8.0, 8.0))
      .toDF("g", "src", "dst", "len", "flow")
    val got = DistContract.contractDirected(es, spark).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getSeq[Long](3).toList, r.getDouble(4), r.getDouble(5),
        r.getLong(6), r.getLong(7), r.getBoolean(8)))
      .toSet
    assert(got.contains((0L, 1L, 4L, List(2L, 3L), 7.0, 3.0, 3L, 3L, false)))
    assert(got.contains((0L, 10L, 10L, List(11L, 12L), 3.0, 3.0, 12L, 3L, true)))
    // self loop passes through; 19→20 and 20→21 stay pillar edges
    assert(got.contains((0L, 20L, 20L, Nil, 0.5, 2.0, 20L, 1L, false)))
    assert(got.contains((0L, 19L, 20L, Nil, 1.0, 1.0, 19L, 1L, false)))
    assert(got.contains((0L, 4L, 5L, Nil, 1.0, 4.0, 4L, 1L, false)))
    // group 1's lone edge is independent of group 0's chain through 2,3
    assert(got.contains((1L, 2L, 3L, Nil, 8.0, 8.0, 2L, 1L, false)))
    assert(got.size == 8)
  }
}
