package graft.graph

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase
import graft.geo.Geo

/** Directed-engine output operators (SURVEY §2.6 D2/D6/D11/D12, §2.1
  * S8/S9/S10) on hand-verified fixtures.
  */
class DownOpsSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  // equator: 0.001° lon = 111.19508 m
  private val degM = 111195.08023353292 / 1000.0

  private def nodes = Seq(
    (1L, 0.0, 0.000), (2L, 0.0, 0.001), (3L, 0.0, 0.002),
    (4L, 0.0, 0.003), (5L, 0.0, 0.004))
    .toDF("nid", "lat", "lon")

  test("D6 edgeLengths expands intermediates (unlike undirected C5)") {
    val e = Seq((1L, 3L, Seq(2L)), (3L, 5L, Seq(4L))).toDF("src", "dst", "inter")
    val lens = DownOps.edgeLengths(e, nodes)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    // 1→2→3 = 2 segments of 0.001° each
    assert(math.abs(lens((1L, 3L)) - 2 * degM) < 1e-6)
    assert(math.abs(lens((3L, 5L)) - 2 * degM) < 1e-6)
  }

  test("D2 loops: 3-cycle props with sorted nodes string") {
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L)).toDF("src", "dst")
    val l = DownOps.loops(e, nodes).collect()
    assert(l.length == 1)
    val r = l.head
    assert(r.getAs[Long]("root_nid") == 1L)
    assert(r.getAs[Long]("num_nodes") == 3L)
    assert(r.getAs[String]("nodes") == "n1,n2,n3")
    // 1→2, 2→3 (0.001° each) + 3→1 (0.002°) = 4·degM
    assert(math.abs(r.getAs[Double]("length_m") - Geo.roundHalfAway(4 * degM, 1)) < 0.11)
  }

  test("D2 loops: num_nodes counts SEGMENTS — figure-eight SCC diverges") {
    // figure-eight through node 2: cycles 1↔2 and 2↔3 form ONE SCC with
    // 3 member nodes but 4 segments; the reference's num_nodes is
    // cycle.len() = the expanded segment count (down/main.rs:582)
    val e = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L)).toDF("src", "dst")
    val l = DownOps.loops(e, nodes).collect()
    assert(l.length == 1)
    assert(l.head.getAs[Long]("num_nodes") == 4L)
    assert(l.head.getAs[String]("nodes") == "n1,n2,n3")
    assert(l.head.getAs[Long]("root_nid") == 1L)
  }

  test("S8/S10 loop stats + OpenMetrics text") {
    val om = DownOps.openMetrics(
      Seq(("alpha", 1L, 222.4), ("beta", 2L, 10.0)), 1700000000L)
    assert(om.contains("# TYPE waterwaymap_loops_count gauge"))
    assert(om.contains("""waterwaymap_loops_count{area="alpha"} 1 1700000000"""))
    assert(om.contains("""waterwaymap_loops_length_m{area="beta"} 10.0 1700000000"""))
    assert(om.endsWith("# EOF\n"))
  }

  test("S9 ends ranking: upstream desc, >1m filter, 7dp coords") {
    val ends = Seq((1L, 500.0), (3L, 900.0), (5L, 0.5)).toDF("nid", "upstream_m")
    val r = DownOps.endsRanked(ends, nodes)
      .collect().map(x => (x.getLong(0), x.getDouble(1), x.getLong(2)))
    assert(r.toSet == Set((3L, 900.0, 1L), (1L, 500.0, 2L))) // 0.5 filtered
  }

  test("D11 upstream mini-segments: running values along the chain") {
    val flows = Seq((1L, 3L, Seq(2L), 100.0)).toDF("src", "dst", "inter", "flow_m")
    val segs = DownOps.upstreamSegments(flows, nodes)
      .orderBy("from_upstream_m")
      .collect().map(r => (r.getAs[Long]("seg_from_nid"), r.getAs[Long]("seg_to_nid"),
        r.getAs[Double]("from_upstream_m"), r.getAs[Double]("to_upstream_m")))
    assert(segs.length == 2)
    assert(segs(0) == (1L, 2L, 100.0, Geo.roundHalfAway(100.0 + degM, 1)))
    assert(segs(1)._1 == 2L && segs(1)._2 == 3L)
    assert(segs(1)._3 == Geo.roundHalfAway(100.0 + degM, 1))
    assert(segs(1)._4 == Geo.roundHalfAway(100.0 + 2 * degM, 1))
  }

  test("D12 tag-group CC: connectivity AND same tag value") {
    val e = Seq(
      (1L, 2L, "A"), (2L, 3L, "A"), // group A, min 1
      (3L, 4L, "B"),                // group B via node 3 — separate group
      (10L, 11L, "A"))              // disconnected A group, min 10
      .toDF("src", "dst", "tag")
    val g = DownOps.tagGroupCC(e)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), (r.getString(2), r.getLong(3))))
      .toMap
    assert(g((1L, 2L)) == ("A", 1L))
    assert(g((2L, 3L)) == ("A", 1L))
    assert(g((3L, 4L)) == ("B", 3L))
    assert(g((10L, 11L)) == ("A", 10L))
  }

  test("C10 spike removal: degree-1 chains peel off, keep-set pins") {
    val es = Seq((1L, 2L), (2L, 3L), (3L, 4L), (3L, 1L), (4L, 5L))
    // 5 is a spike; then 4 becomes degree-1 → removed; triangle 1-2-3 stays
    val out = Local.removeSpikes(es).toSet
    assert(out == Set((1L, 2L), (2L, 3L), (3L, 1L)))
    val kept = Local.removeSpikes(es, _ == 5L).toSet
    assert(kept == es.toSet) // pinning 5 keeps the whole chain
  }

  test("D14 stream levels: codes follow upstream-desc BFS order") {
    // group DAG: 1 (sink, up 100) ← 2 (up 60), 1 ← 3 (up 80); 2 ← 4
    val flows = Seq((1L, 2L), (1L, 3L), (2L, 4L))
    val up = Map(1L -> 100.0, 2L -> 60.0, 3L -> 80.0, 4L -> 10.0)
    val lv = DownOps.streamLevels(flows, up, Seq(1L))
    assert(lv(1L) == (0, Seq(1)))
    assert(lv(3L) == (1, Seq(1, 1))) // larger upstream child first
    assert(lv(2L) == (1, Seq(1, 2)))
    assert(lv(4L) == (2, Seq(1, 2, 1)))
    assert(DownOps.streamLevelCodeStr(Seq(1, 2, 1)) == "1.2.1")
  }

  test("D10 grouped-ends: main stem follows max flow, side lines peel") {
    //  1 →(5) 3 →(20) 4(end);  2 →(10) 3   — main stem at 3 takes flow 10 (from 2)
    val es = Seq((1L, 3L, 5.0), (2L, 3L, 10.0), (3L, 4L, 20.0))
    val lines = DownOps.groupedEndLines(es, 4L)
    assert(lines.head == Seq(2L, 3L, 4L)) // max-flow in-edge wins at 3
    assert(lines.tail == Seq(Seq(1L, 3L)))
  }

  test("D10 distributed: lines bucketed per assigned end") {
    val flows = Seq((1L, 2L, 1.0), (2L, 3L, 2.0), (10L, 11L, 1.0))
      .toDF("src", "dst", "flow_m")
    val assign = Seq((1L, 3L), (2L, 3L), (3L, 3L), (10L, 11L), (11L, 11L))
      .toDF("nid", "end_nid")
    val r = DownOps.groupedEnds(flows, assign)
      .collect().map(x => (x.getLong(0), x.getSeq[Long](2)))
    assert(r.toSet == Set((3L, Seq(1L, 2L, 3L)), (11L, Seq(10L, 11L))))
  }

  test("D16 grouped waterways: through-path, cum length, upstream stats") {
    val tg = Seq((1L, 2L, "A", 1L), (2L, 3L, "A", 1L), (2L, 4L, "A", 1L))
      .toDF("src", "dst", "tag", "tag_group_nid")
    val lens = Seq((1L, 2L, 10.0), (2L, 3L, 5.0), (2L, 4L, 30.0))
      .toDF("src", "dst", "len")
    val flows = Seq((1L, 2L, 0.0), (2L, 3L, 5.0), (2L, 4L, 5.0))
      .toDF("src", "dst", "flow_m")
    val r = DownOps.groupedWaterways(tg, lens, flows).head()
    assert(r.getAs[Double]("cum_length_m") == 45.0)
    assert(r.getAs[Double]("length_m") == 40.0) // 1→2→4 longest through-path
    assert(r.getAs[Long]("n_sources") == 1L && r.getAs[Long]("n_sinks") == 2L)
    assert(r.getAs[Double]("max_upstream_m") == 5.0)
  }

  test("D16 grouped-waterway features: nested relationship JSON byte parity") {
    // B main river 1→2→3 with trib A 5→2 joining at node 2
    val tg = Seq((1L, 2L, "B", 1L), (2L, 3L, "B", 1L), (5L, 2L, "A", 5L))
      .toDF("src", "dst", "tag", "tag_group_nid")
    val lens = Seq((1L, 2L, 10.0), (2L, 3L, 5.0), (5L, 2L, 10.0))
      .toDF("src", "dst", "len")
    val flows = Seq((1L, 2L, 0.0), (2L, 3L, 20.0), (5L, 2L, 0.0))
      .toDF("src", "dst", "flow_m")
    val feats = WaterwayFeatures
      .groupedWaterwayFeatures(tg, lens, flows, nodes)
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(feats.keySet == Set("A#5", "B#1"))
    val b = feats("B#1")
    // props keys in serde_json (BTreeMap) alphabetical order
    assert(b.contains(
      """"tributaries":[{"confluences":[{"lat":0.0,"lon":0.001,"nid":2,"upstream_m":10.0}],""" +
        """"inflow_m":10.0,"min_nid":2,"stream_level_code":[1,1],"tag_group_value":"A"}]"""),
      b)
    assert(b.contains(
      """"distributaries_sea":[{"lat":0.0,"lon":0.002,"nid":3,"upstream_m":25.0}]"""), b)
    assert(b.contains(""""stream_level":0""") && b.contains(""""stream_level_code_str":"1""""))
    assert(b.contains(""""cum_length_m":15.0""") && b.contains(""""length_m":15.0"""))
    assert(b.contains(""""max_upstream_m":20.0""") && b.contains(""""mean_upstream_m":10.0"""))
    // geometry: one merged line 1→2→3
    assert(b.contains(
      """"coordinates":[[[0.000000, 0.000000],[0.001000, 0.000000],[0.002000, 0.000000]]]"""), b)
    val a = feats("A#5")
    assert(a.contains(""""stream_level":1""") && a.contains(""""stream_level_code":[1,1]"""))
    assert(a.contains(
      """"parent_rivers":[{"confluences":[{"lat":0.0,"lon":0.004,"nid":5,"upstream_m":0.0}],""" +
        """"min_nid":1,"stream_level_code":[1],"tag_group_value":"B"}]"""), a)
    // alphabetical key order of the top-level props
    val propsPart = a.stripPrefix("""{"properties":{""").takeWhile(_ != '[')
    val keys = """"([a-z_0-9]+)":""".r
      .findAllMatchIn(propsPart).map(_.group(1)).toSeq
    assert(keys == keys.sorted, keys)
  }

  test("D10 grouped-end features: props + max-straight-line split") {
    val flows = Seq((1L, 2L, 0.0, 5.0), (2L, 3L, 5.0, 10.0))
      .toDF("src", "dst", "flow_m", "len")
    val assign = Seq((1L, 3L), (2L, 3L), (3L, 3L)).toDF("nid", "end_nid")
    val endMeta = Seq((3L, 15.0)).toDF("end_nid", "end_upstream_m")
    val f = DownOps.groupedEndFeatures(flows, assign, endMeta, nodes, Nil)
      .collect().map(_.getString(2))
    assert(f.length == 1)
    // from = flow(1→2) = 0; to = flow(2→3) + len(2→3) = 15; avg 7.5
    assert(f.head.contains(""""avg_upstream_m":7.5"""), f.head)
    assert(f.head.contains(""""end_nid":3,"end_upstream_m":15.0,"from_upstream_m":0.0,"to_upstream_m":15.0"""))
    // max-distance split (main.rs:1522-1544): the line is cut AFTER the
    // node that exceeds the cap, and a fresh line continues from there —
    // start-to-tip 1→3 is ~222m, cap 120m ⇒ [1,2,3] emitted, walk
    // restarts at 1 and picks up 0→1 as its own line
    val lines = DownOps.groupedEndLines(
      Seq((0L, 1L, 0.0), (1L, 2L, 1.0), (2L, 3L, 5.0)), 3L,
      Map(0L -> (0.0, -0.001), 1L -> (0.0, 0.0),
        2L -> (0.0, 0.001), 3L -> (0.0, 0.002)),
      maxDistanceM = Some(120.0))
    assert(lines == Seq(Seq(1L, 2L, 3L), Seq(0L, 1L)), lines)
  }

  test("D17 longest-source-mouth features: chunking + river_system props") {
    import graft.pipeline.Extras
    val edges = Seq(
      (1L, 2L, 100.0, Some("Amazon"), "Amazon#1", true, 1L),
      (2L, 3L, 50.0, None: Option[String], "#2", true, 0L),
      (3L, 4L, 200.0, Some("Sea"), "Sea#3", true, 2L))
      .toDF("src", "dst", "len", "tag", "gkey", "follow", "gid")
    val nodeUp = Seq((4L, 350.0)).toDF("nid", "upstream_m")
    val f = Extras.longestSourceMouthFeatures(
        edges, nodes, nodeUp, 0.0, onlyNamed = false, "unnnamed", spark)
      .orderBy("idx").collect().map(_.getString(3))
    assert(f.length == 3)
    assert(f(0).contains(""""idx":0""") && f(0).contains(""""name":"Amazon""""))
    assert(f(0).contains(""""revidx":2""") && f(0).contains(""""num_parts":3"""))
    assert(f(0).contains(""""length_m":100.0"""))
    assert(f(1).contains(""""name":"unnnamed"""")) // reference's default, sic
    assert(f(0).contains(""""river_system_length_m":350.0"""))
    assert(f(0).contains(
      """"river_system_names":["Sea","unnnamed","Amazon"]"""), f(0))
    assert(f(0).contains(""""river_system_names_s":"Sea - unnnamed - Amazon""""))
    // bug-compatible labels: mouth_nid = path[0] (the upstream source)
    assert(f(0).contains(""""river_system_mouth_nid":1"""))
    assert(f(0).contains(""""river_system_source_nid":4"""))
    assert(f(0).contains(""""river_system_mouth_source_nids":[1,4]"""))
    assert(f(0).contains(""""river_system_internal_groupids":[2,0,1]"""))
  }

  test("D13 classification: pure rules match the reference tables") {
    import RiverRel._
    def gi(len: Double, tagged: Boolean = true, sinksEmpty: Boolean = false,
        nConf: Int = 1, subset: Boolean = false) =
      GroupInfo(0L, len, tagged, sinksEmpty, nConf, subset)
    // all (In, Through) → A is tributary of B
    assert(classify(gi(10).copy(id = 7), gi(100).copy(id = 8),
      Seq((In, Through))).contains((ATributaryB, 7L, 8L)))
    // flipped: all (Through, In) → B is tributary of A (ids swapped)
    assert(classify(gi(100).copy(id = 7), gi(10).copy(id = 8),
      Seq((Through, In))).contains((ATributaryB, 8L, 7L)))
    // all (In, Out) → terminal distributary
    assert(classify(gi(10).copy(id = 1), gi(50).copy(id = 2),
      Seq((In, Out))).contains((ATerminalDistributaryB, 1L, 2L)))
    // all (Out, Through) → branching distributary
    assert(classify(gi(10).copy(id = 1), gi(50).copy(id = 2),
      Seq((Out, Through))).contains((ABranchingDistributaryB, 1L, 2L)))
    // side channel: shorter A leaves and rejoins B
    assert(classify(gi(10).copy(id = 1), gi(50).copy(id = 2),
      Seq((Out, Through), (In, Through))).contains((ASideChannelB, 1L, 2L)))
    // fallback: tiny unnamed trib
    assert(classify(
      gi(5, tagged = false, nConf = 1).copy(id = 1),
      gi(100).copy(id = 2),
      Seq((In, No))).contains((ATributaryB, 1L, 2L)))
    // nothing matches → None
    assert(classify(gi(50).copy(id = 1), gi(60).copy(id = 2),
      Seq((No, No))).isEmpty)
  }

  test("D13 exact rule-2 subset: fires when a meets a third group elsewhere") {
    // A forks (7→5→2, 7→6→1) into B's Through-node 2 AND B's source node 1
    // → shared confs {(In,Through), (In,Out)} so no pure rule matches and
    // side-channel fails (A never flows Out at a confluence). A also meets
    // C at node 5 — so A's total confluence count (3) differs from the
    // (A,B) shared count (2), and the round-1 count-equality approximation
    // missed this tributary; the exact subset check (tag_group.rs:879-890:
    // A's strictly-In confluences {1,2} ⊆ B's confluences {1,2}) finds it.
    val tg = Seq(
      (1L, 2L, "B", 1L), (2L, 3L, "B", 1L), (3L, 4L, "B", 1L),
      (7L, 5L, "A", 1L), (7L, 6L, "A", 1L), (5L, 2L, "A", 1L), (6L, 1L, "A", 1L),
      (9L, 5L, "C", 5L)) // C into A's Through-node 5
      .toDF("src", "dst", "tag", "tag_group_nid")
    val lens = Seq(
      (1L, 2L, 100.0), (2L, 3L, 100.0), (3L, 4L, 100.0),
      (7L, 5L, 5.0), (7L, 6L, 5.0), (5L, 2L, 5.0), (6L, 1L, 5.0),
      (9L, 5L, 50.0))
      .toDF("src", "dst", "len")
    val rels = RiverRel.classifyPairs(tg, lens)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(rels.contains((RiverRel.ATributaryB, "A#1", "B#1")),
      s"exact subset rule-2 should classify A as tributary of B; got $rels")
    assert(rels.contains((RiverRel.ATributaryB, "C#5", "A#1")))
  }

  test("D13 confluence def: co-terminating groups do NOT join") {
    // A and B both flow INTO node 2 and nothing flows out — under the
    // reference's confluence rule (tag_group.rs:252-280) that is not a
    // junction, so the pair is never classified.
    val tg = Seq((1L, 2L, "A", 1L), (3L, 2L, "B", 3L))
      .toDF("src", "dst", "tag", "tag_group_nid")
    val lens = Seq((1L, 2L, 10.0), (3L, 2L, 100.0)).toDF("src", "dst", "len")
    assert(RiverRel.classifyPairs(tg, lens).isEmpty)
  }

  test("D13 DataFrame driver: tributary found on a confluence graph") {
    // River B: 1→2→3 (Through at 2); trib A: 5→2 (In at 2)
    val tg = Seq(
      (1L, 2L, "B", 1L), (2L, 3L, "B", 1L), (5L, 2L, "A", 5L))
      .toDF("src", "dst", "tag", "tag_group_nid")
    val lens = Seq((1L, 2L, 100.0), (2L, 3L, 100.0), (5L, 2L, 10.0))
      .toDF("src", "dst", "len")
    val rels = RiverRel.classifyPairs(tg, lens)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
    assert(rels.toSeq == Seq((RiverRel.ATributaryB, "A#5", "B#1")))
  }
}
