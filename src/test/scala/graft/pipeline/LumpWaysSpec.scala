package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.tagfilter.TagFilter
import LumpWays.{Config, MinLengthFilter}

/** Golden end-to-end test of the flagship lump pipeline (SURVEY §7.3):
  * hand-verified lengths, ranks, groups and GeoJSONSeq bytes on a
  * micro-network.
  */
class LumpWaysSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")

  // equatorial grid: 0.001° lon ≈ 111.19508 m
  private def nodes = Seq(
    (1L, 0.0, 0.000), (2L, 0.0, 0.001), (3L, 0.0, 0.002), (4L, 0.0, 0.003),
    (10L, 0.0, 0.000), (11L, 0.0, 0.010),
    (20L, 0.0, 0.000), (21L, 0.0, 0.001))
    .toDF("nid", "lat", "lon")

  private def ways = Seq(
    (1L, Seq(1L, 2L, 3L), Map("waterway" -> "river", "name" -> "A"), ts),
    (2L, Seq(3L, 4L), Map("waterway" -> "river", "name" -> "A"), ts),
    (3L, Seq(10L, 11L), Map("waterway" -> "river", "name" -> "B"), ts),
    (4L, Seq(20L, 21L), Map("waterway" -> "stream"), ts))
    .toDF("wid", "nids", "tags", "ts")

  /** The GeoJSONSeq lines the CLI streams, collected. */
  private def toGeoJsonSeq(features: org.apache.spark.sql.DataFrame): Seq[String] =
    LumpWays.featureJson(features).collect()
      .map(r => graft.outputs.GeoJson.seqFrame(r.getString(0))).toSeq

  private val degLonM = 111195.08023353292 / 1000.0 // 0.001° at equator

  test("flagship slice: filter + group + CC + lengths + ranks + geometry") {
    val cfg = Config(
      tagFilters = Seq(TagFilter.unsafeParse("waterway=river")),
      groupKeys = Seq(Seq("name")))
    val f = LumpWays.features(ways, nodes, cfg, spark)
      .orderBy(col("length_desc_rank"))
      .collect()

    assert(f.length == 2)
    val b = f(0); val a = f(1)

    // group B: single edge 0.010° ≈ 1111.95 m — longest, rank 0
    assert(b.getAs[collection.Seq[String]]("grp") == Seq("B"))
    assert(b.getAs[Long]("root_nodeid") == 10L)
    assert(math.abs(b.getAs[Double]("length_m") - 10 * degLonM) < 0.01)
    assert(b.getAs[Long]("length_desc_rank") == 0L)
    assert(b.getAs[Long]("num_nodes") == 2L)

    // group A: way1 contracts to (1,3)+way2 (3,4): 0.002°+0.001° ≈ 333.59 m
    assert(a.getAs[collection.Seq[String]]("grp") == Seq("A"))
    assert(a.getAs[Long]("root_nodeid") == 1L)
    assert(math.abs(a.getAs[Double]("length_m") - 3 * degLonM) < 0.01)
    assert(a.getAs[Long]("length_desc_rank") == 1L)
    // 3 is degree-2 → compressed away → vertexes {1,4}
    assert(a.getAs[Long]("num_nodes") == 2L)

    // fractions: B/total = 1111.95/1445.54 = 0.7692
    assert(b.getAs[Double]("length_m_fraction_total") == 0.7692)
    assert(b.getAs[Double]("length_m_fraction_longest") == 1.0)
    assert(a.getAs[Double]("length_m_fraction_longest") == 0.3)

    // geometry of A: one peeled line 1→4 expanding intermediates 2,3
    val lines = a.getAs[collection.Seq[collection.Seq[Long]]]("lines")
    assert(lines == Seq(Seq(1L, 2L, 3L, 4L)))
  }

  test("GeoJSONSeq bytes: RS-framed, %.6f coords, length-desc order") {
    val cfg = Config(
      tagFilters = Seq(TagFilter.unsafeParse("waterway=river")),
      groupKeys = Seq(Seq("name")))
    val out = toGeoJsonSeq(LumpWays.features(ways, nodes, cfg, spark))
    assert(out.length == 2)
    assert(out.forall(s => s.head == '' && s.last == '\n'))
    assert(out(0).contains("\"root_nodeid\":10"))
    assert(out(0).contains("\"tag_group_0\":\"B\""))
    assert(out(0).contains(
      """"coordinates":[[0.000000, 0.000000],[0.010000, 0.000000]],"type":"LineString""""))
    assert(out(1).contains("\"root_nodeid\":1"))
    assert(out(1).contains("\"length_m\":333.6"))
  }

  test("feature props: FULL reference json_props set, serde-alphabetical") {
    val cfg = Config(
      tagFilters = Seq(TagFilter.unsafeParse("waterway=river")),
      groupKeys = Seq(Seq("name")))
    val out = toGeoJsonSeq(LumpWays.features(ways, nodes, cfg, spark))
    // group B (rank 0): every key of main.rs:634-655 + rank/fraction
    // updates, in serde_json BTreeMap (alphabetical) order
    val expectedProps = """{"length_asc_rank":2,"length_asc_rank_perc":1.0,""" +
      """"length_desc_rank":0,"length_desc_rank_perc":0.0,""" +
      """"length_km":1.11,"length_km_int":1,"length_m":1112.0,""" +
      """"length_m_fraction_longest":1.0,"length_m_fraction_total":0.7692,""" +
      """"length_m_int":1112,"num_nodes":2,"root_nodeid":10,""" +
      """"root_nodeid_120":10,"tag_group_0":"B","tag_groups":["B"]}"""
    assert(out(0).contains(s""""properties":$expectedProps"""), out(0))
  }

  test("--incl-wayids: all_wayids from post-compress vertices (main.rs:650)") {
    val cfg = Config(
      tagFilters = Seq(TagFilter.unsafeParse("waterway=river")),
      groupKeys = Seq(Seq("name")), inclWayIds = true)
    val out = toGeoJsonSeq(LumpWays.features(ways, nodes, cfg, spark))
    // group B = way 3 only; group A post-compress vertices {1, 4} touch
    // ways 1 and 2 — "w{id}", id-sorted, deduped
    assert(out(0).contains(""""all_wayids":["w3"]"""), out(0))
    assert(out(1).contains(""""all_wayids":["w1","w2"]"""), out(1))
  }

  test("min-length filter modes") {
    assert(MinLengthFilter.parse("10") == Right(MinLengthFilter.Length(10.0)))
    assert(MinLengthFilter.parse("25m") == Right(MinLengthFilter.Length(25.0)))
    assert(MinLengthFilter.parse("50km") == Right(MinLengthFilter.Length(50000.0)))
    assert(MinLengthFilter.parse("10%longest") ==
      Right(MinLengthFilter.PercentLongest(0.1)))
    assert(MinLengthFilter.parse("20%total") ==
      Right(MinLengthFilter.PercentTotal(0.2)))
    assert(MinLengthFilter.parse("incl90%total") ==
      Right(MinLengthFilter.IncludeTotalPercentage(0.9)))
    assert(MinLengthFilter.parse("bogus").isLeft)

    val cfg = Config(
      tagFilters = Seq(TagFilter.unsafeParse("waterway=river")),
      groupKeys = Seq(Seq("name")),
      minLength = Some(MinLengthFilter.Length(500.0)))
    val f = LumpWays.features(ways, nodes, cfg, spark).collect()
    assert(f.length == 1 && f(0).getAs[collection.Seq[String]]("grp") == Seq("B"))
  }

  test("unset group dropped unless inclUnsetGroup (main.rs:339)") {
    val cfgAll = Config(groupKeys = Seq(Seq("name")), inclUnsetGroup = true)
    val withUnset = LumpWays.features(ways, nodes, cfgAll, spark).collect()
    assert(withUnset.length == 3) // A, B, null-group (the stream way)
    val cfgDrop = Config(groupKeys = Seq(Seq("name")))
    assert(LumpWays.features(ways, nodes, cfgDrop, spark).count() == 2)
  }

  test("P2 split-into-single-paths: per-path features with dist_ends props") {
    // Y shape: 1-2-3-4 plus branch 3-21 → as-crow-flies yields the 1..4
    // main path first, the branch as a second path
    val waysY = Seq(
      (1L, Seq(1L, 2L, 3L, 4L), Map("name" -> "A"), ts),
      (2L, Seq(3L, 21L), Map("name" -> "A"), ts))
      .toDF("wid", "nids", "tags", "ts")
    val cfg = Config(groupKeys = Seq(Seq("name")), splitIntoSinglePaths = true)
    val f = LumpWays.features(waysY, nodes, cfg, spark)
      .orderBy("path_idx").collect()
    assert(f.length == 2)
    assert(f(0).getAs[Int]("path_idx") == 0 && f(1).getAs[Int]("path_idx") == 1)
    // first path = farthest pair 1..4 (expanded through 2, 3)
    assert(f(0).getAs[collection.Seq[collection.Seq[Long]]]("lines")
      == Seq(Seq(1L, 2L, 3L, 4L)))
    val json = toGeoJsonSeq(
      LumpWays.features(waysY, nodes, cfg, spark))
    assert(json.length == 2)
    assert(json.head.contains(""""dist_ends_m":"""), json.head)
    assert(json.head.contains(""""dist_ends_km_int":0"""))
    // truncation keeps only the first (discovery-order) path
    val cfg1 = cfg.copy(onlyLongestNSplittedPaths = Some(1))
    assert(LumpWays.features(waysY, nodes, cfg1, spark).count() == 1)
  }

  test("same node in different group components (SURVEY C1)") {
    // node 3 shared between group A way and group C way → distinct comps
    val ways2 = Seq(
      (1L, Seq(1L, 3L), Map("name" -> "A"), ts),
      (2L, Seq(3L, 4L), Map("name" -> "C"), ts))
      .toDF("wid", "nids", "tags", "ts")
    val f = LumpWays.features(ways2, nodes, Config(groupKeys = Seq(Seq("name"))), spark)
      .collect()
    assert(f.length == 2)
    assert(f.map(_.getAs[Long]("root_nodeid")).toSet == Set(1L, 3L))
  }
}
