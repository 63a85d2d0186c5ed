package graft.cli

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestBase
import java.nio.file.{Files, Paths}

/** End-to-end `osm-lump-ways-down` CLI parity over a hand-verified
  * fixture: a main river 1→2→3→4, a tributary 5→2, and a 3-node loop
  * 6→7→8→6. Every requested output file is produced and spot-checked
  * against hand-computed values.
  */
class CliDownSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def mkFixture(dir: String): Unit = {
    Seq(
      (10L, Seq(1L, 2L, 3L), Map("name" -> "Main", "waterway" -> "river"), "2023-05-01 00:00:00"),
      (13L, Seq(3L, 4L), Map("name" -> "Main", "waterway" -> "river"), "2023-05-02 00:00:00"),
      (11L, Seq(5L, 2L), Map("name" -> "Trib", "waterway" -> "stream"), "2023-05-01 00:00:00"),
      (12L, Seq(6L, 7L, 8L, 6L), Map("name" -> "Loop", "waterway" -> "river"), "2023-05-01 00:00:00"))
      .toDF("wid", "nids", "tags", "ts")
      .withColumn("ts", col("ts").cast("timestamp"))
      .write.mode("overwrite").parquet(s"$dir/ways.parquet")
    Seq(
      (1L, 0.0, 0.000), (2L, 0.0, 0.001), (3L, 0.0, 0.002), (4L, 0.0, 0.003),
      (5L, 0.002, 0.001), (6L, 0.0, 0.010), (7L, 0.0, 0.011), (8L, 0.001, 0.011))
      .toDF("nid", "lat", "lon")
      .write.mode("overwrite").parquet(s"$dir/nodes.parquet")
  }

  private def read(path: String): String =
    new String(Files.readAllBytes(Paths.get(path)))

  test("down CLI: loops + stats + openmetrics + ends + csv + upstreams") {
    withTempDir("graft_down") { dir =>
      mkFixture(dir)
      withTempDir("graft_down_out") { out =>
        val Right(args) = Cli.parseDown(Seq(
          "-i", dir, "--overwrite",
          "--flow-split-equally",
          "--loops", s"$out/loops.geojsons",
          "--loops-csv-stats-file", s"$out/loops.csv",
          "--loops-openmetrics", s"$out/loops.prom",
          "--ends", s"$out/ends.geojsons",
          "--ends-tag", "name",
          "--ends-membership", "waterway=river",
          "--ends-csv-file", s"$out/ends.csv",
          "--upstreams", s"$out/upstreams.geojsons",
          "--grouped-ends", s"$out/grouped_ends.geojsons"))
        LumpWaysDownMain.run(args, spark)

        // loops: exactly the 6-7-8 cycle
        val loops = read(s"$out/loops.geojsons")
        assert(loops.count(_ == '') == 1, loops)
        assert(loops.contains(""""root_nid":6""") && loops.contains(""""num_nodes":3"""))
        assert(loops.contains(""""areas":["unknown_area"]"""))
        assert(loops.contains(""""area_0":"unknown_area""""))
        assert(loops.contains(""""nodes":"n6,n7,n8""""))

        // loops csv: header + planet + unknown_area × 2 metrics, appends
        val csv1 = read(s"$out/loops.csv")
        assert(csv1.startsWith("timestamp,iso_datetime,area,metric,value\n"), csv1)
        assert(csv1.linesIterator.size == 5, csv1) // header + 2 areas × 2 metrics
        assert(csv1.contains("planet,loops_count,1"))
        assert(csv1.contains("unknown_area,loops_count,1"))
        // timestamp = max way ts
        assert(csv1.contains("2023-05-02T00:00:00Z"))
        LumpWaysDownMain.run(args, spark) // append mode: re-run doubles rows
        assert(read(s"$out/loops.csv").linesIterator.size == 9)

        val prom = read(s"$out/loops.prom")
        assert(prom.contains("# TYPE waterwaymap_loops_count gauge"))
        assert(prom.contains("""waterwaymap_loops_count{area="planet"} 1"""))

        // ends: node 4 is the only end (loop contracts away)
        val ends = read(s"$out/ends.geojsons")
        assert(ends.count(_ == '') == 1, ends)
        assert(ends.contains(""""nid":4"""))
        assert(ends.contains(""""is_in:waterway=river":true"""), ends)
        assert(ends.contains(""""tag:name":"Main""""), ends)
        // upstream at 4 = len(1→2)+len(5→2)+len(2→3)+len(3→4)
        val deg = graft.geo.Geo.haversineM(0.0, 0.0, 0.0, 0.001)
        val d52 = graft.geo.Geo.haversineM(0.002, 0.001, 0.0, 0.001)
        val expUp = graft.geo.Geo.roundHalfAway(3 * deg + d52, 1)
        assert(ends.contains(s""""upstream_m":$expUp"""), s"$ends exp $expUp")

        // ends csv: exact reference columns + rust number formatting
        val endsCsv = read(s"$out/ends.csv")
        assert(endsCsv.startsWith(
          "timestamp,iso_datetime,upstream_m,upstream_m_rank,nid,lat,lng,name\n"))
        val row = endsCsv.linesIterator.drop(1).next().split(",")
        assert(row(3) == "1" && row(4) == "4" && row(7) == "Main")
        assert(row(2) == graft.outputs.Writers.rustNum(expUp))
        assert(row(5) == "0" && row(6) == "0.003")

        // upstreams: one 2-point feature per contracted edge (4 edges)
        val ups = read(s"$out/upstreams.geojsons")
        assert(ups.count(_ == '') == 4, ups)
        assert(ups.contains(""""nids":"1,2""""))
        assert(ups.contains(""""from_upstream_m":0.0"""))
        assert(ups.contains(""""end_nid":4"""))

        // grouped ends: main stem + side line, all edges covered exactly once
        val ge = read(s"$out/grouped_ends.geojsons")
        assert(ge.count(_ == '') == 2, ge)
        assert(ge.contains(""""end_nid":4"""))
        assert(ge.contains(""""end_tag:name":"Main""""), ge)
      }
    }
  }

  test("down CLI: grouped waterways + longest source mouth (follows tag)") {
    withTempDir("graft_down") { dir =>
      mkFixture(dir)
      withTempDir("graft_down_out2") { out =>
        val Right(args) = Cli.parseDown(Seq(
          "-i", dir, "--overwrite",
          "--flow-follows-tag", "name",
          "--grouped-waterways", s"$out/gw.geojsons",
          "--longest-source-mouth", s"$out/lsm.geojsons"))
        LumpWaysDownMain.run(args, spark)

        val gw = read(s"$out/gw.geojsons")
        // groups: Main (1→2→3→4), Trib (5→2); the loop contracts away
        assert(gw.count(_ == '') == 2, gw)
        assert(gw.contains(""""tag_group_value":"Main""""))
        // Trib classified as tributary of Main with its inflow at node 2
        val mainFeat = gw.linesIterator.find(_.contains(""""tag_group_value":"Main"""")).get
        assert(mainFeat.contains(""""tributaries":[{"confluences":[{"lat":0.0,"lon":0.001,"nid":2,"""),
          mainFeat)
        assert(mainFeat.contains(""""stream_level":0"""))
        // (Main's tributaries array also mentions Trib — select by group id)
        val tribFeat = gw.linesIterator.find(_.contains(""""internal_groupid":1""")).get
        assert(tribFeat.contains(""""stream_level":1""") &&
          tribFeat.contains(""""stream_level_code":[1,1]"""), tribFeat)
        assert(tribFeat.contains(""""parent_rivers":[{"""))

        // longest source→mouth: source 5 (5→2 is ~2× longer than 1→2),
        // path 5→2→3→4 chunks into Trib then Main
        val lsm = read(s"$out/lsm.geojsons")
        assert(lsm.count(_ == '') == 2, lsm)
        assert(lsm.contains(""""name":"Trib"""") && lsm.contains(""""name":"Main""""))
        assert(lsm.contains(""""river_system_names":["Main","Trib"]"""), lsm)
        assert(lsm.contains(""""river_system_names_s":"Main - Trib""""))
        assert(lsm.contains(""""num_parts":2"""))
      }
    }
  }

  test("down CLI validation matches the reference (main.rs:199-227)") {
    assert(Cli.parseDown(Seq("-i", "/in")).isLeft) // nothing to do
    assert(Cli.parseDown(Seq("-i", "/in", "--ends", "e.geojsons")).isLeft) // no flow mode
    assert(Cli.parseDown(Seq("-i", "/in", "--loops", "l.geojsons")).isRight)
    val Right(a) = Cli.parseDown(Seq("-i", "/in", "--flow-follows-tag", "name",
      "--ends", "e.geojsons", "--ends-tag", "name",
      "--ends-csv-only-largest-n", "5k", "--min-length-m", "250"))
    assert(a.endsCsvOnlyLargestN.contains(5000L))
    assert(a.minLengthM.contains(250.0)) // gates grouped-waterways
    assert(a.longestSourceMouthUnnamedString == "unnnamed") // sic
  }
}
