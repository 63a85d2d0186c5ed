package graft.cli

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestBase
import java.nio.file.{Files, Paths}

/** End-to-end `osm-lump-ways` CLI over a fixture: main output, frames,
  * split-paths and betweenness files.
  */
class CliLumpSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def mkFixture(dir: String): Unit = {
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    Seq(
      (1L, Seq(1L, 2L, 3L), Map("waterway" -> "river", "name" -> "A"), ts),
      (2L, Seq(3L, 4L), Map("waterway" -> "river", "name" -> "A"), ts),
      (3L, Seq(3L, 21L), Map("waterway" -> "river", "name" -> "A"), ts),
      (4L, Seq(10L, 11L), Map("waterway" -> "river", "name" -> "B"), ts))
      .toDF("wid", "nids", "tags", "ts")
      .write.mode("overwrite").parquet(s"$dir/ways.parquet")
    Seq(
      (1L, 0.0, 0.000), (2L, 0.0, 0.001), (3L, 0.0, 0.002), (4L, 0.0, 0.003),
      (21L, 0.001, 0.002), (10L, 0.0, 0.010), (11L, 0.0, 0.012))
      .toDF("nid", "lat", "lon")
      .write.mode("overwrite").parquet(s"$dir/nodes.parquet")
  }

  private def read(path: String): String =
    new String(Files.readAllBytes(Paths.get(path)))

  test("lump CLI: main output + frames + betweenness files") {
    withTempDir("graft_lump") { dir =>
      mkFixture(dir)
      withTempDir("graft_lump_out") { out =>
        val Right(args) = Cli.parseLump(Seq(
          "-i", dir, "-o", s"$out/groups.geojsons", "--overwrite",
          "-f", "waterway=river", "-g", "name",
          "--output-frames", s"$out/frames.geojsons",
          "--betweenness-output", s"$out/betweenness.geojsons",
          "--betweenness-min-value", "0"))
        LumpWaysMain.run(args, spark)

        val main = read(s"$out/groups.geojsons")
        assert(main.count(_ == '') == 2, main) // groups A and B
        assert(main.contains(""""tag_group_0":"A"""") &&
          main.contains(""""tag_group_0":"B""""))
        // length-desc order: B (~1112 m span? A total is longer) — just check
        // both root ids are present and the frame is RS+LF framed
        assert(main.linesIterator.forall(_.startsWith("{")))

        // frames: one MultiLineString per way group carrying the GROUP props
        val frames = read(s"$out/frames.geojsons")
        assert(frames.count(_ == '') == 2, frames)
        assert(frames.contains(""""tag_group_0":"A""""))
        assert(frames.contains(""""root_nodeid":1"""))

        // betweenness: features with the reference prop names
        val bet = read(s"$out/betweenness.geojsons")
        assert(bet.count(_ == '') >= 1, bet)
        assert(bet.contains(""""betweenness_value":"""))
        assert(bet.contains(""""betweenness_fraction_max":"""))
        // serde-alphabetical prop order inside a feature
        val first = bet.linesIterator.next()
        assert(first.indexOf("betweenness_fraction") <
          first.indexOf("betweenness_value"), first)
      }
    }
  }

  test("lump CLI: split-into-single-paths emits per-path features") {
    withTempDir("graft_lump") { dir =>
      mkFixture(dir)
      withTempDir("graft_lump_out2") { out =>
        val Right(args) = Cli.parseLump(Seq(
          "-i", dir, "-o", s"$out/paths.geojsons", "--overwrite",
          "-f", "waterway=river", "-g", "name",
          "--split-into-single-paths",
          "--only-longest-n-splitted-paths", "5"))
        LumpWaysMain.run(args, spark)
        val paths = read(s"$out/paths.geojsons")
        // group A (Y shape) → 2 paths; group B → 1 path
        assert(paths.count(_ == '') == 3, paths)
        assert(paths.contains(""""dist_ends_m":"""))
        assert(paths.contains(""""type":"LineString""""))
        assert(!paths.contains("MultiLineString"))
      }
    }
  }
}
