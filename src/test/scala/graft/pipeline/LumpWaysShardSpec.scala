package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase
import graft.tagfilter.TagFilter
import LumpWays.Config

/** The sharded mega-component geometry path must agree with the exact
  * single-task path on everything the reference pins deterministically —
  * lengths, ranks, num_nodes, edge coverage, all_wayids — differing only
  * in the line DECOMPOSITION (within the reference's unseeded-RNG
  * contract) and row shape (one LineString row per segment).
  */
class LumpWaysShardSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")

  private def nid(r: Int, c: Int) = (r * 1000 + c + 1).toLong

  /** 6×6 grid as 2-node ways (one big component) + a separate 2-node way. */
  private def gridWays = {
    val n = 6
    val right = for { r <- 0 until n; c <- 0 until n - 1 }
      yield (nid(r, c), nid(r, c + 1))
    val down = for { r <- 0 until n - 1; c <- 0 until n }
      yield (nid(r, c), nid(r + 1, c))
    val grid = (right ++ down).zipWithIndex.map { case ((a, b), i) =>
      (i.toLong + 1, Seq(a, b), Map("waterway" -> "river"), ts)
    }
    (grid :+ ((900L, Seq(90001L, 90002L), Map("waterway" -> "river"), ts)))
      .toDF("wid", "nids", "tags", "ts")
  }

  private def gridNodes = {
    val grid = for { r <- 0 until 6; c <- 0 until 6 }
      yield (nid(r, c), r * 0.001, c * 0.001)
    (grid ++ Seq((90001L, 0.02, 0.0), (90002L, 0.02, 0.001)))
      .toDF("nid", "lat", "lon")
  }

  private def run(threshold: Long) =
    LumpWays.features(gridWays, gridNodes,
      Config(tagFilters = Seq(TagFilter.unsafeParse("waterway=river")),
        inclWayIds = true, shardThresholdEdges = threshold), spark)
      .collect()

  private def coverage(rows: Seq[org.apache.spark.sql.Row]): Set[(Long, Long)] =
    rows.flatMap(_.getAs[collection.Seq[collection.Seq[Long]]]("lines"))
      .flatMap(_.sliding(2).collect {
        case collection.Seq(a, b) => (math.min(a, b), math.max(a, b))
      }).toSet

  test("sharded path matches the exact path on every pinned quantity") {
    val exact = run(Long.MaxValue)
    val sharded = run(4) // grid comp (60 edges) shards; 1-edge comp stays

    val exactByComp = exact.groupBy(_.getAs[Long]("comp"))
    val shardByComp = sharded.groupBy(_.getAs[Long]("comp"))
    assert(exactByComp.keySet == shardByComp.keySet)
    assert(exactByComp.forall(_._2.length == 1))
    // the big component emits one row per stitched-line segment
    val bigComp = exactByComp.maxBy(_._2.head.getAs[Double]("length_m"))._1
    assert(shardByComp(bigComp).length > 1)

    for (comp <- exactByComp.keySet) {
      val e = exactByComp(comp).head
      val ss = shardByComp(comp)
      // group-level props identical on every sharded row
      for (s <- ss; f <- Seq("length_m", "num_nodes", "root_nodeid",
        "length_desc_rank", "length_m_fraction_total"))
        assert(e.getAs[Any](f) == s.getAs[Any](f), s"$comp/$f")
      // geometry covers exactly the same edge set
      assert(coverage(Seq(e)) == coverage(ss.toSeq), s"$comp coverage")
      // all_wayids identical (grid has no merge-order anomalies)
      assert(e.getAs[collection.Seq[Long]]("all_wayids") ==
        ss.head.getAs[collection.Seq[Long]]("all_wayids"), s"$comp wayids")
      // sharded rows are single-LineString rows; exact rows may multi-line
      ss.filter(_.getAs[Long]("line_idx") >= 0L).foreach { s =>
        assert(s.getAs[collection.Seq[Any]]("lines").length == 1)
      }
    }
    // within a stitched line, each segment starts at the previous end
    shardByComp(bigComp).groupBy(_.getAs[Long]("line_idx"))
      .filter(_._1 >= 0).foreach { case (_, segs) =>
        segs.sortBy(_.getAs[Long]("seg_idx")).toSeq.sliding(2).foreach {
          case Seq(a, b) =>
            assert(a.getAs[collection.Seq[collection.Seq[Long]]]("lines")
              .head.last ==
              b.getAs[collection.Seq[collection.Seq[Long]]]("lines").head.head)
          case _ =>
        }
      }
  }

  test("featureJson serializes sharded rows as ordered LineString features") {
    val f = LumpWays.features(gridWays, gridNodes,
      Config(tagFilters = Seq(TagFilter.unsafeParse("waterway=river")),
        shardThresholdEdges = 4), spark)
    val lines = LumpWays.featureJson(f).collect().map(_.getString(0))
    assert(lines.length > 2)
    assert(lines.forall(_.contains("\"type\":\"Feature\"")))
    // sharded rows are LineString, the small comp is MultiLineString/LineString
    assert(lines.count(_.contains("\"LineString\"")) >= lines.length - 1)
  }
}
