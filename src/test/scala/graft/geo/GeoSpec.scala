package graft.geo

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.outputs.GeoJson

class GeoSpec extends AnyFunSuite with SparkTestBase {

  /** Seeded property loop (scalatestplus bridge unavailable offline). */
  private def forSamples(n: Int)(body: scala.util.Random => Unit): Unit = {
    val rng = new scala.util.Random(42)
    (0 until n).foreach(_ => body(rng))
  }

  /** All cells with Chebyshev distance ≤ k: the (2k+1)² block. */
  private def disk(cellId: Long, k: Int): Seq[Long] = CellIndex.annulus(cellId, -1, k)

  import spark.implicits._

  test("haversine: 1 degree of longitude at the equator") {
    val d = Geo.haversineM(0.0, 0.0, 0.0, 1.0)
    assert(math.abs(d - 111195.0802) < 0.01) // πR/180, R=6371008.8
  }

  test("haversine symmetry + identity") {
    forSamples(200) { rng =>
      val (la1, lo1) = (rng.nextDouble * 170 - 85, rng.nextDouble * 360 - 180)
      val (la2, lo2) = (rng.nextDouble * 170 - 85, rng.nextDouble * 360 - 180)
      val ab = Geo.haversineM(la1, lo1, la2, lo2)
      val ba = Geo.haversineM(la2, lo2, la1, lo1)
      assert(math.abs(ab - ba) < 1e-6)
      assert(Geo.haversineM(la1, lo1, la1, lo1) == 0.0)
    }
  }

  test("haversine column expression equals scala implementation") {
    val df = Seq((48.8566, 2.3522, 52.5200, 13.4050)).toDF("a", "b", "c", "d")
    val viaCol = df.select(
      Geo.haversineM(col("a"), col("b"), col("c"), col("d"))).head().getDouble(0)
    val viaScala = Geo.haversineM(48.8566, 2.3522, 52.5200, 13.4050)
    assert(math.abs(viaCol - viaScala) < 1e-9)
    assert(math.abs(viaScala - 877464.0) < 1000.0) // Paris–Berlin ≈ 877 km
  }

  test("roundHalfAway matches Rust f64::round semantics (utils.rs:8-11)") {
    assert(Geo.roundHalfAway(2.5, 0) == 3.0)
    assert(Geo.roundHalfAway(-2.5, 0) == -3.0)
    assert(Geo.roundHalfAway(2.45, 1) == 2.5)
    assert(Geo.roundHalfAway(1234.5678, 1) == 1234.6)
    assert(Geo.roundMult(1234.0, 500.0) == 1000.0)
    assert(Geo.roundMult(1250.0, 500.0) == 1500.0)
  }

  test("cell index round-trip (x, y, res)") {
    forSamples(500) { rng =>
      val res = rng.nextInt(17)
      val lat = rng.nextDouble * 170 - 85
      val lon = rng.nextDouble * 359.98 - 179.99
      val c = CellIndex.cell(lat, lon, res)
      assert(CellIndex.resOf(c) == res)
      assert(CellIndex.cellX(c) == CellIndex.xOf(lon, res))
      assert(CellIndex.cellY(c) == CellIndex.yOf(lat, res))
    }
  }

  test("spread/unspread inverse") {
    forSamples(500) { rng =>
      val v = math.abs(rng.nextLong()) % (1L << 28)
      assert(CellIndex.unspread(CellIndex.spread(v)) == v)
    }
  }

  test("parent cell is the containing quadtree cell") {
    val c = CellIndex.cell(48.85, 2.35, 10)
    val p = CellIndex.parent(c)
    assert(CellIndex.resOf(p) == 9)
    assert(CellIndex.cellX(p) == CellIndex.cellX(c) >> 1)
  }

  test("cellCol column expression equals scala cell()") {
    val pts = Seq((48.85, 2.35), (-33.86, 151.21), (0.0, 0.0), (84.9, -179.9))
    val got = pts.toDF("lat", "lon")
      .select(CellIndex.cellCol(col("lat"), col("lon"), 12))
      .collect().map(_.getLong(0)).toSeq
    assert(got == pts.map { case (la, lo) => CellIndex.cell(la, lo, 12) })
  }

  test("disk: interior 3x3; wraps longitude; clamps latitude") {
    val c = CellIndex.cell(10.0, 10.0, 4)
    assert(disk(c, 1).size == 9)
    val nearPole = CellIndex.cell(89.9, 0.0, 4)
    assert(disk(nearPole, 1).size == 6) // top row clamped
    val nearAntimeridian = CellIndex.cell(0.0, 179.99, 4)
    val d = disk(nearAntimeridian, 1)
    assert(d.size == 9) // wrapped, all distinct
  }

  test("polygon containment: box is half-open [min,max) on both axes") {
    val box = IndexedSeq((0.0, 0.0), (0.0, 10.0), (5.0, 10.0), (5.0, 0.0), (0.0, 0.0))
    assert(Polygon.contains(box, 2.0, 5.0))
    assert(Polygon.contains(box, 0.0, 0.0))   // inclusive min corner
    assert(!Polygon.contains(box, 5.0, 5.0))  // exclusive max lat
    assert(!Polygon.contains(box, 2.0, 10.0)) // exclusive max lon
    assert(!Polygon.contains(box, -1.0, 5.0))
  }

  test("polygon containment: concave L-shape") {
    val l = IndexedSeq((0.0, 0.0), (0.0, 4.0), (2.0, 4.0), (2.0, 2.0),
      (4.0, 2.0), (4.0, 0.0), (0.0, 0.0))
    assert(Polygon.contains(l, 1.0, 3.0))  // in the foot
    assert(Polygon.contains(l, 3.0, 1.0))  // in the leg
    assert(!Polygon.contains(l, 3.0, 3.0)) // in the notch
  }

  test("coverCells covers the bbox") {
    val box = IndexedSeq((0.0, 0.0), (0.0, 10.0), (5.0, 10.0), (5.0, 0.0))
    val cells = Polygon.coverCells(box, 6)
    val inside = CellIndex.cell(2.0, 5.0, 6)
    assert(cells.contains(inside))
  }

  test("annulus: disk(k) = disk(k-1) ∪ annulus(k-1, k), disjointly") {
    forSamples(20) { rng =>
      val res = 4 + rng.nextInt(6)
      val c = CellIndex.cell(rng.nextDouble * 170 - 85, rng.nextDouble * 360 - 180, res)
      val k = 1 + rng.nextInt(5)
      val inner = disk(c, k - 1).toSet
      val ring = CellIndex.annulus(c, k - 1, k).toSet
      assert((inner union ring) == disk(c, k).toSet)
    }
  }

  test("knnJoin straggler fallback: exact NN when rings cannot resolve") {
    // res 12 cells ≈ 0.044°; nodes ~3° away from each point, so the ring
    // search exhausts ringKMax and the broadcast scan must resolve them —
    // results must equal the brute-force nearest neighbour
    val points = Seq((1L, 10.0, 10.0), (2L, -20.0, 40.0), (3L, 55.0, -120.0))
      .toDF("pid", "plat", "plon")
    val nodes = Seq(
      (100L, 13.0, 10.5), (101L, 12.8, 9.5),  // nearer to p1
      (200L, -23.1, 40.2), (201L, -16.9, 39.0),
      (300L, 58.4, -119.0), (301L, 51.0, -121.0))
      .toDF("nid", "lat", "lon")
    val got = SpatialJoins.knnJoin(points, nodes, res = 12, ringKMax = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val pts = Seq((1L, 10.0, 10.0), (2L, -20.0, 40.0), (3L, 55.0, -120.0))
    val nds = Seq((100L, 13.0, 10.5), (101L, 12.8, 9.5), (200L, -23.1, 40.2),
      (201L, -16.9, 39.0), (300L, 58.4, -119.0), (301L, 51.0, -121.0))
    val expected = pts.map { case (pid, la, lo) =>
      pid -> nds.minBy { case (nid, nla, nlo) =>
        (Geo.haversineM(la, lo, nla, nlo), nid)
      }._1
    }.toMap
    assert(got == expected, s"got $got expected $expected")
  }

  test("GeoJSON formatter byte-parity shapes (fileio.rs:116-213)") {
    assert(GeoJson.fmtCoord(2.3522, 48.8566) == "[2.352200, 48.856600]")
    assert(GeoJson.lineString(Seq((1.0, 2.0), (3.0, 4.0))) ==
      """{"coordinates":[[1.000000, 2.000000],[3.000000, 4.000000]],"type":"LineString"}""")
    assert(GeoJson.feature("""{"a":1}""",
        """{"coordinates":[1.000000, 2.000000],"type":"Point"}""") ==
      """{"properties":{"a":1},"geometry":{"coordinates":[1.000000, 2.000000],"type":"Point"},"type":"Feature"}""")
    val framed = GeoJson.seqFrame("{}")
    assert(framed.head == '\u001e' && framed.last == '\n')
    assert(GeoJson.jsonStr("a\"b\nc") == "\"a\\\"b\\nc\"")
  }

  test("featureCollection wrapper") {
    val out = GeoJson.featureCollection(Iterator("{f1}", "{f2}")).mkString
    assert(out == """{"type":"FeatureCollection", "features": [{f1},""" + "\n{f2}]}")
  }
}
