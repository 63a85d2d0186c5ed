package graft.geo

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase

/** Raster↔vector tiling: bin placement, midpoint binning, threshold,
  * 4-neighbour blob merge with longitude wrap.
  */
class RasterSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private val res = 2 // 4×4 grid; x: 90°/cell of lon, y: 45°/cell of lat

  test("rasterize: node counts, edge-midpoint bin, length sum") {
    val nodes = Seq(
      (1L, -20.0, -170.0), // cell (0, 1)
      (2L, -20.0, -100.0), // cell (0, 1)
      (3L, 80.0, -60.0))   // cell (1, 3)
      .toDF("nid", "lat", "lon")
    val edges = Seq((1L, 2L)).toDF("src", "dst") // midpoint (-20, -135) → (0,1)
    val r = Raster.rasterize(nodes, edges, res)
      .collect().map(x => ((x.getLong(1), x.getLong(2)),
        (x.getLong(3), x.getLong(4), x.getDouble(5)))).toMap
    assert(r.keySet == Set((0L, 1L), (1L, 3L)))
    assert(r((0L, 1L))._1 == 2L && r((0L, 1L))._2 == 1L)
    assert(r((0L, 1L))._3 > 0.0)
    assert(r((1L, 3L)) == ((1L, 0L, 0.0)))
    // cell id round-trips through the packed form
    val ids = Raster.rasterize(nodes, edges, res).select("cell", "x", "y")
      .collect()
    ids.foreach { row =>
      assert(CellIndex.cellX(row.getLong(0)) == row.getLong(1))
      assert(CellIndex.cellY(row.getLong(0)) == row.getLong(2))
    }
  }

  test("vectorize: threshold + wrap-adjacent blob merge + isolated blob") {
    // (0,1) and (3,1) are LONGITUDE-WRAP neighbours on a 4-wide grid;
    // (1,3) is isolated; (2,2) is below threshold
    val cells = Seq(
      (CellIndex.pack(0, 1, res), 0L, 1L, 2L),
      (CellIndex.pack(3, 1, res), 3L, 1L, 3L),
      (CellIndex.pack(1, 3, res), 1L, 3L, 2L),
      (CellIndex.pack(2, 2, res), 2L, 2L, 1L))
      .toDF("cell", "x", "y", "v")
    val blobs = Raster.vectorize(cells, 2L, res)
      .collect().map(r => (r.getLong(0),
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getLong(6)))).toMap
    assert(blobs.size == 2)
    val wrapBlob = blobs(math.min(CellIndex.pack(0, 1, res), CellIndex.pack(3, 1, res)))
    assert(wrapBlob._1 == 2L && wrapBlob._2 == 5L) // 2 cells, Σv = 5
    assert(wrapBlob._3 == 0L && wrapBlob._4 == 3L) // x span 0..3
    val iso = blobs(CellIndex.pack(1, 3, res))
    assert(iso._1 == 1L && iso._2 == 2L)
  }

  test("vectorize: driver union-find ≡ tile-adjacency CC (raster gate 0)") {
    // the same grid, plus a vertical pair; gate 0 forces the distributed
    // adjacency joins + ConnectedComponents.run
    val cells = Seq((0L, 1L, 2L), (3L, 1L, 3L), (1L, 3L, 2L), (2L, 2L, 1L),
      (2L, 0L, 4L), (2L, 1L, 5L))
      .map { case (x, y, v) => (CellIndex.pack(x, y, res), x, y, v) }
      .toDF("cell", "x", "y", "v")
    def blobs(gate: Long) = Raster.vectorize(cells, 2L, res, driverMaxRes = gate)
      .collect().map(_.toSeq).toSet
    assert(blobs(0L) == blobs(10L))
    assert(blobs(0L).size == 2)
  }
}
