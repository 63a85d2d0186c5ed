package graft.geo

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Hierarchical lat/lon quadkey cell index ("our H3/S2", SURVEY.md §4.3).
  *
  * A cell id packs (resolution, Morton-interleaved x/y) into one Long:
  *
  *   x = floor((lon+180)/360 * 2^res)  clamped to [0, 2^res-1]
  *   y = floor((lat+ 90)/180 * 2^res)  clamped to [0, 2^res-1]
  *   id = (res << 58) | interleave(x, y)        (res ≤ 28, bits fit)
  *
  * Morton/Z-order interleaving keeps spatially-near cells numerically
  * near, so Iceberg/parquet min-max file skipping prunes spatial scans
  * and range-partitioning by cell id co-locates neighbourhoods.
  * Offline constraint: no H3/S2/JTS jars — this is ~60 LoC of pure
  * bit-twiddling, available both as Scala functions (local algorithms)
  * and as Catalyst column expressions (joins; codegen'd, no UDF).
  */
object CellIndex {

  // ---- Scala side ----------------------------------------------------

  /** Spread the low 32 bits of v so bit i lands at bit 2i. */
  def spread(v: Long): Long = {
    var x = v & 0xffffffffL
    x = (x | (x << 16)) & 0x0000ffff0000ffffL
    x = (x | (x << 8)) & 0x00ff00ff00ff00ffL
    x = (x | (x << 4)) & 0x0f0f0f0f0f0f0f0fL
    x = (x | (x << 2)) & 0x3333333333333333L
    x = (x | (x << 1)) & 0x5555555555555555L
    x
  }

  /** Inverse of [[spread]]: collect bits 0,2,4,… of v. */
  def unspread(v: Long): Long = {
    var x = v & 0x5555555555555555L
    x = (x | (x >> 1)) & 0x3333333333333333L
    x = (x | (x >> 2)) & 0x0f0f0f0f0f0f0f0fL
    x = (x | (x >> 4)) & 0x00ff00ff00ff00ffL
    x = (x | (x >> 8)) & 0x0000ffff0000ffffL
    x = (x | (x >> 16)) & 0x00000000ffffffffL
    x
  }

  def clamp(v: Long, lo: Long, hi: Long): Long = math.max(lo, math.min(hi, v))

  def xOf(lon: Double, res: Int): Long =
    clamp(math.floor((lon + 180.0) / 360.0 * (1L << res)).toLong, 0, (1L << res) - 1)

  def yOf(lat: Double, res: Int): Long =
    clamp(math.floor((lat + 90.0) / 180.0 * (1L << res)).toLong, 0, (1L << res) - 1)

  def pack(x: Long, y: Long, res: Int): Long =
    (res.toLong << 58) | spread(x) | (spread(y) << 1)

  def cell(lat: Double, lon: Double, res: Int): Long =
    pack(xOf(lon, res), yOf(lat, res), res)

  def resOf(cellId: Long): Int = ((cellId >> 58) & 0x3f).toInt
  def cellX(cellId: Long): Long = unspread(cellId & 0x0155555555555555L)
  def cellY(cellId: Long): Long = unspread((cellId >> 1) & 0x0155555555555555L)

  /** Parent cell at res-1 (quadtree hierarchy: drop one x and one y bit). */
  def parent(cellId: Long): Long = {
    val r = resOf(cellId)
    require(r > 0, "res-0 cell has no parent")
    pack(cellX(cellId) >> 1, cellY(cellId) >> 1, r - 1)
  }

  /** Cell height in degrees at `res`. */
  def cellDeg(res: Int): Double = 180.0 / (1L << res)

  /** Cells with Chebyshev distance in (kLo, kHi], with longitude
    * wrap-around and latitude clamping — the NEW ring band when a kNN
    * search expands from radius kLo to kHi (kLo = -1 → the full
    * (2kHi+1)² disk).
    * Already-searched inner cells are not regenerated, so each expansion
    * round touches only the annulus, not the whole (2kHi+1)² block.
    */
  def annulus(cellId: Long, kLo: Int, kHi: Int): Seq[Long] = {
    val r = resOf(cellId)
    val n = 1L << r
    val cx = cellX(cellId)
    val cy = cellY(cellId)
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    var dy = -kHi
    while (dy <= kHi) {
      val y = cy + dy
      if (y >= 0 && y < n) {
        val ady = math.abs(dy)
        var dx = -kHi
        while (dx <= kHi) {
          if (math.max(ady, math.abs(dx)) > kLo) {
            val x = ((cx + dx) % n + n) % n // wrap lon
            out += pack(x, y, r)
          }
          dx += 1
        }
      }
      dy += 1
    }
    out.distinct.toSeq
  }

  // ---- Column side (codegen-friendly; same bit algebra) ---------------

  private def spreadCol(v: Column): Column = {
    var x = v.bitwiseAND(lit(0xffffffffL))
    x = x.bitwiseOR(shiftleft(x, 16)).bitwiseAND(lit(0x0000ffff0000ffffL))
    x = x.bitwiseOR(shiftleft(x, 8)).bitwiseAND(lit(0x00ff00ff00ff00ffL))
    x = x.bitwiseOR(shiftleft(x, 4)).bitwiseAND(lit(0x0f0f0f0f0f0f0f0fL))
    x = x.bitwiseOR(shiftleft(x, 2)).bitwiseAND(lit(0x3333333333333333L))
    x = x.bitwiseOR(shiftleft(x, 1)).bitwiseAND(lit(0x5555555555555555L))
    x
  }

  private def clampCol(v: Column, lo: Long, hi: Long): Column =
    greatest(lit(lo), least(lit(hi), v))

  def xCol(lon: Column, res: Int): Column =
    clampCol(floor((lon + 180.0) / 360.0 * (1L << res)).cast("long"), 0, (1L << res) - 1)

  def yCol(lat: Column, res: Int): Column =
    clampCol(floor((lat + 90.0) / 180.0 * (1L << res)).cast("long"), 0, (1L << res) - 1)

  /** Column form of [[cell]] — pure built-in expressions, codegen'd. */
  def cellCol(lat: Column, lon: Column, res: Int): Column =
    packCol(xCol(lon, res), yCol(lat, res), res)

  /** Column form of [[pack]] from precomputed x/y columns. */
  def packCol(x: Column, y: Column, res: Int): Column =
    lit(res.toLong << 58)
      .bitwiseOR(spreadCol(x))
      .bitwiseOR(shiftleft(spreadCol(y), 1))

  // ---- Oracle SQL generator -------------------------------------------
  // Emits the *same* bit algebra as ANSI-ish SQL so DuckDB can reproduce
  // cell ids bit-exactly (integer ops only — no float divergence).

  private def spreadSql(v: String): String = {
    var x = s"(($v) & 4294967295)"
    def step(sh: Int, mask: Long): Unit = x = s"(($x | ($x << $sh)) & $mask)"
    step(16, 0x0000ffff0000ffffL)
    step(8, 0x00ff00ff00ff00ffL)
    step(4, 0x0f0f0f0f0f0f0f0fL)
    step(2, 0x3333333333333333L)
    step(1, 0x5555555555555555L)
    x
  }

  /** SQL text for [[xOf]] / [[yOf]] / [[pack]] — the same integer
    * algebra, so DuckDB reproduces tile coordinates bit-exactly.
    */
  def xSql(lonExpr: String, res: Int): String = {
    val n = 1L << res
    s"GREATEST(0, LEAST(${n - 1}, CAST(FLOOR((($lonExpr) + 180.0) / 360.0 * $n) AS BIGINT)))"
  }
  def ySql(latExpr: String, res: Int): String = {
    val n = 1L << res
    s"GREATEST(0, LEAST(${n - 1}, CAST(FLOOR((($latExpr) + 90.0) / 180.0 * $n) AS BIGINT)))"
  }
  def packSql(xExpr: String, yExpr: String, res: Int): String =
    s"((${res.toLong << 58}) | ${spreadSql(xExpr)} | (${spreadSql(yExpr)} << 1))"

  /** SQL text computing cell(lat, lon, res) identically to [[cell]]. */
  def cellSql(latExpr: String, lonExpr: String, res: Int): String =
    packSql(xSql(lonExpr, res), ySql(latExpr, res), res)
}
