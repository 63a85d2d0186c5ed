package graft.geo

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Raster↔vector tiling (north rule; SURVEY.md §4.3 "per-cell
  * aggregation of way density"):
  *
  *  - [[rasterize]] — vector → raster: nodes and edge midpoints binned
  *    into quadkey tiles at a resolution, with per-tile counts and total
  *    way length. One groupBy per layer + a cell equi-join; the tile id
  *    is pure integer algebra, so a 10^12-row input shuffles once per
  *    layer and range-partitions by Morton id for file-skipping sinks.
  *  - [[vectorize]] — raster → vector: tiles at-or-above a density
  *    threshold are "filled pixels"; 4-neighbour-connected fills merge
  *    into blobs via the shuffle connected-components operator (the
  *    raster polygonize step). Longitude adjacency wraps like
  *    [[CellIndex.disk]].
  */
object Raster {

  /** Vector → raster at `res`: (cell, x, y, n_nodes, n_edges, len_sum)
    * per non-empty tile — node count, edge-midpoint count, Σ edge
    * haversine length.
    *
    * @param nodes (nid, lat, lon)
    * @param edges (src, dst) canonical
    */
  def rasterize(nodes: DataFrame, edges: DataFrame, res: Int): DataFrame = {
    val nc = nodes
      .groupBy(CellIndex.xCol(col("lon"), res).as("x"),
        CellIndex.yCol(col("lat"), res).as("y"))
      .agg(count(lit(1)).as("n_nodes"))
    val n1 = nodes.select(col("nid").as("src"), col("lat").as("lat1"),
      col("lon").as("lon1"))
    val n2 = nodes.select(col("nid").as("dst"), col("lat").as("lat2"),
      col("lon").as("lon2"))
    val ec = edges
      .join(n1, Seq("src")).join(n2, Seq("dst"))
      .withColumn("mlat", (col("lat1") + col("lat2")) / 2.0)
      .withColumn("mlon", (col("lon1") + col("lon2")) / 2.0)
      .withColumn("len",
        Geo.haversineM(col("lat1"), col("lon1"), col("lat2"), col("lon2")))
      .groupBy(CellIndex.xCol(col("mlon"), res).as("x"),
        CellIndex.yCol(col("mlat"), res).as("y"))
      .agg(count(lit(1)).as("n_edges"), sum("len").as("len_sum"))
    nc.join(ec, Seq("x", "y"), "full_outer")
      .select(
        CellIndex.packCol(col("x"), col("y"), res).as("cell"),
        col("x"), col("y"),
        coalesce(col("n_nodes"), lit(0L)).as("n_nodes"),
        coalesce(col("n_edges"), lit(0L)).as("n_edges"),
        coalesce(col("len_sum"), lit(0.0)).as("len_sum"))
  }

  /** Raster → vector: tiles with `v >= minV` merge into 4-neighbour
    * blobs (longitude-wrapping), labelled by the minimum member cell id;
    * isolated tiles are their own blob.
    *
    * @param cells (cell, x, y, v)
    * @param driverMaxRes resolutions at or below this label blobs with
    *                     one driver-side union-find; 0 forces the
    *                     distributed tile-adjacency CC
    * @return (blob, n_cells, v_sum, min_x, max_x, min_y, max_y)
    */
  def vectorize(cells: DataFrame, minV: Long, res: Int,
      driverMaxRes: Long = 10L): DataFrame = {
    val n = 1L << res
    val t = cells.filter(col("v") >= minV).select("cell", "x", "y", "v")
    if (graft.runtime.Gate("raster-driver", driverMaxRes).admits(res)) {
      // The tile graph is bounded by the GRID (4^res cells — ≤ ~1M at
      // res 10), not by the input size: `cells` is already the per-tile
      // aggregate. Blob labelling is a driver union-find over that
      // bounded frame — one collect + one local pass replaces an
      // iterative distributed CC whose driver rounds dominated the
      // query (guide §1.2: algorithm before configuration; the collect
      // is O(4^res), the same bounded class as the PIP box collect).
      val spark = t.sparkSession
      import spark.implicits._
      val rows = t.select(col("cell").cast("long"), col("x").cast("long"),
        col("y").cast("long"), col("v").cast("long"))
        .as[(Long, Long, Long, Long)].collect()
      val cellAt = new scala.collection.mutable.HashMap[(Long, Long), Long]
      rows.foreach { case (c, x, y, _) => cellAt((x, y)) = c }
      val uf = new graft.graph.Local.MinUnionFind
      rows.foreach { case (c, x, y, _) =>
        // 4-neighbour adjacency, longitude-wrapping in x (same pairs as
        // the former (ax+1)%n == bx / ay+1 == by equi-joins)
        cellAt.get(((x + 1) % n, y)).foreach(uf.union(c, _))
        cellAt.get((x, y + 1)).foreach(uf.union(c, _))
      }
      val agg = new scala.collection.mutable.HashMap[
        Long, (Long, Long, Long, Long, Long, Long)]
      rows.foreach { case (c, x, y, v) =>
        val b = uf.find(c)
        agg.get(b) match {
          case None => agg(b) = (1L, v, x, x, y, y)
          case Some((nc, vs, x0, x1, y0, y1)) =>
            agg(b) = (nc + 1, vs + v, math.min(x0, x), math.max(x1, x),
              math.min(y0, y), math.max(y1, y))
        }
      }
      agg.toSeq.map { case (b, (nc, vs, x0, x1, y0, y1)) =>
        (b, nc, vs, x0, x1, y0, y1)
      }.toDF("blob", "n_cells", "v_sum", "min_x", "max_x", "min_y", "max_y")
    } else {
      val a = t.select(col("cell").as("src"), col("x").as("ax"), col("y").as("ay"))
      val b = t.select(col("cell").as("dst"), col("x").as("bx"), col("y").as("by"))
      // two EQUI-joins (hash-joinable expression keys), not one OR-join
      // (which would plan as a nested-loop over every tile pair)
      val adj = a.join(b,
          ((col("ax") + 1) % n === col("bx")) && col("ay") === col("by"))
        .select("src", "dst")
        .union(a.join(b,
            col("ax") === col("bx") && (col("ay") + 1) === col("by"))
          .select("src", "dst"))
      val labels = graft.graph.ConnectedComponents.run(adj).labels
      t.join(labels.withColumnRenamed("nid", "cell"), Seq("cell"), "left")
        .withColumn("blob", coalesce(col("comp"), col("cell")))
        .groupBy("blob")
        .agg(count(lit(1)).as("n_cells"), sum("v").as("v_sum"),
          min("x").as("min_x"), max("x").as("max_x"),
          min("y").as("min_y"), max("y").as("max_y"))
    }
  }
}
