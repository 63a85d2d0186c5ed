package graft.geo

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Cell-indexed spatial joins (north rule: point-in-polygon containment,
  * kNN nearest-way lookup, executed as broadcast/sort-merge joins on cell
  * id; skew handled by AQE + explicit repartition on cell).
  */
object SpatialJoins {

  /** Equi-join two point sets on their cell id at `res`.
    * Both sides get a `cell` column; the join is a plain shuffled
    * equi-join that AQE can skew-split — this is the scale path for
    * "which ways are near this page" at 10^12 rows.
    */
  def cellJoin(
      left: DataFrame, latL: String, lonL: String,
      right: DataFrame, latR: String, lonR: String,
      res: Int): DataFrame = {
    val l = left.withColumn("cell", CellIndex.cellCol(col(latL), col(lonL), res))
    val r = right.withColumn("cell", CellIndex.cellCol(col(latR), col(lonR), res))
    l.join(r, "cell")
  }

  /** Exact nearest neighbour of every point among `nodes`, via expanding
    * Chebyshev rings on the cell grid (SURVEY.md §4.3 "kNN = expanding
    * ring of neighbouring cells").
    *
    * Exactness: a point is only resolved once its best candidate distance
    * is below the minimum possible distance to any cell outside the
    * searched disk (conservative metric bound); otherwise the radius
    * doubles. Distribution: candidates flow through cell equi-joins; the
    * driver loop runs O(log maxRadius) rounds, each a fully parallel join.
    *
    * @return (pid, nn_nid, dist_m) with deterministic (dist, nid) tie-break.
    */
  /** The cell-indexed, parallelism-spread node frame [[knnJoin]]
    * searches — exposed so several kNN queries over the SAME node table
    * build it once (checkpointed) instead of once per call.
    *
    * AQE coalesces a small upstream aggregation to one partition, which
    * would serialize both the ring joins and the straggler scan
    * (measured: a 4.2 s single-task scan at sf0.1); spread by cell so
    * the scan and the per-round joins parallelize. No-op when the node
    * table already scans wide.
    */
  def cellIndexedNodes(nodes: DataFrame, res: Int): DataFrame = {
    val nodesCell0 = nodes
      .withColumn("cell", CellIndex.cellCol(col("lat"), col("lon"), res))
    val want = nodes.sparkSession.sparkContext.defaultParallelism
    (if (nodesCell0.rdd.getNumPartitions < want)
      nodesCell0.repartition(want, col("cell"))
    else nodesCell0)
      .localCheckpoint(true)
  }

  def knnJoin(
      points: DataFrame, // (pid, plat, plon)
      nodes: DataFrame,  // (nid, lat, lon)
      res: Int,
      ringKMax: Int = 8,      // after this radius, stragglers go to the scan
      bcastMax: Int = 100000,
      // pair budget under which the broadcast-scan fallback may fire
      // EARLY (before ringKMax): the scan computes |unresolved|·|nodes|
      // haversines, so it only beats the ring rounds when that product
      // is small (measured: 500 pts × 840 k nodes = 4·10⁸ pairs took
      // ~60 s/rep — far worse than 4 ring rounds). Exactness and the
      // (dist, nid) tie-break are identical on both paths.
      scanPairBudget: Long = 10000000L,
      // a caller-held [[cellIndexedNodes]] frame (same nodes, same res),
      // already checkpointed — shared across kNN queries
      nodesCellOpt: Option[DataFrame] = None): DataFrame = {
    val spark = points.sparkSession
    import spark.implicits._
    val metresPerDegLat = math.Pi / 180.0 * Geo.EarthRadiusM // ≈ 111194.9
    val cellD = CellIndex.cellDeg(res)

    val nodesCell = nodesCellOpt.getOrElse(cellIndexedNodes(nodes, res))

    // only the NEW annulus (kPrev, k] each round — already-searched cells
    // are never regenerated or re-scored (round-1 bench: one outlier point
    // exploded into 66k cells/round under the full-disk regeneration)
    val annulusUdf = udf { (lat: Double, lon: Double, kLo: Int, kHi: Int) =>
      CellIndex.annulus(CellIndex.cell(lat, lon, res), kLo, kHi)
    }

    // state: (pid, plat, plon, b struct(dist, nid) | null) — best-so-far
    val (start, startRdds) = graft.runtime.CheckpointGen.persisted(spark.sparkContext)(
      points.select(col("pid"), col("plat"), col("plon"),
        lit(null).cast("struct<dist:double,nid:bigint>").as("b"))
        .localCheckpoint(true))
    var unresolved = start
    var results: Option[DataFrame] = None
    var kPrev = -1
    var k = 1
    val maxK = (1L << res).toInt

    def finish(done: DataFrame): Unit =
      results = Some(results.map(_.union(done)).getOrElse(done))

    val nodeCount = nodesCell.count() // cheap: counts the checkpoint
    var remaining = unresolved.count()
    while (remaining > 0) {
      if (remaining <= bcastMax &&
          (k > ringKMax || remaining * nodeCount <= scanPairBudget)) {
        // straggler fallback: broadcast the few unresolved points and scan
        // the node table ONCE (partial best per partition, then global min)
        // — exact, and bounded by `bcastMax` rows on the driver. Points are
        // keyed by index so pid keeps its original type (urls are strings).
        val remRows = unresolved.select("pid", "plat", "plon").collect()
        val pts = remRows.map(r => (r.getDouble(1), r.getDouble(2)))
        val bPts = spark.sparkContext.broadcast(pts)
        val partial = nodesCell.select("nid", "lat", "lon")
          .as[(Long, Double, Double)]
          .mapPartitions { it =>
            val ps = bPts.value
            val bestD = Array.fill(ps.length)(Double.MaxValue)
            val bestN = Array.fill(ps.length)(Long.MaxValue)
            it.foreach { case (nid, lat, lon) =>
              var i = 0
              while (i < ps.length) {
                val d = Geo.haversineM(ps(i)._1, ps(i)._2, lat, lon)
                if (d < bestD(i) || (d == bestD(i) && nid < bestN(i))) {
                  bestD(i) = d; bestN(i) = nid
                }
                i += 1
              }
            }
            ps.indices.iterator
              .filter(i => bestD(i) < Double.MaxValue)
              .map(i => (i.toLong, bestD(i), bestN(i)))
          }
          .toDF("idx", "dist", "nid")
        val idxPid = spark.createDataFrame(
          spark.sparkContext.parallelize(
            remRows.zipWithIndex.map { case (r, i) =>
              org.apache.spark.sql.Row(i.toLong, r.get(0))
            }.toSeq, 1),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("idx",
              org.apache.spark.sql.types.LongType),
            unresolved.schema("pid").copy(name = "pid"))))
        finish(partial
          .groupBy("idx")
          .agg(min(struct(col("dist"), col("nid"))).as("b"))
          .join(broadcast(idxPid), "idx")
          .select(col("pid"), col("b.nid").as("nn_nid"), col("b.dist").as("dist_m")))
        remaining = 0
      } else {
        val nb = unresolved
          .withColumn("cell",
            explode(annulusUdf(col("plat"), col("plon"), lit(kPrev), lit(k))))
          .join(nodesCell, "cell")
          .withColumn("dist",
            Geo.haversineM(col("plat"), col("plon"), col("lat"), col("lon")))
          .groupBy("pid")
          .agg(min(struct(col("dist"), col("nid"))).as("nb"))

        // merge: struct compare = (dist, nid) lexicographic; least() skips
        // the null side, so the carried best survives empty annuli
        val merged = unresolved.join(nb, Seq("pid"), "left")
          .select(col("pid"), col("plat"), col("plon"),
            least(col("b"), col("nb")).as("b"))

        // Lower bound on the distance to anything outside the k-disk:
        //   lat axis:  k cells of cellD degrees
        //   lon axis:  k cells of 2·cellD degrees shrunk by cos(worst lat)
        val worstLat = least(abs(col("plat")) + lit((k + 1) * cellD), lit(89.9))
        val latBound = lit(k * cellD * metresPerDegLat)
        val lonBound = lit(k * 2 * cellD * metresPerDegLat) * cos(radians(worstLat))
        val bound = least(latBound, lonBound)
        val withFlag = merged
          .withColumn("resolved",
            lit(k >= maxK) || (col("b").isNotNull && col("b.dist") < bound))
          .localCheckpoint(true)

        finish(withFlag.filter(col("resolved"))
          .select(col("pid"), col("b.nid").as("nn_nid"), col("b.dist").as("dist_m")))

        unresolved = withFlag.filter(!col("resolved"))
          .select("pid", "plat", "plon", "b")
        remaining = unresolved.count()
        kPrev = k
        // ×4 growth: each ring round costs a driver round-trip (annulus
        // join + checkpoint + count) — the dominant cost at every scale —
        // while the annulus cell count is cheap; the resolution bound is
        // evaluated at the CURRENT k either way, so results are identical
        // under any growth schedule (same exactness argument)
        k = math.min(k * 4, maxK)
      }
    }
    // the first round read the start set eagerly; the results do not
    graft.runtime.CheckpointGen.release(startRdds)
    results.getOrElse(
      points.sparkSession.emptyDataFrame
        .withColumn("pid", lit(0L)).withColumn("nn_nid", lit(0L))
        .withColumn("dist_m", lit(0.0)).limit(0))
  }

  /** Point-in-polygon containment join: polygons → cell covering
    * (broadcast), points → cell, exact ray-cast test.
    *
    * @param polygons (area, ring of (lat, lon)) — boundary sets are small
    *                 (hundreds of countries), so driver-side + broadcast.
    * @return (pid, area) one row per containment.
    */
  def pipJoin(
      points: DataFrame, // (pid, plat, plon)
      polygons: Seq[(String, IndexedSeq[(Double, Double)])],
      res: Int): DataFrame = {
    val spark = points.sparkSession
    val cover: Map[Long, Seq[Int]] = polygons.zipWithIndex
      .flatMap { case ((_, ring), i) => Polygon.coverCells(ring, res).map(_ -> i) }
      .groupBy(_._1)
      .map { case (c, xs) => (c, xs.map(_._2)) }
    val bCover = spark.sparkContext.broadcast(cover)
    val bPolys = spark.sparkContext.broadcast(polygons.toIndexedSeq)

    val matchUdf = udf { (lat: Double, lon: Double) =>
      val cell = CellIndex.cell(lat, lon, res)
      bCover.value.getOrElse(cell, Nil).collect {
        case i if Polygon.contains(bPolys.value(i)._2, lat, lon) =>
          bPolys.value(i)._1
      }
    }
    points
      .withColumn("area", explode(matchUdf(col("plat"), col("plon"))))
      .select("pid", "area")
  }
}
