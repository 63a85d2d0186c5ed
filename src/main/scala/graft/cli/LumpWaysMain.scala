package graft.cli

import org.apache.spark.sql.SparkSession
import graft.pipeline.LumpWays
import graft.outputs.{GeoJson, Writers}

/** `osm-lump-ways` CLI-parity entry over parquet inputs: the input dir
  * must hold `ways.parquet` (wid, nids, tags, ts) and `nodes.parquet`
  * (nid, lat, lon) — the PBF scan replaced by a columnar scan, everything
  * downstream identical (SURVEY §3.1).
  *
  *   runMain graft.cli.LumpWaysMain -i DIR -o out.geojsons -f waterway=river -g name
  */
object LumpWaysMain {
  def main(argv: Array[String]): Unit = {
    Cli.parseLump(argv.toSeq) match {
      case Left(err) =>
        System.err.println(s"error: $err")
        sys.exit(2)
      case Right(args) =>
        val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt
        val spark = graft.runtime.Sessions.local(cpus, cpus)
        try run(args, spark)
        catch {
          case e: IllegalArgumentException =>
            System.err.println(s"error: ${e.getMessage}")
            e.printStackTrace(System.err)
            spark.stop()
            sys.exit(2)
        }
        finally spark.stop()
    }
  }

  def run(args: Cli.LumpArgs, spark: SparkSession): Unit = {
    val fmt = Cli.formatOf(args.outputFilename) match {
      case Left(e)  => throw new IllegalArgumentException(e)
      case Right(f) => f
    }
    // fail on bad output formats BEFORE any compute starts
    (args.outputFrames.toSeq ++ args.betweennessOutput.toSeq).foreach { p =>
      Cli.formatOf(p) match {
        case Left(e) => throw new IllegalArgumentException(e)
        case _       => ()
      }
    }
    val ways = spark.read.parquet(s"${args.inputFilename}/ways.parquet")
    val nodes = spark.read.parquet(s"${args.inputFilename}/nodes.parquet")
    val t0 = System.nanoTime()
    val cfg = args.config.copy(
      onlyNodeids = args.onlyTheseWayGroupsNodeid,
      inclWayIds = args.inclWayIds)
    // betweenness re-consumes the features frame twice more (edges +
    // props) — checkpoint once instead of re-running the geometry peel
    val feats0 = LumpWays.features(ways, nodes, cfg, spark)
    val feats =
      if (args.betweennessOutput.nonEmpty) feats0.localCheckpoint(true)
      else feats0
    // serialize per-row on executors, stream through toLocalIterator
    // — no full-result collect() anywhere on the sink path
    val lines = LumpWays.featureJson(feats).localCheckpoint(true)
    val nFeatures = lines.count()
    fmt match {
      case Cli.GeoJsonSeq =>
        Writers.writeGeoJsonSeq(lines, args.outputFilename, args.overwrite)
      case Cli.GeoJson =>
        Writers.writeGeoJson(lines, args.outputFilename, args.overwrite)
      case Cli.Csv =>
        throw new IllegalArgumentException(
          "csv output not supported for way groups")
    }
    // P6: frames output (main.rs:663-674; GeoJSONSeq only)
    args.outputFrames.foreach { path =>
      if (path == args.outputFilename)
        throw new IllegalArgumentException(
          s"Same value given for output filename & output-frames: $path")
      Writers.writeGeoJsonSeq(
        LumpWays.framesFeatureJson(feats, args.framesGroupMinLengthM,
          args.saveAsLinestrings),
        path, args.overwrite)
    }
    // P8: betweenness output — one run per KEPT way group with the
    // reference's pre-pass + min-value/min-fraction cutoffs
    // (main.rs:987-1156; way_groups is the post-filter/post-topN list)
    args.betweennessOutput.foreach { path =>
      import org.apache.spark.sql.functions._
      val wgEdges = feats
        .select(col("comp"), explode(col("lines")).as("line"))
        .select(col("comp"), posexplode(col("line")).as(Seq("i", "u")),
          col("line"))
        .filter(col("i") < size(col("line")) - 1)
        .select(col("comp"),
          least(col("u"), col("line")(col("i") + 1)).as("src"),
          greatest(col("u"), col("line")(col("i") + 1)).as("dst"))
        .filter(col("src") =!= col("dst")).distinct()
      val b = graft.pipeline.Extras.betweennessGrouped(
        wgEdges, nodes, spark, args.betweennessMaxNodes.toInt,
        args.betweennessMinValue, args.betweennessMinFraction)
      val bFeats = betweennessFeatures(b, feats, nodes, spark)
      (Cli.formatOf(path) match {
        case Right(Cli.GeoJsonSeq) =>
          Writers.writeGeoJsonSeq(bFeats, path, args.overwrite)
        case _ => Writers.writeGeoJson(bFeats, path, args.overwrite)
      })
    }
    val secs = (System.nanoTime() - t0) / 1e9
    val nWays = ways.count()
    println(f"[lump-ways] wrote $nFeatures features to ${args.outputFilename} " +
      f"($nWays ways in $secs%.1f s, ${nWays / secs}%.0f ways/sec)")
  }

  /** One LineString feature per scored edge, props in serde-alphabetical
    * order (main.rs:1118-1146): the owning WAY GROUP's full `json_props`
    * (main.rs:1134 `wg.json_props.clone()`) plus betweenness_value
    * (integer when whole, as Rust serializes its counts),
    * max_betweenness_value = the per-way-group max (main.rs:1115-1117),
    * betweenness_fraction(+_max) at 6 dp; geometry = the edge's FULL
    * compressed-away node chain expanded back to coordinates.
    */
  private def betweennessFeatures(
      b: org.apache.spark.sql.DataFrame,
      wayGroups: org.apache.spark.sql.DataFrame,
      nodes: org.apache.spark.sql.DataFrame,
      spark: SparkSession): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    def intishJson(v: Double): String =
      if (v.isWhole && math.abs(v) < 1e15) v.toLong.toString else GeoJson.numJson(v)
    val withId = b.withColumn("eid", monotonically_increasing_id())
      .localCheckpoint(true)
    val coords = withId
      .select(col("eid"), posexplode(col("chain")).as(Seq("pos", "nid")))
      .join(nodes, Seq("nid"))
      .groupBy("eid")
      .agg(sort_array(collect_list(struct(col("pos"), col("lon"), col("lat"))))
        .as("pts"))
    val wgPropCols = Seq("comp", "grp", "root_nodeid", "length_m",
      "num_nodes", "length_desc_rank", "length_desc_rank_perc",
      "length_asc_rank", "length_asc_rank_perc",
      "length_m_fraction_total", "length_m_fraction_longest") ++
      (if (wayGroups.columns.contains("all_wayids")) Seq("all_wayids") else Nil)
    val wgProps = wayGroups.select(wgPropCols.map(col): _*)
      .dropDuplicates("comp")
    withId.join(coords, Seq("eid")).join(wgProps, Seq("comp"))
      .orderBy("comp", "src", "dst")
      .map { r =>
        val v = r.getAs[Double]("value")
        val props = graft.pipeline.LumpWays.groupPropsKvs(r) ++ Seq(
          "betweenness_value" -> intishJson(v),
          "max_betweenness_value" -> intishJson(r.getAs[Double]("comp_max_value")),
          "betweenness_fraction" ->
            GeoJson.numJson(graft.geo.Geo.roundHalfAway(r.getAs[Double]("value_fraction"), 6)),
          "betweenness_fraction_max" ->
            GeoJson.numJson(graft.geo.Geo.roundHalfAway(r.getAs[Double]("value_fraction_max"), 6)))
        val pts = r.getAs[collection.Seq[org.apache.spark.sql.Row]]("pts")
          .map(p => (p.getDouble(1), p.getDouble(2)))
        GeoJson.feature(GeoJson.propsJson(props), GeoJson.lineString(pts.toSeq))
      }
      .toDF("feature")
  }
}
