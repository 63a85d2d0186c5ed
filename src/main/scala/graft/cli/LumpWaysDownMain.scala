package graft.cli

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.geo.SpatialJoins
import graft.graph.{DownOps, Flow, Rescans, Scc, WaterwayFeatures}
import graft.outputs.Writers
import graft.pipeline.Extras
import graft.tagfilter.TagFilterCompiler

/** `osm-lump-ways-down` CLI-parity entry over parquet inputs
  * (/root/reference/src/bin/osm-lump-ways-down/main.rs:146-1270): the
  * directed-flow engine end-to-end — tag filter → (optional) relation-tag
  * overwrite → directed way graph → SCC loops outputs → cycle
  * contraction → upstream flow (equal split or `--flow-follows-tag`) →
  * ends / ends-CSV / upstreams / grouped-ends / grouped-waterways /
  * longest-source-mouth files.
  *
  * Input dir: `ways.parquet` (wid, nids, tags, ts), `nodes.parquet`
  * (nid, lat, lon), optional `relations.parquet` (rid, members, tags) and
  * `boundaries.parquet` (area, ring: array<struct<lat,lon>>) for the
  * loops-per-area stats (the reference links the country-boundaries crate;
  * boundary data arrives as a table here).
  */
object LumpWaysDownMain {

  def main(argv: Array[String]): Unit = {
    Cli.parseDown(argv.toSeq) match {
      case Left(err) =>
        System.err.println(s"error: $err")
        sys.exit(2)
      case Right(args) =>
        val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt
        val spark = graft.runtime.Sessions.local(cpus, cpus)
        try run(args, spark)
        catch {
          case e: IllegalArgumentException =>
            // clean one-liner for CLI mistakes, full trace preserved so
            // an internal IAE from deep in the pipeline stays debuggable
            System.err.println(s"error: ${e.getMessage}")
            e.printStackTrace(System.err)
            spark.stop()
            sys.exit(2)
        }
        finally spark.stop()
    }
  }

  /** Write a (pre-sorted) single-column feature frame as .geojson(s). */
  private def writeFeatures(df: DataFrame, path: String, overwrite: Boolean): Unit =
    Cli.formatOf(path) match {
      case Right(Cli.GeoJsonSeq) => Writers.writeGeoJsonSeq(df, path, overwrite)
      case Right(Cli.GeoJson)    => Writers.writeGeoJson(df, path, overwrite)
      case other =>
        throw new IllegalArgumentException(s"Unsupported output format: $path ($other)")
    }

  def run(args: Cli.DownArgs, spark: SparkSession): Unit = {
    // fail on bad output formats BEFORE any compute starts
    (args.loops.toSeq ++ args.ends.toSeq ++ args.upstreams.toSeq ++
      args.groupedEnds.toSeq ++ args.groupedWaterways.toSeq ++
      args.longestSourceMouth.toSeq).foreach { p =>
      Cli.formatOf(p) match {
        case Right(Cli.Csv) | Left(_) =>
          throw new IllegalArgumentException(s"Unsupported output format: $p")
        case _ => ()
      }
    }
    val t0 = System.nanoTime()
    val dir = args.inputFilename
    val nodes = spark.read.parquet(s"$dir/nodes.parquet").localCheckpoint(true)
    val ways0 = spark.read.parquet(s"$dir/ways.parquet")
    val ways1 =
      if (args.relationTagsOverwrite)
        Rescans.relationTagsOverwrite(ways0,
          spark.read.parquet(s"$dir/relations.parquet"),
          args.relationTagsRole)
      else ways0
    val ways = ways1.filter(TagFilterCompiler.passFilters(
      args.tagFilters, args.tagFilterFunc, col("tags")))
      .localCheckpoint(true)

    val latestTimestamp: Long =
      if (ways.columns.contains("ts"))
        Option(ways.agg(max(unix_timestamp(col("ts").cast("timestamp"))))
          .head().get(0)).map(_.asInstanceOf[Long]).getOrElse(0L)
      else 0L

    // directed edges: consecutive node pairs in way order; `tag` = the
    // --flow-follows-tag value (null ⇒ the equal-split group)
    val tagExpr = args.flowFollowsTag
      .map(t => element_at(col("tags"), t))
      .getOrElse(lit(null).cast("string"))
    val pairs = ways
      .select(col("wid"), col("nids"), tagExpr.as("tag"))
      .select(col("tag"), posexplode(col("nids")).as(Seq("i", "u")),
        col("nids"))
      .filter(col("i") < size(col("nids")) - 1)
      .select(col("u").as("src"), col("nids")(col("i") + 1).as("dst"), col("tag"))
      .filter(col("src") =!= col("dst"))
    // one edge per (src, dst); deterministic tag pick (min non-null)
    val dirEdges = pairs.groupBy("src", "dst")
      .agg(min("tag").as("tag"))
      .localCheckpoint(true)
    val n1 = nodes.select(col("nid").as("src"), col("lat").as("lat1"), col("lon").as("lon1"))
    val n2 = nodes.select(col("nid").as("dst"), col("lat").as("lat2"), col("lon").as("lon2"))
    val withLen = dirEdges
      .join(n1, Seq("src")).join(n2, Seq("dst"))
      .withColumn("len", graft.geo.Geo.haversineM(
        col("lat1"), col("lon1"), col("lat2"), col("lon2")))
      .select("src", "dst", "tag", "len")
      .localCheckpoint(true)

    lazy val scc = Scc.run(dirEdges.select("src", "dst")).localCheckpoint(true)

    // ---- loops (D2 + S8 + S10) ----------------------------------------
    if (args.loops.nonEmpty || args.loopsCsvStatsFile.nonEmpty ||
        args.loopsOpenmetrics.nonEmpty) {
      val loopsDf = DownOps.loops(withLen.select("src", "dst"), nodes, Some(scc))
      val geom = DownOps.loopGeometry(withLen.select("src", "dst"), nodes, scc)
        .localCheckpoint(true)
      val boundaries = boundaryPolygons(spark, dir)
      val loopAreas =
        if (boundaries.isEmpty)
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("scc",
                org.apache.spark.sql.types.LongType),
              org.apache.spark.sql.types.StructField("area",
                org.apache.spark.sql.types.StringType))))
        else SpatialJoins.pipJoin(
          // geocode = first line's first coordinate (main.rs:573-576)
          geom.select(col("scc").as("pid"), col("first_lat").as("plat"),
            col("first_lon").as("plon")),
          boundaries, 6)
          .select(col("pid").as("scc"), col("area"))
      val feats = DownOps.loopFeatures(
        withLen.select("src", "dst"), nodes, scc, loopsDf, loopAreas,
        inclNids = args.loopsInclNids, geomOpt = Some(geom))
        .localCheckpoint(true)

      args.loops.foreach { path =>
        writeFeatures(feats.orderBy("scc").select("feature"), path, args.overwrite)
      }
      if (args.loopsCsvStatsFile.nonEmpty || args.loopsOpenmetrics.nonEmpty) {
        // planet + per-area counts and RAW lengths (main.rs:606-630)
        val perBoundary = feats
          .select(col("length_m_raw"),
            explode(concat(array(lit("planet")), col("areas"))).as("area"))
          .groupBy("area")
          .agg(count(lit(1)).as("n"), sum("length_m_raw").as("len"))
          .orderBy("area")
          .collect()
          .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
        args.loopsCsvStatsFile.foreach { path =>
          val iso = java.time.Instant.ofEpochSecond(latestTimestamp).toString
          Writers.appendCsv(
            Seq("timestamp", "iso_datetime", "area", "metric", "value"),
            perBoundary.iterator.flatMap { case (area, nLoops, len) =>
              Iterator(
                Seq(latestTimestamp.toString, iso, area, "loops_count",
                  nLoops.toString),
                Seq(latestTimestamp.toString, iso, area, "loops_length_m",
                  f"$len%.1f"))
            }, path)
        }
        args.loopsOpenmetrics.foreach { path =>
          Writers.writeLines(Iterator(DownOps.openMetrics(
            perBoundary.toSeq.map { case (a, n, l) => (a, n, l) },
            latestTimestamp)), path, overwrite = true)
        }
      }
    }

    // ---- flow outputs ---------------------------------------------------
    val needFlow = args.ends.nonEmpty || args.endsCsvFile.nonEmpty ||
      args.upstreams.nonEmpty || args.groupedEnds.nonEmpty ||
      args.groupedWaterways.nonEmpty || args.longestSourceMouth.nonEmpty
    if (needFlow) {
      val contracted = Flow.contractCycles(withLen, scc).localCheckpoint(true)
      val flowTag =
        if (args.flowFollowsTag.nonEmpty) contracted
        else contracted.withColumn("tag", lit(null).cast("string"))
      val up = Flow.upstreamFlowHybrid(flowTag)
      val nodeUp = up.nodeUpstream
      val flows = up.edgeFlow

      val ends = Flow.endPoints(contracted.select("src", "dst"))
        .join(nodeUp.select(col("nid"), col("upstream_m")), Seq("nid"))
        .localCheckpoint(true)
      // membership filters sorted by their Display form (main.rs:774-776)
      val sortedMembership = args.endsMembership.sortBy(_.display)
      val membership = Rescans.endsMembership(
        ends.select("nid"), ways, sortedMembership, args.endsTag)
        .localCheckpoint(true)

      args.ends.foreach { path =>
        writeFeatures(
          DownOps.endsGeoJson(ends, nodes, membership, args.minUpstreamM,
            sortedMembership, args.endsTag),
          path, args.overwrite)
      }
      if (args.endsCsvFile.nonEmpty && args.endsTag.nonEmpty) {
        val (header, rows) = DownOps.endsCsv(
          ends, nodes, membership, args.endsTag, latestTimestamp,
          args.endsCsvOnlyTagged, args.endsCsvMinLengthM,
          args.endsCsvOnlyLargestN)
        Writers.appendCsv(header, rows, args.endsCsvFile.get)
      }

      lazy val assignment = Flow.biggestEndAssignment(
        contracted.select("src", "dst"), ends)
      lazy val endMeta = assignment
        .filter(col("nid") === col("end_nid"))
        .select(col("end_nid"), col("end_upstream_m"))
        .join(membership.withColumnRenamed("nid", "end_nid"), Seq("end_nid"), "left")
        .localCheckpoint(true)

      lazy val tagGrouped = DownOps.tagGroupCC(
          flowTag.select("src", "dst", "tag"))
        .localCheckpoint(true)
      lazy val lens = contracted.select("src", "dst", "len")
      lazy val flowsEdge = flows.select("src", "dst", "flow_m")
      lazy val bundleAll = WaterwayFeatures.groupBundle(
        tagGrouped, lens, flowsEdge, nodes)

      args.upstreams.foreach { path =>
        val e = WaterwayFeatures.edgesWithMeta(tagGrouped, lens, flowsEdge)
        val feats = WaterwayFeatures.upstreamFeatures(
          e, assignment.select("nid", "end_nid"), endMeta, nodes,
          bundleAll._2, args.endsTag, args.upstreamsMinUpstreamM,
          args.upstreamsFromUpstreamMultiple)
        writeFeatures(feats.orderBy("src", "dst").select("feature"),
          path, args.overwrite)
      }

      args.groupedEnds.foreach { path =>
        val feats = DownOps.groupedEndFeatures(
          flows.select("src", "dst", "flow_m", "len"),
          assignment.select("nid", "end_nid"), endMeta, nodes,
          args.endsTag, args.groupedEndsMaxDistanceM)
        writeFeatures(feats.orderBy("end_nid", "line_idx").select("feature"),
          path, args.overwrite)
      }

      args.groupedWaterways.foreach { path =>
        val feats = WaterwayFeatures.groupedWaterwayFeatures(
          tagGrouped, lens, flowsEdge, nodes, args.minLengthM,
          precomputed = Some(bundleAll))
        writeFeatures(feats.orderBy("gkey").select("feature"),
          path, args.overwrite)
      }

      args.longestSourceMouth.foreach { path =>
        val bundle = bundleAll._2
        val info = bundle.metas.map(m =>
          m.gkey -> (m.gid, m.tag.isDefined,
            !bundle.sideChannelGroups.contains(m.gkey))).toMap
        val bInfo = spark.sparkContext.broadcast(info)
        val gidOf = udf((g: String) => bInfo.value.get(g).map(_._1))
        val followOf = udf((g: String) => bInfo.value.get(g).exists {
          case (_, tagged, noParentChannel) =>
            noParentChannel && (tagged || !args.longestSourceMouthOnlyNamed)
        })
        val e = WaterwayFeatures.edgesWithMeta(tagGrouped, lens, flowsEdge)
          .withColumn("gid", gidOf(col("gkey")))
          .withColumn("follow", followOf(col("gkey")))
          .select("src", "dst", "len", "tag", "gkey", "follow", "gid")
        val feats = Extras.longestSourceMouthFeatures(
          e, nodes, nodeUp, args.longestSourceMouthMinLengthM,
          args.longestSourceMouthOnlyNamed,
          args.longestSourceMouthUnnamedString, spark)
          .localCheckpoint(true)
        val kept = args.longestSourceMouthLongestN match {
          case Some(n) =>
            val topMouths = feats.select("mouth", "dist_m").distinct()
              .orderBy(col("dist_m").desc, col("mouth").asc).limit(n.toInt)
              .select("mouth")
            feats.join(topMouths, Seq("mouth"), "left_semi")
          case None => feats
        }
        writeFeatures(
          kept.orderBy(col("dist_m").desc, col("mouth").asc, col("idx").asc)
            .select("feature"),
          path, args.overwrite)
      }
    }
    val secs = (System.nanoTime() - t0) / 1e9
    println(f"[lump-ways-down] done in $secs%.1f s")
  }

  /** Optional boundary polygons for loops-per-area stats. */
  private def boundaryPolygons(
      spark: SparkSession, dir: String): Seq[(String, IndexedSeq[(Double, Double)])] = {
    val p = java.nio.file.Paths.get(dir, "boundaries.parquet")
    if (!java.nio.file.Files.exists(p)) Nil
    else spark.read.parquet(p.toString)
      .select("area", "ring")
      .collect()
      .map { r =>
        (r.getString(0),
          r.getAs[collection.Seq[org.apache.spark.sql.Row]]("ring")
            .map(x => (x.getDouble(0), x.getDouble(1))).toIndexedSeq)
      }.toSeq
  }
}
