package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.graph.{ConnectedComponents, Local, LocalPaths}
import graft.runtime.Gate

/** Per-component optional outputs of the undirected engine: frames (P6),
  * betweenness (P8), and the directed longest source→mouth (D17).
  * Each distributes as `groupByKey(comp).flatMapGroups` over labelled
  * edges — components run in parallel, walks stay local.
  */
object Extras {

  private def labelled(edges: DataFrame, nodes: DataFrame): DataFrame = {
    val labels = ConnectedComponents.run(edges.select("src", "dst")).labels
    edges
      .join(labels.withColumnRenamed("nid", "src"), Seq("src"))
      .join(nodes.select(col("nid").as("src"), col("lat").as("lat1"),
        col("lon").as("lon1")), Seq("src"))
      .join(nodes.select(col("nid").as("dst"), col("lat").as("lat2"),
        col("lon").as("lon2")), Seq("dst"))
  }

  /** P6 — frames per component: (comp, line: array<nid>).
    *
    * HYBRID (the longestSourceMouth pattern): components ≤ `sizeThreshold`
    * edges run the exact single-task port — byte parity with the pinned
    * fixtures; bigger components take the scale path instead of round 4's
    * loud row-cap guard: distributed hull ([[graft.graph.DistHull]]) →
    * distributed chain contraction keeping the hull nids
    * ([[graft.graph.DistContract]]) → per-component A* web over the
    * PILLAR graph only ([[LocalPaths.framesCompressed]]) — task memory
    * O(contracted component), a 10-30× cut on chain-dominated river
    * topology, with the identical hull and identical shortest-path
    * metric (FramesAtScaleSpec pins scale ≡ local on unique-shortest-path
    * fixtures and across parallelism levels). The default threshold is
    * the loud-cap itself, so behaviour changes ONLY where the old code
    * failed.
    */
  def frames(
      edges: DataFrame, nodes: DataFrame, spark: SparkSession,
      sizeThreshold: Long = Local.MaxLocalGroupRows): DataFrame = {
    import spark.implicits._
    val lab = labelled(edges, nodes)
      .select("comp", "src", "dst", "lat1", "lon1", "lat2", "lon2")
      .localCheckpoint(true)
    val split = Gate("frames-local", sizeThreshold).split(lab, "comp")
    val localRes = split.small(lab)
      .as[(Long, Long, Long, Double, Double, Double, Double)]
      .groupByKey(_._1)
      .flatMapGroups { (comp, rows) =>
        val es = Local.boundedSeq(rows, s"P6 frames (component $comp)")
        val pos: LocalPaths.Pos =
          (es.map(e => e._2 -> (e._4, e._5)) ++ es.map(e => e._3 -> (e._6, e._7))).toMap
        LocalPaths.frames(es.map(e => (e._2, e._3)), pos)
          .zipWithIndex.map { case (line, i) => (comp, i, line) }
      }
      .toDF("comp", "line_idx", "line")
    if (!split.anyBig) localRes
    else localRes.unionByName(framesAtScale(split.big(lab), nodes, spark))
  }

  /** The frames scale path over pre-labelled big-component edges
    * (comp, src, dst, lat1, lon1, lat2, lon2). */
  private[graft] def framesAtScale(
      big: DataFrame, nodes: DataFrame, spark: SparkSession): DataFrame = {
    import spark.implicits._
    val verts = big.select(col("comp"), col("src").as("nid"),
        col("lat1").as("lat"), col("lon1").as("lon"))
      .unionByName(big.select(col("comp"), col("dst").as("nid"),
        col("lat2").as("lat"), col("lon2").as("lon")))
      .distinct()
    val hull = graft.graph.DistHull.hullNids(verts, spark)
      .localCheckpoint(true)
    val contracted = graft.graph.DistContract.contract(
      big.select("comp", "src", "dst"), hull.select("comp", "nid"), spark,
      "P6 frames contraction")
    val weighted = chainWeighted(contracted, nodes)
      .as[(Long, Long, Long, Seq[Long], Double,
        Double, Double, Double, Double)]
    weighted
      .groupByKey(_._1)
      .cogroup(hull.select("comp", "nid").as[(Long, Long)].groupByKey(_._1)) {
        (comp, es0, hs0) =>
          val es = Local.boundedSeq(es0,
            s"P6 frames compressed (component $comp)")
          val hs = hs0.map(_._2).toSeq
          val pos: LocalPaths.Pos =
            (es.map(e => e._2 -> (e._6, e._7)) ++
              es.map(e => e._3 -> (e._8, e._9))).toMap
          LocalPaths.framesCompressed(
              es.map(e => (e._2, e._3, e._4, e._5)), hs, pos)
            .zipWithIndex.map { case (line, i) => (comp, i, line) }
      }
      .toDF("comp", "line_idx", "line")
  }

  /** Per-chain weight and endpoint positions for DistContract output:
    * (comp, src, dst, inter) → + (len = haversine along src+inter+dst,
    * summed left-to-right in the canonical orientation — the same op
    * order as the single-task ports — lat1/lon1/lat2/lon2). Weight
    * assembly is distributed: one posexplode + nodes join + per-edge
    * ChainHaversineM, no task holds more than one chain.
    */
  private[graft] def chainWeighted(
      contracted: DataFrame, nodes: DataFrame): DataFrame = {
    val keyed = contracted
      .withColumn("ek", xxhash64(col("comp"), col("src"), col("dst"),
        col("inter")))
      .localCheckpoint(true)
    val lens = keyed
      .withColumn("chain",
        concat(array(col("src")), col("inter"), array(col("dst"))))
      .select(col("ek"), posexplode(col("chain")).as(Seq("pos", "nid")))
      .join(nodes.select("nid", "lat", "lon"), Seq("nid"))
      .groupBy("ek")
      .agg(sort_array(collect_list(struct(col("pos"), col("lat"),
        col("lon")))).as("pts"))
      .withColumn("len",
        org.apache.spark.sql.GraftColumnBridge.column(
          graft.functions.ChainHaversineM(
            org.apache.spark.sql.GraftColumnBridge.expression(col("pts")))))
      .select("ek", "len")
    keyed.join(lens, Seq("ek"))
      .join(nodes.select(col("nid").as("src"), col("lat").as("lat1"),
        col("lon").as("lon1")), Seq("src"))
      .join(nodes.select(col("nid").as("dst"), col("lat").as("lat2"),
        col("lon").as("lon2")), Seq("dst"))
      .select("comp", "src", "dst", "inter", "len",
        "lat1", "lon1", "lat2", "lon2")
  }

  /** P8 — betweenness per component with the reference's pre-pass
    * (main.rs:1056-1096): sample ≤ `maxSamples` vertexes, remove spikes
    * and compress degree-2 chains PRESERVING the samples, run Brandes on
    * the reduced graph (edge weight = chain length), then apply the
    * `--betweenness-min-value` / `--betweenness-min-fraction` cutoffs
    * (main.rs:1123-1133). Each unordered sample pair is counted ONCE
    * (undirected_graph.rs:584) and every reduced edge is seeded with 0
    * (undirected_graph.rs:579-581 — zero-centrality edges are emitted;
    * 0 passes the default cutoffs). Emits per reduced edge:
    * (comp, src, dst, chain — the full compressed-away node path for
    *  geometry expansion, value, value_fraction = v/per-COMPONENT max,
    *  value_fraction_max = v/(n·(n−1)/2), comp_max_value).
    */
  def betweenness(
      edges: DataFrame, nodes: DataFrame, spark: SparkSession,
      maxSamples: Int = 2000,
      minValue: Double = 0.0,
      minFraction: Double = 0.0,
      sizeThreshold: Long = Local.MaxLocalGroupRows,
      labels: Option[DataFrame] = None): DataFrame =
    betweennessGrouped(
      // callers that already hold this edge set's CC labels pass them in
      // (identical min-nid labels by construction) instead of paying a
      // second iterative CC run (guide §2.4: don't recompute)
      labels.getOrElse(ConnectedComponents.run(edges.select("src", "dst")).labels)
        .withColumnRenamed("nid", "src").join(edges, Seq("src"))
        .select("comp", "src", "dst"),
      nodes, spark, maxSamples, minValue, minFraction, sizeThreshold)

  /** [[betweenness]] with a caller-supplied grouping: `edges` =
    * (comp, src, dst) where `comp` is the WAY-GROUP key — the reference
    * runs one betweenness per way group (main.rs:1056-1096), so the
    * fraction denominators and `max_betweenness_value` are per way
    * group, not per whole-graph component.
    */
  def betweennessGrouped(
      edges: DataFrame, nodes: DataFrame, spark: SparkSession,
      maxSamples: Int = 2000,
      minValue: Double = 0.0,
      minFraction: Double = 0.0,
      sizeThreshold: Long = Local.MaxLocalGroupRows): DataFrame = {
    import spark.implicits._
    import graft.geo.Geo
    val e0 = edges.select("comp", "src", "dst").localCheckpoint(true)
    // HYBRID gate: every group above the threshold takes the distributed
    // step-1 contraction (DistContract + simplify) — on trees that is the
    // unpinned Local.compress exactly (DistContractSpec), so the sample
    // universe, pair counts and denominators are unchanged; on CYCLIC
    // groups the reference's contraction is merge-order-dependent
    // (undirected_graph.rs:677-699 skips duplicate/self-loop merges in
    // whatever order the BTreeMap scan visits them), and
    // [[graft.graph.DistContract.simplify]] fixes ONE realizable merge
    // order (contract fully, re-expand the conflicting chains at their
    // midpoints) — a documented deviation reachable only above the
    // threshold, where the round-4 code failed loudly instead of
    // answering (README deviations list).
    // ONE canonical distinct, shared: the size gate counts its non-loop
    // edges, and the scale path feeds it straight into DistContract
    // (which would otherwise redo the same least/greatest+distinct+
    // checkpoint).
    val canonAll = e0.select(col("comp"),
        least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct().localCheckpoint(true)
    val split = Gate("betweenness-local", sizeThreshold)
      .split(canonAll.filter(col("a") =!= col("b")), "comp")

    val localRes = split.small(e0)
      .join(nodes.select(col("nid").as("src"), col("lat").as("lat1"),
        col("lon").as("lon1")), Seq("src"))
      .join(nodes.select(col("nid").as("dst"), col("lat").as("lat2"),
        col("lon").as("lon2")), Seq("dst"))
      .select("comp", "src", "dst", "lat1", "lon1", "lat2", "lon2")
      .as[(Long, Long, Long, Double, Double, Double, Double)]
      .groupByKey(_._1)
      .flatMapGroups { (comp, rows) =>
        val es = Local.boundedSeq(rows, s"P8 betweenness (group $comp)")
        val pos: LocalPaths.Pos =
          (es.map(e => e._2 -> (e._4, e._5)) ++ es.map(e => e._3 -> (e._6, e._7))).toMap
        // 1. the pipeline's UNPINNED degree-2 compression first
        //    (main.rs:611-632 compresses every way group before
        //    do_betweenness ever sees it) — the sample universe, pair
        //    counts and fraction denominators are all over COMPRESSED
        //    vertexes, and each feature is one compressed edge
        val base = Local.compress(
          es.map(e => (e._2, e._3, Seq.empty[Long])), _ => false)
        // weight = one sliding pass over the FINAL chain (the port's
        // original op order — byte parity with the pinned specs)
        betweennessOnBase(comp, base, pos,
          chain => chain.sliding(2).map { case Seq(x, y) =>
            Geo.haversineM(pos(x)._1, pos(x)._2, pos(y)._1, pos(y)._2)
          }.sum,
          maxSamples, minValue, minFraction)
      }
      .toDF("comp", "src", "dst", "chain", "value", "value_fraction",
        "value_fraction_max", "comp_max_value")

    // the local side's node joins drop ghost-endpoint edges; so does this
    if (!split.anyBig) localRes
    else localRes.unionByName(betweennessAtScale(
      split.big(canonAll)
        .join(nodes.select(col("nid").as("a")), Seq("a"), "left_semi")
        .join(nodes.select(col("nid").as("b")), Seq("b"), "left_semi")
        .select(col("comp"), col("a").as("src"), col("b").as("dst")),
      nodes, spark, maxSamples, minValue, minFraction,
      split.bigKeys))
  }

  /** Steps 2-5 of the reference betweenness pipeline over an already
    * step-1-compressed way group: sample → despike+compress preserving
    * samples → weighted Brandes (pairs counted once, zero edges seeded)
    * → cutoffs. `chainWeight` abstracts the weight op order: the local
    * port sums segment haversines along the final chain; the scale path
    * sums the precomputed per-base-chain weights (fp association differs
    * at the ulp — no pinned fixture crosses the size gate).
    */
  private def betweennessOnBase(
      comp: Long,
      base: Seq[(Long, Long, Seq[Long])],
      pos: LocalPaths.Pos,
      chainWeight: Seq[Long] => Double,
      maxSamples: Int, minValue: Double, minFraction: Double)
      : Iterator[(Long, Long, Long, Seq[Long], Double, Double, Double, Double)] = {
    val cVerts = base.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    // 2. sample ≤ maxSamples from the compressed vertex universe
    val samples = LocalPaths.farthestPointSample(
      cVerts, pos, math.min(maxSamples, cVerts.length))
    val keep = samples.toSet
    // 3. betweenness pre-pass: spikes off, further compression —
    //    samples pinned (main.rs:1056-1096)
    val interOf = base.map { case (a, b, iv) => ((a, b), iv) }.toMap
    val despiked = Local.removeSpikes(base.map(e => (e._1, e._2)), keep.contains)
    val compressed = Local.compress(
      despiked.map { case (a, b) => (a, b, interOf((a, b))) }, keep.contains)
    val chains = compressed.map { case (a, b, inter) =>
      val c = a +: inter :+ b
      ((math.min(a, b), math.max(a, b)), if (a <= b) c else c.reverse)
    }.toMap
    val adj = compressed
      .flatMap { case (a, b, inter) =>
        val w = chainWeight(a +: inter :+ b)
        Seq(a -> (b, w), b -> (a, w))
      }
      .groupBy(_._1).view
      .mapValues(_.map(_._2).sortBy(x => (x._2, x._1))).toMap
    val b = LocalPaths.betweennessWeighted(adj, samples.filter(adj.contains))
    val maxV = if (b.isEmpty) 1.0 else math.max(b.values.max, 1e-12)
    val maxPossible =
      math.max(samples.length.toLong * (samples.length - 1) / 2.0, 1.0)
    b.toSeq.sortBy(_._1)
      .filter { case (_, v) => v >= minValue && v / maxV >= minFraction }
      .map { case ((a, c), v) =>
        (comp, a, c, chains.getOrElse((a, c), Seq(a, c)),
          v, v / maxV, v / maxPossible, maxV)
      }
      .iterator
  }

  /** The betweenness scale path for big way groups: distributed step-1
    * contraction (on trees exactly the unpinned compress; on cycles the
    * simplify midpoint merge order — see the gate comment) + distributed
    * chain weights; the per-group task then holds the SIMPLE PILLAR
    * graph (O(contracted), loudly guarded), not the raw component —
    * BetweennessAtScaleSpec pins scale ≡ local topology/chains exactly
    * and values to 1e-9 relative on conflict-free groups (trees AND
    * cycles with ≥3 pillars per cycle), and pins the midpoint-split
    * semantics plus exact-once edge coverage on conflicting cycles.
    */
  private def betweennessAtScale(
      big: DataFrame, nodes: DataFrame, spark: SparkSession,
      maxSamples: Int, minValue: Double, minFraction: Double,
      bigGroups: DataFrame): DataFrame = {
    import spark.implicits._
    // `big` arrives canonical+distinct from the caller's shared frame;
    // no pillars are pinned (Catalyst drops the anti-join against the
    // empty local keep frame), and the size gate's comp list seeds the
    // dense comp ids — three shuffles DistContract no longer repeats
    val contracted = graft.graph.DistContract.simplify(
      graft.graph.DistContract.contract(
        big, Seq.empty[(Long, Long)].toDF("comp", "nid"), spark,
        "P8 betweenness contraction",
        assumeCanonical = true, compsOpt = Some(bigGroups)), spark)
    chainWeighted(contracted, nodes)
      .as[(Long, Long, Long, Seq[Long], Double,
        Double, Double, Double, Double)]
      .groupByKey(_._1)
      .flatMapGroups { (comp, rows) =>
        val es = Local.boundedSeq(rows,
          s"P8 betweenness compressed (group $comp)")
        val base = es.map(e => (e._2, e._3, e._4))
        val baseVerts = base.flatMap(e => Seq(e._1, e._2)).toSet
        val wOf = es.map(e => ((math.min(e._2, e._3), math.max(e._2, e._3)),
          e._5)).toMap
        val pos: LocalPaths.Pos =
          (es.map(e => e._2 -> (e._6, e._7)) ++
            es.map(e => e._3 -> (e._8, e._9))).toMap
        // merged-chain weight = Σ of the constituent base-chain weights
        // (runs split at base vertexes; simplify guarantees a SIMPLE base
        // graph, so the canon key is unambiguous)
        def chainWeight(chain: Seq[Long]): Double = {
          var tot = 0.0
          var runStart = chain.head
          chain.tail.foreach { n =>
            if (baseVerts(n)) {
              tot += wOf((math.min(runStart, n), math.max(runStart, n)))
              runStart = n
            }
          }
          tot
        }
        betweennessOnBase(comp, base, pos, chainWeight,
          maxSamples, minValue, minFraction)
      }
      .toDF("comp", "src", "dst", "chain", "value", "value_fraction",
        "value_fraction_max", "comp_max_value")
  }

  /** D17 — longest source→mouth FEATURES
    * (/root/reference/src/bin/osm-lump-ways-down/longest_source_mouth.rs:
    * 209-315): per mouth, the longest upstream path is chunked into
    * consecutive same-tag-group runs; each chunk becomes a LineString
    * feature with `idx`/`revidx`/`num_parts`/`name` (default the
    * reference's misspelled "unnnamed") and the `river_system_*` props.
    * NOTE (bug-compatible): the reference labels path[0] — the furthest
    * UPSTREAM node — `river_system_mouth_nid` and the path's last node
    * `river_system_source_nid`; replicated as-is.
    *
    * @param edges (src, dst, len, tag nullable, gkey, follow: whether the
    *              flood may use this edge — groups with a parent channel
    *              and, under only-named, untagged groups are excluded;
    *              gid: dense internal group id)
    * @param nodeUp (nid, upstream_m) — gates mouths below `minLengthM`
    * @return (mouth, dist_m, idx, feature)
    */
  def longestSourceMouthFeatures(
      edges: DataFrame,
      nodes: DataFrame,
      nodeUp: DataFrame,
      minLengthM: Double,
      onlyNamed: Boolean,
      unnamedString: String,
      spark: SparkSession): DataFrame = {
    import spark.implicits._
    import graft.outputs.GeoJson
    import graft.geo.Geo
    val weak = ConnectedComponents.run(edges.select("src", "dst")).labels
    val e = edges
      .join(weak.withColumnRenamed("nid", "src"), Seq("src"))
      .join(nodes.select(col("nid").as("src"), col("lat").as("slat"),
        col("lon").as("slon")), Seq("src"))
      .join(nodes.select(col("nid").as("dst"), col("lat").as("dlat"),
        col("lon").as("dlon")), Seq("dst"))
      .join(nodeUp.select(col("nid").as("dst"), col("upstream_m").as("dup")),
        Seq("dst"), "left")
      .select(col("comp"), col("src"), col("dst"), col("len"), col("tag"),
        col("gkey"), col("follow"), col("gid"),
        col("slat"), col("slon"), col("dlat"), col("dlon"),
        coalesce(col("dup"), lit(0.0)).as("dup"))
      .as[(Long, Long, Long, Double, Option[String], String, Boolean, Long,
        Double, Double, Double, Double, Double)]
    e.groupByKey(_._1)
      .flatMapGroups { (_, rows) =>
        val es = Local.boundedSeq(rows, "D17 longest source-mouth features")
        val pos = (es.map(x => (x._2, (x._9, x._10))) ++
          es.map(x => (x._3, (x._11, x._12)))).toMap
        val upOf = es.map(x => (x._3, x._13)).toMap
        val outs = es.groupBy(_._2)
        val allNids = (es.map(_._2) ++ es.map(_._3)).distinct
        val mouths = allNids.filter { n =>
          val o = outs.getOrElse(n, Nil)
          o.isEmpty || (onlyNamed && o.forall(_._5.isEmpty))
        }.filter(n => upOf.getOrElse(n, 0.0) >= minLengthM).sorted
        val radj = es.filter(_._7).groupBy(_._3).view
          .mapValues(_.map(x => (x._2, x._4)).sortBy(y => (y._2, y._1))).toMap
        val edgeInfo = es.map(x => ((x._2, x._3), (x._4, x._5, x._6, x._8))).toMap
        mouths.iterator.flatMap { mouth =>
          val (dist, parent) = Local.dijkstra(radj, mouth)
          if (dist.size <= 1) Iterator.empty
          else {
            val (source, d) = dist.maxBy { case (n, dd) => (dd, -n) }
            if (d < minLengthM || source == mouth) Iterator.empty
            else {
              val path = Local.pathTo(parent, mouth, source)
                .map(_.reverse).getOrElse(Seq(source, mouth))
              // chunk consecutive same-group runs (rs:208-232)
              val segs = path.sliding(2).map { case Seq(a, b) =>
                (a, b, edgeInfo((a, b)))
              }.toSeq
              val chunks = scala.collection.mutable.ArrayBuffer
                .empty[(String, Option[String], Long, Seq[Long], Double)]
              // Vector, not List: `:+` on a List re-copies the whole run
              // per appended node — quadratic on a mega-river whose path
              // is one long same-group chunk
              for ((a, b, (len, tag, gkey, gid)) <- segs) {
                if (chunks.nonEmpty && chunks.last._1 == gkey) {
                  val c = chunks.last
                  chunks(chunks.length - 1) =
                    (c._1, c._2, c._3, c._4 :+ b, c._5 + len)
                } else chunks += ((gkey, tag, gid, Vector(a, b), len))
              }
              val numParts = chunks.length
              val names = chunks.map(c => c._2.getOrElse(unnamedString))
              val allNames = names.reverse
              val totalLen = chunks.map(_._5).sum
              val mouthNid = path.head   // sic — reference's labelling
              val sourceNid = path.last
              val allGids = chunks.map(_._3).reverse
              chunks.iterator.zipWithIndex.map { case ((_, tag, gid, nids, len), idx) =>
                val props = Seq(
                  "idx" -> idx.toString,
                  "revidx" -> (numParts - idx - 1).toString,
                  "num_parts" -> numParts.toString,
                  "internal_groupid" -> gid.toString,
                  "name" -> GeoJson.jsonStr(tag.getOrElse(unnamedString)),
                  "length_m" -> GeoJson.numJson(Geo.roundHalfAway(len, 1)),
                  "river_system_length_m" ->
                    GeoJson.numJson(Geo.roundHalfAway(totalLen, 1)),
                  "river_system_names" ->
                    allNames.map(GeoJson.jsonStr).mkString("[", ",", "]"),
                  "river_system_names_s" ->
                    GeoJson.jsonStr(allNames.mkString(" - ")),
                  "river_system_mouth_nid" -> mouthNid.toString,
                  "river_system_source_nid" -> sourceNid.toString,
                  "river_system_mouth_source_nids" -> s"[$mouthNid,$sourceNid]",
                  "river_system_mouth_source_nids_s" ->
                    GeoJson.jsonStr(s"$mouthNid,$sourceNid"),
                  "river_system_internal_groupids" ->
                    allGids.mkString("[", ",", "]"))
                val coords = nids.map(n => (pos(n)._2, pos(n)._1))
                (mouth, d, idx,
                  GeoJson.feature(GeoJson.propsJson(props), GeoJson.lineString(coords)))
              }
            }
          }
        }
      }
      .toDF("mouth", "dist_m", "idx", "feature")
  }

  /** D17 — longest source→mouth per basin
    * (/root/reference/src/longest_source_mouth.rs:45-315): mouths = no-out
    * vertexes; per mouth, Dijkstra flood UPSTREAM (max over shortest-path
    * distances — the reference's exact behaviour, replicated not "fixed"),
    * take the max-distance source and rebuild the path.
    *
    * HYBRID (the upstreamFlowHybrid pattern): components ≤ `sizeThreshold`
    * edges run the exact local flood in one task each; bigger components
    * take [[graft.graph.DistLongest]] — the distributed topo-DP +
    * binary-lifting path, identical values (DistLongestSpec pins
    * local ≡ distributed on braided fixtures), instead of round 4's loud
    * row-cap guard.
    * @param edges (src, dst, len) DAG
    * @return (mouth, source, dist_m, path)
    */
  def longestSourceMouth(
      edges: DataFrame, spark: SparkSession,
      sizeThreshold: Long = 2000000L,
      labels: Option[DataFrame] = None): DataFrame = {
    import spark.implicits._
    val e0 = edges.select(col("src").cast("long"), col("dst").cast("long"),
      col("len").cast("double")).localCheckpoint(true)
    val weak = labels.getOrElse(
      ConnectedComponents.run(e0.select("src", "dst")).labels)
    val labelled = e0.join(weak.withColumnRenamed("nid", "src"), Seq("src"))
    val split = Gate("d17-local", sizeThreshold).split(labelled, "comp")
    val localRes = split.small(labelled)
      .select("comp", "src", "dst", "len")
      .as[(Long, Long, Long, Double)]
      .groupByKey(_._1)
      .flatMapGroups { (_, rows) =>
        val es = Local.boundedSeq(rows, "D17 longest source-mouth")
        // set membership, not es.exists — the linear scan per node is
        // O(V·E) on big components (and O(mouths·V·E) for the candidate
        // filter below)
        val srcSet = es.iterator.map(_._2).toSet
        val dstSet = es.iterator.map(_._3).toSet
        val mouths = es.map(_._3).distinct.filterNot(srcSet.contains)
        // reversed adjacency for the upstream flood
        val radj = es.groupBy(_._3).view
          .mapValues(_.map(e => (e._2, e._4)).sortBy(x => (x._2, x._1))).toMap
        mouths.sorted.iterator.map { mouth =>
          val (dist, parent) = Local.dijkstra(radj, mouth)
          val candidates = dist.filter { case (n, _) => !dstSet.contains(n) }
          if (candidates.isEmpty) (mouth, mouth, 0.0, Seq(mouth))
          else {
            val (source, d) = candidates.maxBy { case (n, dd) => (dd, -n) }
            val path = Local.pathTo(parent, mouth, source)
              .map(_.reverse).getOrElse(Seq(source, mouth))
            (mouth, source, d, path)
          }
        }
      }
      .toDF("mouth", "source", "dist_m", "path")
    if (!split.anyBig) localRes
    else localRes.unionByName(
      graft.graph.DistLongest.longestSourceMouth(
        split.big(labelled).select("src", "dst", "len"), spark))
  }
}
