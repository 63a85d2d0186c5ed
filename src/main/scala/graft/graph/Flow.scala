package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.runtime.Gate

/** Directed-flow operators (SURVEY.md §2.6): end points, topological
  * frontier propagation of upstream metres with the reference's full
  * flow-splitting rule (equal split + `--flow-follows-tag` groups).
  *
  * The reference walks a global topological order sequentially
  * (/root/reference/src/bin/osm-lump-ways-down/main.rs:805-910). Here the
  * walk is reformulated as batched [[Frontier]] rounds:
  * every round resolves *all* currently-ready nodes at once, so the round
  * count equals the DAG depth — deterministic and identical at any
  * parallelism (a reported metric).
  *
  * Split rule at a node with >1 out-edge (down/main.rs:838-906):
  *   - in-edges are grouped by tag; inflow(g) = Σ (flow + length) over g
  *   - each out-group g with n_g out-edges sends inflow(g) / n_g per edge
  *   - inflow groups with NO matching out-group are split equally over
  *     ALL out-edges
  * With 1 out-edge everything flows on; node upstream = Σ inflows.
  */
object Flow {

  /** D7 — end points: vertexes with no outgoing edge
    * (/root/reference/src/graph/directed_graph.rs:116-122).
    */
  def endPoints(edges: DataFrame): DataFrame =
    edges
      .select(col("dst").as("nid"))
      .distinct()
      .join(edges.select(col("src").as("nid")).distinct(), Seq("nid"), "left_anti")

  final case class UpstreamResult(
      nodeUpstream: DataFrame, // (nid, upstream_m)
      edgeFlow: DataFrame,     // (src, dst, tag, len, flow_m)
      rounds: Int)

  /** The per-node allocation rule shared by the frontier and local
    * engines (down/main.rs:822-906).
    * @param ins  (tag, contrib = flow + len) per in-edge, pre-summed or not
    * @param outs (dst, tag, len) out-edges
    * @return (node upstream, per-out-edge flow aligned with `outs`)
    */
  def allocate(
      ins: Seq[(Option[String], Double)],
      outs: Seq[(Long, Option[String], Double)]): (Double, Seq[Double]) = {
    val upstream = ins.map(_._2).sum
    if (outs.isEmpty) (upstream, Nil)
    else if (outs.length == 1) (upstream, Seq(upstream))
    else {
      val inflowPerGroup = ins.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      val outsPerGroup = outs.groupBy(_._2).view.mapValues(_.size).toMap
      val base: Map[Option[String], Double] = outsPerGroup.map {
        case (g, n) => g -> (inflowPerGroup.getOrElse(g, 0.0) / n)
      }
      val unmatched = inflowPerGroup.filter {
        case (g, _) => !outsPerGroup.contains(g)
      }.values.sum
      val extra = unmatched / outs.length
      (upstream, outs.map { case (_, t, _) => base(t) + extra })
    }
  }

  /** Pure local upstream propagation over one (small) component: Kahn
    * topological walk applying [[allocate]] — the exact reference
    * sequence, used as the per-component fast path.
    * @return (node → upstream, per-edge flow keyed (src, dst, tag, len))
    */
  def upstreamLocal(
      edges: Seq[(Long, Long, Double, Option[String])])
      : (Map[Long, Double], Seq[(Long, Long, Option[String], Double, Double)]) = {
    val outsBySrc = edges.groupBy(_._1).view
      .mapValues(_.map(e => (e._2, e._4, e._3))).toMap
    val indeg = scala.collection.mutable.HashMap.empty[Long, Int].withDefaultValue(0)
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    edges.foreach(e => indeg(e._2) += 1)
    val contribs = scala.collection.mutable.HashMap
      .empty[Long, scala.collection.mutable.ArrayBuffer[(Option[String], Double)]]
    val up = scala.collection.mutable.HashMap.empty[Long, Double]
    val flows = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Option[String], Double, Double)]
    val queue = scala.collection.mutable.PriorityQueue.empty[Long](Ordering[Long].reverse)
    nodes.filter(indeg(_) == 0).foreach(queue.enqueue(_))
    var processed = 0
    while (queue.nonEmpty) {
      val v = queue.dequeue()
      processed += 1
      val ins = contribs.getOrElse(v, Nil).toSeq
      val outs = outsBySrc.getOrElse(v, Nil)
      val (u, outFlows) = allocate(ins, outs)
      up(v) = u
      outs.zip(outFlows).foreach { case ((d, t, l), f) =>
        flows += ((v, d, t, l, f))
        contribs.getOrElseUpdate(d,
          scala.collection.mutable.ArrayBuffer.empty) += ((t, f + l))
        indeg(d) -= 1
        if (indeg(d) == 0) queue.enqueue(d)
      }
    }
    require(processed == nodes.length,
      s"cycle in component: processed $processed of ${nodes.length}")
    (up.toMap, flows.toSeq)
  }

  /** Default limit of the D5/D9 hybrids, in edges per weak component. */
  val HybridMaxEdges = 1000000L

  /** Hybrid D5 (SURVEY §7.5.3): weak-CC the DAG; components under
    * `sizeThreshold` edges run the exact local walk inside
    * `flatMapGroups` (one shuffle, zero driver rounds — river basins are
    * almost always small relative to the cluster); only giant components
    * pay the [[Frontier]] rounds. Batch-by-ready-set is confluent,
    * so both engines produce identical values.
    */
  def upstreamFlowHybrid(
      edges: DataFrame,
      sizeThreshold: Long = HybridMaxEdges,
      labels: Option[DataFrame] = None): UpstreamResult = {
    val spark = edges.sparkSession
    import spark.implicits._
    val e0 = edges.select(
      col("src").cast("long"), col("dst").cast("long"),
      col("len").cast("double"), col("tag").cast("string"))
      .localCheckpoint(true)
    val weak = labels.getOrElse(
      ConnectedComponents.run(e0.select("src", "dst")).labels)
    val labelled = e0.join(weak.withColumnRenamed("nid", "src"), Seq("src"))
    val split = Gate("upstream-local", sizeThreshold).split(labelled, "comp")

    val localRes = split.small(labelled)
      .select("comp", "src", "dst", "len", "tag")
      .as[(Long, Long, Long, Double, Option[String])]
      .groupByKey(_._1)
      .flatMapGroups { (_, rows) =>
        val es = rows.map(r => (r._2, r._3, r._4, r._5)).toSeq
        val (up, flows) = upstreamLocal(es)
        up.iterator.map(kv => ("n", kv._1, 0L, None: Option[String], 0.0, kv._2)) ++
          flows.iterator.map { case (s, d, t, l, f) => ("e", s, d, t, l, f) }
      }.toDF("kind", "a", "b", "tag", "len", "value").localCheckpoint(true)
    val localNodes = localRes.filter(col("kind") === "n")
      .select(col("a").as("nid"), col("value").as("upstream_m"))
    val localFlows = localRes.filter(col("kind") === "e")
      .select(col("a").as("src"), col("b").as("dst"), col("tag"), col("len"),
        col("value").as("flow_m"))

    if (!split.anyBig) UpstreamResult(localNodes, localFlows, 0)
    else {
      val bigRes = upstreamFlow(
        split.big(labelled).select("src", "dst", "len", "tag"))
      UpstreamResult(
        localNodes.union(bigRes.nodeUpstream),
        localFlows.union(bigRes.edgeFlow),
        bigRes.rounds)
    }
  }

  /** D5 — upstream accumulation over a DAG with the full splitting rule:
    * a [[Frontier]] countdown on in-degree, pushing along `src → dst`.
    * Each resolved node applies [[allocate]] to its arrived (tag,
    * flow + len) contributions and emits one row (nid, up, its out-edge
    * flows); with a durable checkpointer each round persists that
    * frontier-sized delta, and resume reads the
    * `IterationCheckpointer.allComplete` union.
    *
    * @param edges DataFrame(src: Long, dst: Long, len: Double,
    *              tag: String nullable), acyclic (contract SCCs first).
    */
  def upstreamFlow(
      edges: DataFrame,
      checkpointer: Option[(Int, DataFrame) => DataFrame] = None): UpstreamResult = {
    val spark = edges.sparkSession
    import spark.implicits._
    type In = (Option[String], Double) // (tag, len) on an edge; (tag, flow + len) pushed
    val pushes = edges.select(
        col("src").cast("long"), col("dst").cast("long"),
        col("tag").cast("string"), col("len").cast("double"))
      .as[(Long, Long, Option[String], Double)].rdd
      .map { case (s, d, t, l) => (s, d, (t, l)) }
    val r = Frontier.run[In, In, (Long, Double, Seq[(Long, Option[String], Double, Double)])](
        spark, "upstream flow", pushes, Seq("nid", "up", "flows"),
        checkpointer = checkpointer) { (nid, ins, outs) =>
      val os = outs.map { case (d, (t, l)) => (d, t, l) }
      val (upstream, flows) = allocate(ins, os)
      val sent = os.zip(flows).map { case ((d, t, l), f) => (d, t, l, f) }
      (Seq((nid, upstream, sent)), sent.map { case (_, t, l, f) => (t, f + l) })
    }
    UpstreamResult(
      r.rows.select(col("nid"), col("up").as("upstream_m")),
      r.rows.select(col("nid").as("src"), explode(col("flows")).as("f"))
        .select(col("src"), col("f._1").as("dst"), col("f._2").as("tag"),
          col("f._3").as("len"), col("f._4").as("flow_m")),
      r.rounds)
  }

  /** D3 — cycle contraction: every SCC collapses onto its min-nid root
    * (/root/reference/src/graph/directed_graph.rs:526-565); self-loops
    * dropped, parallel edges deduplicated keeping min length per
    * (src, dst, tag).
    */
  def contractCycles(edges: DataFrame, scc: DataFrame): DataFrame = {
    val m1 = scc.select(col("nid").as("src"), col("scc").as("newSrc"))
    val m2 = scc.select(col("nid").as("dst"), col("scc").as("newDst"))
    edges
      .join(m1, Seq("src"), "left")
      .join(m2, Seq("dst"), "left")
      .select(
        coalesce(col("newSrc"), col("src")).as("src"),
        coalesce(col("newDst"), col("dst")).as("dst"),
        col("len"), col("tag"))
      .filter(col("src") =!= col("dst"))
      .groupBy("src", "dst", "tag")
      .agg(min("len").as("len"))
      .select("src", "dst", "len", "tag")
  }

  /** Pure local biggest-end DP over one (small) DAG component, the same
    * out-degree countdown as [[biggestEndAssignment]]: best(n) =
    * better(n's own end entry, best over n's out-neighbours), a max over
    * comparisons only (no float accumulation), so the hybrid split is
    * bit-identical by construction.
    */
  // best = higher end upstream, ties → smaller end nid (SURVEY D9 note)
  private def better(a: (Double, Long), b: (Double, Long)): (Double, Long) =
    if (a._1 > b._1 || (a._1 == b._1 && a._2 <= b._2)) a else b

  def biggestEndLocal(
      edges: Seq[(Long, Long)],
      endUp: Seq[(Long, Double)]): Seq[(Long, Long, Double)] = {
    val own = endUp.groupBy(_._1).map { case (n, xs) =>
      // deterministic if duplicate end rows exist: keep the max value
      (n, (xs.map(_._2).max, n))
    }
    val outAdj = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val inAdj = edges.groupBy(_._2).view.mapValues(_.map(_._1)).toMap
    val nodes = (edges.map(_._1) ++ edges.map(_._2) ++ endUp.map(_._1)).distinct
    val outdeg = scala.collection.mutable.HashMap.empty[Long, Int]
      .withDefaultValue(0)
    edges.foreach(e => outdeg(e._1) += 1)
    val best = scala.collection.mutable.HashMap.empty[Long, (Double, Long)]
    val queue = scala.collection.mutable.Queue.empty[Long]
    nodes.filter(outdeg(_) == 0).foreach(queue.enqueue(_))
    var processed = 0
    while (queue.nonEmpty) {
      val v = queue.dequeue()
      processed += 1
      val cands = own.get(v).toSeq ++
        outAdj.getOrElse(v, Nil).flatMap(best.get)
      if (cands.nonEmpty) best(v) = cands.reduce(better)
      inAdj.getOrElse(v, Nil).foreach { p =>
        outdeg(p) -= 1
        if (outdeg(p) == 0) queue.enqueue(p)
      }
    }
    require(processed == nodes.length,
      s"cycle in component: processed $processed of ${nodes.length}")
    best.iterator.map { case (n, (up, end)) => (n, end, up) }.toSeq
  }

  /** Hybrid D9 (the [[upstreamFlowHybrid]] pattern): weak-CC the DAG;
    * components under `sizeThreshold` edges run [[biggestEndLocal]] in
    * one `flatMapGroups` shuffle — zero driver rounds — and only giant
    * components pay the [[Frontier]] rounds. Values are bit-identical
    * (comparison-only propagation; see [[biggestEndLocal]]).
    */
  def biggestEndAssignmentHybrid(
      edges: DataFrame,          // (src, dst)
      endUpstream: DataFrame,    // (nid, upstream_m) for end nodes
      sizeThreshold: Long = HybridMaxEdges,
      labels: Option[DataFrame] = None): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val e0 = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .localCheckpoint(true)
    val weak = labels.getOrElse(ConnectedComponents.run(e0).labels)
    val labelled = e0.join(weak.withColumnRenamed("nid", "src"), Seq("src"))
    val split = Gate("biggest-end-local", sizeThreshold).split(labelled, "comp")
    val endsTyped = endUpstream
      .select(col("nid").cast("long"), col("upstream_m").cast("double"))
    val endLab = endsTyped.join(weak, Seq("nid"))
    // an end node touching no edge has no CC label but still emits its
    // own (nid, nid, up) row in the frontier — keep that contract
    val orphanEnds = endsTyped.join(weak, Seq("nid"), "left_anti")
      .groupBy("nid").agg(max("upstream_m").as("end_upstream_m"))
      .select(col("nid"), col("nid").as("end_nid"), col("end_upstream_m"))
    // every labelled end's comp has an edge in `labelled` (its label
    // came from an edge of this weak-CC), so the ends split the same way
    val localRes = split.small(labelled)
      .select("comp", "src", "dst")
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .cogroup(split.small(endLab).select("comp", "nid", "upstream_m")
        .as[(Long, Long, Double)].groupByKey(_._1)) { (_, es0, ends0) =>
        val es = es0.map(r => (r._2, r._3)).toSeq
        val ends = ends0.map(r => (r._2, r._3)).toSeq
        biggestEndLocal(es, ends).iterator
      }
      .toDF("nid", "end_nid", "end_upstream_m")
    val smallSide = localRes.unionByName(orphanEnds)
    if (!split.anyBig) smallSide
    else smallSide.unionByName(biggestEndAssignment(
      split.big(labelled).select("src", "dst"),
      split.big(endLab).select("nid", "upstream_m")))
  }

  /** D9 — biggest-end assignment: every node adopts the reachable-
    * downstream end with the largest upstream value (ties → smaller end
    * nid — deterministic; see SURVEY D9 note on the reference's
    * iteration-order tie). A [[Frontier]] countdown on out-degree,
    * pushing along reversed edges and seeded with each end's own entry
    * (an end touching no edge still emits its own row); a node that
    * reaches no end emits no row. Durable rounds are per-round deltas
    * of (nid, end_nid, end_upstream_m).
    */
  def biggestEndAssignment(
      edges: DataFrame,          // (src, dst)
      endUpstream: DataFrame,    // (nid, upstream_m) for end nodes
      checkpointer: Option[(Int, DataFrame) => DataFrame] = None): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    type Best = Option[(Double, Long)] // (end upstream, end nid)
    val reversed = edges.select(col("dst").cast("long"), col("src").cast("long"))
      .as[(Long, Long)].rdd
      .map { case (d, s) => (d, s, ()) }
    val own = endUpstream
      .select(col("nid").cast("long"), col("upstream_m").cast("double"))
      .as[(Long, Double)].rdd
      .map { case (nid, up) => (nid, Some((up, nid)): Best) }
    Frontier.run[Unit, Best, (Long, Long, Double)](
        spark, "biggest-end assignment", reversed,
        Seq("nid", "end_nid", "end_upstream_m"), Some(own), checkpointer) {
      (nid, cands, outs) =>
        val best = cands.flatten.reduceOption(better)
        (best.map { case (up, end) => (nid, end, up) }.toSeq, outs.map(_ => best))
    }.rows
  }
}
