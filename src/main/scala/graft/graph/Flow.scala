package graft.graph

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.runtime.{CheckpointGen, Gate}

/** Directed-flow operators (SURVEY.md §2.6): end points, topological
  * frontier propagation of upstream metres with the reference's full
  * flow-splitting rule (equal split + `--flow-follows-tag` groups).
  *
  * The reference walks a global topological order sequentially
  * (/root/reference/src/bin/osm-lump-ways-down/main.rs:805-910). Here the
  * walk is reformulated as batched frontier rounds (Pregel-in-DataFrames):
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

  /** Source points: vertexes with no incoming edge. */
  def sourcePoints(edges: DataFrame): DataFrame =
    edges
      .select(col("src").as("nid"))
      .distinct()
      .join(edges.select(col("dst").as("nid")).distinct(), Seq("nid"), "left_anti")

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
    * pay the frontier-round machinery. Batch-by-ready-set is confluent,
    * so both engines produce identical values.
    */
  def upstreamFlowHybrid(
      edges: DataFrame,
      sizeThreshold: Long = HybridMaxEdges,
      maxRounds: Int = 100000,
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
      }.localCheckpoint(true)
    val localNodes = localRes.filter(_._1 == "n").map(r => (r._2, r._6))
      .toDF("nid", "upstream_m")
    val localFlows = localRes.filter(_._1 == "e")
      .map(r => (r._2, r._3, r._4.orNull, r._5, r._6))
      .toDF("src", "dst", "tag", "len", "flow_m")

    if (!split.anyBig) UpstreamResult(localNodes, localFlows, 0)
    else {
      val bigRes = upstreamFlow(
        split.big(labelled).select("src", "dst", "len", "tag"), maxRounds)
      UpstreamResult(
        localNodes.union(bigRes.nodeUpstream),
        localFlows.union(bigRes.edgeFlow),
        bigRes.rounds)
    }
  }

  /** Equal-split upstream accumulation (no tag grouping). */
  def upstreamEqualSplit(
      edges: DataFrame,
      maxRounds: Int = 100000,
      checkpointer: Option[(Int, DataFrame) => DataFrame] = None): UpstreamResult =
    upstreamFlow(edges.withColumn("tag", lit(null).cast("string")),
      maxRounds, checkpointer)

  /** D5 — upstream accumulation over a DAG with the full splitting rule.
    *
    * Pregel-style RDD loop with ONE shared HashPartitioner (the same
    * documented legitimate RDD case as [[biggestEndAssignment]]:
    * iterative co-partitioned state that Catalyst cannot keep
    * co-partitioned across rounds). Per round the ONLY shuffle is the
    * frontier's out-flow push (aggregateByKey over this round's
    * arrivals); the pending state — in-degree countdown plus the
    * arrived contributions, which round-3 rewrote and re-checkpointed in
    * full every round as the `acc` frame — now updates through NARROW
    * co-partitioned joins, so per-round I/O ≈ |frontier out-edges|, not
    * O(pending set). Resolved values and edge flows append to per-round
    * DELTA logs exactly as before (the durable-checkpointer contract is
    * unchanged: one frontier-sized parquet delta per round, resume =
    * `IterationCheckpointer.allComplete` union).
    *
    * @param edges DataFrame(src: Long, dst: Long, len: Double,
    *              tag: String nullable), acyclic (contract SCCs first).
    */
  def upstreamFlow(
      edges: DataFrame,
      maxRounds: Int = 100000,
      checkpointer: Option[(Int, DataFrame) => DataFrame] = None): UpstreamResult = {
    val spark = edges.sparkSession
    import spark.implicits._
    import org.apache.spark.HashPartitioner
    import org.apache.spark.storage.StorageLevel

    val e0 = edges.select(
      col("src").cast("long"), col("dst").cast("long"),
      col("len").cast("double"), col("tag").cast("string"))
      .localCheckpoint(true)

    def emptyDf(schema: StructType): DataFrame =
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)

    // resolved/flows are APPEND-ONLY: per-round deltas are buffered (each
    // backed by that round's persisted frontier RDD — or, with a durable
    // checkpointer, its own parquet round dir) and only unioned at the
    // end; compaction every `compactEvery` rounds keeps the union plan
    // bounded on deep DAGs.
    val compactEvery = 64
    final class DeltaLog(schema: StructType) {
      private var base: DataFrame = emptyDf(schema)
      private val pending = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
      def append(df: DataFrame): Unit = {
        pending += df
        if (pending.length >= compactEvery) compact()
      }
      private def compact(): Unit = {
        base = pending.foldLeft(base)(_ union _).localCheckpoint(true)
        pending.clear()
      }
      def all: DataFrame = pending.foldLeft(base)(_ union _)
    }
    val resolvedLog = new DeltaLog(StructType(Seq(
      StructField("nid", LongType), StructField("up", DoubleType))))
    val flowsLog = new DeltaLog(StructType(Seq(
      StructField("src", LongType), StructField("dst", LongType),
      StructField("tag", StringType), StructField("len", DoubleType),
      StructField("flow_m", DoubleType))))

    // partitioner sized to the data (AQE cannot coalesce inside an RDD
    // loop — same sizing rule as biggestEndAssignment)
    val eCount = e0.count()
    val nParts = math.max(1L, math.min(
      spark.conf.get("spark.sql.shuffle.partitions", "32").toLong,
      eCount / 100000L + 1L)).toInt
    val part = new HashPartitioner(nParts)
    val reliableCkpt = CheckpointGen.reliableDir(spark.sparkContext)

    type Edge = (Long, Option[String], Double) // (dst, tag, len)
    val eRdd = e0.as[(Long, Long, Double, Option[String])].rdd

    // static per-source out-edge lists, co-partitioned with the state
    val outs = eRdd
      .map { case (s, d, l, t) => (s, (d, t, l): Edge) }
      .groupByKey(part)
      .mapValues(_.toArray)
      .persist(StorageLevel.MEMORY_AND_DISK)

    // state: (pending in-degree countdown, contributions arrived so far);
    // a node leaves the state the round after its countdown hits zero
    type NodeState = (Long, List[(Option[String], Double)])
    val indeg = eRdd.map { case (_, d, _, _) => (d, 1L) }.reduceByKey(part, _ + _)
    val allNodes = eRdd
      .flatMap { case (s, d, _, _) => Iterator(s, d) }
      .map((_, ()))
      .reduceByKey(part, (a, _) => a)
    var state = allNodes.leftOuterJoin(indeg) // narrow (shared partitioner)
      .mapValues { case (_, deg) => (deg.getOrElse(0L), Nil): NodeState }
      .persist(StorageLevel.MEMORY_AND_DISK)
    val totalNodes = state.count()

    // every round's emitted frontier backs that round's delta frames, so
    // it stays persisted until the final union is materialized by the
    // caller — the retained total is O(output), the same as round 3's
    // per-round checkpointed `emitted` frames
    val retained = scala.collection.mutable.ArrayBuffer
      .empty[org.apache.spark.rdd.RDD[_]]
    var prevState: Option[org.apache.spark.rdd.RDD[_]] = None
    val pinnedGens = scala.collection.mutable.ArrayBuffer
      .empty[org.apache.spark.rdd.RDD[_]]
    var rounds = 0
    var doneCount = 0L
    var nReady = state.filter(_._2._1 == 0L).count()

    while (doneCount < totalNodes && rounds < maxRounds) {
      if (nReady == 0 && doneCount < totalNodes) {
        throw new IllegalStateException(
          s"upstream propagation stalled after $rounds rounds — graph has a cycle")
      }
      // frontier allocation: ready nodes joined with their static
      // out-lists — narrow on both sides
      val emitted = state.filter(_._2._1 == 0L)
        .leftOuterJoin(outs)
        .map { case (nid, ((_, ins), outsOpt)) =>
          val os = outsOpt.map(_.toSeq).getOrElse(Nil)
          val (upstream, outFlows) = allocate(ins, os)
          (nid, upstream,
            os.zip(outFlows).map { case ((d, t, l), f) => (d, t, l, f) })
        }
        .persist(StorageLevel.MEMORY_AND_DISK)
      retained += emitted

      val newResolved = emitted.map(x => (x._1, x._2)).toDF("nid", "up")
      val newFlows = emitted.flatMap { case (src, _, os) =>
        os.map { case (d, t, l, f) => (src, d, t.orNull, l, f) }
      }.toDF("src", "dst", "tag", "len", "flow_m")

      // the durable checkpointer persists each round's delta parquet —
      // resume therefore reads the UNION of all complete rounds
      // (IterationCheckpointer.allComplete), NOT latestComplete (the
      // full-state contract used by CC and biggest-end)
      resolvedLog.append(checkpointer match {
        case Some(cp) => cp(rounds, newResolved)
        case None     => newResolved // backed by the persisted `emitted`
      })
      flowsLog.append(newFlows)

      // push: THE round's only shuffle, sized by the frontier's out-edges
      val arrivals = emitted
        .flatMap { case (_, _, os) =>
          os.iterator.map { case (d, t, l, f) => (d, (t, f + l)) }
        }
        .aggregateByKey(
          (0L, List.empty[(Option[String], Double)]), part)(
          (a, e) => (a._1 + 1L, e :: a._2),
          (a, b) => (a._1 + b._1, a._2 ::: b._2))

      // retire resolved nodes; merge arrivals into the countdown — narrow
      val newState = state.filter(_._2._1 > 0L)
        .leftOuterJoin(arrivals)
        .mapValues {
          case ((pend, ins), Some((n, es))) => (pend - n, ins ::: es)
          case ((pend, ins), None)          => (pend, ins)
        }
        .persist(StorageLevel.MEMORY_AND_DISK)
      val pinned = rounds % 30 == 29 && !reliableCkpt
      if (rounds % 30 == 29) {
        if (reliableCkpt) newState.checkpoint() else newState.localCheckpoint()
      }
      doneCount += nReady
      // count() materializes EVERY partition before the previous round's
      // state is released (a prefix action would force recomputation
      // through the lineage chain later)
      nReady = newState.filter(_._2._1 == 0L).count()
      prevState.foreach(_.unpersist(false))
      if (pinned) pinnedGens += newState
      prevState = if (pinned) None else Some(newState)
      state = newState
      rounds += 1
    }
    CheckpointGen.release(prevState.toSeq ++ pinnedGens :+ outs)
    // `retained` (the per-round emitted frontiers) deliberately stays
    // persisted: the returned delta-log unions read from those RDDs
    UpstreamResult(
      resolvedLog.all.withColumnRenamed("up", "upstream_m"),
      flowsLog.all, rounds)
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

  /** D9 — biggest-end assignment: every node adopts the reachable-
    * downstream end with the largest upstream value (ties → smaller end
    * nid — deterministic; see SURVEY D9 note on the reference's
    * iteration-order tie).
    * Reverse frontier propagation from the ends.
    */
  /** Pure local biggest-end DP over one (small) DAG component — the
    * exact fixpoint of [[biggestEndAssignment]]'s propagation: best(n) =
    * better(n's own end entry, best over n's out-neighbours), a max over
    * comparisons only (no float accumulation), so the hybrid split is
    * bit-identical by construction.
    */
  def biggestEndLocal(
      edges: Seq[(Long, Long)],
      endUp: Seq[(Long, Double)]): Seq[(Long, Long, Double)] = {
    val own = endUp.groupBy(_._1).map { case (n, xs) =>
      // deterministic if duplicate end rows exist: keep the max value
      (n, (xs.map(_._2).max, n))
    }
    def better(a: (Double, Long), b: (Double, Long)): (Double, Long) =
      if (a._1 > b._1 || (a._1 == b._1 && a._2 <= b._2)) a else b
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
    * components pay the co-partitioned Pregel. Values are bit-identical
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
    // own (nid, nid, up) row in the Pregel — keep that contract
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

  def biggestEndAssignment(
      edges: DataFrame,          // (src, dst)
      endUpstream: DataFrame,    // (nid, upstream_m) for end nodes
      maxRounds: Int = 100000,
      checkpointer: Option[(Int, DataFrame) => DataFrame] = None): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    import org.apache.spark.HashPartitioner
    import org.apache.spark.storage.StorageLevel

    // Pregel-style RDD loop with ONE shared HashPartitioner: the static
    // reverse-edge set and the evolving best-(end_up, end_nid) state are
    // co-partitioned, so both per-round joins are NARROW — the only
    // shuffle is the frontier push + its per-node reduce, i.e. per-round
    // shuffle rows ≈ |frontier out-edges|. The round-2 DataFrame plan
    // re-exchanged the full state every round (AQE discards the
    // partitioning across localCheckpoint, so Catalyst cannot express
    // "keep this co-partitioned across an iteration"); this is the
    // documented legitimate RDD case — iterative co-partitioned state.
    // size the partitioner to the DATA (AQE cannot coalesce inside an
    // RDD loop): ~100k edges per partition, capped at the session's
    // shuffle parallelism — small graphs take 1-2 partitions per round
    // instead of paying `shuffle.partitions` empty tasks × rounds
    val eCount = edges.count()
    val nParts = math.max(1L, math.min(
      spark.conf.get("spark.sql.shuffle.partitions", "32").toLong,
      eCount / 100000L + 1L)).toInt
    val part = new HashPartitioner(nParts)
    val reliableCkpt = CheckpointGen.reliableDir(spark.sparkContext)
    val eByDst = edges
      .select(col("dst").cast("long"), col("src").cast("long"))
      .as[(Long, Long)].rdd
      .partitionBy(part)
      .persist(StorageLevel.MEMORY_AND_DISK)

    // best = higher end_up, ties → smaller end nid (SURVEY D9 note)
    def better(a: (Double, Long), b: (Double, Long)): (Double, Long) =
      if (a._1 > b._1 || (a._1 == b._1 && a._2 <= b._2)) a else b
    def strictlyBetter(cand: (Double, Long), old: (Double, Long)): Boolean =
      cand._1 > old._1 || (cand._1 == old._1 && cand._2 < old._2)

    var state = endUpstream
      .select(col("nid").cast("long"), col("upstream_m").cast("double"))
      .as[(Long, Double)].rdd
      .map { case (nid, up) => (nid, (up, nid)) }
      .partitionBy(part)
      .persist(StorageLevel.MEMORY_AND_DISK)
    var frontier = state
    // the initial state enters the normal release rotation: once round
    // 0's `merged` is fully materialized (count below) nothing reads it
    var prevMerged: Option[org.apache.spark.rdd.RDD[_]] = Some(state)
    var prevDurable: Option[org.apache.spark.rdd.RDD[_]] = None
    // pinned local-checkpoint generations: their blocks ARE the
    // checkpoint, so they must stay cached while the loop runs — but
    // they can (and must) be released once the final result no longer
    // depends on them (after `out` is eagerly materialized)
    val pinnedGens = scala.collection.mutable.ArrayBuffer
      .empty[org.apache.spark.rdd.RDD[_]]
    var rounds = 0
    var done = false
    while (!done && rounds < maxRounds) {
      val pushed = eByDst.join(frontier) // narrow: both `part`-partitioned
        .map { case (_, (src, cand)) => (src, cand) }
        .reduceByKey(part, better _)     // shuffle rows = |pushed delta|
      val merged = state.fullOuterJoin(pushed) // narrow (shared partitioner)
        .mapValues {
          case (Some(old), Some(cand)) =>
            if (strictlyBetter(cand, old)) (cand, true) else (old, false)
          case (Some(old), None)  => (old, false)
          case (None, Some(cand)) => (cand, true)
          case (None, None)       => ((0.0, Long.MaxValue), false)
        }
        .persist(StorageLevel.MEMORY_AND_DISK)
      // periodic checkpoint: truncates lineage AND lets older persisted
      // rounds be released. Reliable (shared-dir) checkpoints when
      // available; pinned local checkpoints otherwise (their blocks must
      // never be unpersisted — descendants read them directly).
      val pinned = rounds % 30 == 29 && !reliableCkpt
      if (rounds % 30 == 29) {
        if (reliableCkpt) merged.checkpoint() else merged.localCheckpoint()
      }
      frontier = merged.filter(_._2._2).mapValues(_._1)
      // count (not isEmpty/take(1)) so EVERY partition of `merged` is
      // computed into the cache before the previous round is released —
      // a prefix-only action would force later rounds to recompute
      // uncached partitions through the whole lineage chain
      done = frontier.count() == 0L
      prevMerged.foreach(_.unpersist(false))
      // a pinned (local-checkpointed) generation must stay cached — its
      // blocks ARE the checkpoint; keep it out of the per-round unpersist
      // rotation and release it only after the final materialization
      if (pinned) pinnedGens += merged
      prevMerged = if (pinned) None else Some(merged)
      state = merged.mapValues(_._1)
      rounds += 1
      // durable per-round checkpoint (resumability contract)
      checkpointer.foreach { cp =>
        val reloaded = cp(rounds - 1,
          state.map { case (nid, (up, end)) => (nid, up, end) }
            .toDF("nid", "end_up", "end_nid"))
        val next = reloaded
          .select(col("nid").cast("long"), col("end_up").cast("double"),
            col("end_nid").cast("long"))
          .as[(Long, Double, Long)].rdd
          .map { case (nid, up, end) => (nid, (up, end)) }
          .partitionBy(part)
          .persist(StorageLevel.MEMORY_AND_DISK)
        prevDurable.foreach(_.unpersist(false))
        prevDurable = Some(next)
        state = next
      }
    }
    val out = state
      .map { case (nid, (up, end)) => (nid, end, up) }
      .toDF("nid", "end_nid", "end_upstream_m")
      .localCheckpoint(true)
    // `out` is eagerly materialized above — every retained generation
    // (rotation tail, durable reload, pinned local checkpoints, the
    // static edge set) can now release its executor storage
    CheckpointGen.release(Seq(eByDst) ++ prevMerged ++ prevDurable ++ pinnedGens)
    out
  }
}
