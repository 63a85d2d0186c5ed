package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Distributed D17 — longest source→mouth for components too large for
  * one task (the last whole-group loud guards of round 4 include
  * `Local.boundedSeq` in `Extras.longestSourceMouth`).
  *
  * The reference (/root/reference/src/longest_source_mouth.rs:45-315)
  * runs, per mouth, a Dijkstra flood UPSTREAM over the reversed DAG and
  * keeps the max-shortest-distance source plus its path. On a DAG the
  * Dijkstra distances are exactly the topological-order DP
  *   d_m(v) = min over out-edges (v→h) of d_m(h) + len,
  * so the distributed form is the SAME topo-countdown frontier loop as
  * [[Flow.upstreamFlow]] (a node finalizes when all its out-heads have),
  * carrying per-mouth (dist, parent, hops) state instead of flow sums:
  * append-only per-round result deltas, one frontier-sized shuffle per
  * round, co-partitioned narrow state updates.
  *
  * Tie parity with [[Local.dijkstra]]: the local heap pops in
  * (dist, node) order and relaxes with strict `<`, so among predecessors
  * achieving the minimal total distance the parent is the one minimal by
  * (parent_dist, parent_id) — the rule this operator applies explicitly.
  * (Sole documented deviation: zero-length edges, where the local heap
  * may skip a same-distance relaxation; river lengths are positive.)
  *
  * Path extraction is batched binary lifting: jump tables
  * J_k(mouth, v) = 2^k-th ancestor toward the mouth (log(max hops)
  * doubling self-joins), then each winner path unrolls top-down as work
  * items (mouth, node, position, remaining) — O(Σ path) rows in
  * O(log max-hops) join rounds; no basin ever occupies one task.
  */
object DistLongest {

  // arrival into an upstream node: (mouth, dist, parentDist, parent, parentHops)
  private type Arrival = (Long, Double, Double, Long, Long)
  // finalized per-mouth record of a node: (mouth, dist, parent: -1 = none, hops)
  private type Final = (Long, Double, Long, Long)

  /** Per-node, per-reachable-mouth shortest distance toward that mouth:
    * (nid, mouth, dist, parent nullable, hops). Requires a DAG — stalls
    * loudly on cycles (contract SCCs first, as the down pipeline does).
    */
  def mouthDistances(edges: DataFrame, maxRounds: Int = 100000): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    import org.apache.spark.HashPartitioner

    val e0 = edges.select(
      col("src").cast("long"), col("dst").cast("long"),
      col("len").cast("double")).localCheckpoint(true)
    val eRdd = e0.as[(Long, Long, Double)].rdd

    val eCount = e0.count()
    val nParts = math.max(1L, math.min(
      spark.conf.get("spark.sql.shuffle.partitions", "32").toLong,
      eCount / 100000L + 1L)).toInt
    val part = new HashPartitioner(nParts)

    // static in-edge lists keyed by HEAD (push targets when head finals)
    val ins = eRdd.map { case (s, d, l) => (d, (s, l)) }
      .groupByKey(part).mapValues(_.toArray)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // countdown = out-degree (a node finalizes when all out-heads have)
    val outdeg = eRdd.map { case (s, _, _) => (s, 1L) }.reduceByKey(part, _ + _)
    val allNodes = eRdd.flatMap { case (s, d, _) => Iterator(s, d) }
      .map((_, ())).reduceByKey(part, (a, _) => a)
    var state = allNodes.leftOuterJoin(outdeg)
      .mapValues { case (_, deg) => (deg.getOrElse(0L), List.empty[Arrival]) }
      .persist(StorageLevel.MEMORY_AND_DISK)
    val totalNodes = state.count()

    // per-mouth min-merge with Local.dijkstra's tie rule; a ready node
    // with no arrivals has out-degree 0 — it IS a mouth
    def finalize(nid: Long, arrivals: List[Arrival]): List[Final] =
      if (arrivals.isEmpty) List((nid, 0.0, -1L, 0L))
      else arrivals.groupBy(_._1).valuesIterator.map { as =>
        val best = as.minBy(a => (a._2, a._3, a._4))
        (best._1, best._2, best._4, best._5 + 1L)
      }.toList

    var resolvedBase = Seq.empty[(Long, Long, Double, Option[Long], Long)]
      .toDF("nid", "mouth", "dist", "parent", "hops")
    val pendingDeltas = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def appendDelta(df: DataFrame): Unit = {
      pendingDeltas += df
      if (pendingDeltas.length >= 64) {
        resolvedBase = pendingDeltas.foldLeft(resolvedBase)(_ union _)
          .localCheckpoint(true)
        pendingDeltas.clear()
      }
    }

    val retained = scala.collection.mutable.ArrayBuffer
      .empty[org.apache.spark.rdd.RDD[_]]
    var prevState: Option[org.apache.spark.rdd.RDD[_]] = None
    var rounds = 0
    var doneCount = 0L
    var nReady = state.filter(_._2._1 == 0L).count()

    while (doneCount < totalNodes && rounds < maxRounds) {
      if (nReady == 0 && doneCount < totalNodes)
        throw new IllegalStateException(
          s"mouth-distance propagation stalled after $rounds rounds — " +
            "graph has a cycle (contract SCCs first)")
      val emitted = state.filter(_._2._1 == 0L)
        .mapPartitions(_.map { case (nid, (_, arr)) =>
          (nid, finalize(nid, arr))
        }, preservesPartitioning = true)
        .persist(StorageLevel.MEMORY_AND_DISK)
      retained += emitted

      appendDelta(emitted.flatMap { case (nid, ds) =>
        ds.map { case (m, dist, p, hops) =>
          (nid, m, dist, if (p < 0) None else Some(p), hops)
        }
      }.toDF("nid", "mouth", "dist", "parent", "hops"))

      // the round's only shuffle: push to upstream tails (one decrement
      // per in-edge, one entry per in-edge × mouth of the head)
      val arrivals = emitted.join(ins) // narrow: shared partitioner
        .flatMap { case (v, (ds, inEdges)) =>
          inEdges.iterator.map { case (w, len) =>
            (w, (1L, ds.map { case (m, dist, _, hops) =>
              (m, dist + len, dist, v, hops): Arrival
            }))
          }
        }
        .aggregateByKey((0L, List.empty[Arrival]), part)(
          (a, e) => (a._1 + e._1, e._2 ::: a._2),
          (a, b) => (a._1 + b._1, a._2 ::: b._2))

      val newState = state.filter(_._2._1 > 0L)
        .leftOuterJoin(arrivals)
        .mapValues {
          case ((pend, acc), Some((n, es))) => (pend - n, es ::: acc)
          case ((pend, acc), None)          => (pend, acc)
        }
        .persist(StorageLevel.MEMORY_AND_DISK)
      if (rounds % 30 == 29) newState.localCheckpoint()
      doneCount += nReady
      nReady = newState.filter(_._2._1 == 0L).count()
      prevState.foreach(_.unpersist(false))
      prevState = Some(newState)
      state = newState
      rounds += 1
    }
    graft.runtime.CheckpointGen.release(prevState.toSeq :+ ins)
    val out = pendingDeltas.foldLeft(resolvedBase)(_ union _)
      .localCheckpoint(true)
    retained.foreach(_.unpersist(false))
    out
  }

  /** Distributed D17 basin output, same schema and values as the local
    * `Extras.longestSourceMouth` branch: (mouth, source, dist_m, path).
    * One row per mouth; mouths reached by no source fall back to
    * (mouth, mouth, 0.0, [mouth]) exactly like the local walk.
    */
  def longestSourceMouth(edges: DataFrame, spark: SparkSession): DataFrame = {
    val resolved = mouthDistances(edges)

    val mouths = edges.select(col("dst").as("mouth")).distinct
      .join(edges.select(col("src").as("mouth")).distinct,
        Seq("mouth"), "left_anti")
    // candidate sources = nodes never a dst (true sources), reached
    val srcs = edges.select(col("src").as("nid")).distinct
      .join(edges.select(col("dst").as("nid")).distinct, Seq("nid"), "left_anti")
    val winners = resolved
      .join(srcs, Seq("nid"), "left_semi")
      .withColumn("negnid", -col("nid"))
      .groupBy("mouth")
      .agg(max(struct(col("dist"), col("negnid"), col("hops"))).as("w"))
      .select(col("mouth"), (-col("w.negnid")).as("source"),
        col("w.dist").as("dist_m"), col("w.hops").as("hops"))
    val fallback = mouths.join(winners, Seq("mouth"), "left_anti")
      .select(col("mouth"), col("mouth").as("source"),
        lit(0.0).as("dist_m"), lit(0L).as("hops"))
    val all = winners.unionByName(fallback).localCheckpoint(true)

    val positions = pathPositions(resolved,
      all.select(col("mouth"), col("source").as("nid"), col("hops")), spark)
    val paths = positions
      .groupBy("mouth")
      .agg(expr("transform(sort_array(collect_list(struct(pos, nid)))," +
        " x -> x.nid)").as("path"))
    all.join(paths, Seq("mouth"))
      .select("mouth", "source", "dist_m", "path")
  }

  /** Batched binary lifting over the parent forest: for each target row
    * (mouth, nid, hops) emit the whole parent chain nid→…→mouth as
    * (mouth, pos, nid) with pos 0 at the start node.
    */
  def pathPositions(
      resolved: DataFrame, targets: DataFrame, spark: SparkSession): DataFrame = {
    val maxRow = targets.agg(max("hops")).head
    val maxHops = if (maxRow.isNullAt(0)) 0L else maxRow.getLong(0)
    val levels = if (maxHops <= 0) 0
      else 64 - java.lang.Long.numberOfLeadingZeros(maxHops)
    // jump tables J_k(mouth, v) = 2^k-th ancestor toward mouth
    val jumps = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    if (levels > 0) {
      jumps += resolved.filter(col("parent").isNotNull)
        .select(col("mouth"), col("nid").as("v"), col("parent").as("j"))
        .localCheckpoint(true)
      for (k <- 1 until levels) {
        val prev = jumps(k - 1)
        val hop2 = prev.select(col("mouth"), col("v").as("j"), col("j").as("jj"))
        jumps += prev.join(hop2, Seq("mouth", "j"))
          .select(col("mouth"), col("v"), col("jj").as("j"))
          .localCheckpoint(true)
      }
    }
    var items = targets.select(col("mouth"), col("nid").as("v"),
      lit(0L).as("off"), col("hops").as("len")).localCheckpoint(true)
    for (k <- (levels - 1) to 0 by -1) {
      val step = 1L << k
      val keep = items.filter(col("len") < step)
      val split = items.filter(col("len") >= step)
      val a = split.select(col("mouth"), col("v"), col("off"),
        lit(step).as("len"))
      val b = split.join(jumps(k), Seq("mouth", "v"))
        .select(col("mouth"), col("j").as("v"),
          (col("off") + step).as("off"), (col("len") - step).as("len"))
      items = keep.unionByName(a).unionByName(b).localCheckpoint(true)
    }
    items.select(col("mouth"), col("off").as("pos"), col("v").as("nid"))
  }
}
