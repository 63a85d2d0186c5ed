package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed D17 — longest source→mouth for components too large for
  * one task. On a DAG the reference's per-mouth upstream Dijkstra
  * distances are the topological DP d_m(v) = min over out-edges (v→h) of
  * d_m(h) + len, which [[mouthDistances]] runs as a [[Frontier]]
  * countdown over the reversed edges. This object owns the rest:
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

  // per-mouth min-merge with Local.dijkstra's tie rule; a ready node
  // with no arrivals has out-degree 0 — it IS a mouth
  private def settle(nid: Long, arrivals: List[Arrival]): List[Final] =
    if (arrivals.isEmpty) List((nid, 0.0, -1L, 0L))
    else arrivals.groupBy(_._1).valuesIterator.map { as =>
      val best = as.minBy(a => (a._2, a._3, a._4))
      (best._1, best._2, best._4, best._5 + 1L)
    }.toList

  /** Per-node, per-reachable-mouth shortest distance toward that mouth:
    * (nid, mouth, dist, parent nullable, hops). Requires a DAG — throws
    * on cycles (contract SCCs first, as the down pipeline does). Each
    * edge pushes its head's per-mouth records to its tail.
    */
  def mouthDistances(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val reversed = edges.select(
        col("dst").cast("long"), col("src").cast("long"), col("len").cast("double"))
      .as[(Long, Long, Double)].rdd
    Frontier.run[Double, List[Arrival], (Long, Long, Double, Option[Long], Long)](
        spark, "mouth distances", reversed,
        Seq("nid", "mouth", "dist", "parent", "hops")) { (v, arrived, ins) =>
      val ds = settle(v, arrived.flatten)
      (ds.map { case (m, dist, p, hops) =>
          (v, m, dist, if (p < 0) None else Some(p), hops)
        },
        ins.map { case (_, len) =>
          ds.map { case (m, dist, _, hops) => (m, dist + len, dist, v, hops): Arrival }
        })
    }.rows
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
      for (k <- 1 until levels) {
        val prev = jumps(k - 1)
        val hop2 = prev.select(col("mouth"), col("v").as("j"), col("j").as("jj"))
        jumps += prev.join(hop2, Seq("mouth", "j"))
          .select(col("mouth"), col("v"), col("jj").as("j"))
          .localCheckpoint(true)
      }
    }
    val gen = new graft.runtime.CheckpointGen
    var items = targets.select(col("mouth"), col("nid").as("v"),
      lit(0L).as("off"), col("hops").as("len"))
    for (k <- (levels - 1) to 0 by -1) {
      val step = 1L << k
      val keep = items.filter(col("len") < step)
      val split = items.filter(col("len") >= step)
      val a = split.select(col("mouth"), col("v"), col("off"),
        lit(step).as("len"))
      val b = split.join(jumps(k), Seq("mouth", "v"))
        .select(col("mouth"), col("j").as("v"),
          (col("off") + step).as("off"), (col("len") - step).as("len"))
      items = gen.rotate(keep.unionByName(a).unionByName(b))
    }
    items.select(col("mouth"), col("off").as("pos"), col("v").as("nid"))
  }
}
