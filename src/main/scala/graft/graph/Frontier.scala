package graft.graph

import scala.reflect.ClassTag
import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Encoder, SparkSession}
import org.apache.spark.storage.StorageLevel
import graft.runtime.CheckpointGen

/** The topo-countdown frontier behind every DAG sweep: D5 upstream flow
  * ([[Flow.upstreamFlow]]), D9 biggest end ([[Flow.biggestEndAssignment]])
  * and D17 mouth distances ([[DistLongest.mouthDistances]]).
  *
  * Edges come pointed in PUSH direction (tail → head). A node's countdown
  * starts at its push in-degree; each round resolves every node whose
  * countdown is zero at once: `emit` turns the node's arrivals into its
  * result rows and one push per out-edge, and each push decrements its
  * head. Rounds therefore equal the DAG depth in nodes at any parallelism.
  * Every round retires at least one node, so a round with pending nodes
  * but none ready means a cycle, and the loop throws.
  *
  * The static out-edge lists (one lookup map per partition) and the
  * countdown state share one `HashPartitioner`, sized to ~100k edges per
  * partition and capped at `spark.sql.shuffle.partitions` (AQE cannot
  * coalesce inside an RDD loop). Ready nodes find their out-edges, and
  * the pushes merge into the countdown, by zipping partitions: narrow,
  * with no per-round hash join over the pending set. The round's only
  * shuffle is the frontier's pushes, so per-round I/O is frontier-sized.
  * This is the legitimate RDD case: iterative co-partitioned state that
  * Catalyst cannot keep co-partitioned across rounds.
  *
  * Result rows append to one delta log, compacted by an eager local
  * checkpoint every 64 rounds; the optional durable `checkpointer` sees
  * each round's delta (resume = `IterationCheckpointer.allComplete`).
  * Every 30th state generation is checkpointed, reliably when
  * [[CheckpointGen.reliableDir]] has a dir, else locally; a local
  * checkpoint's blocks ARE the checkpoint, so such a generation stays
  * pinned until the result is materialized.
  */
object Frontier {

  final case class Result(rows: DataFrame, rounds: Int)

  /** @param edges   (tail, head, payload) in push direction
    * @param columns names of the result row fields
    * @param seeds   arrivals a node holds before any push; a seeded node
    *                that touches no edge still resolves in round 0
    * @param emit    (node, arrivals, out-edges (head, payload)) → (result
    *                rows, one push per out-edge in out-edge order)
    */
  def run[E: ClassTag, A: ClassTag, R: Encoder: ClassTag](
      spark: SparkSession,
      name: String,
      edges: RDD[(Long, Long, E)],
      columns: Seq[String],
      seeds: Option[RDD[(Long, A)]] = None,
      checkpointer: Option[(Int, DataFrame) => DataFrame] = None)(
      emit: (Long, List[A], Seq[(Long, E)]) => (Seq[R], Seq[A])): Result = {
    type State = (Long, List[A]) // (pending in-edges, arrivals so far)
    def merge(a: State, b: State): State = (a._1 + b._1, a._2 ::: b._2)

    val e = edges.persist(StorageLevel.MEMORY_AND_DISK)
    val part = new HashPartitioner(math.max(1L, math.min(
      spark.conf.get("spark.sql.shuffle.partitions", "32").toLong,
      e.count() / 100000L + 1L)).toInt)
    val reliable = CheckpointGen.reliableDir(spark.sparkContext)

    // static out-edge lists, one lookup map per partition
    val outs = e.map { case (t, h, p) => (t, (h, p)) }
      .groupByKey(part)
      .mapPartitions(it => Iterator(it.map { case (t, os) => t -> os.toArray }.toMap),
        preservesPartitioning = true)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nodes: RDD[(Long, State)] = e.flatMap { case (t, h, _) =>
      Iterator((t, (0L, List.empty[A])), (h, (1L, List.empty[A])))
    }
    var state = seeds.fold(nodes)(s => nodes.union(s.mapValues(a => (0L, List(a)))))
      .reduceByKey(part, merge _)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val total = state.count()
    var ready = state.filter(_._2._1 == 0L).count()

    val log = new DeltaLog[R](spark, columns)
    // each round's emitted frontier backs that round's delta until the
    // result is materialized
    val retained = scala.collection.mutable.ArrayBuffer.empty[RDD[_]]
    val pinned = scala.collection.mutable.ArrayBuffer.empty[RDD[_]]
    var prev: Option[RDD[_]] = None
    var rounds = 0
    var done = 0L
    while (done < total) {
      if (ready == 0L) throw new IllegalStateException(
        s"$name stalled after $rounds rounds with ${total - done} of $total " +
          "nodes pending: the graph has a cycle (contract SCCs first)")
      val emitted = state.zipPartitions(outs) { (states, adj) =>
        val outsOf = adj.next()
        states.filter(_._2._1 == 0L).map { case (nid, (_, arrived)) =>
          val out = outsOf.get(nid).fold(Seq.empty[(Long, E)])(_.toSeq)
          val (rows, pushes) = emit(nid, arrived, out)
          require(pushes.length == out.length,
            s"$name: node $nid pushed ${pushes.length} values over ${out.length} out-edges")
          (rows, out.iterator.map(_._1).zip(pushes.iterator).toArray)
        }
      }.persist(StorageLevel.MEMORY_AND_DISK)
      retained += emitted

      val rows = emitted.flatMap(_._1)
      checkpointer match {
        case Some(cp) => log.append(cp(rounds, log.frame(rows)))
        case None     => log.append(rows)
      }

      // the round's only shuffle, sized by the frontier's out-edges
      val arrivals = emitted.flatMap(_._2)
        .aggregateByKey((0L, List.empty[A]), part)(
          (s, a) => (s._1 + 1L, a :: s._2), merge)
      val next = state.zipPartitions(arrivals, preservesPartitioning = true) {
        (states, arrived) =>
          val in = arrived.toMap // frontier-sized
          states.filter(_._2._1 > 0L).map { case (nid, (n, as)) =>
            in.get(nid).fold((nid, (n, as))) { case (k, bs) => (nid, (n - k, as ::: bs)) }
          }
      }.persist(StorageLevel.MEMORY_AND_DISK)
      val checkpointed = rounds % 30 == 29
      if (checkpointed) {
        if (reliable) next.checkpoint() else next.localCheckpoint()
      }
      done += ready
      // count() computes EVERY partition of `next` into the cache before
      // the previous generation goes (a prefix action would leave later
      // rounds recomputing through the lineage)
      ready = next.filter(_._2._1 == 0L).count()
      CheckpointGen.release(prev.toSeq)
      if (checkpointed && !reliable) pinned += next
      prev = if (checkpointed && !reliable) None else Some(next)
      state = next
      rounds += 1
    }
    val out = log.materialize()
    CheckpointGen.release(prev.toSeq ++ pinned ++ retained :+ outs :+ e)
    graft.runtime.Trace.rounds(name, rounds)
    Result(out, rounds)
  }

  /** Append-only per-round deltas, compacted every 64 rounds so the
    * union plan stays bounded on deep DAGs. A plain round appends its row
    * RDD, which becomes a frame only at compaction (per-round frames cost
    * the driver an analysis each); a durable round appends the frame
    * its checkpointer reloaded. */
  private final class DeltaLog[R: Encoder: ClassTag](
      spark: SparkSession, columns: Seq[String]) {
    private val gen = new CheckpointGen
    private var base = frame(spark.sparkContext.emptyRDD[R])
    private val rdds = scala.collection.mutable.ArrayBuffer.empty[RDD[R]]
    private val frames = scala.collection.mutable.ArrayBuffer.empty[DataFrame]

    def frame(rows: RDD[R]): DataFrame = spark.createDataset(rows).toDF(columns: _*)

    def append(rows: RDD[R]): Unit = { rdds += rows; compactIfFull() }
    def append(df: DataFrame): Unit = { frames += df; compactIfFull() }

    private def compactIfFull(): Unit =
      if (rdds.length + frames.length >= 64) materialize()

    /** Checkpoint the whole log eagerly, releasing the previous base. */
    def materialize(): DataFrame = {
      val all = (frames :+ frame(spark.sparkContext.union(rdds.toSeq)))
        .foldLeft(base)(_ union _)
      base = gen.rotate(all)
      rdds.clear()
      frames.clear()
      base
    }
  }
}
