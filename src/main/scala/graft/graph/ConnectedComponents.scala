package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.runtime.CheckpointGen

/** Iterative connected components in DataFrame joins — the alternating
  * large-star / small-star algorithm ("Finding connected components in
  * map-reduce in logarithmic rounds", ICDE 2013; PAPERS.md). Replaces the
  * reference's in-memory BFS flood fill
  * (/root/reference/src/graph/undirected_graph.rs:346-380) with an
  * O(log² n)-round shuffle algorithm that survives planet-scale inputs.
  *
  * Each round is two self-aggregating joins; lineage is truncated with
  * `localCheckpoint` every round (or durable checkpoints via
  * [[graft.runtime.IterationCheckpointer]] for resumability), and the
  * superseded generation is released, so one stays resident. The
  * fixpoint test is an order-independent XOR-fingerprint + count of the
  * edge set — one cheap aggregate per round instead of a full `except`.
  *
  * Output label = **min nid of the component**, matching the reference's
  * BTreeMap-first `root_nodeid` (/root/reference/src/way_group.rs:27-36).
  * Deterministic: rounds and labels are identical at any parallelism.
  */
object ConnectedComponents {

  final case class Result(labels: DataFrame, rounds: Int)

  /** Edge sets at or below this size run [[localLabels]] — one union-find
    * task — instead of the O(log n)-round star loop: identical min-nid
    * labels, ~2 driver round-trips instead of 10-25 (each star round is a
    * checkpoint + fingerprint trip; at fixture scale the loop is pure
    * driver latency — guide §2.4). 500k canonical edges is ≤ ~8 MB in one
    * task, safe on any executor; every at-scale run (the 4M/8M/16M
    * evidence fixtures, any real 100 TB input) sits far above it and
    * keeps the iterative path. Env-overridable for experiments, not a
    * local-mode tune: the gate is on DATA size, not cluster shape.
    */
  private val LocalMaxEdges: Long =
    sys.env.get("SPARK_GRAFT_CC_LOCAL_MAX").map(_.toLong).getOrElse(500000L)

  /** @param edges DataFrame with two Long columns `src`, `dst` (undirected,
    *              self-loops/duplicates tolerated).
    * @param checkpointer optional durable per-round checkpoint hook
    *                     (round, labelsOrEdges) => possibly-reloaded frame.
    * @param localMaxEdges size gate for the single-task union-find path
    *                      (see [[LocalMaxEdges]]); 0 forces the iterative
    *                      path (specs pin local ≡ iterative labels).
    * @return labels (nid, comp) covering every nid present in `edges`.
    * @throws IllegalStateException if the star loop has not converged
    *         after `maxRounds` rounds.
    */
  def run(
      edges: DataFrame,
      maxRounds: Int = 50,
      checkpointer: Option[(Int, DataFrame) => DataFrame] = None,
      assumeDistinct: Boolean = false,
      localMaxEdges: Long = LocalMaxEdges): Result = {
    val gate = graft.runtime.Gate("cc-local", localMaxEdges)

    // assumeDistinct: callers holding an already-canonical edge set (the
    // memoised distinct frames, contraction outputs) skip the redundant
    // full-shuffle distinct; the lazy checkpoint is materialized by the
    // fingerprint aggregate in the same job (one round-trip, not two).
    val e0 = edges
      .select(col("src").cast("long"), col("dst").cast("long"))
      .filter(col("src") =!= col("dst"))
    val sc = edges.sparkSession.sparkContext
    // the RDDs of the live generation: each round releases its
    // predecessor's once the fingerprint has materialized the new one
    var (e, live) = CheckpointGen.persisted(sc)(
      (if (assumeDistinct) e0 else e0.distinct()).localCheckpoint(false))

    var rounds = 0
    var prev = fingerprint(e)
    // HYBRID small path: the fingerprint already counted the edge set (no
    // extra job); below the gate the whole component structure fits one
    // task, so a single union-find pass replaces the star loop. Durable
    // checkpointers stay iterative (their resume contract is the loop),
    // and a gate of 0 always forces the loop, even on no edges.
    if (checkpointer.isEmpty && gate.admits(prev._1)) {
      graft.runtime.Trace.rounds("connected components", 0)
      return Result(localLabels(e), 0)
    }
    var done = false

    while (!done && rounds < maxRounds) {
      // NOTE (r6 measurement): batching TWO star rounds per driver
      // round-trip was tried to cut checkpoint+fingerprint latency and
      // is strictly SLOWER (q13 5.0→8.9 s, q40 4.0→6.9 s at sf0.1):
      // both stars reference their input twice (self-union), so an
      // un-checkpointed inner round is recomputed once per branch —
      // the per-round checkpoint is what makes the self-unions cheap.
      val ss = smallStar(largeStar(e))
      // LAZY checkpoint: the fingerprint aggregate touches every
      // partition, so it materializes the checkpoint in the same job —
      // one driver round-trip per round instead of two (the eager form's
      // count job + the fingerprint job). Durable checkpointers keep
      // their own materialization contract.
      val (next, created) = CheckpointGen.persisted(sc)(checkpointer match {
        case Some(cp) => cp(rounds, ss)
        case None     => ss.localCheckpoint(false)
      })
      val fp = fingerprint(next)
      CheckpointGen.release(live)
      live = created
      done = fp == prev
      prev = fp
      e = next
      rounds += 1
    }
    // an unconverged edge set is not a star forest: its labels are wrong
    if (!done)
      throw new IllegalStateException(s"connected components did not converge " +
        s"in $maxRounds rounds (${prev._1} edges left)")

    graft.runtime.Trace.rounds("connected components", rounds)
    // Converged edge set is a star forest: (child, root) with root = min.
    val roots = e.select(col("dst").as("nid"), col("dst").as("comp")).distinct()
    val labels = e
      .select(col("src").as("nid"), col("dst").as("comp"))
      .union(roots)
      .groupBy("nid")
      .agg(min("comp").as("comp"))
    Result(labels, rounds)
  }

  /** Convenience: labels for every node in `edges`, singletons included
    * when a `nodes` frame (single `nid` column) is supplied.
    */
  def labelsWithSingletons(edges: DataFrame, nodes: DataFrame): DataFrame = {
    val r = run(edges)
    nodes
      .select(col("nid"))
      .distinct()
      .join(r.labels.withColumnRenamed("nid", "lnid"),
        col("nid") === col("lnid"), "left")
      .select(col("nid"), coalesce(col("comp"), col("nid")).as("comp"))
  }

  /** Large-star: every strictly-larger neighbour of u re-points at the
    * minimum of u's closed neighbourhood.
    */
  private[graph] def largeStar(e: DataFrame): DataFrame = {
    val sym = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
    val mins = sym
      .groupBy("src")
      .agg(least(col("src"), min(col("dst"))).as("m"))
      .withColumnRenamed("src", "u")
    sym
      .filter(col("dst") > col("src"))
      .join(mins, col("src") === col("u"))
      .select(col("dst").as("src"), col("m").as("dst"))
      .filter(col("src") =!= col("dst"))
    // no distinct here: the following small-star groupBy absorbs
    // duplicates — one fewer shuffle per round
  }

  /** Small-star: every ≤-neighbour (and u itself) re-points at the
    * minimum of u's smaller neighbourhood.
    */
  private[graph] def smallStar(e: DataFrame): DataFrame = {
    val dir = e.select(
      greatest(col("src"), col("dst")).as("u"),
      least(col("src"), col("dst")).as("v"))
    val mins = dir.groupBy("u").agg(min(col("v")).as("m"))
    dir
      .join(mins, "u")
      .select(col("v").as("src"), col("m").as("dst"))
      .union(mins.select(col("u").as("src"), col("m").as("dst")))
      .filter(col("src") =!= col("dst"))
      .distinct()
  }

  /** The sub-[[LocalMaxEdges]] path of [[run]]: one single-task
    * [[Local.MinUnionFind]] over the small edge set, so labels equal the
    * star loop's min-nid fixpoint. Lazily checkpointed: consumers re-read
    * one tiny RDD instead of re-running the pass per join branch.
    */
  private def localLabels(e: DataFrame): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    e.select(col("src"), col("dst")).as[(Long, Long)]
      .coalesce(1) // narrow (no exchange): the one-task gate is the point
      .mapPartitions { it =>
        val uf = new Local.MinUnionFind
        it.foreach { case (a, b) => uf.union(a, b) }
        uf.labels
      }
      .toDF("nid", "comp")
      .localCheckpoint(false)
  }

  /** Order-independent fingerprint of an edge set: (count, xor of row
    * hashes). One aggregate; no sort, no except.
    */
  private def fingerprint(e: DataFrame): (Long, Long) = {
    val row = e
      .agg(count(lit(1)).as("c"),
        coalesce(expr("bit_xor(xxhash64(src, dst))"), lit(0L)).as("x"))
      .head()
    (row.getLong(0), row.getLong(1))
  }
}
