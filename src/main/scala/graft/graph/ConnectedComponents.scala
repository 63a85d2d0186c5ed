package graft.graph

import scala.collection.mutable.ArrayBuilder
import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.{RDD, ShuffledRDD}
import org.apache.spark.serializer.JavaSerializer
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._
import graft.runtime.CheckpointGen

/** Iterative connected components: the alternating large-star /
  * small-star algorithm ("Finding connected components in map-reduce in
  * logarithmic rounds", ICDE 2013; PAPERS.md), run as a co-partitioned
  * RDD kernel. Replaces the reference's in-memory BFS flood fill
  * (/root/reference/src/graph/undirected_graph.rs:346-380) with an
  * O(log² n)-round shuffle algorithm that survives planet-scale inputs.
  *
  * A generation is one round's edge set held both ways, as entries
  * (u, v) and (v, u) under one `HashPartitioner` on u: each partition is
  * one [[Block]] of primitive arrays sorted by (u, v), duplicates merged.
  * Each node's entries are thus one run whose first v is its smallest
  * neighbour, so both stars read their per-node minima off run heads in
  * one pass: no per-node collection, and a hub node costs 16 bytes a
  * neighbour like any other node. A round is the large star (narrow over
  * the generation), an exchange to the re-pointed nodes' partitions, the
  * small star, and an exchange into the next generation; a map task ships
  * one long array per target partition, and each target sorts what it
  * got. The next generation is locally checkpointed and materialized by
  * the one action that returns its fingerprint, an order-independent
  * (count, xor of xxhash64) over its edges, so a round is one Spark job
  * and the loop stops when the fingerprint repeats. The superseded
  * generation is released, so one stays resident. The optional durable
  * `checkpointer` sees each round's edges as a frame, and the loop goes on
  * from the frame it returns. A partition holds ~2 × edges / partitions
  * entries, and sorting them takes ~70 bytes an entry (the pairs it got,
  * their ids, the sort keys and the sorted arrays).
  *
  * This is the second legitimate RDD case beside [[Frontier]]: iterative
  * state that Catalyst cannot keep co-partitioned across rounds (AQE
  * turned every exchange of the DataFrame form into a job of its own).
  *
  * Output label = **min nid of the component**, matching the reference's
  * BTreeMap-first `root_nodeid` (/root/reference/src/way_group.rs:27-36).
  * Deterministic: rounds and labels are identical at any parallelism.
  */
object ConnectedComponents {

  final case class Result(labels: DataFrame, rounds: Int)

  /** Edge sets at or below this size run [[localLabels]] — one union-find
    * task — instead of the O(log n)-round star loop: identical min-nid
    * labels, one job before the union-find instead of one per round. At
    * 500k edges the task holds ~60 MB of heap (1M distinct ids; BENCH.md),
    * safe on any executor; every at-scale run (the 4M/8M/16M evidence
    * fixtures, any real 100 TB input) sits far above it and keeps the
    * iterative path. Env-overridable for
    * experiments, not a local-mode tune: the gate is on DATA size, not
    * cluster shape.
    */
  private val LocalMaxEdges: Long =
    sys.env.get("SPARK_GRAFT_CC_LOCAL_MAX").map(_.toLong).getOrElse(500000L)

  private val Pairs = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)

  /** @param edges DataFrame with two Long columns `src`, `dst` (undirected,
    *              self-loops/duplicates tolerated).
    * @param checkpointer optional durable per-round checkpoint hook
    *                     (round, edges) => possibly-reloaded frame.
    * @param assumeDistinct the caller's edge set has no duplicate rows,
    *                       so the pre-loop fingerprint counts rows as given.
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
    val spark = edges.sparkSession
    def edgesOf(df: DataFrame): RDD[Array[Long]] = df
      .select(col("src").cast("long"), col("dst").cast("long"))
      .filter(col("src") =!= col("dst"))
      .as(Pairs).rdd
      .mapPartitions { it =>
        val out = new Edges
        it.foreach { case (a, b) => out.add(a, b) }
        Iterator(out.result())
      }
    val cap = spark.conf.get("spark.sql.shuffle.partitions", "32").toLong
    def sized(n: Long) = new HashPartitioner(math.max(1L, math.min(cap, n)).toInt)

    // before anything is counted, the input's partition count stands in
    // for its size; the fingerprint that materializes this generation
    // counts the edges as the caller gave them (duplicates merged unless
    // assumeDistinct), which is also all the gate needs
    val in = edgesOf(edges)
    var gen = exchange(in, sized(in.getNumPartitions), both = true,
      distinct = !assumeDistinct).localCheckpoint()
    var prev = fingerprint(gen)
    // HYBRID small path: below the gate the whole component structure
    // fits one task, so a single union-find pass replaces the star loop.
    // Durable checkpointers stay iterative (their resume contract is the
    // loop), and a gate of 0 always forces the loop, even on no edges.
    if (checkpointer.isEmpty && gate.admits(prev._1)) {
      graft.runtime.Trace.rounds("connected components", 0)
      return Result(localLabels(spark, gen), 0)
    }

    // [[Frontier]]'s sizing rule at ~10k edges a partition, not its
    // ~100k: a star round touches every edge, not just a frontier
    val part = sized(prev._1 / 10000L + 1L)
    var rounds = 0
    var done = false
    while (!done && rounds < maxRounds) {
      val ls = exchange(largeStar(gen), part, both = false, distinct = true)
      val stars = exchange(smallStar(ls), part, both = true, distinct = true)
      val next = checkpointer.fold(stars) { cp =>
        val round = spark.createDataset(stars.flatMap(_.edges))(Pairs).toDF("src", "dst")
        exchange(edgesOf(cp(rounds, round)), part, both = true, distinct = true)
      }.localCheckpoint()
      val fp = fingerprint(next)
      CheckpointGen.release(Seq(gen))
      done = fp == prev
      prev = fp
      gen = next
      rounds += 1
    }
    // an unconverged edge set is not a star forest: its labels are wrong
    if (!done)
      throw new IllegalStateException(s"connected components did not converge " +
        s"in $maxRounds rounds (${prev._1} edges left)")

    graft.runtime.Trace.rounds("connected components", rounds)
    // The converged edge set is a star forest: a leaf's one neighbour is
    // its root and a root's neighbours are all larger, so each node's
    // label is the smaller of itself and its smallest neighbour.
    val labels = gen.flatMap(_.heads.map { case (u, m) => (u, math.min(u, m)) })
    Result(spark.createDataset(labels)(Pairs).toDF("nid", "comp"), rounds)
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

  /** One partition of a generation: the entries (u(i), v(i)) of the
    * partition's nodes, sorted by (u, v) and distinct, so each node's
    * entries form one run that starts at its smallest neighbour; plus the
    * (count, xor of Spark's `xxhash64(src, dst)`) fingerprint of the
    * edges given to the partition's nodes as (u, v). */
  private final class Block(val u: Array[Long], val v: Array[Long],
      val count: Long, val xor: Long) extends Serializable {
    /** Whether entry i starts its node's run. */
    def starts(i: Int): Boolean = i == 0 || u(i) != u(i - 1)
    /** (u, smallest neighbour) once per node. */
    def heads: Iterator[(Long, Long)] = u.indices.iterator.filter(starts).map(i => (u(i), v(i)))
    /** The round's edges: each points at its smaller node. */
    def edges: Iterator[(Long, Long)] =
      u.indices.iterator.filter(i => u(i) > v(i)).map(i => (u(i), v(i)))
  }

  /** A growable flat (a, b, a, b, …) edge array. */
  private final class Edges {
    private val buf = new ArrayBuilder.ofLong
    def add(a: Long, b: Long): Unit = { buf.addOne(a); buf.addOne(b) }
    def result(): Array[Long] = buf.result()
  }

  /** Large star: every strictly larger neighbour v of u re-points at the
    * minimum m of u's closed neighbourhood, giving the pair (v, m). */
  private def largeStar(gen: RDD[Block]): RDD[Array[Long]] = gen.map { b =>
    val out = new Edges
    var m = 0L
    for (i <- b.u.indices) {
      if (b.starts(i)) m = math.min(b.u(i), b.v(i))
      if (b.v(i) > b.u(i)) out.add(b.v(i), m)
    }
    out.result()
  }

  /** Small star over the large star's pairs: every smaller neighbour w
    * of v, and v itself, re-points at v's smallest neighbour m. */
  private def smallStar(ls: RDD[Block]): RDD[Array[Long]] = ls.map { b =>
    val out = new Edges
    var m = 0L
    for (i <- b.u.indices) {
      if (b.starts(i)) { m = b.v(i); out.add(b.u(i), m) }
      else out.add(b.v(i), m)
    }
    out.result()
  }

  /** The round's exchange: each edge (a, b) of the flat (a, b, a, b, …)
    * arrays goes to a's partition under `part`, and to b's too when
    * `both` (so b's block holds the entry (b, a)). A map task ships one
    * array per target partition; each target sorts what it got into its
    * [[Block]], where a `distinct` fingerprint counts an edge given
    * several times once. */
  private def exchange(edges: RDD[Array[Long]], part: HashPartitioner, both: Boolean,
      distinct: Boolean): RDD[Block] = {
    val chunks = edges.mapPartitions { arrays =>
      val to = Array.fill(part.numPartitions)(new Edges)
      arrays.foreach { es =>
        for (i <- 0 until es.length by 2) {
          val pa = part.getPartition(es(i))
          to(pa).add(es(i), es(i + 1))
          if (both) {
            val pb = part.getPartition(es(i + 1))
            if (pb != pa) to(pb).add(es(i), es(i + 1))
          }
        }
      }
      to.iterator.map(_.result()).zipWithIndex.collect { case (es, p) if es.nonEmpty => (p, es) }
    }
    // an Int key hashes to itself: partition p gets key p. Java
    // serialization writes a long array in bulk; the Kryo that Spark
    // picks for primitive arrays costs a new instance per stream
    new ShuffledRDD[Int, Array[Long], Array[Long]](chunks, part)
      .setSerializer(new JavaSerializer(edges.sparkContext.getConf))
      .mapPartitionsWithIndex { (p, arrays) =>
        Iterator(block(arrays.map(_._2), part.getPartition(_) == p, both, distinct))
      }
  }

  /** Sorts a partition's entries by (u, v) as one primitive sort of
    * (rank u, rank v, given) keys, the ranks taken among the ids its
    * entries name, then merges equal entries. */
  private def block(arrays: Iterator[Array[Long]], own: Long => Boolean, both: Boolean,
      distinct: Boolean): Block = {
    val given, mirrors = new Edges
    arrays.foreach { es =>
      for (i <- 0 until es.length by 2) {
        val (a, b) = (es(i), es(i + 1))
        if (own(a)) given.add(a, b)
        if (both && own(b)) mirrors.add(b, a)
      }
    }
    val (gs, ms) = (given.result(), mirrors.result())
    val ids = gs ++ ms
    java.util.Arrays.sort(ids)
    var n = 0 // ids(0 until n): the distinct ids
    for (i <- ids.indices) if (n == 0 || ids(i) != ids(n - 1)) { ids(n) = ids(i); n += 1 }
    def rank(x: Long) = java.util.Arrays.binarySearch(ids, 0, n, x).toLong
    val keys = new Array[Long]((gs.length + ms.length) / 2)
    for (i <- 0 until gs.length by 2) keys(i / 2) = rank(gs(i)) << 32 | rank(gs(i + 1)) << 1 | 1L
    for (i <- 0 until ms.length by 2)
      keys((gs.length + i) / 2) = rank(ms(i)) << 32 | rank(ms(i + 1)) << 1
    java.util.Arrays.sort(keys)
    val (ou, ov) = (new ArrayBuilder.ofLong, new ArrayBuilder.ofLong)
    var (count, xor) = (0L, 0L)
    var i = 0
    while (i < keys.length) {
      val k = keys(i) >>> 1
      var copies = 0L
      while (i < keys.length && keys(i) >>> 1 == k) { copies += keys(i) & 1L; i += 1 }
      val (a, b) = (ids((k >>> 31).toInt), ids((k & 0x7fffffffL).toInt))
      ou.addOne(a)
      ov.addOne(b)
      val c = if (distinct) math.min(copies, 1L) else copies
      count += c
      if ((c & 1L) == 1L) xor ^= XXH64.hashLong(b, XXH64.hashLong(a, 42L))
    }
    new Block(ou.result(), ov.result(), count, xor)
  }

  /** The sub-[[LocalMaxEdges]] path of [[run]]: one single-task
    * [[Local.MinUnionFind]] over the small edge set, so labels equal the
    * star loop's min-nid fixpoint. Lazily checkpointed: consumers re-read
    * one tiny RDD instead of re-running the pass per join branch.
    */
  private def localLabels(spark: SparkSession, gen: RDD[Block]): DataFrame =
    spark.createDataset(gen
      .coalesce(1) // narrow (no exchange): the one-task gate is the point
      .mapPartitions { blocks =>
        val uf = new Local.MinUnionFind
        blocks.foreach(b => for (i <- b.u.indices) uf.union(b.u(i), b.v(i)))
        uf.labels
      })(Pairs)
      .toDF("nid", "comp")
      .localCheckpoint(false)

  /** Order-independent fingerprint of a generation's edges as given:
    * (count, xor of row hashes), one action over its blocks. */
  private def fingerprint(gen: RDD[Block]): (Long, Long) =
    gen.map(b => (b.count, b.xor))
      .fold((0L, 0L)) { case ((c1, x1), (c2, x2)) => (c1 + c2, x1 ^ x2) }
}
