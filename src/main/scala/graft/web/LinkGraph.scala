package graft.web

import scala.collection.mutable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Link-graph centrality for crawl prioritization / quality weighting —
  * the web-pipeline op that ranks pages (or hosts) by incoming links
  * before sampling training data (Common-Crawl-style harmonic/PageRank
  * ranks).
  *
  * Everything is integer-exact so DuckDB replays it bit-for-bit: ranks
  * are parts-per-billion BIGINTs, every division is floor integer
  * division (`div`), and all cross-engine sums are integer sums
  * (order-free). Damping 0.85 becomes `(85 * s) div 100`; the teleport
  * term is `150000000 div n` ppb.
  *
  * Scale shape: one groupBy for out-degrees, then per iteration one
  * src-keyed equi-join (rank onto edges) and one dst-keyed partial-agg
  * groupBy — the canonical distributed PageRank round. On a real
  * cluster the edge table is bucketed by `src` once so the per-round
  * join is co-partitioned; the rank frame is the only thing that moves
  * (O(V) per round, not O(E)).
  */
object LinkGraph {

  /** Deterministic synthetic link set: page `d` links to
    * `(31·d + 17·i + 7) mod n` for i ∈ {0,1,2}, self-links dropped
    * (so out-degree ∈ {2,3} — the per-node degree path stays real).
    */
  def syntheticEdges(docs: DataFrame, n: Long): DataFrame =
    docs.select(col("doc_id").as("src"),
        explode(array((0 to 2).map(i =>
          (col("doc_id") * 31 + lit(17L * i + 7)) % n): _*)).as("dst"))
      .where(col("src") =!= col("dst"))
      .distinct()

  /** Deterministic hierarchy-shaped link set for the peel ops: page `d`
    * links to `d div 2` and `d div 3` (self-links dropped) — a DAG of
    * shrinking ids whose UNDIRECTED degree actually varies (leaves sit
    * at 1-2, low ids collect in-links), unlike [[syntheticEdges]] whose
    * near-uniform degree makes core decomposition degenerate.
    */
  def divEdges(docs: DataFrame): DataFrame =
    docs.select(col("doc_id").as("src"),
        explode(array(Seq(2, 3).map(i => expr(s"doc_id div $i")): _*))
          .as("dst"))
      .where(col("src") =!= col("dst"))
      .distinct()

  /** Bounded k-core peel — the spam-farm / link-ring robustness signal
    * (a page's coreness is the densest subgraph level it survives in;
    * web-spam and boilerplate nav rings peel early). `rounds` fixed
    * peel rounds at threshold `k` over the undirected graph: each round
    * removes every still-active node with fewer than `k` active
    * neighbours, exactly the standard distributed k-core round.
    *
    * Returns one row per node: `removed_round` (1-based round the node
    * was peeled; 0 = survives all rounds — a k-core member once the
    * peel has converged) and `deg_final` (degree among survivors;
    * 0 for peeled nodes). All integers, so DuckDB replays the rounds
    * bit-for-bit as unrolled CTEs.
    *
    * Scale shape: round 1 pays the one full-degree groupBy over E;
    * every later round is FRONTIER-SIZED — only edges incident to the
    * just-removed set are touched (a semi-join no bigger than the
    * frontier's incident edges), and the state update joins O(V) rows
    * against the frontier delta. The state frame is localCheckpointed
    * per round so lineage stays flat, and superseded generations are
    * released ([[graft.runtime.CheckpointGen]]) so resident state is
    * O(1) generations, not O(rounds).
    */
  /** Single-task replay gate for the fixed-round loops below (k-core,
    * LPA, BFS, HyperBall): at or below this many nodes AND edges the
    * whole graph fits one task, and each loop replays its EXACT
    * per-round integer semantics locally — identical outputs with ~2
    * driver round-trips instead of 2-3 per round of checkpoint latency
    * (guide §2.4; the same hybrid contract as ConnectedComponents'
    * local union-find). Both counts are taken in one job that stops
    * reading past the limit, so an at-scale caller never pays a full scan.
    */
  val LocalMaxEdges = 500000L

  /** The one-partition tagged (nodes ++ edges) dataset the local paths
    * replay from — None when the graph is above the gate. Rows:
    * (isNode, a, b) with node rows (true, nid, 0) and edge rows
    * (false, src, dst).
    */
  private def taggedLocal(
      nodes: DataFrame, edges: DataFrame, localMax: Long)
      : Option[org.apache.spark.sql.Dataset[(Boolean, Long, Long)]] = {
    val spark = nodes.sparkSession
    import spark.implicits._
    val gate = graft.runtime.Gate("web-local", localMax)
    // both counts in one job with no shuffle: each partition is read
    // until either count passes the limit (the graph is then above it)
    val (nNodes, nEdges) =
      if (localMax == 0) (-1L, -1L)
      else {
        val seen = nodes.select(lit(true)).unionAll(edges.select(lit(false)))
          .as[Boolean].mapPartitions { it =>
            var (n, e) = (0L, 0L)
            while (it.hasNext && n <= localMax && e <= localMax)
              if (it.next()) n += 1 else e += 1
            Iterator((n, e))
          }.collect()
        (seen.map(_._1).sum, seen.map(_._2).sum)
      }
    // `&`, not `&&`: the trace gets one decision per count
    if (!(gate.admits(nNodes) & gate.admits(nEdges))) return None
    Some(nodes
      .select(lit(true).as("n"), col("doc_id").cast("long").as("a"),
        lit(0L).as("b"))
      .unionByName(edges.select(lit(false).as("n"), col("src").cast("long").as("a"),
        col("dst").cast("long").as("b")))
      .as[(Boolean, Long, Long)]
      .coalesce(1)) // narrow (no exchange): the one-task gate is the point
  }

  /** Drain a tagged iterator into (node ids, edge pairs). */
  private def drainTagged(
      it: Iterator[(Boolean, Long, Long)])
      : (mutable.ArrayBuffer[Long], mutable.ArrayBuffer[(Long, Long)]) = {
    val ns = mutable.ArrayBuffer.empty[Long]
    val es = mutable.ArrayBuffer.empty[(Long, Long)]
    it.foreach { case (isN, a, b) => if (isN) ns += a else es += ((a, b)) }
    (ns, es)
  }

  /** Canonical undirected distinct adjacency of raw edge pairs. */
  private def undAdj(
      es: Seq[(Long, Long)]): mutable.HashMap[Long, mutable.ArrayBuffer[Long]] = {
    val und = mutable.HashSet.empty[(Long, Long)]
    es.foreach { case (a, b) =>
      if (a != b) und += ((math.min(a, b), math.max(a, b)))
    }
    val adj = mutable.HashMap.empty[Long, mutable.ArrayBuffer[Long]]
    und.foreach { case (u, v) =>
      adj.getOrElseUpdate(u, mutable.ArrayBuffer.empty) += v
      adj.getOrElseUpdate(v, mutable.ArrayBuffer.empty) += u
    }
    adj
  }

  def kcorePeel(
      nodes: DataFrame, edges: DataFrame,
      k: Int = 3, rounds: Int = 4,
      localMaxEdges: Long = LocalMaxEdges): DataFrame = {
    require(k >= 1 && rounds >= 1, s"k and rounds must be >= 1; got $k, $rounds")
    val spark = nodes.sparkSession
    import spark.implicits._
    taggedLocal(nodes, edges, localMaxEdges).foreach { tagged =>
      return tagged.mapPartitions { it =>
        val (ns, es) = drainTagged(it)
        val adj = undAdj(es.toSeq)
        val deg = mutable.HashMap.empty[Long, Long]
        adj.foreach { case (x, nb) => deg(x) = nb.length.toLong }
        val active = mutable.HashSet.empty[Long] ++ ns
        val removedRound = mutable.HashMap.empty[Long, Long]
        for (r <- 1 to rounds) {
          val toRemove = active.iterator
            .filter(x => deg.getOrElse(x, 0L) < k).toArray
          toRemove.foreach { x => active -= x; removedRound(x) = r.toLong }
          toRemove.foreach { x =>
            adj.getOrElse(x, mutable.ArrayBuffer.empty).foreach { y =>
              deg(y) = deg.getOrElse(y, 0L) - 1L
            }
          }
        }
        ns.iterator.map { x =>
          (x, removedRound.getOrElse(x, 0L),
            if (active(x)) deg.getOrElse(x, 0L) else 0L)
        }
      }.toDF("doc_id", "removed_round", "deg_final")
    }
    val und = edges
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .where(col("u") =!= col("v")).distinct()
    // both directions once: adjacency (x has neighbour y)
    val adj = und.select(col("u").as("x"), col("v").as("y"))
      .unionAll(und.select(col("v").as("x"), col("u").as("y")))
      .localCheckpoint(true)
    val deg0 = adj.groupBy("x").agg(count(lit(1)).as("deg"))
    val gen = new graft.runtime.CheckpointGen
    var active = gen.rotate(nodes.select(col("doc_id").as("x"))
      .join(deg0, Seq("x"), "left")
      .select(col("x"), coalesce(col("deg"), lit(0L)).as("deg")))
    var removed = nodes
      .select(col("doc_id").as("x"), lit(0L).as("removed_round"))
      .where(lit(false))
    for (r <- 1 to rounds) {
      val toRemove = active.where(col("deg") < k).select(col("x"))
        .localCheckpoint(true)
      removed = removed.unionByName(
        toRemove.select(col("x"), lit(r.toLong).as("removed_round")))
      // frontier-sized degree decrement: only edges leaving the removed
      // set are re-counted; everything else keeps its degree
      val delta = adj.join(toRemove, Seq("x"))
        .groupBy(col("y").as("x")).agg(count(lit(1)).as("dec"))
      active = gen.rotate(active
        .join(toRemove.select(col("x")), Seq("x"), "left_anti")
        .join(delta, Seq("x"), "left")
        .select(col("x"), (col("deg") - coalesce(col("dec"), lit(0L))).as("deg")))
    }
    nodes.select(col("doc_id"))
      .join(removed.withColumnRenamed("x", "doc_id"), Seq("doc_id"), "left")
      .join(active.select(col("x").as("doc_id"), col("deg")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("removed_round"), lit(0L)).as("removed_round"),
        coalesce(col("deg"), lit(0L)).as("deg_final"))
  }

  /** Synchronous label propagation (Raghavan et al. 2007), `rounds`
    * fixed rounds — the cheap community-detection pass used on
    * webgraphs to flag link farms / mirror clusters before training:
    * every node starts as its own label and each round adopts the most
    * frequent label among its neighbours (ties → smallest label;
    * isolated nodes keep their own). Synchronous updates + the min
    * tie-break make it a pure function of the graph, so DuckDB replays
    * each round bit-for-bit.
    *
    * Scale shape per round: one E-sized vote shuffle with map-side
    * combine (groupBy node,label), then the (max count, min label)
    * argmax is ONE more partial-agg groupBy — `max(struct(c, −lbl))`
    * orders by count then negated label, so no per-node window and no
    * votes self-join; a hub's million votes partial-agg down instead of
    * sorting in one task. State is localCheckpointed per round (lineage
    * stays flat) with superseded generations released (O(1) resident
    * state).
    */
  def labelPropagation(
      nodes: DataFrame, edges: DataFrame, rounds: Int = 3,
      localMaxEdges: Long = LocalMaxEdges): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1; got $rounds")
    val spark = nodes.sparkSession
    import spark.implicits._
    taggedLocal(nodes, edges, localMaxEdges).foreach { tagged =>
      return tagged.mapPartitions { it =>
        val (ns, es) = drainTagged(it)
        val adj = undAdj(es.toSeq)
        var lbl = mutable.HashMap.empty[Long, Long]
        ns.foreach(x => lbl(x) = x)
        for (_ <- 1 to rounds) {
          val next = mutable.HashMap.empty[Long, Long]
          ns.foreach { x =>
            val votes = mutable.HashMap.empty[Long, Long]
            adj.getOrElse(x, mutable.ArrayBuffer.empty).foreach { y =>
              // ghost neighbours (edge endpoints outside `nodes`) carry
              // no label — the distributed join drops their votes too
              lbl.get(y).foreach(l => votes(l) = votes.getOrElse(l, 0L) + 1L)
            }
            next(x) =
              if (votes.isEmpty) lbl(x)
              else votes.maxBy { case (l, c) => (c, -l) }._1
          }
          lbl = next
        }
        ns.iterator.map(x => (x, lbl(x)))
      }.toDF("doc_id", "label")
    }
    val und = edges
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .where(col("u") =!= col("v")).distinct()
    val adj = und.select(col("u").as("x"), col("v").as("y"))
      .unionAll(und.select(col("v").as("x"), col("u").as("y")))
      .localCheckpoint(true)
    val gen = new graft.runtime.CheckpointGen
    var lbl = gen.rotate(
      nodes.select(col("doc_id").as("x"), col("doc_id").as("lbl")))
    for (_ <- 1 to rounds) {
      val votes = adj
        .join(lbl.select(col("x").as("y"), col("lbl")), Seq("y"))
        .groupBy("x", "lbl").agg(count(lit(1)).as("c"))
      val best = votes
        .groupBy("x")
        .agg(max(struct(col("c"), (-col("lbl")).as("neg"))).as("m"))
        .select(col("x"), (-col("m.neg")).as("nl"))
      lbl = gen.rotate(lbl.join(best, Seq("x"), "left")
        .select(col("x"), coalesce(col("nl"), col("lbl")).as("lbl")))
    }
    lbl.select(col("x").as("doc_id"), col("lbl").as("label"))
  }

  /** Multi-source BFS crawl depth — the TrustRank-style seed-distance
    * signal (hops from a trusted seed set along links; far pages are
    * crawl-frontier / spam-suspect, and the depth is a standard quality
    * feature when weighting training data). Seeds are the deterministic
    * set `doc_id % seedMod == 0`; `rounds` frontier expansions over the
    * DIRECTED edge set; unreached nodes get depth −1.
    *
    * Scale shape: textbook frontier BFS with an APPEND-ONLY delta log —
    * per round one src-keyed equi-join of the current frontier against
    * the edge table (shuffle sized by the frontier's out-edges, not E)
    * and one anti-join against the visited union. Each round's newly
    * reached set is localCheckpointed once and never rewritten (the
    * deltas sum to ≤ V across ALL rounds — the same append-only shape
    * as `Flow`'s resolved log, NOT an O(V)-per-round state rewrite).
    */
  def bfsDepth(
      nodes: DataFrame, edges: DataFrame,
      seedMod: Long = 97L, rounds: Int = 3,
      localMaxEdges: Long = LocalMaxEdges): DataFrame = {
    require(seedMod >= 1 && rounds >= 1,
      s"seedMod and rounds must be >= 1; got $seedMod, $rounds")
    val spark = nodes.sparkSession
    import spark.implicits._
    taggedLocal(nodes, edges, localMaxEdges).foreach { tagged =>
      return tagged.mapPartitions { it =>
        val (ns, es) = drainTagged(it)
        // DIRECTED adjacency, raw pairs (the frontier dedups via the set)
        val out = mutable.HashMap.empty[Long, mutable.ArrayBuffer[Long]]
        es.foreach { case (s0, d0) =>
          out.getOrElseUpdate(s0, mutable.ArrayBuffer.empty) += d0
        }
        val depth = mutable.HashMap.empty[Long, Long]
        var frontier = ns.filter(x => math.floorMod(x, seedMod) == 0L).toArray
        frontier.foreach(depth(_) = 0L)
        for (r <- 1 to rounds) {
          // ghost dsts participate as frontier members exactly like the
          // distributed delta log; only `nodes` rows are emitted below
          val next = frontier.iterator
            .flatMap(x => out.getOrElse(x, mutable.ArrayBuffer.empty))
            .toArray.distinct.filterNot(depth.contains)
          next.foreach(depth(_) = r.toLong)
          frontier = next
        }
        ns.iterator.map(x => (x, depth.getOrElse(x, -1L)))
      }.toDF("doc_id", "depth")
    }
    val seeds = nodes
      .select(col("doc_id").as("x"), lit(0L).as("depth"))
      .where(pmod(col("x"), lit(seedMod)) === 0L)
      .localCheckpoint(true)
    var deltas = List[DataFrame](seeds)
    var frontier = seeds.select("x")
    for (r <- 1 to rounds) {
      val seen = deltas.map(_.select("x")).reduce(_ unionAll _)
      val next = edges
        .join(frontier.withColumnRenamed("x", "src"), Seq("src"))
        .select(col("dst").as("x")).distinct()
        .join(seen, Seq("x"), "left_anti")
        .select(col("x"), lit(r.toLong).as("depth"))
        .localCheckpoint(true)
      deltas ::= next
      frontier = next.select("x")
    }
    nodes.select(col("doc_id"))
      .join(deltas.reduce(_ unionByName _).withColumnRenamed("x", "doc_id"),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("depth"), lit(-1L)).as("depth"))
  }

  /** Anchor-text aggregation — the classic webgraph-derived corpus
    * (anchor text of inbound links describes the TARGET page; search
    * engines and anchor-pretraining datasets are built from exactly
    * this per-target aggregation). Each link carries one deterministic
    * anchor token drawn from the SOURCE page's text (token index
    * `1 + dst mod n_tokens(src)` — no RNG), and the op aggregates per
    * (target, anchor): inbound-link count + distinct source hosts.
    *
    * Scale shape: one src-keyed equi-join of the edge table onto the
    * pages table (both 100 TB-scale — plain shuffle join, bucketable by
    * the page id), then one (dst, anchor) groupBy with map-side partial
    * aggregation absorbing hot targets. No per-target list is ever
    * materialised in one row.
    */
  def anchorText(docs: DataFrame, edges: DataFrame,
      idCol: String, textCol: String, hostCol: String): DataFrame = {
    val src = docs.select(col(idCol).as("src"),
        col(hostCol).as("src_host"),
        expr(s"filter(split($textCol, ' ', -1), t -> t != '')").as("toks"))
      .where(size(col("toks")) > 0)
    edges.join(src, Seq("src"))
      .select(col("dst").as("doc_id"), col("src_host"),
        element_at(col("toks"),
          (lit(1L) + pmod(col("dst"), size(col("toks")).cast("long")))
            .cast("int")).as("anchor"))
      .groupBy("doc_id", "anchor")
      .agg(count(lit(1)).as("n_links"),
        countDistinct(col("src_host")).as("n_src_hosts"))
  }

  /** Degree-ordered triangle counting + local clustering coefficient —
    * the link-spam / community-density signal over the same link graph
    * PageRank ranks. Each undirected edge is oriented from its lower
    * (degree, id) endpoint to the higher (key k = deg·2³² + id, a total
    * order; ids must fit 32 bits), and wedges are enumerated only at
    * each edge's LOW-degree end — the classic orientation bound: total
    * wedge volume is O(E^1.5) regardless of hubs, where a naive
    * neighbourhood self-join is Σ deg² (a 10⁷-degree hub alone would be
    * 10¹⁴ wedge rows). Per-node `cc_ppm` = (2·tri·10⁶) div (deg·(deg−1))
    * — exact integers end to end, so the DuckDB oracle replays it
    * bit-for-bit.
    *
    * Scale shape: three equi-joins (two on node keys, the closing join
    * on the (b,c) pair) and two groupBys; the oriented edge frame is
    * checkpointed once and reused by both wedge sides and the closing
    * join. No node ever materialises its full neighbourhood in one row.
    */
  def triangleCounts(nodes: DataFrame, edges: DataFrame): DataFrame = {
    val und = edges
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .where(col("u") =!= col("v")).distinct()
    val deg = und.select(col("u").as("x"))
      .unionAll(und.select(col("v").as("x")))
      .groupBy("x").agg(count(lit(1)).as("deg"))
    val k = deg.select(col("x"),
      (col("deg") * lit(4294967296L) + col("x")).as("k"))
    val oriented = und
      .join(k.select(col("x").as("u"), col("k").as("ku")), Seq("u"))
      .join(k.select(col("x").as("v"), col("k").as("kv")), Seq("v"))
      .select(
        when(col("ku") < col("kv"), col("u")).otherwise(col("v")).as("f"),
        when(col("ku") < col("kv"), col("v")).otherwise(col("u")).as("t"),
        when(col("ku") < col("kv"), col("kv")).otherwise(col("ku")).as("kt"))
      .localCheckpoint(true)
    val wedges = oriented.select(col("f"), col("t").as("b"), col("kt").as("kb"))
      .join(oriented.select(col("f"), col("t").as("c"), col("kt").as("kc")),
        Seq("f"))
      .where(col("kb") < col("kc"))
    val tri = wedges
      .join(oriented.select(col("f").as("b"), col("t").as("c")), Seq("b", "c"))
      .select(col("f").as("a"), col("b"), col("c"))
    val perNode = tri
      .select(explode(array(col("a"), col("b"), col("c"))).as("x"))
      .groupBy("x").agg(count(lit(1)).as("n_tri"))
    nodes.select(col("doc_id"))
      .join(deg.withColumnRenamed("x", "doc_id"), Seq("doc_id"), "left")
      .join(perNode.withColumnRenamed("x", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("deg"), lit(0L)).as("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"))
      .withColumn("cc_ppm",
        when(col("deg") >= 2L,
          expr("(2 * n_tri * 1000000L) DIV (deg * (deg - 1))"))
          .otherwise(0L))
  }

  /** Page→host graph collapse — the standard webgraph product (the
    * Common-Crawl host-level graph is exactly this over the page-level
    * one): page links joined to their endpoint hosts, intra-host links
    * dropped, one weighted edge per host pair with the raw link count
    * and the distinct-source-page count.
    *
    * Scale shape: two id equi-joins (the page→host map is itself
    * 100 TB-scale, so no broadcast — plain shuffle joins) and one
    * groupBy with map-side partial aggregation absorbing hot host
    * pairs. Nothing is per-host serialized.
    */
  def hostGraph(docs: DataFrame, edges: DataFrame): DataFrame = {
    val hosts = docs.select(col("doc_id"), col("source").as("host"))
    edges
      .join(hosts.select(col("doc_id").as("src"), col("host").as("src_host")),
        Seq("src"))
      .join(hosts.select(col("doc_id").as("dst"), col("host").as("dst_host")),
        Seq("dst"))
      .where(col("src_host") =!= col("dst_host"))
      .groupBy("src_host", "dst_host")
      .agg(count(lit(1)).as("n_links"),
        countDistinct(col("src")).as("n_src_pages"))
  }

  /** HyperBall (Boldi–Vigna, "In-Core Computation of Geometric
    * Centralities with HyperBall", 2013) — the neighbourhood-function
    * sketch that ranks hosts by harmonic centrality at Common-Crawl
    * scale, where exact per-node balls are impossible (a hub's ball is
    * half the graph). Each node carries an m-register HyperLogLog of
    * its out-ball; one round merges every out-neighbour's counter
    * (elementwise max) into the node's own — after r rounds register
    * state describes B(v, r) exactly as HLL(ball members).
    *
    * Everything the gate compares is EXACT INTEGER: md5h63 element
    * hashes, register index `h % m`, rank ρ = 60 − bitlen(h div m)
    * (60 for the zero tail), and the output packs the registers
    * 6 bits each into two BIGINTs plus the zero-register count and
    * register sum. The float cardinality estimate α·m²/Σ2^−M is a
    * trivial driver-side epilogue deliberately kept OUT of the
    * cross-engine gate (it adds no information the registers don't
    * carry).
    *
    * Scale shape per round: one dst-keyed equi-join (counters onto
    * edges), one (nid, j) partial-agg max — O(E·m) shuffle rows with
    * map-side combine, the canonical distributed HyperBall round; the
    * counter frame is localCheckpointed so rounds don't re-derive.
    */
  /** JVM twin of [[graft.dedup.Dedup.md5h63]] (same MD5 bytes, same
    * (h32 & 0x7FFFFFFF)·2³² + h32b packing) for the local replay path. */
  private def md5h63Local(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    def u32(off: Int): Long =
      ((d(off) & 0xFFL) << 24) | ((d(off + 1) & 0xFFL) << 16) |
        ((d(off + 2) & 0xFFL) << 8) | (d(off + 3) & 0xFFL)
    (u32(0) & 0x7FFFFFFFL) * 4294967296L + u32(4)
  }

  def hyperBallRegisters(
      nodes: DataFrame, edges: DataFrame,
      m: Int = 16, rounds: Int = 2,
      localMaxEdges: Long = LocalMaxEdges): DataFrame = {
    require(m >= 2 && m % 2 == 0, s"m must be even and >= 2; got $m")
    val spark = nodes.sparkSession
    import spark.implicits._
    taggedLocal(nodes, edges, localMaxEdges).foreach { tagged =>
      return tagged.mapPartitions { it =>
        val (ns, es) = drainTagged(it)
        var state = mutable.HashMap.empty[Long, Array[Int]]
        ns.foreach { x =>
          val h = md5h63Local(x.toString)
          val j = math.floorMod(h, m.toLong).toInt
          val w = h / m
          val rho =
            if (w == 0L) 60
            else 60 - (64 - java.lang.Long.numberOfLeadingZeros(w))
          val regs = new Array[Int](m)
          regs(j) = rho
          state(x) = regs
        }
        for (_ <- 1 to rounds) {
          // newState = groupBy-max over (own regs ∪ each out-neighbour's
          // regs) — the exact distributed round, including srcs outside
          // `nodes` gaining a state row once a dst of theirs has one
          val next = mutable.HashMap.empty[Long, Array[Int]]
          def mergeInto(x: Long, r: Array[Int]): Unit = next.get(x) match {
            case Some(cur) =>
              var i = 0
              while (i < m) { if (r(i) > cur(i)) cur(i) = r(i); i += 1 }
            case None => next(x) = r.clone()
          }
          state.foreach { case (x, r) => mergeInto(x, r) }
          es.foreach { case (s0, d0) =>
            state.get(d0).foreach(r => mergeInto(s0, r))
          }
          state = next
        }
        state.iterator.map { case (x, regs) =>
          var lo = 0L
          var hi = 0L
          var zeros = 0L
          var sum = 0L
          var i = 0
          while (i < m) {
            if (i < m / 2) lo += regs(i).toLong << (6 * i)
            else hi += regs(i).toLong << (6 * (i - m / 2))
            if (regs(i) == 0) zeros += 1L
            sum += regs(i)
            i += 1
          }
          (x, lo, hi, zeros, sum)
        }
      }.toDF("doc_id", "regs_lo", "regs_hi", "v_zero", "sum_m")
    }
    val init = nodes
      .select(col("doc_id").as("nid"),
        graft.dedup.Dedup.md5h63(col("doc_id").cast("string")).as("h"))
      .select(col("nid"),
        pmod(col("h"), lit(m.toLong)).cast("int").as("j"),
        expr(s"h DIV ${m}L").as("w"))
      .select(col("nid"), col("j"),
        when(col("w") === 0L, lit(60))
          .otherwise(lit(60) - length(bin(col("w")))).cast("int").as("rho"))
      .select(col("nid"), expr(
        s"transform(sequence(0, ${m - 1}), i -> IF(i = j, rho, 0))")
        .as("regs"))
    val gen = new graft.runtime.CheckpointGen
    var state = gen.rotate(init)
    for (_ <- 1 to rounds) {
      val nbr = edges
        .join(state.withColumnRenamed("nid", "dst"), Seq("dst"))
        .select(col("src").as("nid"), col("regs"))
      state = gen.rotate(nbr
        .unionByName(state.select(col("nid"), col("regs")))
        .select(col("nid"), posexplode(col("regs")).as(Seq("j", "mj")))
        .groupBy("nid", "j").agg(max("mj").as("mj"))
        .groupBy("nid")
        .agg(sort_array(collect_list(struct(col("j"), col("mj")))).as("rs"))
        .select(col("nid"),
          transform(col("rs"), x => x.getField("mj")).as("regs")))
    }
    val lo = (0 until m / 2).map(i =>
      element_at(col("regs"), i + 1).cast("long") * lit(1L << (6 * i)))
      .reduce(_ + _)
    val hi = (m / 2 until m).map(i =>
      element_at(col("regs"), i + 1).cast("long") *
        lit(1L << (6 * (i - m / 2)))).reduce(_ + _)
    state.select(col("nid").as("doc_id"),
      lo.as("regs_lo"), hi.as("regs_hi"),
      expr("CAST(size(filter(regs, x -> x = 0)) AS BIGINT)").as("v_zero"),
      expr("CAST(aggregate(regs, 0, (a, x) -> a + x) AS BIGINT)").as("sum_m"))
  }

  /** `iters` exact-integer PageRank rounds; returns (doc_id, rank_ppb). */
  def pagerank(
      nodes: DataFrame, edges: DataFrame, n: Long, iters: Int = 5): DataFrame = {
    val tele = 150000000L / n
    val init = 1000000000L / n
    val e = edges.join(
      edges.groupBy("src").agg(count(lit(1)).as("outdeg")), Seq("src"))
    var r = nodes.select(col("doc_id"), lit(init).as("r"))
    for (_ <- 1 to iters) {
      val c = e.join(r.withColumnRenamed("doc_id", "src"), Seq("src"))
        .select(col("dst"), expr("r div outdeg").as("c"))
        .groupBy("dst").agg(sum("c").as("s"))
      r = nodes.join(c.withColumnRenamed("dst", "doc_id"), Seq("doc_id"), "left")
        .select(col("doc_id"),
          (lit(tele) + expr("(85 * coalesce(s, 0L)) div 100")).as("r"))
    }
    r.select(col("doc_id"), col("r").as("rank_ppb"))
  }
}
