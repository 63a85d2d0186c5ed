package graft.graph

import scala.collection.mutable
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed degree-2 chain contraction — the scale path for the
  * per-component operators whose local stage otherwise materializes a
  * whole component in one task (SURVEY §7.5.4; the round-3 percolated-run
  * cliff). Contracts every maximal run of chain nodes into one edge
  * carrying the interior node path, so a downstream `flatMapGroups` holds
  * O(pillar graph) instead of O(component) — on chain-dominated river
  * topology a 10-30× task-memory reduction with identical graph metric
  * structure.
  *
  * Every contraction runs one step, [[chains]]: a degree census, the
  * caller's chain predicate over it, edges classified by their endpoints'
  * chain flags, chain ids from the large/small-star CC over chain-chain
  * edges ("Finding connected components in map-reduce in logarithmic
  * rounds", ICDE 2013; PAPERS.md) under the guarded [[packedKey]], and
  * every chain-incident edge routed to its chain id. Its callers differ
  * only in the predicate and in what they do per chain:
  *   - [[contract]]: undirected, degree 2 minus a keep set;
  *   - [[contractDirected]]: in-degree 1 and out-degree 1, the D16 walk;
  *   - `GraphBuild.compressedNumNodes`: the `num_nodes` closed form.
  *
  * SEMANTICS vs [[Local.compress]] (the reference's merge-order form,
  * undirected_graph.rs:640-716): `Local.compress` skips a merge that
  * would duplicate an existing edge or close a self loop, leaving
  * merge-order-dependent partial chains on diamonds/cycles; [[contract]]
  * is the METRIC-PRESERVING variant — it always contracts the full run
  * and emits a multigraph row per chain (parallel chains between one
  * pillar pair stay two rows; a cycle through one pillar becomes a
  * self-loop row). Shortest-path structure is identical; only consumers
  * that need the reference's exact contracted-edge SET (P8 betweenness σ
  * counts) must keep the local form. On trees and chain forests — no
  * duplicate/self-loop skips possible — the two forms emit the exact same
  * canonical edge set (DistContractSpec pins it).
  *
  * Every step is a deterministic function of the deduplicated edge set
  * (CC labels are min-key; walks orient from the least endpoint), so the
  * output is bit-identical at any parallelism (spec-pinned).
  *
  * Shapes at scale: census and classification are map-combinable
  * groupBys and joins keyed by (comp, nid); the chain CC sees chain-chain
  * edges only; the per-chain walk groups by chain id — task memory is
  * O(longest chain), loudly guarded, not O(component).
  */
object DistContract {

  /** Width of the nid part of a [[packedKey]]; the group index takes the
    * 23 bits above it (OSM ids fit 40 bits for the foreseeable future). */
  private[graft] val NidBits = 40
  private[graft] val NidMask = (1L << NidBits) - 1

  /** The one composite (group, nid) node key of every grouped CC:
    * `gidx << 40 | nid`, so equal nids in different groups never merge
    * (SURVEY C1: a node sits in different components per group). Loud on
    * a group index outside [0, 2^23) — it would shift into the sign bit —
    * and on a nid outside [0, 2^40) — it would spill into the group bits;
    * either would silently merge or corrupt components.
    */
  private[graft] def packedKey(gidx: Column, nid: Column, what: String): Column = {
    def inRange(c: Column, bits: Int, name: String) =
      when(c.between(0L, (1L << bits) - 1), c).otherwise(raise_error(concat(
        lit(s"$what: $name outside the $bits-bit range of the packed (group, nid) key: "),
        c.cast("string"))))
    shiftleft(inRange(gidx, 63 - NidBits, "group index"), NidBits)
      .bitwiseOR(inRange(nid, NidBits, "nid"))
  }

  /** [[chains]]' output.
    * @param census (comp, nid, chain) per edge endpoint, before `keep`
    * @param pillar (comp, a, b, attrs…) edges with no chain endpoint
    * @param routed (comp, chain, a, b, attrs…, ac, bc) every edge with a
    *               chain endpoint (`ac`/`bc`), keyed by its chain's id
    */
  private[graph] final case class Chains(
      census: DataFrame, pillar: DataFrame, routed: DataFrame)

  /** The census → classify → chain-label → route step of every chain
    * contraction.
    *
    * @param edges   (comp, a, b, attrs…) in the caller's orientation
    *                (undirected callers canonicalize a <= b); duplicate
    *                (comp, a, b) rows collapse first-wins
    * @param isChain the caller's census predicate over `ind` / `outd`,
    *                the counts of edges ending / starting at the node; a
    *                node carrying a self loop is never a chain node
    * @param keep    (comp, nid) nodes that stay pillars regardless
    * @param assumeDistinct the caller holds `edges` distinct on (comp, a,
    *                b) and materialized: skip the dedup and its checkpoint
    * @param compsOpt a caller-held distinct comp frame for the dense group
    *                index, instead of a comp-distinct shuffle
    */
  private[graph] def chains(
      edges: DataFrame, isChain: Column, what: String,
      keep: Option[DataFrame] = None,
      assumeDistinct: Boolean = false,
      compsOpt: Option[DataFrame] = None): Chains = {
    val e = if (assumeDistinct) edges
      else edges.dropDuplicates("comp", "a", "b").localCheckpoint(true)
    val self = col("a") === col("b")
    val census = e.select(col("comp"), col("b").as("nid"),
        lit(1L).as("i"), lit(0L).as("o"), self.as("s"))
      .unionAll(e.select(col("comp"), col("a").as("nid"),
        lit(0L).as("i"), lit(1L).as("o"), self.as("s")))
      .groupBy("comp", "nid")
      .agg(sum("i").as("ind"), sum("o").as("outd"), max("s").as("self"))
      .select(col("comp"), col("nid"), (isChain && !col("self")).as("chain"))
    val candidates = census.filter(col("chain")).select("comp", "nid")
    val chainNodes = keep
      .fold(candidates)(k =>
        candidates.join(k.select("comp", "nid"), Seq("comp", "nid"), "left_anti"))
      .localCheckpoint(true)

    val attrs = e.columns.filterNot(Set("comp", "a", "b")).toSeq
    def flag(end: String, f: String) =
      chainNodes.select(col("comp"), col("nid").as(end), lit(true).as(f))
    val classified = e
      .join(flag("a", "a_chain"), Seq("comp", "a"), "left")
      .join(flag("b", "b_chain"), Seq("comp", "b"), "left")
      .select((Seq("comp", "a", "b") ++ attrs).map(col) ++ Seq(
        coalesce(col("a_chain"), lit(false)).as("ac"),
        coalesce(col("b_chain"), lit(false)).as("bc")): _*)
      .localCheckpoint(true)

    // chain id = min packed key over chain-chain edges; a chain node with
    // no chain neighbour labels itself. The key is COMP-AWARE: one nid can
    // be a chain node in several groups (the LumpWays C1 situation)
    val compIdx = graft.runtime.Ranks.tinyDenseId(
      compsOpt.map(_.select("comp")).getOrElse(e.select("comp").distinct()),
      Seq(col("comp")), "gidx")
    def packed(nid: Column) = packedKey(col("gidx"), nid, what)
    val cc = classified.filter(col("ac") && col("bc"))
      .join(compIdx, Seq("comp"))
      .select(packed(col("a")).as("src"), packed(col("b")).as("dst"))
    val chainNodesP = chainNodes.join(compIdx, Seq("comp"))
      .select(col("comp"), col("nid"), packed(col("nid")).as("cnid"))
    val chainId =
      if (cc.isEmpty) chainNodesP.select(col("comp"), col("nid"), col("cnid").as("chain"))
      // cc derives from the deduplicated intake: the packed pairs are
      // already distinct
      else chainNodesP
        .join(ConnectedComponents.run(cc, assumeDistinct = true).labels
          .select(col("nid").as("cnid"), col("comp").as("chain")), Seq("cnid"), "left")
        .select(col("comp"), col("nid"), coalesce(col("chain"), col("cnid")).as("chain"))

    // an edge goes to the chain of its first chain endpoint: a chain-chain
    // edge to ONE group, since both endpoints share it
    val routed = classified.filter(col("ac") || col("bc"))
      .withColumn("nid", when(col("ac"), col("a")).otherwise(col("b")))
      .join(chainId, Seq("comp", "nid"))
      .select((Seq("comp", "chain", "a", "b") ++ attrs ++ Seq("ac", "bc")).map(col): _*)
    Chains(census,
      classified.filter(!col("ac") && !col("bc")).drop("ac", "bc"), routed)
  }

  /** @param edges (comp, src, dst) undirected; duplicates and self loops
    *              tolerated (canonical-deduped exactly like
    *              Local.compress's first-wins intake); nids must fit
    *              40 bits ([[packedKey]] — loudly checked)
    * @param keep  (comp, nid) vertexes that must survive contraction
    *              (hull points, betweenness samples, user pins)
    * @param assumeCanonical the caller already holds this edge set
    *              canonical (src<=dst), distinct and materialized
    *              (betweennessGrouped derives exactly that frame for its
    *              size gate): skip the dedup and its checkpoint
    * @param compsOpt a caller-held distinct comp frame (the size gate's
    *              output) for [[chains]]' dense group index
    * @return (comp, src, dst, inter: array<long>) — src<=dst, inter
    *         oriented src→dst; self-loop rows have src==dst with inter
    *         oriented from the least adjacent interior node; input self
    *         loops pass through with empty inter
    */
  def contract(
      edges: DataFrame, keep: DataFrame, spark: SparkSession,
      what: String = "DistContract chain",
      assumeCanonical: Boolean = false,
      compsOpt: Option[DataFrame] = None): DataFrame = {
    import spark.implicits._
    val c = chains(
      edges.select(col("comp").cast("long"),
        least(col("src"), col("dst")).cast("long").as("a"),
        greatest(col("src"), col("dst")).cast("long").as("b")),
      // Local.compress's census: a self loop counts twice, so only its
      // node can sit at degree 2 through it — and that node stays a pillar
      col("ind") + col("outd") === 2, what, Some(keep), assumeCanonical, compsOpt)

    val chainRows = c.routed
      .select("comp", "chain", "a", "b", "ac", "bc")
      .as[(Long, Long, Long, Long, Boolean, Boolean)]
      .groupByKey(_._2)
      .flatMapGroups { (chain, rows0) =>
        val rows = Local.boundedSeq(rows0, s"$what (chain $chain)")
        val comp = rows.head._1
        // adjacency over this chain's nodes; attachments = (pillar, node)
        val adj = mutable.HashMap.empty[Long, mutable.ArrayBuffer[Long]]
        val attach = mutable.ArrayBuffer.empty[(Long, Long)]
        rows.foreach { case (_, _, a, b, ac, bc) =>
          if (ac && bc) {
            adj.getOrElseUpdate(a, mutable.ArrayBuffer.empty) += b
            adj.getOrElseUpdate(b, mutable.ArrayBuffer.empty) += a
          } else if (ac) attach += ((b, a))
          else attach += ((a, b))
        }
        // walk from `first` (with `from` behind us) until a dead end or
        // until stepping onto `stopAt` (cycle closure, excluded)
        def walk(from: Long, first: Long, stopAt: Long): Seq[Long] = {
          val out = mutable.ArrayBuffer(first)
          var prev = from
          var cur = first
          var next = adj.getOrElse(cur, mutable.ArrayBuffer.empty[Long])
            .filter(n => n != prev && n != stopAt)
          while (next.nonEmpty) {
            prev = cur
            cur = next.head
            out += cur
            next = adj(cur).filter(n => n != prev && n != stopAt)
          }
          out.toSeq
        }
        attach.sortBy(identity).toList match {
          case (p1, c1) :: (p2, _) :: Nil =>
            // path chain pillar→…→pillar: orient from the least
            // (pillar, entry) attachment — p1 <= p2 after the sort, so
            // the row is already canonical (src<=dst, inter src→dst)
            Iterator.single((comp, p1, p2, walk(p1, c1, Long.MinValue)))
          case Nil =>
            // pure cycle of chain nodes: break at the least node, walk
            // towards its least neighbour, stop before closing the loop
            val m = adj.keys.min
            Iterator.single((comp, m, m, walk(m, adj(m).min, m)))
          case other =>
            throw new IllegalStateException(
              s"$what $chain: ${other.length} pillar attachments on a " +
                "degree-2 chain — impossible unless the degree census " +
                "and edge classification disagree")
        }
      }
      .toDF("comp", "src", "dst", "inter")

    // pillar-pillar edges, input self loops among them, pass through
    c.pillar.select(col("comp"), col("a").as("src"), col("b").as("dst"),
        array().cast("array<long>").as("inter"))
      .unionByName(chainRows)
  }

  /** DIRECTED chain contraction — the D16 scale path. Contracts every
    * maximal run of vertexes with in-degree 1 AND out-degree 1 (within
    * their group) into one macro edge carrying the interior node path, the
    * chain length (summed src→dst, the same op order as the single-task
    * walk), and the attributes of the chain's FINAL constituent edge —
    * `last_flow` / `last_src` — which are exactly what the D16
    * grouped-waterways line walk (down/main.rs:1964-2004; our port in
    * [[WaterwayFeatures.groupedWaterwayFeatures]]) consults when it picks
    * an in-edge at a junction: interior chain nodes have exactly one
    * in-edge, so the walk makes decisions ONLY at pillar vertexes, and a
    * replay over the contracted multigraph visits constituent edges in
    * the identical order (D16AtScaleSpec pins byte parity against the
    * single-task port).
    *
    * Self-loop edges pass through as macro edges; vertexes carrying a
    * self loop are never contracted. Directed pure cycles (every node
    * in/out-degree 1, no pillar attachment) come out as `is_cycle` rows
    * `src == dst == least node` — they are unreachable for the line walk
    * and expand into the reference's per-edge fallback lines.
    *
    * @param edges (g, src, dst, len, flow) directed; (g, src, dst)
    *              duplicates collapse first-wins like the local walk's
    *              map intake; nids must fit 40 bits ([[packedKey]])
    * @return (g, src, dst, inter: array<long> oriented src→dst,
    *         len, last_flow, last_src, n_edges, is_cycle)
    */
  def contractDirected(
      edges: DataFrame, spark: SparkSession,
      what: String = "DistContract directed chain"): DataFrame = {
    import spark.implicits._
    val c = chains(
      edges.select(col("g").cast("long").as("comp"),
        col("src").cast("long").as("a"), col("dst").cast("long").as("b"),
        col("len").cast("double"), col("flow").cast("double")),
      col("ind") === 1 && col("outd") === 1, what)

    val chainRows = c.routed
      .select("chain", "comp", "a", "b", "len", "flow", "ac", "bc")
      .as[(Long, Long, Long, Long, Double, Double, Boolean, Boolean)]
      .groupByKey(_._1)
      .flatMapGroups { (chain, it) =>
        val rows = Local.boundedSeq(it, s"$what (chain $chain)")
        val g = rows.head._2
        // out-edge per chain node (out-degree exactly 1 by construction)
        val nextE = mutable.HashMap.empty[Long, (Long, Double, Double, Boolean)]
        val entries = mutable.ArrayBuffer.empty[(Long, Long, Double, Double)]
        rows.foreach { case (_, _, s, d, l, f, isSc, isDc) =>
          if (isSc) nextE(s) = (d, l, f, isDc)
          else entries += ((s, d, l, f)) // pillar → first chain node
        }
        if (entries.length > 1)
          throw new IllegalStateException(
            s"$what $chain: ${entries.length} entry edges into one " +
              "directed chain — census and classification disagree")
        entries.headOption match {
          case Some((p0, c0, l0, _)) =>
            // path (or cycle through one pillar): walk src→dst
            val inter = mutable.ArrayBuffer(c0)
            var lenSum = l0
            var cur = c0
            var res: Option[(Long, Long, Long, Seq[Long], Double, Double, Long, Long, Boolean)] =
              None
            while (res.isEmpty) {
              val (d, l, f, dIsChain) = nextE.getOrElse(cur,
                throw new IllegalStateException(
                  s"$what $chain: chain node $cur has no out-edge"))
              lenSum += l
              if (dIsChain) { inter += d; cur = d }
              else res = Some((g, p0, d, inter.toSeq, lenSum,
                f, cur, inter.length + 1L, false))
            }
            res.iterator
          case None =>
            // directed pure cycle: orient from the least node
            val m = nextE.keys.min
            val inter = mutable.ArrayBuffer.empty[Long]
            val (d0, l0, f0, _) = nextE(m)
            var cur = d0
            var lenSum = l0
            var lastF = f0
            var lastS = m
            while (cur != m) {
              inter += cur
              val (d, l, f, _) = nextE(cur)
              lenSum += l
              lastF = f
              lastS = cur
              cur = d
            }
            Iterator.single((g, m, m, inter.toSeq, lenSum, lastF, lastS,
              inter.length + 1L, true))
        }
      }
      .toDF("g", "src", "dst", "inter", "len", "last_flow", "last_src",
        "n_edges", "is_cycle")

    // pillar-pillar edges pass through one-to-one
    c.pillar.select(col("comp").as("g"), col("a").as("src"), col("b").as("dst"),
        array().cast("array<long>").as("inter"), col("len"),
        col("flow").as("last_flow"), col("a").as("last_src"),
        lit(1L).as("n_edges"), lit(false).as("is_cycle"))
      .unionByName(chainRows)
  }

  /** Turn [[contract]]'s metric-preserving MULTIGRAPH into a SIMPLE
    * graph by re-expanding interior vertexes of the conflicting chains —
    * the P8 betweenness scale path's step-1 shape (Extras scaladoc).
    *
    * Per canonical (comp, src, dst) row group, ordered by
    * (|inter|, inter): the first row keeps its full contraction; every
    * further parallel chain splits at its MIDDLE interior vertex into two
    * edges, and a cycle row (src==dst from a pure chain cycle) splits at
    * two interior vertexes into three arcs. This is exactly the shape a
    * [[Local.compress]] merge order produces when a merge would duplicate
    * an edge or close a self loop (undirected_graph.rs:677-699 skips
    * those merges, leaving one un-merged vertex per conflicting chain; a
    * pure cycle bottoms out as a triangle) — i.e. one REALIZABLE merge
    * order of the reference's order-dependent contraction, fixed
    * deterministically at the chain midpoint. On trees and chain forests
    * there are no conflicts and this is the identity. Input self loops
    * (empty inter) pass through; interior vertexes belong to exactly one
    * chain, so splits can never introduce a new conflict.
    */
  def simplify(contracted: DataFrame, spark: SparkSession): DataFrame = {
    import spark.implicits._
    def canon(a: Long, b: Long, inter: Seq[Long]): (Long, Long, Seq[Long]) =
      if (a <= b) (a, b, inter) else (b, a, inter.reverse)
    contracted
      .select(col("comp").cast("long"), col("src").cast("long"),
        col("dst").cast("long"), col("inter").cast("array<long>"))
      .as[(Long, Long, Long, Seq[Long])]
      .groupByKey(r => (r._1, r._2, r._3))
      .flatMapGroups { (key: (Long, Long, Long), rows0: Iterator[(Long, Long, Long, Seq[Long])]) =>
        val (comp, src, dst) = key
        // loud guard: a braided pair with MANY huge parallel chains would
        // otherwise OOM this task silently (repo task-memory contract)
        val rows = Local.boundedSeq(rows0.map(_._4),
            s"DistContract.simplify (pair $comp:$src-$dst)")
          .sortBy(iv => (iv.length, iv))(
          Ordering.Tuple2(Ordering.Int, Ordering.Implicits.seqOrdering[Seq, Long]))
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Seq[Long])]
        if (src != dst) {
          out += ((comp, src, dst, rows.head))
          rows.tail.foreach { inter =>
            // a parallel chain always has interiors (exact duplicates were
            // canonical-deduped in contract; only one row per pair can be
            // the direct pillar-pillar edge, and it sorted first)
            val m = (inter.length - 1) / 2
            val (a1, b1, i1) = canon(src, inter(m), inter.slice(0, m))
            val (a2, b2, i2) = canon(inter(m), dst, inter.slice(m + 1, inter.length))
            out += ((comp, a1, b1, i1))
            out += ((comp, a2, b2, i2))
          }
        } else rows.foreach { inter =>
          if (inter.isEmpty) out += ((comp, src, dst, inter)) // input self loop
          else {
            // pure chain cycle: |inter| >= 2 (a 2-cycle would have been a
            // parallel pair deduped in contract) → three arcs
            val k = inter.length
            val j1 = k / 3
            val j2 = math.max(j1 + 1, (2 * k) / 3)
            val (a1, b1, i1) = canon(src, inter(j1), inter.slice(0, j1))
            val (a2, b2, i2) = canon(inter(j1), inter(j2), inter.slice(j1 + 1, j2))
            val (a3, b3, i3) = canon(inter(j2), dst, inter.slice(j2 + 1, k))
            out += ((comp, a1, b1, i1))
            out += ((comp, a2, b2, i2))
            out += ((comp, a3, b3, i3))
          }
        }
        out.iterator
      }
      .toDF("comp", "src", "dst", "inter")
  }
}
