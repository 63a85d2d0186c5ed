package graft.graph

import graft.model.Edge
import graft.runtime.CheckpointGen
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** A contracted edge tagged with its tag-group id (SURVEY C1: each group
  * tuple is an independent graph).
  */
final case class KeyedEdge(gid: Long, src: Long, dst: Long, inter: Seq[Long], wid: Long)

/** Internal: a pending duplicate edge; `taken` = its key already exists
  * in the accepted set, so every member is a loser.
  */
private[graph] final case class PendingEdge(
    gid: Long, src: Long, dst: Long, inter: Seq[Long], wid: Long, taken: Boolean)

/** Way → contracted edge extraction (SURVEY.md §2.1 S1 + §2.3 G1/G2).
  *
  * Reference: degree census at
  * /root/reference/src/bin/osm-lump-ways/main.rs:256-299, segmentation at
  * main.rs:352-378 (+ consecutive-duplicate dedup in the directed variant,
  * /root/reference/src/bin/osm-lump-ways-down/main.rs:385-393).
  *
  * Scale shape: one explode + one shuffle-join on nid + one regroup by wid.
  * The pillar set (degree ≠ 2 nodes, ~5 % of all nodes) is never collected;
  * it flows through the join. Contraction happens *before* the CC shuffle —
  * the single most important data reduction of the whole pipeline.
  */
object GraphBuild {

  /** S1 — per-node "vertex degree", saturating at 255 (reference uses a
    * saturating u8). The reference's exact (asymmetric!) formula
    * (main.rs:275-280, down/main.rs:1293-1301): first node +1, last node
    * +1, and *every position except 0* (including the last) +2 — so a
    * way's last node always weighs 3 and is always a pillar.
    * Input: ways(wid, nids). Output: (nid, degree).
    */
  def degreeCensus(ways: DataFrame): DataFrame = {
    ways
      .select(posexplode(col("nids")).as(Seq("pos", "nid")),
        size(col("nids")).as("n"))
      .select(col("nid"),
        (when(col("pos") === 0, 1).otherwise(2) +
          when(col("pos") === col("n") - 1, 1).otherwise(0)).as("w"))
      .groupBy("nid")
      .agg(least(sum(col("w")), lit(255L)).as("degree"))
  }

  /** Pure segmentation of one way's node list given the pillar predicate:
    * cut at pillar nodes and way ends, contracting interior nodes into
    * `inter`. Consecutive duplicate nodes are dropped first
    * (down/main.rs:385-393); self-loop segments are skipped.
    */
  def segmentNids(wid: Long, nids: IndexedSeq[Long], isPillar: Long => Boolean): Seq[Edge] = {
    val dedup = new scala.collection.mutable.ArrayBuffer[Long](nids.length)
    nids.foreach { n => if (dedup.isEmpty || dedup.last != n) dedup += n }
    if (dedup.length < 2) return Nil
    val out = scala.collection.mutable.ArrayBuffer.empty[Edge]
    var start = 0
    var i = 1
    while (i < dedup.length) {
      if (i == dedup.length - 1 || isPillar(dedup(i))) {
        val src = dedup(start)
        val dst = dedup(i)
        if (src != dst) {
          out += Edge(src, dst, dedup.slice(start + 1, i).toSeq, wid)
        }
        start = i
      }
      i += 1
    }
    out.toSeq
  }

  /** G1 — contracted edge extraction over a ways DataFrame.
    *
    * Plan: explode(nids) → join degree census on nid (sort-merge; the
    * census is ~#nodes rows, not broadcastable at planet scale) → regroup
    * by wid in nid order → segment. Returns one row per contracted
    * segment with the interior chain inline (replaces InterStore,
    * /root/reference/src/inter_store.rs).
    */
  def contractedEdges(ways: DataFrame, spark: SparkSession): Dataset[Edge] = {
    import spark.implicits._
    contractedEdgesKeyed(ways.withColumn("gid", lit(0L)), spark)
      .map(e => Edge(e.src, e.dst, e.inter, e.wid))
  }

  /** G1 with group keys: ways carry a `gid` column; the census (pillar
    * set) is global (reference pass 1 runs before grouping) but each
    * emitted edge keeps its way's group.
    */
  def contractedEdgesKeyed(ways: DataFrame, spark: SparkSession): Dataset[KeyedEdge] = {
    import spark.implicits._
    // Join only the PILLAR set (degree != 2, ~5 % of nodes — the
    // reference's SortedSliceSet reduction, down/main.rs:1319-1322, as a
    // join), and regroup only the pillar HITS per way (a few per way)
    // instead of round-tripping every node through a shuffle: the way's
    // full nid array never leaves its row.
    val pillars = degreeCensus(ways)
      .filter(col("degree") =!= 2L)
      .select(col("nid"))
    val hits = ways
      .select(col("wid"), explode(col("nids")).as("nid"))
      .join(pillars, Seq("nid"))
      .groupBy("wid")
      .agg(collect_set(col("nid")).as("pnids"))
    ways
      .join(hits, Seq("wid"), "left")
      .select(col("wid"), col("gid"), col("nids"),
        coalesce(col("pnids"), array()).as("pnids"))
      .as[(Long, Long, Seq[Long], Seq[Long])]
      .flatMap { case (wid, gid, nids, pnids) =>
        val pillarSet = pnids.toSet
        segmentNids(wid, nids.toIndexedSeq, pillarSet.contains)
          .map(e => KeyedEdge(gid, e.src, e.dst, e.inter, e.wid))
      }
  }

  /** G2 — canonical undirected edge set: `src < dst`, duplicates resolved
    * deterministically. The reference backs the segment boundary off one
    * node when a contracted edge already exists (parallel riverbanks,
    * main.rs:360-376) — globally order-dependent. Our deterministic
    * equivalent: per canonical (src,dst) group ordered by wid, the first
    * edge keeps the contraction; every later duplicate with interior
    * nodes is split at its last interior node — exactly what the
    * reference's single back-off produces — and empty duplicates are
    * dropped (the reference's `add_edge` no-op). One extra round resolves
    * splits that collide again; deeper pathological collisions (several
    * identical banks) fall back to fully expanding the duplicate.
    */
  def canonicalUndirected(edges: Dataset[Edge]): Dataset[Edge] = {
    val spark = edges.sparkSession
    import spark.implicits._
    canonicalUndirectedKeyed(
      edges.map(e => KeyedEdge(0L, e.src, e.dst, e.inter, e.wid)))
      .map(e => Edge(e.src, e.dst, e.inter, e.wid))
  }

  /** Keyed variant: deduplication is per group graph.
    *
    * Fast path first: one hash-aggregate finds the (rare) duplicate keys;
    * if there are none — the overwhelmingly common case — the input
    * passes through untouched. Only the tiny duplicate subset pays for
    * the back-off machinery (groupByKey + local winner/split), and only
    * its split edges re-check against the full set. No windows, no
    * full-set sorts.
    */
  def canonicalUndirectedKeyed(edges: Dataset[KeyedEdge]): Dataset[KeyedEdge] = {
    val spark = edges.sparkSession
    import spark.implicits._

    implicit val interOrd: Ordering[Seq[Long]] =
      Ordering.Implicits.seqOrdering[Seq, Long]

    val canon = edges.toDF()
      .selectExpr(
        "gid",
        "IF(src <= dst, src, dst) AS src",
        "IF(src <= dst, dst, src) AS dst",
        "IF(src <= dst, inter, reverse(inter)) AS inter",
        "wid")
      .localCheckpoint(true)

    val dupKeys = canon.groupBy("gid", "src", "dst")
      .agg(count(lit(1)).as("n")).filter(col("n") > 1)
      .select("gid", "src", "dst").localCheckpoint(true)

    if (dupKeys.isEmpty) return canon.as[KeyedEdge]

    // one generation of each loop frame stays resident
    val (uniqGen, pendingGen, resolvedGen) =
      (new CheckpointGen, new CheckpointGen, new CheckpointGen)
    var uniq = uniqGen.rotate(
      canon.join(dupKeys, Seq("gid", "src", "dst"), "left_anti"))
    // pending: canonical-form edges not yet merged (all dup-key members)
    var pending = pendingGen.rotate(
      canon.join(dupKeys, Seq("gid", "src", "dst"), "left_semi")
        .withColumn("taken", lit(false))).as[PendingEdge]

    var round = 0
    while (!pending.isEmpty && round < 6) {
      // per canonical key: lowest (wid, inter) wins — unless the key is
      // already taken in the accepted set, in which case everyone loses.
      // Losers split at their last interior node (the reference's
      // back-off, main.rs:360-376); inter-less losers vanish (add_edge
      // no-op); round ≥ 2 falls back to full expansion.
      val r = round
      val resolved = pending
        .groupByKey(e => (e.gid, e.src, e.dst))
        .flatMapGroups { (_, it) =>
          val all = it.toSeq
          val sorted = all.sortBy(e => (e.wid, e.inter))
          val taken = all.exists(_.taken)
          val (winners, rest) =
            if (taken) (Nil, sorted) else (Seq(sorted.head), sorted.tail)
          val losers = rest.flatMap { e =>
            if (e.inter.isEmpty) Nil
            else if (r < 2) {
              val mid = e.inter.last
              Seq(
                KeyedEdge(e.gid, e.src, mid, e.inter.init, e.wid),
                KeyedEdge(e.gid, mid, e.dst, Nil, e.wid))
            } else {
              (e.src +: e.inter :+ e.dst).sliding(2).collect {
                case Seq(a, b) if a != b => KeyedEdge(e.gid, a, b, Nil, e.wid)
              }.toSeq
            }
          }
          winners.iterator.map(wn =>
            ("w", KeyedEdge(wn.gid, wn.src, wn.dst, wn.inter, wn.wid))) ++
            losers.iterator.map(l =>
              ("l", if (l.src <= l.dst) l
                else KeyedEdge(l.gid, l.dst, l.src, l.inter.reverse, l.wid)))
        }
      // ONE checkpoint of the groupByKey output per round: winners and
      // newEdges are filters over it — uncheckpointed, the back-off
      // shuffle re-ran once per consumer branch (4× per round)
      val resolvedC = resolvedGen.rotate(resolved.toDF())
        .as[(String, KeyedEdge)]
      val winners = resolvedC.filter(_._1 == "w").map(_._2).toDF()
      val newEdges = resolvedC.filter(_._1 == "l").map(_._2).toDF()

      // accepted-set update is built lazily against the round's winners
      // and checkpointed ONCE with the fresh clean edges folded in (the
      // two-checkpoint form materialized the union twice per round)
      val uniqW = uniq.union(winners)
      // split edges that collide (with uniq or each other) go back around
      val collideWithUniq = newEdges
        .join(uniqW, Seq("gid", "src", "dst"), "left_semi")
        .withColumn("taken", lit(true))
      val fresh = newEdges
        .join(uniqW, Seq("gid", "src", "dst"), "left_anti")
      val freshDupKeys = fresh.groupBy("gid", "src", "dst")
        .agg(count(lit(1)).as("n")).filter(col("n") > 1)
        .select("gid", "src", "dst")
      val freshClean = fresh.join(freshDupKeys, Seq("gid", "src", "dst"), "left_anti")
      val freshDups = fresh.join(freshDupKeys, Seq("gid", "src", "dst"), "left_semi")
        .withColumn("taken", lit(false))
      // pending first: both read the previous uniq, which uniq's rotation releases
      pending = pendingGen.rotate(collideWithUniq.union(freshDups)).as[PendingEdge]
      uniq = uniqGen.rotate(uniqW.union(freshClean))
      round += 1
    }
    val leftover = pending.count()
    if (leftover > 0) {
      // bounded give-up, loudly (no silent caps): these duplicates are
      // dropped like the reference's add_edge no-op
      System.err.println(
        s"[canonicalUndirected] dropping $leftover unresolvable duplicate edges after $round rounds")
    }
    uniq.as[KeyedEdge]
  }

  /** C9 at scale — the vertex count of each component AFTER local
    * degree-2 compression ([[Local.compress]]), computed DISTRIBUTED with
    * joins + aggregates + one interior-chain CC, no per-component
    * materialization. Closed form (the same one the q35 DuckDB oracle
    * validated row-exact against `Local.compress` over every sf0.01
    * component):
    *
    *   pillars (degree ≠ 2 in the contracted graph, or on a self loop)
    *   + per parallel-chain family (p, q): C − 1 + [direct edge exists]
    *     (one chain of the family fully compresses unless a direct edge
    *     blocks it; every other chain keeps exactly one survivor)
    *   + 2 per pillar loop (a chain attached twice to the same pillar)
    *   + 3 per pure-cycle component (compresses to a triangle)
    *
    * Used by the sharded geometry path, where the whole component never
    * fits one task so `Local.compress` cannot run.
    *
    * HYBRID: components at or below `localPerCompMax` edges run
    * `Local.compress` + distinct-vertex count in ONE shuffle
    * (groupByKey per comp) instead of the ~15-exchange closed form —
    * the values are identical by the closed form's own contract (it was
    * derived from, and is spec-pinned against, `Local.compress`;
    * DistPeelSpec). The default matches the shard threshold that routes
    * components here: in production only >2M-edge components reach this
    * function and keep the distributed form; the q119 gate (threshold 1)
    * routes fixture components, which localise.
    *
    * Per-task memory at the default: the local body holds ~0.6 KB of
    * heap per edge (boxed rows, edge map, adjacency sets). A 2M-edge
    * component (a 1000×1000 grid, no merges) needed 1.25 GB of heap; at
    * 1 GB it ran out (standalone JVM, JDK 17, G1). Size executor memory
    * at ~1.3 GB per concurrent task, or lower `localPerCompMax`.
    *
    * @param edges (comp, src, dst) canonical (deduplicated) undirected
    * @return (comp, num_nodes)
    */
  def compressedNumNodes(
      edges: DataFrame, localPerCompMax: Long = 2000000L): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val e0 = edges.select(
      col("comp"),
      least(col("src"), col("dst")).as("src"),
      greatest(col("src"), col("dst")).as("dst"))
      .localCheckpoint(true)
    val split = graft.runtime.Gate("compress-local", localPerCompMax)
      .split(e0, "comp")
    val localRes = split.small(e0)
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .mapGroups { (comp, rows) =>
        val es = Local.boundedSeq(rows, s"num_nodes (component $comp)")
        val compressed = Local.compress(
          es.map(e => (e._2, e._3, Seq.empty[Long])), _ => false)
        (comp, compressed.flatMap(e => Seq(e._1, e._2)).distinct.size.toLong)
      }
      .toDF("comp", "num_nodes")
    if (!split.anyBig) localRes
    else localRes.unionByName(compressedNumNodesDist(split.big(e0)))
  }

  /** The distributed closed form over pre-canonicalized (comp, src, dst)
    * edges — see [[compressedNumNodes]]. Pillars and chains come from
    * [[DistContract.chains]] (degree-2 nodes, no keep set); a chain's
    * attachments are its routed rows with exactly one chain endpoint.
    */
  private[graph] def compressedNumNodesDist(edges: DataFrame): DataFrame = {
    val c = DistContract.chains(
      edges.select(col("comp"), col("src").as("a"), col("dst").as("b")),
      col("ind") + col("outd") === 2, "num_nodes chain")
    val pillars = c.census.groupBy("comp")
      .agg(count(when(!col("chain"), 1)).as("p"))
    val pillarEnd = when(col("ac") =!= col("bc"),
      when(col("ac"), col("b")).otherwise(col("a")))
    val att = c.routed.groupBy("comp", "chain").agg(
      count(pillarEnd).as("natt"), min(pillarEnd).as("p1"), max(pillarEnd).as("p2"))
    // a pillar-pillar edge blocks the full compression of one chain of
    // its family
    val direct = c.pillar
      .select(col("comp"), col("a").as("p1"), col("b").as("p2"), lit(1L).as("hasDirect"))
    val extras = att.filter(col("natt") === 2 && col("p1") =!= col("p2"))
      .groupBy("comp", "p1", "p2").agg(count(lit(1)).as("c"))
      .join(direct, Seq("comp", "p1", "p2"), "left")
      .select(col("comp"),
        (col("c") - 1 + coalesce(col("hasDirect"), lit(0L))).as("surv"))
      .unionByName(att.filter(col("natt") === 0 || col("p1") === col("p2"))
        .select(col("comp"), when(col("natt") === 0, 3L).otherwise(2L).as("surv")))
      .groupBy("comp").agg(sum("surv").as("x"))
    pillars.join(extras, Seq("comp"), "left")
      .select(col("comp"), (col("p") + coalesce(col("x"), lit(0L))).as("num_nodes"))
  }
}
