package graft.text

import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame, Encoders, GraftColumnBridge, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.{CommonPrefixLen, PackedPrefix8, SuffixExprs}
import graft.runtime.{CheckpointGen, Gate, Ranks}

/** Distributed suffix array + adjacent-suffix LCP — the ExactSubstr
  * dedup machinery of "Deduplicating Training Data Makes Language
  * Models Better" (Lee et al., 2022), re-expressed as Spark prefix
  * doubling (Manber–Myers) instead of the paper's single-node
  * suffix-automaton build.
  *
  * Semantics: every (doc, pos) suffix is ranked by its first `cap`
  * characters under binary collation, ties broken by (doc_id, pos) —
  * i.e. `row_number() OVER (ORDER BY substr(text, pos, cap), doc_id,
  * pos)`, which is exactly what the DuckDB oracle replays. Suffixes are
  * doc-bounded (no cross-document concatenation), the standard
  * multi-document convention. The comparison cap is how production
  * ExactSubstr deployments bound suffix comparisons too — duplicates
  * longer than `cap` still surface as runs of positions with
  * `lcp == cap`.
  *
  * Scale shape (the reason this is a Spark job and not a port):
  * - The initial width-8 rank is [[graft.functions.PackedPrefix8]] — the
  *   first 8 bytes packed into an order-consistent long, computed in the
  *   scan with ZERO shuffles (a string init rank would need a global
  *   sort just to start).
  * - Each doubling round (width w → 2w) is one equi-join on
  *   (doc_id, pos+w) to fetch the partner rank, then ONE range exchange
  *   to densify ([[graft.runtime.Ranks.withPairGroupMinRank]]: an
  *   in-partition scan appends each row's group-start rank and
  *   O(#partitions) boundary stats are carry-chained on the driver — no
  *   global row_number, no groupBy-min, no join-back, and no reduce key
  *   at all for the huge early rank classes of a duplicate-heavy
  *   corpus).
  * - log2(cap/32) rounds total after the width-32 packed init (2 at
  *   cap=128), each localCheckpointed
  *   with superseded generations released (O(1) resident state), with
  *   early exit as soon as every rank class is a singleton.
  * - Rank state is 3 longs/suffix; the only O(n·cap) frame is the
  *   `win` column, needed once at the end to compute exact LCPs of
  *   ADJACENT pairs (a single self-join on sa_rank = sa_rank+1), where
  *   [[graft.functions.CommonPrefixLen]] is one codegen'd byte loop.
  *
  * Collation note: ranks order by UTF-8 BYTES (what both Spark and
  * DuckDB use to compare strings), positions/caps count CHARACTERS —
  * identical for ASCII corpora (the synthetic tables are ASCII; a NUL
  * byte is the one thing [[graft.functions.SuffixExprs.packedPrefix8]]
  * cannot distinguish from padding). For NON-ASCII input the ranks are
  * APPROXIMATE, not merely differently-collated: the init rank covers
  * the first 8 BYTES while each doubling offset advances 8·2^k
  * CHARACTERS, so when a prefix holds multi-byte characters the bytes
  * between byte 8 and the 8-character mark are never compared and two
  * distinct capped suffixes can receive equal ranks (ties then broken
  * by (doc_id, pos), diverging from a full byte-wise sort). Treat rank
  * output as undefined beyond ASCII, exactly like the NUL caveat;
  * byte-faithful non-ASCII support would require running positions in
  * byte offsets over the UTF-8 payload.
  */
object SuffixArray {

  private def pack8(c: Column): Column =
    GraftColumnBridge.column(PackedPrefix8(GraftColumnBridge.expression(c)))

  private def lcpOf(a: Column, b: Column): Column =
    GraftColumnBridge.column(CommonPrefixLen(
      GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))

  /** One row per suffix start: (doc_id, pos, win) with win = the first
    * `cap` chars from pos. The O(n·cap) frame — kept out of the rank
    * loop, only joined at the adjacent-pair step.
    */
  def windows(
      docs: DataFrame, idCol: String, textCol: String, cap: Int): DataFrame = {
    val base = docs
      .select(col(idCol).cast("long").as("doc_id"), col(textCol).as("text"))
      .where(length(col("text")) > 0)
    // The explode fans each doc into |text| rows with a cap-char substr
    // INSIDE the scan stage: a small-file scan runs that in one task
    // (measured 4 s single-task at sf0.1 — guide §2.5 input skew). Spread
    // docs across the cluster first when the scan is under-parallel;
    // deterministic (hash on doc_id, not round-robin). A large corpus
    // already scans with >= cluster parallelism and skips the shuffle.
    val want = docs.sparkSession.sparkContext.defaultParallelism
    val spread =
      if (base.rdd.getNumPartitions < want) base.repartition(want, col("doc_id"))
      else base
    spread
      .select(col("doc_id"),
        explode(sequence(lit(1), length(col("text")))).as("pos"),
        col("text"))
      .select(col("doc_id"), col("pos"),
        col("text").substr(col("pos"), lit(cap)).as("win"))
  }

  /** Suffix ranks by prefix doubling: (doc_id, pos, r) where r is
    * order-consistent over the first `cap` chars (equal iff the capped
    * suffixes are equal). `gen` carries the loop's checkpoint rotation.
    */
  private def doubledRanks(
      wins: DataFrame, cap: Int, gen: CheckpointGen): DataFrame = {
    require(cap >= 8 && (cap & (cap - 1)) == 0,
      s"cap must be a power of two >= 8; got $cap")
    // width-8 init rank: packed bytes, no shuffle, no densify needed
    // the joined frame feeds a repartitionByRange, whose range sampling
    // job recomputes its input — uncheckpointed, the round's sort-merge
    // join ran TWICE (profiler: two near-equal 30 s-task jobs per round).
    // One rotated checkpoint makes the sampling pass a cheap re-scan.
    val joinGen = new CheckpointGen
    // width-32 init: FOUR packed 8-byte words (lexicographic tuple order
    // == byte order over the first 32 bytes, 0-padded — the same
    // NUL-free ASCII contract as pack8) densified in one range exchange.
    // That is rounds 1 AND 2's densifies WITHOUT their equi-joins: two
    // fewer join rounds for any cap ≥ 32 (2 rounds at cap=128, where
    // round 4 needed 4). Every densify also emits the scan's GLOBAL row
    // number (__sarn — free from the same pass): the final suffix rank
    // is exactly the last densify's row number, so rankWindows skips the
    // closing full-frame row-number exchange entirely.
    var cur: DataFrame = null
    var w = 8
    var rounds = 0
    var allDistinct = false
    if (cap == 8) {
      cur = gen.rotate(wins.select(col("doc_id"), col("pos"),
        pack8(col("win")).as("r")))
    } else if (cap == 16) {
      val init = wins.select(col("doc_id"), col("pos"),
        pack8(col("win")).as("r"),
        pack8(col("win").substr(lit(9), lit(8))).as("r2"))
      val (ranked0, allD0) = Ranks.withGroupMinRank(init, Seq("r", "r2"),
        Seq(col("doc_id"), col("pos")), "__nr", gen = Some(gen),
        rnOut = Some("__sarn"))
      cur = ranked0.select(col("doc_id"), col("pos"), col("__nr").as("r"),
        col("__sarn"))
      w = 16
      allDistinct = allD0
    } else {
      val init = wins.select(col("doc_id"), col("pos"),
        pack8(col("win")).as("r"),
        pack8(col("win").substr(lit(9), lit(8))).as("r2"),
        pack8(col("win").substr(lit(17), lit(8))).as("r3"),
        pack8(col("win").substr(lit(25), lit(8))).as("r4"))
      val (ranked0, allD0) = Ranks.withGroupMinRank(init,
        Seq("r", "r2", "r3", "r4"),
        Seq(col("doc_id"), col("pos")), "__nr", gen = Some(gen),
        rnOut = Some("__sarn"))
      cur = ranked0.select(col("doc_id"), col("pos"), col("__nr").as("r"),
        col("__sarn"))
      w = 32
      allDistinct = allD0
    }
    while (w < cap && !allDistinct) {
      // partner rank at pos+w; absent (suffix shorter than w) sorts
      // first: Long.MinValue is strictly below every packed value of a
      // NUL-free string and every densified rank (>= 1)
      val partner = cur.select(col("doc_id"), (col("pos") - w).as("pos"),
        col("r").as("r2"))
      val joined = joinGen.rotate(cur.select("doc_id", "pos", "r")
        .join(partner, Seq("doc_id", "pos"), "left")
        .select(col("doc_id"), col("pos"), col("r"),
          coalesce(col("r2"), lit(Long.MinValue)).as("r2")))
      // densify: rank class (r, r2) -> its min global row number, in ONE
      // range exchange (boundary-carried group ranks — the naive
      // row_number + groupBy-min + join-back costs two more shuffles of
      // the full frame per round); allDistinct doubles as the
      // convergence signal. The densify's own checkpoint rotates through
      // `gen`, and `cur` is a cheap projection over it — no third
      // materialization per round.
      val (ranked, allD) = Ranks.withGroupMinRank(joined, Seq("r", "r2"),
        Seq(col("doc_id"), col("pos")), "__nr", gen = Some(gen),
        rnOut = Some("__sarn"))
      cur = ranked.select(col("doc_id"), col("pos"), col("__nr").as("r"),
        col("__sarn"))
      allDistinct = allD
      w *= 2
      rounds += 1
    }
    lastDoublingRounds.set(rounds)
    cur
  }

  /** Doubling rounds executed by the most recent [[saWithWindows]] /
    * [[suffixRanks]] call ON THIS THREAD (each round = one equi-join +
    * one range-exchange densify over the position frame) — cost
    * telemetry for the scale-evidence tools; ≤ log2(cap/8), smaller on
    * early exit. */
  val lastDoublingRounds = new ThreadLocal[Int] {
    override def initialValue(): Int = 0
  }

  /** Caps at or below this sort DIRECTLY: sa_rank is by definition
    * row_number() OVER (ORDER BY win, doc_id, pos), so one range
    * exchange carrying the window itself replaces the packed init plus
    * every doubling round. Byte math at cap=128: the direct exchange
    * moves ~(cap+16) B/row ONCE, the doubling path moves ~200 B/row
    * across 5 exchanges (init densify 48 B + 2×(equi-join ~48 B +
    * densify ~32 B)) and pays a sort per exchange — fewer bytes AND one
    * stage instead of ~10 (guide §2.4), at every scale, not just
    * locally. Doubling remains the scale shape for larger caps, where
    * O(n·cap) exchange bytes overtake O(n·log(cap/8)·24 B).
    */
  private val DirectSort = Gate("suffix-direct", 128L)

  /** The full suffix array with its comparison windows:
    * (doc_id, pos, sa_rank, win) — sa_rank is the global 1-based
    * position in capped-suffix order (ties by (doc_id, pos)). The one
    * frame q109 (ranks) and q110 (adjacent-pair LCP) both read, so the
    * ranking runs once per input.
    */
  def saWithWindows(
      docs: DataFrame, idCol: String, textCol: String,
      cap: Int = 128): DataFrame = {
    val wins = windows(docs, idCol, textCol, cap).localCheckpoint(true)
    if (DirectSort.admits(cap)) {
      // the two-phase row number preserves the win column — no join back
      lastDoublingRounds.set(0)
      Ranks.withGlobalRowNumber(wins,
        Seq(col("win").asc, col("doc_id").asc, col("pos").asc), "sa_rank")
    } else rankWindows(wins, cap).join(wins, Seq("doc_id", "pos"))
  }

  /** The rank side alone from a (checkpointed) [[windows]] frame:
    * (doc_id, pos, sa_rank). Callers that only need ranks (q109) drop
    * the O(n·cap) win payload right after the one ranking exchange.
    * `directSortMax` 0 forces the doubling loop (specs pin direct ≡
    * doubling ranks that way).
    */
  def rankWindows(
      wins: DataFrame, cap: Int = 128,
      directSortMax: Long = DirectSort.limit): DataFrame = {
    if (DirectSort.copy(limit = directSortMax).admits(cap)) {
      lastDoublingRounds.set(0)
      return Ranks.withGlobalRowNumber(wins,
          Seq(col("win").asc, col("doc_id").asc, col("pos").asc), "sa_rank")
        .select("doc_id", "pos", "sa_rank")
    }
    val gen = new CheckpointGen
    val r = doubledRanks(wins, cap, gen)
    // the last densify's scan row number IS row_number() OVER
    // (ORDER BY final rank, doc_id, pos): the scan order refines every
    // later width's order and breaks ties by (doc_id, pos) — reuse it
    // instead of paying one more full-frame range exchange (cap == 8 is
    // the only densify-free path left)
    if (r.columns.contains("__sarn"))
      r.select(col("doc_id"), col("pos"), col("__sarn").as("sa_rank"))
    else
      Ranks.withGlobalRowNumber(r,
        Seq(col("r"), col("doc_id"), col("pos")), "sa_rank")
        .select("doc_id", "pos", "sa_rank")
  }

  /** The suffix array: (doc_id, pos, sa_rank). */
  def suffixRanks(
      docs: DataFrame, idCol: String, textCol: String,
      cap: Int = 128): DataFrame =
    rankWindows(
      windows(docs, idCol, textCol, cap).localCheckpoint(true), cap)

  /** Direct-path suffix array WITH adjacency inline:
    * (doc_id, pos, win, sa_rank, doc_a, pos_a, lcp) where (doc_a, pos_a)
    * is the suffix at sa_rank−1 and lcp its exact common prefix with
    * this row (nulls on the global first row). The pairs are read off
    * the SAME range-exchange scan that assigns sa_rank — adjacency is
    * physically free once the sort has run, so [[adjacentLcp]]'s
    * self-join (two more full-frame exchanges + sorts of the window
    * payload) disappears; partition-boundary pairs are patched from the
    * same O(#partitions) driver stats that chain the rank offsets.
    * Requires cap ≤ [[DirectSort]]'s limit (the doubling path has no single
    * sorted scan to read pairs from).
    */
  def saWithAdjacent(
      docs: DataFrame, idCol: String, textCol: String,
      cap: Int = 128): DataFrame = {
    require(DirectSort.admits(cap),
      s"saWithAdjacent needs the direct-sort path (cap <= ${DirectSort.limit})")
    lastDoublingRounds.set(0)
    val wins = windows(docs, idCol, textCol, cap).localCheckpoint(true)
    val order = Seq(col("win").asc, col("doc_id").asc, col("pos").asc)
    val sorted = wins.repartitionByRange(order: _*)
      .sortWithinPartitions(order: _*)
    val inSchema = sorted.schema
    val outSchema = StructType(inSchema.fields ++ Seq(
      StructField("__pid", IntegerType, nullable = false),
      StructField("__lrn", LongType, nullable = false),
      StructField("__pd", LongType, nullable = true),
      StructField("__pp", IntegerType, nullable = true),
      StructField("__pl", LongType, nullable = true)))
    val di = inSchema.fieldIndex("doc_id")
    val pi = inSchema.fieldIndex("pos")
    val wi = inSchema.fieldIndex("win")
    val scanned = sorted.mapPartitions { it =>
      val pid = TaskContext.getPartitionId()
      var n = 0L
      var pd: Any = null
      var pp: Any = null
      var pw: String = null
      it.map { r =>
        n += 1L
        val w = r.getString(wi)
        val lcp: Any =
          if (pw == null) null
          else SuffixExprs.commonPrefixChars(
            UTF8String.fromString(pw), UTF8String.fromString(w))
        val out = Row.fromSeq(r.toSeq ++ Seq(pid, n, pd, pp, lcp))
        pd = r.getLong(di); pp = r.getInt(pi); pw = w
        out
      }
    }(Encoders.row(outSchema)).localCheckpoint(true)
    val st = scanned.groupBy("__pid").agg(
        count(lit(1)).as("n"),
        min_by(struct(col("doc_id"), col("pos"), col("win")), col("__lrn"))
          .as("first"),
        max_by(struct(col("doc_id"), col("pos"), col("win")), col("__lrn"))
          .as("last"))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getStruct(2), r.getStruct(3)))
      .sortBy(_._1)
    if (st.isEmpty)
      return scanned.select(col("doc_id"), col("pos"), col("win"))
        .withColumn("sa_rank", lit(1L))
        .withColumn("doc_a", lit(null).cast("long"))
        .withColumn("pos_a", lit(null).cast("int"))
        .withColumn("lcp", lit(null).cast("long"))
        .limit(0)
    var cum = 0L
    var prevLast: Row = null
    val offB = Map.newBuilder[Int, Long]
    val pdB = Map.newBuilder[Int, Long]
    val ppB = Map.newBuilder[Int, Int]
    val plB = Map.newBuilder[Int, Long]
    for ((pid, n, first, last) <- st) {
      offB += pid -> cum
      if (prevLast != null) {
        pdB += pid -> prevLast.getLong(0)
        ppB += pid -> prevLast.getInt(1)
        plB += pid -> SuffixExprs.commonPrefixChars(
          UTF8String.fromString(prevLast.getString(2)),
          UTF8String.fromString(first.getString(2)))
      }
      prevLast = last
      cum += n
    }
    val offsets = offB.result()
    // ANSI-safe boundary patch: the branch guard (pid present in the
    // carry map) keeps element_at off the one partition with no
    // predecessor, whose first row keeps null prev columns
    def patch(m: Map[Int, _], mapLit: => Column, inPart: Column): Column =
      if (m.isEmpty) inPart
      else when(col("__lrn") =!= 1L, inPart)
        .when(array_contains(lit(m.keys.toArray), col("__pid")),
          element_at(mapLit, col("__pid")))
    val (pdM, ppM, plM) = (pdB.result(), ppB.result(), plB.result())
    scanned
      .withColumn("sa_rank",
        col("__lrn") + element_at(typedLit(offsets), col("__pid")))
      .withColumn("doc_a", patch(pdM, typedLit(pdM), col("__pd")))
      .withColumn("pos_a", patch(ppM, typedLit(ppM), col("__pp")))
      .withColumn("lcp", patch(plM, typedLit(plM), col("__pl")))
      .drop("__pid", "__lrn", "__pd", "__pp", "__pl")
  }

  /** Adjacent suffix-array pairs with their exact LCP (≤ cap):
    * (doc_a, pos_a, doc_b, pos_b, lcp) for each consecutive pair in
    * suffix order. The ExactSubstr primitive: a substring of length L
    * occurs twice in the corpus iff some adjacent pair has lcp ≥ L.
    * `sa` is a [[saWithWindows]] frame (possibly cached by the caller).
    */
  def adjacentLcp(sa: DataFrame): DataFrame = {
    val a = sa.select(col("doc_id").as("doc_a"), col("pos").as("pos_a"),
      col("win").as("win_a"), col("sa_rank"))
    val b = sa.select(col("doc_id").as("doc_b"), col("pos").as("pos_b"),
      col("win").as("win_b"), (col("sa_rank") - 1L).as("sa_rank"))
    a.join(b, Seq("sa_rank"))
      .select(col("doc_a"), col("pos_a"), col("doc_b"), col("pos_b"),
        lcpOf(col("win_a"), col("win_b")).as("lcp"))
  }

  /** Per-document cross-document duplicate-substring stats: over every
    * adjacent pair whose two suffixes come from DIFFERENT documents and
    * share ≥ `minLen` chars, count the pair against both documents.
    * Emits one row per input document (zeros when clean):
    * (doc_id, n_dup_adj, max_dup_len, sum_dup_len).
    */
  def dupSubstrStats(
      docs: DataFrame, sa: DataFrame, idCol: String,
      minLen: Int = 20): DataFrame = {
    // a [[saWithAdjacent]] frame already carries each row's predecessor
    // and exact LCP — project the pairs instead of re-deriving them with
    // the rank self-join
    val pairs =
      if (sa.columns.contains("doc_a"))
        sa.where(col("doc_a").isNotNull)
          .select(col("doc_a"), col("pos_a"),
            col("doc_id").as("doc_b"), col("pos").as("pos_b"), col("lcp"))
      else adjacentLcp(sa)
    val dup = pairs
      .where(col("doc_a") =!= col("doc_b") && col("lcp") >= minLen)
      .localCheckpoint(true)
    val sides = dup.select(col("doc_a").as("doc_id"), col("lcp"))
      .unionByName(dup.select(col("doc_b").as("doc_id"), col("lcp")))
    val agg = sides.groupBy("doc_id").agg(
      count(lit(1)).as("n_dup_adj"),
      max("lcp").as("max_dup_len"),
      sum("lcp").as("sum_dup_len"))
    docs.select(col(idCol).cast("long").as("doc_id"))
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_dup_adj"), lit(0L)).as("n_dup_adj"),
        coalesce(col("max_dup_len"), lit(0L)).as("max_dup_len"),
        coalesce(col("sum_dup_len"), lit(0L)).as("sum_dup_len"))
  }
}
