package graft.text

import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame, Encoders, GraftColumnBridge, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.{CommonPrefixLen, SuffixExprs}
import graft.runtime.Ranks

/** Distributed suffix array + adjacent-suffix LCP — the ExactSubstr
  * dedup machinery of "Deduplicating Training Data Makes Language
  * Models Better" (Lee et al., 2022), re-expressed as one Spark range
  * exchange instead of the paper's single-node suffix-automaton build.
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
  * Scale shape: the `cap`-char window of every suffix is sorted DIRECTLY
  * in one range exchange ([[graft.runtime.Ranks.withGlobalRowNumber]]:
  * in-partition row numbers plus O(#partitions) driver-chained offsets,
  * no single-partition window). At cap 128 that moves ~(cap+16) B a row
  * once, in one stage. The adjacent pairs are read off the same sorted
  * scan ([[saWithAdjacent]]), where [[graft.functions.CommonPrefixLen]]
  * is one codegen'd byte loop.
  *
  * Collation note: ranks order by UTF-8 BYTES (what both Spark and
  * DuckDB use to compare strings), positions/caps count CHARACTERS —
  * identical for ASCII corpora (the synthetic tables are ASCII).
  */
object SuffixArray {

  private def lcpOf(a: Column, b: Column): Column =
    GraftColumnBridge.column(CommonPrefixLen(
      GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))

  /** One row per suffix start: (doc_id, pos, win) with win = the first
    * `cap` chars from pos: the O(n·cap) frame the one sort orders.
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

  /** The full suffix array with its comparison windows:
    * (doc_id, pos, sa_rank, win) — sa_rank is the global 1-based
    * position in capped-suffix order (ties by (doc_id, pos)). The
    * two-phase row number keeps the win column, so there is no join back.
    */
  def saWithWindows(
      docs: DataFrame, idCol: String, textCol: String,
      cap: Int = 128): DataFrame =
    Ranks.withGlobalRowNumber(windows(docs, idCol, textCol, cap).localCheckpoint(true),
      Seq(col("win").asc, col("doc_id").asc, col("pos").asc), "sa_rank")

  /** The rank side alone from a (checkpointed) [[windows]] frame:
    * (doc_id, pos, sa_rank). */
  def rankWindows(wins: DataFrame): DataFrame =
    Ranks.withGlobalRowNumber(wins,
        Seq(col("win").asc, col("doc_id").asc, col("pos").asc), "sa_rank")
      .select("doc_id", "pos", "sa_rank")

  /** The suffix array: (doc_id, pos, sa_rank). */
  def suffixRanks(
      docs: DataFrame, idCol: String, textCol: String,
      cap: Int = 128): DataFrame =
    rankWindows(windows(docs, idCol, textCol, cap).localCheckpoint(true))

  /** The suffix array WITH adjacency inline:
    * (doc_id, pos, win, sa_rank, doc_a, pos_a, lcp) where (doc_a, pos_a)
    * is the suffix at sa_rank−1 and lcp its exact common prefix with
    * this row (nulls on the global first row). The pairs are read off
    * the SAME range-exchange scan that assigns sa_rank — adjacency is
    * physically free once the sort has run, so [[adjacentLcp]]'s
    * self-join (two more full-frame exchanges + sorts of the window
    * payload) disappears; partition-boundary pairs are patched from the
    * same O(#partitions) driver stats that chain the rank offsets.
    */
  def saWithAdjacent(
      docs: DataFrame, idCol: String, textCol: String,
      cap: Int = 128): DataFrame = {
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
