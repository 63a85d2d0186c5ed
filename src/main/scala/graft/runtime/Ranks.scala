package graft.runtime

import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Two-phase global ranking/cumsum — the scale-safe replacement for
  * un-partitioned `Window.orderBy` (which moves ALL rows to a single
  * partition: fine at test SF, an OOM at 100 TB; the round-1 bench log
  * was full of `WindowExec: No Partition Defined` warnings).
  *
  * Phase 1: `repartitionByRange` on the sort key (range exchange — each
  * partition holds a contiguous key range, partitions ordered by id),
  * `sortWithinPartitions`, then ONE `mapPartitions` scan appends the
  * partition id and the partition-local running state (row number /
  * running sum). A `Window.partitionBy(pid)` would
  * compute the same values but costs an extra full-frame hash exchange
  * (RangePartitioning does not satisfy the window's clustered
  * distribution — measured, not guessed); the scan keeps the frame where
  * the range exchange put it.
  * Phase 2: per-partition totals (≤ shuffle-partitions rows) are
  * collected, turned into cumulative offsets, and added back as a
  * map-literal projection — no second shuffle, no single-partition
  * stage.
  *
  * Callers must make the sort key a TOTAL order (append a unique
  * tie-break column) — ties split across a range boundary would
  * otherwise get arbitrary relative ranks.
  *
  * The intermediate (pid, local-state) frame is localCheckpoint'd so the
  * range partitioner's sampled boundaries cannot differ between the
  * offset-collect job and the final job.
  */
object Ranks {

  /** Range-exchange + in-partition sort + ONE sequential scan appending
    * `append` fields. `make` is invoked once per partition (capture the
    * running state there) and returns the per-row appended values, in
    * `append` order.
    */
  private def sortedScan(
      df: DataFrame, order: Seq[Column], append: Seq[StructField])(
      make: StructType => Row => Seq[Any]): DataFrame = {
    val sorted = df.repartitionByRange(order: _*)
      .sortWithinPartitions(order: _*)
    val inSchema = sorted.schema
    val outSchema = StructType(inSchema.fields ++ append)
    sorted.mapPartitions { it =>
      val f = make(inSchema)
      it.map(r => Row.fromSeq(r.toSeq ++ f(r)))
    }(Encoders.row(outSchema))
  }

  private val pidField = StructField("__pid", IntegerType, nullable = false)

  /** Append a global row number (`startAt`, `startAt`+1, …) in `order`. */
  def withGlobalRowNumber(
      df: DataFrame, order: Seq[Column], out: String,
      startAt: Long = 1L): DataFrame = {
    val local = sortedScan(df, order,
      Seq(pidField, StructField("__lrn", LongType, nullable = false))) { _ =>
      val pid = TaskContext.getPartitionId()
      var n = 0L
      _ => { n += 1L; Seq[Any](pid, n) }
    }.localCheckpoint(true)
    val counts = local.groupBy("__pid").count().collect()
      .map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    var cum = 0L
    val offsets: Map[Int, Long] = counts.map { case (p, n) =>
      val o = p -> cum; cum += n; o
    }.toMap
    if (offsets.isEmpty) df.withColumn(out, lit(startAt)).limit(0)
    else local
      .withColumn(out,
        col("__lrn") + element_at(typedLit(offsets), col("__pid")) +
          lit(startAt - 1L))
      .drop("__pid", "__lrn")
  }

  /** Append a running cumulative sum of `value` in `order` (inclusive of
    * the current row), as double.
    */
  def withGlobalCumsum(
      df: DataFrame, order: Seq[Column], value: Column, out: String): DataFrame = {
    val local = sortedScan(df.withColumn("__v", value.cast("double")), order,
      Seq(pidField, StructField("__lcs", DoubleType, nullable = true))) { s =>
      val vi = s.fieldIndex("__v")
      val pid = TaskContext.getPartitionId()
      var any = false
      var run = 0.0
      r => {
        if (!r.isNullAt(vi)) { run += r.getDouble(vi); any = true }
        Seq[Any](pid, if (any) run else null)
      }
    }.localCheckpoint(true)
    val sums = local.groupBy("__pid").agg(sum("__v").as("s"))
      .collect()
      .map(r => (r.getInt(0), if (r.isNullAt(1)) 0.0 else r.getDouble(1)))
      .sortBy(_._1)
    var cum = 0.0
    val offsets: Map[Int, Double] = sums.map { case (p, s) =>
      val o = p -> cum; cum += s; o
    }.toMap
    if (offsets.isEmpty) df.withColumn(out, lit(0.0)).limit(0)
    else local
      .withColumn(out, col("__lcs") + element_at(typedLit(offsets), col("__pid")))
      .drop("__pid", "__lcs", "__v")
  }

  /** Exact-integer sibling of [[withGlobalCumsum]]: running sum of a
    * LONG `value` in `order`, inclusive of the current row. Same
    * two-phase shape (range exchange + one in-partition scan + collected
    * per-partition offsets); exact at any magnitude a long holds, so
    * downstream integer arithmetic (token packing bins) is
    * order-independent.
    */
  def withGlobalCumsumLong(
      df: DataFrame, order: Seq[Column], value: Column, out: String): DataFrame = {
    val local = sortedScan(df.withColumn("__v", value.cast("long")), order,
      Seq(pidField, StructField("__lcs", LongType, nullable = true))) { s =>
      val vi = s.fieldIndex("__v")
      val pid = TaskContext.getPartitionId()
      var any = false
      var run = 0L
      r => {
        if (!r.isNullAt(vi)) { run += r.getLong(vi); any = true }
        Seq[Any](pid, if (any) run else null)
      }
    }.localCheckpoint(true)
    val sums = local.groupBy("__pid").agg(sum("__v").as("s"))
      .collect()
      .map(r => (r.getInt(0), if (r.isNullAt(1)) 0L else r.getLong(1)))
      .sortBy(_._1)
    var cum = 0L
    val offsets: Map[Int, Long] = sums.map { case (p, s) =>
      val o = p -> cum; cum += s; o
    }.toMap
    if (offsets.isEmpty) df.withColumn(out, lit(0L)).limit(0)
    else local
      .withColumn(out, col("__lcs") + element_at(typedLit(offsets), col("__pid")))
      .drop("__pid", "__lcs", "__v")
  }

  /** Keep the top `keepPpm`-millionths of each group's rows under
    * `order` (the caller appends a unique tie-break column): the
    * per-group rank is the GLOBAL two-phase row number over
    * (group, order…) minus each group's min row number — computed from
    * the frame itself, so no assumption about driver-side vs engine
    * collation — which lets a mega-group span many range partitions
    * instead of serialising into one `Window.partitionBy(group)` task.
    * Emits every row with its per-group `rank` and a `kept` flag
    * (rank ≤ ceil(n_g · keepPpm / 10⁶), exact integer ceiling). Driver
    * state = O(#groups) longs, the same contract as a broadcast join.
    */
  def topFractionPerGroup(
      df: DataFrame, grpCol: String, order: Seq[Column], keepPpm: Long,
      rankOut: String = "rank", keptOut: String = "kept"): DataFrame = {
    val rn = withGlobalRowNumber(df, col(grpCol).asc +: order, "__grn")
    val stats = rn.groupBy(grpCol)
      .agg((min("__grn") - 1L).as("base"), count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val baseMap: Map[String, Long] = stats.map(s => s._1 -> s._2).toMap
    val keepMap: Map[String, Long] = stats.map { case (g, _, n) =>
      g -> ((n * keepPpm + 999999L) / 1000000L)
    }.toMap
    if (baseMap.isEmpty)
      rn.withColumn(rankOut, lit(1L)).withColumn(keptOut, lit(0L))
        .drop("__grn").limit(0)
    else rn
      .withColumn(rankOut,
        col("__grn") - element_at(typedLit(baseMap), col(grpCol)))
      .withColumn(keptOut,
        when(col(rankOut) <= element_at(typedLit(keepMap), col(grpCol)),
          1L).otherwise(0L))
      .drop("__grn")
  }

  /** Dense ids (0, 1, …) for a TINY distinct set (group keys, tag ids):
    * an explicit repartition(1) + in-partition sort + monotonic id —
    * intentionally single-partition (the input is a handful of rows) and
    * window-free, so no "No Partition Defined" stage appears in any plan
    * (a constant partitionBy key would be folded away by Catalyst).
    *
    * CONTRACT: the caller guarantees the distinct set is tiny (group
    * keys, comp lists at fixture-forced thresholds — not data-scale
    * sets). A caller whose id set grows with the data needs a
    * distributed dense rank (two-phase row number) instead; the q120
    * gate's threshold-1 comp list is fixture-sized by construction.
    */
  def tinyDenseId(df: DataFrame, order: Seq[Column], out: String): DataFrame =
    df.repartition(1)
      .sortWithinPartitions(order: _*)
      .withColumn(out, monotonically_increasing_id().cast("long"))
}
