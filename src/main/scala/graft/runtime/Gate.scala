package graft.runtime

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, count, lit}

/** The one local/distributed size gate of the hybrid operators (a
  * single-task local twin next to a distributed scale path): the local
  * side runs iff `limit > 0 && n <= limit`. A limit of 0 always forces
  * the distributed side; a negative limit is rejected.
  */
final case class Gate(name: String, limit: Long) {
  require(limit >= 0,
    s"gate $name: limit must be >= 0 (0 forces the distributed side), got $limit")

  /** For a count the caller already holds (no job). */
  def admits(n: Long): Boolean = {
    val local = limit > 0 && n <= limit
    Trace.gate(name, n, limit, local)
    local
  }

  /** For a whole frame, read at most `limit + 1` rows deep (not at all
    * at limit 0). */
  def admits(df: DataFrame): Boolean =
    admits(if (limit == 0) -1L else df.limit(math.min(limit, Int.MaxValue - 1L).toInt + 1).count())

  /** Per-group routing on the row count of each `key` group of `rows`.
    * The big keys are checkpointed lazily: the one bounded emptiness
    * check materializes every partition, so they are built once however
    * many frames the caller filters through the [[Gate.Split]]. */
  def split(rows: DataFrame, key: String*): Gate.Split = {
    val keys = key.map(col)
    val bigKeys = rows.groupBy(keys: _*).agg(count(lit(1)).as("__n"))
      .filter(col("__n") > limit)
      .select(keys: _*)
      .localCheckpoint(false)
    val anyBig = bigKeys.limit(1).count() > 0L
    Trace.gate(name, if (anyBig) 1L else 0L, limit, !anyBig)
    Gate.Split(key, bigKeys, anyBig)
  }
}

object Gate {

  /** `small(df)` keeps the rows of `df` whose key is not a big group's,
    * `big(df)` the rest. Every key of `df` must occur in the split rows. */
  final case class Split(key: Seq[String], bigKeys: DataFrame, anyBig: Boolean) {
    def small(df: DataFrame): DataFrame =
      if (anyBig) df.join(bigKeys, key, "left_anti") else df
    def big(df: DataFrame): DataFrame = df.join(bigKeys, key, "left_semi")
  }
}
