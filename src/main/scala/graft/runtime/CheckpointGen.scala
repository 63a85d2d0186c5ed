package graft.runtime

import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame

/** Rotating eager local checkpoints for iterative DataFrame loops.
  *
  * `Dataset.localCheckpoint(eager = true)` persists the materialized
  * internal RDD, but `Dataset.unpersist` cannot release those blocks —
  * they are registered on the RDD, not in the `CacheManager` — so a
  * loop that checkpoints its state every round accumulates one full
  * cached generation per round. Measured: the 16M-node peel/LPA
  * evidence run OOM'd a 16 GiB heap at local[32] with ~9 resident
  * generations (BENCH.md round 4). This helper tracks the RDD ids each
  * eager checkpoint registers (diff of `sc.getPersistentRDDs` around
  * the call — safe in a single-driver loop; ids created by OTHER
  * concurrent checkpoints land in the `before` snapshot and are never
  * claimed) and releases the superseded generation once the new one is
  * fully materialized, keeping resident state at O(1) generations —
  * the same rotation the RDD loops in `Flow`/`DistLongest` do with
  * explicit `unpersist`.
  *
  * The LAST rotated generation stays persisted (it IS the loop's
  * result); frames checkpointed outside this instance are untouched.
  */
final class CheckpointGen {
  private var live: Seq[RDD[_]] = Nil

  /** Eagerly localCheckpoint `df`, then release the blocks of the
    * previous frame rotated through this instance. Safe because the
    * eager checkpoint fully materializes `df` (which may read the
    * previous generation) before anything is unpersisted.
    */
  def rotate(df: DataFrame): DataFrame = {
    val (out, created) =
      CheckpointGen.persisted(df.sparkSession.sparkContext)(df.localCheckpoint(true))
    val stale = live
    live = created
    stale.foreach(_.unpersist(blocking = false))
    out
  }
}

object CheckpointGen {
  /** Run `body` and return its value with the RDDs it persisted — the
    * diff of `sc.getPersistentRDDs` around the call — so the caller can
    * unpersist checkpoint blocks `Dataset.unpersist` cannot reach.
    */
  def persisted[T](sc: SparkContext)(body: => T): (T, Seq[RDD[_]]) = {
    val before = sc.getPersistentRDDs.keySet.toSet
    val v = body
    (v, sc.getPersistentRDDs.filter(kv => !before(kv._1)).values.toList)
  }
}
