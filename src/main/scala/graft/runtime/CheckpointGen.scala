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
  * the same rotation `graph.Frontier` does for its RDD state with
  * explicit releases.
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
    CheckpointGen.release(stale)
    out
  }
}

object CheckpointGen {
  /** Whether `sc` has a reliable checkpoint dir, setting one first in
    * local mode: a new `graft-rdd-ckpt*` temp dir, deleted with its
    * contents when the JVM exits. Reliable checkpoints need a SHARED path
    * on a real cluster (a driver-local dir is invisible to remote
    * executors), so a cluster without a configured dir gets none and its
    * callers fall back to pinned localCheckpoints.
    */
  def reliableDir(sc: SparkContext): Boolean = synchronized {
    if (sc.getCheckpointDir.isEmpty && sc.isLocal) {
      val dir = java.nio.file.Files.createTempDirectory("graft-rdd-ckpt").toFile
      sys.addShutdownHook(org.apache.commons.io.FileUtils.deleteQuietly(dir))
      sc.setCheckpointDir(dir.toString)
    }
    sc.getCheckpointDir.nonEmpty
  }

  /** Run `body` and return its value with the RDDs it persisted — the
    * diff of `sc.getPersistentRDDs` around the call — so the caller can
    * unpersist checkpoint blocks `Dataset.unpersist` cannot reach.
    */
  def persisted[T](sc: SparkContext)(body: => T): (T, Seq[RDD[_]]) = {
    val before = sc.getPersistentRDDs.keySet.toSet
    val v = body
    (v, sc.getPersistentRDDs.filter(kv => !before(kv._1)).values.toList)
  }

  /** Drop the blocks of `rdds`, locally checkpointed ones without
    * `RDD.unpersist`'s WARN (see `GraftRddBridge`). */
  def release(rdds: Seq[RDD[_]], blocking: Boolean = false): Unit =
    rdds.foreach(org.apache.spark.rdd.GraftRddBridge.release(_, blocking))
}
