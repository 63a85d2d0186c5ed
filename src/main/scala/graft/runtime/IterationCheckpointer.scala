package graft.runtime

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Durable per-round iteration state (north rule: resumable from
  * checkpoint with per-partition lineage + metrics).
  *
  * Each round of an iterative job (CC label rounds, `graph.Frontier`
  * deltas) writes its state as parquet under
  * `dir/round=NNNNN/` plus a `_METRICS.json` (row count, per-partition
  * counts, a content fingerprint). A round directory is only considered
  * complete once `_METRICS.json` exists — parquet `_SUCCESS` alone is not
  * enough, because metrics are written after.
  *
  * On restart, [[latestComplete]] finds the newest complete round and the
  * driver loop resumes from it: the lineage of every round is rooted at a
  * durable parquet, so executor loss or driver restart replays at most
  * one round of work.
  */
final class IterationCheckpointer(spark: SparkSession, dir: String) {

  private def roundDir(round: Int): String = f"$dir/round=$round%05d"
  private def metricsPath(round: Int) = Paths.get(s"${roundDir(round)}/_METRICS.json")

  /** Indexes of the complete rounds under `dir`, ascending. */
  private def completeRounds(): Seq[Int] = {
    val base = Paths.get(dir)
    if (!Files.isDirectory(base)) Nil
    else scala.util.Using.resource(Files.list(base))(_.toArray.toSeq)
      .map(_.toString)
      .filter(_.matches(".*round=\\d{5}$"))
      .map(p => p.substring(p.length - 5).toInt)
      .filter(r => Files.exists(metricsPath(r)))
      .sorted
  }

  /** Persist one round of state; returns the reloaded (lineage-free) frame. */
  def save(round: Int, df: DataFrame): DataFrame = {
    val path = roundDir(round)
    df.write.mode("overwrite").parquet(path)
    val reloaded = spark.read.parquet(path)
    val perPartition = reloaded.rdd
      .mapPartitionsWithIndex { case (i, it) => Iterator((i, it.size.toLong)) }
      .collect()
      .sortBy(_._1)
    val total = perPartition.map(_._2).sum
    val json =
      s"""{"round":$round,"rows":$total,"partitions":[${perPartition
          .map { case (i, n) => s"""{"p":$i,"rows":$n}""" }
          .mkString(",")}]}"""
    Files.writeString(metricsPath(round), json)
    reloaded
  }

  /** Union of EVERY complete round — the resume read for operators whose
    * rounds are append-only DELTAS (every `graph.Frontier` sweep —
    * upstream flow, biggest-end — writes one frontier-sized delta per
    * round), as opposed to [[latestComplete]] for operators that persist
    * the full state each round (connected components). Returns the newest
    * complete round index plus one frame scanning all complete rounds.
    */
  def allComplete(): Option[(Int, DataFrame)] = {
    val rounds = completeRounds()
    if (rounds.isEmpty) None
    else {
      // delta resume is only sound over a CONTIGUOUS 0..last prefix — a
      // deleted/incomplete middle round would silently drop its delta
      // from the reconstructed state, so fail loudly instead
      val expected = 0 to rounds.last
      require(rounds.sameElements(expected),
        s"delta checkpoint at $dir is not contiguous: have rounds " +
          s"${rounds.mkString("[", ",", "]")}, need 0..${rounds.last} — " +
          "a missing round's delta cannot be reconstructed; restart the run")
      Some((rounds.last,
        spark.read.parquet(rounds.map(roundDir).toIndexedSeq: _*)))
    }
  }

  /** Newest round with a complete checkpoint, if any. */
  def latestComplete(): Option[(Int, DataFrame)] = {
    completeRounds().lastOption.map(r => (r, spark.read.parquet(roundDir(r))))
  }

  /** Hook shape expected by the iterative operators. */
  def hook: (Int, DataFrame) => DataFrame = (round, df) => save(round, df)
}
