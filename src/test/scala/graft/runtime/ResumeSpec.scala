package graft.runtime

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.graph.ConnectedComponents
import java.nio.file.{Files, Paths}

/** North-rule resumability: per-round durable checkpoints with
  * per-partition metrics; restart resumes from the newest complete round
  * and reproduces identical output.
  */
class ResumeSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  test("checkpointer saves rounds with metrics and finds the latest complete one") {
    withTempDir("ckpt") { dir =>
      val cp = new IterationCheckpointer(spark, dir)
      cp.save(0, Seq((1L, 2L)).toDF("a", "b"))
      cp.save(1, Seq((1L, 2L), (3L, 4L)).toDF("a", "b"))
      // round 2: parquet written but metrics missing → incomplete
      Seq((9L, 9L)).toDF("a", "b").write.parquet(s"$dir/round=00002")
      val Some((round, df)) = cp.latestComplete()
      assert(round == 1)
      assert(df.count() == 2)
      val metrics = Files.readString(Paths.get(s"$dir/round=00001/_METRICS.json"))
      assert(metrics.contains("\"rows\":2"))
      assert(metrics.contains("\"partitions\""))
    }
  }

  test("CC with durable checkpoints: identical labels, resumable mid-iteration") {
    val rng = new scala.util.Random(7)
    val edges = Seq.fill(200)((rng.nextInt(60).toLong, rng.nextInt(60).toLong))
      .filter(p => p._1 != p._2).toDF("src", "dst")

    // localMaxEdges = 0 forces the star loop: this spec pins the DURABLE
    // checkpointer against the iterative path it wraps (the hybrid local
    // path never checkpoints — it has no rounds to resume)
    val plain = ConnectedComponents.run(edges, localMaxEdges = 0L)
    withTempDir("ccckpt") { dir =>
      val cp = new IterationCheckpointer(spark, dir)
      val ckpted = ConnectedComponents.run(edges, checkpointer = Some(cp.hook))
      assert(ckpted.rounds == plain.rounds)
      assert(ckpted.labels.collect().map(r => (r.getLong(0), r.getLong(1))).toMap ==
        plain.labels.collect().map(r => (r.getLong(0), r.getLong(1))).toMap)

      // resume: reload the newest complete round's edge state and continue —
      // the star-forest fixpoint is reproduced exactly
      val Some((lastRound, state)) = cp.latestComplete()
      assert(lastRound == plain.rounds - 1)
      val resumed = ConnectedComponents.run(state)
      assert(resumed.labels.collect().map(r => (r.getLong(0), r.getLong(1))).toMap ==
        plain.labels.collect().map(r => (r.getLong(0), r.getLong(1))).toMap)
    }
  }

  test("biggest-end with durable checkpoints: identical assignment") {
    import graft.graph.Flow
    val edges = Seq((1L, 2L), (2L, 3L), (4L, 3L), (3L, 5L), (6L, 7L))
      .toDF("src", "dst")
    val ends = Seq((5L, 100.0), (7L, 10.0)).toDF("nid", "upstream_m")
    val plain = Flow.biggestEndAssignment(edges, ends)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    withTempDir("beckpt") { dir =>
      val cp = new IterationCheckpointer(spark, dir)
      val ckpted = Flow.biggestEndAssignment(edges, ends,
          checkpointer = Some(cp.hook))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(ckpted == plain)
      assert(cp.latestComplete().nonEmpty) // durable rounds exist on disk
      // the durable rounds are frontier DELTAS: their union is the result
      val Some((_, all)) = cp.allComplete()
      assert(all.select("nid", "end_nid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap == plain)
      assert(all.count() == plain.size)
    }
  }

  test("upstream durable rounds are DELTAS; resume = allComplete union") {
    import graft.graph.Flow
    val edges = Seq(
      (1L, 2L, 10.0), (2L, 3L, 5.0), (4L, 3L, 7.0), (3L, 5L, 2.0))
      .toDF("src", "dst", "len").withColumn("tag", lit(null).cast("string"))
    val plain = Flow.upstreamFlow(edges)
    withTempDir("upckpt") { dir =>
      val cp = new IterationCheckpointer(spark, dir)
      val ckpted = Flow.upstreamFlow(edges, checkpointer = Some(cp.hook))
      def m(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), math.round(r.getDouble(1) * 1e6))).toMap
      assert(m(ckpted.nodeUpstream) == m(plain.nodeUpstream))
      // each durable round holds one frontier delta — the newest round
      // alone is NOT the full state; the union of all rounds is
      val Some((lastRound, all)) = cp.allComplete()
      assert(lastRound == ckpted.rounds - 1)
      assert(m(all.withColumnRenamed("up", "upstream_m"))
        == m(plain.nodeUpstream))
      val Some((_, newestOnly)) = cp.latestComplete()
      assert(newestOnly.count() < all.count())
    }
  }
}
