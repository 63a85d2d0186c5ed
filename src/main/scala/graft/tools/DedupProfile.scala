package graft.tools

import org.apache.spark.sql.functions._
import graft.dedup.Dedup

/** Phase-level profiler for the text near-dup pipeline (the
  * `ScaleEvidence dedup` job): signatures, LSH banding, candidate pairing,
  * exact Jaccard verify, CC collapse — each phase checkpointed so the
  * wall time attributes to that phase alone.
  */
object DedupProfile {
  def main(args: Array[String]): Unit = {
    val n = sys.env.getOrElse("SPARK_GRAFT_DEDUP_N", "500000").toLong
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.runtime.Sessions.local(cpus, cpus * 4)

    def phase[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[dedup-profile] $name%-18s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      r
    }

    val docs = phase("generate")(
      ScaleEvidence.documents(spark, n).localCheckpoint(true))
    val hs = phase("shingle-md5")(
      docs.select(col("doc_id").as("id"),
        Dedup.distinctShingleHashes(col("text")).as("hs")).localCheckpoint(true))
    val sig = phase("signatures")(
      hs.select(col("id"),
        Dedup.minhashSignatureFromHashes(col("hs"), 64).as("sig"))
        .localCheckpoint(true))
    val buckets = phase("band-keys")(
      sig.select(col("id"),
        explode(Dedup.lshBandKeys(col("sig"), 64, 16)).as("bk"))
        .select(col("id"), col("bk.band").as("band"), col("bk.key").as("key"))
        .localCheckpoint(true))
    val cand = phase("bucket-pairs") {
      val grouped = buckets.groupBy("band", "key")
        .agg(sort_array(collect_list(col("id"))).as("ids"))
        .filter(size(col("ids")).between(2, 1000))
      grouped
        .select(explode(expr(
          """flatten(transform(ids, (x, i) ->
            |  transform(slice(ids, i + 2, size(ids)), y -> struct(x AS a, y AS b))))"""
            .stripMargin.replace("\n", " "))).as("p"))
        .groupBy(col("p.a").as("id_a"), col("p.b").as("id_b"))
        .agg(count(lit(1)).as("n_shared_bands"))
        .localCheckpoint(true)
    }
    println(s"[dedup-profile] candidates: ${cand.count()}")
    val pairs = phase("jaccard-verify") {
      val withA = hs.select(col("id").as("id_a"), col("hs").as("hs_a"))
        .join(cand, Seq("id_a"))
      hs.select(col("id").as("id_b"), col("hs").as("hs_b"))
        .join(withA, Seq("id_b"))
        .filter(Dedup.jaccardByHashSets(col("hs_a"), col("hs_b")) >= 0.5)
        .select("id_a", "id_b")
        .localCheckpoint(true)
    }
    println(s"[dedup-profile] verified pairs: ${pairs.count()}")
    phase("collapse") {
      Dedup.nearDupCollapse(pairs, docs.select("doc_id"), "doc_id")
        .agg(count(lit(1))).head()
    }
    spark.stop()
  }
}
