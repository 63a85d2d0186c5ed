package graft.tools

import org.apache.spark.sql.functions._
import graft.fixtures.Synthetic
import graft.graph.{ConnectedComponents, GraphBuild}

/** Phase-level profiler for the scaling pipeline. */
object Profile {
  def main(args: Array[String]): Unit = {
    val nWays = sys.env.getOrElse("SPARK_GRAFT_SCALE_WAYS", "200000").toLong
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.runtime.Sessions.local(cpus,
      sys.env.get("SPARK_GRAFT_SHUFFLE").map(_.toInt).getOrElse(cpus))

    def phase[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[profile] $name%-22s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      r
    }

    val ways = phase("generate")(Synthetic.ways(spark, nWays).localCheckpoint(true))
    val contracted = phase("census+contract") {
      GraphBuild.contractedEdgesKeyed(
        ways.withColumn("gid", lit(0L)), spark).toDF.localCheckpoint(true)
    }
    println(s"[profile] contracted edges: ${contracted.count()}")
    val canon = phase("canonical-dedup") {
      import spark.implicits._
      GraphBuild.canonicalUndirectedKeyed(contracted.as[graft.graph.KeyedEdge])
        .toDF.localCheckpoint(true)
    }
    println(s"[profile] canonical edges: ${canon.count()}")
    val nodes = phase("nodes(pruned)") {
      val needed = canon.select(col("src").as("nid"))
        .union(canon.select(col("dst").as("nid"))).distinct()
      Synthetic.nodesForNids(needed).localCheckpoint(true)
    }
    val cc = phase("cc") {
      val r = ConnectedComponents.run(canon.select("src", "dst"))
      r.labels.localCheckpoint(true)
      r
    }
    println(s"[profile] cc rounds: ${cc.rounds}")
    phase("lengths") {
      canon
        .join(cc.labels.withColumnRenamed("nid", "src"), Seq("src"))
        .join(nodes.select(col("nid").as("src"), col("lat").as("lat1"),
          col("lon").as("lon1")), Seq("src"))
        .join(nodes.select(col("nid").as("dst"), col("lat").as("lat2"),
          col("lon").as("lon2")), Seq("dst"))
        .groupBy("comp")
        .agg(sum(graft.geo.Geo.haversineM(col("lat1"), col("lon1"),
          col("lat2"), col("lon2"))).as("len"))
        .count()
    }
    spark.stop()
  }
}
