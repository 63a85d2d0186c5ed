package graft.tools

import graft.fixtures.Synthetic

/** Writes a small synthetic ways/nodes parquet input dir for CLI runs. */
object MakeFixtureInput {
  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("/tmp/graft_cli_input")
    val n = sys.env.getOrElse("SPARK_GRAFT_SCALE_WAYS", "5000").toLong
    val spark = graft.runtime.Sessions.local(8, 8)
    val ways = Synthetic.ways(spark, n).localCheckpoint(true)
    ways.write.mode("overwrite").parquet(s"$out/ways.parquet")
    Synthetic.nodesFor(ways).write.mode("overwrite").parquet(s"$out/nodes.parquet")
    println(s"[fixture-input] wrote $n ways to $out")
    spark.stop()
  }
}
