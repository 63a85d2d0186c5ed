package graft.tools

/** Plan auditor: print the formatted physical plan of one or more
  * `SparkEntry.queries` entries without executing them (analysis +
  * optimization only). Usage:
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.001 \
  *     sbt 'runMain graft.tools.ExplainQuery q43_upstream_segments ...'
  *
  * With no args, prints the plan of every registered query (long).
  */
object ExplainQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = graft.runtime.Sessions.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt,
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "32").toInt)
    val names =
      if (args.nonEmpty) args.toSeq else graft.SparkEntry.queries.keys.toSeq.sorted
    names.foreach { n =>
      graft.SparkEntry.queries.get(n) match {
        case Some(q) =>
          println(s"\n========== $n ==========")
          q(spark, sfDir).explain("formatted")
        case None =>
          System.err.println(s"unknown query: $n (have: " +
            graft.SparkEntry.queries.keys.toSeq.sorted.mkString(", ") + ")")
      }
    }
    spark.stop()
  }
}
