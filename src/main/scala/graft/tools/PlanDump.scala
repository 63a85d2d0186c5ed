package graft.tools

/** Write `.explain("formatted")` of selected bench queries to files —
  * the optimization-round evidence artifact (plans/rNN/<q>_<tag>.txt).
  * Diagnostics only; the Bench/Verify surfaces are untouched.
  *
  * Env: PD_QUERIES (comma list), PD_TAG (file suffix, e.g. before/after),
  *      PD_DIR (output dir), SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS.
  * Note: the streaming queries execute their bounded stream while the
  * DataFrame is constructed; their dumped plan is the materialized sink
  * read, so the interesting plan shape for them lives in the code, not
  * the explain output.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val tag = sys.env.getOrElse("PD_TAG", "after")
    val outDir = sys.env.getOrElse("PD_DIR", "plans/r06")
    val names = sys.env.getOrElse("PD_QUERIES", "")
      .split(",").map(_.trim).filter(_.nonEmpty)
    val spark = graft.runtime.Sessions.local(cpus, cpus)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    for (name <- names) {
      spark.sparkContext.setJobDescription(s"plandump:$name")
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, s"${name}_$tag.txt"),
        plan.getBytes("UTF-8"))
      System.err.println(s"[plandump] wrote $name ($tag)")
    }
    spark.stop()
  }
}
