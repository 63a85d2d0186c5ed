package graft.runtime

import org.apache.spark.sql.SparkSession

/** The one place a graft session is built. Every main, tool and the test
  * base share these settings: ANSI off (the queries rely on lenient
  * casts and overflow), AQE on, UTC session time, no UI, WARN logging.
  * `SPARK_GRAFT_LOCAL_DIR` sets `spark.local.dir` (a deployment choice,
  * e.g. `/dev/shm/spark-local` for RAM-backed shuffle files).
  *
  * `EntrySmoke` keeps its own builder on purpose: it replicates a
  * default-config driver session.
  */
object Sessions {
  def local(cpus: Int, shufflePartitions: Int): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    sys.env.get("SPARK_GRAFT_LOCAL_DIR").foreach(b.config("spark.local.dir", _))
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
