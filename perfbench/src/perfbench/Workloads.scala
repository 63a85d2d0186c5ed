package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.SparkEntry

/** One timed operation, a span around a call into `module`: `run` does
  * the timed work and returns the (untimed) check that reads its output
  * back as a [[Digest]]. */
final case class Op(name: String, module: String, run: () => (() => Digest))

/** A workload: inputs made from the seed by `prepare`, and the
  * operations of one pass. */
trait Workload {
  def name: String
  /** Makes (or stages) the inputs; may run several times in set-up. */
  def prepare(spark: SparkSession, seed: Long): Unit
  /** The operations of one pass, in the order the seed gives. */
  def ops(spark: SparkSession, seed: Long): Seq[Op]
  /** Seed-independent checks on the recorded digests of one pass. */
  def checkPass(digests: Map[String, Digest], recorded: Recorded, seed: Long): Seq[String]
}

object Workloads {
  def apply(name: String, work: Path, data: Path): Workload = name match {
    case "planet-lump" => new PlanetLump(work)
    case "suite-mix" => new Suite(name, work, data, Seq(
      "q13_cc_labels" -> "graph", "q22_knn" -> "geo", "q32_minhash_lsh" -> "dedup",
      "q29_quality" -> "text", "q117_snapshot_diff" -> "web",
      "q51_media_meta" -> "media", "q77_asof_join" -> "operators"))
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  def rmTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }
}

/** A fixed set of `SparkEntry.queries` over the testdata tables copied
  * into the run's own directory, each paired with the module it
  * exercises. The tables are fixed, so the seed sets only the query order
  * within a pass. */
final class Suite(val name: String, work: Path, data: Path, queries: Seq[(String, String)])
    extends Workload {
  private val dir = work.resolve("tables")
  /** The path the queries get: relative to the JVM's working directory
    * (the run's own directory), so it reads the same in every run and
    * checkout. The memos key on it: they are `ConcurrentHashMap`s whose
    * builders nest `computeIfAbsent` calls, which throw "Recursive
    * update" when the inner key falls in the bin the outer key reserved.
    * With the process id in the path, q32 failed that way in some runs. */
  private val queryDir = "tables"

  def prepare(spark: SparkSession, seed: Long): Unit = {
    require(java.nio.file.Paths.get(queryDir).toAbsolutePath == dir.toAbsolutePath,
      s"the JVM must run in $work")
    Workloads.rmTree(dir)
    Files.createDirectories(dir)
    val s = Files.list(data)
    try s.filter(_.toString.endsWith(".parquet"))
      .forEach(f => Files.copy(f, dir.resolve(f.getFileName)))
    finally s.close()
    // read every footer once, as a reader would before the first query
    Files.list(dir).toArray.foreach(f => spark.read.parquet(f.toString).schema)
  }

  def ops(spark: SparkSession, seed: Long): Seq[Op] = {
    val all = SparkEntry.queries
    val missing = queries.map(_._1).filterNot(all.contains)
    require(missing.isEmpty, s"no such queries: ${missing.mkString(",")}")
    new scala.util.Random(seed).shuffle(queries).map { case (q, module) =>
      Op(q, module, () => { val d = Digest.of(all(q)(spark, queryDir)); () => d })
    }
  }

  def checkPass(digests: Map[String, Digest], recorded: Recorded, seed: Long): Seq[String] =
    recorded.forSuite(name).toSeq.flatMap { exp =>
      digests.collect { case (op, d) if exp.get(op).exists(_ != d) =>
        s"$op digest $d != recorded ${exp(op)}" }
    }
}

/** The CLI-parity lump (`cli.LumpWaysMain.run -f waterway -g name`) over
  * a seeded synthetic planet in the shape of `fixtures.Synthetic.ways`.
  *
  * The seed relabels the planet without changing its shape: endpoint
  * slots are permuted within their bucket, interior node ids shift and
  * the `name` groups (one per bucket) rotate. Every seed therefore does
  * the same work (the same component sizes, so the same feature count)
  * on different ids, positions and lengths.
  *
  * The planet sits below the 500k-edge gate of the single-task
  * union-find; `run.py` sets `SPARK_GRAFT_CC_LOCAL_MAX=0` so components
  * still run the star loop.
  */
final class PlanetLump(work: Path) extends Workload {
  import graft.fixtures.Synthetic
  val name = "planet-lump"
  val Ways = 6000L
  val Interior = 6
  val Buckets = 20L
  private val dir = work.resolve("planet")
  private val out = work.resolve("out").resolve("lump.geojsons")

  def prepare(spark: SparkSession, seed: Long): Unit = {
    val a = 1L + Math.floorMod(seed, Synthetic.Slots - 1)
    val b = Math.floorMod(seed * 7919L, Synthetic.Slots)
    val shift = Math.floorMod(seed, 1L << 20) * 64L
    val ways = Synthetic.ways(spark, Ways, Interior, Buckets)
      .withColumn("nids", transform(col("nids"), x =>
        when(x < lit(Synthetic.InteriorBase),
          ((x - 1) / 100000).cast("long") * 100000L +
            pmod((x - 1) % 100000 * a + b, lit(Synthetic.Slots)) + 1)
          .otherwise(x + shift)))
      .withColumn("tags", map(
        lit("waterway"), col("tags")("waterway"),
        lit("name"), concat(lit("W"), pmod(col("wid") - 1 + seed, lit(Buckets)).cast("string"))))
    Workloads.rmTree(dir)
    ways.write.parquet(dir.resolve("ways.parquet").toString)
    val w = spark.read.parquet(dir.resolve("ways.parquet").toString)
    Synthetic.nodesFor(w).write.parquet(dir.resolve("nodes.parquet").toString)
  }

  def ops(spark: SparkSession, seed: Long): Seq[Op] = {
    val args = graft.cli.Cli.parseLump(Seq("-i", dir.toString, "-o", out.toString,
      "-f", "waterway", "-g", "name", "--overwrite")) match {
      case Right(a) => a
      case Left(e)  => throw new IllegalArgumentException(e)
    }
    Seq(Op("lump_ways", "cli", () => {
      Files.createDirectories(out.getParent)
      Files.deleteIfExists(out)
      graft.cli.LumpWaysMain.run(args, spark)
      () => Digest.of(spark.read.text(out.toString))
    }))
  }

  /** The feature count is the same for every seed; for a recorded seed
    * the whole output must match. */
  def checkPass(digests: Map[String, Digest], recorded: Recorded, seed: Long): Seq[String] = {
    val d = digests("lump_ways")
    val shape = recorded.planetShape.filter(_ != d.rows)
      .map(n => s"lump_ways wrote ${d.rows} features, expected $n").toSeq
    val exact = recorded.forPlanet(seed).filter(_ != d)
      .map(e => s"lump_ways digest $d != recorded $e for seed $seed").toSeq
    shape ++ exact
  }
}

/** Digests recorded in `perfbench/digests.tsv`, one per line:
  * `workload <TAB> seed <TAB> operation <TAB> rows:sum`. The planet's
  * seed-independent feature count sits on a line with seed `*`. */
final class Recorded(lines: Seq[Array[String]]) {
  /** The suites' tables are fixed, so every recorded seed holds the
    * same digests; the first recorded seed applies to every seed. */
  def forSuite(w: String): Option[Map[String, Digest]] = {
    val rows = lines.filter(_(0) == w)
    rows.headOption.map(first => rows.filter(_(1) == first(1))
      .map(r => r(2) -> Digest.parse(r(3))).toMap)
  }
  def planetShape: Option[Long] =
    lines.find(r => r(0) == "planet-lump" && r(1) == "*").map(_(3).toLong)
  def forPlanet(seed: Long): Option[Digest] =
    lines.find(r => r(0) == "planet-lump" && r(1) == seed.toString)
      .map(r => Digest.parse(r(3)))
}

object Recorded {
  def load(p: Path): Recorded =
    if (!Files.exists(p)) new Recorded(Nil)
    else new Recorded(scala.io.Source.fromFile(p.toFile, "UTF-8").getLines()
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\t")).toSeq)
}
