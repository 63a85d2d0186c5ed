package graft.fixtures

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded procedural "planet" for the scale tiers (FIXTURES.md §5):
  * deterministic river-network-like ways generated in-Spark from
  * `spark.range` — no RNG, no external data, identical at any
  * parallelism.
  *
  * Shape targets the reference's observed ~5 % pillar-node fraction
  * (down/main.rs:1319-1322): each way has `interiorPerWay` unique
  * interior nodes (degree 2, contracted away) between two endpoints
  * drawn from a bucket-local slot space (shared → pillars).
  */
object Synthetic {

  val Buckets = 4096L
  val Slots = 1009L
  val InteriorBase = 1L << 36 // clear of endpoint ids, below 2^40

  /** ways(wid, nids, tags, ts) — `n` ways, ~n·(interiorPerWay+2) node
    * references, ~5 % pillar fraction at interiorPerWay≈18.
    *
    * @param buckets endpoint-space width. The default (4096) keeps the
    *        round-2 fixtures bit-reproducible; for weak-scaling series
    *        pass ≈ n/1000 so ways-per-bucket (graph density) stays
    *        constant — with a FIXED bucket count a 4× input percolates
    *        each bucket into one mega-component, which is a different
    *        (adversarial-skew) workload, not "the same job, 4× the data".
    */
  def ways(spark: SparkSession, n: Long, interiorPerWay: Int = 18,
      buckets: Long = Buckets): DataFrame = {
    require(buckets * 100000L + Slots < InteriorBase,
      s"bucket space overlaps interior-node ids: buckets=$buckets " +
        s"(max ${(InteriorBase - Slots) / 100000L})")
    spark.range(n)
      .selectExpr(
        "id + 1 AS wid",
        s"id % $buckets AS bucket",
        s"(CAST(id / $buckets AS BIGINT) * 17) % $Slots AS a0",
        s"((CAST(id / $buckets AS BIGINT) * 17) % $Slots + 1 + (id * 31) % 97) % $Slots AS b0",
        "id")
      .selectExpr(
        "wid",
        s"""concat(
           |  array(bucket * 100000 + a0 + 1),
           |  transform(sequence(1, $interiorPerWay),
           |    j -> ${InteriorBase}L + id * $interiorPerWay + j),
           |  array(bucket * 100000 + b0 + 1)
           |) AS nids""".stripMargin.replace("\n", " "),
        """map('waterway', CASE WHEN id % 4 = 0 THEN 'river' ELSE 'stream' END,
          |    'name', concat('W', CAST(id % 1000 AS STRING))) AS tags"""
          .stripMargin.replace("\n", " "),
        "CAST(id AS TIMESTAMP) AS ts")
  }

  /** Deterministic positions for an explicit nid set (positions are a
    * pure function of nid — no need to re-explode all ways).
    */
  def nodesForNids(nids: DataFrame): DataFrame =
    nids.selectExpr(
      "nid",
      "(CAST(((nid % 1700000) * 2654435761) % 1700000 AS DOUBLE) / 10000.0 - 85.0) AS lat",
      "(CAST(((nid % 3600000) * 2246822519) % 3600000 AS DOUBLE) / 10000.0 - 180.0) AS lon")

  /** Deterministic positions for every node id referenced by [[ways]]. */
  def nodesFor(ways: DataFrame): DataFrame =
    ways
      .select(explode(col("nids")).as("nid"))
      .distinct()
      .selectExpr(
        "nid",
        // reduce before multiplying: (nid mod m)·k mod m ≡ nid·k mod m,
        // and the product stays far from int64 overflow
        "(CAST(((nid % 1700000) * 2654435761) % 1700000 AS DOUBLE) / 10000.0 - 85.0) AS lat",
        "(CAST(((nid % 3600000) * 2246822519) % 3600000 AS DOUBLE) / 10000.0 - 180.0) AS lon")

  /** River-tree forest with a CONTROLLED tag-group count: ⌈nEdges/L⌉
    * chains of L = nEdges/nGroups contracted edges, in clusters of 8 —
    * chain 0 is the trunk, chains 1-7 are tributaries whose tail edge
    * (pos = L-1) flows INTO an interior trunk node at depth j·L/8 (a
    * real confluence). Each chain carries one tag value, so same-tag
    * adjacency yields EXACTLY one tag group per chain; 7/8 of groups
    * have a tributary (D13) relationship and stream levels are 1/2.
    * Flow direction is pos-ascending → a DAG of in-trees.
    *
    * Node ids: node(chain, p) = chain·(L+2)+p. Output columns
    * (src, dst, len, tag); deterministic, identical at any parallelism.
    *
    * Exists because the slot-graph fixture ([[ways]]) cannot dial group
    * count: its per-bucket Erdős–Rényi slot graph fragments into
    * O(#edges) degenerate tag groups at subcritical density (measured:
    * 200k ways → 180,341 groups).
    */
  /** Deterministic embedding table (vec_id, embedding: array<float>) with
    * 16 planted clusters: vector v lives on axes [4·(v%16), 4·(v%16)+4)
    * plus a small integer-derived jitter — same shape at any size, so ANN
    * operators see realistic (non-uniform) inverted-list occupancy.
    * Identical at any parallelism (pure function of vec_id).
    */
  def embeddings(spark: SparkSession, n: Long, dim: Int = 64): DataFrame =
    spark.range(n).selectExpr(
      "id AS vec_id",
      // jitter is a multiplicative hash of (id, i) — every vector is
      // distinct (a short-period pattern like (id·31+i·7)%13 collapses
      // the table to 16·13 duplicate points and every inverted list to
      // a mega-list), magnitude 0.2 so the planted cluster dominates
      s"""transform(sequence(0, ${dim - 1}), i -> CAST(
         |  CASE WHEN i DIV 4 = id % 16 THEN 1.0 ELSE 0.0 END
         |  + CAST((id * 2654435761 + i * 40503) % 1009 AS DOUBLE)
         |    / 1009.0 * 0.2 AS FLOAT))
         |AS embedding""".stripMargin.replace("\n", " "))

  def riverForest(spark: SparkSession, nEdges: Long, nGroups: Long): DataFrame = {
    import org.apache.spark.sql.functions._
    val perChain = math.max(2L, nEdges / nGroups)
    val stride = perChain + 2
    spark.range(nEdges)
      .selectExpr(
        s"id DIV $perChain AS chain",
        s"id % $perChain AS pos")
      .selectExpr("chain", "pos", "chain % 8 AS j", "chain - chain % 8 AS trunk")
      .selectExpr(
        s"chain * ${stride}L + pos AS src",
        s"""CASE WHEN j != 0 AND pos = ${perChain - 1}
           |  THEN trunk * ${stride}L + (j * $perChain) DIV 8
           |  ELSE chain * ${stride}L + pos + 1 END AS dst"""
          .stripMargin.replace("\n", " "),
        "chain")
      .withColumn("len",
        (pmod(col("src") * 7 + col("dst") * 13, lit(1000)) + 1).cast("double"))
      .withColumn("tag",
        concat(lit("r"), pmod(col("chain"), lit(8)).cast("string")))
      .drop("chain")
  }
}
