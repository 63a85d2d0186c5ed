package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Deterministic OSM-like graph derived from the driver's testdata tables
  * (TESTDATA.md — the only permitted inputs).
  *
  * The same integer-arithmetic SQL fragments build the graph in Spark
  * (via `selectExpr`) and in the DuckDB oracle (via CTEs), so the two
  * engines see bit-identical node ids, edges and coordinates — which lets
  * the driver's hash-compare gate the *graph* operators (CC, upstream,
  * SCC, kNN …), not just relational ones.
  *
  * Shape: each order (1 in 5) becomes a 3-node "way" whose nodes live in
  * one of 256 disjoint buckets of ≤1009 slots — components stay small
  * (≤ a few dozen nodes) so recursive-CTE oracles stay cheap, while the
  * Spark side still exercises the full shuffle machinery.
  */
object Derived {

  // ---- shared SQL fragments (Spark selectExpr ⊆ DuckDB dialect) --------

  /** Stage 1 of the way derivation (aliases can't be referenced in the
    * same SELECT on the Spark side, so the derivation is two stages).
    */
  val wayStage1: Seq[String] = Seq(
    "o_orderkey AS wid",
    "o_orderkey % 256 AS bucket",
    "CAST((o_orderkey - (o_orderkey % 256)) / 256 AS BIGINT) % 1009 AS a0",
    "o_custkey % 97 AS h1",
    "o_orderkey % 83 AS h2",
    "o_orderstatus", "o_orderpriority", "o_custkey", "o_orderdate")

  val wayStage2: Seq[String] = Seq(
    "wid", "bucket", "a0",
    "(a0 + 1 + h1) % 1009 AS b0",
    "(a0 + 2 + h1 + h2) % 1009 AS c0",
    "o_orderstatus", "o_orderpriority", "o_custkey", "o_orderdate")

  val wayFilter = "o_orderkey % 5 = 0"

  def nidSql(slot: String) = s"(bucket * 10000 + ($slot) + 1)"

  /** Deterministic pseudo-random positions (exact integer arithmetic, one
    * exact double division — bit-identical across engines).
    */
  def latSql(nid: String) =
    s"(CAST((($nid) * 2654435761) % 1700000 AS DOUBLE) / 10000.0 - 85.0)"
  def lonSql(nid: String) =
    s"(CAST((($nid) * 2246822519) % 3600000 AS DOUBLE) / 10000.0 - 180.0)"

  /** Haversine (metres) as a SQL string — mirrors graft.geo.Geo.haversineM. */
  def haversineSql(lat1: String, lon1: String, lat2: String, lon2: String): String =
    s"""(2.0 * 6371008.8 * ASIN(SQRT(
       |  POW(SIN(RADIANS(($lat2) - ($lat1)) / 2.0), 2.0) +
       |  COS(RADIANS($lat1)) * COS(RADIANS($lat2)) *
       |  POW(SIN(RADIANS(($lon2) - ($lon1)) / 2.0), 2.0)
       |)))""".stripMargin.replace("\n", " ")

  /** Per-edge deterministic integer-valued length for flow tests. */
  val edgeLenSql = "CAST((src * 7 + dst * 13) % 1000 + 1 AS DOUBLE)"

  /** DuckDB CTE prelude reproducing [[waysDF]] / [[edgesDF]] / [[nodesDF]].
    * Prepend WITH [RECURSIVE] in the final query.
    */
  val oracleWaysCte: String =
    s"""w1 AS (SELECT ${wayStage1.mkString(", ")} FROM orders WHERE $wayFilter),
       |ways AS (SELECT ${wayStage2.mkString(", ")} FROM w1),
       |edges0 AS (
       |  SELECT ${nidSql("a0")} AS u, ${nidSql("b0")} AS v, wid FROM ways
       |  UNION ALL
       |  SELECT ${nidSql("b0")} AS u, ${nidSql("c0")} AS v, wid FROM ways
       |),
       |edges AS (
       |  SELECT DISTINCT LEAST(u, v) AS src, GREATEST(u, v) AS dst FROM edges0
       |),
       |nodes AS (
       |  SELECT nid, ${latSql("nid")} AS lat, ${lonSql("nid")} AS lon FROM (
       |    SELECT DISTINCT src AS nid FROM edges
       |    UNION SELECT DISTINCT dst AS nid FROM edges
       |  )
       |)""".stripMargin.replace("\n", " ")

  // ---- Spark-side builders ---------------------------------------------

  def orders(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/orders.parquet")

  /** Derived ways table: (wid, bucket, nids array, tags map, ts). */
  def waysDF(spark: SparkSession, dir: String): DataFrame =
    orders(spark, dir)
      .where(wayFilter)
      .selectExpr(wayStage1: _*)
      .selectExpr(wayStage2: _*)
      .selectExpr(
        "wid", "bucket",
        s"array(${nidSql("a0")}, ${nidSql("b0")}, ${nidSql("c0")}) AS nids",
        """map_filter(map(
          |  'status', o_orderstatus,
          |  'prio', o_orderpriority,
          |  'name', CASE WHEN o_custkey % 3 = 0
          |               THEN concat('N', CAST(o_custkey % 10 AS STRING)) END
          |), (k, x) -> x IS NOT NULL) AS tags""".stripMargin.replace("\n", " "),
        "o_orderdate AS ts")

  /** Canonical undirected edge set (src < dst, distinct) — memoised per
    * dir: ~15 graph queries re-derived this identical union+distinct
    * shuffle from parquet every time (guide §2.4).
    */
  def edgesDF(spark: SparkSession, dir: String): DataFrame =
    memoize(s"edges:$dir") {
      // one scan: explode both way segments instead of a self-union that
      // read the parquet twice (same row set — the union was positional)
      waysDF(spark, dir)
        .selectExpr(
          "explode(array(struct(nids[0] AS u, nids[1] AS v), " +
            "struct(nids[1] AS u, nids[2] AS v))) AS e")
        .selectExpr("LEAST(e.u, e.v) AS src", "GREATEST(e.u, e.v) AS dst")
        .distinct()
    }

  /** Node positions for every node referenced by an edge (memoised). */
  def nodesDF(spark: SparkSession, dir: String): DataFrame =
    memoize(s"nodes:$dir") {
      // one pass over the edges checkpoint (the union read it twice)
      edgesDF(spark, dir)
        .select(explode(array(col("src"), col("dst"))).as("nid"))
        .distinct()
        .selectExpr("nid", s"${latSql("nid")} AS lat", s"${lonSql("nid")} AS lon")
    }

  /** DAG orientation: every canonical edge flows low nid → high nid, with
    * a deterministic integer length. Acyclic by construction.
    */
  def dagEdgesDF(spark: SparkSession, dir: String): DataFrame =
    edgesDF(spark, dir).selectExpr("src", "dst", s"$edgeLenSql AS len")

  /** Cyclic orientation for SCC tests: way-order edges plus a closing
    * c→a edge on every 7th way (guaranteed 3-cycles, like the
    * reference's waterway loops).
    */
  def cyclicEdgesDF(spark: SparkSession, dir: String): DataFrame = {
    val w = waysDF(spark, dir)
      .selectExpr("wid", "nids[0] AS na", "nids[1] AS nb", "nids[2] AS nc")
    w.selectExpr("na AS src", "nb AS dst")
      .union(w.selectExpr("nb AS src", "nc AS dst"))
      .union(w.where("wid % 7 = 0").selectExpr("nc AS src", "na AS dst"))
      .distinct()
  }

  val oracleCyclicCte: String =
    s"""dir_edges AS (
       |  SELECT DISTINCT src, dst FROM (
       |    SELECT u AS src, v AS dst FROM edges0
       |    UNION ALL
       |    SELECT ${nidSql("c0")} AS src, ${nidSql("a0")} AS dst FROM ways
       |    WHERE wid % 7 = 0
       |  )
       |)""".stripMargin.replace("\n", " ")

  // ---- the cross-query memo registry ----------------------------------

  /** An entry's value, the RDDs its build persisted and its release. */
  private final case class Entry(value: Any, rdds: Seq[org.apache.spark.rdd.RDD[_]],
      release: () => Unit)

  private val entries = new java.util.HashMap[String, Entry]()

  def computeIfAbsent[T](key: String)(build: => T): T =
    computeIfAbsent(key, (_: T) => ())(build)

  /** Get-or-build `key` (Verify, Bench and the benchmark run every query
    * against one dir; derived frames and iterative results are identical
    * across them). One reentrant lock, and the builder runs with no map
    * bin reserved, so a builder may read other entries (nodes → edges,
    * minhashcand → shinglesets). An entry claims the RDDs its build
    * persisted ([[graft.runtime.CheckpointGen.persisted]]) less those a
    * nested build already claimed; [[clearMemo]] unpersists them and runs
    * `release(value)`. Job tracers find memo builds by this method's
    * name, and [[graft.runtime.Trace]] charges them to `key`.
    */
  def computeIfAbsent[T](key: String, release: T => Unit)(build: => T): T =
    entries.synchronized {
      entries.get(key) match {
        case null =>
          val (v, rdds) = graft.runtime.CheckpointGen.persisted(
            SparkSession.active.sparkContext)(graft.runtime.Trace.memo(key)(build))
          val nested = entries.values.asScala.flatMap(_.rdds.map(_.id)).toSet
          entries.put(key, Entry(v, rdds.filterNot(r => nested(r.id)), () => release(v)))
          v
        case e =>
          graft.runtime.Trace.memoHit(key)
          e.value.asInstanceOf[T]
      }
    }

  /** RDD ids each entry claimed (specs check no RDD has two owners). */
  private[queries] def claims: Map[String, Seq[Int]] = entries.synchronized {
    entries.asScala.map { case (k, e) => k -> e.rdds.map(_.id) }.toMap
  }

  /** [[computeIfAbsent]] for a frame, checkpointed once by the registry. */
  def memoize(key: String)(f: => DataFrame): DataFrame =
    computeIfAbsent(key)(f.localCheckpoint(true))

  /** Release every entry and drop it (Bench clears between reps, so each
    * rep pays the full derivation cost). */
  def clearMemo(): Unit = entries.synchronized {
    entries.values.forEach { e =>
      graft.runtime.CheckpointGen.release(e.rdds)
      e.release()
    }
    entries.clear()
  }

  /** The cell-indexed node frame the kNN queries search (q22, q36) —
    * [[graft.geo.SpatialJoins.cellIndexedNodes]] checkpoints it. */
  def nodesCellMemo(spark: SparkSession, dir: String, res: Int): DataFrame =
    computeIfAbsent(s"nodescell:$res:$dir") {
      graft.geo.SpatialJoins.cellIndexedNodes(nodesDF(spark, dir), res)
    }

  /** Equal-split upstream over the DAG: node upstreams and edge flows.
    *
    * Hybrid engine (Flow.upstreamFlowHybrid): components under the size
    * threshold run the exact local Kahn walk in one shuffle instead of
    * the per-depth frontier rounds — confluent, value-identical
    * (GraphSpec "hybrid upstream == frontier upstream"), and the weak-CC
    * labels it needs are exactly the memoised [[QueriesGraph.ccLabels]]
    * (the DAG orientation is over the same canonical undirected edges).
    */
  def dagUpstream(spark: SparkSession, dir: String): graft.graph.Flow.UpstreamResult =
    computeIfAbsent(s"upstream:$dir") {
      val r = graft.graph.Flow.upstreamFlowHybrid(
        dagEdgesDF(spark, dir)
          .withColumn("tag", lit(null).cast("string")),
        labels = Some(QueriesGraph.ccLabels(spark, dir)))
      r.copy(nodeUpstream = r.nodeUpstream.localCheckpoint(true),
        edgeFlow = r.edgeFlow.localCheckpoint(true))
    }

  /** SCC of the cyclic orientation, memoised. The weak-CC pass reuses the
    * memoised [[QueriesGraph.ccLabels]]: the cyclic orientation adds only
    * closing edges WITHIN a way (nc→na), so its undirected components —
    * and hence the min-nid labels — equal the canonical edge set's.
    */
  def sccCyclic(spark: SparkSession, dir: String): DataFrame =
    memoize(s"scc:$dir") {
      graft.graph.Scc.run(cyclicEdgesDF(spark, dir).select("src", "dst"),
        weakLabels = Some(QueriesGraph.ccLabels(spark, dir)))
    }

  /** Tag-group CC over the canonical edges with the parity tag, memoised.
    * Passes the memoised weak-CC labels (same canonical edge set), so the
    * hybrid engine localises small components to one shuffle instead of
    * re-running the iterative composite CC.
    */
  def tagGroupTagged(spark: SparkSession, dir: String): DataFrame =
    memoize(s"tgcc:$dir") {
      graft.graph.DownOps.tagGroupCC(edgesDF(spark, dir)
        .selectExpr("src", "dst",
          "CASE WHEN (src + dst) % 2 = 0 THEN 'a' ELSE 'b' END AS tag"),
        weakLabels = Some(QueriesGraph.ccLabels(spark, dir)))
    }

  /** Biggest-end assignment over the DAG with DECIMETRE-integerised end
    * upstreams (the tie-break the q39/q48 oracles rank on), memoised and
    * shared by both queries. Hybrid engine with the memoised CC labels:
    * small components run the exact local DP in one shuffle
    * (comparison-only propagation — bit-identical to the distributed
    * frontier sweep), zero driver rounds.
    */
  def dagEndAssignmentDm(spark: SparkSession, dir: String): DataFrame =
    memoize(s"assigndm:$dir") {
      val dag = dagEdgesDF(spark, dir)
      val up = dagUpstream(spark, dir).nodeUpstream
        .select(col("nid"),
          expr("CAST(FLOOR(upstream_m * 10 + 0.5) AS BIGINT)").cast("double")
            .as("upstream_m"))
      val ends = graft.graph.Flow.endPoints(dag).join(up, Seq("nid"))
      graft.graph.Flow.biggestEndAssignmentHybrid(dag.select("src", "dst"),
        ends, labels = Some(QueriesGraph.ccLabels(spark, dir)))
    }

  /** Deterministic query points derived from customer (1 in 3). */
  val pointStage: Seq[String] = Seq(
    "c_custkey AS pid",
    "(CAST((c_custkey * 3266489917) % 1700000 AS DOUBLE) / 10000.0 - 85.0) AS plat",
    "(CAST((c_custkey * 1640531527) % 3600000 AS DOUBLE) / 10000.0 - 180.0) AS plon")
  val pointFilter = "c_custkey % 3 = 0"

  def pointsDF(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/customer.parquet")
      .where(pointFilter)
      .selectExpr(pointStage: _*)

  val oraclePointsCte: String =
    s"points AS (SELECT ${pointStage.mkString(", ")} FROM customer WHERE $pointFilter)"

  /** Synthetic boundary boxes derived from nation: [latmin, latmin+8) ×
    * [lonmin, lonmin+12), half-open (= ray-cast semantics on boxes).
    */
  val boxStage: Seq[String] = Seq(
    "n_name AS area",
    "CAST((n_nationkey * 7919) % 140 - 70 AS DOUBLE) AS latmin",
    "CAST((n_nationkey * 104729) % 320 - 160 AS DOUBLE) AS lonmin")

  def boxesDF(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/nation.parquet").selectExpr(boxStage: _*)

  val oracleBoxesCte: String =
    s"boxes AS (SELECT ${boxStage.mkString(", ")} FROM nation)"
}
