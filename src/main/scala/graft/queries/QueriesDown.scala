package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.graph.{DownOps, Flow}
import graft.geo.SpatialJoins
import Derived._

/** Directed-flow operator suite (SURVEY §2.6 D2/D3/D9/D11/D12 + sink
  * S8/S9 shapes), DuckDB-oracled over the derived graph.
  */
object QueriesDown {

  private def dmSql(e: String) = s"CAST(FLOOR(($e) * 10 + 0.5) AS BIGINT)"

  /** tag on directed/undirected edges for the tag-group suites. */
  private val tagSql = "CASE WHEN (src + dst) % 2 = 0 THEN 'a' ELSE 'b' END"

  /** synthetic single interior node per DAG edge (for chain expansion). */
  private val interNidSql = "(10000000 + (src * 31 + dst * 7) % 1000000)"

  // SCC label map CTE over dir_edges (shared with q19)
  private val sccCte =
    """reach AS (
      |  SELECT src AS a, dst AS b FROM dir_edges
      |  UNION
      |  SELECT r.a, e.dst FROM reach r JOIN dir_edges e ON e.src = r.b
      |),
      |mutual AS (
      |  SELECT r1.a AS nid, r1.b AS other
      |  FROM reach r1 JOIN reach r2 ON r1.a = r2.b AND r1.b = r2.a
      |  WHERE r1.a <> r1.b),
      |sccmap AS (SELECT nid, CAST(LEAST(nid, MIN(other)) AS BIGINT) AS root
      |           FROM mutual GROUP BY nid)""".stripMargin

  // upstream sums (shared with q18/q39/q48) + integerised node upstream
  private[queries] val upstreamCte =
    s"""de AS (SELECT src, dst, $edgeLenSql AS len FROM edges),
       |outdeg AS (SELECT src AS u, COUNT(*) AS od FROM de GROUP BY src),
       |contrib AS (
       |  SELECT dst AS nid, len AS amt FROM de
       |  UNION ALL
       |  SELECT e.dst, c.amt / o.od FROM contrib c
       |    JOIN de e ON e.src = c.nid
       |    JOIN outdeg o ON o.u = c.nid
       |),
       |ups AS (
       |  SELECT n.nid AS nid, ${dmSql("COALESCE(s.up, 0.0)")} AS up_dm
       |  FROM nodes n LEFT JOIN
       |    (SELECT nid, SUM(amt) AS up FROM contrib GROUP BY nid) s
       |    ON s.nid = n.nid),
       |ends AS (SELECT DISTINCT dst AS nid FROM edges
       |         WHERE dst NOT IN (SELECT src FROM edges))"""
      .stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // D3 — cycle contraction onto min-nid SCC roots
    "q38_scc_contract" -> ((s, d) => {
      val e = cyclicEdgesDF(s, d)
        .withColumn("len", expr(edgeLenSql))
        .withColumn("tag", lit(null).cast("string"))
      Flow.contractCycles(e, sccCyclic(s, d))
        .select(col("src"), col("dst"), col("len").cast("long").as("len_i"))
    }),

    // D9 — biggest-end assignment over the DAG (integerised upstreams)
    "q39_biggest_end" -> ((s, d) =>
      // shared dm-integerised assignment memo (hybrid engine; q48's
      // grouped-ends walk reads the same frame)
      dagEndAssignmentDm(s, d)
        .select(col("nid"), col("end_nid"),
          col("end_upstream_m").cast("long").as("end_up_dm"))),

    // D12 — tag-group CC: connectivity AND same tag value
    "q40_tag_group_cc" -> ((s, d) => tagGroupTagged(s, d)),

    // D2+S8 — loops per area (SCC + PIP + aggregate)
    "q41_loop_stats" -> ((s, d) => {
      val e = cyclicEdgesDF(s, d)
      val scc = sccCyclic(s, d)
      val intra = e
        .join(scc.withColumnRenamed("nid", "src").withColumnRenamed("scc", "s1"), Seq("src"))
        .join(scc.withColumnRenamed("nid", "dst").withColumnRenamed("scc", "s2"), Seq("dst"))
        .filter(col("s1") === col("s2"))
        .withColumn("len", expr(edgeLenSql))
      val perLoop = intra.groupBy(col("s1").as("scc"))
        .agg(sum("len").cast("long").as("len_i"))
      val roots = perLoop
        .join(nodesDF(s, d).withColumnRenamed("nid", "scc"), Seq("scc"))
        .select(col("scc").as("pid"), col("lat").as("plat"), col("lon").as("plon"))
      val boxes = boxesDF(s, d).collect().map { r =>
        val la = r.getDouble(1); val lo = r.getDouble(2)
        (r.getString(0), IndexedSeq(
          (la, lo), (la, lo + 12.0), (la + 8.0, lo + 12.0), (la + 8.0, lo), (la, lo)))
      }.toSeq
      val areas = SpatialJoins.pipJoin(roots, boxes, 6)
        .withColumnRenamed("pid", "scc")
      perLoop.join(areas, Seq("scc"), "left")
        .groupBy(coalesce(col("area"), lit("unknown_area")).as("area"))
        .agg(count(lit(1)).as("loops_count"), sum("len_i").as("loops_length_i"))
    }),

    // S9 — ends ranked by (rounded) upstream desc
    "q42_ends_ranked" -> ((s, d) => {
      val dag = dagEdgesDF(s, d)
      val up = dagUpstream(s, d).nodeUpstream
        .select(col("nid"), (expr(dmSql("upstream_m")) / 10.0).as("upstream_m"))
      val ends = Flow.endPoints(dag).join(up, Seq("nid"))
      DownOps.endsRanked(ends, nodesDF(s, d))
        .select(col("nid"),
          expr("CAST(FLOOR(upstream_m * 10 + 0.5) AS BIGINT)").as("up_dm"),
          col("upstream_m_rank"),
          expr("CAST(FLOOR(lat * 10000000 + 0.5) AS BIGINT)").as("lat_e7"),
          expr("CAST(FLOOR(lng * 10000000 + 0.5) AS BIGINT)").as("lng_e7"))
    }),

    // D11 — chain expansion into mini-segments with running upstream
    "q43_upstream_segments" -> ((s, d) => {
      val flows = dagEdgesDF(s, d)
        .withColumn("inter", array(expr(interNidSql)))
        .withColumn("flow_m", (col("src") % 100).cast("double"))
        .select("src", "dst", "inter", "flow_m")
      val interNodes = flows.select(explode(col("inter")).as("nid")).distinct()
        .selectExpr("nid", s"${latSql("nid")} AS lat", s"${lonSql("nid")} AS lon")
      val allNodes = nodesDF(s, d).union(interNodes).distinct()
      DownOps.upstreamSegments(flows, allNodes)
        .select(col("src"), col("dst"), col("seg_from_nid"), col("seg_to_nid"),
          expr(dmSql("from_upstream_m")).as("from_dm"),
          expr(dmSql("to_upstream_m")).as("to_dm"))
    }))

  val oracles: Map[String, String] = Map(
    "q38_scc_contract" ->
      s"""WITH RECURSIVE $oracleWaysCte, $oracleCyclicCte, $sccCte,
         |ce AS (
         |  SELECT COALESCE(m1.root, e.src) AS src,
         |         COALESCE(m2.root, e.dst) AS dst,
         |         CAST((e.src * 7 + e.dst * 13) % 1000 + 1 AS DOUBLE) AS len
         |  FROM dir_edges e
         |  LEFT JOIN sccmap m1 ON m1.nid = e.src
         |  LEFT JOIN sccmap m2 ON m2.nid = e.dst)
         |SELECT src, dst, CAST(MIN(len) AS BIGINT) AS len_i
         |FROM ce WHERE src <> dst GROUP BY src, dst""".stripMargin,

    "q39_biggest_end" ->
      s"""WITH RECURSIVE $oracleWaysCte, $upstreamCte,
         |endup AS (SELECT u.nid, u.up_dm FROM ups u JOIN ends ON ends.nid = u.nid),
         |reach AS (
         |  SELECT src AS a, dst AS b FROM de
         |  UNION
         |  SELECT r.a, e.dst FROM reach r JOIN de e ON e.src = r.b),
         |reachable_ends AS (
         |  SELECT r.a AS nid, eu.nid AS end_nid, eu.up_dm
         |  FROM reach r JOIN endup eu ON eu.nid = r.b
         |  UNION ALL
         |  SELECT eu.nid AS nid, eu.nid AS end_nid, eu.up_dm FROM endup eu),
         |ranked AS (
         |  SELECT nid, end_nid, up_dm,
         |    ROW_NUMBER() OVER (PARTITION BY nid
         |      ORDER BY up_dm DESC, end_nid ASC) AS rn
         |  FROM reachable_ends)
         |SELECT nid, end_nid, up_dm AS end_up_dm FROM ranked WHERE rn = 1"""
        .stripMargin,

    "q40_tag_group_cc" ->
      s"""WITH RECURSIVE $oracleWaysCte,
         |te AS (SELECT src, dst, $tagSql AS tag FROM edges),
         |sym2 AS (SELECT tag, src, dst FROM te UNION SELECT tag, dst, src FROM te),
         |r2 AS (
         |  SELECT tag, src AS nid, src AS label FROM sym2
         |  UNION
         |  SELECT s.tag, s.dst AS nid, r2.label FROM r2
         |    JOIN sym2 s ON s.src = r2.nid AND s.tag = r2.tag
         |  WHERE r2.label < s.dst),
         |tg AS (SELECT tag, nid, MIN(label) AS grp FROM r2 GROUP BY tag, nid)
         |SELECT te.src, te.dst, te.tag, tg.grp AS tag_group_nid
         |FROM te JOIN tg ON tg.tag = te.tag AND tg.nid = te.src""".stripMargin,

    "q41_loop_stats" ->
      s"""WITH RECURSIVE $oracleWaysCte, $oracleCyclicCte, $sccCte, $oracleBoxesCte,
         |intra AS (
         |  SELECT m1.root AS scc,
         |    CAST((e.src * 7 + e.dst * 13) % 1000 + 1 AS BIGINT) AS len_i
         |  FROM dir_edges e
         |  JOIN sccmap m1 ON m1.nid = e.src
         |  JOIN sccmap m2 ON m2.nid = e.dst
         |  WHERE m1.root = m2.root),
         |per_loop AS (SELECT scc, SUM(len_i) AS len_i FROM intra GROUP BY scc),
         |loop_area AS (
         |  SELECT p.scc, b.area FROM per_loop p
         |  JOIN nodes n ON n.nid = p.scc
         |  JOIN boxes b ON n.lat >= b.latmin AND n.lat < b.latmin + 8.0
         |              AND n.lon >= b.lonmin AND n.lon < b.lonmin + 12.0)
         |SELECT COALESCE(la.area, 'unknown_area') AS area,
         |  COUNT(*) AS loops_count, CAST(SUM(p.len_i) AS BIGINT) AS loops_length_i
         |FROM per_loop p LEFT JOIN loop_area la ON la.scc = p.scc
         |GROUP BY 1""".stripMargin,

    "q42_ends_ranked" ->
      s"""WITH RECURSIVE $oracleWaysCte, $upstreamCte,
         |endup AS (
         |  SELECT u.nid, u.up_dm FROM ups u JOIN ends ON ends.nid = u.nid
         |  WHERE u.up_dm > 10),
         |ranked AS (
         |  SELECT nid, up_dm,
         |    ROW_NUMBER() OVER (ORDER BY up_dm DESC, nid ASC) AS upstream_m_rank
         |  FROM endup)
         |SELECT r.nid, r.up_dm, r.upstream_m_rank,
         |  CAST(FLOOR(n.lat * 10000000 + 0.5) AS BIGINT) AS lat_e7,
         |  CAST(FLOOR(n.lon * 10000000 + 0.5) AS BIGINT) AS lng_e7
         |FROM ranked r JOIN nodes n ON n.nid = r.nid""".stripMargin,

    "q43_upstream_segments" ->
      s"""WITH $oracleWaysCte,
         |fe AS (
         |  SELECT src, dst, $interNidSql AS mid,
         |    CAST(src % 100 AS DOUBLE) AS flow_m
         |  FROM edges),
         |pts AS (
         |  SELECT fe.*, n1.lat AS slat, n1.lon AS slon,
         |    ${latSql("mid")} AS mlat, ${lonSql("mid")} AS mlon,
         |    n2.lat AS dlat, n2.lon AS dlon
         |  FROM fe JOIN nodes n1 ON n1.nid = fe.src
         |          JOIN nodes n2 ON n2.nid = fe.dst),
         |segs AS (
         |  SELECT src, dst, src AS seg_from_nid, mid AS seg_to_nid,
         |    flow_m AS fromv,
         |    flow_m + ${haversineSql("slat", "slon", "mlat", "mlon")} AS tov
         |  FROM pts
         |  UNION ALL
         |  SELECT src, dst, mid, dst,
         |    flow_m + ${haversineSql("slat", "slon", "mlat", "mlon")},
         |    flow_m + ${haversineSql("slat", "slon", "mlat", "mlon")}
         |      + ${haversineSql("mlat", "mlon", "dlat", "dlon")}
         |  FROM pts)
         |SELECT src, dst, seg_from_nid, seg_to_nid,
         |  ${dmSql("fromv")} AS from_dm, ${dmSql("tov")} AS to_dm
         |FROM segs""".stripMargin)
}
